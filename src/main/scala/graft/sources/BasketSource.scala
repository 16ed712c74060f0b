package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Basket

/** Basket ingestion (reference operators O1–O3, SURVEY.md §2).
  *
  * The reference reads whitespace-delimited text lines — token 0 is the
  * customer name (always skipped, `src/CrystalBallPair.java:42`), tokens 1..n
  * are product ids in purchase order (`/root/reference/input/input:1-2`).
  * We keep product ids as StringType: the reference's comparisons are
  * lexicographic (`src/CrystalBallPair.java:218,222`).
  *
  * For scale testing, baskets are derived from the TPC-H-ish tables: one
  * basket per order, products = partkeys ordered by linenumber (FIXTURES.md §2).
  */
object BasketSource {

  /** O1+O2+O3: text file → typed baskets. Tolerates empty lines, extra
    * whitespace (split on `\s+`), and non-numeric ids (the reference's
    * partitioner would crash on those; we must not — SURVEY.md §7 phase 1).
    */
  def fromText(spark: SparkSession, path: String): Dataset[Basket] = {
    import spark.implicits._
    spark.read.textFile(path).flatMap(parseLine _)
  }

  /** In-memory lines → baskets (test fixtures / golden parity). */
  def fromLines(spark: SparkSession, lines: Seq[String]): Dataset[Basket] = {
    import spark.implicits._
    spark.createDataset(lines).flatMap(parseLine _)
  }

  private[graft] def parseLine(line: String): Option[Basket] = {
    val toks = line.trim.split("\\s+").filter(_.nonEmpty)
    if (toks.isEmpty) None
    else Some(Basket(toks.head, toks.tail.toSeq))
  }

  /** CSV ingestion: `customer,products` rows where products is a
    * space-delimited id list (the text format with an explicit header —
    * what a reference user exporting from a spreadsheet/warehouse has).
    */
  def fromCsv(spark: SparkSession, path: String): Dataset[Basket] = {
    import spark.implicits._
    // same tokenizer discipline as parseLine: \s+ split, empty tokens
    // dropped, NULL/empty products → empty basket, NULL customer skipped
    spark.read.option("header", "true").csv(path)
      .filter(col("customer").isNotNull)
      .select(col("customer"),
        coalesce(filter(split(col("products"), "\\s+"), x => x =!= ""),
          array().cast("array<string>")).as("products"))
      .as[Basket]
  }

  /** JSON-lines ingestion: {"customer": ..., "products": [...]} — the
    * schema-explicit form (products already an array).
    */
  def fromJson(spark: SparkSession, path: String): Dataset[Basket] = {
    import spark.implicits._
    spark.read.schema("customer STRING, products ARRAY<STRING>").json(path)
      .as[Basket]
  }

  /** XML ingestion via Spark 4's built-in xml datasource:
    * `<basket><customer>…</customer><products>34 56 …</products></basket>`
    * rows under a `baskets` root — the interchange shape a reference user
    * exporting from a legacy feed has. Same tokenizer discipline as
    * [[fromCsv]].
    */
  def fromXml(spark: SparkSession, path: String,
      rowTag: String = "basket"): Dataset[Basket] = {
    import spark.implicits._
    spark.read.format("xml").option("rowTag", rowTag)
      .schema("customer STRING, products STRING")
      .load(path)
      .filter(col("customer").isNotNull)
      .select(col("customer").cast("string"),
        coalesce(filter(split(col("products").cast("string"), "\\s+"),
          x => x =!= ""), array().cast("array<string>")).as("products"))
      .as[Basket]
  }

  /** Parquet-native basket builder: `lineitem` grouped by order key.
    * One shuffle (the groupBy); `sort_array` over (linenumber, partkey)
    * structs gives a deterministic purchase order without a global sort.
    * At 100 TB this is a single hash-partitioned aggregation over the
    * basket key — no skew risk (order sizes are bounded).
    */
  def fromLineitem(spark: SparkSession, sfDir: String): DataFrame = {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    li.select(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey").cast("string").as("pk"))
      // the aggregate's one exchange, hoisted above the list building and
      // sized by AQE: collect_list reduces nothing map-side, so this
      // exchange carries every row (the graft.operators.Width policy)
      .repartition(col("l_orderkey"))
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(struct(col("l_linenumber"), col("pk"))))
        .as("seq"))
      .select(col("l_orderkey").cast("string").as("customer"),
        col("seq.pk").as("products"))
  }
}
