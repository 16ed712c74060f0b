package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Reference-format text sinks (SURVEY.md §2 O15/O16/O17) and the
  * reference's range-partitioned file layout (O11) — test/compat-only
  * concerns; engine-native output is parquet.
  *
  * Formats (reference `src/CrystalBallPair.java:210-212`,
  * `src/CrystalBallStripe.java:188-201`):
  *   pair line:   `[a, b]\tprob`
  *   stripe line: `a\t{(b, prob), (b2, prob2), }`   (note trailing ", }")
  */
object GoldenSink {

  /** (product, neighbor, …, prob) → `[a, b]\tprob` lines. */
  def pairLines(pairs: DataFrame): DataFrame =
    pairs.select(concat(lit("["), col("product"), lit(", "), col("neighbor"),
      lit("]\t"), col("prob").cast("string")).as("value"))

  /** Stripe rows (product, stripe: array<struct<neighbor,prob>>) →
    * `a\t{(b, p), …, }` lines (deterministic neighbor order — the
    * reference's HashMap order is nondeterministic, so byte-diffing
    * against goldens must compare parsed maps, SURVEY.md §5).
    */
  def stripeLines(stripes: DataFrame): DataFrame =
    stripes.select(concat(col("product"), lit("\t{"),
      array_join(transform(col("stripe"),
        e => concat(lit("("), e.getField("neighbor"), lit(", "),
          e.getField("prob").cast("string"), lit("), "))), ""),
      lit("}")).as("value"))

  /** O16/O17: write text lines, overwriting the target (the reference's
    * `fs.delete` + TextOutputFormat).
    */
  def writeText(lines: DataFrame, path: String): Unit =
    lines.write.mode("overwrite").text(path)

  /** O11: the reference's numeric range partitioning over the product id
    * with its FIXED cuts (`src/CrystalBallPair.java:97-104`: 3 reducers at
    * <30/<60/≥60; Hybrid: 2 reducers at <50). Delegates to
    * [[rangePartitionedAt]] — `repartitionByRange` would sample split
    * points and cannot guarantee the reference's cuts.
    */
  def rangePartitioned(pairs: DataFrame, partitions: Int = 3): DataFrame =
    rangePartitionedAt(pairs, partitions match {
      case 3 => Seq(30, 60)
      case 2 => Seq(50)
      case n => throw new IllegalArgumentException(
        s"no reference cuts for $n partitions; use rangePartitionedAt")
    })

  /** Exact fixed-cut range layout: row goes to partition i iff its numeric
    * product id is < cuts(i) (last partition takes the rest). The bucket is
    * one Catalyst expression and `repartitionById` ships each row to it —
    * no sampling (unlike `repartitionByRange`), and the rows stay in the
    * UnsafeRow shuffle. Ids are read as `trim(cast(product AS STRING))`
    * parsed to int, so an int or bigint column partitions by its value;
    * non-numeric, out-of-int-range and null ids go to partition 0 instead
    * of crashing (the reference's `Integer.parseInt` would throw, SURVEY.md
    * §7 phase 1). Unlike `Integer.parseInt`, only ASCII digits parse.
    */
  def rangePartitionedAt(pairs: DataFrame, cuts: Seq[Int]): DataFrame = {
    val id = coalesce(
      trim(col("product").cast("string")).try_cast("int"), lit(Int.MinValue))
    val sortedCuts = cuts.sorted
    val bucket = sortedCuts.zipWithIndex.foldRight(lit(sortedCuts.size)) {
      case ((cut, i), rest) => when(id < cut, i).otherwise(rest)
    }
    pairs.repartitionById(sortedCuts.size + 1, bucket)
  }
}
