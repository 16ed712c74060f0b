package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, sum}
import org.apache.spark.sql.types._
import graft.operators.{CoOccurrence, CrystalBall}
import graft.sources.{BasketSource, TableSink}

/** `lineitem_serve`: writes beside reads. A seeded TPC-H-shaped lineitem
  * (l_orderkey bigint, l_linenumber int, l_partkey bigint; 1–7 lines per
  * order) is split into a base and deltas. Set-up writes the base counts
  * as a bucketed table; then one client runs a closed loop of point
  * lookups of P(· | p), p drawn by popularity, with one delta append
  * after every `LookupsPerIngest` lookups. One unit is one such cycle.
  *
  * The table holds the base plus at most `Deltas` appends: once they are
  * all in, the next unit first resets it to the base by deleting the
  * appended files, and the deltas are appended again. So every run, long
  * or short, fast or slow, reads and appends to the same table states.
  */
final class LineitemServe(ctx: Ctx) extends Workload(ctx) {
  val BaseOrders = 10000
  val DeltaOrders = 2000
  val Catalog = 20000
  val ZipfS = 0.9
  val LookupsPerIngest = 5
  val Deltas = 4
  val Table = "pb_counts"
  def buckets: Int = ctx.cores
  // cycles keep speeding up until about the twentieth (JIT), then hold
  override def warmupUnits: Int = 20

  private val schema = StructType(Seq(
    StructField("l_orderkey", LongType, nullable = false),
    StructField("l_linenumber", IntegerType, nullable = false),
    StructField("l_partkey", LongType, nullable = false)))
  private var base: Array[Array[Long]] = _
  private var deltas: IndexedSeq[Array[Array[Long]]] = _
  private var partIds: Array[Int] = _
  private var basePopular: Set[String] = _
  private var lookupRng: SplittableRandom = _
  private val zipf = new Zipf(Catalog, ZipfS)
  private var applied = 0
  private var baseFiles: Set[String] = _
  private var resets = 0
  private val lookupMs, ingestRowsPerS, ingestS = mutable.ArrayBuffer[Double]()

  private def baseDir = ctx.path("base")
  private def deltaDir(d: Int) = ctx.path(s"delta_$d")
  private def tableDir = Paths.get(ctx.path(s"warehouse/$Table"))

  private def rows(orders: Array[Array[Long]], firstKey: Long): Seq[Row] =
    orders.indices.flatMap { i =>
      orders(i).indices.map(j => Row(firstKey + i, j + 1, orders(i)(j)))
    }

  def prepare(): Unit = {
    val rng = new SplittableRandom(ctx.seed)
    partIds = Gen.idsByRank(rng, Catalog)
    base = Gen.orders(rng, BaseOrders, partIds, zipf)
    deltas = (0 until Deltas).map(_ => Gen.orders(rng, DeltaOrders, partIds, zipf))
    lookupRng = new SplittableRandom(ctx.seed).split()
    applied = 0
    spark.createDataFrame(rows(base, 1L).asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(s"$baseDir/lineitem.parquet")
    // all deltas in one write, then each moved to its own lineitem dir
    val staged = ctx.path("deltas")
    spark.createDataFrame(deltas.indices.flatMap(d =>
        rows(deltas(d), BaseOrders + 1L + d.toLong * DeltaOrders)
          .map(r => Row.fromSeq(r.toSeq :+ d))).asJava,
        schema.add("d", IntegerType))
      .repartition(col("d")).write.mode("overwrite").partitionBy("d")
      .parquet(staged)
    deltas.indices.foreach { d =>
      val target = Paths.get(s"${deltaDir(d)}/lineitem.parquet")
      deleteTree(Paths.get(deltaDir(d)))
      Files.createDirectories(target.getParent)
      Files.move(Paths.get(s"$staged/d=$d"), target)
    }
    TableSink.writeBucketed(CoOccurrence.countsFused(
      BasketSource.fromLineitem(spark, baseDir)), Table, "product", buckets)
    baseFiles = tableDirFiles.toSet
    basePopular = Model.counts(base.map(_.map(_.toString))).keySet.map(_._1).toSet
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p))
    Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  private def nextProduct(): String = Iterator.continually(
      partIds(zipf.next(lookupRng)).toString).find(basePopular).get

  private def lookup(t: Option[Tracer]): Unit = {
    val p = nextProduct()
    ctx.op("lookup") {
      def run() = CrystalBall.normalize(
        spark.table(Table).filter(col("product") === p)).collect()
      val (res, s) = Stats.timed(t.fold(run())(_.span("operators.lookup")(run())))
      lookupMs += s * 1000.0
      val total = res.map(_.getAs[Double]("prob")).sum
      ctx.check(res.nonEmpty && math.abs(total - 1.0) <= 1e-9,
        s"lookup of $p: ${res.length} rows, probabilities sum to $total")
    }
  }

  private def tableDirFiles: Seq[String] =
    Files.list(tableDir).iterator().asScala.map(_.getFileName.toString).toSeq

  /** Takes the table back to the base: deletes the appended files. */
  private def reset(): Unit = ctx.op("reset") {
    tableDirFiles.filterNot(baseFiles).foreach(f => Files.delete(tableDir.resolve(f)))
    spark.catalog.refreshTable(Table)
    applied = 0
    resets += 1
  }

  /** Appends the next delta; when traced, returns its layer figures. */
  private def ingest(t: Option[Tracer]): Map[String, Double] =
    ctx.op("ingest") {
      val d = applied
      val baskets = BasketSource.fromLineitem(spark, deltaDir(d))
      val counts = CoOccurrence.countsFused(baskets)
      def append() = TableSink.appendBucketed(counts, Table, "product", buckets)
      val (s, figures) = t match {
        case None => (Stats.secs(append()), Map.empty[String, Double])
        case Some(tr) =>
          val before = tableFiles.map(Files.size(_)).sum
          val built = Stats.secs(tr.span("sources.basket_build")(
            ctx.materialize(baskets)))
          val counted = Stats.secs(tr.span("plans.pair_count")(
            ctx.materialize(counts)))
          val appended = Stats.secs(tr.span("sources.append")(append()))
          val after = tableFiles
          (appended, Map(
            "sources.read_s" -> built,
            "sources.basket_build_s" -> built,
            "plans.pair_count_s" -> (counted - built),
            "sources.append_s" -> (appended - counted),
            "sources.sink_s" -> (appended - counted),
            "spark.ingest_shuffle_mb" ->
              tr.spans.last.d.shuffleWriteBytes / Stats.MB,
            "sources.sink_mb" -> (after.map(Files.size(_)).sum - before) / Stats.MB,
            "sources.table_files" -> after.size.toDouble))
      }
      applied += 1
      ingestS += s
      ingestRowsPerS += deltas(d).map(_.length).sum / s
      figures
    }.getOrElse(Map.empty)

  private def tableFiles: Seq[Path] =
    Files.list(tableDir).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq

  def unit(tracer: Option[Tracer]): Unit = {
    if (applied == Deltas) reset()
    val spansBefore = tracer.fold(0)(_.spans.size)
    (1 to LookupsPerIngest).foreach(_ => lookup(tracer))
    val ingested = ingest(tracer)
    for (t <- tracer if ingested.nonEmpty) {
      val looks = t.spans.drop(spansBefore).filter(_.name == "operators.lookup")
      val lookupS = looks.map(_.wallS).sum
      traced += ingested ++ Map(
        "operators.self_s" -> (lookupS + ingested("plans.pair_count_s")),
        "operators.lookup_s" -> lookupS,
        "spark.lookup_planning_ms" ->
          Stats.median(looks.map(_.d.planningMs.toDouble).toSeq),
        "spark.lookup_files_read" ->
          Stats.median(looks.map(_.d.filesRead.toDouble).toSeq))
    }
  }

  def discardSamples(): Unit = {
    lookupMs.clear(); ingestRowsPerS.clear(); ingestS.clear(); resets = 0
  }

  def verify(): Unit = {
    val want = Model.counts((base ++ deltas.take(applied).flatten)
      .map(_.map(_.toString)))
    ctx.check(applied > 0, "no delta was appended")
    val got = spark.table(Table).groupBy(col("product"), col("neighbor"))
      .agg(sum(col("cnt")).as("cnt")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    ctx.check(got == want, s"merged table differs from the model's " +
      s"recompute: ${got.size} vs ${want.size} pairs after $applied appends")
  }

  def inputs: Obj = Obj(
    "rows" -> base.map(_.length).sum,
    "orders" -> BaseOrders,
    "bytes" -> Files.walk(Paths.get(baseDir)).iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size(_)).sum,
    "input_splits" -> spark.read.parquet(s"$baseDir/lineitem.parquet").rdd.getNumPartitions,
    "delta_orders" -> DeltaOrders,
    "deltas" -> Deltas,
    "delta_rows" -> deltas.map(_.map(_.length).sum).sum / Deltas,
    "catalog" -> Catalog,
    "basket_len" -> Seq(1, 7),
    "zipf_s" -> ZipfS,
    "buckets" -> buckets,
    "lookups_per_ingest" -> LookupsPerIngest,
    "seed" -> ctx.seed)

  def endToEnd: Seq[Metric] = Seq(
    Metric("records_per_s", Stats.median(ingestRowsPerS.toSeq), "records/s"),
    Metric("latency_p50_ms", Stats.median(lookupMs.toSeq), "ms"))

  def detail: Obj = Obj(
    "unit" -> s"$LookupsPerIngest lookups then one delta append",
    "resets" -> resets,
    "lookups" -> lookupMs.size,
    "lookup_p50_ms" -> Stats.median(lookupMs.toSeq),
    "lookup_p90_ms" -> Stats.quantile(lookupMs.toSeq, 0.90),
    "lookup_p95_ms" -> Stats.quantile(lookupMs.toSeq, 0.95),
    "ingests" -> ingestS.size,
    "ingest_p50_s" -> (if (ingestS.isEmpty) None else Some(Stats.median(ingestS.toSeq))),
    "layers" -> Obj(Seq("sources.basket_build_s", "plans.pair_count_s",
      "sources.append_s", "spark.ingest_shuffle_mb", "spark.lookup_planning_ms",
      "spark.lookup_files_read", "sources.table_files", "operators.lookup_s")
      .filter(_ => traced.nonEmpty)
      .map(k => k -> Stats.median(traced.map(_(k)).toSeq)): _*))
}
