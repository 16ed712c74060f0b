package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{array_join, col, concat, lit, transform}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{CoOccurrence, CrystalBall}
import graft.sources.{BasketSource, GoldenSink}

/** Reference-format output (SURVEY.md §2 O11/O15/O16/O17): the line
  * kernels against the golden files and against the Catalyst composition
  * they replace, the fixed-cut file layout, and the basket sources.
  */
class GoldenSinkSpec extends AnyFunSuite with CacheScoped {

  lazy val spark: SparkSession = Specs.spark

  private val fixtureLines = Golden.input

  private def pairs = CrystalBall.pairProbabilities(
    BasketSource.fromLines(spark, fixtureLines))

  test("pair text lines byte-match the golden Pairs output") {
    val got = GoldenSink.pairLines(pairs).collect().map(_.getString(0)).toSet
    assert(got == Golden.pairLines)
  }

  test("stripe text lines byte-match the golden Stripes output") {
    val stripes = CrystalBall.stripeProbabilities(
      BasketSource.fromLines(spark, fixtureLines))
    val lines = GoldenSink.stripeLines(stripes).collect().map(_.getString(0)).toSeq
    // product 18 is only ever last -> empty window, no stripe; the 3-way
    // parts in partition order are the products in sorted order
    assert(lines == Golden.stripeParts("CrystalBallStripe").flatten)
  }

  /** The Catalyst composition the line kernels replace, kept as their
    * reference model: `concat` + `cast(prob AS STRING)` for pair lines,
    * `array_join(transform(…))` for stripe lines. */
  private def pairModel(df: DataFrame): DataFrame =
    df.select(concat(lit("["), col("product"), lit(", "), col("neighbor"),
      lit("]\t"), col("prob").cast("string")).as("value"))

  private def stripeModel(df: DataFrame): DataFrame =
    df.select(concat(col("product"), lit("\t{"),
      array_join(transform(col("stripe"),
        e => concat(lit("("), e.getField("neighbor"), lit(", "),
          e.getField("prob").cast("string"), lit("), "))), ""),
      lit("}")).as("value"))

  /** Probabilities the formatter must print exactly as the cast does. */
  private val edgeProbs: Seq[java.lang.Double] = Seq[java.lang.Double](
    0.0, -0.0, 0.5, 1.0, Double.NaN, Double.PositiveInfinity,
    Double.NegativeInfinity, Double.MinPositiveValue,
    java.lang.Double.MIN_NORMAL / 3, java.lang.Double.MIN_NORMAL,
    Double.MaxValue, 1.0 / 3, 2.0 / 3, 0.1, 1.0 / 7, 1e-3, 1e-4, 1e7,
    123456789.125, 4.0 / 11, null)

  private val ids = Seq("12", "", "é", "製品", "🛒x", "a b", null)

  /** More distinct values than the memo has slots, each seen twice a few
    * thousand rows apart, so slots are hit, evicted and collided. */
  private val manyProbs: Seq[java.lang.Double] = {
    val distinct = (1 to 6000).map(i => i.toDouble / 6007)
    (distinct ++ distinct.reverse ++ distinct).map(java.lang.Double.valueOf)
  }

  private val pairSchema = StructType(Seq(StructField("product", StringType),
    StructField("neighbor", StringType), StructField("prob", DoubleType)))

  private val entryType = StructType(Seq(StructField("neighbor", StringType),
    StructField("prob", DoubleType)))

  private val stripeSchema = StructType(Seq(StructField("product", StringType),
    StructField("stripe", ArrayType(entryType))))

  /** `rows` as one partition of an RDD-backed frame, so the projection
    * runs in one task (not folded into a local relation on the driver). */
  private def frame(s: SparkSession, rows: Seq[Row], schema: StructType) =
    s.createDataFrame(s.sparkContext.parallelize(rows, 1), schema)

  private def pairRows: Seq[Row] =
    (for (a <- ids; b <- ids.take(3) :+ null) yield Row(a, b, 0.25)) ++
      edgeProbs.map(p => Row("7", "8", p)) ++
      manyProbs.zipWithIndex.map { case (p, i) => Row(s"p$i", "製品", p) }

  private def stripeRows: Seq[Row] = {
    def e(n: String, p: java.lang.Double) = Row(n, p)
    Seq(
      Row("a", Seq(e("b", 0.5), e("c", 0.25))),
      Row(null, Seq(e("b", 0.5))),
      Row("a", null),
      Row("a", Seq()),
      Row("a", Seq(null, e("b", 0.5), null)),
      Row("a", Seq(null)),
      Row("a", Seq(e("b", null), e(null, 0.5), e("c", 1.0), e(null, null))),
      Row("🛒", Seq(e("é", 0.5), e("製品", 1.0 / 3), e("", 0.1))),
      Row("x", edgeProbs.zipWithIndex.map { case (p, i) => e(s"n$i", p) })) ++
      manyProbs.grouped(250).zipWithIndex.map { case (ps, i) =>
        Row(s"s$i", ps.zipWithIndex.map { case (p, j) => e(ids(j % 6), p) })
      }
  }

  /** A session with whole-stage codegen off, sharing the test SparkContext. */
  private lazy val noWholeStage: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.codegen.wholeStage", "false")
    s
  }

  private def lines(df: DataFrame): Seq[String] =
    df.collect().map(_.getString(0)).toSeq

  for ((name, session) <- Seq[(String, () => SparkSession)](
      "whole-stage codegen on" -> (() => spark),
      "whole-stage codegen off" -> (() => noWholeStage))) {
    test(s"pair line kernel prints what the concat/cast composition prints ($name)") {
      val s = session()
      val df = frame(s, pairRows, pairSchema)
      val got = lines(GoldenSink.pairLines(df))
      val want = lines(pairModel(df))
      assert(got.size == pairRows.size)
      assert(got == want)
      assert(got.count(_ == null) == 11) // 6 + 4 null ids, 1 null prob
      assert(got.contains("[7, 8]\t-0.0") && got.contains("[7, 8]\tNaN"))
    }

    test(s"stripe line kernel prints what the array_join/transform composition prints ($name)") {
      val s = session()
      val df = frame(s, stripeRows, stripeSchema)
      val got = lines(GoldenSink.stripeLines(df))
      val want = lines(stripeModel(df))
      assert(got == want)
      assert(got.take(7) == Seq("a\t{(b, 0.5), (c, 0.25), }", null, null,
        "a\t{}", "a\t{(b, 0.5), }", "a\t{}", "a\t{(c, 1.0), }"))
    }
  }

  test("line kernels cast non-string ids as concat does") {
    import Specs.spark.implicits._
    val pairs = Seq((10, 20L, 0.5), (-3, 4L, 0.25)).toDF("product", "neighbor", "prob")
    assert(lines(GoldenSink.pairLines(pairs)) == lines(pairModel(pairs)))
    val stripes = Seq((7, Seq(("8", 0.5)))).toDF("product", "stripe")
      .selectExpr("product", "transform(stripe, e -> named_struct('neighbor', e._1, 'prob', e._2)) AS stripe")
    assert(lines(GoldenSink.stripeLines(stripes)) == Seq("7\t{(8, 0.5), }"))
  }

  test("range partitioning reproduces the reference fixed cuts exactly") {
    import org.apache.spark.sql.functions.{col, spark_partition_id}
    // 3-way (Pairs/Stripes): partition 0 iff id < 30, 1 iff < 60, else 2
    val parts3 = GoldenSink.rangePartitioned(pairs, 3)
      .select(col("product").cast("int").as("p"), spark_partition_id().as("pid"))
      .collect().map(r => (r.getInt(0), r.getInt(1)))
    assert(parts3.nonEmpty)
    parts3.foreach { case (p, pid) =>
      val want = if (p < 30) 0 else if (p < 60) 1 else 2
      assert(pid == want, s"product $p landed in partition $pid, want $want")
    }
    assert(parts3.map(_._2).distinct.sorted.toSeq == Seq(0, 1, 2))
    // 2-way (Hybrid): partition 0 iff id < 50, else 1
    val parts2 = GoldenSink.rangePartitioned(pairs, 2)
      .select(col("product").cast("int").as("p"), spark_partition_id().as("pid"))
      .collect().map(r => (r.getInt(0), r.getInt(1)))
    parts2.foreach { case (p, pid) =>
      assert(pid == (if (p < 50) 0 else 1))
    }
  }

  test("range partitioning handles a numeric-typed product column") {
    import org.apache.spark.sql.functions.{col, spark_partition_id}
    import Specs.spark.implicits._
    // regression: getString on an int column threw ClassCastException,
    // which the Try swallowed — silently routing every row to partition 0
    val numeric = Seq((10, "a"), (45, "b"), (90, "c")).toDF("product", "neighbor")
    val got = GoldenSink.rangePartitionedAt(numeric, Seq(30, 60))
      .select(col("product"), spark_partition_id().as("pid"))
      .collect().map(r => (r.getInt(0), r.getInt(1))).toMap
    assert(got == Map(10 -> 0, 45 -> 1, 90 -> 2), s"got $got")
  }

  test("range partitioning buckets ids exactly as Integer.parseInt of the trimmed string") {
    import org.apache.spark.sql.functions.{col, spark_partition_id}
    import Specs.spark.implicits._
    val cuts = Seq(-5, 6)
    // the reference-compatible rule: Integer.parseInt of the trimmed string
    // form; anything unparseable (non-numeric, fractional, out of int
    // range, null) sorts below every cut
    def bucket(v: Any): Int = {
      val p = scala.util.Try(String.valueOf(v).trim.toInt).getOrElse(Int.MinValue)
      cuts.indexWhere(p < _) match { case -1 => cuts.size; case i => i }
    }
    def check(df: org.apache.spark.sql.DataFrame): Unit = {
      val got = GoldenSink.rangePartitionedAt(df, cuts)
        .select(col("product"), spark_partition_id().as("pid"))
        .collect().map(r => r.get(0) -> r.getInt(1))
      assert(got.length == df.count())
      got.foreach { case (v, pid) =>
        assert(pid == bucket(v), s"product [$v] landed in partition $pid, want ${bucket(v)}")
      }
    }
    val strings = Seq("+5", " 7", "\t7\n", "-3", "5.0", "2147483648", "abc", null, "-7", "6")
    check(strings.map(p => (p, "n")).toDF("product", "neighbor"))
    assert(strings.map(bucket) == Seq(1, 2, 2, 1, 0, 0, 0, 0, 0, 2))
    check(Seq(-7, -3, 5, 6, Int.MaxValue).map(p => (p, "n")).toDF("product", "neighbor"))
    check(Seq(-3L, 5L, 7L, 2147483648L, -2147483649L).map(p => (p, "n"))
      .toDF("product", "neighbor"))
  }

  /** A session with AQE on, sharing the test SparkContext. */
  private lazy val aqe: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    s
  }

  /** The fixture's normalized relation, persisted as CrystalBallApp does. */
  private def cachedProbs(s: SparkSession) =
    CrystalBall.normalize(CoOccurrence.counts(BasketSource.fromLines(s, fixtureLines)))
      .persist()

  /** CrystalBallApp's stripe layout: fixed cuts, sorted within each part. */
  private def stripeLayout(probs: org.apache.spark.sql.DataFrame, n: Int) =
    GoldenSink.rangePartitioned(CrystalBall.stripeShape(probs), n)
      .sortWithinPartitions("product")

  test("stripe layouts plan one pass-through exchange above the aggregate, no range shuffle") {
    import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, ShufflePartitionIdPassThrough}
    import org.apache.spark.sql.execution.{ExternalRDDScanExec, RDDScanExec, SerializeFromObjectExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
    object Plans extends AdaptiveSparkPlanHelper
    val probs = cachedProbs(aqe)
    try for (n <- Seq(3, 2)) {
      val df = stripeLayout(probs, n)
      df.collect()
      val plan = df.queryExecution.executedPlan
      val shuffles = Plans.collect(plan) { case e: ShuffleExchangeExec => e }
      val byId = shuffles.filter(_.outputPartitioning.isInstanceOf[ShufflePartitionIdPassThrough])
      assert(byId.size == 1, s"$n-way: want one pass-through exchange\n$plan")
      assert(byId.head.numPartitions == n && byId.head.shuffleOrigin == REPARTITION_BY_NUM)
      assert(Plans.collect(byId.head) { case a: BaseAggregateExec => a }.nonEmpty,
        s"$n-way: the pass-through exchange is not above the aggregate\n$plan")
      assert(!shuffles.exists(_.outputPartitioning.isInstanceOf[RangePartitioning]),
        s"$n-way: range shuffle planned\n$plan")
      assert(Plans.find(plan) {
        case _: RDDScanExec | _: ExternalRDDScanExec[_] | _: SerializeFromObjectExec => true
        case _ => false
      }.isEmpty, s"$n-way: RDD round trip planned\n$plan")
    } finally probs.unpersist()
  }

  test("the reference layouts write 3 and 2 part files holding the reference cuts") {
    val dir = java.nio.file.Files.createTempDirectory("golden_layout")
    def parts(out: String) = Golden.parts(dir.resolve(out))
    val probs = cachedProbs(aqe)
    try {
      GoldenSink.writeText(GoldenSink.pairLines(GoldenSink.rangePartitioned(probs, 3)
        .sortWithinPartitions("product", "neighbor")), s"$dir/pairs")
      val pairParts = parts("pairs")
      assert(pairParts.size == 3)
      assert(pairParts.flatten.toSet == Golden.pairLines)
      for ((variant, n) <- Seq("CrystalBallStripe" -> 3, "CrystalBallHybrid" -> 2)) {
        GoldenSink.writeText(GoldenSink.stripeLines(stripeLayout(probs, n)), s"$dir/$variant")
        val got = parts(variant)
        assert(got.size == n, s"$variant: ${got.size} part files")
        // each part holds the products of the matching expected part, in order
        assert(got.map(_.map(Golden.parseStripe)) ==
          Golden.stripeParts(variant).map(_.map(Golden.parseStripe)), variant)
      }
    } finally probs.unpersist()
  }

  test("writeText overwrites (O17) and round-trips") {
    val dir = java.nio.file.Files.createTempDirectory("golden_sink").toString
    GoldenSink.writeText(GoldenSink.pairLines(pairs), s"$dir/out")
    GoldenSink.writeText(GoldenSink.pairLines(pairs), s"$dir/out") // overwrite
    val back = spark.read.text(s"$dir/out").count()
    assert(back == 34)
  }

  test("CSV, JSON, and XML basket sources yield the same relation as text") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft_sources")
    Files.write(dir.resolve("b.csv"), java.util.List.of(
      "customer,products",
      "Mary,34 56 29 12 34 56 92 29 34 12",
      "Kelly,92 29 12 34 79 29 56 12 34 18"))
    Files.write(dir.resolve("b.json"), java.util.List.of(
      """{"customer": "Mary", "products": ["34","56","29","12","34","56","92","29","34","12"]}""",
      """{"customer": "Kelly", "products": ["92","29","12","34","79","29","56","12","34","18"]}"""))
    Files.write(dir.resolve("b.xml"), java.util.List.of(
      "<baskets>",
      "  <basket><customer>Mary</customer>" +
        "<products>34 56 29 12 34 56 92 29 34 12</products></basket>",
      "  <basket><customer>Kelly</customer>" +
        "<products>92 29 12 34 79 29 56 12 34 18</products></basket>",
      "</baskets>"))
    val fromText = BasketSource.fromLines(spark, fixtureLines).collect()
      .map(b => b.customer -> b.products).toMap
    val fromCsv = BasketSource.fromCsv(spark, dir.resolve("b.csv").toString)
      .collect().map(b => b.customer -> b.products).toMap
    val fromJson = BasketSource.fromJson(spark, dir.resolve("b.json").toString)
      .collect().map(b => b.customer -> b.products).toMap
    val fromXml = BasketSource.fromXml(spark, dir.resolve("b.xml").toString)
      .collect().map(b => b.customer -> b.products).toMap
    assert(fromCsv == fromText && fromJson == fromText && fromXml == fromText)
  }
}
