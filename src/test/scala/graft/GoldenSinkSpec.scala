package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{CoOccurrence, CrystalBall}
import graft.sources.{BasketSource, GoldenSink}

/** Reference-format output + UDAF stripe equivalence (SURVEY.md §2
  * O8/O11/O15/O16/O17).
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

  test("stripe text lines parse back to the golden probabilities") {
    val stripes = CrystalBall.stripeProbabilities(
      BasketSource.fromLines(spark, fixtureLines))
    val lines = GoldenSink.stripeLines(stripes).collect().map(_.getString(0))
    assert(lines.forall(l => l.contains("\t{") && l.endsWith("), }")))
    assert(lines.length == 6) // product 18 is only ever last -> empty window, no stripe
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
