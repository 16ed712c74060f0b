package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM,
  ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{BasketSource, TableSink}
import graft.operators.{CoOccurrence, CrystalBall}

/** Golden-parity + edge-case suite for the flagship crystal-ball semantics
  * (SURVEY.md §5): results must equal the recorded expectations for the
  * reference fixture ([[Golden]]), parsed (never byte-compared — stripe
  * map order in the reference is Java HashMap order).
  */
class CrystalBallSpec extends AnyFunSuite with CacheScoped {

  lazy val spark: SparkSession = Specs.spark

  private val fixtureLines = Golden.input

  private def computedPairs: Map[(String, String), Double] =
    CrystalBall.pairProbabilities(BasketSource.fromLines(spark, fixtureLines))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3))
      .toMap

  test("pair probabilities exactly match CrystalBallPair goldens") {
    val golden = Golden.pairs
    val got = computedPairs
    assert(golden.size == 34, s"golden size ${golden.size}")
    assert(golden.keySet.flatMap { case (a, b) => Set(a, b) }.size == 7)
    // the recorded fractions are self-consistent: each product's numerators
    // add up to its denominator, and the printed double is the fraction
    golden.groupBy(_._1._1).foreach { case (p, row) =>
      assert(row.values.map(_.den).toSet.size == 1, s"product $p denominators")
      assert(row.values.map(_.num).sum == row.values.head.den, s"product $p numerators")
    }
    golden.foreach { case (k, v) =>
      assert(v.printed.toDouble == v.num.toDouble / v.den, s"pair $k fraction")
    }
    assert(got.keySet == golden.keySet)
    golden.foreach { case (k, v) =>
      assert(got(k) == v.num.toDouble / v.den, // exact doubles
        s"pair $k: got ${got(k)}, golden ${v.num}/${v.den}")
    }
  }

  test("stripe probabilities match CrystalBallStripe and CrystalBallHybrid goldens") {
    val got = CrystalBall.stripeProbabilities(
        BasketSource.fromLines(spark, fixtureLines))
      .collect()
      .map(r => r.getString(0) ->
        r.getSeq[org.apache.spark.sql.Row](1)
          .map(e => e.getString(0) -> e.getDouble(1)).toMap)
      .toMap
    val fromPairs = Golden.pairs.groupBy(_._1._1).map { case (p, row) =>
      p -> row.map { case ((_, b), v) => b -> v.num.toDouble / v.den } }
    for (variant <- Seq("CrystalBallStripe", "CrystalBallHybrid")) {
      val golden = Golden.stripes(variant)
      assert(golden == fromPairs, s"$variant goldens disagree with pairs.tsv")
      assert(golden.keySet == got.keySet, s"$variant products differ")
      golden.foreach { case (p, stripe) =>
        assert(got(p) == stripe, s"$variant stripe for $p differs")
      }
    }
  }

  test("hand-checked anchor P(34|12) = 4/11") {
    assert(computedPairs(("12", "34")) == 4.0 / 11.0)
  }

  test("SQL-composed window (pairsSql) equals flatMap window on fixture") {
    val ds = BasketSource.fromLines(spark, fixtureLines)
    val a = CoOccurrence.pairs(ds).groupBy("product", "neighbor").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val df = ds.toDF()
    val b = CoOccurrence.pairsSql(df).groupBy("product", "neighbor").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(a == b)
  }

  test("co_occur_pairs Generator (SQL UDTF) equals flatMap window") {
    graft.functions.CoOccurFunctions.register(spark)
    val ds = BasketSource.fromLines(spark, fixtureLines)
    val viaGen = ds.toDF().selectExpr("co_occur_pairs(products)")
      .groupBy("product", "neighbor").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val viaFlatMap = CoOccurrence.pairs(ds).groupBy("product", "neighbor").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(viaGen == viaFlatMap)
    // and through a SQL LATERAL VIEW
    ds.toDF().createOrReplaceTempView("fixture_baskets")
    val viaSql = spark.sql(
      """SELECT c.product, c.neighbor, count(*) AS cnt
        |FROM fixture_baskets
        |LATERAL VIEW co_occur_pairs(products) c AS product, neighbor
        |GROUP BY 1, 2""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(viaSql == viaFlatMap)
  }

  // -- edge-case micro-fixtures (FIXTURES.md §1) --------------------------

  private def pairsOf(line: String): Seq[(String, String)] =
    BasketSource.parseLine(line).toSeq
      .flatMap(b => CoOccurrence.windowPairs(b.products))
      .map(p => (p.product, p.neighbor))

  test("empty basket → no output") { assert(pairsOf("Bob").isEmpty) }
  test("single product → no output") { assert(pairsOf("Bob 7").isEmpty) }
  test("adjacent repeat → window closes immediately") {
    assert(pairsOf("Bob 7 7").isEmpty)
  }
  test("repeat-terminated window") {
    assert(pairsOf("Bob 1 2 1 3") ==
      Seq(("1", "2"), ("2", "1"), ("2", "3"), ("1", "3")))
  }
  test("duplicate neighbor counted twice") {
    assert(pairsOf("Bob 1 2 2 1").count(_ == ("1", "2")) == 2)
  }
  test("non-numeric ids do not crash") {
    assert(pairsOf("Bob a b") == Seq(("a", "b")))
  }
  test("extra whitespace tolerated") {
    assert(BasketSource.parseLine("Bob  1\t2").get.products == Seq("1", "2"))
  }

  test("Generator equals flatMap on random baskets (Spark end-to-end)") {
    graft.functions.CoOccurFunctions.register(spark)
    val rnd = new scala.util.Random(42)
    val lines = (0 until 25).map { i =>
      val w = rnd.nextInt(12)
      s"u$i " + Seq.fill(w)(rnd.nextInt(9) + 1).mkString(" ")
    }
    val ds = BasketSource.fromLines(spark, lines)
    val viaGen = ds.toDF().selectExpr("co_occur_pairs(products)")
      .groupBy("product", "neighbor").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val viaFlatMap = CoOccurrence.pairs(ds).groupBy("product", "neighbor").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(viaGen == viaFlatMap)
  }

  test("driver entry point returns rows (smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("CrystalBallApp.run writes the three reference outputs") {
    val dir = java.nio.file.Files.createTempDirectory("crystalball_app")
    CrystalBallApp.run(spark, Golden.inputPath, dir.toString)
    def parts(out: String) = Golden.parts(dir.resolve(out))
    val pairParts = parts("CrystalBallPair")
    assert(pairParts.size == 3)
    assert(pairParts.flatten.sorted == Golden.pairLines.toSeq.sorted)
    for ((variant, n) <- Seq("CrystalBallStripe" -> 3, "CrystalBallHybrid" -> 2)) {
      val got = parts(variant)
      assert(got.size == n, s"$variant: ${got.size} part files")
      assert(got.map(_.map(Golden.parseStripe)) ==
        Golden.stripeParts(variant).map(_.map(Golden.parseStripe)), variant)
    }
  }

  test("CrystalBallApp.run releases its persist when a write fails") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val dir = Files.createTempDirectory("crystalball_app_fail")
    // the pair write succeeds and fills the cache; the stripe write cannot
    // create its directory through a dangling link
    Files.createSymbolicLink(dir.resolve("CrystalBallStripe"),
      dir.resolve("missing").resolve("CrystalBallStripe"))
    intercept[Exception](CrystalBallApp.run(spark, Golden.inputPath, dir.toString))
    assert(Files.isDirectory(dir.resolve("CrystalBallPair")), "the pair write did not run")
    assert(sc.getPersistentRDDs.keySet == before,
      s"persist left behind: ${sc.getPersistentRDDs}")
  }

  private object Plans extends AdaptiveSparkPlanHelper

  test("normalize runs its window at the session width under AQE") {
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val probs = CrystalBall.normalize(
      CoOccurrence.counts(BasketSource.fromLines(spark, fixtureLines)))
    assert(probs.collect().length == 34)
    val plan = probs.queryExecution.executedPlan
    val (shuffle, width) = Plans.collectFirst(plan) { case w: WindowExec => w }
      .flatMap(Specs.firstShuffleRead)
      .getOrElse(fail(s"no window over a shuffle in\n$plan"))
    assert(shuffle.shuffleOrigin == REPARTITION_BY_NUM, plan)
    assert(width == 4, plan)
  }

  test("normalize over a table bucketed at the session width plans no exchange") {
    val table = "crystalball_spec_bucketed_counts"
    TableSink.writeBucketed(
      CoOccurrence.counts(BasketSource.fromLines(spark, fixtureLines)),
      table, "product", 4)
    try {
      // the lineitem_serve lookup shape
      val probs = CrystalBall.normalize(
        spark.table(table).filter(col("product") === "12"))
      val got = probs.collect()
        .map(r => r.getAs[String]("neighbor") -> r.getAs[Double]("prob")).toMap
      assert(got("34") == 4.0 / 11.0)
      val plan = probs.queryExecution.executedPlan
      assert(Plans.collect(plan) { case e: ShuffleExchangeExec => e }.isEmpty,
        s"exchange planned over the bucketed read\n$plan")
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("per-product probabilities sum to 1") {
    val byProduct = computedPairs.groupBy(_._1._1).view.mapValues(_.values.sum)
    byProduct.foreach { case (p, s) =>
      assert(math.abs(s - 1.0) < 1e-12, s"product $p sums to $s")
    }
  }
}
