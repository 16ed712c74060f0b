package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.BasketSource
import graft.operators.{CoOccurrence, CrystalBall}

/** Golden-parity + edge-case suite for the flagship crystal-ball semantics
  * (SURVEY.md §5): results must equal the recorded expectations for the
  * reference fixture ([[Golden]]), parsed (never byte-compared — stripe
  * map order in the reference is Java HashMap order).
  */
class CrystalBallSpec extends AnyFunSuite {

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

  test("per-product probabilities sum to 1") {
    val byProduct = computedPairs.groupBy(_._1._1).view.mapValues(_.values.sum)
    byProduct.foreach { case (p, s) =>
      assert(math.abs(s - 1.0) < 1e-12, s"product $p sums to $s")
    }
  }
}
