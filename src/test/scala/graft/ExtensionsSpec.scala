package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{CoOccurrence, CrystalBall}
import graft.sources.BasketSource

class ExtensionsSpec extends AnyFunSuite with CacheScoped {

  test("GraftExtensions installs co_occur_pairs and dot_d at session build") {
    val base = Specs.spark // ensure the shared context exists first
    // A sibling session over the SAME SparkContext, built with extensions.
    // (Do NOT stop it — that would stop the shared context; just restore
    // the default/active session afterwards.)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // (config("spark.sql.extensions", ...) is static conf — ignored when
      // the SparkContext already exists, so use withExtensions directly)
      val s = SparkSession.builder()
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      assert(s ne base)
      val pairs = s.sql(
        "SELECT co_occur_pairs(array('1', '2', '1', '3'))").collect()
      assert(pairs.map(r => (r.getString(0), r.getString(1))).toSeq ==
        Seq(("1", "2"), ("2", "1"), ("2", "3"), ("1", "3")))
      val dot = s.sql(
        "SELECT dot_d(array(1.0d, 2.0d), array(3.0d, 4.0d))").head.getDouble(0)
      assert(dot == 11.0)
      val l2 = s.sql(
        "SELECT l2sq_d(array(1.0d, 2.0d), array(3.0d, 5.0d))").head.getDouble(0)
      assert(l2 == 13.0)
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("RewriteVectorFolds swaps HOF folds for the native expressions") {
    val spark = Specs.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    graft.functions.VectorFunctions.register(spark)
    // range (not a local Seq): ConvertToLocalRelation would fold a local
    // input away and leave no plan to inspect
    val df = spark.range(2)
      .select(array(col("id").cast("double"), lit(2.0)).as("a"),
        array(lit(3.0), lit(4.0)).as("b"))
    def hasNative(q: org.apache.spark.sql.DataFrame, cls: Class[_]) =
      q.queryExecution.optimizedPlan.expressions
        .exists(_.exists(e => cls.isInstance(e)))
    // dot fold -> DotProduct, values = driver fold
    val dotQ = df.select(graft.operators.Similarity.dotHof(col("a"), col("b")).as("d"))
    assert(hasNative(dotQ, classOf[graft.functions.DotProduct]),
      s"dot fold not rewritten:\n${dotQ.queryExecution.optimizedPlan}")
    assert(dotQ.collect().map(_.getDouble(0)).sorted.toSeq == Seq(8.0, 11.0))
    // squared-L2 fold -> L2SqDistance
    val l2Q = df.select(
      aggregate(zip_with(col("a"), col("b"), (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, x) => acc + x).as("d"))
    assert(hasNative(l2Q, classOf[graft.functions.L2SqDistance]),
      s"l2 fold not rewritten:\n${l2Q.queryExecution.optimizedPlan}")
    assert(l2Q.collect().map(_.getDouble(0)).sorted.toSeq == Seq(8.0, 13.0))
    // near-miss (non-zero seed) must NOT rewrite and must keep HOF values
    val missQ = df.select(
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(1.0), (acc, x) => acc + x).as("d"))
    assert(!hasNative(missQ, classOf[graft.functions.DotProduct]))
    assert(missQ.collect().map(_.getDouble(0)).sorted.toSeq == Seq(9.0, 12.0))
  }

  test("native folds reproduce the HOF null semantics exactly") {
    val spark = Specs.spark
    import org.apache.spark.sql.functions._
    graft.functions.VectorFunctions.register(spark)
    // the rewrite is only an identity if the native expressions go null
    // everywhere the zip_with/aggregate fold does
    val cases = Seq(
      // (a, b) SQL fragments: length mismatch, null element, null array
      ("array(1.0d, 2.0d)", "array(3.0d)"),
      ("array(1.0d, cast(null as double))", "array(3.0d, 4.0d)"),
      ("cast(null as array<double>)", "array(3.0d, 4.0d)"))
    for ((a, b) <- cases) {
      val r = spark.sql(
        s"""SELECT dot_d($a, $b) AS native,
           |  aggregate(zip_with($a, $b, (x, y) -> x * y), 0.0d,
           |            (acc, x) -> acc + x) AS hof,
           |  l2sq_d($a, $b) AS native2""".stripMargin).head()
      assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2),
        s"null-semantics drift on ($a, $b): $r")
    }
  }

  test("normalizeViaTotalsJoin equals window-based normalize") {
    val spark = Specs.spark
    val counts = CoOccurrence.counts(BasketSource.fromLines(spark, Seq(
      "Mary 34 56 29 12 34 56 92 29 34 12",
      "Kelly 92 29 12 34 79 29 56 12 34 18")))
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    assert(toMap(CrystalBall.normalize(counts)) ==
      toMap(CrystalBall.normalizeViaTotalsJoin(counts)))
  }
}
