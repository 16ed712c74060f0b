package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.TemporalJoin

/** The temporal joins checked against independent formulations: asOf
  * against a hand-computed fixture (including the at-tie and no-match
  * edges), proximityPairs against the naive theta join it replaces.
  */
class TemporalJoinSpec extends AnyFunSuite with CacheScoped {

  lazy val spark: SparkSession = Specs.spark
  private val sf = "/root/testdata/sf0.001"

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("asOf picks the latest right row at-or-before each left row") {
    import spark.implicits._
    val left = Seq(
      (1L, "u1", ts("2020-01-01 10:00:00"), 5.0),
      (2L, "u1", ts("2020-01-01 12:00:00"), 6.0),
      (3L, "u1", ts("2020-01-01 09:00:00"), 7.0), // before any right row
      (4L, "u2", ts("2020-01-01 10:30:00"), 8.0)  // other key
    ).toDF("event_id", "user_id", "ts", "value")
    val right = Seq(
      ("u1", ts("2020-01-01 09:30:00"), 100L, 1.5),
      ("u1", ts("2020-01-01 10:00:00"), 101L, 2.5), // exactly left #1: matches
      ("u1", ts("2020-01-01 11:00:00"), 102L, 3.5),
      ("u2", ts("2020-01-01 10:00:00"), 103L, 4.5)
    ).toDF("user_id", "ts", "p_event_id", "p_value")
    val got = TemporalJoin.asOf(left, right, "user_id", "ts",
        Seq("p_event_id", "p_value"))
      .select(col("event_id"), col("_asof.p_event_id"))
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toMap
    assert(got == Map(1L -> 101L, 2L -> 102L, 3L -> -1L, 4L -> 103L))
  }

  test("proximity pairs equal the naive theta join on real data") {
    val ev = SparkEntry.queries("proximity_pairs")(spark, sf)
    val events = graft.sources.Tables.load(spark, sf, "events")
    val e = events.select(col("user_id"), col("event_id"),
      unix_micros(col("ts")).as("us"))
    val naive = e.as("a").join(e.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("b.us") >= col("a.us") &&
          col("b.us") - col("a.us") <= 300000000L &&
          (col("a.us") < col("b.us") ||
            (col("a.us") === col("b.us") &&
              col("a.event_id") < col("b.event_id"))) &&
          col("a.event_id") =!= col("b.event_id"))
      .select(col("a.event_id").as("ea"), col("b.event_id").as("eb"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bucketized = ev.collect()
      .map(r => (r.getLong(1), r.getLong(3))).toSet
    assert(bucketized == naive,
      s"bucketized ${bucketized.size} pairs vs naive ${naive.size}")
    assert(naive.nonEmpty, "fixture produced no proximity pairs")
  }

  test("asOf equals a per-row max scan on randomized fixtures") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val leftRows = (1L to 200L).map { id =>
      (id, s"u${rnd.nextInt(5)}",
        new java.sql.Timestamp(1577836800000L + rnd.nextInt(100000) * 1000L))
    }
    // duplicates per (user, ts) are LEFT IN on purpose: the operator now
    // dedupes internally (max payload struct wins), so the naive oracle
    // below — max (ts, r_id) at-or-before — must agree without any
    // caller-side dedupe
    val rightRows = (1000L to 1100L).map { id =>
      (s"u${rnd.nextInt(5)}",
        new java.sql.Timestamp(1577836800000L + rnd.nextInt(100) * 1000000L),
        id)
    }
    val left = leftRows.toDF("event_id", "user_id", "ts")
    val right = rightRows.toDF("user_id", "ts", "r_id")
    val got = TemporalJoin.asOf(left, right, "user_id", "ts", Seq("r_id"))
      .select(col("event_id"), col("_asof.r_id")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    // oracle: per left row, scan all right rows for the max (ts, r_id)
    // at-or-before — ties on ts resolved by the larger r_id, matching the
    // operator's right-side ordering (later right rows overwrite earlier
    // ones at the same timestamp via the (ts, _src, r_id) sort)
    leftRows.foreach { case (id, u, ts) =>
      val naive = rightRows.filter(r => r._1 == u && !r._2.after(ts))
        .sortBy(r => (r._2.getTime, r._3)).lastOption.map(_._3)
      assert(got(id) == naive, s"event $id user $u")
    }
    assert(got.values.exists(_.nonEmpty) && got.values.exists(_.isEmpty),
      "fixture should exercise both matched and unmatched rows")
  }

  test("asOf stays correct when one key holds 50% of both sides") {
    import spark.implicits._
    // the documented skew contract: a hot key shares the fate of any
    // per-key window — ONE task owns the hot key's running frame. This
    // fixture pins correctness (not parallelism) under that skew, so the
    // scaladoc's salted-fallback guidance has a semantic baseline a
    // bucketized rewrite would have to match.
    val rnd = new scala.util.Random(7)
    val leftRows = (1L to 1000L).map { id =>
      val u = if (id % 2 == 0) "hot" else s"cold${id % 13}"
      (id, u, new java.sql.Timestamp(1577836800000L + rnd.nextInt(50000) * 1000L))
    }
    val rightRows = (5000L to 5400L).map { id =>
      val u = if (id % 2 == 0) "hot" else s"cold${id % 13}"
      (u, new java.sql.Timestamp(1577836800000L + rnd.nextInt(50) * 1000000L), id)
    }
    val got = TemporalJoin.asOf(leftRows.toDF("event_id", "user_id", "ts"),
        rightRows.toDF("user_id", "ts", "r_id"), "user_id", "ts", Seq("r_id"))
      .select(col("event_id"), col("_asof.r_id")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    leftRows.foreach { case (id, u, ts) =>
      val naive = rightRows.filter(r => r._1 == u && !r._2.after(ts))
        .sortBy(r => (r._2.getTime, r._3)).lastOption.map(_._3)
      assert(got(id) == naive, s"event $id user $u")
    }
    assert(leftRows.count(_._2 == "hot") == 500, "fixture lost its 50% hot key")
  }

  test("asOfBucketized equals asOf for every bucket width, including under skew") {
    import spark.implicits._
    // semantics must be bucket-width-INVARIANT: 1 s buckets (each event
    // alone), 50 s (mixed), and 10^6 s (everything in one bucket — i.e.
    // degenerate to plain asOf) all produce identical output, on both the
    // randomized fixture and the 50%-hot-key fixture
    val rnd = new scala.util.Random(11)
    val left = (1L to 800L).map { id =>
      val u = if (id % 2 == 0) "hot" else s"u${id % 7}"
      (id, u, new java.sql.Timestamp(1577836800000L + rnd.nextInt(80000) * 1000L))
    }.toDF("event_id", "user_id", "ts")
    // duplicate (key, ts) right rows left in: the internal max-payload
    // dedupe must behave identically in both variants
    val right = (5000L to 5300L).map { id =>
      val u = if (id % 2 == 0) "hot" else s"u${id % 7}"
      (u, new java.sql.Timestamp(1577836800000L + rnd.nextInt(80) * 1000000L), id)
    }.toDF("user_id", "ts", "r_id")
    val ref = TemporalJoin.asOf(left, right, "user_id", "ts", Seq("r_id"))
      .select(col("event_id"), col("_asof.r_id")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    for (bucketSec <- Seq(1L, 50L, 1000000L)) {
      val got = TemporalJoin.asOfBucketized(left, right, "user_id", "ts",
          Seq("r_id"), bucketSec)
        .select(col("event_id"), col("_asof.r_id")).collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
      assert(got == ref, s"bucketSec=$bucketSec diverged from asOf")
    }
    // output schema is drop-in identical
    val a = TemporalJoin.asOf(left, right, "user_id", "ts", Seq("r_id"))
    val b = TemporalJoin.asOfBucketized(left, right, "user_id", "ts", Seq("r_id"))
    assert(a.columns.toSeq == b.columns.toSeq,
      s"schema drift: ${a.columns.toSeq} vs ${b.columns.toSeq}")
    intercept[IllegalArgumentException](
      TemporalJoin.asOfBucketized(left, right, "user_id", "ts", Seq("r_id"), 0L))
  }

  test("asOfAuto picks the bucketized plan exactly when a key outgrows the task budget") {
    import spark.implicits._
    // 60% of rows on one key: with a 100-row budget the probe must choose
    // bucketized; with a generous budget it must keep the plain
    // one-shuffle plan. Decision tested directly (bucketizedWins), then
    // the auto entry is checked against plain asOf for identical output
    // in BOTH regimes — the heuristic may only ever change the plan.
    val rnd = new scala.util.Random(3)
    val left = (1L to 500L).map { id =>
      val u = if (id % 5 < 3) "hot" else s"u${id % 11}"
      (id, u, new java.sql.Timestamp(1577836800000L + rnd.nextInt(50000) * 1000L))
    }.toDF("event_id", "user_id", "ts")
    val right = (5000L to 5200L).map { id =>
      val u = if (id % 5 < 3) "hot" else s"u${id % 11}"
      (u, new java.sql.Timestamp(1577836800000L + rnd.nextInt(50) * 1000000L), id)
    }.toDF("user_id", "ts", "r_id")
    assert(TemporalJoin.bucketizedWins(left, right, "user_id", 100L),
      "a 400+-row hot key must exceed a 100-row task budget")
    assert(!TemporalJoin.bucketizedWins(left, right, "user_id", 1000000L),
      "no key exceeds a 1M-row budget on this fixture")
    val ref = TemporalJoin.asOf(left, right, "user_id", "ts", Seq("r_id"))
      .select(col("event_id"), col("_asof.r_id")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    for (budget <- Seq(100L, 1000000L)) {
      val got = TemporalJoin.asOfAuto(left, right, "user_id", "ts",
          Seq("r_id"), bucketSec = 50, maxKeyRowsPerTask = budget)
        .select(col("event_id"), col("_asof.r_id")).collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
      assert(got == ref, s"asOfAuto(budget=$budget) diverged from asOf")
    }
    // empty inputs choose the plain form (no probe NPE)
    val emptyL = Seq.empty[(Long, String, java.sql.Timestamp)]
      .toDF("event_id", "user_id", "ts")
    val emptyR = Seq.empty[(String, java.sql.Timestamp, Long)]
      .toDF("user_id", "ts", "r_id")
    assert(!TemporalJoin.bucketizedWins(emptyL, emptyR, "user_id", 100L))
  }

  test("degenerate inputs: empty right side, empty pair relation") {
    import spark.implicits._
    val left = Seq((1L, "u1", java.sql.Timestamp.valueOf("2020-01-01 10:00:00"), 1.0))
      .toDF("event_id", "user_id", "ts", "value")
    val emptyRight = Seq.empty[(String, java.sql.Timestamp, Long)]
      .toDF("user_id", "ts", "r_id")
    val asof = TemporalJoin.asOf(left, emptyRight, "user_id", "ts", Seq("r_id"))
      .select(col("event_id"), col("_asof.r_id")).collect()
    assert(asof.length == 1 && asof.head.isNullAt(1),
      "empty right side must keep left rows with null as-of payload")
    val emptyPairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(graft.operators.Dedup.nearDupClusters(emptyPairs).collect().isEmpty)
  }

  test("invalid arguments are rejected eagerly, not answered wrongly") {
    import spark.implicits._
    val left = Seq((1L, "u1", java.sql.Timestamp.valueOf("2020-01-01 10:00:00")))
      .toDF("l_id", "user_id", "l_ts")
    val right = Seq(("u1", java.sql.Timestamp.valueOf("2020-01-01 10:00:00"), 2L))
      .toDF("user_id", "r_ts", "r_id")
    // gapSec = 0 would zero the bucket divisor -> NULL join keys -> a
    // silently empty result for a semantically meaningful request
    intercept[IllegalArgumentException] {
      TemporalJoin.intervalJoin(left, right, "user_id", "l_ts", "r_ts", 0L)
    }
    intercept[IllegalArgumentException] {
      TemporalJoin.intervalJoin(left, right, "user_id", "l_ts", "r_ts", -5L)
    }
    // maxRounds <= 0 used to NPE in the convergence re-check
    val pairs = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    intercept[IllegalArgumentException] {
      graft.operators.Dedup.nearDupClusters(pairs, maxRounds = 0)
    }
  }

  test("interval join equals the naive theta join and stays equi-shaped") {
    val ev = graft.sources.Tables.load(spark, sf, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"))
    val bucketized = TemporalJoin.intervalJoin(clicks, purchases, "user_id",
      "click_ts", "purchase_ts", 300)
    val got = bucketized.collect()
      .map(r => (r.getAs[Long]("click_id"), r.getAs[Long]("purchase_id"),
        r.getAs[Long]("delta_us"))).toSet
    val naive = clicks.join(
        purchases.withColumnRenamed("user_id", "p_user_id"),
        col("user_id") === col("p_user_id") &&
          unix_micros(col("purchase_ts")) >= unix_micros(col("click_ts")) &&
          unix_micros(col("purchase_ts")) - unix_micros(col("click_ts")) <= 300000000L)
      .select(col("click_id"), col("purchase_id"),
        (unix_micros(col("purchase_ts")) - unix_micros(col("click_ts"))).as("d"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(naive.nonEmpty, "fixture has no click->purchase pairs in the window")
    assert(got == naive, s"bucketized ${got.size} pairs vs naive ${naive.size}")
    val plan = bucketized.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"interval join fell back to a nested loop:\n$plan")
  }

  test("proximity pairs plan an equi-join, not a nested-loop") {
    val plan = TemporalJoin
      .proximityPairs(graft.sources.Tables.load(spark, sf, "events"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"proximity join fell back to a nested loop:\n$plan")
  }
}
