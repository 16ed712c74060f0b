package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Analytic windows + sessionization over the `events` stream table —
  * the time-series operator family the reference lacks (SURVEY.md §2.1).
  * Batch forms here (oracle-checkable); the Structured Streaming forms
  * live in graft.streaming (same dataflow over readStream).
  *
  * All window specs tie-break on `event_id` so results are deterministic
  * under parallel execution; all epoch math is integer microseconds
  * (`unix_micros`) so the DuckDB oracle computes identical values.
  */
object Events {

  private val byUser = Window.partitionBy(col("user_id"))
    .orderBy(col("ts"), col("event_id"))

  /** Last-observation-carried-forward fill — the feature-engineering
    * staple for sparse signals: treating `value` as OBSERVED only on
    * `observedType` events, every event row carries the user's most
    * recent observation (NULL before the first). The carried value is
    * verbatim (no arithmetic), so the fill is hash-exact across
    * engines.
    *
    * Scale shape: one `last(_, ignoreNulls)` frame per USER —
    * user-cardinality partitions balance like [[userWindows]]'; a
    * pathological hot user would move to the per-(user, time-bucket)
    * staging of asof_join_bucketized, carrying each bucket's closing
    * observation forward — same discipline, not needed at this
    * cardinality.
    */
  def locfFill(events: DataFrame,
      observedType: String = "purchase"): DataFrame =
    events
      .withColumn("obs",
        when(col("event_type") === observedType, col("value")))
      .withColumn("filled_value", last(col("obs"), ignoreNulls = true)
        .over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
        col("filled_value"))
      .orderBy(col("event_id"))

  /** Ranking + analytic functions per user: row_number, rank by value,
    * lag/lead. One exchange on user_id; at scale user_id is high-cardinality
    * so partitions balance (skewed hot users would need AQE/salting).
    */
  def userWindows(events: DataFrame): DataFrame =
    events.select(
        col("event_id"), col("user_id"), col("event_type"), col("value"),
        row_number().over(byUser).as("rn"),
        rank().over(Window.partitionBy(col("user_id"))
          .orderBy(col("value").desc, col("event_id"))).as("value_rank"),
        lag(col("value"), 1).over(byUser).as("prev_value"),
        lead(col("event_type"), 1).over(byUser).as("next_type"),
        sum(col("value").cast("decimal(18,2)"))
          .over(byUser.rowsBetween(Window.unboundedPreceding, 0))
          .cast("double").as("running_value"))
      .orderBy(col("user_id"), col("event_id"))

  /** Sessionization via Spark's native `session_window` (merging gap
    * windows inside the aggregation operator — the built-in twin of the
    * lag/cumsum formulation in [[sessionize]]; window end = last event +
    * gap by definition).
    */
  def sessionWindowAgg(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), s"$gapMinutes minutes"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("sum_value"))
      .orderBy(col("user_id"), col("session_start"))

  /** Gap-based sessionization (30-minute inactivity gap): the classic
    * lag → new-session flag → running-sum session id, then per-session
    * aggregates. Two window passes + one groupBy, all partitioned by
    * user_id — a single exchange reused across all three (Catalyst reuses
    * the hash partitioning).
    */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val gapMicros = gapMinutes * 60L * 1000000L
    val withGap = events
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("prev_us", lag(col("us"), 1).over(byUser))
      .withColumn("new_session",
        (col("prev_us").isNull || (col("us") - col("prev_us")) > gapMicros)
          .cast("long"))
    withGap
      .withColumn("session_id",
        sum(col("new_session")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        ((max(col("us")) - min(col("us"))) / lit(1000000L)).cast("double")
          .as("duration_sec"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .orderBy(col("user_id"), col("session_id"))
  }

  /** Window frames + distribution functions per user: moving sum over a
    * ROWS frame, first/last value over a running frame, ntile quartiles.
    * Decimal-exact moving sums; frame bounds identical on both engines.
    */
  def userFrames(events: DataFrame): DataFrame = {
    val frame3 = byUser.rowsBetween(-3, 0)
    val running = byUser.rowsBetween(Window.unboundedPreceding, 0)
    events.select(
        col("event_id"), col("user_id"), col("value"),
        sum(col("value").cast("decimal(18,2)")).over(frame3)
          .cast("double").as("moving_sum4"),
        count(lit(1)).over(frame3).as("moving_n"),
        first(col("event_type")).over(running).as("first_type"),
        last(col("event_type")).over(running).as("latest_type"),
        ntile(4).over(byUser).as("quartile"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Distribution functions + a time-RANGE frame per user (the window
    * shapes [[userFrames]] doesn't cover): percent_rank / cume_dist over
    * the value ordering (peer semantics — ties receive identical values,
    * so no tie-break column is needed for determinism), and a trailing
    * 10-minute RANGE frame over event time (frame membership by value
    * distance on the integer-µs order key, not row position; same
    * single exchange on user_id as every other per-user window).
    */
  def userDistributions(events: DataFrame): DataFrame = {
    val byValue = Window.partitionBy(col("user_id")).orderBy(col("value"))
    val timeRange = Window.partitionBy(col("user_id")).orderBy(col("us"))
      .rangeBetween(-600L * 1000000L, 0)
    events
      .withColumn("us", unix_micros(col("ts")))
      .select(
        col("event_id"), col("user_id"), col("value"),
        percent_rank().over(byValue).as("pct_rank"),
        cume_dist().over(byValue).as("cume"),
        sum(col("value").cast("decimal(18,2)")).over(timeRange)
          .cast("double").as("range_sum_10min"),
        count(lit(1)).over(timeRange).as("range_n_10min"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Sliding-window aggregation: 1-hour windows every 30 minutes, so each
    * event lands in exactly length/slide = 2 windows. Spark's `window`
    * generates the per-event window replicas inside the scan stage; the
    * aggregation shuffles (window, type) — 2x the tumbling shuffle volume,
    * same plan shape.
    */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("sum_value"))
      .orderBy(col("win_start"), col("event_type"))

  /** Ordered event funnel: for each user, the earliest time each stage
    * was reached GIVEN the previous stage had already been reached (stage
    * k's timestamp must be >= stage k-1's). Computed as a fold of
    * conditional min-aggregations joined on user_id — every aggregation
    * and join shares the same hash partitioning, so Catalyst plans ONE
    * exchange per stage frame and reuses the partitioning for the joins;
    * stage frames shrink monotonically (funnel users only). `>=` admits
    * same-instant progressions, and min() makes the pick deterministic
    * under ties.
    */
  def funnelSteps(events: DataFrame,
      stages: Seq[String] = Seq("view", "click", "purchase")): DataFrame = {
    require(stages.nonEmpty, "funnelSteps needs at least one stage")
    val users = events.select(col("user_id")).distinct()
    // stageTs(i) = per-user min ts of stages(i) at-or-after stageTs(i-1)
    val stageTs: Seq[DataFrame] = stages.zipWithIndex
      .foldLeft(List.empty[DataFrame]) { case (acc, (stage, i)) =>
        val cur = acc.headOption match {
          case None =>
            events.filter(col("event_type") === stage)
              .groupBy(col("user_id")).agg(min(col("ts")).as(s"ts_$i"))
          case Some(prev) =>
            events.filter(col("event_type") === stage)
              .join(prev, "user_id")
              .filter(col("ts") >= col(s"ts_${i - 1}"))
              .groupBy(col("user_id")).agg(min(col("ts")).as(s"ts_$i"))
        }
        cur :: acc
      }.reverse
    val joined = stageTs.zipWithIndex.foldLeft(users) { case (df, (st, i)) =>
      df.join(st.select(col("user_id"), col(s"ts_$i")), Seq("user_id"), "left")
    }
    val nStages = stages.indices
      .map(i => when(col(s"ts_$i").isNotNull, 1L).otherwise(0L))
      .reduce(_ + _)
    // fold forward so the LAST reached stage ends up as the outermost
    // condition: when(ts_n) … otherwise(when(ts_0) … otherwise('none'))
    val furthest = stages.zipWithIndex
      .foldLeft(lit("none")) { case (els, (stage, i)) =>
        when(col(s"ts_$i").isNotNull, stage).otherwise(els)
      }
    joined.select(
        col("user_id") +:
          stages.zipWithIndex.map { case (s, i) => col(s"ts_$i").as(s"${s}_ts") } :+
          nStages.as("n_stages") :+ furthest.as("furthest"): _*)
      .orderBy(col("user_id"))
  }

  /** First-order Markov transition matrix over the per-user event stream:
    * counts of (event_type → next event_type) adjacencies plus the row-
    * normalized transition probability. One exchange for the per-user
    * lead() window, then a low-cardinality (|types|²) groupBy — the
    * probability divides the two exact counts, so it is bit-identical
    * across engines.
    */
  /** POSITION-BASED (U-shaped) marketing attribution — the credit model
    * a growth-analytics stack runs after [[funnelSteps]] says the funnel
    * converts: each purchase's credit splits over the touches (view /
    * click / signup) in its JOURNEY — the touches since the user's
    * previous purchase, a segmentation with no arbitrary lookback
    * constant — 40% first touch, 40% last, 20% spread over the middles.
    * All credit in exact e6 integers: a journey's credit sums to
    * EXACTLY 1e6 (the middle split's integer remainder lands on the
    * last touch, the stated contract), so the per-channel rollup is
    * conservation-checkable. Single-touch journeys take the full 1e6;
    * two-touch journeys split 50/50 (no middle exists).
    *
    * Scale shape: journey assignment is one running sum over per-user
    * windows (user-activity-bounded partitions, the [[sessionize]]
    * class), attribution is an equi-join of touches onto the (user,
    * journey) conversion keys, position/credit are per-journey windows
    * (journey-bounded partitions), and the rollup is one
    * partial-aggregable groupBy(channel).
    */
  def attributionTouch(events: DataFrame): DataFrame = {
    val tagged = events
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      .withColumn("is_conv", (col("event_type") === "purchase").cast("long"))
      .withColumn("journey", coalesce(sum(col("is_conv"))
        .over(byUser.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val touches = tagged
      .filter(col("event_type").isin("view", "click", "signup"))
    val convs = tagged.filter(col("is_conv") === 1L)
      .select(col("user_id"), col("journey"))
    val byJourney = Window.partitionBy(col("user_id"), col("journey"))
      .orderBy(col("ts"), col("event_id"))
    val mid = expr("200000 div (n - 2)")
    touches.join(convs, Seq("user_id", "journey"))
      .withColumn("p", row_number().over(byJourney))
      .withColumn("n", count(lit(1))
        .over(Window.partitionBy(col("user_id"), col("journey"))))
      .withColumn("credit_e6",
        when(col("n") === 1, lit(1000000L))
          .when(col("n") === 2, lit(500000L))
          .when(col("p") === 1, lit(400000L))
          .when(col("p") === col("n"),
            lit(400000L) + (lit(200000L) - (col("n") - 2) * mid))
          .otherwise(mid))
      .groupBy(col("event_type").as("channel"))
      .agg(count(lit(1)).as("n_touches"),
        sum(when(col("p") === 1, 1L).otherwise(0L)).as("n_first"),
        sum(when(col("p") === col("n"), 1L).otherwise(0L)).as("n_last"),
        sum(col("credit_e6")).as("credit_e6"))
      .orderBy(col("channel"))
  }

  /** Sequential PATTERN MINING with PrefixSpan containment semantics
    * (Pei et al., ICDE 2001): support of pattern ⟨a,b,c⟩ = number of
    * users whose event sequence contains a, then b, then c at
    * increasing positions (gaps allowed, one occurrence each —
    * EXACTLY MLlib PrefixSpan's count on single-item itemsets,
    * cross-checked in the spec). The engine never scans subsequences:
    * containment reduces to POSITION SUMMARIES —
    *   ⟨a,b⟩   ⇔ first_pos(a) < last_pos(b)
    *   ⟨a,b,c⟩ ⇔ last_pos(c) > min{pos(b) | pos(b) > first_pos(a)}
    * so the per-user work is O(t²) over the event-TYPE alphabet (t = 5
    * here), not O(len³) over the sequence — the difference between a
    * mineable 100 TB event log and a quadratic-in-activity blowup on
    * every power user.
    *
    * Scale shape: one per-user position window (the [[sessionize]]
    * class), a (user × type) first/last summary, one events×summary
    * equi-join for the after-a b-minimum (O(E·t) rows), a
    * (user × t³)-bounded triple join, and partial-aggregable support
    * counts. No window wider than a user, no self-join on raw events.
    */
  def seqPatterns(events: DataFrame, minSupport: Int = 3): DataFrame = {
    val pos = events
      .select(col("user_id"), col("event_type"),
        row_number().over(byUser).as("pos"))
    val fp = graft.operators.CacheScope.persist(
      pos.groupBy(col("user_id"), col("event_type"))
        .agg(min(col("pos")).as("first_pos"), max(col("pos")).as("last_pos")))
    val l1 = fp.groupBy(col("event_type").as("pattern"))
      .agg(count(lit(1)).as("support"))
      .select(lit(1).as("length"), col("pattern"), col("support"))
    val a = fp.select(col("user_id"), col("event_type").as("a"),
      col("first_pos").as("fa"))
    val b = fp.select(col("user_id"), col("event_type").as("b"),
      col("last_pos").as("lb"))
    val l2 = a.join(b, Seq("user_id")).filter(col("fa") < col("lb"))
      .groupBy(concat(col("a"), lit(">"), col("b")).as("pattern"))
      .agg(count(lit(1)).as("support"))
      .select(lit(2).as("length"), col("pattern"), col("support"))
    // min b-position strictly after a's first occurrence, per (user,a,b)
    val mab = pos.select(col("user_id"), col("event_type").as("b"),
        col("pos").as("pb"))
      .join(a, Seq("user_id"))
      .filter(col("pb") > col("fa"))
      .groupBy(col("user_id"), col("a"), col("b"))
      .agg(min(col("pb")).as("mab"))
    val c = fp.select(col("user_id"), col("event_type").as("c"),
      col("last_pos").as("lc"))
    val l3 = mab.join(c, Seq("user_id")).filter(col("lc") > col("mab"))
      .groupBy(concat(col("a"), lit(">"), col("b"), lit(">"), col("c"))
        .as("pattern"))
      .agg(count(lit(1)).as("support"))
      .select(lit(3).as("length"), col("pattern"), col("support"))
    l1.unionByName(l2).unionByName(l3)
      .filter(col("support") >= minSupport)
      .orderBy(col("length"), col("pattern"))
  }

  def transitionMatrix(events: DataFrame): DataFrame = {
    val counts = events
      .withColumn("to_type", lead(col("event_type"), 1).over(byUser))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("cnt"))
    counts
      .withColumn("prob", col("cnt").cast("double") /
        sum(col("cnt")).over(Window.partitionBy(col("from_type"))).cast("double"))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** Tumbling-window aggregation (hourly): batch twin of the streaming
    * windowed count. date_trunc keeps the group key computable inside the
    * scan's codegen stage; one low-cardinality shuffle.
    */
  /** SEASONAL PROFILE (r15) — the day-of-week × hour-of-day baseline
    * every event-rate monitor needs before it can call anything an
    * anomaly: per (dow, hour) cell the exact event count, total value in
    * cents, floored mean cents, and the cell's LARGEST absolute residual
    * against its own mean (the detrended extreme a threshold alarm would
    * fire on). All integer: per-row cents floor first, mean =
    * sum div n on non-negative operands, residuals as |cents − mean|.
    * The week×day grid is the classic multiplicative-seasonality
    * baseline (dow captures the weekly cycle, hour the daily one);
    * subtracting the cell mean IS the de-seasonalization.
    *
    * Scale shape: one partial-aggregable groupBy to the ≤168-cell
    * profile, then the events scan re-joined against the BROADCAST
    * profile for residuals and one more partial agg — no window, no
    * corpus-sized shuffle (both aggs combine map-side to cell
    * cardinality).
    */
  /** PER-TYPE BURSTINESS as the hourly Fano factor (index of
    * dispersion, Fano 1947): F = Var(c)/Mean(c) over hourly event
    * counts spanning the type's FULL observed hour range — zero hours
    * included (they enter through n alone, no scaffold relation
    * needed): with T = Σc and n = max_h − min_h + 1,
    * F = (n·Σc² − T²) / (n·T). F ≈ 1 is Poisson arrival; F ≫ 1 is
    * bursty (overdispersed) — the routing/backpressure diagnostic for
    * a streaming ingest plan. Exact DECIMAL(38,0) moments, e6 floor
    * division (numerator non-negative by Cauchy–Schwarz).
    *
    * Scale shape: one partial-aggregable groupBy to (type, hour), one
    * to the per-type moments — no window, no scaffold explode.
    */
  def burstiness(events: DataFrame): DataFrame = {
    val perHour = events.select(col("event_type"),
        expr("unix_micros(ts) div 3600000000").as("h"))
      .groupBy(col("event_type"), col("h")).agg(count(lit(1)).as("c"))
    perHour.groupBy(col("event_type"))
      .agg((max(col("h")) - min(col("h")) + lit(1L)).as("n_hours"),
        sum(col("c")).as("n_events"),
        sum(expr("CAST(c AS DECIMAL(38,0)) * c")).as("scc"))
      .select(col("event_type"), col("n_hours"), col("n_events"),
        expr("CAST(((CAST(n_hours AS DECIMAL(38,0)) * scc" +
          " - CAST(n_events AS DECIMAL(38,0)) * n_events) * 1000000)" +
          " div (CAST(n_hours AS DECIMAL(38,0)) * n_events) AS BIGINT)")
          .as("fano_e6"))
      .orderBy(col("event_type"))
  }

  def seasonalProfile(events: DataFrame): DataFrame = {
    val cells = events.select(
      dayofweek(col("ts")).cast("int").as("dow"),
      hour(col("ts")).cast("int").as("hr"),
      floor(col("value") * 100).cast("long").as("cents"))
    // floored mean via the shifted-space idiom (r16 advice): floor(v*100)
    // admits NEGATIVE cents for negative event values, where Spark `div`
    // (truncate) and DuckDB `//` (floor) diverge — shifting each row's
    // contribution by +1e7 cents (values ≥ −1e5 covered; the generator's
    // are non-negative) keeps both operands non-negative so the result
    // IS the floor division the oracle's `//` computes, for any sign
    val shift = 10000000L
    val prof = cells.groupBy(col("dow"), col("hr"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("cents")).as("sum_cents"))
      .withColumn("mean_cents",
        expr(s"(sum_cents + $shift * n_events) div n_events - $shift"))
    cells.join(broadcast(prof), Seq("dow", "hr"))
      .groupBy(col("dow"), col("hr"))
      .agg(max(col("n_events")).as("n_events"),
        max(col("sum_cents")).as("sum_cents"),
        max(col("mean_cents")).as("mean_cents"),
        max(abs(col("cents") - col("mean_cents")))
          .as("max_abs_residual_cents"))
      .orderBy(col("dow"), col("hr"))
  }

  /** MAD ROBUST OUTLIER PROFILE per event type (r16 — the
    * median-absolute-deviation cut every metrics pipeline reaches for
    * once it learns mean±kσ folds under the very outliers it hunts;
    * Hampel's estimator): per type the exact LOWER median of value
    * cents, the exact median absolute deviation around it, and the
    * count of |x − med| > 3·MAD rows. Medians are deterministic —
    * rank t = (n+1) div 2 under the (cents, event_id) total order —
    * via TWO [[ExactRank]] passes, never a corpus-wide window (the
    * event_type partition count is a handful: a window would be a
    * few-task ceiling at any cluster size, the order_rank rationale).
    * All integer: floor cents first, |·| and 3·MAD in BIGINT.
    *
    * Scale shape: two range-partitioned rank passes + one broadcast
    * join of the ≤|types| median relation + one partial-aggregable
    * count — rank state is partitions×types with ExactRank's
    * fail-fast cardinality guard.
    */
  def madOutliers(events: DataFrame): DataFrame = {
    val cents = CacheScope.persist(
      events.select(col("event_type"),
        floor(col("value") * 100).cast("long").as("cents"),
        col("event_id")),
      org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val med = ExactRank.exactRank(cents, Seq("event_type"),
        Seq("cents", "event_id"))
      .filter(expr("rnk = (n_group + 1) div 2"))
      .select(col("event_type"), col("n_group").as("n_events"),
        col("cents").as("med_cents"))
    val devs = CacheScope.persist(
      cents.join(broadcast(med), "event_type")
        .select(col("event_type"), abs(col("cents") - col("med_cents"))
          .as("dev"), col("event_id")),
      org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val mad = ExactRank.exactRank(devs, Seq("event_type"),
        Seq("dev", "event_id"))
      .filter(expr("rnk = (n_group + 1) div 2"))
      .select(col("event_type"), col("dev").as("mad_cents"))
    devs.join(broadcast(med), "event_type")
      .join(broadcast(mad), "event_type")
      .groupBy(col("event_type"), col("n_events"), col("med_cents"),
        col("mad_cents"))
      .agg(sum(when(col("dev") > lit(3L) * col("mad_cents"), 1L)
        .otherwise(0L)).as("n_outliers"))
      .orderBy(col("event_type"))
  }

  def hourlyCounts(events: DataFrame): DataFrame =
    hourlyCountsPartials(events)
      .select(col("hour"), col("event_type"), col("n"),
        col("sum_value").cast("double").as("sum_value"))
      .orderBy(col("hour"), col("event_type"))

  /** The PARTIALS form of [[hourlyCounts]]: sum_value stays
    * DECIMAL(18,2) — this is the schema a persisted aggregate table must
    * hold, because a double partial only round-trips losslessly while
    * each (hour, type) sum stays below ~2^53/100. Keeping the stored
    * partial in decimal makes [[hourlyCountsMerge]] exact at any
    * magnitude decimal(18,2)'s 16 integer digits can hold; the cast to
    * double happens once, at emission.
    */
  def hourlyCountsPartials(events: DataFrame): DataFrame =
    events.groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("decimal(18,2)")
          .as("sum_value"))

  /** Incremental view maintenance for [[hourlyCounts]]: merge an
    * already-aggregated DECIMAL partials relation (the persisted view of
    * everything seen so far, [[hourlyCountsPartials]]'s schema) with a
    * fresh delta batch — counts add, sums add in exact decimal, and the
    * result equals the full recompute bit-for-bit. The canonical
    * aggregate-table IVM shape: the corpus is never rescanned — merge
    * cost is O(|partials| + |delta aggregate|), and the partials
    * relation is calendar × type sized, orders of magnitude below the
    * events table at 100 TB.
    */
  def hourlyCountsMerge(partials: DataFrame, delta: DataFrame): DataFrame =
    partials.unionByName(hourlyCountsPartials(delta))
      .groupBy(col("hour"), col("event_type"))
      .agg(sum(col("n")).as("n"),
        sum(col("sum_value")).cast("double").as("sum_value"))
      .orderBy(col("hour"), col("event_type"))

  /** Latest/earliest record selection per key via max_by/min_by (SQL
    * ARG_MAX / ARG_MIN) — the upsert/SCD "current row" aggregate. One
    * partial-aggregable pass: max_by partials merge map-side, where the
    * equivalent per-key ORDER BY + rn=1 window colocates every row of a
    * key in one task before discarding all but one. (user_id, ts) is
    * unique in the events table so the picked rows are deterministic; a
    * key with ts ties would need a composite tie-break scalar.
    */
  def latestEvents(events: DataFrame): DataFrame =
    events.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        min_by(col("event_type"), col("ts")).as("first_type"),
        max_by(col("event_type"), col("ts")).as("last_type"),
        max_by(col("value"), col("ts")).as("last_value"))
      .orderBy(col("user_id"))

  /** Cohort retention: users cohorted by first-seen day; for each
    * (cohort, day offset), how many of the cohort's users were active,
    * and what fraction of the cohort that is.
    *
    * Scale shape: two partial-aggregable passes over events (first-seen
    * per user; distinct user-day), ONE high-cardinality equi-join on
    * user_id between them, then a groupBy whose key space is
    * calendar-bounded (days x offsets), not corpus-bounded. The
    * retention denominator (cohort size = its day-0 actives — every
    * user is active on their first day by definition) comes from a
    * window over that already-aggregated calendar-sized relation — the
    * same bounded-window-over-aggregates shape as [[transitionMatrix]],
    * never a window over raw events.
    */
  def cohortRetention(events: DataFrame): DataFrame = {
    val firstSeen = events.groupBy(col("user_id"))
      .agg(to_date(min(col("ts"))).as("cohort_day"))
    val activity = events
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val agg = activity.join(firstSeen, "user_id")
      .groupBy(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("active_users"))
    agg.withColumn("retention",
        col("active_users").cast("double") /
          max(when(col("day_offset") === 0, col("active_users")))
            .over(Window.partitionBy(col("cohort_day"))).cast("double"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  /** Time-series resampling with forward fill: each user's event stream
    * becomes a dense HOURLY grid from their first to their last active
    * hour, each grid point carrying the value of the latest event
    * at-or-before it (`filled` marks carried-forward hours with no
    * event of their own) — the gap-filling step that precedes any
    * fixed-step time-series model.
    *
    * Scale shape: one partial-aggregable groupBy picks each (user, hour)
    * cell's latest value (`max_by` on the total (ts, event_id) order —
    * map-side combined, so a hot hour collapses before the exchange),
    * one groupBy bounds each user's grid, and the forward-fill window
    * runs over the GRID rows — calendar-bounded per user (hours in the
    * activity span), never over raw events (the [[cohortRetention]]
    * bounded-window-over-aggregates discipline). Grid explosion is
    * `sequence`+`explode`, row-local.
    */
  def resampleFfill(events: DataFrame): DataFrame = {
    val hourly = events.groupBy(col("user_id"),
        date_trunc("hour", col("ts")).as("grid_ts"))
      .agg(max_by(col("value"),
        struct(col("ts"), col("event_id"))).as("hv"))
    val grid = events.groupBy(col("user_id"))
      .agg(date_trunc("hour", min(col("ts"))).as("t0"),
        date_trunc("hour", max(col("ts"))).as("t1"))
      .select(col("user_id"),
        explode(sequence(col("t0"), col("t1"),
          expr("INTERVAL 1 HOUR"))).as("grid_ts"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("grid_ts"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(hourly, Seq("user_id", "grid_ts"), "left")
      .select(col("user_id"), col("grid_ts"),
        last(col("hv"), ignoreNulls = true).over(w).as("value"),
        col("hv").isNull.as("filled"))
      .orderBy(col("user_id"), col("grid_ts"))
  }

  /** Per-user exponentially weighted moving average (α = 1/2) of event
    * values in event-time order — the classic time-series smoother, in
    * EXACT integer arithmetic so the result is hash-comparable: values
    * quantize to cents (`floor(v·100 + 0.5)`, exact IEEE ops on both
    * engines), and each step is the integer recurrence
    * `s ← floor((s + cents) / 2)` — an arithmetic shift, which floors
    * on the WHOLE domain including negative values (refunds), matching
    * the oracle's explicit floor — folded left over the user's
    * time-sorted events. No float accumulation order to disagree
    * about, no epsilon band.
    *
    * Scale shape: one partial-aggregable `collect_list` groupBy on
    * user_id, then the fold runs INSIDE `functions.aggregate` over the
    * sorted per-user array — row-local after the single exchange, no
    * window over raw events. Per-user arrays must fit a task (the
    * [[sessionize]] per-key contract: user event counts are
    * app-bounded, not corpus-bounded). Ties on ts break by event_id,
    * so the fold order is total and deterministic.
    */
  def ewmaValue(events: DataFrame): DataFrame = {
    val cents = floor(col("value") * lit(100.0) + lit(0.5)).cast("long")
    events
      .select(col("user_id"), col("ts"), col("event_id"),
        cents.as("cents"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        aggregate(
          transform(
            sort_array(collect_list(struct(col("ts"), col("event_id"),
              col("cents")))),
            s => s.getField("cents")),
          lit(0L),
          // arithmetic >> 1 ≡ floor-div-2 on ALL longs (negatives too);
          // Column./ would be DOUBLE division and break exactness
          (acc, c) => shiftright(acc + c, 1)).as("ewma_cents"))
      .orderBy(col("user_id"))
  }

  /** CUSUM alarm threshold, cents — shared with the oracle text. */
  val CusumThresholdCents = 50000L

  /** Per-user CUSUM change-point monitor (Page 1954, public) over
    * event values — the drift alarm of ops pipelines: the positive
    * cumulative sum s_t = max(0, s_{t-1} + (x_t − k)) rises when a
    * user's values run persistently above the corpus reference k and
    * resets while they don't; crossing `CusumThresholdCents` is the
    * alarm. Reference k = ⌊corpus mean cents⌋ (one 1-row aggregate,
    * broadcast — the house bounded crossJoin).
    *
    * Exactness: the [[ewmaValue]] discipline — values quantize to
    * cents, k is an exact integer, and the whole recurrence is
    * integer arithmetic folded INSIDE `functions.aggregate` over the
    * (ts, event_id)-sorted per-user array (app-bounded per-user
    * contract), with a struct accumulator carrying (s, running max,
    * alarm count). The oracle replays the SAME sequence through the
    * closed form `s_t = p_t − min(0, min_{j≤t} p_j)` (prefix sums and
    * a running min — the max(0,·) recurrence unrolled), so the two
    * engines compute identical integers by different but provably
    * equal routes.
    */
  def cusumAlerts(events: DataFrame): DataFrame = {
    val cents = floor(col("value") * lit(100.0) + lit(0.5)).cast("long")
    val base = events.select(col("user_id"), col("ts"), col("event_id"),
      cents.as("cents"))
    val ref = base.agg(
      floor(sum(col("cents")).cast("double") / count(lit(1))).cast("long")
        .as("k"))
    val h = lit(CusumThresholdCents)
    base.crossJoin(broadcast(ref))
      .select(col("user_id"),
        struct(col("ts"), col("event_id"),
          (col("cents") - col("k")).as("d")).as("ev"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        aggregate(
          transform(sort_array(collect_list(col("ev"))),
            s => s.getField("d")),
          struct(lit(0L).as("s"), lit(0L).as("mx"), lit(0L).as("na")),
          (acc, d) => {
            val s2 = greatest(lit(0L), acc.getField("s") + d)
            struct(s2.as("s"),
              greatest(acc.getField("mx"), s2).as("mx"),
              (acc.getField("na") +
                when(s2 >= h, 1L).otherwise(0L)).as("na"))
          }).as("acc"))
      .select(col("user_id"), col("n_events"),
        col("acc.mx").as("max_cusum_cents"),
        col("acc.na").as("n_alarms"))
      .orderBy(col("user_id"))
  }
}
