package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relative-frequency normalization — the "crystal ball" (SURVEY.md §2
  * O6/O9/O12/O13): P(neighbor|product) = cnt(product, neighbor) /
  * Σ_x cnt(product, x).
  *
  * The reference needs order inversion (wildcard `(p,*)` keys sorted before
  * real neighbors, `src/CrystalBallPair.java:126-135,215-224`) because a
  * MapReduce reducer sees each key once. In Spark the denominator is simply a
  * window aggregate over the *already-aggregated* pair counts — the window's
  * exchange moves only |distinct pairs| rows, not raw observations, and
  * Catalyst supplies map-side partial aggregation (the reference's in-mapper
  * combining, O7) automatically.
  */
object CrystalBall {

  /** (product, neighbor, cnt) → + prob. One exchange on `product` over
    * aggregated data only: the [[Width.spread]] at the session width, which
    * the window, everything persisted from it and every reader of that
    * relation inherit (the reference's per-product reducers, run in
    * parallel). An input already hash-partitioned on `product` at that
    * width, such as a table bucketed at it, keeps its layout and plans no
    * exchange.
    */
  def normalize(counts: DataFrame): DataFrame =
    Width.spread(counts, "product").withColumn("prob",
      col("cnt") / sum(col("cnt")).over(Window.partitionBy(col("product"))))

  /** Skew-safe alternative to the window: aggregate per-product totals
    * (map-side combined, no sort) and join them back. At 100 TB a hot
    * product makes the window's per-partition sort skew; the totals
    * relation has one row per distinct product — broadcastable when the
    * catalog is small, AQE-skew-handled otherwise. Same arithmetic, same
    * result (tested equal to [[normalize]]).
    */
  def normalizeViaTotalsJoin(counts: DataFrame): DataFrame = {
    val totals = counts.groupBy(col("product"))
      .agg(sum(col("cnt")).as("total"))
    counts.join(totals, "product")
      .withColumn("prob", col("cnt") / col("total"))
      .drop("total")
  }

  /** Pair-shaped flagship result (reference Pairs variant output,
    * `output/CrystalBallPair/part-r-*`): (product, neighbor, cnt, prob),
    * deterministically ordered (string sort, matching the reference's
    * lexicographic `Pair.compareTo`, `src/CrystalBallPair.java:215-224`).
    */
  def pairProbabilities(baskets: Dataset[_]): DataFrame =
    normalize(CoOccurrence.counts(baskets))
      .orderBy(col("product"), col("neighbor"))

  /** Stripe-shaped result (reference Stripes/Hybrid variants,
    * `src/CrystalBallStripe.java:101-113`): one row per product, neighbors
    * as a neighbor-sorted array of (neighbor, prob) structs. A sorted array
    * rather than MapType so output comparison is deterministic (the
    * reference's map iteration order is Java HashMap order — SURVEY.md §5).
    */
  def stripeProbabilities(baskets: Dataset[_]): DataFrame =
    stripeShape(normalize(CoOccurrence.counts(baskets)))

  /** The stripe aggregation over an already-normalized (product,
    * neighbor, cnt, prob) relation, so the registered stripe queries can
    * feed it from [[CoOccurrence.counts]] without re-stating the shape.
    */
  def stripeShape(probs: DataFrame): DataFrame =
    probs
      .groupBy(col("product"))
      .agg(sort_array(collect_list(struct(col("neighbor"), col("prob"))))
        .as("stripe"))
      .orderBy(col("product"))

  /** Map-typed stripes — the engine-native presentation (MapType column),
    * for users who want `stripe['34']` lookups.
    */
  def stripeMap(baskets: Dataset[_]): DataFrame =
    stripeMapShape(normalize(CoOccurrence.counts(baskets)))

  /** MapType twin of [[stripeShape]]. */
  def stripeMapShape(probs: DataFrame): DataFrame =
    probs
      .groupBy(col("product"))
      .agg(map_from_entries(
        sort_array(collect_list(struct(col("neighbor"), col("prob")))))
        .as("stripe"))

  /** PPMI / LIFT ranking over the co-occurrence counts (the
    * information-theoretic sibling of [[normalize]]'s P(b|a), the
    * classic word-association statistic of Church & Hanks 1990 applied
    * to the reference's product domain): lift(a,b) =
    * N·c(a,b) / (c(a)·c(b)), where PMI = ln(lift). ln is monotone, so
    * the ranking and the positive-PMI cut need only the RATIONAL lift,
    * kept exact as lift_e6 = (1e6·N·c(ab)) div (c(a)·c(b)) in
    * DECIMAL(38,0) — no ln, no libm divergence, the house
    * integer-ranking discipline. Emits the top-k positively associated
    * neighbors per product (lift_e6 > 1e6 ⟺ PMI > 0).
    *
    * Scale shape: both marginals are partial-aggregable groupBys over
    * the ALREADY-AGGREGATED pair relation; N is a 1-row broadcast; the
    * rank window partitions per product (neighbor-catalog-bounded, with
    * the rank cut pushed map-side by WindowGroupLimit) — nothing here
    * touches raw observations.
    *
    * minCount (the Church & Hanks support floor): PMI is famously
    * unstable on rare pairs — a once-seen pair with two rare members
    * posts an enormous lift that is pure noise, and at corpus scale the
    * once-seen tail IS most of the pair relation. Every PMI
    * implementation since the original applies a minimum-count floor
    * before ranking; here the floor is applied to the SCORED relation
    * only (`cnt >= minCount` before the two marginal joins, so the
    * relation that shuffles twice and feeds the rank window shrinks at
    * the source), while the marginals c(a), c(b) and N stay TRUE
    * marginals over the full pair relation — floors must not bias the
    * independence model, only prune what gets ranked. Both are cheap:
    * the marginals are map-side-combining groupBys that never join.
    */
  def ppmiRank(counts: DataFrame, k: Int = 5, minCount: Long = 2L): DataFrame = {
    require(k >= 1, s"ppmiRank: k must be >= 1, got $k")
    require(minCount >= 1, s"ppmiRank: minCount must be >= 1, got $minCount")
    // NO operator-scoped cache: the pair relation is traversed four
    // times (two marginals, the total, the scored join) and a DISK_ONLY
    // row-format cache of a corpus-scale relation loses to columnar
    // scans — the registered query materializes its counts chain to a
    // parquet table first, so each traversal here is a compact columnar
    // scan
    val c = counts.select(col("product"), col("neighbor"), col("cnt"))
    val rowM = c.groupBy(col("product")).agg(sum(col("cnt")).as("c_a"))
    val colM = c.groupBy(col("neighbor")).agg(sum(col("cnt")).as("c_b"))
    val n = c.agg(sum(col("cnt")).as("n_total"))
    // colM first, rowM second: the last equi-join leaves the relation
    // partitioned by PRODUCT, which is exactly the rank window's
    // requirement — Catalyst reuses that exchange, so the pair relation
    // shuffles twice (neighbor, product), not three times. The support
    // floor lands BEFORE either join: only pairs that can be ranked
    // enter the shuffles.
    val support = c.filter(col("cnt") >= lit(minCount))
    val scored = support.join(colM, "neighbor").join(rowM, "product")
      .crossJoin(broadcast(n))
      .withColumn("lift_e6", expr(
        "CAST((CAST(cnt AS DECIMAL(38,0)) * n_total * 1000000)" +
          " div (CAST(c_a AS DECIMAL(38,0)) * c_b) AS BIGINT)"))
      .filter(col("lift_e6") > lit(1000000L))
    val w = Window.partitionBy(col("product"))
      .orderBy(col("lift_e6").desc, col("neighbor"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("product"), col("neighbor"), col("cnt"),
        col("n_total"), col("lift_e6"), col("rk"))
      .orderBy(col("product"), col("rk"))
  }
}
