package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Basket, CoPair}

/** The engine's one genuinely custom operator (SURVEY.md §2 O4/O5): the
  * **repeat-terminated co-occurrence window**.
  *
  * Semantics (reference `src/CrystalBallPair.java:42-63`,
  * `src/CrystalBallStripe.java:37-69`, `src/CrystalBallHybrid.java:42-64`):
  * for each product occurrence at position i, scan forward j = i+1.. emitting
  * (product(i), product(j)), stopping at end-of-basket or the **first
  * re-occurrence of product(i)** (self-pairs are never emitted — they
  * terminate the window). Duplicate *neighbors* inside the window each count.
  * The last position is never a "current" product (its window is empty, so
  * this is observationally a no-op).
  *
  * Two implementations, same relation:
  *  - [[pairs]]: typed `flatMap` — row-at-a-time, per-basket O(w²) worst
  *    case bounded by `maxWindow`. Distributed: runs inside whole-stage
  *    codegen's object path per input partition, no shuffle of its own.
  *  - [[pairsSql]]: pure DataFrame composition (posexplode + min-over window
  *    to find the first-repeat boundary) — keeps everything inside Catalyst
  *    expressions and proves the operator is SQL-expressible (this is also
  *    the shape of the DuckDB oracle twin).
  *
  * Scale note (100 TB design point): per-basket cost is quadratic in basket
  * width. Baskets here are order line sequences (bounded ~7 items TPC-H-like;
  * the reference fixture is 10). `maxWindow` caps pathological baskets so one
  * hot row can't stall a task; the downstream `groupBy` gets Catalyst's
  * map-side partial aggregation for free (reference O7's in-mapper combining).
  */
object CoOccurrence {

  /** Window-scan one basket. Pure function — also used by tests/property
    * checks. `maxWindow` caps the forward scan per occurrence.
    */
  private[graft] def windowPairs(products: Seq[String],
      maxWindow: Int = Int.MaxValue): Iterator[CoPair] = {
    val arr = products.toArray
    val n = arr.length
    (0 until n - 1).iterator.flatMap { i =>
      val cur = arr(i)
      // long arithmetic: i + 1 + maxWindow must not wrap for large caps
      val bound = math.min(n.toLong, i + 1L + maxWindow.toLong).toInt
      new Iterator[CoPair] {
        private var j = i + 1
        def hasNext: Boolean = j < bound && arr(j) != cur
        def next(): CoPair = { val p = CoPair(cur, arr(j)); j += 1; p }
      }
    }
  }

  /** Typed flatMap implementation → DataFrame(product, neighbor). */
  def pairs(baskets: Dataset[Basket], maxWindow: Int = Int.MaxValue): DataFrame = {
    import baskets.sparkSession.implicits._
    baskets.flatMap(b => windowPairs(b.products, maxWindow)).toDF()
  }

  /** Pure-Catalyst implementation over a DataFrame with an array column
    * `products`. posexplode gives (pos, product); the first-repeat boundary
    * is `min(pos') over same (basket, product) where pos' > pos`, computed
    * with a window `lead`-equivalent; the neighbor join is an equi-join on
    * the basket key with a range predicate — AQE handles any basket-key skew.
    */
  def pairsSql(basketsDf: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val exploded = basketsDf
      .select(col("customer").as("bid"), posexplode(col("products")).as(Seq("pos", "product")))
    val w = Window.partitionBy(col("bid"), col("product")).orderBy(col("pos"))
    val currents = exploded
      .withColumn("next_same", lead(col("pos"), 1).over(w))
    val neighbors = exploded
      .select(col("bid").as("n_bid"), col("pos").as("n_pos"), col("product").as("neighbor"))
    currents.join(neighbors,
        col("bid") === col("n_bid") && col("n_pos") > col("pos") &&
          (col("next_same").isNull || col("n_pos") < col("next_same")))
      .select(col("product"), col("neighbor"))
  }

  /** Aggregated co-occurrence counts: DataFrame(product, neighbor, cnt). */
  def counts(baskets: Dataset[Basket], maxWindow: Int = Int.MaxValue): DataFrame =
    pairs(baskets, maxWindow).groupBy(col("product"), col("neighbor"))
      .agg(count(lit(1)).as("cnt"))

  /** [[counts]] computed through the whole-stage-codegen custom plan node
    * ([[graft.plans.CoOccurWindow]]) instead of the typed flatMap — the
    * SAME relation (the plan node is held to cooccur_counts' oracle hash
    * via the registered cooccur_counts_plan twin), with no encoder round
    * trip: scan → window-pairs → partial aggregate fuse into one codegen
    * stage. It is the default pair source for DOWNSTREAM consumers
    * (graph edge builders, PPMI, stripe/totals normalizations). The four
    * registered O4 forms (flatMap / SQL / UDTF / plan) keep their own
    * implementations; uncapped window only (the capped twin stays on
    * [[counts]], whose maxWindow the plan node deliberately doesn't
    * carry).
    */
  def countsFused(basketsDf: DataFrame): DataFrame =
    graft.plans.CoOccurWindow.pairs(basketsDf.select(col("products")))
      .groupBy(col("product"), col("neighbor"))
      .agg(count(lit(1)).as("cnt"))

  /** Incremental-view-maintenance merge: persisted partial counts (a
    * prior session's [[counts]] output, e.g. read back from a bucketed
    * catalog table) plus a delta batch's counts. Counts are additive over
    * any basket-disjoint split (window semantics are per-basket), so
    * merge(partials, delta) == full recompute — the contract that lets a
    * 100 TB pipeline ingest new baskets WITHOUT re-reading the corpus.
    * The merge shuffles only the aggregated pair relation (vocab-pair
    * bounded), never corpus-sized input.
    */
  def mergeCounts(persisted: DataFrame, deltaCounts: DataFrame): DataFrame =
    persisted.unionByName(deltaCounts)
      .groupBy(col("product"), col("neighbor"))
      .agg(sum(col("cnt")).as("cnt"))
}
