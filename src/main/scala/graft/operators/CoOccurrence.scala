package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.CoPair

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
  * One kernel: [[counts]] runs the scan on the whole-stage-codegen plan
  * node [[graft.plans.CoOccurWindow]], which reads each basket's array in
  * place and fuses scan → window-pairs → partial aggregate into one
  * generated stage. [[windowPairs]] is the pure reference model the node
  * is property-checked against. [[pairsSql]] is the same relation as a
  * pure DataFrame composition (posexplode + min-over window to find the
  * first-repeat boundary), registered as `cooccur_counts_sql`; it proves
  * the operator is SQL-expressible and is the shape of the DuckDB
  * oracle twin.
  *
  * Scale note (100 TB design point): per-basket cost is quadratic in basket
  * width. Baskets here are order line sequences (bounded ~7 items TPC-H-like;
  * the reference fixture is 10). `maxWindow` caps pathological baskets so one
  * hot row can't stall a task; the downstream `groupBy` gets Catalyst's
  * map-side partial aggregation for free (reference O7's in-mapper combining).
  */
object CoOccurrence {

  /** Window-scan one basket: the pure reference model of the plan node,
    * used by the property checks. `maxWindow` caps the forward scan per
    * occurrence.
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

  /** Aggregated co-occurrence counts: DataFrame(product, neighbor, cnt)
    * over any baskets frame with an `array<string>` column `products`.
    * `maxWindow` caps the forward scan per occurrence.
    */
  def counts(baskets: Dataset[_], maxWindow: Int = Int.MaxValue): DataFrame =
    graft.plans.CoOccurWindow.pairs(baskets.select(col("products")), maxWindow)
      .groupBy(col("product"), col("neighbor"))
      .agg(count(lit(1)).as("cnt"))

  /** [[counts]] under its former name, kept for callers outside the
    * engine sources (the perfbench workloads call it).
    */
  def countsFused(basketsDf: DataFrame): DataFrame = counts(basketsDf)

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
