package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Unordered market-basket association rules (support / confidence / lift)
  * — the MLlib-FPGrowth-shaped capability from the north star
  * (/root/repo/BASELINE.json), restricted to 2-itemsets so it has an exact
  * SQL oracle. The windowed crystal-ball semantics (CoOccurrence) are the
  * *ordered* complement; this is the order-free classic.
  *
  * The MLlib `FPGrowth` cross-check lives in the test suite
  * (AssocRulesSpec): same minSupport over the same baskets must yield the
  * same 2-itemset rules.
  */
object MarketBasket {

  /** The registered scale-invariant support fraction for
    * [[fpgrowthRules]]: ceil(1e-4 · n_baskets) admits count 2 on the
    * sf0.01 fixture (n = 14743 → 2), count 15 at sf0.1, count ~148 at the
    * decade-audit corpus — the threshold scales with the data, which is
    * what keeps the FP lattice (and the runtime) linear. The oracle twin
    * computes the identical ceil in SQL.
    */
  val ScaleInvariantSupport: Double = 1.0e-4

  /** Distinct (basket, item) pairs from lineitem. */
  private[graft] def basketItems(lineitem: DataFrame): DataFrame =
    lineitem.select(col("l_orderkey").as("basket"),
      col("l_partkey").cast("string").as("item")).distinct()

  /** SEQUENTIAL association rules — the reference domain's temporal
    * extension (the co-occurrence engine asks "bought together"; this
    * asks "bought NEXT"): `confidence = P(customer's next order
    * contains b | current order contains a)` over consecutive order
    * pairs per customer.
    *
    * Scale shape: the order sequence is a lead() window per CUSTOMER —
    * customer-cardinality partitions, each holding that customer's
    * orders only (bounded), never a global sort. A transition joins the
    * two orders' item sets through two basket equi-joins, so each
    * consecutive pair emits O(basket²) rows — bounded by basket size,
    * not corpus size — and both count relations are partial-aggregable
    * groupBys. Confidence divides two exact integer counts.
    */
  def nextPurchaseRules(orders: DataFrame, lineitem: DataFrame,
      minCount: Long = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val orderPairs = orders
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
      .withColumn("next_o", lead(col("o_orderkey"), 1).over(w))
      .filter(col("next_o").isNotNull)
      .select(col("o_orderkey").as("prev_o"), col("next_o"))
    val items = basketItems(lineitem)
    val trans = orderPairs
      .join(items.select(col("basket").as("prev_o"),
        col("item").as("antecedent")), "prev_o")
      .join(items.select(col("basket").as("next_o"),
        col("item").as("consequent")), "next_o")
      .select(col("antecedent"), col("consequent"))
    val cnt = trans.groupBy(col("antecedent"), col("consequent"))
      .agg(count(lit(1)).as("n_trans"))
    // the denominator DERIVES from cnt (Σ_c n_trans ≡ count over trans):
    // one aggregation of the transition relation instead of two, so the
    // orderPairs⋈items⋈items pipeline shuffles once and both consumers
    // read the same exchange (x100 audit: the two-scan form measured
    // 11.6× where the stages are individually ≤ linear — the second
    // transition scan was the whole excess)
    val fromA = cnt.groupBy(col("antecedent"))
      .agg(sum(col("n_trans")).as("n_from"))
    cnt.join(fromA, "antecedent")
      .filter(col("n_trans") >= minCount)
      .select(col("antecedent"), col("consequent"), col("n_trans"),
        (col("n_trans").cast("double") / col("n_from").cast("double"))
          .as("confidence"))
      .orderBy(col("antecedent"), col("consequent"))
  }

  /** MLlib FPGrowth as a first-class query (the north-star's association-
    * rule engine): fit on the basket lists, emit the 1→1 rules with
    * MLlib's own metric arithmetic (confidence = pair/suppA, lift =
    * confidence / (suppB/N), support = pair/N — the oracle twin replicates
    * these operand orders exactly).
    *
    * Scale contract (the r10 decade audit's one superlinear row — 8.6×
    * under 10× data — was this operator with a COUNT-anchored threshold):
    * `minSupportFraction`, when supplied, is MLlib's minSupport verbatim —
    * scale-invariant by construction. MLlib's admission count is
    * ceil(fraction · n_baskets), so the threshold grows WITH the corpus
    * and the frequent-pattern lattice stays the set of genuinely
    * correlated itemsets instead of swallowing every pair that ever
    * co-occurred twice (which is what the old fixed count-2 anchor
    * degenerated to as data grew — linear-in-pairs lattice, the audit's
    * superlinear row). The registered `fpgrowth_rules` query passes a
    * fraction, and its oracle twin computes the same
    * ceil(fraction · n) admission in SQL, so engine and oracle stay
    * bit-identical at EVERY scale factor, not just the fixture's.
    * (MLlib exposes no maxPatternLength; the fraction is the available —
    * and the principled — bound. Longer itemsets above the fractional
    * threshold are real signal, not waste.)
    *
    * The default `None` keeps the legacy count-2 anchor
    * (minSupport = 1.5/n) for callers that want "every repeated pair" on
    * a fixed small fixture.
    */
  def fpgrowthRules(lineitem: DataFrame,
      minSupportFraction: Option[Double] = None): DataFrame = {
    import org.apache.spark.ml.fpm.FPGrowth
    val spark = lineitem.sparkSession
    // DISK_ONLY, not default storage: the distinct (basket, item) relation
    // is corpus-sized, and a corpus-sized pin in storage MEMORY competes
    // with the very shuffles/aggregations it feeds at 100 TB — the same
    // discipline as ngram_jaccard's df relation (measured both ways there;
    // re-measured here, BENCH_NOTES r8).
    val items = basketItems(lineitem).persist(StorageLevel.DISK_ONLY)
    try {
    val baskets = items.groupBy(col("basket"))
      .agg(collect_list(col("item")).as("items"))
    // ML estimator boundary: fit() is an eager action by nature, so this
    // query builder is not lazy like the others (Verify/Bench tolerate it)
    val n = baskets.count()
    if (n == 0) {
      // degenerate input: match assoc_rules/oracle (empty result), don't
      // hand MLlib minSupport = 1.5/0 = Infinity
      import org.apache.spark.sql.types._
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(
          StructField("antecedent", StringType), StructField("consequent", StringType),
          StructField("confidence", DoubleType), StructField("lift", DoubleType),
          StructField("support", DoubleType))))
    }
    minSupportFraction.foreach(f => require(f > 0 && f <= 1,
      s"fpgrowthRules: minSupportFraction $f out of (0, 1]"))
    val model = new FPGrowth().setItemsCol("items")
      .setMinSupport(minSupportFraction.getOrElse(1.5 / n))
      .setMinConfidence(0.0)
      .fit(baskets)
    model.associationRules
      .filter(size(col("antecedent")) === 1 && size(col("consequent")) === 1)
      .select(col("antecedent")(0).as("antecedent"),
        col("consequent")(0).as("consequent"),
        col("confidence"), col("lift"), col("support"))
      .orderBy(col("antecedent"), col("consequent"))
    // release is operator-scoped (r12): fit() — the estimator boundary,
    // already eager — is where the reuse paid off; the rules relation's
    // later consumption recomputes the post-shuffle freqItemsets lineage
    // from existing shuffle files, so the unpersist costs ~nothing and a
    // long-lived session stops accumulating corpus-sized pins
    } finally items.unpersist(false)
  }

  /** Association rules a→b over item pairs co-occurring in ≥ minPairCount
    * baskets. Both directions emitted. The pair join is a self-equi-join
    * on the basket key (shuffle on basket, never a cross product);
    * support/confidence/lift divide exact integer counts.
    *
    * The distinct-items relation persist serves all three consumers
    * (supports + both pair-join sides).
    */
  def rules(lineitem: DataFrame, minPairCount: Long = 2): DataFrame = {
    // DISK_ONLY for the corpus-sized relation (see fpgrowthRules)
    val items = CacheScope.persist(basketItems(lineitem),
      StorageLevel.DISK_ONLY)
    // basket count as a broadcast 1-row aggregate — keeps the whole rule
    // derivation a single lazy plan (no driver-side count action/extra scan)
    val nb = items.agg(countDistinct(col("basket")).cast("double").as("n_baskets"))
    val itemSupp = items.groupBy(col("item")).agg(count(lit(1)).as("supp"))
    val pairSupp = items.as("a")
      .join(items.as("b"),
        col("a.basket") === col("b.basket") && col("a.item") < col("b.item"))
      .groupBy(col("a.item").as("item_a"), col("b.item").as("item_b"))
      .agg(count(lit(1)).as("pair_cnt"))
      .filter(col("pair_cnt") >= minPairCount)
    val joined = pairSupp
      .join(itemSupp.select(col("item").as("item_a"), col("supp").as("supp_a")), "item_a")
      .join(itemSupp.select(col("item").as("item_b"), col("supp").as("supp_b")), "item_b")
      .crossJoin(broadcast(nb))
    val ab = joined.select(
      col("item_a").as("antecedent"), col("item_b").as("consequent"),
      col("pair_cnt"),
      (col("pair_cnt").cast("double") / col("n_baskets")).as("support"),
      (col("pair_cnt").cast("double") / col("supp_a").cast("double")).as("confidence"),
      (col("pair_cnt").cast("double") * col("n_baskets") /
        (col("supp_a") * col("supp_b")).cast("double")).as("lift"))
    val ba = joined.select(
      col("item_b").as("antecedent"), col("item_a").as("consequent"),
      col("pair_cnt"),
      (col("pair_cnt").cast("double") / col("n_baskets")).as("support"),
      (col("pair_cnt").cast("double") / col("supp_b").cast("double")).as("confidence"),
      (col("pair_cnt").cast("double") * col("n_baskets") /
        (col("supp_a") * col("supp_b")).cast("double")).as("lift"))
    ab.union(ba).orderBy(col("antecedent"), col("consequent"))
  }
}
