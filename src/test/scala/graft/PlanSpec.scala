package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.funsuite.AnyFunSuite

/** Plan-quality guards: the physical plans the engine relies on at scale
  * must not silently regress (pushdown, pruning, broadcast, top-k).
  */
class PlanSpec extends AnyFunSuite with CacheScoped {

  lazy val spark: SparkSession = Specs.spark
  private val sf = "/root/testdata/sf0.001"

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  /** True iff the query's physical plan contains a real Window operator.
    * A substring pin on "Window" is useless here: the custom node name
    * `CoOccurWindow` contains it (the r17 false-positive pair). */
  private def hasWindowExec(name: String): Boolean =
    SparkEntry.queries(name)(spark, sf).queryExecution.sparkPlan.exists {
      case _: org.apache.spark.sql.execution.window.WindowExec => true
      case _: org.apache.spark.sql.execution.window.WindowGroupLimitExec => true
      case _ => false
    }

  test("q1_pricing pushes the shipdate filter into the parquet scan") {
    val p = planOf("q1_pricing")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"missing pushdown:\n$p")
  }

  test("q1_pricing prunes the scan to the 6 referenced columns") {
    val p = planOf("q1_pricing")
    val readSchema = p.linesIterator.find(_.startsWith("ReadSchema")).get
    assert(!readSchema.contains("l_orderkey") && !readSchema.contains("l_tax"),
      s"scan not pruned: $readSchema")
  }

  test("q3_topk broadcasts the customer dimension and plans top-k") {
    val p = planOf("q3_topk")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"no top-k operator:\n$p")
  }

  test("join_bcast_region is broadcast-only (no shuffle joins)") {
    val p = planOf("join_bcast_region")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"), s"dimension join shuffled:\n$p")
  }

  test("topk_orders avoids a global sort") {
    val p = planOf("topk_orders")
    assert(p.contains("TakeOrderedAndProject"), s"global sort planned:\n$p")
  }

  test("collocations_tscore plans distributed top-k, not a global sort") {
    val p = planOf("collocations_tscore")
    // the bigram relation is corpus-shaped: the top-20 cut must be
    // TakeOrderedAndProject (map-side partial top-k), with the rank
    // window running over only the 20-row result
    assert(p.contains("TakeOrderedAndProject"), s"global sort planned:\n$p")
    // formatted explain prints parents first: the rank window must be
    // the top-k cut's PARENT (operates on 20 rows), i.e. appear before
    // it in the text
    assert(p.indexOf("Window") < p.indexOf("TakeOrderedAndProject"),
      s"rank window must sit ABOVE the top-k cut, not under it:\n$p")
  }

  test("assortativity ends in one exchange to a 1-row final aggregate") {
    val p = planOf("assortativity")
    // moments are partial-aggregable: exactly one exchange may follow
    // the last (partial) HashAggregate of the moment sums — a second
    // would mean the map-side combine was lost
    val lines = p.linesIterator.toSeq
    val lastAgg = lines.lastIndexWhere(_.contains("HashAggregate"))
    val exchAfter = lines.drop(lastAgg).count(_.trim.startsWith("Exchange"))
    assert(exchAfter == 0,
      s"exchange AFTER the final aggregate (combine lost):\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      s"degree join missing:\n$p")
  }

  test("rich_club crosses the threshold spine by broadcast only") {
    val p = planOf("rich_club")
    // the ≤63-row spine must reach both conditional aggregations as a
    // BroadcastNestedLoopJoin/cartesian over a broadcast side — a
    // shuffled cross join over the edge relation would be the exact
    // per-k-scan shape the operator exists to avoid
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("CartesianProduct") == false && p.contains("Broadcast"),
      s"spine not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"shuffled cartesian over the spine:\n$p")
  }

  test("crystalball_pairs has exactly the expected exchanges") {
    val p = planOf("crystalball_pairs")
    // basket build (orderkey), pair count (product,neighbor), window
    // (product), final sort — anything more means a lost partitioning
    val exchanges = p.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges <= 4, s"unexpected exchange count $exchanges:\n$p")
  }

  test("ngram_jaccard caps df via partial aggregates; persist is disk-only") {
    // the df-frequency cap is semantics-bearing AND the scale guard (an
    // uncapped hot shingle fans out d² candidate rows). It must come from
    // a partial-aggregable groupBy(shingle) — a `count over
    // Window.partitionBy(shingle)` would colocate every occurrence of a
    // hot stop-shingle in ONE task before the cap could drop it — applied
    // BEFORE the intersection self-join, and the multiply-consumed capped
    // relation may persist to executor DISK only (the r6 storage-MEMORY
    // pin must stay gone).
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val df = graft.operators.Dedup.ngramJaccard(
      spark.read.parquet(s"$sf/documents.parquet"))
    val plan = df.queryExecution.optimizedPlan
    val cached = plan.collect { case m: InMemoryRelation => m }
    assert(cached.nonEmpty, s"capped shingle relation no longer persisted:\n$plan")
    cached.foreach { m =>
      assert(!m.cacheBuilder.storageLevel.useMemory,
        s"storage-MEMORY pin reappeared (level ${m.cacheBuilder.storageLevel}):\n$plan")
      val c = m.cachedPlan.toString
      assert(!c.contains("Window"), s"shingle key windowed (hot-key ceiling):\n$c")
      assert(c.contains("partial_count") || m.cachedPlan.collectFirst {
          case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec
            if a.aggregateExpressions.exists(_.toString.contains("partial")) => a
        }.nonEmpty,
        s"df cap lost its map-side partial aggregate:\n$c")
      assert(c.contains("<= 100"), s"df cap filter missing before the join:\n$c")
    }
    // both intersection-join sides must read the capped persisted relation
    val joins = plan.collect {
      case j: Join if j.condition.exists(_.references.exists(_.name == "shingle")) => j
    }
    assert(joins.nonEmpty, s"no shingle self-join in the plan:\n$plan")
    Seq(joins.head.left, joins.head.right).foreach { side =>
      assert(side.collect { case m: InMemoryRelation => m }.nonEmpty,
        s"intersection join side bypasses the capped persisted relation:\n$side")
    }
    spark.catalog.clearCache()
  }

  test("salted counts equal plain groupBy counts") {
    import org.apache.spark.sql.functions._
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val plain = li.groupBy(col("l_returnflag")).agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = graft.operators.Skew.saltedCounts(li, Seq("l_returnflag"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == plain)
  }

  test("salted join works when both keys share a name") {
    import org.apache.spark.sql.functions._
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select(col("l_orderkey").as("orderkey"), col("l_partkey"))
    val o = spark.read.parquet(s"$sf/orders.parquet")
      .select(col("o_orderkey").as("orderkey"), col("o_custkey"))
    val plain = li.join(o.withColumnRenamed("orderkey", "ok2"),
      col("orderkey") === col("ok2")).count()
    val salted = graft.operators.Skew
      .saltedJoin(li, o.withColumnRenamed("orderkey", "ok2"), "orderkey", "ok2")
      .count()
    // and the literally-same-name shape that used to be ambiguous:
    val sameName = graft.operators.Skew
      .saltedJoin(li, o, "orderkey", "orderkey").count()
    assert(salted == plain && sameName == plain)
  }

  test("asof_join stays within its exchange budget") {
    // dedup window (user,ts) + as-of window (user) + final sort = 3; a
    // fourth exchange means the union-tag formulation lost its single
    // key partitioning
    val p = planOf("asof_join")
    val exchanges = p.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges <= 3, s"asof_join exchange count $exchanges:\n$p")
  }

  test("ann_lsh_multi keeps an equi-shaped candidate join and top-k pushdown") {
    // the OR-construction must stay one equi-join on exploded (table,
    // bucket) rows — an OR in the join condition would plan a nested loop
    // and quietly reintroduce the O(n²) the LSH exists to avoid
    val p = planOf("ann_lsh_multi")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"multi-table candidate join fell back to a nested loop:\n$p")
    assert(p.contains("WindowGroupLimit"),
      s"ann_lsh_multi lost WindowGroupLimit pushdown:\n$p")
  }

  test("mlm_mask computes its md5 struct array exactly once") {
    // the per-row (tok, sel, sub, rtok) array feeds SEVEN outputs; if
    // CollapseProject ever inlined it, the md5 chain would replicate
    // 7x per row (and blow the 64KB codegen budget). Pin: the salt
    // literal appears in exactly one plan expression.
    val p = planOf("mlm_mask")
    val hits = p.sliding("mlm:".length).count(_ == "mlm:")
    assert(hits == 1, s"mlm md5 chain appears $hits times:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"a row-local projection grew a hash shuffle:\n$p")
  }

  test("skipgram_negatives inverts the CDF with an equi-join, never a nested loop") {
    // the ladder lookup is the operator's reason to exist: a bare range
    // predicate would plan an INNER BroadcastNestedLoopJoin —
    // O(pairs·vocab). The 1-row stats broadcasts legitimately plan as
    // Cross nested loops; only a non-Cross NL or a cartesian is a bug.
    val p = planOf("skipgram_negatives")
    // tree lines carry "<type> Build<side>"; the details section repeats
    // bare node names — only the tree lines carry the join type
    val badNl = p.linesIterator.exists(l =>
      l.contains("BroadcastNestedLoopJoin") && l.contains("Build") &&
        !l.contains("Cross"))
    assert(!badNl && !p.contains("CartesianProduct"),
      s"CDF inversion fell back to a nested loop:\n$p")
    assert(p.contains("Left keys [1]: [bkt"),
      s"the ladder lookup lost its bkt equi-join key:\n$p")
  }

  test("cooccur_counts_plan executes through the custom CoOccurWindowExec node") {
    // the whole-operator extension must actually plan to its physical
    // node (a silent fallback to some other strategy would make the
    // registration dead code while the oracle still passed)
    val p = planOf("cooccur_counts_plan")
    assert(p.contains("CoOccurWindow"), s"custom node missing from plan:\n$p")
  }

  test("CoOccurWindowExec fuses into a WholeStageCodegen span with the partial aggregate") {
    // the CodegenSupport implementation must actually take effect: after
    // execution (AQE finalizes the plan) the custom node sits INSIDE a
    // generated stage — scan-side InputAdapter → CoOccurWindow → partial
    // HashAggregate in one compiled pipeline, no iterator hand-off on
    // the flagship's hot path
    val df = SparkEntry.queries("cooccur_counts_plan")(spark, sf)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    val fused = p.linesIterator.dropWhile(!_.contains(") CoOccurWindow"))
      .takeWhile(l => !l.trim.isEmpty).mkString("\n")
    assert(fused.contains("[codegen id :"),
      s"CoOccurWindowExec not inside a codegen stage:\n$p")
  }

  test("minhash_lsh band buckets are capped via map-side WindowGroupLimit") {
    // the hot-bucket cap is the scale bound that keeps the band self-join
    // at Σ min(n,cap)² on duplicate-heavy corpora (the r11 x100 OOM
    // arithmetic); it must ride the rank-limit pushdown, not a full
    // window over the uncut band relation, and the candidate join must
    // stay an equi-join
    try {
      val p = planOf("minhash_lsh")
      assert(p.contains("WindowGroupLimit"),
        s"bucket cap not pushed map-side:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"band candidate join fell back to a non-equi join:\n$p")
    } finally spark.catalog.clearCache()
  }

  test("minhash_lsh band self-join computes the signature pipeline once (ReusedExchange)") {
    // the r12 cache-free form's reuse is STRUCTURAL: both self-join
    // branches shuffle identical band rows on identical keys, so AQE
    // must reuse one exchange — if this pin breaks, the shingle→minhash
    // pipeline silently computes twice per query
    val df = SparkEntry.queries("minhash_lsh")(spark, sf)
    df.collect()
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("ReusedExchange"),
      s"band self-join lost exchange reuse:\n$p")
  }

  test("simhash_partners gets the map-side WindowGroupLimit rank cut") {
    // the output bound is only scale-real if the rank limit pushes into
    // the partial (pre-shuffle) phase — otherwise the quadratic mirrored
    // candidate relation rides the exchange it exists to avoid
    try {
      val p = planOf("simhash_partners")
      assert(p.contains("WindowGroupLimit"),
        s"rank cut not pushed map-side:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"candidate join fell back to a non-equi join:\n$p")
    } finally spark.catalog.clearCache()
  }

  test("dsir_weights broadcasts the bucket model and keeps the probe an equi-join") {
    // the scale claim: the 256-row log-ratio model must BROADCAST into
    // the corpus probe (a shuffled model join would re-exchange the
    // corpus-sized feature relation) and nothing may fall back to a
    // nested loop
    val p = planOf("dsir_weights")
    assert(p.contains("BroadcastHashJoin"),
      s"bucket model not broadcast:\n$p")
    // (the one BroadcastNestedLoopJoin in this plan is the deliberate
    // 1-row totals broadcast cross join — bounded by construction)
    assert(!p.contains("CartesianProduct"),
      s"feature probe planned a cartesian product:\n$p")
  }

  test("phrase_persisted prunes the bucketed postings scan to the term's bucket") {
    // the point of persisting the index bucketed on token: a term
    // equality lookup must read ONE bucket's files, not the table —
    // Spark bucket pruning, visible as SelectedBucketsCount in the scan
    val df = SparkEntry.queries("phrase_persisted")(spark, sf)
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("SelectedBucketsCount: 1 out of 8"),
      s"term lookup scanned more than one bucket:\n$p")
    spark.sql("DROP TABLE IF EXISTS graft_postings")
  }

  test("rrf_fusion_indexed statically prunes the bucketed IVF index scan") {
    // the driver-side probe choice turns the probed cells into literals,
    // so the IN filter on the bucketed index must prune the scan to the
    // probed cells' buckets — never read the whole index per query
    val df = SparkEntry.queries("rrf_fusion_indexed")(spark, sf)
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    val sel = "SelectedBucketsCount: (\\d+) out of 8".r
      .findFirstMatchIn(p).map(_.group(1).toInt)
    assert(sel.exists(_ < 8),
      s"index scan not bucket-pruned (SelectedBucketsCount=$sel):\n$p")
    spark.sql("DROP TABLE IF EXISTS graft_ivf_rrf")
  }

  test("cbo_reorder sees ANALYZE stats, restores conf, and stays equi-join") {
    val df = SparkEntry.queries("cbo_reorder")(spark, sf)
    // the ANALYZE actually landed: catalog-level row counts on every
    // joined table (plan-level rowCount only surfaces while
    // cbo.enabled is on, which the builder scopes to its own plan —
    // so pin the catalog, the stats' source of truth)
    for (n <- Seq("customer", "orders", "lineitem")) {
      val statsRow = spark.sql(s"DESCRIBE EXTENDED graft_cbo_$n")
        .filter(org.apache.spark.sql.functions.col("col_name") === "Statistics")
        .collect()
      assert(statsRow.nonEmpty && statsRow(0).getString(1).contains("rows"),
        s"graft_cbo_$n has no row-count statistic after ANALYZE: " +
          statsRow.mkString(","))
    }
    // the builder's conf scoping held: CBO flags are back to default
    // for neighboring queries
    assert(spark.conf.get("spark.sql.cbo.enabled") == "false",
      "cbo_reorder leaked spark.sql.cbo.enabled=true into the session")
    // and the star join planned clean under CBO
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("CartesianProduct"), s"cartesian under CBO:\n$p")
    for (n <- Seq("customer", "orders", "lineitem"))
      spark.sql(s"DROP TABLE IF EXISTS graft_cbo_$n")
  }

  test("ann_batch_serve statically prunes the index to the probed cells' buckets") {
    // the batched serve's whole point: the union of probed cells is a
    // LITERAL multi-cell IN, so ONE pruned index read serves the batch —
    // never a full index scan per query (r13 verdict item 7)
    val df = SparkEntry.queries("ann_batch_serve")(spark, sf)
    val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    val sel = "SelectedBucketsCount: (\\d+) out of 8".r
      .findFirstMatchIn(p).map(_.group(1).toInt)
    assert(sel.exists(_ < 8),
      s"index scan not bucket-pruned (SelectedBucketsCount=$sel):\n$p")
    spark.sql("DROP TABLE IF EXISTS graft_ivf_batch")
  }

  test("next_purchase_rules and both phrase queries stay equi-join only") {
    // all are composition joins over derived keys — a silent fallback
    // to a nested loop would be the O(n²) their key derivations exist
    // to avoid
    for (q <- Seq("next_purchase_rules", "phrase_trigram", "phrase_search")) {
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"),
        s"$q planned a cartesian product:\n$p")
    }
  }

  test("minhash_partners rides map-side WindowGroupLimit for both cut axes") {
    // bucket cap + per-doc rank cut — the Jaccard twin of
    // simhash_partners' two-axis bound; both windows must push into the
    // partial phase and the band join must stay an equi-join
    try {
      val p = planOf("minhash_partners")
      assert(p.contains("WindowGroupLimit"),
        s"partner cuts not pushed map-side:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"band candidate join fell back to a non-equi join:\n$p")
    } finally spark.catalog.clearCache()
  }

  test("ann_partners rides map-side WindowGroupLimit for both cut axes") {
    // the two-axis bound (cell cap + per-vector rank cut) must push into
    // the partial window phase, and the cell blocking must stay an
    // equi-join — a nested loop would be the all-pairs O(n²) the IVF
    // cells exist to avoid. The image/audio/video legs feed real-codec
    // descriptors through the same core, so the same pins must hold.
    for (q <- Seq("ann_partners", "image_ann_partners",
        "audio_ann_partners", "video_ann_partners")) {
      val p = planOf(q)
      assert(p.contains("WindowGroupLimit"),
        s"$q partner cuts not pushed map-side:\n$p")
      val cellJoinOk = !p.linesIterator.exists(l =>
        l.contains("SortMergeJoin") && l.contains("Cross") ||
          l.contains("CartesianProduct"))
      assert(cellJoinOk, s"$q cell join fell back to a cross product:\n$p")
    }
  }

  test("phash_pairs candidates ride the chunk band equi-join") {
    // image near-dup reuses simhash's chunk-blocked Hamming banding: the
    // candidate join must stay an equi-join on (chunk_idx, chunk_value);
    // a nested loop would be the all-pairs O(n²) the bands exist to avoid
    try {
      val p = planOf("phash_pairs")
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"phash_pairs fell back to a non-equi join:\n$p")
    } finally spark.catalog.clearCache()
  }

  test("fuzzy_pairs plans equi-joins only, never a cross product") {
    // the PassJoin segment keys exist precisely so the fuzzy match is an
    // equi-join; a nested loop would be the all-pairs O(n²) it avoids
    val p = planOf("fuzzy_pairs")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"fuzzy_pairs fell back to a non-equi join:\n$p")
  }

  test("triangle_count stays equi-keyed and window-free") {
    // wedge enumeration and closure check must both be equi-joins (the
    // degree-ordered orientation exists to keep the hub quadratic out);
    // a window would colocate a vertex's whole neighborhood in one task
    val p = planOf("triangle_count")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"triangle_count fell back to a non-equi join:\n$p")
    assert(!hasWindowExec("triangle_count"), s"triangle_count grew a window:\n$p")
  }

  test("snapshot_diff is one full-outer join, row-local after") {
    // the scaladoc contract, pinned in full (r13 verdict item 6: its
    // 0.57 -> 1.07 s bench move claimed "plan unchanged" — with the
    // join TYPE and cartesian-freedom pinned too, any future drift on
    // this query is environment by construction)
    val p = planOf("snapshot_diff")
    val joins = SparkEntry.queries("snapshot_diff")(spark, sf)
      .queryExecution.sparkPlan.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
      }
    assert(joins.size == 1, s"snapshot_diff planned ${joins.size} joins:\n$p")
    assert(joins.head.joinType == org.apache.spark.sql.catalyst.plans.FullOuter,
      s"join is ${joins.head.joinType}, not FullOuter:\n$p")
    assert(!p.contains("Window"), s"snapshot_diff grew a window:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian product:\n$p")
  }

  test("cdc_upsert applies through one anti join over a materialized feed") {
    // the apply half must not add a second full-width join: untouched
    // base rows ride a LEFT ANTI against the feed's key projection
    // (broadcastable when the batch is small — the base never shuffles).
    // The feed is consumed twice, so it must arrive MATERIALIZED (the
    // query persists the derived diff) — if the persist is dropped, the
    // snapshot-sized diff join appears twice in this plan instead of 0
    try {
      val q = SparkEntry.queries("cdc_upsert")(spark, sf)
      val p = q.queryExecution.explainString(ExplainMode.fromString("formatted"))
      val joins = q.queryExecution.sparkPlan.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
      }
      assert(joins.size == 1, s"cdc_upsert planned ${joins.size} joins:\n$p")
      assert(joins.count(_.joinType.sql == "LEFT ANTI") == 1,
        s"cdc_upsert lost its anti-join untouched path:\n$p")
      assert(p.contains("InMemoryTableScan"),
        s"cdc_upsert feed is not materialized — diff lineage will run twice:\n$p")
      assert(!p.contains("Window"), s"cdc_upsert grew a window:\n$p")
    } finally spark.catalog.clearCache()
  }

  test("khop_reach expands frontiers by equi-join, never paths or windows") {
    // level-synchronous BFS: every level is frontier-equi-join + anti
    // join; a cartesian / nested-loop means the seed filter degenerated,
    // a window would colocate a hub's whole fan-out in one task
    try {
      val p = planOf("khop_reach")
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"khop_reach planned a non-equi join:\n$p")
      assert(!hasWindowExec("khop_reach"), s"khop_reach grew a window:\n$p")
    } finally spark.catalog.clearCache()
  }

  test("row-local operators shuffle only for their output ordering") {
    // these operators' whole value at 100 TB is that per-document work
    // rides the scan: the only permissible exchange is the final orderBy
    // (pack_sequences also gets its per-shard window exchange). A new
    // aggregate or join sneaking in shows up as an extra Exchange here.
    for ((q, maxEx) <- Seq("quality_repetition" -> 1, "scrub_pii" -> 1,
        "chunk_docs" -> 1, "pack_sequences" -> 2, "quantize_embeddings" -> 1,
        "simhash" -> 1, "cdc_chunks" -> 1, "token_entropy" -> 1,
        "mojibake_stats" -> 1,
        "bpe_tokens" -> 1, "gopher_quality" -> 1, "c4_line_filter" -> 1,
        "html_extract" -> 1, "url_normalize" -> 1, "nfc_normalize" -> 1,
        "html_links" -> 1, "script_profile" -> 1)) {
      val p = planOf(q)
      val exchanges = p.linesIterator.count(_.trim.startsWith("Exchange"))
      assert(exchanges <= maxEx,
        s"$q planned $exchanges exchanges (max $maxEx):\n$p")
    }
  }

  test("cooccur_persisted reads persisted partials and scans the corpus once") {
    // the IVM promise: the merge plan's only corpus input is the DELTA —
    // the existing partition's counts come back from the bucketed catalog
    // table, so lineitem appears in the plan exactly once. A second
    // lineitem scan would mean the "persisted" side silently recomputed.
    val p = planOf("cooccur_persisted")
    assert(p.contains("graft_cooccur_partials"),
      s"merge plan does not read the persisted partials table:\n$p")
    val lineitemScans = p.linesIterator.count(l =>
      l.contains("Location") && l.contains("lineitem"))
    assert(lineitemScans == 1,
      s"expected exactly one lineitem scan (the delta), got $lineitemScans:\n$p")
  }

  test("cooccur_appended resumes from the catalog across sessions, no rebuild") {
    import org.apache.spark.sql.functions._
    import graft.operators.CoOccurrence
    import graft.sources.BasketSource
    // session A: build generation 0 as the bucketed base, INSERT
    // generation 1 into it (appendBucketed — same bucket spec)
    val b = BasketSource.basketsFromLineitem(spark, sf)
    val gen = crc32(col("customer").cast("binary")) % 3
    val tbl = "graft_cooccur_append_spec"
    graft.sources.TableSink.writeBucketed(
      CoOccurrence.counts(b.filter(gen === 0)), tbl, "product", 8)
    graft.sources.TableSink.appendBucketed(
      CoOccurrence.counts(b.filter(gen === 1)), tbl, "product", 8)
    // session B: a NEW session (shared metastore, fresh session state)
    // must serve the combined table with NO base rebuild — its merge
    // plan touches lineitem exactly once (the generation-2 delta)
    val s2 = spark.newSession()
    val b2 = BasketSource.basketsFromLineitem(s2, sf)
    val delta2 = CoOccurrence.counts(
      b2.filter(crc32(col("customer").cast("binary")) % 3 === 2))
    val merged = CoOccurrence.mergeCounts(s2.table(tbl), delta2)
    val p = merged.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.contains(tbl), s"session-B plan does not read the table:\n$p")
    val lineitemScans = p.linesIterator.count(l =>
      l.contains("Location") && l.contains("lineitem"))
    assert(lineitemScans == 1,
      s"expected one lineitem scan in session B, got $lineitemScans:\n$p")
    // and the values must equal the one-shot full recompute
    val full = CoOccurrence.counts(b).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val got = merged.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == full, "appended merge drifted from the full recompute")
  }

  test("corr_stats is one partial-aggregable pass, never a window") {
    // the moment-sketch promise: five exact power sums merge associatively,
    // so the plan is scan → partial HashAggregate → 3-row final aggregate
    // (+ the output sort). A Window or a second aggregation pass would
    // break the single-scan contract.
    val p = planOf("corr_stats")
    assert(!p.contains("Window"), s"corr_stats planned a window:\n$p")
    val exchanges = p.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges <= 2, s"corr_stats planned $exchanges exchanges:\n$p")
    assert(p.contains("HashAggregate"), s"no hash aggregate:\n$p")
  }

  test("perplexity_buckets ranks through ExactRank, never a corpus window") {
    // the CCNet cut must not be ntile(3) OVER (ORDER BY ...): a global
    // window single-tasks the corpus. ExactRank under a constant group
    // keeps full range-partitioned parallelism.
    val p = planOf("perplexity_buckets")
    assert(!p.contains("Window"), s"perplexity_buckets planned a window:\n$p")
  }

  test("dedup_incremental probes band equi-joins only, no window, no cartesian") {
    // the continuous-ingestion contract: batch bands probe base bands by
    // band-signature equi-join; best-match is two partial-aggregable
    // groupBys. A window (per-doc rank) or a nested-loop join would
    // break the build-once/probe-many scale story.
    val p = planOf("dedup_incremental")
    assert(!p.contains("Window"), s"dedup_incremental planned a window:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"non-equi join in the incremental probe:\n$p")
  }

  test("regression_stats shares corr_stats' one-pass shape") {
    // the five power sums are the whole shuffle: scan -> partial
    // HashAggregate -> 3-row final agg (+ output sort); the closed-form
    // OLS is row-local arithmetic on the aggregated row
    val p = planOf("regression_stats")
    assert(!p.contains("Window"), s"regression_stats planned a window:\n$p")
    val exchanges = p.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges <= 2, s"regression_stats planned $exchanges exchanges:\n$p")
    assert(p.contains("HashAggregate"), s"no hash aggregate:\n$p")
  }

  test("bigram_logprob never windows a token key and probes in one equi-join") {
    // surprisal is precomputed per bigram TYPE model-side; the corpus
    // probe is one equi-join ("the ..." hot keys sit probe-side only).
    // A window over w1 (context totals on raw tokens) would single-task
    // stop-word contexts; the DISK_ONLY model persist bounds corpus
    // scans at 3 (model build, probe, vocab)
    val p = planOf("bigram_logprob")
    assert(!p.contains("Window"), s"token key windowed (hot-key ceiling):\n$p")
    val scans = p.linesIterator.count(_.trim.matches("""^\(\d+\) Scan parquet.*"""))
    assert(scans <= 3, s"bigram_logprob planned $scans scans (max 3):\n$p")
  }

  test("profile_table is one Expand pass over one scan") {
    // the profiling contract: all per-column aggregates (count, exact
    // distinct, min, max) ride ONE scan — multiple count_distincts plan
    // through Expand, every path partial-aggregable. A per-column scan
    // (cols × full reads) or a window would break the one-pass promise.
    val p = planOf("profile_table")
    assert(!p.contains("Window"), s"profile_table planned a window:\n$p")
    assert(p.contains("Expand"), s"distinct aggs lost the Expand shape:\n$p")
    val scans = p.linesIterator.count(_.trim.matches("""^\(\d+\) Scan parquet.*"""))
    assert(scans == 1, s"profile_table planned $scans scans (want 1):\n$p")
    val exchanges = p.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges <= 2, s"profile_table planned $exchanges exchanges:\n$p")
  }

  test("scd2_apply is one join plus row-local emission, never a window") {
    // the merge contract: dedupe updates via partial-aggregable groupBy,
    // ONE equi-join against the current slice, then 0-2 output rows per
    // joined row from a conditional array explode. A second join (e.g.
    // separate anti-join for pass-throughs) or a per-key window would
    // re-shuffle the history at every CDC batch.
    val p = planOf("scd2_apply")
    assert(!p.contains("Window"), s"scd2_apply planned a window:\n$p")
    val joins = SparkEntry.queries("scd2_apply")(spark, sf)
      .queryExecution.sparkPlan.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
      }
    assert(joins.size == 1, s"scd2_apply planned ${joins.size} joins:\n$p")
    assert(p.contains("Generate"), s"no explode emission:\n$p")
  }

  test("cooccur_incremental merges partials without an extra exchange") {
    // both branches aggregate on (product, neighbor) and arrive at the
    // merge hash-partitioned on exactly those keys, so Catalyst plans the
    // final merge aggregate WITHOUT its own exchange (union of
    // co-partitioned children). Losing that re-shuffles the whole merged
    // pair relation — the cost additivity exists to avoid.
    val p = planOf("cooccur_incremental")
    val exchanges = p.linesIterator.count(_.trim.matches("[:+\\- ]*Exchange .*"))
    // 2 basket builds + 2 pair-count aggs + 1 output sort = 5; a 6th
    // means the merge lost the children's partitioning
    assert(exchanges <= 5, s"merge re-shuffled ($exchanges exchanges):\n$p")
  }

  test("heavy_hitters filters by the merged candidate set, never a join shuffle") {
    // the sketch's whole point: the unbounded token stream is reduced by
    // a row-local In/InSet filter against the ≤capacity merged summary
    // BEFORE any token-keyed aggregation — the only hash exchange in the
    // plan is the candidate-only groupBy. A sort-merge join (or a second
    // hash exchange) means the unbounded-vocabulary shuffle the operator
    // exists to avoid.
    val p = planOf("heavy_hitters")
    assert(!p.contains("SortMergeJoin"), s"token stream shuffled for a join:\n$p")
    assert(p.linesIterator.exists(l =>
        l.matches(".*token#\\d+ (INSET|IN) .*")),
      s"no candidate In filter in plan:\n$p")
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx <= 1, s"$hashEx hash exchanges (want <=1):\n$p")
  }

  test("contamination broadcasts the benchmark shingle set") {
    // the benchmark side is small by construction — if it ever shuffles
    // instead of broadcasting, the decontamination scan stops being the
    // map-side linear pass the operator promises at 100 TB
    val p = planOf("contamination")
    assert(p.contains("BroadcastHashJoin"),
      s"benchmark join not broadcast:\n$p")
  }

  test("tfidf broadcasts the vocab-sized df relation onto the tf side") {
    // the df relation is |vocab|-sized (sublinear in the corpus) — the
    // operator's promise is that the doc-keyed tf aggregation is the ONLY
    // big shuffle and df comes back via broadcast, never a re-shuffle of
    // the tf relation on the token key
    val p = planOf("tfidf_topk")
    assert(p.contains("BroadcastHashJoin"), s"df join not broadcast:\n$p")
  }

  test("bm25 plans a bounded top-N, never a global sort") {
    val p = planOf("bm25_rank")
    assert(p.contains("TakeOrderedAndProject"),
      s"bm25 ranking lost its top-N pushdown:\n$p")
  }

  test("weighted_sample stays shuffle-free apart from output ordering") {
    val p = planOf("weighted_sample")
    val exchanges = p.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges <= 1,
      s"weighted_sample planned $exchanges exchanges (max 1):\n$p")
  }

  test("passage_dedup aggregates the passage key map-side — never a hot-key window") {
    // explode (row-local) -> partial-agg'd groupBy(passage) min(struct)
    // -> join-back (AQE-skew-splittable) -> doc-keyed rebuild -> output
    // sort. A Window on the passage key would pin a passage repeated in
    // 10^8 documents into ONE task; the partial_min must appear (hot key
    // collapses per map task before the exchange).
    val p = planOf("passage_dedup")
    assert(!p.contains("Window"), s"passage key windowed (hot-key ceiling):\n$p")
    assert(p.contains("partial_min"),
      s"first-occurrence aggregate lost its map-side partial phase:\n$p")
    val exchanges = p.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges <= 5,
      s"passage_dedup planned $exchanges exchanges (max 5):\n$p")
  }

  test("boilerplate_filter computes document frequency via partial aggregates, not a window") {
    // the hot passage is this operator's TARGET input: df must come from
    // cascaded hash aggregates (map-side combined) joined back, so no
    // single task ever owns every occurrence of a navigation header
    val p = planOf("boilerplate_filter")
    assert(!p.contains("Window"), s"passage key windowed (hot-key ceiling):\n$p")
    assert(p.contains("partial_count"),
      s"df aggregate lost its map-side partial phase:\n$p")
  }

  test("temperature_mix broadcasts the stratum-count relation") {
    // the corpus side must stay a single scan+filter; the |strata|-row
    // threshold relation comes to it via broadcast, never by shuffling
    // the corpus on the stratum key
    val p = planOf("temperature_mix")
    assert(p.contains("BroadcastHashJoin"), s"stratum join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus shuffled on stratum:\n$p")
  }

  test("per-key top-k queries get WindowGroupLimit pushdown") {
    // Spark's InferWindowGroupLimit turns rank<=k filters into partial
    // per-partition top-k heaps before the shuffle — the reason no custom
    // top-k operator is needed (preference (a) of the custom-op ladder).
    // Pinned so a window-spec change doesn't silently lose it.
    for (q <- Seq("ann_topk", "ann_lsh_topk", "ann_ivf_multiprobe")) {
      val p = planOf(q)
      assert(p.contains("WindowGroupLimit"),
        s"$q lost WindowGroupLimit pushdown:\n$p")
    }
  }

  test("salting preserves results and spreads a hot key at realistic skew") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val nSalts = 16
    // one key owns 50% of the rows — the shape that breaks an unsalted
    // groupBy/join at 100 TB (VERDICT round 1 §6)
    val rows = (1 to 20000).map { i =>
      (if (i % 2 == 0) "hot" else s"k${i % 97}", i.toLong)
    }
    val df = rows.toDF("key", "v")
    val plain = df.groupBy(col("key")).agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = graft.operators.Skew.saltedCounts(df, Seq("key"), nSalts)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == plain, "salted counts diverge from plain at 50% skew")
    // balance: the hot key must spread over most salts, and no sub-group
    // may hold more than a small multiple of its fair 1/nSalts share
    val hotPartials = graft.operators.Skew
      .saltedPartials(df, Seq("key"), nSalts)
      .filter(col("key") === "hot").collect().map(_.getAs[Long]("_partial"))
    val hotTotal = plain("hot")
    assert(hotPartials.length >= nSalts / 2,
      s"hot key landed in only ${hotPartials.length} of $nSalts sub-groups")
    assert(hotPartials.max <= hotTotal * 3 / nSalts,
      s"largest sub-group ${hotPartials.max} exceeds 3x fair share of $hotTotal")
    // the salted join must also agree under the same skew
    val dim = (0 until 97).map(i => (s"k$i", s"label$i")).toSeq :+ ("hot", "hotlabel")
    val dimDf = dim.toDF("dkey", "label")
    val plainJoin = df.join(dimDf, col("key") === col("dkey")).count()
    val saltedJoin = graft.operators.Skew.saltedJoin(df, dimDf, "key", "dkey").count()
    assert(saltedJoin == plainJoin)
  }

  test("salted join equals plain join") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_partkey")
    val o = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_custkey")
    val plain = li.join(o, li("l_orderkey") === o("o_orderkey")).count()
    val salted = graft.operators.Skew.saltedJoin(li, o, "l_orderkey", "o_orderkey").count()
    assert(salted == plain)
  }

  test("corpus_shuffle broadcasts the bucket-offset relation") {
    // the prefix-sum relation is 16^bucketChars rows; if it ever shuffles
    // the corpus side instead of broadcasting, the global rank stops
    // being one exchange on the bucket key
    val p = planOf("corpus_shuffle")
    assert(p.contains("BroadcastHashJoin"), s"offsets not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus side reshuffled:\n$p")
  }

  test("unigram_logprob joins the vocab-sized frequency relation (no token window)") {
    // freq must NOT be a count-over-token window (a stop word would pin
    // its whole partition in one task); the equi-join formulation lets
    // Catalyst broadcast while stats allow (as here, tiny SF) and
    // degrade to an AQE-skew-handled shuffle join at corpus scale
    val p = planOf("unigram_logprob")
    assert(!p.contains("Window"), s"token window sneaked in:\n$p")
    val joins = p.linesIterator.count(l =>
      l.contains("BroadcastHashJoin") || l.contains("SortMergeJoin") ||
        l.contains("ShuffledHashJoin"))
    assert(joins >= 1, s"frequency relation not equi-joined:\n$p")
  }

  test("pipeline_dsir_pack's curation prefix stays window-free and equi-join") {
    // the composed curation corpus (gopher -> c4 -> minhash keep -> DSIR
    // select) must not grow a corpus-sized window or a cross product
    // between stages: the only Window ops allowed are minhashLsh's
    // map-side WindowGroupLimit band cap and dsirSelect's rank over the
    // LIMIT-k bounded selection
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val gKeep = operators.TextAnalysis.gopherQuality(docs, stopList = Seq("the", "a"))
      .filter(col("keep")).select(col("doc_id"))
    val repaired = operators.TextAnalysis.c4LineFilter(docs.join(gKeep, Seq("doc_id")),
        minLineWords = 50, requireTerminalPunct = false)
      .filter(col("keep"))
      .select(col("doc_id"), col("clean_text").as("text"))
    val cleaned = repaired.join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
    val kept = operators.Dedup.keepCanonical(cleaned,
      operators.Dedup.minhashLsh(cleaned).select(col("doc_a"), col("doc_b")))
    val sel = operators.Dsir.dsirSelect(kept, k = 100).select(col("doc_id"))
    val corpus = kept.filter(col("lang") === "en").select(col("doc_id"), col("text"))
      .unionByName(kept.select(col("doc_id"), col("text")).join(sel, Seq("doc_id")))
    val p = corpus.queryExecution.explainString(ExplainMode.fromString("formatted"))
    val fullWindows = p.linesIterator.count(_.trim.matches("\\(\\d+\\) Window"))
    assert(fullWindows <= 1, s"curation chain grew corpus-sized windows:\n$p")
    assert(!p.contains("CartesianProduct"), s"cross product in curation:\n$p")
    // the packed tail itself must stay window-free (exactPrefixSum, not
    // a one-task ORDER BY window)
    val tail = planOf("pipeline_dsir_pack")
    assert(!tail.linesIterator.exists(_.trim.matches("\\(\\d+\\) Window")),
      s"pack tail windowed:\n$tail")
  }

  test("pipeline_quality composes the four quality stages window-free") {
    // gopher -> c4 -> perplexity cut -> passage dedup as ONE lazy plan:
    // every stage is individually window-free (ExactRank thirds, hash
    // aggregates for first-occurrence), and composition must not let a
    // corpus-sized window sneak in between stages
    val p = planOf("pipeline_quality")
    assert(!p.contains("Window"), s"the composed chain grew a window:\n$p")
  }

  test("pipeline_clean dedups exact-dup bags via partial aggregates, not a window") {
    // exact-duplicate documents — the most common duplication mode at web
    // scale — share one bag_md5; keep-lowest-doc_id must be a
    // partial-aggregable min(struct), never a bag_md5 window that pins
    // every copy into one task
    val p = planOf("pipeline_clean")
    assert(!p.contains("Window"), s"bag_md5 key windowed (hot-key ceiling):\n$p")
    assert(p.contains("partial_min"),
      s"keep-lowest aggregate lost its map-side partial phase:\n$p")
  }

  test("repeated_spans aggregates the gram key map-side — never a window") {
    // a boilerplate 8-gram occurring 10⁸ times must collapse to one row
    // per map task in the partial aggregate, not colocate in one task;
    // the distinct-doc count plans as cascaded hash aggregates over
    // (gram, doc_id) then gram, both with partial phases
    val p = planOf("repeated_spans")
    assert(!p.contains("Window"), s"gram key windowed (hot-key ceiling):\n$p")
    assert(p.contains("HashAggregate"), s"no hash aggregate on gram:\n$p")
    assert(p.contains("partial_count"),
      s"gram count lost its map-side partial phase:\n$p")
  }

  test("span_dedup joins the bounded repeated-gram relation back — no window") {
    val p = planOf("span_dedup")
    assert(!p.contains("Window"), s"span_dedup windowed:\n$p")
  }

  test("latest_events picks current rows via aggregates, not a per-key window") {
    // max_by/min_by partials merge map-side; the rn=1 window formulation
    // would colocate each user's every event in one task to discard all
    // but one row
    val p = planOf("latest_events")
    assert(!p.contains("Window"), s"per-key window planned:\n$p")
    // string-keyed max_by isn't hash-aggregable, so Spark plans a
    // SortAggregate — still a partial (pre-Exchange) + final pair
    val aggs = p.linesIterator
      .count(_.trim.matches("\\(\\d+\\) (Hash|Object|Sort)Aggregate.*"))
    assert(aggs >= 2, s"no partial+final aggregate pair planned:\n$p")
  }

  test("salted_agg plans the two-phase aggregate (sub-groups then key)") {
    // phase 1 partial+final on (key, salt), phase 2 partial+final on key:
    // four HashAggregates, never a single hot-key reduction
    val p = planOf("salted_agg")
    val aggs = p.linesIterator.count(_.trim.matches("\\(\\d+\\) HashAggregate.*"))
    assert(aggs >= 4, s"expected two aggregation phases, got $aggs:\n$p")
    assert(!p.contains("Window"))
  }

  test("skew_join replicates the small side (Generate) before the join") {
    // the salt explode must survive optimization — without it a hot key
    // of the big side lands in one task under a shuffle join. (At this
    // dimension size Catalyst rightly BROADCASTS the replicated side,
    // where salting is benign; the shuffle-join skew property itself is
    // asserted on synthetic skew in the Skew suites.)
    val p = planOf("skew_join")
    assert(p.contains("Generate"), s"salt replication optimized away:\n$p")
    assert(p.contains("Join"), s"no join planned:\n$p")
  }

  test("dedup_clusters counts members via aggregates, not a cluster_id window") {
    // a web-scale megacluster (identical boilerplate in 10^8 docs) must
    // not colocate in one window task for its member count
    val p = planOf("dedup_clusters")
    assert(!p.contains("Window"), s"cluster_id windowed (megacluster ceiling):\n$p")
  }

  test("cosine_clusters counts members via aggregates, not a cluster_id window") {
    // embedding-cosine dedup is exactly what finds a boilerplate
    // megacluster — same no-window discipline as dedup_clusters
    val p = planOf("cosine_clusters")
    assert(!p.contains("Window"), s"cluster_id windowed (megacluster ceiling):\n$p")
  }

  test("winsorize stays window-free and broadcasts its thresholds") {
    // percentile thresholds on a low-cardinality type key: a window rank
    // would single-task each type; the ExactRank shape + a broadcast
    // clamp-back join must keep both out of the plan
    val p = planOf("winsorize")
    assert(!p.contains("Window"), s"winsorize planned a window:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"threshold clamp-back join is not broadcast:\n$p")
  }

  test("shard_rebalance stays window-free (constant-group ExactRank)") {
    // the global size ordering is the textbook single-task window
    // (row_number() OVER (ORDER BY size) has ONE partition); the
    // constant-group ExactRank keeps rank parallelism at partition count
    val p = planOf("shard_rebalance")
    assert(!p.contains("Window"), s"rebalance planned a window:\n$p")
  }

  test("quantile_normalize stays window-free like order_rank") {
    // the rank transform rides the public ExactRank — a
    // row_number/count window pair on the 3-value o_orderstatus key
    // would cap parallelism at 3 forever
    val p = planOf("quantile_normalize")
    assert(!p.contains("Window"), s"quantile transform planned a window:\n$p")
  }

  test("resample_ffill windows only the calendar-bounded grid") {
    // the forward-fill window must run over grid rows (hours per user,
    // calendar-bounded) — per-hour value selection has to collapse into
    // a partial-aggregable max_by BEFORE any window sees the data
    val p = planOf("resample_ffill")
    val windows = "(?m)^.*Window.*$".r.findAllIn(p).size
    assert(p.contains("max_by"), s"per-hour reduction lost its max_by:\n$p")
    assert(windows <= 2, // operator id line + node detail line for ONE node
      s"resample planned more than one window:\n$p")
  }

  test("ewma_value folds inside an aggregate, never a window over events") {
    // sequential smoothing is the textbook excuse for a per-user ORDER BY
    // window over raw events; the fold must instead ride ONE
    // partial-aggregable collect_list groupBy with the scan inside
    // functions.aggregate (row-local after the single exchange)
    val p = planOf("ewma_value")
    assert(!p.contains("Window"), s"ewma planned a window:\n$p")
    assert(p.contains("collect_list"), s"ewma lost its aggregate fold:\n$p")
  }

  test("token_budget_mix (exactPrefixSum) stays window-free") {
    // a running token total per source is the textbook hot-key window
    // (sum OVER (PARTITION BY source ORDER BY ...) pins a dominant
    // source into one task); the prefix-sum shape must keep it out
    val p = planOf("token_budget_mix")
    assert(!p.contains("Window"), s"budget mix planned a window:\n$p")
  }

  test("order_rank (the public exactRank) stays window-free") {
    // the flagship primitive's whole point: per-group ranks with NO
    // per-group window task (o_orderstatus has 3 values — a window would
    // cap parallelism at 3 forever)
    val p = planOf("order_rank")
    assert(!p.contains("Window"), s"exactRank planned a window:\n$p")
  }

  test("exact_quantiles stays window-free like exact_median") {
    // one ExactRank pass serves all four percentiles: adding targets must
    // never re-introduce a per-flag window (3-task ceiling) or extra passes
    val p = planOf("exact_quantiles")
    assert(!p.contains("Window"),
      s"corpus-sized window on a sub-100-cardinality key:\n$p")
  }

  test("exact_median never windows the table on the 3-value returnflag key") {
    // l_returnflag has 3 distinct values: a row_number window on it sorts
    // ALL of lineitem in 3 tasks at any cluster size. The ExactRank
    // range-partitioned counter+offset shape must keep the plan window-free
    // (the only exchanges are the range partitioning and the output sort).
    val p = planOf("exact_median")
    assert(!p.contains("Window"),
      s"corpus-sized window on a sub-100-cardinality key:\n$p")
  }

  test("page_rank reuses the cached degree-annotated edge relation") {
    // the edge+degree relation must shuffle once for the whole run and be
    // re-read from the cache by every iteration's join — without the cache
    // each of the 3 iterations would rebuild baskets + pairs from parquet
    val p = planOf("page_rank")
    val cachedScans = p.linesIterator.count(_.contains("InMemoryTableScan"))
    assert(cachedScans >= 3,
      s"expected every iteration to read the cached edge relation:\n$p")
    val parquetScans = p.linesIterator
      .count(l => l.contains("Scan parquet") && l.contains("lineitem"))
    assert(parquetScans <= 1,
      s"iterations recompute the edge relation from parquet:\n$p")
  }

  test("sorted_neighborhood is window-free, equi-blocked, never a cross product") {
    val p = planOf("sorted_neighborhood")
    assert(!p.contains("Window"), s"rank must come from ExactRank:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"window pairs must come from the blocked equi-join:\n$p")
  }

  test("oov_rate probes the vocabulary by broadcast, never a shuffle") {
    val p = planOf("oov_rate")
    assert(p.contains("BroadcastHashJoin"), s"vocab probe not broadcast:\n$p")
    assert(!p.contains("Window"), s"unexpected window:\n$p")
  }

  test("phrase_trigram broadcasts the 1-row phrase; postings joins stay equi") {
    val p = planOf("phrase_trigram")
    assert(p.contains("BroadcastHashJoin"), s"phrase not broadcast:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"positional join degenerated:\n$p")
  }

  test("cms_heavy builds counters in one partial-aggregated pass, broadcast probe") {
    val p = planOf("cms_heavy")
    assert(p.contains("BroadcastHashJoin"), s"counter probe not broadcast:\n$p")
    assert(!p.contains("Window") && !p.contains("CartesianProduct"),
      s"sketch build must be groupBy-only:\n$p")
  }

  test("zorder_stats is a straight-line interleave + one bounded groupBy") {
    val p = planOf("zorder_stats")
    assert(!p.contains("Window") && !p.contains("CartesianProduct"),
      s"unexpected operator:\n$p")
    // bounds agg (1 row, broadcast back), bucket groupBy, presentation
    // sort — anything more means the interleave lost its partitioning
    val exchanges = p.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges <= 5, s"unexpected exchange count $exchanges:\n$p")
  }

  test("dp_histogram is one cell groupBy plus row-local noise") {
    val p = planOf("dp_histogram")
    assert(!p.contains("Window") && !p.contains("Join"),
      s"release must be a single aggregate pass:\n$p")
    val exchanges = p.linesIterator.count(_.trim.startsWith("Exchange"))
    assert(exchanges <= 3, s"unexpected exchange count $exchanges:\n$p")
  }

  test("skyline reduces to per-partition frontiers, window-free") {
    val p = planOf("skyline")
    assert(!p.contains("Window") && !p.contains("CartesianProduct"),
      s"frontier must come from the mergeable scans:\n$p")
    assert(p.contains("MapPartitions"), s"local frontier pass missing:\n$p")
  }

  test("cusum_alerts folds inside an aggregate, never a window over events") {
    val p = planOf("cusum_alerts")
    assert(!p.contains("Window"), s"per-user state must fold in-agg:\n$p")
    // the 1-row reference attaches by broadcast, never a shuffle join
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"reference join shuffled:\n$p")
  }

  test("pq_encode's squared-L2 fold rewrites to the codegen'd native") {
    // RewriteVectorFolds must fire on the REAL registered query, not just
    // a synthetic plan: the PQ scoring loop is the hot path the rule is
    // for, and an interpreted ArrayAggregate surviving there is the
    // regression this pins against
    val df = SparkEntry.queries("pq_encode")(spark, sf)
    val opt = df.queryExecution.optimizedPlan
    assert(opt.expressions.exists(
      _.exists(_.isInstanceOf[graft.functions.L2SqDistance])) ||
      opt.exists(_.expressions.exists(
        _.exists(_.isInstanceOf[graft.functions.L2SqDistance]))),
      s"l2sq_d missing from pq_encode's optimized plan:\n$opt")
    assert(!opt.exists(_.expressions.exists(_.exists(
        e => e.getClass.getSimpleName == "ArrayAggregate"))),
      s"an interpreted fold survived in pq_encode:\n$opt")
  }

  test("pq_encode_residual rides the rewrite and broadcasts its codebook") {
    // the residual chain must inherit both raw-PQ plan properties: the
    // fold rewrite (the residual d2 loop is the same hot path) and the
    // broadcast codebook join — a shuffled codebook would add a
    // corpus-sized exchange to every encode
    val df = SparkEntry.queries("pq_encode_residual")(spark, sf)
    val opt = df.queryExecution.optimizedPlan
    assert(opt.exists(_.expressions.exists(
      _.exists(_.isInstanceOf[graft.functions.L2SqDistance]))),
      s"l2sq_d missing from the residual encode:\n$opt")
    val p = planOf("pq_encode_residual")
    assert(p.contains("BroadcastHashJoin"), s"codebook not broadcast:\n$p")
    // the only nested-loop joins allowed are the DESIGNED broadcast
    // crosses (≤ numCentroids rows: cell assignment); a CartesianProduct
    // means a corpus-sized side lost its broadcast
    assert(!p.contains("CartesianProduct"),
      s"residual join degenerated:\n$p")
  }

  test("band_join plans as a bucket equi-join, never a nested loop") {
    // the operator's entire value is turning a range predicate into a
    // hash-joinable bucket key: a BroadcastNestedLoopJoin or
    // CartesianProduct here means the range predicate leaked into the
    // join and the plan is O(|S|·|C|)
    val p = planOf("band_join")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"band_join degenerated to a nested loop:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"band_join degenerated to a cartesian:\n$p")
    assert(p.contains("HashJoin"), s"no hash join on the bucket key:\n$p")
  }

  test("ann_ivfpq_rerank_serve's second stage is equi-joined, shortlist-bounded") {
    // the rerank joins full-precision vectors back by ID onto the ADC
    // shortlist — equi hash joins only; a nested-loop or cartesian here
    // means the shortlist bound was lost and the stage is corpus²
    // (pinned on the registered serve primary; the serve-everything twin
    // moved to the ScaleAudit-only registry in r16)
    val p = planOf("ann_ivfpq_rerank_serve")
    // broadcast crosses (the ≤16-centroid assignment) are designed; a
    // CartesianProduct means the shortlist bound was lost
    assert(!p.contains("CartesianProduct"),
      s"rerank stage degenerated past the equi joins:\n$p")
    // the only windows allowed are the per-(vec,m) argmin, the per-cell
    // cap, and the two per-query top-k ranks — all bounded partitions;
    // WindowGroupLimit must push the rank cut map-side
    assert(p.contains("WindowGroupLimit"),
      s"rank cuts lost their map-side group limit:\n$p")
  }

  test("ann_ivfpq_imi_serve assigns through the two-level hierarchy, not flat") {
    // the auto-sized serve PRIMARY must route assignment through
    // twoLevelAssign (N·2√nlist — x100 2.8×), never the flat N·nlist
    // quadratic (x100 7.1×, now an audit-only receipt). The two-level
    // plan is recognizable by its parent equi-key: vectors join their
    // chosen super's children on `parent`, an attribute the flat
    // assignment never produces.
    val p = planOf("ann_ivfpq_imi_serve")
    assert(p.contains("parent#"),
      s"two-level assignment lost its parent equi-join — flat quadratic?\n$p")
    assert(!p.contains("CartesianProduct"),
      s"assignment degenerated to a cartesian:\n$p")
  }

  test("kmeans_assign combines the x-k candidate expansion map-side") {
    // the assignment argmin is min(struct(d2, cent_id, v)) — a partial
    // aggregate, so the N·k crossed rows reduce to one per vector
    // BEFORE the shuffle; a Window here would shuffle the full
    // expansion (and did, pre-rewrite: 3.08 -> 1.89 s at sf0.1)
    val p = planOf("kmeans_assign")
    assert(!p.contains("Window"),
      s"kmeans argmin regressed to a window over the x-k expansion:\n$p")
    assert(p.contains("partial_min") || p.contains("HashAggregate"),
      s"no partial aggregate in the assignment:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"),
      s"centroid relation is not broadcast:\n$p")
  }
}
