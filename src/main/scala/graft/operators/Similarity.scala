package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions

/** Similarity search over the `embeddings` table (`embedding:
  * array<float>`, 64-dim).
  *
  * Baseline: brute-force cosine top-k — an O(n²) block nested-loop that is
  * correct at any scale but only affordable for small n; the scale path is
  * [[lshTopK]], which buckets vectors by deterministic random-hyperplane
  * signs (md5-derived weights, no RNG) and only scores within buckets.
  *
  * All vector math is done in double precision with a left-to-right
  * sequential fold (`aggregate`), and scores are emitted as
  * floor(cos·1e6) BIGINTs — floor of identical doubles is identical, so
  * the DuckDB oracle (same fold, same scaling) produces identical ranks
  * with no cross-engine round() ULP ambiguity. Ties rank by neighbor id.
  */
object Similarity {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Sequential-fold dot product of two equal-length double arrays.
    * Interpreted higher-order formulation — kept as the reference
    * implementation the codegen'd DotProduct expression is tested against.
    */
  private[graft] def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Codegen'd dot product (graft.functions.DotProduct) — identical IEEE
    * fold order, ~20x faster in the pairwise hot loop.
    */
  private def dot(a: Column, b: Column): Column = VectorFunctions.dotD(a, b)

  private def norm(a: Column): Column = sqrt(dot(a, a))

  /** Per-vector projection with the norm computed ONCE per vector (before
    * any pairwise join) — mirrors the oracle's `n` CTE; the pairwise stage
    * divides by the precomputed product of norms.
    */
  /** embeddings.parquet can scan as one partition, so the brute-force
    * dot-product spans above it would run single-task: spread them at
    * the session's shuffle width. Used by [[sideWithNorm]] (the exact
    * baselines' corpus side) only: above the IVF serve family's pruned
    * bucketed scans the exchange is pure overhead (receipts:
    * OPTIMIZATION_r18.md).
    */
  private def widened(embeddings: DataFrame): DataFrame =
    embeddings.repartition(embeddings.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt, col("vec_id"))

  private def sideWithNorm(embeddings: DataFrame, id: String, v: String,
      nrm: String): DataFrame = {
    VectorFunctions.register(embeddings.sparkSession)
    widened(embeddings)
      .select(col("vec_id").as(id), asDouble(col("embedding")).as(v))
      .withColumn(nrm, norm(col(v)))
  }

  /** Bound on the brute-force exact baselines' query side. The non-equi
    * cosine joins plan a nested-loop; unbounded they are O(n²) and cannot
    * be a registered query at 100 TB. Capping the query side to the first
    * `MaxBruteForceQueries` vec_ids keeps the work O(q·n) with a
    * broadcastable q-row side — the exactness contract (true scores,
    * true ranks against the FULL corpus) is preserved for the sampled
    * queries. The unbounded exact scan is deliberately not registered;
    * [[lshTopK]] / [[ivfTopK]] are the full-corpus-query paths.
    */
  val MaxBruteForceQueries = 1000

  /** The registered-primary serve batch (r14 verdict item 3): production
    * ANN serving answers a bounded query batch against a corpus-sized
    * index — it never ranks every corpus vector as a query. The
    * `*_serve` registered forms pass this head as `queries`, cutting the
    * candidate join to O(head · cell) while the index side (assignment,
    * codes, LUT) stays the full corpus; the serve-everything twins stay
    * registered for oracle/audit continuity of the index math.
    */
  val ServeHead = 64

  /** The deterministic bounded query head the `*_serve` primaries pass
    * as `queries`: the first `n` corpus vec_ids — the same convention as
    * [[bruteForceTopK]]'s query bound, mirrored in the oracles as
    * `ORDER BY vec_id LIMIT n`.
    */
  def serveHead(embeddings: DataFrame, n: Int = ServeHead): DataFrame =
    embeddings.orderBy(col("vec_id")).limit(n).select(col("vec_id"))

  /** Prefix of the truncation-probe metric; each [[cosinePairs]] call
    * derives a UNIQUE name (`prefix.<seq>`) so two cosinePairs frames can
    * be composed into one query — Spark rejects a plan that defines the
    * same observed-metric name twice ("multiple definitions of observed
    * metrics"). The listener matches by prefix.
    */
  private val TruncationMetricPrefix = "graft.cosine_pairs.input_probe"

  private val truncMetricSeq = new java.util.concurrent.atomic.AtomicLong()

  /** Sessions that already carry the truncation listener (weak keys so a
    * stopped session does not leak through this registry).
    */
  private val truncListenerSessions =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[org.apache.spark.sql.SparkSession, java.lang.Boolean]())

  /** One listener per session: watches for the cosinePairs probe metric in
    * any completed query and logs the truncation warning iff the probe saw
    * more rows than the cap. Runs on the listener bus — no extra job, and
    * the warning fires exactly when a truncated query actually executes.
    */
  private def registerTruncationListener(
      spark: org.apache.spark.sql.SparkSession): Unit =
    if (truncListenerSessions.putIfAbsent(spark, java.lang.Boolean.TRUE) == null)
      spark.listenerManager.register(
        new org.apache.spark.sql.util.QueryExecutionListener {
          override def onSuccess(funcName: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              durationNs: Long): Unit =
            qe.observedMetrics.foreach { case (name, row) =>
              if (name.startsWith(TruncationMetricPrefix)) {
                // over zero input rows the max() aggregate yields a NULL
                // cap (and count yields 0) — nothing to warn about, and
                // getLong on the null would throw inside the listener bus
                val capIdx = row.fieldIndex("cap")
                if (!row.isNullAt(capIdx)) {
                  val cap = row.getLong(capIdx)
                  if (row.getLong(row.fieldIndex("n_probe")) > cap)
                    log.warn(s"cosinePairs: input exceeds maxVectors=$cap; " +
                      s"scoring only the first $cap vec_ids on BOTH sides " +
                      "— pairs among later vectors are omitted (use lshTopK " +
                      "for the full corpus)")
                }
              }
            }
          override def onFailure(funcName: String,
              qe: org.apache.spark.sql.execution.QueryExecution,
              exception: Exception): Unit = ()
        })

  /** Pairwise cosine scores above `minCos` for vec_id < other_id pairs,
    * both sides drawn from the first `maxVectors` vec_ids (exact baseline
    * over a bounded, deterministic sample — see [[MaxBruteForceQueries]]).
    */
  def cosinePairs(embeddings: DataFrame, minCos: Double,
      maxVectors: Int = MaxBruteForceQueries): DataFrame = {
    // The truncation must be audible, not just documented: pairs among
    // vectors beyond maxVectors are NOT returned. An `observe` metric on a
    // limit(n+1) probe folds the check into the query's own execution —
    // zero extra Spark jobs — and a session listener logs the warning when
    // the query actually materializes (n+1 rows observed ⇒ input over cap).
    registerTruncationListener(embeddings.sparkSession)
    val sample = embeddings.orderBy(col("vec_id")).limit(maxVectors + 1)
      .observe(s"$TruncationMetricPrefix.${truncMetricSeq.incrementAndGet()}",
        count(lit(1)).as("n_probe"),
        max(lit(maxVectors.toLong)).as("cap"))
      .orderBy(col("vec_id")).limit(maxVectors)
    val a = sideWithNorm(sample, "vec_id", "va", "nrm_a")
    val b = sideWithNorm(sample, "other_id", "vb", "nrm_b")
    a.join(b, col("vec_id") < col("other_id"))
      .withColumn("cos_e6", floor(dot(col("va"), col("vb")) /
        (col("nrm_a") * col("nrm_b")) * lit(1000000.0)))
      .filter(col("cos_e6") >= (minCos * 1000000).toLong)
      .select(col("vec_id"), col("other_id"), col("cos_e6"))
      .orderBy(col("vec_id"), col("other_id"))
  }

  /** Brute-force cosine top-k (the correctness baseline every ANN variant
    * is judged against): exact scores against the FULL corpus, for a query
    * side bounded to the first `maxQueries` vec_ids (broadcast, so the
    * nested-loop streams the corpus once — O(q·n), never O(n²)).
    */
  /** Exact cosine top-k for ONE query vector (by `vec_id`) against the
    * whole corpus — the single-query serve shape retrieval fusion
    * composes over. One broadcast of the 1-row query side, one linear
    * scan of the corpus, the shared [[rankTopK]] tie-break; O(n) at any
    * corpus size.
    */
  def queryTopK(embeddings: DataFrame, queryVecId: Long,
      k: Int): DataFrame = {
    val q = sideWithNorm(embeddings.filter(col("vec_id") === queryVecId),
      "vec_id", "va", "nrm_a")
    val b = sideWithNorm(embeddings, "other_id", "vb", "nrm_b")
    val scored = broadcast(q).join(b, col("vec_id") =!= col("other_id"))
      .withColumn("cos_e6", floor(dot(col("va"), col("vb")) /
        (col("nrm_a") * col("nrm_b")) * lit(1000000.0)))
    rankTopK(scored, k, Seq("vec_id", "other_id", "cos_e6", "rk"))
  }

  /** The single-query serve of [[queryTopK]] against a PERSISTED
    * bucketed IVF index ([[ivfIndexRelation]] read back from its
    * catalog table) — the vector-DB serving split: the "query node"
    * ranks the centroid table against the query LOCALLY, then fetches
    * only the probed cells' posting lists.
    *
    * Both driver-side reads are hard-bounded: the centroid table
    * (`numCentroids` rows, recovered from the index itself — the
    * [[ivfTopKFromIndex]] discipline) and the 1-row query vector. Note
    * these two recovery reads filter on `other_id`, NOT the bucket
    * column, so only the CANDIDATE leg below is bucket-pruned; the two
    * driver-side fetches each scan the index once (bounded output, not
    * bounded scan). A production deployment persists the centroid
    * table separately so the serve path never touches the corpus for
    * metadata. The payoff of doing the cell choice driver-side is that
    * the probed cells become LITERALS, so the equality/IN filter on the
    * bucketed index prunes the scan statically (SelectedBucketsCount) —
    * at 100 TB the index is the corpus and a serve must read
    * `numProbes` cells' files, never scan-and-shuffle the index per
    * query.
    *
    * With `numProbes = numCentroids` this is exactly [[queryTopK]]
    * (minus the self-row) served from the index; smaller probe counts
    * trade recall for scan width (the standard IVF knob).
    */
  def queryTopKFromIndex(index: DataFrame, queryVecId: Long, k: Int,
      numCentroids: Int = NumCentroids,
      numProbes: Int = NumCentroids): DataFrame = {
    require(numProbes >= 1 && numProbes <= numCentroids,
      s"numProbes must be in [1, $numCentroids], got $numProbes")
    VectorFunctions.register(index.sparkSession)
    // bounded collect #1: numCentroids rows (the centroids index
    // themselves in their own cells — self-distance 0)
    val cents = index.filter(col("other_id") < numCentroids)
      .select(col("other_id"), col("vb"), col("nrm_b")).collect()
    // fail fast on a mis-sized or filtered index: a short centroid set
    // would otherwise silently shrink (or empty) the probed-cell IN
    // list and serve wrong results instead of raising
    require(cents.length == numCentroids,
      s"index carries ${cents.length} centroid rows, expected " +
        s"$numCentroids — was it built with a different numCentroids?")
    // bounded collect #2: the 1-row query vector
    val qRows = index.filter(col("other_id") === queryVecId)
      .select(col("vb"), col("nrm_b")).collect()
    require(qRows.length == 1,
      s"queryVecId $queryVecId not present exactly once in the index")
    val qv = qRows(0).getSeq[Double](0).toArray
    val qn = qRows(0).getDouble(1)
    val probeCells = cents.map { r =>
        val cv = r.getSeq[Double](1).toArray
        var d = 0.0
        var i = 0
        while (i < qv.length) { d += qv(i) * cv(i); i += 1 }
        // e6-floored rank, NOT raw double: the same floor(cos*1e6) +
        // cent_id convention every distributed cell ranking uses
        // (assignCells), so the probed set can't diverge from the
        // engine's own discipline on a sub-1e-6 tie at the probe cutoff
        (math.floor(d / (qn * r.getDouble(2)) * 1000000.0).toLong,
          r.getLong(0))
      }.sortBy { case (s, id) => (-s, id) }
      .take(numProbes).map(_._2).toSeq
    val q = broadcast(index.filter(col("other_id") === queryVecId)
      .select(col("vb").as("va"), col("nrm_b").as("nrm_a")))
    val scored = index
      .filter(col("cluster_b").isin(probeCells: _*) &&
        col("other_id") =!= queryVecId)
      .crossJoin(q) // 1-row broadcast side
      .withColumn("vec_id", lit(queryVecId))
      .withColumn("cos_e6", floor(dot(col("va"), col("vb")) /
        (col("nrm_a") * col("nrm_b")) * lit(1000000.0)))
    rankTopK(scored, k, Seq("vec_id", "other_id", "cos_e6", "rk"))
  }

  def bruteForceTopK(embeddings: DataFrame, k: Int = 5,
      maxQueries: Int = MaxBruteForceQueries): DataFrame = {
    val a = sideWithNorm(embeddings.orderBy(col("vec_id")).limit(maxQueries),
      "vec_id", "va", "nrm_a")
    val b = sideWithNorm(embeddings, "other_id", "vb", "nrm_b")
    val scored = broadcast(a).join(b, col("vec_id") =!= col("other_id"))
      .withColumn("cos_e6", floor(dot(col("va"), col("vb")) /
        (col("nrm_a") * col("nrm_b")) * lit(1000000.0)))
    rankTopK(scored, k, Seq("vec_id", "other_id", "cos_e6", "rk"))
  }

  /** BATCHED indexed serve (r13 verdict item 7): [[queryTopKFromIndex]]
    * serves ONE query id with a driver-local probe choice; real ANN
    * serving takes a query batch. This serves the first `maxQueries`
    * corpus vectors (recovered from the index — the build-once/
    * probe-many shape) in one plan:
    *
    *  1. queries × centroids rank, DISTRIBUTED and bounded
    *     (maxQueries · numCentroids rows — the headScored shape from
    *     [[ivfProbeRecall]]), crk ≤ numProbes picks each query's cells
    *     with the same e6-floored (cscore desc, cent_id) convention the
    *     single-query serve uses, so per-query results are bit-identical
    *     to `maxQueries` separate [[queryTopKFromIndex]] calls;
    *  2. the UNION of probed cells — ≤ maxQueries · numProbes ids, a
    *     bounded collect — becomes a LITERAL multi-cell IN on the
    *     bucketed index, so the scan statically prunes to the probed
    *     cells' files (SelectedBucketsCount, plan-pinned) — ONE pruned
    *     index read serves the whole batch instead of one scan per
    *     query;
    *  3. the per-query cell-equi join ([[serveAgainst]]) then restricts
    *     each query to ITS probed cells — the IN alone would cross
    *     queries into each other's cells.
    *
    * At 100 TB this is the serving-node batch loop: the index shuffle
    * was paid at write time, a batch of Q queries reads at most
    * Q · numProbes cells' files once, and everything after the pruned
    * scan is bounded by batch size, not corpus size.
    */
  def queryTopKBatchFromIndex(index: DataFrame, maxQueries: Int,
      k: Int = 5, numCentroids: Int = NumCentroids,
      numProbes: Int = 2): DataFrame = {
    require(maxQueries >= 1 && k >= 1,
      s"maxQueries/k must be >= 1, got $maxQueries/$k")
    require(numProbes >= 1 && numProbes <= numCentroids,
      s"numProbes must be in [1, $numCentroids], got $numProbes")
    VectorFunctions.register(index.sparkSession)
    val cents = index.filter(col("other_id") < numCentroids)
      .select(col("other_id").as("cent_id"), col("vb").as("cv"),
        col("nrm_b").as("cnrm"))
    // the single-query serve's index-integrity guard (r13 advice),
    // mirrored: a mis-built or filtered index must fail fast, not rank
    // probes against a silently-shrunken centroid set. One bounded job
    // over numCentroids rows at batch-build time.
    val nCents = cents.count()
    require(nCents == numCentroids,
      s"index carries $nCents centroid rows, expected $numCentroids — " +
        "was it built with a different numCentroids?")
    val queries = index.orderBy(col("other_id")).limit(maxQueries)
      .select(col("other_id").as("vec_id"), col("vb").as("v"),
        col("nrm_b").as("nrm"))
    // two consumers: the probed-cell collect below and the serve join —
    // matchingActions = 2 keeps the persist through both
    val probes = CacheScope.selfReleasing(
      assignCells(queries, cents)
        .filter(col("crk") <= numProbes)
        .select(col("vec_id"), col("v"), col("nrm"),
          col("cent_id").as("cluster")),
      org.apache.spark.storage.StorageLevel.DISK_ONLY,
      matchingActions = 2)
    // bounded collect: <= maxQueries · numProbes cell ids
    val cells = probes.select(col("cluster")).distinct().collect()
      .map(_.getLong(0)).sorted.toSeq
    require(cells.nonEmpty,
      "empty probe set — is the index missing its centroid rows?")
    serveAgainst(probes, index.filter(col("cluster_b").isin(cells: _*)), k)
  }

  /** The exact-scoring rank tail every ANN variant and the brute-force
    * baseline share: per-query top-k by (cos_e6 desc, other_id). ONE
    * definition of the tie-break, so a ranking change cannot silently
    * drift between variants (all their oracle twins encode this same
    * ordering, and the PipelineSpec recall-monotonicity tests rely on
    * identical tie-breaks across variants).
    */
  private def rankTopK(scored: DataFrame, k: Int,
      outCols: Seq[String]): DataFrame =
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("vec_id"))
          .orderBy(col("cos_e6").desc, col("other_id"))))
      .filter(col("rk") <= k)
      .select(outCols.map(col): _*)
      .orderBy(col("vec_id"), col("rk"))

  val NumPlanes = 8

  /** Deterministic pseudo-random hyperplane weight for (plane, dim):
    * hex nibble of md5("p_i") mapped to [−7.5, 7.5] — computed ONCE in
    * Scala (identical arithmetic to the SQL oracle's ascii-decode, which
    * derives the same values expression-side) instead of 8×64 md5 calls
    * per row. The projection then runs through the codegen'd DotProduct
    * with the weight vector as an array literal; fold order is unchanged,
    * so the signs (and the oracle hash) are bit-identical.
    */
  private[graft] def weightOf(plane: Int, i: Int): Double = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${plane}_$i".getBytes("UTF-8"))
    val d = f"${digest(0) & 0xff}%02x".charAt(0).toInt
    (d - (if (d >= 97) 87 else 48)).toDouble - 7.5
  }

  /** Sign-random-projection bucket signature: bit per hyperplane.
    * `table` selects an independent hash table for the OR-construction
    * ([[lshTopKMulti]]): table t uses the globally-numbered planes
    * t·numPlanes … t·numPlanes+numPlanes−1, so table 0 with the default
    * plane count is bit-identical to the original single-table signature.
    */
  private[graft] def bucketOf(v: Column, numPlanes: Int = NumPlanes,
      table: Int = 0): Column =
    (0 until numPlanes).map { p =>
      val w = typedLit((0 until 64).map(i => weightOf(table * numPlanes + p, i)))
      when(dot(v, w) > 0, lit(1 << p)).otherwise(lit(0))
    }.reduce(_ + _)

  val NumCentroids = 16

  /** Corpus-adaptive IVF sizing (r13 verdict item 2 — the [[planesFor]]
    * discipline for the centroid count): production IVF grows `nlist`
    * with the corpus so expected cell population stays CONSTANT, which
    * is what keeps the in-cell candidate join linear in corpus size —
    * a frozen centroid count means 10× corpus → 10× cell populations →
    * quadratic in-cell work (the exact x100 superlinearity the fixed
    * registered forms cap with `maxCell`). `corpusSize / targetCellPop`
    * cells, floored at 4 (below that "cells" stop pruning anything)
    * and capped at 4096 (the deterministic first-N quantizer reserves
    * ids 0..nc-1 as centroids; a cap keeps the reserved prefix bounded
    * and the assignment cross-product N·nlist·d manageable — beyond
    * it, shard the index). The fixed-parameter registered forms stay
    * as-is for oracle stability; auto-sized twins compute this from a
    * corpus count and mirror it in SQL as
    * `greatest(4, least(4096, count(*) // targetCellPop))`.
    */
  def centroidsFor(corpusSize: Long, targetCellPop: Int = 256): Int = {
    require(corpusSize > 0 && targetCellPop > 0,
      s"centroidsFor needs positive sizes, got $corpusSize/$targetCellPop")
    math.max(4L, math.min(4096L, corpusSize / targetCellPop)).toInt
  }

  /** IVF-style ANN: assign every vector to its nearest centroid, then
    * search only within the assigned cell. The serving path (assignment
    * join + in-cell top-k) is the real IVF dataflow; the *training* step
    * is stubbed deterministically — centroids are the vectors with
    * vec_id < NumCentroids rather than k-means output, so the whole
    * operator stays oracle-checkable ([[ivfTopKTrained]] swaps in MLlib
    * KMeans centroids, changing nothing downstream).
    * At scale: centroids broadcast, assignment is a map-side cross with
    * NumCentroids rows, the cell search shuffles on cluster id.
    */
  def ivfTopK(embeddings: DataFrame, k: Int = 5,
      numCentroids: Int = NumCentroids): DataFrame = {
    val e = vectorsWithNorm(embeddings)
    ivfServe(e, firstNCentroids(e, numCentroids), k)
  }

  /** Deterministic parameterized centroid table (the first numCentroids
    * vectors), shared by [[ivfTopK]] and the persisted-index pair. */
  private def firstNCentroids(e: DataFrame, numCentroids: Int): DataFrame =
    e.filter(col("vec_id") < numCentroids)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"), col("nrm").as("cnrm"))

  /** The index side of IVF as a standalone PERSISTABLE relation: every
    * corpus vector assigned to its nearest centroid cell —
    * (other_id, vb, nrm_b, cluster_b). Written bucketed on cluster_b
    * (TableSink.writeBucketed), the cell-equi serve join in
    * [[ivfTopKFromIndex]] then reads the index pre-partitioned with no
    * index-side exchange at query time. This is the build-once/probe-many
    * shape of a production ANN service: at 100 TB the index side is the
    * corpus (billions of vectors) and the probe side a query batch —
    * moving the index shuffle to write time (and re-using it across every
    * query batch) is the difference between a service and a batch job.
    */
  def ivfIndexRelation(embeddings: DataFrame,
      numCentroids: Int = NumCentroids): DataFrame = {
    val e = vectorsWithNorm(embeddings)
    assignCells(e, firstNCentroids(e, numCentroids))
      .filter(col("crk") === 1)
      .select(col("vec_id").as("other_id"), col("v").as("vb"),
        col("nrm").as("nrm_b"), col("cent_id").as("cluster_b"))
  }

  /** Index rows for a DELTA batch of vectors, assigned against the
    * centroids RECOVERED FROM an existing index (a centroid is its own
    * cell's nearest member, so the rows with `other_id < numCentroids`
    * carry exactly the centroid vectors the index was built with — the
    * same recovery [[ivfTopKFromIndex]] uses for probes). This is the
    * INSERT half of index maintenance: appending these rows into the
    * bucketed index table (TableSink.appendBucketed, same bucket spec)
    * costs O(|delta|) — the base is never rescanned, never reshuffled —
    * and because assignment depends only on the frozen coarse quantizer,
    * base + delta rows are bit-identical to a one-shot rebuild over the
    * union. At 100 TB this is the difference between absorbing a daily
    * vector batch and re-clustering a billion-row corpus.
    *
    * The caller must keep the quantizer frozen (the FAISS discipline:
    * centroids are trained once, drift is handled by periodic rebuild,
    * not per-batch retrain) — a delta assigned against different
    * centroids would land in the wrong buckets and silently corrupt
    * cell-pruned serving.
    */
  def ivfIndexDelta(delta: DataFrame, index: DataFrame,
      numCentroids: Int = NumCentroids): DataFrame = {
    val cents = index.filter(col("other_id") < numCentroids)
      .select(col("other_id").as("cent_id"), col("vb").as("cv"),
        col("nrm_b").as("cnrm"))
    assignCells(vectorsWithNorm(delta), cents)
      .filter(col("crk") === 1)
      .select(col("vec_id").as("other_id"), col("v").as("vb"),
        col("nrm").as("nrm_b"), col("cent_id").as("cluster_b"))
  }

  /** Serve IVF top-k from a persisted index relation ([[ivfIndexRelation]]
    * read back from its bucketed table). Identical results to [[ivfTopK]]
    * for the same centroid parameters — the two share arithmetic, and the
    * driver checks this query against the very oracle text of
    * ann_ivf_topk.
    *
    * The probe-side centroid table is recovered FROM THE INDEX ITSELF:
    * a centroid is its own cell's nearest member (self-distance 0), so
    * the index rows with `other_id < numCentroids` carry exactly the
    * centroid vectors the index was built with. Deriving them from the
    * `queries` relation instead would silently assign probes against
    * DIFFERENT centroids whenever a caller serves a query batch that is
    * not the index-source corpus — the advertised build-once/probe-many
    * shape — returning wrong or empty neighbors. The recovered table is
    * numCentroids rows off a bucketed scan; it broadcasts.
    */
  def ivfTopKFromIndex(queries: DataFrame, index: DataFrame, k: Int = 5,
      numCentroids: Int = NumCentroids, numProbes: Int = 1): DataFrame = {
    val e = vectorsWithNorm(queries)
    val cents = index.filter(col("other_id") < numCentroids)
      .select(col("other_id").as("cent_id"), col("vb").as("cv"),
        col("nrm_b").as("cnrm"))
    val probes = assignCells(e, cents)
      .filter(col("crk") <= numProbes)
      .select(col("vec_id"), col("v"), col("nrm"), col("cent_id").as("cluster"))
    serveAgainst(probes, index, k)
  }

  /** IVF with REAL training: centroids from MLlib KMeans (fixed seed, so
    * the operator stays deterministic for a given corpus), served through
    * the exact same dataflow as [[ivfTopK]]. Not oracle-checkable (Lloyd's
    * iterations aren't SQL-expressible) — recall vs [[bruteForceTopK]] is
    * asserted in PipelineSpec instead. The `.fit` is a driver-side
    * estimator boundary like MLlib FPGrowth (MarketBasket.fpgrowthRules);
    * at scale KMeans trains on a sample and the serving join is unchanged.
    */
  def ivfTopKTrained(embeddings: DataFrame, k: Int = 5,
      numCentroids: Int = NumCentroids, seed: Long = 42L,
      maxTrainVectors: Int = 20000, numProbes: Int = 1): DataFrame =
    ivfServe(vectorsWithNorm(embeddings),
      trainedCentroids(embeddings, numCentroids, seed, maxTrainVectors),
      k, numProbes)

  /** KMeans-trained centroid table (cent_id, cv, cnrm), shared by the
    * trained IVF variants and [[semanticDedup]].
    *
    * Trains on a BOUNDED deterministic sample (first maxTrainVectors by
    * vec_id): centroid quality converges long before the sample stops
    * growing, and at 100 TB fitting Lloyd's on the full corpus would
    * dominate the pipeline. The bounded sample is collected and trained
    * ON THE DRIVER (k-means++ seeding + Lloyd's, seeded RNG so the whole
    * operator is reproducible) — the FAISS discipline: coarse-quantizer
    * training is a constant-size problem by design, and a distributed
    * Lloyd's on it would pay ~an order of magnitude in per-iteration job
    * scheduling for no accuracy (measured 5.7 s MLlib vs <0.1 s local on
    * a 2 000-vector sample; results differ only by init). Serving still
    * assigns and searches EVERY vector, distributed.
    */
  private def trainedCentroids(embeddings: DataFrame, numCentroids: Int,
      seed: Long, maxTrainVectors: Int): DataFrame = {
    // numCentroids = 0 would index past the empty centers array deep in
    // localKMeans; maxTrainVectors = 0 would train on an empty sample
    require(numCentroids >= 1, s"numCentroids must be >= 1, got $numCentroids")
    require(maxTrainVectors >= 1,
      s"maxTrainVectors must be >= 1, got $maxTrainVectors")
    val spark = embeddings.sparkSession
    val sample = vectorsWithNorm(embeddings)
      .orderBy(col("vec_id")).limit(maxTrainVectors)
      .select(col("v")).collect()
      .map(_.getSeq[Double](0).toArray)
    val centroids = localKMeans(sample, numCentroids, seed)
    import spark.implicits._
    centroids.zipWithIndex.toSeq
      .map { case (c, i) => (i.toLong, c) }
      .toDF("cent_id", "cv")
      .withColumn("cnrm", norm(col("cv")))
  }

  /** Semantic dedup over the embedding column (the SemDeDup shape, Abbas
    * et al. 2023): cluster with the shared KMeans coarse quantizer, then
    * within each cluster drop any vector that has a LOWER-id cluster-mate
    * at cosine ≥ tau (keep-first policy — the min id of every
    * tau-connected component within a cluster survives). Returns one
    * summary row: the corpus size plus data-path invariants (every
    * cluster's min id is kept — an inverted id comparison in the dup join
    * would flip it — and cluster labels stay in [0, numCentroids)).
    * Per-pair similarity detail is [[cosinePairs]]'s job; this operator
    * is the corpus-level dedup verdict; [[semanticDedupMask]] is the
    * per-vector artifact a pipeline joins against.
    *
    * 100 TB posture: the within-cluster self-join is O(Σ cluster²) — the
    * inherent SemDeDup cost model — so `numCentroids` is the scale knob
    * (k ∝ corpus / target-cluster-size holds the per-cluster quadratic
    * constant, exactly like [[lshTopK]]'s planes-vs-bucket-population
    * trade). The join shuffles once on the cluster id and the probe side
    * is AQE-skew-splittable; assignment is a map-side broadcast cross
    * with a per-vector (numCentroids-bounded) window. The invariants are
    * computed from the materialized relations, not assumed — an inverted
    * id comparison or a lost cluster would flip a boolean and fail the
    * driver's hash gate.
    */
  def semanticDedup(embeddings: DataFrame, tauE6: Long = 950000L,
      numCentroids: Int = NumCentroids, seed: Long = 42L,
      maxTrainVectors: Int = 20000): DataFrame = {
    val mask = semanticDedupMask(embeddings, tauE6, numCentroids, seed,
      maxTrainVectors)
    // ONE traversal of the corpus-sized mask (branching it into separate
    // kept/dup/minima subtrees would re-execute the assignment cross and
    // the within-cluster self-join once per branch): per-cluster partial
    // aggregates carry the row count, the keep verdict of the cluster's
    // min vec_id (min_by — the invariant: the lowest id in a cluster has
    // no lower-id mate, so an inverted comparison anywhere in the dup
    // join flips it), and the cluster label bounds.
    mask.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"),
        min_by(col("keep"), col("vec_id")).as("min_kept"))
      .agg(sum(col("n")).as("n_total"),
        min(col("min_kept")).as("cluster_min_kept"),
        (min(col("cluster")) >= 0L &&
          max(col("cluster")) < numCentroids.toLong).as("clusters_in_range"))
      .select(col("n_total"), col("cluster_min_kept"), col("clusters_in_range"))
  }

  /** The per-vector SemDeDup verdict: (vec_id, cluster, keep). keep=false
    * iff a LOWER-id vector in the same cluster sits at cosine ≥ tau.
    * This is the artifact a pipeline actually joins against to drop
    * semantic duplicates; [[semanticDedup]] reduces it to the oracle-
    * checkable corpus summary.
    */
  private[graft] def semanticDedupMask(embeddings: DataFrame, tauE6: Long,
      numCentroids: Int, seed: Long, maxTrainVectors: Int): DataFrame = {
    val e = vectorsWithNorm(embeddings)
    val cents = trainedCentroids(embeddings, numCentroids, seed, maxTrainVectors)
    val assigned = e.crossJoin(broadcast(cents))
      .withColumn("cscore", floor(dot(col("v"), col("cv")) /
        (col("nrm") * col("cnrm")) * lit(1000000.0)))
      .withColumn("crk", row_number().over(
        Window.partitionBy(col("vec_id"))
          .orderBy(col("cscore").desc, col("cent_id"))))
      .filter(col("crk") === 1)
      .select(col("vec_id"), col("v"), col("nrm"), col("cent_id").as("cluster"))
    val mate = assigned.select(col("cluster"), col("vec_id").as("vec_b"),
      col("v").as("vb"), col("nrm").as("nrm_b"))
    val dups = assigned.join(mate, Seq("cluster"))
      .filter(col("vec_id") < col("vec_b"))
      .withColumn("cos_e6", floor(dot(col("v"), col("vb")) /
        (col("nrm") * col("nrm_b")) * lit(1000000.0)))
      .filter(col("cos_e6") >= tauE6)
      .select(col("vec_b").as("vec_id")).distinct()
      .withColumn("dup", lit(true))
    assigned.select(col("vec_id"), col("cluster"))
      .join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        coalesce(!col("dup"), lit(true)).as("keep"))
  }

  /** Deterministic driver-local k-means++ / Lloyd's over a bounded sample.
    * Plain arrays and a seeded RNG: same seed + same sample → same
    * centroids, on any machine. Empty clusters keep their previous
    * centroid (standard Lloyd's fallback). Runs until assignments stop
    * changing or `maxIter`.
    */
  private[graft] def localKMeans(points: Array[Array[Double]], k: Int,
      seed: Long, maxIter: Int = 20): Array[Array[Double]] = {
    require(points.nonEmpty, "cannot train on an empty sample")
    val rnd = new scala.util.Random(seed)
    val dim = points.head.length
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    // k-means++ seeding: first centroid uniform, then proportional to
    // squared distance from the nearest chosen centroid
    val centers = new Array[Array[Double]](math.min(k, points.length))
    centers(0) = points(rnd.nextInt(points.length)).clone()
    val minD2 = points.map(p => d2(p, centers(0)))
    for (c <- 1 until centers.length) {
      val total = minD2.sum
      var target = rnd.nextDouble() * total
      var idx = 0
      while (idx < points.length - 1 && target > minD2(idx)) {
        target -= minD2(idx); idx += 1
      }
      centers(c) = points(idx).clone()
      var i = 0
      while (i < points.length) {
        val nd = d2(points(i), centers(c))
        if (nd < minD2(i)) minD2(i) = nd
        i += 1
      }
    }
    // Lloyd's iterations to assignment fixpoint
    val assign = Array.fill(points.length)(-1)
    var changed = true
    var iter = 0
    while (changed && iter < maxIter) {
      changed = false
      var i = 0
      while (i < points.length) {
        var best = 0; var bestD = Double.MaxValue; var c = 0
        while (c < centers.length) {
          val d = d2(points(i), centers(c))
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        if (assign(i) != best) { assign(i) = best; changed = true }
        i += 1
      }
      if (changed) {
        val sums = Array.fill(centers.length)(new Array[Double](dim))
        val counts = new Array[Int](centers.length)
        var j = 0
        while (j < points.length) {
          val c = assign(j); counts(c) += 1
          var x = 0
          while (x < dim) { sums(c)(x) += points(j)(x); x += 1 }
          j += 1
        }
        var c = 0
        while (c < centers.length) {
          if (counts(c) > 0) {
            var x = 0
            while (x < dim) { sums(c)(x) /= counts(c); x += 1 }
            centers(c) = sums(c)
          } // empty cluster: keep previous centroid
          c += 1
        }
      }
      iter += 1
    }
    centers
  }

  /** IVF with MULTIPROBE: every vector is indexed in its single nearest
    * cell (the corpus side is unchanged), but each QUERY probes its
    * `numProbes` nearest cells — the standard IVF recall knob that
    * recovers neighbors stranded just across a cell boundary without
    * growing the index. Candidates are the union of the probed cells'
    * members, so candidate volume grows linearly in `numProbes` while the
    * join stays a plain equi-shuffle on the cell id. numProbes = 1 is
    * exactly [[ivfTopK]].
    */
  def ivfTopKMultiprobe(embeddings: DataFrame, k: Int = 5,
      numCentroids: Int = NumCentroids, numProbes: Int = 2): DataFrame = {
    require(numProbes >= 1, "numProbes must be >= 1")
    val e = vectorsWithNorm(embeddings)
    val cents = e.filter(col("vec_id") < numCentroids)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"), col("nrm").as("cnrm"))
    // the query's probed cells are a detail of candidate generation, not
    // part of the result (a pair can only arrive via the other vector's
    // single indexed cell, so rows are already unique)
    ivfServe(e, cents, k, numProbes)
      .select(col("vec_id"), col("other_id"), col("cos_e6"), col("rk"))
  }

  /** Bounded embedding k-NN JOIN — the partners product over the vector
    * modality, closing the family [[graft.operators.Dedup.simhashPartners]]
    * (text fingerprints) and `phash_partners` (images) already serve:
    * "each document's k nearest by cosine over the WHOLE corpus", the
    * relation a curation UI pages through. Same two-axis bound contract
    * as the fingerprint partners:
    *
    *  - bounded OUTPUT: per vector, its `k` nearest in-cell neighbors
    *    (cosine desc, ties to the smaller id) — ≤ k·n rows total, never
    *    the C(class, 2) enumeration a near-dup megaclass implies.
    *  - bounded INTERMEDIATE: the corpus×corpus blocking is the IVF cell
    *    assignment (each vector indexed in its single nearest cell — the
    *    [[ivfIndexRelation]] discipline), and each cell's INDEX side is
    *    CAPPED at `maxCell` members (first by vec_id — deterministic, the
    *    oracle replays the same cut), so the cell self-join is hard-
    *    bounded at Σ n_cell·min(n_cell, maxCell) candidates. An embedding
    *    megacell (boilerplate corpus collapsing into one centroid) costs
    *    linear, not quadratic. Recall past the cap follows the IVF recall
    *    argument: capped-out members still PROBE their cell (the probe
    *    side is never cut, so every vector gets k partners); what the cap
    *    costs is membership of the tail beyond `maxCell` in OTHER
    *    vectors' candidate lists — at gate scale the cap is inactive and
    *    results equal the uncapped within-cell all-pairs definition.
    *
    * Both cuts ride map-side WindowGroupLimit (plan-pinned): the cell cap
    * partitions by cluster, the rank cut by vec_id. At 100 TB the index
    * side is [[ivfIndexRelation]] persisted bucketed on the cell id, so
    * the serve join reads pre-partitioned — this in-flight form and the
    * persisted form share the cell arithmetic by construction.
    */
  def annPartners(embeddings: DataFrame, k: Int = 5,
      numCentroids: Int = NumCentroids, maxCell: Int = 256): DataFrame = {
    require(k >= 1, s"annPartners requires k >= 1, got $k")
    require(maxCell >= 2, s"annPartners requires maxCell >= 2, got $maxCell")
    val e = vectorsWithNorm(embeddings)
    val assigned = assignCells(e, firstNCentroids(e, numCentroids))
      .filter(col("crk") === 1)
      .select(col("vec_id"), col("v"), col("nrm"), col("cent_id").as("cluster"))
    val capped = assigned
      .withColumn("cell_rk", row_number().over(
        Window.partitionBy(col("cluster")).orderBy(col("vec_id"))))
      .filter(col("cell_rk") <= maxCell)
      .select(col("vec_id").as("other_id"), col("v").as("vb"),
        col("nrm").as("nrm_b"), col("cluster").as("cluster_b"))
    serveAgainst(assigned, capped, k)
      .select(col("vec_id"), col("other_id"), col("cos_e6"), col("rk"))
  }

  private def vectorsWithNorm(embeddings: DataFrame): DataFrame = {
    VectorFunctions.register(embeddings.sparkSession)
    embeddings.select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
  }

  /** The IVF serving dataflow shared by the stub-trained, KMeans-trained,
    * and multiprobe variants: broadcast the centroid table, rank every
    * vector's cells by cosine (a map-side cross with numCentroids rows),
    * index each vector in its single nearest cell, then top-k search the
    * query's `numProbes` nearest cells (one shuffle on the cell id;
    * candidate volume linear in numProbes). numProbes = 1 is classic IVF.
    */
  /** TWO-LEVEL coarse quantization (the FAISS IMI / inverted-multi-index
    * idea, r14): assign each vector to a cell through a √nlist-way
    * hierarchy instead of scoring all nlist centroids flat.
    *
    * Why: once [[centroidsFor]] grows nlist ∝ corpus (the sizing that
    * keeps cell populations — and the candidate join — constant), the
    * FLAT assignment is N·nlist dots ∝ N² — measured as the dominant
    * x100 stage of the auto-sized IVFADC (BENCH_NOTES r14: 15.2× vs the
    * frozen quantizer's 11.9×). Two levels cut it to N·2√nlist ∝ N^1.5
    * with a 1/√nlist constant: at the x100 corpus that is 11M dots
    * instead of 156M.
    *
    * Deterministic like the flat stub quantizer, so an oracle replays
    * it: level-1 "super" centroids are the first ⌈√nlist⌉ vectors,
    * cells the first nlist; every CELL is assigned to its nearest super
    * (nlist·√nlist — negligible, broadcast both sides); every VECTOR
    * scores the √nlist supers, takes the argmax (the shared e6-floored
    * (cscore desc, id) convention), then scores ONLY the cells parented
    * by that super. A vector's final cell can differ from the flat
    * argmax (the textbook IMI approximation — a vector near a super
    * boundary may miss the globally-nearest cell); the registered twin
    * carries its own oracle replaying exactly this rule.
    *
    * Returns (vec_id, cluster) — the [[ivfpqTopK]] assignment shape.
    */
  private[graft] def twoLevelAssign(e: DataFrame,
      numCentroids: Int): DataFrame = {
    val l1 = math.max(1, math.ceil(math.sqrt(numCentroids.toDouble)).toInt)
    val supers = e.filter(col("vec_id") < l1)
      .select(col("vec_id").as("sup_id"), col("v").as("sv"),
        col("nrm").as("snrm"))
    val cents = firstNCentroids(e, numCentroids)
    // cell -> parent super: nlist × √nlist, both sides broadcastable
    val parents = cents
      .crossJoin(broadcast(supers))
      .withColumn("sscore", floor(dot(col("cv"), col("sv")) /
        (col("cnrm") * col("snrm")) * lit(1000000.0)))
      .withColumn("srk", row_number().over(
        Window.partitionBy(col("cent_id"))
          .orderBy(col("sscore").desc, col("sup_id"))))
      .filter(col("srk") === 1)
      .select(col("cent_id"), col("cv"), col("cnrm"),
        col("sup_id").as("parent"))
    // level 1: every vector scores √nlist supers — N·√nlist dots
    val vecSuper = e.crossJoin(broadcast(supers))
      .withColumn("sscore", floor(dot(col("v"), col("sv")) /
        (col("nrm") * col("snrm")) * lit(1000000.0)))
      .withColumn("srk", row_number().over(
        Window.partitionBy(col("vec_id"))
          .orderBy(col("sscore").desc, col("sup_id"))))
      .filter(col("srk") === 1)
      .select(col("vec_id"), col("v"), col("nrm"),
        col("sup_id").as("parent"))
    // level 2: score only the chosen super's children — N·(nlist/√nlist)
    // expected dots; the parent equi-key keeps it a broadcast hash join,
    // never a cross product
    vecSuper.join(broadcast(parents), "parent")
      .withColumn("cscore", floor(dot(col("v"), col("cv")) /
        (col("nrm") * col("cnrm")) * lit(1000000.0)))
      .withColumn("crk", row_number().over(
        Window.partitionBy(col("vec_id"))
          .orderBy(col("cscore").desc, col("cent_id"))))
      .filter(col("crk") === 1)
      .select(col("vec_id"), col("cent_id").as("cluster"))
  }

  /** Per-vector centroid scores ranked per vec_id — the shared assignment
    * pass. The centroid-count window is fine at any scale: its partitions
    * are per-VECTOR (numCentroids rows each), never corpus-sized. */
  private def assignCells(e: DataFrame, cents: DataFrame): DataFrame =
    e.crossJoin(broadcast(cents))
      .withColumn("cscore", floor(dot(col("v"), col("cv")) /
        (col("nrm") * col("cnrm")) * lit(1000000.0)))
      .withColumn("crk", row_number().over(
        Window.partitionBy(col("vec_id"))
          .orderBy(col("cscore").desc, col("cent_id"))))

  /** Candidate cell-equi join + top-k rank — the serve half shared by the
    * in-flight and persisted-index paths. */
  private def serveAgainst(probes: DataFrame, index: DataFrame,
      k: Int): DataFrame = {
    val cand = probes.join(index,
        col("cluster") === col("cluster_b") && col("vec_id") =!= col("other_id"))
      .withColumn("cos_e6", floor(dot(col("v"), col("vb")) /
        (col("nrm") * col("nrm_b")) * lit(1000000.0)))
    rankTopK(cand, k, Seq("vec_id", "cluster", "other_id", "cos_e6", "rk"))
  }

  private def ivfServe(e: DataFrame, cents: DataFrame, k: Int,
      numProbes: Int = 1): DataFrame = {
    val scored = assignCells(e, cents)
    val probes = scored.filter(col("crk") <= numProbes)
      .select(col("vec_id"), col("v"), col("nrm"), col("cent_id").as("cluster"))
    val indexed = scored.filter(col("crk") === 1)
      .select(col("vec_id").as("other_id"), col("v").as("vb"),
        col("nrm").as("nrm_b"), col("cent_id").as("cluster_b"))
    serveAgainst(probes, indexed, k)
  }

  /** LSH-bucketed ANN: score only pairs whose bucket signatures match —
    * the 100 TB path (bucket join instead of cross product; recall traded
    * for a ~2^planes reduction in comparisons).
    *
    * `numPlanes` is the scale knob: bucket count is 2^numPlanes, so the
    * expected in-bucket population — and with it the quadratic in-bucket
    * self-join — is held constant by growing numPlanes with log2(corpus).
    * More planes cost recall; [[lshTopKMulti]] buys it back with
    * independent hash tables (OR-construction) instead of wider buckets.
    */
  def lshTopK(embeddings: DataFrame, k: Int = 5,
      numPlanes: Int = NumPlanes): DataFrame = {
    VectorFunctions.register(embeddings.sparkSession)
    val withBucket = embeddings
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("bucket", bucketOf(col("v"), numPlanes))
      .withColumn("nrm", norm(col("v")))
    val b = withBucket.select(col("vec_id").as("other_id"),
      col("v").as("vb"), col("bucket").as("bucket_b"), col("nrm").as("nrm_b"))
    val scored = withBucket.join(b,
        col("bucket") === col("bucket_b") && col("vec_id") =!= col("other_id"))
      .withColumn("cos_e6", floor(dot(col("v"), col("vb")) /
        (col("nrm") * col("nrm_b")) * lit(1000000.0)))
    rankTopK(scored, k, Seq("vec_id", "bucket", "other_id", "cos_e6", "rk"))
  }

  /** Symmetric int8 quantization of the embedding column — the standard
    * 4× index-compression step before ANN serving at scale: per vector,
    * scale by 127 / max|x| and floor (floor, not round: floor of
    * identical doubles is engine-portable, round's ULP behavior is not).
    * Emits the scale (floor-scaled to e6), the max quantized magnitude
    * (≤ 127, enforced by an explicit least/greatest clamp: for
    * float-sourced data m·127 is exactly representable and the clamp is a
    * no-op, but for arbitrary doubles floor((-m·127)/m) can round to
    * −128 — the clamp makes the int8 bound hold by construction, and the
    * oracle applies the identical clamp), and the md5 of the quantized
    * vector as the scalar stand-in for the int8 payload. Row-local
    * projection, no shuffle. All-zero
    * vectors have no defined scale (x·127/0 is NaN, and NaN handling
    * diverges across engines) — they carry no information for similarity
    * anyway, so they emit no row on either side.
    */
  def quantizeEmbeddings(embeddings: DataFrame): DataFrame = {
    val v = asDouble(col("embedding"))
    val m = array_max(transform(v, x => abs(x)))
    val q = transform(v, x => greatest(least(
      floor(x * lit(127.0) / col("_m")).cast("long"), lit(127L)), lit(-127L)))
    embeddings
      .withColumn("_m", m)
      .filter(col("_m") > 0)
      .withColumn("_q", q)
      .select(col("vec_id"),
        floor(col("_m") * lit(1000000.0)).as("maxabs_e6"),
        array_max(transform(col("_q"), x => abs(x))).as("max_abs_q"),
        md5(array_join(transform(col("_q"), _.cast("string")), " ")
          .cast("binary")).as("q_md5"))
      .orderBy(col("vec_id"))
  }

  /** The scale rule for [[lshTopK]]/[[lshTopKMulti]] granularity, made
    * executable: planes needed so the EXPECTED bucket population stays at
    * `targetBucketPop` for a corpus of `corpusSize` vectors — i.e.
    * ceil(log2(n / target)). In-bucket self-join work per bucket is
    * O(pop²), so holding pop constant holds total candidate volume
    * linear in n: at 100× corpus this returns ~7 more planes instead of
    * letting each bucket grow 100× (and the join 10,000×). Pair with more
    * tables ([[lshTopKMulti]]) to buy back the recall narrower buckets
    * cost.
    */
  def planesFor(corpusSize: Long, targetBucketPop: Int = 100): Int = {
    require(corpusSize > 0 && targetBucketPop > 0)
    val planes = math.ceil(
      math.log(corpusSize.toDouble / targetBucketPop) / math.log(2.0)).toInt
    math.max(1, math.min(planes, 30))
  }

  /** Multi-table LSH ANN (OR-construction): `numTables` independent
    * sign-random-projection signatures; candidates are pairs colliding in
    * ANY table, deduplicated, then exactly scored and top-k'd.
    *
    * This is the 100×-scale formulation: per-table bucket volume is held
    * constant by raising `numPlanes` with corpus size (quadratic in-bucket
    * work stays flat), and the recall that narrower buckets cost is bought
    * back with more tables — P(miss) = (1 − p^planes)^tables falls
    * geometrically in `numTables`. The candidate build stays ONE
    * equi-shuffle join on (table, bucket) (tables are exploded rows, not
    * separate joins), so the plan shape is corpus-size-independent.
    */
  def lshTopKMulti(embeddings: DataFrame, k: Int = 5,
      numPlanes: Int = NumPlanes, numTables: Int = 2): DataFrame = {
    require(numTables >= 1, "numTables must be >= 1")
    VectorFunctions.register(embeddings.sparkSession)
    val base = embeddings
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    val withBuckets = base.select(col("vec_id"),
        explode(array((0 until numTables).map(t =>
          struct(lit(t).as("tbl"),
            bucketOf(col("v"), numPlanes, t).as("bucket"))): _*)).as("tb"))
      .select(col("vec_id"), col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
    val cand = withBuckets.as("x").join(withBuckets.as("y"),
        col("x.tbl") === col("y.tbl") && col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.vec_id").as("vec_id"), col("y.vec_id").as("other_id"))
      .distinct()
    val q = base.select(col("vec_id"), col("v"), col("nrm"))
    val o = base.select(col("vec_id").as("other_id"), col("v").as("vb"),
      col("nrm").as("nrm_b"))
    val scored = cand.join(q, Seq("vec_id")).join(o, Seq("other_id"))
      .withColumn("cos_e6", floor(dot(col("v"), col("vb")) /
        (col("nrm") * col("nrm_b")) * lit(1000000.0)))
    rankTopK(scored, k, Seq("vec_id", "other_id", "cos_e6", "rk"))
  }

  /** Johnson–Lindenstrauss-style dense random projection to `k` dims —
    * the cheap dimensionality reduction in front of ANN/clustering
    * (distance-preserving w.h.p. for k = O(log n / ε²); Johnson &
    * Lindenstrauss 1984, public). The projection matrix is the SAME
    * md5-derived deterministic plane family the LSH buckets use
    * ([[weightOf]]): [[bucketOf]] is exactly `sign` of these
    * coordinates, so this operator exposes the pre-sign values, scaled
    * by 1/√k to preserve expected norms.
    *
    * Row-local: one codegen'd dot per output dim, no shuffle beyond
    * the presentation sort; the oracle rebuilds the identical weights
    * from md5 and replays the same IEEE fold, so values are exact
    * under the e6 floor contract.
    */
  def randomProjection(embeddings: DataFrame, k: Int = 8): DataFrame = {
    val e = vectorsWithNorm(embeddings)
    val scale = 1.0 / math.sqrt(k.toDouble)
    val cols = (0 until k).map { p =>
      val w = typedLit((0 until 64).map(i => weightOf(p, i)))
      floor(dot(col("v"), w) * lit(scale) * lit(1000000.0)).cast("long")
        .as(s"rp$p")
    }
    e.select(col("vec_id") +: cols: _*).orderBy(col("vec_id"))
  }

  /** PCA over the embedding corpus — distributed second-moment
    * accumulation + driver-local spectral solve, the
    * [[localKMeans]]/trainedCentroids discipline applied to the other
    * classic unsupervised reducer.
    *
    * The distributed part is ONE mapPartitions pass accumulating
    * (n, Σx, Σxxᵀ): d=64, so each partition ships one 64-vector and
    * one 64×64 Gram — 4 KB of state per partition regardless of corpus
    * size, tree-reduced (the Misra-Gries bounded-summary posture). The
    * driver forms the covariance C = Σxxᵀ/n − μμᵀ and runs
    * deterministic power iteration with deflation (`iters` fixed, no
    * RNG) for the top `k` components; eigenvalue λᵢ = cᵢᵀCcᵢ.
    *
    * L-BFGS-class outputs aren't SQL-expressible, so the row follows
    * the ann_ivf_trained structural-oracle pattern: `n_vectors`/`k`
    * are oracle-exact; the booleans assert the spectral contract —
    * components pairwise orthonormal, eigenvalues descending,
    * top-k captured variance ≥ the uniform k/d share (a theorem when
    * the solve is right, false when it breaks), and a SECOND
    * distributed pass cross-checks that the corpus variance of the
    * projection onto component 0 equals λ₀ (driver algebra vs cluster
    * data — the honest end-to-end check).
    */
  def pcaSummary(embeddings: DataFrame, k: Int = 4,
      iters: Int = 300): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    VectorFunctions.register(spark)
    val d = 64
    val data = embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .as[(Long, Array[Double])]
    val (n, sums, gram) = data.rdd.map(_._2)
      .mapPartitions { it =>
        var cnt = 0L
        val s = new Array[Double](d); val g = new Array[Double](d * d)
        it.foreach { v =>
          cnt += 1L
          var i = 0
          while (i < d) {
            s(i) += v(i)
            var j = 0
            while (j < d) { g(i * d + j) += v(i) * v(j); j += 1 }
            i += 1
          }
        }
        Iterator.single((cnt, s, g))
      }
      .treeReduce { (a, b) =>
        val s = new Array[Double](d); val g = new Array[Double](d * d)
        var i = 0
        while (i < d) { s(i) = a._2(i) + b._2(i); i += 1 }
        i = 0
        while (i < d * d) { g(i) = a._3(i) + b._3(i); i += 1 }
        (a._1 + b._1, s, g)
      }
    require(n > 0, "pcaSummary needs a non-empty corpus")
    val mean = sums.map(_ / n)
    val cov = Array.tabulate(d * d)(idx =>
      gram(idx) / n - mean(idx / d) * mean(idx % d))
    val totalVar = (0 until d).map(i => cov(i * d + i)).sum
    // deterministic power iteration with deflation
    def matVec(m: Array[Double], x: Array[Double]): Array[Double] =
      Array.tabulate(d) { i =>
        var acc = 0.0; var j = 0
        while (j < d) { acc += m(i * d + j) * x(j); j += 1 }
        acc
      }
    def normalize(x: Array[Double]): Array[Double] = {
      val nr = math.sqrt(x.map(v => v * v).sum)
      x.map(_ / nr)
    }
    // projection-deflated power iteration: every step re-orthogonalizes
    // against the already-found components (Gram-Schmidt), so each
    // vector converges INSIDE the orthogonal complement — subtractive
    // deflation alone leaves non-orthogonal components when the
    // spectrum is near-flat (this corpus's is) and iterations can't
    // fully converge. Components come out orthonormal to machine
    // precision by construction; the boolean still guards the algebra.
    def orthogonalize(x: Array[Double], prev: Seq[Array[Double]]): Array[Double] = {
      val y = x.clone()
      prev.foreach { p =>
        val proj = (0 until d).map(i => y(i) * p(i)).sum
        var i = 0
        while (i < d) { y(i) -= proj * p(i); i += 1 }
      }
      y
    }
    val found = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    for (c <- 0 until k) {
      // deterministic start: basis vector e_c rotated off the found span
      var x = normalize(orthogonalize(
        Array.tabulate(d)(i => if (i == c) 1.0 else 0.25), found.toSeq))
      for (_ <- 0 until iters)
        x = normalize(orthogonalize(matVec(cov, x), found.toSeq))
      found += x
    }
    // PCA presentation order: components sorted by Rayleigh quotient
    val scored = found.toArray.map { x =>
      val cx = matVec(cov, x)
      (x, (0 until d).map(i => x(i) * cx(i)).sum)
    }.sortBy(-_._2)
    val comps = scored.map(_._1)
    val eigs = scored.map(_._2)
    val orthonormal = (0 until k).forall { i =>
      math.abs(math.sqrt(comps(i).map(v => v * v).sum) - 1.0) < 1e-9 &&
      (i + 1 until k).forall { j =>
        math.abs((0 until d).map(t => comps(i)(t) * comps(j)(t)).sum) < 1e-6
      }
    }
    val descending = (1 until k).forall(i => eigs(i) <= eigs(i - 1) + 1e-9)
    val capture = eigs.sum / totalVar >= k.toDouble / d
    // cross-check: distributed variance of the projection onto c0 == λ0
    val c0 = typedLit(comps(0).toSeq)
    val proj = data.toDF("vec_id", "v")
      .select(VectorFunctions.dotD(col("v"), c0).as("p"))
      .agg(avg(col("p")).as("m"), avg(col("p") * col("p")).as("m2"))
      .select((col("m2") - col("m") * col("m")).as("var0"))
      .collect()(0).getDouble(0)
    val projMatches = math.abs(proj - eigs(0)) <=
      1e-6 * math.max(1.0, math.abs(eigs(0)))
    Seq((n, k, orthonormal, descending, capture, projMatches))
      .toDF("n_vectors", "k", "comps_orthonormal", "eigvals_descending",
        "capture_ge_uniform", "proj_var_matches")
  }

  // ---------------------------------------------------------------------
  // Product quantization (Jégou et al., "Product Quantization for Nearest
  // Neighbor Search") — the standard 100 TB index-compression step beyond
  // [[quantizeEmbeddings]]' scalar int8: the 64-dim vector is split into
  // PqNumSub contiguous subvectors and each is replaced by the id of its
  // nearest codeword in a per-subspace codebook, so a corpus vector
  // serves from PqNumSub small integers instead of 64 floats (here
  // 8 × 4 bits = 4 bytes vs 256 — a 64× compression).
  // ---------------------------------------------------------------------

  val PqNumSub = 8
  val PqKs = 16

  /** Per-vector subvectors: one row per (vec_id, m) with the m-th
    * contiguous slice of the (double-cast) embedding. Row-local explode —
    * no shuffle; the 8× row growth carries 8-dim arrays, not the vector.
    */
  private def pqSubvectors(embeddings: DataFrame, numSub: Int,
      dims: Int = 64): DataFrame = {
    VectorFunctions.register(embeddings.sparkSession)
    pqSubvectorsOf(
      embeddings.select(col("vec_id"), asDouble(col("embedding")).as("v")),
      numSub, dims)
  }

  /** [[pqSubvectors]] over an already-shaped `(vec_id, v)` relation —
    * the seam that lets the RESIDUAL variants slice `v - centroid`
    * instead of the raw embedding without touching the slicing math. */
  private def pqSubvectorsOf(vecs: DataFrame, numSub: Int,
      dims: Int): DataFrame = {
    val subDim = dims / numSub
    vecs.withColumn("m", explode(sequence(lit(0), lit(numSub - 1))))
      .select(col("vec_id"), col("m"),
        slice(col("v"), col("m") * subDim + 1, lit(subDim)).as("sv"))
  }

  /** Deterministic parameterized codebook — the [[firstNCentroids]]
    * discipline applied per subspace: subspace m's codewords are the m-th
    * subvectors of the first `ks` corpus vectors. numSub × ks rows total
    * (128 by default) — always broadcast. A KMeans-trained codebook swaps
    * in here without touching the encode or serve dataflow, exactly as
    * [[ivfTopKTrained]] swaps centroids into the IVF serve.
    */
  private def pqCodebook(embeddings: DataFrame, numSub: Int,
      ks: Int, dims: Int = 64): DataFrame =
    pqSubvectors(embeddings.filter(col("vec_id") < ks), numSub, dims)
      .select(col("m"), col("vec_id").as("code_id"), col("sv").as("cw"))

  /** Squared L2 between two equal-length double arrays as a sequential
    * left fold (zip_with + aggregate) — same IEEE fold order as the
    * oracle's list_sum(list_transform(...)), so floor(d2·1e6) is
    * engine-portable exactly like the cosine e6 convention.
    */
  private def d2E6(a: Column, b: Column): Column =
    floor(aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x) * lit(1000000.0)).cast("long")

  /** PQ encoding: per (vector, subspace), the nearest codeword by squared
    * L2 (ties → lowest codeword id) — FLAT rows (vec_id, m, code, d2_e6),
    * never a per-vector code array (the driver-harness lesson of
    * inverted_index), with d2_e6 the subspace reconstruction error the
    * encode is defined to minimize.
    *
    * Scale shape: the codebook (numSub·ks rows) broadcasts, scoring is a
    * map-side equi-join on m, and the argmin window partitions by
    * (vec_id, m) — ks rows each, map-side WindowGroupLimit — so the whole
    * encode is one scan of the corpus with no corpus-sized shuffle.
    */
  def pqEncode(embeddings: DataFrame, numSub: Int = PqNumSub,
      ks: Int = PqKs, dims: Int = 64): DataFrame = {
    require(numSub >= 1 && dims % numSub == 0,
      s"numSub must divide $dims, got $numSub")
    require(ks >= 1, s"ks must be >= 1, got $ks")
    val subs = pqSubvectors(embeddings, numSub, dims)
    val cb = pqCodebook(embeddings, numSub, ks, dims)
    subs.join(broadcast(cb), "m")
      .withColumn("d2_e6", d2E6(col("sv"), col("cw")))
      .withColumn("ark", row_number().over(
        Window.partitionBy(col("vec_id"), col("m"))
          .orderBy(col("d2_e6"), col("code_id"))))
      .filter(col("ark") === 1)
      .select(col("vec_id"), col("m"), col("code_id").as("code"), col("d2_e6"))
      .orderBy(col("vec_id"), col("m"))
  }

  /** IVF-PQ (IVFADC) top-k: candidates come from the query's IVF cell
    * (the [[ivfTopK]] blocking), but each candidate is scored from its PQ
    * CODES via asymmetric distance computation — the query stays full
    * precision, and its distance to a candidate is the sum over subspaces
    * of a precomputed (query, subspace, codeword) lookup-table entry.
    * This is the FAISS IVFADC serve: the corpus side of the join carries
    * 4-byte codes instead of 256-byte vectors, which at 100 TB is the
    * difference between an index that fits the cluster's disks and one
    * that doesn't.
    *
    * Every LUT entry is floor(d2·1e6) — an exact integer — so the ADC sum
    * is a BIGINT sum of BIGINTs and the ranking is hash-exact for the
    * oracle to replay. Ranks ascend by (adc_e6, other_id).
    *
    * Scale shape: cell assignment is the shared broadcast-cross; the LUT
    * (corpus_queries × numSub × ks rows — 128 per query) is an equi-join
    * keyed (vec_id, m, code) that AQE plans against the 8-rows-per-pair
    * candidate-code relation; no corpus-sized window (per-query rank
    * partitions are cell-bounded, the same bound as ivf_topk).
    */
  def ivfpqTopK(embeddings: DataFrame, k: Int = 5,
      numCentroids: Int = NumCentroids, numSub: Int = PqNumSub,
      ks: Int = PqKs, dims: Int = 64, maxCell: Int = 256,
      queries: DataFrame = null, twoLevel: Boolean = false): DataFrame = {
    require(k >= 1, s"ivfpqTopK requires k >= 1, got $k")
    require(maxCell >= 2, s"ivfpqTopK requires maxCell >= 2, got $maxCell")
    val e = vectorsWithNorm(embeddings)
    // twoLevel: route assignment through the hierarchical coarse
    // quantizer ([[twoLevelAssign]]) — the production-shaped answer once
    // auto-sizing grows nlist with the corpus and the flat N·nlist
    // assignment becomes the dominant (quadratic-in-corpus) stage.
    // Operator-scoped persist (r14): `assigned` feeds BOTH the query
    // side and the capped index side of the candidate join below —
    // without it the whole assignment chain (N·nlist scores + rank
    // window; three windows in the two-level form) executes twice
    // inside the one consuming action.
    val assigned = CacheScope.selfReleasing(
      if (twoLevel) twoLevelAssign(e, numCentroids)
      else assignCells(e, firstNCentroids(e, numCentroids))
        .filter(col("crk") === 1)
        .select(col("vec_id"), col("cent_id").as("cluster")),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // ONE (vector, subspace, codeword) distance relation feeds both the
    // encode argmin (the codes) and the IVFADC lookup table — exactly
    // the oracle's shared `dist` CTE. Without the operator-scoped
    // persist the two consumers are separate plan subtrees and the
    // corpus scan + 128×/vector distance expansion executes twice.
    val dist = CacheScope.selfReleasing(
      pqSubvectors(embeddings, numSub, dims)
        .join(broadcast(pqCodebook(embeddings, numSub, ks, dims)), "m")
        .select(col("vec_id"), col("m"), col("code_id").as("code"),
          d2E6(col("sv"), col("cw")).as("lut_e6")),
      org.apache.spark.storage.StorageLevel.DISK_ONLY)
    ivfpqServeFrom(assigned, dist, k, maxCell, queries)
  }

  /** The IVFADC serve body shared by the raw-vector and RESIDUAL
    * quantizers: cap cells, pair queries with in-cell candidates, read
    * each candidate's codes (argmin over `dist`), sum the query's LUT
    * entries (`dist` again) over the candidate's codes, rank ascending.
    * `dist` is the ONE (vec_id, m, code, lut_e6) relation both legs
    * share — persist it operator-scoped at the call site.
    */
  private def ivfpqServeFrom(assigned: DataFrame, dist: DataFrame,
      k: Int, maxCell: Int, queries: DataFrame): DataFrame = {
    // annPartners' megacell bound on the INDEX side (deterministic
    // first-maxCell by id, map-side WindowGroupLimit): with a frozen
    // coarse quantizer a 10× corpus means 10× cell populations and a
    // quadratic candidate join — production IVF grows numCentroids with
    // the corpus instead, and the cap keeps the fixed-parameter
    // registered form linear until it does. Inactive at gate scale,
    // mirrored in the oracle.
    val capped = assigned
      .withColumn("cell_rk", row_number().over(
        Window.partitionBy(col("cluster")).orderBy(col("vec_id"))))
      .filter(col("cell_rk") <= maxCell)
    // optional QUERY-side restriction (audits serve only a bounded head:
    // pq_recall): cuts the candidate join to O(|queries| · cell) while
    // the index side — capped, codes, LUT sources — stays the full
    // corpus, so restricted results equal the full serve's rows for
    // those queries exactly
    val queryAssigned =
      if (queries == null) assigned
      else assigned.join(queries.select(col("vec_id")), "vec_id")
    val pairs = queryAssigned.join(
        capped.select(col("vec_id").as("other_id"),
          col("cluster").as("cluster_b")),
        col("cluster") === col("cluster_b") && col("vec_id") =!= col("other_id"))
      .select(col("vec_id"), col("other_id"))
    // same argmin semantics as pqEncode: (d2_e6, code_id) ascending
    val codes = dist
      .withColumn("ark", row_number().over(
        Window.partitionBy(col("vec_id"), col("m"))
          .orderBy(col("lut_e6"), col("code"))))
      .filter(col("ark") === 1)
      .select(col("vec_id").as("other_id"), col("m"), col("code"))
    val lut = dist
    val adc = pairs
      .join(codes, "other_id")
      .join(lut, Seq("vec_id", "m", "code"))
      .groupBy(col("vec_id"), col("other_id"))
      .agg(sum(col("lut_e6")).as("adc_e6"))
    adc.withColumn("rk", row_number().over(
        Window.partitionBy(col("vec_id"))
          .orderBy(col("adc_e6"), col("other_id"))))
      .filter(col("rk") <= k)
      .select(col("vec_id"), col("other_id"), col("adc_e6"), col("rk"))
      .orderBy(col("vec_id"), col("rk"))
  }

  // ---------------------------------------------------------------------
  // RESIDUAL product quantization + exact rerank — the two serving
  // refinements production IVFADC (FAISS) layers on the base design:
  // codes encode v - centroid[cell] (residuals are centered, so the
  // same codebook budget spends itself on a tighter distribution), and
  // the ADC ranking is a shortlist that full-precision rerank corrects.
  // ---------------------------------------------------------------------

  /** HASH-EXACT Lloyd's k-means (r15) — the fully oracle-replayable twin
    * of [[ivfTopKTrained]]'s float KMeans (whose Lloyd iterations are not
    * SQL-expressible, so its driver row is structural booleans): quantize
    * every component to an e6 integer FIRST (row-local floor — fixed fold
    * order, engine-independent), then run `rounds` Lloyd iterations
    * entirely in integer arithmetic — squared-L2 assignment over BIGINT
    * components (argmin ties to the smaller cent_id), centroid update as
    * a floored integer mean computed in SHIFTED space
    * (`(Σ(x+2e6)) div n − 2e6`: components are bounded by ±1e6 so the
    * shifted sum is non-negative, and integral division of non-negatives
    * truncates identically on both engines — the `div`-vs-`//` negative
    * operand hazard never arises). Every round, every tie, every floored
    * mean replays row-for-row in DuckDB — k-means clustering joins the
    * hash gate instead of hiding behind a structural contract. A cluster
    * that loses all members drops out of the centroid relation (both
    * engines identically); ties assign to the smaller cent_id.
    *
    * Returns the FINAL assignment (vec_id, cluster, d2_q) under the
    * round-`rounds` centroids; [[kmeansCentroidsLong]] emits those
    * centroids in long (cluster, j, c_e6) form off the same chain.
    *
    * Scale shape: per round one broadcast join of the ≤k-row centroid
    * relation onto the corpus (d2 is a row-local zip_with fold — no
    * N×k×dims long-form blowup on the engine side), one 16-row-partition
    * argmin window, and one (k·dims)-group partial-aggregable update.
    * The oracle replays the same rounds in long form (its N·dims rows
    * are the oracle's own cost, not the engine's).
    */
  def kmeansLloyd(embeddings: DataFrame, k: Int = 16, rounds: Int = 2,
      dims: Int = 64): DataFrame = {
    val (q, cents) = kmeansChain(embeddings, k, rounds, dims)
    kmeansAssign(q, cents)
      .select(col("vec_id"), col("cluster"), col("d2_q"))
      .orderBy(col("vec_id"))
  }

  /** The final-round centroids of [[kmeansLloyd]] in long form —
    * (cluster, j, c_e6), one row per surviving centroid component, the
    * shape the oracle replays component-exactly. */
  def kmeansCentroidsLong(embeddings: DataFrame, k: Int = 16,
      rounds: Int = 2, dims: Int = 64): DataFrame = {
    val (_, cents) = kmeansChain(embeddings, k, rounds, dims)
    cents.select(col("cent_id").as("cluster"),
        posexplode(col("cv")).as(Seq("j0", "c_e6")))
      .select(col("cluster"), (col("j0") + 1).cast("long").as("j"),
        col("c_e6"))
      .orderBy(col("cluster"), col("j"))
  }

  /** Shared quantize → `rounds`×(assign → update) chain behind the two
    * kmeans registered forms. Returns (quantized corpus, final cents). */
  private def kmeansChain(embeddings: DataFrame, k: Int, rounds: Int,
      dims: Int): (DataFrame, DataFrame) = {
    require(k >= 2 && rounds >= 1 && rounds <= 8 && dims >= 1,
      s"kmeans: k >= 2, rounds in [1,8], dims >= 1 (got $k/$rounds/$dims)")
    // the deterministic seed rule assumes DENSE 0-based vec_ids (the
    // corpus convention shared with the PQ/IVF stub quantizers); on a
    // 1-based or sparse corpus `vec_id < k` silently yields fewer seeds
    // and a degenerate clustering — fail fast instead (r16 advice).
    // One pushed-filter count over ≤k candidate rows, on the RAW input
    // (never the CacheScope'd relation — a build-time action on that
    // would consume its one-shot release listener).
    val seedCount = embeddings.filter(col("vec_id") < k).count()
    require(seedCount == k,
      s"kmeans seeds: expected $k vectors with vec_id in [0, $k) — found " +
        s"$seedCount; the seed rule requires dense 0-based vec_ids")
    // quantize once; every round's assign + the final assign re-read it
    val q = CacheScope.selfReleasing(
      embeddings.select(col("vec_id"),
        expr("transform(embedding, x -> " +
          "CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))").as("v")),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var cents = q.filter(col("vec_id") < k)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))
    for (_ <- 1 to rounds) {
      val assigned = kmeansAssign(q, cents)
      cents = assigned
        .select(col("cluster"), posexplode(col("v")).as(Seq("j", "x")))
        .groupBy(col("cluster"), col("j"))
        .agg(sum(col("x") + lit(2000000L)).as("sx"),
          count(lit(1)).as("n"))
        .select(col("cluster"),
          struct(col("j"), (expr("sx div n") - lit(2000000L)).as("c"))
            .as("jc"))
        .groupBy(col("cluster"))
        .agg(array_sort(collect_list(col("jc"))).as("s"))
        .select(col("cluster").as("cent_id"),
          expr("transform(s, e -> e.c)").as("cv"))
    }
    (q, cents)
  }

  /** One integer squared-L2 assignment pass: broadcast the ≤k-row
    * centroid relation, fold d2 row-locally, argmin by (d2_q, cent_id)
    * as a partial-aggregable `min(struct(...))` — the house hash-argmin:
    * the ×k candidate expansion combines MAP-SIDE down to one row per
    * vector before the shuffle (a per-vector rank window would shuffle
    * all N·k rows first). The struct's (d2_q, cent_id) prefix is unique
    * per group, so the carried `v` never participates in the ordering.
    */
  private def kmeansAssign(q: DataFrame, cents: DataFrame): DataFrame =
    q.crossJoin(broadcast(cents))
      .withColumn("d2_q", expr(
        "aggregate(zip_with(v, cv, (x, c) -> (x - c) * (x - c)), " +
          "CAST(0 AS BIGINT), (a, b) -> a + b)"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d2_q"), col("cent_id"), col("v"))).as("m"))
      .select(col("vec_id"), col("m.v").as("v"),
        col("m.cent_id").as("cluster"), col("m.d2_q").as("d2_q"))

  /** Residual vectors: each corpus vector minus its assigned cell's
    * centroid — the relation residual PQ encodes. The centroid table
    * broadcasts (≤ numCentroids rows), the join key is the cell id, and
    * the subtraction is row-local `zip_with`: no corpus-sized shuffle
    * beyond the assignment the serve already pays.
    */
  private def residualVectors(e: DataFrame, assigned: DataFrame,
      cents: DataFrame): DataFrame =
    e.join(assigned, "vec_id")
      .join(broadcast(cents), col("cluster") === col("cent_id"))
      .select(col("vec_id"),
        zip_with(col("v"), col("cv"), (x, y) => x - y).as("v"))

  /** The residual (vector, subspace, codeword) distance relation — the
    * residual twin of [[ivfpqTopK]]'s `dist`. The codebook CANNOT be
    * the first `ks` vectors' residual slices: vectors
    * 0..numCentroids-1 ARE the deterministic centroids, so their
    * residuals are identically zero and the codebook would collapse to
    * ks copies of the zero codeword per subspace. Codewords are the
    * residual slices of vectors [numCentroids, numCentroids + ks)
    * instead, re-numbered to codes 0..ks-1 — deterministic, mirrored
    * in the oracle as `vec_id >= 16 AND vec_id < 32`.
    */
  private def residualDist(resid: DataFrame, numCentroids: Int,
      numSub: Int, ks: Int, dims: Int): DataFrame = {
    val cb = pqSubvectorsOf(
        resid.filter(col("vec_id") >= numCentroids &&
          col("vec_id") < numCentroids + ks),
        numSub, dims)
      .select(col("m"), (col("vec_id") - numCentroids).as("code_id"),
        col("sv").as("cw"))
    pqSubvectorsOf(resid, numSub, dims)
      .join(broadcast(cb), "m")
      .select(col("vec_id"), col("m"), col("code_id").as("code"),
        d2E6(col("sv"), col("cw")).as("lut_e6"))
  }

  /** Residual PQ encode — [[pqEncode]] over `v - centroid[cell]`.
    * Output shape identical to pqEncode (vec_id, m, code, d2_e6), with
    * d2_e6 now the RESIDUAL reconstruction error — the quantity the
    * IVFADC distance estimate actually depends on, and the one
    * residual coding exists to shrink ([[pqResidualGain]] measures the
    * shrinkage as exact integers).
    */
  def pqEncodeResidual(embeddings: DataFrame, numSub: Int = PqNumSub,
      ks: Int = PqKs, dims: Int = 64,
      numCentroids: Int = NumCentroids): DataFrame = {
    val e = vectorsWithNorm(embeddings)
    val cents = firstNCentroids(e, numCentroids)
    val assigned = assignCells(e, cents).filter(col("crk") === 1)
      .select(col("vec_id"), col("cent_id").as("cluster"))
    residualDist(residualVectors(e, assigned, cents),
        numCentroids, numSub, ks, dims)
      .withColumn("ark", row_number().over(
        Window.partitionBy(col("vec_id"), col("m"))
          .orderBy(col("lut_e6"), col("code"))))
      .filter(col("ark") === 1)
      .select(col("vec_id"), col("m"), col("code"),
        col("lut_e6").as("d2_e6"))
      .orderBy(col("vec_id"), col("m"))
  }

  /** Residual IVFADC top-k — [[ivfpqTopK]] with the codes and the
    * query LUT both computed in residual space. Query and candidate
    * share a cell, so their residuals subtract the SAME centroid and
    * the residual ADC sum estimates exactly ||q - b||² (the centroid
    * term cancels). Residual coding wins when the corpus CLUSTERS
    * (||v - c||² = |v|² + |c|² - 2⟨v,c⟩ shrinks as cells tighten —
    * real embedding corpora); on the deliberately near-isotropic test
    * fixture it measurably loses (cos(v,c) ≈ 0 ⇒ residual norms
    * exceed raw norms — [[pqResidualGain]] carries the exact integers,
    * BENCH_NOTES the discussion). Same serve body, same scale shape
    * (one broadcast join + row-local zip_with added).
    */
  def ivfpqResidualTopK(embeddings: DataFrame, k: Int = 5,
      numCentroids: Int = NumCentroids, numSub: Int = PqNumSub,
      ks: Int = PqKs, dims: Int = 64, maxCell: Int = 256,
      queries: DataFrame = null): DataFrame = {
    require(k >= 1, s"ivfpqResidualTopK requires k >= 1, got $k")
    val e = vectorsWithNorm(embeddings)
    val cents = firstNCentroids(e, numCentroids)
    // operator-scoped persist: `assigned` feeds the residual relation
    // AND both sides of the serve's candidate join (the ivfpqTopK
    // lesson, r14 — without it the assignment chain runs per consumer)
    val assigned = CacheScope.selfReleasing(
      assignCells(e, cents).filter(col("crk") === 1)
        .select(col("vec_id"), col("cent_id").as("cluster")),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dist = CacheScope.selfReleasing(
      residualDist(residualVectors(e, assigned, cents),
        numCentroids, numSub, ks, dims),
      org.apache.spark.storage.StorageLevel.DISK_ONLY)
    ivfpqServeFrom(assigned, dist, k, maxCell, queries)
  }

  /** ADC-shortlist + exact rerank — the standard two-stage IVFPQ serve:
    * the code-scored ranking retrieves a shortlist of `kAdc` > k
    * candidates cheaply (4-byte codes), then ONLY those N·kAdc rows
    * join back their full-precision vectors and re-rank by exact
    * cosine. Fixes ADC ranking inversions at the cost of one
    * linear-in-corpus equi-join — at 100 TB the shortlist join touches
    * kAdc vectors per query, not the cell population.
    */
  def ivfpqRerankTopK(embeddings: DataFrame, k: Int = 5, kAdc: Int = 20,
      numCentroids: Int = NumCentroids, maxCell: Int = 256,
      queries: DataFrame = null): DataFrame = {
    require(k >= 1 && kAdc >= k,
      s"ivfpqRerankTopK requires kAdc >= k >= 1, got k=$k kAdc=$kAdc")
    val shortlist = ivfpqTopK(embeddings, kAdc,
        numCentroids = numCentroids, maxCell = maxCell, queries = queries)
      .select(col("vec_id"), col("other_id"))
    val e = vectorsWithNorm(embeddings)
    shortlist
      .join(e, "vec_id")
      .join(e.select(col("vec_id").as("other_id"), col("v").as("vb"),
        col("nrm").as("nrm_b")), "other_id")
      .withColumn("cos_e6", floor(dot(col("v"), col("vb")) /
        (col("nrm") * col("nrm_b")) * lit(1000000.0)))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("vec_id"))
          .orderBy(col("cos_e6").desc, col("other_id"))))
      .filter(col("rk") <= k)
      .select(col("vec_id"), col("other_id"), col("cos_e6"), col("rk"))
      .orderBy(col("vec_id"), col("rk"))
  }

  /** The residual-vs-raw coding tradeoff as ONE row of exact integers:
    * total PQ reconstruction error (sum of per-subspace argmin d2_e6
    * over every (vector, subspace)) for raw-vector codes vs residual
    * codes, same codebook budget. Residual coding is the production
    * IVFADC default because clustered corpora have tight residuals —
    * this row makes the claim a hash-gated MEASUREMENT instead of an
    * assumption, and on the near-isotropic fixture it honestly reads
    * the other way (raw 379.0M vs residual 529.6M at sf0.01: with
    * cos(v, centroid) ≈ 0, |v-c|² ≈ |v|² + |c|² > |v|²). Both sides
    * are 1-row aggregates; the crossJoin is broadcast-trivial.
    */
  def pqResidualGain(embeddings: DataFrame): DataFrame = {
    val raw = pqEncode(embeddings)
      .agg(count(lit(1)).as("n_rows"), sum(col("d2_e6")).as("raw_err_e6"))
    val res = pqEncodeResidual(embeddings)
      .agg(sum(col("d2_e6")).as("residual_err_e6"))
    raw.crossJoin(res)
  }

  /** [[pqRecall]] parameterized by the candidate serve — the seam the
    * residual and rerank variants plug into so each carries its own
    * measured-quality row without re-stating the presence aggregation.
    * `serve` receives the bounded query head and must return
    * (vec_id, other_id, ...) rows for exactly those queries.
    */
  def pqRecallWith(embeddings: DataFrame,
      serve: DataFrame => DataFrame, k: Int = 5,
      maxQueries: Int = MaxBruteForceQueries): DataFrame = {
    val truth = bruteForceTopK(embeddings, k, maxQueries)
      .select(col("vec_id"), col("other_id")).withColumn("t", lit(1L))
    val qs = embeddings.orderBy(col("vec_id")).limit(maxQueries)
      .select(col("vec_id"))
    val cand = serve(qs)
      .select(col("vec_id"), col("other_id")).withColumn("c", lit(1L))
    truth.join(cand, Seq("vec_id", "other_id"), "full_outer")
      .agg(sum(col("t")).as("n_true"),
        sum(col("c")).as("n_candidates"),
        sum(when(col("t").isNotNull && col("c").isNotNull, 1L)
          .otherwise(0L)).as("n_hit"))
  }

  /** Measured IVFADC retrieval quality — [[Dedup.lshRecall]]'s discipline
    * for the PQ family: the exact brute-force top-k over the bounded
    * query head ([[bruteForceTopK]]) is ground truth, [[ivfpqTopK]]'s
    * code-scored top-k (restricted to the same query head) is the
    * candidate set, and one full-outer presence aggregation emits exact
    * counts (n_true, n_candidates, n_hit) — numbers, not booleans, so a
    * recall regression shows AS A VALUE in the hash gate. An AUDIT
    * operator: bounded by the ground-truth head by construction (the
    * exact leg is the deliberately bounded one; the IVFADC leg is the
    * production path being measured).
    */
  def pqRecall(embeddings: DataFrame, k: Int = 5,
      maxQueries: Int = MaxBruteForceQueries,
      numCentroids: Int = NumCentroids,
      twoLevel: Boolean = false): DataFrame = {
    val truth = bruteForceTopK(embeddings, k, maxQueries)
      .select(col("vec_id"), col("other_id")).withColumn("t", lit(1L))
    // the query head straight from its definition (bruteForceTopK's own
    // bound) — deriving it from `truth` would put the O(q·n) exact scan
    // in the plan twice (once as the join side, once as the filter)
    val qs = embeddings.orderBy(col("vec_id")).limit(maxQueries)
      .select(col("vec_id"))
    // the IVFADC leg serves ONLY the head (queries = qs): the full-corpus
    // serve's non-head rows were discarded by the join anyway, and under
    // a frozen quantizer their candidate work grows quadratically — the
    // restricted form is linear and row-identical for the head.
    // numCentroids/twoLevel pass through so the auto-sized and IMI
    // quantizers carry their own measured-quality rows (r14).
    val cand = ivfpqTopK(embeddings, k, numCentroids = numCentroids,
        queries = qs, twoLevel = twoLevel)
      .select(col("vec_id"), col("other_id")).withColumn("c", lit(1L))
    truth.join(cand, Seq("vec_id", "other_id"), "full_outer")
      .agg(sum(col("t")).as("n_true"),
        sum(col("c")).as("n_candidates"),
        sum(when(col("t").isNotNull && col("c").isNotNull, 1L)
          .otherwise(0L)).as("n_hit"))
  }

  /** MATRYOSHKA truncation quality (Kusupati et al., NeurIPS 2022):
    * the retrieval cost of serving a PREFIX of the embedding — MRL
    * deployments cut 64-dim vectors to 16 for the candidate pass and
    * need the measured recall of that cut, exactly like [[pqRecall]]
    * measures quantization. Ground truth = the full-dim exact top-k
    * over the bounded query head ([[bruteForceTopK]]); candidate = the
    * SAME exact scan with cosine computed over only the first `dims`
    * dimensions; one full-outer presence aggregation emits exact counts
    * so a recall regression shows as a VALUE in the hash gate.
    *
    * Scale shape: an AUDIT operator — two O(q·n) broadcast-head scans
    * (q = `maxQueries`, the brute-force bound) and a q·k-row presence
    * join. The truncation itself is the production win being measured:
    * a `dims`/64 fraction of the dot-product FLOPs and scan bytes.
    */
  def matryoshkaEval(embeddings: DataFrame, k: Int = 5, dims: Int = 16,
      maxQueries: Int = MaxBruteForceQueries): DataFrame = {
    require(dims >= 1, s"dims >= 1: $dims")
    val truth = bruteForceTopK(embeddings, k, maxQueries)
      .select(col("vec_id"), col("other_id")).withColumn("t", lit(1L))
    val trunc = embeddings.select(col("vec_id"),
      slice(col("embedding"), 1, dims).as("embedding"))
    val cand = bruteForceTopK(trunc, k, maxQueries)
      .select(col("vec_id"), col("other_id")).withColumn("c", lit(1L))
    truth.join(cand, Seq("vec_id", "other_id"), "full_outer")
      .agg(lit(dims).as("dims"),
        sum(col("t")).as("n_true"),
        sum(col("c")).as("n_candidates"),
        sum(when(col("t").isNotNull && col("c").isNotNull, 1L)
          .otherwise(0L)).as("n_hit"))
  }

  /** k-NN LABEL quality — the weak-supervision / embedding-quality
    * audit a labeling pipeline runs before trusting neighbor-propagated
    * labels: each head query's label is predicted by MAJORITY VOTE over
    * its exact top-k cosine neighbors (ties to the smallest label — the
    * communities_lpa argmin convention, `min(struct(-cnt, label))`, a
    * partial-aggregable aggregate, never a per-query window), and the
    * readout is exact counts (n_queries, n_correct, accuracy_e6) so an
    * embedding regression shows as a VALUE in the hash gate.
    *
    * Scale shape: an AUDIT operator — one O(q·n) broadcast-head exact
    * scan ([[bruteForceTopK]]'s bound), a q·k-row label equi-join
    * (labels side is the corpus, join key unique), one q·labels
    * aggregate, a 1-row summary.
    */
  def knnLabelEval(embeddings: DataFrame, k: Int = 5,
      maxQueries: Int = MaxBruteForceQueries): DataFrame = {
    val nn = bruteForceTopK(embeddings, k, maxQueries)
      .select(col("vec_id"), col("other_id"))
    val labels = embeddings.select(col("vec_id"), col("label"))
    val votes = nn
      .join(labels.withColumnRenamed("vec_id", "other_id"), Seq("other_id"))
      .groupBy(col("vec_id"), col("label"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("vec_id"))
      .agg(min(struct((-col("c")).as("nc"), col("label").as("l")))
        .as("best"))
      .select(col("vec_id"), col("best.l").as("pred"))
    votes.join(labels, Seq("vec_id"))
      .agg(count(lit(1)).as("n_queries"),
        sum(when(col("pred") === col("label"), 1L).otherwise(0L))
          .as("n_correct"))
      .select(col("n_queries"), col("n_correct"),
        expr("n_correct * 1000000 div n_queries").as("accuracy_e6"))
  }

  /** The IVF recall-vs-probe-count CURVE — the tuning artifact an ANN
    * serving team actually reads: one exact presence-count row
    * (num_probes, n_true, n_candidates, n_hit) per probe setting against
    * the brute-force ground truth over the bounded query head. Recall is
    * monotone in the probe count by construction (probe sets nest), and
    * at numProbes = numCentroids the serve is exhaustive so n_hit MUST
    * equal n_true — both invariants spec-pinned, the values themselves
    * pinned by the hash gate. Completes the measured-quality family:
    * lsh_recall (banding), pq_recall (quantization), this (the probe
    * knob).
    *
    * Only the HEAD probes: serving the whole corpus per leg and then
    * cutting to the head would do Σ n_cell² candidate work per setting —
    * under a frozen quantizer that's quadratic in the corpus, and the
    * first x100 audit of the serve-everything form OOM'd the JVM. The
    * probe side is head-bounded BEFORE the cell join, so each leg is
    * O(head · probed-cell populations) — linear in the corpus — and the
    * result rows are identical (the cut legs were discarded anyway).
    *
    * Reuse: the truth leg (the deliberately-bounded exact scan), the
    * corpus index side, and the head's cell assignment each feed every
    * probe setting's subtree — all three persist operator-scoped.
    */
  def ivfProbeRecall(embeddings: DataFrame, k: Int = 5,
      probes: Seq[Int] = Seq(1, 2, 4),
      maxQueries: Int = MaxBruteForceQueries,
      numCentroids: Int = NumCentroids): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    require(probes.nonEmpty && probes.forall(_ >= 1),
      s"probes must be >= 1, got $probes")
    val truth = CacheScope.selfReleasing(
      bruteForceTopK(embeddings, k, maxQueries)
        .select(col("vec_id"), col("other_id")).withColumn("t", lit(1L)),
      StorageLevel.DISK_ONLY)
    val e = vectorsWithNorm(embeddings)
    val cents = firstNCentroids(e, numCentroids)
    val scored = assignCells(e, cents)
    val indexed = CacheScope.selfReleasing(
      scored.filter(col("crk") === 1)
        .select(col("vec_id").as("other_id"), col("v").as("vb"),
          col("nrm").as("nrm_b"), col("cent_id").as("cluster_b")),
      StorageLevel.DISK_ONLY)
    val headIds = embeddings.orderBy(col("vec_id")).limit(maxQueries)
      .select(col("vec_id"))
    // bounded: maxQueries × numCentroids rows
    val headScored = CacheScope.selfReleasing(
      scored.join(headIds, "vec_id"), StorageLevel.DISK_ONLY)
    probes.map { p =>
      val probeSide = headScored.filter(col("crk") <= p)
        .select(col("vec_id"), col("v"), col("nrm"),
          col("cent_id").as("cluster"))
      val cand = serveAgainst(probeSide, indexed, k)
        .select(col("vec_id"), col("other_id")).withColumn("m", lit(1L))
      truth.join(cand, Seq("vec_id", "other_id"), "full_outer")
        .agg(sum(col("t")).as("n_true"),
          sum(col("m")).as("n_candidates"),
          sum(when(col("t").isNotNull && col("m").isNotNull, 1L)
            .otherwise(0L)).as("n_hit"))
        .withColumn("num_probes", lit(p))
    }.reduce(_ unionByName _)
      .select(col("num_probes"), col("n_true"), col("n_candidates"),
        col("n_hit"))
      .orderBy(col("num_probes"))
  }

  /** Hard-negative mining for contrastive training (the DPR/SimCLR data
    * prep step): per anchor vector, the k most cosine-similar corpus
    * vectors whose LABEL DIFFERS — the negatives a trained encoder finds
    * hardest. Exactly [[annPartners]]' bounded dataflow (IVF-cell
    * blocking, capped index side, map-side window cuts) with a label
    * mismatch predicate in the candidate join: random negatives are free
    * but easy; in-cell high-cosine negatives are the informative ones,
    * and the cell blocking is what keeps "highest cosine among millions
    * of wrong-label vectors" from being a cross join at 100 TB.
    */
  def hardNegatives(embeddings: DataFrame, k: Int = 5,
      numCentroids: Int = NumCentroids, maxCell: Int = 256): DataFrame = {
    require(k >= 1, s"hardNegatives requires k >= 1, got $k")
    // ONE projection carries the label alongside the norm — a join of
    // the corpus against itself just to recover a column it already has
    // is an extra full shuffle at the operator's own 100 TB posture
    VectorFunctions.register(embeddings.sparkSession)
    val e = embeddings
      .select(col("vec_id"), asDouble(col("embedding")).as("v"),
        col("label"))
      .withColumn("nrm", norm(col("v")))
    val assigned = assignCells(e, firstNCentroids(e, numCentroids))
      .filter(col("crk") === 1)
      .select(col("vec_id"), col("v"), col("nrm"), col("label"),
        col("cent_id").as("cluster"))
    val capped = assigned
      .withColumn("cell_rk", row_number().over(
        Window.partitionBy(col("cluster")).orderBy(col("vec_id"))))
      .filter(col("cell_rk") <= maxCell)
      .select(col("vec_id").as("neg_id"), col("v").as("vb"),
        col("nrm").as("nrm_b"), col("label").as("label_b"),
        col("cluster").as("cluster_b"))
    val cand = assigned.join(capped,
        col("cluster") === col("cluster_b") &&
          col("vec_id") =!= col("neg_id") &&
          col("label") =!= col("label_b"))
      .withColumn("cos_e6", floor(dot(col("v"), col("vb")) /
        (col("nrm") * col("nrm_b")) * lit(1000000.0)).cast("long"))
    cand.withColumn("rk", row_number().over(
        Window.partitionBy(col("vec_id"))
          .orderBy(col("cos_e6").desc, col("neg_id"))))
      .filter(col("rk") <= k)
      .select(col("vec_id"), col("label"), col("neg_id"), col("cos_e6"),
        col("rk"))
      .orderBy(col("vec_id"), col("rk"))
  }

  /** Margin-based bitext mining (Artetxe & Schwenk; the CCMatrix recipe):
    * mine translation-pair candidates between a source- and a
    * target-language half of the corpus by MARGIN score — raw cosine
    * divided by the average cosine of each side's k nearest cross-lingual
    * neighbors — which cancels the hubness that makes raw-cosine mining
    * pick the same "central" sentences for everything.
    *
    * Candidates are IVF-cell-blocked cross-language pairs with positive
    * cosine (the quantizer is shared by both sides, so a pair is a
    * candidate iff both land in the same cell — [[annPartners]]' bound
    * applied bilingually). For pair (x, y):
    *   margin = cos(x,y) / ((avgTopK(x) + avgTopK(y)) / 2)
    * where each avg is over that side's k best candidates (fewer if the
    * cell offers fewer). Both averages are ratios of exact e6 integers,
    * so margin_e6 = floor(2e6·cos / (avgF + avgB)) is engine-portable.
    * Emitted: each source doc's best target by (margin desc, tgt_id),
    * kept when margin_e6 clears `minMarginE6` (>1e6 = "closer than the
    * neighborhood average", the paper's operating region).
    *
    * Scale shape: lang arrives by an equi-join from `documents`
    * (doc_id = vec_id); the pair join is cell-blocked AND both language
    * sides are capped at `maxCell` rows per cell (deterministic first-N
    * by id, map-side `WindowGroupLimit`) — the margin windows are
    * per-vector on BOTH axes (forward by src, backward by tgt), so a
    * megacell on either side would otherwise make the candidate join
    * quadratic; the cap bounds it at maxCell² per cell. Inactive at
    * gate scale, mirrored in the oracle. The forward and backward k-NN
    * averages are windows over the capped per-vector candidate sets
    * (cell-bounded, never corpus-sized).
    */
  def bitextMine(documents: DataFrame, embeddings: DataFrame,
      srcLang: String = "en", tgtLang: String = "de", kNN: Int = 4,
      minMarginE6: Long = 1000000L,
      numCentroids: Int = NumCentroids, maxCell: Int = 256): DataFrame = {
    require(kNN >= 1, s"bitextMine requires kNN >= 1, got $kNN")
    // maxCell = 1 is meaningful here (one candidate per side per cell) —
    // unlike the self-join caps, the two sides are disjoint by language
    require(maxCell >= 1, s"bitextMine requires maxCell >= 1, got $maxCell")
    val lang = documents.select(col("doc_id").as("vec_id"), col("lang"))
    val e = vectorsWithNorm(embeddings).join(lang, "vec_id")
      .filter(col("lang").isin(srcLang, tgtLang))
    val assigned = assignCells(e, firstNCentroids(vectorsWithNorm(embeddings),
        numCentroids))
      .filter(col("crk") === 1)
      .select(col("vec_id"), col("v"), col("nrm"), col("lang"),
        col("cent_id").as("cluster"))
    val src = assigned.filter(col("lang") === srcLang)
      .withColumn("cell_rk", row_number().over(
        Window.partitionBy(col("cluster")).orderBy(col("vec_id"))))
      .filter(col("cell_rk") <= maxCell)
      .select(col("vec_id").as("src_id"), col("v").as("va"),
        col("nrm").as("nrm_a"), col("cluster"))
    val tgt = assigned.filter(col("lang") === tgtLang)
      .withColumn("cell_rk", row_number().over(
        Window.partitionBy(col("cluster")).orderBy(col("vec_id"))))
      .filter(col("cell_rk") <= maxCell)
      .select(col("vec_id").as("tgt_id"), col("v").as("vb"),
        col("nrm").as("nrm_b"), col("cluster").as("cluster_b"))
    val cand = src.join(tgt, col("cluster") === col("cluster_b"))
      .withColumn("cos_e6", floor(dot(col("va"), col("vb")) /
        (col("nrm_a") * col("nrm_b")) * lit(1000000.0)).cast("long"))
      .filter(col("cos_e6") > 0)
      .select(col("src_id"), col("tgt_id"), col("cos_e6"))
    val fwd = Window.partitionBy(col("src_id"))
      .orderBy(col("cos_e6").desc, col("tgt_id"))
    val bwd = Window.partitionBy(col("tgt_id"))
      .orderBy(col("cos_e6").desc, col("src_id"))
    val withNN = cand
      .withColumn("frk", row_number().over(fwd))
      .withColumn("brk", row_number().over(bwd))
    val fAvg = withNN.filter(col("frk") <= kNN)
      .groupBy(col("src_id"))
      .agg(sum(col("cos_e6")).as("f_sum"), count(lit(1)).as("f_n"))
    val bAvg = withNN.filter(col("brk") <= kNN)
      .groupBy(col("tgt_id"))
      .agg(sum(col("cos_e6")).as("b_sum"), count(lit(1)).as("b_n"))
    val scored = cand.join(fAvg, "src_id").join(bAvg, "tgt_id")
      .withColumn("margin_e6",
        floor(col("cos_e6") * lit(2000000.0) /
          (col("f_sum").cast("double") / col("f_n") +
            col("b_sum").cast("double") / col("b_n"))).cast("long"))
    scored.withColumn("mrk", row_number().over(
        Window.partitionBy(col("src_id"))
          .orderBy(col("margin_e6").desc, col("tgt_id"))))
      .filter(col("mrk") === 1 && col("margin_e6") >= minMarginE6)
      .select(col("src_id"), col("tgt_id"), col("cos_e6"), col("margin_e6"))
      .orderBy(col("src_id"))
  }
}
