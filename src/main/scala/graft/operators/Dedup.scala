package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication family for the LLM-data-pipeline surface: exact,
  * n-gram-Jaccard, MinHash+LSH, and SimHash near-dup detection over the
  * `documents` table.
  *
  * Everything is built from deterministic, engine-portable primitives
  * (md5, integer bit ops) so each operator has a DuckDB oracle twin — no
  * seeded RNG, no JVM-hash dependence. At 100 TB the shapes hold: shingle
  * explode → hash-partitioned aggregation; the LSH band join only
  * materializes candidate pairs (never the full cross product); exact
  * verification runs on candidates only.
  */
object Dedup {

  /** Exact dedup: group by content hash; canonical = min doc_id (the
    * standard keep-first policy). One shuffle on the hash.
    */
  def exact(documents: DataFrame): DataFrame =
    documents
      .groupBy(md5(col("text").cast("binary")).as("content_md5"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("canonical_id"))
      .orderBy(col("canonical_id"))

  /** Distinct token-trigram shingles per document: (doc_id, shingle).
    * Docs shorter than 3 tokens emit nothing.
    *
    * Implemented as a typed flatMap: the equivalent Catalyst form —
    * explode(array_distinct(transform(sequence(...), concat_ws(
    * element_at...)))) — runs on the INTERPRETED higher-order-function
    * path (HOF lambdas are not whole-stage-codegen'd) and measured 10×
    * slower at sf0.1 (3.5 s vs 0.33 s steady-state), a per-row CPU cost
    * that would dominate every shingle consumer at 100 TB. The flatMap is
    * row-local and partition-preserving (no shuffle), so the plan shape
    * is identical to the explode form — only the per-row engine differs.
    */
  private[graft] def shingles(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    // Widened (Width.spread): the shingle and minhash spans above the
    // documents scan are CPU-heavy, and the exchange moves only
    // (doc_id, text). OPTIMIZATION_r18.md §4.
    Width.spread(documents.select(col("doc_id"), col("text")), "doc_id")
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        // split(" ", -1): KEEP trailing empty tokens — Java's 1-arg split
        // drops them, but both Catalyst's split() and the oracle's
        // string_split keep them, and shingle parity depends on agreeing
        // tokenization; null text emits nothing (the Catalyst form's
        // null-propagation behavior)
        if (text == null) Iterator.empty
        else {
          val t = text.split(" ", -1)
          if (t.length < 3) Iterator.empty
          else t.iterator.sliding(3).withPartial(false)
            .map(s => (id, s.mkString(" "))).distinct
        }
      }.toDF("doc_id", "shingle")
  }

  /** Default stop-shingle cap: shingles appearing in more than this many
    * documents are dropped before the match join (and from the size
    * denominators, so the Jaccard definition stays consistent over the
    * capped shingle space).
    */
  val MaxShingleDocFreq = 100

  /** Exact n-gram Jaccard near-dup pairs: candidate pairs are generated by
    * the shingle-match join (an index join — never a cross product), then
    * scored |A∩B| / (|A|+|B|−|A∩B|).
    *
    * Hot shingles are frequency-capped (stop-shingles): a shingle present
    * in d documents contributes d² candidate rows to the match join, so
    * one ubiquitous trigram at 100 TB degenerates toward all-pairs. Capping
    * document frequency at [[MaxShingleDocFreq]] bounds per-shingle fan-out
    * while keeping the near-dup signal, which lives in *rare* shingles.
    *
    * The capped shingle relation persists DISK_ONLY (no storage-memory
    * pin) through [[CacheScope.persist]].
    */
  def ngramJaccard(documents: DataFrame, threshold: Double = 0.1,
      maxDocFreq: Int = MaxShingleDocFreq): DataFrame = {
    // Document frequency via partial-aggregable groupBy joined back — the
    // passage-operator shape. A `count(*) over Window.partitionBy(shingle)`
    // would colocate EVERY occurrence of a hot stop-shingle in one task
    // BEFORE the cap filter could drop it (window partitions get no
    // map-side combining and are not AQE-splittable); here the hot shingle
    // collapses to one row per map task in the partial aggregate, the cap
    // filter removes it from the join's build side entirely, and the
    // probe side is AQE-skew-splittable.
    //
    // The capped relation feeds three consumers (sizes + both self-join
    // sides), so it persists DISK_ONLY: never a storage-MEMORY pin (the r6
    // objection to `.cache()`), and measured 40% faster than recomputing
    // at sf0.1 (1.72 s vs 2.88 s — BENCH_NOTES r7) because recompute pays
    // a second corpus explode+shuffle. The persist is lazy: its blocks
    // land during the consumer's own action.
    shingleOverlap(documents, maxDocFreq)
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (col("sz_a") + col("sz_b") - col("n_common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("n_common"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Shared shingle-overlap core of [[ngramJaccard]] and
    * [[ngramContainment]]: candidate pairs with intersection counts and
    * both set sizes — the df-capped, DISK_ONLY-persisted dataflow
    * documented on [[ngramJaccard]] (the scaladoc there is the contract).
    */
  private def shingleOverlap(documents: DataFrame,
      maxDocFreq: Int): DataFrame = {
    val base = shingles(documents)
    val capped = base.groupBy(col("shingle"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDocFreq)
      .select(col("shingle"))
    val sh = CacheScope.persist(
      base.join(capped, "shingle").select(col("doc_id"), col("shingle")))
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")), "doc_b")
  }

  /** EXACT set-similarity join by PREFIX FILTERING (r16 — the
    * PPJoin/AllPairs family: Chaudhuri et al. 2006, Xiao et al. 2008):
    * all document pairs whose WORD-SET Jaccard ≥ t, with a candidate
    * set that is provably LOSSLESS yet never enumerates all pairs.
    * This is the exact complement to [[ngramJaccard]]'s df-cap (which
    * trades completeness on hot shingles for boundedness) and to
    * MinHash-LSH (which trades exactness for boundedness): order every
    * token by ascending global document frequency (rarest first, ties
    * by token) and index each document ONLY on its first
    * |s| − ⌈t·|s|⌉ + 1 tokens. The classic pigeonhole argument makes
    * the filter lossless: for any pair with J ≥ t the first-in-order
    * common token sits inside BOTH prefixes, so every qualifying pair
    * shares a prefix token (PipelineSpec pins this against brute
    * force). Hot stop-tokens land at the END of the order — outside
    * almost every prefix — which is what bounds the candidate join
    * without a lossy cap. The PPJoin length filter
    * (⌈t·|longer|⌉ ≤ |shorter|) prunes candidates before verification.
    *
    * All integer: prefix length via (t_e6·sz + 999999) div 1e6,
    * jaccard_e6 = (n_common·1e6) div (sz_a + sz_b − n_common) — the
    * oracle replays the whole chain (class collapse, df order,
    * prefixes, verify) and the spec holds the losslessness claim vs an
    * all-pairs brute force at the class level.
    *
    * Scale shape: one tokenization pass (the per-doc sorted distinct
    * token array is the persisted base everything derives from), one
    * token explode + a df groupBy joined back; the per-doc order window
    * partitions by doc_id (document-length bounded); the candidate
    * self-join touches only prefix tokens and is pruned further by the
    * PPJoin POSITIONAL filter (overlap upper bound at the matching
    * token — lossless for the first common token, which the pigeonhole
    * guarantees is in both prefixes); verification attaches both sides'
    * token arrays by doc-id equi-join and intersects ROW-LOCALLY
    * (array_intersect), never re-exploding tokens through the candidate
    * relation. No window or join ever keys on a hot token's full
    * posting list, and the class collapse (see the inline note) keeps
    * the result set linear in DISTINCT content rather than quadratic in
    * duplicate-class sizes.
    */
  def setsimJoin(documents: DataFrame, thresholdE6: Long = 900000L)
      : DataFrame = {
    require(thresholdE6 >= 1 && thresholdE6 <= 1000000L,
      s"setsimJoin: threshold_e6 in [1, 1e6], got $thresholdE6")
    // sorted_intersect_n used by the verification step below
    graft.functions.VectorFunctions.register(documents.sparkSession)
    // EXACT-CLASS COLLAPSE FIRST (the standard dedup pipeline order,
    // and what keeps the RESULT itself from being quadratic): documents
    // with identical word SETS form one class represented by their
    // min doc_id; the join runs over representatives only and carries
    // each side's class size. Measured necessity, not taste: this
    // corpus's exact-dup classes grow WITH the corpus (sf0.01 max class
    // 29 → sf0.1 max 248), so enumerating doc-level pairs is Θ(class²)
    // — 71k pairs at sf0.01 became a killed >15 min run at sf0.1.
    // Class-level, every qualifying doc pair is still recoverable:
    // intra-class pairs are C(n_docs, 2) at J = 1e6, cross-class pairs
    // expand rep-pair × n_docs_a × n_docs_b.
    // ONE tokenization pass (r17 optimization, guide §2.3/§1.2): the
    // per-doc sorted distinct token ARRAY is computed once and persisted;
    // the signature (class collapse), the df order, the prefixes AND the
    // verification all derive from it — the old shape ran
    // regexp_extract_all over the corpus twice (signature pass + token
    // pass) and re-joined the exploded token relation twice to verify.
    val base = CacheScope.persist(
      documents.select(col("doc_id"),
        array_sort(array_distinct(expr(
          "regexp_extract_all(lower(text), '[a-z0-9]+', 0)"))).as("toks")))
    val sig = base.select(col("doc_id"),
      md5(array_join(col("toks"), " ")).as("sg"))
    val reps = sig.groupBy(col("sg"))
      .agg(min(col("doc_id")).as("rep_id"), count(lit(1)).as("n_docs"))
    // representative docs with their token arrays + set size; consumed by
    // the prefix build and twice by the verify join — document-count
    // sized with document-length-bounded rows
    val repArr = CacheScope.persist(
      base.join(reps.select(col("rep_id").as("doc_id"), col("n_docs")),
          "doc_id")
        .select(col("doc_id"), col("n_docs"), col("toks"),
          size(col("toks")).cast("long").as("sz")))
    val tok = repArr.select(col("doc_id"), col("n_docs"), col("sz"),
      explode(col("toks")).as("token"))
    val dfreq = tok.groupBy(col("token")).agg(count(lit(1)).as("df"))
    // sz rides along from repArr — the old count-over-doc window is gone
    val ordered = tok.join(dfreq, "token")
      .withColumn("pos", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
          .orderBy(col("df"), col("token"))))
    // prefix carries only what the candidate join's predicates read —
    // n_docs re-attaches from repArr during verification, which joins
    // repArr anyway. Persisted: both sides of the self-join consume it,
    // and without the cut each side re-runs the dfreq aggregate + the
    // per-doc order window.
    //
    // Widened (Width.spread): the candidate join broadcasts one prefix
    // side and streams the other, and the verify joins broadcast repArr,
    // so the probe side's partitioning IS the parallelism of the whole
    // generate→verify→intersect span, which fans out ~200× before any
    // byte hits a shuffle (OPTIMIZATION_r18.md §1).
    val prefix = CacheScope.persist(Width.spread(ordered
      .filter(col("pos") <=
        col("sz") - expr(s"($thresholdE6 * sz + 999999) div 1000000") + 1)
      .select(col("doc_id"), col("token"), col("pos"), col("sz")),
      "doc_id"))
    // minimum overlap o_min implied by J >= t: o·1e6 div (sza+szb−o) >= t
    // ⟺ o >= ceil(t·(sza+szb) / (1e6+t)) — exact integer ceiling
    val oMin = s"($thresholdE6 * (a.sz + b.sz) + ${1000000L + thresholdE6}" +
      s" - 1) div ${1000000L + thresholdE6}"
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.token") === col("b.token") &&
          col("a.doc_id") < col("b.doc_id") &&
          // length filter: t·|longer| ≤ |shorter| or J < t
          expr(s"($thresholdE6 * greatest(a.sz, b.sz) + 999999) div 1000000")
            <= least(col("a.sz"), col("b.sz")) &&
          // PPJoin POSITIONAL filter (Xiao et al. 2008 §3.2, r17
          // optimization): the global (df, token) order makes each doc's
          // token sequence a subsequence of one total order, so for the
          // FIRST common token all other common tokens sit after it in
          // BOTH sequences — overlap ≤ 1 + min(remaining_a, remaining_b).
          // Lossless: a qualifying pair's first common token is in both
          // prefixes (the pigeonhole) and satisfies this bound, so that
          // row survives even when later shared prefix tokens are pruned.
          // Measured at sf0.1: 2.07M candidate pairs → 0.48M.
          lit(1) + least(col("a.sz") - col("a.pos"),
            col("b.sz") - col("b.pos")) >= expr(oMin))
      // r18 (guide §2.3 shuffle keys, not payloads): the candidate
      // relation is just the doc-id pairs — everything else re-attaches
      // from repArr below. The r17 shape carried 6 columns through a
      // 1.9M-row distinct BEFORE verification; the distinct now runs
      // AFTER the jaccard cut, over the (tiny) qualifying set, and the
      // ~12% duplicate candidates just re-verify (the verify row is 20×
      // cheaper than a wide-row exchange slot, see below)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    // VERIFY row-locally (r17 optimization, guide §2.3): attach both
    // sides' token arrays (two doc-id equi-joins onto the bounded repArr
    // relation) and intersect in place — the old shape re-exploded the
    // token relation through the candidate set (candidates × doc-length
    // rows through two exchanges + a wide groupBy; 19.2 s of this row's
    // 18.8 s sat there at sf0.1). r18: the intersect is the codegen'd
    // sorted-merge sorted_intersect_n — size(array_intersect(..)) built a
    // hash set and boxed every token per row and was 8.2 s of the 18.7 s
    // total at sf0.1 for the 1.7M verify rows; the merge count is exact
    // on the array_sort(array_distinct(..)) token sets.
    // the narrow persist below is a PLAN CUT, not a reuse cache: without
    // it the optimizer pushes the jaccard filter into the second join's
    // condition and the intersect evaluates THREE times per candidate
    // (twice in the SMJ predicate + once in the project — read off the
    // executed plan; with array_intersect that triple-eval WAS r17's
    // 18.7 s). The cache boundary materializes n_common once and the
    // token arrays die at it — the filter/distinct/orderBy tail reads
    // 7 scalar columns, and orderBy's range-sampling pass re-reads the
    // cache instead of re-running the joins.
    val inter = CacheScope.persist(cand
      .join(repArr.select(col("doc_id").as("doc_a"), col("sz").as("sz_a"),
        col("n_docs").as("n_docs_a"), col("toks").as("toks_a")), "doc_a")
      .join(repArr.select(col("doc_id").as("doc_b"), col("sz").as("sz_b"),
        col("n_docs").as("n_docs_b"), col("toks").as("toks_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("sz_a"), col("sz_b"),
        col("n_docs_a"), col("n_docs_b"),
        graft.functions.VectorFunctions
          .sortedIntersectN(col("toks_a"), col("toks_b")).as("n_common")))
    inter
      .withColumn("jaccard_e6",
        expr("(n_common * 1000000) div (sz_a + sz_b - n_common)"))
      .filter(col("jaccard_e6") >= thresholdE6)
      .select(col("doc_a"), col("doc_b"), col("sz_a"), col("sz_b"),
        col("n_docs_a"), col("n_docs_b"), col("n_common"),
        col("jaccard_e6"))
      .distinct()
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** N-gram CONTAINMENT pairs — the asymmetric overlap measure
    * (Broder): C = |A∩B| / min(|A|,|B|), i.e. the fraction of the
    * SMALLER document's shingles found in the other. This is the
    * doc-in-doc detector Jaccard structurally misses: a short document
    * fully embedded in a long one (quote farms, boilerplate wrappers,
    * sub-document contamination) has tiny Jaccard (union is dominated
    * by the long doc) but containment 1.0. Same capped, persisted,
    * window-free dataflow as [[ngramJaccard]] — only the denominator
    * differs; same scoped persist.
    */
  def ngramContainment(documents: DataFrame, threshold: Double = 0.5,
      maxDocFreq: Int = MaxShingleDocFreq): DataFrame =
    shingleOverlap(documents, maxDocFreq)
      .withColumn("containment",
        col("n_common").cast("double") /
          least(col("sz_a"), col("sz_b")).cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("n_common"), col("containment"))
      .orderBy(col("doc_a"), col("doc_b"))

  val NumHashes = 16
  val NumBands = 4 // 4 rows per band

  /** The LSH S-curve made executable: with `bands` bands of `rows` rows,
    * a pair at Jaccard similarity s collides in ≥1 band with probability
    * 1 − (1 − s^rows)^bands, and the curve's inflection ("threshold") sits
    * at (1/bands)^(1/rows). The defaults (4 bands × 4 rows) put the
    * threshold at ~0.71 similarity; more bands lower it (higher recall,
    * more candidates), more rows raise it. This is [[minhashLsh]]'s scale
    * knob, the MinHash counterpart of Similarity.planesFor: pick the band
    * count whose threshold sits just below the near-dup similarity you
    * must not miss, and candidate volume stays proportional to TRUE
    * near-dup density instead of corpus size².
    */
  def lshThreshold(bands: Int = NumBands,
      rows: Int = NumHashes / NumBands): Double = {
    require(bands >= 1 && rows >= 1)
    math.pow(1.0 / bands, 1.0 / rows)
  }

  /** Band count whose S-curve threshold is ≤ `targetJaccard` given `rows`
    * rows per band (total hashes = bands·rows): the smallest banding that
    * still catches pairs at the target similarity with high probability.
    * Clamped to 64 bands — targets below (1/64)^(1/rows) need FEWER rows
    * per band (shorter signatures), not more bands.
    */
  def bandsFor(targetJaccard: Double,
      rows: Int = NumHashes / NumBands): Int = {
    require(targetJaccard > 0.0 && targetJaccard < 1.0 && rows >= 1)
    val b = math.ceil(1.0 / math.pow(targetJaccard, rows)).toInt
    math.max(1, math.min(b, 64))
  }

  /** Modulus for the universal-hash minhash family (fits all operands in
    * positive long range: h < 16^14 ≈ 7.2e16, a_k ≤ 33 → a_k·h < 2^62).
    */
  val MinhashP = 1000000007L
  private[graft] def minhashA(k: Int): Long = 2L * k + 3L
  private[graft] def minhashB(k: Int): Long = 104729L * k + 12345L

  /** Wide MinHash signatures: (doc_id, mh0..mh15). ONE md5 per shingle
    * (hex prefix → 56-bit integer, portable via DuckDB's '0x' cast /
    * Spark's conv) and 16 arithmetic universal hashes (a_k·h + b_k mod p)
    * as parallel `min` aggregates — one hash-partitioned aggregation, no
    * 16× md5 cost and no 16× shuffle-volume blowup.
    */
  private[graft] def minhashWide(sh: DataFrame): DataFrame = {
    val h = conv(substring(md5(col("shingle").cast("binary")), 1, 14), 16, 10)
      .cast("long")
    sh.withColumn("h", h)
      .groupBy(col("doc_id"))
      .agg(
        min((col("h") * minhashA(0) + minhashB(0)) % MinhashP).as("mh0"),
        (1 until NumHashes).map(k =>
          min((col("h") * minhashA(k) + minhashB(k)) % MinhashP).as(s"mh$k")): _*)
  }

  /** MinHash + LSH near-dup pairs: band signature = md5 of the band's 4
    * minhashes in k order; candidates = pairs sharing any band bucket
    * (self-join on (band, sig) — only bucket collisions materialize);
    * est_jaccard = fraction of the 16 minhashes that agree. Pairs with
    * est_jaccard ≥ threshold survive. Holds no cache — see the r12 note
    * inside [[minhashLsh]].
    */
  private val rowsPerBand = NumHashes / NumBands
  private val bandCols = (0 until rowsPerBand).map(r => s"b$r")

  /** LSH band rows from a wide signature relation: one row per
    * (doc, band) carrying the band's raw minhash ints — the equi-join
    * key IS the band signature, no extra hashing needed. `extra` names
    * columns of `mh` carried through unchanged (the self-join form rides
    * the full signature along so nothing joins back to the signature
    * relation afterwards).
    */
  private[graft] def bandRows(mh: DataFrame,
      extra: Seq[String] = Nil): DataFrame =
    mh.select((col("doc_id") +: extra.map(col)) :+
        explode(array((0 until NumBands).map { b =>
          struct(lit(b).as("band") +:
            (0 until rowsPerBand).map(r =>
              col(s"mh${b * rowsPerBand + r}").as(s"b$r")): _*)
        }: _*)).as("bs"): _*)
      .select((col("doc_id") +: extra.map(col)) ++
        (col("bs.band").as("band") +:
          bandCols.map(c => col(s"bs.$c").as(c))): _*)

  /** Default hot-bucket cap for the LSH band self-join — the same
    * constant [[simhashPartners]] uses, and the same argument: a band
    * bucket past this size carries no discriminative signal for its
    * members (every member of a large dup class shares every band), and
    * an UNCAPPED band self-join is Σ n_bucket² candidates — the exact
    * arithmetic the r11 x100 probe showed OOMs a duplicate-heavy corpus
    * before any downstream filter can help. Recall past the cut comes
    * from the other bands: a capped-out member still joins through any
    * band whose bucket is sane, and transitively through the
    * connected-components step for the cluster products.
    */
  val MaxBandBucket = 64

  def minhashLsh(documents: DataFrame, threshold: Double = 0.25,
      maxBucket: Int = MaxBandBucket): DataFrame =
    minhashScoredPairs(documents, threshold, maxBucket)
      .orderBy(col("doc_a"), col("doc_b"))

  /** The shared capped-candidate → estimated-Jaccard core of
    * [[minhashLsh]] (undirected `doc_a < doc_b` pairs, no presentation
    * sort) — also the pair source [[minhashPartners]] re-ranks.
    */
  private def minhashScoredPairs(documents: DataFrame, threshold: Double,
      maxBucket: Int): DataFrame = {
    require(maxBucket >= 2,
      s"minhash LSH requires maxBucket >= 2, got $maxBucket")
    import org.apache.spark.sql.expressions.Window
    // The operator holds NO cache (r12: the earlier DISK_ONLY persist of
    // the signature relation is gone, and with it the caller-side
    // clearCache contract). Reuse is structural instead:
    //  - each band row CARRIES its doc's full 16-int signature, so the
    //    post-candidate joins back to the signature relation (the former
    //    2nd and 3rd consumers) don't exist — est_jaccard is computed
    //    inline from the carried arrays;
    //  - the band self-join's two branches shuffle on identical keys over
    //    an identical subtree, so Catalyst's ReuseExchange computes the
    //    shingle→minhash pipeline ONCE and reads the shuffle twice
    //    (plan-pinned in PlanSpec). Carried-signature shuffle cost:
    //    16 longs per band row, candidate-bounded after the bucket cap.
    val mh = minhashWide(shingles(documents))
    val sig = array((0 until NumHashes).map(k => col(s"mh$k")): _*)
    val bands = bandRows(mh.withColumn("sig", sig)
        .select((col("doc_id") +: col("sig") +:
          (0 until NumHashes).map(k => col(s"mh$k"))): _*), extra = Seq("sig"))
    // deterministic first-maxBucket-by-doc_id cut per band bucket BEFORE
    // the self-join (the partnersFromFingerprints discipline): join
    // volume is hard-bounded at Σ min(n_bucket, maxBucket)². The cut is
    // a rank-limit window over corpus-cardinality keys, so it rides
    // map-side WindowGroupLimit (plan-pinned) — no pre-shuffle of the
    // uncut band relation. The oracle replays the identical cut
    // (QUALIFY row_number), so capped results stay hash-checkable.
    val wb = Window
      .partitionBy((col("band") +: bandCols.map(col)): _*)
      .orderBy(col("doc_id"))
    val capped = bands
      .withColumn("bkt_rk", row_number().over(wb))
      .filter(col("bkt_rk") <= maxBucket)
      .drop("bkt_rk")
    val candidates = capped.as("x").join(capped.as("y"),
        bandCols.foldLeft(
          col("x.band") === col("y.band") && col("x.doc_id") < col("y.doc_id")) {
          (cond, c) => cond && col(s"x.$c") === col(s"y.$c")
        })
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.sig").as("sig_a"), col("y.sig").as("sig_b"))
      .distinct()
    val agree = (0 until NumHashes)
      .map(k => when(col("sig_a").getItem(k) === col("sig_b").getItem(k), 1)
        .otherwise(0))
      .reduce(_ + _)
    candidates
      .withColumn("est_jaccard", agree.cast("double") / lit(NumHashes.toDouble))
      .filter(col("est_jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"))
  }

  /** The BOUNDED MinHash near-dup product — [[simhashPartners]]'
    * two-axis discipline applied to the Jaccard modality: per document,
    * its `k` nearest partners by estimated Jaccard (ties to the smaller
    * partner id). Candidates come from the SAME hot-bucket-capped band
    * join as [[minhashLsh]] (Σ min(n_bucket, maxBucket)² hard bound),
    * and the per-doc rank cut bounds output at k·n rows — both axes
    * bounded no matter how large duplicate classes grow. The rank
    * window partitions on corpus-cardinality doc_id, so it rides
    * map-side WindowGroupLimit over the candidate-bounded pair set.
    */
  def minhashPartners(documents: DataFrame, threshold: Double = 0.25,
      k: Int = 5, maxBucket: Int = MaxBandBucket): DataFrame = {
    require(k >= 1, s"minhashPartners requires k >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    val und = minhashScoredPairs(documents, threshold, maxBucket)
    val directed = und.select(col("doc_a").as("doc_id"),
        col("doc_b").as("partner_id"), col("est_jaccard"))
      .unionAll(und.select(col("doc_b").as("doc_id"),
        col("doc_a").as("partner_id"), col("est_jaccard")))
    directed
      .withColumn("rk", row_number().over(Window.partitionBy(col("doc_id"))
        .orderBy(col("est_jaccard").desc, col("partner_id"))).cast("long"))
      .filter(col("rk") <= k)
      .orderBy(col("doc_id"), col("rk"))
  }

  /** INCREMENTAL near-dup detection — the continuous-ingestion shape:
    * dedupe an incoming batch against an EXISTING corpus without ever
    * joining the corpus to itself. Each batch doc that LSH-collides with
    * any base doc and clears the estimated-Jaccard threshold reports its
    * best base match (highest est_jaccard, ties to the smallest base
    * doc_id — deterministic at any partitioning).
    *
    * Scale shape: the base side is the signature/band index — at 100 TB
    * it is built ONCE and PERSISTED bucketed on the band signature (the
    * [[graft.sources.TableSink]] + `ann_ivf_persisted` discipline:
    * build-once/probe-many), so per-batch cost is batch-bands × a
    * pre-partitioned probe join, never a base×base or base-rescan term;
    * here both sides derive from one `documents` relation to stay
    * oracle-checkable. Batch-internal duplicates are deliberately out of
    * scope (run [[minhashLsh]] on the batch — it is batch-sized);
    * base/batch doc_id sets must be disjoint. The verification join
    * touches base signatures only for docs that collided (candidate-
    * sized, not base-sized). Best-match reduction is two partial-
    * aggregable groupBys over the matched relation — no per-doc window.
    */
  def minhashIncremental(base: DataFrame, batch: DataFrame,
      threshold: Double = 0.25): DataFrame = {
    // DISK_ONLY per the house rule — the base signature relation is
    // corpus-proportional (see minhashLsh; BENCH_NOTES r9 measurement)
    val baseMh = CacheScope.persist(minhashSignatures(base))
    minhashProbeIndex(batch, minhashBandIndex(baseMh), baseMh, threshold)
  }

  /** The PERSISTABLE halves of the incremental-dedup base index: wide
    * signatures `(doc_id, mh0..mh15)` and band rows
    * `(dup_of, band, b0..b3)`. Write both once via
    * [[graft.sources.TableSink]] (bands bucketed on a band hash,
    * signatures on doc_id) and serve every future batch from the tables
    * — the build-once/probe-many `ann_ivf_persisted` discipline applied
    * to dedup, which is what turns [[minhashIncremental]]'s in-flight
    * base build into true incremental view maintenance across sessions.
    */
  def minhashSignatures(docs: DataFrame): DataFrame =
    minhashWide(shingles(docs))

  def minhashBandIndex(sigs: DataFrame): DataFrame =
    bandRows(sigs).toDF(("dup_of" +: "band" +: bandCols): _*)

  /** Probe a batch against a PREBUILT base index (the two relations of
    * [[minhashSignatures]]/[[minhashBandIndex]], in-flight or read back
    * from persisted tables). Same candidate → verify → best-match
    * dataflow as [[minhashIncremental]] — that entry point is now a
    * build-then-probe wrapper — so persisted serving is bit-identical to
    * in-flight serving by construction.
    */
  def minhashProbeIndex(batch: DataFrame, baseBands: DataFrame,
      baseSigs: DataFrame, threshold: Double = 0.25): DataFrame = {
    val batchMh = CacheScope.persist(minhashSignatures(batch))
    val candidates = bandRows(batchMh).as("x").join(baseBands.as("y"),
        bandCols.foldLeft(col("x.band") === col("y.band")) {
          (cond, c) => cond && col(s"x.$c") === col(s"y.$c")
        })
      .select(col("x.doc_id").as("doc_id"), col("y.dup_of").as("dup_of"))
      .distinct()
    val left = batchMh.toDF(batchMh.columns.toIndexedSeq
      .map(c => if (c == "doc_id") "doc_id" else s"a_$c"): _*)
    val right = baseSigs.toDF(baseSigs.columns.toIndexedSeq
      .map(c => if (c == "doc_id") "dup_of" else s"b_$c"): _*)
    val agree = (0 until NumHashes)
      .map(k => when(col(s"a_mh$k") === col(s"b_mh$k"), 1).otherwise(0))
      .reduce(_ + _)
    val matched = candidates.join(left, Seq("doc_id")).join(right, Seq("dup_of"))
      .withColumn("est_jaccard", agree.cast("double") / lit(NumHashes.toDouble))
      .filter(col("est_jaccard") >= threshold)
      .select(col("doc_id"), col("dup_of"), col("est_jaccard"))
    // best match per batch doc: max est (exact multiples of 1/16, so the
    // equality join-back is safe), then min base id among the tied best
    val best = matched.groupBy(col("doc_id"))
      .agg(max(col("est_jaccard")).as("est_jaccard"))
    matched.join(best, Seq("doc_id", "est_jaccard"))
      .groupBy(col("doc_id"), col("est_jaccard"))
      .agg(min(col("dup_of")).as("dup_of"))
      .select(col("doc_id"), col("dup_of"), col("est_jaccard"))
      .orderBy(col("doc_id"))
  }

  /** Near-dup CLUSTERING: connected components over a candidate-pair
    * relation (doc_a, doc_b) → (doc_id, cluster_id) with cluster_id =
    * the smallest doc_id reachable through pair edges. This is the step
    * after pair detection in a dedup pipeline: every member of a dup
    * cluster maps to one canonical id, so "keep canonical, drop rest" is
    * a single filter.
    *
    * Algorithm: iterative min-label propagation (each round every node
    * takes the min label in its neighborhood, then pointer-jumps through
    * its label's own label), run to a fixpoint by [[Fixpoint]]. Labels
    * only decrease over a finite id set, so the loop stops; pointer
    * jumping halves chains every round, so it takes O(log diameter)
    * rounds — near-dup clusters are small and dense, a few distributed
    * joins. The maxRounds guard turns a pathological chain into an error
    * rather than an endless job. The labels are served from the result
    * persist until the caller's scope closes; they feed both cluster
    * consumers (labels and the sizes join-back).
    */
  def nearDupClusters(pairs: DataFrame, maxRounds: Int = 20): DataFrame =
    Fixpoint("nearDupClusters", maxRounds,
        stuck = s"nearDupClusters did not converge in $maxRounds rounds") { fp =>
      // ONE scan of the (possibly expensive) pair relation: each pair row
      // explodes into both edge directions — the earlier self-union form
      // evaluated the whole upstream candidate build twice before the
      // cache could help. An edge relation is corpus-sized and must not
      // pin storage memory, so it holds at DISK_ONLY.
      val edges = fp.hold(pairs.select(explode(array(
          struct(col("doc_a").as("src"), col("doc_b").as("dst")),
          struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
        .distinct())
      // seed each node at min(self, direct neighbors) — one aggregation
      // over the edge list, equivalent to a free first propagation round
      val seed = edges.groupBy(col("src"))
        .agg(min(col("dst")).as("mn"))
        .select(col("src").as("doc_id"),
          least(col("src"), col("mn")).as("cluster_id"))
      fp.converge(seed, "cluster_id") { labels =>
        // each node adopts min(own label, neighbors' labels) ...
        val viaNeighbors = edges
          .join(labels.withColumnRenamed("doc_id", "dst"), "dst")
          .groupBy(col("src").as("doc_id"))
          .agg(min(col("cluster_id")).as("n_min"))
        // referenced twice by the pointer-jump self-join; it lives for
        // this round only, so MEMORY_AND_DISK spills rather than paying
        // a synchronous disk round-trip per round
        val prop = fp.hold(labels.join(viaNeighbors, Seq("doc_id"), "left")
          .select(col("doc_id"),
            least(col("cluster_id"), coalesce(col("n_min"), col("cluster_id")))
              .as("new_label"),
            col("cluster_id").as("old")),
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // ... then pointer-jumps through its label's own label (path
        // compression): chains halve every round, so convergence takes
        // O(log diameter) rounds instead of diameter — the difference
        // between 4 and 20 shuffle rounds on a stringy component.
        prop
          .join(prop.select(col("doc_id").as("new_label"),
            col("new_label").as("jump")), Seq("new_label"), "left")
          .select(col("doc_id"),
            coalesce(col("jump"), col("new_label")).as("cluster_id"),
            col("old"))
      }.orderBy(col("doc_id"))
    }

  /** The dedup endpoint: drop every non-canonical member of a near-dup
    * cluster, keep everything else. Broadcast-able anti-join — the
    * drop-set is |cluster members| − |clusters|, tiny relative to the
    * corpus even when the pair graph is large.
    */
  def keepCanonical(documents: DataFrame, pairs: DataFrame): DataFrame = {
    val drop = nearDupClusters(pairs)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"))
    documents.join(drop, Seq("doc_id"), "left_anti")
  }

  /** QUALITY-AWARE canonical selection — what production dedup actually
    * keeps: per near-dup cluster, the member maximizing `qualityCol`
    * (ties to the smallest doc_id), not the arbitrary min-id member
    * [[keepCanonical]] retains. The argmax is a partial-aggregable
    * `max(struct(quality, -doc_id))` per cluster — NEVER a per-cluster
    * rank window, so a web-scale megacluster (identical boilerplate in
    * 10⁸ docs) aggregates map-side instead of colocating in one window
    * task. Singleton documents (no near-dup edge) keep themselves via
    * the left-join label fallback.
    */
  def keepBest(documents: DataFrame, pairs: DataFrame,
      qualityCol: String = "n_chars"): DataFrame = {
    val labeled = documents.join(
        nearDupClusters(pairs).select(col("doc_id"), col("cluster_id")),
        Seq("doc_id"), "left")
      .withColumn("cid", coalesce(col("cluster_id"), col("doc_id")))
    val best = labeled.groupBy(col("cid"))
      .agg(max(struct(col(qualityCol).as("q"), (-col("doc_id")).as("nid")))
        .as("b"))
      .select((-col("b.nid")).as("doc_id"))
    documents.join(best, Seq("doc_id"), "left_semi")
  }

  /** Preference-pair construction for reward-model / DPO data prep: per
    * near-dup cluster, (chosen, rejected) = (the quality argmax, the
    * quality argmin) — both ends the SAME content, so the contrast the
    * pair teaches is quality, not topic (the within-cluster trick used
    * when mining preference data from crawl near-dups). Equal-quality
    * extremes emit nothing (a tie teaches nothing), which also drops
    * singleton clusters for free.
    *
    * Deterministic ends: chosen = smallest doc_id at max quality,
    * rejected = LARGEST doc_id at min quality (opposite tie-breaks, so a
    * 2-member uniform-quality cluster resolves to distinct ends before
    * the tie filter removes it). Both argmaxes are partial-aggregable
    * struct extremes in ONE groupBy — never a per-cluster window, so a
    * boilerplate megacluster aggregates map-side ([[keepBest]]'s
    * discipline, both ends in one pass).
    */
  def preferencePairs(documents: DataFrame, pairs: DataFrame,
      qualityCol: String = "n_chars"): DataFrame = {
    val labeled = documents.join(
        nearDupClusters(pairs).select(col("doc_id"), col("cluster_id")),
        Seq("doc_id"), "left")
      .withColumn("cid", coalesce(col("cluster_id"), col("doc_id")))
    labeled.groupBy(col("cid"))
      .agg(
        max(struct(col(qualityCol).as("q"), (-col("doc_id")).as("nid")))
          .as("b"),
        min(struct(col(qualityCol).as("q"), (-col("doc_id")).as("nid")))
          .as("w"))
      .select(col("cid").as("cluster_id"),
        (-col("b.nid")).as("chosen_id"), col("b.q").as("chosen_q"),
        (-col("w.nid")).as("rejected_id"), col("w.q").as("rejected_q"))
      .filter(col("chosen_q") > col("rejected_q"))
      .orderBy(col("cluster_id"))
  }

  /** N-gram novelty curve — the dedup-diagnostics relation a curation
    * dashboard reads to decide WHETHER dedup is worth running: per
    * document (in doc_id ingestion order), its distinct 3-gram shingle
    * count, how many of those the corpus has never seen before
    * (first-owner = this doc), and the running total of novel shingles.
    * A corpus whose cum_novel flattens early is duplicate-heavy.
    *
    * Scale shape: first ownership is a partial-aggregable min per
    * shingle TYPE; the per-doc stats are one equi-join on the shingle
    * (uniform text key) + a doc_id combine; and the cumulative curve is
    * the window-free [[ExactRank.exactPrefixSum]] — never a one-task
    * global ORDER BY window. Documents with fewer than 3 tokens emit no
    * shingles and no row (the shingle relation's own contract).
    */
  def ngramCoverage(documents: DataFrame): DataFrame = {
    val sh = shingles(documents)
    val owner = sh.groupBy(col("shingle")).agg(min(col("doc_id")).as("owner"))
    val per = sh.join(owner, "shingle")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("owner") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
    ExactRank.exactPrefixSum(per.withColumn("g", lit(0)), Seq("g"),
        Seq("doc_id"), "n_novel", beforeCol = "before", totalCol = "tot",
        maxGroups = 1)
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        (col("before") + col("n_novel")).as("cum_novel"))
      .orderBy(col("doc_id"))
  }

  /** Index-quality audit: MinHash+LSH candidates measured against the
    * exact n-gram-Jaccard ground truth at `truthThreshold` — the
    * "measure, don't guess" discipline as a first-class relation. One
    * full outer join on the pair key feeds ONE aggregation (n_true,
    * n_candidates, n_hit), so each side is traversed once; both sides are
    * deterministic (md5 minhashes, exact shingle counts), which is what
    * makes the three counts oracle-exact rather than structural booleans.
    * Recall interpretation: [[lshThreshold]] puts the 4×4 banding
    * S-curve's inflection at ~0.71, so truth pairs well above it should
    * be hit with high probability and pairs below it are best-effort.
    *
    * Both inputs manage their own reuse ([[ngramJaccard]]'s scoped
    * shingle persist; [[minhashLsh]] holds no cache at all).
    */
  def lshRecall(documents: DataFrame,
      truthThreshold: Double = 0.5): DataFrame = {
    val truth = ngramJaccard(documents, threshold = truthThreshold)
      .select(col("doc_a"), col("doc_b")).withColumn("t", lit(1L))
    val cand = minhashLsh(documents)
      .select(col("doc_a"), col("doc_b")).withColumn("c", lit(1L))
    truth.join(cand, Seq("doc_a", "doc_b"), "full_outer")
      .agg(sum(col("t")).as("n_true"),
        sum(col("c")).as("n_candidates"),
        sum(when(col("t").isNotNull && col("c").isNotNull, 1L)
          .otherwise(0L)).as("n_hit"))
  }

  /** Empirical LSH S-CURVE — [[lshRecall]] generalized across banding
    * configs (the ivf_probe_recall analogue for the dedup knob): one row
    * per (bands, rows) arrangement of the SAME 16-hash signatures, with
    * the config's analytic threshold ((1/b)^(1/r), e6-floored) beside
    * the MEASURED candidate volume and recall against the exact-Jaccard
    * ground truth. More bands → lower threshold → more candidates /
    * higher recall; the curve is what a dedup team reads to pick the
    * banding whose threshold sits just under the near-dup similarity
    * they must not miss ([[bandsFor]]'s empirical justification).
    *
    * Scale shape: ground truth and the signature relation each compute
    * ONCE (persisted DISK_ONLY, operator-scoped, one consumer per
    * config); each config's candidates are the capped band self-join
    * of [[minhashLsh]] — join volume Σ min(n_bucket, maxBucket)² per
    * band — with NO est-Jaccard filter, because the S-curve measures
    * raw collision behavior. Config count is a constant; the curve's
    * cost is configs × the one-config cost.
    */
  def lshScurve(documents: DataFrame,
      configs: Seq[(Int, Int)] = Seq((2, 8), (4, 4), (8, 2)),
      truthThreshold: Double = 0.5,
      maxBucket: Int = MaxBandBucket): DataFrame = {
    require(configs.nonEmpty && configs.forall { case (b, r) =>
      b >= 1 && r >= 1 && b * r == NumHashes },
      s"each config must arrange all $NumHashes hashes")
    val truth = CacheScope.persist(
      ngramJaccard(documents, threshold = truthThreshold)
        .select(col("doc_a"), col("doc_b")).withColumn("t", lit(1L)))
    val mh = CacheScope.persist(minhashWide(shingles(documents)))
    configs.map { case (b, r) =>
      lshCandidatesFor(mh, b, r, maxBucket)
        .withColumn("c", lit(1L))
        .join(truth, Seq("doc_a", "doc_b"), "full_outer")
        .agg(lit(b).as("bands"), lit(r).as("rows_per_band"),
          lit(math.floor(lshThreshold(b, r) * 1e6).toLong)
            .as("threshold_e6"),
          sum(col("t")).as("n_true"),
          sum(col("c")).as("n_candidates"),
          sum(when(col("t").isNotNull && col("c").isNotNull, 1L)
            .otherwise(0L)).as("n_hit"))
    }.reduce(_.unionByName(_)).orderBy(col("bands"))
  }

  /** Capped band-collision pairs for an arbitrary (bands, rows)
    * arrangement of the wide signature — [[minhashScoredPairs]]'
    * candidate stage parameterized by config: band i's key is minhashes
    * [i·rows, (i+1)·rows), buckets cut to `maxBucket` members by doc_id
    * (map-side WindowGroupLimit) before the self-join.
    */
  private def lshCandidatesFor(mh: DataFrame, bands: Int, rows: Int,
      maxBucket: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bcols = (0 until rows).map(r => s"b$r")
    val bandRel = mh.select(col("doc_id"),
        explode(array((0 until bands).map { b =>
          struct(lit(b).as("band") +:
            (0 until rows).map(r =>
              col(s"mh${b * rows + r}").as(s"b$r")): _*)
        }: _*)).as("bs"))
      .select(col("doc_id") +: (col("bs.band").as("band") +:
        bcols.map(c => col(s"bs.$c").as(c))): _*)
    val wb = Window.partitionBy((col("band") +: bcols.map(col)): _*)
      .orderBy(col("doc_id"))
    val capped = bandRel.withColumn("bkt_rk", row_number().over(wb))
      .filter(col("bkt_rk") <= maxBucket).drop("bkt_rk")
    capped.as("x").join(capped.as("y"),
        bcols.foldLeft(col("x.band") === col("y.band") &&
          col("x.doc_id") < col("y.doc_id")) { (cond, c) =>
          cond && col(s"x.$c") === col(s"y.$c") })
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  val SimhashBits = 64

  /** SimHash fingerprints: 64 bits packed as 4×16-bit integer chunks
    * (bit_count(xor) gives Hamming distance). Sign rule: bit = 1 iff the
    * (+1/−1) vote sum over distinct tokens is > 0; bit b of a token's
    * md5 is bit b%4 of hex-nibble b/4 (the exact semantics the oracle's
    * `hx` CTE replicates in SQL).
    *
    * SimHash is DOC-LOCAL — every vote for a document comes from its own
    * row — so the fingerprint is computed in a row-local mapPartitions
    * loop (one reused MessageDigest per partition, tight integer bit
    * math): no token explode, no shuffle at all before the output sort.
    * The earlier 64-wide conditional aggregation shuffled one row per
    * (doc, distinct token) and evaluated 64 interpreted when()s per row;
    * at 100 TB the shuffle alone disqualifies it for a per-document
    * projection. Same discipline as [[shingles]].
    */
  def simhash(documents: DataFrame): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val seen = new scala.collection.mutable.HashSet[String]
        it.flatMap { case (id, text) =>
          if (text == null) Iterator.empty
          else {
            // split(" ", -1): keep trailing empty tokens (Catalyst/oracle
            // tokenization parity, as in shingles)
            val votes = new Array[Int](SimhashBits)
            seen.clear()
            text.split(" ", -1).foreach { tok =>
              if (seen.add(tok)) {
                val d = md.digest(
                  tok.getBytes(java.nio.charset.StandardCharsets.UTF_8))
                var b = 0
                while (b < SimhashBits) {
                  val nib = b / 4
                  val hv =
                    if (nib % 2 == 0) (d(nib / 2) >> 4) & 0xF
                    else d(nib / 2) & 0xF
                  if (((hv >> (b % 4)) & 1) == 1) votes(b) += 1
                  else votes(b) -= 1
                  b += 1
                }
              }
            }
            def chunk(c: Int): Long = {
              var v = 0L; var i = 0
              while (i < 16) {
                if (votes(c * 16 + i) > 0) v |= (1L << i)
                i += 1
              }
              v
            }
            Iterator((id, chunk(0), chunk(1), chunk(2), chunk(3)))
          }
        }
      }.toDF("doc_id", "c0", "c1", "c2", "c3").orderBy(col("doc_id"))
  }

  /** SimHash near-dup pairs: candidates share at least one of the 4
    * 16-bit chunks (standard Hamming-LSH banding), then exact
    * bit_count(xor) scoring filters at ≤ maxHamming.
    *
    * RECALL CONTRACT: by pigeonhole, 4-chunk banding guarantees a shared
    * chunk — and therefore candidacy — only for pairs at Hamming distance
    * ≤ 3. Pairs at distance 4..maxHamming are emitted only when their
    * differing bits happen to leave some chunk untouched (common for
    * clustered bit flips, not guaranteed: 4 flips spread across all 4
    * chunks escape every band). So the default maxHamming=12 reads
    * "exhaustive at ≤3, best-effort above". Completeness at larger
    * distances needs more bands (⌈d⌉+1 chunks for distance d) — a
    * deliberate non-goal here: near-dup SimHash distances in practice
    * cluster well below the band guarantee, and the DuckDB oracle
    * replicates the identical candidate rule, so the contract is pinned
    * by both the driver gate and PipelineSpec's synthetic fixtures.
    *
    * SCALE CONTRACT (measured, r11 x100 audit): pair ENUMERATION is
    * output-quadratic in near-dup class size — a class of k mutual
    * near-dups is C(k,2) output rows no matter how good the banding is,
    * so on a corpus whose duplicate classes grow with the data this
    * relation itself explodes (the x100 replica corpus has 20-member
    * exact-dup classes and OOMs here while every cluster-path head
    * stays linear). This operator is the AUDIT surface: threshold
    * tuning, recall measurement, fixture inspection at bounded scale.
    * The 100 TB path is fingerprint → candidates → [[nearDupClusters]]
    * → keep-canonical (`dedup_clusters`/`dedup_keep`), whose output is
    * one row per DOCUMENT and which holds 4.4×/3.9× under 10× data at
    * the x100 notch — clusters, not pairs, are the scale product.
    */
  def simhashPairs(documents: DataFrame, maxHamming: Int = 12): DataFrame =
    pairsFromSimhash(simhash(documents), maxHamming)

  /** The BOUNDED pair product — [[simhashPairs]]' scale-safe sibling,
    * closing the x100 finding pinned above on BOTH axes:
    *
    *  - bounded OUTPUT: per DOCUMENT, its `k` nearest SimHash partners
    *    (by Hamming, ties to the smaller partner id) — ≤ k·n rows no
    *    matter how large the near-dup classes grow. The "show me each
    *    document's closest duplicates" product a curation UI serves,
    *    where full enumeration is C(class, 2).
    *  - bounded INTERMEDIATE: hot band buckets are CAPPED at
    *    `maxBucket` members (first by doc_id — deterministic, the
    *    oracle replays the same cut) BEFORE the candidate self-join, so
    *    the join volume is hard-bounded at Σ min(n_bucket, maxBucket)²
    *    instead of Σ n_bucket². This is standard LSH practice (an
    *    overfull bucket means that band carries no discriminative
    *    signal for its members — the Manku et al. simhash deployments
    *    skip or truncate them); the x100 probe showed the UNCAPPED
    *    candidate relation of a duplicate-heavy corpus OOMs long before
    *    the output limit can help. Recall past the cap comes from the
    *    OTHER three bands (a capped-out member still joins through any
    *    band where its bucket is sane).
    *
    * Both cuts ride map-side WindowGroupLimit (plan-pinned): the bucket
    * cap partitions by (chunk, value), the partner cut by doc_id — both
    * corpus-cardinality keys, full partition-width parallelism.
    */
  def simhashPartners(documents: DataFrame, maxHamming: Int = 12,
      k: Int = 5, maxBucket: Int = 64): DataFrame =
    partnersFromFingerprints(simhash(documents), maxHamming, k, maxBucket)

  /** The capped-partner core over ANY (doc_id, c0..c3) fingerprint
    * relation — [[simhashPartners]]' machinery, generator-agnostic like
    * [[pairsFromSimhash]] (Multimodal's perceptual image hashes plug in
    * the same way; see `phash_partners`). Contract as documented on
    * [[simhashPartners]].
    */
  private[graft] def partnersFromFingerprints(fingerprints: DataFrame,
      maxHamming: Int, k: Int, maxBucket: Int): DataFrame = {
    require(k >= 1, s"partnersFromFingerprints requires k >= 1, got $k")
    require(maxBucket >= 2,
      s"partnersFromFingerprints requires maxBucket >= 2, got $maxBucket")
    import org.apache.spark.sql.expressions.Window
    // No cache (r12): chunk rows CARRY their doc's full fingerprint, so
    // nothing joins back to the fingerprint relation, and the self-join
    // branches share one ReusedExchange — the same structural-reuse form
    // as [[minhashLsh]] (see the note there).
    val chunked = chunkRowsWithFp(fingerprints)
    val wb = Window.partitionBy(col("ci"), col("cv")).orderBy(col("doc_id"))
    val capped = chunked.withColumn("br", row_number().over(wb))
      .filter(col("br") <= maxBucket)
      .drop("br")
    val pairs = scoredHammingPairs(capped, maxHamming)
    val mirrored = pairs
      .select(col("doc_a").as("doc_id"), col("doc_b").as("partner"),
        col("hamming"))
      .unionByName(pairs.select(col("doc_b").as("doc_id"),
        col("doc_a").as("partner"), col("hamming")))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("hamming"), col("partner"))
    mirrored.withColumn("rk", row_number().over(w).cast("int"))
      .filter(col("rk") <= k)
      .orderBy(col("doc_id"), col("rk"))
  }

  /** Candidate generation + scoring over precomputed fingerprints
    * (doc_id, c0..c3) — factored out so the banding contract is testable
    * on synthetic bit patterns (see [[simhashPairs]] for the contract).
    * Holds no cache (r12) — structural reuse as in [[minhashLsh]].
    */
  private[graft] def pairsFromSimhash(fingerprints: DataFrame,
      maxHamming: Int): DataFrame =
    scoredPairsFromSimhash(fingerprints, maxHamming)
      .orderBy(col("doc_a"), col("doc_b"))

  /** [[pairsFromSimhash]] without the presentation sort — the form
    * downstream consumers build on, so their own shuffle isn't preceded
    * by a dead global sort. */
  private[graft] def scoredPairsFromSimhash(fingerprints: DataFrame,
      maxHamming: Int): DataFrame =
    // One (chunk_idx, chunk_value) equi-join instead of a 4-way union of
    // joins: 4 narrow rows per doc, a single shuffle, then distinct pairs
    // (the uncapped form — partnersFromFingerprints caps the same chunk
    // rows first). No persist (the [[minhashLsh]] r12 form).
    scoredHammingPairs(chunkRowsWithFp(fingerprints), maxHamming)

  /** One row per (doc, chunk): (doc_id, c0..c3, ci, cv). Chunk rows
    * CARRY their doc's full fingerprint so the Hamming score downstream
    * needs no join back to the fingerprint relation — the shared
    * projection under both the capped (partners) and uncapped (pairs)
    * candidate builds, so the chunk layout can never diverge between
    * them. */
  private def chunkRowsWithFp(fingerprints: DataFrame): DataFrame =
    fingerprints.select(
      (col("doc_id") +: (0 until 4).map(c => col(s"c$c"))) :+
        explode(array((0 until 4).map(c =>
          struct(lit(c).as("ci"), col(s"c$c").as("cv"))): _*)).as("ch"): _*)
      .select((col("doc_id") +: (0 until 4).map(c => col(s"c$c"))) ++
        Seq(col("ch.ci").as("ci"), col("ch.cv").as("cv")): _*)

  /** The shared candidate self-join + 4-chunk Hamming score over any
    * [[chunkRowsWithFp]] relation (capped or not): bucket equi-join,
    * distinct undirected pairs, `bit_count(xor)` sum, threshold. */
  private def scoredHammingPairs(chunked: DataFrame,
      maxHamming: Int): DataFrame =
    chunked.as("x").join(chunked.as("y"),
        col("x.ci") === col("y.ci") && col("x.cv") === col("y.cv") &&
          col("x.doc_id") < col("y.doc_id"))
      .select((col("x.doc_id").as("doc_a") +: col("y.doc_id").as("doc_b") +:
        (0 until 4).map(c => col(s"x.c$c"))) ++
        (0 until 4).map(c => col(s"y.c$c").as(s"d$c")): _*)
      .distinct()
      .withColumn("hamming",
        bit_count(col("c0").bitwiseXOR(col("d0"))) +
          bit_count(col("c1").bitwiseXOR(col("d1"))) +
          bit_count(col("c2").bitwiseXOR(col("d2"))) +
          bit_count(col("c3").bitwiseXOR(col("d3"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))

  /** Default span length for substring-level dedup: long enough that a
    * shared k-gram is very unlikely by chance, short enough to catch
    * templated boilerplate (Lee et al. use 50 BPE tokens at web scale;
    * 8 whitespace tokens plays the same role on this corpus).
    */
  val SpanTokens = 8

  /** Positional k-gram spans per document: (doc_id, pos, gram) for every
    * window of `k` consecutive whitespace tokens, 1-based `pos`. Unlike
    * [[shingles]] positions are KEPT and duplicates are NOT collapsed —
    * substring dedup needs every occurrence. Typed flatMap for the same
    * codegen reason as [[shingles]] (HOF transform/slice lambdas run
    * interpreted); row-local, partition-preserving, no shuffle.
    */
  private[graft] def spans(documents: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"span length must be >= 1, got $k")
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        spanGrams(text, k).iterator.map { case (p, g) => (id, p, g) }
      }.toDF("doc_id", "pos", "gram")
  }

  /** Pure span emission for one document: (1-based pos, k-token gram) for
    * every window under `split(" ", -1)` tokenization (trailing empty
    * tokens kept — see [[shingles]]; null emits nothing). Factored out of
    * the [[spans]] flatMap so the window arithmetic is property-testable
    * without Spark jobs.
    */
  private[graft] def spanGrams(text: String, k: Int): Seq[(Long, String)] =
    if (text == null) Nil
    else {
      val t = text.split(" ", -1)
      if (t.length < k) Nil
      else (0 to t.length - k).map(i => ((i + 1).toLong, t.slice(i, i + k).mkString(" ")))
    }

  /** Exact substring-level duplication profile (the Lee et al. 2022
    * "Deduplicating Training Data" shape): every k-token gram that occurs
    * in at least `minDocs` distinct documents, with its document frequency
    * and total occurrence count.
    *
    * At 100 TB this is a pure partial-aggregable shape: the span explode
    * is row-local, both aggregates (the distinct-doc count Spark plans as
    * two cascaded hash aggregates over (gram, doc_id) then gram) combine
    * map-side, and there is no window anywhere — a boilerplate gram
    * occurring 10⁸ times collapses to one row per map task before the
    * shuffle. Cites reference behavior: the reference engine has no
    * substring dedup; this is part of the beyond-reference LLM-pipeline
    * surface.
    */
  def repeatedSpans(documents: DataFrame, k: Int = SpanTokens,
      minDocs: Int = 2): DataFrame = {
    require(minDocs >= 1, s"minDocs must be >= 1, got $minDocs")
    spans(documents, k)
      .groupBy(col("gram"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"))
      .filter(col("n_docs") >= minDocs)
      .orderBy(col("gram"))
  }

  /** Per-document substring-dedup mask: how many of a document's k-gram
    * spans also occur in some OTHER document, and the keep verdict
    * (keep = no cross-document repeated span). The downstream trim/drop
    * policy is the caller's; this operator computes the signal.
    *
    * Shape: span explode → partial-aggregated cross-doc gram relation →
    * equi-join back on the gram (the repeated-gram side is df-bounded and
    * far smaller than the corpus; the probe side is AQE-skew-splittable)
    * → per-doc count → left join onto documents so span-less docs
    * (shorter than k tokens) keep with zeros.
    *
    * The span relation feeds three consumers but is deliberately NOT
    * persisted: the row-local explode is cheap enough that recompute beat
    * a DISK_ONLY pin when measured (BENCH_NOTES r7, 0.18 s at sf0.1) —
    * the opposite call from [[ngramJaccard]], whose capped shingle
    * relation feeds a quadratic self-join. Re-measure before changing.
    */
  def spanDedup(documents: DataFrame, k: Int = SpanTokens): DataFrame = {
    val sp = spans(documents, k)
    // grams occurring in ≥2 distinct docs; bounded by distinct-gram count
    val repeated = sp.groupBy(col("gram"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .select(col("gram"))
    val perDoc = sp.groupBy(col("doc_id")).agg(count(lit(1)).as("n_spans"))
    val repPerDoc = sp.join(repeated, "gram")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_repeated"))
    documents.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .join(repPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_repeated"), lit(0L)).as("n_repeated"))
      .withColumn("keep", col("n_repeated") === 0L)
      .orderBy(col("doc_id"))
  }

  /** The PUBLISHED substring-dedup threshold: Lee et al. 2022
    * ("Deduplicating Training Data Makes Language Models Better")
    * deduplicate exact repeats of >= 50 tokens; [[spanDedupLong]]
    * reaches that length by CHAINING the positional k-gram relation.
    */
  val LongSpanTokens = 50

  /** Substring dedup at the published repeat length (r17 —
    * [[spanDedup]]'s keep verdict fires on ANY shared 8-gram; Lee et
    * al. 2022 cut only repeats of >= 50 tokens). A shared L-token
    * substring manifests as L−k+1 CONSECUTIVE positions whose k-grams
    * are cross-doc repeated, so the detector is the gaps-and-islands
    * idiom over the repeated-span positions (island = pos − rank, the
    * rake_keywords chain): a maximal run of r consecutive repeated
    * positions witnesses a repeat of r+k−1 tokens. Conservative in the
    * standard way for shingle-chained substring dedup: consecutive
    * windows may be shared with DIFFERENT partner documents, so a run
    * asserts every k-window recurs somewhere, not one contiguous
    * partner (the suffix-array form is exact; the chained form is the
    * scalable approximation and errs toward cutting).
    *
    * Emits per document: the number of runs at or above
    * `minSpanTokens`, the longest repeated run in tokens (0 if the doc
    * shares no span at all), keep = no long run. Spec-pinned boundary:
    * a 49-token repeat survives, a 50-token repeat is cut.
    *
    * Scale shape: identical to [[spanDedup]] up to the repeated-gram
    * join, then one PER-DOC window (document-length bounded) and two
    * partial-aggregable groupBys — nothing corpus-global.
    */
  def spanDedupLong(documents: DataFrame, k: Int = SpanTokens,
      minSpanTokens: Int = LongSpanTokens): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(minSpanTokens >= k,
      s"minSpanTokens must be >= span gram length $k, got $minSpanTokens")
    val sp = spans(documents, k)
    val repeated = sp.groupBy(col("gram"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .select(col("gram"))
    val rg = sp.join(repeated, "gram").select(col("doc_id"), col("pos"))
    val isl = rg.withColumn("island", col("pos") - row_number().over(
      Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
    val runs = isl.groupBy(col("doc_id"), col("island"))
      .agg((count(lit(1)) + lit(k - 1).cast("long")).as("run_tokens"))
    val per = runs.groupBy(col("doc_id"))
      .agg(sum(when(col("run_tokens") >= minSpanTokens, 1L).otherwise(0L))
          .as("n_long_runs"),
        max(col("run_tokens")).as("max_run_tokens"))
    documents.select(col("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_long_runs"), lit(0L)).as("n_long_runs"),
        coalesce(col("max_run_tokens"), lit(0L)).as("max_run_tokens"))
      .withColumn("keep", col("n_long_runs") === 0L)
      .orderBy(col("doc_id"))
  }

  /** Per-document SPAN NOVELTY (r17) — the redundancy-growth diagnostic
    * a crawl-ordered corpus wants before training: for each document,
    * the fraction of its positional k-gram spans whose FIRST corpus
    * occurrence (minimum doc_id) is this document. A doc of pure
    * boilerplate seen before scores 0; the corpus's first sighting of a
    * template scores high and "pays" for every later copy — exactly
    * [[repeatedSpans]]' relation read along the ingestion order instead
    * of symmetrically. Within-doc repeats attribute to the gram's
    * first-occurrence DOC, so a self-plagiarizing document still counts
    * its spans as novel (cross-doc novelty, not compression).
    *
    * Integer e6 ratio (`div`, non-negative). Scale shape: one spans
    * pass, a gram-keyed min-agg (partial-aggregable), one join back on
    * gram, two doc-keyed count-aggs — every shuffle on gram or doc_id.
    */
  def spanNovelty(documents: DataFrame, k: Int = SpanTokens): DataFrame = {
    val sp = CacheScope.persist(spans(documents, k))
    val firstDoc = sp.groupBy(col("gram"))
      .agg(min(col("doc_id")).as("first_doc"))
    val per = sp.join(firstDoc, "gram")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("doc_id") === col("first_doc"), 1L).otherwise(0L))
          .as("n_novel"))
    documents.select(col("doc_id")).join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .withColumn("novelty_e6",
        when(col("n_spans") > 0L,
          expr("(n_novel * 1000000) div n_spans")).otherwise(lit(0L)))
      .orderBy(col("doc_id"))
  }

  /** Sorted-neighborhood candidate generation (Hernández & Stolfo 1995,
    * public) — the third blocking family next to minhash-LSH (set
    * similarity) and PassJoin segments (edit distance): sort the corpus
    * by a normalized key and compare only records whose SORT RANKS are
    * within a window `w`. Catches near-dups that hash-based blocking
    * misses when the difference is concentrated early in the record
    * (shared prefix ⇒ adjacent ranks), at O(n·w) candidate cost.
    *
    * Scale shape: the global sort rank comes from the window-free
    * constant-group [[ExactRank.exactRank]] pass (parallelism = the
    * partition count, the shard_rebalance discipline — NEVER
    * `row_number() OVER ()`, which single-tasks the corpus). The
    * windowed self-join is a BLOCKED equi-join: block = (rnk−1) div w,
    * and a pair with rank gap ≤ w spans at most adjacent blocks, so
    * the left side joins each rank to blocks {b, b+1} (2 rows per
    * record) and the gap filter finishes the window — candidate volume
    * is O(n·w), never quadratic, and the join key is uniform by
    * construction (ranks are a permutation, blocks are equal-sized:
    * skew-proof).
    *
    * Emits candidate pairs (doc_a < doc_b by rank order), their rank
    * `gap`, and a cheap `same_key` verification column; the caller
    * chains a real verifier ([[FuzzyJoin]], ngram jaccard) on the
    * candidates only.
    */
  def sortedNeighborhood(documents: DataFrame, w: Int = 4,
      keyLen: Int = 24): DataFrame = {
    // coalesce: a NULL text must key as '' on BOTH engines — ExactRank
    // ranks nulls first while the oracle's row_number ranks them last,
    // so a null key would shift every rank and break the hash gate
    val keyed = documents.select(col("doc_id"),
      substring(regexp_replace(lower(coalesce(col("text"), lit(""))),
        "\\s+", ""), 1, keyLen)
        .as("sort_key"))
      .withColumn("g", lit(1))
    val ranked = ExactRank.exactRank(keyed, Seq("g"),
        Seq("sort_key", "doc_id"))
      .select(col("doc_id"), col("sort_key"), col("rnk"))
    // integer block arithmetic (div, not /: Column `/` is double division)
    val blk = expr(s"(rnk - 1) div $w")
    // each record probes its own block and the next one
    val left = ranked.select(col("doc_id").as("doc_a"),
        col("sort_key").as("key_a"), col("rnk").as("rnk_a"),
        explode(array(blk, blk + 1)).as("blk"))
    val right = ranked.select(col("doc_id").as("doc_b"),
        col("sort_key").as("key_b"), col("rnk").as("rnk_b"),
        blk.as("blk"))
    left.join(right, Seq("blk"))
      .filter(col("rnk_b") > col("rnk_a") &&
        col("rnk_b") - col("rnk_a") <= w.toLong)
      .select(col("doc_a"), col("doc_b"),
        (col("rnk_b") - col("rnk_a")).as("gap"),
        (col("key_a") === col("key_b")).as("same_key"))
      .orderBy(col("doc_a"), col("doc_b"))
  }
}
