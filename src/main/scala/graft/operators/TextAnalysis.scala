package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for the LLM-data-pipeline surface (north star in
  * /root/repo/BASELINE.json): per-document statistics + quality scoring,
  * heuristic language id, corpus token frequencies, and content
  * fingerprinting. All row-level expressions stay inside whole-stage
  * codegen (no UDFs); the only shuffles are the corpus-level groupBys.
  *
  * Parity discipline: tokenization is a literal single-space split (or an
  * explicit `[a-z0-9]+` regex), ratios divide exact integer operands, and
  * fingerprints are md5 — all reproducible verbatim in the DuckDB oracle.
  */
object TextAnalysis {

  /** T5-style span corruption (Raffel et al., JMLR 2020 §3.1.4) — the
    * masked-denoising training-pair generator: deterministic token
    * spans are replaced by numbered sentinels in the input, and the
    * target lists each sentinel followed by the tokens it hid. The
    * "randomness" is an md5 PRNG over (doc_id, position) — `anchor iff
    * hash(doc_id:pos) mod 100 < ratePct` — with each anchor masking
    * `spanLen` consecutive tokens, so every masking decision replays
    * bit-for-bit on any engine (the corpus_shuffle md5 discipline
    * applied to data augmentation; a production run swaps the hash
    * seed per epoch).
    *
    * Scale shape: masking decisions and span extension are per-DOC
    * windows (doc-bounded partitions over corpus-cardinality keys —
    * the flagship's window class, map-side WindowGroupLimit-free but
    * skew-safe because a document is KB-sized), and the final pair
    * assembly is one groupBy(doc_id) over position-structured pieces
    * with an in-aggregate sort — no global window, no collect.
    */
  def spanCorruption(documents: DataFrame, ratePct: Int = 15,
      spanLen: Int = 3): DataFrame = {
    require(ratePct >= 1 && ratePct <= 99, s"ratePct in [1,99]: $ratePct")
    require(spanLen >= 1, s"spanLen >= 1: $spanLen")
    import org.apache.spark.sql.expressions.Window
    val toks = documents.select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
    val h = conv(substring(md5(
        concat(col("doc_id").cast("string"), lit(":"),
          col("pos").cast("string"))), 1, 8), 16, 10).cast("long") % 100
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val spanW = byDoc.rowsBetween(-(spanLen - 1L), 0L)
    val flagged = toks.withColumn("anchor", (h < ratePct).cast("int"))
      .withColumn("masked", max(col("anchor")).over(spanW) === 1)
      .withColumn("new_run", (col("masked") &&
        !coalesce(lag(col("masked"), 1).over(byDoc), lit(false))).cast("long"))
      .withColumn("run_id", sum(col("new_run"))
        .over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
    val sentinel = concat(lit("<extra_id_"), (col("run_id") - 1L), lit(">"))
    // input pieces: unmasked tokens verbatim; ONE sentinel per run (at
    // the run head). target pieces: each run's sentinel then its tokens
    // — (pos, slot) orders sentinel before the tokens it replaces.
    val pieces = flagged.select(col("doc_id"), col("pos"),
      when(!col("masked"), col("tok"))
        .when(col("new_run") === 1L, sentinel).as("in_piece"),
      when(col("masked") && col("new_run") === 1L, concat(sentinel, lit(" "), col("tok")))
        .when(col("masked"), col("tok")).as("tgt_piece"),
      col("new_run"))
    pieces.groupBy(col("doc_id"))
      .agg(
        concat_ws(" ", array_compact(transform(
          array_sort(collect_list(when(col("in_piece").isNotNull,
            struct(col("pos"), col("in_piece").as("p"))))),
          x => x.getField("p")))).as("input_text"),
        concat_ws(" ", array_compact(transform(
          array_sort(collect_list(when(col("tgt_piece").isNotNull,
            struct(col("pos"), col("tgt_piece").as("p"))))),
          x => x.getField("p")))).as("target_text"),
        sum(col("new_run")).as("n_spans"))
      .orderBy(col("doc_id"))
  }

  /** Fill-in-the-middle transform (Bavarian et al., 2022, "Efficient
    * Training of Language Models to Fill in the Middle") — the
    * code/infilling training-data op: a deterministic md5 coin decides
    * per document whether it trains causal (text unchanged) or FIM; FIM
    * documents draw two md5 cut points in [0, n_tokens], split into
    * prefix/middle/suffix, and reassemble in PSM sentinel order
    * `<fim_prefix> P <fim_suffix> S <fim_middle> M` so the model learns
    * to generate the middle conditioned on both sides. Every decision
    * replays bit-for-bit from md5(salt:doc_id) — the corpus_shuffle
    * discipline; a production run swaps the salt per epoch.
    *
    * Scale shape: a pure row-local projection (split, two hashes, three
    * array slices, one concat) — single codegen'd scan+project stage,
    * no shuffle at any corpus size beyond the presentation sort.
    */
  def fimTransform(documents: DataFrame, fimPct: Int = 50): DataFrame = {
    require(fimPct >= 0 && fimPct <= 100, s"fimPct in [0,100]: $fimPct")
    val tks = split(col("text"), " ")
    val n = size(tks).cast("long")
    def h(salt: String): Column =
      conv(substring(md5(concat(lit(salt), col("doc_id").cast("string"))),
        1, 8), 16, 10).cast("long")
    val isFim = h("fim:") % 100 < fimPct
    val c1 = h("fimcut1:") % (n + lit(1L))
    val c2 = h("fimcut2:") % (n + lit(1L))
    val lo = least(c1, c2)
    val hi = greatest(c1, c2)
    // 1-based inclusive slices; empty pieces drop out of the sentinel
    // join via the nullif-style when() so the token stream never holds
    // a doubled separator
    def piece(c: Column): Column = when(c =!= "", c)
    val prefix = array_join(slice(tks, lit(1), lo.cast("int")), " ")
    val middle = array_join(
      slice(tks, (lo + lit(1L)).cast("int"), (hi - lo).cast("int")), " ")
    val suffix = array_join(
      slice(tks, (hi + lit(1L)).cast("int"), (n - hi).cast("int")), " ")
    documents.select(
        col("doc_id"),
        when(isFim, "fim").otherwise("causal").as("mode"),
        n.as("n_tokens"),
        when(isFim, lo).as("cut_lo"),
        when(isFim, hi).as("cut_hi"),
        when(isFim, concat_ws(" ", array_compact(array(
            lit("<fim_prefix>"), piece(prefix),
            lit("<fim_suffix>"), piece(suffix),
            lit("<fim_middle>"), piece(middle)))))
          .otherwise(col("text")).as("fim_text"))
      .orderBy(col("doc_id"))
  }

  /** BERT-style masked-LM corruption (Devlin et al., NAACL 2019 §3.1):
    * each token position draws an md5 coin — `selPct`% of positions are
    * selected, and a selected position is 80% replaced by `[MASK]`,
    * 10% replaced by a pseudo-random token FROM THE SAME DOCUMENT
    * (md5-indexed, so the replacement is row-local — no vocabulary
    * join), 10% kept verbatim. The three decisions read DISJOINT 32-bit
    * windows of ONE md5 per (doc, pos), so selection, action, and
    * replacement index are independent yet replay bit-for-bit on any
    * engine. `labels` carries the `pos:original` pairs a masked-LM loss
    * trains against.
    *
    * Scale shape: entirely row-local — one `transform` over the token
    * array builds a per-row (tok, sel, sub, rtok) struct array and every
    * output derives from it, so the plan is a single codegen'd
    * scan+project with zero shuffle (the span_corruption semantics
    * WITHOUT its per-doc windows: MLM masking has no cross-token runs).
    */
  def mlmMask(documents: DataFrame, selPct: Int = 15): DataFrame = {
    require(selPct >= 1 && selPct <= 99, s"selPct in [1,99]: $selPct")
    // TWO transform stages so the md5 runs ONCE per token: lambda
    // bodies get no common-subexpression elimination, so deriving sel /
    // sub / ridx straight off the digest expression would hash three
    // times per token (caught by the PlanSpec pin). Stage 1 carries the
    // digest; stage 2 reads cheap hex windows of the carried field. The
    // token array rides as its OWN column so the random-replacement
    // lookup references an attribute, not a per-element re-split.
    val pre = transform(col("t"), (tok, i) => struct(tok.as("tok"),
      (i + 1).cast("long").as("pos"),
      md5(concat(lit("mlm:"), col("doc_id").cast("string"),
        lit(":"), (i + 1).cast("string"))).as("hx")))
    val z = transform(col("pre"), e => {
      val full = e.getField("hx")
      val sel = conv(substring(full, 1, 8), 16, 10).cast("long") % 100 < selPct
      val sub = conv(substring(full, 9, 8), 16, 10).cast("long") % 10
      val ridx = conv(substring(full, 17, 8), 16, 10).cast("long") %
        size(col("t"))
      struct(e.getField("tok").as("tok"), sel.as("sel"), sub.as("sub"),
        element_at(col("t"), (ridx + 1).cast("int")).as("rtok"),
        e.getField("pos").as("pos"))
    })
    def cnt(p: Column => Column): Column =
      size(filter(col("z"), p)).cast("long")
    documents
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), col("t"), pre.as("pre"))
      .select(col("doc_id"), size(col("t")).cast("long").as("n_tokens"),
        z.as("z"))
      .select(
        col("doc_id"), col("n_tokens"),
        cnt(e => e.getField("sel")).as("n_selected"),
        cnt(e => e.getField("sel") && e.getField("sub") < 8).as("n_masked"),
        cnt(e => e.getField("sel") && e.getField("sub") === 8).as("n_random"),
        cnt(e => e.getField("sel") && e.getField("sub") === 9)
          .as("n_kept"),
        concat_ws(" ", transform(col("z"), e =>
          when(!e.getField("sel"), e.getField("tok"))
            .when(e.getField("sub") < 8, lit("[MASK]"))
            .when(e.getField("sub") === 8, e.getField("rtok"))
            .otherwise(e.getField("tok")))).as("masked_text"),
        concat_ws(" ", array_compact(transform(col("z"), e =>
          when(e.getField("sel"), concat(e.getField("pos").cast("string"),
            lit(":"), e.getField("tok")))))).as("labels"))
      .orderBy(col("doc_id"))
  }

  private[graft] val stopwords =
    Seq("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")

  private def toks: Column = split(col("text"), " ")

  private def countIn(words: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(words)))

  /** Per-document statistics + a composite quality score.
    * quality = 0.4·stopword_ratio + 0.3·min(n_tokens/300, 1)
    *         + 0.3·distinct_ratio, computed in this exact operand order on
    * both engines so the doubles are bit-identical.
    */
  /** RAKE keyword extraction (Rose et al. 2010 — the classic
    * stopword-delimited co-occurrence scorer, and the one every corpus
    * triage reaches for before training a keyphrase model): candidate
    * phrases are maximal runs of consecutive NON-stopword tokens;
    * word score = deg(w)/freq(w) where deg sums the lengths of phrases
    * containing w and freq counts w's phrase occurrences; a phrase
    * scores the sum of its members' scores. All integer —
    * word_score_e6 = (deg·1e6) div freq, phrase score the BIGINT sum of
    * floored member scores — so the oracle replays every row.
    *
    * Phrase segmentation is the gaps-and-islands idiom over the shared
    * `[a-z0-9]+` token relation (token position − rank among non-stop
    * tokens = island id), NOT a bespoke split regex — both engines
    * already agree on the token pattern, and islands are pure integer
    * window math. Per-doc windows only (document-length bounded); the
    * word-stat aggregations are partial-aggregable; the final top-k is
    * orderBy+limit (TakeOrdered) + a k-row rank window.
    */
  def rakeKeywords(documents: DataFrame, topK: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = documents.select(col("doc_id"),
        posexplode(expr(
          "regexp_extract_all(lower(text), '[a-z0-9]+', 0)"))
          .as(Seq("pos", "w")))
    val nonStop = toks.filter(!col("w").isInCollection(stopwords))
      .withColumn("island", col("pos") - row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
    val phraseTok = CacheScope.persist(nonStop
      .withColumn("plen", count(lit(1)).over(
        Window.partitionBy(col("doc_id"), col("island"))))
      .select(col("doc_id"), col("island"), col("pos"), col("w"),
        col("plen")))
    val wordScore = phraseTok.groupBy(col("w"))
      .agg(sum(col("plen")).as("deg"), count(lit(1)).as("freq"))
      .select(col("w"), expr("(deg * 1000000) div freq").as("ws_e6"))
    val phrases = phraseTok.join(wordScore, "w")
      .groupBy(col("doc_id"), col("island"))
      .agg(array_join(expr("transform(array_sort(" +
          "collect_list(struct(pos, w))), e -> e.w)"), " ").as("phrase"),
        max(col("plen")).as("n_words"),
        sum(col("ws_e6")).as("score_e6"))
    val byText = phrases.groupBy(col("phrase"))
      .agg(count(lit(1)).as("n_occ"), max(col("n_words")).as("n_words"),
        max(col("score_e6")).as("score_e6"))
    byText.orderBy(col("score_e6").desc, col("phrase")).limit(topK)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("score_e6").desc, col("phrase"))))
      .select(col("rk"), col("phrase"), col("n_words"), col("n_occ"),
        col("score_e6"))
      .orderBy(col("rk"))
  }

  /** PER-DOCUMENT RAKE (r17 — the textbook form of Rose et al. 2010;
    * [[rakeKeywords]] keeps the corpus-global deg/freq as the triage
    * view): word statistics are computed WITHIN each document
    * (groupBy doc_id, w), so a word that is promiscuous corpus-wide but
    * focused inside one document scores on its local behavior — the
    * two rankings genuinely differ, which the spec pins on a two-doc
    * fixture. Emits each document's top-k phrases.
    *
    * Same islands, same integer discipline (ws_e6 = (deg·1e6) div freq
    * per doc, phrase = BIGINT sum of floored member scores). Scale
    * shape is BETTER than the corpus form: every aggregation and the
    * rank window are doc_id-partitioned (document-length bounded, the
    * per-doc cut pushed map-side by WindowGroupLimit) — no corpus-wide
    * word relation, no global top-k sort; output is docs × k, the
    * operator's contract.
    */
  def rakeKeywordsDoc(documents: DataFrame, topK: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = documents.select(col("doc_id"),
        posexplode(expr(
          "regexp_extract_all(lower(text), '[a-z0-9]+', 0)"))
          .as(Seq("pos", "w")))
    val nonStop = toks.filter(!col("w").isInCollection(stopwords))
      .withColumn("island", col("pos") - row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
    val phraseTok = CacheScope.persist(nonStop
      .withColumn("plen", count(lit(1)).over(
        Window.partitionBy(col("doc_id"), col("island"))))
      .select(col("doc_id"), col("island"), col("pos"), col("w"),
        col("plen")))
    val wordScore = phraseTok.groupBy(col("doc_id"), col("w"))
      .agg(sum(col("plen")).as("deg"), count(lit(1)).as("freq"))
      .select(col("doc_id"), col("w"),
        expr("(deg * 1000000) div freq").as("ws_e6"))
    val phrases = phraseTok.join(wordScore, Seq("doc_id", "w"))
      .groupBy(col("doc_id"), col("island"))
      .agg(array_join(expr("transform(array_sort(" +
          "collect_list(struct(pos, w))), e -> e.w)"), " ").as("phrase"),
        max(col("plen")).as("n_words"),
        sum(col("ws_e6")).as("score_e6"))
    // the same phrase text can repeat inside one document: collapse to
    // one row per (doc, phrase) — per-doc word stats make every
    // occurrence score identically, so max is that value
    val byDoc = phrases.groupBy(col("doc_id"), col("phrase"))
      .agg(count(lit(1)).as("n_occ"), max(col("n_words")).as("n_words"),
        max(col("score_e6")).as("score_e6"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_e6").desc, col("phrase"))
    byDoc.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topK)
      .select(col("doc_id"), col("rk"), col("phrase"), col("n_words"),
        col("n_occ"), col("score_e6"))
      .orderBy(col("doc_id"), col("rk"))
  }

  /** BIGRAM COLLOCATIONS by t-score (Manning & Schütze 1999 §5.3.1):
    * t = (f(ab) − f(a)·f(b)/N) / sqrt(f(ab)) — the classic
    * hypothesis-test ranking for adjacent word pairs, the BIGRAM
    * sibling of the basket-pair [[CrystalBall.ppmiRank]] lift (t-score
    * favors frequent collocations where PMI favors rare sharp ones).
    *
    * Cross-engine determinism is why t-score and not log-likelihood:
    * the statistic needs only sqrt — correctly rounded in IEEE, hence
    * bit-identical across engines — where Dunning's G² needs ln, which
    * is merely faithfully rounded. The numerator is kept integral to
    * the end (num = f(ab)·N − f(a)·f(b), DECIMAL(38,0)); the one
    * double expression `num / (N · sqrt(f(ab)))` is operand-identical
    * in the oracle.
    *
    * minCount is the standard support floor (the ppmi_rank argument:
    * the once-seen tail is noise AND most of the relation — the floor
    * lands before the unigram joins so only rankable bigrams shuffle).
    * Top-k by (t desc, words) via sort-limit (TakeOrdered — no global
    * window over the bigram relation); the rank column is assigned on
    * the k-row result.
    */
  def collocationsTscore(documents: DataFrame, minCount: Long = 5L,
      topK: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(minCount >= 1 && topK >= 1,
      s"collocationsTscore: minCount >= 1, topK >= 1 (got $minCount/$topK)")
    val d38 = "decimal(38,0)"
    val toks = CacheScope.persist(
      documents.select(col("doc_id"),
        posexplode(expr(
          "regexp_extract_all(lower(text), '[a-z0-9]+', 0)"))
          .as(Seq("pos", "w"))))
    val uni = toks.groupBy(col("w")).agg(count(lit(1)).as("f"))
    val nTok = toks.agg(count(lit(1)).cast(d38).as("n_tok"))
    val bigrams = toks
      .withColumn("w2", lead(col("w"), 1).over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
      .filter(col("w2").isNotNull)
      .groupBy(col("w").as("w1"), col("w2"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= lit(minCount))
    val scored = bigrams
      .join(uni.select(col("w").as("w1"), col("f").as("fa")), "w1")
      .join(uni.select(col("w").as("w2"), col("f").as("fb")), "w2")
      .crossJoin(broadcast(nTok))
      .withColumn("t_score",
        (col("n_ab").cast(d38) * col("n_tok") -
          col("fa").cast(d38) * col("fb")).cast("double") /
        (col("n_tok").cast("double") * sqrt(col("n_ab").cast("double"))))
      .orderBy(col("t_score").desc, col("w1"), col("w2"))
      .limit(topK)
    scored
      .withColumn("rk", row_number().over(
        Window.orderBy(col("t_score").desc, col("w1"), col("w2"))))
      .select(col("rk"), col("w1"), col("w2"), col("n_ab"),
        col("t_score"))
      .orderBy(col("rk"))
  }

  /** GOOD–TURING frequency re-estimation (Good 1953, the Turing
    * estimator; Gale & Sampson 1995 popularized the smoothed variant):
    * a word type observed r times should be credited an adjusted count
    * r* = (r+1)·N(r+1)/N(r), where N(r) is the COUNT OF COUNTS — the
    * number of types seen exactly r times. The classic unseen-mass
    * diagnostic for n-gram LMs (total probability shifted to unseen
    * events is N(1)/N — readable off the r=1 row) and the integer
    * sibling of [[unigramLogprob]]'s MLE.
    *
    * Deliberately the RAW Turing estimator, not Gale–Sampson's
    * log-log-regression smoothing: the smoothing needs ln (merely
    * faithfully rounded — not portable cross-engine), while the raw
    * estimator is one exact rational per row, emitted as e6 integers
    * under the house `DECIMAL(38,0) … div` discipline. Rows where
    * N(r+1) = 0 (gaps in the count-of-counts — the reason Gale &
    * Sampson smooth at the tail) emit r* = 0, the honest raw value.
    *
    * Scale shape: two partial-aggregable groupBys (tokens → type
    * frequencies → count-of-counts) + one self-join on the
    * count-of-counts relation, which has at most O(√tokens) rows
    * (Σ r·N(r) = N bounds distinct r) — the join is a broadcast at any
    * corpus size.
    */
  def goodTuring(documents: DataFrame): DataFrame = {
    val toks = documents.select(
      explode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)"))
        .as("w"))
    val freq = toks.groupBy(col("w")).agg(count(lit(1)).as("r"))
    val coc = CacheScope.persist(
      freq.groupBy(col("r")).agg(count(lit(1)).as("n_r")))
    coc.join(
        broadcast(coc.select((col("r") - 1).as("r"),
          col("n_r").as("n_r1"))),
        Seq("r"), "left")
      .select(col("r"), col("n_r"),
        expr("CAST((CAST(r + 1 AS DECIMAL(38,0)) * coalesce(n_r1, 0)" +
          " * 1000000) div n_r AS BIGINT)").as("r_star_e6"))
      .orderBy(col("r"))
  }

  /** HEAPS-LAW VOCABULARY GROWTH (Heaps 1978): cumulative distinct
    * types vs cumulative tokens along the doc_id ingestion order,
    * sampled at power-of-two document ranks (plus the full-corpus
    * point) — the vocabulary scaling curve (V ≈ K·nᵝ) that sizes
    * tokenizer vocabularies and detects corpus saturation.
    *
    * The distributed trick: "cumulative distinct" is NOT a distinct
    * over prefixes — each type is attributed to its FIRST document
    * (min doc_id, one partial-aggregable groupBy), so the curve is two
    * EXCLUSIVE PREFIX SUMS over the per-doc (new-types, tokens)
    * relation — [[ExactRank.exactPrefixSum]] passes (window-free: no
    * single-task global window at any scale), plus one rank pass for
    * the power-of-two cut. Everything integer; the #docs-sized
    * intermediate never reaches the driver.
    */
  def heapsCurve(documents: DataFrame): DataFrame = {
    val toks = CacheScope.persist(documents.select(col("doc_id"),
      explode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)"))
        .as("w")))
    val perDocToks = toks.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"))
    val newTypes = toks.groupBy(col("w"))
      .agg(min(col("doc_id")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_new"))
    val base = documents.select(col("doc_id"))
      .join(perDocToks, Seq("doc_id"), "left")
      .join(newTypes, Seq("doc_id"), "left")
      .select(col("doc_id"), lit(0).as("g"),
        coalesce(col("n_tok"), lit(0L)).as("n_tok"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
    val cumTok = ExactRank.exactPrefixSum(base, Seq("g"), Seq("doc_id"),
      "n_tok", beforeCol = "tok_before", totalCol = "tok_total")
    val cumBoth = ExactRank.exactPrefixSum(cumTok, Seq("g"), Seq("doc_id"),
      "n_new", beforeCol = "new_before", totalCol = "new_total")
    val ranked = ExactRank.exactRank(cumBoth, Seq("g"), Seq("doc_id"),
      rankCol = "rk", totalCol = "n_docs")
    ranked
      .filter(expr("(rk & (rk - 1)) = 0") || col("rk") === col("n_docs"))
      .select(col("rk"), col("doc_id"),
        (col("tok_before") + col("n_tok")).as("cum_tokens"),
        (col("new_before") + col("n_new")).as("cum_types"))
      .orderBy(col("rk"))
  }

  /** VOCABULARY CONCENTRATION as an exact rank-weighted Gini over the
    * token-frequency distribution (the Zipf-skew one-number summary
    * next to [[heapsCurve]]'s growth curve and [[goodTuring]]'s
    * unseen-mass row): types ranked ascending by (frequency, word),
    * G = (2·Σ rnk·f − (V+1)·N) / (V·N) in e6 — the
    * `gini_concentration` closed form applied to tokens. High G =
    * the token mass sits in a stopword head (every natural corpus);
    * a fallen G flags tokenizer or boilerplate drift.
    *
    * One groupBy + one window-free [[ExactRank]] pass + one global
    * agg; DECIMAL(38,0) throughout.
    */
  def vocabGini(documents: DataFrame): DataFrame = {
    val freq = documents.select(
        explode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)"))
          .as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
    val ranked = ExactRank.exactRank(freq.withColumn("g", lit(0)),
      Seq("g"), Seq("f", "w"))
    ranked.agg(
        count(lit(1)).as("n_types"),
        sum(col("f")).as("total_tokens"),
        sum(expr("CAST(rnk AS DECIMAL(38,0)) * f")).as("rank_weighted"))
      .select(col("n_types"), col("total_tokens"),
        expr("CAST(((2 * rank_weighted - (n_types + 1)" +
          " * CAST(total_tokens AS DECIMAL(38,0))) * 1000000)" +
          " div (CAST(n_types AS DECIMAL(38,0)) * total_tokens)" +
          " AS BIGINT)").as("gini_e6"))
  }

  def textStats(documents: DataFrame): DataFrame = {
    val nTok = size(toks)
    val nStop = countIn(stopwords)
    val nDistinct = size(array_distinct(toks))
    val stopRatio = nStop.cast("double") / nTok.cast("double")
    val lenScore = least(nTok.cast("double") / lit(300.0), lit(1.0))
    val distinctRatio = nDistinct.cast("double") / nTok.cast("double")
    documents.select(
        col("doc_id"), col("lang"), col("source"),
        length(col("text")).cast("long").as("n_chars"),
        nTok.cast("long").as("n_tokens"),
        nDistinct.cast("long").as("n_distinct_tokens"),
        nStop.cast("long").as("n_stopwords"),
        stopRatio.as("stopword_ratio"),
        (lit(0.4) * stopRatio + lit(0.3) * lenScore + lit(0.3) * distinctRatio)
          .as("quality"))
      .orderBy(col("doc_id"))
  }

  private val enMarkers = Seq("the", "a", "and", "of", "to", "is")
  private val esMarkers = Seq("el", "la", "de", "los", "que", "y")
  private val zhMarkers = Seq("de5", "shi4", "zai4") // pinyin-ish markers

  /** Heuristic language id: marker-token counts per language, argmax with
    * a fixed deterministic tie-break (es > zh > en precedence on strict
    * inequality). Corpus text is synthetic so this mostly predicts 'en' —
    * the operator contract (deterministic scoring + argmax) is the point.
    * The REAL classifier — the one a multilingual pipeline runs — is
    * [[langIdNgram]]; this stays as the fixed-marker contract demo.
    */
  def langId(documents: DataFrame): DataFrame = {
    val sEn = countIn(enMarkers)
    val sEs = countIn(esMarkers)
    val sZh = countIn(zhMarkers)
    documents.select(
        col("doc_id"), col("lang").as("lang_label"),
        sEn.cast("long").as("score_en"), sEs.cast("long").as("score_es"),
        sZh.cast("long").as("score_zh"),
        when(sEs > sEn && sEs > sZh, "es")
          .when(sZh > sEn && sZh >= sEs, "zh")
          .otherwise("en").as("lang_pred"))
      .orderBy(col("doc_id"))
  }

  /** Profile-training sample bound for [[langIdNgram]] (doc_id cut,
    * deterministic) — shared with the oracle text.
    */
  val LangIdTrainDocs = 2000L

  /** Character-n-gram profile language ID — Cavnar–Trenkle 1994
    * ("N-Gram-Based Text Categorization", the public method):
    * per language, the profile is the `profileK` most frequent character
    * 2-/3-grams ranked by frequency (ties lexicographic); a document is
    * scored against each language by the OUT-OF-PLACE distance between
    * its own ranked gram profile and the language's (|rank difference|,
    * missing gram = `profileK` penalty), and classified to the argmin
    * (ties to the lexicographically smallest language). [[langId]]'s
    * graduation: rank profiles are learned FROM the labeled corpus, not
    * hardcoded marker lists, so the classifier separates languages by
    * their actual character statistics (the mixed-language fixture spec
    * shows exactly the case where the marker heuristic fails and this
    * doesn't).
    *
    * Scale shape: profile training is ONE distributed tokenize+groupBy
    * over (lang, gram) — an alphabet-bounded relation (≤ |charset|³ gram
    * types per language, never corpus-proportional) — over a BOUNDED
    * training sample (the first [[LangIdTrainDocs]] doc ids: rank
    * profiles converge with ~100 KB of text per language, so training
    * on the whole corpus buys nothing but cost — the localKMeans /
    * maxTrainVectors discipline; the sample must cover the label set,
    * a contract the scorer ENFORCES by failing fast on any document
    * whose label has no trained profile, so an under-covering sample
    * can never silently misclassify a whole language) — ranked with
    * [[ExactRank]] (full partition-width parallelism; a
    * `PARTITION BY lang` window would cap parallelism at |langs|) and
    * cut to `profileK`. The trained profiles (≤ `maxLangs` × `profileK`
    * entries, fail-fast guarded like HeavyHitters' maxGroups contract)
    * broadcast into a doc-local mapPartitions scorer. Scoring
    * is embarrassingly parallel: each document ranks its OWN grams
    * locally and probes the broadcast map. Gram extraction is
    * char-positional on both engines (oracle-shared); the corpus
    * contract is BMP text (UTF-16/char-position parity).
    */
  def langIdNgram(documents: DataFrame, profileK: Int = 100,
      maxLangs: Int = 256,
      trainDocs: Long = LangIdTrainDocs): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    def gramsOf(n: Int) =
      when(length(col("text")) >= n,
        transform(sequence(lit(1), length(col("text")) - (n - 1)),
          i => col("text").substr(i, lit(n))))
        .otherwise(array().cast("array<string>"))
    val counts = documents
      .filter(col("doc_id") < trainDocs)
      .select(col("lang"), explode(concat(gramsOf(2), gramsOf(3))).as("gram"))
      .groupBy(col("lang"), col("gram")).agg(count(lit(1)).as("cnt"))
      .withColumn("neg_cnt", -col("cnt"))
    // the maxLangs bound is enforced ON the collect itself (limit + a
    // post-hoc distinct-lang check) instead of a separate corpus-wide
    // distinct().count() job: within the bound the limit drops nothing
    // (≤ maxLangs × profileK rows exist), beyond it we fail fast with
    // a bounded driver transfer either way
    val ranked = ExactRank.exactRank(counts, Seq("lang"),
        Seq("neg_cnt", "gram"))
      .filter(col("rnk") <= profileK)
      .select(col("lang"), col("gram"), col("rnk"))
      .limit(maxLangs * profileK + 1)
      .collect() // bounded: ≤ maxLangs × profileK + 1 rows
    val nLangs = ranked.iterator.map(_.getString(0)).toSet.size
    require(ranked.length <= maxLangs * profileK && nLangs <= maxLangs,
      s"langIdNgram: ≥$nLangs languages exceed the maxLangs=$maxLangs " +
        "bounded-profile contract")
    val profiles: Map[String, Map[String, Int]] = ranked
      .groupBy(_.getString(0))
      .map { case (l, rows) =>
        l -> rows.map(r => r.getString(1) -> r.getLong(2).toInt).toMap
      }
    val langsSorted = profiles.keys.toArray.sorted
    val bc = spark.sparkContext.broadcast((langsSorted, profiles))
    documents.select(col("doc_id"), col("lang"), col("text"))
      .as[(Long, String, String)]
      .mapPartitions { it =>
        val (langs, profs) = bc.value
        val trained = langs.toSet
        it.map { case (id, label, text) =>
          // the bounded training sample MUST cover the label set (scaladoc
          // contract); a label with no trained profile would otherwise be
          // silently misclassified for every one of its documents — fail
          // fast in the scorer instead (no extra coverage job needed: the
          // scoring scan already sees every label)
          if (label != null && !trained.contains(label))
            throw new IllegalStateException(
              s"langIdNgram: document $id is labeled '$label' but no profile " +
                s"was trained for it — the training sample (doc_id < $trainDocs) " +
                "did not cover this language; raise trainDocs or relabel so " +
                "every language appears in the training sample")
          val t = if (text == null) "" else text
          val cnt = scala.collection.mutable.HashMap.empty[String, Long]
          var n = 2
          while (n <= 3) {
            var i = 0
            while (i + n <= t.length) {
              val g = t.substring(i, i + n)
              cnt.update(g, cnt.getOrElse(g, 0L) + 1L)
              i += 1
            }
            n += 1
          }
          val docTop = cnt.toArray
            .sortBy { case (g, c) => (-c, g) }.take(profileK)
          // argmin over langs ASC — first strict improvement wins, so
          // ties resolve to the lexicographically smallest language
          var bestLang: String = null
          var bestDist = Long.MaxValue
          langs.foreach { l =>
            val p = profs(l)
            var d = 0L
            var r = 1
            docTop.foreach { case (g, _) =>
              d += (p.get(g) match {
                case Some(pr) => math.abs(r.toLong - pr.toLong)
                case None => profileK.toLong
              })
              r += 1
            }
            if (d < bestDist) { bestLang = l; bestDist = d }
          }
          (id, label,
            if (bestLang == null) "" else bestLang,
            if (bestLang == null) 0L else bestDist)
        }
      }.toDF("doc_id", "lang_label", "lang_pred", "best_dist")
      .orderBy(col("doc_id"))
  }

  /** Corpus token frequencies via the BPE-ish regex tokenizer, top-k.
    * explode → single low-cardinality groupBy with map-side combine;
    * top-k is TakeOrderedAndProject.
    */
  /** Repeated-trigram quality signal (the Gopher-rules repetition
    * heuristic): fraction of a document's trigram occurrences taken by
    * its single most repeated trigram. High ratio = template/boilerplate
    * text a pretraining pipeline filters out. NON-distinct trigrams here,
    * unlike Dedup.shingles — repetition is the signal. Documents shorter
    * than 3 tokens emit no row (no trigrams to judge).
    *
    * Computed entirely ROW-LOCALLY: sort the document's trigram array and
    * count runs (run starts = positions whose trigram differs from the
    * previous), so distinct count = number of starts and the max repeat =
    * longest run. The earlier explode → (doc, trigram) groupBy → doc
    * groupBy formulation shuffled one row per trigram occurrence
    * (corpus-token-order cardinality!) twice; this plan shuffles NOTHING
    * — per-doc work rides the scan, embarrassingly parallel at 100 TB.
    * The DuckDB oracle keeps the aggregation formulation, so the driver
    * hash gate also proves the two formulations equivalent.
    */
  def repetitionStats(documents: DataFrame): DataFrame = {
    val t = split(col("text"), " ")
    val tris = transform(sequence(lit(1), size(t) - 2),
      i => concat_ws(" ", element_at(t, i), element_at(t, i + 1),
        element_at(t, i + 2)))
    documents.filter(size(t) >= 3)
      .withColumn("_sorted", array_sort(tris))
      .withColumn("_n", size(col("_sorted")).cast("long"))
      .withColumn("_starts", filter(sequence(lit(1), size(col("_sorted"))),
        i => i === 1 ||
          element_at(col("_sorted"), i) =!= element_at(col("_sorted"), i - 1)))
      .withColumn("_runs", transform(sequence(lit(1), size(col("_starts"))),
        j => when(j < size(col("_starts")),
            element_at(col("_starts"), j + 1)).otherwise(col("_n") + 1)
          - element_at(col("_starts"), j)))
      .select(col("doc_id"),
        col("_n").as("n_trigrams"),
        array_max(col("_runs")).cast("long").as("max_trigram"),
        size(col("_starts")).cast("long").as("n_distinct_trigrams"),
        (array_max(col("_runs")).cast("double") / col("_n").cast("double"))
          .as("rep_ratio"))
      .orderBy(col("doc_id"))
  }

  /** Unigram Shannon entropy per document — the information-density
    * quality signal (near-zero entropy = degenerate/repeated text a
    * pretraining pipeline filters; ~log(n) = diverse vocabulary). Each
    * distinct token contributes floor(−1e6·p·ln p) with p = c/n, and the
    * document entropy is the INTEGER sum of those contributions — per-term
    * flooring makes the cross-engine sum order-independent (the [[bm25]]
    * discipline, including its documented ~1-ulp ln() portability note).
    *
    * Computed ROW-LOCALLY via the sorted-array run-length machinery of
    * [[repetitionStats]] (runs of the sorted token array = per-distinct-
    * token counts): no explode, no shuffle before the output sort. The
    * oracle recomputes it as the explode + two-level aggregation, so the
    * driver gate again proves both formulations equivalent.
    */
  def tokenEntropy(documents: DataFrame): DataFrame = {
    val t = toks
    val p = (c: Column, n: Column) => c.cast("double") / n.cast("double")
    documents
      .withColumn("_sorted", array_sort(t))
      .withColumn("_n", size(col("_sorted")).cast("long"))
      .withColumn("_starts", filter(sequence(lit(1), size(col("_sorted"))),
        i => i === 1 ||
          element_at(col("_sorted"), i) =!= element_at(col("_sorted"), i - 1)))
      .withColumn("_runs", transform(sequence(lit(1), size(col("_starts"))),
        j => when(j < size(col("_starts")),
            element_at(col("_starts"), j + 1)).otherwise(col("_n") + 1)
          - element_at(col("_starts"), j)))
      .select(col("doc_id"),
        col("_n").as("n_tokens"),
        size(col("_starts")).cast("long").as("n_distinct"),
        aggregate(col("_runs"), lit(0L), (acc, c) => acc +
          floor(lit(-1000000.0) * p(c, col("_n")) * log(p(c, col("_n")))))
          .as("entropy_e6"))
      .orderBy(col("doc_id"))
  }

  /** Token counting under two tokenizers per document: whitespace words
    * and a BPE-ish subword regex (letter runs | digit runs | single
    * punctuation — the pre-tokenization split BPE vocabularies are trained
    * over), plus the chars-per-subword ratio, the usual proxy for how many
    * real BPE tokens a document will cost. Row-local codegen'd projection;
    * no shuffle.
    */
  def tokenCounts(documents: DataFrame): DataFrame = {
    val nWs = size(split(col("text"), " ")).cast("long")
    val nSub = size(regexp_extract_all(col("text"),
      lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))).cast("long")
    val nChars = length(col("text")).cast("long")
    documents.select(col("doc_id"),
        nWs.as("n_ws_tokens"), nSub.as("n_subword_tokens"),
        nChars.as("n_chars"),
        (nChars.cast("double") / nSub.cast("double")).as("chars_per_subword"))
      .orderBy(col("doc_id"))
  }

  /** Gopher stop-word presence list (Rae et al. 2021 §A.1.1, public):
    * a document must contain at least two of these to pass the ruleset.
    */
  private[graft] val gopherStopwords =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** The Gopher quality ruleset (Rae et al. 2021, "Scaling Language
    * Models", appendix A.1.1 — the public filtering recipe most
    * pretraining pipelines start from): per document,
    *
    *  - word count within [minWords, maxWords];
    *  - mean word length within [3, 10];
    *  - symbol-to-word ratio ('#' chars + '...' occurrences) ≤ 0.1;
    *  - < 90% of lines start with a bullet ('-' or '*');
    *  - < 30% of lines end with an ellipsis;
    *  - ≥ 80% of words contain at least one alphabetic character;
    *  - at least `minStopHits` of the `stopList` words present
    *    (default: the canonical 8-word [[gopherStopwords]]; production
    *    pipelines swap in a per-language function-word list, which is why
    *    the lexicon is a parameter and not a constant).
    *
    * Emits every rule's raw statistic plus the composite `keep` verdict
    * so downstream callers can re-threshold without recomputation.
    * Entirely ROW-LOCAL (the rules are per-document arithmetic over the
    * token/line arrays — whole-stage codegen, no UDF, no shuffle before
    * the output sort), so the filter rides the scan at any corpus size.
    * Ratios divide exact integer operands in a fixed order, so the
    * doubles — and the driver hash — are bit-identical to the oracle.
    */
  /** FLESCH READING EASE in exact e6 integers (Flesch 1948; the
    * classic difficulty signal corpus filters bucket on — FineWeb-Edu-
    * style educational scoring is a learned refinement of exactly this
    * shape). Score = 206.835 − 1.015·(words/sentences) −
    * 84.6·(syllables/words), computed entirely by integer
    * cross-multiplication — flesch_e6 = 206835000 −
    * (1015000·W) div S − (84600000·Y) div W — so the oracle replays it
    * bit-for-bit (each division floors independently; that's the
    * CONTRACT, not an approximation to the float form).
    *
    * Counts are deliberately simple, shared with the oracle: words =
    * single-space split (the house n_ws_tokens rule), sentences =
    * [.!?]+ runs floored at 1, syllables = [aeiouy]+ vowel groups over
    * the lowercased text (summing per-word groups equals one global
    * count). Row-local projection — no shuffle at any size.
    */
  def readabilityFlesch(documents: DataFrame): DataFrame = {
    val w = size(split(col("text"), " ")).cast("long")
    val s = greatest(lit(1L),
      size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))).cast("long"))
    val y = size(regexp_extract_all(lower(col("text")),
      lit("[aeiouy]+"), lit(0))).cast("long")
    documents.select(col("doc_id"), w.as("n_words"), s.as("n_sentences"),
        y.as("n_syllables"))
      .withColumn("flesch_e6",
        lit(206835000L) - expr("(1015000 * n_words) div n_sentences") -
          expr("(84600000 * n_syllables) div n_words"))
      .orderBy(col("doc_id"))
  }

  def gopherQuality(documents: DataFrame,
      minWords: Int = 50, maxWords: Int = 100000,
      stopList: Seq[String] = gopherStopwords,
      minStopHits: Int = 2): DataFrame = {
    require(stopList.nonEmpty, "gopherQuality: stopList must be non-empty")
    val words = split(col("text"), " ")
    val nWords = size(words).cast("long")
    val nWordsD = nWords.cast("double")
    val sumLen = aggregate(words, lit(0L), (acc, w) => acc + length(w))
    val meanLen = sumLen.cast("double") / nWordsD
    val nHash =
      (length(col("text")) - length(replace(col("text"), lit("#"), lit(""))))
        .cast("long")
    // each '...' occurrence removes exactly 3 chars, so the count is the
    // length delta over 3 (exact: the delta is always a multiple of 3)
    val nEllipsis =
      ((length(col("text")) - length(replace(col("text"), lit("..."), lit(""))))
        .cast("long") / lit(3L)).cast("long")
    val symbolRatio = (nHash + nEllipsis).cast("double") / nWordsD
    val lines = split(col("text"), "\n")
    val nLinesD = size(lines).cast("double")
    val bulletFrac =
      size(filter(lines, l => l.startsWith("-") || l.startsWith("*")))
        .cast("double") / nLinesD
    val ellipsisFrac = size(filter(lines, l => l.endsWith("...")))
      .cast("double") / nLinesD
    val alphaFrac =
      size(filter(words, w => w.rlike("[a-z]"))).cast("double") / nWordsD
    // count of REQUIRED stopwords present (distinct presence, not token
    // occurrences): probe the fixed 8-word list against the document
    val stopArr = array(stopList.map(lit): _*)
    val nStopHits =
      size(filter(stopArr, s => array_contains(words, s))).cast("long")
    documents.select(
        col("doc_id"),
        nWords.as("n_words"),
        meanLen.as("mean_word_len"),
        symbolRatio.as("symbol_ratio"),
        bulletFrac.as("bullet_frac"),
        ellipsisFrac.as("ellipsis_frac"),
        alphaFrac.as("alpha_frac"),
        nStopHits.as("n_stop_hits"),
        (nWords >= minWords && nWords <= maxWords &&
          meanLen >= 3.0 && meanLen <= 10.0 &&
          symbolRatio <= 0.1 &&
          bulletFrac < 0.9 && ellipsisFrac < 0.3 &&
          alphaFrac >= 0.8 && nStopHits >= minStopHits.toLong).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** C4 line-level cleaning rules (Raffel et al. 2020 §2.2, public): keep
    * a line only if it ends in terminal punctuation, has at least
    * `minLineWords` words, and mentions none of javascript / lorem ipsum /
    * curly braces; keep the DOCUMENT only if at least `minKeptLines`
    * lines survive. The line-level complement of the document-level
    * [[gopherQuality]] ruleset — C4 repairs pages by deleting boilerplate
    * lines, Gopher rejects whole documents.
    *
    * `requireTerminalPunct` is a switch because corpora normalized to
    * stripped/unpunctuated text (like the driver corpus) would otherwise
    * drop every line vacuously. Entirely ROW-LOCAL: per-line verdicts are
    * array lambdas over the line split, codegen'd, no shuffle before the
    * output sort; the cleaned text is re-joined kept lines.
    */
  def c4LineFilter(documents: DataFrame, minLineWords: Int = 5,
      minKeptLines: Int = 1,
      requireTerminalPunct: Boolean = true): DataFrame = {
    require(minLineWords >= 1 && minKeptLines >= 1,
      "c4LineFilter: thresholds must be >= 1")
    val lines = split(col("text"), "\n")
    val keepLine = (l: Column) => {
      val punctOk =
        if (requireTerminalPunct) l.rlike("[.!?\"]$") else lit(true)
      punctOk && size(split(l, " ")) >= minLineWords &&
        !lower(l).contains("javascript") &&
        !lower(l).contains("lorem ipsum") &&
        !l.contains("{")
    }
    val kept = filter(lines, keepLine)
    documents.select(
        col("doc_id"),
        size(lines).cast("long").as("n_lines"),
        size(kept).cast("long").as("n_kept_lines"),
        concat_ws("\n", kept).as("clean_text"),
        (size(kept) >= minKeptLines).as("keep"))
      .orderBy(col("doc_id"))
  }

  def tokenFrequencies(documents: DataFrame, k: Int = 50): DataFrame =
    documents
      .select(explode(regexp_extract_all(col("text"), lit("[a-z0-9]+"), lit(0)))
        .as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token"))
      .limit(k)

  val RollP = 1000000007L
  val RollB = 31L
  val RollWindow = 8

  /** Rolling-hash document fingerprinting (Karp-Rabin over the token
    * stream, winnowing-style summary): token value = md5-prefix integer
    * mod P; each 8-token window hashes by Horner's rule (mod-step
    * accumulation keeps every operand < 4e10, exact in long/BIGINT on
    * both engines). Per doc: window count, distinct window hashes, and
    * the minimum window hash — the content-defined fingerprint that
    * survives insertions outside the matching window.
    */
  def rollingFingerprint(documents: DataFrame): DataFrame = {
    val t = split(col("text"), " ")
    val vals = transform(t, tok =>
      conv(substring(md5(tok.cast("binary")), 1, 14), 16, 10).cast("long") % RollP)
    val horner = (i: Column) => (0 until RollWindow)
      .foldLeft(lit(0L)) { (acc, k) =>
        (acc * RollB + element_at(col("_vals"), i + k)) % RollP
      }
    documents
      .withColumn("_vals", vals)
      .withColumn("_wh",
        when(size(col("_vals")) >= RollWindow,
          transform(sequence(lit(1), size(col("_vals")) - (RollWindow - 1)), horner))
          .otherwise(array().cast("array<long>")))
      .select(col("doc_id"),
        size(col("_wh")).cast("long").as("n_windows"),
        size(array_distinct(col("_wh"))).cast("long").as("n_distinct_windows"),
        array_min(col("_wh")).as("min_window_hash"))
      .orderBy(col("doc_id"))
  }

  /** O4 generalized to token windows (SURVEY.md §7 phase 2): the
    * repeat-terminated co-occurrence window applied to document token
    * sequences instead of purchase sequences — top co-occurring term
    * pairs across the corpus.
    */
  def tokenCoOccurrence(documents: DataFrame, k: Int = 50): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val baskets = documents
      .select(col("doc_id").cast("string").as("customer"),
        split(col("text"), " ").as("products"))
      .as[graft.Basket]
    CoOccurrence.counts(baskets)
      .select(col("product").as("term"), col("neighbor").as("coterm"), col("cnt"))
      .orderBy(col("cnt").desc, col("term"), col("coterm"))
      .limit(k)
  }

  /** End-to-end training-data cleaning pipeline: quality-score → filter →
    * bag-fingerprint dedup (keep lowest doc_id) → per-language corpus
    * summary. The composition every stage was built for; aggregates are
    * order-independent (counts + min/max) so the summary oracle-matches.
    *
    * The dedup step is `groupBy(bag_md5).agg(min(struct(doc_id, lang,
    * quality)))` — min over a struct whose first field is doc_id picks the
    * kept document AND carries its payload through the aggregation, so no
    * join-back is needed at all. Partial-aggregable: an exact-dup bag
    * repeated 10⁸ times (the most common duplication mode at web scale)
    * collapses to one row per map task before the exchange — a
    * `row_number over Window.partitionBy(bag_md5)` would pin all of them
    * into ONE task at any cluster size.
    */
  def cleanCorpus(documents: DataFrame, minQuality: Double = 0.22): DataFrame = {
    val stats = textStats(documents)
      .select(col("doc_id"), col("lang"), col("quality"))
    val fp = fingerprints(documents).select(col("doc_id"), col("bag_md5"))
    stats.filter(col("quality") >= minQuality)
      .join(fp, "doc_id")
      .groupBy(col("bag_md5"))
      .agg(min(struct(col("doc_id"), col("lang"), col("quality"))).as("keep"))
      .select(col("keep.lang").as("lang"), col("keep.quality").as("quality"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("quality")).as("min_quality"),
        max(col("quality")).as("max_quality"))
      .orderBy(col("lang"))
  }

  /** PII patterns shared verbatim with the DuckDB oracle (subset of regex
    * syntax on which Java regex and RE2 agree: literal classes, bounded
    * repetition, \b, \d).
    */
  val EmailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val LongNumRe = "\\d{7,}"

  /** PII scrubbing — the redaction pass every training-data pipeline runs
    * before anything else sees the text: mask emails, then IPv4 addresses,
    * then long digit runs (ids/phones), each stage scanning the previous
    * stage's masked text so an IP's octets are never double-counted as a
    * long number. Emits per-doc detection counts, the md5 of the fully
    * masked text (scalar stand-in for the masked payload so the driver can
    * hash it), and a `clean` flag. Pure row-local codegen'd projection —
    * no shuffle, scales embarrassingly.
    */
  /** Code-point RANGE classes shared at the pattern-string level with the
    * DuckDB oracle (the oracle constructs the identical ranges via
    * chr()): explicit BMP ranges, not \\p{Script=...} names, because the
    * script-name syntax differs between Java regex and RE2 while a
    * character range is the same pattern in both.
    */
  val LatinRange = "[A-Za-z]"
  val CyrillicRange = "[Ѐ-ӿ]"
  val CjkRange = "[一-鿿]"
  val DigitRange = "[0-9]"

  /** Script composition profile — the multilingual-curation signal ahead
    * of [[langId]]'s n-gram heuristic: per document, code-point counts by
    * script range (Latin, Cyrillic, CJK unified, digits, other) and the
    * dominant script under a fixed tie-break (latin ≥ cyrillic ≥ cjk). A
    * mixed-script page (spam, boilerplate chrome around CJK content,
    * transliteration) shows up here before any language model runs.
    * Row-local count-by-delete (length minus class-stripped length, exact
    * in code points on both engines); no shuffle beyond the output sort.
    */
  def scriptProfile(documents: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    def cnt(re: String) =
      (length(t) - length(regexp_replace(t, re, ""))).cast("long")
    val nCp = length(t).cast("long")
    val nLat = cnt(LatinRange)
    val nCyr = cnt(CyrillicRange)
    val nCjk = cnt(CjkRange)
    val nDig = cnt(DigitRange)
    documents.select(
        col("doc_id"),
        nCp.as("n_cp"),
        nLat.as("n_latin"),
        nCyr.as("n_cyrillic"),
        nCjk.as("n_cjk"),
        nDig.as("n_digit"),
        (nCp - nLat - nCyr - nCjk - nDig).as("n_other"),
        when(nLat >= nCyr && nLat >= nCjk, "latin")
          .when(nCyr >= nCjk, "cyrillic")
          .otherwise("cjk").as("dominant"))
      .orderBy(col("doc_id"))
  }

  /** Unicode NFC normalization — the canonicalization step ahead of any
    * content hashing: decomposed sequences (e + U+0301) and their
    * precomposed forms (U+00E9) are DIFFERENT strings to md5/minhash/
    * exact-dedup until normalized, so a crawl mixing the two (every real
    * crawl does) leaks duplicates past every hash-keyed operator upstream
    * of this one. Runs `java.text.Normalizer` (JDK-public, the Unicode
    * reference algorithm — DuckDB's nfc_normalize implements the same
    * spec, which is what makes the oracle exact) through the doc-local
    * mapPartitions seam: partitioning preserved, no shuffle before the
    * presentation sort. Counts are code points, not UTF-16 units, per the
    * [[graft.operators.Multimodal.embedStub]] cross-engine contract.
    */
  def nfcNormalize(documents: DataFrame, textCol: String = "text"): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id"), col(textCol)).as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, raw) =>
          if (raw == null) (id, null: String, true, 0L, 0L)
          else {
            val nfc = java.text.Normalizer.normalize(raw,
              java.text.Normalizer.Form.NFC)
            (id, nfc, nfc == raw,
              raw.codePointCount(0, raw.length).toLong,
              nfc.codePointCount(0, nfc.length).toLong)
          }
        }
      }.toDF("doc_id", "nfc_text", "already_nfc", "n_cp_raw", "n_cp_nfc")
      .orderBy(col("doc_id"))
  }

  /** Encoding-damage (mojibake) detection — the ftfy-class curation
    * gate: web-scraped corpora are full of UTF-8 bytes decoded as
    * Latin-1/cp1252 ("café" → "cafÃ©", "'" → "â€™") and of U+FFFD
    * replacement characters from lossy transcodes, and a model trained
    * on them learns the damage. The detector counts three signature
    * classes per document:
    *  - `n_latin1_utf8` — 'Ã'/'Â' lead bytes (the UTF-8 2-byte-sequence
    *    prefix bytes 0xC3/0xC2 decoded as Latin-1; overwhelmingly
    *    mojibake in real text, vanishing in intact prose);
    *  - `n_broken_punct` — the "â€" digraph (0xE2 0x80, the UTF-8
    *    punctuation-block prefix, decoded as Latin-1);
    *  - `n_replacement` — U+FFFD itself (a decoder already gave up);
    * plus the keep verdict `is_clean` (all three zero). Counts are
    * single-code-point/digraph occurrence counts via length-difference
    * arithmetic — row-local, codegen'd, identical in the oracle (both
    * engines count code points). Heuristic by design (a legitimate
    * Portuguese "Ã" exists): this is a FLAG for routing to re-decode,
    * the ftfy posture, not a destructive filter.
    */
  def mojibakeStats(documents: DataFrame): DataFrame = {
    def count1(marker: String) =
      (length(col("text")) - length(replace(col("text"), lit(marker), lit(""))))
        .cast("long")
    def count2(marker: String) =
      ((length(col("text")) - length(replace(col("text"), lit(marker), lit("")))) / 2)
        .cast("long")
    val latin1 = (count1("Ã") + count1("Â")).as("n_latin1_utf8")
    val punct = count2("â€").as("n_broken_punct")
    val repl = count1("�").as("n_replacement")
    documents.select(col("doc_id"), latin1, punct, repl)
      .withColumn("is_clean",
        col("n_latin1_utf8") === 0 && col("n_broken_punct") === 0 &&
          col("n_replacement") === 0)
      .orderBy(col("doc_id"))
  }

  def scrubPii(documents: DataFrame): DataFrame = {
    val emailMasked = regexp_replace(col("text"), EmailRe, "<EMAIL>")
    val ipMasked = regexp_replace(emailMasked, Ipv4Re, "<IP>")
    val allMasked = regexp_replace(ipMasked, LongNumRe, "<NUM>")
    val nEmails = size(regexp_extract_all(col("text"), lit(EmailRe), lit(0))).cast("long")
    val nIps = size(regexp_extract_all(emailMasked, lit(Ipv4Re), lit(0))).cast("long")
    val nNums = size(regexp_extract_all(ipMasked, lit(LongNumRe), lit(0))).cast("long")
    documents.select(col("doc_id"),
        nEmails.as("n_emails"), nIps.as("n_ips"), nNums.as("n_long_numbers"),
        md5(allMasked.cast("binary")).as("masked_md5"),
        (nEmails + nIps + nNums === 0).as("clean"))
      .orderBy(col("doc_id"))
  }

  /** Cap on the benchmark slice's doc ids: real decontamination
    * benchmarks (held-out eval suites) are CONSTANT-size, so the
    * corpus-derived stand-in must be too — without the id horizon the
    * slice would grow linearly with the corpus and the broadcast below
    * would stop being a broadcast at scale.
    */
  val MaxBenchmarkDocId = 1000000L

  /** Benchmark decontamination check: fraction of each document's distinct
    * token trigrams that appear in a benchmark/eval set — the standard
    * n-gram-overlap test for pretraining-set contamination. The benchmark
    * here is a BOUNDED deterministic slice of the corpus (doc_id %
    * `benchmarkMod` == 0 up to [[MaxBenchmarkDocId]] — a stand-in for an
    * external eval suite; swap in any fixed shingle relation). Because
    * the benchmark is constant-size by construction, broadcasting it is
    * sound at any corpus scale and the contamination scan stays one
    * map-side join over the exploded shingles plus a doc-keyed count —
    * linear at 100 TB. Documents under 3 tokens have no trigrams and
    * emit no row.
    *
    * Holds NO cache: the benchmark side shingles its own doc_id-pruned
    * scan (bounded by construction), and totals + hits come from ONE
    * left broadcast join over a single corpus pass — `count(bench_hit)`
    * skips nulls, so unmatched shingles count toward the denominator
    * only. The old shape cached a corpus-sized shingle relation and
    * required callers to `clearCache()` after consuming the lazy result;
    * at 100 TB that pin is executor-storage-sized, while the pruned
    * bench rescan costs 1/mod of one scan.
    */
  def contamination(documents: DataFrame, benchmarkMod: Long = 97,
      maxBenchmarkDocId: Long = MaxBenchmarkDocId): DataFrame = {
    val isBench = benchPredicate(benchmarkMod, maxBenchmarkDocId)
    val bench = Dedup.shingles(documents.filter(isBench))
      .select(col("shingle")).distinct()
      .withColumn("bench_hit", lit(1))
    Dedup.shingles(documents)
      .join(broadcast(bench), Seq("shingle"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        count(col("bench_hit")).as("n_contaminated"))
      // column contract shared with contaminationResult (one oracle for
      // both engine paths — bit-identity pinned in PipelineSpec)
      .select(col("doc_id"), col("n_shingles"), col("n_contaminated"),
        (col("n_contaminated").cast("double") /
          col("n_shingles").cast("double")).as("contamination"),
        isBench.as("is_benchmark"))
      .orderBy(col("doc_id"))
  }

  private def benchPredicate(benchmarkMod: Long,
      maxBenchmarkDocId: Long): Column =
    col("doc_id") % benchmarkMod === 0 && col("doc_id") <= maxBenchmarkDocId

  /** The contamination report tail for the Bloom-filter path: per-doc
    * shingle totals left-joined with the hit counts. Must stay
    * column-for-column aligned with [[contamination]]'s single-pass
    * projection — the two paths share one oracle and their bit-identity
    * is pinned in PipelineSpec.
    */
  private def contaminationResult(sh: DataFrame, hits: DataFrame,
      isBench: Column): DataFrame = {
    val totals = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
    totals.join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        (coalesce(col("n_contaminated"), lit(0L)).cast("double") /
          col("n_shingles").cast("double")).as("contamination"),
        isBench.as("is_benchmark"))
      .orderBy(col("doc_id"))
  }

  /** Overlapping document chunking — the RAG/embedding-prep staple: split
    * each document's token stream into `chunkTokens`-token windows that
    * step by `chunkTokens − overlap`, so consecutive chunks share
    * `overlap` tokens of context. A trailing start is emitted only when
    * its chunk contributes tokens the previous chunk did not already
    * cover (start == 1 or start + overlap <= n), so coverage is total and
    * no chunk is fully redundant. Row-local explode — fan-out inherits
    * the scan's partitioning, no shuffle; chunk content is reported as an
    * md5 (scalar stand-in for the chunk payload an embedding stage would
    * consume).
    */
  def chunkDocuments(documents: DataFrame, chunkTokens: Int = 32,
      overlap: Int = 8): DataFrame = {
    require(overlap >= 0 && overlap < chunkTokens,
      "overlap must be in [0, chunkTokens)")
    val stride = chunkTokens - overlap
    val t = split(col("text"), " ")
    val n = size(t)
    val starts = filter(sequence(lit(1), n, lit(stride)),
      s => s === 1 || s + overlap <= n)
    val chunks = transform(starts, s =>
      struct(s.cast("long").as("start"),
        slice(t, s, lit(chunkTokens)).as("chunk")))
    documents.select(col("doc_id"), posexplode(chunks))
      .select(col("doc_id"),
        col("pos").cast("long").as("chunk_idx"),
        col("col.start").as("start_token"),
        size(col("col.chunk")).cast("long").as("n_chunk_tokens"),
        md5(array_join(col("col.chunk"), " ").cast("binary")).as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** Content-defined chunking: chunk boundaries cut AFTER any token whose
    * md5-derived hash is ≡ 0 (mod `modulus`) — the Rabin/rsync trick that
    * makes chunk boundaries a function of CONTENT, not position, so an
    * insertion near a document's head shifts only its own chunk while
    * every later chunk re-aligns (fixed-stride [[chunkDocuments]] would
    * re-cut everything downstream). Expected chunk length = `modulus`
    * tokens. The dedup-friendly complement to chunkDocuments for
    * incremental corpus re-ingestion.
    *
    * DOC-LOCAL, so computed as a mapPartitions loop (one reused
    * MessageDigest, no token explode, no pre-output shuffle — the same
    * discipline as Dedup.simhash); the oracle recomputes it as the
    * explode + prefix-sum-of-boundaries formulation, so the driver gate
    * also proves the two equivalent. Hash = first 8 md5 hex chars as an
    * unsigned 32-bit integer, identical to the oracle's '0x' decode;
    * tokenization is split(" ", -1) (trailing-empty parity contract).
    */
  def cdcChunks(documents: DataFrame, modulus: Int = 16): DataFrame = {
    require(modulus >= 2, "modulus must be >= 2")
    val spark = documents.sparkSession
    import spark.implicits._
    documents.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text) =>
          if (text == null) Iterator.empty
          else {
            val out = scala.collection.mutable.ArrayBuffer
              .empty[(Long, Long, Long, String)]
            val sb = new java.lang.StringBuilder
            var chunkId = 0L
            var n = 0L
            text.split(" ", -1).foreach { tok =>
              if (n > 0) sb.append(' ')
              sb.append(tok)
              n += 1
              val d = md.digest(
                tok.getBytes(java.nio.charset.StandardCharsets.UTF_8))
              val h = ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
                ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
              if (h % modulus == 0) {
                out += ((id, chunkId, n, sb.toString))
                chunkId += 1; n = 0; sb.setLength(0)
              }
            }
            if (n > 0) out += ((id, chunkId, n, sb.toString))
            out.iterator
          }
        }
      }.toDF("doc_id", "chunk_id", "n_tokens", "chunk_text")
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  /** Content fingerprints: exact (md5 of text) and order-invariant
    * (md5 of the sorted distinct token list) — the latter is the cheap
    * "same bag of words" near-dup key.
    */
  def fingerprints(documents: DataFrame): DataFrame =
    documents.select(
        col("doc_id"),
        md5(col("text").cast("binary")).as("content_md5"),
        md5(array_join(array_sort(array_distinct(toks)), " ").cast("binary"))
          .as("bag_md5"))
      .orderBy(col("doc_id"))

  /** Repeated-passage removal (the C4/RefinedWeb sub-document dedup step):
    * documents are cut into consecutive `spanTokens`-token passages, a
    * passage duplicated ANYWHERE in the corpus keeps only its globally
    * first occurrence (ordered by doc_id, then position), and each
    * document is reassembled from its surviving passages in order. Unlike
    * [[graft.operators.Dedup.exact]] (whole-document) this removes
    * boilerplate passages repeated ACROSS otherwise-distinct documents.
    *
    * Plan shape: one explode (row-local fan-out, inherits the scan's
    * partitioning), a PARTIAL-AGGREGATED groupBy on the passage text that
    * reduces each passage to its single first occurrence
    * (`min(struct(doc_id, pos))` — lexicographic struct min ==
    * first-by-(doc_id, pos), combined map-side so a passage repeated in
    * 10⁸ documents shrinks to one row per map task BEFORE the exchange),
    * an equi-join of that one-row-per-passage relation back onto the
    * exploded rows (AQE skew-join splits a hot passage's probe partition
    * — something no window formulation allows, since a window must
    * colocate a key's every row in ONE task), and a doc-keyed aggregation
    * to rebuild the text. Passage text, not its hash, is the shuffle key
    * here for oracle portability; at 100 TB the key would be
    * xxhash64(passage) to shrink shuffle width — same plan.
    */
  def passageDedup(documents: DataFrame, spanTokens: Int = 10): DataFrame = {
    require(spanTokens >= 1, "spanTokens must be >= 1")
    val t = toks
    val passages = documents.select(col("doc_id"),
        posexplode(transform(sequence(lit(1), size(t), lit(spanTokens)),
          s => array_join(slice(t, s, lit(spanTokens)), " "))))
      .toDF("doc_id", "pos", "passage")
    // one row per distinct passage: its global first occurrence — a
    // hash aggregate with map-side combining, never a hot-key window
    val firstOcc = passages.groupBy(col("passage"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("first"))
    // totals and the kept-passage rebuild are conditional aggregates of
    // the same joined rows (collect_list skips the nulls the when()
    // leaves for dropped passages), so no totals-join is needed — every
    // document survives (possibly with empty text), keeping the operator
    // composable with downstream stages that expect the full corpus
    passages.join(firstOcc, Seq("passage"))
      .withColumn("keep", col("doc_id") === col("first.doc_id") &&
        col("pos") === col("first.pos"))
      .groupBy(col("doc_id")).agg(
        count(lit(1)).as("n_passages"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(
            when(col("keep"), struct(col("pos"), col("passage"))))),
          s => s.getField("passage")), " ").as("clean_text"))
      .orderBy(col("doc_id"))
  }

  /** Global boilerplate removal — the CCNet/RefinedWeb-style filter that
    * drops any `spanTokens`-token passage appearing in MORE than
    * `maxDocFreq` distinct documents, from EVERY document (unlike
    * [[passageDedup]], which keeps the first occurrence: a navigation
    * header repeated across a site should survive nowhere). Same
    * fixed-stride segmentation as passageDedup so the two compose.
    *
    * The per-passage document frequency is a `count(DISTINCT doc_id)`
    * aggregation on the passage key — Catalyst plans it as two cascaded
    * hash aggregates (distinct-expand on (passage, doc_id), then the
    * count), BOTH with map-side partial combining, joined back onto the
    * exploded rows. The hot passage is this operator's raison d'être (a
    * navigation header in 10⁸ documents), so the aggregate-then-join
    * shape matters here more than anywhere: the hot key collapses
    * map-side to one row per task, and the join-back probe partition is
    * AQE-skew-splittable — a window on the passage key would pin all
    * 10⁸ occurrences into a single task. The doc rebuild is the same
    * conditional aggregation as passageDedup. Scale shape: explode rides
    * the scan; shuffles on passage (partial-agg'd df + join probe) and
    * doc_id.
    */
  def boilerplateFilter(documents: DataFrame, spanTokens: Int = 10,
      maxDocFreq: Int = 1): DataFrame = {
    require(spanTokens >= 1, "spanTokens must be >= 1")
    require(maxDocFreq >= 1, "maxDocFreq must be >= 1")
    val t = toks
    val passages = documents.select(col("doc_id"),
        posexplode(transform(sequence(lit(1), size(t), lit(spanTokens)),
          s => array_join(slice(t, s, lit(spanTokens)), " "))))
      .toDF("doc_id", "pos", "passage")
    val docFreq = passages.groupBy(col("passage"))
      .agg(countDistinct(col("doc_id")).as("df"))
    passages.join(docFreq, Seq("passage"))
      .withColumn("keep", col("df") <= maxDocFreq)
      .groupBy(col("doc_id")).agg(
        count(lit(1)).as("n_passages"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(
            when(col("keep"), struct(col("pos"), col("passage"))))),
          s => s.getField("passage")), " ").as("clean_text"))
      .orderBy(col("doc_id"))
  }

  /** TF-IDF top-`k` terms per document — the classic relevance/keyword
    * signal over the corpus. tfidf = tf · ln((N+1)/(df+1)), floor-scaled
    * to e6 so the double is engine-portable.
    *
    * Portability note: unlike +,·,/,sqrt (IEEE correctly-rounded and thus
    * bit-identical across engines), ln() is only specified to ~1 ulp, so
    * floor(x·1e6) could in principle disagree when x·1e6 lands within an
    * ulp of an integer (probability ≈ 1e-10 per value — none observed at
    * any tested sf; [[bm25]] shares this contract).
    *
    * Plan shape: a doc-keyed tf aggregation (one shuffle), a vocab-sized
    * df aggregation derived from it, and a BROADCAST of the df relation
    * back onto tf — the vocabulary is sublinear in the corpus (new
    * documents mostly repeat old words), so the broadcast stays sound at
    * 100 TB while the big side never reshuffles. The per-doc top-k is a
    * doc-partitioned window over already-aggregated rows.
    */
  def tfidfTopK(documents: DataFrame, k: Int = 3): DataFrame = {
    val tokens = documents.select(col("doc_id"), explode(toks).as("tok"))
    val tf = tokens.groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val docFreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val nDocs = documents.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(broadcast(docFreq), Seq("tok"))
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf_e6", floor(col("tf").cast("double") *
        log((col("n_docs") + 1).cast("double") /
          (col("df") + 1).cast("double")) * lit(1000000.0)).cast("long"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("tfidf_e6").desc, col("tok"))
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("rk"), col("tok"), col("tf"), col("df"),
        col("tfidf_e6"))
      .orderBy(col("doc_id"), col("rk"))
  }

  /** Query terms for the registered BM25 row — drawn from the synthetic
    * vocabulary so the fixture exercises real tf/df variation.
    */
  val DefaultBm25Query = Seq("spark", "query", "join")

  /** Okapi BM25 document ranking against a fixed term set: per matching
    * term, idf·(tf·(k1+1))/(tf + k1·(1−b + b·dl/avgdl)) with
    * idf = ln(1 + (N−df+0.5)/(df+0.5)), each term's contribution
    * floor-scaled to e6 BEFORE summing so the cross-engine sum is an
    * order-independent integer sum (double summation order is not
    * reproducible across engines). Top `topN` documents by score.
    *
    * Plan shape: the tf aggregation only ever sees rows matching the
    * (tiny) query-term set — the filter lands in the scan's codegen
    * stage — and doc length comes from one corpus-wide doc-keyed count;
    * the final ranking is a TakeOrderedAndProject at `topN`, never a
    * global sort.
    */
  def bm25(documents: DataFrame, queryTerms: Seq[String] = DefaultBm25Query,
      k1: Double = 1.2, b: Double = 0.75, topN: Int = 20): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val tokens = documents.select(col("doc_id"), explode(toks).as("tok"))
    val dl = tokens.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val tf = tokens.filter(col("tok").isInCollection(queryTerms))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val docFreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val stats = documents.agg(count(lit(1)).as("n_docs"))
      .crossJoin(tokens.agg(count(lit(1)).as("total_tok")))
    val avgdl = col("total_tok").cast("double") / col("n_docs").cast("double")
    val idf = log(lit(1.0) + ((col("n_docs").cast("double") -
      col("df").cast("double") + lit(0.5)) /
      (col("df").cast("double") + lit(0.5))))
    val tfD = col("tf").cast("double")
    val num = tfD * lit(k1 + 1.0)
    val den = tfD + lit(k1) * ((lit(1.0) - lit(b)) +
      lit(b) * (col("dl").cast("double") / avgdl))
    // tf (docs matching the tiny term set) is the small side — broadcast
    // it onto the corpus-wide doc-length aggregate so dl's rows never
    // reshuffle for the join and non-matching docs drop map-side
    val matched = tf.join(broadcast(docFreq), Seq("tok"))
      .crossJoin(broadcast(stats))
    val perTerm = dl.join(broadcast(matched), Seq("doc_id"))
      .withColumn("term_e6", floor(idf * (num / den) * lit(1000000.0))
        .cast("long"))
    val scored = perTerm.groupBy(col("doc_id"))
      .agg(sum(col("term_e6")).as("bm25_e6"),
        count(lit(1)).as("n_terms_matched"))
      .orderBy(col("bm25_e6").desc, col("doc_id")).limit(topN)
    // rank assigned AFTER the top-N cut: the window only ever sees topN
    // rows, so no global single-partition sort at scale
    scored.withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("bm25_e6").desc, col("doc_id"))).cast("long"))
      .select(col("rk"), col("doc_id"), col("n_terms_matched"),
        col("bm25_e6"))
      .orderBy(col("rk"))
  }

  /** BM25 with PSEUDO-RELEVANCE FEEDBACK (RM3-lite, Lavrenko & Croft's
    * relevance-model idea in its deterministic core): pass 1 ranks with
    * the original query, the top `fbDocs` documents nominate the
    * `fbTerms` most frequent non-query non-stopword terms, and pass 2
    * re-ranks with the EXPANDED term set (uniform weights — the RM3
    * interpolation is a weight column away, deliberately omitted to
    * keep every score an exact e6 integer sum). The classic recall
    * booster for sparse retrieval: ONE lazy plan end to end, no driver
    * round-trip between passes.
    *
    * Scale shape: both passes share [[bm25]]'s economics (tiny term
    * relation broadcast onto the tf scan; corpus-wide work is the
    * token aggregation) and the feedback-term selection is a bounded
    * TakeOrdered over the feedback docs' token counts — the feedback
    * set is `fbDocs` rows, so pass 2's term relation stays
    * broadcast-sized by construction.
    */
  def bm25Prf(documents: DataFrame,
      queryTerms: Seq[String] = DefaultBm25Query,
      k1: Double = 1.2, b: Double = 0.75,
      fbDocs: Int = 10, fbTerms: Int = 3, topN: Int = 20): DataFrame = {
    require(queryTerms.nonEmpty && fbDocs >= 1 && fbTerms >= 1)
    val spark = documents.sparkSession
    import spark.implicits._
    val q0 = queryTerms.toDF("tok")
    val pass1 = bm25ScoredAgainst(documents, q0, k1, b)
      .orderBy(col("bm25_e6").desc, col("doc_id")).limit(fbDocs)
      .select(col("doc_id"))
    val banned = queryTerms ++ stopwords
    val fbToks = documents.join(pass1, Seq("doc_id"))
      .select(explode(toks).as("tok"))
      .filter(!col("tok").isInCollection(banned))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok")).limit(fbTerms)
      .select(col("tok"))
    val scored = bm25ScoredAgainst(documents, q0.unionByName(fbToks), k1, b)
      .orderBy(col("bm25_e6").desc, col("doc_id")).limit(topN)
    scored.withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("bm25_e6").desc, col("doc_id"))).cast("long"))
      .select(col("rk"), col("doc_id"), col("n_terms_matched"),
        col("bm25_e6"))
      .orderBy(col("rk"))
  }

  /** [[bm25]]'s scoring core against a term RELATION instead of a
    * literal set — the seam [[bm25Prf]]'s second pass needs, since its
    * terms are data-derived. Same formula, same e6-floor-before-sum
    * contract; the terms side broadcasts (bounded by construction).
    */
  private def bm25ScoredAgainst(documents: DataFrame, terms: DataFrame,
      k1: Double, b: Double): DataFrame = {
    val tokens = documents.select(col("doc_id"), explode(toks).as("tok"))
    val dl = tokens.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val tf = tokens.join(broadcast(terms), Seq("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val docFreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val stats = documents.agg(count(lit(1)).as("n_docs"))
      .crossJoin(tokens.agg(count(lit(1)).as("total_tok")))
    val avgdl = col("total_tok").cast("double") / col("n_docs").cast("double")
    val idf = log(lit(1.0) + ((col("n_docs").cast("double") -
      col("df").cast("double") + lit(0.5)) /
      (col("df").cast("double") + lit(0.5))))
    val tfD = col("tf").cast("double")
    val num = tfD * lit(k1 + 1.0)
    val den = tfD + lit(k1) * ((lit(1.0) - lit(b)) +
      lit(b) * (col("dl").cast("double") / avgdl))
    val matched = tf.join(broadcast(docFreq), Seq("tok"))
      .crossJoin(broadcast(stats))
    dl.join(broadcast(matched), Seq("doc_id"))
      .withColumn("term_e6", floor(idf * (num / den) * lit(1000000.0))
        .cast("long"))
      .groupBy(col("doc_id"))
      .agg(sum(col("term_e6")).as("bm25_e6"),
        count(lit(1)).as("n_terms_matched"))
  }

  /** [[contamination]] with a Bloom-filter runtime pre-filter — the shape
    * the check takes when the benchmark shingle set outgrows a broadcast
    * HASH relation: a Bloom filter over the benchmark shingles is orders
    * of magnitude smaller than the exact set (~10 bits/element at 1% fpp
    * vs the full strings), so the corpus-side scan drops non-candidate
    * shingles BEFORE the verification join and only the (tiny) candidate
    * subset ever reaches a shuffle. No false negatives, and the exact
    * join removes false positives — the result is bit-identical to
    * [[contamination]] (the oracle is the same SQL). The filter build is
    * a bounded driver-side action over the constant-size benchmark slice,
    * same estimator discipline as KMeans/FPGrowth.
    *
    * Holds NO cache. The bounded bench slice is evaluated twice (once
    * eagerly by the bloomFilter action, once lazily by the verification
    * join) and the corpus shingle relation twice (totals + candidate
    * hits — two different output partitionings, doc_id vs shingle, so a
    * second pass is inherent to the shape): recomputing a flatMap over
    * the scan beats pinning a corpus-sized relation in executor storage
    * memory for the unknowable lifetime of a lazy result, which is what
    * the old cache + caller-clearCache contract did.
    */
  def contaminationBloom(documents: DataFrame, benchmarkMod: Long = 97,
      maxBenchmarkDocId: Long = MaxBenchmarkDocId,
      expectedBenchShingles: Long = 200000L,
      fpp: Double = 0.01): DataFrame = {
    val isBench = benchPredicate(benchmarkMod, maxBenchmarkDocId)
    def bench = Dedup.shingles(documents.filter(isBench))
      .select(col("shingle")).distinct()
    val bloom = bench.stat.bloomFilter("shingle", expectedBenchShingles, fpp)
    val mightContain =
      udf((s: String) => s != null && bloom.mightContain(s))
    val sh = Dedup.shingles(documents)
    val hits = sh.filter(mightContain(col("shingle")))
      .join(bench, Seq("shingle"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_contaminated"))
    contaminationResult(sh, hits, isBench)
  }

  /** Unigram-LM surprisal scoring — the corpus-statistics quality signal
    * that catches what row-local heuristics can't: a document whose
    * tokens are globally rare (gibberish, binary spill, wrong-corpus
    * text) scores high average surprisal −ln P(tok), while formulaic
    * boilerplate scores abnormally low. The LM is the corpus's own
    * unigram distribution; per-token surprisals are floored to e6
    * integers before the per-doc sum (the BM25/tfidf discipline: integer
    * contributions make the cross-engine sum order-independent; the
    * ln() 1-ulp caveat documented at [[tfidfTopK]] applies).
    *
    * Scale shape: the frequency relation is VOCAB-sized, so the plan
    * must not depend on broadcasting it — tokens rejoin it by equi-join,
    * which Catalyst broadcasts only while stats allow and which degrades
    * to an AQE-skew-handled shuffle join at corpus scale (a stop-word
    * hot key sits on the probe side only — one build row per key). The
    * join formulation is what makes this safe where a count-over-token
    * window would single-task "the". One-row corpus total broadcast; the
    * token explode recomputes for the probe side rather than caching
    * (the contamination discipline).
    */
  def unigramLogProb(documents: DataFrame): DataFrame = {
    val toks = documents.select(col("doc_id"),
      explode(split(col("text"), " ")).as("tok"))
    val freq = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val total = freq.agg(sum(col("cnt")).as("n_total"))
    toks.join(freq, Seq("tok"))
      .crossJoin(broadcast(total))
      .select(col("doc_id"),
        floor(-log(col("cnt").cast("double") / col("n_total").cast("double"))
          * lit(1000000.0)).cast("long").as("s_e6"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("s_e6")).as("surprisal_e6"))
      .withColumn("avg_surprisal_e6",
        col("surprisal_e6").cast("double") / col("n_tokens").cast("double"))
      .orderBy(col("doc_id"))
  }

  /** Bigram-LM cross-entropy scoring (the CCNet discipline: an n-gram
    * LM trained on the corpus ranks documents by how "expected" their
    * text is — perplexity buckets drive keep/drop decisions). This is
    * the conditional upgrade of [[unigramLogProb]]: surprisal of each
    * token GIVEN its predecessor, −ln P(w₂|w₁), with add-one smoothing
    * P(w₂|w₁) = (c(w₁w₂)+1)/(c(w₁·)+V) so the statistic is well-defined
    * even for a held-out scoring set. Repetitive boilerplate scores near
    * zero (its transitions are corpus-frequent); token-salad gibberish
    * that unigram stats can't catch (all-frequent words, random order)
    * scores high. Same e6 integer-floor contract as the unigram/BM25
    * family (order-independent cross-engine sums; ln() 1-ulp caveat at
    * [[tfidfTopK]]).
    *
    * Scale shape: bigrams are built ROW-LOCALLY from each doc's token
    * array (an index transform over the split — no posexplode +
    * self-join, no per-doc window), so the only corpus-sized exchanges
    * are the model groupBy and the probe equi-join. The model is
    * enriched model-side first — context totals via `groupBy(w1)` on
    * the already-aggregated model (never on raw tokens) joined back,
    * surprisal precomputed per bigram TYPE — so the corpus-sized probe
    * does ONE equi-join against a model relation that Catalyst
    * broadcasts while stats allow and AQE de-skews beyond ("the …" is a
    * probe-side hot key only, one build row per bigram). Vocabulary
    * size rides a one-row broadcast.
    */
  def bigramLogProb(documents: DataFrame): DataFrame =
    bigramScored(documents).orderBy(col("doc_id"))

  /** [[bigramLogProb]] without the presentation sort — the shape
    * downstream consumers (e.g. [[perplexityBuckets]]) want, since they
    * re-partition by their own key anyway.
    */
  private def bigramScored(documents: DataFrame): DataFrame = {
    // size-1 guard: sequence(0, -1) DESCENDS in Spark (it is not empty),
    // so a single-token doc must be filtered, not transformed
    val bigrams = documents.select(col("doc_id"),
        split(col("text"), " ").as("arr"))
      .filter(size(col("arr")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(arr) - 2), i -> struct(arr[i] AS w1, arr[i + 1] AS w2))"))
        .as("bg"))
      .select(col("doc_id"), col("bg.w1"), col("bg.w2"))
    // persist the MODEL (bigram-TYPE-sized, already aggregated — not the
    // corpus) so ctx derivation + the enrich join don't replay the
    // corpus-sized model build twice; DISK_ONLY per the house rule
    // (never compete with shuffle memory).
    val model = graft.operators.CacheScope.persist(
      bigrams.groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("cnt")))
    val ctx = model.groupBy(col("w1")).agg(sum(col("cnt")).as("ctx_cnt"))
    val vocab = documents
      .select(explode(split(col("text"), " ")).as("tok"))
      .agg(count_distinct(col("tok")).as("v"))
    val scoredModel = model.join(ctx, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .select(col("w1"), col("w2"),
        floor(-log((col("cnt").cast("double") + lit(1.0)) /
            (col("ctx_cnt").cast("double") + col("v").cast("double")))
          * lit(1000000.0)).cast("long").as("s_e6"))
    bigrams.join(scoredModel, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("s_e6")).as("surprisal_e6"))
      .withColumn("avg_surprisal_e6",
        col("surprisal_e6").cast("double") / col("n_bigrams").cast("double"))
  }

  /** Interpolated Kneser–Ney bigram cross-entropy (Kneser & Ney 1995;
    * Chen & Goodman 1998's interpolated form, fixed absolute discount
    * D = 0.75) — the smoothing real LM-quality pipelines use where
    * [[bigramLogProb]]'s add-one is the baseline:
    * `P(w2|w1) = (c(w1w2) − D)/c(w1·)
    *  + (D·N1+(w1·)/c(w1·)) · N1+(·w2)/|bigram types|` — the backoff
    * mass goes to CONTINUATION probability (in how many contexts does
    * w2 appear), which is what separates "frequent but predictable"
    * from "genuinely productive" tokens. Probing the training corpus
    * itself, every probed bigram is seen and D < 1, so the max(·,0)
    * clip is vacuous and the formula stays total.
    *
    * Scale shape: identical to [[bigramLogProb]] — the three model
    * statistics (context totals + left-fanout, right-fanout, type
    * count) are partial-aggregable over the bigram-TYPE relation, the
    * type count rides a broadcast 1-row aggregate, surprisal is floored
    * to an e6 integer per TYPE model-side (exact doubles in fixed
    * operand order), and the corpus probe is ONE equi-join + a per-doc
    * integer-sum combine.
    */
  def knBigramLogProb(documents: DataFrame): DataFrame = {
    val bigrams = documents.select(col("doc_id"),
        split(col("text"), " ").as("arr"))
      .filter(size(col("arr")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(arr) - 2), i -> struct(arr[i] AS w1, arr[i + 1] AS w2))"))
        .as("bg"))
      .select(col("doc_id"), col("bg.w1"), col("bg.w2"))
    val model = graft.operators.CacheScope.persist(
      bigrams.groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("cnt")))
    val ctx = model.groupBy(col("w1"))
      .agg(sum(col("cnt")).as("ctx_cnt"), count(lit(1)).as("n1fwd"))
    val nprec = model.groupBy(col("w2")).agg(count(lit(1)).as("nprec"))
    val types = model.agg(count(lit(1)).as("n_types"))
    val d = lit(0.75)
    val p = (col("cnt").cast("double") - d) / col("ctx_cnt").cast("double") +
      ((d * col("n1fwd").cast("double")) / col("ctx_cnt").cast("double")) *
        (col("nprec").cast("double") / col("n_types").cast("double"))
    val scoredModel = model.join(ctx, Seq("w1")).join(nprec, Seq("w2"))
      .crossJoin(broadcast(types))
      .select(col("w1"), col("w2"),
        floor(-log(p) * lit(1000000.0)).cast("long").as("s_e6"))
    bigrams.join(scoredModel, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("s_e6")).as("surprisal_e6"))
      .withColumn("avg_surprisal_e6",
        col("surprisal_e6").cast("double") / col("n_bigrams").cast("double"))
      .orderBy(col("doc_id"))
  }

  /** CCNet's perplexity-bucket step: rank every document by its LM
    * cross-entropy ([[bigramLogProb]]) and cut the corpus into
    * head/middle/tail thirds (head = most LM-like) — the bucket label is
    * what drives keep/sample/drop decisions in the CCNet pipeline. The
    * report is one row per bucket with exact membership counts and
    * surprisal extrema/means.
    *
    * Scale shape: the global ranking is [[ExactRank.exactRank]] under a
    * constant group — full range-partitioned parallelism, NO
    * corpus-wide window (a `ntile(3) over (order by ...)` would
    * single-task the planet). Bucket edges are exact integer-rank
    * comparisons (rnk·3 vs n), so the cut is reproducible on any
    * engine; per-bucket means divide two exact integer sums, never
    * averaging doubles.
    */
  def perplexityBuckets(documents: DataFrame): DataFrame =
    bigramBucketLabels(documents)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("avg_surprisal_e6")).as("min_avg_e6"),
        max(col("avg_surprisal_e6")).as("max_avg_e6"),
        sum(col("surprisal_e6")).as("sum_surprisal_e6"),
        sum(col("n_bigrams")).as("sum_bigrams"))
      .withColumn("mean_surprisal_e6",
        col("sum_surprisal_e6").cast("double") / col("sum_bigrams").cast("double"))
      .orderBy(col("bucket"))

  /** Per-document CCNet bucket labels — [[perplexityBuckets]]' ranked
    * core exposed for composition: (doc_id, n_bigrams, surprisal_e6,
    * avg_surprisal_e6, rnk, n_group, bucket). The quality-pipeline stage
    * keeps `bucket != 'tail'` (head+middle), the CCNet keep rule. Same
    * window-free ExactRank cut; documents with fewer than two tokens are
    * unscoreable and absent, per [[bigramLogProb]].
    */
  def bigramBucketLabels(documents: DataFrame): DataFrame =
    ExactRank.exactRank(
      bigramScored(documents).withColumn("g", lit(1)),
      Seq("g"), Seq("avg_surprisal_e6", "doc_id"))
      .withColumn("bucket",
        when(col("rnk") * 3 <= col("n_group"), "head")
          .when(col("rnk") * 3 <= col("n_group") * 2, "middle")
          .otherwise("tail"))

  /** CCNet language-conditioned selection (Wenzek et al., LREC 2020) —
    * the pipeline CCNet actually runs, composed end-to-end: a bigram LM
    * is trained PER LANGUAGE (CCNet trains one KenLM per language; the
    * corpus-global [[bigramLogProb]] model would score every non-modal
    * language as "tail" on vocabulary mismatch alone), each document is
    * scored by ITS OWN language's model, ranked within its language, cut
    * into head/middle/tail thirds, and kept iff not tail — CCNet's keep
    * rule. Emits the per-document selection relation (score, rank,
    * bucket, kept) a curation run materializes.
    *
    * Scale shape: model relations are (lang × bigram-type)-sized
    * aggregates off one corpus pass — the model persists DISK_ONLY,
    * operator-scoped, so context derivation and the enrich join replay
    * nothing; the vocab relation is lang-cardinality and rides an
    * AQE-broadcast join. The per-language ranking is the window-free
    * [[ExactRank.exactRank]] (range-partitioned parallelism; a
    * `row_number() over (partition by lang)` would single-task each
    * language — the modal language IS the corpus at 100 TB). Documents
    * with fewer than two tokens are unscoreable and absent, per
    * [[bigramLogProb]].
    */
  def ccnetSelect(documents: DataFrame): DataFrame = {
    val docs = documents.select(col("doc_id"), col("lang"),
        split(col("text"), " ").as("arr"))
      .filter(size(col("arr")) >= 2)
    val bigrams = docs.select(col("doc_id"), col("lang"), explode(expr(
        "transform(sequence(0, size(arr) - 2), i -> struct(arr[i] AS w1, arr[i + 1] AS w2))"))
        .as("bg"))
      .select(col("doc_id"), col("lang"), col("bg.w1"), col("bg.w2"))
    val model = graft.operators.CacheScope.persist(
      bigrams.groupBy(col("lang"), col("w1"), col("w2"))
        .agg(count(lit(1)).as("cnt")))
    val ctx = model.groupBy(col("lang"), col("w1"))
      .agg(sum(col("cnt")).as("ctx_cnt"))
    val vocab = documents
      .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("lang")).agg(count_distinct(col("tok")).as("v"))
    val scoredModel = model.join(ctx, Seq("lang", "w1"))
      .join(vocab, Seq("lang"))
      .select(col("lang"), col("w1"), col("w2"),
        floor(-log((col("cnt").cast("double") + lit(1.0)) /
            (col("ctx_cnt").cast("double") + col("v").cast("double")))
          * lit(1000000.0)).cast("long").as("s_e6"))
    val docScores = bigrams.join(scoredModel, Seq("lang", "w1", "w2"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("s_e6")).as("surprisal_e6"))
      .withColumn("avg_surprisal_e6",
        col("surprisal_e6").cast("double") / col("n_bigrams").cast("double"))
    ExactRank.exactRank(docScores, Seq("lang"),
        Seq("avg_surprisal_e6", "doc_id"))
      .withColumn("bucket",
        when(col("rnk") * 3 <= col("n_group"), "head")
          .when(col("rnk") * 3 <= col("n_group") * 2, "middle")
          .otherwise("tail"))
      .select(col("doc_id"), col("lang"), col("n_bigrams"),
        col("surprisal_e6"), col("rnk"), col("n_group"), col("bucket"),
        (col("bucket") =!= "tail").as("kept"))
      .orderBy(col("doc_id"))
  }

  /** Default BPE merge table for [[bpeEncode]]: a small fixed vocabulary
    * over common English digraphs, rank = position. Includes a two-level
    * chain ((t,h) then (th,e)) so the table exercises merges whose left
    * side is itself a merged token.
    */
  val DefaultMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "i" -> "n", "th" -> "e", "a" -> "n", "e" -> "r",
    "o" -> "n", "an" -> "d", "e" -> "n", "s" -> "t", "o" -> "r")

  /** Subword (BPE) tokenization cost accounting: encodes every
    * whitespace word with a bounded merge table and reports per-document
    * character-token and BPE-token counts — the real subword budget that
    * [[tokenCounts]]' regex pre-tokenization only proxies.
    *
    * Encode semantics (identical on both engines, and what the oracle's
    * chained `replace` implements): a word starts as its Unicode
    * code-point sequence; merges apply strictly in rank order, and one
    * merge rewrites the token sequence in a single left-to-right greedy
    * pass (after a merge the scan resumes AFTER the merged token, so
    * `aaaa` under (a,a) becomes `aa aa`, not `aa a a`). This equals
    * canonical lowest-rank-first BPE whenever the table introduces no
    * rank inversion (a merged token consumed by a LOWER-ranked merge);
    * rank-sequential is the definition here because it is what a SQL
    * engine can replay exactly.
    *
    * Scale shape: doc-local mapPartitions (the cdcChunks discipline) —
    * the merge table rides the task closure as a bounded literal, the
    * scan's partitioning is preserved, and the only exchange is the
    * presentation sort. Code points, not UTF-16 units, so counts agree
    * with the oracle's character semantics beyond the BMP.
    */
  def bpeEncode(documents: DataFrame,
      merges: Seq[(String, String)] = DefaultMerges): DataFrame =
    bpeCounts(documents, merges).orderBy(col("doc_id"))

  /** [[bpeEncode]] without the presentation sort — the reusable core
    * for downstream aggregations ([[tokenizerFertility]]) that would
    * otherwise drag a redundant mid-plan exchange.
    */
  private[graft] def bpeCounts(documents: DataFrame,
      merges: Seq[(String, String)] = DefaultMerges): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val mergeArr = merges.toArray
    documents.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          if (text == null) (id, 0L, 0L, 0L)
          else {
            var nWords = 0L; var nChar = 0L; var nBpe = 0L
            text.split(" ", -1).foreach { w =>
              if (w.nonEmpty) {
                nWords += 1L
                var toks: Array[String] = w.codePoints().toArray
                  .map(cp => new String(Character.toChars(cp)))
                nChar += toks.length
                mergeArr.foreach { case (a, b) =>
                  val out = Array.newBuilder[String]
                  var i = 0
                  while (i < toks.length) {
                    if (i + 1 < toks.length && toks(i) == a && toks(i + 1) == b) {
                      out += a + b; i += 2
                    } else { out += toks(i); i += 1 }
                  }
                  toks = out.result()
                }
                nBpe += toks.length
              }
            }
            (id, nWords, nChar, nBpe)
          }
        }
      }.toDF("doc_id", "n_words", "n_char_tokens", "n_bpe_tokens")
  }

  /** Per-language tokenizer fertility — the efficiency report every
    * multilingual tokenizer ships with (tokens-per-word "fertility",
    * Ács 2019 / XLM-R evaluation practice, and characters-per-token
    * compression): a tokenizer that fragments one language 3× worse
    * than another taxes that language's effective context length and
    * training compute by the same factor.
    *
    * Composition: [[bpeCounts]]' per-doc (words, char-tokens,
    * bpe-tokens) joined back to the document's language, then ONE
    * partial-aggregable groupBy(lang) — the sums are exact longs and
    * the two ratios ship under the house e6 integer contract (single
    * IEEE division, identical on both engines). Docs with no words
    * contribute zeros to every sum.
    *
    * Scale shape: the doc-local encode is the corpus-proportional
    * pass; the join key is doc_id (equi-join with the projected
    * 2-column documents side) and the final aggregate is
    * language-cardinality sized. No window, no driver action.
    */
  def tokenizerFertility(documents: DataFrame): DataFrame =
    bpeCounts(documents)
      .join(documents.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_words"),
        sum(col("n_bpe_tokens")).as("n_bpe_tokens"),
        floor(sum(col("n_bpe_tokens")).cast("double") /
          sum(col("n_words")).cast("double") * 1e6 + 0.5).cast("long")
          .as("fertility_e6"),
        floor(sum(col("n_char_tokens")).cast("double") /
          sum(col("n_bpe_tokens")).cast("double") * 1e6 + 0.5).cast("long")
          .as("chars_per_token_e6"))
      .orderBy(col("lang"))

  /** Per-document out-of-vocabulary rate against the corpus top-V
    * vocabulary — the tokenizer/vocab coverage gate (a doc whose tokens
    * mostly fall outside the model's vocabulary trains as noise; the
    * standard pre-training filter reports exactly this ratio).
    *
    * Vocabulary = the `vocabSize` most frequent tokens, tie-broken by
    * token (total order, deterministic boundary). Scale shape: the
    * token count groupBy is vocabulary-sized and partial-aggregated;
    * the top-V cut is a bounded sort over the DISTINCT-token relation
    * (never the corpus); the per-doc pass LEFT-joins tokens against
    * the broadcast V-row vocabulary — one corpus-proportional pass, no
    * window. Docs with no tokens report rate 0 over 0 tokens.
    */
  def oovRate(documents: DataFrame, vocabSize: Int = 1000): DataFrame = {
    val toks = documents
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok")).limit(vocabSize)
      .select(col("tok"), lit(1).as("iv"))
    val perDoc = toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("iv").isNull, 1L).otherwise(0L)).as("n_oov"))
    documents.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"))
      .withColumn("oov_e6",
        when(col("n_tokens") === 0L, lit(0L))
          .otherwise(floor(col("n_oov").cast("double") /
            col("n_tokens").cast("double") * 1e6 + 0.5).cast("long")))
      .orderBy(col("doc_id"))
  }

  /** Positional-index phrase search — the classic "exact phrase" query
    * plan over an inverted index with positions (the IR-textbook
    * positional-postings merge, Manning et al. IIR ch.2, public): the
    * phrase's terms probe the postings relation (token, doc, pos) and
    * adjacency is an equi-join on (doc, pos+offset) — selective terms
    * make the join tiny regardless of corpus size, which is why search
    * engines store positions instead of rescanning text.
    *
    * The query phrase is derived from the corpus itself (the most
    * frequent word trigram, tie-broken lexicographically — a bounded
    * vocabulary-sized cut, deterministic on both engines), so the row
    * is self-contained. Plan shape: trigram counts are one
    * partial-aggregable groupBy; the 1-row phrase broadcasts into
    * three postings probes joined on (doc_id, pos) — no window, no
    * text re-scan.
    */
  def phraseSearch(documents: DataFrame): DataFrame = {
    val toks = documents.select(col("doc_id"),
      split(col("text"), " ").as("ts"))
    val tri = toks.filter(size(col("ts")) >= 3)
      .select(explode(expr(
        "transform(sequence(1, size(ts) - 2), i -> concat_ws(' ', slice(ts, i, 3)))"))
        .as("phrase"))
    val top = tri.groupBy(col("phrase")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("phrase")).limit(1)
      .select(col("phrase"), split(col("phrase"), " ").as("ws"))
      .select(col("phrase"), col("ws")(0).as("w1"), col("ws")(1).as("w2"),
        col("ws")(2).as("w3"))
    val post = toks.select(col("doc_id"),
      posexplode(col("ts")).as(Seq("pos", "tok")))
    val p1 = post.select(col("doc_id"), col("pos"), col("tok").as("t1"))
    val p2 = post.select(col("doc_id"), (col("pos") - 1).as("pos"),
      col("tok").as("t2"))
    val p3 = post.select(col("doc_id"), (col("pos") - 2).as("pos"),
      col("tok").as("t3"))
    p1.join(broadcast(top), col("t1") === col("w1"))
      .join(p2, Seq("doc_id", "pos"))
      .filter(col("t2") === col("w2"))
      .join(p3, Seq("doc_id", "pos"))
      .filter(col("t3") === col("w3"))
      .groupBy(col("doc_id"), col("phrase"))
      .agg(count(lit(1)).as("n_matches"))
      .orderBy(col("doc_id"))
  }

  /** HTML extraction patterns, shared verbatim with the DuckDB oracle.
    * Restricted to the regex subset on which Java regex and RE2 agree:
    * inline flags, non-capturing groups, lazy repetition, character
    * classes — NO backreferences (RE2 has none), which is why script and
    * style get separate patterns instead of one `<(script|style)>.*?</\1>`.
    */
  val HtmlScriptRe = "(?is)<script[^>]*>.*?</script>"
  val HtmlStyleRe = "(?is)<style[^>]*>.*?</style>"
  val HtmlCommentRe = "(?s)<!--.*?-->"

  /** Block-level elements whose tags become paragraph breaks: text
    * separated by these must not concatenate into one word/sentence.
    */
  val HtmlBlockTagRe =
    "(?i)</?(?:p|div|br|li|h[1-6]|tr|table|ul|ol|blockquote)[^>]*>"
  val HtmlTagRe = "<[^>]+>"

  /** Markup extraction — the step every web-crawl pipeline runs BEFORE
    * the quality filters this file already ships ([[gopherQuality]],
    * [[c4LineFilter]]): strip scripts/styles/comments, turn block-level
    * tags into line breaks (block-text reassembly — `<p>a</p><p>b</p>`
    * must read "a\nb", never "ab"), drop every remaining tag, decode the
    * common entities, and normalize whitespace. Boilerplate REMOVAL by
    * text density (Readability-style scoring) is deliberately out of
    * scope — that is [[boilerplateFilter]]'s line-level job downstream;
    * this operator's contract is faithful markup-to-text conversion.
    *
    * Output column is named `text` so the result feeds the quality
    * filters unchanged.
    *
    * Scale shape: pure row-local codegen'd projection — a regexp_replace
    * chain, no shuffle beyond the caller's presentation sort; scales
    * embarrassingly. Entity decode order matters and is pinned: named
    * entities first, `&amp;` LAST, so `&amp;lt;` decodes to the literal
    * text "&lt;" (what the author wrote), never to "<".
    */
  def htmlExtract(pages: DataFrame, htmlCol: String = "html"): DataFrame = {
    val noScript = regexp_replace(col(htmlCol), HtmlScriptRe, " ")
    val noStyle = regexp_replace(noScript, HtmlStyleRe, " ")
    val noComment = regexp_replace(noStyle, HtmlCommentRe, " ")
    // collapse ALL source whitespace BEFORE tag handling: in HTML a raw
    // newline inside a paragraph is just whitespace — after this step,
    // every '\n' in the string was put there by a block tag, never by
    // source formatting
    val oneSpace = regexp_replace(noComment, "\\s+", " ")
    val blocksAsBreaks = regexp_replace(oneSpace, HtmlBlockTagRe, "\n")
    // remaining (inline) tags are ZERO-width, the browser model: <a>/<b>
    // never create word boundaries — source whitespace does. A space here
    // would detach punctuation ("<a>link</a>." reading "link .")
    val noTags = regexp_replace(blocksAsBreaks, HtmlTagRe, "")
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
        "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (ent, ch)) => replace(c, lit(ent), lit(ch)) }
    // tag removal (and &nbsp; decode) can leave formerly-separated spaces
    // adjacent — re-collapse before folding breaks
    val reSpace = regexp_replace(decoded, " +", " ")
    val oneBreak = regexp_replace(reSpace, " ?(\\n ?)+", "\n")
    val trimmed = regexp_replace(oneBreak, "^\\s+|\\s+$", "")
    pages.withColumn("text", trimmed).drop(htmlCol)
  }

  /** One greedy left-to-right non-overlapping merge pass — the exact
    * semantics of a single `replace(' a  b ', ' ab ')` over the
    * space-encoded form (the [[bpeEncode]] convention): `aaa` with
    * merge (a,a) becomes `[aa, a]`, never `[a, aa]`.
    */
  private[graft] def bpeMergeOnce(syms: Seq[String], a: String,
      b: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += a + b; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toSeq
  }

  /** BPE merge-rule TRAINING — vocabulary induction over the corpus
    * (the counterpart of [[bpeEncode]], which APPLIES a merge table):
    * per round, count adjacent symbol pairs over the word-type relation
    * (weighted by type frequency, the classic formulation), adopt the
    * most frequent pair (ties to the lexicographically smallest), and
    * apply it greedily left-to-right. Returns the learned rules as
    * `(round, sym_a, sym_b, cnt)`; the oracle unrolls the identical
    * rounds in SQL over the space-encoded string form, whose
    * `replace`-based merge is provably the same greedy pass
    * ([[bpeMergeOnce]]'s property test).
    *
    * Scale shape — driver-local induction over the bounded word-type
    * state, the classic BPE-trainer formulation (subword-nmt /
    * SentencePiece both train on the collected word-frequency dict, not
    * the corpus): ONE distributed tokenize+groupBy pass builds the
    * word-TYPE relation — vocabulary-sized (Zipf: sublinear in corpus
    * size) and truncated to the `maxWordTypes` most frequent types as
    * the bounded-driver-training contract (the `localKMeans` sampling
    * discipline at Similarity.scala; exact whenever the vocabulary fits
    * the cap, which every registered corpus does) — and ONE `collect()`
    * brings it to the driver. All `merges` rounds then run driver-local
    * with zero further Spark jobs: the per-merge
    * distributed-count + full-relation-rewrite loop this replaces was
    * O(merges) sequential jobs — a scale-killer at a real 10k–50k-merge
    * vocabulary, where this shape is 1 job + bounded local work.
    */
  def bpeTrainRules(documents: DataFrame, merges: Int = 64,
      maxWordTypes: Int = 1 << 22): Seq[(Int, String, String, Long)] = {
    require(merges >= 1, s"bpeTrainRules requires merges >= 1, got $merges")
    val spark = documents.sparkSession
    import spark.implicits._
    // r18: widening this pass with an explicit pre-explode repartition
    // was tried (the shingles width fix) and REGRESSED — interleaved
    // on/off bench pairs put bpe_train 0.34 -> 0.50 s and
    // pipeline_tokenizer 0.30 -> 0.46 s: the corpus relations here are
    // small enough that the exchange costs more than the width buys.
    val types: Array[(String, Long)] = documents
      .select(explode(regexp_extract_all(col("text"), lit("[a-z0-9]+"),
        lit(0))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word"))
      .limit(maxWordTypes)
      .as[(String, Long)]
      .collect() // bounded: ≤ maxWordTypes rows, vocabulary-sized
    val syms: Array[Seq[String]] = types.map(_._1.map(_.toString))
    val freqs: Array[Long] = types.map(_._2)
    // INCREMENTAL pair-count maintenance (the subword-nmt trainer shape):
    // cnt holds the exact corpus-weighted adjacent-pair counts, occ maps
    // each pair to the word ids that (may) contain it. Per round, only
    // the words that actually contain the adopted pair are rescanned —
    // their old pairs subtracted, the merge applied, their new pairs
    // added — so a round costs O(touched words), not O(vocabulary). The
    // naive full-rescan loop was O(merges × vocabulary): measured 8.65 s
    // for 1024 merges over 20k word types (sf0.1 partkey vocabulary) —
    // at a real 50k-merge vocabulary that shape is minutes of driver
    // time for work that never changes. occ entries are lazily stale
    // (a word is filtered at use if the pair is gone); cnt is exact.
    val cnt = scala.collection.mutable.HashMap.empty[(String, String), Long]
    val occ = scala.collection.mutable.HashMap
      .empty[(String, String), scala.collection.mutable.ArrayBuffer[Int]]
    def addWord(w: Int, sign: Long): Unit = {
      val s = syms(w); val f = freqs(w) * sign
      var i = 0
      while (i + 1 < s.length) {
        val k = (s(i), s(i + 1))
        val nv = cnt.getOrElse(k, 0L) + f
        if (nv == 0L) cnt.remove(k) else cnt.update(k, nv)
        if (sign > 0)
          occ.getOrElseUpdate(k,
            scala.collection.mutable.ArrayBuffer.empty[Int]) += w
        i += 1
      }
    }
    var w0 = 0
    while (w0 < syms.length) { addWord(w0, 1L); w0 += 1 }
    val learned = Seq.newBuilder[(Int, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= merges && !exhausted) {
      if (cnt.isEmpty) {
        // every word is a single symbol — nothing left to merge;
        // stop with the rules learned so far instead of crashing
        exhausted = true
      } else {
        val ((a, b), c) =
          cnt.minBy { case ((pa, pb), pc) => (-pc, pa, pb) }
        learned += ((r, a, b, c))
        val touched = occ.remove((a, b))
          .getOrElse(scala.collection.mutable.ArrayBuffer.empty[Int])
        val seen = scala.collection.mutable.HashSet.empty[Int]
        touched.foreach { w =>
          // occ is lazily stale: dedup repeat entries and skip words
          // whose (a, b) adjacency was consumed by an earlier merge
          if (seen.add(w)) {
            val s = syms(w)
            var has = false
            var i = 0
            while (!has && i + 1 < s.length) {
              has = s(i) == a && s(i + 1) == b; i += 1
            }
            if (has) {
              addWord(w, -1L)
              syms(w) = bpeMergeOnce(s, a, b)
              addWord(w, 1L)
            }
          }
        }
        r += 1
      }
    }
    learned.result()
  }

  /** [[bpeTrainRules]] as a relation — the registered `bpe_train`
    * surface. The learned table is merge-table-sized (bounded by
    * `merges`), so localizing it is free.
    */
  def bpeTrain(documents: DataFrame, merges: Int = 64): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    bpeTrainRules(documents, merges)
      .toDF("round", "sym_a", "sym_b", "cnt")
      .orderBy(col("round"))
  }

  /** Unigram-LM tokenizer training (Kudo, ACL 2018 — the SentencePiece
    * algorithm BPE competes with), hard-EM (Viterbi) variant in exact
    * integers: seed vocabulary = every ≤`maxPieceLen`-char substring of
    * the word types (all single chars kept unconditionally + the top
    * frequency-ranked multi-char pieces up to `vocabSize`), piece
    * scores are `floor(ln(count/total)·1e6)` BIGINTs, and each EM round
    * (1) segments every word type by Viterbi under the current scores —
    * argmax ties broken to the lexicographically SMALLEST segmentation,
    * so the DP is a pure function of the score table — and (2)
    * re-scores pieces from their usage (pieces with zero usage are
    * pruned; a word type that becomes unsegmentable under the pruned
    * vocabulary drops out of the E-step, the honest hard-EM analogue of
    * SentencePiece's char-coverage floor).
    *
    * Scale shape: UNLIKE [[bpeTrainRules]] (whose merge loop is
    * inherently sequential, so the type relation localizes), every
    * unigram stage distributes: ONE corpus pass builds the word-TYPE
    * relation (Heaps-bounded, persisted DISK_ONLY operator-scoped for
    * its `rounds + 1` consumers), the seed relation is a
    * substring-explode + partial-aggregable groupBy off it, and each
    * E-step is a mapPartitions Viterbi with the ≤`vocabSize` score
    * table riding the task closure, followed by a vocab-sized groupBy.
    * Only vocab-bounded relations (≤ `vocabSize` rows) ever reach the
    * driver. The DuckDB oracle unrolls the Viterbi DP per round as a
    * `maxWordLen`-level CTE chain (the bpe_train generated-oracle
    * discipline) — which is why `maxWordLen` caps training words: the
    * cap is the oracle's unroll depth, and real tokenizer trainers trim
    * pathological long types the same way.
    */
  def unigramTrain(documents: DataFrame, vocabSize: Int = 256,
      rounds: Int = 2, maxPieceLen: Int = 4, maxWordLen: Int = 16)
      : DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val (usageArr, scores) =
      unigramTrainCore(documents, vocabSize, rounds, maxPieceLen, maxWordLen)
    usageArr.sortBy(_._1).toSeq
      .map { case (p, u) => (p, u, scores(p)) }
      .toDF("piece", "usage", "score_e6")
  }

  /** [[unigramTrain]]'s distributed EM core, returning the final-round
    * (usage, score) state for composing consumers ([[unigramFertility]]
    * applies the learned scores back to the corpus).
    */
  private[graft] def unigramTrainCore(documents: DataFrame,
      vocabSize: Int = 256, rounds: Int = 2, maxPieceLen: Int = 4,
      maxWordLen: Int = 16)
      : (Array[(String, Long)], Map[String, Long]) = {
    require(vocabSize >= 2 && rounds >= 1 && maxPieceLen >= 1 &&
      maxWordLen >= 1, "degenerate unigram-train parameters")
    val spark = documents.sparkSession
    import spark.implicits._
    val types = graft.operators.CacheScope.persist(
      documents
        .select(explode(regexp_extract_all(col("text"), lit("[a-z0-9]+"),
          lit(0))).as("word"))
        .filter(length(col("word")) <= maxWordLen)
        .groupBy(col("word")).agg(count(lit(1)).as("freq")))
    // seed pieces: all substrings of length 1..maxPieceLen, corpus-weighted
    val seeds = graft.operators.CacheScope.persist(
      types.select(col("freq"), explode(expr(
          s"""flatten(transform(sequence(1, length(word)),
             |  i -> transform(sequence(i, least(length(word), i + ${maxPieceLen - 1})),
             |    j -> substr(word, i, j - i + 1))))""".stripMargin))
          .as("piece"))
        .groupBy(col("piece")).agg(sum(col("freq")).as("cnt")))
    val charRows: Array[(String, Long)] = seeds
      .filter(length(col("piece")) === 1)
      .as[(String, Long)].collect() // bounded: the charset
    val multiRows: Array[(String, Long)] = seeds
      .filter(length(col("piece")) >= 2)
      .orderBy(col("cnt").desc, col("piece"))
      .limit(math.max(0, vocabSize - charRows.length))
      .as[(String, Long)].collect() // bounded: <= vocabSize
    val kept = charRows ++ multiRows
    if (kept.isEmpty) return (Array.empty, Map.empty)
    def e6Log(u: Long, tot: Long): Long =
      math.floor(math.log(u.toDouble / tot.toDouble) * 1e6).toLong
    val tot0 = kept.map(_._2).sum
    var scores: Map[String, Long] =
      kept.map { case (p, c) => p -> e6Log(c, tot0) }.toMap
    var usageArr: Array[(String, Long)] = Array.empty
    val mpl = maxPieceLen
    for (_ <- 1 to rounds) {
      val sc = scores // stable closure capture per round
      usageArr = types.as[(String, Long)]
        .flatMap { case (w, f) =>
          unigramViterbi(w, sc, mpl).toSeq.flatten.map(p => (p, f)) }
        .toDF("piece", "f")
        .groupBy(col("piece")).agg(sum(col("f")).as("usage"))
        .as[(String, Long)].collect() // bounded: <= vocabSize
      val tot = usageArr.map(_._2).sum
      scores = usageArr.map { case (p, u) => p -> e6Log(u, tot) }.toMap
    }
    (usageArr, scores)
  }

  /** The unigram induction→application composition (the
    * [[bpeTrainedEncode]] twin for the unigram tokenizer): train with
    * [[unigramTrainCore]], then Viterbi-segment every document's words
    * under the LEARNED scores and report per-document subword budgets —
    * `n_words`, `n_covered` (words the pruned vocabulary can still
    * segment; >`maxWordLen`-char words count as uncovered, exactly as
    * training skipped them), `n_pieces` over covered words (the
    * fertility numerator), and `n_chars_covered`.
    *
    * Scale shape: training is [[unigramTrain]]'s distributed EM;
    * application is doc-local mapPartitions with the ≤`vocabSize` score
    * table riding the task closure plus a per-partition word→piece-count
    * memo (Zipf: each partition segments each word TYPE once). The only
    * exchange is the presentation sort.
    */
  def unigramFertility(documents: DataFrame, vocabSize: Int = 256,
      rounds: Int = 2, maxPieceLen: Int = 4, maxWordLen: Int = 16)
      : DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val (_, scores) =
      unigramTrainCore(documents, vocabSize, rounds, maxPieceLen, maxWordLen)
    val (mpl, mwl) = (maxPieceLen, maxWordLen)
    documents.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val re = java.util.regex.Pattern.compile("[a-z0-9]+")
        val memo = scala.collection.mutable.HashMap.empty[String, Long]
        it.map { case (id, text) =>
          var nW = 0L; var nCov = 0L; var nP = 0L; var nC = 0L
          if (text != null) {
            val m = re.matcher(text)
            while (m.find()) {
              val word = m.group()
              val np = memo.getOrElseUpdate(word,
                if (word.length > mwl) -1L
                else unigramViterbi(word, scores, mpl)
                  .map(_.length.toLong).getOrElse(-1L))
              nW += 1
              if (np >= 0L) { nCov += 1; nP += np; nC += word.length }
            }
          }
          (id, nW, nCov, nP, nC)
        }
      }
      .toDF("doc_id", "n_words", "n_covered", "n_pieces", "n_chars_covered")
      .orderBy(col("doc_id"))
  }

  /** LM SURPRISAL scoring under the trained unigram tokenizer — the
    * CCNet quality discipline (Wenzek et al., LREC 2020) realized with
    * the in-repo LM instead of an external KenLM: train with
    * [[unigramTrainCore]], Viterbi-segment each document's words under
    * the LEARNED scores, and emit the exact-integer negative
    * log-likelihood proxy per document — `nll_e6` = −Σ best-segmentation
    * score over covered words (scores are e6-floored log-probs, so the
    * sum is the corpus-LM surprisal ×1e6) and `nll_per_word_e6` (the
    * per-word normalization CCNet thresholds on; NULL when no word is
    * covered — the degenerate-denominator convention). Low per-word
    * surprisal ≈ fluent in-distribution text; high ≈ boilerplate/noise.
    *
    * Scale shape: [[unigramFertility]]'s exactly — distributed EM
    * training, then doc-local mapPartitions application with the
    * ≤vocabSize score table in the task closure and a per-partition
    * word→score memo; the only exchange is the presentation sort.
    */
  def unigramSurprisal(documents: DataFrame, vocabSize: Int = 256,
      rounds: Int = 2, maxPieceLen: Int = 4, maxWordLen: Int = 16)
      : DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val (_, scores) =
      unigramTrainCore(documents, vocabSize, rounds, maxPieceLen, maxWordLen)
    val (mpl, mwl) = (maxPieceLen, maxWordLen)
    documents.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val re = java.util.regex.Pattern.compile("[a-z0-9]+")
        // memo value: Long.MinValue = uncovered; else the word's best
        // dp score (= Σ piece scores of the argmax segmentation)
        val memo = scala.collection.mutable.HashMap.empty[String, Long]
        it.map { case (id, text) =>
          var nW = 0L; var nCov = 0L; var nll = 0L
          if (text != null) {
            val m = re.matcher(text)
            while (m.find()) {
              val word = m.group()
              val s = memo.getOrElseUpdate(word,
                if (word.length > mwl) Long.MinValue
                else unigramViterbi(word, scores, mpl)
                  .map(_.map(scores).sum).getOrElse(Long.MinValue))
              nW += 1
              if (s != Long.MinValue) { nCov += 1; nll -= s }
            }
          }
          (id, nW, nCov, nll)
        }
      }
      .toDF("doc_id", "n_words", "n_covered", "nll_e6")
      .withColumn("nll_per_word_e6",
        when(col("n_covered") > 0, expr("nll_e6 div n_covered")))
      .orderBy(col("doc_id"))
  }

  /** Max-score segmentation of one word under an e6-integer score
    * table: dp over prefix lengths, pieces capped at `maxPieceLen`
    * chars, ties broken to the lexicographically smallest segmentation
    * string — the deterministic argmax both engines replay state by
    * state. None when no piece path covers the word (possible once the
    * EM prunes a character's singleton piece).
    */
  private[graft] def unigramViterbi(w: String, sc: Map[String, Long],
      maxPieceLen: Int): Option[Seq[String]] = {
    val n = w.length
    val bs = Array.fill(n + 1)(Long.MinValue)
    val bg = new Array[String](n + 1)
    bs(0) = 0L; bg(0) = ""
    var i = 1
    while (i <= n) {
      var j = math.max(0, i - maxPieceLen)
      while (j < i) {
        if (bs(j) != Long.MinValue) {
          sc.get(w.substring(j, i)) match {
            case Some(s) =>
              val cs = bs(j) + s
              val cg = if (bg(j).isEmpty) w.substring(j, i)
                else bg(j) + " " + w.substring(j, i)
              if (cs > bs(i) || (cs == bs(i) && cg < bg(i))) {
                bs(i) = cs; bg(i) = cg
              }
            case None =>
          }
        }
        j += 1
      }
      i += 1
    }
    if (bs(n) == Long.MinValue) None else Some(bg(n).split(" ").toSeq)
  }

  /** Vocabulary-scale BPE induction CONTRACT row — the structural-oracle
    * form (`ann_ivf_trained` pattern) that lets the hash gate check a
    * merge count DuckDB cannot unroll (its binder caps a CTE dependency
    * chain near ~300 rounds; the exact-parity twin `bpe_train_vocab`
    * runs right below that at 256, this runs the real-tokenizer scale
    * above it). One row:
    *  - `n_rules` — exact: the corpus must support all `merges` rounds;
    *  - `first_cnt` — exact anchor: round 1's argmax pair count, which
    *    the oracle recomputes with a single (unchained) round;
    *  - `rounds_contiguous` — rules numbered 1..n with no gap;
    *  - `counts_nonincreasing` — the BPE invariant that the adopted
    *    count never grows round-over-round (a merge only removes
    *    occurrences of existing pairs, and any NEW pair (x, ab) it
    *    creates has count ≤ count(ab) = this round's max);
    *  - `merges_distinct` — no (sym_a, sym_b) pair is ever adopted
    *    twice (once merged, the adjacency cannot re-arise).
    * A broken induction loop flips a boolean (or shifts first_cnt) and
    * fails the gate. Same 1-job + driver-local shape as
    * [[bpeTrainRules]] — the job-count spec covers this entry point at
    * the full merge count.
    */
  def bpeTrainSummary(documents: DataFrame, merges: Int): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val rules = bpeTrainRules(documents, merges)
    val nonIncreasing = rules.iterator.sliding(2).withPartial(false).forall {
      case Seq((_, _, _, c1), (_, _, _, c2)) => c2 <= c1
    }
    val contiguous = rules.map(_._1) == (1 to rules.length)
    // '|' never appears in a symbol ([a-z0-9] alphabet), so the joined
    // key is collision-free pair identity
    val distinctPairs =
      rules.map(t => t._2 + "|" + t._3).distinct.length == rules.length
    val firstCnt = rules.headOption.map(_._4).getOrElse(0L)
    Seq((rules.length.toLong, firstCnt, contiguous, nonIncreasing, distinctPairs))
      .toDF("n_rules", "first_cnt", "rounds_contiguous",
        "counts_nonincreasing", "merges_distinct")
  }

  /** The induction→application COMPOSITION a real tokenizer pipeline
    * runs: [[bpeTrainRules]]' learned merge table (driver-local, one
    * distributed pass) feeds a [[bpeEncode]]-semantics greedy encoder
    * over the SAME word model the trainer saw (`[a-z0-9]+` extraction),
    * reporting per-document word / character-token / BPE-token budgets
    * under the learned vocabulary.
    *
    * Scale shape: training is [[bpeTrainRules]]' 1-job-plus-local-work
    * shape; application is doc-local mapPartitions with the bounded
    * merge table riding the task closure, plus a per-partition
    * word→encoded-length memo (Zipf makes the hit rate high — each
    * partition encodes each word TYPE once, not each occurrence).
    */
  def bpeTrainedEncode(documents: DataFrame, merges: Int = 64): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val table: Array[(String, String)] =
      bpeTrainRules(documents, merges).map(t => (t._2, t._3)).toArray
    // r18: an explicit pre-encode repartition (the shingles width fix)
    // was tried and REGRESSED (pack_bpe 0.62 -> 0.91 s interleaved) —
    // the per-partition word memo makes the encode cheap enough that
    // the exchange dominates. Left narrow on measurement.
    documents.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val re = java.util.regex.Pattern.compile("[a-z0-9]+")
        val memo = scala.collection.mutable.HashMap.empty[String, Long]
        it.map { case (id, text) =>
          if (text == null) (id, 0L, 0L, 0L)
          else {
            var nWords = 0L; var nChar = 0L; var nBpe = 0L
            val m = re.matcher(text)
            while (m.find()) {
              val word = m.group()
              nWords += 1L
              nChar += word.length.toLong
              nBpe += memo.getOrElseUpdate(word, {
                var toks: Seq[String] = word.map(_.toString)
                table.foreach { case (a, b) =>
                  toks = bpeMergeOnce(toks, a, b)
                }
                toks.length.toLong
              })
            }
            (id, nWords, nChar, nBpe)
          }
        }
      }.toDF("doc_id", "n_words", "n_char_tokens", "n_bpe_tokens")
      .orderBy(col("doc_id"))
  }

  /** Corpus drift detection: the top token-level contributors to the
    * KL divergence between two corpus halves' add-one-smoothed unigram
    * distributions — the snapshot-vs-snapshot monitor that catches a
    * scraper change, a source mix shift, or a filter regression before
    * it trains in. Contributions carry the established e6 integer
    * contract (identical IEEE double ops on both engines, floored to
    * BIGINT — the bigram_logprob convention) so the driver hash gate
    * applies; smoothing over the UNION vocabulary keeps every log
    * finite.
    *
    * Scale shape: one tokenize+groupBy pass builds both halves' counts
    * in the SAME aggregate (conditional sums — one shuffle, not two),
    * the 1-row totals relation broadcast-cross-joins back, and the
    * top-k cut is a global sort of the vocabulary-sized (not
    * corpus-sized) relation.
    */
  def tokenDrift(documents: DataFrame, topK: Int = 20): DataFrame = {
    val halfA = col("doc_id") % 2 === 0
    val counts = documents
      .select(halfA.as("half_a"),
        explode(regexp_extract_all(col("text"), lit("[a-z0-9]+"), lit(0)))
          .as("token"))
      .groupBy(col("token"))
      .agg(sum(when(col("half_a"), 1L).otherwise(0L)).as("cnt_a"),
        sum(when(!col("half_a"), 1L).otherwise(0L)).as("cnt_b"))
    val totals = counts.agg(sum(col("cnt_a")).as("tot_a"),
      sum(col("cnt_b")).as("tot_b"), count(lit(1)).as("v"))
    val p = (col("cnt_a") + 1).cast("double") /
      (col("tot_a") + col("v")).cast("double")
    val q = (col("cnt_b") + 1).cast("double") /
      (col("tot_b") + col("v")).cast("double")
    counts.crossJoin(totals)
      .withColumn("contrib_e6",
        floor(lit(1000000.0) * p * log(p / q)).cast("long"))
      .select(col("token"), col("cnt_a"), col("cnt_b"), col("contrib_e6"))
      .orderBy(col("contrib_e6").desc, col("token"))
      .limit(topK)
  }
}
