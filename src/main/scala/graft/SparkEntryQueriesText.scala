package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._

/** The text-analysis + deduplication slice of [[SparkEntry.queries]] —
  * split along SURVEY §2.2 family boundaries (r16, VERDICT r15 item 7).
  * Registration order inside the slice is preserved verbatim from the
  * pre-split registry; `SparkEntry.distinctKeys` still guards the
  * concatenated surface against duplicate keys at class-init.
  */
private[graft] trait SparkEntryQueriesText extends SparkEntryStaging {
  this: SparkEntryOracleRest =>

  private[graft] lazy val queryEntriesText: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // ---- text analysis (LLM-data-pipeline surface) -----------------------
    "text_stats" -> ((s, dir) => TextAnalysis.textStats(t(s, dir, "documents"))),
    // RAKE keyword extraction (r16 — stopword-delimited phrase scoring,
    // deg/freq word scores, all integer e6; top-20 corpus keyphrases)
    "rake_keywords" -> ((s, dir) =>
      TextAnalysis.rakeKeywords(t(s, dir, "documents"))),
    // the textbook per-document form (r17 — word stats within each doc,
    // doc_id-partitioned end to end, top-5 phrases per document)
    "rake_keywords_doc" -> ((s, dir) =>
      TextAnalysis.rakeKeywordsDoc(t(s, dir, "documents"))),
    // Manning–Schütze t-score bigram collocations (r17 — the frequent-
    // collocation complement to ppmi_rank's lift; sqrt-only statistic,
    // bit-identical cross-engine where log-likelihood would not be)
    "collocations_tscore" -> ((s, dir) =>
      TextAnalysis.collocationsTscore(t(s, dir, "documents"))),
    // raw Turing adjusted counts off the count-of-counts relation
    // (r17 — exact e6 rationals; the unseen-mass diagnostic)
    "good_turing" -> ((s, dir) =>
      TextAnalysis.goodTuring(t(s, dir, "documents"))),
    // Heaps-law vocabulary growth at power-of-two doc ranks (r17 —
    // first-doc type attribution + window-free exact prefix sums)
    "heaps_curve" -> ((s, dir) =>
      TextAnalysis.heapsCurve(t(s, dir, "documents"))),
    // Zipf-skew one-number summary (r17 — exact rank-weighted Gini of
    // the token-frequency distribution, gini_concentration closed form)
    "vocab_gini" -> ((s, dir) =>
      TextAnalysis.vocabGini(t(s, dir, "documents"))),
    "lang_id" -> ((s, dir) => TextAnalysis.langId(t(s, dir, "documents"))),
    // the graduated classifier: Cavnar–Trenkle character-n-gram rank
    // profiles learned from the labeled corpus in one distributed pass,
    // scored doc-locally by out-of-place distance
    "lang_id_ngram" -> ((s, dir) =>
      TextAnalysis.langIdNgram(t(s, dir, "documents"))),
    // the measured-quality row for the Cavnar–Trenkle classifier (r15 —
    // the lsh_recall discipline for language ID): the SAME prediction
    // relation grouped into the (label, prediction) confusion matrix,
    // so a profile/scorer regression shows as count drift in the hash
    // gate, not as a silent accuracy slide
    "lang_id_confusion" -> ((s, dir) =>
      TextAnalysis.langIdNgram(t(s, dir, "documents"))
        .groupBy(col("lang_label"), col("lang_pred"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("lang_label"), col("lang_pred"))),
    "token_freq" -> ((s, dir) => TextAnalysis.tokenFrequencies(t(s, dir, "documents"))),
    // snapshot-vs-snapshot drift monitor: top KL contributors between
    // the two corpus halves' smoothed unigram distributions (e6 ints)
    "token_drift" -> ((s, dir) => TextAnalysis.tokenDrift(t(s, dir, "documents"))),
    // BPE merge TRAINING (bpe_tokens applies a table; this learns one):
    // 64 rounds of pair-count argmax + greedy merge, induced driver-local
    // over the bounded word-type relation in ONE distributed pass
    "bpe_train" -> ((s, dir) => TextAnalysis.bpeTrain(t(s, dir, "documents"))),
    // VOCABULARY-scale induction, exact-parity leg: the documents corpus
    // has 31 word types (exhausts at 89 merges), so the scale proof runs
    // on the partkey vocabulary (2000 numeric word types, exhaustion
    // ~1990) — 256 rounds, right under DuckDB's ~300-round CTE-chain
    // binder ceiling, every rule hash-checked against the unrolled chain
    "bpe_train_vocab" -> ((s, dir) =>
      TextAnalysis.bpeTrain(
        t(s, dir, "lineitem").select(col("l_partkey").cast("string").as("text")),
        merges = BpeVocabRounds)),
    // the REAL-tokenizer merge count (1024), same 1-job induction; the
    // oracle is structural (n_rules + a single-round-exact first_cnt
    // anchor + the BPE invariants) because no SQL engine can unroll a
    // 1024-round dependent chain — see bpeTrainSummary's contract.
    // CORPUS CONTRACT (the n_rules=1024 literal): the vocabulary's merge
    // exhaustion must exceed 1024 — true at sf0.01 (2000 partkey types,
    // exhaustion ~1990) and every larger SF; sf0.001's 200 types exhaust
    // at ~190, so this row's gate is sf0.01+ by design (bpe_train_vocab's
    // CHAINED oracle degrades gracefully with the corpus, this structural
    // one asserts the scale point itself)
    "bpe_train_1k" -> ((s, dir) =>
      TextAnalysis.bpeTrainSummary(
        t(s, dir, "lineitem").select(col("l_partkey").cast("string").as("text")),
        merges = 1024)),
    // the induction→application composition: bpe_train's 64 learned
    // rules feed the greedy encoder over the same word model — the
    // trained-tokenizer budget a real pipeline runs
    "pipeline_tokenizer" -> ((s, dir) =>
      TextAnalysis.bpeTrainedEncode(t(s, dir, "documents"))),
    // the tokenizer BAKE-OFF: BPE (64 learned merges) vs unigram-LM
    // (2-round hard EM) trained on the SAME corpus, head-to-head on
    // corpus fertility — exact integer totals + e6 fertilities + the
    // per-doc win count on fully-covered docs
    "tokenizer_compare" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val uni = TextAnalysis.unigramFertility(docs)
        .select(col("doc_id"), col("n_covered"), col("n_pieces"),
          col("n_words").as("u_words"))
      val bpe = TextAnalysis.bpeTrainedEncode(docs)
        .select(col("doc_id"), col("n_words"), col("n_bpe_tokens"))
      uni.join(bpe, Seq("doc_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).as("n_words"),
          sum(col("n_bpe_tokens")).as("bpe_tokens"),
          sum(col("n_covered")).as("uni_covered"),
          sum(col("n_pieces")).as("uni_pieces"),
          expr("sum(n_bpe_tokens) * 1000000 div sum(n_words)")
            .as("bpe_fert_e6"),
          expr("sum(n_pieces) * 1000000 div sum(n_covered)")
            .as("uni_fert_e6"),
          sum(when(col("n_covered") === col("u_words") &&
            col("n_pieces") < col("n_bpe_tokens"), 1L).otherwise(0L))
            .as("n_docs_uni_wins"))
    }),
    // SentencePiece-style unigram-LM tokenizer training: substring seed
    // vocab, 2 hard-EM rounds of distributed Viterbi (score table in
    // the task closure) + vocab-sized usage aggregates; only
    // vocab-bounded relations reach the driver
    "unigram_train" -> ((s, dir) =>
      TextAnalysis.unigramTrain(t(s, dir, "documents"))),
    // the unigram induction->application composition (bpeTrainedEncode's
    // twin): per-doc subword budgets under the LEARNED scores, doc-local
    // mapPartitions with a per-partition word->pieces memo
    "unigram_fertility" -> ((s, dir) =>
      TextAnalysis.unigramFertility(t(s, dir, "documents"))),
    // LM surprisal under the TRAINED unigram tokenizer (r15 — the CCNet
    // perplexity-quality discipline with the in-repo LM): per document
    // the exact-integer −Σ best-segmentation log-prob (e6) plus the
    // per-word normalization CCNet thresholds on — low = fluent
    // in-distribution text, high = boilerplate/noise. Same distributed
    // EM + doc-local application shape as unigram_fertility.
    "unigram_perplexity" -> ((s, dir) =>
      TextAnalysis.unigramSurprisal(t(s, dir, "documents"))),
    // exact frequent items above n/100 support, via Misra-Gries candidate
    // pruning (the unbounded-vocabulary guard) — result is exact, so the
    // oracle is the plain HAVING formulation
    "heavy_hitters" -> ((s, dir) =>
      HeavyHitters.heavyHitters(t(s, dir, "documents"), d = 100)),
    // stratified twin: per-language frequent tokens via per-group MG
    // summaries (groups x capacity driver bound, fail-fast contract) —
    // result is exact, so the oracle is the grouped HAVING formulation
    "heavy_hitters_by_lang" -> ((s, dir) =>
      HeavyHitters.heavyHittersByGroup(t(s, dir, "documents"),
        groupCol = "lang", d = 60)),
    // mergeable-sketch discipline, frequency side: Count-Min counter
    // relation as plain relational algebra (shared md5 hashes, so the
    // oracle replays the estimates EXACTLY, collisions included)
    "cms_heavy" -> ((s, dir) =>
      Sketches.cmsHeavyEstimates(t(s, dir, "lineitem"))),
    // the production xxhash64 hash path (measured 4x counter build vs
    // md5); structural oracle since DuckDB cannot replay xxhash64
    "cms_heavy_fast" -> ((s, dir) =>
      Sketches.cmsHeavyEstimatesFast(t(s, dir, "lineitem"))),
    // mergeable-sketch discipline, cardinality side: per-shard
    // DataSketches HLL union == one-shot sketch (structural oracle —
    // the merge-transparency contract a persisted-sketch layout serves)
    "hll_sharded" -> ((s, dir) =>
      Sketches.hllShardedDistinct(t(s, dir, "lineitem"))),
    // stratified cardinality: per-(group, shard) sketches union into
    // per-GROUP estimates (the heavy_hitters_by_lang posture for HLL)
    "hll_by_group" -> ((s, dir) =>
      Sketches.hllByGroup(t(s, dir, "lineitem"))),
    // the sketch-table ingest discipline: shard sketches PERSISTED
    // bucketed, a second generation APPENDED (sketch relations are
    // additive — serving unions rows, never rebuilds), serve reads the
    // table only. Same output contract/oracle as hll_sharded.
    "hll_persisted" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      graft.sources.TableSink.writeBucketed(
        Sketches.hllShardSketches(li.filter(col("l_orderkey") % 2 === 1)),
        "graft_hll_shards", "shard", 4)
      graft.sources.TableSink.appendBucketed(
        Sketches.hllShardSketches(li.filter(col("l_orderkey") % 2 === 0)),
        "graft_hll_shards", "shard", 4)
      Sketches.hllServe(s.table("graft_hll_shards"), li)
    }),
    // the COMPACTION verb on the sketch-table lifecycle: build + append
    // leave one file-set per generation; OPTIMIZE-style bin-packing
    // rewrites them to ONE file per bucket (TableSink.compactBucketed),
    // and the post-compaction serve must be bit-identical to the
    // pre-compaction one — same output contract/oracle as hll_sharded.
    // The file-count drop and serve parity are spec-pinned in
    // TableSinkSpec; this row proves the compacted table still serves.
    "hll_compacted" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      graft.sources.TableSink.writeBucketed(
        Sketches.hllShardSketches(li.filter(col("l_orderkey") % 2 === 1)),
        "graft_hll_compact", "shard", 4)
      graft.sources.TableSink.appendBucketed(
        Sketches.hllShardSketches(li.filter(col("l_orderkey") % 2 === 0)),
        "graft_hll_compact", "shard", 4)
      graft.sources.TableSink.compactBucketed(s, "graft_hll_compact",
        "shard", 4)
      Sketches.hllServe(s.table("graft_hll_compact"), li)
    }),
    // sketch-set INTERSECTION via inclusion-exclusion over three
    // one-scan conditional sketches (HLL can't intersect directly —
    // registers only max-merge into unions); exact count oracle-checked,
    // the IE accuracy band a structural boolean (r14)
    "hll_intersect" -> ((s, dir) =>
      Sketches.hllIntersect(t(s, dir, "lineitem"))),
    // 2-D Pareto frontier via mergeable per-partition frontiers (linear
    // scans, frontier-sized merge task; exact-cents dominance)
    "skyline" -> ((s, dir) => Relational.skyline(t(s, dir, "orders"))),
    "token_counts" -> ((s, dir) => TextAnalysis.tokenCounts(t(s, dir, "documents"))),
    // Flesch reading ease in exact e6 cross-multiplication (r14 — the
    // classic difficulty signal corpus filters bucket on); row-local
    "readability_flesch" -> ((s, dir) =>
      TextAnalysis.readabilityFlesch(t(s, dir, "documents"))),
    // columnar-format breadth: ORC sink partitioned by language, read
    // back through the native ORC source with the lang predicate
    // landing as PARTITION PRUNING (only the en/ directory is read) —
    // the write→layout→pruned-scan cycle on the second columnar format
    "orc_roundtrip" -> ((s, dir) => {
      val path = freshStageDir("graft_orc_docs")
      t(s, dir, "documents").write.mode("overwrite")
        .partitionBy("lang").orc(path)
      s.read.orc(path).filter(col("lang") === "en")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy(col("source"))
    }),
    // schema evolution across producer generations: a v1 writer
    // without `source` and a v2 writer with it land in one dataset;
    // mergeSchema reconciles (missing column → NULL), the query
    // reports legacy coverage — the lake-ingest reality every 100 TB
    // corpus lives with (generations never rewrite)
    "schema_evolution" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val path = freshStageDir("graft_schema_evo")
      docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("lang"))
        .write.mode("overwrite").parquet(s"$path/gen=1")
      docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("lang"), col("source"))
        .write.mode("overwrite").parquet(s"$path/gen=2")
      s.read.option("mergeSchema", "true").parquet(path)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("source").isNull.cast("long")).as("n_legacy"),
          countDistinct(col("source")).as("n_sources"))
        .orderBy(col("lang"))
    }),
    // snapshot time travel: v1 = base write, v2 = append; the pinned v1
    // read resolves through its manifest only, so it never sees v2's
    // files — snapshot isolation from immutability + manifest indirection
    "table_time_travel" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val root = freshStageDir("graft_timetravel")
      graft.sources.TableSink.writeSnapshot(
        docs.filter(pmod(col("doc_id"), lit(10)) =!= 0), root, 1)
      graft.sources.TableSink.writeSnapshot(
        docs.filter(pmod(col("doc_id"), lit(10)) === 0), root, 2)
      def at(v: Int) = graft.sources.TableSink.readSnapshot(s, root, v)
        .agg(lit(v).as("version"), count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"))
      at(1).unionByName(at(2)).orderBy(col("version"))
    }),
    // PSI drift report: baseline quartile edges (ExactRank), smoothed
    // e6 shares, per-bin terms floored before summation
    "psi_drift" -> ((s, dir) =>
      Profile.psiDrift(t(s, dir, "documents"))),
    // retention close of the time-travel lifecycle: expire v1..v2 (their
    // manifests delete; data directories survive wherever a live
    // manifest still references them), newest version stays readable
    "snapshot_expire" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val root = freshStageDir("graft_snapexp")
      graft.sources.TableSink.writeSnapshot(
        docs.filter(pmod(col("doc_id"), lit(10)) =!= 0), root, 1)
      graft.sources.TableSink.writeSnapshot(
        docs.filter(pmod(col("doc_id"), lit(20)) === 0), root, 2)
      graft.sources.TableSink.writeSnapshot(
        docs.filter(pmod(col("doc_id"), lit(10)) === 0 &&
          pmod(col("doc_id"), lit(20)) =!= 0), root, 3)
      graft.sources.TableSink.expireSnapshots(s, root, 2)
      graft.sources.TableSink.readSnapshot(s, root, 3)
        .agg(lit(3).as("version"), count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"))
    }),
    // vocab-coverage gate: per-doc out-of-vocabulary fraction against
    // the corpus top-1000 vocabulary (bounded cut, broadcast probe)
    "oov_rate" -> ((s, dir) => TextAnalysis.oovRate(t(s, dir, "documents"))),
    // positional-postings TRIGRAM query (self-derived top trigram) —
    // r12 accidentally shadowed this under the two-term phrase_search
    // key; renamed to restore it to the verified surface
    "phrase_trigram" -> ((s, dir) =>
      TextAnalysis.phraseSearch(t(s, dir, "documents"))),
    // unigram entropy quality signal (row-local runs, e6 integer contract)
    "token_entropy" -> ((s, dir) => TextAnalysis.tokenEntropy(t(s, dir, "documents"))),
    "quality_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionStats(t(s, dir, "documents"))),
    // C4 line-level cleaning. The corpus is unpunctuated single-line text,
    // so the punctuation rule is switched off and the word-count rule set
    // to 50 — the line machinery still runs end-to-end and the keep
    // verdict genuinely splits the corpus; the punctuation/boilerplate
    // rules are exercised by the PipelineSpec fixture.
    "c4_line_filter" -> ((s, dir) =>
      TextAnalysis.c4LineFilter(t(s, dir, "documents"), minLineWords = 50,
        requireTerminalPunct = false)),
    // FILTER ABLATION report (r14 — the curation question every gate
    // pipeline answers first: which filters remove what, exclusively
    // and jointly?): the three registered doc-level gates — Gopher
    // keep, C4 line-survival, language-ID correctness — cross-tabbed
    // into the 8-cell overlap cube. Three row-local gate projections +
    // two doc_id equi-joins + one partial-aggregable rollup; the
    // oracle composes the three gates' own oracle texts verbatim, so
    // the ablation can never drift from the gates it reports on.
    "quality_ablation" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val g = TextAnalysis.gopherQuality(docs, stopList = Seq("the", "a"))
        .select(col("doc_id"), col("keep").as("gopher_pass"))
      val c = TextAnalysis.c4LineFilter(docs, minLineWords = 50,
          requireTerminalPunct = false)
        .select(col("doc_id"), col("keep").as("c4_pass"))
      val l = TextAnalysis.langId(docs)
        .select(col("doc_id"),
          (col("lang_pred") === col("lang_label")).as("lang_pass"))
      g.join(c, "doc_id").join(l, "doc_id")
        .groupBy(col("gopher_pass"), col("c4_pass"), col("lang_pass"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("gopher_pass"), col("c4_pass"), col("lang_pass"))
    }),
    // full Gopher ruleset (word/line/symbol/stopword rules + keep verdict).
    // stopList localized to the synthetic corpus's function words — its
    // vocabulary contains only 'the'/'a' from any natural stop lexicon, so
    // the canonical 8-word default could never fire the ≥2 rule here.
    "gopher_quality" -> ((s, dir) =>
      TextAnalysis.gopherQuality(t(s, dir, "documents"),
        stopList = Seq("the", "a"))),
    "fingerprints" -> ((s, dir) => TextAnalysis.fingerprints(t(s, dir, "documents"))),
    // Unicode NFC canonicalization ahead of content hashing: both engines
    // append the same decomposed+precomposed sample (combining acute/ring/
    // diaeresis) to the ASCII corpus, and the normalizer must fold the
    // decomposed forms into their precomposed twins (html_extract
    // synthesis discipline; JDK Normalizer vs DuckDB nfc_normalize — the
    // same Unicode spec on both sides)
    "nfc_normalize" -> ((s, dir) => {
      val mixed = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          lit(" Café école Ångström")).as("text"))
      TextAnalysis.nfcNormalize(mixed)
    }),
    "scrub_pii" -> ((s, dir) => TextAnalysis.scrubPii(t(s, dir, "documents"))),
    // encoding-damage gate (ftfy posture): the fixture corpus is clean
    // ASCII, so the three damage classes are synthesized deterministically
    // per doc_id residue (nfc_normalize discipline) — a gate that never
    // fires is untested
    "mojibake_stats" -> ((s, dir) => {
      val seeded = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 40 === 0, lit(" cafÃ© Âfoo"))
            .when(col("doc_id") % 40 === 1, lit(" donâ€™t"))
            .when(col("doc_id") % 40 === 2, lit(" bad�char"))
            .otherwise(lit(""))).as("text"))
      TextAnalysis.mojibakeStats(seeded)
    }),
    // script composition over synthesized per-doc script mixes (repeat
    // counts driven by doc_id so dominance varies): Cyrillic 'а', Latin
    // 'a', CJK '你', digit '7' — both engines build the identical string
    "script_profile" -> ((s, dir) => {
      val mixed = t(s, dir, "documents").select(col("doc_id"), concat(
        expr("repeat('а', CAST(doc_id % 40 AS INT))"),
        expr("repeat('a', CAST(doc_id % 23 AS INT))"),
        expr("repeat('你', CAST(doc_id % 17 AS INT))"),
        expr("repeat('7', CAST(doc_id % 5 AS INT))")).as("text"))
      TextAnalysis.scriptProfile(mixed)
    }),
    // markup-to-text extraction, the step ahead of every quality filter:
    // the corpus is wrapped in deterministic real-shaped HTML (head/style/
    // script/entities/comment, sentences split across <p> blocks) by BOTH
    // engines, then the extraction chain must recover clean block text.
    // Row-local regexp chain — no shuffle beyond the presentation sort.
    "html_extract" -> ((s, dir) => {
      val pages = t(s, dir, "documents").select(col("doc_id"), concat(
        lit("<html><head><title>Doc</title><style>body{color:#333} " +
          ".nav{display:none}</style></head><body>" +
          "<script type=\"text/javascript\">var lt = 1 < 2 && 3 > 2;</script>" +
          "<h1>Doc "),
        col("doc_id").cast("string"),
        lit("</h1><p>"),
        regexp_replace(col("text"), "\\. ", ".</p><p>"),
        lit("</p><div class=\"nav\"><ul><li>Home</li><li>About &amp; " +
          "&lt;contact&gt; &quot;mail&#39;s&quot;&nbsp;here</li></ul></div>" +
          "<!-- footer\ncomment --></body></html>")).as("html"))
      TextAnalysis.htmlExtract(pages).orderBy(col("doc_id"))
    }),
    "chunk_docs" -> ((s, dir) => TextAnalysis.chunkDocuments(t(s, dir, "documents"))),
    // content-defined chunking (Rabin-style md5 boundary trigger)
    "cdc_chunks" -> ((s, dir) => TextAnalysis.cdcChunks(t(s, dir, "documents"))),
    "contamination" -> ((s, dir) => TextAnalysis.contamination(t(s, dir, "documents"))),
    "contamination_bloom" -> ((s, dir) =>
      TextAnalysis.contaminationBloom(t(s, dir, "documents"))),
    "passage_dedup" -> ((s, dir) => TextAnalysis.passageDedup(t(s, dir, "documents"))),
    // global frequent-passage (boilerplate) removal: frequent spans drop
    // from EVERY document, not just after the first occurrence
    "boilerplate_filter" -> ((s, dir) =>
      TextAnalysis.boilerplateFilter(t(s, dir, "documents"))),
    // subword cost accounting: bounded-merge-table BPE, doc-local
    "bpe_tokens" -> ((s, dir) => TextAnalysis.bpeEncode(t(s, dir, "documents"))),
    // per-language tokens-per-word fertility + chars-per-token
    // compression from the same doc-local encode (e6 contract)
    "tokenizer_fertility" -> ((s, dir) =>
      TextAnalysis.tokenizerFertility(t(s, dir, "documents"))),
    // multi-dimensional data-layout keys: Morton-interleaved z-order
    // buckets with per-bucket bounding-box spans (the min/max pruning
    // guarantee, measured as data)
    "zorder_stats" -> ((s, dir) =>
      Layout.zorderStats(t(s, dir, "lineitem"))),
    // corpus-statistics quality: unigram-LM surprisal (join-formulated —
    // a count-over-token window would single-task the stop words)
    "unigram_logprob" -> ((s, dir) =>
      TextAnalysis.unigramLogProb(t(s, dir, "documents"))),
    // conditional upgrade: bigram-LM cross-entropy (CCNet-style
    // perplexity quality signal), add-one smoothed, model enriched
    // model-side so the corpus probe is ONE equi-join
    "bigram_logprob" -> ((s, dir) =>
      TextAnalysis.bigramLogProb(t(s, dir, "documents"))),
    // Kneser-Ney upgrade: absolute-discount interpolation with
    // CONTINUATION backoff — same one-equi-join probe shape, model
    // stats partial-aggregable over the bigram-TYPE relation
    "kn_bigram_logprob" -> ((s, dir) =>
      TextAnalysis.knBigramLogProb(t(s, dir, "documents"))),
    // CCNet's bucket step over the bigram scores: exact-rank thirds via
    // the public ExactRank under a constant group — no corpus ntile
    "perplexity_buckets" -> ((s, dir) =>
      TextAnalysis.perplexityBuckets(t(s, dir, "documents"))),
    // CCNet selection end-to-end: per-LANGUAGE bigram LM, documents
    // scored by their own language's model, per-language thirds via the
    // window-free ExactRank, keep = head+middle
    "ccnet_select" -> ((s, dir) =>
      TextAnalysis.ccnetSelect(t(s, dir, "documents"))),
    "tfidf_topk" -> ((s, dir) => TextAnalysis.tfidfTopK(t(s, dir, "documents"))),
    "bm25_rank" -> ((s, dir) => TextAnalysis.bm25(t(s, dir, "documents"))),
    // RM3-lite pseudo-relevance feedback: pass-1 top-10 docs nominate
    // 3 expansion terms, pass 2 re-ranks with the expanded set — one
    // lazy plan, no driver round-trip between passes
    "bm25_prf" -> ((s, dir) => TextAnalysis.bm25Prf(t(s, dir, "documents"))),
    // the search-serving complement: FLAT postings (one row per
    // token x doc — never a per-token array, the stop-word skew bomb)
    // and exact phrase serving via row-local position intersection.
    // Registered presentation serializes the position list CSV (the
    // baskets convention) — the ArrayType relation stays the engine API
    "inverted_index" -> ((s, dir) =>
      InvertedIndex.invertedIndexLines(t(s, dir, "documents"))),
    "phrase_search" -> ((s, dir) =>
      InvertedIndex.phraseSearch(t(s, dir, "documents"))),
    // the index PERSISTED bucketed on token and served back: the term
    // equality filters prune the scan to one bucket's files (Spark
    // bucket pruning — plan-pinned), bit-identical to the in-flight
    // serve, same oracle text
    "phrase_persisted" -> ((s, dir) => {
      graft.sources.TableSink.writeBucketed(
        InvertedIndex.postings(t(s, dir, "documents")),
        "graft_postings", "token", 8)
      InvertedIndex.phraseFromPostings(s.table("graft_postings"))
    }),
    // T5 span corruption: md5-PRNG deterministic masking, numbered
    // sentinels, (input, target) pair assembly via doc-bounded windows
    "span_corruption" -> ((s, dir) =>
      TextAnalysis.spanCorruption(t(s, dir, "documents"))),
    // fill-in-the-middle: md5 coin picks causal vs FIM per doc, two md5
    // cuts split prefix/middle/suffix, PSM sentinel reassembly — pure
    // row-local projection, zero shuffle
    "fim_transform" -> ((s, dir) =>
      TextAnalysis.fimTransform(t(s, dir, "documents"))),
    // BERT masked-LM corruption: 15% positions selected, 80/10/10
    // mask/random/keep off disjoint windows of ONE md5 per (doc, pos);
    // row-local (random replacement indexes the SAME doc's tokens)
    "mlm_mask" -> ((s, dir) =>
      TextAnalysis.mlmMask(t(s, dir, "documents"))),
    // hybrid retrieval: RRF over the BM25 and query-cosine top lists —
    // rank-only signal, two-term INTEGER fusion, bounded final window
    "rrf_fusion" -> ((s, dir) =>
      Retrieval.rrfFusion(t(s, dir, "documents"), t(s, dir, "embeddings"))),
    // the semantic leg served from the PERSISTED bucketed IVF index:
    // driver-side probe choice → literal cells → statically pruned index
    // read. numProbes=12: the fixture's embeddings are near-isotropic
    // (random 64-dim vectors barely cluster), so covering query 0's true
    // top-20 — which spans cells ranked 1st/2nd/4th/12th by the query —
    // needs 12 of 16 probes for recall 1; a real embedding corpus
    // clusters far better and serves from 1-2 probes. Same oracle text
    // as rrf_fusion — bit-identical at recall 1. The coverage claim is
    // pinned at the driver's verify scale by PipelineSpec
    // "rrf_fusion_indexed's numProbes=12 covers recall 1" — a fixture
    // change fails THERE with a bump-the-probe-count message instead of
    // an opaque hash mismatch here.
    "rrf_fusion_indexed" -> ((s, dir) => {
      val tbl = "graft_ivf_rrf"
      graft.sources.TableSink.writeBucketed(
        Similarity.ivfIndexRelation(t(s, dir, "embeddings")), tbl,
        "cluster_b", 8)
      Retrieval.rrfFusionIndexed(t(s, dir, "documents"), s.table(tbl),
        numProbes = 12)
    }),
    // ---- deduplication ---------------------------------------------------
    "dedup_exact" -> ((s, dir) => Dedup.exact(t(s, dir, "documents"))),
    // the third blocking family (after LSH bands and PassJoin
    // segments): rank-windowed candidates from a constant-group
    // ExactRank sort, blocked equi-join — O(n·w), skew-proof
    "sorted_neighborhood" -> ((s, dir) =>
      Dedup.sortedNeighborhood(t(s, dir, "documents"))),
    // end-to-end entity resolution: SNM blocking -> banded-Levenshtein
    // verification (<=10% edits; the 3-arg threshold form keeps the DP
    // O(threshold·len) instead of O(len²)) -> the shared CC engine.
    // The |len_a-len_b| prefilter is lossless (lev >= length gap).
    "entity_clusters" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val cand = Dedup.sortedNeighborhood(docs)
      val ta = docs.select(col("doc_id").as("doc_a"), col("text").as("text_a"))
      val tb = docs.select(col("doc_id").as("doc_b"), col("text").as("text_b"))
      // edit budget = 10% of the longer text, capped at 58 so the DP
      // band is a constant on any corpus (the cap is shared with the
      // oracle — the rule, not just the optimization)
      val budget = least(greatest(length(col("text_a")),
        length(col("text_b"))), lit(580))
      // equality short-circuit before the DP: near-dup corpora are
      // dominated by EXACT duplicates (lev = 0 by definition), and the
      // banded DP still costs O(58·len) on them — measured 4.3× on the
      // 10× audit corpus where the planted dup load concentrates
      val verified = cand.join(ta, "doc_a").join(tb, "doc_b")
        .filter(abs(length(col("text_a")) - length(col("text_b"))) * 10
          <= budget)
        .withColumn("d", when(col("text_a") === col("text_b"), lit(0))
          .otherwise(levenshtein(col("text_a"), col("text_b"), 58)))
        .filter(col("d") >= 0 && col("d") * 10 <= budget)
        .select(col("doc_a"), col("doc_b"))
      val clusters = Dedup.nearDupClusters(verified)
      val sizes = clusters.groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_members"))
      clusters.join(sizes, "cluster_id")
        .select(col("doc_id"), col("cluster_id"), col("n_members"))
        .orderBy(col("doc_id"))
    }),
    // character-level fuzzy dedup: EXACT edit-distance self-join over
    // 40-char document title prefixes at typo distance 2 — lossless
    // PassJoin segment blocking (see FuzzyJoin), so the oracle is the
    // clean all-pairs definition, no blocking heuristic in sight
    "fuzzy_pairs" -> ((s, dir) =>
      FuzzyJoin.fuzzyPairs(
        t(s, dir, "documents").select(col("doc_id"),
          substring(col("text"), 1, 40).as("title")),
        "doc_id", "title", 2)
        .orderBy(col("id_a"), col("id_b"))),
    "ngram_jaccard" -> ((s, dir) => Dedup.ngramJaccard(t(s, dir, "documents"))),
    // EXACT set-similarity join, LOSSLESS at the class level (r16 —
    // PPJoin prefix filtering over exact-dup class representatives):
    // word-set Jaccard >= 0.9 with candidates bounded by rarest-first
    // prefixes instead of ngram_jaccard's lossy df cap; the exact-class
    // collapse keeps the result linear in DISTINCT content (this
    // corpus's dup classes grow with the corpus — doc-level pair
    // enumeration is Θ(class²), measured fatal at sf0.1). Spec pins the
    // no-pair-missed claim against brute force.
    "setsim_join" -> ((s, dir) => Dedup.setsimJoin(t(s, dir, "documents"))),
    // asymmetric overlap: |A∩B| / min(|A|,|B|) — catches a short doc
    // embedded in a long one, which Jaccard's union denominator buries
    "ngram_containment" -> ((s, dir) =>
      Dedup.ngramContainment(t(s, dir, "documents"))),
    // substring-level dedup (the Lee et al. repeated-span shape): corpus
    // profile of cross-doc repeated k-grams, and the per-doc keep mask
    "repeated_spans" -> ((s, dir) => Dedup.repeatedSpans(t(s, dir, "documents"))),
    "span_dedup" -> ((s, dir) => Dedup.spanDedup(t(s, dir, "documents"))),
    // the PUBLISHED threshold (r17 — Lee et al. cut repeats >= 50
    // tokens): repeated 8-gram positions chained by gaps-and-islands
    // into runs; keep = no run reaching 50 tokens
    "span_dedup_50" -> ((s, dir) => Dedup.spanDedupLong(t(s, dir, "documents"))),
    // redundancy growth along ingestion order (r17): fraction of each
    // doc's spans first seen IN that doc (min-doc attribution)
    "span_novelty" -> ((s, dir) => Dedup.spanNovelty(t(s, dir, "documents"))),
    // index-quality audit: LSH candidates vs the exact n-gram ground truth
    "lsh_recall" -> ((s, dir) => Dedup.lshRecall(t(s, dir, "documents"))),
    // the empirical S-curve: one row per banding config of the same
    // 16 hashes — analytic threshold beside measured volume + recall
    "lsh_scurve" -> ((s, dir) => Dedup.lshScurve(t(s, dir, "documents"))),
    "minhash_lsh" -> ((s, dir) => Dedup.minhashLsh(t(s, dir, "documents"))),
    // the bounded Jaccard near-dup product: per-doc k nearest by
    // est_jaccard over the SAME capped band candidates — both cut axes
    // map-side WindowGroupLimit
    "minhash_partners" -> ((s, dir) =>
      Dedup.minhashPartners(t(s, dir, "documents"))),
    // pair detection → canonical cluster assignment (connected components)
    "dedup_clusters" -> ((s, dir) => {
      val pairs = Dedup.minhashLsh(t(s, dir, "documents"))
        .select(col("doc_a"), col("doc_b"))
      // member count via partial-aggregable groupBy joined back, not a
      // cluster_id window: a web-scale megacluster (identical boilerplate
      // in 10⁸ docs) must not colocate in one window task. The labels
      // relation is cached by nearDupClusters, so both consumers reuse it.
      val clusters = Dedup.nearDupClusters(pairs)
      val sizes = clusters.groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_members"))
      clusters.join(sizes, "cluster_id")
        .select(col("doc_id"), col("cluster_id"), col("n_members"))
        .orderBy(col("doc_id"))
    }),
    // the dedup endpoint: corpus minus non-canonical near-dup members
    "dedup_keep" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.keepCanonical(docs,
          Dedup.minhashLsh(docs).select(col("doc_a"), col("doc_b")))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"), min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"))
        .orderBy(col("lang"))
    }),
    // dedup diagnostics: per-doc novel-shingle counts + the cumulative
    // novelty curve (first-owner min per shingle type, window-free
    // prefix sum — a flattening curve says "run dedup")
    "ngram_coverage" -> ((s, dir) =>
      Dedup.ngramCoverage(t(s, dir, "documents"))),
    // quality-aware keep: per cluster the LONGEST member survives
    // (n_chars argmax, tie min id) via a partial-aggregable
    // max(struct(quality, -id)) — no per-cluster window, megacluster-safe
    "dedup_keep_best" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.keepBest(docs,
          Dedup.minhashLsh(docs).select(col("doc_a"), col("doc_b")))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"), min(col("doc_id")).as("min_doc"),
          sum(col("n_chars")).as("kept_chars"))
        .orderBy(col("lang"))
    }),
    // reward-model data prep: per near-dup cluster the (quality argmax,
    // quality argmin) preference pair — same content both ends, so the
    // contrast is quality not topic; both extremes one partial-aggregable
    // groupBy, equal-quality ties (and thus singletons) emit nothing
    "preference_pairs" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.preferencePairs(docs,
        Dedup.minhashLsh(docs).select(col("doc_a"), col("doc_b")))
    }),
    // continuous-ingestion dedup: a mod-10 batch probed against the rest
    // of the corpus as base — no base×base join anywhere in the plan
    "dedup_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.minhashIncremental(
        docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0))
    }),
    // the dedup base index BUILT ONCE and SERVED from persisted bucketed
    // tables (bands + signatures via TableSink — the ann_ivf_persisted
    // build-once/probe-many discipline): true cross-session IVM for
    // dedup. Result must be bit-identical to dedup_incremental's
    // in-flight build — the driver checks it against that very oracle.
    "dedup_persisted" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // DISK_ONLY so the corpus-proportional shingle+minhash pipeline runs
      // once and feeds BOTH table writes (bands + sigs), not twice — the
      // same house rule minhashIncremental itself follows.
      val sigs = CacheScope.persist(
        Dedup.minhashSignatures(docs.filter(col("doc_id") % 10 =!= 0)))
      graft.sources.TableSink.writeBucketed(
        Dedup.minhashBandIndex(sigs), "graft_dedup_bands", "b0", 8)
      graft.sources.TableSink.writeBucketed(sigs, "graft_dedup_sigs",
        "doc_id", 8)
      Dedup.minhashProbeIndex(docs.filter(col("doc_id") % 10 === 0),
        s.table("graft_dedup_bands"), s.table("graft_dedup_sigs"))
    }),
    // dedup_persisted's APPEND half: the odd-id half of the base corpus
    // builds the bucketed band/signature tables, the even-id half is
    // INSERTed into them (same bucket spec, base untouched), and the
    // batch probes the combined index — bit-identical to probing an
    // index built in one shot, which is the dedup_incremental oracle
    "dedup_appended" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val rest = docs.filter(col("doc_id") % 10 =!= 0)
      val sigsA = CacheScope.persist(
        Dedup.minhashSignatures(rest.filter(col("doc_id") % 2 === 1)))
      graft.sources.TableSink.writeBucketed(
        Dedup.minhashBandIndex(sigsA), "graft_dedup_bands_app", "b0", 8)
      graft.sources.TableSink.writeBucketed(sigsA, "graft_dedup_sigs_app",
        "doc_id", 8)
      val sigsB = CacheScope.persist(
        Dedup.minhashSignatures(rest.filter(col("doc_id") % 2 === 0)))
      graft.sources.TableSink.appendBucketed(
        Dedup.minhashBandIndex(sigsB), "graft_dedup_bands_app", "b0", 8)
      graft.sources.TableSink.appendBucketed(sigsB, "graft_dedup_sigs_app",
        "doc_id", 8)
      Dedup.minhashProbeIndex(docs.filter(col("doc_id") % 10 === 0),
        s.table("graft_dedup_bands_app"), s.table("graft_dedup_sigs_app"))
    }),
    // STREAMING × INCREMENTAL DEDUP — the continuous-ingestion
    // composition the two halves existed for: the base corpus's band +
    // signature index is built ONCE into persisted bucketed tables
    // (dedup_persisted's build), then a checkpointed document STREAM
    // probes it per micro-batch through foreachBatch with idempotent
    // batch_id partitions (events_table_stream's exactly-once recipe),
    // across a forced stop/restart. No base×base join ever appears in a
    // plan, per-batch cost is O(|batch|) against the pre-bucketed index,
    // and each batch doc's best-match is row-independent — so the
    // restart-replayed union must be bit-identical to the one-shot
    // probe, which is exactly dedup_incremental's oracle text.
    "dedup_incremental_stream" -> ((s, dir) =>
      withStreamStage(dir, "graft_dedup_inc_s") { stage =>
      val in = stage + "/in"; val sink = stage + "/sink"
      val ckpt = stage + "/ckpt"
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      // base index built once, served from the catalog (never rebuilt
      // per batch — the entire point of the composition)
      val sigs = CacheScope.persist(
        Dedup.minhashSignatures(docs.filter(col("doc_id") % 10 =!= 0)))
      graft.sources.TableSink.writeBucketed(
        Dedup.minhashBandIndex(sigs), "graft_dedup_bands_strm", "b0", 8)
      graft.sources.TableSink.writeBucketed(sigs, "graft_dedup_sigs_strm",
        "doc_id", 8)
      val batch = docs.filter(col("doc_id") % 10 === 0)
      def run(): Unit = {
        val stream = s.readStream.schema(
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("doc_id",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("text",
                org.apache.spark.sql.types.StringType))))
          .option("maxFilesPerTrigger", 2).parquet(in)
        val q = stream.writeStream
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
            graft.streaming.StreamingOps.writeBatchIdempotent(
              Dedup.minhashProbeIndex(b,
                s.table("graft_dedup_bands_strm"),
                s.table("graft_dedup_sigs_strm")), sink, id)
          }
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      batch.filter(col("doc_id") % 20 === 0).repartition(2)
        .write.mode("overwrite").parquet(in)
      run() // phase 1: drains the staged half, clean stop
      batch.filter(col("doc_id") % 20 =!= 0).repartition(2)
        .write.mode("append").parquet(in)
      run() // phase 2: restart from the checkpoint — new files only
      // materialize before withStreamStage deletes the sink files —
      // into a stable OVERWRITTEN warehouse table, not a cache (a cache
      // keyed on the per-invocation temp path grows the persist set
      // every call: the r12 soak's growth class)
      graft.sources.TableSink.saveTable(
        s.read.parquet(sink).drop("batch_id"), "graft_dedup_inc_s_result")
      s.table("graft_dedup_inc_s_result").orderBy(col("doc_id"))
    }),
    "simhash" -> ((s, dir) => Dedup.simhash(t(s, dir, "documents"))),
    "simhash_pairs" -> ((s, dir) => Dedup.simhashPairs(t(s, dir, "documents"))),
    // the OUTPUT-BOUNDED pair product (k nearest partners per document;
    // <= k*n rows at any duplicate-class size — the scale-safe sibling
    // the r11 x100 probe motivated); WindowGroupLimit plan-pinned
    "simhash_partners" -> ((s, dir) =>
      Dedup.simhashPartners(t(s, dir, "documents"))),
    // image-modality near-dup: dHash through the REAL ImageIO decode
    // seam (PNG-lossless, so the oracle replays the byte math exactly),
    // candidates via the same chunk-blocked Hamming band join as simhash.
    // The corpus's near-dups are token-level (shifted positions), which a
    // POSITIONAL perceptual hash rightly does not pair — so the fixture
    // appends a deterministic first-char-perturbed twin per 50th doc
    // (the nfc_normalize synthesis discipline): each twin must land
    // within a few gradient bits of its source, exercising the band join
    // and the Hamming filter on genuinely near (not just identical) images
    "phash_pairs" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val twins = docs.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + lit(1000000L)).as("doc_id"),
          concat(lit("~"), expr("substring(text, 2)")).as("text"))
      Multimodal.phashPairs(docs.unionByName(twins))
    }),
    // the bounded image near-dup product (simhash_partners' image twin):
    // per image, k nearest dHash partners over hot-bucket-capped bands
    "phash_partners" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val twins = docs.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + lit(1000000L)).as("doc_id"),
          concat(lit("~"), expr("substring(text, 2)")).as("text"))
      Multimodal.phashPartners(docs.unionByName(twins))
    }),
    // the image-dedup COMPOSITION: phash pairs feed the same
    // pointer-jumping connected-components engine as text/embedding
    // dedup (the dedup family is generator-agnostic — cosine_clusters'
    // exact pattern with the perceptual-hash candidate generator)
    "phash_clusters" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val twins = docs.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + lit(1000000L)).as("doc_id"),
          concat(lit("~"), expr("substring(text, 2)")).as("text"))
      val pairs = Multimodal.phashPairs(docs.unionByName(twins))
        .select(col("doc_a"), col("doc_b"))
      val clusters = Dedup.nearDupClusters(pairs)
      val sizes = clusters.groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_members"))
      clusters.join(sizes, "cluster_id")
        .select(col("doc_id"), col("cluster_id"), col("n_members"))
        .orderBy(col("doc_id"))
    }),
  )
}
