package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.BasketSource
import graft.operators._

/** The shared oracle-SQL building blocks of [[SparkEntry.oracleSql]] —
  * every CTE/expression fragment more than one oracle text composes
  * (baskets/co-occurrence chains, graph unrolls, tokenizer DP chains,
  * fingerprint CTEs, the ANN/IVFPQ oracle family). Split out of
  * SparkEntry.scala in r15 (verdict item 7) purely along the existing
  * seams; `SparkEntryOracleMain`/`SparkEntryOracleRest` compose these
  * into the registered oracle map. No behavior here — only text.
  */
private[graft] trait SparkEntryOracleBuilders {

  /** The one table loader every query and oracle-fixture builder funnels
    * through ([[graft.sources.Tables.normalizeTimestamps]] included). */
  private[graft] def t(spark: SparkSession, dir: String,
      name: String): DataFrame =
    graft.sources.Tables.load(spark, dir, name)

  /** Deterministic messy-URL corpus for the URL operators: both engines
    * synthesize the same mixed-case / default-port / userinfo / fragment /
    * schemeless URL per document (the html_extract discipline), so the
    * oracle checks real normalization work, not a pre-clean column.
    * doc_id%6 picks the mess class, doc_id%5 the host — ~30 hosts, enough
    * population per host for the cap to bite.
    */
  private[graft] def messyUrls(docs: DataFrame): DataFrame = {
    val m = pmod(col("doc_id"), lit(6))
    val k = pmod(col("doc_id"), lit(5)).cast("string")
    val id = col("doc_id").cast("string")
    docs.select(col("doc_id"),
      when(m === 0, concat(lit("HTTP://WWW.Example"), k,
          lit(".COM:80/path/"), id, lit("?a=1#frag")))
        .when(m === 1, concat(lit("https://user:pw@Sub.Example"), k,
          lit(".org:443/Article/"), id))
        .when(m === 2, concat(lit("https://example"), k,
          lit(".net:8443/x?q="), id, lit("&b=2")))
        .when(m === 3, concat(lit("http://example"), k, lit(".com")))
        .when(m === 4, concat(lit("ftp://Files.example"), k,
          lit(".io/pub/"), id, lit("#sec")))
        .otherwise(concat(lit("not a url "), id)).as("url"))
  }

  /** DuckDB oracle twins. Shared SQL prelude for basket derivation mirrors
    * BasketSource.fromLineitem / CoOccurrence exactly (FIXTURES.md §2).
    */
  private[graft] val basketsCte =
    """WITH baskets AS (
      |  SELECT CAST(l_orderkey AS VARCHAR) AS customer,
      |         list(CAST(l_partkey AS VARCHAR)
      |              ORDER BY l_linenumber, CAST(l_partkey AS VARCHAR)) AS products
      |  FROM lineitem GROUP BY l_orderkey
      |)""".stripMargin

  /** Oracle twin of [[messyUrls]] + [[Url.normalize]]'s parse stage: the
    * CASE arms mirror the Spark when-chain byte-for-byte and the regexes
    * are the [[Url]] constants verbatim (Java/RE2-shared subset).
    */
  private[graft] val urlParseCte: String = {
    val (sc, au, pa, qu, ui, po) = (Url.SchemeRe, Url.AuthorityRe,
      Url.PathRe, Url.QueryRe, Url.UserinfoRe, Url.PortRe)
    // NOTE: the queries embed this via a second stripMargin, so no line
    // here may BEGIN with '|' (a leading '||' would lose a pipe there)
    s"""WITH urls AS (
      |  SELECT doc_id, CASE CAST(doc_id % 6 AS INTEGER)
      |    WHEN 0 THEN 'HTTP://WWW.Example' || CAST(doc_id % 5 AS VARCHAR) ||
      |      '.COM:80/path/' || CAST(doc_id AS VARCHAR) || '?a=1#frag'
      |    WHEN 1 THEN 'https://user:pw@Sub.Example' || CAST(doc_id % 5 AS VARCHAR) ||
      |      '.org:443/Article/' || CAST(doc_id AS VARCHAR)
      |    WHEN 2 THEN 'https://example' || CAST(doc_id % 5 AS VARCHAR) ||
      |      '.net:8443/x?q=' || CAST(doc_id AS VARCHAR) || '&b=2'
      |    WHEN 3 THEN 'http://example' || CAST(doc_id % 5 AS VARCHAR) || '.com'
      |    WHEN 4 THEN 'ftp://Files.example' || CAST(doc_id % 5 AS VARCHAR) ||
      |      '.io/pub/' || CAST(doc_id AS VARCHAR) || '#sec'
      |    ELSE 'not a url ' || CAST(doc_id AS VARCHAR) END AS url
      |  FROM documents
      |), p AS (
      |  SELECT doc_id, url,
      |    lower(regexp_extract(url, '$sc', 1)) AS scheme,
      |    regexp_replace(regexp_extract(url, '$au', 1), '$ui', '') AS hostport
      |  FROM urls
      |), p2 AS (
      |  SELECT doc_id, url, scheme,
      |    lower(regexp_replace(hostport, '$po', '')) AS host,
      |    regexp_extract(hostport, '$po', 1) AS port,
      |    regexp_extract(url, '$pa', 1) AS raw_path,
      |    regexp_extract(url, '$qu', 1) AS query
      |  FROM p
      |), n AS (
      |  SELECT doc_id, url, scheme, host,
      |    CASE WHEN raw_path = '' THEN '/' ELSE raw_path END AS path,
      |    CASE WHEN (scheme = 'http' AND port = '80')
      |         OR (scheme = 'https' AND port = '443')
      |         OR port = '' THEN '' ELSE ':' || port END AS kept_port,
      |    CASE WHEN query = '' THEN '' ELSE '?' || query END AS kept_query
      |  FROM p2
      |)""".stripMargin
  }

  private[graft] val cooccurCte =
    basketsCte +
      """, exploded AS (
      |  SELECT customer AS bid, unnest(products) AS product,
      |         generate_subscripts(products, 1) AS pos
      |  FROM baskets
      |), currents AS (
      |  SELECT bid, product, pos,
      |         lead(pos) OVER (PARTITION BY bid, product ORDER BY pos) AS next_same
      |  FROM exploded
      |), pairs AS (
      |  SELECT a.product, b.product AS neighbor
      |  FROM currents a JOIN exploded b
      |    ON a.bid = b.bid AND b.pos > a.pos
      |   AND (a.next_same IS NULL OR b.pos < a.next_same)
      |), counts AS (
      |  SELECT product, neighbor, count(*) AS cnt FROM pairs GROUP BY 1, 2
      |)""".stripMargin

  /** [[cooccurCte]] with the maxWindow cap expressed as a position-delta
    * predicate: CoOccurrence.windowPairs scans j in (i, i+cap], so the SQL
    * twin keeps exactly the pairs with b.pos - a.pos <= cap (before the
    * first-repeat termination, which is cap-independent).
    */
  private[graft] def cooccurCappedCte(cap: Int) =
    basketsCte +
      s""", exploded AS (
      |  SELECT customer AS bid, unnest(products) AS product,
      |         generate_subscripts(products, 1) AS pos
      |  FROM baskets
      |), currents AS (
      |  SELECT bid, product, pos,
      |         lead(pos) OVER (PARTITION BY bid, product ORDER BY pos) AS next_same
      |  FROM exploded
      |), pairs AS (
      |  SELECT a.product, b.product AS neighbor
      |  FROM currents a JOIN exploded b
      |    ON a.bid = b.bid AND b.pos > a.pos AND b.pos - a.pos <= $cap
      |   AND (a.next_same IS NULL OR b.pos < a.next_same)
      |), counts AS (
      |  SELECT product, neighbor, count(*) AS cnt FROM pairs GROUP BY 1, 2
      |)""".stripMargin

  /** Unrolled fixed-point PageRank oracle over the co-occurrence graph
    * (mirrors Graph.pageRank: integer e9 ranks, `div` per-edge splits,
    * dangling mass leaks). DuckDB sums BIGINT into HUGEINT and its `//`
    * is floor division — all ranks are non-negative, so CASTs back to
    * BIGINT keep it value- and dtype-identical to Spark's `div` on LONG.
    */
  private[graft] def pageRankSql(iterations: Int, dampingPct: Int = 85,
      scale: Long = 1000000000L, edgesWith: String = null,
      materialize: Boolean = false): String = {
    val base = (100L - dampingPct) * scale / 100L
    // default edge relation: the co-occurrence graph; callers may swap
    // in any WITH-prefix that defines edges(src, dst) — link_rank feeds
    // the crawl link graph through the identical rank recurrence
    val prefix = Option(edgesWith).getOrElse(cooccurCte +
      ", edges AS (SELECT product AS src, neighbor AS dst FROM counts)")
    // long unrolls (pagerank_converged's 40 rounds) MATERIALIZE the
    // shared relations and every round — inlined, DuckDB's binder
    // re-expands the whole upstream chain per round and the plan grows
    // superlinearly; the short unrolls keep their original inlined text
    val m = if (materialize) " MATERIALIZED" else ""
    val head = prefix +
      s""",
      |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
      |wd AS$m (SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d USING (src)),
      |nodes AS$m (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
      |r0 AS (SELECT node, CAST($scale AS BIGINT) AS rank_e9 FROM nodes)""".stripMargin
    val iters = (1 to iterations).map { i =>
      s""",
      |s$i AS (SELECT wd.dst, CAST(sum(rank_e9 // deg) AS BIGINT) AS s
      |  FROM wd JOIN r${i - 1} ON wd.src = r${i - 1}.node GROUP BY wd.dst),
      |r$i AS$m (SELECT node, CAST($base AS BIGINT) +
      |  CAST(($dampingPct * coalesce(s, CAST(0 AS BIGINT))) // 100 AS BIGINT) AS rank_e9
      |  FROM nodes LEFT JOIN s$i ON nodes.node = s$i.dst)""".stripMargin
    }.mkString
    head + iters + s"\nSELECT node, rank_e9 FROM r$iterations ORDER BY node"
  }

  /** Unrolled PERSONALIZED-PageRank oracle (mirrors
    * Graph.personalizedPageRank over the cnt >= 2 co-occurrence graph,
    * khop's round-hundred seed rule): [[pageRankSql]]'s exact integer
    * recurrence with r0 mass and the per-round base term gated on seed
    * membership — both row-local CASEs over the seed-annotated node
    * relation, so the unroll stays bit-exact.
    */
  private[graft] def pprSql(iterations: Int, dampingPct: Int = 85,
      scale: Long = 1000000000L): String = {
    val base = (100L - dampingPct) * scale / 100L
    val head = cooccurCte +
      s""", edges AS (
      |  SELECT product AS src, neighbor AS dst FROM counts WHERE cnt >= 2
      |),
      |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
      |wd AS (SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d USING (src)),
      |nodes0 AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
      |seeds AS (SELECT DISTINCT src AS node FROM edges
      |  WHERE CAST(src AS BIGINT) % 100 = 0),
      |nodes AS (SELECT n.node, (s.node IS NOT NULL) AS is_seed
      |  FROM nodes0 n LEFT JOIN seeds s ON n.node = s.node),
      |r0 AS (SELECT node, is_seed,
      |  CAST(CASE WHEN is_seed THEN $scale ELSE 0 END AS BIGINT) AS rank_e9
      |  FROM nodes)""".stripMargin
    val iters = (1 to iterations).map { i =>
      s""",
      |s$i AS (SELECT wd.dst, CAST(sum(rank_e9 // deg) AS BIGINT) AS s
      |  FROM wd JOIN r${i - 1} ON wd.src = r${i - 1}.node GROUP BY wd.dst),
      |r$i AS (SELECT node, is_seed,
      |  CAST(CASE WHEN is_seed THEN $base ELSE 0 END AS BIGINT) +
      |  CAST(($dampingPct * coalesce(s, CAST(0 AS BIGINT))) // 100 AS BIGINT) AS rank_e9
      |  FROM nodes LEFT JOIN s$i ON nodes.node = s$i.dst)""".stripMargin
    }.mkString
    head + iters + s"\nSELECT node, rank_e9 FROM r$iterations ORDER BY node"
  }

  /** Unrolled HyperANF oracle (mirrors Graph.hyperAnf over the cnt >= 2
    * co-occurrence graph): the singleton register per node from the
    * house md5 idiom (hex bucket + leading-zero-bit rho via
    * leading-'0' strip and a 3-bit CASE), `rounds` max-merge rounds,
    * and per radius the exact integer harmonic denominator and the
    * HUGEINT-floored estimate — every column integer, every row
    * hash-comparable.
    */
  private[graft] def hyperAnfSql(rounds: Int, registers: Int = 16): String =
    hyperAnfCte(rounds, registers) +
      s"""
      |SELECT node, radius, n_regs, s_scaled,
      |  CAST((CAST(${anfAlphaE3(registers)} AS HUGEINT) * 281474976710656) //
      |    (10 * s_scaled) AS BIGINT) AS ball_e2
      |FROM b ORDER BY node, radius""".stripMargin

  /** α·m²·1000 for the two wired register widths (Graph.hyperAnf's
    * constants: 0.673·256·1000 for m=16; floor(0.7213/(1+1.079/256)·
    * 65536·1000) for m=256). */
  private[graft] def anfAlphaE3(registers: Int): Long =
    if (registers == 16) 172288L else 47072712L

  /** `anf_function`: the per-radius aggregate of [[hyperAnfSql]]'s ball
    * relation — the neighborhood function N(r) plus the effective-
    * diameter flag (first radius whose mass reaches 90% of the final
    * radius's, checked in exact integer cross-multiplication).
    */
  private[graft] def anfFunctionSql(rounds: Int, registers: Int = 16): String =
    hyperAnfCte(rounds, registers) +
      s""",
      |est AS (
      |  SELECT radius, node,
      |    CAST((CAST(${anfAlphaE3(registers)} AS HUGEINT) * 281474976710656) //
      |      (10 * s_scaled) AS BIGINT) AS ball_e2
      |  FROM b
      |), nf AS (
      |  SELECT radius, count(*) AS n_nodes,
      |    CAST(sum(ball_e2) AS BIGINT) AS sum_ball_e2
      |  FROM est GROUP BY radius
      |), fin AS (SELECT sum_ball_e2 AS total FROM nf WHERE radius = $rounds)
      |SELECT radius, n_nodes, sum_ball_e2,
      |  (sum_ball_e2 * 10 >= total * 9) AS reached_90pct
      |FROM nf CROSS JOIN fin ORDER BY radius""".stripMargin

  /** `harmonic_centrality`: per node Σ_r Δball_e2/r off the shared
    * ball CTE — the lag window replays the engine's constant-4-row
    * per-node partitions.
    */
  private[graft] def harmonicCentralitySql(rounds: Int): String =
    hyperAnfCte(rounds) +
      """,
      |est AS (
      |  SELECT node, radius,
      |    CAST((CAST(172288 AS HUGEINT) * 281474976710656) //
      |      (10 * s_scaled) AS BIGINT) AS ball_e2
      |  FROM b
      |), d AS (
      |  SELECT node, radius, ball_e2,
      |    lag(ball_e2) OVER (PARTITION BY node ORDER BY radius) AS prev
      |  FROM est)
      |SELECT node, CAST(sum((ball_e2 - prev) // radius) AS BIGINT) AS harmonic_e2
      |FROM d WHERE radius > 0 GROUP BY node ORDER BY node""".stripMargin

  private[graft] def hyperAnfCte(rounds: Int, registers: Int = 16): String = {
    val bucketHex = if (registers == 16) 1 else 2
    val head = cooccurCte +
      s""", edges AS MATERIALIZED (
      |  SELECT product AS src, neighbor AS dst FROM counts WHERE cnt >= 2
      |),
      |anodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
      |g0 AS MATERIALIZED (
      |  SELECT node,
      |    CAST(('0x' || substr(h, 1, $bucketHex)) AS BIGINT) AS j,
      |    CASE WHEN st = '' THEN 41
      |      ELSE (10 - length(st)) * 4 + 1 +
      |        CASE WHEN substr(st, 1, 1) = '1' THEN 3
      |          WHEN substr(st, 1, 1) IN ('2', '3') THEN 2
      |          WHEN substr(st, 1, 1) IN ('4', '5', '6', '7') THEN 1
      |          ELSE 0 END
      |    END AS m
      |  FROM (SELECT node, h, ltrim(substr(h, ${1 + bucketHex}, 10), '0') AS st
      |    FROM (SELECT node, md5(concat_ws('|', 'anf', node)) AS h
      |      FROM anodes))
      |)""".stripMargin
    val iters = (1 to rounds).map { r =>
      s""",
      |g$r AS MATERIALIZED (
      |  SELECT x.node, x.j, max(x.m) AS m FROM (
      |    SELECT e.src AS node, p.j, p.m
      |    FROM edges e JOIN g${r - 1} p ON p.node = e.dst
      |    UNION ALL SELECT node, j, m FROM g${r - 1}) x
      |  GROUP BY 1, 2)""".stripMargin
    }.mkString
    val balls = (0 to rounds).map { r =>
      s"""SELECT node, CAST($r AS INTEGER) AS radius, count(*) AS n_regs,
      |    CAST(($registers - count(*)) * (CAST(1 AS BIGINT) << 48) +
      |      sum(CAST(1 AS BIGINT) << (48 - m)) AS BIGINT) AS s_scaled
      |  FROM g$r GROUP BY node""".stripMargin
    }.mkString("\n  UNION ALL ")
    head + iters +
      s""",
      |b AS (
      |  $balls
      |)""".stripMargin
  }

  /** Shared walk unroll for `random_walks` / `walk_skipgram` (mirrors
    * Graft.randomWalks over the cnt >= 2 co-occurrence graph, khop's
    * seed rule, 2 reps × 4 steps): per step, each walker's next node is
    * the neighbor minimizing md5(salt|seed|rep|step|dst) — the engine's
    * min(struct(h, dst)) argmin is exactly QUALIFY row_number() ORDER BY
    * (h, dst) = 1. Ends with `walks AS (seed, rep, step, node)`.
    */
  private[graft] def walkCte(steps: Int, reps: Int, salt: String = "walk"): String = {
    val repVals = (0 until reps).map(r => s"($r)").mkString(", ")
    val head = cooccurCte +
      s""", edges AS (
      |  SELECT product AS src, neighbor AS dst FROM counts WHERE cnt >= 2
      |),
      |seeds AS (SELECT DISTINCT src AS node FROM edges
      |  WHERE CAST(src AS BIGINT) % 100 = 0),
      |w0 AS (SELECT s.node AS seed, r.rep, s.node AS cur
      |  FROM seeds s CROSS JOIN (VALUES $repVals) AS r(rep))""".stripMargin
    val iters = (1 to steps).map { i =>
      s""",
      |c$i AS (SELECT w.seed, w.rep, e.dst,
      |  md5(concat_ws('|', '$salt', w.seed, CAST(w.rep AS VARCHAR),
      |    '$i', e.dst)) AS h
      |  FROM w${i - 1} w JOIN edges e ON w.cur = e.src),
      |w$i AS (SELECT seed, rep, dst AS cur FROM c$i
      |  QUALIFY row_number() OVER (PARTITION BY seed, rep ORDER BY h, dst) = 1)""".stripMargin
    }.mkString
    val union = (0 to steps).map { i =>
      s"SELECT seed, rep, $i AS step, cur AS node FROM w$i"
    }.mkString("\n  UNION ALL ")
    head + iters + s",\nwalks AS (\n  $union\n)"
  }

  /** Unrolled node2vec-walk oracle (mirrors Graph.node2vecWalks over
    * the cnt >= 2 graph, khop's seeds, 2 reps × 4 steps): per step the
    * candidate weight is the return/common/outward CASE off the
    * previous node (NULL prev at step 1 fails both tests → uniform 2),
    * draws come from a 4-row VALUES table filtered t < wt, and the
    * engine's min(struct(h, dst)) is QUALIFY row_number ORDER BY
    * (h, dst) = 1.
    */
  private[graft] def node2vecSql(steps: Int, reps: Int,
      salt: String = "n2v"): String = {
    val repVals = (0 until reps).map(r => s"($r)").mkString(", ")
    val head = cooccurCte +
      s""", edges AS MATERIALIZED (
      |  SELECT DISTINCT product AS src, neighbor AS dst
      |  FROM counts WHERE cnt >= 2
      |),
      |seeds AS (SELECT DISTINCT src AS node FROM edges
      |  WHERE CAST(src AS BIGINT) % 100 = 0),
      |tt(t) AS (VALUES (0), (1), (2), (3)),
      |v0 AS (SELECT s.node AS seed, r.rep,
      |    CAST(NULL AS VARCHAR) AS prev, s.node AS cur
      |  FROM seeds s CROSS JOIN (VALUES $repVals) AS r(rep))""".stripMargin
    val iters = (1 to steps).map { i =>
      s""",
      |vc$i AS (
      |  SELECT w.seed, w.rep, w.cur, e.dst,
      |    CASE WHEN e.dst = w.prev THEN 1
      |      WHEN a.src IS NOT NULL THEN 4 ELSE 2 END AS wt
      |  FROM v${i - 1} w
      |  JOIN edges e ON w.cur = e.src
      |  LEFT JOIN edges a ON a.src = w.prev AND a.dst = e.dst),
      |v$i AS (
      |  SELECT seed, rep, cur AS prev, dst AS cur FROM (
      |    SELECT c.seed, c.rep, c.cur, c.dst,
      |      md5(concat_ws('|', '$salt', c.seed, CAST(c.rep AS VARCHAR),
      |        '$i', c.dst, CAST(tt.t AS VARCHAR))) AS h
      |    FROM vc$i c JOIN tt ON tt.t < c.wt)
      |  QUALIFY row_number() OVER (PARTITION BY seed, rep ORDER BY h, dst) = 1)""".stripMargin
    }.mkString
    val union = (0 to steps).map { i =>
      s"SELECT seed, rep, $i AS step, cur AS node FROM v$i"
    }.mkString("\n  UNION ALL ")
    head + iters +
      s"\nSELECT seed, rep, step, node FROM (\n  $union\n)" +
      "\nORDER BY seed, rep, step"
  }

  /** Unrolled synchronous label-propagation oracle (mirrors
    * Graph.labelPropagation over the cnt >= 2 co-occurrence graph):
    * each round's QUALIFY argmax (ORDER BY c DESC, lbl) is exactly the
    * engine's min(struct(-cnt, lbl)) — max neighbor-label count, ties to
    * the smallest label. `adj` is MATERIALIZED: every round re-reads it,
    * and inlined it would re-expand the whole basket derivation per round.
    */
  private[graft] def lpaSql(iterations: Int): String = {
    val head = cooccurCte +
      """, und AS (
      |  SELECT DISTINCT least(product, neighbor) AS u,
      |    greatest(product, neighbor) AS v
      |  FROM counts WHERE product <> neighbor AND cnt >= 2
      |), adj AS MATERIALIZED (
      |  SELECT u AS node, v AS nbr FROM und
      |  UNION ALL SELECT v, u FROM und
      |), l0 AS (SELECT DISTINCT node, node AS lbl FROM adj)""".stripMargin
    val iters = (1 to iterations).map { i =>
      s""",
      |c$i AS (SELECT a.node, l.lbl, count(*) AS c
      |  FROM adj a JOIN l${i - 1} l ON a.nbr = l.node GROUP BY 1, 2),
      |l$i AS MATERIALIZED (SELECT node, lbl FROM c$i
      |  QUALIFY row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl) = 1)""".stripMargin
    }.mkString
    head + iters +
      s"\nSELECT node, lbl AS community FROM l$iterations ORDER BY node"
  }

  /** Oracle for the CONVERGENCE-TERMINATED monotone LPA
    * (Graph.lpaConverged): the same per-round argmax as [[lpaSql]],
    * clamped by `least(current, candidate)`. The engine loops until no
    * label changes; the oracle replays it as a FIXED unroll — the
    * monotone update makes post-convergence rounds no-ops, so ANY
    * unroll count at or above the engine's convergence round yields
    * the identical labeling. `unrollRounds` must therefore stay >= the
    * fixture's convergence round (engine asserts convergence within
    * its own maxRounds=50; PipelineSpec pins the sf0.01 convergence
    * round well under the unroll).
    */
  private[graft] def lpaConvergedCte(unrollRounds: Int): String = {
    val head = cooccurCte +
      """, und AS (
      |  SELECT DISTINCT least(product, neighbor) AS u,
      |    greatest(product, neighbor) AS v
      |  FROM counts WHERE product <> neighbor AND cnt >= 2
      |), adj AS MATERIALIZED (
      |  SELECT u AS node, v AS nbr FROM und
      |  UNION ALL SELECT v, u FROM und
      |), l0 AS (SELECT DISTINCT node, node AS lbl FROM adj)""".stripMargin
    val iters = (1 to unrollRounds).map { i =>
      s""",
      |c$i AS (SELECT a.node, l.lbl, count(*) AS c
      |  FROM adj a JOIN l${i - 1} l ON a.nbr = l.node GROUP BY 1, 2),
      |m$i AS (SELECT node, lbl AS cand FROM c$i
      |  QUALIFY row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl) = 1),
      |l$i AS MATERIALIZED (SELECT l.node, least(l.lbl, m.cand) AS lbl
      |  FROM l${i - 1} l JOIN m$i m ON l.node = m.node)""".stripMargin
    }.mkString
    head + iters +
      s",\nlabels AS (SELECT node, lbl AS community FROM l$unrollRounds)"
  }

  /** `modularity_lpa`: Newman modularity of the converged LPA
    * communities over the same undirected significant graph, in EXACT
    * integer arithmetic — per community c the numerator
    * q_num = 4·m·e_c − d_c² (HUGEINT/DECIMAL(38,0) multiply, BIGINT
    * result), where Q = Σ_c q_num / (4m²). The `und`/`labels` CTEs come
    * from [[lpaConvergedCte]] verbatim, so the community definition
    * cannot drift between the two queries.
    */
  private[graft] def modularityLpaSql(unrollRounds: Int): String =
    lpaConvergedCte(unrollRounds) +
      """,
      |mm AS (SELECT count(*) AS m FROM und),
      |ec AS (
      |  SELECT lu.community, count(*) AS e_in
      |  FROM und
      |  JOIN labels lu ON und.u = lu.node
      |  JOIN labels lv ON und.v = lv.node
      |  WHERE lu.community = lv.community
      |  GROUP BY 1
      |), dc AS (
      |  SELECT l.community, count(*) AS d_tot FROM (
      |    SELECT u AS node FROM und UNION ALL SELECT v FROM und) x
      |  JOIN labels l ON x.node = l.node GROUP BY 1
      |), nn AS (
      |  SELECT community, count(*) AS n_nodes FROM labels GROUP BY 1)
      |SELECT nn.community, nn.n_nodes,
      |  CAST(coalesce(ec.e_in, 0) AS BIGINT) AS e_in,
      |  CAST(dc.d_tot AS BIGINT) AS d_tot,
      |  CAST(CAST(4 AS HUGEINT) * mm.m * coalesce(ec.e_in, 0) -
      |    CAST(dc.d_tot AS HUGEINT) * dc.d_tot AS BIGINT) AS q_num
      |FROM nn
      |JOIN dc ON nn.community = dc.community
      |LEFT JOIN ec ON nn.community = ec.community
      |CROSS JOIN mm
      |ORDER BY nn.community""".stripMargin

  /** Oracle for kcore_decompose (Graph.kcoreDecompose): a fixed unroll
    * of the synchronous peel — each round keeps exactly the nodes with
    * >= k surviving neighbors. Post-convergence rounds are no-ops
    * (dropping nobody leaves every degree unchanged), so any unroll at
    * or above the engine's convergence round is the identical core;
    * PipelineSpec pins sf0.01 convergence within the unroll (the
    * lpaConvergedCte contract).
    */
  private[graft] def kcoreSql(k: Int, unrollRounds: Int): String = {
    val head = cooccurCte +
      """, und AS (
      |  SELECT DISTINCT least(product, neighbor) AS u,
      |    greatest(product, neighbor) AS v
      |  FROM counts WHERE product <> neighbor AND cnt >= 2
      |), adj AS MATERIALIZED (
      |  SELECT u AS node, v AS nbr FROM und
      |  UNION ALL SELECT v, u FROM und
      |), n0 AS (SELECT DISTINCT node FROM adj)""".stripMargin
    val iters = (1 to unrollRounds).map { i =>
      s""",
      |n$i AS MATERIALIZED (
      |  SELECT a.node FROM adj a
      |  JOIN n${i - 1} s ON a.node = s.node
      |  JOIN n${i - 1} t ON a.nbr = t.node
      |  GROUP BY a.node HAVING count(*) >= $k)""".stripMargin
    }.mkString
    head + iters +
      s"""
      |SELECT a.node, count(*) AS core_deg FROM adj a
      |JOIN n$unrollRounds s ON a.node = s.node
      |JOIN n$unrollRounds t ON a.nbr = t.node
      |GROUP BY a.node ORDER BY a.node""".stripMargin
  }

  /** Oracle for ktruss_edges (Graph.ktrussDecompose): a fixed unroll of
    * the synchronous edge peel — each round enumerates triangles over
    * the surviving canonical edge set in the ID-ORDERED a<b<c form (the
    * triangle_count parity argument: different join order, identical
    * triangle set as the engine's degree-oriented wedges), explodes
    * them into per-edge support, and keeps edges with >= k-2. As with
    * kcoreSql, post-convergence rounds are no-ops, so any unroll at or
    * above the engine's convergence round is the identical truss.
    */
  private[graft] def ktrussSql(k: Int, unrollRounds: Int): String = {
    val head = cooccurCte +
      """, e0 AS MATERIALIZED (
      |  SELECT DISTINCT least(product, neighbor) AS u,
      |    greatest(product, neighbor) AS v
      |  FROM counts WHERE product <> neighbor AND cnt >= 2)""".stripMargin
    def triSup(i: Int) = s""",
      |tri$i AS MATERIALIZED (
      |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
      |  FROM e$i e1 JOIN e$i e2 ON e2.u = e1.v
      |  JOIN e$i e3 ON e3.u = e1.u AND e3.v = e2.v
      |), sup$i AS MATERIALIZED (
      |  SELECT x.u, x.v, count(*) AS sup FROM (
      |    SELECT t.a AS u, t.b AS v FROM tri$i t
      |    UNION ALL SELECT t.a, t.c FROM tri$i t
      |    UNION ALL SELECT t.b, t.c FROM tri$i t) x
      |  GROUP BY 1, 2)""".stripMargin
    val iters = (1 to unrollRounds).map { i =>
      triSup(i - 1) + s""",
      |e$i AS MATERIALIZED (
      |  SELECT e.u, e.v FROM e${i - 1} e
      |  LEFT JOIN sup${i - 1} s ON s.u = e.u AND s.v = e.v
      |  WHERE coalesce(s.sup, 0) >= ${k - 2})""".stripMargin
    }.mkString
    head + iters + triSup(unrollRounds) + s"""
      |SELECT e.u, e.v, CAST(s.sup AS BIGINT) AS support
      |FROM e$unrollRounds e
      |JOIN sup$unrollRounds s ON s.u = e.u AND s.v = e.v
      |ORDER BY e.u, e.v""".stripMargin
  }

  /** Chained-replace BPE encode (mirrors TextAnalysis.bpeEncode): each
    * word becomes ` c1  c2 ... cn ` — single-space borders, double-space
    * separators — the representation in which ONE SQL replace of
    * `' a  b '` by `' ab '` is exactly one left-to-right greedy merge
    * pass (the consumed trailing space regenerates as the replacement's
    * trailing space, so chains like `aaaa` → `aa aa` fall out of plain
    * scan-order replacement). Merges fold in rank order — the same
    * sequential semantics the engine's token-array loop implements.
    */
  private[graft] val bpeEncodedExpr: String =
    graft.operators.TextAnalysis.DefaultMerges
      .foldLeft("regexp_replace(w, '(?s)(.)', ' \\1 ', 'g')") {
        case (acc, (a, b)) => s"replace($acc, ' $a  $b ', ' ${a + b} ')"
      }

  /** Rounds the bpe_train / pipeline_tokenizer oracles unroll — must
    * equal TextAnalysis.bpeTrain's default merges.
    */
  private[graft] val BpeOracleRounds = 64

  /** Rounds the vocabulary-scale twin unrolls: the largest chain
    * DuckDB's binder accepts is ~300 dependent CTE rounds (max
    * expression depth 1000, ~3 per round), so the exact-parity leg runs
    * at 256 and the 1024-merge leg (`bpe_train_1k`) verifies
    * structurally.
    */
  private[graft] val BpeVocabRounds = 256

  /** The unrolled BPE-training CTE chain: word-type relation → `rounds`
    * rounds of (pair-count p_i, argmax b_i, greedy-merge e_{i+1}) over
    * the space-encoded form. Shared by bpe_train (emits the b_i rules)
    * and pipeline_tokenizer (applies e_rounds back to the documents).
    *
    * `wordCte` names the word-type head CTE — parameterized at the
    * definition site (r13 advice) so a composing oracle whose WITH list
    * already binds `w` (pipeline_dsir_pack's DSIR weights) renames it
    * here instead of post-hoc string surgery that would silently
    * mis-bind if this chain ever referenced `w` in another form.
    */
  private[graft] def bpeTrainOracleChain(rounds: Int,
      wordCte: String = "w"): String = {
    // every chain CTE is MATERIALIZED: e_i is referenced twice per round
    // (pair count + next merge) — inlined, the chain re-expands
    // exponentially and re-opens the parquet scan per expansion
    def round(i: Int) = s""",
      |p$i AS MATERIALIZED (
      |  SELECT syms[i] AS a, syms[i + 1] AS b, sum(freq) AS cnt FROM (
      |    SELECT freq, syms, unnest(generate_series(1, len(syms) - 1)) AS i FROM
      |      (SELECT freq, string_split(trim(enc), '  ') AS syms FROM e$i))
      |  GROUP BY 1, 2),
      |b$i AS MATERIALIZED (SELECT a, b, cnt FROM p$i ORDER BY cnt DESC, a, b LIMIT 1),
      |e${i + 1} AS MATERIALIZED (SELECT word, freq,
      |  replace(enc, ' ' || (SELECT a FROM b$i) || '  ' || (SELECT b FROM b$i) || ' ',
      |               ' ' || (SELECT a FROM b$i) || (SELECT b FROM b$i) || ' ') AS enc
      |  FROM e$i)""".stripMargin
    s"""WITH $wordCte AS MATERIALIZED (
      |  SELECT token AS word, count(*) AS freq FROM (
      |    SELECT unnest(regexp_extract_all(text, '[a-z0-9]+')) AS token FROM documents)
      |  GROUP BY token),
      |e0 AS MATERIALIZED (SELECT word, freq,
      |  regexp_replace(word, '(?s)(.)', ' \\1 ', 'g') AS enc FROM $wordCte)""".stripMargin +
      (0 until rounds).map(round).mkString
  }

  /** The partkey word-type head (shared by both vocabulary-scale BPE
    * oracles): each lineitem row contributes its partkey string as one
    * word occurrence — the exact relation the engine trains on.
    */
  private[graft] val bpeVocabWordsCte =
    // NOT s-interpolated, so \1 below is already the literal backslash-1
    // the DuckDB replacement needs (the s"" interpolator would require \\1)
    """WITH w AS MATERIALIZED (
      |  SELECT CAST(l_partkey AS VARCHAR) AS word, count(*) AS freq
      |  FROM lineitem GROUP BY 1),
      |e0 AS MATERIALIZED (SELECT word, freq,
      |  regexp_replace(word, '(?s)(.)', ' \1 ', 'g') AS enc FROM w)""".stripMargin

  /** [[bpeTrainOracleChain]] over the partkey vocabulary with the final
    * rule union BATCHED through intermediate CTEs (64 per batch): a flat
    * 256-way UNION ALL parses as a left-deep tree and trips DuckDB's
    * max-expression-depth on its own, independent of the CTE chain.
    */
  private[graft] def bpeVocabOracleSql(rounds: Int): String = {
    def round(i: Int) = s""",
      |p$i AS MATERIALIZED (
      |  SELECT syms[i] AS a, syms[i + 1] AS b, sum(freq) AS cnt FROM (
      |    SELECT freq, syms, unnest(generate_series(1, len(syms) - 1)) AS i FROM
      |      (SELECT freq, string_split(trim(enc), '  ') AS syms FROM e$i))
      |  GROUP BY 1, 2),
      |b$i AS MATERIALIZED (SELECT a, b, cnt FROM p$i ORDER BY cnt DESC, a, b LIMIT 1),
      |e${i + 1} AS MATERIALIZED (SELECT word, freq,
      |  replace(enc, ' ' || (SELECT a FROM b$i) || '  ' || (SELECT b FROM b$i) || ' ',
      |               ' ' || (SELECT a FROM b$i) || (SELECT b FROM b$i) || ' ') AS enc
      |  FROM e$i)""".stripMargin
    val batchSize = 64
    val starts = 0 until rounds by batchSize
    val batches = starts.map { s =>
      val u = (s until math.min(s + batchSize, rounds)).map { i =>
        s"SELECT CAST(${i + 1} AS INT) AS round, a AS sym_a, b AS sym_b, " +
          s"CAST(cnt AS BIGINT) AS cnt FROM b$i"
      }.mkString(" UNION ALL ")
      s",\nu${s / batchSize} AS MATERIALIZED ($u)"
    }.mkString
    val finalSel = starts.indices
      .map(j => s"SELECT * FROM u$j").mkString(" UNION ALL ")
    bpeVocabWordsCte + (0 until rounds).map(round).mkString + batches +
      s"\nSELECT * FROM ($finalSel) ORDER BY round"
  }

  /** The unrolled unigram-LM hard-EM oracle (Kudo 2018; engine twin
    * [[operators.TextAnalysis.unigramTrain]]): seed-substring vocab →
    * per round, a `maxWordLen`-level Viterbi DP chain (dp level i =
    * best-scoring segmentation of each word's length-i prefix, argmax
    * by `ORDER BY sc DESC, seg` — exactly the engine's tie-break) →
    * usage counts → re-scored pieces. Every dp level is MATERIALIZED:
    * levels are referenced by up to `maxPieceLen` successors, and
    * inlined they would re-expand exponentially (the
    * [[bpeTrainOracleChain]] lesson).
    */
  private[graft] def unigramOracleSql(vocabSize: Int = 256, rounds: Int = 2,
      maxPieceLen: Int = 4, maxWordLen: Int = 16,
      fertility: Boolean = false, surprisal: Boolean = false): String = {
    def dpChain(r: Int, scoreCte: String,
        withScores: Boolean = true): String = {
      val sb = new StringBuilder
      sb.append(s""",
        |d${r}_0 AS (SELECT word, freq, CAST(0 AS BIGINT) AS sc, '' AS seg
        |  FROM words)""".stripMargin)
      for (i <- 1 to maxWordLen) {
        val branches = (math.max(0, i - maxPieceLen) until i).map { j =>
          s"""      SELECT d.word, d.freq, d.sc + w.s_e6 AS sc,
             |        CASE WHEN d.seg = '' THEN substr(d.word, ${j + 1}, ${i - j})
             |          ELSE d.seg || ' ' || substr(d.word, ${j + 1}, ${i - j}) END AS seg
             |      FROM d${r}_$j d JOIN $scoreCte w
             |        ON w.piece = substr(d.word, ${j + 1}, ${i - j})
             |      WHERE length(d.word) >= $i""".stripMargin
        }.mkString("\n      UNION ALL\n")
        sb.append(s""",
          |d${r}_$i AS MATERIALIZED (
          |  SELECT word, freq, sc, seg FROM (
          |    SELECT *, row_number() OVER (PARTITION BY word
          |      ORDER BY sc DESC, seg) AS rn
          |    FROM (
          |$branches
          |    )
          |  ) WHERE rn = 1)""".stripMargin)
      }
      sb.append(s""",
        |seg$r AS MATERIALIZED (
        |""".stripMargin +
        (1 to maxWordLen).map(i =>
          s"  SELECT word, freq, seg FROM d${r}_$i WHERE length(word) = $i")
          .mkString("\n  UNION ALL\n") + (if (withScores) ")," else ")"))
      if (withScores) sb.append(s"""
        |usage$r AS MATERIALIZED (
        |  SELECT piece, CAST(sum(freq) AS BIGINT) AS usage FROM (
        |    SELECT freq, unnest(string_split(seg, ' ')) AS piece FROM seg$r)
        |  GROUP BY piece),
        |t$r AS (SELECT CAST(sum(usage) AS BIGINT) AS tot FROM usage$r),
        |w$r AS MATERIALIZED (
        |  SELECT piece, CAST(floor(ln(CAST(usage AS DOUBLE)
        |    / CAST(tot AS DOUBLE)) * 1000000.0) AS BIGINT) AS s_e6
        |  FROM usage$r CROSS JOIN t$r)""".stripMargin)
      sb.toString
    }
    val head = s"""WITH words AS MATERIALIZED (
      |  SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
      |    SELECT unnest(regexp_extract_all(text, '[a-z0-9]+')) AS word
      |    FROM documents)
      |  WHERE length(word) <= $maxWordLen GROUP BY word),
      |seeds AS MATERIALIZED (
      |  SELECT substr(word, i, l) AS piece, CAST(sum(freq) AS BIGINT) AS cnt
      |  FROM (
      |    SELECT word, freq, i, l FROM
      |      (SELECT word, freq, unnest(range(1, length(word) + 1)) AS i
      |       FROM words)
      |      CROSS JOIN (SELECT unnest(range(1, ${maxPieceLen + 1})) AS l)
      |    WHERE i + l - 1 <= length(word))
      |  GROUP BY 1),
      |chars AS MATERIALIZED (
      |  SELECT piece, cnt FROM seeds WHERE length(piece) = 1),
      |multi AS (SELECT piece, cnt FROM (
      |    SELECT piece, cnt, row_number() OVER (ORDER BY cnt DESC, piece) AS r
      |    FROM seeds WHERE length(piece) >= 2)
      |  WHERE r <= $vocabSize - (SELECT count(*) FROM chars)),
      |v0 AS (SELECT * FROM chars UNION ALL SELECT * FROM multi),
      |t0 AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM v0),
      |w0 AS MATERIALIZED (
      |  SELECT piece, CAST(floor(ln(CAST(cnt AS DOUBLE)
      |    / CAST(tot AS DOUBLE)) * 1000000.0) AS BIGINT) AS s_e6
      |  FROM v0 CROSS JOIN t0)""".stripMargin
    val chains = (1 to rounds)
      .map(r => dpChain(r, s"w${r - 1}")).mkString
    if (surprisal) {
      // `unigram_perplexity`: the application chain's best-segmentation
      // score per word (= Σ learned piece scores of the argmax seg —
      // identical to the dp's sc by construction), negated and summed
      // per document; per-word normalization floors with `//` on
      // non-negative operands (scores are e6 log-probs, so −Σ ≥ 0).
      val app = dpChain(rounds + 1, s"w$rounds", withScores = false)
      head + chains + app + s""",
        |wpp AS (
        |  SELECT word, unnest(string_split(seg, ' ')) AS piece
        |  FROM seg${rounds + 1}),
        |wsc AS MATERIALIZED (
        |  SELECT wpp.word, CAST(sum(w.s_e6) AS BIGINT) AS seg_score_e6
        |  FROM wpp JOIN w$rounds w ON w.piece = wpp.piece
        |  GROUP BY wpp.word),
        |docw AS (
        |  SELECT doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+'))
        |    AS word
        |  FROM documents),
        |dagg AS (
        |  SELECT doc_id,
        |    count(*) AS n_words,
        |    CAST(sum(CASE WHEN s.seg_score_e6 IS NOT NULL THEN 1 ELSE 0
        |      END) AS BIGINT) AS n_covered,
        |    CAST(coalesce(sum(-s.seg_score_e6), 0) AS BIGINT) AS nll_e6
        |  FROM docw LEFT JOIN wsc s USING (word)
        |  GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(coalesce(a.n_words, 0) AS BIGINT) AS n_words,
        |  CAST(coalesce(a.n_covered, 0) AS BIGINT) AS n_covered,
        |  CAST(coalesce(a.nll_e6, 0) AS BIGINT) AS nll_e6,
        |  CAST(CASE WHEN coalesce(a.n_covered, 0) > 0
        |    THEN a.nll_e6 // a.n_covered END AS BIGINT) AS nll_per_word_e6
        |FROM documents d LEFT JOIN dagg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin
    } else if (!fertility)
      head + chains + s"""
        |SELECT u.piece, u.usage, w.s_e6 AS score_e6
        |FROM usage$rounds u JOIN w$rounds w USING (piece)
        |ORDER BY piece""".stripMargin
    else {
      // one more Viterbi chain under the LEARNED scores (no re-score),
      // then per-document budgets over the word occurrences; words the
      // pruned vocab cannot segment (or >maxWordLen chars) are
      // uncovered — they never reach seg${rounds + 1}
      val app = dpChain(rounds + 1, s"w$rounds", withScores = false)
      head + chains + app + s""",
        |pp AS MATERIALIZED (
        |  SELECT word, CAST(len(string_split(seg, ' ')) AS BIGINT)
        |    AS n_pieces
        |  FROM seg${rounds + 1}),
        |docw AS (
        |  SELECT doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+'))
        |    AS word
        |  FROM documents),
        |dagg AS (
        |  SELECT doc_id,
        |    count(*) AS n_words,
        |    CAST(sum(CASE WHEN pp.n_pieces IS NOT NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_covered,
        |    CAST(coalesce(sum(pp.n_pieces), 0) AS BIGINT) AS n_pieces,
        |    CAST(coalesce(sum(CASE WHEN pp.n_pieces IS NOT NULL
        |      THEN length(docw.word) END), 0) AS BIGINT) AS n_chars_covered
        |  FROM docw LEFT JOIN pp USING (word)
        |  GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(coalesce(a.n_words, 0) AS BIGINT) AS n_words,
        |  CAST(coalesce(a.n_covered, 0) AS BIGINT) AS n_covered,
        |  CAST(coalesce(a.n_pieces, 0) AS BIGINT) AS n_pieces,
        |  CAST(coalesce(a.n_chars_covered, 0) AS BIGINT) AS n_chars_covered
        |FROM documents d LEFT JOIN dagg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin
    }
  }

  /** Distinct token-trigram shingles per document (mirrors Dedup.shingles). */
  /** Per-document bigram-LM scores (shared by bigram_logprob and
    * perplexity_buckets): add-one-smoothed conditional surprisal, e6
    * integer contract.
    */
  /** DSIR per-doc log-importance scores (`doc_scores`): hashed
    * unigram+bigram features, ONE conditional aggregate for both the
    * target (lang='en') and raw bucket counts, add-one smoothing over
    * the 256-bucket space, per-bucket log ratio floored to an e6
    * integer model-side so document scores are exact integer sums.
    */
  private[graft] val dsirWeightsCte =
    """WITH arrs AS (
      |  SELECT doc_id, lang = 'en' AS is_target, string_split(text, ' ') AS arr
      |  FROM documents
      |), uni AS (
      |  SELECT doc_id, is_target, unnest(arr) AS feat FROM arrs
      |), bi AS (
      |  SELECT doc_id, is_target, arr[i - 1] || ' ' || arr[i] AS feat
      |  FROM (SELECT doc_id, is_target, arr, unnest(range(2, len(arr) + 1)) AS i
      |        FROM arrs)
      |), feats AS (
      |  SELECT * FROM uni UNION ALL SELECT * FROM bi
      |), counts AS (
      |  SELECT substr(md5(feat), 1, 2) AS bkt, count(*) AS rc,
      |    sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS tc
      |  FROM feats GROUP BY 1
      |), tot AS (
      |  SELECT CAST(sum(rc) AS BIGINT) AS rt, CAST(sum(tc) AS BIGINT) AS tt
      |  FROM counts
      |), w AS (
      |  SELECT bkt,
      |    CAST(floor((ln(CAST(tc + 1 AS DOUBLE) / CAST(tt + 256 AS DOUBLE))
      |              - ln(CAST(rc + 1 AS DOUBLE) / CAST(rt + 256 AS DOUBLE)))
      |      * 1000000.0) AS BIGINT) AS w_e6
      |  FROM counts CROSS JOIN tot
      |), doc_scores AS (
      |  SELECT f.doc_id, bool_or(f.is_target) AS is_target,
      |    count(*) AS n_feats, CAST(sum(w.w_e6) AS BIGINT) AS score_e6
      |  FROM feats f JOIN w ON substr(md5(f.feat), 1, 2) = w.bkt
      |  GROUP BY f.doc_id)
      |""".stripMargin

  private[graft] val bigramDocScoresCte =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |), bg AS (
      |  SELECT doc_id, t[i - 1] AS w1, t[i] AS w2
      |  FROM (SELECT doc_id, t, unnest(range(2, len(t) + 1)) AS i FROM toks)
      |), model AS (
      |  SELECT w1, w2, count(*) AS cnt FROM bg GROUP BY w1, w2
      |), ctx AS (
      |  SELECT w1, CAST(sum(cnt) AS BIGINT) AS ctx_cnt FROM model GROUP BY w1
      |), voc AS (
      |  SELECT count(DISTINCT tok) AS v FROM (
      |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      |), scored AS (
      |  SELECT m.w1, m.w2,
      |    CAST(floor(-ln((CAST(m.cnt AS DOUBLE) + 1.0)
      |        / (CAST(c.ctx_cnt AS DOUBLE) + CAST(voc.v AS DOUBLE)))
      |      * 1000000.0) AS BIGINT) AS s_e6
      |  FROM model m JOIN ctx c USING (w1) CROSS JOIN voc
      |), doc_scores AS (
      |  SELECT doc_id, count(*) AS n_bigrams,
      |    CAST(sum(s_e6) AS BIGINT) AS surprisal_e6,
      |    CAST(CAST(sum(s_e6) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE)
      |      AS avg_surprisal_e6
      |  FROM bg JOIN scored USING (w1, w2)
      |  GROUP BY doc_id
      |)
      |""".stripMargin

  private[graft] val shinglesCte =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |), sh AS (
      |  SELECT DISTINCT doc_id,
      |         unnest(list_transform(range(1, len(t) - 1),
      |           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
      |  FROM toks
      |)""".stripMargin

  private[graft] lazy val phraseSearchSql: String =
    """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS arr FROM documents
        |), p AS (
        |  SELECT doc_id, arr[i] AS token, CAST(i - 1 AS BIGINT) AS pos
        |  FROM (SELECT doc_id, arr, unnest(range(1, len(arr) + 1)) AS i FROM t)
        |), a AS (
        |  SELECT doc_id, list(pos ORDER BY pos) AS pa FROM p
        |  WHERE token = 'table' GROUP BY doc_id
        |), b AS (
        |  SELECT doc_id, list(pos ORDER BY pos) AS pb FROM p
        |  WHERE token = 'hash' GROUP BY doc_id
        |), hits AS (
        |  SELECT a.doc_id,
        |    CAST(len(list_intersect(list_transform(pa, x -> x + 1), pb)) AS BIGINT) AS n_hits
        |  FROM a JOIN b USING (doc_id))
        |SELECT doc_id, n_hits FROM hits WHERE n_hits > 0
        |ORDER BY doc_id""".stripMargin

  private[graft] lazy val ngramCoverageSql: String =
    shinglesCte +
      """, owner AS (
      |  SELECT shingle, min(doc_id) AS owner FROM sh GROUP BY shingle
      |), per AS (
      |  SELECT s.doc_id, count(*) AS n_shingles,
      |    CAST(sum(CASE WHEN o.owner = s.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
      |  FROM sh s JOIN owner o USING (shingle) GROUP BY s.doc_id)
      |SELECT doc_id, n_shingles, n_novel,
      |  CAST(sum(n_novel) OVER (ORDER BY doc_id) AS BIGINT) AS cum_novel
      |FROM per ORDER BY doc_id""".stripMargin

  /** Positional 8-gram span CTE (substring-dedup family) — every window of
    * 8 consecutive whitespace tokens, occurrences kept (no DISTINCT:
    * unlike shingle sets, substring dedup counts every occurrence).
    */
  private[graft] val spansCte =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
      |), g AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, len(t) - 6),
      |      i -> array_to_string(t[i:i+7], ' '))) AS gram
      |  FROM toks
      |)
      |""".stripMargin

  /** Contamination oracle, shared by the broadcast-join and Bloom-filter
    * engine paths (both produce the identical exact result).
    */
  private[graft] val contaminationSql =
    shinglesCte +
      s""", bench AS (SELECT DISTINCT shingle FROM sh
      |  WHERE doc_id % 97 = 0 AND doc_id <= ${TextAnalysis.MaxBenchmarkDocId}),
      |totals AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id),
      |hits AS (
      |  SELECT s.doc_id, count(*) AS n_contaminated
      |  FROM sh s JOIN bench USING (shingle) GROUP BY s.doc_id)
      |SELECT t.doc_id, t.n_shingles,
      |  CAST(coalesce(h.n_contaminated, 0) AS BIGINT) AS n_contaminated,
      |  CAST(coalesce(h.n_contaminated, 0) AS DOUBLE) / CAST(t.n_shingles AS DOUBLE) AS contamination,
      |  t.doc_id % 97 = 0 AND t.doc_id <= ${TextAnalysis.MaxBenchmarkDocId} AS is_benchmark
      |FROM totals t LEFT JOIN hits h ON t.doc_id = h.doc_id
      |ORDER BY t.doc_id""".stripMargin

  /** Generated SQL for the 64-bit SimHash fingerprint (mirrors
    * Dedup.simhash's ascii-decoded md5 nibble bits exactly).
    */
  /** Oracle twin of `Multimodal.phashFingerprints`: the engine's hash
    * reads PNG-decoded raster samples, but PNG grayscale is lossless, so
    * the decoded pixel IS the synthesized byte — replayed here as
    * positional text bytes (pixel k = byte at the downsampled position
    * k·len/72, integer floor on both sides). Bit y·8+x of the 64-bit
    * dHash is pixel(x+1,y) > pixel(x,y); chunks c0..c3 are 16-bit slices.
    */
  private[graft] lazy val phashFpCte: String = {
    val n = Multimodal.PhashPixels
    val hw = Multimodal.HashW
    val pxCols = (0 until n).map(k =>
      s"ascii(substr(text, 1 + (($k * length(text)) // $n), 1)) AS p$k")
      .mkString(",\n    ")
    def chunk(j: Int) = (0 until 16).map { b =>
      val k = j * 16 + b
      val y = k / (hw - 1)
      val x = k % (hw - 1)
      s"(CASE WHEN p${y * hw + x + 1} > p${y * hw + x} THEN ${1L << b} ELSE 0 END)"
    }.mkString(" + ")
    val chunkCols = (0 until 4).map(j =>
      s"CAST(${chunk(j)} AS BIGINT) AS c$j").mkString(",\n    ")
    s"""WITH imgs AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, '~' || substr(text, 2)
      |  FROM documents WHERE doc_id % 50 = 0
      |), px AS (
      |  SELECT doc_id,
      |    $pxCols
      |  FROM imgs
      |), fp AS (
      |  SELECT doc_id,
      |    $chunkCols
      |  FROM px
      |)""".stripMargin
  }

  /** Shared gradient-fingerprint CTE generator for the synthetic
    * media fixtures: per doc, 64 gradient-sign bits of the sequence
    * `(doc_id·mult + step·i) mod m`, packed as the family's 4×16-bit
    * chunks (c0..c3). `video_phash_partners` replays the Y4M mean-luma
    * recipe with (7, 13, 220); `audio_phash_partners` replays the WAV
    * window-energy recipe with (11, 17, 199). A broken container
    * writer, parser, frame-walk, or sample decode on the Spark side
    * flips bits and fails the hash gate.
    */
  private[graft] def gradientFpCte(mult: Int, step: Int, mod: Int): String = {
    def chunk(c: Int) =
      s"""CAST(list_sum(list_transform(range(0, 16), b ->
         |      CASE WHEN (doc_id * $mult + $step * (16 * $c + b + 1)) % $mod
         |              > (doc_id * $mult + $step * (16 * $c + b)) % $mod
         |           THEN (CAST(1 AS BIGINT) << CAST(b AS INTEGER)) ELSE 0 END))
         |      AS BIGINT) AS c$c""".stripMargin
    s"""WITH fp AS (
       |  SELECT doc_id,
       |    ${(0 until 4).map(chunk).mkString(",\n    ")}
       |  FROM documents
       |)""".stripMargin
  }

  private[graft] lazy val videoFpCte: String = gradientFpCte(7, 13, 220)
  private[graft] lazy val audioFpCte: String = gradientFpCte(11, 17, 199)

  /** The capped-partner replay shared by `simhash_partners`,
    * `phash_partners`, `video_phash_partners` and `audio_phash_partners`
    * — identical SQL over
    * whichever fingerprint CTE defines `fp(doc_id, c0..c3)`: first
    * maxBucket=64 members per (chunk, value) bucket, pairs within the
    * cap, Hamming ≤ 12, per-doc top-5 by (hamming, partner). */
  private[graft] val partnersReplaySql: String =
    """, ch AS (
      |  SELECT doc_id, 0 AS ci, c0 AS cv FROM fp
      |  UNION ALL SELECT doc_id, 1, c1 FROM fp
      |  UNION ALL SELECT doc_id, 2, c2 FROM fp
      |  UNION ALL SELECT doc_id, 3, c3 FROM fp),
      |capped AS (
      |  SELECT doc_id, ci, cv FROM (
      |    SELECT doc_id, ci, cv,
      |      row_number() OVER (PARTITION BY ci, cv ORDER BY doc_id) AS br
      |    FROM ch) WHERE br <= 64),
      |cand AS (
      |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      |  FROM capped x JOIN capped y
      |    ON x.ci = y.ci AND x.cv = y.cv AND x.doc_id < y.doc_id),
      |r AS (SELECT doc_id AS doc_b, c0 AS d0, c1 AS d1, c2 AS d2, c3 AS d3 FROM fp),
      |pairs AS (
      |  SELECT c.doc_a, c.doc_b,
      |    CAST(bit_count(xor(f.c0, r.d0)) + bit_count(xor(f.c1, r.d1))
      |       + bit_count(xor(f.c2, r.d2)) + bit_count(xor(f.c3, r.d3)) AS INTEGER) AS hamming
      |  FROM cand c JOIN fp f ON f.doc_id = c.doc_a
      |    JOIN r ON r.doc_b = c.doc_b
      |  WHERE bit_count(xor(f.c0, r.d0)) + bit_count(xor(f.c1, r.d1))
      |      + bit_count(xor(f.c2, r.d2)) + bit_count(xor(f.c3, r.d3)) <= 12),
      |mirrored AS (
      |  SELECT doc_a AS doc_id, doc_b AS partner, hamming FROM pairs
      |  UNION ALL
      |  SELECT doc_b AS doc_id, doc_a AS partner, hamming FROM pairs)
      |SELECT doc_id, partner, hamming, rk FROM (
      |  SELECT doc_id, partner, hamming,
      |    CAST(row_number() OVER (PARTITION BY doc_id
      |      ORDER BY hamming, partner) AS INTEGER) AS rk
      |  FROM mirrored)
      |WHERE rk <= 5 ORDER BY doc_id, rk""".stripMargin

  private[graft] val simhashFpCte: String = {
    val hvs = (1 to 16).map { nib =>
      s"(ascii(substr(m, $nib, 1)) - CASE WHEN ascii(substr(m, $nib, 1)) >= 97 THEN 87 ELSE 48 END) AS hv$nib"
    }.mkString(",\n    ")
    val votes = (0 until 64).map { b =>
      s"sum(CASE WHEN ((hv${b / 4 + 1} >> ${b % 4}) & 1) = 1 THEN 1 ELSE -1 END) AS v$b"
    }.mkString(",\n    ")
    val chunks = (0 until 4).map { c =>
      val bits = (0 until 16)
        .map(i => s"(CASE WHEN v${c * 16 + i} > 0 THEN ${1L << i} ELSE 0 END)")
        .mkString(" + ")
      s"CAST($bits AS BIGINT) AS c$c"
    }.mkString(",\n    ")
    s"""WITH tokens AS (
       |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
       |), h AS (
       |  SELECT doc_id, md5(tok) AS m FROM tokens
       |), hx AS (
       |  SELECT doc_id,
       |    $hvs
       |  FROM h
       |), votes AS (
       |  SELECT doc_id,
       |    $votes
       |  FROM hx GROUP BY doc_id
       |), fp AS (
       |  SELECT doc_id,
       |    $chunks
       |  FROM votes
       |)""".stripMargin
  }

  /** Generated SQL for the 8-plane sign-random-projection bucket (mirrors
    * Similarity.bucketOf: md5-derived weights, 0-based dims). `table`
    * selects the independent hash table (globally-numbered planes, same
    * as the engine's OR-construction).
    */
  private[graft] def lshBucketExprFor(table: Int): String =
    (0 until Similarity.NumPlanes).map { p =>
      val plane = table * Similarity.NumPlanes + p
      val w = s"((ascii(substr(md5('${plane}_' || CAST(i - 1 AS VARCHAR)), 1, 1)) - " +
        s"CASE WHEN ascii(substr(md5('${plane}_' || CAST(i - 1 AS VARCHAR)), 1, 1)) >= 97 THEN 87 ELSE 48 END) - 7.5)"
      s"(CASE WHEN list_sum(list_transform(range(1, 65), i -> v[i] * $w)) > 0 THEN ${1 << p} ELSE 0 END)"
    }.mkString(" + ")

  private[graft] val lshBucketExpr: String = lshBucketExprFor(0)

  private[graft] val embedCte =
    """WITH e AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings
      |), n AS (
      |  SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e
      |)""".stripMargin

  private[graft] val dotExpr =
    "list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i]))"

  /** Shared by `cusum_alerts` and `cusum_stream`: the streaming replay
    * must reproduce the batch fold bit-for-bit, so both rows hold to
    * one text — the max(0,·) recurrence unrolled to prefix sums minus
    * a running min over exact integer cents.
    */
  private[graft] lazy val cusumOracleSql: String =
    s"""WITH c AS (
      |  SELECT user_id, ts, event_id,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      |  FROM events
      |), k AS (
      |  SELECT CAST(floor(CAST(sum(cents) AS DOUBLE) / count(*)) AS BIGINT)
      |    AS kk FROM c
      |), p AS (
      |  SELECT user_id, ts, event_id,
      |    sum(cents - kk) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pf
      |  FROM c CROSS JOIN k
      |), r AS (
      |  SELECT user_id,
      |    pf - least(min(pf) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS cusum
      |  FROM p)
      |SELECT user_id, count(*) AS n_events,
      |  CAST(max(cusum) AS BIGINT) AS max_cusum_cents,
      |  CAST(sum(CASE WHEN cusum >= ${operators.Events.CusumThresholdCents}
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_alarms
      |FROM r GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Shared by `ann_ivf_topk` and `ann_ivf_persisted`: the persisted-index
    * serve is defined to reproduce the in-flight serve bit-for-bit. */
  private[graft] lazy val annIvfTopKOracle =
    embedCte +
      s""", cents AS (
      |  SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM n WHERE vec_id < 16
      |), scored AS (
      |  SELECT a.vec_id, a.v, a.nrm, c.cent_id,
      |    CAST(floor(list_sum(list_transform(range(1, 65), i -> a.v[i] * c.cv[i])) / (a.nrm * c.cnrm) * 1000000.0) AS BIGINT) AS cscore
      |  FROM n a CROSS JOIN cents c
      |), assigned AS (
      |  SELECT vec_id, v, nrm, cent_id AS cluster FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cscore DESC, cent_id) AS crk
      |    FROM scored) WHERE crk = 1
      |), p AS (
      |  SELECT a.vec_id AS vec_id, a.cluster AS cluster, b.vec_id AS other_id,
      |    CAST(floor($dotExpr / (a.nrm * b.nrm) * 1000000.0) AS BIGINT) AS cos_e6
      |  FROM assigned a JOIN assigned b
      |    ON a.cluster = b.cluster AND a.vec_id <> b.vec_id)
      |SELECT vec_id, cluster, other_id, cos_e6, CAST(rk AS INTEGER) AS rk FROM (
      |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos_e6 DESC, other_id) AS rk
      |  FROM p)
      |WHERE rk <= 5 ORDER BY vec_id, rk""".stripMargin

  /** `ann_batch_serve`: the head-query multi-probe replay of
    * [[annIvfTopKOracle]] — queries are the first 8 corpus vectors, each
    * probing its top-2 cells (crk <= 2); candidates come from the full
    * crk = 1 index side. The engine's literal-IN pruning is a scan
    * optimization with no result-set effect, so the oracle needs no
    * counterpart for it.
    */
  private[graft] lazy val annBatchServeOracle =
    embedCte +
      s""", cents AS (
      |  SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM n WHERE vec_id < 16
      |), scored AS (
      |  SELECT a.vec_id, a.v, a.nrm, c.cent_id,
      |    CAST(floor(list_sum(list_transform(range(1, 65), i -> a.v[i] * c.cv[i])) / (a.nrm * c.cnrm) * 1000000.0) AS BIGINT) AS cscore
      |  FROM n a CROSS JOIN cents c
      |), ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cscore DESC, cent_id) AS crk
      |  FROM scored
      |), assigned AS (
      |  SELECT vec_id, v, nrm, cent_id AS cluster FROM ranked WHERE crk = 1
      |), head AS (SELECT vec_id FROM n ORDER BY vec_id LIMIT 8),
      |probes AS (
      |  SELECT r.vec_id, r.v, r.nrm, r.cent_id AS cluster
      |  FROM ranked r JOIN head h ON r.vec_id = h.vec_id WHERE r.crk <= 2
      |), p AS (
      |  SELECT a.vec_id AS vec_id, b.cluster AS cluster, b.vec_id AS other_id,
      |    CAST(floor($dotExpr / (a.nrm * b.nrm) * 1000000.0) AS BIGINT) AS cos_e6
      |  FROM probes a JOIN assigned b
      |    ON a.cluster = b.cluster AND a.vec_id <> b.vec_id)
      |SELECT vec_id, cluster, other_id, cos_e6, CAST(rk AS INTEGER) AS rk FROM (
      |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos_e6 DESC, other_id) AS rk
      |  FROM p)
      |WHERE rk <= 5 ORDER BY vec_id, rk""".stripMargin

  /** `ann_partners`: the within-cell all-pairs definition with the
    * index-side cell cap replayed exactly (QUALIFY row_number ≤ maxCell
    * by vec_id — inactive at gate scale, mirrored anyway so the oracle
    * stays definitionally in lockstep with the operator's bound). */
  private[graft] lazy val annPartnersOracle =
    embedCte + annPartnersOracleBody(64)

  /** The annPartners replay body over ANY `n(vec_id, v, nrm)` CTE —
    * shared by the raw-embedding and image-descriptor modalities
    * (`dims` only changes the dot-product width). */
  private[graft] def annPartnersOracleBody(dims: Int,
      centsWhere: String = "vec_id < 16"): String =
      s""", cents AS (
      |  SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM n WHERE $centsWhere
      |), scored AS (
      |  SELECT a.vec_id, a.v, a.nrm, c.cent_id,
      |    CAST(floor(list_sum(list_transform(range(1, ${dims + 1}), i -> a.v[i] * c.cv[i])) / (a.nrm * c.cnrm) * 1000000.0) AS BIGINT) AS cscore
      |  FROM n a CROSS JOIN cents c
      |), assigned AS (
      |  SELECT vec_id, v, nrm, cent_id AS cluster FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cscore DESC, cent_id) AS crk
      |    FROM scored) WHERE crk = 1
      |), capped AS (
      |  SELECT vec_id, v, nrm, cluster FROM assigned
      |  QUALIFY row_number() OVER (PARTITION BY cluster ORDER BY vec_id) <= 256
      |), p AS (
      |  SELECT a.vec_id AS vec_id, b.vec_id AS other_id,
      |    CAST(floor(list_sum(list_transform(range(1, ${dims + 1}), i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm) * 1000000.0) AS BIGINT) AS cos_e6
      |  FROM assigned a JOIN capped b
      |    ON a.cluster = b.cluster AND a.vec_id <> b.vec_id)
      |SELECT vec_id, other_id, cos_e6, CAST(rk AS INTEGER) AS rk FROM (
      |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos_e6 DESC, other_id) AS rk
      |  FROM p)
      |WHERE rk <= 5 ORDER BY vec_id, rk""".stripMargin

  /** The PQ subspace/codebook/distance CTE chain shared by `pq_encode`
    * and `ann_ivfpq_topk`: 8 contiguous 8-dim subspaces, codewords = the
    * m-th subvectors of the first 16 vectors, d2_e6 = floor(1e6 · squared
    * L2) between every (vector, subspace) slice and every codeword —
    * `dist` doubles as the encode argmin input and the IVFADC lookup
    * table.
    */
  private[graft] val pqDistCtes = pqDistCtesFrom("n")

  /** [[pqDistCtes]] parameterized by the vector source CTE and the
    * codebook row filter — the seam the RESIDUAL variants use to slice
    * `v - centroid` (CTE `rn`) with codewords from vectors 16..31
    * (the first 16 are the centroids themselves, whose residuals are
    * identically zero). Defaults reproduce the raw text byte-for-byte.
    */
  private[graft] def pqDistCtesFrom(src: String,
      cbWhere: String = "vec_id < 16",
      codeIdExpr: String = "vec_id"): String =
    s""", ms AS (
      |  SELECT CAST(range AS INTEGER) AS m FROM range(0, 8)
      |), subs AS (
      |  SELECT vec_id, m, list_transform(range(1, 9), i -> v[m * 8 + i]) AS sv
      |  FROM $src CROSS JOIN ms
      |), cb AS (
      |  SELECT m, $codeIdExpr AS code_id, sv AS cw FROM subs WHERE $cbWhere
      |), dist AS (
      |  SELECT s.vec_id, s.m, c.code_id,
      |    CAST(floor(list_sum(list_transform(range(1, 9), i -> (s.sv[i] - c.cw[i]) * (s.sv[i] - c.cw[i]))) * 1000000.0) AS BIGINT) AS d2_e6
      |  FROM subs s JOIN cb c ON s.m = c.m
      |)""".stripMargin

  /** `pq_encode`: the per-(vector, subspace) argmin over the shared
    * distance relation (ties → lowest codeword id). */
  private[graft] lazy val pqEncodeOracle =
    embedCte + pqDistCtes +
      """
      |SELECT vec_id, m, code_id AS code, d2_e6 FROM dist
      |QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY d2_e6, code_id) = 1
      |ORDER BY vec_id, m""".stripMargin

  /** `ann_ivfpq_topk`: IVF cell assignment + PQ codes + the ADC sum over
    * `dist`-as-LUT, ranked ascending. The sum is CAST to BIGINT — the
    * DuckDB sum(BIGINT)→HUGEINT escape (the cusum lesson). */
  /** Exact brute-force cosine top-k over the bounded query head — the
    * ground-truth relation ann_topk registers and pq_recall reuses.
    */
  private[graft] lazy val annTopkOracle =
    embedCte +
      s""", q AS (
      |  SELECT * FROM n ORDER BY vec_id LIMIT ${Similarity.MaxBruteForceQueries}
      |), p AS (
      |  SELECT a.vec_id AS vec_id, b.vec_id AS other_id,
      |    CAST(floor($dotExpr / (a.nrm * b.nrm) * 1000000.0) AS BIGINT) AS cos_e6
      |  FROM q a JOIN n b ON a.vec_id <> b.vec_id)
      |SELECT vec_id, other_id, cos_e6, CAST(rk AS INTEGER) AS rk FROM (
      |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos_e6 DESC, other_id) AS rk
      |  FROM p)
      |WHERE rk <= 5 ORDER BY vec_id, rk""".stripMargin

  /** The multiprobe IVF top-k select, parameterized by the probe count —
    * the `ann_ivf_multiprobe` oracle (p = 2) and every leg of the
    * `ivf_probe_recall` curve share this one text, so the curve can
    * never drift from the serve it measures.
    */
  private[graft] def multiprobeSql(p: Int): String =
    embedCte +
      s""", cents AS (
      |  SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM n WHERE vec_id < 16
      |), scored AS (
      |  SELECT a.vec_id, a.v, a.nrm, c.cent_id,
      |    CAST(floor(list_sum(list_transform(range(1, 65), i -> a.v[i] * c.cv[i])) / (a.nrm * c.cnrm) * 1000000.0) AS BIGINT) AS cscore
      |  FROM n a CROSS JOIN cents c
      |), ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cscore DESC, cent_id) AS crk
      |  FROM scored
      |), assigned AS (
      |  SELECT vec_id AS other_id, v AS vb, nrm AS nrm_b, cent_id AS cell
      |  FROM ranked WHERE crk = 1
      |), probes AS (
      |  SELECT vec_id, v, nrm, cent_id AS cell FROM ranked WHERE crk <= $p
      |), p AS (
      |  SELECT q.vec_id AS vec_id, a.other_id,
      |    CAST(floor(list_sum(list_transform(range(1, 65), i -> q.v[i] * a.vb[i])) / (q.nrm * a.nrm_b) * 1000000.0) AS BIGINT) AS cos_e6
      |  FROM probes q JOIN assigned a
      |    ON q.cell = a.cell AND q.vec_id <> a.other_id)
      |SELECT vec_id, other_id, cos_e6, CAST(rk AS INTEGER) AS rk FROM (
      |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos_e6 DESC, other_id) AS rk
      |  FROM p)
      |WHERE rk <= 5 ORDER BY vec_id, rk""".stripMargin

  /** ivf_probe_recall: one presence-count row per probe setting, each
    * leg the [[multiprobeSql]] text verbatim against the [[annTopkOracle]]
    * ground truth restricted to the bounded query head.
    */
  private[graft] def ivfProbeRecallOracle(probes: Seq[Int]): String = {
    val rows = probes.map { p =>
      s""",
      |cand$p AS (SELECT c.vec_id, c.other_id
      |  FROM (${multiprobeSql(p)}
      |  ) c JOIN qs USING (vec_id)
      |), row$p AS (
      |  SELECT CAST($p AS INTEGER) AS num_probes,
      |    CAST(sum(tt.t) AS BIGINT) AS n_true,
      |    CAST(sum(cc.m) AS BIGINT) AS n_candidates,
      |    CAST(sum(CASE WHEN tt.t IS NOT NULL AND cc.m IS NOT NULL
      |         THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
      |  FROM (SELECT vec_id, other_id, 1 AS t FROM truth) tt
      |  FULL OUTER JOIN (SELECT vec_id, other_id, 1 AS m FROM cand$p) cc
      |    USING (vec_id, other_id)
      |)""".stripMargin
    }.mkString
    s"""WITH truth AS ($annTopkOracle
      |), qs AS (
      |  SELECT vec_id FROM embeddings ORDER BY vec_id
      |  LIMIT ${Similarity.MaxBruteForceQueries}
      |)""".stripMargin + rows +
      probes.map(p => s"SELECT * FROM row$p").mkString(
        "\n", "\nUNION ALL\n", "\nORDER BY num_probes")
  }

  /** pq_recall: both legs replayed whole (nested WITH inside each CTE
    * body — truth is [[annTopkOracle]], cand is [[annIvfpqOracle]]
    * verbatim, so this oracle can never drift from the two it audits),
    * joined on the truth's bounded query head with the engine's
    * full-outer presence aggregation.
    */
  private[graft] lazy val pqRecallOracle = pqRecallOracleWith(annIvfpqOracle)

  /** [[pqRecallOracle]] parameterized by the candidate serve's oracle,
    * so the auto-sized and IMI quantizers carry their own
    * measured-quality rows without re-stating the recall aggregation. */
  private[graft] def pqRecallOracleWith(candSql: String) =
    s"""WITH truth AS ($annTopkOracle
      |), cand0 AS ($candSql
      |), qs AS (SELECT DISTINCT vec_id FROM truth
      |), cand AS (
      |  SELECT c.vec_id, c.other_id FROM cand0 c JOIN qs USING (vec_id)
      |)
      |SELECT CAST(sum(tt.t) AS BIGINT) AS n_true,
      |  CAST(sum(cc.c) AS BIGINT) AS n_candidates,
      |  CAST(sum(CASE WHEN tt.t IS NOT NULL AND cc.c IS NOT NULL
      |       THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
      |FROM (SELECT vec_id, other_id, 1 AS t FROM truth) tt
      |FULL OUTER JOIN (SELECT vec_id, other_id, 1 AS c FROM cand) cc
      |  USING (vec_id, other_id)""".stripMargin

  /** Matryoshka recall: annTopkOracle is truth; the candidate leg is
    * the same exact scan with vectors sliced to the first 16 dims
    * BEFORE the norm, so cosine geometry is the truncated space's own.
    */
  private[graft] lazy val matryoshkaOracle = {
    val d = 16
    s"""WITH truth AS ($annTopkOracle
      |), cand AS (
      |  WITH e AS (
      |    SELECT vec_id,
      |      list_transform(embedding[1:$d], x -> CAST(x AS DOUBLE)) AS v
      |    FROM embeddings
      |  ), n AS (
      |    SELECT vec_id, v,
      |      sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e
      |  ), q AS (
      |    SELECT * FROM n ORDER BY vec_id
      |    LIMIT ${operators.Similarity.MaxBruteForceQueries}
      |  ), p AS (
      |    SELECT a.vec_id AS vec_id, b.vec_id AS other_id,
      |      CAST(floor(list_sum(list_transform(range(1, ${d + 1}),
      |        i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm) * 1000000.0)
      |        AS BIGINT) AS cos_e6
      |    FROM q a JOIN n b ON a.vec_id <> b.vec_id)
      |  SELECT vec_id, other_id FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY cos_e6 DESC, other_id) AS rk
      |    FROM p)
      |  WHERE rk <= 5
      |)
      |SELECT CAST($d AS INT) AS dims,
      |  CAST(sum(tt.t) AS BIGINT) AS n_true,
      |  CAST(sum(cc.c) AS BIGINT) AS n_candidates,
      |  CAST(sum(CASE WHEN tt.t IS NOT NULL AND cc.c IS NOT NULL
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
      |FROM (SELECT vec_id, other_id, 1 AS t FROM truth) tt
      |FULL OUTER JOIN (SELECT vec_id, other_id, 1 AS c FROM cand) cc
      |  USING (vec_id, other_id)""".stripMargin
  }

  private[graft] lazy val annIvfpqOracle = annIvfpqOracleWith("vec_id < 16")

  /** `ann_ivfpq_auto` mirrors Similarity.centroidsFor(count): the same
    * IVFADC body with the centroid count derived from the corpus —
    * parameterized here at the definition site (the bpeTrainOracleChain
    * discipline) so the fixed and auto forms can never drift apart.
    */
  private[graft] lazy val annIvfpqAutoOracle = annIvfpqOracleWith(
    "vec_id < (SELECT greatest(4, least(4096, count(*) // 256)) FROM embeddings)")

  private[graft] def annIvfpqOracleWith(centsWhere: String) =
    embedCte + ivfAssignHeader(centsWhere) + ivfpqOracleTail

  /** The flat-quantizer cell-assignment CTEs (cents → cscored →
    * assigned) — shared by the raw, auto-sized, and residual IVFADC
    * oracles. */
  private[graft] def ivfAssignHeader(centsWhere: String) =
      s""", cents AS (
      |  SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM n WHERE $centsWhere
      |), cscored AS (
      |  SELECT a.vec_id, c.cent_id,
      |    CAST(floor(list_sum(list_transform(range(1, 65), i -> a.v[i] * c.cv[i])) / (a.nrm * c.cnrm) * 1000000.0) AS BIGINT) AS cscore
      |  FROM n a CROSS JOIN cents c
      |), assigned AS (
      |  SELECT vec_id, cent_id AS cluster FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cscore DESC, cent_id) AS crk
      |    FROM cscored) WHERE crk = 1
      |)""".stripMargin

  /** The residual relation: every vector minus its assigned cell's
    * centroid, shaped (vec_id, v) so [[pqDistCtesFrom]] slices it
    * exactly like the raw `n`. */
  private[graft] val residualCte =
      """, rn AS (
      |  SELECT a.vec_id, list_transform(range(1, 65), i -> b.v[i] - c.cv[i]) AS v
      |  FROM assigned a JOIN n b ON a.vec_id = b.vec_id
      |  JOIN cents c ON a.cluster = c.cent_id
      |)""".stripMargin

  /** The residual PQ distance chain: [[pqDistCtesFrom]] over `rn` with
    * codewords = residual slices of vectors 16..31 renumbered 0..15
    * (the first 16 vectors ARE the centroids — zero residuals). */
  private[graft] val residualDistCtes = pqDistCtesFrom("rn",
    cbWhere = "vec_id >= 16 AND vec_id < 32", codeIdExpr = "vec_id - 16")

  /** `pq_encode_residual`: the per-(vector, subspace) argmin over the
    * residual distance relation — pqEncodeOracle's text with the
    * residual chain swapped in. */
  private[graft] lazy val pqEncodeResidualOracle =
    embedCte + ivfAssignHeader("vec_id < 16") + residualCte +
      residualDistCtes +
      """
      |SELECT vec_id, m, code_id AS code, d2_e6 FROM dist
      |QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY d2_e6, code_id) = 1
      |ORDER BY vec_id, m""".stripMargin

  /** `ann_ivfpq_residual`: the IVFADC serve with codes and LUT both in
    * residual space — assignment header + residual distance chain + the
    * shared ADC tail verbatim. */
  private[graft] lazy val annIvfpqResidualOracle =
    embedCte + ivfAssignHeader("vec_id < 16") + residualCte +
      residualDistCtes + ivfpqAdcCtes + ivfpqTopSelect(5)

  /** `ann_ivfpq_rerank`: the raw IVFADC chain kept as CTEs with the
    * shortlist cut at kAdc = 20, then each (query, candidate) joins
    * back its full-precision vectors and re-ranks by exact cosine. */
  private[graft] lazy val annIvfpqRerankOracle =
    embedCte + ivfAssignHeader("vec_id < 16") + pqDistCtes +
      ivfpqAdcCtes +
      """, shortlist AS (
      |  SELECT vec_id, other_id FROM adc
      |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY adc_e6, other_id) <= 20
      |), rr AS (
      |  SELECT s.vec_id, s.other_id,
      |    CAST(floor(list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm) * 1000000.0) AS BIGINT) AS cos_e6
      |  FROM shortlist s JOIN n a ON s.vec_id = a.vec_id
      |  JOIN n b ON s.other_id = b.vec_id)
      |SELECT vec_id, other_id, cos_e6, CAST(rk AS INTEGER) AS rk FROM (
      |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos_e6 DESC, other_id) AS rk
      |  FROM rr)
      |WHERE rk <= 5 ORDER BY vec_id, rk""".stripMargin

  /** `pq_residual_gain`: both encodes replayed whole (nested WITH, the
    * pqRecall discipline) and reduced to one row of exact integer
    * totals — the residual-coding win as a hash-gated VALUE. */
  private[graft] lazy val pqResidualGainOracle =
    s"""WITH raw AS ($pqEncodeOracle
      |), res AS ($pqEncodeResidualOracle
      |)
      |SELECT (SELECT CAST(count(*) AS BIGINT) FROM raw) AS n_rows,
      |  (SELECT CAST(sum(d2_e6) AS BIGINT) FROM raw) AS raw_err_e6,
      |  (SELECT CAST(sum(d2_e6) AS BIGINT) FROM res) AS residual_err_e6""".stripMargin

  /** The IVFADC body shared by every assignment strategy's oracle (flat
    * fixed/auto, two-level IMI): consumes an `assigned(vec_id, cluster)`
    * CTE and replays cap → pairs → codes → ADC → top-k.
    */
  private[graft] lazy val ivfpqOracleTail = pqDistCtes + ivfpqAdcCtes +
    ivfpqTopSelect(5)

  /** Hash-exact Lloyd's k-means replay (mirrors Similarity.kmeansLloyd):
    * e6-quantized components in LONG form, `rounds` unrolled
    * assign→update iterations — BIGINT squared-L2 argmin (ties to the
    * smaller cent_id), centroid means as floored integer division in
    * +2e6-shifted space (non-negative operands, so `//` and Spark's
    * `div` agree). Ends with `c$rounds` (cent_id, j, c) and `ql`
    * (vec_id, j, x) in scope for the consumers' final joins.
    */
  private[graft] def kmeansCte(k: Int = 16, rounds: Int = 2): String = {
    val head = s"""WITH q AS (
      |  SELECT vec_id, list_transform(embedding,
      |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS v
      |  FROM embeddings
      |), ql AS MATERIALIZED (
      |  SELECT vec_id, j, v[j] AS x
      |  FROM q CROSS JOIN (SELECT unnest(range(1, 65)) AS j)
      |), c0 AS (
      |  SELECT vec_id AS cent_id, j, x AS c FROM ql WHERE vec_id < $k
      |)""".stripMargin
    val iters = (1 to rounds).map { r =>
      s""",
      |d$r AS (
      |  SELECT ql.vec_id, c.cent_id,
      |    CAST(sum((ql.x - c.c) * (ql.x - c.c)) AS BIGINT) AS d2_q
      |  FROM ql JOIN c${r - 1} c USING (j) GROUP BY 1, 2
      |), a$r AS MATERIALIZED (
      |  SELECT vec_id, cent_id AS cluster FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id
      |      ORDER BY d2_q, cent_id) AS rk FROM d$r) WHERE rk = 1
      |), c$r AS MATERIALIZED (
      |  SELECT a.cluster AS cent_id, ql.j,
      |    CAST((CAST(sum(ql.x + 2000000) AS BIGINT) // count(*)) - 2000000
      |      AS BIGINT) AS c
      |  FROM a$r a JOIN ql ON ql.vec_id = a.vec_id
      |  GROUP BY 1, 2
      |)""".stripMargin
    }.mkString
    head + iters
  }

  /** `kmeans_assign`: the FINAL assignment under the round-`rounds`
    * centroids — one more argmin pass off [[kmeansCte]]'s chain. */
  private[graft] def kmeansAssignOracle(k: Int = 16,
      rounds: Int = 2): String =
    kmeansCte(k, rounds) + s""",
      |df AS (
      |  SELECT ql.vec_id, c.cent_id,
      |    CAST(sum((ql.x - c.c) * (ql.x - c.c)) AS BIGINT) AS d2_q
      |  FROM ql JOIN c$rounds c USING (j) GROUP BY 1, 2
      |)
      |SELECT vec_id, cent_id AS cluster, d2_q FROM (
      |  SELECT *, row_number() OVER (PARTITION BY vec_id
      |    ORDER BY d2_q, cent_id) AS rk FROM df) WHERE rk = 1
      |ORDER BY vec_id""".stripMargin

  /** `kmeans_centroids`: the round-`rounds` centroids, long form. */
  private[graft] def kmeansCentroidsOracle(k: Int = 16,
      rounds: Int = 2): String =
    kmeansCte(k, rounds) + s"""
      |SELECT cent_id AS cluster, j, c AS c_e6 FROM c$rounds
      |ORDER BY cluster, j""".stripMargin

  /** The `*_serve` primaries' oracle wrapper: the FULL serve oracle as a
    * CTE (verbatim — the primary can never drift from its audit twin)
    * joined to the registered ServeHead query head. The engine's
    * query-side restriction provably returns the full serve's rows for
    * exactly those queries (the index side is query-independent), so the
    * filtered replay is the precise oracle.
    */
  private[graft] def headServeOracle(full: String, scoreCol: String,
      head: Int = operators.Similarity.ServeHead): String =
    s"""WITH full_serve AS ($full
      |), hqs AS (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT $head)
      |SELECT f.vec_id, f.other_id, f.$scoreCol, f.rk
      |FROM full_serve f JOIN hqs ON f.vec_id = hqs.vec_id
      |ORDER BY f.vec_id, f.rk""".stripMargin

  /** The ADC chain as CTEs (codes → cap → pairs → adc) — consumes
    * `assigned` and `dist`, shared verbatim by every quantizer's serve
    * oracle; the rerank oracle keeps composing after `adc` instead of
    * selecting, which is why the final SELECT lives apart. */
  private[graft] val ivfpqAdcCtes =
      """, codes AS (
      |  SELECT vec_id AS other_id, m, code_id AS code FROM dist
      |  QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY d2_e6, code_id) = 1
      |), icapped AS (
      |  SELECT vec_id, cluster FROM assigned
      |  QUALIFY row_number() OVER (PARTITION BY cluster ORDER BY vec_id) <= 256
      |), pairs AS (
      |  SELECT a.vec_id, b.vec_id AS other_id
      |  FROM assigned a JOIN icapped b
      |    ON a.cluster = b.cluster AND a.vec_id <> b.vec_id
      |), adc AS (
      |  SELECT p.vec_id, p.other_id, CAST(sum(l.d2_e6) AS BIGINT) AS adc_e6
      |  FROM pairs p
      |  JOIN codes k ON k.other_id = p.other_id
      |  JOIN dist l ON l.vec_id = p.vec_id AND l.m = k.m AND l.code_id = k.code
      |  GROUP BY p.vec_id, p.other_id)""".stripMargin

  private[graft] def ivfpqTopSelect(k: Int): String =
      s"""
      |SELECT vec_id, other_id, adc_e6, CAST(rk AS INTEGER) AS rk FROM (
      |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY adc_e6, other_id) AS rk
      |  FROM adc)
      |WHERE rk <= $k ORDER BY vec_id, rk""".stripMargin

  /** `ann_ivfpq_imi` mirrors Similarity.twoLevelAssign under the auto
    * sizing: supers = first ⌈√nc⌉ vectors, cells parented to their
    * nearest super, each vector routed super-first then within the
    * chosen super's children — every argmax the shared e6-floored
    * (score desc, id) convention — then the common IVFADC tail.
    */
  private[graft] lazy val annIvfpqImiOracle =
    embedCte +
      s""", params AS (
      |  SELECT greatest(4, least(4096, count(*) // 256)) AS nc,
      |    CAST(ceil(sqrt(greatest(4, least(4096, count(*) // 256)))) AS BIGINT) AS l1
      |  FROM embeddings
      |), sups AS (
      |  SELECT vec_id AS sup_id, v AS sv, nrm AS snrm FROM n
      |  WHERE vec_id < (SELECT l1 FROM params)
      |), cents AS (
      |  SELECT vec_id AS cent_id, v AS cv, cnrm FROM (
      |    SELECT vec_id, v, nrm AS cnrm FROM n
      |    WHERE vec_id < (SELECT nc FROM params))
      |), pscored AS (
      |  SELECT c.cent_id, c.cv, c.cnrm, s.sup_id,
      |    CAST(floor(list_sum(list_transform(range(1, 65), i -> c.cv[i] * s.sv[i])) / (c.cnrm * s.snrm) * 1000000.0) AS BIGINT) AS sscore
      |  FROM cents c CROSS JOIN sups s
      |), parents AS (
      |  SELECT cent_id, cv, cnrm, sup_id AS parent FROM (
      |    SELECT *, row_number() OVER (PARTITION BY cent_id ORDER BY sscore DESC, sup_id) AS srk
      |    FROM pscored) WHERE srk = 1
      |), vscored AS (
      |  SELECT a.vec_id, a.v, a.nrm, s.sup_id,
      |    CAST(floor(list_sum(list_transform(range(1, 65), i -> a.v[i] * s.sv[i])) / (a.nrm * s.snrm) * 1000000.0) AS BIGINT) AS sscore
      |  FROM n a CROSS JOIN sups s
      |), vsuper AS (
      |  SELECT vec_id, v, nrm, sup_id AS parent FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sscore DESC, sup_id) AS srk
      |    FROM vscored) WHERE srk = 1
      |), cscored AS (
      |  SELECT x.vec_id, p.cent_id,
      |    CAST(floor(list_sum(list_transform(range(1, 65), i -> x.v[i] * p.cv[i])) / (x.nrm * p.cnrm) * 1000000.0) AS BIGINT) AS cscore
      |  FROM vsuper x JOIN parents p ON x.parent = p.parent
      |), assigned AS (
      |  SELECT vec_id, cent_id AS cluster FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cscore DESC, cent_id) AS crk
      |    FROM cscored) WHERE crk = 1
      |)""".stripMargin + ivfpqOracleTail

  /** `hard_negatives`: the annPartners replay with the anchor's label
    * carried through and a label-mismatch predicate on the candidate
    * join; the cell cap is applied BEFORE the label filter (cap on cell
    * membership, mirroring the operator's bound). */
  private[graft] lazy val hardNegativesOracle =
    embedCte +
      """, lab AS (
      |  SELECT vec_id, label FROM embeddings
      |), cents AS (
      |  SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM n WHERE vec_id < 16
      |), scored AS (
      |  SELECT a.vec_id, a.v, a.nrm, c.cent_id,
      |    CAST(floor(list_sum(list_transform(range(1, 65), i -> a.v[i] * c.cv[i])) / (a.nrm * c.cnrm) * 1000000.0) AS BIGINT) AS cscore
      |  FROM n a CROSS JOIN cents c
      |), assigned AS (
      |  SELECT s.vec_id, s.v, s.nrm, l.label, s.cluster FROM (
      |    SELECT vec_id, v, nrm, cent_id AS cluster FROM (
      |      SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cscore DESC, cent_id) AS crk
      |      FROM scored) WHERE crk = 1) s
      |  JOIN lab l ON s.vec_id = l.vec_id
      |), capped AS (
      |  SELECT vec_id, v, nrm, label, cluster FROM assigned
      |  QUALIFY row_number() OVER (PARTITION BY cluster ORDER BY vec_id) <= 256
      |), p AS (
      |  SELECT a.vec_id, a.label, b.vec_id AS neg_id,
      |    CAST(floor(list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm) * 1000000.0) AS BIGINT) AS cos_e6
      |  FROM assigned a JOIN capped b
      |    ON a.cluster = b.cluster AND a.vec_id <> b.vec_id AND a.label <> b.label)
      |SELECT vec_id, label, neg_id, cos_e6, CAST(rk AS INTEGER) AS rk FROM (
      |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos_e6 DESC, neg_id) AS rk
      |  FROM p)
      |WHERE rk <= 5 ORDER BY vec_id, rk""".stripMargin

  /** `bitext_mine`: cell-blocked cross-lingual candidates (positive
    * cosine only, so both k-NN denominators are positive by
    * construction), both language sides capped at 256/cell (mirroring
    * the engine's maxCell bound; inactive at gate scale),
    * forward/backward top-4 averages as exact-integer
    * sums over counts, and the margin's one double division replayed in
    * the same operation order. */
  private[graft] lazy val bitextMineOracle =
    embedCte +
      """, cents AS (
      |  SELECT vec_id AS cent_id, v AS cv, nrm AS cnrm FROM n WHERE vec_id < 16
      |), cscored AS (
      |  SELECT a.vec_id, a.v, a.nrm, c.cent_id,
      |    CAST(floor(list_sum(list_transform(range(1, 65), i -> a.v[i] * c.cv[i])) / (a.nrm * c.cnrm) * 1000000.0) AS BIGINT) AS cscore
      |  FROM n a CROSS JOIN cents c
      |), assigned AS (
      |  SELECT vec_id, v, nrm, cent_id AS cluster FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cscore DESC, cent_id) AS crk
      |    FROM cscored) WHERE crk = 1
      |), el AS (
      |  SELECT a.vec_id, a.v, a.nrm, a.cluster, d.lang
      |  FROM assigned a JOIN documents d ON a.vec_id = d.doc_id
      |  WHERE d.lang IN ('en', 'de')
      |), src AS (
      |  SELECT vec_id AS src_id, v AS va, nrm AS nrm_a, cluster FROM el WHERE lang = 'en'
      |  QUALIFY row_number() OVER (PARTITION BY cluster ORDER BY vec_id) <= 256
      |), tgt AS (
      |  SELECT vec_id AS tgt_id, v AS vb, nrm AS nrm_b, cluster FROM el WHERE lang = 'de'
      |  QUALIFY row_number() OVER (PARTITION BY cluster ORDER BY vec_id) <= 256
      |), cand AS (
      |  SELECT s.src_id, t.tgt_id,
      |    CAST(floor(list_sum(list_transform(range(1, 65), i -> s.va[i] * t.vb[i])) / (s.nrm_a * t.nrm_b) * 1000000.0) AS BIGINT) AS cos_e6
      |  FROM src s JOIN tgt t ON s.cluster = t.cluster
      |), cpos AS (
      |  SELECT * FROM cand WHERE cos_e6 > 0
      |), wnn AS (
      |  SELECT *,
      |    row_number() OVER (PARTITION BY src_id ORDER BY cos_e6 DESC, tgt_id) AS frk,
      |    row_number() OVER (PARTITION BY tgt_id ORDER BY cos_e6 DESC, src_id) AS brk
      |  FROM cpos
      |), favg AS (
      |  SELECT src_id, CAST(sum(cos_e6) AS BIGINT) AS f_sum, count(*) AS f_n
      |  FROM wnn WHERE frk <= 4 GROUP BY src_id
      |), bavg AS (
      |  SELECT tgt_id, CAST(sum(cos_e6) AS BIGINT) AS b_sum, count(*) AS b_n
      |  FROM wnn WHERE brk <= 4 GROUP BY tgt_id
      |), sc AS (
      |  SELECT c.src_id, c.tgt_id, c.cos_e6,
      |    CAST(floor(c.cos_e6 * 2000000.0 / (CAST(f.f_sum AS DOUBLE) / f.f_n + CAST(b.b_sum AS DOUBLE) / b.b_n)) AS BIGINT) AS margin_e6
      |  FROM cpos c
      |  JOIN favg f ON c.src_id = f.src_id
      |  JOIN bavg b ON c.tgt_id = b.tgt_id)
      |SELECT src_id, tgt_id, cos_e6, margin_e6 FROM (
      |  SELECT *, row_number() OVER (PARTITION BY src_id ORDER BY margin_e6 DESC, tgt_id) AS mrk
      |  FROM sc)
      |WHERE mrk = 1 AND margin_e6 >= 1000000
      |ORDER BY src_id""".stripMargin

  /** Image-descriptor replay: pixel k of the 8×8 thumbnail is the text
    * byte at `k·len/64` (PNG grayscale is lossless, so the engine's
    * decoded-raster features equal this byte math bit-for-bit); quadrant
    * q = (k div 32)·2 + (k mod 8 div 4); features are luminance sums and
    * in-patch |horizontal gradient| sums — all exact integers, making the
    * 8-dim cosine's IEEE operands cross-engine reproducible. */
  private[graft] val imageEmbedFeatCte =
    """WITH px AS (
      |  SELECT doc_id, k,
      |    ascii(text[CAST(least((k * length(text)) // 64,
      |      length(text) - 1) + 1 AS BIGINT)]) AS p
      |  FROM documents CROSS JOIN (SELECT unnest(range(0, 64)) AS k)
      |), g AS (
      |  SELECT doc_id, k, p,
      |    lead(p) OVER (PARTITION BY doc_id ORDER BY k) AS pn
      |  FROM px
      |), feat AS (
      |  SELECT doc_id, (k // 32) * 2 + ((k % 8) // 4) AS q,
      |    sum(p) AS lum,
      |    sum(CASE WHEN k % 4 < 3 THEN abs(pn - p) ELSE 0 END) AS grad
      |  FROM g GROUP BY doc_id, q
      |)""".stripMargin

  private[graft] lazy val imageAnnPartnersOracle =
    imageEmbedFeatCte +
      """, n AS (
      |  SELECT doc_id AS vec_id,
      |    list_transform(list(lum ORDER BY q) || list(grad ORDER BY q),
      |      x -> CAST(x AS DOUBLE)) AS v,
      |    sqrt(list_sum(list_transform(
      |      list(lum ORDER BY q) || list(grad ORDER BY q),
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      |  FROM feat GROUP BY doc_id
      |)""".stripMargin +
      annPartnersOracleBody(8)

  /** Audio/video embedding replay: the codecs are lossless (PCM-in-WAV;
    * constant-luma C420 planes), so the per-index decoded value is pure
    * doc_id arithmetic; 64 leading windows/frames group into 8 sum
    * features (`feat`) and assemble into the `n(vec_id, v, nrm)` shape
    * the shared annPartners body consumes.
    */
  private[graft] def docArithmeticEmbedCte(valueExpr: String): String =
    s"""WITH wins AS (
      |  SELECT doc_id, w, $valueExpr AS s
      |  FROM documents CROSS JOIN (SELECT unnest(range(0, 64)) AS w)
      |), feat AS (
      |  SELECT doc_id, w // 8 AS q, CAST(sum(s) AS DOUBLE) AS f
      |  FROM wins GROUP BY doc_id, q
      |), n AS (
      |  SELECT doc_id AS vec_id, list(f ORDER BY q) AS v,
      |    sqrt(list_sum(list_transform(list(f ORDER BY q), x -> x * x))) AS nrm
      |  FROM feat GROUP BY doc_id
      |)""".stripMargin

  // window w holds AudioFpWinSamples (4) identical decoded samples of
  // value (doc_id*11 + w*17) mod 199 — the audioWindowSums recipe
  private[graft] val audioEmbedValueExpr = "4 * ((doc_id * 11 + w * 17) % 199)"
  // frame w's constant-plane mean luma — the videoMeanLumas recipe
  private[graft] val videoEmbedValueExpr = "16 + (doc_id * 7 + w * 13) % 220"

  private[graft] def mediaEmbedScalarsSql(valueExpr: String): String =
    docArithmeticEmbedCte(valueExpr) +
      """
      |SELECT doc_id,
      |  CAST(max(CASE WHEN q = 0 THEN f END) AS BIGINT) AS f0,
      |  CAST(max(CASE WHEN q = 1 THEN f END) AS BIGINT) AS f1,
      |  CAST(max(CASE WHEN q = 2 THEN f END) AS BIGINT) AS f2,
      |  CAST(max(CASE WHEN q = 3 THEN f END) AS BIGINT) AS f3,
      |  CAST(max(CASE WHEN q = 4 THEN f END) AS BIGINT) AS f4,
      |  CAST(max(CASE WHEN q = 5 THEN f END) AS BIGINT) AS f5,
      |  CAST(max(CASE WHEN q = 6 THEN f END) AS BIGINT) AS f6,
      |  CAST(max(CASE WHEN q = 7 THEN f END) AS BIGINT) AS f7
      |FROM feat GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Shared by `asof_join` and `asof_join_bucketized` (identical
    * semantics by construction — TemporalJoinSpec pins the equivalence).
    */
  private[graft] val asofOracleSql =
    """WITH c AS (
      |  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click'
      |), p AS (
      |  SELECT user_id, ts, event_id AS p_event_id, value AS p_value
      |  FROM events WHERE event_type = 'purchase'
      |  QUALIFY row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1
      |)
      |SELECT c.event_id, c.user_id, c.value,
      |  p.p_event_id AS purchase_event_id, p.p_value AS purchase_value
      |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts
      |ORDER BY c.event_id""".stripMargin

  /** Shared by `rrf_fusion` and `rrf_fusion_indexed` (identical
    * results by construction at gate scale — the probe set covers the
    * true top-20, so the indexed serve is bit-identical).
    */
  private[graft] lazy val rrfFusionSql: String =
    """WITH tokens AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
        |), dl AS (SELECT doc_id, count(*) AS dl FROM tokens GROUP BY doc_id),
        |tf AS (
        |  SELECT doc_id, tok, count(*) AS tf FROM tokens
        |  WHERE tok IN ('spark', 'query', 'join') GROUP BY doc_id, tok
        |), df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
        |st AS (
        |  SELECT (SELECT count(*) FROM documents) AS n_docs,
        |         (SELECT count(*) FROM tokens) AS total_tok
        |), per AS (
        |  SELECT t.doc_id,
        |    CAST(floor(
        |      ln(1.0 + ((CAST(s.n_docs AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5)
        |                / (CAST(d.df AS DOUBLE) + 0.5)))
        |      * ((CAST(t.tf AS DOUBLE) * (1.2 + 1.0))
        |         / (CAST(t.tf AS DOUBLE) + 1.2 * ((1.0 - 0.75)
        |            + 0.75 * (CAST(l.dl AS DOUBLE)
        |              / (CAST(s.total_tok AS DOUBLE) / CAST(s.n_docs AS DOUBLE))))))
        |      * 1000000.0) AS BIGINT) AS term_e6
        |  FROM tf t JOIN df d USING (tok) JOIN dl l USING (doc_id) CROSS JOIN st s
        |), lexs AS (
        |  SELECT doc_id, CAST(sum(term_e6) AS BIGINT) AS bm25_e6
        |  FROM per GROUP BY doc_id ORDER BY bm25_e6 DESC, doc_id LIMIT 20
        |), lex AS (
        |  SELECT doc_id,
        |    CAST(row_number() OVER (ORDER BY bm25_e6 DESC, doc_id) AS BIGINT) AS lex_rk
        |  FROM lexs
        |), e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings
        |), nn AS (
        |  SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e
        |), qv AS (SELECT * FROM nn WHERE vec_id = 0),
        |p AS (
        |  SELECT b.vec_id AS doc_id,
        |    CAST(floor(list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i]))
        |      / (a.nrm * b.nrm) * 1000000.0) AS BIGINT) AS cos_e6
        |  FROM qv a JOIN nn b ON b.vec_id <> a.vec_id
        |), sems AS (
        |  SELECT doc_id, cos_e6,
        |    CAST(row_number() OVER (ORDER BY cos_e6 DESC, doc_id) AS BIGINT) AS sem_rk
        |  FROM p
        |), sem AS (SELECT doc_id, sem_rk FROM sems WHERE sem_rk <= 20),
        |fused AS (
        |  SELECT COALESCE(l.doc_id, s2.doc_id) AS doc_id, l.lex_rk, s2.sem_rk,
        |    COALESCE(CAST(floor(1000000.0 / (60 + l.lex_rk)) AS BIGINT), 0) +
        |    COALESCE(CAST(floor(1000000.0 / (60 + s2.sem_rk)) AS BIGINT), 0) AS rrf_e6
        |  FROM lex l FULL OUTER JOIN sem s2 ON l.doc_id = s2.doc_id
        |), ranked AS (
        |  SELECT CAST(row_number() OVER (ORDER BY rrf_e6 DESC, doc_id) AS BIGINT) AS rk,
        |    doc_id, lex_rk, sem_rk, rrf_e6
        |  FROM fused)
        |SELECT rk, doc_id, lex_rk, sem_rk, rrf_e6
        |FROM ranked WHERE rk <= 20 ORDER BY rk""".stripMargin

  /** The full-pipeline composition oracle: every stage's existing CTE
    * fragment chained into ONE WITH RECURSIVE list, retargeted at the
    * previous stage's output (`chainFrag` strips the fragment's WITH and
    * rebinds its `FROM documents` scans). The BPE chain's word CTE is
    * named `bw` at its definition site (the `wordCte` parameter) to
    * avoid colliding with DSIR's weight CTE `w`.
    */
  private[graft] lazy val pipelineDsirPackSql: String = {
    def chainFrag(frag: String, src: String): String =
      frag.replaceAll("^WITH RECURSIVE ", "").replaceAll("^WITH ", "")
        .replace("FROM documents", s"FROM $src")
        .replaceAll("\\s+$", "")
    val quality = gopherC4CleanCte.replaceAll("^WITH ", "")
    val minhash = chainFrag(minhashScoredCte, "cleaned")
    val dsir = chainFrag(dsirWeightsCte, "kept")
    val bpe =
      chainFrag(bpeTrainOracleChain(BpeOracleRounds, wordCte = "bw"),
        "corpus")
    s"""WITH RECURSIVE $quality, cleaned AS (
      |  SELECT c.doc_id, c.text, d.lang
      |  FROM cl c JOIN documents d USING (doc_id)
      |), $minhash, pairs AS (
      |  SELECT doc_a, doc_b FROM scored
      |), edges AS (
      |  SELECT doc_a AS src, doc_b AS dst FROM pairs
      |  UNION SELECT doc_b AS src, doc_a AS dst FROM pairs
      |), reach AS (
      |  SELECT src AS node, dst AS r FROM edges
      |  UNION
      |  SELECT reach.node, edges.dst FROM reach JOIN edges ON reach.r = edges.src
      |), ccl AS (
      |  SELECT node AS doc_id, least(node, min(r)) AS cluster_id
      |  FROM reach GROUP BY node
      |), kept AS (
      |  SELECT c.* FROM cleaned c
      |  WHERE c.doc_id NOT IN (SELECT doc_id FROM ccl WHERE doc_id <> cluster_id)
      |), $dsir, sel AS (
      |  SELECT doc_id FROM doc_scores WHERE NOT is_target
      |  ORDER BY score_e6 DESC, doc_id LIMIT 100
      |), corpus AS (
      |  SELECT doc_id, text FROM kept WHERE lang = 'en'
      |  UNION ALL
      |  SELECT k.doc_id, k.text FROM kept k JOIN sel USING (doc_id)
      |), $bpe, v AS (
      |  SELECT word, CAST(len(string_split(trim(enc), '  ')) AS BIGINT) AS n_bpe
      |  FROM e$BpeOracleRounds
      |), dw AS (
      |  SELECT doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS word
      |  FROM corpus
      |), agg AS (
      |  SELECT doc_id, CAST(sum(n_bpe) AS BIGINT) AS n_bpe_tokens
      |  FROM dw JOIN v USING (word) GROUP BY doc_id
      |), lens AS (
      |  SELECT corpus.doc_id, coalesce(agg.n_bpe_tokens, CAST(0 AS BIGINT)) AS len
      |  FROM corpus LEFT JOIN agg USING (doc_id)
      |), offs AS (
      |  SELECT doc_id, len,
      |    CAST(COALESCE(sum(len) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
      |  FROM lens
      |), sp AS (
      |  SELECT doc_id, len, off,
      |    unnest(range(CAST(off // 512 AS BIGINT),
      |                 CAST((off + len - 1) // 512 + 1 AS BIGINT))) AS seq_id
      |  FROM offs WHERE len > 0)
      |SELECT seq_id, doc_id,
      |  GREATEST(0, seq_id * 512 - off) AS tok_begin,
      |  LEAST(len, (seq_id + 1) * 512 - off) AS tok_end
      |FROM sp ORDER BY seq_id, doc_id""".stripMargin
  }

  /** Gopher document gate + C4 line repair over `documents`, ending at
    * `cl(doc_id, text)` (the repaired surviving corpus) — the shared
    * quality prefix of pipeline_quality and pipeline_dsir_pack. */
  private[graft] val gopherC4CleanCte: String =
    """WITH gc AS (
        |  SELECT doc_id, text, string_split(text, ' ') AS w,
        |    string_split(text, chr(10)) AS ln
        |  FROM documents
        |), gs AS (
        |  SELECT doc_id,
        |    CAST(len(w) AS BIGINT) AS n_words,
        |    CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE)
        |      / CAST(len(w) AS DOUBLE) AS mean_word_len,
        |    CAST(CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)
        |       + CAST((length(text) - length(replace(text, '...', ''))) / 3 AS BIGINT)
        |       AS DOUBLE) / CAST(len(w) AS DOUBLE) AS symbol_ratio,
        |    CAST(len(list_filter(ln, l -> l LIKE '-%' OR l LIKE '*%')) AS DOUBLE)
        |      / CAST(len(ln) AS DOUBLE) AS bullet_frac,
        |    CAST(len(list_filter(ln, l -> l LIKE '%...')) AS DOUBLE)
        |      / CAST(len(ln) AS DOUBLE) AS ellipsis_frac,
        |    CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
        |      / CAST(len(w) AS DOUBLE) AS alpha_frac,
        |    CAST(len(list_filter(['the','a'], y -> list_contains(w, y))) AS BIGINT) AS n_stop_hits
        |  FROM gc
        |), gk AS (
        |  SELECT doc_id FROM gs
        |  WHERE n_words >= 50 AND n_words <= 100000
        |    AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        |    AND symbol_ratio <= 0.1 AND bullet_frac < 0.9
        |    AND ellipsis_frac < 0.3 AND alpha_frac >= 0.8
        |    AND n_stop_hits >= 2
        |), cs AS (
        |  SELECT d.doc_id,
        |    list_filter(string_split(d.text, chr(10)),
        |      l -> len(string_split(l, ' ')) >= 50
        |        AND NOT contains(lower(l), 'javascript')
        |        AND NOT contains(lower(l), 'lorem ipsum')
        |        AND NOT contains(l, '{')) AS kept
        |  FROM documents d JOIN gk USING (doc_id)
        |), cl AS (
        |  SELECT doc_id, coalesce(array_to_string(kept, chr(10)), '') AS text
        |  FROM cs WHERE len(kept) >= 1
        |)""".stripMargin

  private[graft] lazy val c4LineFilterOracle: String =
    """WITH c AS (
          |  SELECT doc_id, string_split(text, chr(10)) AS ln FROM documents
          |), s AS (
          |  SELECT doc_id, ln,
          |    list_filter(ln, l -> len(string_split(l, ' ')) >= 50
          |      AND NOT contains(lower(l), 'javascript')
          |      AND NOT contains(lower(l), 'lorem ipsum')
          |      AND NOT contains(l, '{')) AS kept
          |  FROM c
          |)
          |SELECT doc_id,
          |  CAST(len(ln) AS BIGINT) AS n_lines,
          |  CAST(len(kept) AS BIGINT) AS n_kept_lines,
          |  coalesce(array_to_string(kept, chr(10)), '') AS clean_text,
          |  len(kept) >= 1 AS keep
          |FROM s ORDER BY doc_id""".stripMargin

  private[graft] lazy val gopherQualityOracleSql: String =
    """WITH c AS (
          |  SELECT doc_id, text, string_split(text, ' ') AS w,
          |    string_split(text, chr(10)) AS ln
          |  FROM documents
          |), s AS (
          |  SELECT doc_id,
          |    CAST(len(w) AS BIGINT) AS n_words,
          |    CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE)
          |      / CAST(len(w) AS DOUBLE) AS mean_word_len,
          |    CAST(CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)
          |       + CAST((length(text) - length(replace(text, '...', ''))) / 3 AS BIGINT)
          |       AS DOUBLE) / CAST(len(w) AS DOUBLE) AS symbol_ratio,
          |    CAST(len(list_filter(ln, l -> l LIKE '-%' OR l LIKE '*%')) AS DOUBLE)
          |      / CAST(len(ln) AS DOUBLE) AS bullet_frac,
          |    CAST(len(list_filter(ln, l -> l LIKE '%...')) AS DOUBLE)
          |      / CAST(len(ln) AS DOUBLE) AS ellipsis_frac,
          |    CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
          |      / CAST(len(w) AS DOUBLE) AS alpha_frac,
          |    CAST(len(list_filter(['the','a'],
          |      y -> list_contains(w, y))) AS BIGINT) AS n_stop_hits
          |  FROM c
          |)
          |SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_frac,
          |  ellipsis_frac, alpha_frac, n_stop_hits,
          |  (n_words >= 50 AND n_words <= 100000
          |   AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
          |   AND symbol_ratio <= 0.1 AND bullet_frac < 0.9
          |   AND ellipsis_frac < 0.3 AND alpha_frac >= 0.8
          |   AND n_stop_hits >= 2) AS keep
          |FROM s ORDER BY doc_id""".stripMargin

  private[graft] lazy val langIdOracleSql: String =
    """WITH c AS (
          |  SELECT doc_id, lang AS lang_label,
          |    CAST(len(list_filter(string_split(text, ' '),
          |      x -> list_contains(['the','a','and','of','to','is'], x))) AS BIGINT) AS score_en,
          |    CAST(len(list_filter(string_split(text, ' '),
          |      x -> list_contains(['el','la','de','los','que','y'], x))) AS BIGINT) AS score_es,
          |    CAST(len(list_filter(string_split(text, ' '),
          |      x -> list_contains(['de5','shi4','zai4'], x))) AS BIGINT) AS score_zh
          |  FROM documents
          |)
          |SELECT doc_id, lang_label, score_en, score_es, score_zh,
          |  CASE WHEN score_es > score_en AND score_es > score_zh THEN 'es'
          |       WHEN score_zh > score_en AND score_zh >= score_es THEN 'zh'
          |       ELSE 'en' END AS lang_pred
          |FROM c ORDER BY doc_id""".stripMargin

  private[graft] lazy val curriculumOrderOracleSql: String =
    """WITH c AS (
          |  SELECT doc_id,
          |    CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_subword_tokens
          |  FROM documents
          |), r AS (
          |  SELECT doc_id, n_subword_tokens,
          |    row_number() OVER (ORDER BY n_subword_tokens, doc_id) AS rnk,
          |    count(*) OVER () AS n
          |  FROM c
          |), t AS (
          |  SELECT doc_id, n_subword_tokens,
          |    CAST(((rnk - 1) * 4) // n AS INTEGER) AS tier,
          |    md5(concat_ws('|', 'cur', CAST(doc_id AS VARCHAR))) AS k
          |  FROM r)
          |SELECT doc_id, n_subword_tokens, tier,
          |  CAST(row_number() OVER (PARTITION BY tier ORDER BY k, doc_id) AS BIGINT) AS pos_in_tier
          |FROM t ORDER BY tier, pos_in_tier""".stripMargin


  /** MinHash+LSH near-dup pair SQL (mirrors Dedup.minhashLsh) — also the
    * edge relation for the clustering oracle's recursive CTE.
    */
  /** Shared MinHash replay prefix: shingles → 56-bit md5 hash → 16
    * universal-hash min aggregates → capped band rows → undirected
    * candidate pairs (`cand`), with `mh` in scope for scoring and
    * `scored` the threshold-filtered est_jaccard pair relation.
    */
  private[graft] lazy val minhashScoredCte: String = {
      val mins = (0 until Dedup.NumHashes).map(k =>
        s"min((h * ${Dedup.minhashA(k)} + ${Dedup.minhashB(k)}) % ${Dedup.MinhashP}) AS mh$k")
        .mkString(",\n    ")
      val rowsPerBand = Dedup.NumHashes / Dedup.NumBands
      val bandRows = (0 until Dedup.NumBands).map { b =>
        val cols = (0 until rowsPerBand)
          .map(r => s"mh${b * rowsPerBand + r} AS b$r").mkString(", ")
        s"SELECT doc_id, $b AS band, $cols FROM mh"
      }.mkString("\n  UNION ALL ")
      val bandJoin = (0 until rowsPerBand)
        .map(r => s"x.b$r = y.b$r").mkString(" AND ")
      val agree = (0 until Dedup.NumHashes)
        .map(k => s"(CASE WHEN a.mh$k = b.mh$k THEN 1 ELSE 0 END)")
        .mkString(" + ")
      shinglesCte +
        s""", hs AS (
        |  SELECT doc_id, ('0x' || substr(md5(shingle), 1, 14))::BIGINT AS h FROM sh
        |), mh AS (
        |  SELECT doc_id,
        |    $mins
        |  FROM hs GROUP BY doc_id
        |), bands_all AS (
        |  $bandRows
        |), bands AS (
        |  -- the hot-bucket cap, replayed exactly: first MaxBandBucket
        |  -- members per (band, b0..b3) bucket by doc_id, mirroring
        |  -- minhashLsh's pre-join WindowGroupLimit cut
        |  SELECT doc_id, band, ${(0 until rowsPerBand).map(r => s"b$r").mkString(", ")} FROM bands_all
        |  QUALIFY row_number() OVER (
        |    PARTITION BY band, ${(0 until rowsPerBand).map(r => s"b$r").mkString(", ")}
        |    ORDER BY doc_id) <= ${Dedup.MaxBandBucket}
        |), cand AS (
        |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        |  FROM bands x JOIN bands y
        |    ON x.band = y.band AND $bandJoin AND x.doc_id < y.doc_id
        |), scored AS (
        |  SELECT doc_a, doc_b,
        |    CAST($agree AS DOUBLE) / ${Dedup.NumHashes}.0 AS est_jaccard
        |  FROM cand JOIN mh a ON a.doc_id = doc_a JOIN mh b ON b.doc_id = doc_b
        |  WHERE CAST($agree AS DOUBLE) / ${Dedup.NumHashes}.0 >= 0.25)
        |""".stripMargin
  }

  /** `quantile_sketch` / `quantile_stream` shared oracle (r16 primary):
    * bucket CDF + integer interpolation, NO exact leg — the sketch-only
    * registered form. */
  private[graft] lazy val quantileSketchOnlyOracle: String =
    """WITH v AS (
          |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v
          |  FROM lineitem
          |), n AS (SELECT count(*) AS n FROM v
          |), b AS (SELECT v // 100000 AS b, count(*) AS cnt FROM v GROUP BY 1
          |), c AS (
          |  SELECT b, cnt,
          |    CAST(coalesce(sum(cnt) OVER (ORDER BY b
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |      AS BIGINT) AS cum_before
          |  FROM b
          |), p AS (SELECT unnest([1, 5, 25, 50, 75, 95, 99]) AS pct
          |), t AS (
          |  SELECT pct, n AS n_total,
          |    CAST((n * pct + 99) // 100 AS BIGINT) AS target_rank
          |  FROM p CROSS JOIN n
          |)
          |SELECT t.pct, t.n_total, t.target_rank,
          |  CAST(c.b * 100000 +
          |    ((t.target_rank - c.cum_before) * 100000) // c.cnt
          |    AS BIGINT) AS est_cents
          |FROM t JOIN c ON t.target_rank > c.cum_before
          |  AND t.target_rank <= c.cum_before + c.cnt
          |ORDER BY t.pct""".stripMargin

  /** `quantile_sketch_audit` oracle: bucket CDF +
    * integer interpolation + the exact rank-t leg. */
  private[graft] lazy val quantileSketchOracle: String =
    """WITH v AS (
          |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v
          |  FROM lineitem
          |), n AS (SELECT count(*) AS n FROM v
          |), b AS (SELECT v // 100000 AS b, count(*) AS cnt FROM v GROUP BY 1
          |), c AS (
          |  SELECT b, cnt,
          |    CAST(coalesce(sum(cnt) OVER (ORDER BY b
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          |      AS BIGINT) AS cum_before
          |  FROM b
          |), p AS (SELECT unnest([1, 5, 25, 50, 75, 95, 99]) AS pct
          |), t AS (
          |  SELECT pct, n AS n_total,
          |    CAST((n * pct + 99) // 100 AS BIGINT) AS target_rank
          |  FROM p CROSS JOIN n
          |), est AS (
          |  SELECT t.pct, t.n_total, t.target_rank,
          |    CAST(c.b * 100000 +
          |      ((t.target_rank - c.cum_before) * 100000) // c.cnt
          |      AS BIGINT) AS est_cents
          |  FROM t JOIN c ON t.target_rank > c.cum_before
          |    AND t.target_rank <= c.cum_before + c.cnt
          |), r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM v
          |), ex AS (
          |  SELECT t.pct, r.v AS exact_cents FROM t JOIN r
          |    ON r.rn = t.target_rank)
          |SELECT e.pct, e.n_total, e.target_rank, e.est_cents,
          |  x.exact_cents, abs(e.est_cents - x.exact_cents) AS abs_err_cents
          |FROM est e JOIN ex x USING (pct) ORDER BY e.pct""".stripMargin

  /** `lang_id_ngram` / `lang_id_confusion` shared oracle: Cavnar-
    * Trenkle rank profiles + out-of-place argmin, per document. */
  private[graft] lazy val langIdNgramOracle: String =
    s"""WITH g AS MATERIALIZED (
          |  SELECT doc_id, lang, unnest(list_concat(
          |    CASE WHEN length(text) >= 2 THEN
          |      list_transform(generate_series(1, length(text) - 1), i -> substr(text, i, 2))
          |      ELSE [] END,
          |    CASE WHEN length(text) >= 3 THEN
          |      list_transform(generate_series(1, length(text) - 2), i -> substr(text, i, 3))
          |      ELSE [] END)) AS gram
          |  FROM documents),
          |lp AS MATERIALIZED (
          |  SELECT lang, gram, r FROM (
          |    SELECT lang, gram,
          |      row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, gram) AS r
          |    FROM g WHERE doc_id < ${operators.TextAnalysis.LangIdTrainDocs}
          |    GROUP BY lang, gram) WHERE r <= 100),
          |dp AS MATERIALIZED (
          |  SELECT doc_id, gram, r FROM (
          |    SELECT doc_id, gram,
          |      row_number() OVER (PARTITION BY doc_id ORDER BY count(*) DESC, gram) AS r
          |    FROM g GROUP BY doc_id, gram) WHERE r <= 100),
          |langs AS (SELECT DISTINCT lang FROM documents
          |          WHERE doc_id < ${operators.TextAnalysis.LangIdTrainDocs}),
          |d AS (
          |  SELECT dp.doc_id, langs.lang,
          |    sum(CASE WHEN lp.r IS NULL THEN 100 ELSE abs(dp.r - lp.r) END) AS dist
          |  FROM dp CROSS JOIN langs
          |  LEFT JOIN lp ON lp.lang = langs.lang AND lp.gram = dp.gram
          |  GROUP BY 1, 2),
          |best AS (
          |  SELECT doc_id, lang, dist,
          |    row_number() OVER (PARTITION BY doc_id ORDER BY dist, lang) AS rb
          |  FROM d)
          |SELECT documents.doc_id, documents.lang AS lang_label,
          |  coalesce(best.lang, (SELECT min(lang) FROM langs)) AS lang_pred,
          |  CAST(coalesce(best.dist, 0) AS BIGINT) AS best_dist
          |FROM documents
          |LEFT JOIN best ON best.doc_id = documents.doc_id AND best.rb = 1
          |ORDER BY documents.doc_id""".stripMargin
}
