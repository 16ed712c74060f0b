package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev utility: the NEXT-DECADE scaling audit (sf0.1 × 10 ≈ sf1
  * equivalent) for the co-occurrence + dedup + graph head queries.
  *
  * Replication is shape-honest, not a byte copy: replica i shifts
  * l_orderkey / l_partkey / doc_id into a disjoint key range (10× more
  * baskets AND 10× more products/graph nodes — growth adds new
  * entities, it does not just reweight old ones) and rewrites document
  * vowels by a per-replica rotation (so replicas are independent
  * corpora to the shingle/minhash family, not an artificial 10-way
  * exact-dup megacluster; replicas i and i+5 share a rotation, which
  * contributes one exact-dup partner per doc — a realistic, LINEAR
  * near-dup load).
  *
  * Inputs are MATERIALIZED as parquet so the audited plans run the same
  * scan→shuffle path as the bench, then each named query is timed with
  * Bench's min-of-2 + GC discipline at sf0.1 and at the replicated dir.
  * Usage: `runMain graft.ScaleAudit [query...]` (default: the head set).
  *
  * SECOND NOTCH: `runMain graft.ScaleAudit x100 [query...]` replicates
  * the x10 corpus ANOTHER 10× (sf1 × 10 ≈ sf10-equivalent — 100× the
  * bench SF) into SPARK_GRAFT_X100_DIR (default /tmp/graft_sf10) with a
  * second disjoint key-shift decade (shift unit 2⁴⁴ / 10⁸ / 10⁷, all
  * strictly above the first decade's ranges), and times x10 vs x100 —
  * the ratio column reads ~10× for a linear operator exactly like the
  * first notch.
  */
object ScaleAudit {

  private val Heads = Seq("cooccur_counts", "crystalball_pairs",
    "dedup_keep", "dedup_clusters", "ngram_jaccard", "page_rank",
    "triangle_count", "assoc_rules", "fpgrowth_rules", "link_rank")

  /** The x100 head set: the 5 most expensive scale-audited operators
    * (VERDICT r10 item 9) + the re-bounded fpgrowth_rules.
    */
  private val X100Heads = Seq("cooccur_counts", "dedup_clusters",
    "page_rank", "assoc_rules", "entity_clusters", "fpgrowth_rules")

  /** `runMain graft.ScaleAudit dupheavy`: the duplicate-heavy probe for
    * the MinHash hot-bucket cap (VERDICT r11 item 1). Builds a corpus
    * whose near-dup CLASSES grow with the data — sf0.01 documents
    * replicated `DupReplicas`× with shifted ids and UNROTATED text, so
    * every document sits in an exact-dup class of 1000 — and times
    * `minhashLsh` with the default cap against the effectively-uncapped
    * form. Uncapped, each class contributes C(1000,2)·4 band candidate
    * rows (Σ n_bucket² arithmetic — the r11 simhash OOM, reproduced for
    * minhash); capped, C(64,2)·4 — bounded no matter how large classes
    * grow. The capped row is the product; the uncapped row is expected
    * to degrade or die, and the probe prints the capped result FIRST so
    * a dead uncapped JVM still leaves the evidence.
    */
  private val DupReplicas = 1000

  private def dupHeavyProbe(spark: SparkSession): Unit = {
    val docs = spark.read
      .parquet("/root/testdata/sf0.01/documents.parquet")
      .select(col("doc_id"), col("text"))
    val corpus = docs.crossJoin(
        spark.range(DupReplicas.toLong).select(col("id").as("rep")))
      .select((col("doc_id") + col("rep") * lit(10000000L)).as("doc_id"),
        col("text"))
    def time(label: String, maxBucket: Int): Unit = {
      System.gc()
      val t0 = System.nanoTime()
      val n = graft.operators.Dedup
        .minhashLsh(corpus, maxBucket = maxBucket).count()
      println(f"| dupheavy minhash_lsh $label | ${(System.nanoTime() - t0) / 1e9}%.2f s | $n rows |")
    }
    time("capped(64)", graft.operators.Dedup.MaxBandBucket)
    time("uncapped", 1 << 28)
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("dupheavy")) {
      val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
      // the replicated corpus is DupReplicas× the sf0.01 parquet —
      // apply the default partition rule to its LOGICAL volume
      val spark = Bench.sessionBuilder(s"local[$cpus]",
          sys.env.getOrElse("SPARK_GRAFT_SHUFFLE",
            Bench.partitionsForMB(
              Bench.dirMB("/root/testdata/sf0.01/documents.parquet") *
                DupReplicas, cpus.toInt).toString))
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      dupHeavyProbe(spark)
      spark.stop()
      return
    }
    val x100 = args.headOption.contains("x100")
    val rest = if (x100) args.drop(1).toSeq else args.toSeq
    val names =
      if (rest.nonEmpty) rest
      else if (x100) X100Heads
      else Heads
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_X10_DIR", "/tmp/graft_sf1")
    // sf-proportional default per notch (Bench.scaledShufflePartitions;
    // re-set per timed dir below). SPARK_GRAFT_SHUFFLE overrides.
    val spark = Bench.sessionBuilder(s"local[$cpus]",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE",
          Bench.scaledShufflePartitions(sfDir, cpus.toInt).toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000L).selectExpr("sum(id)").collect()

    // _SUCCESS, not bare directory existence: a killed prior replication
    // leaves a partial directory that would silently time a truncated
    // replicated corpus
    def missingIn(dir: String)(t: String) =
      !new java.io.File(s"$dir/$t.parquet/_SUCCESS").exists()
    // One replication decade src → dst: 10 shifted replicas per table,
    // each decade's shift units strictly above the previous decade's key
    // ranges so replicas never collide across notches.
    def replicateDecade(srcDir: String, dstDir: String, orderShift: Long,
        docShift: Long, userShift: Long): Unit = {
      val missing = missingIn(dstDir) _
      if (missing("lineitem")) {
        val li = spark.read.parquet(s"$srcDir/lineitem.parquet")
        (0 until 10).map { i =>
          li.withColumn("l_orderkey", col("l_orderkey") + lit(i.toLong * orderShift))
            .withColumn("l_partkey", col("l_partkey") + lit(i.toLong * orderShift))
        }.reduce(_ unionByName _)
          .write.mode("overwrite").parquet(s"$dstDir/lineitem.parquet")
      }
      if (missing("documents")) {
        val docs = spark.read.parquet(s"$srcDir/documents.parquet")
        def rot(i: Int) = { val v = "aeiou"; val k = i % 5; v.drop(k) + v.take(k) }
        (0 until 10).map { i =>
          docs.withColumn("doc_id", col("doc_id") + lit(i.toLong * docShift))
            .withColumn("text", translate(col("text"), "aeiou", rot(i)))
        }.reduce(_ unionByName _)
          .write.mode("overwrite").parquet(s"$dstDir/documents.parquet")
      }
      // events: 10× more users, event-time span preserved (replicas are
      // new user populations, not a longer history — state-size growth,
      // which is what stateful/fold operators must survive)
      if (missing("events")) {
        val ev = spark.read.parquet(s"$srcDir/events.parquet")
        (0 until 10).map { i =>
          ev.withColumn("event_id", col("event_id") + lit(i.toLong * orderShift))
            .withColumn("user_id", col("user_id") + lit(i.toLong * userShift))
        }.reduce(_ unionByName _)
          .write.mode("overwrite").parquet(s"$dstDir/events.parquet")
      }
      // embeddings: 10× more vectors, ids shifted in step with the
      // documents decade so doc↔vec alignment survives replication;
      // replicas are exact duplicate vectors — the duplicate-heavy shape
      // the ANN/semantic-dedup family must survive
      if (missing("embeddings") &&
          new java.io.File(s"$srcDir/embeddings.parquet").exists()) {
        val emb = spark.read.parquet(s"$srcDir/embeddings.parquet")
        (0 until 10).map { i =>
          emb.withColumn("vec_id", col("vec_id") + lit(i.toLong * docShift))
        }.reduce(_ unionByName _)
          .write.mode("overwrite").parquet(s"$dstDir/embeddings.parquet")
      }
      // orders: 10× more customers AND orders (frontier/agg families)
      if (missing("orders")) {
        val ord = spark.read.parquet(s"$srcDir/orders.parquet")
        (0 until 10).map { i =>
          ord.withColumn("o_orderkey", col("o_orderkey") + lit(i.toLong * orderShift))
            .withColumn("o_custkey", col("o_custkey") + lit(i.toLong * userShift))
        }.reduce(_ unionByName _)
          .write.mode("overwrite").parquet(s"$dstDir/orders.parquet")
      }
      // customer: replicated IN STEP with orders' o_custkey shift, so
      // customer-joining queries (cbo_reorder, q3_topk, ...) audit too
      // (r14 — previously missing, caught by cbo_reorder's x10 row)
      if (missing("customer")) {
        val cust = spark.read.parquet(s"$srcDir/customer.parquet")
        (0 until 10).map { i =>
          cust.withColumn("c_custkey", col("c_custkey") + lit(i.toLong * userShift))
        }.reduce(_ unionByName _)
          .write.mode("overwrite").parquet(s"$dstDir/customer.parquet")
      }
      // part: in step with lineitem's l_partkey shift
      if (missing("part")) {
        val part = spark.read.parquet(s"$srcDir/part.parquet")
        (0 until 10).map { i =>
          part.withColumn("p_partkey", col("p_partkey") + lit(i.toLong * orderShift))
        }.reduce(_ unionByName _)
          .write.mode("overwrite").parquet(s"$dstDir/part.parquet")
      }
      // dimension tables: copied verbatim — no replicated key references
      // them with a shift (c_nationkey / l_suppkey are never shifted)
      for (dim <- Seq("nation", "region", "supplier") if missing(dim))
        spark.read.parquet(s"$srcDir/$dim.parquet")
          .write.mode("overwrite").parquet(s"$dstDir/$dim.parquet")
    }
    val out100Dir = sys.env.getOrElse("SPARK_GRAFT_X100_DIR", "/tmp/graft_sf10")
    replicateDecade(sfDir, outDir,
      orderShift = 1L << 40, docShift = 10000000L, userShift = 1000000L)
    if (x100)
      replicateDecade(outDir, out100Dir,
        orderShift = 1L << 44, docShift = 100000000L, userShift = 10000000L)

    def time(name: String, dir: String): Double = {
      // the sf-proportional partition rule, applied PER NOTCH: each dir
      // is timed at its own scaled count (the r12 default), unless the
      // experiment pinned one via SPARK_GRAFT_SHUFFLE
      if (!sys.env.contains("SPARK_GRAFT_SHUFFLE"))
        spark.conf.set("spark.sql.shuffle.partitions",
          Bench.scaledShufflePartitions(dir, cpus.toInt))
      // audit-only receipts (serve-everything IVFPQ twins, flat-auto
      // serve) resolve from the unregistered map — same timing path
      val fn = SparkEntry.queries.getOrElse(name, SparkEntry.auditQueries(name))
      val runs = (1 to 2).map { _ =>
        System.gc()
        val t0 = System.nanoTime()
        fn(spark, dir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        dt
      }
      runs.min
    }
    val (baseDir, bigDir, baseLbl, bigLbl) =
      if (x100) (outDir, out100Dir, "x10", "x100")
      else (sfDir, outDir, "sf0.1", "x10")
    println(s"| query | $baseLbl | $bigLbl | ratio |")
    println("|---|---|---|---|")
    for (n <- names) {
      // a failing query must surface as its own row, never abort the
      // remaining audit heads (r12: rrf_fusion killed an 12-head run
      // because the x10 dir predated embeddings replication). Only
      // NON-fatal failures continue: after an OutOfMemoryError or
      // similar the shared JVM/SparkContext may be corrupted, and
      // timing further heads in it would print unreliable rows as if
      // they were normal results (r12 advice).
      try {
        val base = time(n, baseDir)
        val big = time(n, bigDir)
        println(f"| `$n` | $base%.2f s | $big%.2f s | ${big / base}%.1f× |")
      } catch {
        case scala.util.control.NonFatal(e) =>
          println(s"| `$n` | FAILED | ${e.getClass.getSimpleName}: " +
            s"${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString} | — |")
        case fatal: Throwable =>
          println(s"| `$n` | FATAL | ${fatal.getClass.getSimpleName} — " +
            "aborting: remaining heads would time in a corrupted JVM |")
          spark.stop()
          throw fatal
      }
    }
    spark.stop()
  }
}
