package graft
import graft.operators.CacheScope
import org.apache.spark.sql.{DataFrame, SparkSession}
object Bench {

  /** Total on-disk size of a corpus directory, in MB. */
  private[graft] def dirMB(dir: String): Long = {
    def size(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(size).sum).getOrElse(0L)
      else f.length()
    val root = new java.io.File(dir)
    if (root.exists()) size(root) / (1024L * 1024L) else 0L
  }

  /** The shuffle-partition rule: one partition per ~45 MB of source
    * parquet, floored at `floor` and capped at 1024, so the partition
    * count scales with data. 45 MB is calibrated by experiment on the
    * bench corpus and the x100 audit corpus (BENCH_NOTES r12): finer
    * rules lost on iterative operators, which shuffle far less than the
    * corpus and pay per-partition overhead every round. On a real
    * cluster AQE (with the cached-plan flag set below) is the finer
    * mechanism.
    */
  private[graft] def partitionsForMB(mb: Long, floor: Int): Int =
    math.max(floor, math.min(1024L, mb / 45L).toInt)

  /** [[partitionsForMB]] of a corpus directory, floored at the core count. */
  private[graft] def scaledShufflePartitions(dir: String, cpus: Int): Int =
    partitionsForMB(dirMB(dir), cpus)

  /** A failure's report for stderr: the exception's class and message,
    * its root cause's class and message, and the root cause's top 5
    * frames. */
  private[graft] def describeFailure(e: Throwable): String = {
    def line(t: Throwable) = s"${t.getClass.getName}: ${t.getMessage}"
    // bounded: a cause chain may loop back on itself
    val root = Iterator.iterate(e)(_.getCause)
      .takeWhile(_ != null).take(64).toSeq.last
    (Seq(line(e), s"root cause ${line(root)}") ++
      root.getStackTrace.take(5).map(f => s"  at $f")).mkString("\n")
  }

  /** The ONE engine session posture: every SparkSession the project
    * configures is built here, so a config fix can never miss a caller.
    * Callers: the mains Bench, Verify, Soak, ScaleAudit, Explain and
    * CrystalBallApp, the test suite's `Specs`, and perfbench.
    *  - `shufflePartitions`: the sf-proportional default (callers pass
    *    [[scaledShufflePartitions]], the SPARK_GRAFT_SHUFFLE pin, or
    *    the core count);
    *  - cached-plan AQE re-partitioning ON: iterative operators cache
    *    relations whose per-round shuffles are far smaller than the
    *    corpus, and without the flag the cache pins an oversized
    *    partition count out of AQE's reach (measured: page_rank x100
    *    71.2 s pinned vs 56.7 s with the flag, at the over-partitioned
    *    131 config);
    *  - bucketed scans stay ON even when no operator needs the
    *    distribution: Spark's DisableUnnecessaryBucketedScan weighs
    *    only distribution/sort benefit, never bucket PRUNING, and the
    *    engine's persisted indexes (postings, bands, IVF cells) are
    *    bucketed precisely so equality lookups read one bucket's files;
    *  - UTC + nanos-as-long (events.parquet stores TIMESTAMP(NANOS)).
    */
  private[graft] def sessionBuilder(master: String,
      shufflePartitions: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // recursion allowance as an ENGINE bound, not a per-query LIMIT
      // wrapper (r18): a LIMIT on the recursive reference lifts the 1M
      // default but plans Exchange(SinglePartition)+GlobalLimit below
      // the consumer — the whole recursion output funnels through one
      // task. The conf bound keeps the fail-loudly posture (UnionLoop
      // THROWS past it, where an undersized LIMIT would silently
      // truncate) with no plan funnel; 1e8 rows ≈ 25 levels x 4M seed
      // orders, far past the x100 audit's 37.5M.
      .config("spark.sql.cteRecursionRowLimit", "100000000")
      .config("spark.ui.enabled", "false")

  /** Runs one query to completion inside its own [[CacheScope]]: a full
    * materialization through the noop sink. A `count()` would let the
    * optimizer prune whatever the row count does not need (a window, a
    * sort, an aggregation above the rows). Bench, ScaleAudit and Soak's
    * query pass time and drive queries through it.
    */
  private[graft] def materialize(query: => DataFrame): Unit =
    CacheScope { query.write.format("noop").mode("overwrite").save() }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = sessionBuilder(s"local[$cpus]",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE",
          scaledShufflePartitions(sfDir, cpus.toInt).toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm the JVM/codegen paths so the first timed query doesn't pay
    // session startup (classloading, codegen compiler init).
    spark.range(1000000L).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1).collect()
    // MLlib's FPGrowth estimator JIT-compiles a large code path on first
    // fit; measured cold-vs-warm gap on the real query is 2x (12.6 s vs
    // 6.4 s at sf0.1) and it was the one query still able to exceed 2x
    // its isolated number in the shared artifact. r7's toy-fit warm-up
    // (3 in-memory 2-item baskets) demonstrably did NOT close that gap —
    // the committed artifact showed the cold-fit signature — because a
    // local-relation toy never touches the paths the real fit JITs:
    // parquet scan → shuffle → collect_list, the parallel FP-tree
    // partitioning, or the rule-generation join. Warm up by running THE
    // REAL QUERY CODE PATH on a bounded slice of the actual input
    // instead; clearCache releases the slice's DISK_ONLY persist before
    // timing starts.
    locally {
      graft.operators.MarketBasket.fpgrowthRules(
        spark.read.parquet(s"$sfDir/lineitem.parquet").limit(5000)).count()
      spark.catalog.clearCache()
    }
    // HOST-DRIFT CALIBRATION (r16, VERDICT r15 item 4): the ±18% uniform
    // round-over-round swings are background load, not the tree — make
    // that measurable instead of argued. A fixed CPU-bound probe
    // (range→sum-of-squares, no IO, no shuffle) is timed at the start,
    // after every 32 queries, and at the end; its MEDIAN is the run's
    // host-speed unit, and total_per_calib = total/calib_median is the
    // load-normalized figure rounds compare. Single runs, not min-of-N —
    // the probe must REFLECT current load, not hide it. Per-query 1-min
    // loadavg is recorded alongside so a single slow row can be
    // attributed to a load spike at its timestamp.
    def calibOnce(): Double = {
      val t0 = System.nanoTime()
      // double-space product: the BIGINT sum of id² overflows long at
      // this range under ANSI (Σ ≈ 8.7e22), and the probe must never
      // be able to kill a bench run
      spark.range(64000000L)
        .selectExpr("sum(CAST(id AS DOUBLE) * id)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    calibOnce() // JIT warm-up for the probe's own codegen path
    val calibSecs = scala.collection.mutable.ArrayBuffer[Double](calibOnce())
    def loadavg(): Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage
    val loadavgs = scala.collection.mutable.LinkedHashMap[String, Double]()
    def timeOnce(name: String, fn: (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame): Double = {
      // shared-JVM hygiene: collect the previous query's garbage BEFORE the
      // timer starts, so a heap full of a predecessor's debris can't tax
      // THIS query's runs (r6 saw one query at 8.6x its isolated time; GC
      // pressure is cross-query state that min-of-2 alone cannot cancel,
      // because it poisons both runs equally)
      System.gc()
      val t0 = System.nanoTime()
      val ok =
        try { materialize(fn(spark, sfDir)); true } catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${describeFailure(e)}"); false
        }
      val elapsed = (System.nanoTime() - t0) / 1e9
      // a failing query must be visible in the JSON, not look like a fast run
      if (ok) elapsed else -1.0
    }
    // the host shows ±30% run-to-run noise: report the min of two runs
    // per query (second run skipped once a query fails), plus an ADAPTIVE
    // third run when the first two disagree by >1.4x (JIT/heap state was
    // still settling — r6/r7 saw 3x shared-vs-isolated gaps on exactly
    // such queries), when the query is expensive (>2s — the audited
    // tail, where a stray inflated number distorts the artifact most),
    // or ALWAYS when the query is sub-second: r8's simhash_pairs ran
    // consistently slow under sustained host load (2.21 s shared vs
    // 0.85 s isolated) and two agreeing-but-inflated runs never tripped
    // the disagreement trigger. A third sub-second run costs <1 s and
    // buys one more chance at a calm scheduling window; sustained load
    // across all three runs remains unfixable in-process and is the
    // documented residual jitter class (BENCH_NOTES r9: tolerance 2x on
    // queries under 1 s isolated).
    // SPARK_GRAFT_ONLY=a,b,c restricts the run — the isolated-measurement
    // harness BENCH_NOTES numbers come from (same warm-ups, same timing
    // discipline, no shared-bench neighbors)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only.fold(SparkEntry.queries)(names =>
      SparkEntry.queries.filter { case (n, _) => names(n) })
    var sinceCalib = 0
    val results = selected.map { case (name, fn) =>
      loadavgs(name) = loadavg()
      sinceCalib += 1
      if (sinceCalib >= 32) { sinceCalib = 0; calibSecs += calibOnce() }
      val first = timeOnce(name, fn)
      val best =
        if (first < 0) first
        else {
          // a transient second-run failure must not discard a valid
          // first measurement
          val second = timeOnce(name, fn)
          if (second < 0) first
          else {
            val best2 = math.min(first, second)
            if (best2 < 1.0 || math.max(first, second) / best2 > 1.4 || best2 > 2.0) {
              val third = timeOnce(name, fn)
              if (third < 0) best2 else math.min(best2, third)
            } else best2
          }
        }
      name -> best
    }
    calibSecs += calibOnce()
    val calibMedian = {
      val s = calibSecs.sorted
      s(s.size / 2)
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val failed = results.count(_._2 < 0)
    val totalPerCalib = if (calibMedian > 0) total / calibMedian else 0.0
    println(s"""{"metric":"total","value":$total,"unit":"sec","calib_sec":$calibMedian,"total_per_calib":$totalPerCalib,"queries":$qs,"sf":"$sfDir"}""")
    // The driver's tail capture truncates the HEAD of long output (the
    // full line above lost its `total` in round 3; name-sorted per-query
    // lines lost everything alphabetically before 'pipeline_clean' in
    // rounds 5-6). Emit one compact line PER QUERY ordered FASTEST-FIRST,
    // so whatever the truncation keeps is the tail with the slowest —
    // most auditable — queries (failures sort first as -1; if they are
    // cut, n_failed on the final line still reports them)...
    results.toSeq.sortBy { case (_, sec) => sec }.foreach { case (name, sec) =>
      println(s"""{"q":"$name","sec":$sec}""")
    }
    // ...and repeat the totals as a compact map-free line LAST so the
    // summary always survives.
    println(s"""{"metric":"total_compact","value":$total,"unit":"sec","n_queries":${results.size},"n_failed":$failed,"calib_sec":$calibMedian,"total_per_calib":$totalPerCalib,"sf":"$sfDir"}""")
    // The stdout tail capture keeps only ~the slowest 15% of per-query
    // lines, so cross-round drift for most of the surface was invisible.
    // Persist the FULL name→sec map as a durable artifact in the repo
    // tree (committed per round; BENCH_r{N}.json stays the graded tail).
    val timesPath = sys.env.getOrElse("SPARK_GRAFT_TIMES_OUT", "bench_times.json")
    val calibJson = calibSecs.map(v => f"$v%.4f").mkString("[", ",", "]")
    val loadJson = loadavgs.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val timesJson = results.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":$v""" }.mkString(
        s"""{"total_sec":$total,"n_queries":${results.size},"n_failed":$failed,"sf":"$sfDir","calib_sec":$calibMedian,"calib_secs":$calibJson,"total_per_calib":$totalPerCalib,"loadavg":$loadJson,"queries":{""",
        ",", "}}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(timesPath), timesJson)
    spark.stop()
  }
}
