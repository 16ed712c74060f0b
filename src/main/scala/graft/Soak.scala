package graft

import graft.operators.CacheScope

/** Dev utility: the LONG-LIVED-SESSION soak (VERDICT r11 item 9). Runs
  * the ENTIRE registered query surface N times (default 2) inside ONE
  * JVM/session — the multi-query server shape the per-round Verify/Bench
  * runs never exercise end-to-end — and reports, after each pass:
  * retained heap (post-GC), CacheManager/RDD persist counts, Spark
  * local scratch (blockmgr/spark tmp dirs), and the warehouse +
  * metastore footprint. A leak class the per-query teardown hides shows
  * up as pass-over-pass growth in one of these columns; stable columns
  * across passes are the pass criterion.
  *
  * Usage: `runMain graft.Soak [sfDir] [passes]`.
  */
object Soak {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val passes = args.lift(1).map(_.toInt).getOrElse(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = Bench.sessionBuilder(s"local[$cpus]",
        Bench.scaledShufflePartitions(sfDir, cpus.toInt).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def scratchMB: Long = {
      // scan the dirs Spark ACTUALLY spills to (r12 advice: a
      // spark.local.dir/SPARK_LOCAL_DIRS override elsewhere made the
      // hardcoded java.io.tmpdir scan silently measure nothing)
      val roots = (spark.conf.getOption("spark.local.dir").toSeq ++
          sys.env.get("SPARK_LOCAL_DIRS").toSeq)
        .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty) match {
        case Nil => Seq(System.getProperty("java.io.tmpdir", "/tmp"))
        case dirs => dirs.distinct
      }
      roots.map { root =>
        Option(new java.io.File(root).listFiles()).getOrElse(Array.empty)
          .filter(f => f.getName.startsWith("blockmgr-") ||
            f.getName.startsWith("spark-"))
          .map(f => Bench.dirMB(f.getAbsolutePath)).sum
      }.sum
    }
    def warehouseMB: Long =
      Bench.dirMB("spark-warehouse") + Bench.dirMB("metastore_db")

    for (p <- 1 to passes) {
      var failed = 0
      val t0 = System.nanoTime()
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        val before = spark.sparkContext.getPersistentRDDs.keySet
        try Bench.materialize(fn(spark, sfDir))
        catch { case e: Throwable =>
          failed += 1
          System.err.println(s"[soak] $name failed: ${Bench.describeFailure(e)}")
        }
        // NOTE: deliberately NO clearCache — the soak exists to prove
        // that the scope releases every operator persist. The scope's
        // release is synchronous, so whatever is persisted now and was
        // not before is this query's leak.
        val leaked =
          spark.sparkContext.getPersistentRDDs.keySet -- before
        if (leaked.nonEmpty)
          println(s"[soak-leak] $name left ${leaked.size} persistent " +
            s"RDD(s): ${leaked.toSeq.sorted.mkString(",")}")
      }
      val secs = (System.nanoTime() - t0) / 1e9
      // the heap figure: the pause lets Spark's cleaner drop the blocks
      // the first GC released before the second GC counts
      System.gc(); Thread.sleep(500); System.gc()
      // survivors of the whole pass; RDD.toString carries the creation
      // site — the attribution that matters
      spark.sparkContext.getPersistentRDDs.toSeq.sortBy(_._1)
        .foreach { case (id, rdd) =>
          println(s"[soak-survivor] pass=$p rdd=$id $rdd")
        }
      val rt = Runtime.getRuntime
      val heapMB = (rt.totalMemory - rt.freeMemory) / (1024 * 1024)
      println(f"""{"soak_pass":$p,"n_queries":${SparkEntry.queries.size},"failed":$failed,"secs":$secs%.1f,"heap_mb":$heapMB,"persistent_rdds":${spark.sparkContext.getPersistentRDDs.size},"scratch_mb":$scratchMB,"warehouse_mb":$warehouseMB}""")
    }
    // AUDIT-QUERY ROT GUARD (r17, VERDICT r16 item 5): the
    // `auditQueries` counter-receipts have no oracle row, no bench row,
    // and no unit test — a refactor could break them silently and their
    // ScaleAudit evidentiary value with them. Every soak therefore
    // executes each one once at the soak SF and FAILS the process on a
    // throw or an empty result (an audit query that returns nothing is
    // as rotten as one that crashes — its receipt would compare noise).
    var auditFailed = 0
    SparkEntry.auditQueries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val n = CacheScope { fn(spark, sfDir).count() }
        if (n == 0L) {
          auditFailed += 1
          System.err.println(s"[soak-audit] $name returned 0 rows")
        } else println(s"[soak-audit] $name ok ($n rows)")
      } catch { case e: Throwable =>
        auditFailed += 1
        System.err.println(s"[soak-audit] $name failed: ${Bench.describeFailure(e)}")
      }
    }
    println(s"""{"soak_audit_queries":${SparkEntry.auditQueries.size},"audit_failed":$auditFailed}""")
    spark.stop()
    if (auditFailed > 0) sys.exit(1)
  }
}
