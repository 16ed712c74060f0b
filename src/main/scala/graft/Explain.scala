package graft

/** Dev tool: dump `.explain("formatted")` for named queries so plan
  * quality (pushdown, pruning, broadcast, codegen spans) can be reviewed.
  * The session is Bench's posture at Bench's shuffle width, and the
  * default SF is the bench SF, so the plans printed are the plans Bench
  * times.
  * Usage: runMain graft.Explain [sfDir] [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Bench.sessionBuilder(s"local[$cpus]",
        Bench.scaledShufflePartitions(sfDir, cpus.toInt).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      println(s"\n========== $name ==========")
      // some builders (ML estimators) run eagerly and can fail — keep
      // dumping the remaining plans
      try SparkEntry.queries(name)(spark, sfDir).explain("formatted")
      catch { case e: Throwable =>
        System.err.println(s"[explain] $name failed to build: ${Bench.describeFailure(e)}")
      }
      // plan-only builds never consume the operators' self-releasing
      // persists — drop the armed listeners instead of leaving each one
      // to tax every subsequent action with a sameResult tree walk
      graft.operators.CacheScope.releaseAll()
    }
    spark.stop()
  }
}
