package graft

import org.apache.spark.sql.SparkSession

/** One shared SparkSession for the whole test run, on the engine's one
  * session posture ([[Bench.sessionBuilder]]). */
object Specs {
  lazy val spark: SparkSession = {
    val s = Bench.sessionBuilder("local[4]", "4").appName("graft-tests")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
