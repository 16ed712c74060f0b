package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec,
  AdaptiveSparkPlanExec, QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.scalatest.{Outcome, TestSuite}

/** Runs each test inside one [[operators.CacheScope]], as the mains run
  * each query. */
trait CacheScoped extends TestSuite {
  override def withFixture(test: NoArgTest): Outcome =
    operators.CacheScope { super.withFixture(test) }
}

/** One shared SparkSession for the whole test run, on the engine's one
  * session posture ([[Bench.sessionBuilder]]). */
object Specs {
  lazy val spark: SparkSession = {
    val s = Bench.sessionBuilder("local[4]", "4").appName("graft-tests")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The first shuffle an executed plan reads, with the number of
    * partitions it reads. Query stages are leaves of a final adaptive
    * plan, so the walk steps into each stage's own plan.
    */
  def firstShuffleRead(plan: SparkPlan): Option[(ShuffleExchangeLike, Int)] = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case adaptive: AdaptiveSparkPlanExec => nodes(adaptive.executedPlan)
      case stage: QueryStageExec => nodes(stage.plan)
      case _ => p.children.flatMap(nodes)
    })
    nodes(plan).collectFirst {
      case read @ AQEShuffleReadExec(stage: ShuffleQueryStageExec, _) =>
        (stage.shuffle, read.partitionSpecs.size)
      case stage: ShuffleQueryStageExec =>
        (stage.shuffle, stage.shuffle.numPartitions)
    }
  }
}
