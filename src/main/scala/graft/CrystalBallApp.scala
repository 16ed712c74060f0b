package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{CoOccurrence, CrystalBall}
import graft.sources.{BasketSource, GoldenSink}

/** Drop-in replacement for the reference's three jobs (`run.sh:7-13`):
  * reads the basket text file and writes the Pairs / Stripes / Hybrid
  * outputs in the reference's own formats and file layout, so a user of
  * the original jars can switch by replacing
  *
  *   `hadoop jar CrystalBall<variant>.jar CrystalBall<variant> …`
  *
  * with
  *
  *   `graft.CrystalBallApp <inputPath> <outputDir>`
  *
  * One Spark app produces all three variants (they are the same relation
  * — SURVEY.md §0): pair lines range-partitioned 3-way like the
  * reference's Pairs partitioner, stripe lines for Stripes (3-way) and
  * Hybrid (2-way).
  */
object CrystalBallApp {
  def main(args: Array[String]): Unit = {
    if (args.length != 2) {
      System.err.println("usage: graft.CrystalBallApp <inputPath> <outputDir>")
      sys.exit(2)
    }
    val Array(input, output) = args
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]"))
      .appName("crystal-ball")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val baskets = BasketSource.fromText(spark, input)
    // compute the normalized relation ONCE; the three writes reuse it
    // (no per-write recomputation of the scan + window + aggregation)
    val probs = CrystalBall.normalize(CoOccurrence.counts(baskets)).persist()
    // stripeShape's global sort is dropped by the optimizer under the
    // fixed-cut layout below, which re-sorts within each partition
    val stripes = CrystalBall.stripeShape(probs)
    // range-partition to the reference file layout, sort within each
    // partition (the reference's in-file order), then format
    def layout(df: DataFrame, n: Int) =
      GoldenSink.rangePartitioned(df, n)
        .sortWithinPartitions("product")
    GoldenSink.writeText(
      GoldenSink.pairLines(GoldenSink.rangePartitioned(probs, 3)
        .sortWithinPartitions("product", "neighbor")),
      s"$output/CrystalBallPair")
    GoldenSink.writeText(GoldenSink.stripeLines(layout(stripes, 3)),
      s"$output/CrystalBallStripe")
    GoldenSink.writeText(GoldenSink.stripeLines(layout(stripes, 2)),
      s"$output/CrystalBallHybrid")
    probs.unpersist()
    spark.stop()
  }
}
