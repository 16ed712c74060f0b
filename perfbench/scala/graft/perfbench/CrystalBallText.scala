package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{count, lit, sum}
import graft.operators.{CoOccurrence, CrystalBall}
import graft.sources.{BasketSource, GoldenSink}

/** `crystalball_text`: the reference job itself. Seeded reference-format
  * basket text goes through `CrystalBallApp`'s dataflow — parse, window
  * counts, normalization persisted once, then the pair, stripe and hybrid
  * text outputs. Product ids are strings by nature here.
  */
final class CrystalBallText(ctx: Ctx) extends Workload(ctx) {
  val Baskets = 2000
  val Catalog = 3000
  val MinLen = 5
  val MaxLen = 25
  val ZipfS = 1.0

  private val input = ctx.path("input/baskets.txt")
  private val out = ctx.path("out")
  private val outputs = Seq("CrystalBallPair", "CrystalBallStripe", "CrystalBallHybrid")
  private var baskets: Array[Array[String]] = _
  private val plainS = collection.mutable.ArrayBuffer[Double]()
  // the first pass after two is still about a tenth slower
  override def warmupUnits: Int = 3

  def prepare(): Unit = {
    baskets = Gen.baskets(ctx.seed, Baskets, Catalog, MinLen, MaxLen, ZipfS)
    Files.createDirectories(Paths.get(input).getParent)
    Files.write(Paths.get(input), baskets.indices
      .map(i => Gen.basketLine(i, baskets(i))).asJava, UTF_8)
  }

  /** The three reference outputs, written from the persisted relation
    * exactly as `CrystalBallApp` lays them out; returns each write's
    * seconds.
    */
  private def writeOutputs(probs: DataFrame): Seq[Double] = {
    val stripes = CrystalBall.stripeShape(probs)
    def layout(df: DataFrame, n: Int) =
      GoldenSink.rangePartitioned(df, n).sortWithinPartitions("product")
    Seq(
      Stats.secs(GoldenSink.writeText(GoldenSink.pairLines(
        GoldenSink.rangePartitioned(probs, 3)
          .sortWithinPartitions("product", "neighbor")), s"$out/${outputs(0)}")),
      Stats.secs(GoldenSink.writeText(
        GoldenSink.stripeLines(layout(stripes, 3)), s"$out/${outputs(1)}")),
      Stats.secs(GoldenSink.writeText(
        GoldenSink.stripeLines(layout(stripes, 2)), s"$out/${outputs(2)}")))
  }

  def unit(tracer: Option[Tracer]): Unit = ctx.op("crystalball job") {
    val b = BasketSource.fromText(spark, input)
    tracer match {
      case None =>
        val (_, s) = Stats.timed {
          val probs = CrystalBall.normalize(CoOccurrence.counts(b)).persist()
          try writeOutputs(probs) finally probs.unpersist()
        }
        plainS += s
      case Some(t) =>
        // each boundary materializes its layer's output; a layer's self
        // time is its boundary's time minus the previous boundary's
        val parse = Stats.secs(t.span("sources.basket_parse")(ctx.materialize(b.toDF())))
        val counts = CoOccurrence.counts(b)
        val (agg, counted) = Stats.timed(t.span("operators.pair_count")(
          counts.agg(count(lit(1)), sum("cnt")).collect().head))
        val probs = CrystalBall.normalize(counts).persist()
        try {
          val normalized = Stats.secs(t.span("operators.normalize")(ctx.materialize(probs)))
          val stripe = Stats.secs(t.span("operators.stripe")(
            ctx.materialize(CrystalBall.stripeShape(probs))))
          val writes = t.span("sources.sink")(writeOutputs(probs))
          // the stripe and hybrid writes each rebuild the stripes
          val sink = writes.sum - 2 * stripe
          traced += Map(
            "sources.read_s" -> parse,
            "sources.basket_parse_s" -> parse,
            "operators.pair_count_s" -> (counted - parse),
            "operators.normalize_s" -> (normalized - counted),
            "operators.stripe_s" -> stripe,
            "operators.self_s" -> (normalized - parse + stripe),
            "operators.window_pairs" -> agg.getLong(1).toDouble,
            "operators.distinct_pairs" -> agg.getLong(0).toDouble,
            "sources.sink_s" -> sink,
            "sources.sink_mb" -> partFiles.map(Files.size(_)).sum / Stats.MB,
            "sources.table_files" -> partFiles.size.toDouble)
        } finally probs.unpersist()
    }
  }

  def discardSamples(): Unit = plainS.clear()

  private def partFiles: Seq[Path] = outputs.flatMap { o =>
    Files.list(Paths.get(s"$out/$o")).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq
  }

  private def lines(output: String): Iterator[String] =
    Files.list(Paths.get(s"$out/$output")).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-"))
      .flatMap(p => Files.readAllLines(p, UTF_8).asScala)

  /** Stripe line `a\t{(b, p), (c, q), }` → (a, Σ p). */
  private def stripeSum(line: String): (String, Double) = {
    val Array(product, body) = line.split("\t", 2)
    val entries = body.stripPrefix("{").stripSuffix("}").split("\\), ")
      .filter(_.nonEmpty)
    product -> entries.map(e => e.stripPrefix("(").split(", ")(1).toDouble).sum
  }

  def verify(): Unit = {
    val want = Model.probs(Model.counts(baskets))
    val pairLine = """\[(.+), (.+)\]\t(.+)""".r
    val parsed = lines(outputs(0)).map {
      case pairLine(a, b, p) => (a, b) -> p.toDouble
      case other => ctx.problems += s"bad pair line: $other"; ("", "") -> Double.NaN
    }.toSeq
    val got = parsed.toMap
    // the line count guards against a pair written twice, which toMap hides
    ctx.check(parsed.size == want.size && got == want, s"pair output differs " +
      s"from the model: ${parsed.size} lines, ${got.size} distinct pairs, " +
      s"${want.size} model pairs, ${got.count { case (k, v) => !want.get(k).contains(v) }} differ")
    val products = want.keySet.map(_._1)
    outputs.tail.foreach { o =>
      val sums = lines(o).map(stripeSum).toSeq
      ctx.check(sums.map(_._1).toSet == products && sums.size == products.size,
        s"$o: ${sums.size} stripes for ${products.size} products")
      sums.filter { case (_, s) => math.abs(s - 1.0) > 1e-9 }.take(3).foreach {
        case (p, s) => ctx.problems += s"$o: stripe of $p sums to $s"
      }
    }
  }

  def inputs: Obj = Obj(
    "rows" -> Baskets,
    "bytes" -> Files.size(Paths.get(input)),
    "input_splits" -> spark.read.textFile(input).rdd.getNumPartitions,
    "catalog" -> Catalog,
    "basket_len" -> Seq(MinLen, MaxLen),
    "zipf_s" -> ZipfS,
    "seed" -> ctx.seed)

  def endToEnd: Seq[Metric] = Seq(
    Metric("records_per_s", Baskets / Stats.median(plainS.toSeq), "records/s"),
    Metric("latency_p50_ms", Stats.median(plainS.toSeq) * 1000.0, "ms"))

  def detail: Obj = Obj(
    "unit" -> "one pass of the reference job",
    "passes" -> plainS.size,
    "layers" -> Obj(Seq("sources.basket_parse_s", "operators.window_pairs",
      "operators.distinct_pairs", "operators.pair_count_s",
      "operators.normalize_s", "operators.stripe_s", "sources.sink_s",
      "sources.sink_mb").filter(_ => traced.nonEmpty)
      .map(k => k -> Stats.median(traced.map(_(k)).toSeq)): _*))
}
