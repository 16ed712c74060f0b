package graft.perfbench

import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{CoOccurrence, CrystalBall}
import graft.sources.BasketSource

final case class Metric(name: String, value: Double, unit: String)

/** What every workload shares: the session, its work directory, the
  * operation count and the output-check verdicts.
  */
final class Ctx(val spark: SparkSession, val workDir: String, val seed: Long,
    val seconds: Int, val cores: Int) {
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer[String]()

  def path(rel: String): String = s"$workDir/$rel"

  /** One operation of the workload. A throw counts as failed and is
    * reported with its exception class and top frames.
    */
  def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"[perfbench] $what failed: $e\n" +
          e.getStackTrace.take(8).mkString("    at ", "\n    at ", ""))
        None
    }
  }

  def check(ok: Boolean, msg: => String): Unit = if (!ok) problems += msg

  /** Runs a DataFrame to completion without collecting it. */
  def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
  def secs(body: => Unit): Double = timed(body)._2
  val MB = 1024.0 * 1024.0
}

/** One benchmark workload. `prepare` builds the inputs (and any base
  * table) from the seed; `unit` is one measured unit of work, traced when
  * a tracer is given; `verify` checks the outputs the units left.
  */
abstract class Workload(val ctx: Ctx) {
  def spark: SparkSession = ctx.spark
  /** Units run before measuring, so the JIT has settled. */
  def warmupUnits: Int = 2
  def prepare(): Unit
  def unit(tracer: Option[Tracer]): Unit
  def verify(): Unit
  /** Drops the samples of the warm-up unit. */
  def discardSamples(): Unit
  def inputs: Obj
  /** End-to-end metrics other than setup_s and peak_rss_mb. */
  def endToEnd: Seq[Metric]
  /** Per-layer figures of each traced unit, by metric name. */
  val traced = mutable.ArrayBuffer[Map[String, Double]]()
  /** Figures of this workload beyond the BENCHMARK.json metrics. */
  def detail: Obj
}

object Main {
  val Workloads = Seq("crystalball_text", "lineitem_serve")
  val SetupRepeats = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing $k"))
    val workload = opt("--workload")
    require(Workloads.contains(workload),
      s"unknown workload $workload; one of ${Workloads.mkString(", ")}")
    val seed = opt("--seed").toLong
    val seconds = opt("--seconds").toInt
    val trace = opt("--trace") == "1"
    val workDir = opt("--work-dir")
    val ok = try run(workload, seed, seconds, trace, workDir, opt("--heap"))
    catch {
      case NonFatal(e) =>
        e.printStackTrace()
        false
    }
    sys.exit(if (ok) 0 else 1)
  }

  private def loadavg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage

  /** The JVM's peak resident set (VmHWM), in MB. */
  private def peakRssMb(): Double = {
    val status = scala.io.Source.fromFile("/proc/self/status")
    try status.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(sys.error("no VmHWM in /proc/self/status"))
    finally status.close()
  }

  private def fixtureCheck(ctx: Ctx): Unit = {
    val got = CrystalBall.normalize(CoOccurrence.counts(
        BasketSource.fromLines(ctx.spark, Model.FixtureLines)))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        r.getAs[Double]("prob")).toMap
    Model.fixtureProblems(got).foreach(ctx.problems += _)
  }

  def run(name: String, seed: Long, seconds: Int, trace: Boolean,
      workDir: String, heap: String): Boolean = {
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val load0 = loadavg()
    val (spark, sessionS) = Stats.timed {
      graft.Bench.sessionBuilder(s"local[$cores]", cores.toString)
        .appName("perfbench")
        .config("spark.local.dir", s"$workDir/local")
        .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, workDir, seed, seconds, cores)
    val w: Workload = name match {
      case "crystalball_text" => new CrystalBallText(ctx)
      case "lineitem_serve" => new LineitemServe(ctx)
    }

    // set-up: inputs, base table and the reference-fixture check are
    // built SetupRepeats times and the median counts; then the warm-up
    // units, which let the JIT settle before anything is measured
    val prepareS = (1 to SetupRepeats).map(_ =>
      Stats.secs { w.prepare(); fixtureCheck(ctx) })
    val warmupS = Stats.secs((1 to w.warmupUnits).foreach(_ => w.unit(None)))
    w.discardSamples()
    val setupS = sessionS + Stats.median(prepareS) + warmupS

    val tracer = if (trace) Some(new Tracer(spark)) else None
    val plainS, countedS, tracedS = mutable.ArrayBuffer[Double]()
    // a traced run rotates three kinds of unit: plain; counted, a plain
    // unit inside one span, whose Spark and driver counters describe the
    // program's own dataflow; and traced, whose inner spans give the
    // per-layer times but re-materialize every layer boundary
    val kinds = if (trace) 3 else 1
    val start = System.nanoTime()
    var n = 0
    while ((System.nanoTime() - start) / 1e9 < seconds || n < 2 * kinds) {
      (tracer, n % kinds) match {
        case (Some(t), 1) => countedS += Stats.secs(t.span("unit")(w.unit(None)))
        case (Some(t), 2) =>
          tracedS += Stats.secs(t.span("traced_unit")(w.unit(tracer)))
        case _ => plainS += Stats.secs(w.unit(None))
      }
      n += 1
    }
    val measuredS = (System.nanoTime() - start) / 1e9
    tracer.foreach(_.close())
    val verifyS = Stats.secs(w.verify())

    val metrics: Seq[Metric] = tracer match {
      case None =>
        Metric("setup_s", setupS, "s") +: w.endToEnd :+
          Metric("peak_rss_mb", peakRssMb(), "MB")
      // the listeners' cost: counted units against plain ones
      case Some(t) => layerMetrics(t, w, cores) :+
        Metric("trace.overhead_ratio",
          Stats.median(countedS.toSeq) / Stats.median(plainS.toSeq), "ratio")
    }
    val context = Obj(
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "xmx" -> heap,
      "spark_version" -> spark.version,
      "loadavg_start" -> load0,
      "loadavg_end" -> loadavg())
    println(Json(Obj(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds,
      "trace" -> (if (trace) 1 else 0),
      "context" -> context,
      "inputs" -> w.inputs,
      "setup" -> Obj("session_s" -> sessionS, "prepare_s" -> prepareS,
        "warmup_s" -> warmupS),
      "measured_s" -> measuredS,
      "verify_s" -> verifyS,
      "units_s" -> Obj("plain" -> plainS, "counted" -> countedS,
        "traced" -> tracedS),
      "failed_ratio" -> ctx.failed.toDouble / math.max(1L, ctx.attempted),
      "detail" -> w.detail,
      "problems" -> ctx.problems.take(20),
      "spans" -> tracer.fold(Seq.empty[Seq[Any]])(_.rows))))
    val correct = ctx.problems.isEmpty
    println(Json(Obj(
      "correct" -> correct,
      "attempted" -> ctx.attempted,
      "failed" -> ctx.failed,
      "metrics" -> Obj(metrics.map(m =>
        m.name -> Obj("value" -> m.value, "unit" -> m.unit)): _*))))
    spark.stop()
    correct && ctx.failed == 0
  }

  /** Per-layer metrics: the medians over traced units of the workload's
    * layer figures, plus the Spark, driver and cache counters of the
    * counted units' spans.
    */
  private def layerMetrics(t: Tracer, w: Workload, cores: Int): Seq[Metric] = {
    val units = t.spans.filter(_.name == "unit").toSeq
    def med(f: Span => Double) = Stats.median(units.map(f))
    def layer(k: String) = Stats.median(w.traced.map(_(k)).toSeq)
    Seq(
      Metric("sources.read_s", layer("sources.read_s"), "s"),
      Metric("sources.sink_s", layer("sources.sink_s"), "s"),
      Metric("sources.sink_mb", layer("sources.sink_mb"), "MB"),
      Metric("sources.table_files", layer("sources.table_files"), "count"),
      Metric("operators.self_s", layer("operators.self_s"), "s"),
      Metric("operators.cache_peak_mb", med(_.cachePeakBytes / Stats.MB), "MB"),
      Metric("spark.planning_s", med(_.d.planningMs / 1000.0), "s"),
      Metric("spark.jobs", med(_.d.jobs.toDouble), "count"),
      Metric("spark.stages", med(_.d.stages.toDouble), "count"),
      Metric("spark.tasks", med(_.d.tasks.toDouble), "count"),
      Metric("spark.shuffle_write_mb", med(_.d.shuffleWriteBytes / Stats.MB), "MB"),
      Metric("spark.spill_mb", med(_.d.spillBytes / Stats.MB), "MB"),
      Metric("spark.single_task_stage_s", med(_.d.singleTaskStageMs / 1000.0), "s"),
      Metric("spark.executor_busy_ratio",
        med(s => s.d.runMs / (s.wallS * 1000.0 * cores)), "ratio"),
      Metric("driver.idle_s", med(s => s.wallS - s.stageBusyMs / 1000.0), "s"))
  }
}
