package graft.perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan, QueryExecution}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.util.QueryExecutionListener

/** Counter totals at one instant; span figures are differences of two. */
final case class Snap(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    shuffleWriteBytes: Long = 0, spillBytes: Long = 0, runMs: Long = 0,
    singleTaskStageMs: Long = 0, planningMs: Long = 0, filesRead: Long = 0) {
  def -(o: Snap): Snap = Snap(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, shuffleWriteBytes - o.shuffleWriteBytes,
    spillBytes - o.spillBytes, runMs - o.runMs,
    singleTaskStageMs - o.singleTaskStageMs, planningMs - o.planningMs,
    filesRead - o.filesRead)
}

/** The benchmark's Spark listeners: a [[SparkListener]] for jobs, stages,
  * tasks, shuffle, spill and cached-block sizes, and a
  * [[QueryExecutionListener]] for planning phases and files scanned.
  * Counting is gated by `active`, so untraced work in a traced run adds
  * nothing; cached-block sizes are always tracked so the running total
  * stays right.
  */
final class Listeners extends SparkListener {
  @volatile var active = false
  private var s = Snap()
  private val stageSpans = mutable.ArrayBuffer[(Long, Long)]()
  private val blocks = mutable.HashMap[org.apache.spark.storage.BlockId, Long]()
  private var cached = 0L
  // one high-water mark per open span, innermost first
  private var peaks = List.empty[Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (active) s = s.copy(jobs = s.jobs + 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      (i.submissionTime, i.completionTime) match {
        case (Some(t0), Some(t1)) if active =>
          stageSpans += ((t0, t1))
          s = s.copy(stages = s.stages + 1, singleTaskStageMs =
            s.singleTaskStageMs + (if (i.numTasks == 1) t1 - t0 else 0L))
        case _ =>
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (active && m != null)
      s = s.copy(tasks = s.tasks + 1, runMs = s.runMs + m.executorRunTime,
        shuffleWriteBytes = s.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
        spillBytes = s.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val u = e.blockUpdatedInfo
    if (u.blockId.isRDD) {
      val size = if (u.storageLevel.isValid) u.memSize + u.diskSize else 0L
      cached += size - blocks.getOrElse(u.blockId, 0L)
      if (size == 0L) blocks.remove(u.blockId) else blocks(u.blockId) = size
      peaks = peaks.map(math.max(_, cached))
    }
  }

  val queries: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    if (!active) return
    val planning = qe.tracker.phases.values.map(_.durationMs).sum
    // files the scans actually opened, after bucket and partition pruning
    val files = scans(qe.executedPlan).map(_.inputRDD.partitions.toSeq
      .flatMap { case p: FilePartition => p.files.toSeq.map(_.filePath.toString)
                 case _ => Nil }
      .distinct.size.toLong).sum
    synchronized {
      s = s.copy(planningMs = s.planningMs + planning,
        filesRead = s.filesRead + files)
    }
  }

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case f: FileSourceScanExec => Seq(f)
    case other => other.children.flatMap(scans)
  }

  def snap(): Snap = synchronized(s)
  def openPeak(): Unit = synchronized { peaks = cached :: peaks }
  def closePeak(): Long = synchronized {
    val p = peaks.head
    peaks = peaks.tail
    p
  }

  /** Milliseconds of [t0, t1] during which some stage was running. */
  def stageBusyMs(t0: Long, t1: Long): Long = synchronized {
    val cut = stageSpans.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0L
    var lo, hi = -1L
    cut.foreach { case (a, b) =>
      if (lo < 0) { lo = a; hi = b }
      else if (a > hi) { busy += hi - lo; lo = a; hi = b }
      else hi = math.max(hi, b)
    }
    if (lo >= 0) busy += hi - lo
    busy
  }
}

/** One recorded span: a named call into a layer, timed from outside the
  * engine, with the counters that moved while it ran.
  */
final case class Span(id: Int, parent: Int, name: String, startMs: Long,
    wallS: Double, d: Snap, cachePeakBytes: Long, stageBusyMs: Long)

/** Span recorder for the traced run. Spans stay in memory and are
  * printed when the run ends. At each boundary the listener bus is
  * drained, so every event of the span's actions is counted in it.
  */
final class Tracer(spark: SparkSession) {
  val listeners = new Listeners
  spark.sparkContext.addSparkListener(listeners)
  spark.listenerManager.register(listeners.queries)
  val spans = mutable.ArrayBuffer[Span]()
  private var open = List.empty[Int]
  private var nextId = 0
  private val origin = System.currentTimeMillis()

  private def drain(): Unit =
    org.apache.spark.perfbench.BusBridge.drain(spark.sparkContext)

  /** Runs `body` as a span; counting is on while any span is open. */
  def span[T](name: String)(body: => T): T = {
    drain()
    listeners.active = true
    val s0 = listeners.snap()
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    listeners.openPeak()
    val m0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val wall = (System.nanoTime() - t0) / 1e9
      val m1 = System.currentTimeMillis()
      drain()
      spans += Span(id, parent, name, m0 - origin, wall,
        listeners.snap() - s0, listeners.closePeak(),
        listeners.stageBusyMs(m0, m1))
      open = open.tail
      listeners.active = open.nonEmpty
    }
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(listeners)
    spark.listenerManager.unregister(listeners.queries)
  }

  /** Spans as compact rows [id, parent, name, start_ms, wall_s, jobs,
    * tasks, single_task_stage_ms, stage_busy_ms, planning_ms]. */
  def rows: Seq[Seq[Any]] = spans.toSeq.sortBy(_.id).map(s => Seq(s.id,
    s.parent, s.name, s.startMs, s.wallS, s.d.jobs, s.d.tasks,
    s.d.singleTaskStageMs, s.stageBusyMs, s.d.planningMs))
}
