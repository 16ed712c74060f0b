package graft.operators

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** The driver of a converged loop: an operator that repeats a round until
  * nothing changes (near-dup components, label propagation, PageRank,
  * k-core and k-truss peels, BFS closure). The operator writes its round
  * body and its convergence predicate inside `Fixpoint(op, maxRounds) {
  * fp => … }`; the driver owns the rest, the same way for every loop:
  *
  *  - The lineage cut ([[Fixpoint#cut]]). A round's rows persist at
  *    MEMORY_AND_DISK as a row RDD and come back as a DataFrame over it,
  *    so the next round plans over a flat scan instead of a plan that
  *    grows every round (and doubles under a self-join). One job per cut
  *    counts the rows; for a round that carries a column's previous value
  *    as `old`, the same job counts the changed rows through an
  *    accumulator. A task retry can only over-count, which at worst buys
  *    one no-op round, never an early stop.
  *  - `checkpoint = true` adds `localCheckpoint` to every cut. A persisted
  *    round still chains its predecessors through the task closures, and
  *    a deep loop's serialized task graph overflows the deserializer's
  *    stack (pageRankConverged, around round 45 on the x10 corpus); the
  *    checkpoint keeps closures depth-constant. A checkpointed round
  *    cannot be recomputed once released, so such a result is good only
  *    while the caller's [[CacheScope]] holds it. Shallow loops stay
  *    persist-only and recomputable.
  *  - Release: after every round each cut the new state no longer holds
  *    is unpersisted. A relation [[Fixpoint#hold]] persists inside a round
  *    lives until the round ends; one held outside lives until the loop
  *    ends.
  *  - The round cap: the first round always runs, at most `maxRounds`
  *    run. A loop still changing at the cap is recounted exactly where an
  *    accumulator counted it, then throws an IllegalStateException naming
  *    the operator (`stuck` overrides the message).
  *  - The hand-off: the body's result is persisted through
  *    [[CacheScope.persist]] at MEMORY_AND_DISK and materialized before
  *    the loop state goes, so it lives until the caller's scope closes.
  *  - One `finally` releases every cut and held relation whether the loop
  *    converges, hits its cap or throws.
  */
final class Fixpoint private (op: String, maxRounds: Int,
    checkpoint: Boolean, stuck: String) {
  import Fixpoint.Cut

  private val live = ArrayBuffer[RDD[Row]]()
  private val held = ArrayBuffer[DataFrame]()
  private var rounds = 0

  /** Persists a relation every round reads: for the loop, or for the
    * round when called inside one. */
  def hold(df: DataFrame,
      level: StorageLevel = StorageLevel.DISK_ONLY): DataFrame = {
    val persisted = df.persist(level)
    held += persisted
    persisted
  }

  /** Cuts `df` from its lineage in one job. With `changedCol`, `df`
    * carries that column's previous value as `old`: the cut counts the
    * rows where the two differ and serves the rows without `old`. */
  def cut(df: DataFrame, changedCol: String = null): Cut = {
    val spark = df.sparkSession
    val acc = Option(changedCol)
      .map(_ => spark.sparkContext.longAccumulator(s"$op.changed.r$rounds"))
    val rows = acc.fold(df.rdd) { a =>
      val ci = df.schema.fieldIndex(changedCol)
      val oi = df.schema.fieldIndex("old")
      df.rdd.mapPartitions(_.map { row =>
        if (row.get(ci) != row.get(oi)) a.add(1L)
        row
      })
    }
    val rdd = rows.persist(StorageLevel.MEMORY_AND_DISK)
    live += rdd
    if (checkpoint) rdd.localCheckpoint()
    val n = rdd.count()
    val withOld = spark.createDataFrame(rdd, df.schema)
    acc.fold(new Cut(withOld, n, 0L, rdd, None)) { a =>
      new Cut(withOld.drop("old"), n, a.value, rdd,
        Some(() => withOld.filter(col(changedCol) =!= col("old")).count()))
    }
  }

  /** Runs `round` from `start` until `changed(previous, next)` reads 0.
    * The state `S` is a [[Fixpoint.Cut]] or a tuple holding the cuts the
    * next round reads; every other cut is released after the round. */
  def loop[S](start: S)(round: S => S)(changed: (S, S) => Long): S = {
    var s = start
    var changing = true
    while (changing && rounds < maxRounds) {
      val prev = s
      val mark = held.size
      s = round(prev)
      rounds += 1
      release(held.drop(mark))
      held.dropRightInPlace(held.size - mark)
      val kept = cutsIn(s).map(_.rdd).toSet
      live.filterNot(kept).foreach(_.unpersist(false))
      live.filterInPlace(kept)
      changing = changed(prev, s) > 0
    }
    if (changing && !cutsIn(s).exists(_.recount.exists(_() == 0L)))
      throw new IllegalStateException(stuck)
    s
  }

  /** [[loop]] over one relation whose round carries `changedCol`'s
    * previous value as `old`; returns the converged rows. */
  def converge(start: DataFrame, changedCol: String)(
      round: DataFrame => DataFrame): DataFrame =
    loop(new Cut(start, 0L, 0L, null, None))(c => cut(round(c.rows), changedCol))(
      (_, c) => c.changed).rows

  private def cutsIn(s: Any): Iterator[Cut] = s match {
    case c: Cut => Iterator(c)
    case p: Product => p.productIterator.flatMap(cutsIn)
    case _ => Iterator.empty
  }

  // newest first: a relation built on an older one goes before it
  private def release(dfs: Iterable[DataFrame]): Unit =
    dfs.toSeq.reverse.foreach(_.unpersist())

  private def releaseAll(): Unit = {
    live.foreach(_.unpersist(false))
    live.clear()
    release(held)
    held.clear()
  }
}

object Fixpoint {

  /** One cut round: `rows` served from the persisted row RDD, their
    * count `n`, and `changed`, the accumulator's changed-row count (0
    * without a changed column). */
  final class Cut private[operators] (val rows: DataFrame, val n: Long,
      val changed: Long, private[operators] val rdd: RDD[Row],
      private[operators] val recount: Option[() => Long])

  def apply(op: String, maxRounds: Int, checkpoint: Boolean = false,
      stuck: String = null)(body: Fixpoint => DataFrame): DataFrame = {
    require(maxRounds >= 1, s"$op requires maxRounds >= 1, got $maxRounds")
    val fp = new Fixpoint(op, maxRounds, checkpoint, Option(stuck)
      .getOrElse(s"$op did not converge in maxRounds=$maxRounds rounds"))
    try {
      val out = CacheScope.persist(body(fp), StorageLevel.MEMORY_AND_DISK)
      out.queryExecution.toRdd.count() // materialize before the loop state goes
      out
    } finally fp.releaseAll()
  }
}
