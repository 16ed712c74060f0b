package graft.operators

import java.util.concurrent.ConcurrentLinkedDeque
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The lifetime of an operator's reuse persist: it lives until the
  * consuming job ends. A caller runs its consuming actions inside
  * `CacheScope { … }`; every [[persist]] made while the body runs, on
  * the calling thread or on a thread started inside the body (a
  * streaming query's micro-batch thread), is unpersisted when the body
  * returns or throws. A nested scope releases only its own
  * registrations. Outside a scope [[persist]] is a plain persist that
  * the caller owns.
  */
object CacheScope {

  // inheritable: a thread started inside a scope registers with it
  private val current =
    new InheritableThreadLocal[ConcurrentLinkedDeque[DataFrame]]

  def apply[T](body: => T): T = {
    val outer = current.get
    val held = new ConcurrentLinkedDeque[DataFrame]
    current.set(held)
    try body
    finally {
      current.set(outer)
      // newest first: a relation built on an older one goes before it,
      // so Spark never re-plans a dependent of a released cache
      Iterator.continually(held.poll()).takeWhile(_ != null)
        .foreach(_.unpersist(false))
    }
  }

  def persist(df: DataFrame,
      level: StorageLevel = StorageLevel.DISK_ONLY): DataFrame = {
    // a relation someone already cached stays theirs to release
    val fresh = df.storageLevel == StorageLevel.NONE
    val persisted = df.persist(level)
    if (fresh) Option(current.get).foreach(_.push(persisted))
    persisted
  }
}
