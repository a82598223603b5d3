package graft.core

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The one owner of persisted stages. `Scope { body }` opens a scope on the
  * current thread; [[persist]] caches a frame at MEMORY_AND_DISK and
  * registers it with the innermost open scope, which releases everything it
  * registered in one `finally`, on success and on failure, without blocking
  * on the block removal. The rules:
  *  - a frame that is already cached when [[persist]] runs belongs to
  *    whoever cached it: it is not registered, so no scope evicts a
  *    caller's cache;
  *  - a registered frame the body returns passes to the enclosing scope
  *    (or to the session), so an op can hand back a materialized result
  *    after releasing the stages it was built from;
  *  - with no scope open, the session owns the persist: the frame stays
  *    cached until someone unpersists it or clears the cache manager.
  *
  * An op that returns a lazy plan over a stage it persisted leaves that
  * stage to the caller's scope; a query run inside `Scope { … }` (Verify,
  * Bench, the streaming loops) releases it once the result is consumed. */
object Scope {
  private val open = new ThreadLocal[List[mutable.ArrayBuffer[DataFrame]]] {
    override def initialValue(): List[mutable.ArrayBuffer[DataFrame]] = Nil
  }

  def apply[T](body: => T): T = {
    val owned = mutable.ArrayBuffer.empty[DataFrame]
    open.set(owned :: open.get)
    try {
      val result = body
      owned.find(_ eq result.asInstanceOf[AnyRef]).foreach { df =>
        owned.filterInPlace(_ ne df)
        open.get.tail.headOption.foreach(_ += df)
      }
      result
    } finally {
      open.set(open.get.tail)
      owned.foreach(_.unpersist(blocking = false))
    }
  }

  def persist(df: DataFrame): DataFrame = {
    if (df.storageLevel == StorageLevel.NONE) {
      df.persist(StorageLevel.MEMORY_AND_DISK)
      open.get.headOption.foreach(_ += df)
    }
    df
  }
}
