package graft.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}

/**
 * The one owner of the SETUP-once state held between calls — fitted
 * models, built indexes, ground truth, corpus counts (the reference
 * keeps its fitted state resident for the server's lifetime). Each use
 * site declares one typed instance:
 * {{{
 *   private val centroids = new SessionMemo[(String, Int), Array[Array[Float]]]
 *   centroids(spark, (key, c)) { fit() }
 * }}}
 *  - Entries are keyed by a per-session UUID, not by the session, so a
 *    value may reference its session (a cached DataFrame does; under a
 *    `WeakHashMap[SparkSession, _]` it would pin its own key forever).
 *    One listener per session evicts all its entries on application end.
 *  - [[release]] removes entries and returns them, e.g. to unpersist.
 *  - Concurrent callers of one key see one evaluation. The compute runs
 *    under that key's monitor only, so it may fan out through `Future`s
 *    into other keys and memos. A compute that throws leaves no entry.
 *  - Oracle fixture exports stay at the call site, after the memo call,
 *    so a memo hit still restores its corpus's fixture.
 */
final class SessionMemo[K, V] {
  import SessionMemo._

  def apply(spark: SparkSession, key: K)(compute: => V): V = {
    val sid = sessionId(spark)
    val k = (this, key)
    val cell = store.synchronized {
      store.getOrElseUpdate(sid, scala.collection.mutable.Map.empty).getOrElseUpdate(k, new Cell)
    }
    val got = cell.synchronized {
      if (!cell.done && !cell.failed) {
        try { cell.value = compute; cell.done = true }
        catch { case t: Throwable =>
          cell.failed = true
          store.synchronized(store.get(sid).foreach(m => if (m.get(k).contains(cell)) m.remove(k)))
          throw t
        }
      }
      if (cell.done) Some(cell.value.asInstanceOf[V]) else None
    }
    // a waiter on a compute that threw retries on a fresh cell
    got.getOrElse(apply(spark, key)(compute))
  }

  /** Remove the session's entries whose key satisfies `which`; returns
    * the finished values (an in-flight compute is waited for). */
  def release(spark: SparkSession, which: K => Boolean): Seq[V] = {
    val sid = sessionId(spark)
    val doomed = store.synchronized {
      store.get(sid).toSeq.flatMap { m =>
        val hit = m.collect { case (k @ (memo, key), c) if (memo eq this) && which(key.asInstanceOf[K]) => k -> c }
        m --= hit.keys
        hit.values
      }
    }
    // cell monitors are taken outside the store's: computes nest them the other way
    doomed.flatMap(c => c.synchronized(if (c.done) Some(c.value.asInstanceOf[V]) else None))
  }
}

object SessionMemo {
  // fields are read and written under the cell's own monitor only
  private final class Cell { var value: Any = _; var done = false; var failed = false }

  // session id -> (memo, key) -> cell, for every memo in the JVM
  private val store =
    scala.collection.mutable.Map.empty[String, scala.collection.mutable.Map[(AnyRef, Any), Cell]]

  // the id String holds no reference back to its session
  private val ids = new java.util.WeakHashMap[SparkSession, String]()

  private def sessionId(spark: SparkSession): String = ids.synchronized {
    Option(ids.get(spark)).getOrElse {
      val id = java.util.UUID.randomUUID().toString
      ids.put(spark, id)
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
          store.synchronized(store.remove(id))
      })
      id
    }
  }
}
