package graft.core

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.locks.ReentrantLock

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}

/** The cross-query memo for shared frames: a value several declared rows
  * consume (the FkNN fitted table and its scores, dedup clusters, graph
  * edges and walks, ingest pairs, the subword vocab, the BPE merges) is
  * built once per (session, data dir, name) and read by every later caller.
  *
  * Contract:
  *  - a build runs inside `Ckpt.untracked`, so the checkpoints it
  *    creates survive an enclosing `Ckpt.scoped` query — they are the
  *    memo's value;
  *  - each key is built at most once, even when cold callers race: a
  *    miss takes one re-entrant lock (so a build may itself read another
  *    memo, e.g. `walks` reads `edges_cs`), a hit reads without locking;
  *  - a build that throws caches nothing, so the next call rebuilds;
  *  - checkpoint blocks are RDD-level persists that
  *    `spark.catalog.clearCache()` does not evict: a long-lived session
  *    frees them with `release(name...)` or `releaseAll()`, which call
  *    `Ckpt.release` on every frame of each value. Consumers must not
  *    release a memo frame themselves.
  */
object SharedFrames {

  private final case class Key(s: SparkSession, dir: String, name: String)

  private val memo = new ConcurrentHashMap[Key, AnyRef]()
  private val lock = new ReentrantLock()

  /** The memoized value for (s, dir, name), built by `build` on a miss.
    * The value is a frame or a tuple of frames. */
  def apply[T <: AnyRef](s: SparkSession, dir: String, name: String)(build: => T): T = {
    val k = Key(s, dir, name)
    val hit = memo.get(k)
    if (hit != null) hit.asInstanceOf[T]
    else {
      lock.lock()
      try {
        val raced = memo.get(k)
        if (raced != null) raced.asInstanceOf[T]
        else { val v = Ckpt.untracked(build); memo.put(k, v); v }
      } finally lock.unlock()
    }
  }

  /** Names with a live value for (s, dir). */
  def live(s: SparkSession, dir: String): Set[String] =
    memo.keySet.asScala.collect { case Key(`s`, `dir`, n) => n }.toSet

  /** Drop every value with one of `names`, in every session and dir. */
  def release(names: String*): Unit = releaseWhere(k => names.contains(k.name))

  def releaseAll(): Unit = releaseWhere(_ => true)

  private def releaseWhere(p: Key => Boolean): Unit = {
    lock.lock()
    try memo.keySet.asScala.filter(p).foreach { k =>
      val frames = memo.remove(k) match {
        case t: Product => t.productIterator
        case v => Iterator(v)
      }
      // a stopped session's blocks went with its context
      if (!k.s.sparkContext.isStopped)
        frames.foreach { case df: Dataset[_] => Ckpt.release(df.toDF()); case _ => }
    } finally lock.unlock()
  }
}
