package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped build-once memo, the one implementation behind every
  * shared prelude (d00, m00, t00, x00, g00): an entry is keyed on the
  * (session, dir, name) it was built for, built once under the memo's
  * lock, and released on evict.
  *
  *   - The key holds the `SparkSession` REFERENCE (compared by identity),
  *     so two live sessions never share an entry — an identity hash code
  *     is not unique and could.
  *   - `apply` is synchronized: `TrieMap.getOrElseUpdate` alone may run
  *     the builder in two racing threads and discard one result, leaking
  *     the loser's persisted frame (or temp dir) until session end. The
  *     lock is per memo and deliberately coarse — one build blocks every
  *     other key of the same memo — which suits the single-session
  *     bench/verify lifecycle; a multi-session server would memoize a
  *     lazy per-key handle via putIfAbsent instead.
  *   - `materialize` runs once on a fresh value (frames: persist + count,
  *     so the build is paid where it is attributed, not by the first
  *     consumer); `release` runs on every evicted value.
  *
  * Evict is the other half of the contract: a blanket
  * `catalog.clearCache()` unpersists the frames, but the memo would keep
  * re-serving them, re-materializing the full plan on every reuse
  * without the one-time count. Bench evicts between its warm-up and
  * timed sections and between prelude build samples.
  */
final class Memo[V] private (materialize: V => V, release: (SparkSession, V) => Unit) {
  private val entries =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, String), V]

  def apply(s: SparkSession, dir: String, name: String)(build: => V): V =
    synchronized(entries.getOrElseUpdate((s, dir, name), materialize(build)))

  /** Release and drop every entry built for (session, dir). */
  def evict(s: SparkSession, dir: String): Unit = drop(k => (k._1 eq s) && k._2 == dir)

  /** Release and drop every entry built for this session. */
  def evictAll(s: SparkSession): Unit = drop(_._1 eq s)

  /** Number of entries held for this session. */
  def size(s: SparkSession): Int = entries.keys.count(_._1 eq s)

  private def drop(p: ((SparkSession, String, String)) => Boolean): Unit =
    entries.keys.filter(p).foreach(k => entries.remove(k).foreach(release(k._1, _)))
}

object Memo {
  private val all = new java.util.concurrent.ConcurrentLinkedQueue[Memo[_]]()

  /** A memo of arbitrary values: `release` reclaims anything an entry
    * owns outside the JVM heap (default: nothing, the entry is dropped).
    */
  def apply[V](release: (SparkSession, V) => Unit = (_: SparkSession, _: V) => ()): Memo[V] =
    register(new Memo[V](identity, release))

  /** A memo of eagerly persisted frames: built with persist + count,
    * unpersisted (blocking) on evict.
    */
  def frames(): Memo[DataFrame] =
    register(new Memo[DataFrame](
      df => { val p = df.persist(); p.count(); p },
      (_, df) => { df.unpersist(blocking = true); () }))

  private def register[V](m: Memo[V]): Memo[V] = { all.add(m); m }

  /** Evict this session's entries from every memo created so far. A memo
    * whose owner was never initialized does not exist yet, and holds
    * nothing to evict.
    */
  def evictAll(s: SparkSession): Unit = all.forEach(_.evictAll(s))
}

/** A shared memoized prelude as Bench times it: the entry `name`, which
  * selected queries need it, the memos it fills (evicted before each
  * timed build) and its component builds, in attribution order — later
  * builds reuse earlier memos, so each part times its OWN
  * materialization.
  */
final case class Prelude(
    name: String,
    consumedBy: String => Boolean,
    memos: Seq[Memo[_]],
    parts: (SparkSession, String) => Seq[(String, () => Unit)]) {
  def evict(s: SparkSession, dir: String): Unit = memos.foreach(_.evict(s, dir))
}
