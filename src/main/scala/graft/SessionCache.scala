package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.SparkSession

/** Memoization scoped to a live (SparkSession, dataset) pair, for the
  * persisted index artifacts the dedup/ANN operators amortize across
  * calls (shingle tables, IVF quantizers, verified pair sets).
  *
  * Two properties the naive `session.hashCode + dir` key lacked:
  *
  *  - **unique keys**: each session instance gets a fresh UUID
  *    (identity-keyed weak map), so two sessions can never collide and
  *    hand out persisted DataFrames bound to the wrong — possibly
  *    stopped — session;
  *  - **eviction**: every access sweeps entries whose owning session
  *    has been STOPPED, so persisted blocks are not pinned for the JVM
  *    lifetime after a session ends. (A cached DataFrame strongly
  *    references its session, so GC can never collect an un-stopped
  *    owner while its entry lives — `stop()` is the eviction signal,
  *    which is also the only point its persisted blocks are freed.)
  */
final class SessionCache[V](onEvict: V => Unit = (_: V) => ()) {

  // The map stores a MEMO CELL, not the built value: computeIfAbsent
  // must stay short (CHM holds the bin lock through the mapping
  // function, so building a cluster-scale index inside it would
  // serialize unrelated sessions/datasets that share a bin). The cell's
  // lazy val then runs the build outside the map lock, synchronized
  // only with same-key callers.
  private final class Cell(s: SparkSession, f: () => V) {
    val session: SparkSession = s
    @volatile private var computed = false
    lazy val value: V = { val v = f(); computed = true; v }
    // for eviction: never force a build just to tear it down
    def valueIfComputed: Option[V] = if (computed) Some(value) else None
  }

  private val m = new ConcurrentHashMap[String, Cell]()

  def getOrCompute(s: SparkSession, dataset: String)(f: => V): V = {
    sweep()
    m.computeIfAbsent(SessionCache.sessionId(s) + "|" + dataset,
      _ => new Cell(s, () => f)).value
  }

  /** Evict this session's entries whose dataset key starts with
    * `prefix`, except `keep`, running `onEvict` (e.g. unpersist) on
    * each already-built value. For caches whose key embeds a tuning
    * knob (the IVF nlist): a knob change supersedes the old entry,
    * which would otherwise pin its persisted blocks until session
    * stop. A value still mid-build is skipped (its builder finishes
    * and the entry is already unreachable; storage for that edge is
    * reclaimed at session stop as before). */
  def evictSiblings(s: SparkSession, prefix: String, keep: String): Unit = {
    val sid = SessionCache.sessionId(s) + "|"
    val keepKey = sid + keep
    val it = m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey.startsWith(sid + prefix) && e.getKey != keepKey) {
        it.remove()
        e.getValue.valueIfComputed.foreach { v =>
          try onEvict(v) catch { case _: Throwable => () }
        }
      }
    }
  }

  private def sweep(): Unit = {
    val it = m.entrySet().iterator()
    while (it.hasNext) {
      // stopped session: just drop the entry — its persisted blocks
      // died with the executor, unpersist would be a no-op at best
      if (it.next().getValue.session.sparkContext.isStopped) it.remove()
    }
  }
}

object SessionCache {
  // WeakHashMap keys by identity and drops collected sessions; the
  // UUID value makes the cache key genuinely unique per session
  // instance (Object.hashCode is neither)
  private val ids = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, String]())

  def sessionId(s: SparkSession): String =
    ids.computeIfAbsent(s, _ => java.util.UUID.randomUUID().toString)
}
