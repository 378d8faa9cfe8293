package graft.ops

/** The one memo policy for driver-side state. A long-lived driver (a
  * streaming tailer, a serve loop) outlives every store, fixture and
  * session it touches, so each memo it keeps must be bounded and must
  * never serve a stale value. Every driver memo is one of these:
  *
  *  - key → (stamp, value). [[stamped]] returns the value when the
  *    stored stamp equals the caller's (`==`) and otherwise runs
  *    `compute` and replaces the entry in place. The stamp is whatever
  *    proves the value current: a source fingerprint (fitted cents,
  *    BPE merges, fixture query rows, store metadata), a snapshot
  *    signature (serve frames), a snapshot version (ledger sentinel
  *    counts) or an arm's file list (ledger histograms). [[at]] reads
  *    a value under its stamp without computing. Unstamped memos ([[getOrCompute]]) hold
  *    values that cannot go stale under their key: a part file's
  *    status, a frame keyed by its fileset, a store's IO handle.
  *  - `compute` runs OUTSIDE the monitor, so a slow recompute never
  *    serializes lookups of other keys; two racing misses both compute
  *    and the later write wins, which is harmless because values are
  *    derived deterministically from the stamped state.
  *  - An access-order `LinkedHashMap` under its own monitor evicts the
  *    least-recently-used entry past `max`. A miss costs a recompute,
  *    never a different result (DriverCacheSpec churns 1,000 keys
  *    through a cache, and pins the stamp semantics and every driver
  *    memo's bound).
  *  - [[update]] is the one read-modify-write, atomic under the
  *    monitor, for counters that must not lose an increment.
  *
  * Driver-side and low-traffic (a handful of lookups per serve, verdict
  * or read, never per row), so one monitor is cheaper than striping.
  * Locks and put-if-absent registers are synchronization and safety
  * state, not memos: they never live here.
  */
private[graft] final class DriverCache[K, V](val max: Int) {
  require(max > 0, "DriverCache bound must be positive")
  import DriverCache.Entry
  private val m = new java.util.LinkedHashMap[K, Entry[V]](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[K, Entry[V]]): Boolean =
      this.size() > max
  }

  def stamped(k: K, stamp: Any)(compute: => V): V =
    m.synchronized(Option(m.get(k))) match {
      case Some(e) if e.stamp == stamp => e.value
      case _ =>
        val v = compute
        m.synchronized(m.put(k, Entry(stamp, v)))
        v
    }
  def getOrCompute(k: K)(compute: => V): V = stamped(k, ())(compute)
  def at(k: K, stamp: Any): Option[V] =
    m.synchronized(Option(m.get(k))).collect { case e if e.stamp == stamp => e.value }
  /** Replace (`Some`) or drop (`None`) the entry from its current value
    * in one step under the monitor. */
  def update(k: K)(f: Option[V] => Option[V]): Option[V] = m.synchronized {
    val next = f(Option(m.get(k)).map(_.value))
    next match {
      case Some(v) => m.put(k, Entry((), v))
      case None => m.remove(k)
    }
    next
  }
  def get(k: K): Option[V] = m.synchronized(Option(m.get(k)).map(_.value))
  def size: Int = m.synchronized(m.size())
  private[graft] def clear(): Unit = m.synchronized { m.clear() }
}

private object DriverCache {
  private final case class Entry[V](stamp: Any, value: V)
}
