package graft.ops

/** Bounded LRU memo shared by the iterative trainers (k-means, BPE).
  *
  * Concurrency: the global lock covers only map get/put — the compute runs
  * under the CELL's lazy-val monitor, so two sessions training on
  * DIFFERENT keys proceed in parallel while same-key callers share one
  * run (the r5 computeIfAbsent semantics, without serializing unrelated
  * trainings behind one monitor).
  *
  * Eviction: LRU past `cap`; `onEvict` fires only for values that were
  * actually computed (an abandoned never-forced cell has nothing to
  * release). */
private[graft] final class BoundedMemo[K, V](cap: Int)(onEvict: V => Unit) {

  private final class Cell(compute: () => V) {
    @volatile var computed = false
    lazy val value: V = { val v = compute(); computed = true; v }
  }

  private val map = new java.util.LinkedHashMap[K, Cell](cap, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[K, Cell]): Boolean =
      if (size > cap) {
        val c = e.getValue
        if (c.computed) { try onEvict(c.value) catch { case _: Throwable => () } }
        true
      } else false
  }

  // published only once `map` is set: a racing clearAll() must not see null
  BoundedMemo.register(this)

  /** True iff `key` holds an already-computed value (refreshes LRU order).
    * Used by fused trainers to find which sub-problems still need work. */
  def contains(key: K): Boolean = map.synchronized {
    val c = map.get(key); c != null && c.computed
  }

  def getOrCompute(key: K, f: => V): V = {
    val cell = map.synchronized {
      val got = map.get(key)
      if (got != null) got
      else { val fresh = new Cell(() => f); map.put(key, fresh); fresh }
    }
    cell.value
  }

  def size: Int = map.synchronized(map.size)

  /** Drop every entry, firing `onEvict` for computed values — the bench's
    * cold-cost hook ([[BoundedMemo.clearAll]]). */
  def clear(): Unit = map.synchronized {
    map.values.forEach { c =>
      if (c.computed) { try onEvict(c.value) catch { case _: Throwable => () } }
    }
    map.clear()
  }
}

private[graft] object BoundedMemo {
  // weak registry of every live memo so a measurement harness can reset
  // trainer state without naming each trainer (the instances are private
  // vals inside their ops objects, which live for the JVM anyway — the
  // weak refs just keep this list from pinning any future short-lived one)
  private val instances =
    scala.collection.mutable.ArrayBuffer[java.lang.ref.WeakReference[BoundedMemo[_, _]]]()

  private def register(m: BoundedMemo[_, _]): Unit = instances.synchronized {
    instances += new java.lang.ref.WeakReference(m)
  }

  /** Clear EVERY live memo (evicting their values). Bench calls this at
    * each per-query boundary so every timed pass pays the full cold
    * training cost: the memos are legitimate intra-session reuse for the
    * ~3 registered queries sharing one trained model, but a benchmark
    * that lets pass 2 memo-hit pass 1's model times marginal cost, not
    * the query (r17 verdict: simhash/kmeans/bpe/lm families read warm).
    * Production bulk drivers do NOT call this — they keep the
    * cross-query model reuse. */
  private[graft] def clearAll(): Unit = instances.synchronized {
    instances.foreach { r =>
      val m = r.get()
      if (m != null) m.clear()
    }
    instances.filterInPlace(_.get() != null)
  }
}
