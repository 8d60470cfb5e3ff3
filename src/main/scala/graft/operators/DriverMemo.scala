package graft.operators

/** Bounded, generation-checked driver-side memo — the ONE discipline
  * for per-query driver state (r17 verdict #2 / ADVICE).
  *
  * Driver memos in this repo cache tiny deterministic results of
  * statistics/point-lookup jobs (per-term document frequencies, probe
  * cell selections, fetched query vectors, mined expansion terms).
  * Two failure shapes showed up as the family grew:
  *
  *   1. UNBOUNDED GROWTH: a memo keyed by query content (terms, query
  *      vectors, qid sets) grows with every distinct query of a
  *      long-lived session — values are tiny, but a service session
  *      never restarts, so "tiny × forever" is still a leak. The LRU
  *      cap bounds live entries regardless of the query stream
  *      (access-ordered [[java.util.LinkedHashMap]], eldest evicted
  *      past `maxEntries`).
  *   2. ALTERNATION EVICTION (r17 ADVICE, IvfPq.probeMemo): keying by
  *      parameters only, with replace-on-generation-mismatch, makes a
  *      session alternating two fixture dirs evict each entry on every
  *      call and re-run the probe job each time. Callers therefore key
  *      by a GENERATION-BEARING identity (the index/table name, which
  *      embeds the corpus content fingerprint — ScaleOps.contentHash)
  *      plus the query parameters: alternating dirs occupy distinct
  *      keys and stay live together, while an in-place fixture
  *      regeneration mints a new generation whose dead predecessors
  *      age out of the LRU instead of accumulating.
  *
  * `gen` is checked on lookup as a belt-and-braces guard for callers
  * whose key does NOT embed the generation (fingerprint-in-value, the
  * fitRawMemo discipline): a stale-generation hit recomputes and
  * replaces in place.
  *
  * `compute` runs OUTSIDE the lock — it is usually a (small) Spark
  * job, and holding a global lock across a job would serialize
  * concurrent queries. Concurrent duplicate computes are benign: every
  * memoized computation here is a deterministic pure function of
  * (generation, key), so last-write-wins stores an identical value.
  *
  * MemoBoundSpec proves the contract: a long stream of distinct
  * queries leaves at most `maxEntries` live entries, and a generation
  * flip replaces rather than accumulates.
  */
final class DriverMemo[K, V](val maxEntries: Int) {
  require(maxEntries > 0, "maxEntries must be positive")

  private val map =
    new java.util.LinkedHashMap[K, (String, V)](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[K, (String, V)]): Boolean =
        size() > maxEntries
    }

  def getOrCompute(key: K, gen: String)(compute: => V): V = {
    val hit = synchronized {
      val e = map.get(key)
      if (e != null && e._1 == gen) Some(e._2) else None
    }
    hit.getOrElse {
      val v = compute
      synchronized { map.put(key, (gen, v)) }
      v
    }
  }

  /** Drop `key`'s entry, for callers that know its value went stale. */
  def remove(key: K): Unit = synchronized { map.remove(key) }

  /** Live entry count (spec hook). */
  def size: Int = synchronized { map.size }
}
