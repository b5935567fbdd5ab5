package graft.util

/** A JVM-wide memo bounded by a total cost: an access-ordered map under
  * one lock that evicts least-recently-used entries until the held cost
  * fits `budget`. The newest put always stays, even when its own cost
  * exceeds the budget — callers that must not hold an oversized value
  * check `cost` before they put. Count-bounded caches use the default
  * cost of 1 per entry.
  *
  * Keys are strings so that a table's entries can be released by key
  * prefix ([[invalidate]]); the warehouse keys its memos
  * `dir#table#lifetime#...` for exactly that.
  *
  * @param budget total cost held before eviction; a `var` so a spec can
  *   shrink it, and a lowered budget applies from the next put
  */
private[graft] final class BoundedCache[V](@volatile var budget: Long,
    val cost: V => Long = (_: V) => 1L) {
  // each value carries the cost it was admitted at, so eviction and
  // invalidation never re-walk a large value to price it
  private val map =
    new java.util.LinkedHashMap[String, (V, Long)](64, 0.75f, true)
  private var heldCost = 0L
  private val hitCount = new java.util.concurrent.atomic.AtomicLong(0L)

  /** The value under `key`; a hit makes it the most recently used. */
  def get(key: String): Option[V] = synchronized {
    val hit = Option(map.get(key)).map(_._1)
    if (hit.isDefined) hitCount.incrementAndGet()
    hit
  }

  /** Store `v` under `key` (replacing and re-costing any prior value),
    * then evict from the least-recently-used end down to the budget —
    * never the entry just put, which is now the most recent. */
  def put(key: String, v: V): Unit = synchronized {
    val c = cost(v)
    Option(map.put(key, (v, c))).foreach(old => heldCost -= old._2)
    heldCost += c
    val it = map.values().iterator()
    while (heldCost > budget && map.size() > 1) {
      heldCost -= it.next()._2
      it.remove()
    }
  }

  /** Drop every entry whose key starts with `prefix`; the freed cost. */
  def invalidate(prefix: String): Long = synchronized {
    var freed = 0L
    val it = map.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey.startsWith(prefix)) { freed += e.getValue._2; it.remove() }
    }
    heldCost -= freed
    freed
  }

  def clear(): Unit = synchronized { map.clear(); heldCost = 0L }

  /** Total cost currently held. */
  def held: Long = synchronized(heldCost)

  /** Hits served since the JVM started. */
  def hits: Long = hitCount.get()
}
