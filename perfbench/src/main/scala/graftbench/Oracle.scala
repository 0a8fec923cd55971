package graftbench

import scala.collection.mutable

/** Plain-Scala references for the two feature-store semantics the
  * benchmark checks graft against. They share no code with graft. */
object Oracle {

  /** Rows of one key, sorted ascending by (event, created), answering
    * as-of lookups: the latest row with `event <= t` and, when `ttlMs > 0`,
    * `event >= t - ttlMs` (both bounds inclusive; `ttlMs == 0` means no
    * lower bound). Ties on `event` go to the greatest `created`. */
  final class AsOf[R](rows: Seq[R], event: R => Long, created: R => Long,
      ttlMs: Long) {
    private val sorted: Array[R] = rows.sortBy(r => (event(r), created(r)))
      .toArray[Any].asInstanceOf[Array[R]]
    private val evs: Array[Long] = sorted.map(event)

    def at(t: Long): Option[R] = {
      // last index with evs(i) <= t
      var lo = 0; var hi = evs.length
      while (lo < hi) { val m = (lo + hi) >>> 1; if (evs(m) <= t) lo = m + 1 else hi = m }
      if (lo == 0) None
      else {
        val r = sorted(lo - 1)
        if (ttlMs > 0 && event(r) < t - ttlMs) None else Some(r)
      }
    }
  }

  /** One [[AsOf]] per key. */
  def asOfByKey[K, R](rows: Seq[R], key: R => K, event: R => Long,
      created: R => Long, ttlMs: Long): Map[K, AsOf[R]] =
    rows.groupBy(key).map { case (k, rs) => k -> new AsOf(rs, event, created, ttlMs) }

  /** Latest-wins upsert state: per key, the row with the greatest
    * (event, created) among every row ever merged — what an online store
    * holds after materializing windows in any order. */
  final class Latest[K, R](key: R => K, event: R => Long, created: R => Long) {
    private val state = mutable.HashMap[K, R]()

    /** Merge the rows with `start <= event <= end` (inclusive bounds);
      * returns the number of keys that had at least one row in range. */
    def merge(rows: Iterable[R], start: Long, end: Long): Int = {
      val touched = mutable.HashSet[K]()
      rows.foreach { r =>
        val e = event(r)
        if (e >= start && e <= end) {
          val k = key(r)
          touched += k
          state.get(k) match {
            case Some(o) if event(o) > e ||
                (event(o) == e && created(o) >= created(r)) => ()
            case _ => state(k) = r
          }
        }
      }
      touched.size
    }

    def get(k: K): Option[R] = state.get(k)
    def size: Int = state.size
  }
}
