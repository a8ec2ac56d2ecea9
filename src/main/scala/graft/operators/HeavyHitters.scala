package graft.operators

import scala.collection.mutable

/** Misra-Gries frequent-items summary over long keys (Misra & Gries 1982).
  *
  * Bounded state: at most `k` counters regardless of stream length. After
  * consuming `n` items, every key's counter is a LOWER bound on its true
  * count with undercount at most `n / k`; consequently any key whose true
  * count exceeds `n / k` is guaranteed to survive with a positive counter
  * (the no-false-negative property `ev_heavy_hitters` builds on).
  *
  * This is the per-partition PREFILTER for exact heavy-hitter detection at
  * corpus scale: each task folds its partition into ≤ `k` candidate keys,
  * so only `k × numPartitions` candidate rows ever cross an exchange —
  * the full key universe is never shuffled. A second exact counting pass
  * over the candidate semi-join (plus a pigeonhole guard, see
  * `Events.hhCandidates`) removes the false positives, making the final
  * output exact and independent of partitioning.
  *
  * Decrement-all is amortized O(1) per item: each global decrement of the
  * `k` live counters consumes `k` units paid for by `k` prior inserts.
  */
final class MisraGries(val k: Int) {
  require(k > 0, s"Misra-Gries needs at least one counter, got $k")

  private val counters = mutable.LongMap.empty[Long]
  private var n = 0L

  /** Items consumed so far (the `n` in the `n / k` undercount bound). */
  def processed: Long = n

  def add(key: Long): Unit = {
    n += 1
    // Live counters are always ≥ 1, so -1 is a safe absent sentinel
    // (LongMap.getOrElse is specialized — single probe, no boxing).
    val cur = counters.getOrElse(key, -1L)
    if (cur > 0L) counters.update(key, cur + 1)
    else if (counters.size < k) counters.update(key, 1L)
    else {
      // No free counter: decrement every live counter, dropping zeros.
      // (The incoming item's own implicit counter also hits zero, so it
      // is not inserted — the textbook k-way cancellation step.)
      val dead = mutable.ArrayBuffer.empty[Long]
      counters.foreachEntry { (kk, v) =>
        if (v == 1L) dead += kk else counters.update(kk, v - 1)
      }
      dead.foreach(counters.remove)
    }
  }

  /** Surviving (key, lowerBoundCount) entries, counter ≥ 1, ≤ k of them. */
  def entries: Iterator[(Long, Long)] =
    counters.iterator.map { case (kk, v) => (kk, v) }
}
