package graft.perfbench

import scala.collection.mutable

/** Order-independent digest of a set of output rows: the row count and
  * the wrapping sum of a 64-bit hash of (event_id, key, running cents). */
final case class Digest(count: Long, sum: Long) {
  def +(o: Digest): Digest = Digest(count + o.count, sum + o.sum)
  override def toString: String = f"Digest($count, 0x$sum%016x)"
}

object Digest {
  val Zero: Digest = Digest(0, 0)

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def hash(eventId: Long, key: Long, cents: Long): Long = mix(mix(mix(eventId) ^ key) ^ cents)
}

/** The independent model of the TTL contract every workload checks
  * against: a key's running sum restarts when the event-time gap to its
  * previous event is strictly greater than the TTL (equal keeps it).
  *
  * It folds the feed once, in (ts, event_id) order, with a plain hash
  * map; it shares no code with the library. Because the feed is in time
  * order, a key's eviction deadline follows the order of its last event,
  * so the state counts come from two pointers that trail the feed.
  *
  * The two state APIs time a key out one millisecond apart: a
  * `GroupState` timeout fires once its deadline is below the watermark,
  * a transformWithState timer once it is at or below it
  * (`evictAtDeadline`). Outputs do not depend on it: an event that late
  * restarts the sum on the data path anyway. */
final class Model(feed: Feed, evictAtDeadline: Boolean = false) {
  private val ttl = Feed.TtlUs
  private val n = feed.size
  private val nb = feed.batches

  /** Running cents after each event (indexed by event_id). */
  val running: Array[Long] = new Array[Long](n)
  /** Digest of the outputs of batches [0, b), for b in 0..batches. */
  private val prefix = new Array[Digest](nb + 1)
  /** State rows after data batch b under the event-time timeout rule:
    * a key without data in a batch is removed once its deadline
    * (last + ttl) in ms, rounded up past the boundary, is below the
    * watermark, which is the newest event time of earlier batches. */
  val stateRows: Array[Long] = new Array[Long](nb)
  /** Keys live within the TTL once batch b is in: last + ttl >= newest ts. */
  val liveKeys: Array[Long] = new Array[Long](nb)

  locally {
    val last = mutable.LongMap.empty[Int] // key -> index of its latest event
    val sum = mutable.LongMap.empty[Long]
    var evictAt = 0; var inState = 0L // pointer of the timeout rule
    var liveAt = 0; var live = 0L // pointer of the live-within-TTL rule
    var acc = Digest.Zero
    var wmMs = Long.MinValue // no watermark before the first batch
    prefix(0) = acc
    var b = 0
    while (b < nb) {
      var i = feed.cuts(b)
      while (i < feed.cuts(b + 1)) {
        val k = feed.user(i); val us = feed.us(i)
        val prev = last.getOrElse(k, -1)
        val s = if (prev >= 0 && us - feed.us(prev) <= ttl) sum(k) + feed.cents(i) else feed.cents(i)
        if (prev < evictAt) inState += 1
        if (prev < liveAt) live += 1
        last(k) = i; sum(k) = s; running(i) = s
        acc = acc + Digest(1, Digest.hash(i, k, s))
        i += 1
      }
      // the data batch times out keys against the previous watermark
      def expired(i: Int) = {
        val deadlineMs = (feed.us(i) + ttl) / 1000 + 1
        deadlineMs < wmMs || (evictAtDeadline && deadlineMs == wmMs)
      }
      while (evictAt < feed.cuts(b) && expired(evictAt)) {
        if (last(feed.user(evictAt)) == evictAt) inState -= 1
        evictAt += 1
      }
      stateRows(b) = inState
      val newest = feed.us(feed.cuts(b + 1) - 1)
      while (liveAt < feed.cuts(b + 1) && feed.us(liveAt) + ttl < newest) {
        if (last(feed.user(liveAt)) == liveAt) live -= 1
        liveAt += 1
      }
      liveKeys(b) = live
      wmMs = newest / 1000
      b += 1
      prefix(b) = acc
    }
  }

  /** Digest of everything batches [from, until) emit. */
  def digest(from: Int, until: Int): Digest = {
    val (a, z) = (prefix(from), prefix(until))
    Digest(z.count - a.count, z.sum - a.sum)
  }

  def maxLiveKeys(from: Int, until: Int): Long = liveKeys.slice(from, until).max
}
