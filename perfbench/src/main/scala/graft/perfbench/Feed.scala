package graft.perfbench

import java.sql.Timestamp
import java.util.SplittableRandom

import graft.operators.Relational

/** Row fed to the streaming workloads; top level so Spark derives its encoder. */
case class Ev(event_id: Long, user_id: Long, ts: Timestamp, cents: Long)

/** A generated feed in (ts, event_id) order with event_id == array index,
  * cut into input batches: batch b holds events [cuts(b), cuts(b + 1)).
  * Everything is a pure function of the seed and the sizes. */
final case class Feed(user: Array[Long], us: Array[Long], cents: Array[Long], cuts: Array[Int]) {
  def size: Int = user.length
  def batches: Int = cuts.length - 1
  def batchRows(b: Int): Int = cuts(b + 1) - cuts(b)
  def ev(i: Int): Ev = Ev(i.toLong, user(i), Feed.timestamp(us(i)), cents(i))
  def batch(b: Int): IndexedSeq[Ev] = (cuts(b) until cuts(b + 1)).map(ev)
}

object Feed {
  /** q14's TTL: one contract for every workload and the model. */
  val TtlUs: Long = Relational.TtlMicros
  val MinuteUs: Long = 60L * 1000 * 1000
  /** 2024-01-01T00:00:00Z in epoch microseconds. */
  val T0: Long = 1704067200L * 1000 * 1000

  def timestamp(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000).toInt)
    t
  }

  /** Sizes of one feed: one large batch of `fillRows` events that fills the
    * state, then `batches` batches of `batchRows` events. */
  final case class Shape(fillRows: Int, batches: Int, batchRows: Int) {
    def total: Int = fillRows + batches * batchRows
    def cuts: Array[Int] = (Iterator(0) ++ Iterator.tabulate(batches + 1)(i => fillRows + i * batchRows)).toArray
  }

  /** Key churn: keys arrive at a steady rate; each gets 2 to 5 events and
    * then goes idle for good. Gaps between a key's events are mostly well
    * inside the TTL, one in ten is exactly the TTL (the session continues)
    * and one in ten is past it (the session restarts). Arrival spacing is
    * set so about `liveKeys` keys are live within the TTL at a time. */
  def churn(seed: Long, liveKeys: Int, shape: Shape): Feed = {
    val rnd = new SplittableRandom(seed)
    // a key stays live for its span (~2.5 gaps of ~17 min) plus the TTL
    val liveUs = 73 * MinuteUs
    val spacingUs = liveUs / liveKeys
    val need = shape.total
    val user = new LongBuf; val us = new LongBuf; val cents = new LongBuf
    var k = 0
    // keys are generated in start order and every event follows its key's
    // start, so once `need` events lie before the next key's start, the
    // first `need` events in time order are final
    var done = false
    while (!done) {
      val start = T0 + k * spacingUs
      if (k % 4096 == 0 && us.countBelow(start) >= need) done = true
      else {
        var t = start + rnd.nextLong(spacingUs)
        val n = 2 + rnd.nextInt(4)
        var j = 0
        while (j < n) {
          user += k; us += t; cents += 1 + rnd.nextLong(99999)
          val p = rnd.nextInt(10)
          t += (if (p == 0) TtlUs
                else if (p == 1) TtlUs + 1 + rnd.nextLong(15 * MinuteUs)
                else MinuteUs + rnd.nextLong(24 * MinuteUs))
          j += 1
        }
        k += 1
      }
    }
    ordered(user.result, us.result, cents.result, need, shape.cuts)
  }

  /** Sort by (ts, generation order), keep the first `n`, renumber. */
  private def ordered(user: Array[Long], us: Array[Long], cents: Array[Long],
      n: Int, cuts: Array[Int]): Feed = {
    // one primitive sort on (ts - T0) << 22 | index: stable on ts, and
    // exact while feeds stay under 2^22 events and 2^41 us (25 days)
    require(user.length < (1 << 22), s"feed of ${user.length} events is too large")
    val keys = Array.tabulate(user.length) { i =>
      require(us(i) >= T0 && us(i) - T0 < (1L << 41))
      ((us(i) - T0) << 22) | i
    }
    java.util.Arrays.sort(keys)
    val sorted = keys.iterator.take(n).map(k => (k & ((1 << 22) - 1)).toInt).toArray
    Feed(sorted.map(user), sorted.map(us), sorted.map(cents), cuts)
  }

  /** Minimal growable long array (the feeds hold ~10^6 events). */
  private final class LongBuf {
    private var a = new Array[Long](1 << 16)
    var size = 0
    def +=(v: Long): Unit = {
      if (size == a.length) a = java.util.Arrays.copyOf(a, size * 2)
      a(size) = v; size += 1
    }
    def result: Array[Long] = java.util.Arrays.copyOf(a, size)
    def countBelow(v: Long): Int = { var c = 0; var i = 0; while (i < size) { if (a(i) < v) c += 1; i += 1 }; c }
  }
}
