package graft.streaming

import java.time.Duration

import org.apache.spark.sql.streaming.TTLConfig

/** The keyed-state TTL contract, written once. Every keyed-TTL adapter —
  * [[MapWithStateTTL]] (`flatMapGroupsWithState`), [[MapWithStateTWS]]
  * (`transformWithState`), the TTL forms of [[RunningReduce]] and
  * [[StreamingDedup.firstSeenTtl]] — keeps only its API's state and timer
  * plumbing and calls in here for the rules:
  *
  *  - a key's micro-batch slice folds in `(orderOf, tiebreak)` order.
  *    `flatMapGroupsWithState` and `transformWithState` hand rows over
  *    in arbitrary post-shuffle order, and the batch oracles order by
  *    `(ts, event_id)`. The sort is stable, so a caller that passes
  *    constants keeps arrival order;
  *  - the state restarts from `default` before any row whose clock is
  *    STRICTLY more than `ttl` past the key's last access; a gap equal to
  *    `ttl` keeps it. This is the q14 batch oracle's `gap > ttl` rule; the
  *    reference's tombstone check evicted at `>= ttl`
  *    (`MapWithState.java:361`), a one-boundary divergence kept on purpose.
  *    The check runs on the data path because Spark fires a key's timeout
  *    only when the key got no data in the batch, so a key idle past the
  *    TTL can receive data before its state is dropped;
  *  - event-time state is dropped once the watermark passes
  *    [[deadlineMs]]; processing-time state by a timeout of `ttl` after
  *    the last access, or by the runtime's native TTL ([[nativeTtl]]).
  *
  * MEMORY BOUND: the sort buffers ONE KEY'S slice of ONE micro-batch on
  * the heap (the hot-key spec in RunningReduceSpec folds a 100k-event key
  * at default heap). Neither state API offers a secondary sort, so a
  * hotter key needs its batch bounded upstream (`maxOffsetsPerTrigger`,
  * source rate limits).
  */
private[streaming] object TtlFold {

  /** Folds one key's slice with `f` from its `prior` (state, last-access
    * clock), or from `default` when the key has no state. `clockOf` and
    * `ttl` share one unit: event-time callers pass the event's µs,
    * processing-time callers `_ => nowMs`, which resets at most once per
    * batch. Returns (outputs in fold order, final state, last clock);
    * adapters skip empty slices. */
  def fold[K, In, S, Out](
      key: K, rows: Iterator[In], prior: Option[(S, Long)], default: S, ttl: Long,
      clockOf: In => Long, orderOf: In => Long, tiebreak: In => Long,
      f: (K, In, S) => (Out, S)): (Vector[Out], S, Long) = {
    var (s, last) = prior.getOrElse((default, Long.MinValue))
    var seen = prior.isDefined
    val out = rows.toVector.sortBy(in => (orderOf(in), tiebreak(in))).map { in =>
      val t = clockOf(in)
      if (seen && t - last > ttl) s = default
      val (o, s2) = f(key, in, s)
      s = s2
      last = t
      seen = true
      o
    }
    (out, s, last)
  }

  /** Event-time cleanup deadline: the first whole ms strictly past
    * `lastUs + ttlUs` (truncating to ms could fire up to ~1 ms early and
    * drop a key the data-path rule would continue), and never at or
    * behind the current watermark, which both timer APIs reject. */
  def deadlineMs(lastUs: Long, ttlUs: Long, watermarkMs: Long): Long =
    math.max((lastUs + ttlUs) / 1000 + 1, watermarkMs + 1)

  /** Native processing-time TTL for a `transformWithState` value. The
    * runtime evicts AT its boundary while the contract keeps state at
    * gap == ttl, so it runs at ttl + 1 ms: state the runtime already
    * dropped and state [[fold]] treats as expired then agree. */
  def nativeTtl(ttlMs: Long): TTLConfig = TTLConfig(Duration.ofMillis(ttlMs + 1))
}
