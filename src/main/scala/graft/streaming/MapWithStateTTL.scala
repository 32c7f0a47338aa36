package graft.streaming

import scala.concurrent.duration.FiniteDuration

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Generic per-key stateful map with TTL-based state eviction — the
  * flagship capability of the reference
  * (`/root/reference/src/main/java/com/github/juanrh/streaming/MapWithState.java:51-393`).
  *
  * The reference emulates keyed-state TTL on Flink 1.1.3 with an iterative
  * stream feeding per-key tombstones back into the operator (an `Either`
  * wrapper, a timer thread, checkpointed pending tombstones). Structured
  * Streaming provides the same semantics natively through
  * `flatMapGroupsWithState` + `GroupStateTimeout`, so this operator is a
  * thin adapter over the TTL contract in [[TtlFold]]:
  *
  *  - state refresh on access = a timeout re-armed per batch, by duration
  *    (processing time) or by [[TtlFold.deadlineMs]] (event time)
  *    (reference: read refreshes `lastAccessTimestamp`, MapWithState.java:248-252);
  *  - eviction = `state.remove()` on `hasTimedOut`
  *    (reference: tombstone-triggered `valueState.clear()`, MapWithState.java:360-367);
  *  - the reference's `ttlRefreshInterval` tombstone re-arm has no
  *    counterpart — timeout firing granularity is the micro-batch trigger.
  *
  * The [[TimeStamped]] envelope mirrors the reference's `TimeStampedValue`
  * (MapWithState.java:232-263); here the timestamp comes from the batch
  * clock, not a wall-clock read per record, so results are deterministic
  * within a batch.
  *
  * Scale posture (100 TB): state is per-key-bounded (a single `S` + one
  * long), lives in the executor-local StateStore (RocksDB provider for
  * large keyspaces), and expired keys are physically removed by the
  * timeout path — no unbounded growth for churning keyspaces.
  */
object MapWithStateTTL {

  /** State envelope: user state + last-access time (ms for processing
    * time, µs for event time). */
  case class TimeStamped[S](value: S, lastAccessMs: Long)

  /** Processing-time TTL (reference default: TTL measured from last access
    * in wall-clock time, MapWithState.java:250,360). Rows of one key fold
    * in arrival order.
    *
    * Caveat observed at the surface: elapsed time is measured between batch
    * *trigger* times, and a cold first micro-batch can take seconds in
    * local mode — choose a ttl comfortably above batch latency or the
    * first re-access will look expired (SURVEY §7.3).
    *
    * @param f user function `(key, element, state) => (output, newState)` —
    *          the reference's `MapWithState.Function` surface
    *          (MapWithState.java:209-220) extended with the key.
    */
  def processingTime[In, K, S, Out](
      ds: Dataset[In],
      ttl: FiniteDuration,
      defaultState: S)(
      keyOf: In => K)(
      f: (K, In, S) => (Out, S))(
      implicit kEnc: Encoder[K],
      sEnc: Encoder[TimeStamped[S]],
      outEnc: Encoder[Out]): Dataset[Out] =
    withGroupState(ds, ttl, defaultState, eventTimeMicros = None)(
      keyOf, _ => 0L, _ => 0L)(f)

  /** Event-time TTL — the variant the reference author wanted but Flink
    * 1.1.3 couldn't express (SURVEY §7.2 step 6). A key whose event-time
    * gap exceeds `ttl` restarts from `defaultState`; state cleanup rides
    * the watermark (`EventTimeTimeout`), so the caller must put
    * `.withWatermark` on the source for expired state to be dropped.
    *
    * Elements are processed in `(eventTimeMicros, tiebreak)` order within
    * each batch; cross-batch disorder beyond the watermark is the
    * caller's contract, as everywhere in Structured Streaming.
    *
    * Determinism makes this the oracle-checkable twin of the batch
    * gap-sessionization query (Relational.q14MapWithStateTtl); the
    * streaming/batch equivalence is asserted in MapWithStateTTLSpec.
    */
  def eventTime[In, K, S, Out](
      ds: Dataset[In],
      ttl: FiniteDuration,
      defaultState: S)(
      keyOf: In => K,
      eventTimeMicros: In => Long,
      tiebreak: In => Long = (_: In) => 0L)(
      f: (K, In, S) => (Out, S))(
      implicit kEnc: Encoder[K],
      sEnc: Encoder[TimeStamped[S]],
      outEnc: Encoder[Out]): Dataset[Out] =
    withGroupState(ds, ttl, defaultState, Some(eventTimeMicros))(
      keyOf, eventTimeMicros, tiebreak)(f)

  /** The one `flatMapGroupsWithState` adapter over [[TtlFold]]: a timed-out
    * key is removed; otherwise the slice folds and the timeout is re-armed,
    * by duration when `eventTimeMicros` is None (processing time), else by
    * the event-time deadline. */
  private[streaming] def withGroupState[In, K, S, Out](
      ds: Dataset[In],
      ttl: FiniteDuration,
      defaultState: S,
      eventTimeMicros: Option[In => Long])(
      keyOf: In => K,
      orderOf: In => Long,
      tiebreak: In => Long)(
      f: (K, In, S) => (Out, S))(
      implicit kEnc: Encoder[K],
      sEnc: Encoder[TimeStamped[S]],
      outEnc: Encoder[Out]): Dataset[Out] = {
    val ttlMs = ttl.toMillis
    val ttlUs = ttl.toMicros
    // the fold compares clocks in the clock's own unit
    val (timeout, clockTtl) =
      if (eventTimeMicros.isDefined) (GroupStateTimeout.EventTimeTimeout, ttlUs)
      else (GroupStateTimeout.ProcessingTimeTimeout, ttlMs)
    ds.groupByKey(keyOf)
      .flatMapGroupsWithState(OutputMode.Append(), timeout) {
        (key: K, it: Iterator[In], state: GroupState[TimeStamped[S]]) =>
          if (state.hasTimedOut) {
            state.remove() // eviction (reference: valueState.clear())
            Iterator.empty
          } else {
            val clockOf = eventTimeMicros.getOrElse {
              val nowMs = state.getCurrentProcessingTimeMs()
              (_: In) => nowMs
            }
            val (out, s, last) = TtlFold.fold(
              key, it, state.getOption.map(t => (t.value, t.lastAccessMs)), defaultState,
              clockTtl, clockOf, orderOf, tiebreak, f)
            state.update(TimeStamped(s, last))
            if (eventTimeMicros.isEmpty) state.setTimeoutDuration(ttlMs)
            else state.setTimeoutTimestamp(
              TtlFold.deadlineMs(last, ttlUs, state.getCurrentWatermarkMs()))
            out.iterator
          }
      }
  }
}
