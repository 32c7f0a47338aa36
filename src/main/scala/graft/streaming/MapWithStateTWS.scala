package graft.streaming

import scala.concurrent.duration.FiniteDuration

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, StatefulProcessorWithInitialState, TTLConfig, TimeMode, TimerValues, ValueState}

/** The Spark-4 `transformWithState` twin of the flagship
  * [[MapWithStateTTL]] — the reference's headline capability
  * (`/root/reference/src/main/java/com/github/juanrh/streaming/MapWithState.java:51-393`)
  * expressed through the API Spark built for exactly this job: a
  * `StatefulProcessor` with NATIVE per-state-variable TTL
  * (`TTLConfig`) for processing time, and explicit per-key timers for
  * event time. Both processors are adapters over [[TtlFold]], so the
  * observable contract is the flagship's, differentially spec-pinned
  * (MapWithStateTWSSpec: identical outputs on identical feeds).
  *
  * API-level differences found while porting (details in SCALE.md):
  *  - `transformWithState` REQUIRES the RocksDB state store provider —
  *    the right default at the 100-TB posture anyway, but specs/bench
  *    must pin `spark.sql.streaming.stateStore.providerClass`;
  *  - `TTLConfig` is PROCESSING-time only, so the event-time variant
  *    cannot use it — eviction is hand-rolled with `registerTimer`,
  *    and timers are a SET per key (unlike `GroupState`'s single
  *    timeout slot), so re-arming must `deleteTimer` the stale one;
  *  - TTL expiry is value-granular and evicts AT the boundary, hence
  *    [[TtlFold.nativeTtl]];
  *  - `ValueState.exists()` is `get() != null` (also under TTL, where an
  *    expired value reads as null), so each handler reads a key's state
  *    once with `get()` rather than paying two store reads.
  */
object MapWithStateTWS {

  /** Event-time state envelope: user state + last event-time µs + the
    * currently armed eviction timer (ms) — the timer must be carried
    * so re-arming can delete it (timers are a set, not a slot). */
  case class TwsState[S](value: S, lastUs: Long, timerMs: Long)

  private class ProcTimeProcessor[K, In, S, Out](
      ttlMs: Long, defaultState: S,
      orderOf: In => Long, tiebreak: In => Long,
      f: (K, In, S) => (Out, S),
      sEnc: Encoder[MapWithStateTTL.TimeStamped[S]])
    extends StatefulProcessor[K, In, Out] {

    @transient private var state: ValueState[MapWithStateTTL.TimeStamped[S]] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState("s", sEnc, TtlFold.nativeTtl(ttlMs))

    override def handleInputRows(
        key: K, rows: Iterator[In], tv: TimerValues): Iterator[Out] = {
      val nowMs = tv.getCurrentProcessingTimeInMs()
      val prior = Option(state.get()).map(t => (t.value, t.lastAccessMs))
      val (out, s, _) = TtlFold.fold(
        key, rows, prior, defaultState, ttlMs, (_: In) => nowMs, orderOf, tiebreak, f)
      // update refreshes the native TTL clock — refresh-on-access, like
      // the flagship's setTimeoutDuration per batch
      state.update(MapWithStateTTL.TimeStamped(s, nowMs))
      out.iterator
    }
  }

  private class EventTimeProcessor[K, In, S, Out](
      ttlUs: Long, defaultState: S,
      eventTimeMicros: In => Long, tiebreak: In => Long,
      f: (K, In, S) => (Out, S),
      sEnc: Encoder[TwsState[S]])
    extends StatefulProcessorWithInitialState[K, In, Out, (K, S, Long)] {

    @transient private var state: ValueState[TwsState[S]] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState("s", sEnc, TTLConfig.NONE)

    /** Warm start: one (key, value, lastEventUs) row per key — the
      * shape a batch state snapshot produces. The eviction timer is
      * armed immediately, so a bootstrapped key that never streams
      * again is still cleaned up when the watermark passes
      * lastUs + ttl. Only used through [[eventTimeFrom]]. */
    override def handleInitialState(
        key: K, init: (K, S, Long), tv: TimerValues): Unit = {
      // one-row-per-key snapshot contract, enforced by folding: on a
      // duplicate-keyed snapshot the row with the LATEST lastUs wins
      // and the loser's armed timer is deleted (a leftover timer would
      // be harmless thanks to the timerMs guard in handleExpiredTimer,
      // but folding keeps the surviving state deterministic)
      val t = state.get()
      if (t != null) {
        if (init._3 <= t.lastUs) return
        getHandle.deleteTimer(t.timerMs)
      }
      val timerMs = TtlFold.deadlineMs(init._3, ttlUs, tv.getCurrentWatermarkInMs())
      getHandle.registerTimer(timerMs)
      state.update(TwsState(init._2, init._3, timerMs))
    }

    override def handleInputRows(
        key: K, rows: Iterator[In], tv: TimerValues): Iterator[Out] = {
      // empty-batch guard (the ProfileKernel discipline): never persist
      // defaultState or arm a timer for a key that brought no events
      if (!rows.hasNext) return Iterator.empty
      val t = state.get()
      val (out, s, lastUs) = TtlFold.fold(
        key, rows, Option(t).map(t => (t.value, t.lastUs)), defaultState, ttlUs,
        eventTimeMicros, eventTimeMicros, tiebreak, f)
      // eager re-arm: the armed timer moves with every refresh, so it
      // always sits at the current deadline
      val timerMs = TtlFold.deadlineMs(lastUs, ttlUs, tv.getCurrentWatermarkInMs())
      if (t == null || t.timerMs != timerMs) {
        if (t != null) getHandle.deleteTimer(t.timerMs)
        getHandle.registerTimer(timerMs)
      }
      state.update(TwsState(s, lastUs, timerMs))
      out.iterator
    }

    override def handleExpiredTimer(
        key: K, tv: TimerValues, info: ExpiredTimerInfo): Iterator[Out] = {
      // only the CURRENTLY armed timer evicts — a stale one that raced
      // deletion must not drop refreshed state
      val t = state.get()
      if (t != null && t.timerMs == info.getExpiryTimeInMs()) state.clear()
      Iterator.empty
    }
  }

  /** Processing-time TTL via native `TTLConfig` — the
    * `transformWithState` form of [[MapWithStateTTL.processingTime]];
    * rows of one key fold in arrival order. Requires the RocksDB state
    * store provider. */
  def processingTime[In, K, S, Out](
      ds: Dataset[In],
      ttl: FiniteDuration,
      defaultState: S)(
      keyOf: In => K)(
      f: (K, In, S) => (Out, S))(
      implicit kEnc: Encoder[K],
      sEnc: Encoder[MapWithStateTTL.TimeStamped[S]],
      outEnc: Encoder[Out]): Dataset[Out] =
    withNativeTtl(ds, ttl, defaultState)(keyOf, _ => 0L, _ => 0L)(f)

  /** The `transformWithState` processing-time adapter over [[TtlFold]]:
    * rows fold in `(orderOf, tiebreak)` order. */
  private[streaming] def withNativeTtl[In, K, S, Out](
      ds: Dataset[In],
      ttl: FiniteDuration,
      defaultState: S)(
      keyOf: In => K,
      orderOf: In => Long,
      tiebreak: In => Long)(
      f: (K, In, S) => (Out, S))(
      implicit kEnc: Encoder[K],
      sEnc: Encoder[MapWithStateTTL.TimeStamped[S]],
      outEnc: Encoder[Out]): Dataset[Out] =
    ds.groupByKey(keyOf)
      .transformWithState(
        new ProcTimeProcessor[K, In, S, Out](
          ttl.toMillis, defaultState, orderOf, tiebreak, f, sEnc),
        TimeMode.ProcessingTime(),
        OutputMode.Append())

  /** Event-time TTL via explicit watermark timers — the
    * `transformWithState` form of [[MapWithStateTTL.eventTime]]. The
    * caller puts `.withWatermark` on the source; requires the RocksDB
    * state store provider. */
  def eventTime[In, K, S, Out](
      ds: Dataset[In],
      ttl: FiniteDuration,
      defaultState: S)(
      keyOf: In => K,
      eventTimeMicros: In => Long,
      tiebreak: In => Long = (_: In) => 0L)(
      f: (K, In, S) => (Out, S))(
      implicit kEnc: Encoder[K],
      sEnc: Encoder[TwsState[S]],
      outEnc: Encoder[Out]): Dataset[Out] =
    ds.groupByKey(keyOf)
      .transformWithState(
        new EventTimeProcessor[K, In, S, Out](
          ttl.toMicros, defaultState, eventTimeMicros, tiebreak, f, sEnc),
        TimeMode.EventTime(),
        OutputMode.Append())

  /** [[eventTime]] WARM-STARTED from a state snapshot: `init` holds one
    * (key, state value, last event-time µs) row per key — the shape a
    * batch replay of the history produces — folded into the keyed
    * state (with its eviction timer armed) before the first
    * micro-batch. The streaming continuation then behaves exactly as
    * if the whole history had streamed: spec-pinned
    * (snapshot(first half) + stream(second half) == full-stream run's
    * second-half output, including gap resets ACROSS the handoff). */
  def eventTimeFrom[In, K, S, Out](
      ds: Dataset[In],
      init: Dataset[(K, S, Long)],
      ttl: FiniteDuration,
      defaultState: S)(
      keyOf: In => K,
      eventTimeMicros: In => Long,
      tiebreak: In => Long = (_: In) => 0L)(
      f: (K, In, S) => (Out, S))(
      implicit kEnc: Encoder[K],
      sEnc: Encoder[TwsState[S]],
      initEnc: Encoder[(K, S, Long)],
      outEnc: Encoder[Out]): Dataset[Out] =
    ds.groupByKey(keyOf)
      .transformWithState(
        new EventTimeProcessor[K, In, S, Out](
          ttl.toMicros, defaultState, eventTimeMicros, tiebreak, f, sEnc),
        TimeMode.EventTime(),
        OutputMode.Append(),
        init.groupByKey(_._1))
}
