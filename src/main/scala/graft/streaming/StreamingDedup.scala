package graft.streaming

import scala.concurrent.duration.FiniteDuration

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming exact deduplication with BOUNDED state — the incremental
  * twin of the batch `Dedup.dedupExact` pass: a training-data pipeline
  * that ingests continuously cannot re-scan the corpus per batch, and it
  * cannot keep every key it has ever seen either, so dedup state must be
  * evicted on a time horizon. That horizon is exactly the library's
  * flagship TTL-eviction theme (reference:
  * `/root/reference/src/main/java/com/github/juanrh/streaming/MapWithState.java:51-393`)
  * applied to duplicate suppression.
  *
  * Two forms, deliberately:
  *  - [[withinWatermark]] — the idiomatic built-in
  *    (`dropDuplicatesWithinWatermark`), state dropped once the
  *    watermark passes an entry's event time + delay;
  *  - [[firstSeenTtl]] — the explicit `GroupState` form with the same
  *    shape as [[MapWithStateTTL]], for callers that need the eviction
  *    horizon decoupled from the watermark delay or want per-key
  *    bookkeeping alongside suppression.
  *
  * Both admit a re-emission once a key's state has been evicted — the
  * unavoidable contract of bounded-state dedup (a duplicate arriving
  * after the horizon is indistinguishable from a new key). At 100 TB the
  * state store holds only keys seen within the horizon (RocksDB provider
  * for large keyspaces), not the corpus history.
  */
object StreamingDedup {

  /** First occurrence per `keyCols` passes through; duplicates within
    * the watermark-delay horizon are suppressed. `eventTimeCol` must be
    * the stream's event-time column; `delay` is both the lateness bound
    * and the dedup horizon (e.g. "1 hour"). */
  def withinWatermark[T](
      ds: Dataset[T],
      eventTimeCol: String,
      delay: String,
      keyCols: Seq[String]): Dataset[T] =
    ds.withWatermark(eventTimeCol, delay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Explicit GroupState form: emits a key's first occurrence, suppresses
    * subsequent ones, and drops the key's state once the watermark passes
    * its last occurrence + `ttl` (EventTimeTimeout — the caller must set
    * `.withWatermark` upstream). State per key is a single long (last
    * event time, µs): O(live keys), not O(events). */
  def firstSeenTtl[In, K](
      ds: Dataset[In],
      ttl: FiniteDuration)(
      keyOf: In => K,
      eventTimeMicros: In => Long)(
      implicit kEnc: Encoder[K], inEnc: Encoder[In],
      stateEnc: Encoder[Long]): Dataset[In] = {
    val ttlUs = ttl.toMicros
    ds.groupByKey(keyOf)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (_: K, it: Iterator[In], state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            // earliest event in the slice is the survivor — sort so the
            // emitted representative is deterministic under shuffle
            val events = it.toVector.sortBy(eventTimeMicros)
            val out =
              if (state.exists) Vector.empty
              else events.headOption.toVector
            val lastUs = math.max(
              state.getOption.getOrElse(Long.MinValue),
              eventTimeMicros(events.last))
            state.update(lastUs)
            state.setTimeoutTimestamp(
              TtlFold.deadlineMs(lastUs, ttlUs, state.getCurrentWatermarkMs()))
            out.iterator
          }
      }
  }
}
