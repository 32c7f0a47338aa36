package graft.streaming

import scala.concurrent.duration.FiniteDuration

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Keyed running reduce emitting the cumulative value per event —
  * the reference's `keyBy(0).reduce(sum)` whose observed output is the
  * running sums `(a,1)(a,4)(a,12)…` (SURVEY §2.2 B10;
  * `/root/reference/.../WindowAllKeyedPoC.java:145-151`, run log `:55-63`).
  *
  * `flatMapGroupsWithState` in Append mode is the faithful per-event echo
  * (a plain `groupBy.agg` in Update mode only emits once per micro-batch).
  * The batch oracle is the cumulative window function
  * (Relational.q9RunningSum).
  */
object RunningReduce {

  case class Acc[S](value: S)

  /** @param tiebreak total-order tiebreak for equal `orderOf` values —
    *                  without it, tied events fold in arbitrary
    *                  post-shuffle order while the batch oracle (q9)
    *                  orders by (ts, event_id)
    *
    * Memory bound: the deterministic sort buffers one key's slice of one
    * micro-batch on the heap (pinned by the hot-key spec at 100k events
    * for a single key). Spark's flatMapGroupsWithState has no
    * secondary-sort contract to lean on; bound a hotter key's batch
    * upstream with source rate limits (maxOffsetsPerTrigger). */
  def keyed[In, K, S](
      ds: Dataset[In],
      zero: S)(
      keyOf: In => K,
      orderOf: In => Long,
      tiebreak: In => Long = (_: In) => 0L)(
      reduce: (S, In) => S)(
      implicit kEnc: Encoder[K],
      aEnc: Encoder[Acc[S]],
      outEnc: Encoder[(K, S)]): Dataset[(K, S)] =
    ds.groupByKey(keyOf)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (key: K, it: Iterator[In], state: GroupState[Acc[S]]) =>
          var acc = state.getOption.map(_.value).getOrElse(zero)
          val out = it.toVector.sortBy(in => (orderOf(in), tiebreak(in))).map { in =>
            acc = reduce(acc, in)
            (key, acc)
          }
          state.update(Acc(acc))
          out.iterator
      }

  /** [[keyed]] with BOUNDED state: keys idle past `ttl` are physically
    * evicted and restart from `zero` on their next event — the
    * [[MapWithStateTTL.processingTime]] adapter over [[TtlFold]], folding
    * in `(orderOf, tiebreak)` order. The un-TTL'd [[keyed]] is
    * semantically faithful to the reference's `keyBy(0).reduce` (state per
    * key, forever); this is the form a library whose headline theme is
    * bounded state should hand to a churning 100 TB keyspace. */
  def keyedWithTtl[In, K, S](
      ds: Dataset[In],
      zero: S,
      ttl: FiniteDuration)(
      keyOf: In => K,
      orderOf: In => Long,
      tiebreak: In => Long = (_: In) => 0L)(
      reduce: (S, In) => S)(
      implicit kEnc: Encoder[K],
      tsEnc: Encoder[MapWithStateTTL.TimeStamped[S]],
      outEnc: Encoder[(K, S)]): Dataset[(K, S)] =
    MapWithStateTTL.withGroupState(ds, ttl, zero, eventTimeMicros = None)(
      keyOf, orderOf, tiebreak)(emitRunning(reduce))

  /** The Spark-4 `transformWithState` twin of [[keyedWithTtl]]: the
    * [[MapWithStateTWS.processingTime]] adapter, with NATIVE per-state
    * TTL (`TTLConfig`) instead of a GroupState timeout. Identical
    * observable contract, differentially spec-pinned in
    * RunningReduceSpec (identical eviction-script traces). Requires the
    * RocksDB state store provider (a `transformWithState` runtime
    * constraint). */
  def keyedWithTtlTws[In, K, S](
      ds: Dataset[In],
      zero: S,
      ttl: FiniteDuration)(
      keyOf: In => K,
      orderOf: In => Long,
      tiebreak: In => Long = (_: In) => 0L)(
      reduce: (S, In) => S)(
      implicit kEnc: Encoder[K],
      tsEnc: Encoder[MapWithStateTTL.TimeStamped[S]],
      outEnc: Encoder[(K, S)]): Dataset[(K, S)] =
    MapWithStateTWS.withNativeTtl(ds, ttl, zero)(
      keyOf, orderOf, tiebreak)(emitRunning(reduce))

  /** `reduce` as a TTL-fold step that emits the running value. */
  private def emitRunning[K, In, S](reduce: (S, In) => S): (K, In, S) => ((K, S), S) =
    (key, in, acc) => {
      val next = reduce(acc, in)
      ((key, next), next)
    }
}
