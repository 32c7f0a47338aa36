package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Count windows — fixed-size element-count windows per key, a capability
  * Spark has no built-in for (SURVEY §2.2 B16/B17; reference:
  * `countWindowAll(2)` `/root/reference/.../WindowAllKeyedPoC.java:86-88`
  * and keyed `countWindow` `:111-131`).
  *
  * Semantics match the reference exactly: a window emits when it reaches
  * `size` elements; an incomplete window never emits (the reference's
  * comments document incomplete windows being discarded at shutdown,
  * WindowAllKeyedPoC.java:99-103).
  *
  * State is bounded at `size - 1` buffered elements per key. The batch
  * oracle is `row_number()`-bucketing (Relational.q13CountWindow).
  */
object CountWindows {

  /** Buffered prefix of the next (incomplete) window. */
  case class Buffered[In](items: Seq[In])

  /** Keyed count window (B17). `orderOf` fixes intra-batch processing
    * order so results are deterministic (the reference relies on
    * single-task arrival order; a shuffled Dataset has none). The sort
    * buffers one key's slice of one micro-batch on the heap (see the
    * memory-bound note in RunningReduce.keyed; cross-batch state stays
    * at `size - 1` elements).
    *
    * @param agg fold of one complete window, e.g. sum/label — the
    *            reference's `WindowAgg` surface (WindowAllKeyedPoC.java:20-33)
    */
  def keyed[In, K, Out](
      ds: Dataset[In],
      size: Int)(
      keyOf: In => K,
      orderOf: In => Long,
      tiebreak: In => Long = (_: In) => 0L)(
      agg: (K, Seq[In]) => Out)(
      implicit kEnc: Encoder[K],
      bEnc: Encoder[Buffered[In]],
      outEnc: Encoder[Out]): Dataset[Out] = {
    require(size > 0, "count window size must be positive")
    ds.groupByKey(keyOf)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (key: K, it: Iterator[In], state: GroupState[Buffered[In]]) =>
          val prior = state.getOption.map(_.items.toVector).getOrElse(Vector.empty[In])
          val (out, buf) = drain(key, prior, it, size, orderOf, tiebreak, agg)
          // empty buffer ⇒ no state at all: with NoTimeout, a retained
          // empty Buffered would pin every completed-window key in the
          // StateStore forever (state must track in-flight windows only)
          if (buf.isEmpty) state.remove() else state.update(Buffered(buf))
          out.iterator
      }
  }

  /** Shared batch-slice fold: buffer + sort + drain complete windows.
    * Returns (emissions, leftover buffer) — the single source of the
    * window algebra, so the GroupState form and the TWS twin cannot
    * drift apart. `>=` (a drain), not `==`: a restart from a checkpoint
    * written under a larger `size` must not skip past the threshold and
    * buffer forever. */
  private def drain[In, K, Out](
      key: K, prior: Vector[In], batch: Iterator[In], size: Int,
      orderOf: In => Long, tiebreak: In => Long,
      agg: (K, Seq[In]) => Out): (Vector[Out], Vector[In]) = {
    var buf = prior
    val out = Vector.newBuilder[Out]
    batch.toVector.sortBy(in => (orderOf(in), tiebreak(in))).foreach { in =>
      buf = buf :+ in
      while (buf.size >= size) {
        out += agg(key, buf.take(size))
        buf = buf.drop(size)
      }
    }
    (out.result(), buf)
  }

  private class TwsProcessor[K, In, Out](
      size: Int,
      orderOf: In => Long, tiebreak: In => Long,
      agg: (K, Seq[In]) => Out,
      bEnc: Encoder[Buffered[In]])
    extends StatefulProcessor[K, In, Out] {

    @transient private var state: ValueState[Buffered[In]] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState("buf", bEnc, TTLConfig.NONE)

    override def handleInputRows(
        key: K, rows: Iterator[In], tv: TimerValues): Iterator[Out] = {
      // one store read: get() is null for an absent key (exists() would
      // be a second get())
      val t = state.get()
      val prior = if (t == null) Vector.empty[In] else t.items.toVector
      val (out, buf) = drain(key, prior, rows, size, orderOf, tiebreak, agg)
      // empty buffer ⇒ no state at all, same as the GroupState form: a
      // retained empty Buffered would pin every completed-window key in
      // the StateStore forever
      if (buf.isEmpty) state.clear() else state.update(Buffered(buf))
      out.iterator
    }
  }

  /** The Spark-4 `transformWithState` twin of [[keyed]] (VERDICT r18
    * item 6 — TWS is the forward stateful API; the flagship twin
    * MapWithStateTWS established the pattern). Identical observable
    * contract, differentially spec-pinned in CountWindowsSpec
    * (identical outputs on identical feeds). Count windows are
    * time-agnostic, so the processor runs under `TimeMode.None` with no
    * TTL — state is bounded at `size - 1` buffered elements per key by
    * the algebra itself. Requires the RocksDB state store provider
    * (a `transformWithState` runtime constraint). */
  def keyedTws[In, K, Out](
      ds: Dataset[In],
      size: Int)(
      keyOf: In => K,
      orderOf: In => Long,
      tiebreak: In => Long = (_: In) => 0L)(
      agg: (K, Seq[In]) => Out)(
      implicit kEnc: Encoder[K],
      bEnc: Encoder[Buffered[In]],
      outEnc: Encoder[Out]): Dataset[Out] = {
    require(size > 0, "count window size must be positive")
    ds.groupByKey(keyOf)
      .transformWithState(
        new TwsProcessor[K, In, Out](size, orderOf, tiebreak, agg, bEnc),
        TimeMode.None(),
        OutputMode.Append())
  }

  /** Global (non-keyed) count window (B16): single logical key, so — like
    * the reference's `countWindowAll` — this path is parallelism-1 by
    * construction. Use [[keyed]] for anything high-volume. */
  def global[In, Out](
      ds: Dataset[In],
      size: Int)(
      orderOf: In => Long,
      tiebreak: In => Long = (_: In) => 0L)(
      agg: Seq[In] => Out)(
      implicit iEnc: Encoder[Int],
      bEnc: Encoder[Buffered[In]],
      outEnc: Encoder[Out]): Dataset[Out] =
    keyed[In, Int, Out](ds, size)(_ => 0, orderOf, tiebreak)((_, items) => agg(items))
}
