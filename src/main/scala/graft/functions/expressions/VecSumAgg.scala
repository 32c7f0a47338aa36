package graft.functions.expressions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.types._

/** Per-dimension weighted vector sum as ONE array aggregate:
  * `Σ_rows e_j · w` for j = 1..dim over an `array<bigint>` column — the
  * r20 replacement (VERDICT r19 item 5) for `dim` INDEPENDENT
  * `sum(element_at(e, j) * w)` accumulators in the PCA power-iteration
  * and k-means centroid updates. 64 separate sum columns fuse into one
  * HashAggregate whose generated update method exceeds HotSpot's ~8 KB
  * JIT ceiling (the Sq8ReconDot pathology, this time in the aggregate
  * path), so every training row was accumulated in interpreted
  * bytecode; this buffer is a primitive `long[dim]` updated by a
  * tens-of-bytecodes loop.
  *
  * Numeric contract (oracle parity): BIGINT adds/multiplies wrap
  * identically in any order, so the per-dimension totals are bit-equal
  * to the old per-column sums. NULL semantics mirror them too: a NULL
  * array or NULL weight row contributes to no dimension; a NULL element
  * skips exactly its own dimension (`element_at(e,j)·w` was NULL →
  * ignored by that column's sum); an array SHORTER than `dim` throws
  * (ANSI element_at's loud out-of-bounds contract). Sole divergence: a
  * ZERO-ROW input yields an all-zero array where `dim` sums would yield
  * NULLs — every caller trains on non-empty frames and would have
  * crashed on the NULL read anyway. Differential-pinned against the
  * per-column formulation in CustomExpressionsSpec.
  */
case class VecSumAgg(
    e: Expression,
    w: Expression,
    dim: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] {

  require(dim > 0, s"dim must be positive, got $dim")

  override def children: Seq[Expression] = Seq(e, w)

  // update() reads getLong from both inputs: any other type would fail
  // in an executor, so it is rejected while the plan is analyzed
  override def checkInputDataTypes(): TypeCheckResult = (e.dataType, w.dataType) match {
    case (ArrayType(LongType, _), LongType) => TypeCheckResult.TypeCheckSuccess
    case (et, wt) => TypeCheckResult.TypeCheckFailure(
      s"vec_sum_agg requires (array<bigint>, bigint), got (${et.simpleString}, ${wt.simpleString})")
  }

  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def createAggregationBuffer(): Array[Long] = new Array[Long](dim)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val ev = e.eval(input)
    val wv = w.eval(input)
    if (ev != null && wv != null) {
      val arr = ev.asInstanceOf[ArrayData]
      if (arr.numElements() < dim)
        throw new IllegalArgumentException(
          s"vec_sum_agg: array length ${arr.numElements()} < dim $dim")
      val wl = wv.asInstanceOf[Long]
      var j = 0
      while (j < dim) {
        if (!arr.isNullAt(j)) buf(j) += arr.getLong(j) * wl
        j += 1
      }
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var j = 0
    while (j < dim) { b1(j) += b2(j); j += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf.clone())

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(dim * 8)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(dim)(bb.getLong())
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VecSumAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VecSumAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): VecSumAgg =
    copy(e = newChildren(0), w = newChildren(1))
}

object VecSumAgg {
  /** Column-level entry point: `vec_sum_agg(e, w, dim)` → array<long>[dim]. */
  def apply(e: Column, w: Column, dim: Int): Column =
    ColumnShim.column(
      VecSumAgg(ColumnShim.expression(e), ColumnShim.expression(w), dim)
        .toAggregateExpression())
}
