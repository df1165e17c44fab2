package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** `graft_vec_sum(v ARRAY<DOUBLE>)` → ARRAY<DOUBLE> — elementwise sum
  * of equal-length double arrays: the partial-aggregable reduction
  * under a dense-vector mean, for SQL callers (the GD loops sum their
  * gradients through IterativeState.reduce instead). One
  * fixed-size buffer per group however wide the vector — the
  * alternative spellings don't scale: P separate `avg(v[i])` columns
  * stop codegenning in the hundreds, and posexplode→groupBy(dim)
  * multiplies the shuffle by P (measured 3× on q137's 7-dim grid; the
  * MLP grid is 417-dim).
  *
  * Arithmetic: plain double addition in traversal order (exactly what
  * `sum(v[i])` does), so a consumer dividing by `count(*)` computes
  * the same closed form as an engine's `avg` — order-dependent at the
  * 1e-16 level like any float sum; consumers quantize (round) results
  * they feed across engines, per the IterativeState contract. Null
  * arrays are skipped; a length mismatch within a group throws
  * (vector columns are fixed-width by schema contract). Empty group →
  * null (like sum).
  */
final class VecSumBuf {
  var sums: Array[Double] = null

  def add(a: ArrayData): Unit = {
    val n = a.numElements()
    if (sums == null) sums = new Array[Double](n)
    else if (sums.length != n)
      throw new IllegalArgumentException(
        s"graft_vec_sum: array length mismatch (${sums.length} vs $n)")
    var i = 0
    while (i < n) { sums(i) += a.getDouble(i); i += 1 }
  }

  def mergeIn(o: VecSumBuf): Unit =
    if (o.sums != null) {
      if (sums == null) sums = o.sums
      else if (sums.length != o.sums.length)
        throw new IllegalArgumentException(
          s"graft_vec_sum: array length mismatch " +
            s"(${sums.length} vs ${o.sums.length})")
      else {
        var i = 0
        while (i < sums.length) { sums(i) += o.sums(i); i += 1 }
      }
    }
}

case class VecSumAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[VecSumBuf] {

  override def children: Seq[Expression] = Seq(child)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case a => TypeCheckResult.TypeCheckFailure(
        s"graft_vec_sum requires ARRAY<DOUBLE>, got ${a.simpleString}")
    }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true // empty group → null
  override def prettyName: String = "graft_vec_sum"

  override def createAggregationBuffer(): VecSumBuf = new VecSumBuf

  override def update(buf: VecSumBuf, input: InternalRow): VecSumBuf = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[ArrayData])
    buf
  }

  override def merge(b1: VecSumBuf, b2: VecSumBuf): VecSumBuf = {
    b1.mergeIn(b2); b1
  }

  override def eval(buf: VecSumBuf): Any =
    if (buf.sums == null) null else new GenericArrayData(buf.sums)

  override def serialize(buf: VecSumBuf): Array[Byte] = {
    val n = if (buf.sums == null) -1 else buf.sums.length
    val bb = java.nio.ByteBuffer.allocate(4 + math.max(0, n) * 8)
    bb.putInt(n)
    if (n > 0) buf.sums.foreach(bb.putDouble)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): VecSumBuf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt()
    val buf = new VecSumBuf
    if (n >= 0) {
      buf.sums = new Array[Double](n)
      var i = 0
      while (i < n) { buf.sums(i) = bb.getDouble(); i += 1 }
    }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): VecSumAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): VecSumAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): VecSumAgg =
    copy(child = newChildren(0))
}
