package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types._

/** `graft_info_nce(id BIGINT, proj ARRAY<DOUBLE>, tgt ARRAY<DOUBLE>)` →
  * STRUCT<n BIGINT, loss DOUBLE, hit DOUBLE> — batch-local InfoNCE
  * (`T_CPC.py:73`, SURVEY A4/J2/A3) over one group = one batch. Each
  * row is an anchor and a candidate; `proj(k)`/`tgt(k)` are its
  * step-k projection and target (K = the array length, fixed per
  * group). For each step k and anchor i, over every j in the batch
  * (i included):
  *   s_ij = proj_k(i)·tgt_k(j);  m = max_j s_ij;
  *   argmax = the smallest id among the js with s_ij = m;
  *   lse = ln Σ_j exp(s_ij − m) + m;  loss = lse − s_ii;
  *   hit = (argmax == id_i).
  * The result is the number of distinct ids and the means of loss and
  * hit over (k, i). Scores compare as Spark's `max` and DESC sort do
  * (SQLOrderingUtil: NaN is largest, −0.0 == 0.0), and exp/ln are
  * StrictMath, which Spark's `exp`/`ln` run.
  *
  * The work is O(|batch|²) per group and needs nothing from other
  * groups, so the buffer is the batch's rows as primitive arrays and
  * merge appends. `eval` sorts the rows by id first, so every sum runs
  * in one fixed order whatever the partition layout. A null id, array
  * or element throws: a silent skip would shrink the batch. */
final class InfoNceBuf {
  var n = 0
  var k = -1
  var ids = new Array[Long](16)
  var proj: Array[Double] = Array.emptyDoubleArray
  var tgt: Array[Double] = Array.emptyDoubleArray

  private def reserve(rows: Int): Unit =
    if (rows > ids.length) {
      val cap = math.max(rows, ids.length * 2)
      ids = java.util.Arrays.copyOf(ids, cap)
      proj = java.util.Arrays.copyOf(proj, cap * k)
      tgt = java.util.Arrays.copyOf(tgt, cap * k)
    }

  private def setK(kk: Int): Unit =
    if (k < 0) {
      k = kk
      proj = new Array[Double](ids.length * k)
      tgt = new Array[Double](ids.length * k)
    } else if (k != kk)
      throw new IllegalArgumentException(
        s"graft_info_nce: step count mismatch ($k vs $kk)")

  def add(id: Long, p: ArrayData, t: ArrayData): Unit = {
    if (p.numElements() != t.numElements())
      throw new IllegalArgumentException(
        s"graft_info_nce: proj has ${p.numElements()} steps, " +
          s"tgt ${t.numElements()}")
    setK(p.numElements())
    reserve(n + 1)
    ids(n) = id
    var c = 0
    while (c < k) {
      if (p.isNullAt(c) || t.isNullAt(c))
        throw new IllegalArgumentException(
          "graft_info_nce: null proj/tgt element")
      proj(n * k + c) = p.getDouble(c)
      tgt(n * k + c) = t.getDouble(c)
      c += 1
    }
    n += 1
  }

  def mergeIn(o: InfoNceBuf): Unit =
    if (o.n > 0) {
      setK(o.k)
      reserve(n + o.n)
      System.arraycopy(o.ids, 0, ids, n, o.n)
      System.arraycopy(o.proj, 0, proj, n * k, o.n * k)
      System.arraycopy(o.tgt, 0, tgt, n * k, o.n * k)
      n += o.n
    }

  /** (distinct ids, mean loss, mean hit); null for an empty group. */
  def result(): InternalRow = {
    if (n == 0) return null
    val order = (0 until n).sortBy(ids(_)).toArray
    var distinct = 1L
    var a = 1
    while (a < n) {
      if (ids(order(a)) != ids(order(a - 1))) distinct += 1
      a += 1
    }
    val s = new Array[Double](n)
    var lossSum = 0.0
    var hits = 0L
    var c = 0
    while (c < k) {
      a = 0
      while (a < n) {
        val i = order(a)
        val p = proj(i * k + c)
        var m = 0.0
        var arg = 0L
        var b = 0
        while (b < n) {
          val j = order(b)
          s(b) = p * tgt(j * k + c)
          // strictly greater: a tie keeps the earlier, smaller id
          if (b == 0 || SQLOrderingUtil.compareDoubles(s(b), m) > 0) {
            m = s(b); arg = ids(j)
          }
          b += 1
        }
        var sum = 0.0
        b = 0
        while (b < n) { sum += StrictMath.exp(s(b) - m); b += 1 }
        lossSum += StrictMath.log(sum) + m - p * tgt(i * k + c)
        if (arg == ids(i)) hits += 1
        a += 1
      }
      c += 1
    }
    val cells = (n.toLong * k).toDouble
    new GenericInternalRow(Array[Any](distinct, lossSum / cells,
      hits.toDouble / cells))
  }
}

case class InfoNceAgg(
    id: Expression,
    proj: Expression,
    tgt: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[InfoNceBuf] {

  override def children: Seq[Expression] = Seq(id, proj, tgt)

  override def checkInputDataTypes(): TypeCheckResult =
    (id.dataType, proj.dataType, tgt.dataType) match {
      case (LongType, ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        "graft_info_nce requires (BIGINT, ARRAY<DOUBLE>, ARRAY<DOUBLE>), " +
          s"got (${a.simpleString}, ${b.simpleString}, ${c.simpleString})")
    }

  override def dataType: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("loss", DoubleType, nullable = false),
    StructField("hit", DoubleType, nullable = false)))
  override def nullable: Boolean = true // empty group → null
  override def prettyName: String = "graft_info_nce"

  override def createAggregationBuffer(): InfoNceBuf = new InfoNceBuf

  override def update(buf: InfoNceBuf, input: InternalRow): InfoNceBuf = {
    val i = id.eval(input)
    val p = proj.eval(input)
    val t = tgt.eval(input)
    if (i == null || p == null || t == null)
      throw new IllegalArgumentException("graft_info_nce: null input")
    buf.add(i.asInstanceOf[Long], p.asInstanceOf[ArrayData],
      t.asInstanceOf[ArrayData])
    buf
  }

  override def merge(b1: InfoNceBuf, b2: InfoNceBuf): InfoNceBuf = {
    b1.mergeIn(b2); b1
  }

  override def eval(buf: InfoNceBuf): Any = buf.result()

  override def serialize(buf: InfoNceBuf): Array[Byte] = {
    val cells = buf.n * buf.k // k is -1 only while n is 0
    val bb = java.nio.ByteBuffer.allocate(8 + buf.n * 8 + cells * 16)
    bb.putInt(buf.n).putInt(buf.k)
    var r = 0
    while (r < buf.n) { bb.putLong(buf.ids(r)); r += 1 }
    r = 0
    while (r < cells) { bb.putDouble(buf.proj(r)); r += 1 }
    r = 0
    while (r < cells) { bb.putDouble(buf.tgt(r)); r += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): InfoNceBuf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val buf = new InfoNceBuf
    val n = bb.getInt()
    val k = bb.getInt()
    if (n > 0) {
      buf.n = n
      buf.k = k
      buf.ids = Array.fill(n)(bb.getLong())
      buf.proj = Array.fill(n * k)(bb.getDouble())
      buf.tgt = Array.fill(n * k)(bb.getDouble())
    }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): InfoNceAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): InfoNceAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): InfoNceAgg =
    copy(id = newChildren(0), proj = newChildren(1), tgt = newChildren(2))
}
