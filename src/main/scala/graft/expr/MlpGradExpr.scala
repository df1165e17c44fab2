package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** graft_mlp_grad(xz ARRAY<DOUBLE>, w ARRAY<DOUBLE>, y DOUBLE, h INT)
  * → ARRAY<DOUBLE>: the per-row BCE gradient of a two-hidden-layer
  * ReLU MLP with a single sigmoid logit head (the q160 architecture,
  * `unsupervised.py:171-183`'s Linear→ReLU→Linear→ReLU→Linear with
  * binary softmax folded to one logit), flat parameter layout
  * [W1 (j,i)-major | b1 | W2 | b2 | w3 | b3], hidden width `h`
  * (foldable literal), input dim inferred from |xz|.
  *
  * This is the q75/q97 native-kernel discipline applied to q160's hot
  * path: the HOF spelling builds the (d·h + h² + 3h + 1)-length
  * gradient through ~1.5k interpreted-lambda entries and ~35 array
  * allocations per row PER EPOCH; this kernel is one primitive loop.
  * Bit-equality with the HOF chain (MlpGradSpec pins it on real grid
  * rows) follows from replicating its exact operation order:
  *  - every dot is DotExpr.compute's fold (s = 0.0; s += aᵢ·bᵢ in
  *    index order), bias added AFTER the fold — z1/z2/u/d1 all use it;
  *  - relu is Math.max(z, 0.0) (Spark `greatest` semantics);
  *  - err = 1.0 / (1.0 + StrictMath.exp(−u)) − y — STRICTMath because
  *    Spark's `exp` Column function evaluates through StrictMath, and
  *    the intrinsic Math.exp diverges from it by 1 ulp on real inputs
  *    (measured here: MlpGradSpec caught it before this comment did);
  *  - ReLU gates multiply as literal 1.0/0.0 factors in the HOF's
  *    product order (err·w3ⱼ·gate), never as branches — a branch
  *    would flip the sign of a −0.0 product (the CpcExprs lesson);
  *  - gradient segment order = parameter layout order, products
  *    emitted exactly as the HOF's nested transforms do.
  */
case class MlpGradExpr(children: Seq[Expression]) extends Expression {

  override def checkInputDataTypes(): TypeCheckResult = {
    if (children.length != 4)
      return TypeCheckResult.TypeCheckFailure("graft_mlp_grad takes 4 args")
    if (!children(3).foldable || children(3).dataType != IntegerType)
      return TypeCheckResult.TypeCheckFailure(
        "graft_mlp_grad: h must be an INT literal")
    (children(0).dataType, children(1).dataType, children(2).dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _), DoubleType) =>
        val hv = children(3).eval()
        if (hv == null || hv.asInstanceOf[Int] <= 0)
          TypeCheckResult.TypeCheckFailure(
            "graft_mlp_grad: h must be a positive INT literal")
        else TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"graft_mlp_grad: (ARRAY<DOUBLE>, ARRAY<DOUBLE>, DOUBLE) expected, " +
          s"got ${a.simpleString} / ${b.simpleString} / ${c.simpleString}")
    }
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean =
    children(0).nullable || children(1).nullable || children(2).nullable
  override def prettyName: String = "graft_mlp_grad"

  @transient private lazy val h: Int = children(3).eval().asInstanceOf[Int]

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val xz = children(0).eval(input)
    val w = children(1).eval(input)
    val y = children(2).eval(input)
    if (xz == null || w == null || y == null) null
    else compute(xz.asInstanceOf[ArrayData], w.asInstanceOf[ArrayData],
      y.asInstanceOf[Double])
  }

  def compute(xzA: ArrayData, wA: ArrayData, y: Double): ArrayData = {
    MlpGradExpr.checkParams("graft_mlp_grad", wA.numElements(),
      xzA.numElements(), h)
    val xz = xzA.toDoubleArray()
    val w = wA.toDoubleArray()
    new GenericArrayData(MlpGradExpr.grad(xz, w, y, h))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("mlpGrad", this, classOf[MlpGradExpr].getName)
    val xzGen = children(0).genCode(ctx)
    val wGen = children(1).genCode(ctx)
    val yGen = children(2).genCode(ctx)
    val blk =
      code"""
        ${xzGen.code}
        ${wGen.code}
        ${yGen.code}
        boolean ${ev.isNull} =
          ${xzGen.isNull} || ${wGen.isNull} || ${yGen.isNull};
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
        if (!${ev.isNull}) {
          ${ev.value} = $ref.compute(${xzGen.value}, ${wGen.value}, ${yGen.value});
        }
      """
    ev.copy(code = blk)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MlpGradExpr =
    copy(children = newChildren)
}

/** graft_mlp_logit(xz ARRAY<DOUBLE>, w ARRAY<DOUBLE>, h INT) → DOUBLE:
  * the forward-only companion of graft_mlp_grad — the pre-sigmoid
  * logit u of the same two-hidden-layer ReLU head, same parameter
  * layout, same bit-equality discipline (MlpGradSpec pins it against
  * the Column/HOF forward). q160's scoring pass runs this over the
  * held-out split; the interpreted HOF forward measured ~37 s of the
  * sf3 wall-clock for an 81k-row test table. */
case class MlpLogitExpr(children: Seq[Expression]) extends Expression {

  override def checkInputDataTypes(): TypeCheckResult = {
    if (children.length != 3)
      return TypeCheckResult.TypeCheckFailure("graft_mlp_logit takes 3 args")
    if (!children(2).foldable || children(2).dataType != IntegerType)
      return TypeCheckResult.TypeCheckFailure(
        "graft_mlp_logit: h must be an INT literal")
    (children(0).dataType, children(1).dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        val hv = children(2).eval()
        if (hv == null || hv.asInstanceOf[Int] <= 0)
          TypeCheckResult.TypeCheckFailure(
            "graft_mlp_logit: h must be a positive INT literal")
        else TypeCheckResult.TypeCheckSuccess
      case (a, b) => TypeCheckResult.TypeCheckFailure(
        s"graft_mlp_logit: (ARRAY<DOUBLE>, ARRAY<DOUBLE>) expected, got " +
          s"${a.simpleString} / ${b.simpleString}")
    }
  }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean =
    children(0).nullable || children(1).nullable
  override def prettyName: String = "graft_mlp_logit"

  @transient private lazy val h: Int = children(2).eval().asInstanceOf[Int]

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val xz = children(0).eval(input)
    val w = children(1).eval(input)
    if (xz == null || w == null) null
    else compute(xz.asInstanceOf[ArrayData], w.asInstanceOf[ArrayData])
  }

  def compute(xzA: ArrayData, wA: ArrayData): Double = {
    MlpGradExpr.checkParams("graft_mlp_logit", wA.numElements(),
      xzA.numElements(), h)
    MlpGradExpr.logit(xzA.toDoubleArray(), wA.toDoubleArray(), h)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("mlpLogit", this, classOf[MlpLogitExpr].getName)
    val xzGen = children(0).genCode(ctx)
    val wGen = children(1).genCode(ctx)
    val blk =
      code"""
        ${xzGen.code}
        ${wGen.code}
        boolean ${ev.isNull} = ${xzGen.isNull} || ${wGen.isNull};
        double ${ev.value} = 0.0;
        if (!${ev.isNull}) {
          ${ev.value} = $ref.compute(${xzGen.value}, ${wGen.value});
        }
      """
    ev.copy(code = blk)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MlpLogitExpr =
    copy(children = newChildren)
}

object MlpGradExpr {
  /** throws unless `p` is the flat parameter count at input dim `d`
    * and hidden width `h`. */
  def checkParams(fn: String, p: Int, d: Int, h: Int): Unit = {
    val want = d * h + h + h * h + h + h + 1
    if (p != want)
      throw new IllegalArgumentException(
        s"$fn: |w| = $p inconsistent with input dim $d, " +
          s"hidden width $h (expect $want)")
  }

  /** forward pass to the pre-sigmoid logit — the shared front half of
    * `grad` (same dot fold order, Math.max relu, bias-after-fold). */
  def logit(xz: Array[Double], w: Array[Double], h: Int): Double = {
    val d = xz.length
    val w2o = d * h + h
    val b2o = w2o + h * h
    val w3o = b2o + h
    val p = w3o + h + 1
    val a1 = new Array[Double](h)
    var j = 0
    while (j < h) {
      var s = 0.0
      var i = 0
      while (i < d) { s += w(j * d + i) * xz(i); i += 1 }
      a1(j) = java.lang.Math.max(s + w(d * h + j), 0.0)
      j += 1
    }
    val a2 = new Array[Double](h)
    j = 0
    while (j < h) {
      var s = 0.0
      var i = 0
      while (i < h) { s += w(w2o + j * h + i) * a1(i); i += 1 }
      a2(j) = java.lang.Math.max(s + w(b2o + j), 0.0)
      j += 1
    }
    var u = 0.0
    j = 0
    while (j < h) { u += w(w3o + j) * a2(j); j += 1 }
    u + w(p - 1)
  }

  /** the fused forward+backward kernel; see bit-equality notes above.
    * Layout offsets (0-based): W1 [0, d·h), b1 [d·h, d·h+h),
    * W2 [w2o, w2o+h²), b2 [b2o, b2o+h), w3 [w3o, w3o+h), b3 at p−1. */
  def grad(xz: Array[Double], w: Array[Double], y: Double, h: Int): Array[Double] = {
    val d = xz.length
    val w2o = d * h + h
    val b2o = w2o + h * h
    val w3o = b2o + h
    val p = w3o + h + 1
    // forward
    val z1 = new Array[Double](h)
    val a1 = new Array[Double](h)
    var j = 0
    while (j < h) {
      var s = 0.0
      var i = 0
      while (i < d) { s += w(j * d + i) * xz(i); i += 1 }
      z1(j) = s + w(d * h + j)
      a1(j) = java.lang.Math.max(z1(j), 0.0)
      j += 1
    }
    val z2 = new Array[Double](h)
    val a2 = new Array[Double](h)
    j = 0
    while (j < h) {
      var s = 0.0
      var i = 0
      while (i < h) { s += w(w2o + j * h + i) * a1(i); i += 1 }
      z2(j) = s + w(b2o + j)
      a2(j) = java.lang.Math.max(z2(j), 0.0)
      j += 1
    }
    var u = 0.0
    j = 0
    while (j < h) { u += w(w3o + j) * a2(j); j += 1 }
    u += w(p - 1)
    val err = 1.0 / (1.0 + java.lang.StrictMath.exp(-u)) - y
    // backward — gates as 1.0/0.0 FACTORS in the HOF's product order
    val d2 = new Array[Double](h)
    j = 0
    while (j < h) {
      val gate = if (z2(j) > 0) 1.0 else 0.0
      d2(j) = err * w(w3o + j) * gate
      j += 1
    }
    val d1 = new Array[Double](h)
    j = 0
    while (j < h) {
      var s = 0.0
      var k = 0
      while (k < h) { s += w(w2o + k * h + j) * d2(k); k += 1 }
      val gate = if (z1(j) > 0) 1.0 else 0.0
      d1(j) = s * gate
      j += 1
    }
    // gradient, segment order = parameter layout order
    val g = new Array[Double](p)
    var o = 0
    j = 0
    while (j < h) {
      var i = 0
      while (i < d) { g(o) = d1(j) * xz(i); o += 1; i += 1 }
      j += 1
    }
    j = 0
    while (j < h) { g(o) = d1(j); o += 1; j += 1 }
    j = 0
    while (j < h) {
      var i = 0
      while (i < h) { g(o) = d2(j) * a1(i); o += 1; i += 1 }
      j += 1
    }
    j = 0
    while (j < h) { g(o) = d2(j); o += 1; j += 1 }
    j = 0
    while (j < h) { g(o) = err * a2(j); o += 1; j += 1 }
    g(o) = err
    g
  }
}
