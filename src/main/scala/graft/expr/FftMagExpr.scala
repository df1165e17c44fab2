package graft.expr

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}
import graft.ops.Fft

/** Native Catalyst expression for the FFT magnitude spectrum (W3) — the
  * promotion of `Fft.fftMagUdf` per SURVEY.md §7 step 6: no UDF
  * serialization boundary, participates in whole-stage codegen via a
  * static kernel call (the same pattern Spark's own StaticInvoke-backed
  * functions use).
  *
  * `graft_fft_mag(ARRAY<DOUBLE>) → ARRAY<DOUBLE>`; a null ARRAY yields
  * null, null ELEMENTS are treated as 0.0 (the dense-series semantics —
  * a gap contributes nothing to the spectrum); kernel is the shared
  * radix-2/Bluestein implementation in ops/Fft (FftSpec).
  */
case class FftMagExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_fft_mag requires ARRAY<DOUBLE>, got ${other.simpleString}")
    }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def prettyName: String = "graft_fft_mag"

  override protected def nullSafeEval(input: Any): Any =
    FftMagExpr.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expr.FftMagExpr.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): FftMagExpr =
    copy(child = newChild)
}

object FftMagExpr {
  /** static kernel entry, shared by interpreted eval and generated code.
    * Extracts elements null-aware (toDoubleArray throws on null
    * elements, reachable from SQL: graft_fft_mag(array(1.0, NULL))). */
  def compute(input: ArrayData): ArrayData = {
    val n = input.numElements()
    val x = new Array[Double](n)
    var j = 0
    while (j < n) {
      x(j) = if (input.isNullAt(j)) 0.0 else input.getDouble(j)
      j += 1
    }
    val (re, im) = Fft.fftComplex(x, new Array[Double](x.length),
      invert = false)
    val out = new Array[Double](x.length)
    var i = 0
    while (i < x.length) {
      out(i) = math.sqrt(re(i) * re(i) + im(i) * im(i))
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Config-time registration: start a session with
  * `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.expr.GraftExtensions` and the graft
  * function surface is available in every SQL context of the session —
  * the deployment path for a shared cluster (runtime
  * `GraftFunctions.register` remains for library embedding). */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftFunctions.functions.foreach(e.injectFunction)
    e.injectOptimizerRule(_ => DotRewrite)
  }
}

/** Runtime registration of the graft custom-function surface (idempotent;
  * call once per SparkSession before using the SQL names), and the
  * Column forms of the functions. */
object GraftFunctions {
  // every graft SQL function with its arity: the one list both the
  // runtime registry (`register`) and GraftExtensions install. The
  // arity check makes a one-arg graft_bottomk call fail analysis with a
  // clear message, not IndexOutOfBounds
  private def arity(name: String, n: Int, children: Seq[Expression]): Unit =
    if (children.length != n)
      throw new IllegalArgumentException(
        s"$name takes exactly $n argument(s), got ${children.length}")

  private def fn(name: String, cls: Class[_], n: Int)(
      build: Seq[Expression] => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name),
      { ch => arity(name, n, ch); build(ch) })

  private[expr] val functions
      : Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(
      fn("graft_fft_mag", classOf[FftMagExpr], 1)(ch => FftMagExpr(ch(0))),
      fn("graft_dot", classOf[DotExpr], 2)(ch => DotExpr(ch(0), ch(1))),
      fn("graft_bottomk", classOf[BottomKAgg], 2)(ch =>
        BottomKAgg(ch(0), ch(1)).toAggregateExpression()),
      fn("graft_pq_encode", classOf[PqEncodeExpr], 2)(ch =>
        PqEncodeExpr(ch(0), ch(1))),
      fn("graft_pq_adc", classOf[PqAdcExpr], 2)(ch => PqAdcExpr(ch(0), ch(1))),
      fn("graft_simhash32", classOf[SimHashExpr], 1)(ch => SimHashExpr(ch(0))),
      fn("graft_byte_hist", classOf[ByteHistExpr], 2)(ch =>
        ByteHistExpr(ch(0), ch(1))),
      fn("graft_topk_freq", classOf[TopKFreqAgg], 2)(ch =>
        TopKFreqAgg(ch(0), ch(1)).toAggregateExpression()),
      fn("graft_cpc_encode", classOf[CpcEncodeExpr], 5)(ch => CpcEncodeExpr(ch)),
      fn("graft_gru_scan", classOf[GruScanExpr], 2)(ch =>
        GruScanExpr(ch(0), ch(1))),
      fn("graft_bloom_agg", classOf[BloomAgg], 3)(ch =>
        BloomAgg(ch(0), ch(1), ch(2)).toAggregateExpression()),
      fn("graft_bloom_contains", classOf[BloomContainsExpr], 2)(ch =>
        BloomContainsExpr(ch(0), ch(1))),
      fn("graft_bloom_any", classOf[BloomAnyExpr], 2)(ch =>
        BloomAnyExpr(ch(0), ch(1))),
      fn("graft_hll_agg", classOf[HllAgg], 2)(ch =>
        HllAgg(ch(0), ch(1)).toAggregateExpression()),
      fn("graft_hll_sketch", classOf[HllSketchAgg], 2)(ch =>
        HllSketchAgg(ch(0), ch(1)).toAggregateExpression()),
      fn("graft_hll_merge", classOf[HllMergeAgg], 1)(ch =>
        HllMergeAgg(ch(0)).toAggregateExpression()),
      fn("graft_hll_estimate", classOf[HllEstimateExpr], 1)(ch =>
        HllEstimateExpr(ch(0))),
      fn("graft_kmv_sketch", classOf[KmvSketchAgg], 2)(ch =>
        KmvSketchAgg(ch(0), ch(1)).toAggregateExpression()),
      fn("graft_kmv_merge", classOf[KmvMergeAgg], 1)(ch =>
        KmvMergeAgg(ch(0)).toAggregateExpression()),
      fn("graft_kmv_estimate", classOf[KmvEstimateExpr], 1)(ch =>
        KmvEstimateExpr(ch(0))),
      fn("graft_kmv_intersect", classOf[KmvIntersectExpr], 2)(ch =>
        KmvIntersectExpr(ch(0), ch(1))),
      fn("graft_kmv_union_est", classOf[KmvUnionEstExpr], 2)(ch =>
        KmvUnionEstExpr(ch(0), ch(1))),
      fn("graft_zorder", classOf[ZorderExpr], 2)(ch => ZorderExpr(ch(0), ch(1))),
      fn("graft_kll_sketch", classOf[KllSketchAgg], 2)(ch =>
        KllSketchAgg(ch(0), ch(1)).toAggregateExpression()),
      fn("graft_kll_merge", classOf[KllMergeAgg], 1)(ch =>
        KllMergeAgg(ch(0)).toAggregateExpression()),
      fn("graft_kll_quantiles", classOf[KllQuantilesExpr], 2)(ch =>
        KllQuantilesExpr(ch(0), ch(1))),
      fn("graft_kll_quantiles_cont", classOf[KllQuantilesContExpr], 2)(ch =>
        KllQuantilesContExpr(ch(0), ch(1))),
      fn("graft_vec_sum", classOf[VecSumAgg], 1)(ch =>
        VecSumAgg(ch(0)).toAggregateExpression()),
      fn("graft_info_nce", classOf[InfoNceAgg], 3)(ch =>
        InfoNceAgg(ch(0), ch(1), ch(2)).toAggregateExpression()),
      fn("graft_mlp_grad", classOf[MlpGradExpr], 4)(ch => MlpGradExpr(ch)),
      fn("graft_mlp_logit", classOf[MlpLogitExpr], 3)(ch => MlpLogitExpr(ch))
    )

  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (id, info, build) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, info, build)
    }
    // library-embedding path for the optimizer rule (the extensions
    // path injects it at session build); extraOptimizations runs as
    // the optimizer's final user-provided batch
    if (!spark.experimental.extraOptimizations.contains(DotRewrite)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ DotRewrite
    }
  }

  /** bottom-k sketch aggregate column (native TypedImperativeAggregate). */
  def bottomK(spark: SparkSession, c: Column, k: Int): Column = {
    register(spark)
    call_function("graft_bottomk", c, org.apache.spark.sql.functions.lit(k))
  }

  /** column forms backed by the native expressions (not UDFs). */
  def fftMag(spark: SparkSession, c: Column): Column = {
    register(spark)
    call_function("graft_fft_mag", c)
  }

  def dot(spark: SparkSession, a: Column, b: Column): Column = {
    register(spark)
    call_function("graft_dot", a, b)
  }

  /** PQ encode codes[m] = argmin_j round₉‖v_m − cb[m][j]‖² (native). */
  def pqEncode(spark: SparkSession, v: Column, cb: Column): Column = {
    register(spark)
    call_function("graft_pq_encode", v, cb)
  }

  /** PQ asymmetric-distance score Σ_m lut[m][codes[m]] (native). */
  def pqAdc(spark: SparkSession, codes: Column, lut: Column): Column = {
    register(spark)
    call_function("graft_pq_adc", codes, lut)
  }

  /** 32-bit SimHash over an array of token hashes (native). */
  def simHash32(spark: SparkSession, th: Column): Column = {
    register(spark)
    call_function("graft_simhash32", th)
  }

  /** normalized byte histogram of a BINARY payload (native decode). */
  def byteHist(spark: SparkSession, payload: Column, buckets: Column): Column = {
    register(spark)
    call_function("graft_byte_hist", payload, buckets)
  }

  /** Space-Saving heavy-hitters summary (native TypedImperativeAggregate). */
  def topKFreq(spark: SparkSession, key: Column, k: Int): Column = {
    register(spark)
    call_function("graft_topk_freq", key,
      org.apache.spark.sql.functions.lit(k))
  }

  /** bloom-filter build aggregate (native; blob carries k + nbits). */
  def bloomAgg(spark: SparkSession, key: Column, nbits: Long, k: Int): Column = {
    register(spark)
    call_function("graft_bloom_agg", key,
      org.apache.spark.sql.functions.lit(nbits),
      org.apache.spark.sql.functions.lit(k))
  }

  /** bloom-filter membership probe (native; geometry from the blob). */
  def bloomContains(spark: SparkSession, bloom: Column, key: Column): Column = {
    register(spark)
    call_function("graft_bloom_contains", bloom, key)
  }

  /** any-ShingleWidth-token-shingle bloom probe over a token array
    * (native; one primitive loop per doc — the screen's hot path). */
  def bloomAny(spark: SparkSession, bloom: Column, toks: Column): Column = {
    register(spark)
    call_function("graft_bloom_any", bloom, toks)
  }

  /** HLL distinct-count aggregate (native TypedImperativeAggregate;
    * EXACT below 2^p distinct values — the sparse regime). */
  def hllDistinct(spark: SparkSession, key: Column, p: Int): Column = {
    register(spark)
    call_function("graft_hll_agg", key,
      org.apache.spark.sql.functions.lit(p))
  }

  /** re-mergeable HLL sketch aggregate → BINARY blob (the warehouse
    * rollup surface: persist per-partition sketches, merge later). */
  def hllSketch(spark: SparkSession, key: Column, p: Int): Column = {
    register(spark)
    call_function("graft_hll_sketch", key,
      org.apache.spark.sql.functions.lit(p))
  }

  /** union of stored HLL sketch blobs → BINARY (composes: day→week→…). */
  def hllMerge(spark: SparkSession, sketch: Column): Column = {
    register(spark)
    call_function("graft_hll_merge", sketch)
  }

  /** distinct-count estimate of a sketch blob (exact while sparse). */
  def hllEstimate(spark: SparkSession, sketch: Column): Column = {
    register(spark)
    call_function("graft_hll_estimate", sketch)
  }

  /** re-mergeable KMV/theta sketch aggregate → BINARY blob (EXACT set
    * algebra below k distinct values — the retention/overlap surface). */
  def kmvSketch(spark: SparkSession, key: Column, k: Int): Column = {
    register(spark)
    call_function("graft_kmv_sketch", key,
      org.apache.spark.sql.functions.lit(k))
  }

  /** aggregate set-union of stored KMV sketch blobs → BINARY. */
  def kmvMerge(spark: SparkSession, sketch: Column): Column = {
    register(spark)
    call_function("graft_kmv_merge", sketch)
  }

  /** distinct-count estimate of a KMV blob (exact while untrimmed). */
  def kmvEstimate(spark: SparkSession, sketch: Column): Column = {
    register(spark)
    call_function("graft_kmv_estimate", sketch)
  }

  /** estimated |A ∩ B| of two KMV blobs — the op HLL cannot do. */
  def kmvIntersect(spark: SparkSession, a: Column, b: Column): Column = {
    register(spark)
    call_function("graft_kmv_intersect", a, b)
  }

  /** estimated |A ∪ B| of two KMV blobs (pairwise, for join outputs). */
  def kmvUnionEst(spark: SparkSession, a: Column, b: Column): Column = {
    register(spark)
    call_function("graft_kmv_union_est", a, b)
  }

  /** Morton/Z-order interleave of two bounded dims (layout key). */
  def zorder(spark: SparkSession, x: Column, y: Column): Column = {
    register(spark)
    call_function("graft_zorder", x, y)
  }

  /** re-mergeable quantile sketch aggregate → BINARY blob (exact
    * until the first compaction — the untrimmed regime). */
  def kllSketch(spark: SparkSession, value: Column, k: Int): Column = {
    register(spark)
    call_function("graft_kll_sketch", value,
      org.apache.spark.sql.functions.lit(k))
  }

  /** aggregate union of stored quantile-sketch blobs → BINARY. */
  def kllMerge(spark: SparkSession, sketch: Column): Column = {
    register(spark)
    call_function("graft_kll_merge", sketch)
  }

  /** quantile lookups on a blob (quantile_disc semantics). */
  def kllQuantiles(spark: SparkSession, sketch: Column,
      probs: Seq[Double]): Column = {
    register(spark)
    import org.apache.spark.sql.functions.{array, lit}
    call_function("graft_kll_quantiles", sketch,
      array(probs.map(lit): _*))
  }

  /** interpolated quantile lookups on a blob (quantile_cont /
    * `percentile` semantics — exact-regime drop-in for the exact
    * interpolated percentile). */
  def kllQuantilesCont(spark: SparkSession, sketch: Column,
      probs: Seq[Double]): Column = {
    register(spark)
    import org.apache.spark.sql.functions.{array, lit}
    call_function("graft_kll_quantiles_cont", sketch,
      array(probs.map(lit): _*))
  }

  /** elementwise sum of ARRAY<DOUBLE> rows (native aggregate; one
    * fixed-size buffer per group — the dense-gradient reduction). */
  def vecSum(spark: SparkSession, v: Column): Column = {
    register(spark)
    call_function("graft_vec_sum", v)
  }

  /** batch-local InfoNCE over one group → STRUCT<n, loss, hit>
    * (native aggregate; InfoNceAgg). */
  def infoNce(spark: SparkSession, id: Column, proj: Column,
      tgt: Column): Column = {
    register(spark)
    call_function("graft_info_nce", id.cast("long"), proj, tgt)
  }

  /** per-row BCE gradient of the two-hidden-layer ReLU MLP head
    * (MlpGradExpr; bit-equal to the q160 HOF backprop chain). */
  def mlpGrad(spark: SparkSession, xz: Column, w: Column, y: Column,
      h: Int): Column = {
    register(spark)
    call_function("graft_mlp_grad", xz, w, y,
      org.apache.spark.sql.functions.lit(h))
  }

  /** forward-only logit of the same MLP head (MlpLogitExpr). */
  def mlpLogit(spark: SparkSession, xz: Column, w: Column, h: Int): Column = {
    register(spark)
    call_function("graft_mlp_logit", xz, w,
      org.apache.spark.sql.functions.lit(h))
  }

  /** native CPC encoder (CpcExprs; bit-equal to the HOF chain). */
  def cpcEncode(spark: SparkSession, v: Column, q: Column,
      w: Seq[Seq[Seq[Double]]], bias: Seq[Double],
      k2: Seq[Double]): Column = {
    register(spark)
    import org.apache.spark.sql.functions.{array, lit}
    val wLit = array(w.map(o =>
      array(o.map(c => array(c.map(lit): _*)): _*)): _*)
    call_function("graft_cpc_encode", v, q, wLit,
      array(bias.map(lit): _*), array(k2.map(lit): _*))
  }

  /** native Cho-GRU scan → final state (CpcExprs; bit-equal to the
    * `aggregate` fold). Gate layout: per gate (z, r, h) the rows are
    * [wv, b, U row 0, …, U row H−1]. */
  def gruScan(spark: SparkSession, xs: Column,
      w: graft.ops.Cpc.GruWeights): Column = {
    register(spark)
    import org.apache.spark.sql.functions.{array, lit}
    def gateLit(wv: Seq[Double], b: Seq[Double],
        u: Seq[Seq[Double]]): Column =
      array((Seq(wv, b) ++ u).map(row => array(row.map(lit): _*)): _*)
    val wLit = array(
      gateLit(w.wz, w.bz, w.uz),
      gateLit(w.wr, w.br, w.ur),
      gateLit(w.wh, w.bh, w.uh))
    call_function("graft_gru_scan", xs, wLit)
  }
}
