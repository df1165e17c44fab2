package graft.perfbench

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType}
import graft.expr._
import graft.ops.Cpc

/** Nanoseconds per call of the native kernels on fixed 200-step inputs,
  * called directly through their `compute`/`encode`/`grad` entry points.
  * The inputs do not depend on the seed, so the numbers compare across
  * runs and commits. */
object Kernels {
  private val n = 200
  private val xs = Array.tabulate(n)(i => math.sin(i * 0.37) + 0.25 * math.cos(i * 1.3))
  private val xsData = new GenericArrayData(xs)

  // results land here so the JIT cannot drop the calls being timed
  @volatile private var sink = 0

  /** median ns/call over 7 timed batches of about 20 ms each, after
    * 200 ms of untimed calls for the JIT */
  def nsPerCall(f: () => Any): Double = {
    def batch(calls: Int): Double = {
      var acc = 0
      val t0 = System.nanoTime()
      var i = 0
      while (i < calls) { acc += System.identityHashCode(f()); i += 1 }
      val dt = System.nanoTime() - t0
      sink += acc
      dt.toDouble / calls
    }
    val warmUntil = System.nanoTime() + 200000000L
    var est = batch(10)
    while (System.nanoTime() < warmUntil) est = batch(100)
    val calls = math.max(10, (20e6 / est).toInt)
    Seq.fill(7)(batch(calls)).sorted.apply(3)
  }

  def measure(): Seq[(String, Double)] = {
    // CPC encoder: 4 output channels over a 3-way one-hot fuse, 3 taps
    val q = Array.tabulate(n)(i => i % 3)
    val w = Array.tabulate(4, 3, 3)((o, c, d) => 0.1 * (o + 1) - 0.05 * c + 0.02 * d)
    val bias = Array(0.01, -0.02, 0.03, 0.0)
    val k2 = Array(0.25, 0.5, 0.25)
    // Cho GRU, hidden size 8, gates laid out as graft_gru_scan expects
    val gw = Cpc.demoWeights(8)
    def gate(wv: Seq[Double], b: Seq[Double], u: Seq[Seq[Double]]) = Seq(wv, b) ++ u
    val gru = GruScanExpr(Literal.create(xs.toSeq, ArrayType(DoubleType)),
      Literal.create(Seq(gate(gw.wz, gw.bz, gw.uz), gate(gw.wr, gw.br, gw.ur),
        gate(gw.wh, gw.bh, gw.uh)), ArrayType(ArrayType(ArrayType(DoubleType)))))
    // MLP head over the 200-step input, hidden width 8
    val h = 8
    val mlpW = Array.tabulate(n * h + h + h * h + h + h + 1)(i => math.sin(i * 0.01) * 0.1)
    // product quantizer over the 200-step vector: 25 sub-spaces × 8 dims,
    // 16 codewords each
    val (m, sub, k) = (25, 8, 16)
    val codebook = new GenericArrayData(Array.tabulate(m)(mi =>
      new GenericArrayData(Array.tabulate(k)(j =>
        new GenericArrayData(Array.tabulate(sub)(d =>
          math.sin((mi * 131 + j * 17 + d) * 0.05)))))))
    val codes = PqEncodeExpr.compute(xsData, codebook)
    val lut = new GenericArrayData(Array.tabulate(m)(mi =>
      new GenericArrayData(Array.tabulate(k)(j => (mi + 1) * 0.01 * j))))
    Seq(
      "fft_mag_ns" -> nsPerCall(() => FftMagExpr.compute(xsData)),
      "cpc_encode_ns" -> nsPerCall(() => CpcEncodeExpr.encode(xs, q, w, bias, k2)),
      "gru_scan_ns" -> nsPerCall(() => gru.compute(xsData)),
      "mlp_grad_ns" -> nsPerCall(() => MlpGradExpr.grad(xs, mlpW, 1.0, h)),
      "pq_adc_ns" -> nsPerCall(() => PqAdcExpr.compute(codes, lut)),
      "pq_encode_ns" -> nsPerCall(() => PqEncodeExpr.compute(xsData, codebook)))
  }
}
