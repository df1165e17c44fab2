package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** CPC forward-pass building blocks (SURVEY.md §2.6 W2 GRU recurrence,
  * `T_CPC.py:25-26`; §2.9 M5 — weights are INPUTS, literal parameter
  * tables, not trained here).
  *
  * The GRU scan is a pure higher-order-function expression (`aggregate`
  * with an ARRAY<DOUBLE> hidden state) — no UDF, stays in codegen, and
  * is row-local: one series = one row, so the recurrence never crosses
  * a partition. Same step shape as a streaming
  * flatMapGroupsWithState update (§2.10).
  *
  * The loss is batch-local InfoNCE (`infoNce`, `T_CPC.py:73`): one
  * grouped aggregate per batch, the native `graft_info_nce`, whose
  * O(|batch|²) scores never leave the group — no all-pairs join, no
  * window, one shuffle of the batch's rows.
  */
object Cpc {

  /** GRU weights for scalar input, hidden size H:
    * z/r/h gates each have input weight w (H), recurrent U (H×H), bias b.
    */
  final case class GruWeights(
      wz: Seq[Double], uz: Seq[Seq[Double]], bz: Seq[Double],
      wr: Seq[Double], ur: Seq[Seq[Double]], br: Seq[Double],
      wh: Seq[Double], uh: Seq[Seq[Double]], bh: Seq[Double]) {
    require(Seq(uz, ur, uh).forall(_.forall(_.size == wz.size)))
    val h: Int = wz.size
  }

  /** deterministic small test/demo weights (seeded LCG in [-0.5, 0.5)). */
  def demoWeights(h: Int, seed: Long = 42L): GruWeights = {
    var s = seed
    def nxt(): Double = {
      s = s * 6364136223846793005L + 1442695040888963407L
      ((s >>> 11).toDouble / (1L << 53).toDouble) - 0.5
    }
    def vec() = Seq.fill(h)(nxt())
    def mat() = Seq.fill(h)(Seq.fill(h)(nxt()))
    GruWeights(vec(), mat(), vec(), vec(), mat(), vec(), vec(), mat(), vec())
  }

  private def sigmoid(t: Column): Column = lit(1.0) / (lit(1.0) + exp(-t))

  /** one GRU step h' = GRU(h, x) as a column expression; h is
    * ARRAY<DOUBLE>(H), x is a scalar column.
    *
    * GATE CONVENTION — this is the ORIGINAL Cho et al. (2014) GRU:
    *   h̃ = tanh(W x + b + U (r ⊙ h));  h' = (1 − z) ⊙ h + z ⊙ h̃
    * (reset gate applied to h BEFORE the U matmul). PyTorch's `nn.GRU`
    * (used by the reference, `T_CPC.py:25`) differs:
    *   n = tanh(W x + b_in + r ⊙ (U h + b_hn));  h' = (1 − z) ⊙ n + z ⊙ h
    * — reset applied AFTER the matmul, and z gates the OLD state, not
    * the candidate. The engine is internally consistent (Spark, the
    * DuckDB oracle via gruStepSql, and CpcSpec's closed forms all use
    * this convention), but weights trained in torch nn.GRU must NOT be
    * ported as-is — use `gruStepTorch`/`gruScanTorch` (the exact
    * nn.GRU recurrence, oracle-checked by q93) for ported weights. */
  def gruStep(w: GruWeights, h: Column, x: Column): Column = {
    def hAt(i: Int): Column = element_at(h, i + 1)
    def gate(wv: Seq[Double], u: Seq[Seq[Double]], b: Seq[Double],
             hOf: Int => Column, act: Column => Column): Seq[Column] =
      (0 until w.h).map { i =>
        act(lit(wv(i)) * x + b(i) +
          (0 until w.h).map(j => lit(u(i)(j)) * hOf(j)).reduce(_ + _))
      }
    val z = gate(w.wz, w.uz, w.bz, hAt, sigmoid)
    val r = gate(w.wr, w.ur, w.br, hAt, sigmoid)
    val hh = gate(w.wh, w.uh, w.bh, i => r(i) * hAt(i), tanh)
    array((0 until w.h).map(i =>
      (lit(1.0) - z(i)) * hAt(i) + z(i) * hh(i)): _*)
  }

  /** GRU scan over a series array (zero initial state), returning the
    * final hidden state (P8: representation = last GRU state,
    * `unsupervised.py:68`). */
  def gruScan(w: GruWeights, xs: Column): Column =
    aggregate(xs, array(Seq.fill(w.h)(lit(0.0)): _*),
      (h, x) => gruStep(w, h, x))

  /** one TORCH-convention GRU step (`torch.nn.GRU`, the reference's
    * actual cell at `T_CPC.py:25`):
    *   r = σ(W_r x + b_r + U_r h);  z = σ(W_z x + b_z + U_z h)
    *   n = tanh(W_h x + b_h + r ⊙ (U_h h + b_hn))
    *   h' = (1 − z) ⊙ n + z ⊙ h
    * Differences from `gruStep` (Cho): reset applies AFTER the U
    * matmul, and z gates the OLD state. `bhn` is torch's separate
    * hidden bias of the candidate gate — the one bias that cannot be
    * merged (for r/z, fold b_ih + b_hh into the GruWeights biases).
    * With this step, torch-trained nn.GRU weights port DIRECTLY. */
  def gruStepTorch(w: GruWeights, bhn: Seq[Double],
                   h: Column, x: Column): Column = {
    def hAt(i: Int): Column = element_at(h, i + 1)
    def lin(wv: Seq[Double], u: Seq[Seq[Double]], b: Seq[Double], i: Int) =
      lit(wv(i)) * x + b(i) +
        (0 until w.h).map(j => lit(u(i)(j)) * hAt(j)).reduce(_ + _)
    val z = (0 until w.h).map(i => sigmoid(lin(w.wz, w.uz, w.bz, i)))
    val r = (0 until w.h).map(i => sigmoid(lin(w.wr, w.ur, w.br, i)))
    val n = (0 until w.h).map(i => tanh(lit(w.wh(i)) * x + w.bh(i) +
      r(i) * ((0 until w.h).map(j => lit(w.uh(i)(j)) * hAt(j))
        .reduce(_ + _) + bhn(i))))
    array((0 until w.h).map(i =>
      (lit(1.0) - z(i)) * n(i) + z(i) * hAt(i)): _*)
  }

  /** A4/J2/A3 batch-local InfoNCE (`T_CPC.py:73`): `df` grouped by
    * `batch`, each group scored by `graft_info_nce` over its rows'
    * (`id`, `proj`, `tgt`) — ARRAY<DOUBLE> of one entry per prediction
    * step. One row per batch: (batch_id, batch_n, info_nce = mean loss
    * at 6 dp, self_match_pct = mean self-match accuracy × 100 at 4 dp),
    * ordered by batch_id. */
  def infoNce(df: DataFrame, batch: Column, id: Column, proj: Column,
      tgt: Column): DataFrame =
    df.groupBy(batch.as("batch_id"))
      .agg(graft.expr.GraftFunctions.infoNce(df.sparkSession, id, proj, tgt)
        .as("r"))
      .select(col("batch_id"), col("r.n").as("batch_n"),
        round(col("r.loss"), 6).as("info_nce"),
        round(col("r.hit") * 100, 4).as("self_match_pct"))
      .orderBy("batch_id")

  /** torch-convention GRU scan (zero initial state → final state). */
  def gruScanTorch(w: GruWeights, bhn: Seq[Double], xs: Column): Column =
    aggregate(xs, array(Seq.fill(w.h)(lit(0.0)): _*),
      (h, x) => gruStepTorch(w, bhn, h, x))

  /** W1 multi-channel 1-D convolution (the reference encoder shape,
    * `T_CPC.py:16-22`: Conv1d(in→out, k=3, pad=1)): input is TIME-major
    * `ARRAY<ARRAY<DOUBLE>>` (t → channel vector, as produced by
    * `ArrayOps.oneHotFuse`), weights `w(o)(c)(tap)` literal, taps
    * centered with zero padding. Output time-major with `w.length`
    * channels. Pure nested HOFs — row-local, codegen-friendly. */
  def conv1dChannels(x: Column, w: Seq[Seq[Seq[Double]]],
                     bias: Seq[Double]): Column = {
    val taps = w.head.head.size
    val center = taps / 2
    transform(sequence(lit(1), size(x)), t =>
      array(w.zipWithIndex.map { case (wo, o) =>
        val terms = for {
          c <- wo.indices
          d <- 0 until taps
        } yield {
          val j = t + (d - center)
          when(j >= 1 && j <= size(x),
            element_at(element_at(x, j), c + 1) * lit(wo(c)(d)))
            .otherwise(lit(0.0))
        }
        terms.reduce(_ + _) + lit(bias(o))
      }: _*))
  }

  /** plain-Scala reference for conv1dChannels (ScalaTest oracle). */
  def conv1dChannelsRef(x: Seq[Seq[Double]], w: Seq[Seq[Seq[Double]]],
                        bias: Seq[Double]): Seq[Seq[Double]] = {
    val taps = w.head.head.size
    val center = taps / 2
    x.indices.map { t =>
      w.indices.map { o =>
        bias(o) + (for {
          c <- w(o).indices
          d <- 0 until taps
          j = t + d - center
          if j >= 0 && j < x.size
        } yield x(j)(c) * w(o)(c)(d)).sum
      }
    }
  }

  /** DuckDB SQL for one GRU step as a lambda body: given state list
    * name `h` (1-based DOUBLE[], size w.h) and input name `x`, emit the
    * next-state DOUBLE[] literal. sigmoid/tanh are spelled with exp()
    * (DuckDB has no tanh); identical recurrence up to float ulps, which
    * the rounded query output absorbs. Used to ORACLE-CHECK the GRU. */
  def gruStepSql(w: GruWeights, h: String, x: String): String = {
    def sig(t: String) = s"(1.0 / (1.0 + exp(-($t))))"
    def tnh(t: String) = s"(1.0 - 2.0 / (exp(2.0 * ($t)) + 1.0))"
    def lin(wv: Seq[Double], u: Seq[Seq[Double]], b: Seq[Double], i: Int,
            hOf: Int => String) =
      (s"(${wv(i)}) * $x + (${b(i)})" +:
        (0 until w.h).map(j => s"(${u(i)(j)}) * ${hOf(j)}")).mkString(" + ")
    def hAt(j: Int) = s"$h[${j + 1}]"
    val comps = (0 until w.h).map { i =>
      val z = sig(lin(w.wz, w.uz, w.bz, i, hAt))
      val rh = (j: Int) => s"(${sig(lin(w.wr, w.ur, w.br, j, hAt))} * ${hAt(j)})"
      val hh = tnh(lin(w.wh, w.uh, w.bh, i, rh))
      s"(1.0 - $z) * ${hAt(i)} + $z * $hh"
    }
    comps.mkString("[", ", ", "]")
  }

  /** DuckDB SQL for one TORCH-convention GRU step (oracle twin of
    * `gruStepTorch`, same contract as `gruStepSql`). */
  def gruStepTorchSql(w: GruWeights, bhn: Seq[Double],
                      h: String, x: String): String = {
    def sig(t: String) = s"(1.0 / (1.0 + exp(-($t))))"
    def tnh(t: String) = s"(1.0 - 2.0 / (exp(2.0 * ($t)) + 1.0))"
    def hAt(j: Int) = s"$h[${j + 1}]"
    def lin(wv: Seq[Double], u: Seq[Seq[Double]], b: Seq[Double], i: Int) =
      (s"(${wv(i)}) * $x + (${b(i)})" +:
        (0 until w.h).map(j => s"(${u(i)(j)}) * ${hAt(j)}")).mkString(" + ")
    val comps = (0 until w.h).map { i =>
      val z = sig(lin(w.wz, w.uz, w.bz, i))
      val r = sig(lin(w.wr, w.ur, w.br, i))
      val uh = (0 until w.h).map(j => s"(${w.uh(i)(j)}) * ${hAt(j)}")
        .mkString(" + ")
      val n = tnh(s"(${w.wh(i)}) * $x + (${w.bh(i)}) + $r * ($uh + (${bhn(i)}))")
      s"(1.0 - $z) * $n + $z * ${hAt(i)}"
    }
    comps.mkString("[", ", ", "]")
  }

  /** plain-Scala reference for the torch-convention scan (ScalaTest). */
  def gruScanTorchRef(w: GruWeights, bhn: Seq[Double],
                      xs: Seq[Double]): Seq[Double] = {
    def sig(t: Double) = 1.0 / (1.0 + math.exp(-t))
    xs.foldLeft(Seq.fill(w.h)(0.0)) { (h, x) =>
      val z = (0 until w.h).map(i => sig(w.wz(i) * x + w.bz(i) +
        (0 until w.h).map(j => w.uz(i)(j) * h(j)).sum))
      val r = (0 until w.h).map(i => sig(w.wr(i) * x + w.br(i) +
        (0 until w.h).map(j => w.ur(i)(j) * h(j)).sum))
      val n = (0 until w.h).map(i => math.tanh(w.wh(i) * x + w.bh(i) +
        r(i) * ((0 until w.h).map(j => w.uh(i)(j) * h(j)).sum + bhn(i))))
      (0 until w.h).map(i => (1.0 - z(i)) * n(i) + z(i) * h(i))
    }
  }

  /** plain-Scala reference for the same scan (ScalaTest oracle). */
  def gruScanRef(w: GruWeights, xs: Seq[Double]): Seq[Double] = {
    def sig(t: Double) = 1.0 / (1.0 + math.exp(-t))
    xs.foldLeft(Seq.fill(w.h)(0.0)) { (h, x) =>
      val z = (0 until w.h).map(i => sig(w.wz(i) * x + w.bz(i) +
        (0 until w.h).map(j => w.uz(i)(j) * h(j)).sum))
      val r = (0 until w.h).map(i => sig(w.wr(i) * x + w.br(i) +
        (0 until w.h).map(j => w.ur(i)(j) * h(j)).sum))
      val hh = (0 until w.h).map(i => math.tanh(w.wh(i) * x + w.bh(i) +
        (0 until w.h).map(j => w.uh(i)(j) * (r(j) * h(j))).sum))
      (0 until w.h).map(i => (1.0 - z(i)) * h(i) + z(i) * hh(i))
    }
  }
}
