package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._
import graft.ops.{ArrayOps, Cpc, Fft, SeriesOps}

/** CPC-style sequence operators (SURVEY.md §2.6): 1-D convolution,
  * FFT spectrum, GRU recurrence, batch-local InfoNCE, batch
  * normalization — each over per-user series assembled from `events`.
  *
  * The FFT query's oracle cross-checks the fast FFT against the O(n²)
  * DFT formula written directly in SQL (bins 0 and 1) — so even the
  * "non-SQL" operator gets an independent engine check; full-spectrum
  * correctness lives in FftSpec.
  *
  * Scale notes: all per-series ops are row-local HOFs after ONE assembly
  * shuffle; InfoNCE's all-pairs is bounded by the batch group (J2 —
  * batch-local semantics, `T_CPC.py:73`): one grouped aggregate per
  * batch (`Cpc.infoNce`) does |batch|² work in memory per group, never
  * N², and shuffles each row once.
  */
object SeqQueries {

  /** q70: W1 — 3-tap zero-padded convolution [0.25, 0.5, 0.25] on the
    * array form; oracle does the same taps with lag/lead on long form. */
  private def q70(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val series = SeriesOps.assemble(events(s, dir), $"user_id", $"ts",
      "v" -> $"value")
    series.select(
      $"series_key".as("user_id"),
      $"series_len".as("n"),
      round(ArrayOps.arraySum(
        ArrayOps.conv1dSame($"v", Seq(0.25, 0.5, 0.25))), 4).as("conv_sum"),
      round(element_at(
        ArrayOps.conv1dSame($"v", Seq(0.25, 0.5, 0.25)), 1), 6).as("conv_first"))
      .orderBy($"user_id")
  }

  private val q70Sql =
    """WITH o AS (
      | SELECT user_id, value,
      |  row_number() OVER (PARTITION BY user_id ORDER BY ts, value) AS rn,
      |  0.25 * coalesce(lag(value) OVER (PARTITION BY user_id
      |           ORDER BY ts, value), 0)
      |  + 0.5 * value
      |  + 0.25 * coalesce(lead(value) OVER (PARTITION BY user_id
      |           ORDER BY ts, value), 0) AS cv
      | FROM events)
      |SELECT user_id, count(*) AS n,
      | round(sum(cv), 4) AS conv_sum,
      | round(min(CASE WHEN rn = 1 THEN cv END), 6) AS conv_first
      |FROM o GROUP BY user_id ORDER BY user_id""".stripMargin

  /** q71: W3 FFT — magnitude spectrum per user series; the oracle
    * recomputes bins 0 and 1 from the DFT definition in SQL. */
  private def q71(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val series = SeriesOps.assemble(events(s, dir), $"user_id", $"ts",
      "v" -> $"value")
    series
      .withColumn("mag", graft.expr.GraftFunctions.fftMag(s, $"v"))
      .select(
        $"series_key".as("user_id"),
        $"series_len".as("n"),
        round(element_at($"mag", 1), 4).as("mag0"),
        round(element_at($"mag", 2), 4).as("mag1"),
        // energy via Parseval (Σ|FFT|²/n = Σv²), reported as an exact
        // integer of 1e-4 units: values are exact 2-decimal numbers,
        // so the TRUE energy is an exact multiple of 1e-4 — any
        // decimal rounding puts it ON the boundary and the two
        // engines' float noise (FFT ~1e-9 vs exact sum) lands on
        // opposite sides (bit one user at sf0.1); integer units give
        // a 0.5 margin against a 1e-5 error
        round(ArrayOps.arraySum(zip_with($"mag", $"mag", (a, _) => a * a)) /
          size($"mag").cast("double") * 1e4).cast("long").as("energy_e4"))
      .orderBy($"user_id")
  }

  private val q71Sql =
    """WITH o AS (
      | SELECT user_id, value,
      |  row_number() OVER (PARTITION BY user_id ORDER BY ts, value) - 1 AS j,
      |  count(*) OVER (PARTITION BY user_id) AS n
      | FROM events)
      |SELECT user_id, CAST(any_value(n) AS BIGINT) AS n,
      | round(abs(sum(value)), 4) AS mag0,
      | round(sqrt(
      |   pow(sum(value * cos(2 * pi() * j / n)), 2) +
      |   pow(sum(value * sin(2 * pi() * j / n)), 2)), 4) AS mag1,
      | CAST(round(sum(value * value) * 1e4) AS BIGINT) AS energy_e4
      |FROM o GROUP BY user_id ORDER BY user_id""".stripMargin

  /** q72: W2 GRU scan — hidden-2 GRU over each user's value series
    * (inputs scaled to O(1)), final state as the representation. Pure
    * HOF recurrence on the Spark side; the ORACLE re-runs the same
    * recurrence in DuckDB via list_reduce with a DOUBLE[] state and
    * exp()-spelled sigmoid/tanh — even the GRU is oracle-checked
    * (plus closed-form checks in CpcSpec). */
  private def q72(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val series = SeriesOps.assemble(
      events(s, dir).withColumn("x", $"value" / 100.0),
      $"user_id", $"ts", "x" -> $"x")
    series
      .withColumn("hfin", Cpc.gruScan(gruW, $"x"))
      .select(
        $"series_key".as("user_id"),
        $"series_len".as("n"),
        round(element_at($"hfin", 1), 6).as("h0"),
        round(element_at($"hfin", 2), 6).as("h1"))
      .orderBy($"user_id")
  }

  private val gruW = Cpc.demoWeights(2)

  private lazy val q72Sql = {
    // list_reduce needs acc type = element type (both DOUBLE[], any
    // length): acc is the 2-elem state, elements are [x] singletons
    val step = Cpc.gruStepSql(gruW, "h", "xx[1]")
    s"""WITH xs AS (
       | SELECT user_id, list(value / 100.0 ORDER BY ts, value / 100.0) AS v
       | FROM events GROUP BY user_id),
       |scan AS (
       | SELECT user_id, len(v) AS n,
       |  list_reduce(
       |   list_prepend([0.0, 0.0], list_transform(v, x -> [x])),
       |   (h, xx) -> $step) AS hfin
       | FROM xs)
       |SELECT user_id, n,
       | round(hfin[1], 6) AS h0, round(hfin[2], 6) AS h1
       |FROM scan ORDER BY user_id""".stripMargin
  }

  /** q93: W2 in the TORCH nn.GRU gate convention (the reference's
    * actual cell) — same scan as q72 but with `gruStepTorch`, so
    * torch-trained weights port directly; oracle re-runs the torch
    * recurrence in DuckDB via list_reduce. The q72/q93 pair
    * demonstrates (and q93Sql pins) the two gate conventions. */
  private val gruBhn = Seq(0.1, -0.2)

  private def q93(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val series = SeriesOps.assemble(
      events(s, dir).withColumn("x", $"value" / 100.0),
      $"user_id", $"ts", "x" -> $"x")
    series
      .withColumn("hfin", Cpc.gruScanTorch(gruW, gruBhn, $"x"))
      .select(
        $"series_key".as("user_id"),
        $"series_len".as("n"),
        round(element_at($"hfin", 1), 6).as("h0"),
        round(element_at($"hfin", 2), 6).as("h1"))
      .orderBy($"user_id")
  }

  private lazy val q93Sql = {
    val step = Cpc.gruStepTorchSql(gruW, gruBhn, "h", "xx[1]")
    s"""WITH xs AS (
       | SELECT user_id, list(value / 100.0 ORDER BY ts, value / 100.0) AS v
       | FROM events GROUP BY user_id),
       |scan AS (
       | SELECT user_id, len(v) AS n,
       |  list_reduce(
       |   list_prepend([0.0, 0.0], list_transform(v, x -> [x])),
       |   (h, xx) -> $step) AS hfin
       | FROM xs)
       |SELECT user_id, n,
       | round(hfin[1], 6) AS h0, round(hfin[2], 6) AS h1
       |FROM scan ORDER BY user_id""".stripMargin
  }

  /** q73: A4/J2/J3/A3 — batch-local InfoNCE: per-user representation,
    * FIXED-SIZE batches of users (id-range blocks of 32 — the
    * deterministic analogue of the reference DataLoader's fixed
    * batch_size: batch COUNT grows with the data while the per-batch
    * all-pairs term stays 32x32, so total pair work scales LINEARLY;
    * a fixed batch COUNT would go quadratic at 10x data),
    * all-pairs scores within batch,
    * stable log-softmax diagonal loss + self-match accuracy. */
  private def q73(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Cpc.infoNce(q73Rows(s, dir), $"batch_id", $"user_id", $"rep", $"rep")
  }

  /** q73's InfoNCE input: (user_id, batch_id, rep), rep a one-step
    * ARRAY<DOUBLE> that is both the projection and the target. */
  private[graft] def q73Rows(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    events(s, dir)
      .groupBy($"user_id")
      .agg(array(avg($"value") / 100.0).as("rep"))
      .withColumn("batch_id", expr("user_id div 32"))
  }

  private val q73Sql =
    """WITH reps AS (
      | SELECT user_id, avg(value) / 100.0 AS rep, user_id // 32 AS batch_id
      | FROM events GROUP BY user_id),
      |sc AS (
      | SELECT a.batch_id, a.user_id AS i, b.user_id AS j,
      |        a.rep * b.rep AS sc
      | FROM reps a JOIN reps b ON a.batch_id = b.batch_id),
      |scr AS (
      | SELECT *, row_number() OVER (PARTITION BY i
      |            ORDER BY sc DESC, j) AS rn FROM sc),
      |peri AS (
      | SELECT batch_id, i, max(sc) AS m,
      |  sum(CASE WHEN j = i THEN sc END) AS s_pos,
      |  max(CASE WHEN rn = 1 THEN j END) AS argmax_j
      | FROM scr GROUP BY batch_id, i),
      |lse AS (
      | SELECT sc.i, ln(sum(exp(sc.sc - p.m))) + any_value(p.m) AS lse
      | FROM sc JOIN peri p USING (i) GROUP BY sc.i)
      |SELECT p.batch_id, count(*) AS batch_n,
      | round(avg(l.lse - p.s_pos), 6) AS info_nce,
      | round(avg(CASE WHEN p.argmax_j = p.i THEN 1.0 ELSE 0.0 END) * 100, 4)
      |   AS self_match_pct
      |FROM peri p JOIN lse l USING (i)
      |GROUP BY p.batch_id ORDER BY p.batch_id""".stripMargin

  /** q74: A5 batch normalization — per (day-batch, event_type-channel)
    * mean/var_pop normalize, then per-channel moments of the normalized
    * signal across batches. */
  private def q74(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy(date_trunc("day", $"ts"), $"event_type")
    val eps = 1e-5
    events(s, dir)
      .withColumn("mu", avg($"value").over(w))
      .withColumn("v2", var_pop($"value").over(w))
      .withColumn("vhat", ($"value" - $"mu") / sqrt($"v2" + eps))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        // + 0.0 canonicalizes IEEE negative zero after rounding
        (round(sum($"vhat"), 4) + 0.0).as("sum_vhat"),
        round(sum($"vhat" * $"vhat"), 4).as("sumsq_vhat"))
      .orderBy($"event_type")
  }

  private val q74Sql =
    """WITH o AS (
      | SELECT event_type, value,
      |  avg(value) OVER (PARTITION BY date_trunc('day', ts), event_type)
      |    AS mu,
      |  var_pop(value) OVER (PARTITION BY date_trunc('day', ts), event_type)
      |    AS v2
      | FROM events),
      |nrm AS (
      | SELECT event_type, (value - mu) / sqrt(v2 + 1e-5) AS vhat FROM o)
      |SELECT event_type, count(*) AS n,
      | round(sum(vhat), 4) + 0.0 AS sum_vhat,
      | round(sum(vhat * vhat), 4) AS sumsq_vhat
      |FROM nrm GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q81: P12 train-mode dropout with a DETERMINISTIC md5 mask (the
    * oracle-checkable analogue of rand(seed), which is partition-order
    * dependent): drop p=1/10 of timesteps (md5(uid:t) % 10 == 0),
    * scale survivors by 10/9; report per-user kept count and means —
    * mean(dropped) ≈ mean (the unbiasedness the rescale buys). */
  private def q81(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val series = SeriesOps.assemble(events(s, dir), $"user_id", $"ts",
      "v" -> $"value")
    series
      .withColumn("dropped",
        zip_with($"v", sequence(lit(1), size($"v")), (x, t) => {
          val h = conv(substring(md5(
            concat($"series_key".cast("string"), lit(":"), t.cast("string"))),
            1, 8), 16, 10).cast("long")
          when(h % 10 === 0, lit(0.0)).otherwise(x * 10.0 / 9.0)
        }))
      .select(
        $"series_key".as("user_id"),
        $"series_len".as("n"),
        size(filter($"dropped", x => x =!= 0.0)).as("n_kept"),
        round(ArrayOps.arrayMean($"v"), 6).as("mean_orig"),
        round(ArrayOps.arrayMean($"dropped"), 6).as("mean_dropped"))
      .orderBy($"user_id")
  }

  private val q81Sql =
    """WITH s1 AS (
      | SELECT user_id, list(value ORDER BY ts, value) AS v
      | FROM events GROUP BY user_id),
      |d AS (
      | SELECT user_id, v, len(v) AS n,
      |  list_transform(generate_series(1, len(v)), t ->
      |   CASE WHEN CAST(concat('0x',
      |          substr(md5(concat(CAST(user_id AS VARCHAR), ':',
      |                 CAST(t AS VARCHAR))), 1, 8)) AS BIGINT) % 10 = 0
      |        THEN 0.0 ELSE v[t] * 10.0 / 9.0 END) AS dropped
      | FROM s1)
      |SELECT user_id, n,
      | len(list_filter(dropped, x -> x <> 0.0)) AS n_kept,
      | round(CAST(list_sum(v) AS DOUBLE) / n, 6) AS mean_orig,
      | round(CAST(list_sum(dropped) AS DOUBLE) / n, 6) AS mean_dropped
      |FROM d ORDER BY user_id""".stripMargin

  /** q102: P12 train-mode dropout through the TRUE `rand(seed)` path
    * (`T_CPC.py:19` — torch's Bernoulli mask), not q81's md5 stand-in:
    * `ArrayOps.dropout` injects `rand(seed)` per element, which is
    * partition-order dependent by nature (the same reason torch's mask
    * depends on worker scheduling), so this carries NO oracle —
    * rows-only by contract, with the statistical contract (empirical
    * drop rate ≈ p, rescale unbiasedness) pinned in SinkSpec. */
  private def q102(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val series = SeriesOps.assemble(events(s, dir), $"user_id", $"ts",
      "v" -> $"value")
    series
      // materialize the keep-mask ONCE (rand draws happen here), then
      // derive the dropped array and the EXACT kept count from it — a
      // kept source value of exactly 0.0 is still counted as kept
      .withColumn("m", ArrayOps.dropoutMask($"v", 0.2, seed = 123L))
      .withColumn("d", zip_with($"v", $"m", (x, m) => x * m / 0.8))
      .select(
        $"series_key".as("user_id"),
        $"series_len".as("n"),
        aggregate($"m", lit(0L), (s0, m) => s0 + m.cast("long")).as("n_kept"),
        round(ArrayOps.arrayMean($"v"), 6).as("mean_orig"),
        round(ArrayOps.arrayMean($"d"), 6).as("mean_dropped"))
      .orderBy($"user_id")
  }

  val queries: Seq[Q] = Seq(
    Q("q81_dropout_mask", q81, Some(q81Sql), "P12 deterministic dropout mask"),
    Q("q102_dropout_rand", q102, None,
      "P12 train-mode dropout via rand(seed) (rows-only: partition-order dependent)"),
    Q("q70_conv1d", q70, Some(q70Sql), "W1 3-tap conv, array vs window"),
    Q("q71_fft_spectrum", q71, Some(q71Sql), "W3 FFT vs SQL DFT bins"),
    Q("q72_gru_scan", q72, Some(q72Sql),
      "W2 GRU recurrence (HOF scan, list_reduce oracle)"),
    Q("q93_gru_torch", q93, Some(q93Sql),
      "W2 GRU in the torch nn.GRU gate convention (oracle)"),
    Q("q73_infonce", q73, Some(q73Sql), "A4 batch-local InfoNCE + A3 acc"),
    Q("q74_batchnorm", q74, Some(q74Sql), "A5 batch-norm moments"))
}
