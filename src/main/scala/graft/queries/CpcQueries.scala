package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import graft.Tables._
import graft.ops.{ArrayOps, Cpc, Fft, Metrics, SeriesOps}

/** End-to-end CPC pipelines (SURVEY.md §3 E1/E3): the full forward
  * dataflow — quality fuse → encoder → anchor → GRU context → k-step
  * InfoNCE — and the linear-probe evaluation protocol over a model ×
  * classifier grid, reproducing the reference's results-table shape
  * (`UNSUPERVISED.csv`: Model, Classification, ROC_AUC).
  *
  * Weights are deterministic literals (M5: training is out of engine
  * scope; weights are inputs). GRU/ML fits are not SQL-expressible →
  * rows-only checks; every component is oracle- or spec-checked
  * individually (q70-q74, CpcSpec, FftSpec).
  */
object CpcQueries {

  private val K = 2
  // private[graft]: CpcSpec pins the native encoder bit-equal to the
  // HOF chain on the PRODUCTION weights — a duplicated generator in
  // the spec would keep passing on stale weights if these change
  private[graft] lazy val gru = Cpc.demoWeights(2)
  private[graft] val encBias = Seq(0.05, -0.05)
  private[graft] val conv2Kernel = Seq(0.3, 0.5, 0.2)
  private[graft] lazy val encW: Seq[Seq[Seq[Double]]] = {
    var st = 2026L
    def nxt(): Double = {
      st = st * 6364136223846793005L + 1442695040888963407L
      ((st >>> 11).toDouble / (1L << 53).toDouble) - 0.5
    }
    Seq.fill(2)(Seq.fill(16)(Seq.fill(3)(nxt())))
  }

  /** q75: full CPC forward pass (E1 steps 3-4 as ONE dataflow):
    * per-user series → P1×P2 fuse → W1 conv encoder + P11 relu →
    * W4 deterministic anchor → W5 prefix-GRU context → W6 targets
    * k=1..2 → J2 batch all-pairs scores → A4 InfoNCE + A3 accuracy.
    * The ORACLE reproduces the whole pass in DuckDB (q75Sql below). */
  private def q75(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Cpc.infoNce(q75Rows(s, dir), $"batch_id", $"user_id", $"proj", $"tgt")
  }

  /** q75's InfoNCE input, one row per series: (user_id, batch_id,
    * proj, tgt), proj/tgt holding the k = 1, 2 projections and targets. */
  private[graft] def q75Rows(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = events(s, dir)
      .withColumn("quality", pmod($"event_id", lit(16)).cast("int"))
    val series = SeriesOps.assemble(e, $"user_id", $"ts",
      "v" -> ($"value" / 100.0), "q" -> $"quality")
      .filter($"series_len" >= 12)
    // encoder, the reference W1 shape (`T_CPC.py:16-22`, TWO stacked
    // layers): P1×P2 16-channel one-hot fuse → Conv1d(16→2, k=3,
    // pad=1) channel mix → ReLU → collapse → second temporal
    // Conv1d(k=3, pad=1) → ReLU — as the native `graft_cpc_encode`
    // (one primitive loop per series; the HOF spelling walked the
    // interpreted-lambda machinery per (t, o, c, d) and measured 2.4 s
    // of q75's 5.0 s at sf0.1). CpcSpec pins the native kernel
    // BIT-EQUAL to the HOF chain on real series, so the oracle hash is
    // unchanged by construction.
    val encoded = series
      .withColumn("z", graft.expr.GraftFunctions.cpcEncode(
        s, $"v", $"q", encW, encBias, conv2Kernel))
    // W4: deterministic anchor in [0.4L, L-K-1) via md5(user_id) —
    // seeded-random analogue that both engines could recompute
    encoded
      .withColumn("anchor", (lit(0.4) * $"series_len").cast("int") +
        pmod(conv(substring(md5($"series_key".cast("string")), 1, 8), 16, 10)
          .cast("long"),
          greatest(($"series_len" * 0.6).cast("long") - K - 1, lit(1))).cast("int"))
      // W5: GRU over the prefix z[1..anchor+1]; context = final state
      // (native graft_gru_scan — the aggregate-HOF fold re-entered the
      // lambda interpreter per step × gate; CpcSpec pins bit-equality)
      .withColumn("ctx", graft.expr.GraftFunctions.gruScan(s,
        ArrayOps.prefix($"z", $"anchor" + 1), gru))
      // W10: scalar projection of the 2-d context per step k (literal
      // W_k); W6: future latent targets at anchor+k (guarded: len >= 12
      // and anchor < 0.4L + 0.6L - K - 1 + 1 keeps anchor+K in range).
      // No checkpoint: the batch aggregate is the only consumer, so the
      // encoder chain runs once
      .select($"series_key".as("user_id"),
        expr("series_key div 32").as("batch_id"),
        array(
          element_at($"ctx", 1) * 0.9 + element_at($"ctx", 2) * -0.4,
          element_at($"ctx", 1) * -0.3 + element_at($"ctx", 2) * 1.1)
          .as("proj"),
        array(element_at($"z", $"anchor" + 1), element_at($"z", $"anchor" + 2))
          .as("tgt"))
  }

  /** DuckDB oracle for the ENTIRE forward pass. The one-hot fuse makes
    * the 16-channel conv a weight LOOKUP: Σ_c w[o][c][d]·fused[j][c] =
    * w[o][q[j]][d]·x[j], so the encoder is three guarded taps per
    * output channel; the GRU prefix scan is a list_reduce (q72's
    * technique); anchor/projection/InfoNCE mirror the Spark plan.
    * Summation-order fp deltas (~1e-16) sit far below the 6-dp output
    * rounding. */
  private lazy val q75Sql: String = {
    // flat lookup lists: wl(o)[c*3 + d + 1] = encW(o)(c)(d)
    val wl = (0 to 1).map(o => encW(o).flatten.mkString("[", ", ", "]"))
    def encTerm(o: Int): String = {
      val taps = (0 to 2).map { d =>
        val j = d - 1 match {
          case 0 => "t"
          case off if off < 0 => s"(t - ${-off})"
          case off => s"(t + $off)"
        }
        s"(CASE WHEN $j >= 1 AND $j <= n " +
          s"THEN ${wl(o)}[q[$j] * 3 + $d + 1] * x[$j] ELSE 0.0 END)"
      }
      s"((${encBias(o)}) + ${taps.mkString(" + ")})"
    }
    val gruStep = Cpc.gruStepSql(gru, "h", "xx[1]")
    s"""WITH s1 AS (
       | SELECT user_id,
       |  list(value / 100.0 ORDER BY ts, value / 100.0, quality) AS x,
       |  list(quality ORDER BY ts, value / 100.0, quality) AS q,
       |  count(*) AS n
       | FROM (SELECT *, CAST(event_id % 16 AS INT) AS quality FROM events)
       | GROUP BY user_id HAVING count(*) >= 12),
       |zt AS (
       | SELECT user_id, n,
       |  list_transform(generate_series(1, CAST(n AS INT)), t ->
       |   greatest(${encTerm(0)}, 0.0) + greatest(${encTerm(1)}, 0.0)) AS z1
       | FROM s1),
       |z2t AS (
       | SELECT user_id, n,
       |  list_transform(generate_series(1, CAST(n AS INT)), t ->
       |   greatest(${
         conv2Kernel.zipWithIndex.map { case (k, d) =>
           val j = d - 1 match {
             case 0 => "t"
             case off if off < 0 => s"(t - ${-off})"
             case off => s"(t + $off)"
           }
           s"(CASE WHEN $j >= 1 AND $j <= n THEN z1[$j] * ($k) ELSE 0.0 END)"
         }.mkString(" + ")
       }, 0.0)) AS z
       | FROM zt),
       |anch AS (
       | SELECT user_id, user_id // 32 AS batch_id, n, z,
       |  CAST(floor(0.4 * n) AS INT) +
       |   CAST(CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
       |         AS BIGINT)
       |    % greatest(CAST(floor(n * 0.6) AS BIGINT) - ${K + 1}, 1) AS INT)
       |   AS anchor
       | FROM z2t),
       |ctxd AS (
       | SELECT user_id, batch_id, anchor, z,
       |  list_reduce(
       |   list_prepend([0.0, 0.0],
       |     list_transform(z[1:(anchor + 1)], e -> [e])),
       |   (h, xx) -> $gruStep) AS ctx
       | FROM anch),
       |proj AS (
       | SELECT user_id, batch_id,
       |  ctx[1] * 0.9 + ctx[2] * -0.4 AS proj1,
       |  ctx[1] * -0.3 + ctx[2] * 1.1 AS proj2,
       |  z[anchor + 1] AS tgt1, z[anchor + 2] AS tgt2
       | FROM ctxd),
       |sc AS (
       | SELECT a.batch_id, a.user_id AS i, b.user_id AS j, kk.k,
       |  CASE WHEN kk.k = 1 THEN a.proj1 * b.tgt1
       |       ELSE a.proj2 * b.tgt2 END AS sc
       | FROM proj a JOIN proj b ON a.batch_id = b.batch_id
       | CROSS JOIN (VALUES (1), (2)) kk(k)),
       |scr AS (
       | SELECT *, row_number() OVER (PARTITION BY k, i
       |            ORDER BY sc DESC, j) AS rn FROM sc),
       |peri AS (
       | SELECT batch_id, k, i, max(sc) AS m,
       |  sum(CASE WHEN j = i THEN sc END) AS s_pos,
       |  max(CASE WHEN rn = 1 THEN j END) AS argmax_j
       | FROM scr GROUP BY batch_id, k, i),
       |lse AS (
       | SELECT sc.k, sc.i, ln(sum(exp(sc.sc - p.m))) + any_value(p.m) AS lse
       | FROM sc JOIN peri p ON sc.k = p.k AND sc.i = p.i
       | GROUP BY sc.k, sc.i)
       |SELECT p.batch_id, count(DISTINCT p.i) AS batch_n,
       | round(avg(l.lse - p.s_pos), 6) AS info_nce,
       | round(avg(CASE WHEN p.argmax_j = p.i THEN 1.0 ELSE 0.0 END) * 100, 4)
       |   AS self_match_pct
       |FROM peri p JOIN lse l ON p.k = l.k AND p.i = l.i
       |GROUP BY p.batch_id ORDER BY p.batch_id""".stripMargin
  }

  /** per-user 6-channel representation, computed ONCE for the whole grid
    * (E3 untrained-probe analogue): channels 1-3 temporal stats, 4-6
    * spectral stats (FFT). Model variants are channel slices —
    * T = 1-3, S = 4-6, TS = all (P9 channel concat). */
  private[queries] def representations(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = events(s, dir)
      .withColumn("is_error",
        when($"event_type" === "error", 1.0).otherwise(0.0))
    val series = SeriesOps.assemble(e, $"user_id", $"ts",
      "v" -> ($"value" / 100.0), "err" -> $"is_error")
      .filter($"series_len" >= 4)
      .withColumn("label",
        when(ArrayOps.arraySum($"err") > $"series_len" * 0.22, 1.0)
          .otherwise(0.0))
    val temporal = array(
      ArrayOps.arrayMean($"v"),
      ArrayOps.lastElem($"v"),
      array_max($"v") - array_min($"v"))
    val spectral = {
      val mag = graft.expr.GraftFunctions.fftMag(s, $"v")
      array(
        element_at(mag, 1) / $"series_len",
        when(size(mag) >= 2, element_at(mag, 2) / $"series_len")
          .otherwise(lit(0.0)),
        when(size(mag) >= 3, element_at(mag, 3) / $"series_len")
          .otherwise(lit(0.0)))
    }
    series.select($"series_key".as("user_id"), $"label",
      concat(temporal, spectral).as("rep6"))
  }

  private def variantSlice(variant: String): Column => Column = variant match {
    case "T_CPC"  => r => slice(r, 1, 3)
    case "S_CPC"  => r => slice(r, 4, 3)
    case "TS_CPC" => r => r
  }

  /** q76: the linear-probe protocol grid (E1 step 4 / E3, M7) — for each
    * (model variant × classifier) fit a probe on the train split and
    * report held-out ROC-AUC, in the reference's results-table shape
    * (`UNSUPERVISED.csv` header: Model, Classification, ROC_AUC). */
  private def q76(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // per-user reps are tiny (1 row/user): partition count scales with
    // input (Tables.checkpointPartitions — 1 at sf0.1, fans out at
    // 100×; fixed repartition(1) would single-task the fits at scale).
    // repartition, NOT coalesce — coalesce(1) would collapse the
    // parallel FFT/assembly upstream into one task. eager
    // localCheckpoint (not cache): materializes once, cuts lineage, and
    // frees its blocks with the RDD instead of pinning a
    // session-lifetime cache entry per invocation
    val rep6 = representations(s, dir)
      .repartition(graft.Tables.checkpointPartitions(s, dir))
      .localCheckpoint(true)
    val train = rep6.filter($"user_id" % 5 =!= 0)
    val test = rep6.filter($"user_id" % 5 === 0)
    val grid = for {
      model <- Seq("T_CPC", "TS_CPC", "S_CPC")
      cls <- Seq("LogisticRegression", "ClassifierNN", "ScoreThreshold")
    } yield (model, cls)
    // Only the six model FITS are eager (iterative Spark ML jobs);
    // they run at most 3-wide — nine concurrent futures thrashed the
    // scheduler on a shared host (r02: 32.8 s) for zero data
    // parallelism, since each iteration is a one-task job. Scoring and
    // AUC are NOT per-cell collects: all nine scored frames union into
    // ONE grouped rank-sum AUC (Metrics.rocAuc groupCols), whose jobs
    // do not multiply with the grid size.
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val allScored = try {
      val scoredCells = grid.map { case (model, cls) => Future {
      val rep = variantSlice(model)
      val scored = cls match {
        case "LogisticRegression" =>
          val lr = new org.apache.spark.ml.classification.LogisticRegression()
            .setFeaturesCol("features").setLabelCol("label")
            .setMaxIter(10).setTol(1e-5).setRegParam(0.01)
          val m = lr.fit(train.select($"label",
            array_to_vector(rep($"rep6")).as("features")))
          m.transform(test.select($"label",
              array_to_vector(rep($"rep6")).as("features")))
            .select(element_at(vector_to_array($"probability"), 2)
              .as("score"), $"label")
        case "ClassifierNN" => // M2: the reference's MLP probe
          val dim = if (model == "TS_CPC") 6 else 3
          val nn = new org.apache.spark.ml.classification.MultilayerPerceptronClassifier()
            .setLayers(Array(dim, 8, 2)).setSeed(42L).setMaxIter(15)
            .setFeaturesCol("features").setLabelCol("label")
          val m = nn.fit(train.select($"label",
            array_to_vector(rep($"rep6")).as("features")))
          m.transform(test.select($"label",
              array_to_vector(rep($"rep6")).as("features")))
            .select(element_at(vector_to_array($"probability"), 2)
              .as("score"), $"label")
        case "ScoreThreshold" => // probe-free baseline: first rep channel
          test.select(element_at(rep($"rep6"), 1).as("score"), $"label")
      }
      scored.select(lit(model).as("Model"), lit(cls).as("Classification"),
        $"score", $"label")
      } }
      scoredCells.map(f => Await.result(f, Duration.Inf))
        .reduce(_ unionAll _)
    } finally pool.shutdown() // non-daemon threads would hang the JVM
    // exact golden-table header shape (`UNSUPERVISED.csv:1`): epochs=0
    // (untrained representations, E3) and the reference batch size
    Metrics.rocAuc(allScored, $"score", $"label",
        Seq($"Model", $"Classification"))
      .select(lit(0).as("n_Epochs"), $"Model", $"Classification",
        lit(1024).as("Batch Size"), round($"auc", 4).as("ROC_AUC"))
      .orderBy($"Model", $"Classification")
  }

  val queries: Seq[Q] = Seq(
    Q("q75_cpc_forward", q75, Some(q75Sql),
      "full CPC forward pass: fuse→conv→GRU→InfoNCE (E1, full oracle)"),
    Q("q76_probe_grid", q76, None,
      "linear-probe protocol grid → Model×Classification×ROC_AUC (M7)"))
}
