package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.ml.functions.array_to_vector
import graft.ops.{IterativeState, Metrics}

/** The reference's trained-trajectory protocol (SURVEY.md §3 E1/E2 and
  * the `un-sup comparison.ipynb` J4 join), re-expressed with the
  * weights-as-inputs contract (M5: gradient training is out of engine
  * scope).
  *
  * A literal per-epoch weight table drives representation quality: at
  * epoch e the per-user 6-channel representation is
  *   r_i(e) = (1 − e/4)·noise_i + (e/4)·feature_i
  * where `noise_i` is a deterministic md5 channel (the untrained random
  * encoder) and `feature_i` the informative channel (CpcQueries'
  * temporal+spectral rep). Epoch 0 is exactly the untrained-baseline
  * floor (E3, `withouttrain.csv`); later epochs model the encoder
  * converging toward its informative representation — the engine-side
  * analogue of `unsupervised.py:297-336`'s every-`test_every`-epochs
  * probe loop producing `UNSUPERVISED.csv` rows.
  *
  *  - q88: unsupervised trajectory — probe protocol (M7) re-run at
  *    epochs {0,2,4} (test_every=2) × model × {LogisticRegression,
  *    ClassifierNN, ScoreThreshold} — the reference's FULL
  *    `UNSUPERVISED.csv` classifier grid (`unsupervised.py:419-420`)
  *    plus the probe-free threshold floor; LR/MLP fits are Spark ML ⇒
  *    rows-only check (contract) with the AUC trend and NN-vs-LR
  *    ordering locked by TrajectorySpec.
  *  - q89: supervised counterpart (`supervised.py:312-431`) — A6
  *    mean-collapse of the epoch-e representation → M4 BCE head with
  *    literal weights → `SUPERVISED.csv` shape (no Classification
  *    column) + BCE loss. No iterative fit ⇒ FULLY oracle-checked.
  *  - q90: the `un-sup comparison.ipynb` cell-0 join (J4): unsupervised
  *    (probe-free ScoreThreshold slice) × supervised per
  *    (Model, n_Epochs). FULLY oracle-checked.
  */
object TrajectoryQueries {

  private val Epochs = 4 // trajectory runs epoch 0..4

  /** (user_id, label, n_Epochs, r1..r6): the per-epoch blended
    * representation table. One row per user per epoch — the epoch
    * dimension is a broadcast literal table, so the fan-out is a
    * narrow crossJoin (no shuffle of the rep table). */
  private def blended(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val epochs = (0 to Epochs).toDF("n_Epochs")
    val noisy = (1 to 6).foldLeft(CpcQueries.representations(s, dir)) {
      (df, i) =>
        df.withColumn(s"nz$i",
          conv(substring(md5(concat(lit(s"nz:$i:"),
            $"user_id".cast("string"))), 1, 8), 16, 10)
            .cast("long") % 1000 / lit(999.0) - 0.5)
    }
    val alpha = $"n_Epochs" / lit(4.0)
    (1 to 6).foldLeft(noisy.crossJoin(broadcast(epochs))) { (df, i) =>
      df.withColumn(s"r$i",
        (lit(1.0) - alpha) * col(s"nz$i") + alpha * element_at($"rep6", i))
    }.select(($"user_id" +: $"label" +: $"n_Epochs" +:
      (1 to 6).map(i => col(s"r$i"))): _*)
  }

  /** Shared oracle CTEs reproducing `blended` in DuckDB: series
    * assembly → temporal features + O(n²) DFT bins (the q71 technique)
    * → md5 noise channels → per-epoch blend. */
  private lazy val blendSqlCte: String = {
    def dft(k: Int): String =
      s"""sqrt(
         |   pow(list_sum(list_transform(generate_series(1, CAST(n AS INT)),
         |     j -> v[j] * cos(2 * pi() * $k * (j - 1) / n))), 2) +
         |   pow(list_sum(list_transform(generate_series(1, CAST(n AS INT)),
         |     j -> v[j] * sin(2 * pi() * $k * (j - 1) / n))), 2)) / n""".stripMargin
    val nz = (1 to 6).map { i =>
      s"""CAST(concat('0x', substr(md5(concat('nz:$i:',
         |    CAST(user_id AS VARCHAR))), 1, 8)) AS BIGINT)
         |   % 1000 / 999.0 - 0.5 AS nz$i""".stripMargin
    }.mkString(",\n  ")
    val blend = (1 to 6).map { i =>
      s"(1.0 - CAST(e.n_Epochs AS DOUBLE) / 4.0) * nz$i" +
        s" + CAST(e.n_Epochs AS DOUBLE) / 4.0 * f$i AS r$i"
    }.mkString(",\n  ")
    s"""s1 AS (
       | SELECT user_id,
       |  list(value / 100.0 ORDER BY ts, value / 100.0, is_error) AS v,
       |  list(is_error ORDER BY ts, value / 100.0, is_error) AS err,
       |  count(*) AS n
       | FROM (SELECT user_id, ts, value,
       |        CASE WHEN event_type = 'error' THEN 1.0 ELSE 0.0 END
       |          AS is_error
       |       FROM events)
       | GROUP BY user_id HAVING count(*) >= 4),
       |feat AS (
       | SELECT user_id,
       |  CASE WHEN list_sum(err) > n * 0.22 THEN 1.0 ELSE 0.0 END AS label,
       |  list_sum(v) / n AS f1,
       |  v[CAST(n AS INT)] AS f2,
       |  list_max(v) - list_min(v) AS f3,
       |  abs(list_sum(v)) / n AS f4,
       |  ${dft(1)} AS f5,
       |  ${dft(2)} AS f6,
       |  $nz
       | FROM s1),
       |ep AS (SELECT CAST(unnest(generate_series(0, $Epochs)) AS INT)
       |        AS n_Epochs),
       |br AS (
       | SELECT f.user_id, f.label, e.n_Epochs,
       |  $blend
       | FROM feat f CROSS JOIN ep e)""".stripMargin
  }

  /** A6 mean-collapse per model variant, written with the identical
    * left-associated sum in Spark and SQL (bit-equal across engines). */
  private def xbarCol(model: Column): Column =
    when(model === "T_CPC", (col("r1") + col("r2") + col("r3")) / 3.0)
      .when(model === "S_CPC", (col("r4") + col("r5") + col("r6")) / 3.0)
      .otherwise((col("r1") + col("r2") + col("r3") +
        col("r4") + col("r5") + col("r6")) / 6.0)

  private val xbarSql: String =
    """CASE WHEN m.Model = 'T_CPC' THEN (r1 + r2 + r3) / 3.0
      |     WHEN m.Model = 'S_CPC' THEN (r4 + r5 + r6) / 3.0
      |     ELSE (r1 + r2 + r3 + r4 + r5 + r6) / 6.0 END""".stripMargin

  // literal M4 head over the A5-standardized collapse: z-scoring x̄ per
  // (Model, epoch) — batchnorm eval-mode semantics — keeps the literal
  // head calibrated at every epoch (BCE decreases as class separation
  // grows; a raw-x̄ head mis-calibrates when the blend changes scale).
  // AUC is unaffected: the per-group affine is rank-preserving.
  private def headScore(z: Column): Column =
    lit(1.0) / (lit(1.0) + exp(-(lit(1.5) * z)))

  private val headScoreSql =
    "1.0 / (1.0 + exp(-(1.5 * ((xbar - mu) / sd))))"

  /** (user_id, label, n_Epochs, Model, xbar, score): the supervised
    * scored table shared by q89/q90. */
  private def supScored(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val models = Seq("T_CPC", "TS_CPC", "S_CPC").toDF("Model")
    val sup = blended(s, dir).crossJoin(broadcast(models))
      .withColumn("xbar", xbarCol($"Model"))
    val st = sup.groupBy($"Model", $"n_Epochs")
      .agg(avg($"xbar").as("mu"), stddev_pop($"xbar").as("sd"))
    sup.join(st, Seq("Model", "n_Epochs"))
      .withColumn("score", headScore(($"xbar" - $"mu") / $"sd"))
    // no checkpoint: rocAuc computes this twice (range sample, then the
    // sorted pass) and q89 once more for its BCE, yet an eager
    // localCheckpoint did not pay (sf0.1, 4 cores, min of 3 reps, four
    // runs a side: q89 1.18-1.53 s with it vs 1.29-1.71 s without, q90
    // 0.92-1.06 s vs 0.80-0.85 s)
  }

  /** oracle CTEs for `supScored` (appended after blendSqlCte). */
  private lazy val supScoredSqlCte: String =
    s"""md AS (SELECT * FROM (VALUES ('T_CPC'), ('TS_CPC'), ('S_CPC'))
       |        m(Model)),
       |sup AS (
       | SELECT b.user_id, b.label, b.n_Epochs, m.Model,
       |  CASE WHEN m.Model = 'S_CPC' THEN r4 ELSE r1 END AS uscore,
       |  $xbarSql AS xbar
       | FROM br b CROSS JOIN md m),
       |st AS (
       | SELECT Model, n_Epochs, avg(xbar) AS mu, stddev_pop(xbar) AS sd
       | FROM sup GROUP BY Model, n_Epochs),
       |supz AS (
       | SELECT s.*, $headScoreSql AS score
       | FROM sup s JOIN st USING (Model, n_Epochs))""".stripMargin

  /** q88: the unsupervised probe-protocol TRAJECTORY (E1) — epochs
    * {0, 2, 4} (test_every = 2) × model × classifier, `UNSUPERVISED.csv`
    * header shape with the reference's FULL classifier grid
    * (`unsupervised.py:419-420`): `LogisticRegression` (M1),
    * `ClassifierNN` (M2 — the paper's two-hidden-layer fully-connected
    * head, `nn.Linear(ini,64)→ReLU→Linear(64,64)→ReLU→Linear(64,2)` at
    * `unsupervised.py:171-183`, re-expressed as Spark ML's
    * MultilayerPerceptronClassifier with the same (in, 64, 64, 2)
    * layers), plus the probe-free `ScoreThreshold` floor. Epoch 0
    * reproduces the untrained floor (E3); the AUC trend across epochs
    * is the reference's headline result — `UNSUPERVISED.csv`'s best
    * cell is a ClassifierNN row. */
  private def q88(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // eager localCheckpoint: materialize once without pinning a
    // session-lifetime cache entry per invocation. Partition count
    // scales with input (see checkpointPartitions) — fixed
    // repartition(1) would single-task the 18 downstream fits at 100×.
    val reps = blended(s, dir).filter($"n_Epochs" % 2 === 0)
      .repartition(checkpointPartitions(s, dir)).localCheckpoint(true)
    val train = reps.filter($"user_id" % 5 =!= 0)
    val test = reps.filter($"user_id" % 5 === 0)
    def feats(model: String): Column = model match {
      case "T_CPC" => array($"r1", $"r2", $"r3")
      case "S_CPC" => array($"r4", $"r5", $"r6")
      case _       => array($"r1", $"r2", $"r3", $"r4", $"r5", $"r6")
    }
    def dim(model: String): Int = if (model == "TS_CPC") 6 else 3
    val grid = for {
      e <- 0 to Epochs by 2
      model <- Seq("T_CPC", "TS_CPC", "S_CPC")
      cls <- Seq("LogisticRegression", "ClassifierNN", "ScoreThreshold")
    } yield (e, model, cls)
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration.Duration
    // 9-wide: the full grid is 27 cells (9 LR + 9 MLP fits) and
    // each fit's jobs are tiny — fit-level parallelism is what keeps
    // the grid wall-clock near the single-slowest-fit bound
    val pool = java.util.concurrent.Executors.newFixedThreadPool(9)
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutorService(pool)
    val allScored = try {
      val cells = grid.map { case (e, model, cls) => Future {
      val scored = cls match {
        case "LogisticRegression" =>
          val lr = new org.apache.spark.ml.classification.LogisticRegression()
            .setFeaturesCol("features").setLabelCol("label")
            .setMaxIter(10).setTol(1e-5).setRegParam(0.01)
          val m = lr.fit(train.filter($"n_Epochs" === e).select($"label",
            array_to_vector(feats(model)).as("features")))
          m.transform(test.filter($"n_Epochs" === e).select($"label",
              array_to_vector(feats(model)).as("features")))
            .select(element_at(
              org.apache.spark.ml.functions.vector_to_array($"probability"), 2)
              .as("score"), $"label")
        case "ClassifierNN" =>
          // the reference head trains 64 full-batch Adam steps
          // (`unsupervised.py:220-228`); LBFGS on the same tiny
          // full-batch problem converges in fewer iterations
          val nn = new org.apache.spark.ml.classification.MultilayerPerceptronClassifier()
            .setLayers(Array(dim(model), 64, 64, 2))
            .setSeed(42L).setMaxIter(10).setTol(1e-4)
            .setFeaturesCol("features").setLabelCol("label")
          val m = nn.fit(train.filter($"n_Epochs" === e).select($"label",
            array_to_vector(feats(model)).as("features")))
          m.transform(test.filter($"n_Epochs" === e).select($"label",
              array_to_vector(feats(model)).as("features")))
            .select(element_at(
              org.apache.spark.ml.functions.vector_to_array($"probability"), 2)
              .as("score"), $"label")
        case _ => // ScoreThreshold: first channel of the variant slice
          // 6-dp rounded — the IDENTICAL spelling as q137's
          // probe-free slice, so TrajectorySpec's exact-equality pin
          // between the two queries is structural, not luck
          test.filter($"n_Epochs" === e)
            .select(round(element_at(feats(model), 1), 6).as("score"),
              $"label")
      }
      scored.select(lit(e).as("n_Epochs"), lit(model).as("Model"),
        lit(cls).as("Classification"), $"score", $"label")
      } }
      cells.map(f => Await.result(f, Duration.Inf))
        .reduce(_ unionAll _)
    } finally pool.shutdown() // non-daemon threads would hang the JVM
    gridAuc(allScored, "label")
  }

  /** a probe grid's table in the `UNSUPERVISED.csv` shape: the held-out
    * ROC-AUC of `score` against `label` per (n_Epochs, Model,
    * Classification) cell. */
  private def gridAuc(scored: DataFrame, label: String): DataFrame = {
    val cell = Seq("n_Epochs", "Model", "Classification").map(col)
    Metrics.rocAuc(scored, col("score"), col(label), cell)
      .select(cell ++ Seq(lit(1024).as("Batch Size"),
        round(col("auc"), 4).as("ROC_AUC")): _*)
      .orderBy("Model", "Classification", "n_Epochs")
  }

  // rep-table checkpoint sizing shared with q76: Tables.checkpointPartitions
  private def checkpointPartitions(s: SparkSession, dir: String): Int =
    graft.Tables.checkpointPartitions(s, dir)

  /** q89: the supervised trajectory (`supervised.py:312-431`, E2) —
    * A6 mean-collapse → literal M4 BCE head → per-(Model, n_Epochs)
    * held-out ROC-AUC + BCE loss in the `SUPERVISED.csv` shape. Fully
    * oracle-checked (no iterative fit anywhere). */
  private def q89(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val scored = supScored(s, dir)
    val bce = scored.groupBy($"Model", $"n_Epochs")
      .agg((-avg($"label" * log($"score") +
        (lit(1.0) - $"label") * log(lit(1.0) - $"score"))).as("bce"))
    Metrics.rocAuc(scored, $"score", $"label", Seq($"Model", $"n_Epochs"))
      .join(bce, Seq("Model", "n_Epochs"))
      .select($"n_Epochs", $"Model", lit(1024).as("Batch Size"),
        round($"auc", 4).as("ROC_AUC"), round($"bce", 6).as("bce_loss"))
      .orderBy($"Model", $"n_Epochs")
  }

  /** grouped rank-sum AUC oracle fragment over src(Model, n_Epochs, y,
    * score); `sfx` lets the block appear twice in one WITH (q90). */
  private def aucSql(src: String, sfx: String = ""): String =
    Metrics.rankSumSql(src, Seq("Model", "n_Epochs"), sfx = sfx)

  private lazy val q89Sql =
    s"""WITH $blendSqlCte,
       |$supScoredSqlCte,
       |sc AS (
       | SELECT Model, n_Epochs, label AS y, score FROM supz),
       |${aucSql("sc")},
       |bce AS (
       | SELECT Model, n_Epochs,
       |  -avg(y * ln(score) + (1.0 - y) * ln(1.0 - score)) AS bce
       | FROM sc GROUP BY Model, n_Epochs)
       |SELECT t.n_Epochs AS n_Epochs, t.Model AS Model,
       | 1024 AS "Batch Size",
       | round((rank_sum - np * (np + 1) / 2.0) / (np * nn), 4) AS ROC_AUC,
       | round(bce, 6) AS bce_loss
       |FROM t JOIN bce ON t.Model = bce.Model AND t.n_Epochs = bce.n_Epochs
       |ORDER BY t.Model, t.n_Epochs""".stripMargin

  /** q90: the comparison join (`un-sup comparison.ipynb` cell 0, J4) —
    * unsupervised (probe-free ScoreThreshold slice: first channel of
    * the variant representation) vs supervised (q89 head) per
    * (Model, n_Epochs). Fully oracle-checked. */
  private def q90(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = supScored(s, dir)
      .withColumn("uscore",
        when($"Model" === "S_CPC", $"r4").otherwise($"r1"))
    // both heads through ONE grouped AUC, so its passes compute the
    // scored table once, not once per head
    val aucs = Metrics.rocAuc(base.select($"Model", $"n_Epochs", $"label",
        inline_outer(array(
          struct(lit("unsup").as("head"), $"uscore".as("score")),
          struct(lit("sup").as("head"), $"score")))),
      $"score", $"label", Seq($"Model", $"n_Epochs", $"head"))
    def head(h: String): DataFrame = aucs.filter($"head" === h)
      .select($"Model", $"n_Epochs", round($"auc", 4).as(s"${h}_auc"))
    head("unsup").join(head("sup"), Seq("Model", "n_Epochs"))
      .select($"n_Epochs", $"Model", $"unsup_auc", $"sup_auc",
        round($"sup_auc" - $"unsup_auc", 4).as("auc_gap"))
      .orderBy($"Model", $"n_Epochs")
  }

  private lazy val q90Sql =
    s"""WITH $blendSqlCte,
       |$supScoredSqlCte,
       |uc AS (
       | SELECT Model, n_Epochs, label AS y, uscore AS score FROM supz),
       |${aucSql("uc")},
       |ua AS (
       | SELECT Model, n_Epochs,
       |  round((rank_sum - np * (np + 1) / 2.0) / (np * nn), 4)
       |    AS unsup_auc
       | FROM t),
       |sc2 AS (
       | SELECT Model, n_Epochs, label AS y, score FROM supz),
       |${aucSql("sc2", "2")},
       |sa AS (
       | SELECT Model, n_Epochs,
       |  round((rank_sum - np * (np + 1) / 2.0) / (np * nn), 4) AS sup_auc
       | FROM t2)
       |SELECT ua.n_Epochs AS n_Epochs, ua.Model AS Model,
       | unsup_auc, sup_auc,
       | round(sup_auc - unsup_auc, 4) AS auc_gap
       |FROM ua JOIN sa ON ua.Model = sa.Model AND ua.n_Epochs = sa.n_Epochs
       |ORDER BY ua.Model, ua.n_Epochs""".stripMargin

  // ---------------------------------------------------------------
  // q137: the E1 UNSUPERVISED probe grid END-TO-END TRAINED and fully
  // oracle-checked — q88 runs the reference protocol with Spark ML
  // fits (iterative black boxes ⇒ rows-only by contract); q137 trains
  // the logistic probe of every (rep-epoch × model) cell with q100's
  // declarative full-batch GD instead (`unsupervised.py:297-336` is
  // the probe loop; `unsupervised.py:419-420` the grid), so the whole
  // trajectory goes under the DuckDB hash gate.
  //
  // The grid does NOT train nine separate loops: the weight state is
  // nine (n_Epochs, Model) → w[7] vectors on the driver, and each GD
  // epoch is ONE Spark job over the checkpointed training table
  // (IterativeState.logisticGd): its tasks return per-(cell, dim)
  // partial gradients and the driver reduces them and rounds the new
  // weights. Cell count multiplies the keys of those partials, never
  // the number of passes over the data. That is the shape that
  // survives 100 TB: adding grid cells adds O(keys × dim) of driver
  // state, not scans, and no training row leaves its task. (An epoch
  // spelled in SQL — broadcast join, keyed avg, localCheckpoint — is
  // four jobs, mostly driver gap.)
  //
  // Features are zero-padded to a uniform 7 dims (3- and 6-channel
  // models share one table); a padded dim's gradient is avg(err · 0) =
  // 0 and its zero-initialized weight survives round(0 − lr·0, 6) = 0
  // exactly, in both engines, so padding is bit-inert.
  //
  // Features are z-scored per cell with TRAIN-split stats before GD
  // (what Spark ML's LR does internally via standardization=true):
  // the blended channels have wildly different scales, and the
  // unstandardized probe at any stable lr is still bias-dominated
  // after convergence-budget steps — measured: AUC trajectories that
  // FALL with rep epoch while the probe-free threshold rises. With
  // standardization the converged GD grid (GridIter steps) reproduces
  // q88's Spark ML LR cells to ~0.01 AUC. Zero-variance dims (bias,
  // padding) pass through unscaled; stats round to 6 dp (full-corpus
  // avgs — the q100 coarse-grid rationale).
  // ---------------------------------------------------------------
  // GD steps per probe — converged: the sweep's 12-step AUCs match
  // Spark ML's q88 LR cells in 7 of 9 grid cells exactly (the other
  // two differ by one swapped test pair); 20/30/60 steps move nothing
  // by more than 0.01
  private[graft] val GridIter = 12
  // q100's conditioning argument, valid again AFTER z-scoring; 5.0
  // diverges
  private[graft] val GridLr = 2.0
  private val GridDim = 7    // 6 channels + bias, zero-padded per model

  /** (n_Epochs, Model, user_id, y, x[7]): the unified probe training
    * table — every (rep-epoch, model) cell's features in one frame. */
  private def gridData(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val models = Seq("T_CPC", "TS_CPC", "S_CPC").toDF("Model")
    blended(s, dir).filter($"n_Epochs" % 2 === 0)
      .crossJoin(broadcast(models))
      .select($"n_Epochs", $"Model", $"user_id", $"label".as("y"),
        when($"Model" === "T_CPC",
          array($"r1", $"r2", $"r3", lit(0.0), lit(0.0), lit(0.0), lit(1.0)))
          .when($"Model" === "S_CPC",
            array($"r4", $"r5", $"r6", lit(0.0), lit(0.0), lit(0.0), lit(1.0)))
          .otherwise(array($"r1", $"r2", $"r3", $"r4", $"r5", $"r6", lit(1.0)))
          .as("x"))
  }

  /** The probe grid's inputs (q137, q160): the standardized TRAIN rows
    * as (n_Epochs, Model, x, y) for a trainer, the standardized TEST
    * rows (raw `x` and standardized `xz`), and the 9 cells with a zero
    * 7-dim weight state. */
  private[graft] def gridProbeInputs(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    import s.implicits._
    // materialize the blended reps once — 12 GD epochs + scoring all
    // read this table; without the barrier the DFT/assembly chain
    // re-executes per epoch (the q88 checkpoint rationale). Fan out
    // to the session's shuffle width, NOT checkpointPartitions: every
    // epoch is a full-table scan whose parallelism is the checkpoint's
    // partition count (4 partitions at sf1 throttled the 12 gradient
    // passes; q88's tiny-fit rationale doesn't apply)
    val u = gridData(s, dir)
      .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt)
      .localCheckpoint(true)
    val rawTrain = u.filter($"user_id" % 5 =!= 0)
    // per-cell TRAIN z-stats as two gathered arrays; zero-variance
    // dims (bias, padding) pass through unscaled in zscore below
    val st = rawTrain
      .select($"n_Epochs", $"Model", posexplode($"x").as(Seq("dim", "xj")))
      .groupBy($"n_Epochs", $"Model", $"dim")
      .agg(round(avg($"xj"), 6).as("mu"),
        round(stddev_pop($"xj"), 6).as("sd"))
      .groupBy($"n_Epochs", $"Model")
      .agg(IterativeState.gather($"dim", $"mu").as("mu"),
        IterativeState.gather($"dim", $"sd").as("sd"))
      .localCheckpoint(true)
    def zscore(df: DataFrame): DataFrame =
      df.join(broadcast(st), Seq("n_Epochs", "Model"))
        .withColumn("xs", zip_with($"x", arrays_zip($"mu", $"sd"),
          (v, ms) => when(ms("sd") > 1e-9, (v - ms("mu")) / ms("sd"))
            .otherwise(v)))
        .select($"n_Epochs", $"Model", $"user_id", $"y",
          $"x", $"xs".as("xz"))
    val train = zscore(rawTrain)
      .select($"n_Epochs", $"Model", $"xz".as("x"), $"y")
    val test = zscore(u.filter($"user_id" % 5 === 0))
    val w0: DataFrame = Seq("T_CPC", "TS_CPC", "S_CPC")
      .flatMap(m => (0 to Epochs by 2).map(e => (e, m)))
      .toDF("n_Epochs", "Model")
      .withColumn("w", array(Seq.fill(GridDim)(lit(0.0)): _*))
    (train, test, w0)
  }

  private def q137(s: SparkSession, dir: String): DataFrame =
    gridAuc(q137Scored(s, dir), "y")

  /** the held-out rows q137 scores: each cell's trained head and the
    * ScoreThreshold floor, (n_Epochs, Model, Classification, score, y). */
  private[graft] def q137Scored(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (train, test, w0) = gridProbeInputs(s, dir)
    def dot = graft.expr.GraftFunctions.dot(s, $"xz", $"w")
    // all nine cells train together: one job per epoch scans the
    // training table once and returns per-(cell, dim) partial
    // gradients; the 9×7 weights come back to the driver
    val wN = IterativeState.logisticGd(train, w0, GridLr, GridIter)
    // probe-free ScoreThreshold floor rides the same rows: x[1] is
    // the variant slice's first channel for every model (r1 / r4).
    // Every test cell has weights, so one join scores both heads;
    // inline_outer, not inline: the plain generator's inferred filter
    // would re-evaluate the dot
    test.join(broadcast(wN), Seq("n_Epochs", "Model"))
      .select($"n_Epochs", $"Model", inline_outer(array(
        struct(lit("GD_LogReg").as("Classification"),
          round(dot, 6).as("score")),
        struct(lit("ScoreThreshold").as("Classification"),
          round(element_at($"x", 1), 6).as("score")))), $"y")
  }

  /** shared oracle CTE chain for the probe-grid GD queries (q137/q160):
    * blend → unified padded feature table u → train/test split →
    * TRAIN z-stats → standardized trs/tes. */
  private lazy val gridZSqlCte: String = {
    val zSql = s"""list_transform(generate_series(1, $GridDim),
       |    i -> CASE WHEN sd[i] > 1e-9 THEN (x[i] - mu[i]) / sd[i]
       |              ELSE x[i] END)""".stripMargin
    s"""$blendSqlCte,
       |md AS (SELECT * FROM (VALUES ('T_CPC'), ('TS_CPC'), ('S_CPC'))
       |        m(Model)),
       |u AS MATERIALIZED (
       | SELECT b.n_Epochs, m.Model, b.user_id, b.label AS y,
       |  CASE WHEN m.Model = 'T_CPC'
       |        THEN [r1, r2, r3, 0.0, 0.0, 0.0, 1.0]
       |       WHEN m.Model = 'S_CPC'
       |        THEN [r4, r5, r6, 0.0, 0.0, 0.0, 1.0]
       |       ELSE [r1, r2, r3, r4, r5, r6, 1.0] END AS x
       | FROM br b CROSS JOIN md m WHERE b.n_Epochs % 2 = 0),
       |tr AS (SELECT * FROM u WHERE user_id % 5 <> 0),
       |te AS (SELECT * FROM u WHERE user_id % 5 = 0),
       |st AS MATERIALIZED (
       | SELECT n_Epochs, Model,
       |  list(round(mu, 6) ORDER BY dim) AS mu,
       |  list(round(sd, 6) ORDER BY dim) AS sd
       | FROM (SELECT n_Epochs, Model, dim,
       |        avg(x[dim]) AS mu, stddev_pop(x[dim]) AS sd
       |       FROM tr CROSS JOIN generate_series(1, $GridDim) s0(dim)
       |       GROUP BY n_Epochs, Model, dim)
       | GROUP BY n_Epochs, Model),
       |trs AS MATERIALIZED (
       | SELECT t.n_Epochs, t.Model, t.user_id, t.y, $zSql AS xz
       | FROM tr t JOIN st ON t.n_Epochs = st.n_Epochs
       |   AND t.Model = st.Model),
       |tes AS MATERIALIZED (
       | SELECT t.n_Epochs, t.Model, t.user_id, t.y, t.x, $zSql AS xz
       | FROM te t JOIN st ON t.n_Epochs = st.n_Epochs
       |   AND t.Model = st.Model)""".stripMargin
  }

  private lazy val q137Sql = {
    // xz = standardized features; MATERIALIZED keeps DuckDB from
    // re-inlining the O(n²)-DFT blend into each of the GridIter GD steps
    val dotSql =
      s"list_sum(list_transform(generate_series(1, $GridDim), " +
        "i -> xz[i] * w[i]))"
    // every w$t is MATERIALIZED: an inlined CTE chain re-expands the
    // upstream per reference, and a dozen nested steps over the
    // O(n²)-DFT blend would otherwise grind DuckDB — materialization makes each
    // 9-row state computed exactly once (same single-aggregation
    // epoch as the Spark side: seven avg() gradient columns, the
    // state array riding the group key).
    val gcols = (1 to GridDim).map(i => s"avg(err * xz[$i]) AS g$i")
      .mkString(", ")
    val wupd = (1 to GridDim)
      .map(i => s"round(w[$i] - $GridLr * g$i, 6)").mkString(", ")
    val steps = (1 to GridIter).map { t =>
      s"""w$t AS MATERIALIZED (
         |  SELECT n_Epochs, Model, [$wupd] AS w
         |  FROM (SELECT n_Epochs, Model, w, $gcols
         |        FROM (SELECT t.n_Epochs, t.Model, w.w, t.xz,
         |               1.0 / (1.0 + exp(-($dotSql))) - y AS err
         |              FROM trs t JOIN w${t - 1} w
         |                ON t.n_Epochs = w.n_Epochs AND t.Model = w.Model)
         |        GROUP BY n_Epochs, Model, w))""".stripMargin
    }.mkString(",\n")
    s"""WITH $gridZSqlCte,
       |w0 AS (SELECT e.n_Epochs, m.Model,
       |        CAST([${Seq.fill(GridDim)(0).mkString(", ")}] AS DOUBLE[])
       |          AS w
       |       FROM (VALUES ${(0 to Epochs by 2).map(e => s"($e)").mkString(", ")})
       |        e(n_Epochs) CROSS JOIN md m),
       |$steps,
       |sc AS (
       | SELECT t.n_Epochs, t.Model, 'GD_LogReg' AS Classification,
       |  round($dotSql, 6) AS score, y
       | FROM tes t JOIN w$GridIter w
       |   ON t.n_Epochs = w.n_Epochs AND t.Model = w.Model
       | UNION ALL
       | SELECT n_Epochs, Model, 'ScoreThreshold' AS Classification,
       |  round(x[1], 6) AS score, y
       | FROM te),
       |${Metrics.rankSumSql("sc", Seq("n_Epochs", "Model", "Classification"))}
       |SELECT n_Epochs, Model, Classification, 1024 AS "Batch Size",
       | round((rank_sum - np * (np + 1) / 2.0) / (np * nn), 4) AS ROC_AUC
       |FROM t
       |ORDER BY Model, Classification, n_Epochs""".stripMargin
  }

  // ---------------------------------------------------------------
  // q160: the E1 probe grid's ClassifierNN cell GD-TRAINED under the
  // full oracle — the LAST rows-only family (iterative NN fits:
  // q66/q88's Spark ML MultilayerPerceptronClassifier) gets its
  // oracle-grade twin, the way q137 did it for LogisticRegression.
  // The head is the reference architecture (`unsupervised.py:171-183`:
  // Linear → ReLU → Linear → ReLU → Linear head, trained with CE):
  //  - two hidden ReLU layers; the output pair (Linear(·,2) + softmax
  //    CE) is re-expressed as ONE logit + sigmoid BCE — exactly
  //    equivalent (binary softmax depends only on w₁−w₀; q97's p1
  //    identity), and it halves the head's gradient surface;
  //  - hidden width 16, not the reference's 64: the reference feeds a
  //    64-dim CPC embedding, this probe feeds the 7-dim padded grid
  //    features — 64×64 on 7 inputs is ~4.7k parameters of pure
  //    overparameterization, and at that width the oracle's per-step
  //    SQL text goes megabyte (the Spark trainer runs width 64 too:
  //    EpochReducerSpec). Width is config, depth/activation/loss are the
  //    architecture. q88's ClassifierNN cells (true 64×64 Spark ML)
  //    stay the fidelity twin; TrajectorySpec brackets this grid
  //    against them.
  //
  // Each GD step is ONE IterativeState.reduce epoch (the q137
  // discipline): a task computes each row's full 417-dim backprop
  // gradient with the native kernel (MlpGradExpr.grad) and adds it to
  // its cell's partial sum; the driver merges the nine cells' sums and
  // sets w ← round(w − lr·Σ/n, 6). Weight state: nine flat parameter
  // arrays on the driver; md5-derived init (the q97 formula, ±0.125)
  // breaks hidden-unit symmetry identically in both engines; weights
  // round to 6 dp per step so cross-engine float drift cannot compound
  // (IterativeState contract). ReLU gates stay deterministic: they
  // compare z-values computed row-locally from identical rounded
  // weights and identical xz on both sides.
  //
  // Scale shape = q137's: grid cells multiply partial-sum KEYS, never
  // passes; each epoch scans the checkpointed training table once;
  // state is O(model). 100 TB: unchanged plan, the scan is the only
  // data touch.
  // ---------------------------------------------------------------
  private[graft] val MlpH = 16    // hidden width (see fidelity note above)
  private[graft] val MlpIter = 16 // full-batch GD steps per cell
  private[graft] val MlpLr = 2.0  // on TRAIN-z-scored features (q137's
                                  // conditioning argument)
  private val MlpD = GridDim
  private val MlpW2Off = MlpD * MlpH + MlpH            // after W1, b1
  private val MlpB2Off = MlpW2Off + MlpH * MlpH        // after W2
  private val MlpW3Off = MlpB2Off + MlpH               // after b2
  private val MlpP = MlpW3Off + MlpH + 1               // + w3, b3

  /** q97's integer-exact md5 init formula, ±0.125 fan-in scale. */
  private def mdwInit(tag: String): Double =
    ((graft.ops.HashKeys.md5Prefix32(tag) % 1000).toDouble / 999.0 - 0.5) * 0.25

  /** the flat init vector at hidden width `h`: [W1 (j,i)-major | b1 |
    * W2 (j,i)-major | b2 | w3 | b3], 0-based md5 tags re-derived
    * identically in SQL. */
  private[graft] def mlpInit(h: Int): Seq[Double] =
    (for { j <- 0 until h; i <- 0 until MlpD } yield
      mdwInit(s"mw1:$j:$i")) ++
    (0 until h).map(j => mdwInit(s"mb1:$j")) ++
    (for { j <- 0 until h; i <- 0 until h } yield
      mdwInit(s"mw2:$j:$i")) ++
    (0 until h).map(j => mdwInit(s"mb2:$j")) ++
    (0 until h).map(j => mdwInit(s"mw3:$j")) :+
    mdwInit("mb3")

  /** the MLP head's full-batch GD at hidden width `h`: `iters` reduce
    * epochs over `train`(n_Epochs, Model, x, y) from `w0`(n_Epochs,
    * Model, w). The per-row gradient is MlpGradExpr's native kernel,
    * which MlpGradSpec pins bit-equal to the HOF backprop spelling (so
    * the oracle hash is unchanged by construction — the q75/q97
    * discipline); q160 runs h = MlpH, and EpochReducerSpec the
    * reference's true width 64 on one cell. */
  private[graft] def mlpGd(train: DataFrame, w0: DataFrame, h: Int,
      iters: Int): DataFrame =
    IterativeState.reduce(train.select(col("n_Epochs"), col("Model"),
        col("x"), col("y").cast("double")), w0, iters)(new MlpFold(h, _))(
      IterativeState.gdStep(MlpLr))._1

  /** mlpGd's rows (n_Epochs, Model, x, y): keyed by cell; the
    * contribution is the row's backprop gradient. */
  private final class MlpFold(h: Int, ep: IterativeState.Epoch)
      extends IterativeState.Fold {
    def key(r: InternalRow): Int =
      if (r.isNullAt(2) || r.isNullAt(3)) -1 else ep.keyOf(r)
    def add(r: InternalRow, k: Int, sum: Array[Double]): Unit = {
      val xz = r.getArray(2).toDoubleArray()
      val w = ep.w(k)
      graft.expr.MlpGradExpr.checkParams("mlpGd", w.length, xz.length, h)
      val g = graft.expr.MlpGradExpr.grad(xz, w, r.getDouble(3), h)
      var i = 0
      while (i < sum.length) { sum(i) += g(i); i += 1 }
    }
  }

  private def q160(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (train, test, cells) = gridProbeInputs(s, dir)
    // the z-scored features are re-read MlpIter times (one scan per GD
    // step): materialize them ONCE instead of re-running the zscore
    // join + zip_with under every epoch
    val wN = mlpGd(train.localCheckpoint(true),
      cells.withColumn("w", array(mlpInit(MlpH).map(lit): _*)), MlpH, MlpIter)
    val scored = test.join(broadcast(wN), Seq("n_Epochs", "Model"))
      .withColumn("u", graft.expr.GraftFunctions.mlpLogit(
        s, $"xz", $"w", MlpH))
      .select($"n_Epochs", $"Model", lit("GD_MLP").as("Classification"),
        round($"u", 6).as("score"), $"y")
    gridAuc(scored, "y")
  }

  private lazy val q160Sql = {
    val H = MlpH; val D = MlpD; val P = MlpP
    def mdwSql(tagExpr: String): String =
      s"((CAST(concat('0x', substr(md5($tagExpr), 1, 8)) AS BIGINT) " +
        s"% 1000) / 999.0 - 0.5) * 0.25"
    val initCtes =
      s"""iw1 AS (SELECT list(w ORDER BY j, i) AS v FROM (
         |  SELECT j, i, ${mdwSql("concat('mw1:', j, ':', i)")} AS w
         |  FROM generate_series(0, ${H - 1}) s1(j),
         |       generate_series(0, ${D - 1}) s2(i))),
         |ib1 AS (SELECT list(w ORDER BY j) AS v FROM (
         |  SELECT j, ${mdwSql("concat('mb1:', j)")} AS w
         |  FROM generate_series(0, ${H - 1}) s(j))),
         |iw2 AS (SELECT list(w ORDER BY j, i) AS v FROM (
         |  SELECT j, i, ${mdwSql("concat('mw2:', j, ':', i)")} AS w
         |  FROM generate_series(0, ${H - 1}) s1(j),
         |       generate_series(0, ${H - 1}) s2(i))),
         |ib2 AS (SELECT list(w ORDER BY j) AS v FROM (
         |  SELECT j, ${mdwSql("concat('mb2:', j)")} AS w
         |  FROM generate_series(0, ${H - 1}) s(j))),
         |iw3 AS (SELECT list(w ORDER BY j) AS v FROM (
         |  SELECT j, ${mdwSql("concat('mw3:', j)")} AS w
         |  FROM generate_series(0, ${H - 1}) s(j))),
         |ib3 AS (SELECT [${mdwSql("'mb3'")}] AS v)""".stripMargin
    // the per-row forward/backward chain, shared by the GD steps and
    // the scoring pass (`src` must provide n_Epochs, Model, y, xz, w)
    val z1 =
      s"""list_transform(generate_series(1, $H), j ->
         | list_sum(list_transform(generate_series(1, $D),
         |   i -> w[(j-1)*$D + i] * xz[i])) + w[${D * H} + j])""".stripMargin
    val z2 =
      s"""list_transform(generate_series(1, $H), j ->
         | list_sum(list_transform(generate_series(1, $H),
         |   i -> w[$MlpW2Off + (j-1)*$H + i] * a1[i])) + w[$MlpB2Off + j])""".stripMargin
    val uExpr =
      s"""list_sum(list_transform(generate_series(1, $H),
         |   i -> w[$MlpW3Off + i] * a2[i])) + w[$P]""".stripMargin
    def fwdTo(src: String): String =
      s"""SELECT *, $uExpr AS u FROM (
         | SELECT *, list_transform(z2, z -> greatest(z, 0.0)) AS a2 FROM (
         |  SELECT *, $z2 AS z2 FROM (
         |   SELECT *, list_transform(z1, z -> greatest(z, 0.0)) AS a1 FROM (
         |    SELECT *, $z1 AS z1 FROM $src))))""".stripMargin
    val d2 =
      s"""list_transform(generate_series(1, $H), j ->
         | err * w[$MlpW3Off + j] *
         | CASE WHEN z2[j] > 0 THEN 1.0 ELSE 0.0 END)""".stripMargin
    val d1 =
      s"""list_transform(generate_series(1, $H), j ->
         | list_sum(list_transform(generate_series(1, $H),
         |   k -> w[$MlpW2Off + (k-1)*$H + j] * d2[k])) *
         | CASE WHEN z1[j] > 0 THEN 1.0 ELSE 0.0 END)""".stripMargin
    val gExpr =
      s"""flatten(list_transform(d1, dj ->
         |   list_transform(xz, xi -> dj * xi))) || d1 ||
         | flatten(list_transform(d2, dj ->
         |   list_transform(a1, ai -> dj * ai))) || d2 ||
         | list_transform(a2, ai -> err * ai) || [err]""".stripMargin
    val steps = (1 to MlpIter).map { t =>
      s"""g$t AS MATERIALIZED (
         | SELECT n_Epochs, Model, w, $gExpr AS g FROM (
         |  SELECT *, $d1 AS d1 FROM (
         |   SELECT *, $d2 AS d2 FROM (
         |    SELECT *, 1.0 / (1.0 + exp(-u)) - y AS err FROM (
         |     ${fwdTo(s"(SELECT t.n_Epochs, t.Model, t.y, t.xz, w.w " +
                s"FROM trs t JOIN w${t - 1} w ON t.n_Epochs = w.n_Epochs " +
                s"AND t.Model = w.Model) src")}))))),
         |w$t AS MATERIALIZED (
         | SELECT n_Epochs, Model,
         |  list(round(w[i] - $MlpLr * gi, 6) ORDER BY i) AS w
         | FROM (SELECT n_Epochs, Model, w, i, avg(g[i]) AS gi
         |       FROM g$t CROSS JOIN generate_series(1, $P) s(i)
         |       GROUP BY n_Epochs, Model, w, i)
         | GROUP BY n_Epochs, Model)""".stripMargin
    }.mkString(",\n")
    s"""WITH $gridZSqlCte,
       |$initCtes,
       |w0 AS (SELECT e.n_Epochs, m.Model,
       |        iw1.v || ib1.v || iw2.v || ib2.v || iw3.v || ib3.v AS w
       |       FROM (VALUES ${(0 to Epochs by 2).map(e => s"($e)").mkString(", ")})
       |        e(n_Epochs) CROSS JOIN md m
       |        CROSS JOIN iw1 CROSS JOIN ib1 CROSS JOIN iw2
       |        CROSS JOIN ib2 CROSS JOIN iw3 CROSS JOIN ib3),
       |$steps,
       |sc AS (
       | SELECT n_Epochs, Model, 'GD_MLP' AS Classification,
       |  round(u, 6) AS score, y
       | FROM (${fwdTo(s"(SELECT t.n_Epochs, t.Model, t.y, t.xz, w.w " +
          s"FROM tes t JOIN w$MlpIter w ON t.n_Epochs = w.n_Epochs " +
          s"AND t.Model = w.Model) src")})),
       |${Metrics.rankSumSql("sc", Seq("n_Epochs", "Model", "Classification"))}
       |SELECT n_Epochs, Model, Classification, 1024 AS "Batch Size",
       | round((rank_sum - np * (np + 1) / 2.0) / (np * nn), 4) AS ROC_AUC
       |FROM t
       |ORDER BY Model, Classification, n_Epochs""".stripMargin
  }

  val queries: Seq[Q] = Seq(
    Q("q88_unsup_trajectory", q88, None,
      "epoch-trajectory probe protocol (E1, UNSUPERVISED_LR.csv shape)"),
    Q("q137_gd_probe_grid", q137, Some(q137Sql),
      "E1 probe grid GD-trained under the full oracle (keyed GD loop)"),
    Q("q160_gd_mlp_grid", q160, Some(q160Sql),
      "E1 ClassifierNN grid GD-trained under the full oracle (backprop summed in one job per epoch)"),
    Q("q89_sup_trajectory", q89, Some(q89Sql),
      "supervised trajectory: A6 mean + M4 BCE head (SUPERVISED.csv)"),
    Q("q90_unsup_comparison", q90, Some(q90Sql),
      "un-sup comparison join per (Model, n_Epochs) (J4)"))
}
