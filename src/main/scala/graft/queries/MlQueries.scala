package graft.queries

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Divide, Literal, Round,
  Sqrt, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import graft.Tables._
import graft.ops.{IterativeState, Metrics}

/** ML / evaluation operators (SURVEY.md §2.9 M1-M3, §2.5 A9-A11): the
  * reference's "query answers" — probe fits and their metrics — over the
  * embeddings table.
  *
  * Metric queries (AUC, confusion/PRF1) are single-pass distributed
  * aggregations with exact DuckDB oracles. Probe fits (LogisticRegression,
  * PCA, KMeans, MLP) are Spark ML pipelines — iterative solvers, not
  * SQL-expressible, so they carry no oracle (rows-only check per the
  * driver contract) and their correctness rides on ScalaTest specs.
  *
  * Scale notes: rank-sum AUC is a range-sorted fold (Metrics.rocAuc);
  * Spark ML LR/KMeans/PCA are the distributed implementations
  * (tree-aggregated gradients / Gramian), designed for exactly the
  * 1000-executor case.
  */
object MlQueries {

  /** binary task shared by the metric queries: y = label < 5, score =
    * raw first embedding component (float-exact across engines). */
  private[graft] def scored(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    embeddings(s, dir).select(
      element_at($"embedding", 1).cast("double").as("score"),
      when($"label" < 5, 1).otherwise(0).as("y"))
  }

  /** q60: ROC-AUC via the rank-sum (Mann-Whitney U) identity (A11). */
  private def q60(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Metrics.rocAuc(scored(s, dir), $"score", $"y")
      .select(round($"auc", 6).as("auc"), $"n_pos", $"n_neg")
  }

  private val q60Sql =
    s"""WITH s AS (SELECT CAST(embedding[1] AS DOUBLE) AS sc,
      |            CASE WHEN label < 5 THEN 1.0 ELSE 0.0 END AS y
      |           FROM embeddings),
      |${Metrics.rankSumSql("s", Nil, "sc")}
      |SELECT round((rank_sum - np * (np + 1) / 2.0) / (np * nn), 6) AS auc,
      | CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg
      |FROM t""".stripMargin

  /** q61: per-class precision/recall/F1 from a thresholded score (A10). */
  private def q61(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val preds = scored(s, dir)
      .withColumn("pred", when($"score" > 0, 1).otherwise(0))
    Metrics.classificationReport(preds, $"pred", $"y")
      .select($"cls", $"support", $"pred_n", $"tp",
        round($"precision", 6).as("precision"),
        round($"recall", 6).as("recall"),
        round($"f1", 6).as("f1"))
      .orderBy($"cls")
  }

  private val q61Sql =
    """WITH s AS (SELECT CASE WHEN label < 5 THEN 1 ELSE 0 END AS y,
      |            CASE WHEN CAST(embedding[1] AS DOUBLE) > 0
      |                 THEN 1 ELSE 0 END AS p
      |           FROM embeddings),
      |byc AS (SELECT y AS cls, count(*) AS support,
      |         CAST(sum(CASE WHEN p = y THEN 1 ELSE 0 END) AS BIGINT) AS tp
      |        FROM s GROUP BY y),
      |pc AS (SELECT p AS cls, count(*) AS pred_n FROM s GROUP BY p),
      |j AS (SELECT cls,
      |       coalesce(support, 0) AS support, coalesce(tp, 0) AS tp,
      |       coalesce(pred_n, 0) AS pred_n
      |      FROM byc FULL OUTER JOIN pc USING (cls)),
      |m AS (SELECT cls, support, pred_n, tp,
      |       CASE WHEN pred_n > 0
      |            THEN CAST(tp AS DOUBLE) / pred_n ELSE 0.0 END AS pr,
      |       CASE WHEN support > 0
      |            THEN CAST(tp AS DOUBLE) / support ELSE 0.0 END AS rc
      |      FROM j)
      |SELECT CAST(cls AS BIGINT) AS cls, support, pred_n, tp,
      | round(pr, 6) AS precision, round(rc, 6) AS recall,
      | round(CASE WHEN pr + rc > 0
      |        THEN 2.0 * pr * rc / (pr + rc) ELSE 0.0 END, 6) AS f1
      |FROM m ORDER BY cls""".stripMargin

  /** q62: one-vs-rest AUC grid (M7 protocol shape) — AUC of the same
    * score against each label's indicator, via grouped rank-sum. */
  private def q62(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ovr = embeddings(s, dir)
      .select(element_at($"embedding", 1).cast("double").as("score"), $"label")
      .select($"score", $"label", explode(sequence(lit(0), lit(9))).as("l"))
      .withColumn("y", when($"label" === $"l", 1).otherwise(0))
    Metrics.rocAuc(ovr, $"score", $"y", Seq($"l"))
      .select($"l", round($"auc", 6).as("auc"), $"n_pos", $"n_neg")
      .orderBy($"l")
  }

  private val q62Sql =
    s"""WITH s AS (
      | SELECT l, CAST(embedding[1] AS DOUBLE) AS sc,
      |  CASE WHEN label = l THEN 1.0 ELSE 0.0 END AS y
      | FROM embeddings, (SELECT unnest(generate_series(0, 9)) AS l)),
      |${Metrics.rankSumSql("s", Seq("l"), "sc")}
      |SELECT l, round((rank_sum - np * (np + 1) / 2.0) / (np * nn), 6) AS auc,
      | CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg
      |FROM t ORDER BY l""".stripMargin

  /** q63: M1 logistic-regression probe — fit on vec_id % 5 != 0, report
    * held-out AUC of the predicted probability (rank-sum, so the metric
    * path is the same audited code as q60). Rows-only check. */
  private def q63(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = embeddings(s, dir).select($"vec_id",
      array_to_vector($"embedding".cast("array<double>")).as("features"),
      when($"label" < 5, 1.0).otherwise(0.0).as("y"))
    val train = e.filter($"vec_id" % 5 =!= 0)
    val test = e.filter($"vec_id" % 5 === 0)
    val lr = new org.apache.spark.ml.classification.LogisticRegression()
      .setFeaturesCol("features").setLabelCol("y")
      .setMaxIter(25).setRegParam(0.01).setStandardization(true)
    val model = lr.fit(train)
    val preds = model.transform(test)
      .select(element_at(vector_to_array($"probability"), 2).as("p1"), $"y")
    Metrics.rocAuc(preds, $"p1", $"y")
      .select(round($"auc", 4).as("test_auc"), $"n_pos", $"n_neg")
  }

  /** q64: M3 PCA probe — project to 2 components, report per-label mean
    * of each component (latent-space separation view). Rows-only. */
  private def q64(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = embeddings(s, dir).select($"label",
      array_to_vector($"embedding".cast("array<double>")).as("features"))
    val pca = new org.apache.spark.ml.feature.PCA()
      .setInputCol("features").setOutputCol("pc").setK(2)
    val model = pca.fit(e)
    model.transform(e)
      .select($"label",
        element_at(vector_to_array($"pc"), 1).as("pc1"),
        element_at(vector_to_array($"pc"), 2).as("pc2"))
      .groupBy($"label")
      .agg(count(lit(1)).as("n"),
        round(avg($"pc1"), 4).as("avg_pc1"),
        round(avg($"pc2"), 4).as("avg_pc2"))
      .orderBy($"label")
  }

  /** q65: KMeans clustering (dataset-curation workhorse) — k=8, seeded;
    * report cluster sizes sorted (ids are arbitrary, sizes are not).
    * Rows-only. */
  private def q65(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = embeddings(s, dir).select(
      array_to_vector($"embedding".cast("array<double>")).as("features"))
    val km = new org.apache.spark.ml.clustering.KMeans()
      .setK(8).setSeed(42L).setMaxIter(10).setTol(1e-4)
      .setFeaturesCol("features")
    val model = km.fit(e)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy($"n".desc)  // 8 rows — single-partition window is fine
    model.transform(e)
      .groupBy($"prediction").agg(count(lit(1)).as("n"))
      .withColumn("size_rank", row_number().over(w))
      .select($"size_rank", $"n")
      .orderBy($"size_rank")
  }

  /** q66: M2 MLP probe — [64,16,2] multilayer perceptron, seeded, small
    * budget; held-out accuracy. Rows-only. */
  private def q66(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = embeddings(s, dir).select($"vec_id",
      array_to_vector($"embedding".cast("array<double>")).as("features"),
      when($"label" < 5, 1.0).otherwise(0.0).as("y"))
    val train = e.filter($"vec_id" % 5 =!= 0)
    val test = e.filter($"vec_id" % 5 === 0)
    val mlp = new org.apache.spark.ml.classification.MultilayerPerceptronClassifier()
      .setLayers(Array(64, 8, 2)).setSeed(42L).setMaxIter(15)
      .setFeaturesCol("features").setLabelCol("y")
    val model = mlp.fit(train)
    val preds = model.transform(test)
    Metrics.accuracy(preds, $"prediction", $"y")
      .select(round($"accuracy", 4).as("test_accuracy"),
        $"n".as("n_test"))
  }

  /** q91: the PCA latent-scatter table with patient filters
    * (`exercise provided.ipynb` cells 12/17): the notebook filters the
    * cohort by patient id — cell 12 a literal id set (F1,
    * `isin(145, 106, 116, 176)`), cell 17 a range (F2,
    * `patient_id > 100`) — fits PCA(2) on the filtered latent
    * representations, and scatters (pc1, pc2) per label. The engine
    * emits that scatter TABLE (plots stay client-side per S7); the id
    * literals are scaled to the testdata id domain. Rows-only
    * (iterative PCA fit); per-label separation locked by
    * TrajectorySpec. */
  private def q91(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val reps = CpcQueries.representations(s, dir)
      .select($"user_id", $"label",
        array_to_vector($"rep6").as("features"))
    val cohorts = Seq(
      // F1 membership filter — cell 12's four-patient cohort
      "cohort_set" -> reps.filter($"user_id".isin(2L, 3L, 5L, 7L, 11L, 13L)),
      // F2 range filter — cell 17's `patient_id > 100` analogue
      "range_gt" -> reps.filter($"user_id" > 7))
    cohorts.map { case (fname, cohort) =>
      val pca = new org.apache.spark.ml.feature.PCA()
        .setInputCol("features").setOutputCol("pc").setK(2)
      val model = pca.fit(cohort)
      model.transform(cohort)
        .select(lit(fname).as("filter_name"), $"user_id",
          $"label".cast("int").as("label"),
          round(element_at(vector_to_array($"pc"), 1), 4).as("pc1"),
          round(element_at(vector_to_array($"pc"), 2), 4).as("pc2"))
    }.reduce(_ unionAll _)
      .orderBy($"filter_name", $"user_id")
  }

  /** q92: A9 plain accuracy, oracle-checked — thresholded prediction
    * (`score > 0 → class 1`) against the binary label via
    * `Metrics.accuracy` (the same audited aggregation q63/q66 report
    * through), so the last §2.5 aggregate has a DuckDB oracle. */
  private def q92(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val preds = scored(s, dir)
      .withColumn("pred", when($"score" > 0, 1).otherwise(0))
    Metrics.accuracy(preds, $"pred", $"y")
      .select(round($"accuracy", 6).as("accuracy"), $"n")
  }

  private val q92Sql =
    """SELECT
      | round(avg(CASE WHEN (CASE WHEN CAST(embedding[1] AS DOUBLE) > 0
      |                      THEN 1 ELSE 0 END)
      |                = (CASE WHEN label < 5 THEN 1 ELSE 0 END)
      |           THEN 1.0 ELSE 0.0 END), 6) AS accuracy,
      | count(*) AS n
      |FROM embeddings""".stripMargin

  /** q67: M4 supervised-head loss — BCE-with-logits of a literal linear
    * head over the embedding vs the binary label, plus the mean logit
    * and label rate (`supervised.py:65-74` dataflow as one aggregation). */
  private def q67(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = embeddings(s, dir).select(
      (element_at($"embedding", 1).cast("double") * 2.0 +
        element_at($"embedding", 2).cast("double")).as("logit"),
      when($"label" < 5, 1.0).otherwise(0.0).as("y"))
    // stable BCE-with-logits: max(x,0) − x·y + ln(1 + e^(−|x|))
    d.select(
        round(avg(greatest($"logit", lit(0.0)) - $"logit" * $"y" +
          log(lit(1.0) + exp(-abs($"logit")))), 6).as("bce"),
        round(avg($"logit"), 6).as("avg_logit"),
        round(avg($"y"), 6).as("pos_rate"),
        count(lit(1)).as("n"))
  }

  private val q67Sql =
    """WITH d AS (
      | SELECT CAST(embedding[1] AS DOUBLE) * 2.0
      |        + CAST(embedding[2] AS DOUBLE) AS logit,
      |  CASE WHEN label < 5 THEN 1.0 ELSE 0.0 END AS y
      | FROM embeddings)
      |SELECT
      | round(avg(greatest(logit, 0.0) - logit * y
      |   + ln(1.0 + exp(-abs(logit)))), 6) AS bce,
      | round(avg(logit), 6) AS avg_logit,
      | round(avg(y), 6) AS pos_rate,
      | count(*) AS n
      |FROM d""".stripMargin

  // ---------------------------------------------------------------
  // q97: the M2 ClassifierNN SCORING surface with literal weights —
  // the reference head (`unsupervised.py:171-183`: Linear(in,64) →
  // ReLU → Linear(64,64) → ReLU → Linear(64,2) → softmax at :232)
  // as a pure forward pass. Fitting is iterative (rows-only q66/q88);
  // scoring is matVec+ReLU+softmax — all oracle-proven primitives —
  // so THIS surface carries a full DuckDB oracle. Weights are derived
  // from md5 with an integer-exact formula both engines compute
  // bit-identically: ((first8hex(md5(tag)) % 1000) / 999.0 − 0.5) ×
  // 0.25 (the ×0.25 ≈ 2/√64 fan-in scale is an exponent shift, so
  // exact). Spark embeds the Scala-computed literals (the plan a real
  // deployment gets after broadcasting trained weights); the oracle
  // re-derives them in SQL.
  // ---------------------------------------------------------------
  private val NN_IN = 64
  private val NN_HID = 64

  private def mdw(tag: String): Double =
    ((graft.ops.HashKeys.md5Prefix32(tag) % 1000).toDouble / 999.0 - 0.5) * 0.25

  private lazy val nnW1: Seq[Seq[Double]] =
    (0 until NN_HID).map(j => (0 until NN_IN).map(i => mdw(s"w1:$j:$i")))
  private lazy val nnB1: Seq[Double] = (0 until NN_HID).map(j => mdw(s"b1:$j"))
  private lazy val nnW2: Seq[Seq[Double]] =
    (0 until NN_HID).map(j => (0 until NN_HID).map(i => mdw(s"w2:$j:$i")))
  private lazy val nnB2: Seq[Double] = (0 until NN_HID).map(j => mdw(s"b2:$j"))
  private lazy val nnW3: Seq[Seq[Double]] =
    (0 until 2).map(j => (0 until NN_HID).map(i => mdw(s"w3:$j:$i")))
  private lazy val nnB3: Seq[Double] = (0 until 2).map(j => mdw(s"b3:$j"))

  /** one dense layer: relu(W·x + b), identical left-fold sum order on
    * both engines (the native dot folds in index order; the oracle's
    * list_sum does the same). */
  private def dense(s: SparkSession, w: Seq[Seq[Double]], b: Seq[Double],
      x: org.apache.spark.sql.Column) =
    zip_with(graft.ops.ArrayOps.matVec(s, w, x), array(b.map(lit): _*),
      (h, bias) => greatest(h + bias, lit(0.0)))

  private def q97(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = embeddings(s, dir).select($"vec_id", $"label",
      $"embedding".cast("array<double>").as("v"))
    val scored = e
      .withColumn("h1", dense(s, nnW1, nnB1, $"v"))
      .withColumn("h2", dense(s, nnW2, nnB2, $"h1"))
      .withColumn("l0", graft.expr.GraftFunctions.dot(s,
        array(nnW3(0).map(lit): _*), $"h2") + lit(nnB3(0)))
      .withColumn("l1", graft.expr.GraftFunctions.dot(s,
        array(nnW3(1).map(lit): _*), $"h2") + lit(nnB3(1)))
    // binary softmax: p1 = e^l1/(e^l0+e^l1) = 1/(1+e^(l0-l1))
    scored.select($"vec_id", $"label",
        round(lit(1.0) / (lit(1.0) + exp($"l0" - $"l1")), 6).as("p1"))
      .orderBy($"vec_id")
  }

  private lazy val q97Sql = {
    def wExpr(tag: String, jv: String, iv: String): String =
      s"((CAST(concat('0x', substr(md5(concat('$tag:', $jv, ':', $iv)), " +
        s"1, 8)) AS BIGINT) % 1000) / 999.0 - 0.5) * 0.25"
    def bExpr(tag: String, jv: String): String =
      s"((CAST(concat('0x', substr(md5(concat('$tag:', $jv)), " +
        s"1, 8)) AS BIGINT) % 1000) / 999.0 - 0.5) * 0.25"
    def wCte(name: String, tag: String, rows: Int, cols: Int): String =
      s"""$name AS (
         | SELECT list(r ORDER BY j) AS m FROM (
         |  SELECT j, list(w ORDER BY i) AS r FROM (
         |   SELECT j, i, ${wExpr(tag, "j", "i")} AS w
         |   FROM generate_series(0, ${rows - 1}) s1(j),
         |        generate_series(0, ${cols - 1}) s2(i))
         |  GROUP BY j))""".stripMargin
    def bCte(name: String, tag: String, n: Int): String =
      s"""$name AS (
         | SELECT list(w ORDER BY j) AS bv FROM (
         |  SELECT j, ${bExpr(tag, "j")} AS w
         |  FROM generate_series(0, ${n - 1}) s(j)))""".stripMargin
    val layer1 =
      s"""list_transform(generate_series(1, $NN_HID), j ->
         | greatest(list_sum(list_transform(generate_series(1, $NN_IN),
         |   i -> v[i] * w1.m[j][i])) + b1.bv[j], 0.0))""".stripMargin
    val layer2 =
      s"""list_transform(generate_series(1, $NN_HID), j ->
         | greatest(list_sum(list_transform(generate_series(1, $NN_HID),
         |   i -> h1[i] * w2.m[j][i])) + b2.bv[j], 0.0))""".stripMargin
    def logit(k: Int): String =
      s"""list_sum(list_transform(generate_series(1, $NN_HID),
         |   i -> h2[i] * w3.m[${k + 1}][i])) + b3.bv[${k + 1}]""".stripMargin
    s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
       |           FROM embeddings),
       |${wCte("w1", "w1", NN_HID, NN_IN)},
       |${bCte("b1", "b1", NN_HID)},
       |${wCte("w2", "w2", NN_HID, NN_HID)},
       |${bCte("b2", "b2", NN_HID)},
       |${wCte("w3", "w3", 2, NN_HID)},
       |${bCte("b3", "b3", 2)},
       |l1t AS (SELECT vec_id, label, $layer1 AS h1
       |        FROM e CROSS JOIN w1 CROSS JOIN b1),
       |l2t AS (SELECT vec_id, label, $layer2 AS h2
       |        FROM l1t CROSS JOIN w2 CROSS JOIN b2),
       |lg AS (SELECT vec_id, label,
       |        ${logit(0)} AS l0,
       |        ${logit(1)} AS l1
       |       FROM l2t CROSS JOIN w3 CROSS JOIN b3)
       |SELECT vec_id, label,
       | round(1.0 / (1.0 + exp(l0 - l1)), 6) AS p1
       |FROM lg ORDER BY vec_id""".stripMargin
  }

  // ---------------------------------------------------------------
  // q98: deterministic Lloyd KMeans under the FULL oracle — the
  // clustering counterpart to q97: Spark ML's KMeans fit (q65) is
  // iterative and rows-only, but Lloyd's algorithm with a fixed
  // iteration count and literal md5-derived init is a pure dataflow —
  // K·ITER relational steps, each SQL-expressible. Cross-engine
  // determinism: init centroids use the integer-exact md5 formula
  // (×2 = exponent shift, exact); per-step distances round to 9 dp
  // before argmin (first-min tie-break = lowest cell id on both
  // engines); updated centroid means round to 6 dp. An empty cell
  // keeps its previous centroid (the standard Lloyd fallback).
  // Scale posture: each iteration is one IterativeState.reduce epoch —
  // one scan whose tasks assign rows against the k×d centroids on the
  // driver and return per-cell partial sums; never a collect.
  // ---------------------------------------------------------------
  private val KM_K = 4
  private[graft] val KM_ITER = 2
  private val KM_DIM = 64

  /** init centroid component, integer-exact across engines:
    * (first8hex(md5("km:c:d")) % 1000) / 999.0 * 2 − 1 ∈ [−1, 1). */
  private def kmInitW(c: Int, d: Int): Double =
    graft.ops.HashKeys.gridUniform(s"km:$c:$d")

  private def kmInitSql: String =
    s"""(SELECT list(r ORDER BY cell) AS m FROM (
       |  SELECT cell, list(w ORDER BY dim) AS r FROM (
       |   SELECT cell, dim,
       |    (CAST(concat('0x', substr(md5(concat('km:', cell, ':', dim)),
       |       1, 8)) AS BIGINT) % 1000) / 999.0 * 2.0 - 1.0 AS w
       |   FROM generate_series(0, ${KM_K - 1}) s1(cell),
       |        generate_series(0, ${KM_DIM - 1}) s2(dim))
       |  GROUP BY cell))""".stripMargin

  private val kmDistsSql: String =
    s"""list_transform(m, c ->
       | round(list_sum(list_transform(generate_series(1, $KM_DIM),
       |   i -> (v[i] - c[i]) * (v[i] - c[i]))), 9))""".stripMargin

  /** q98's training vectors `v` and its k init centroids as (cell, w). */
  private[graft] def kmInputs(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    import s.implicits._
    val e = embeddings(s, dir)
      .select($"embedding".cast("array<double>").as("v"))
    val init = (0 until KM_K)
      .map(c => (c, (0 until KM_DIM).map(d => kmInitW(c, d)))).toDF("cell", "w")
    (e, init)
  }

  /** Lloyd's iterations over `e`(v) from `init`(cell, w), one reduce
    * epoch each: a row adds v to its nearest centroid's cell, and a
    * cell's centroid becomes round(Σv/n, 6). Returns the centroids and
    * the last iteration's cell sizes. */
  private[graft] def kmTrain(e: DataFrame, init: DataFrame, iters: Int)
      : (DataFrame, Map[Row, Long]) = {
    val round6 = new IterativeState.SparkRound(6)
    IterativeState.reduce(e.select(col("v")), init, iters)(new KmFold(_)) {
      (_, sum, n) => sum.map(x => round6(x / n.toDouble)) }
  }

  /** q98's rows (v). The key is the nearest centroid as the SQL
    * spelling computes it: per centroid an in-order fold of (x−c)²
    * from 0.0, Spark's round to 9 dp, then the first minimum under
    * Spark's double ordering. The contribution is v. */
  private final class KmFold(ep: IterativeState.Epoch)
      extends IterativeState.Fold {
    private val round9 = new IterativeState.SparkRound(9)
    def key(r: InternalRow): Int = if (r.isNullAt(0)) -1 else {
      val v = r.getArray(0)
      var best = -1
      var bestD = 0.0
      var k = 0
      while (k < ep.w.length) {
        val c = ep.w(k)
        require(v.numElements() == c.length,
          s"kmeans: ${v.numElements()}-dim row for ${c.length}-dim centroids")
        var d = 0.0
        var i = 0
        while (i < c.length) { val t = v.getDouble(i) - c(i); d += t * t; i += 1 }
        d = round9(d)
        if (best < 0 || SQLOrderingUtil.compareDoubles(d, bestD) < 0) {
          best = k; bestD = d
        }
        k += 1
      }
      best
    }
    def add(r: InternalRow, k: Int, sum: Array[Double]): Unit = {
      val v = r.getArray(0)
      var i = 0
      while (i < sum.length) { sum(i) += v.getDouble(i); i += 1 }
    }
  }

  private def q98(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (e, init) = kmInputs(s, dir)
    val (cm, sizes) = kmTrain(e, init, KM_ITER)
    cm.collect().toSeq
      .map(r => (r.getInt(0), sizes(Row(r.getInt(0))), r.getSeq[Double](1)))
      .toDF("cell", "n", "cv")
      .select($"cell", $"n",
        round(sqrt(graft.ops.ArrayOps.dot($"cv", $"cv")), 5)
          .as("centroid_norm"))
      .orderBy($"cell")
  }

  private lazy val q98Sql = {
    // one (assign, update) CTE pair per Lloyd iteration, unrolled
    val steps = (1 to KM_ITER).map { t =>
      s"""a$t AS (SELECT vec_id, v,
         |        CAST(list_position(ds, list_min(ds)) AS INT) - 1 AS cell
         |       FROM (SELECT vec_id, v, $kmDistsSql AS ds
         |             FROM e CROSS JOIN c${t - 1})),
         |mu$t AS (SELECT cell, dim, round(avg(x), 6) AS mx FROM (
         |        SELECT cell, unnest(v) AS x,
         |         unnest(generate_series(0, ${KM_DIM - 1})) AS dim
         |        FROM a$t) GROUP BY cell, dim),
         |c$t AS (SELECT list(r ORDER BY cell) AS m FROM (
         |       SELECT g.cell, list(coalesce(mx, pm) ORDER BY g.dim) AS r
         |       FROM (SELECT cell, dim,
         |              m[cell + 1][dim + 1] AS pm
         |             FROM generate_series(0, ${KM_K - 1}) s1(cell),
         |                  generate_series(0, ${KM_DIM - 1}) s2(dim),
         |                  c${t - 1}) g
         |       LEFT JOIN mu$t ON g.cell = mu$t.cell AND g.dim = mu$t.dim
         |       GROUP BY g.cell))""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |           FROM embeddings),
       |c0 AS $kmInitSql,
       |$steps,
       |sizes AS (SELECT cell, count(*) AS n FROM a$KM_ITER GROUP BY cell),
       |norms AS (SELECT CAST(cell0 - 1 AS INT) AS cell,
       |           round(sqrt(list_sum(list_transform(cv, x -> x * x))), 5)
       |             AS centroid_norm
       |          FROM (SELECT unnest(m) AS cv,
       |                 unnest(generate_series(1, $KM_K)) AS cell0
       |                FROM c$KM_ITER))
       |SELECT norms.cell, CAST(coalesce(n, 0) AS BIGINT) AS n, centroid_norm
       |FROM norms LEFT JOIN sizes ON norms.cell = sizes.cell
       |ORDER BY norms.cell""".stripMargin
  }

  // ---------------------------------------------------------------
  // q100: deterministic batch-gradient-descent logistic probe under
  // the FULL oracle — the TRAINING counterpart to q97's forward
  // scorer. Spark ML's LR fit (q63) is an iterative black box and
  // rows-only; plain full-batch GD with a fixed iteration count is a
  // pure dataflow: each epoch is ONE distributed reduction
  // (grad_j = avg((sigmoid(w·x) − y) · x_j)) followed by a weight
  // update — exactly how a declarative training loop looks at 100 TB
  // (the gradient is a partial-aggregable sum; the weights ride the
  // driver, training rows never do: IterativeState.logisticGd).
  // Cross-engine determinism: weights round to 6 dp after each
  // update (quantized state absorbs sub-ulp exp/summation-order
  // drift; see gdTrain), outputs to 6 dp. The emitted table is the
  // reference's loss-per-epoch training curve (`unsupervised.py:247-263` logs
  // exactly this shape): iter × (weights, train/test BCE).
  // ---------------------------------------------------------------
  private[graft] val GD_ITER = 5
  private[graft] val GD_LR = 2.0
  private val GD_NF = 4 // leading embedding components; bias appended

  /** features [10·x1 .. 10·x4, 1.0] and binary label, split like q63.
    * The ×10 puts the ~0.1-magnitude embedding components on the bias
    * column's unit scale, so one global learning rate is stable in
    * every coordinate (lr=50 without scaling sends the bias into a
    * divergent oscillation — the standard conditioning argument;
    * ×10 is an exact float op, so cross-engine safe). */
  private[graft] def gdData(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    embeddings(s, dir).select($"vec_id",
      array((1 to GD_NF).map(j =>
        element_at($"embedding", j).cast("double") * 10.0) :+ lit(1.0): _*)
        .as("x"),
      when($"label" < 5, 1.0).otherwise(0.0).as("y"))
  }

  /** logit under the broadcast one-row weight state (native dot —
    * bit-identical fold order to the HOF form, per-row hot path). */
  private def gdZ(s: SparkSession): org.apache.spark.sql.Column =
    graft.expr.GraftFunctions.dot(s, col("x"), col("w"))

  /** stable BCE-with-logits, same identity as q67. */
  private def gdBce(zc: org.apache.spark.sql.Column,
      yc: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    greatest(zc, lit(0.0)) - zc * yc + log(lit(1.0) + exp(-abs(zc)))

  /** GD_ITER full-batch GD epochs (shared by q100's loss curve and
    * q106's trained trajectory), one Spark job each: per-dim gradients
    * reduced on the driver, 6 dp quantized weights. The quantization
    * grid is 6 dp, not 9, because the gradient is a full-corpus avg
    * whose cross-engine summation-order noise (~1e-14) sits only ~4
    * orders below a 5e-10 half-step — the q133 rank-grid rationale;
    * 1e-6 is still ~3 orders below the ~1e-3 update scale, so the
    * trajectory is unaffected. Row-local fixed-order sums (q98's
    * distances, dist2, graft_pq_adc) keep the 9 dp convention — their
    * fold order is pinned, so their noise is 0-to-1e-15. `onEpoch`
    * sees each epoch's one-row weight frame. */
  private def gdTrain(s: SparkSession, train: DataFrame)(
      onEpoch: (DataFrame, Int) => Unit): Unit = {
    import s.implicits._
    val w0 = Seq(Tuple1(Seq.fill(GD_NF + 1)(0.0))).toDF("w")
    onEpoch(w0, 0)
    IterativeState.logisticGd(train, w0, GD_LR, GD_ITER, onEpoch): Unit
  }

  private def q100(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = gdData(s, dir)
    val train = d.filter($"vec_id" % 5 =!= 0)
    val test = d.filter($"vec_id" % 5 === 0)
    def z = gdZ(s)
    def bce = gdBce _
    def lossRow(t: Int, w: DataFrame): DataFrame = {
      val tr = train.crossJoin(broadcast(w))
        .agg(round(avg(bce(z, $"y")), 6).as("train_bce"))
      val te = test.crossJoin(broadcast(w))
        .agg(round(avg(bce(z, $"y")), 6).as("test_bce"))
      w.crossJoin(tr).crossJoin(te).select(
        lit(t).as("iter"),
        round(element_at($"w", 1), 6).as("w1"),
        round(element_at($"w", 2), 6).as("w2"),
        round(element_at($"w", 3), 6).as("w3"),
        round(element_at($"w", 4), 6).as("w4"),
        round(element_at($"w", 5), 6).as("bias"),
        $"train_bce", $"test_bce")
    }
    // each epoch's weights come back as a local one-row frame, so each
    // loss row reads a literal state, not the gradient lineage
    val rows = Seq.newBuilder[DataFrame]
    gdTrain(s, train)((w, t) => rows += lossRow(t, w))
    rows.result().reduce(_ unionAll _).orderBy($"iter")
  }

  private lazy val gdDotSql =
    s"list_sum(list_transform(generate_series(1, ${GD_NF + 1}), " +
      "i -> x[i] * w[i]))"

  /** w0..w{GD_ITER} CTE chain — one (gradient, update) pair per epoch,
    * shared by the q100 and q106 oracles. */
  private lazy val gdStepsSql = (1 to GD_ITER).map { t =>
    s"""g$t AS (SELECT dim, avg(err * x[dim]) AS g FROM (
       |   SELECT x, 1.0 / (1.0 + exp(-($gdDotSql))) - y AS err
       |   FROM tr CROSS JOIN w${t - 1})
       |  CROSS JOIN generate_series(1, ${GD_NF + 1}) s$t(dim) GROUP BY dim),
       |w$t AS (SELECT list(wj ORDER BY dim) AS w FROM (
       |   SELECT dim, round(w[dim] - $GD_LR * g, 6) AS wj
       |   FROM g$t CROSS JOIN w${t - 1}))""".stripMargin
  }.mkString(",\n")

  /** feature/split/init CTEs shared by the q100 and q106 oracles. */
  private val gdBaseSql =
    """d AS (SELECT vec_id,
      |    [CAST(embedding[1] AS DOUBLE) * 10.0,
      |     CAST(embedding[2] AS DOUBLE) * 10.0,
      |     CAST(embedding[3] AS DOUBLE) * 10.0,
      |     CAST(embedding[4] AS DOUBLE) * 10.0,
      |     1.0] AS x,
      |    CASE WHEN label < 5 THEN 1.0 ELSE 0.0 END AS y
      |   FROM embeddings),
      |tr AS (SELECT * FROM d WHERE vec_id % 5 <> 0),
      |te AS (SELECT * FROM d WHERE vec_id % 5 = 0),
      |w0 AS (SELECT CAST([0, 0, 0, 0, 0] AS DOUBLE[]) AS w)""".stripMargin

  private lazy val q100Sql = {
    def bceSub(split: String, t: Int): String =
      s"""(SELECT round(avg(greatest(z, 0.0) - z * y
         |    + ln(1.0 + exp(-abs(z)))), 6)
         |  FROM (SELECT $gdDotSql AS z, y FROM $split CROSS JOIN w$t))""".stripMargin
    val rows = (0 to GD_ITER).map { t =>
      s"""SELECT $t AS iter,
         | round(w[1], 6) AS w1, round(w[2], 6) AS w2, round(w[3], 6) AS w3,
         | round(w[4], 6) AS w4, round(w[5], 6) AS bias,
         | ${bceSub("tr", t)} AS train_bce,
         | ${bceSub("te", t)} AS test_bce
         |FROM w$t""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $gdBaseSql,
       |$gdStepsSql
       |$rows
       |ORDER BY iter""".stripMargin
  }

  /** q106: the E2 trajectory END-TO-END TRAINED and fully
    * oracle-checked — q89's supervised trajectory evaluates literal
    * epoch heads, q106 instead takes the epoch-t head from t
    * declarative GD steps (q100's machinery; `supervised.py:83-85`
    * trains exactly this logistic head per epoch) and reports the
    * held-out ROC-AUC + BCE per epoch in the SUPERVISED.csv shape.
    * ONE grouped rank-sum AUC scores the whole trajectory (the A13
    * accumulation pattern — no per-epoch collects); ranks are on
    * the 6 dp-rounded score so both engines order identically. */
  private def q106(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val scored = q106Scored(s, dir)
    val bce = scored.groupBy($"n_Epochs")
      .agg(round(avg($"b"), 6).as("bce_loss"))
    Metrics.rocAuc(scored, $"score", $"y", Seq($"n_Epochs"))
      .join(bce, "n_Epochs")
      .select($"n_Epochs", lit("GD_LR").as("Model"),
        round($"auc", 4).as("ROC_AUC"), $"bce_loss")
      .orderBy($"n_Epochs")
  }

  /** q106's held-out rows scored by every epoch's head:
    * (n_Epochs, score, y, b), b the row's BCE. The epochs' weights are
    * stacked into one local frame keyed by n_Epochs, so the test rows
    * meet every head through ONE broadcast join. */
  private[graft] def q106Scored(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = gdData(s, dir)
    val train = d.filter($"vec_id" % 5 =!= 0)
    val test = d.filter($"vec_id" % 5 === 0)
    // each epoch's state is a local frame: collecting it runs no job
    val heads = Seq.newBuilder[(Int, Seq[Double])]
    gdTrain(s, train)((w, t) => heads += t -> w.collect()(0).getSeq[Double](0))
    test.crossJoin(broadcast(heads.result().toDF("n_Epochs", "w")))
      .select($"n_Epochs", round(gdZ(s), 6).as("score"), $"y",
        gdBce(gdZ(s), $"y").as("b"))
  }

  private lazy val q106Sql = {
    val scoredRows = (0 to GD_ITER).map { t =>
      s"""SELECT $t AS n_Epochs, round($gdDotSql, 6) AS score, y,
         | greatest($gdDotSql, 0.0) - ($gdDotSql) * y
         |  + ln(1.0 + exp(-abs($gdDotSql))) AS b
         |FROM te CROSS JOIN w$t""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $gdBaseSql,
       |$gdStepsSql,
       |sc AS ($scoredRows),
       |${Metrics.rankSumSql("sc", Seq("n_Epochs"))},
       |bce AS (SELECT n_Epochs, round(avg(b), 6) AS bce_loss
       |        FROM sc GROUP BY n_Epochs)
       |SELECT t.n_Epochs AS n_Epochs, 'GD_LR' AS Model,
       | round((rank_sum - np * (np + 1) / 2.0) / (np * nn), 4) AS ROC_AUC,
       | bce_loss
       |FROM t JOIN bce ON t.n_Epochs = bce.n_Epochs
       |ORDER BY t.n_Epochs""".stripMargin
  }

  // ---------------------------------------------------------------
  // q101: power-iteration PCA under the FULL oracle — the M3
  // counterpart to q100: Spark ML's PCA (q64) solves the Gramian
  // eigenproblem iteratively (rows-only); the power method with a
  // fixed iteration count and literal md5 init is a pure dataflow.
  // One iteration = one IterativeState.reduce epoch: s_i = xc_i · v
  // (row-local), u = Σ s_i · xc_i / n (per-task partial sums merged on
  // the driver — this IS X'ᵀX'v/n without ever materializing the
  // covariance matrix, which is how PCA scales to 100 TB), then the
  // driver normalizes and rounds to 6 dp. Output is q64's
  // latent-separation shape: per-label mean/mean-square projection
  // on the converged first component.
  // ---------------------------------------------------------------
  private[graft] val PI_ITER = 3
  private val PI_DIM = 64

  /** init component, integer-exact across engines (kmInitW formula,
    * tag "pi:d"): (first8hex(md5) % 1000) / 999.0 * 2 − 1. */
  private def piInitW(d: Int): Double =
    graft.ops.HashKeys.gridUniform(s"pi:$d")

  /** q101's centered rows (vec_id, label, xc) and its init component
    * as a one-key state (w). */
  private[graft] def piInputs(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    import s.implicits._
    val e = embeddings(s, dir)
      .select($"vec_id", $"label", $"embedding".cast("array<double>").as("v"))
    // per-dim mean (6 dp — full-corpus avg, so the gdTrain coarse-grid
    // rationale applies) as a one-row broadcast array — the centering
    // vector
    val c = e.select(posexplode($"v").as(Seq("dim", "x")))
      .groupBy($"dim").agg(round(avg($"x"), 6).as("m"))
      .agg(IterativeState.gather($"dim", $"m").as("c"))
      .localCheckpoint(true)
    val d = e.crossJoin(broadcast(c))
      .select($"vec_id", $"label",
        zip_with($"v", $"c", (x, m) => x - m).as("xc"))
    (d, Seq(Tuple1((0 until PI_DIM).map(piInitW))).toDF("w"))
  }

  /** power iteration over `d`(xc) from `v0`(w), one reduce epoch per
    * step: a row adds s·xc with s = graft_dot(xc, v); the driver sets
    * u = Σ/n and v_j = round(u_j / sqrt(graft_dot(u, u)), 6), with
    * Spark's own Divide, Sqrt and Round. */
  private[graft] def piTrain(d: DataFrame, v0: DataFrame, iters: Int)
      : DataFrame =
    IterativeState.reduce(d.select(col("xc")), v0, iters)(new PiFold(_)) {
      (_, sum, n) =>
        val u = sum.map(_ / n.toDouble)
        val ud = UnsafeArrayData.fromPrimitiveArray(u)
        val norm = Sqrt(Literal(graft.expr.DotExpr.compute(ud, ud)))
        u.map(x => Round(Divide(Literal(x), norm), Literal(6)).eval()
          .asInstanceOf[Double])
    }._1

  /** q101's rows (xc): one key; the contribution is s·xc. */
  private final class PiFold(ep: IterativeState.Epoch)
      extends IterativeState.Fold {
    private val v = UnsafeArrayData.fromPrimitiveArray(ep.w(0))
    def key(r: InternalRow): Int = if (r.isNullAt(0)) -1 else 0
    def add(r: InternalRow, k: Int, u: Array[Double]): Unit = {
      val xc = r.getArray(0)
      require(xc.numElements() == u.length,
        s"power iteration: ${xc.numElements()}-dim row for ${u.length} dims")
      val s = graft.expr.DotExpr.compute(xc, v)
      var i = 0
      while (i < u.length) { u(i) += s * xc.getDouble(i); i += 1 }
    }
  }

  private def q101(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (d, v0) = piInputs(s, dir)
    d.crossJoin(broadcast(piTrain(d, v0, PI_ITER)))
      .withColumn("s", graft.expr.GraftFunctions.dot(s, $"xc", $"w"))
      .groupBy($"label")
      .agg(count(lit(1)).as("n"),
        round(avg($"s"), 4).as("avg_pc1"),
        round(avg($"s" * $"s"), 4).as("ms_pc1"))
      .orderBy($"label")
  }

  private lazy val q101Sql = {
    val dotSql =
      s"list_sum(list_transform(generate_series(1, $PI_DIM), i -> xc[i] * pv[i]))"
    val steps = (1 to PI_ITER).map { t =>
      s"""u$t AS (SELECT dim, avg(s * xc[dim]) AS u FROM (
         |   SELECT xc, $dotSql AS s FROM d CROSS JOIN p${t - 1})
         |  CROSS JOIN generate_series(1, $PI_DIM) s$t(dim) GROUP BY dim),
         |p$t AS (SELECT list_transform(uv, x ->
         |    round(x / sqrt(list_sum(list_transform(uv, y -> y * y))), 6))
         |    AS pv
         |   FROM (SELECT list(u ORDER BY dim) AS uv FROM u$t))""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
       |           FROM embeddings),
       |c AS (SELECT list(m ORDER BY dim) AS c FROM (
       |   SELECT dim, round(avg(v[dim]), 6) AS m
       |   FROM e CROSS JOIN generate_series(1, $PI_DIM) sc(dim)
       |   GROUP BY dim)),
       |d AS (SELECT vec_id, label,
       |   list_transform(generate_series(1, $PI_DIM), i -> v[i] - c[i]) AS xc
       |  FROM e CROSS JOIN c),
       |p0 AS (SELECT list_transform(generate_series(0, ${PI_DIM - 1}), j ->
       |   (CAST(concat('0x', substr(md5(concat('pi:', j)), 1, 8)) AS BIGINT)
       |    % 1000) / 999.0 * 2.0 - 1.0) AS pv),
       |$steps
       |SELECT label, count(*) AS n,
       | round(avg(s), 4) AS avg_pc1, round(avg(s * s), 4) AS ms_pc1
       |FROM (SELECT label, $dotSql AS s FROM d CROSS JOIN p$PI_ITER)
       |GROUP BY label ORDER BY label""".stripMargin
  }

  /** q167: MANN-WHITNEY U / A-B EXPERIMENT READOUT — the two-sample
    * rank test an experimentation platform runs per metric: variant =
    * deterministic user split (user_id parity — the hash-bucket
    * assignment every A/B system uses), per event_type the U
    * statistic with AVERAGE ranks for ties, the common-language
    * effect size U/(n_a·n_b) (numerically the q60 AUC — Mann-Whitney
    * IS the rank-sum AUC, which is why this reuses the engine's
    * grouped rank machinery), and the tie-corrected normal z.
    *
    * Exactness: values quantize to int64 micro-units, so the distinct
    * -value rollup is exact; average ranks contribute k or k.5 terms
    * (exactly representable) times integer counts — every product and
    * partial sum is an exact double below 2^53, making the
    * distributed accumulation ORDER-INDEPENDENT (the q60/q160 rank-
    * sum argument). Only the final z division/sqrt touches inexact
    * floats, on identical inputs. Plan: one distinct-value rollup
    * (partial-aggregable), one type-partitioned cumulative window,
    * one reduce — Metrics.rocAuc's range-sorted fold would apply
    * if a single metric's value universe ever outgrew a partition. */
  private def q167(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = events(s, dir).select($"event_type",
      ($"user_id" % 2 === 0).as("in_a"),
      round($"value" * 1e6, 0).cast("long").as("v6"))
    val g = e.groupBy($"event_type", $"v6")
      .agg(count(lit(1)).as("c"),
        sum(when($"in_a", 1L).otherwise(0L)).as("ca"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"event_type").orderBy($"v6")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, -1)
    val t = g
      .withColumn("cum", coalesce(sum($"c").over(w), lit(0L)))
      .groupBy($"event_type")
      .agg(sum($"ca").as("na"), sum($"c" - $"ca").as("nb"),
        sum($"c").as("n"),
        sum($"ca" * ($"cum" + ($"c" + 1) / lit(2.0))).as("r1"),
        // tie term c³−c in DOUBLE: an int64 c·c·c silently wraps once a
        // tie group passes ~2.09M rows (plausible for micro-quantized
        // values at large SF) while DuckDB's BIGINT sum promotes toward
        // HUGEINT — different silent-vs-loud failure modes. Each
        // c·(c−1)·(c+1) is an exact integer-valued double below 2^53
        // (safe through c ≈ 2×10⁵ per value with ~10⁹ headroom on the
        // sum), so the distributed accumulation stays order-independent.
        sum($"c".cast("double") * ($"c" - 1) * ($"c" + 1)).as("ties"))
    t.select($"event_type", $"na".as("n_a"), $"nb".as("n_b"),
        ($"r1" - $"na" * ($"na" + 1) / lit(2.0)).as("u_stat"),
        $"na", $"nb", $"n", $"ties", $"r1")
      .withColumn("effect",
        floor($"u_stat" / ($"na" * $"nb").cast("double") * 1e6 + 0.5) / 1e6)
      .withColumn("z",
        floor(($"u_stat" - $"na" * $"nb" / lit(2.0)) /
          sqrt($"na" * $"nb" / lit(12.0) *
            (($"n" + 1) - $"ties" / ($"n" * ($"n" - 1)).cast("double"))) *
          1e4 + 0.5) / 1e4)
      .select($"event_type", $"n_a", $"n_b", $"u_stat", $"effect", $"z")
      .orderBy($"event_type")
  }

  private val q167Sql =
    """WITH e AS (
      | SELECT event_type, user_id % 2 = 0 AS in_a,
      |  CAST(round(value * 1000000, 0) AS BIGINT) AS v6
      | FROM events),
      |g AS (
      | SELECT event_type, v6, count(*) AS c,
      |  CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS ca
      | FROM e GROUP BY event_type, v6),
      |r AS (
      | SELECT *, coalesce(sum(c) OVER (PARTITION BY event_type
      |   ORDER BY v6 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |   0) AS cum
      | FROM g),
      |t AS (
      | SELECT event_type,
      |  CAST(sum(ca) AS BIGINT) AS na,
      |  CAST(sum(c - ca) AS BIGINT) AS nb,
      |  CAST(sum(c) AS BIGINT) AS n,
      |  sum(ca * (cum + (c + 1) / 2.0)) AS r1,
      |  sum(CAST(c AS DOUBLE) * (c - 1) * (c + 1)) AS ties
      | FROM r GROUP BY event_type)
      |SELECT event_type, na AS n_a, nb AS n_b,
      | r1 - na * (na + 1) / 2.0 AS u_stat,
      | floor((r1 - na * (na + 1) / 2.0)
      |   / CAST(na * nb AS DOUBLE) * 1000000 + 0.5) / 1000000.0
      |   AS effect,
      | floor(((r1 - na * (na + 1) / 2.0) - na * nb / 2.0) /
      |   sqrt(na * nb / 12.0 *
      |     ((n + 1) - ties / CAST(n * (n - 1) AS DOUBLE))) * 10000
      |   + 0.5) / 10000.0 AS z
      |FROM t ORDER BY event_type""".stripMargin

  /** q169: CALIBRATION REPORT (reliability bins + ECE + Brier) — the
    * "is the probability a probability" audit run before any score is
    * thresholded or sampled from: the logistic-calibrated q60 score
    * (Platt slope 12 ≈ 1.5/σ of the
    * raw margin, spreading the sigmoid across its range) bucketed
    * into 10 confidence bins, per bin the mean predicted
    * probability vs the empirical positive rate and their gap, plus
    * the expected calibration error (Naeini 2015's binned ECE) and
    * the Brier score as constant audit columns.
    * Determinism: probabilities quantize to int64 micro-units at the
    * row, so every bin sum (Σp6, positives, the Brier numerator
    * Σ(p6 − y·10⁶)²) is exact order-independent integer arithmetic —
    * a raw double mean over a shuffled bin is the q153 divergence
    * mode. One scan, one 10-group aggregate, one 10-row reduce. */
  private def q169(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val r = embeddings(s, dir).select(
      element_at($"embedding", 1).cast("double").as("sc"),
      when($"label" < 5, 1L).otherwise(0L).as("y"))
      .withColumn("p6", floor(
        lit(1.0) / (lit(1.0) + exp(-(lit(12.0) * $"sc"))) * 1e6 + 0.5)
        .cast("long"))
      .withColumn("bin", least(floor($"p6" / lit(100000.0)), lit(9.0))
        .cast("long"))
      .withColumn("e6", $"p6" - $"y" * lit(1000000L))
    val bins = r.groupBy($"bin")
      .agg(count(lit(1)).as("n"), sum($"p6").as("sp6"),
        sum($"y").as("pos"), sum($"e6" * $"e6").as("se12"))
      .localCheckpoint(true)
    val tot = bins.agg(
      (sum(abs($"sp6" - $"pos" * lit(1000000L))) /
        (sum($"n") * lit(1e6))).as("ece"),
      (sum($"se12") / (sum($"n") * lit(1e12))).as("brier"))
    bins.crossJoin(broadcast(tot))
      .select($"bin", $"n",
        (floor($"sp6" / ($"n" * lit(1e6)) * 1e4 + 0.5) / 1e4).as("conf"),
        (floor($"pos" / $"n".cast("double") * 1e4 + 0.5) / 1e4).as("acc"),
        (floor(($"sp6" - $"pos" * lit(1000000L)) /
          ($"n" * lit(1e6)) * 1e4 + 0.5) / 1e4).as("gap"),
        (floor($"ece" * 1e4 + 0.5) / 1e4).as("ece"),
        (floor($"brier" * 1e6 + 0.5) / 1e6).as("brier"))
      .orderBy($"bin")
  }

  private val q169Sql =
    """WITH r AS (
      | SELECT CAST(floor(1.0 / (1.0 + exp(-(12.0 * CAST(embedding[1] AS DOUBLE))))
      |         * 1000000 + 0.5) AS BIGINT) AS p6,
      |  CASE WHEN label < 5 THEN 1 ELSE 0 END AS y
      | FROM embeddings),
      |b AS (
      | SELECT CAST(least(floor(p6 / 100000.0), 9.0) AS BIGINT) AS bin,
      |  count(*) AS n,
      |  CAST(sum(p6) AS BIGINT) AS sp6,
      |  CAST(sum(y) AS BIGINT) AS pos,
      |  CAST(sum((p6 - y * 1000000) * (p6 - y * 1000000)) AS BIGINT)
      |    AS se12
      | FROM r GROUP BY 1),
      |t AS (
      | SELECT sum(abs(sp6 - pos * 1000000)) / (sum(n) * 1000000.0)
      |         AS ece,
      |  sum(se12) / (sum(n) * 1e12) AS brier
      | FROM b)
      |SELECT bin, CAST(n AS BIGINT) AS n,
      | floor(sp6 / (n * 1000000.0) * 10000 + 0.5) / 10000.0 AS conf,
      | floor(pos / CAST(n AS DOUBLE) * 10000 + 0.5) / 10000.0 AS acc,
      | floor((sp6 - pos * 1000000) / (n * 1000000.0) * 10000 + 0.5)
      |   / 10000.0 AS gap,
      | floor(ece * 10000 + 0.5) / 10000.0 AS ece,
      | floor(brier * 1000000 + 0.5) / 1000000.0 AS brier
      |FROM b, t ORDER BY bin""".stripMargin

  val queries: Seq[Q] = Seq(
    Q("q169_calibration", q169, Some(q169Sql),
      "reliability bins + ECE + Brier in exact micro-unit sums"),
    Q("q167_mannwhitney_ab", q167, Some(q167Sql),
      "Mann-Whitney U A/B readout: tie-averaged rank sum, effect size, tie-corrected z"),
    Q("q101_pca_power", q101, Some(q101Sql),
      "power-iteration PCA first component, literal init (full oracle)"),
    Q("q100_gd_logistic", q100, Some(q100Sql),
      "deterministic full-batch GD logistic probe, loss curve (full oracle)"),
    Q("q106_gd_trajectory", q106, Some(q106Sql),
      "E2 trajectory with GD-TRAINED epoch heads: held-out AUC+BCE per epoch (full oracle)"),
    Q("q97_mlp_forward", q97, Some(q97Sql),
      "M2 ClassifierNN forward scorer, literal weights (full oracle)"),
    Q("q98_kmeans_lloyd", q98, Some(q98Sql),
      "deterministic Lloyd KMeans, literal init (full oracle)"),
    Q("q60_roc_auc", q60, Some(q60Sql), "rank-sum ROC-AUC (A11)"),
    Q("q67_bce_loss", q67, Some(q67Sql), "M4 BCE-with-logits head loss"),
    Q("q61_prf_report", q61, Some(q61Sql), "precision/recall/F1 report (A10)"),
    Q("q62_auc_grid", q62, Some(q62Sql), "one-vs-rest AUC grid (M7 shape)"),
    Q("q63_lr_probe", q63, None, "M1 LogisticRegression probe (Spark ML)"),
    Q("q64_pca_probe", q64, None, "M3 PCA latent projection (Spark ML)"),
    Q("q65_kmeans", q65, None, "KMeans clustering (Spark ML)"),
    Q("q66_mlp_probe", q66, None, "M2 MLP probe (Spark ML)"),
    Q("q91_pca_scatter", q91, None,
      "patient-filtered PCA(2) latent scatter (F1/F2 + M3)"),
    Q("q92_accuracy", q92, Some(q92Sql),
      "A9 thresholded-prediction accuracy (oracle)"))
}
