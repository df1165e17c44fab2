package graft.ops

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructType}

/** Evaluation metrics (SURVEY.md §2.5 A9-A11, §2.9).
  *
  * ROC-AUC uses the rank-sum (Mann-Whitney U) identity, so it is
  * oracle-checkable in ANSI SQL and computable without collecting scores:
  *   AUC = (Σ_{i: y=1} rank(s_i) − n⁺(n⁺+1)/2) / (n⁺ · n⁻)
  * with average ranks for ties. Scale: one range exchange on
  * (groups…, s), then Spark's spillable sort within each partition. A
  * tie group (one (groups…, s) key) lands in one partition, but a group
  * may span many, so no task holds a whole group (the window form this
  * replaced put each group in one task). One job folds each sorted
  * partition into per-group partials; the driver merges them in
  * partition-index order, IterativeState's rule: O(groups) partials
  * ride the driver, rows never do. Every count and rank-sum is an
  * integer or half-integer below 2^53, so the sums are exact, layout-
  * independent and bit-identical to the oracle's window form.
  */
object Metrics {

  /** ROC-AUC of `score` against binary `label` (0/1; a null label
    * counts as negative), optionally grouped by `groupCols`. Returns
    * groupCols + (auc, n_pos, n_neg) as a local frame: the Spark jobs
    * run when this is called. `auc` is null unless the group has both
    * classes. An empty input gives one all-null row ungrouped, and no
    * rows grouped. */
  def rocAuc(df: DataFrame, score: Column, label: Column,
             groupCols: Seq[Column] = Seq.empty): DataFrame = {
    val sorted = rankInput(df, score, label, groupCols)
    val keySchema = StructType(sorted.schema.dropRight(2))
    val parts = df.sparkSession.sparkContext.runJob(
      sorted.queryExecution.toRdd, rankPartials(keySchema) _)
    // a group's rows in earlier partitions all rank below this one's
    val totals = new java.util.LinkedHashMap[Row, RankPartial]()
    for (p <- parts; (k, q) <- p)
      totals.merge(k, q, (a, b) => RankPartial(a.rows + b.rows,
        a.pos + b.pos, a.rankSum + b.rankSum + b.pos * a.rows))
    val rows = totals.asScala.toSeq.map { case (k, t) =>
      val neg = t.rows - t.pos
      val auc = if (t.pos > 0 && neg > 0)
        (t.rankSum - t.pos * (t.pos + 1) / 2.0) / (t.pos * neg) else null
      Row.fromSeq(k.toSeq ++ Seq(auc, t.pos.toLong, neg.toLong))
    }
    val out = df.sparkSession.createDataFrame(
      (if (rows.isEmpty && keySchema.isEmpty) Seq(Row(null, null, null))
       else rows).asJava,
      keySchema.add("auc", DoubleType).add("n_pos", LongType)
        .add("n_neg", LongType))
    // one partition: a caller's sort of a multi-row local frame would
    // otherwise range-partition it (a sample, a shuffle and a result
    // job for a few rows); a one-row frame sorts without an exchange
    if (rows.size > 1) out.coalesce(1) else out
  }

  /** The rows rocAuc folds: (groups…, s, y) with s and y as doubles,
    * range-partitioned on (groups…, s) and sorted within partitions. */
  private[graft] def rankInput(df: DataFrame, score: Column, label: Column,
      groupCols: Seq[Column]): DataFrame = {
    val base = df.select((groupCols :+ score.cast("double").as("s") :+
      label.cast("double").as("y")): _*)
    base.orderBy(base.columns.dropRight(1).toIndexedSeq.map(col): _*)
  }

  /** The same rank-sum in DuckDB SQL, the oracles' spelling: CTEs over
    * `src`(groups…, `score`, y) ending in t`sfx`(groups…, rank_sum, np,
    * nn), with AUC = (rank_sum − np(np+1)/2) / (np·nn). `sfx` suffixes
    * the CTE names so the block can appear twice in one WITH. */
  def rankSumSql(src: String, groups: Seq[String], score: String = "score",
      sfx: String = ""): String = {
    val g = groups.map(_ + ", ").mkString
    val (part, by) = if (groups.isEmpty) ("", "") else
      (groups.mkString("PARTITION BY ", ", ", " "),
        groups.mkString(" GROUP BY ", ", ", ""))
    s"""g$sfx AS (SELECT $g$score, count(*) AS c, sum(y) AS pos_c
       |      FROM $src GROUP BY $g$score),
       |r$sfx AS (SELECT *, coalesce(sum(c) OVER (${part}ORDER BY $score
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |        AS cum_before FROM g$sfx),
       |t$sfx AS (SELECT ${g}sum(pos_c * (cum_before + (c + 1) / 2.0))
       |        AS rank_sum, sum(pos_c) AS np, sum(c - pos_c) AS nn
       |      FROM r$sfx$by)""".stripMargin
  }

  /** a group's rows, positives (Σ y) and Σ y × average rank. */
  private case class RankPartial(rows: Long, pos: Double, rankSum: Double)

  /** one task's partials, one per group key in sort order, with ranks
    * counted from this partition's first row of the group. */
  private def rankPartials(keySchema: StructType)(it: Iterator[InternalRow])
      : Array[(Row, RankPartial)] = {
    val groups = new IterativeState.TaskKeys(keySchema)
    // a tie is one (groups…, s) key, equal as the sort orders it
    val ties = new IterativeState.TaskKeys(keySchema.add("s", DoubleType))
    val y = keySchema.size + 1
    val out = Array.newBuilder[(Row, RankPartial)]
    var key, tie: UnsafeRow = null
    var rows, tieRows = 0L
    var pos, rankSum, tiePos = 0.0
    def closeTie(): Unit = {
      // average rank of the tie group = rows before + (size + 1) / 2
      rankSum += tiePos * (rows + (tieRows + 1) / 2.0)
      rows += tieRows; pos += tiePos
      tieRows = 0L; tiePos = 0.0
    }
    def closeGroup(): Unit = if (key != null) {
      out += groups.toRow(key) -> RankPartial(rows, pos, rankSum)
      rows = 0L; pos = 0.0; rankSum = 0.0
    }
    it.foreach { r =>
      val t = ties.project(r)
      if (tie == null || t != tie) {
        closeTie()
        tie = t.copy()
        val k = groups.project(r)
        if (key == null || k != key) { closeGroup(); key = k.copy() }
      }
      tieRows += 1
      if (!r.isNullAt(y)) tiePos += r.getDouble(y)
    }
    closeTie()
    closeGroup()
    out.result()
  }

  /** A9: plain accuracy plus the row count, from ONE aggregation —
    * callers report (accuracy, n) without a second count job. */
  def accuracy(df: DataFrame, pred: Column, label: Column): DataFrame =
    df.agg(avg(when(pred === label, 1.0).otherwise(0.0)).as("accuracy"),
      count(lit(1)).as("n"))

  /** A10: per-class precision/recall/F1 from (label, pred) pairs —
    * one confusion-count aggregation, then pure column arithmetic. */
  def classificationReport(df: DataFrame, pred: Column, label: Column): DataFrame = {
    val conf = df.select(label.cast("long").as("y"), pred.cast("long").as("p"))
    val byClass = conf.groupBy(col("y").as("cls"))
      .agg(count(lit(1)).as("support"),
        sum(when(col("p") === col("y"), 1L).otherwise(0L)).as("tp"))
    val predCounts = conf.groupBy(col("p").as("cls"))
      .agg(count(lit(1)).as("pred_n"))
    byClass.join(predCounts, Seq("cls"), "full_outer")
      .na.fill(0L, Seq("support", "tp", "pred_n"))
      .withColumn("precision",
        when(col("pred_n") > 0, col("tp") / col("pred_n")).otherwise(0.0))
      .withColumn("recall",
        when(col("support") > 0, col("tp") / col("support")).otherwise(0.0))
      .withColumn("f1",
        when(col("precision") + col("recall") > 0,
          lit(2.0) * col("precision") * col("recall") /
            (col("precision") + col("recall"))).otherwise(0.0))
      .select(col("cls"), col("support"), col("pred_n"), col("tp"),
        col("precision"), col("recall"), col("f1"))
  }
}
