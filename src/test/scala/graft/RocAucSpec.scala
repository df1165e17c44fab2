package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Metrics
import graft.queries.{MlQueries, TrajectoryQueries}

/** Metrics.rocAuc against the window/bucket spelling it replaced: the
  * same (auc, n_pos, n_neg), bit for bit, at any input layout, from a
  * number of Spark jobs that does not grow with the number of groups. */
class RocAucSpec extends SparkSpec {

  // the scale the cpc benchmark runs q60 and q137 at
  private val sfBench = new java.io.File(sf).getParent + "/sf0.1"

  /** the rank-sum AUC as written before the range-sorted fold, kept as
    * the specification twin: per distinct score a row count and a
    * positive count, rows-before from a window per group (ungrouped:
    * uniform score buckets, broadcast bucket offsets and a window
    * within each bucket), average ranks, one aggregation. */
  private def twin(df: DataFrame, score: Column, label: Column,
      groupCols: Seq[Column] = Seq.empty): DataFrame = {
    val rankBuckets = 1024
    val base = df.select((groupCols :+ score.as("s") :+
      label.cast("double").as("y")): _*)
    val gNames = base.columns.dropRight(2).toIndexedSeq
    val gCols = gNames.map(col)
    val grouped = base.groupBy((gCols :+ col("s")): _*)
      .agg(count(lit(1)).as("c"), sum(col("y")).as("pos_c"))
    val withCum =
      if (gNames.nonEmpty) {
        val w = Window.partitionBy(gCols: _*)
          .orderBy(col("s")).rowsBetween(Window.unboundedPreceding, -1)
        grouped.withColumn("cum_before",
          coalesce(sum(col("c")).over(w), lit(0L)))
      } else {
        val mm = grouped.filter(!col("s").cast("double").isNaN)
          .agg(min(col("s")).as("lo"), max(col("s")).as("hi"))
        val withB = grouped.crossJoin(broadcast(mm))
          .withColumn("b",
            when(col("s").isNull, lit(0L))
              .when(col("s").cast("double").isNaN,
                lit((rankBuckets + 2).toLong))
              .when(col("lo") < col("hi"), expr(
                s"width_bucket(CAST(s AS DOUBLE), CAST(lo AS DOUBLE), " +
                  s"CAST(hi AS DOUBLE), $rankBuckets)"))
              .otherwise(lit(1L)))
          .drop("lo", "hi")
        val bTotals = withB.groupBy(col("b")).agg(sum(col("c")).as("bc"))
        val bOffs = bTotals.as("x")
          .join(bTotals.as("y"), col("y.b") < col("x.b"), "left")
          .groupBy(col("x.b"))
          .agg(coalesce(sum(col("y.bc")), lit(0L)).as("b_off"))
        val wb = Window.partitionBy(col("b")).orderBy(col("s"))
          .rowsBetween(Window.unboundedPreceding, -1)
        withB.join(broadcast(bOffs), "b")
          .withColumn("cum_before",
            col("b_off") + coalesce(sum(col("c")).over(wb), lit(0L)))
      }
    val ranked = withCum
      .withColumn("avg_rank", col("cum_before") + (col("c") + 1) / 2.0)
    val aggCols = Seq(
      sum(col("pos_c") * col("avg_rank")).as("rank_sum"),
      sum(col("pos_c")).as("n_pos_d"),
      sum(col("c") - col("pos_c")).as("n_neg_d"))
    val totals =
      if (gNames.isEmpty) ranked.agg(aggCols.head, aggCols.tail: _*)
      else ranked.groupBy(gCols: _*).agg(aggCols.head, aggCols.tail: _*)
    totals.select((gCols ++ Seq(
      when(col("n_pos_d") > 0 && col("n_neg_d") > 0,
        (col("rank_sum") - col("n_pos_d") * (col("n_pos_d") + 1) / 2.0)
          / (col("n_pos_d") * col("n_neg_d"))).as("auc"),
      col("n_pos_d").cast("long").as("n_pos"),
      col("n_neg_d").cast("long").as("n_neg"))): _*)
  }

  /** rows keyed by their group columns; auc as its bit pattern, so
    * equality is bit for bit. */
  private def byGroup(df: DataFrame): Map[Seq[Any], Seq[Any]] = {
    val ng = df.columns.length - 3
    df.collect().map { r =>
      val auc = Option(r.get(ng)).map(a =>
        java.lang.Double.doubleToRawLongBits(a.asInstanceOf[Double]))
      r.toSeq.take(ng) -> Seq(auc, r.get(ng + 1), r.get(ng + 2))
    }.toMap
  }

  /** `body` with each of the 4 range partitions folded on its own: AQE
    * coalesces inputs this small into one partition, which leaves the
    * driver's merge of partials unexercised. */
  private def uncoalesced[T](body: => T): T = {
    val k = "spark.sql.adaptive.coalescePartitions.enabled"
    val was = spark.conf.getOption(k)
    spark.conf.set(k, "false")
    try body finally was.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  private def assertTwin(df: DataFrame, score: Column, label: Column,
      groupCols: Seq[Column] = Seq.empty): Unit = {
    val want = byGroup(twin(df, score, label, groupCols))
    for (n <- Seq(1, 4)) {
      def auc = byGroup(Metrics.rocAuc(df.repartition(n), score, label,
        groupCols))
      assert(auc == want, s"input at $n partitions")
      assert(uncoalesced(auc) == want,
        s"input at $n partitions, 4 range partitions")
    }
  }

  private def aucOf(df: DataFrame): Row = {
    val rows = Metrics.rocAuc(df, col("s"), col("y")).collect()
    assert(rows.length == 1)
    rows(0)
  }

  test("q60's scored frame: equal to the twin bit for bit at 1 and 4 partitions") {
    import spark.implicits._
    val f = MlQueries.scored(spark, sfBench).localCheckpoint(true)
    assertTwin(f, $"score", $"y")
  }

  test("q106's scored frame: equal to the twin bit for bit at 1 and 4 partitions") {
    import spark.implicits._
    val f = MlQueries.q106Scored(spark, sfBench).localCheckpoint(true)
    assertTwin(f, $"score", $"y", Seq($"n_Epochs"))
  }

  test("q137's scored frame: equal to the twin bit for bit at 1 and 4 partitions") {
    import spark.implicits._
    val f = TrajectoryQueries.q137Scored(spark, sfBench).localCheckpoint(true)
    assertTwin(f, $"score", $"y",
      Seq($"n_Epochs", $"Model", $"Classification"))
  }

  test("empty input: one all-null row ungrouped, no rows grouped") {
    import spark.implicits._
    val e = Seq.empty[(Int, Double, Int)].toDF("g", "s", "y")
    assert(aucOf(e).toSeq == Seq(null, null, null))
    assert(Metrics.rocAuc(e, $"s", $"y", Seq($"g")).collect().isEmpty)
  }

  test("single-class group: auc is null, counts are kept") {
    import spark.implicits._
    val d = Seq((0, 0.1, 1), (0, 0.2, 1), (0, 0.3, 1),
      (1, 0.1, 0), (1, 0.2, 1)).toDF("g", "s", "y")
    val got = Metrics.rocAuc(d, $"s", $"y", Seq($"g")).collect()
      .map(r => r.getInt(0) -> r.toSeq.tail).toMap
    assert(got(0) == Seq(null, 3L, 0L))
    assert(got(1) == Seq(1.0, 1L, 1L))
  }

  test("null scores rank first") {
    import spark.implicits._
    // ranks 1..4 with the null 1st: rank_sum⁺ = 1 + 3, AUC = (4 − 3) / 4
    val d = Seq((Option.empty[Double], 1), (Some(0.1), 0), (Some(0.2), 1),
      (Some(0.3), 0)).toDF("s", "y")
    assert(aucOf(d).toSeq == Seq(0.25, 2L, 2L))
    assertTwin(d, $"s", $"y")
  }

  test("0.0 and -0.0 are one tie") {
    import spark.implicits._
    // −0.5 rank 1, {−0.0, 0.0} ranks 2-3 (2.5 each), 0.5 rank 4:
    // rank_sum⁺ = 2.5 + 4, AUC = (6.5 − 3) / 4; split ties read 0.75 or 1
    val d = Seq((-0.0, 1), (-0.5, 0), (0.5, 1), (0.0, 0)).toDF("s", "y")
      .repartition(4)
    assert(aucOf(d).toSeq == Seq(0.875, 2L, 2L))
    assertTwin(d, $"s", $"y")
  }

  test("null labels count as negatives") {
    import spark.implicits._
    // tie {0.1 null, 0.1 pos} ranks 1.5, 0.2 neg 3, 0.3 pos 4:
    // rank_sum⁺ = 1.5 + 4, AUC = (5.5 − 3) / 4
    val d = Seq((0.1, Option.empty[Int]), (0.1, Some(1)), (0.2, Some(0)),
      (0.3, Some(1))).toDF("s", "y")
    assert(aucOf(d).toSeq == Seq(0.625, 2L, 2L))
    assertTwin(d, $"s", $"y")
  }

  test("a 10k-row tie group is never split across range partitions") {
    import spark.implicits._
    val d = spark.range(20000).select(
      when($"id" % 2 === 0, lit(0.5)).otherwise(rand(7)).as("s"),
      ($"id" % 3 === 0).cast("int").as("y")).localCheckpoint(true)
    // (rows, tie rows) per range partition
    val parts = uncoalesced(Metrics.rankInput(d.repartition(4), $"s", $"y",
      Seq.empty).rdd.mapPartitions { it =>
        val ss = it.map(_.getDouble(0)).toSeq
        Iterator(ss.size -> ss.count(_ == 0.5))
      }.collect().toSeq)
    assert(parts.count(_._1 > 0) > 1, parts)
    assert(parts.map(_._2).filter(_ > 0) == Seq(10000), parts)
    assertTwin(d, $"s", $"y")
  }

  test("the job count does not grow with the number of groups") {
    import spark.implicits._
    def jobs(groups: Int): Int = {
      val d = spark.range(4000).select(($"id" % groups).as("g"),
        rand(3).as("s"), ($"id" % 2).as("y"))
      jobsDuring(Metrics.rocAuc(d, $"s", $"y", Seq($"g")))
    }
    val (one, nine) = (jobs(1), jobs(9))
    assert(one == nine, s"1 group: $one jobs, 9 groups: $nine jobs")
    assert(nine <= 3, s"$nine jobs")
  }
}
