package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.expr.GraftFunctions
import graft.ops.Cpc
import graft.queries.{CpcQueries, SeqQueries}

/** Cpc.infoNce (the native graft_info_nce batch aggregate) against the
  * join/window spelling it replaced: the same (batch_n, info_nce,
  * self_match_pct), bit for bit, at any input layout or row order. */
class InfoNceSpec extends SparkSpec {

  // the scale the cpc benchmark runs q75 at
  private val sfBench = new java.io.File(sf).getParent + "/sf0.1"

  /** batch-local InfoNCE as written before the native aggregate, kept
    * as the specification twin. Input (batch_id, id, proj, tgt): an
    * all-pairs self-join within the batch, one score row per (i, j, k);
    * per (k, i) the max, the diagonal and the argmax from a row_number
    * window on (score desc, j); the log-sum-exp through a second join
    * on the max; one aggregation per batch. `loss` is the unrounded
    * mean. */
  private def twin(df: DataFrame): DataFrame = {
    val a = df.select(col("batch_id"), col("id").as("i"), col("proj"))
    val b = df.select(col("batch_id"), col("id").as("j"), col("tgt"))
    val scores = a.join(b, "batch_id")
      .select(col("batch_id"), col("i"), col("j"),
        posexplode(zip_with(col("proj"), col("tgt"), (p, t) => p * t))
          .as(Seq("k", "sc")))
    val wArg = Window.partitionBy(col("k"), col("i"))
      .orderBy(col("sc").desc, col("j"))
    val perI = scores
      .withColumn("rn", row_number().over(wArg))
      .groupBy(col("batch_id"), col("k"), col("i"))
      .agg(max(col("sc")).as("m"),
        sum(when(col("j") === col("i"), col("sc"))).as("s_pos"),
        max(when(col("rn") === 1, col("j"))).as("argmax_j"))
    val lse = scores.join(
        perI.select(col("k").as("k2"), col("i").as("i2"), col("m")),
        col("k") === col("k2") && col("i") === col("i2"))
      .groupBy(col("k"), col("i"))
      .agg((log(sum(exp(col("sc") - col("m")))) + first(col("m"))).as("lse"))
      .select(col("k").as("k3"), col("i").as("i3"), col("lse"))
    perI.join(lse, col("k") === col("k3") && col("i") === col("i3"))
      .withColumn("loss", col("lse") - col("s_pos"))
      .withColumn("hit", when(col("argmax_j") === col("i"), 1.0).otherwise(0.0))
      .groupBy(col("batch_id"))
      .agg(countDistinct(col("i")).as("batch_n"),
        round(avg(col("loss")), 6).as("info_nce"),
        round(avg(col("hit")) * 100, 4).as("self_match_pct"),
        avg(col("loss")).as("loss"))
  }

  private def kernel(df: DataFrame): DataFrame =
    Cpc.infoNce(df, col("batch_id"), col("id"), col("proj"), col("tgt"))

  /** the kernel's unrounded mean loss per batch. */
  private def rawLoss(df: DataFrame): Map[Long, Double] =
    df.groupBy(col("batch_id"))
      .agg(GraftFunctions.infoNce(spark, col("id"), col("proj"), col("tgt"))
        .as("r"))
      .select(col("batch_id"), col("r.loss")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap

  private def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)

  /** batch_id → (batch_n, info_nce, self_match_pct), doubles as bits. */
  private def byBatch(df: DataFrame): Map[Long, (Long, Long, Long)] =
    df.select("batch_id", "batch_n", "info_nce", "self_match_pct").collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), bits(r.getDouble(2)), bits(r.getDouble(3)))).toMap

  private def assertTwin(df: DataFrame): Unit = {
    val t = twin(df)
    val want = byBatch(t)
    val wantLoss = t.select("batch_id", "loss").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(want.nonEmpty)
    for (n <- Seq(1, 4)) {
      val d = df.repartition(n)
      assert(byBatch(kernel(d)) == want, s"input at $n partitions")
      val got = rawLoss(d)
      assert(got.keySet == wantLoss.keySet)
      got.foreach { case (b, l) =>
        val w = wantLoss(b)
        assert(bits(l) == bits(w) || math.abs(l - w) <= 1e-12,
          s"batch $b at $n partitions: $l vs $w")
      }
    }
  }

  test("q73's frame: equal to the twin at 1 and 4 partitions") {
    val f = SeqQueries.q73Rows(spark, sfBench).select(col("batch_id"),
      col("user_id").as("id"), col("rep").as("proj"), col("rep").as("tgt"))
      .localCheckpoint(true)
    assertTwin(f)
  }

  test("q75's frame: equal to the twin at 1 and 4 partitions") {
    val f = CpcQueries.q75Rows(spark, sfBench)
      .withColumnRenamed("user_id", "id").localCheckpoint(true)
    assertTwin(f)
  }

  private def frame(rows: (Long, Long, Seq[Double], Seq[Double])*): DataFrame = {
    import spark.implicits._
    rows.toDF("batch_id", "id", "proj", "tgt")
  }

  test("planted score ties: the argmax is the smallest id") {
    // batch 0: anchor 1 ties ids 1 and 2 (hit), anchor 2 ties all three
    // (picks 1, miss), anchor 3's max is its own -0.0 (hit); taking
    // the largest id of a tie would read 1 hit, not 2. Batch 1: -0.0
    // and 0.0 tie as Spark's sort ties them, so both anchors pick id
    // 10; Double.compare would make id 11 a hit too
    val d = frame(
      (0L, 3L, Seq(-1.0), Seq(0.0)), (0L, 1L, Seq(1.0), Seq(1.0)),
      (0L, 2L, Seq(0.0), Seq(1.0)),
      (1L, 11L, Seq(1.0), Seq(0.0)), (1L, 10L, Seq(-1.0), Seq(-0.0)))
    val got = kernel(d).collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(got(0L)(0) == 3L && got(0L)(2) == 66.6667, got(0L))
    assert(got(1L) == Seq(2L, BigDecimal(math.log(2)).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble, 50.0))
    assertTwin(d)
  }

  test("a one-row batch: zero loss, a self-match") {
    val d = frame((7L, 7L, Seq(0.3, -2.0), Seq(1.5, 4.0)))
    assert(kernel(d).collect().map(_.toSeq).toSeq ==
      Seq(Seq(7L, 1L, 0.0, 100.0)))
    assertTwin(d)
  }

  test("NaN scores: the NaN candidate is the argmax and the loss is NaN") {
    // Spark's max and DESC sort put NaN above every number, so every
    // anchor picks id 2 (1 hit); skipping NaN, anchors 1 and 3 would hit
    val d = frame((0L, 1L, Seq(-1.0), Seq(0.5)),
      (0L, 2L, Seq(1.0), Seq(Double.NaN)), (0L, 3L, Seq(1.0), Seq(0.7)))
    val r = kernel(d).collect().head
    assert(r.getLong(1) == 3L && r.getDouble(2).isNaN)
    assert(r.getDouble(3) == 33.3333)
    assertTwin(d)
  }

  test("a null input throws, naming the function") {
    import spark.implicits._
    val nullId = Seq((0L, Option.empty[Long], Seq(1.0), Seq(1.0)))
      .toDF("batch_id", "id", "proj", "tgt")
    val nullArray = Seq((0L, 1L, Option.empty[Seq[Double]], Seq(1.0)))
      .toDF("batch_id", "id", "proj", "tgt")
    val nullElem = Seq((0L, 1L, Seq(1.0), Seq(Option.empty[Double])))
      .toDF("batch_id", "id", "proj", "tgt")
    for (d <- Seq(nullId, nullArray, nullElem)) {
      val e = intercept[Exception](kernel(d).collect())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => Option(t.getMessage).exists(_.contains("graft_info_nce"))), e)
    }
  }

  test("row order within a batch does not change the result") {
    val rng = new scala.util.Random(11)
    val rows = for (b <- 0L until 3L; i <- 0 until 40) yield
      (b, b * 100 + i, Seq.fill(2)(rng.nextGaussian()),
        Seq.fill(2)(rng.nextGaussian()))
    val d = frame(rows: _*).localCheckpoint(true)
    def raw(x: DataFrame) = rawLoss(x).map { case (b, l) => b -> bits(l) }
    val want = raw(d.coalesce(1).orderBy(col("id")))
    assert(want.size == 3)
    assert(raw(d.coalesce(1).orderBy(col("id").desc)) == want)
    assert(raw(d.repartition(4)) == want)
    assert(raw(d.repartition(4, rand(5)).sortWithinPartitions(rand(6))) == want)
    assertTwin(d)
  }
}
