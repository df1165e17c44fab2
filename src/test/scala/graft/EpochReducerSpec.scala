package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.expr.GraftFunctions
import graft.queries.{MlQueries, TrajectoryQueries}

/** IterativeState.reduce's trainers against the SQL epochs they
  * replaced (q98 k-means, q101 power iteration, q160's MLP grid, and
  * that MLP at the reference's width 64): the same state, element for
  * element, at any partition count, from one Spark job per epoch. Each
  * twin below is the query's old spelling, run through `epochs`. */
class EpochReducerSpec extends SparkSpec {

  private def bits(xs: Seq[Double]): Seq[Long] =
    xs.map(java.lang.Double.doubleToLongBits)

  /** state frame (keys…, w) → key → w */
  private def byKey(df: DataFrame): Map[Seq[Any], Seq[Double]] =
    df.collect().map(r => r.toSeq.init -> r.getSeq[Double](r.length - 1))
      .toMap

  /** exact equality, bit for bit, reported per key. */
  private def assertSame(got: Map[Seq[Any], Seq[Double]],
      want: Map[Seq[Any], Seq[Double]]): Unit = {
    assert(got.keySet == want.keySet)
    for ((k, w) <- want)
      assert(bits(got(k)) == bits(w), s"key $k: ${got(k)} vs $w")
  }

  private def at(df: DataFrame, n: Int): DataFrame =
    df.repartition(n).localCheckpoint(true)

  // ---- q98: the old Column assignment and loop ----

  /** nearest-centroid id against an array-of-arrays column: squared
    * distances rounded to 9 dp, first-min tie-break. */
  private def kmAssign(v: Column, cmat: Column): Column = {
    val dists = transform(cmat, c =>
      round(aggregate(zip_with(v, c, (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, t) => acc + t), 9))
    (array_position(dists, array_min(dists)) - 1).cast("int")
  }

  /** q98's SQL loop over `e`(v) from `init`(cell, w): the centroids by
    * cell, and the sizes of the last iteration's assignment. */
  private def kmTwin(e: DataFrame, init: DataFrame, iters: Int)
      : (Map[Seq[Any], Seq[Double]], Map[Int, Long]) = {
    import spark.implicits._
    val c0 = init.collect().sortBy(_.getInt(0)).map(_.getSeq[Double](1))
    val grid = (for { c <- c0.indices; d <- c0(0).indices }
      yield (c, d)).toDF("cell", "dim")
    var assigned: DataFrame = null
    val cmat = epochs(Seq(Tuple1(c0.toSeq)).toDF("m"), iters) { (cm, _) =>
      assigned = e.crossJoin(broadcast(cm))
        .withColumn("cell", kmAssign($"v", $"m"))
        .select($"v", $"cell")
      val means = assigned
        .select($"cell", posexplode($"v").as(Seq("dim", "x")))
        .groupBy($"cell", $"dim").agg(round(avg($"x"), 6).as("mx"))
      grid.join(broadcast(means), Seq("cell", "dim"), "left")
        .crossJoin(broadcast(cm))
        .withColumn("mx", coalesce($"mx",
          element_at(element_at($"m", $"cell" + 1), $"dim" + 1)))
        .groupBy($"cell")
        .agg(graft.ops.IterativeState.gather($"dim", $"mx").as("r"))
        .agg(graft.ops.IterativeState.gather($"cell", $"r").as("m"))
    }
    val sizes = assigned.groupBy($"cell").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    (cmat.head().getSeq[collection.Seq[Double]](0).zipWithIndex
      .map { case (c, i) => Seq(i) -> c.toSeq }.toMap, sizes)
  }

  private def kmSizes(n: Map[Row, Long]): Map[Int, Long] =
    n.collect { case (k, c) if c > 0 => k.getInt(0) -> c }

  test("q98: centroids and sizes equal the SQL loop's at 1 and 4 partitions") {
    val (e, init) = MlQueries.kmInputs(spark, sf)
    val (want, wantSizes) = kmTwin(e, init, MlQueries.KM_ITER)
    for (n <- Seq(1, 4)) {
      val (cm, sizes) = MlQueries.kmTrain(at(e, n), init, MlQueries.KM_ITER)
      assertSame(byKey(cm), want)
      assert(kmSizes(sizes) == wantSizes, s"$n partitions")
    }
    assert(wantSizes.values.sum == e.count())
  }

  test("q98: a 9 dp tie goes to the first centroid; an empty cell keeps its") {
    import spark.implicits._
    // (0,0) is 1 + 2e-11 from cell 0 and exactly 1 from cell 1: equal
    // at 9 dp, so the first minimum (cell 0) takes it; cell 2 gets no
    // row and must keep its centroid
    val e = Seq(Seq(0.0, 0.0), Seq(3.0, 0.0), Seq(-3.0, 0.0), Seq(0.0, 0.5))
      .toDF("v")
    val init = Seq((0, Seq(1.00000000001, 0.0)), (1, Seq(-1.0, 0.0)),
      (2, Seq(10.0, 10.0))).toDF("cell", "w")
    val (want, wantSizes) = kmTwin(e, init, 1)
    assert(wantSizes == Map(0 -> 3L, 1 -> 1L))
    for (n <- Seq(1, 4)) {
      val (cm, sizes) = MlQueries.kmTrain(at(e, n), init, 1)
      assertSame(byKey(cm), want)
      assert(kmSizes(sizes) == wantSizes)
      assert(sizes(Row(2)) == 0L)
    }
    assert(want(Seq(2)) == Seq(10.0, 10.0))
  }

  // ---- q101: the old loop ----

  private def piTwin(d: DataFrame, v0: DataFrame, iters: Int): Seq[Double] = {
    import spark.implicits._
    epochs(v0.select($"w".as("pv")), iters) { (pv, _) =>
      val u = d.crossJoin(broadcast(pv))
        .withColumn("s", GraftFunctions.dot(spark, $"xc", $"pv"))
        .select($"s", posexplode($"xc").as(Seq("dim", "xj")))
        .groupBy($"dim").agg(avg($"s" * $"xj").as("u"))
      u.agg(graft.ops.IterativeState.gather($"dim", $"u").as("uv"))
        .select(transform($"uv", x =>
          round(x / sqrt(GraftFunctions.dot(spark, $"uv", $"uv")), 6))
          .as("pv"))
    }.head().getSeq[Double](0)
  }

  test("q101: the component equals the SQL loop's at 1 and 4 partitions") {
    val (d, v0) = MlQueries.piInputs(spark, sf)
    val want = piTwin(d, v0, MlQueries.PI_ITER)
    assert(want.length == 64)
    for (n <- Seq(1, 4)) {
      val got = MlQueries.piTrain(at(d, n), v0, MlQueries.PI_ITER)
      assert(bits(got.head().getSeq[Double](0)) == bits(want), s"$n partitions")
    }
  }

  // ---- q160: the old graft_vec_sum loop ----

  private def mlpTwin(train: DataFrame, w0: DataFrame, h: Int,
      iters: Int): Map[Seq[Any], Seq[Double]] = {
    import spark.implicits._
    byKey(epochs(w0, iters) { (w, _) =>
      val gsum = train.join(broadcast(w), Seq("n_Epochs", "Model"))
        .withColumn("g", GraftFunctions.mlpGrad(
          spark, $"x", $"w", $"y".cast("double"), h))
        .groupBy($"n_Epochs", $"Model")
        .agg(GraftFunctions.vecSum(spark, $"g").as("gs"),
          count(lit(1)).as("nr"))
      w.join(gsum, Seq("n_Epochs", "Model"))
        .select($"n_Epochs", $"Model",
          zip_with($"w", $"gs", (wk, gk) =>
            round(wk - lit(TrajectoryQueries.MlpLr) * (gk / $"nr"), 6))
            .as("w"))
    })
  }

  private lazy val grid = {
    val (train, _, cells) = TrajectoryQueries.gridProbeInputs(spark, sf)
    (train.localCheckpoint(true), cells)
  }

  private def mlpW0(cells: DataFrame, h: Int): DataFrame =
    cells.withColumn("w", array(TrajectoryQueries.mlpInit(h).map(lit): _*))

  test("q160: the nine cells' weights equal the graft_vec_sum loop's") {
    val (train, cells) = grid
    val h = TrajectoryQueries.MlpH
    val it = TrajectoryQueries.MlpIter
    val w0 = mlpW0(cells, h)
    val want = mlpTwin(train, w0, h, it)
    assert(want.size == 9)
    for (n <- Seq(1, 4))
      assertSame(byKey(TrajectoryQueries.mlpGd(at(train, n), w0, h, it)), want)
  }

  test("width 64, one cell, 3 epochs: trained, finite, equal to the twin") {
    import spark.implicits._
    val (train, cells) = grid
    val h = 64
    val w0 = mlpW0(cells.filter($"Model" === "T_CPC")
      .orderBy($"n_Epochs".desc).limit(1), h)
    val got = byKey(TrajectoryQueries.mlpGd(train, w0, h, 3))
    assert(got.size == 1)
    val w = got.values.head
    val init = TrajectoryQueries.mlpInit(h)
    assert(w.length == 7 * h + h + h * h + h + h + 1)
    assert(w.forall(x => !x.isNaN && !x.isInfinite))
    assert(w.zip(init).exists { case (a, b) => a != b }, "weights did not move")
    assertSame(got, mlpTwin(train, w0, h, 3))
  }

  test("each trainer schedules exactly one Spark job per epoch") {
    val iters = 3
    val (e, kmInit) = MlQueries.kmInputs(spark, sf)
    val km = e.localCheckpoint(true)
    val (d, v0) = MlQueries.piInputs(spark, sf)
    val pi = d.localCheckpoint(true)
    val (train, cells) = grid
    val w0 = mlpW0(cells, TrajectoryQueries.MlpH)
    val trainers = Seq[(String, Int => Any)](
      "q98" -> (MlQueries.kmTrain(km, kmInit, _)),
      "q101" -> (MlQueries.piTrain(pi, v0, _)),
      "q160" -> (TrajectoryQueries.mlpGd(train, w0, TrajectoryQueries.MlpH, _)))
    for ((name, train) <- trainers) {
      train(1) // warm: codegen exists before counting
      val n = jobsDuring(train(iters))
      assert(n == iters, s"$name: $iters epochs scheduled $n jobs")
    }
  }
}
