package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.IterativeState
import graft.queries.{MlQueries, TrajectoryQueries}

/** IterativeState.logisticGd against the SQL epoch it replaced: the
  * same weights, element for element, at any partition count, from
  * exactly one Spark job per epoch. */
class LogisticGdSpec extends SparkSpec {

  // the scale the cpc benchmark runs q137 at
  private val sfBench = new java.io.File(sf).getParent + "/sf0.1"

  /** the SQL epoch q137 ran before the trainer (broadcast join, one
    * keyed avg per dim, round to 6 dp), kept as the reference twin;
    * with no keys it is q100's epoch (one global group). */
  private def sqlEpoch(train: DataFrame, keys: Seq[String], dim: Int,
      lr: Double)(w: DataFrame, t: Int): DataFrame = {
    import spark.implicits._
    val dot = graft.expr.GraftFunctions.dot(spark, $"x", $"w")
    val gs = (0 until dim).map(i =>
      avg($"err" * element_at($"x", i + 1)).as(s"g$i"))
    val joined =
      if (keys.isEmpty) train.crossJoin(broadcast(w))
      else train.join(broadcast(w), keys)
    joined.withColumn("err", lit(1.0) / (lit(1.0) + exp(-dot)) - $"y")
      .groupBy((keys :+ "w").map(col): _*)
      .agg(gs.head, gs.tail: _*)
      .select((keys.map(col) :+ array((0 until dim).map(i =>
        round(element_at($"w", i + 1) - lit(lr) * col(s"g$i"), 6)): _*)
        .as("w")): _*)
  }

  /** q100's own epoch before the trainer: posexplode, per-dim avg,
    * gathered back into one array. */
  private def q100Epoch(train: DataFrame, lr: Double)(
      w: DataFrame, t: Int): DataFrame = {
    import spark.implicits._
    val g = train.crossJoin(broadcast(w))
      .withColumn("err", lit(1.0) / (lit(1.0) +
        exp(-graft.expr.GraftFunctions.dot(spark, $"x", $"w"))) - $"y")
      .select($"err", posexplode($"x").as(Seq("dim", "xj")))
      .groupBy($"dim").agg(avg($"err" * $"xj").as("g"))
    g.crossJoin(broadcast(w))
      .select($"dim",
        round(element_at($"w", $"dim" + 1) - lit(lr) * $"g", 6).as("wj"))
      .agg(IterativeState.gather($"dim", $"wj").as("w"))
  }

  private def weights(df: DataFrame): Map[Seq[Any], Seq[Double]] =
    df.collect().map(r => r.toSeq.init -> r.getSeq[Double](r.length - 1))
      .toMap

  /** exact equality, bit for bit, reported per key. */
  private def assertSame(got: DataFrame, want: DataFrame): Unit = {
    val (g, w) = (weights(got), weights(want))
    assert(g.keySet == w.keySet)
    for ((k, ws) <- w) assert(g(k) == ws, s"key $k: ${g(k)} vs $ws")
  }

  private lazy val q100Inputs = {
    import spark.implicits._
    val train = MlQueries.gdData(spark, sfBench).filter($"vec_id" % 5 =!= 0)
      .select($"x", $"y").localCheckpoint(true)
    val w0 = Seq(Tuple1(Seq.fill(5)(0.0))).toDF("w")
    (train, w0)
  }

  private lazy val gridInputs = {
    val (train, _, w0) = TrajectoryQueries.gridProbeInputs(spark, sfBench)
    (train.localCheckpoint(true), w0)
  }

  test("q100 data: trainer weights equal the SQL epoch's, every epoch") {
    val (train, w0) = q100Inputs
    val it = MlQueries.GD_ITER
    var want = w0
    val fromSql = (1 to it).map { t =>
      want = q100Epoch(train, MlQueries.GD_LR)(want, t).localCheckpoint(true)
      want
    }
    val fromTrainer = Seq.newBuilder[DataFrame]
    IterativeState.logisticGd(train, w0, MlQueries.GD_LR, it,
      (w, _) => fromTrainer += w)
    fromTrainer.result().zip(fromSql).foreach { case (g, w) =>
      assertSame(g, w) }
    // and the keyed twin agrees with q100's posexplode spelling
    assertSame(IterativeState.epochs(w0, it)(
      sqlEpoch(train, Nil, 5, MlQueries.GD_LR)), fromSql.last)
  }

  test("q137 grid: trainer weights equal the SQL epoch's for all 9 cells") {
    val (train, w0) = gridInputs
    val keys = Seq("n_Epochs", "Model")
    val want = IterativeState.epochs(w0, TrajectoryQueries.GridIter)(
      sqlEpoch(train, keys, 7, TrajectoryQueries.GridLr))
    val got = IterativeState.logisticGd(train, w0,
      TrajectoryQueries.GridLr, TrajectoryQueries.GridIter)
    assert(weights(got).size == 9)
    assertSame(got, want)
    // trained, not left at the zero init
    assert(weights(got).values.forall(_.exists(_ != 0.0)))
  }

  // 6 dp rounding absorbs a 1-ulp slip in one epoch's gradient, so the
  // weight checks above cannot see one; this pins the row math itself
  test("trainer row math equals Spark's err expression, bit for bit") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
    val (train, w0) = gridInputs
    val wN = IterativeState.logisticGd(train, w0, TrajectoryQueries.GridLr, 3)
    val dot = graft.expr.GraftFunctions.dot(spark, $"x", $"w")
    val rows = train.join(broadcast(wN), Seq("n_Epochs", "Model"))
      .select($"x", $"w", $"y".cast("double"),
        (lit(1.0) / (lit(1.0) + exp(-dot)) - $"y").as("err"))
      .collect()
    assert(rows.length > 1000)
    def arr(r: org.apache.spark.sql.Row, i: Int) =
      UnsafeArrayData.fromPrimitiveArray(r.getSeq[Double](i).toArray)
    val off = rows.count(r => IterativeState.logisticErr(arr(r, 0), arr(r, 1),
      r.getDouble(2)) != r.getDouble(3))
    assert(off == 0, s"$off of ${rows.length} rows differ from Spark's err")
  }

  test("trainer weights do not depend on the training table's partitioning") {
    val (train, w0) = gridInputs
    def at(n: Int) = IterativeState.logisticGd(
      train.repartition(n).localCheckpoint(true), w0,
      TrajectoryQueries.GridLr, TrajectoryQueries.GridIter)
    assertSame(at(1), at(4))
  }

  test("trainer schedules exactly one Spark job per epoch") {
    val (train, w0) = gridInputs
    val iters = 5
    // warm: the materialized table and codegen exist before counting
    IterativeState.logisticGd(train, w0, 1.0, 1)
    val n = jobsDuring(IterativeState.logisticGd(train, w0, 1.0, iters))
    assert(n == iters, s"$iters epochs scheduled $n jobs")
  }
}
