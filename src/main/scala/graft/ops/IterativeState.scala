package graft.ops

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal,
  Round, UnsafeArrayData, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.optimizer.NormalizeNaNAndZero
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType, StructType}

/** The iterative-training pattern shared by the oracle-grade ML
  * dataflows (q98 Lloyd KMeans, q100/q106 GD logistic, q101
  * power-iteration PCA, the q137/q160 probe grids):
  *
  *  - model state is O(model) — weights / component / centroid matrix
  *    per key. It may ride the driver: the driver merges per-epoch
  *    partial results and ships the new state to the next epoch's
  *    tasks. Training rows never do: every epoch is a distributed scan
  *    of the training table, and no row is collected or grouped into
  *    one task;
  *  - the epoch update is a KEYED partial-aggregable reduction
  *    (per-dim gradient, per-(cell,dim) mean);
  *  - the new state is QUANTIZED (round to a fixed scale) so
  *    cross-engine float drift cannot compound across epochs.
  *
  * Two loop shapes. `logisticGd` (q100, q106, q137) is one Spark job
  * per epoch: tasks emit per-partition partial sums, the driver
  * reduces them — the shape of Spark ML's own optimizers. `epochs`
  * keeps the state in a one-row DataFrame, broadcast into each
  * epoch's aggregation and localCheckpointed after it (four jobs an
  * epoch); q98, q101 and q160 still use it and are the next users of
  * the one-job form.
  *
  * `Metrics.rocAuc` is the second user of the partition-ordered
  * driver merge: per-group rank partials, keyed through `TaskKeys`.
  *
  * Either way the loop survives 100 TB: per-epoch work is one scan of
  * the data plus O(keys × dim) of state, and the data is only ever
  * scanned, never moved.
  */
object IterativeState {

  /** Gather keyed scalar updates into ONE dense array ordered by key —
    * the state-rebuild step (`collect_list` of (key, value) structs,
    * array_sort on the key, project the value). Aggregate over a
    * one-group frame: `df.agg(gather($"dim", $"wj").as("w"))`. */
  def gather(key: Column, value: Column): Column =
    transform(array_sort(collect_list(struct(key.as("k"), value.as("x")))),
      t => t("x"))

  /** Run `n` epochs of `step` under the quantize-then-cut contract:
    * `step` must round the state it returns; epochs() eagerly
    * localCheckpoints each result before the next epoch reads it. */
  def epochs(init: DataFrame, n: Int)(
      step: (DataFrame, Int) => DataFrame): DataFrame = {
    var st = init
    for (t <- 1 to n) st = step(st, t).localCheckpoint(true)
    st
  }

  /** Full-batch logistic GD, ONE Spark job per epoch. `init` holds one
    * row per model: its key columns plus the weights `w`
    * (ARRAY<DOUBLE>, length d). `train` holds the same key columns plus
    * the features `x` (ARRAY<DOUBLE>, length ≥ d) and the label `y`;
    * a row whose key has no model is skipped (the inner-join reading).
    *
    * Each epoch's tasks scan `train` and emit per-key partial sums of
    * err·x_i plus row counts; the driver merges them in partition-index
    * order and sets w_i ← round(w_i − lr·g_i, 6) with g = Σ/n. The
    * per-row math is the SQL epoch's, bit for bit: graft_dot's in-order
    * fold from 0.0, StrictMath.exp (what Spark's `exp` runs),
    * err = 1/(1+exp(−z)) − y; the rounding is Spark's own `round`
    * expression, evaluated on the driver. A key with no training rows
    * keeps its weights. `onEpoch` sees each epoch's state as a local
    * frame shaped like `init`; the result is the last one. */
  def logisticGd(train: DataFrame, init: DataFrame, lr: Double, iters: Int,
      onEpoch: (DataFrame, Int) => Unit = (_, _) => ()): DataFrame = {
    val s = init.sparkSession
    val keys = init.columns.toSeq.filter(_ != "w")
    val stateDf = init.select((keys :+ "w").map(col): _*)
    val keySchema = StructType(keys.map(init.schema(_)))
    val nk = keys.size
    val rows = train
      .select((keys.map(col) :+ col("x") :+ col("y").cast("double")): _*)
      .queryExecution.toRdd
    var state: Seq[(Row, Array[Double])] = stateDf.collect().toSeq
      .map(r => Row.fromSeq(r.toSeq.take(nk)) -> r.getSeq[Double](nk).toArray)
    var out = init
    for (t <- 1 to iters) {
      val parts = s.sparkContext.runJob(rows,
        partialGradients(state.toMap, keySchema) _)
      val sums = new java.util.HashMap[Row, (Array[Double], Array[Long])]()
      for (p <- parts; (k, g, n) <- p) {
        val (acc, cnt) = sums.computeIfAbsent(k,
          _ => (new Array[Double](g.length), Array(0L)))
        var i = 0
        while (i < g.length) { acc(i) += g(i); i += 1 }
        cnt(0) += n
      }
      state = state.map { case (k, w) =>
        Option(sums.get(k)).fold(k -> w) { case (acc, cnt) =>
          k -> Array.tabulate(w.length)(i =>
            Round(Literal(w(i) - lr * (acc(i) / cnt(0).toDouble)),
              Literal(6)).eval().asInstanceOf[Double])
        }
      }
      out = s.createDataFrame(state.map { case (k, w) =>
        Row.fromSeq(k.toSeq :+ w.toSeq) }.asJava, stateDf.schema)
      onEpoch(out, t)
    }
    out
  }

  /** A task's grouping key, the leading `keySchema` columns of a row:
    * `project` gives it as a reused UnsafeRow, equal as Spark groups
    * (−0.0 is 0.0, NaNs are one); `toRow` the Row the driver merges on. */
  private[ops] final class TaskKeys(keySchema: StructType) {
    val project: UnsafeProjection = UnsafeProjection.create(
      keySchema.fields.toSeq.zipWithIndex.map { case (f, i) =>
        val k = BoundReference(i, f.dataType, f.nullable)
        if (f.dataType == FloatType || f.dataType == DoubleType)
          NormalizeNaNAndZero(k) else k })
    private val toScala =
      CatalystTypeConverters.createToScalaConverter(keySchema)
    def toRow(k: InternalRow): Row = toScala(k).asInstanceOf[Row]
  }

  /** one task's share of an epoch: (key, Σ err·x_i, n) per key seen in
    * the partition, in row order. Rows are (keys…, x, y). */
  private def partialGradients(w: Map[Row, Array[Double]],
      keySchema: StructType)(it: Iterator[InternalRow])
      : Array[(Row, Array[Double], Long)] = {
    val nk = keySchema.size
    val keys = new TaskKeys(keySchema)
    final class Acc(val key: Row, wv: Array[Double]) {
      val wd: ArrayData = UnsafeArrayData.fromPrimitiveArray(wv)
      val g = new Array[Double](wv.length)
      var n = 0L
    }
    val accs = new java.util.HashMap[UnsafeRow, Option[Acc]]()
    it.foreach { r =>
      if (!r.isNullAt(nk) && !r.isNullAt(nk + 1)) {
        val k = keys.project(r)
        var a = accs.get(k)
        if (a == null) {
          val key = keys.toRow(k)
          a = w.get(key).map(new Acc(key, _))
          accs.put(k.copy(), a)
        }
        a.foreach { a =>
          val x = r.getArray(nk)
          require(x.numElements() >= a.g.length,
            s"logisticGd: ${x.numElements()} features for ${a.g.length} weights")
          val err = logisticErr(x, a.wd, r.getDouble(nk + 1))
          var i = 0
          while (i < a.g.length) { a.g(i) += err * x.getDouble(i); i += 1 }
          a.n += 1
        }
      }
    }
    accs.values.asScala.flatten.map(a => (a.key, a.g, a.n)).toArray
  }

  /** err = σ(z) − y with z = graft_dot(x, w): the value Spark computes
    * for `1/(1+exp(−graft_dot(x, w))) − y` (its `exp` is StrictMath). */
  private[graft] def logisticErr(x: ArrayData, w: ArrayData, y: Double)
      : Double =
    1.0 / (1.0 + StrictMath.exp(-graft.expr.DotExpr.compute(x, w))) - y
}
