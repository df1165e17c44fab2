package graft.ops

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference,
  GenericInternalRow, Literal, Round, UnsafeArrayData, UnsafeProjection,
  UnsafeRow}
import org.apache.spark.sql.catalyst.optimizer.NormalizeNaNAndZero
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType, StructType}

/** The iterative-training loop shared by the oracle-grade ML dataflows
  * (q98 Lloyd k-means, q100/q106 GD logistic, q101 power-iteration
  * PCA, the q137/q160 probe grids), spelled once as `reduce`:
  *
  *  - model state is O(model): one vector per key (a model, a grid
  *    cell, a centroid). It rides the driver, which ships it to each
  *    epoch's tasks. Training rows never do: every epoch is ONE Spark
  *    job, a distributed scan of the training table, and no row is
  *    collected or grouped into one task;
  *  - each task folds its rows into per-key partials (a sum vector and
  *    a count); the driver merges them in partition-index order, the
  *    shape of Spark ML's own optimizers;
  *  - the driver updates each key from (old state, sum, count) and
  *    QUANTIZES the result (round to a fixed scale, with Spark's own
  *    `Round`) so cross-engine float drift cannot compound across
  *    epochs. A key with no rows keeps its state.
  *
  * Each query's per-row math replaces a SQL epoch, so it mirrors that
  * SQL bit for bit: graft_dot's in-order fold from 0.0, StrictMath.exp,
  * Spark's `Round` where the SQL rounds inside a row.
  *
  * `Metrics.rocAuc` is the second user of the partition-ordered
  * driver merge: per-group rank partials, keyed through `TaskKeys`.
  *
  * The loop survives 100 TB: per-epoch work is one scan of the data
  * plus O(keys × dim) of state, and the data is only ever scanned,
  * never moved.
  */
object IterativeState {

  /** Gather keyed scalar updates into ONE dense array ordered by key —
    * (`collect_list` of (key, value) structs, array_sort on the key,
    * project the value). Aggregate over a one-group frame:
    * `df.agg(gather($"dim", $"wj").as("w"))`. */
  def gather(key: Column, value: Column): Column =
    transform(array_sort(collect_list(struct(key.as("k"), value.as("x")))),
      t => t("x"))

  /** A task's fold of one epoch's rows, built in the task from the
    * epoch's state. */
  trait Fold {
    /** the state index of the key `r` adds to; −1 skips the row */
    def key(r: InternalRow): Int
    /** add the contribution of `r` to `sum`, its key's partial */
    def add(r: InternalRow, k: Int, sum: Array[Double]): Unit
  }

  /** An epoch's state as its tasks see it: per key, in state order,
    * the key and its vector `w`. */
  final class Epoch(keySchema: StructType, keys: Array[Row],
      val w: Array[Array[Double]]) extends Serializable {
    @transient private lazy val taskKeys = new TaskKeys(keySchema)
    @transient private lazy val index = keys.zipWithIndex.toMap
    @transient private lazy val seen =
      new java.util.HashMap[UnsafeRow, Integer]()

    /** the state index of the row's leading key columns; −1 when no
      * key holds state (the inner-join reading). */
    def keyOf(r: InternalRow): Int = {
      val k = taskKeys.project(r)
      var i = seen.get(k)
      if (i == null) {
        i = Int.box(index.getOrElse(taskKeys.toRow(k), -1))
        seen.put(k.copy(), i)
      }
      i
    }

    /** one task's partials: per key its Σ contribution and row count
      * (null and 0 for a key the task did not see). */
    private[IterativeState] def partials(fold: Fold)(
        it: Iterator[InternalRow]): (Array[Array[Double]], Array[Long]) = {
      val sums = new Array[Array[Double]](w.length)
      val counts = new Array[Long](w.length)
      it.foreach { r =>
        val k = fold.key(r)
        if (k >= 0) {
          if (sums(k) == null) sums(k) = new Array[Double](w(k).length)
          fold.add(r, k, sums(k))
          counts(k) += 1
        }
      }
      (sums, counts)
    }
  }

  /** Train `iters` epochs, ONE Spark job each. `init` holds one row per
    * key: its key columns plus the state `w` (ARRAY<DOUBLE>); no key
    * columns means one empty key. `train` holds the columns `fold`
    * reads, by ordinal; a fold that keys rows by column (`keyOf`)
    * reads them first, typed as in `init`.
    *
    * Each epoch's tasks fold `train` against the current state; the
    * driver merges the partials in partition-index order and sets
    * each key's state to update(w, Σ, n), keeping it when n = 0.
    * `onEpoch` sees each epoch's state as a local frame shaped like
    * `init`. Returns the last one and the last epoch's row count per
    * key. */
  def reduce(train: DataFrame, init: DataFrame, iters: Int,
      onEpoch: (DataFrame, Int) => Unit = (_, _) => ())(
      fold: Epoch => Fold)(
      update: (Array[Double], Array[Double], Long) => Array[Double])
      : (DataFrame, Map[Row, Long]) = {
    val s = init.sparkSession
    val keyCols = init.columns.toSeq.filter(_ != "w")
    val stateDf = init.select((keyCols :+ "w").map(col): _*)
    val keySchema = StructType(keyCols.map(init.schema(_)))
    val nk = keyCols.size
    val rows = train.queryExecution.toRdd
    val start = stateDf.collect()
    val keys = start.map(r => Row.fromSeq(r.toSeq.take(nk)))
    var w = start.map(_.getSeq[Double](nk).toArray)
    var counts = new Array[Long](keys.length)
    var out = init
    for (t <- 1 to iters) {
      val ep = new Epoch(keySchema, keys, w)
      val parts = s.sparkContext.runJob(rows,
        (it: Iterator[InternalRow]) => ep.partials(fold(ep))(it))
      val sums = new Array[Array[Double]](keys.length)
      counts = new Array[Long](keys.length)
      for ((ps, ns) <- parts; k <- keys.indices if ns(k) > 0) {
        if (sums(k) == null) sums(k) = new Array[Double](ps(k).length)
        var i = 0
        while (i < ps(k).length) { sums(k)(i) += ps(k)(i); i += 1 }
        counts(k) += ns(k)
      }
      w = keys.indices.map(k =>
        if (counts(k) == 0) w(k) else update(w(k), sums(k), counts(k))
      ).toArray
      out = s.createDataFrame(keys.toSeq.zip(w).map { case (k, v) =>
        Row.fromSeq(k.toSeq :+ v.toSeq) }.asJava, stateDf.schema)
      onEpoch(out, t)
    }
    (out, keys.toSeq.zip(counts).toMap)
  }

  /** Spark's own `round(·, scale)` on a double, for the per-row and
    * update math that replaces a SQL `round`. Not thread-safe: one per
    * task or driver loop. */
  private[graft] final class SparkRound(scale: Int) {
    private val in = new GenericInternalRow(1)
    private val e =
      Round(BoundReference(0, DoubleType, nullable = false), Literal(scale))
    def apply(x: Double): Double = {
      in.update(0, x)
      e.eval(in).asInstanceOf[Double]
    }
  }

  /** The GD update w_i ← round(w_i − lr·Σ_i/n, 6): the SQL epochs'
    * `round(w − lr * avg(g), 6)`. */
  private[graft] def gdStep(lr: Double)
      : (Array[Double], Array[Double], Long) => Array[Double] = {
    val round6 = new SparkRound(6)
    (w, sum, n) => Array.tabulate(w.length)(i =>
      round6(w(i) - lr * (sum(i) / n.toDouble)))
  }

  /** Full-batch logistic GD, one `reduce` epoch per step. `init` holds
    * one row per model: its key columns plus the weights `w` (length
    * d). `train` holds the same key columns plus the features `x`
    * (ARRAY<DOUBLE>, length ≥ d) and the label `y`; a row whose key
    * has no model is skipped. A row adds err·x_i, err = 1/(1+exp(−z))
    * − y with z = graft_dot(x, w); the update is `gdStep(lr)`. */
  def logisticGd(train: DataFrame, init: DataFrame, lr: Double, iters: Int,
      onEpoch: (DataFrame, Int) => Unit = (_, _) => ()): DataFrame = {
    val keys = init.columns.toSeq.filter(_ != "w")
    val nk = keys.size
    reduce(train.select((keys.map(col) :+ col("x") :+
        col("y").cast("double")): _*), init, iters, onEpoch)(
      new LogisticFold(nk, _))(gdStep(lr))._1
  }

  /** logisticGd's rows: (keys…, x, y). */
  private final class LogisticFold(nk: Int, ep: Epoch) extends Fold {
    private val wd: Array[ArrayData] =
      ep.w.map(UnsafeArrayData.fromPrimitiveArray(_))
    def key(r: InternalRow): Int =
      if (r.isNullAt(nk) || r.isNullAt(nk + 1)) -1 else ep.keyOf(r)
    def add(r: InternalRow, k: Int, g: Array[Double]): Unit = {
      val x = r.getArray(nk)
      require(x.numElements() >= g.length,
        s"logisticGd: ${x.numElements()} features for ${g.length} weights")
      val err = logisticErr(x, wd(k), r.getDouble(nk + 1))
      var i = 0
      while (i < g.length) { g(i) += err * x.getDouble(i); i += 1 }
    }
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

  /** err = σ(z) − y with z = graft_dot(x, w): the value Spark computes
    * for `1/(1+exp(−graft_dot(x, w))) − y` (its `exp` is StrictMath). */
  private[graft] def logisticErr(x: ArrayData, w: ArrayData, y: Double)
      : Double =
    1.0 / (1.0 + StrictMath.exp(-graft.expr.DotExpr.compute(x, w))) - y
}
