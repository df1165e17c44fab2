package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared SparkSession for all suites (one JVM-wide session). A suite
  * that stops it (ArtifactsSpec's session turnover) leaves the next
  * caller a new one with the same settings. */
object TestSpark {
  private var current: SparkSession = _

  def spark: SparkSession = synchronized {
    if (current == null || current.sparkContext.isStopped) {
      current = Session.local(4,
        "spark.sql.warehouse.dir" -> Scratch.tempDirDeletedOnExit("graft_wh"))
    }
    current
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf: String = "/root/testdata/sf0.001"

  def approxEqual(a: Double, b: Double, tol: Double = 1e-9): Boolean =
    math.abs(a - b) <= tol * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  /** temp dir for sink tests, deleted on JVM exit — repeated `sbt test`
    * runs must not accumulate orphans under /tmp (same discipline as
    * graft.Scratch on the query side). */
  def tmpDir(prefix: String): String = Scratch.tempDirDeletedOnExit(prefix)

  /** the SQL training loop the IterativeState trainers replaced, kept
    * as their specs' reference twins' loop: `n` epochs of `step`, each
    * result eagerly localCheckpointed before the next epoch reads it. */
  def epochs(init: DataFrame, n: Int)(
      step: (DataFrame, Int) => DataFrame): DataFrame = {
    var st = init
    for (t <- 1 to n) st = step(st, t).localCheckpoint(true)
    st
  }

  /** the BINARY literals of 1 KB or more in `df`'s optimized plan: a
    * large constant belongs in a broadcast (`graft.expr.BroadcastBinary`),
    * and ConstantFolding must not have turned one back into a literal. */
  def bigBinaryLiterals(df: DataFrame): Seq[Int] = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.BinaryType
    df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
      case Literal(v: Array[Byte], BinaryType) if v.length >= 1024 => v.length
    }))
  }

  /** the Spark jobs started while `body` runs, counted after a
    * deterministic drain of the listener bus (a fixed sleep could
    * flake the count low on a loaded host). */
  def jobsDuring(body: => Any): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    val sc = spark.sparkContext
    // earlier jobs' events must not reach the new listener
    Scratch.drainListenerBus(sc)
    sc.addSparkListener(l)
    try { body; Scratch.drainListenerBus(sc) }
    finally sc.removeSparkListener(l)
    n.get()
  }
}
