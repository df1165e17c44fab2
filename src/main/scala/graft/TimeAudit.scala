package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** perf audit main: attribute one query's warm wall-clock to its Spark
  * jobs (duration + call site), so sequential driver-side actions and
  * scheduling gaps are visible, then group the jobs by call site and
  * stage names with their counts, summed time and summed tasks. A job
  * that runs inside a SQL execution (including the ones Spark starts
  * from a future: broadcast exchanges, subqueries) is put under the
  * execution's call site, found through `spark.sql.execution.id`.
  * args: <query> [warmReps]; sf dir / cores from SPARK_GRAFT_SF_DIR /
  * SPARK_GRAFT_CPUS (default: every available core). Run it from the
  * built classes with Spark's jars on the classpath, e.g.
  * `graft.TimeAudit q187_fully_served_rag 2`. */
object TimeAudit {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q215_takedown_vacuum")
    val warmReps = args.drop(1).headOption.map(_.toInt).getOrElse(1)
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local(sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors))
    val q = graft.queries.Registry.byName(name)
    def once(): Double = {
      val t0 = System.nanoTime()
      q.run(spark, sf).write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    (1 to warmReps).foreach(i => println(f"[timeaudit] warm $i: ${once()}%.2f s"))
    // t1 is written on the listener-bus thread and read on the main
    // thread after drainListenerBus — AtomicLong publishes the write
    // (ADVICE r17: a stale 0 silently zeroed a job's duration)
    case class J(id: Int, t0: Long, site: String, tasks: Int,
      stages: String,
      t1: java.util.concurrent.atomic.AtomicLong =
        new java.util.concurrent.atomic.AtomicLong(0L)) {
      def secs: Double = (t1.get - t0).max(0L) / 1e3
    }
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    val order = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    // SQL execution id → its call site, in the short form Spark gives
    // a job ("collect at TextQueries.scala:1951"), rebuilt from the
    // execution's long-form call stack (its description can be a job
    // group's instead)
    val execSites = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    def shortSite(long: String): Option[String] = {
      val frames = long.linesIterator.toSeq
      for {
        top <- frames.headOption
        user <- frames.drop(1).headOption
        if top.contains("(") && user.contains("(")
      } yield s"${top.takeWhile(_ != '(').split('.').last} at " +
        user.dropWhile(_ != '(').drop(1).takeWhile(_ != ')')
    }
    val l = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart =>
          shortSite(x.details).foreach(execSites.put(x.executionId, _))
        case _ =>
      }
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(j.properties)
          .flatMap(p => Option(p.getProperty(k)))
        val cs = prop("spark.sql.execution.id")
          .flatMap(id => Option(execSites.get(id.toLong)))
          .orElse(prop("callSite.short")).getOrElse("")
        jobs.put(j.jobId, J(j.jobId, j.time, cs,
          j.stageInfos.map(_.numTasks).sum,
          j.stageInfos.map(_.name.take(60)).mkString(" ;; ")))
        order.add(j.jobId)
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        Option(jobs.get(j.jobId)).foreach(_.t1.set(j.time))
      }
    }
    spark.sparkContext.addSparkListener(l)
    val wall = once()
    Scratch.drainListenerBus(spark.sparkContext)
    import scala.jdk.CollectionConverters._
    val js = order.asScala.toVector.flatMap(id => Option(jobs.get(id)))
    println(f"== $name measured pass: $wall%.2f s wall, " +
      f"${js.size} jobs, ${js.map(_.secs).sum}%.2f s summed job time")
    // sequential timeline: job spans + the driver gap before each, or
    // the overlap with the jobs before it (parMap siblings, broadcast
    // jobs) where it starts before they end
    var prevEnd = 0L
    js.foreach { j =>
      val gap = if (prevEnd == 0L) 0.0 else (j.t0 - prevEnd) / 1e3
      val before = if (gap < 0) f"${-gap}%6.2f ovl" else f"+$gap%6.2f gap"
      if (j.secs >= 0.05 || math.abs(gap) >= 0.05)
        println(f"  job ${j.id}%4d  $before  ${j.secs}%6.2f s  " +
          s"${j.site} (${j.tasks}t)")
      prevEnd = prevEnd.max(j.t1.get)
    }
    // heaviest call sites, split by the stages each job ran
    println("-- by call site --")
    js.groupBy(j => (j.site, j.stages)).toSeq
      .map { case ((site, stages), v) =>
        (site, stages, v.size, v.map(_.secs).sum, v.map(_.tasks).sum) }
      .sortBy(-_._4).take(20)
      .foreach { case (site, stages, n, t, tasks) =>
        println(f"  $t%7.2f s  $n%3d x  $tasks%5dt  $site | $stages") }
    spark.stop()
  }
}
