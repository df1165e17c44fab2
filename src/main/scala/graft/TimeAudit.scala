package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** temp perf scratch for the optimization rounds: attribute one query's
  * wall-clock to its Spark jobs (duration + call site), so sequential
  * driver-side actions and scheduling gaps are visible. args: <query>
  * [warmReps]; sf dir / cores from SPARK_GRAFT_*. */
object TimeAudit {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q215_takedown_vacuum")
    val warmReps = args.drop(1).headOption.map(_.toInt).getOrElse(1)
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
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
    case class J(id: Int, t0: Long, site: String,
      t1: java.util.concurrent.atomic.AtomicLong =
        new java.util.concurrent.atomic.AtomicLong(0L))
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    val order = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val cs = Option(j.properties)
          .map(_.getProperty("callSite.short")).flatMap(Option(_))
          .getOrElse("")
        val nt = j.stageInfos.map(_.numTasks).sum
        jobs.put(j.jobId, J(j.jobId, j.time, s"$cs (${nt}t)"))
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
    val busySum = js.map(j => (j.t1.get - j.t0).max(0L)).sum / 1e3
    println(f"== $name measured pass: $wall%.2f s wall, " +
      f"${js.size} jobs, ${busySum}%.2f s summed job time")
    // sequential timeline: job spans + the driver gap before each
    var prevEnd = 0L
    js.foreach { j =>
      val gap = if (prevEnd == 0L) 0.0 else (j.t0 - prevEnd) / 1e3
      val dur = (j.t1.get - j.t0).max(0L) / 1e3
      if (dur >= 0.05 || gap >= 0.05)
        println(f"  job ${j.id}%4d  +$gap%6.2f gap  $dur%6.2f s  ${j.site}")
      prevEnd = prevEnd.max(j.t1.get)
    }
    // heaviest call sites
    println("-- by call site --")
    js.groupBy(_.site.replaceAll("\\(\\d+t\\)", "")).toSeq
      .map { case (k, v) =>
        (k, v.size, v.map(j => (j.t1.get - j.t0).max(0L)).sum / 1e3) }
      .sortBy(-_._3).take(20)
      .foreach { case (k, n, t) => println(f"  $t%7.2f s  $n%3d x  $k") }
    spark.stop()
  }
}
