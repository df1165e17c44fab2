package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** temp perf scratch: count + describe jobs of one warm serve. */
object JobAudit {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q187_fully_served_rag")
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Session.local(8)
    val q = graft.queries.Registry.byName(name)
    q.run(spark, sf).collect() // warm
    q.run(spark, sf).collect() // warm twice (indexes memoized)
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val d = j.properties
        val desc = Option(d).map(_.getProperty("spark.job.description"))
          .flatMap(Option(_)).getOrElse("")
        val cs = Option(d).map(_.getProperty("callSite.short"))
          .flatMap(Option(_)).getOrElse("")
        val st = j.stageInfos.map(si => si.name.take(60)).mkString(" ;; ")
        jobs.add(s"${j.stageInfos.map(_.numTasks).sum}t $cs | ${desc.take(40)} | $st")
      }
    }
    spark.sparkContext.addSparkListener(l)
    val t0 = System.nanoTime()
    q.run(spark, sf).collect()
    val sec = (System.nanoTime() - t0) / 1e9
    Scratch.drainListenerBus(spark.sparkContext)
    import scala.jdk.CollectionConverters._
    val all = jobs.asScala.toVector
    println(s"== $name warm serve: ${all.size} jobs, ${f"$sec%.2f"} s")
    all.groupBy(identity).toSeq.sortBy(-_._2.size).foreach { case (k, v) =>
      println(f"${v.size}%3d x $k")
    }
    spark.stop()
  }
}
