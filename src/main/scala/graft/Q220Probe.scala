package graft

/** temp perf scratch: time q220's phases (feeds vs fold) at an sf. */
object Q220Probe {
  def main(args: Array[String]): Unit = {
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local(32)
    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[probe] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    val q = graft.queries.Registry.byName("q220_append_purge_interleave")
    t("q220 cold")(q.run(spark, sf).collect())
    t("q220 warm")(q.run(spark, sf).collect())
    graft.queries.StreamingQueries.probeInterleave(spark, sf)
    spark.stop()
  }
}
