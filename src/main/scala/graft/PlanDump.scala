package graft

/** Plan-evidence dump for the optimization rounds: write
  * `.explain("formatted")` for the named registry queries to
  * `<outDir>/<qNN>_<tag>.txt` (the judge checks plan claims against
  * these files). args: <outDir> <tag> <q1,q2,...>; sf dir and core
  * count come from the usual SPARK_GRAFT_* envs. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(outDir, tag, qlist) = args
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    qlist.split(",").map(_.trim).filter(_.nonEmpty).foreach { q =>
      val df = graft.queries.Registry.byName(q).run(spark, sf)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(
          s"$outDir/${q.takeWhile(_ != '_')}_$tag.txt"), txt)
      println(s"[plandump] wrote ${q.takeWhile(_ != '_')}_$tag.txt " +
        s"(${txt.length} chars)")
    }
    spark.stop()
  }
}
