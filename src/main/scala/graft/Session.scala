package graft

import org.apache.spark.sql.SparkSession

/** The one local-session builder the mains and the test suites share,
  * so the oracle-checked session is the benchmarked one. */
object Session {

  /** `local[cpus]` with `cpus` shuffle partitions, the UTC session time
    * zone, no UI and WARN logging; `extra` adds settings. */
  def local(cpus: Int, extra: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // 200+ queries in one JVM leave dropped localCheckpoint RDD
      // blocks awaiting weak-ref cleanup; the default 30 min periodic
      // GC lets them pile into storage memory and inflate mid-registry
      // timings (q134 measured 10.8 in-registry vs 1.1 solo-in-bench).
      // One minute keeps the ContextCleaner draining between queries.
      .config("spark.cleaner.periodicGC.interval", "1min")
    val spark = extra.foldLeft(b) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
