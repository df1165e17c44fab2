package graft

import org.apache.spark.sql.SparkSession

/** The one local-session builder the mains and the test suites share,
  * so the oracle-checked session is the benchmarked one, and the one
  * place a session's settings are fixed: the stream session of each
  * session is made here, with its settings, and no query changes a
  * session's conf afterwards. */
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

  /** The widest state a stream session keeps. A stateful streaming
    * operator makes one state store per shuffle partition (four per
    * partition for a stream-stream join), and each store pays a
    * per-micro-batch commit whatever it holds, so the state width
    * tracks state volume, not the batch width. Measured at sf0.1
    * `local[32]`: the stream-stream joins go 7.2 → 2.8 s (q116) and
    * 6.8 → 3.0 s (q123) from 32 to 8 partitions. */
  private[graft] val StateWidth = 8

  private val streams = new java.util.WeakHashMap[SparkSession, SparkSession]
  private val made = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean])

  /** The session every stream of `s` reads from and runs in: a child
    * of `s` (`s.newSession()`, which shares its context, cache and
    * catalog but not its conf), made once per `s`. Batch frames of `s`
    * join into its streams as they are; the runner re-reads each sink
    * on `s`. Its settings are fixed when it is made:
    *  - shuffle (state) width `min(width of s, StateWidth)`;
    *  - `nanosAsLong`, for events' TIMESTAMP(NANOS) `ts`
    *    (`Tables.normalizeTs` turns it into a timestamp);
    *  - the graft functions and optimizer rule;
    *  - the streaming listeners `s` holds then, so they see its streams.
    * A stream session is its own stream session. */
  def stream(s: SparkSession): SparkSession = synchronized {
    if (made.contains(s)) s
    else Option(streams.get(s)).getOrElse {
      val c = streamOf(s)
      streams.put(s, c)
      c
    }
  }

  /** a new stream session of `s` with `extra` settings on top, for a
    * stream whose planner settings differ from the shared one's. */
  private[graft] def streamOf(s: SparkSession,
      extra: (String, String)*): SparkSession = synchronized {
    val c = s.newSession()
    val width = math.min(s.conf.get("spark.sql.shuffle.partitions").toInt,
      StateWidth)
    (Seq("spark.sql.shuffle.partitions" -> width.toString,
      "spark.sql.legacy.parquet.nanosAsLong" -> "true") ++ extra)
      .foreach { case (k, v) => c.conf.set(k, v) }
    graft.expr.GraftFunctions.register(c)
    s.streams.listListeners().foreach(c.streams.addListener)
    made.add(c)
    c
  }
}
