package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.SparkEntry

/** One execution of one query. Times are NaN when the query threw: a
  * failed execution is counted, never timed. */
final case class Exec(query: String, pass: Int, buildS: Double,
    planS: Double, execS: Double, rows: Long, hash: String, error: String) {
  def ok: Boolean = error == null
}

/** One benchmark run in a fresh JVM: set-up, a cold pass, warm passes,
  * output checks and, when traced, spans and layer counters. Writes one
  * raw JSON record to `<out>/raw.json`; run.py turns it into metrics.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --sf DIR
  *   --out DIR --cores N */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val w = Workloads.byName(opt("workload"))
    val out = new File(opt("out"))
    val raw = run(w, opt("seed").toLong, opt("seconds").toDouble,
      opt("trace") == "1", opt("sf"), out, opt("cores").toInt)
    java.nio.file.Files.writeString(new File(out, "raw.json").toPath, Json(raw))
  }

  /** Times one query call: the registry call (build), forcing the
    * physical plan (plan), and collecting the result (exec). The output
    * is checked by the caller, outside the timed span. A query that
    * throws is named on stderr and returned with no times. */
  def execute(tr: Tracer, query: String, pass: Int)(
      call: () => DataFrame): (Exec, Array[Row], StructType) =
    try tr.span(query, "queries") {
      val t0 = System.nanoTime()
      val df = tr.span("build", "queries")(call())
      val t1 = System.nanoTime()
      tr.span("plan", "queries")(df.queryExecution.executedPlan)
      val t2 = System.nanoTime()
      val rows = tr.span("exec", "queries")(df.collect())
      val t3 = System.nanoTime()
      (Exec(query, pass, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9,
        rows.length, null, null), rows, df.schema)
    } catch { case NonFatal(t) =>
      System.err.println(s"[perfbench] $query failed in pass $pass: $t")
      (Exec(query, pass, Double.NaN, Double.NaN, Double.NaN, 0, null,
        t.toString), null, null)
    }

  /** Spark's cache of compiled generated classes. A pass of `cpc` or
    * `lifecycle` compiles 230-270 of them, more than the default 100
    * entries hold, so with the default every warm pass compiled them all
    * again and left the JIT a fresh set of classes to compile: warm
    * passes kept getting faster, by a quarter over a run, and never
    * settled. Sized to hold
    * a workload, the cache makes the cold pass pay for codegen once and
    * the warm passes measure warm execution; `queries.codegen_cold` and
    * `queries.codegen_per_pass` count the compilations. */
  val CodegenCacheEntries = 1024

  /** generated classes compiled so far in this JVM */
  private def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** heap in use right after a full GC, in MB */
  private def gcHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def jvmCounters(): Map[String, Double] = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    Map(
      "gc_s" -> gcs.map(_.getCollectionTime).sum / 1e3,
      "gc_count" -> gcs.map(_.getCollectionCount).sum.toDouble,
      "jit_s" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3)
  }

  def run(w: Workload, seed: Long, seconds: Double, traced: Boolean,
      sf: String, out: File, cores: Int): Map[String, Any] = {
    val tr = new Tracer(traced)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val rootSpan = Clock.ms
    val spark = tr.span("session", "run") {
      SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new JobListener
    spark.sparkContext.addSparkListener(jobs)
    val broadcasts = new BroadcastListener
    val streams = new StreamListener
    if (traced) {
      spark.listenerManager.register(broadcasts)
      spark.streams.addListener(streams)
    }
    val tmp = new File(System.getProperty("java.io.tmpdir"))

    // set-up: the artifacts this workload's queries assume exist
    val written0 = Disk.hadoopLocalBytesWritten
    val artifacts = w.artifacts.map { case (name, build) =>
      val before = Disk.size(tmp)
      val t0 = System.nanoTime()
      tr.span(name, "artifacts")(build(spark, sf))
      Map("name" -> name, "s" -> (System.nanoTime() - t0) / 1e9,
        "bytes" -> (Disk.size(tmp) - before))
    }
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3

    // passes: a cold one, then warm ones until `seconds` have passed
    // and at least minWarmPasses are done. GC runs between passes,
    // outside every timed span, so no query pays for another's garbage.
    val sampler = if (traced) Some(new TmpSampler(tmp, 100)) else None
    val rng = new scala.util.Random(seed)
    val execs = ArrayBuffer[Exec]()
    val passes = ArrayBuffer[Map[String, Any]]()
    val firstOutput = scala.collection.mutable.LinkedHashMap[String, (Array[Row], StructType)]()
    var io = Map.empty[String, Long]
    val codegenAtStart = codegenCompiles
    val measureStart = System.nanoTime()
    var pass = 0
    while (pass <= w.minWarmPasses || (System.nanoTime() - measureStart) / 1e9 < seconds) {
      val heapMb = tr.span("gc", "jvm")(gcHeapMb())
      val order = rng.shuffle(w.queries)
      val results = ArrayBuffer[(Exec, Array[Row], StructType)]()
      val startMs = Clock.ms
      val t0 = System.nanoTime()
      tr.span(s"pass$pass", "run") {
        order.foreach { q =>
          results += execute(tr, q, pass)(() => SparkEntry.queries(q)(spark, sf))
        }
      }
      val wall = (System.nanoTime() - t0) / 1e9
      // checks, outside the timed pass
      val endMs = Clock.ms
      results.foreach { case (e, rows, schema) =>
        execs += (if (e.ok) e.copy(hash = Check.hash(schema, rows)) else e)
        if (e.ok && !firstOutput.contains(e.query)) firstOutput(e.query) = (rows, schema)
      }
      Bus.drain(spark.sparkContext)
      if (pass == 0) {
        val js = jobs.all
        io = Map(
          "written" -> (Disk.hadoopLocalBytesWritten - written0 +
            js.map(j => j.shWrite + j.spill).sum),
          "read" -> js.map(_.inBytes).sum)
      }
      // cumulative layer counters at the end of each pass
      val counters = if (!traced) Map.empty else Map(
        "broadcast_bytes" -> broadcasts.bytes,
        "stream_queries" -> streams.queries, "stream_batches" -> streams.batches,
        "stream_start_s" -> streams.startMs / 1e3, "stream_batch_s" -> streams.batchMs / 1e3,
        "stream_commit_s" -> streams.commitMs / 1e3, "state_bytes" -> streams.stateTotal,
        "scratch_dirs" -> sampler.get.dirs, "codegen" -> codegenCompiles) ++ jvmCounters()
      passes += Map("pass" -> pass, "wall_s" -> wall, "heap_mb" -> heapMb,
        "start_ms" -> startMs, "end_ms" -> endMs, "counters" -> counters)
      pass += 1
    }
    // the session's live set only grows over a run (plan, schema and
    // artifact caches), so its peak is at the end. Each GC lets the
    // ContextCleaner release broadcast and shuffle blocks that the next
    // GC frees, so repeat until the heap stops shrinking.
    var heapEndMb = gcHeapMb()
    var shrinking = true
    var rounds = 0
    while (shrinking && rounds < 8) {
      Thread.sleep(200)
      val h = gcHeapMb()
      shrinking = h < heapEndMb - 1.0
      heapEndMb = h
      rounds += 1
    }
    sampler.foreach(_.stop())
    Bus.drain(spark.sparkContext)
    val kernels = if (traced) tr.span("kernels", "kernels")(Kernels.measure()) else Nil

    // the first output of each query, for the oracle check in run.py
    val checkDir = new File(out, "check")
    firstOutput.foreach { case (q, (rows, schema)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.parquet(new File(checkDir, q).getPath)
    }
    val oracle = w.queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap
    val runEnd = Clock.ms
    spark.stop()

    val base = Map(
      "workload" -> w.name, "seed" -> seed, "cores" -> cores,
      "queries" -> w.queries, "setup_s" -> setupS, "artifacts" -> artifacts,
      "passes" -> passes.toSeq, "heap_end_mb" -> heapEndMb,
      "execs" -> execs.map(e => Map("query" -> e.query, "pass" -> e.pass,
        "build_s" -> e.buildS, "plan_s" -> e.planS, "exec_s" -> e.execS,
        "rows" -> e.rows, "hash" -> e.hash, "error" -> e.error)).toSeq,
      "io" -> io, "check_dir" -> checkDir.getPath, "oracle" -> oracle,
      "jvm" -> jvmCounters())
    if (!traced) base
    else base ++ Map(
      "spans" -> (Seq(Map("id" -> -1, "parent" -> -2, "name" -> "run",
        "layer" -> "run", "start" -> rootSpan, "end" -> runEnd)) ++
        tr.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
          "name" -> s.name, "layer" -> s.layer, "start" -> s.start, "end" -> s.end))),
      "jobs" -> jobs.all.map(j => Map("id" -> j.id, "start" -> j.start,
        "end" -> j.end, "tasks" -> j.tasks, "run_ms" -> j.runMs,
        "cpu_ns" -> j.cpuNs, "in_bytes" -> j.inBytes, "in_rows" -> j.inRows,
        "sh_read" -> j.shRead, "sh_write" -> j.shWrite, "spill" -> j.spill)),
      "scratch_bytes_peak" -> sampler.get.peakBytes,
      "codegen_at_start" -> codegenAtStart,
      "kernels" -> kernels.toMap)
  }
}
