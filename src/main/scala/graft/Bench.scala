package graft
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    // SPARK_GRAFT_ONLY=q76,q44 (a local iteration aid) narrows both
    // the warm-up and the timed sweep to the same list. A narrower
    // warm-up leaves the timed queries less warm than the full one
    // does, so a subset timing compares only with a timing under the
    // same selection
    val queries = SparkEntry.selected()
    // warm-up, untimed: each query of the sweep once at sf0.001 under
    // the noop action the measurement uses. It warms class loading
    // (Spark ML's too), the JIT and each family's driver-side paths.
    // It does NOT take first-plan codegen out of the timed sweep: at
    // the default 100-entry codegen cache it compiled 10,697 classes
    // and the timed pass after it 10,784 (all queries, sf0.01, 4
    // cores), and sf0.001 plans generate other classes than the
    // measured SF's. The sweep pays codegen; the JSON's per-query
    // `codegen` field shows how much.
    var untimedSec = 0.0
    try {
      warmAll(spark, queries)
      // …then build the measured sfDir's stored artifacts, the ones
      // whose gates assume they already exist (one build per corpus
      // snapshot, reported per artifact as its *_sec field)
      val t0 = System.nanoTime()
      Artifacts.warmList.foreach { case (_, warm) => warm(spark, sfDir) }
      untimedSec = (System.nanoTime() - t0) / 1e9
      // …then drain the warmup's own debt BEFORE measuring: the
      // warm-all pass drops hundreds of sf0.001 checkpoint/broadcast
      // refs, and ContextCleaner only retires them after a GC notices
      // the weak refs (the same mechanism as the 1-min periodic GC
      // note above). Without this the backlog lands on the FIRST
      // measured queries (observed +27 s over the sweep's first third
      // vs baseline). Two GCs with settles give the cleaner queue a
      // chance to fully drain.
      System.gc(); Thread.sleep(2000)
      System.gc(); Thread.sleep(1000)
    } catch { case NonFatal(t) =>
      // a silent warm-up failure would put one-time JIT back into the
      // first measured entries with no signal (stderr, outside the
      // parsed JSON tail)
      System.err.println("[bench] WARMUP FAILED — cold-codegen timings " +
        s"likely: ${t.getClass.getName}: ${t.getMessage}")
    }
    // SPARK_GRAFT_REPS=N: time each query N times and report the MIN —
    // the single cold sweep the driver runs records 1.5-5× host-
    // contention outliers (r12: q137 34.6 s vs 6.7 s solo; same class
    // every round), and min-of-N reflects the plan's cost, not the
    // host's weather. Default stays 1 (one honest cold pass).
    val reps = sys.env.get("SPARK_GRAFT_REPS")
      .flatMap(_.toIntOption).filter(_ >= 1).getOrElse(1)
    val (results, failed) = timeQueries(spark, sfDir, queries, reps)
    val total = results.map(_._2.min).sum
    val failedIds = idList(failed)
    val line = detailLine(results, failed, reps,
      untimedFields(sfDir, untimedSec), sfDir)
    val compact =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","reps":$reps,"n_queries":${results.size},"failed":$failedIds,"queries_file":"tmp/bench_self.json","sf":"$sfDir"}"""
    // compact line FIRST as well as last: whatever window a consumer
    // reads (head or tail of the post-measurement output), one copy of
    // the short parseable line lands inside it; stderr carries a third
    // copy with no sbt [info] prefix. The HEAD copy is tagged
    // "total_head" (ADVICE r15) and the full per-query line
    // "total_detail" (VERDICT r16 #3), so "metric":"total" appears on
    // stdout exactly once — the final compact line.
    println(compact.replaceFirst("\"metric\":\"total\"",
      "\"metric\":\"total_head\""))
    System.err.println(compact)
    println(line)
    // persist a copy the driver (or a debugging human) can always
    // find, independent of stdout-tail truncation
    try {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get("tmp"))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("tmp/bench_self.json"), line + "\n")
    } catch { case NonFatal(_) => () }
    spark.stop()
    // the last stdout line is the compact one: the full line overflows
    // the ~2000-char tail a consumer parses (BENCH_r01..r13 all
    // parsed:null), and this one says where the per-query numbers live
    println(compact)
  }

  /** Run each query once at sf0.001 with the noop sink, in order, and
    * return the names run. Each query is guarded on its own, against
    * NON-fatal failures only: an OOM or an interrupt must not leave a
    * degraded JVM going on to measure. */
  private[graft] def warmAll(spark: SparkSession,
      queries: Seq[(String, (SparkSession, String) => DataFrame)])
      : Seq[String] =
    queries.map { case (name, fn) =>
      try fn(spark, "/root/testdata/sf0.001")
        .write.mode("overwrite").format("noop").save()
      catch { case NonFatal(t) =>
        System.err.println(s"[bench] warm-all: $name failed " +
          s"(${t.getClass.getName}) — its family stays cold")
      }
      name
    }

  /** The full JSON line: per query (by short id, "q01" for
    * "q01_pricing_summary", to keep the line short) its min seconds,
    * its first rep's when reps ≥ 2 (`cold`), and the generated classes
    * compiled in its first rep (`codegen`); then the failed queries and
    * the untimed build fields. */
  private[graft] def detailLine(results: Seq[(String, Timing)],
      failed: Seq[String], reps: Int, untimed: String,
      sfDir: String): String = {
    // short ids must stay unique — a collision would silently
    // overwrite a timing at JSON-parse time
    val ids = (results.map(_._1) ++ failed).map(shortId)
    require(ids.distinct.size == ids.size,
      s"duplicate bench short ids: ${ids.diff(ids.distinct).distinct.mkString(",")}")
    def perQuery(v: Timing => String): String = results
      .map { case (k, t) => "\"" + shortId(k) + "\":" + v(t) }
      .mkString("{", ",", "}")
    // cold (first-rep) per-query times, only meaningful when reps>=2;
    // kept in the persisted artifact so min-of-N rounds stay
    // comparable to one-cold-pass rounds (ADVICE r14)
    val coldQs = if (reps <= 1) "" else s""","cold":${perQuery(t => fmt(t.first))}"""
    s"""{"metric":"total_detail","value":${fmt(results.map(_._2.min).sum)},"unit":"sec","reps":$reps,"queries":${perQuery(t => fmt(t.min))}$coldQs,"codegen":${perQuery(_.codegen.toString)},"failed":${idList(failed)},$untimed,"sf":"$sfDir"}"""
  }

  private def shortId(name: String): String = name.takeWhile(_ != '_')

  private def idList(names: Seq[String]): String =
    names.map("\"" + shortId(_) + "\"").mkString("[", ",", "]")

  /** one `<name>_sec` JSON field per warmed artifact: its build seconds
    * for `dir`, plus `untimed_total_sec`, the wall time of all of them,
    * where a nested build counts once. */
  private[graft] def untimedFields(dir: String, untimedSec: Double): String =
    (Artifacts.warmList.map { case (e, _) => e.name -> e.seconds(dir) } :+
      ("untimed_total" -> untimedSec))
      .map { case (n, v) => s""""${n}_sec":${fmt(v)}""" }.mkString(",")

  private def fmt(v: Double): String = BigDecimal(v)
    .setScale(2, BigDecimal.RoundingMode.HALF_UP).toString

  /** A query's timed reps: the fastest rep's seconds, the first rep's,
    * and the generated classes compiled during the first rep. */
  private[graft] case class Timing(min: Double, first: Double, codegen: Long)

  /** Time each query `reps` times with the noop sink. A query that
    * throws in any rep is reported by name in the second list, with its
    * exception on stderr, and has no time: timing a failure as a fast
    * run would hide it in the total. */
  private[graft] def timeQueries(spark: SparkSession, sfDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)],
      reps: Int): (Seq[(String, Timing)], Seq[String]) = {
    var sinceGc = 0
    val timed = queries.map { case (name, fn) =>
      // in-sweep cleaner drain (guide §5, r18): each query drops its
      // localCheckpoint/broadcast refs at return, but ContextCleaner
      // only retires the blocks after a GC notices the weak refs —
      // under the 1-min periodic GC the debt of ~20 queries lands on
      // whichever query runs when the heap fills (q134 10.8 s
      // in-registry vs 1.1 solo, r14; q235 15.6 vs 4.2, r17). Drain
      // every 8 queries, BETWEEN timings, so no measured query pays
      // a predecessor's debt. Not counted in any per-query time.
      sinceGc += 1
      if (sinceGc >= 8) { sinceGc = 0; System.gc() }
      val compiles = org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME
      val c0 = compiles.getCount
      var firstCompiles = 0L
      val times = (1 to reps).map { rep =>
        val t0 = System.nanoTime()
        // noop sink, not count(): count() lets Catalyst PRUNE every
        // aggregate/projection column the row count doesn't need, so
        // it times the grouping but not the work (a percentile sketch
        // benched as 0 s). The noop write evaluates every output
        // column and discards the rows — the honest throughput action.
        try {
          fn(spark, sfDir).write.mode("overwrite").format("noop").save()
          val sec = (System.nanoTime() - t0) / 1e9
          if (rep == 1) firstCompiles = compiles.getCount - c0
          Some(sec)
        } catch { case NonFatal(e) =>
          System.err.println(s"[bench] $name FAILED: $e")
          e.printStackTrace()
          None
        }
      }
      // (min, first-rep): min excludes session-memoized-artifact and
      // JIT warmth that reps>=2 inherit; the first-rep COLD time is
      // kept alongside so cross-round comparisons against reps=1
      // sweeps can normalize (ADVICE r14)
      name -> (if (times.forall(_.isDefined))
        Some(Timing(times.flatten.min, times.head.get, firstCompiles))
        else None)
    }
    (timed.collect { case (n, Some(t)) => n -> t },
      timed.collect { case (n, None) => n })
  }
}
