package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The Bench sweep's failure accounting and JSON fields, and parMap's
  * stop path. */
class BenchSpec extends SparkSpec {

  test("a query that throws is listed as failed, not timed") {
    val ok: (SparkSession, String) => DataFrame = (s, _) => s.range(3).toDF()
    val bad: (SparkSession, String) => DataFrame =
      (_, _) => throw new IllegalStateException("boom")
    val (timed, failed) = Bench.timeQueries(spark, sf,
      Seq("q01_ok" -> ok, "q02_bad" -> bad), reps = 2)
    assert(failed == Seq("q02_bad"))
    assert(timed.map(_._1) == Seq("q01_ok"))
  }

  test("SPARK_GRAFT_ONLY selects on the id boundary; the warm-up runs the timed list") {
    val sel = SparkEntry.selected(Some("q16")).map(_._1)
    // the trap is real: q160-q169 share the "q16" prefix
    assert(SparkEntry.queries.keys.exists(_.matches("q16[0-9]_.*")))
    assert(sel.nonEmpty && sel.forall(_.startsWith("q16_")), sel)
    assert(SparkEntry.selected(Some("q16_string_funcs, q16")).map(_._1) == sel)
    // unset or empty: every query, sorted by name
    val all = SparkEntry.queries.keys.toSeq.sorted
    assert(SparkEntry.selected(None).map(_._1) == all)
    assert(SparkEntry.selected(Some(" , ")).map(_._1) == all)
    // the warm-all pass and the timed sweep run the same list
    val stub: (SparkSession, String) => DataFrame = (s, _) => s.range(1).toDF()
    val picked = SparkEntry.selected(Some("q54,q16")).map { case (n, _) => n -> stub }
    assert(picked.map(_._1) == Seq("q16_string_funcs", "q54_ann_ivf"))
    val warmed = Bench.warmAll(spark, picked)
    val (timed, failed) = Bench.timeQueries(spark, sf, picked, reps = 1)
    assert(failed.isEmpty)
    assert(warmed == timed.map(_._1))
    assert(warmed == picked.map(_._1))
  }

  test("the JSON keeps every existing *_sec field and adds only the new ones") {
    val existing = Seq("fixture", "ann_index", "retrain_index",
      "chunk_index", "doc_index", "release_build", "release_v2",
      "release_v3", "purge_artifacts", "manifest_build", "cdc_feed",
      "purged_doc_index", "purged_chunk_index")
    val added = Seq("bench_blob", "merge_ext", "mor_ext", "mor_compact",
      "untimed_total")
    val fields = Bench.untimedFields(sf, 1.5)
    val names = "\"([a-z0-9_]+)\":".r.findAllMatchIn(fields)
      .map(_.group(1)).toSeq
    assert(names.sorted == (existing ++ added).map(_ + "_sec").sorted, fields)
    assert(fields.endsWith("\"untimed_total_sec\":1.50"), fields)
    // the full line: the same top-level fields as before plus the
    // per-query `codegen` counts
    val line = Bench.detailLine(Seq("q01_ok" -> Bench.Timing(1.0, 2.0, 7L)),
      Seq("q02_bad"), reps = 2, fields, sf)
    val top = "\"([a-z0-9_]+)\":".r
      .findAllMatchIn(line.drop(1).replaceAll("\\{[^{}]*\\}", "{}"))
      .map(_.group(1)).toSeq
    assert(top.filterNot(_.endsWith("_sec")) == Seq("metric", "value",
      "unit", "reps", "queries", "cold", "codegen", "failed", "sf"), line)
    assert(line.contains("\"codegen\":{\"q01\":7}"), line)
  }

  test("parMap runs each sibling's Spark jobs in its own job group") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val groups = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(j.properties.getProperty("spark.jobGroup.id")))
    }
    sc.addSparkListener(l)
    try {
      Scratch.parMap(Seq(0, 1), 2)(i => spark.range(10 + i).collect().length)
      Scratch.drainListenerBus(sc)
    } finally sc.removeSparkListener(l)
    // the groups parMap cancels when a sibling outlives its interrupt
    assert(groups.size == 2, groups)
    assert(groups.asScala.forall(_.startsWith("graft-parmap-")), groups)
  }

  test("a parMap sibling running a stream stops it when another sibling fails") {
    import org.apache.spark.sql.streaming.StreamingQuery
    val started = new java.util.concurrent.CountDownLatch(1)
    val stream = new java.util.concurrent.atomic.AtomicReference[StreamingQuery]()
    val e = intercept[IllegalStateException] {
      Scratch.parMap(Seq(0, 1), 2) {
        case 0 =>
          started.await()
          throw new IllegalStateException("first failure")
        case _ =>
          // a stream that never ends on its own
          val q = spark.readStream.format("rate").load()
            .writeStream.format("noop")
            .option("checkpointLocation", tmpDir("graft_parmap_ckpt"))
            .start()
          stream.set(q)
          started.countDown()
          graft.queries.StreamingQueries.awaitOrStop(q)
      }
    }
    assert(e.getMessage == "first failure")
    assert(!stream.get.isActive, "the sibling's stream outlived parMap")
  }
}
