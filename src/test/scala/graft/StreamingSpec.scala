package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.Streaming
import graft.streaming.Streaming.{EmaOut, Event}
import graft.ops.ArrayOps

/** Streaming operators must agree with their batch twins (§2.10):
  * feed a MemoryStream, drain it, compare against batch computation
  * on the same rows. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2026-01-01 10:$minute%02d:00")

  private val rows = Seq(
    Event(1, ts(0), 10.0), Event(1, ts(5), 20.0), Event(1, ts(50), 30.0),
    Event(2, ts(1), 5.0), Event(2, ts(2), 7.0))

  test("tumblingAgg matches batch groupBy on the same data") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val df = mem.toDF().withColumnRenamed("user_id", "uid")
      .select(col("uid").as("user_id"), col("ts"), col("value"),
        lit("click").as("event_type"))
    val q = Streaming.tumblingAgg(df, windowLen = "1 hour")
      .writeStream.format("memory").queryName("tumbling")
      .outputMode("complete").start()
    mem.addData(rows: _*)
    q.processAllAvailable()
    val got = spark.table("tumbling")
      .select($"event_type", $"n", $"sum_value").collect()
    q.stop()
    assert(got.length == 1)
    assert(got(0).getLong(1) == 5L)
    assert(approxEqual(got(0).getDouble(2), 72.0))
  }

  test("emaPerKey final state is batching-independent (q108 contract)") {
    // q108 takes each key's max-total_events row as the end-of-stream
    // EMA; that is only sound if the value is the same no matter how
    // the (time-ordered) source splits into micro-batches
    implicit val sqlCtx = spark.sqlContext
    def run(name: String, chunks: Seq[Seq[Event]]): Map[Long, (Long, Double)] = {
      val mem = MemoryStream[Event]
      val q = Streaming.emaPerKey(mem.toDS(), 0.3)
        .writeStream.format("memory").queryName(name)
        .outputMode("update").start()
      chunks.foreach { c => mem.addData(c: _*); q.processAllAvailable() }
      val out = spark.table(name).collect()
      q.stop()
      out.groupBy(_.getLong(0)).map { case (k, rs) =>
        val last = rs.maxBy(_.getLong(2))
        k -> (last.getLong(2), last.getDouble(3))
      }
    }
    val cut = ts(3).getTime
    val one = run("ema_one", Seq(rows))
    val split = run("ema_split", Seq(
      rows.filter(_.ts.getTime <= cut), rows.filter(_.ts.getTime > cut)))
    assert(one.nonEmpty)
    assert(one == split, s"batch split changed the final EMA: $one vs $split")
  }

  test("sessionAgg splits on the 30-minute gap like batch sessionize") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = Streaming.sessionAgg(mem.toDF())
      .writeStream.format("memory").queryName("sessions")
      .outputMode("complete").start()
    mem.addData(rows: _*)
    q.processAllAvailable()
    val got = spark.table("sessions")
      .select($"user_id", $"session_events", $"session_value")
      .orderBy($"user_id", $"session_events").collect()
    q.stop()
    // user 1: events at 10:00/10:05 (one session) and 10:50 (new session,
    // gap 45 min > 30); user 2: one session of 2
    assert(got.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq ==
      Seq((1L, 1L, 30.0), (1L, 2L, 30.0), (2L, 2L, 12.0)))
  }

  test("watermark drops late events in append-mode windowed agg") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val df = mem.toDF()
      .select(col("user_id"), col("ts"), col("value"),
        lit("click").as("event_type"))
    val q = Streaming.tumblingAgg(df, windowLen = "1 hour",
        watermark = "30 minutes")
      .writeStream.format("memory").queryName("late")
      .outputMode("append").start()
    // batch 1: events in the 10:00 hour, max ts 10:50
    mem.addData(Event(1, ts(0), 1.0), Event(1, ts(50), 2.0))
    q.processAllAvailable()
    // batch 2: advance event time to 13:00 → watermark 12:30 closes the
    // 10:00 window (emitted); a 10:05 straggler must be DROPPED
    mem.addData(Event(1, Timestamp.valueOf("2026-01-01 13:00:00"), 4.0))
    q.processAllAvailable()
    mem.addData(Event(1, ts(5), 100.0)) // late beyond watermark
    q.processAllAvailable()
    val rows = spark.table("late")
      .select(col("bucket"), col("n"), col("sum_value")).collect()
    q.stop()
    // the emitted 10:00 window contains only the on-time events
    val w10 = rows.find(_.getTimestamp(0) ==
      Timestamp.valueOf("2026-01-01 10:00:00"))
    assert(w10.isDefined, s"10:00 window not emitted: ${rows.mkString}")
    assert(w10.get.getLong(1) == 2L)
    assert(approxEqual(w10.get.getDouble(2), 3.0))
  }

  test("dedupStream keeps only the first doc per fingerprint, across batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Long)]
    val df = mem.toDF().toDF("ts", "fp", "doc_id")
    val q = Streaming.dedupStream(df)
      .writeStream.format("memory").queryName("dedupstream")
      .outputMode("append").start()
    // batch 1: two distinct fingerprints + one in-batch duplicate
    mem.addData((ts(0), "aaa", 1L), (ts(1), "bbb", 2L), (ts(2), "aaa", 3L))
    q.processAllAvailable()
    // batch 2: cross-batch duplicate (state hit) + one new fingerprint
    mem.addData((ts(10), "bbb", 4L), (ts(11), "ccc", 5L))
    q.processAllAvailable()
    val got = spark.table("dedupstream").select($"fp", $"doc_id")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    q.stop()
    // exactly one survivor per fingerprint — the batch-twin semantics
    // of q40's canonical-per-group dedup (first arrival wins)
    assert(got.map(_._1) == Set("aaa", "bbb", "ccc"))
    assert(got.size == 3)
    assert(got.contains(("ccc", 5L)))
  }

  test("sessionizeStateful closes sessions on gap across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = Streaming.sessionizeStateful(mem.toDS(), gapMs = 30 * 60 * 1000)
      .writeStream.format("memory").queryName("statefulsess")
      .outputMode("append").start()
    // batch 1: user 1 events 10:00, 10:05 — open session, nothing emitted
    mem.addData(Event(1, ts(0), 10.0), Event(1, ts(5), 20.0))
    q.processAllAvailable()
    assert(spark.table("statefulsess").count() == 0)
    // batch 2: 10:50 (45-min gap) closes it and opens a new one
    mem.addData(Event(1, ts(50), 30.0))
    q.processAllAvailable()
    val rows = spark.table("statefulsess")
      .select(col("user_id"), col("n"), col("sum")).collect()
    q.stop()
    assert(rows.length == 1)
    assert(rows(0).getLong(0) == 1L && rows(0).getLong(1) == 2L)
    assert(approxEqual(rows(0).getDouble(2), 30.0))
  }

  test("sessionizeWithTimeout closes a session when the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = Streaming.sessionizeWithTimeout(mem.toDS(),
        gapMs = 30 * 60 * 1000)
      .writeStream.format("memory").queryName("timeoutsess")
      .outputMode("append").start()
    // open a session for user 1
    mem.addData(Event(1, ts(0), 10.0), Event(1, ts(5), 20.0))
    q.processAllAvailable()
    assert(spark.table("timeoutsess").count() == 0)
    // a DIFFERENT user far in the future advances the watermark past
    // user 1's last + gap; the timeout must close user 1's session
    mem.addData(Event(2, Timestamp.valueOf("2026-01-01 14:00:00"), 1.0))
    q.processAllAvailable()
    mem.addData(Event(2, Timestamp.valueOf("2026-01-01 14:00:01"), 1.0))
    q.processAllAvailable()
    val rows = spark.table("timeoutsess")
      .select(col("user_id"), col("n"), col("sum")).collect()
    q.stop()
    assert(rows.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L &&
      math.abs(r.getDouble(2) - 30.0) < 1e-9),
      s"user 1 session not closed by timeout: ${rows.mkString(", ")}")
  }

  test("emaPerKey equals the batch emaLast scan across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = Streaming.emaPerKey(mem.toDS(), alpha = 0.1)
      .writeStream.format("memory").queryName("ema")
      .outputMode("update").start()
    // two micro-batches: state must carry across them
    mem.addData(rows.take(3): _*)
    q.processAllAvailable()
    mem.addData(rows.drop(3): _*)
    q.processAllAvailable()
    val got = spark.table("ema").as[EmaOut].collect()
      .groupBy(_.user_id).map { case (k, v) => k -> v.maxBy(_.total_events) }
    q.stop()
    // batch oracle: ArrayOps.emaLast over each user's time-sorted values
    val batch = Seq(1L -> Seq(10.0, 20.0, 30.0), 2L -> Seq(5.0, 7.0)).toDF("uid", "vs")
      .select($"uid", ArrayOps.emaLast($"vs", 0.1).as("ema"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(1L).total_events == 3 && got(2L).total_events == 2)
    assert(approxEqual(got(1L).ema, batch(1L), 1e-12))
    assert(approxEqual(got(2L).ema, batch(2L), 1e-12))
  }

  test("stream-stream interval join matches across micro-batches (q116 contract)") {
    // q116's correctness argument says an inner join emits each matched
    // pair exactly once regardless of batching — exercise the part the
    // AvailableNow gate can't (one source file = one batch): clicks
    // arrive in batch 1, purchases only in batch 2, so every match must
    // come from buffered join state, not within-batch co-presence.
    implicit val sqlCtx = spark.sqlContext
    val clicksMem = MemoryStream[Event]
    val purchMem = MemoryStream[Event]
    val clicks = clicksMem.toDF()
      .select($"user_id", $"ts".as("click_ts"), $"value".as("click_v"))
      .withWatermark("click_ts", "90 days")
    val purchases = purchMem.toDF()
      .select($"user_id".as("p_user_id"), $"ts".as("purch_ts"),
        $"value".as("purch_v"))
      .withWatermark("purch_ts", "90 days")
    val joined = clicks.join(purchases,
      $"user_id" === $"p_user_id" &&
        $"purch_ts" >= $"click_ts" &&
        $"purch_ts" <= $"click_ts" + expr("INTERVAL 30 MINUTES"))
    val q = joined.writeStream.format("memory").queryName("ssjoin")
      .outputMode("append").start()
    clicksMem.addData(Event(1, ts(0), 1.0), Event(2, ts(5), 2.0))
    q.processAllAvailable()
    purchMem.addData(
      Event(1, ts(10), 10.0), // matches user 1's click (+10 min)
      Event(1, ts(45), 11.0), // out of range (+45 min) — no match
      Event(2, ts(30), 12.0)) // matches user 2's click (+25 min)
    q.processAllAvailable()
    val got = spark.table("ssjoin")
      .select($"user_id", $"purch_v").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    q.stop()
    // exact row count, not a set compare — "exactly once" means a
    // duplicate re-emission from buffered state must fail this
    assert(got.length == 2, got.mkString(", "))
    assert(got.toSet == Set((1L, 10.0), (2L, 12.0)), got.mkString(", "))
  }

  test("AvailableNow restart with the same checkpoint is idempotent") {
    // the production restart contract behind every sink-round-trip
    // gate: re-launching a finished AvailableNow job against the same
    // checkpoint must add NOTHING to the sink (source offsets are
    // committed), so a crashed-and-retried batch pipeline never
    // double-counts. New source files after the restart DO flow.
    val src = tmpDir("graft_restart_src")
    val scratch = tmpDir("graft_restart")
    val sink = scratch + "/sink"
    val ckpt = scratch + "/ckpt"
    Seq(Event(1, ts(0), 1.0), Event(2, ts(5), 2.0)).toDS()
      .coalesce(1).write.mode("append").parquet(src)
    // a stateless projection: the probe is the SOURCE-OFFSET commit
    // (what restart idempotence rests on), not agg state semantics
    def runOnce(): Unit = {
      val q = spark.readStream.schema(
          org.apache.spark.sql.Encoders.product[Event].schema)
        .parquet(src)
        .select($"user_id", $"value")
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    runOnce()
    val n1 = spark.read.parquet(sink).count()
    runOnce() // restart, same checkpoint, no new data
    val n2 = spark.read.parquet(sink).count()
    assert(n2 == n1, s"restart added rows: $n1 -> $n2")
    Seq(Event(3, ts(10), 3.0)).toDS()
      .coalesce(1).write.mode("append").parquet(src)
    runOnce() // restart with one new source file
    val n3 = spark.read.parquet(sink).count()
    assert(n3 > n2, s"new file did not flow after restart: $n2 -> $n3")
  }

  test("q218 feed: the throttled tombstone stream drains in successive batch-stamped micro-batches") {
    import spark.implicits._
    // the lag_batches column is only a real measurement if the feed
    // has a batch DIMENSION: the 16-file replica at 8 files/trigger
    // must drain in >= 2 contiguous batches, each stamped into the
    // sink's batch partition — if maxFilesPerTrigger silently stopped
    // throttling, head would collapse to 0 and the SLA lag would be
    // vacuously zero-dimensional.
    val sunk = graft.queries.StreamingQueries.runStream(spark,
      graft.queries.StreamingQueries
        .multiFileStream(spark, sf, "documents", 8)
        .select($"doc_id"),
      tmpDir("graft_batchfeed"),
      sink = graft.queries.StreamingQueries.BatchSink)
    val ids = sunk.select($"batch".cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted
    assert(ids.length >= 2, s"expected >= 2 micro-batches, got $ids")
    assert(ids.toSeq == (0L until ids.length).toSeq,
      s"batch ids not contiguous from 0: ${ids.toSeq}")
    // and the sink is the full feed — throttling reorders nothing
    assert(sunk.count() ==
      graft.Tables.documents(spark, sf).count())
  }

  test("q218 multiplexed feed: per-key batch stamps equal the single-source feeds'") {
    import spark.implicits._
    // q218 (r18) rides BOTH key spaces on ONE AvailableNow stream;
    // the lag audit reads each violating key's sink batch id, so the
    // multiplex is only equivalence-preserving if maxFilesPerTrigger
    // is a PER-SOURCE read limit: batch i of the union must carry
    // files [8i, 8i+8) of EACH source, i.e. every key keeps the batch
    // stamp the dedicated single-source feed would have given it.
    def stamps(df: org.apache.spark.sql.DataFrame, key: String) =
      df.filter(col(key).isNotNull)
        .select(col(key), col("batch").cast("long").as("b"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val muxed = graft.queries.StreamingQueries.runStream(spark,
      graft.queries.StreamingQueries
        .multiFileStream(spark, sf, "documents", 8)
        .select($"doc_id", lit(null).cast("long").as("vec_id"))
        .unionByName(graft.queries.StreamingQueries
          .multiFileStream(spark, sf, "embeddings", 8)
          .select(lit(null).cast("long").as("doc_id"), $"vec_id")),
      tmpDir("graft_muxfeed"),
      sink = graft.queries.StreamingQueries.BatchSink)
    val docSolo = graft.queries.StreamingQueries.runStream(spark,
      graft.queries.StreamingQueries
        .multiFileStream(spark, sf, "documents", 8).select($"doc_id"),
      tmpDir("graft_muxdoc"),
      sink = graft.queries.StreamingQueries.BatchSink)
    val vecSolo = graft.queries.StreamingQueries.runStream(spark,
      graft.queries.StreamingQueries
        .multiFileStream(spark, sf, "embeddings", 8).select($"vec_id"),
      tmpDir("graft_muxvec"),
      sink = graft.queries.StreamingQueries.BatchSink)
    assert(stamps(muxed, "doc_id") == stamps(docSolo, "doc_id"))
    assert(stamps(muxed, "vec_id") == stamps(vecSolo, "vec_id"))
    // and the union still drains in >= 2 batches (the lag dimension)
    assert(muxed.select($"batch".cast("long")).distinct().count() >= 2)
  }
}
