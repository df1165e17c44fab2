package graft

import graft.queries.{Registry, StreamingQueries}
import graft.streaming.Streaming
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** Pins the stream session: every stream runs in `Session.stream(s)`,
  * a child of `s` with its own state width, so no stream gate changes
  * the conf of `s` and a batch query beside a stream plans at the
  * width of `s`. */
class StreamSessionSpec extends SparkSpec {

  private val Width = "spark.sql.shuffle.partitions"

  /** a fresh parent session `width` wide, AQE off so a plan shows its
    * exchanges' planned widths. */
  private def parent(width: Int): SparkSession = {
    val p = spark.newSession()
    p.conf.set(Width, width.toString)
    p.conf.set("spark.sql.adaptive.enabled", "false")
    p
  }

  test("stream gates leave the parent session's conf as it was") {
    graft.Tables.events(spark, sf) // nanosAsLong on, as Tables sets it
    val before = spark.conf.getAll
    for (q <- Seq("q103_stream_tumbling", "q108_stream_ema",
        "q166_stream_drift_cusum", "q208_sq8_maintain", "q218_takedown_sla"))
      Registry.byName(q).run(spark, sf).collect()
    assert(spark.conf.getAll == before)
  }

  test("a stateful gate on a 12-wide parent keeps 8 state partitions, same rows") {
    val p = parent(12)
    val dir = tmpDir("graft_statewidth")
    val sunk = StreamingQueries.runStream(p,
      Streaming.tumblingAgg(StreamingQueries.eventsStream(p, sf)), dir)
    val parts = new java.io.File(s"$dir/ckpt/state/0").listFiles()
      .count(f => f.isDirectory && f.getName.forall(_.isDigit))
    assert(parts == Session.StateWidth, s"$parts state partitions")
    assert(Session.stream(p).conf.get(Width) == "8")
    assert(p.conf.get(Width) == "12")
    // the width is a cost knob only: the 4-wide suite session (4 state
    // partitions) sinks the same windows
    val narrow = StreamingQueries.runStream(spark,
      Streaming.tumblingAgg(StreamingQueries.eventsStream(spark, sf)),
      tmpDir("graft_statewidth4"))
    assert(sunk.collect().toSet == narrow.collect().toSet)
  }

  test("a parMap batch sibling beside a stream plans at the parent's width") {
    val p = parent(12)
    val ss = Session.stream(p)
    val dir = tmpDir("graft_sibling")
    // one file per micro-batch: 16 stateful batches keep the stream
    // running while the sibling plans
    val stream = () => {
      StreamingQueries.runStream(p,
        StreamingQueries.multiFileStream(p, sf, "documents", 1)
          .select(col("doc_id")).dropDuplicates("doc_id"), dir).count()
      Seq.empty[Int]
    }
    val sibling = () => {
      val deadline = System.nanoTime() + 120L * 1000000000L
      while (ss.streams.active.isEmpty && System.nanoTime() < deadline)
        Thread.sleep(5)
      assert(ss.streams.active.nonEmpty, "the stream never started")
      val plan = p.range(0, 1000).groupBy(col("id") % 7).count()
        .queryExecution.executedPlan
      val widths = plan.collect { case e: ShuffleExchangeExec =>
        e.outputPartitioning.numPartitions }
      assert(ss.streams.active.nonEmpty,
        "the stream ended before the sibling planned")
      widths
    }
    val Seq(_, widths) = Scratch.parMap(Seq(stream, sibling), 2)(_())
    assert(widths == Seq(12), s"sibling exchanges $widths")
    assert(p.conf.get(Width) == "12")
  }
}
