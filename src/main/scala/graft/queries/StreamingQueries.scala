package graft.queries

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.streaming.Streaming

/** §2.10 under the DRIVER gate: each query here runs a real
  * `StreamingQuery` — file stream source over the events parquet →
  * the Streaming.* operator → `Trigger.AvailableNow` → parquet sink —
  * then re-reads the sink and hands the result to the DuckDB oracle.
  * Until round 6 the streaming operators were spec-only batch twins
  * (one engine checking itself); these entries make the streaming
  * engine's own output the thing the oracle hashes.
  *
  * Determinism under AvailableNow: the set of rows a watermarked
  * append-mode agg emits is independent of how the source splits
  * micro-batches — a finalized group is emitted exactly once, when the
  * watermark (monotone max event time − delay, ms floor) passes its
  * window end, and the run ends with a no-data batch that advances the
  * watermark to its final value. So the sink contents equal
  * "all windows with end ≤ max(ts) − delay", which is exactly what the
  * batch oracle computes.
  *
  * Scale: identical to the batch twins — watermark-bounded state per
  * key/window, partial aggregation before the shuffle, O(active
  * windows) in the state store; the file source at 100 TB becomes a
  * log/bucket listing, nothing in the query shape changes.
  *
  * Sessions: every stream source here reads from `Session.stream(s)`,
  * a child session of `s` made once with its own settings, and one
  * runner (`runStream`) starts, awaits and re-reads every stream. The
  * stream session's shuffle width is its STATE width:
  * `min(width of s, Session.StateWidth)`, a deployment knob that
  * tracks state volume (hundreds of spillable partitions at 100 TB),
  * not the batch width. Results do not depend on it: every gate is a
  * deterministic per-key fold or a watermark-emitted aggregation
  * (StreamSessionSpec pins the width and that `s`'s conf never moves,
  * so a `Scratch.parMap` batch sibling beside a stream plans at the
  * width of `s`).
  */
object StreamingQueries {

  private val GapMs = 30L * 60 * 1000

  /** streaming read of a single-file testdata table. The testdata
    * table is one FILE; FileStreamSource force-sets basePath to the
    * path unless it is a glob, and then rejects it for not being a
    * directory — so feed it a one-file GLOB plus an explicit
    * directory basePath (schema comes from one footer-only batch
    * read). */
  private def tableStream(s: SparkSession, dir: String,
      name: String): DataFrame = {
    val ss = graft.Session.stream(s)
    val sch = ss.read.parquet(s"$dir/$name.parquet").schema
    ss.readStream.schema(sch)
      .option("basePath", dir).parquet(s"$dir/{$name}.parquet")
  }

  /** FileStreamSource parallelism tracks SOURCE FILE COUNT: the
    * testdata table is ONE parquet file, so a streamed full-corpus
    * transform runs in one task regardless of cluster width
    * (measured: q130 35.2 s solo at sf1 vs ~9 s for its batch twin —
    * a test-topology artifact, not operator cost). A production
    * ingest directory is many files/buckets; model that topology with
    * a one-time repartitioned replica of the table, stored per
    * (sfDir, table). The replica build is the ingest LAYOUT, not part
    * of the screen's cost — the bench-blob amortization argument —
    * and rides a tempDirDeletedOnExit. */
  private[graft] val StreamFiles = 16
  private[graft] val fixture = graft.Artifacts[String]("fixture")

  /** path of the multi-file replica of `dir`'s `name` table (built on
    * first use; package-visible so specs can count its files). */
  private[graft] def streamFixtureDir(s: SparkSession, dir: String,
      name: String): String = {
    val src = s"$dir/$name.parquet"
    fixture.part(s, dir, name, graft.Tables.fingerprint(src)) {
      val out = graft.Scratch.tempDirDeletedOnExit(s"graft_mf_$name")
      s.read.parquet(src).repartition(StreamFiles)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
      s"$out/$name.parquet"
    }
  }

  /** stream a table through the multi-file replica, so the stateless
    * per-file pipeline actually parallelizes like production ingest.
    * `filesPerTrigger` > 0 throttles the source so AvailableNow
    * drains in SUCCESSIVE micro-batches rather than one — q218's
    * batch-lag audit needs a real batch dimension to measure
    * against. */
  private[graft] def multiFileStream(s: SparkSession, dir: String,
      name: String, filesPerTrigger: Int = 0): DataFrame = {
    val tableDir = streamFixtureDir(s, dir, name)
    dirStream(s, tableDir,
      graft.Session.stream(s).read.parquet(tableDir).schema, filesPerTrigger)
  }

  /** the parquet files under `path`, schema `sch`, as a file stream of
    * the stream session; `filesPerTrigger` > 0 caps each micro-batch
    * at that many files (per source of a union). */
  private def dirStream(s: SparkSession, path: String,
      sch: org.apache.spark.sql.types.StructType,
      filesPerTrigger: Int = 0): DataFrame = {
    val r = graft.Session.stream(s).readStream.schema(sch)
    (if (filesPerTrigger > 0)
       r.option("maxFilesPerTrigger", filesPerTrigger)
     else r).parquet(path)
  }

  /** events through the file stream source — same ts-layout handling
    * as Tables.events (nanos-as-long or TIMESTAMP_NTZ micros, per
    * testdata generation; Tables.normalizeTs picks by schema). */
  private[graft] def eventsStream(s: SparkSession, dir: String): DataFrame =
    graft.Tables.normalizeTs(tableStream(s, dir, "events"))

  /** wait for `q` to finish; if the wait ends early (a parMap sibling
    * interrupted after another sibling failed), stop the stream before
    * returning, so it cannot keep writing under a scratch dir that
    * withScratchDir is about to delete. */
  private[graft] def awaitOrStop(q: StreamingQuery): Unit =
    try q.awaitTermination() finally if (q.isActive) q.stop()

  /** where `runStream` lands a stream's rows: its sink dir, `out`. */
  private[graft] sealed trait Sink
  /** Spark's parquet file sink (exactly-once through its own log). */
  private[graft] case object FileSink extends Sink
  /** one `batch=<id>` dir per micro-batch, idempotent on a retry
    * (Streaming.appendBatchIdempotent): the re-read carries each
    * row's micro-batch as a `batch` column — q218's lag audit reads
    * which ingest batch carried each tombstone. */
  private[graft] case object BatchSink extends Sink
  /** each micro-batch handed to `f(out, batch, id)` to write its own
    * way (q234's per-shard manifest commits). */
  private[graft] final case class EachBatch(
      f: (String, DataFrame, Long) => Unit) extends Sink

  /** The one stream runner: run `df` (built on the stream sources, so
    * it runs in `Session.stream(s)`) AvailableNow in output `mode` into
    * `sink` at `scratch/sink`, checkpointed at `scratch/ckpt`; wait for
    * it (awaitOrStop), show `done` the finished query, and re-read the
    * sink on `s`. */
  private[graft] def runStream(s: SparkSession, df: DataFrame,
      scratch: String, mode: String = "append", sink: Sink = FileSink,
      done: StreamingQuery => Unit = _ => ()): DataFrame = {
    val out = scratch + "/sink"
    val w = df.writeStream.outputMode(mode)
      .option("checkpointLocation", scratch + "/ckpt")
      .trigger(Trigger.AvailableNow())
    val q = (sink match {
      case FileSink => w.format("parquet").option("path", out)
      case BatchSink => w.foreachBatch { (b: DataFrame, id: Long) =>
        Streaming.appendBatchIdempotent(out)(b, id) }
      case EachBatch(f) => w.foreachBatch { (b: DataFrame, id: Long) =>
        f(out, b, id) }
    }).start()
    awaitOrStop(q)
    done(q)
    s.read.parquet(out)
  }

  /** q103: Streaming.tumblingAgg (1-day windows, 2-day watermark) under
    * the oracle — emitted rows are the daily windows finalized by the
    * final watermark; the oracle recomputes them in batch SQL with the
    * same `window end ≤ max(ts) − 2 days` cutoff. */
  private def q103(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Scratch.withScratchDir("graft_q103") { scratch =>
      runStream(s, Streaming.tumblingAgg(eventsStream(s, dir)), scratch)
        .select($"bucket", $"event_type", $"n",
          round($"sum_value", 4).as("sum_value"),
          round($"avg_value", 6).as("avg_value"))
        .orderBy($"bucket", $"event_type")
    }
  }

  private val q103Sql =
    """WITH m AS (SELECT max(ts) AS mx FROM events),
      |w AS (
      | SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
      |  event_type, count(*) AS n,
      |  round(sum(value), 4) AS sum_value,
      |  round(avg(value), 6) AS avg_value
      | FROM events GROUP BY bucket, event_type)
      |SELECT bucket, event_type, n, sum_value, avg_value
      |FROM w, m
      |WHERE bucket + INTERVAL 1 DAY
      |      <= make_timestamp(epoch_ms(mx) * 1000)
      |         - INTERVAL 2 DAY
      |ORDER BY bucket, event_type""".stripMargin

  /** q110: Streaming.slidingAgg (2-day windows sliding daily, 2-day
    * watermark) under the oracle — each event contributes to TWO
    * overlapping windows; the oracle unnests both window starts per
    * event and applies the same watermark cutoff on window end. */
  private def q110(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Scratch.withScratchDir("graft_q110") { scratch =>
      runStream(s, Streaming.slidingAgg(eventsStream(s, dir)), scratch)
        .select($"w_start", $"w_end", $"event_type", $"n",
          round($"sum_value", 4).as("sum_value"))
        .orderBy($"w_start", $"event_type")
    }
  }

  private val q110Sql =
    """WITH m AS (SELECT max(ts) AS mx FROM events),
      |ev AS (
      | SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
      |  event_type, value
      | FROM events),
      |x AS (
      | SELECT unnest([d - INTERVAL 1 DAY, d]) AS w_start,
      |  event_type, value
      | FROM ev),
      |w AS (
      | SELECT w_start, w_start + INTERVAL 2 DAY AS w_end, event_type,
      |  count(*) AS n, round(sum(value), 4) AS sum_value
      | FROM x GROUP BY w_start, event_type)
      |SELECT w_start, w_end, event_type, n, sum_value
      |FROM w, m
      |WHERE w_end <= make_timestamp(epoch_ms(mx) * 1000)
      |      - INTERVAL 2 DAY
      |ORDER BY w_start, event_type""".stripMargin

  /** q112: STREAM-STATIC enrichment join under the oracle — the
    * standard streaming enrichment shape at scale: the static
    * dimension (nation) is joined into every micro-batch (broadcast,
    * no state), then the enriched stream flows through the watermarked
    * tumbling agg. The event→nation key is the deterministic
    * `user_id % 25` mapping onto the 25 nation keys. */
  private def q112(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Scratch.withScratchDir("graft_q112") { scratch =>
      val dim = graft.Tables.nation(s, dir)
        .select($"n_nationkey".as("nk"), $"n_name")
      val enriched = eventsStream(s, dir)
        .withColumn("nk", $"user_id" % 25)
        .join(broadcast(dim), "nk")
      val agg = enriched
        .withWatermark("ts", "2 days")
        .groupBy(window($"ts", "1 day").as("win"), $"n_name")
        .agg(count(lit(1)).as("n"), sum($"value").as("sum_value"))
        .select($"win.start".as("bucket"), $"n_name", $"n",
          $"sum_value")
      runStream(s, agg, scratch)
        .select($"bucket", $"n_name", $"n",
          round($"sum_value", 4).as("sum_value"))
        .orderBy($"bucket", $"n_name")
    }
  }

  private val q112Sql =
    """WITH m AS (SELECT max(ts) AS mx FROM events),
      |w AS (
      | SELECT CAST(date_trunc('day', e.ts) AS TIMESTAMP) AS bucket,
      |  n.n_name, count(*) AS n, round(sum(e.value), 4) AS sum_value
      | FROM events e JOIN nation n ON e.user_id % 25 = n.n_nationkey
      | GROUP BY bucket, n_name)
      |SELECT bucket, n_name, n, sum_value
      |FROM w, m
      |WHERE bucket + INTERVAL 1 DAY
      |      <= make_timestamp(epoch_ms(mx) * 1000) - INTERVAL 2 DAY
      |ORDER BY bucket, n_name""".stripMargin

  /** q104: Streaming.sessionAgg (session_window, 30-min gap, 2-day
    * watermark) under the oracle. Spark merges an event into a session
    * while `ts < prev_end` (= prev ts + gap), so the oracle starts a
    * new session at `ts − prev ≥ gap`; `session_end = last ts + gap`;
    * the watermark cutoff drops sessions still open at end-of-stream. */
  private def q104(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Scratch.withScratchDir("graft_q104") { scratch =>
      runStream(s, Streaming.sessionAgg(eventsStream(s, dir)), scratch)
        .select($"user_id", $"session_start", $"session_end",
          $"session_events",
          round($"session_value", 4).as("session_value"))
        .orderBy($"user_id", $"session_start")
    }
  }

  private val q104Sql =
    """WITH o AS (
      | SELECT user_id, ts, event_id, value,
      |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      | FROM events),
      |f AS (
      | SELECT user_id, ts, event_id, value,
      |  CASE WHEN prev IS NULL
      |        OR epoch_us(ts) - epoch_us(prev) >= 1800000000
      |       THEN 1 ELSE 0 END AS new_s
      | FROM o),
      |sess AS (
      | SELECT user_id, ts, value,
      |  sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      | FROM f),
      |per AS (
      | SELECT user_id,
      |  CAST(min(ts) AS TIMESTAMP) AS session_start,
      |  CAST(max(ts) AS TIMESTAMP) + INTERVAL 30 MINUTE AS session_end,
      |  count(*) AS session_events,
      |  round(sum(value), 4) AS session_value
      | FROM sess GROUP BY user_id, sid),
      |m AS (SELECT max(ts) AS mx FROM events)
      |SELECT user_id, session_start, session_end, session_events,
      | session_value
      |FROM per, m
      |WHERE session_end
      |      <= make_timestamp(epoch_ms(mx) * 1000)
      |         - INTERVAL 2 DAY
      |ORDER BY user_id, session_start""".stripMargin

  /** q105: Streaming.sessionizeStateful (flatMapGroupsWithState, the W2
    * GroupState scan shape) under the oracle. A session is EMITTED when
    * a later same-key event closes it (`t − last > gap`, ms precision —
    * the state step works on `Timestamp.getTime`), so the end-of-stream
    * sink holds every session except each key's open last one; the
    * oracle sessionizes in ms and drops each user's final session. */
  private def q105(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Scratch.withScratchDir("graft_q105") { scratch =>
      val ev = eventsStream(s, dir)
        .select($"user_id", $"ts", $"value").as[Streaming.Event]
      runStream(s, Streaming.sessionizeStateful(ev, GapMs).toDF(), scratch)
        .select($"user_id", $"session_start", $"session_end", $"n",
          round($"sum", 4).as("session_value"))
        .orderBy($"user_id", $"session_start")
    }
  }

  private val q105Sql =
    """WITH e AS (
      | SELECT user_id, epoch_ms(ts) AS t, value FROM events),
      |o AS (
      | SELECT user_id, t, value,
      |  lag(t) OVER (PARTITION BY user_id ORDER BY t, value) AS prev
      | FROM e),
      |f AS (
      | SELECT user_id, t, value,
      |  CASE WHEN prev IS NULL OR t - prev > 1800000
      |       THEN 1 ELSE 0 END AS new_s
      | FROM o),
      |sess AS (
      | SELECT user_id, t, value,
      |  sum(new_s) OVER (PARTITION BY user_id ORDER BY t, value
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      | FROM f),
      |per AS (
      | SELECT user_id, sid, min(t) AS session_start, max(t) AS session_end,
      |  count(*) AS n, round(sum(value), 4) AS session_value
      | FROM sess GROUP BY user_id, sid),
      |lasts AS (SELECT user_id, max(sid) AS last_sid FROM sess GROUP BY user_id)
      |SELECT p.user_id, session_start, session_end, n, session_value
      |FROM per p JOIN lasts l ON p.user_id = l.user_id
      |WHERE p.sid < l.last_sid
      |ORDER BY p.user_id, session_start""".stripMargin

  /** q107: Streaming.dedupStream (`dropDuplicatesWithinWatermark`, the
    * ingestion-time exact dedup) under the oracle. Fingerprint =
    * md5(user_id:event_type) (750 distinct over the corpus — real
    * dedup pressure). The watermark delay EXCEEDS the corpus time span,
    * so no state row can be evicted mid-run no matter how the source
    * batches the files — the emitted set is exactly the distinct
    * fingerprints, which is what the oracle computes. (WHICH source row
    * survives per fingerprint is arrival-order dependent, so the query
    * projects the fingerprint only — the deterministic part.) */
  private def q107(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Scratch.withScratchDir("graft_q107") { scratch =>
      val docs = eventsStream(s, dir).select($"ts",
        md5(concat($"user_id".cast("string"), lit(":"), $"event_type"))
          .as("fp"))
      runStream(s, Streaming.dedupStream(docs, watermark = "90 days")
          .select($"fp"), scratch)
        .orderBy($"fp")
    }
  }

  private val q107Sql =
    """SELECT DISTINCT md5(CAST(user_id AS VARCHAR) || ':' || event_type)
      |  AS fp
      |FROM events ORDER BY fp""".stripMargin

  /** q108: Streaming.emaPerKey (mapGroupsWithState, the W7 recurrence
    * as online state) under the oracle. mapGroupsWithState emits in
    * UPDATE mode, which the parquet sink rejects — foreachBatch appends
    * each micro-batch's updated rows instead (the standard pattern for
    * state-update streams into files). One emitted row per key per
    * micro-batch holding that key; the FINAL row per key (the one with
    * total_events = the key's full count) carries the end-of-stream
    * EMA, which is batching-independent because the state folds events
    * in (ms, value) order within each batch and each micro-batch owns
    * its own batch=<id> sink directory (appendBatchIdempotent — a
    * retried batch overwrites itself rather than double-appending).
    * Oracle: list_reduce of the same α-blend over the same ordering. */
  private def q108(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Scratch.withScratchDir("graft_q108") { scratch =>
      val ev = eventsStream(s, dir)
        .select($"user_id", $"ts", $"value").as[Streaming.Event]
      val sunk = runStream(s, Streaming.emaPerKey(ev, alpha = 0.3).toDF(),
        scratch, "update", BatchSink)
      val w = Window.partitionBy($"user_id").orderBy($"total_events".desc)
      sunk.withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"user_id", $"total_events",
          round($"ema", 6).as("ema"))
        .orderBy($"user_id")
    }
  }

  private val q108Sql =
    """SELECT user_id, count(*) AS total_events,
      | round(list_reduce(
      |   list(value ORDER BY epoch_ms(ts), value),
      |   (acc, x) -> acc * 0.7 + x * 0.3), 6) AS ema
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** q109: Streaming.sessionizeWithTimeout (flatMapGroupsWithState +
    * EventTimeTimeout) under the oracle — q105's gap closure PLUS the
    * watermark-driven closure: the final no-data batch advances the
    * watermark to max(ts) (0 s delay) and fires the timeout for every
    * open session with last + gap < watermark, so the sink holds all
    * gap-closed sessions plus the timed-out tails — each user's LAST
    * session is now emitted too unless it is still within the gap of
    * end-of-stream. The oracle adds exactly that predicate to q105's. */
  private def q109(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Scratch.withScratchDir("graft_q109") { scratch =>
      val ev = eventsStream(s, dir)
        .select($"user_id", $"ts", $"value").as[Streaming.Event]
      runStream(s,
        Streaming.sessionizeWithTimeout(ev, GapMs, "0 seconds").toDF(),
        scratch)
        .select($"user_id", $"session_start", $"session_end", $"n",
          round($"sum", 4).as("session_value"))
        .orderBy($"user_id", $"session_start")
    }
  }

  private val q109Sql =
    """WITH e AS (
      | SELECT user_id, epoch_ms(ts) AS t, value FROM events),
      |o AS (
      | SELECT user_id, t, value,
      |  lag(t) OVER (PARTITION BY user_id ORDER BY t, value) AS prev
      | FROM e),
      |f AS (
      | SELECT user_id, t, value,
      |  CASE WHEN prev IS NULL OR t - prev > 1800000
      |       THEN 1 ELSE 0 END AS new_s
      | FROM o),
      |sess AS (
      | SELECT user_id, t, value,
      |  sum(new_s) OVER (PARTITION BY user_id ORDER BY t, value
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      | FROM f),
      |per AS (
      | SELECT user_id, sid, min(t) AS session_start, max(t) AS session_end,
      |  count(*) AS n, round(sum(value), 4) AS session_value
      | FROM sess GROUP BY user_id, sid),
      |lasts AS (SELECT user_id, max(sid) AS last_sid FROM sess GROUP BY user_id),
      |wm AS (SELECT epoch_ms(max(ts)) AS w FROM events)
      |SELECT p.user_id, session_start, session_end, n, session_value
      |FROM per p JOIN lasts l ON p.user_id = l.user_id, wm
      |WHERE p.sid < l.last_sid OR p.session_end + 1800000 < wm.w
      |ORDER BY p.user_id, session_start""".stripMargin

  /** q116: STREAM-STREAM interval join under the oracle — the last
    * §2.10 join class after q112's stream-static form: click events
    * joined to purchase events of the same user within [click, click +
    * 6 h], both sides real file streams with watermarks and a time-range
    * condition (the canonical Spark stream-stream shape: the range bound
    * is what lets the state store evict a buffered row once the other
    * side's watermark passes its match window). An inner join emits
    * each matched pair exactly once regardless of micro-batching, and
    * the watermark delay EXCEEDS the corpus span (q107's trick), so no
    * row can be dropped as late however the source batches — the sink
    * holds exactly the batch join, which is what the oracle computes.
    * At production scale the delay is set to the real lateness bound
    * and buffered state is O(rate · (delay + range)), the documented
    * cost of the operator. */
  private def q116(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Scratch.withScratchDir("graft_q116") { scratch =>
      val clicks = eventsStream(s, dir)
        .filter($"event_type" === "click")
        .select($"user_id", $"event_id".as("click_id"),
          $"ts".as("click_ts"))
        .withWatermark("click_ts", "90 days")
      val purchases = eventsStream(s, dir)
        .filter($"event_type" === "purchase")
        .select($"user_id".as("p_user_id"), $"event_id".as("purch_id"),
          $"ts".as("purch_ts"), $"value")
        .withWatermark("purch_ts", "90 days")
      val joined = clicks.join(purchases,
        $"user_id" === $"p_user_id" &&
          $"purch_ts" >= $"click_ts" &&
          $"purch_ts" <= $"click_ts" + expr("INTERVAL 6 HOURS"))
      runStream(s, joined, scratch)
        .select($"user_id", $"click_id", $"purch_id",
          floor((unix_micros($"purch_ts") - unix_micros($"click_ts"))
            / lit(60000000.0)).cast("long").as("lag_min"),
          round($"value", 4).as("purchase_value"))
        .orderBy($"user_id", $"click_id", $"purch_id")
    }
  }

  private val q116Sql =
    """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purch_id,
      | CAST(floor((epoch_us(p.ts) - epoch_us(c.ts)) / 60000000.0)
      |   AS BIGINT) AS lag_min,
      | round(p.value, 4) AS purchase_value
      |FROM events c JOIN events p
      | ON c.event_type = 'click' AND p.event_type = 'purchase'
      | AND c.user_id = p.user_id
      | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 6 HOUR
      |ORDER BY c.user_id, click_id, purch_id""".stripMargin

  /** q123: STREAM-STREAM LEFT OUTER interval join under the oracle —
    * the last §2.10 join mode after q116's inner form, and the one
    * whose semantics a batch twin cannot fake: the null-extended row
    * ("click with no purchase within 6 h") is emitted by the WATERMARK,
    * not by a match — a buffered click is held in state until the
    * global watermark passes click_ts + 6 h, and only then, still
    * unmatched, emitted with nulls. Unlike q116 the watermark delay
    * here must be FINITE (2 days): an end-of-corpus delay would mean
    * the final watermark never passes any click's match window and no
    * outer row ever fires. Determinism still holds because the file
    * source delivers the whole corpus in ONE data batch (watermark is
    * still at its initial value while that batch processes, so nothing
    * is dropped late), and eviction + null-extension happen in the
    * final no-data batches once the watermark jumps to
    * min(max(click_ts), max(purch_ts)) − 2 days (ms floor — Spark
    * tracks watermarks in ms, and with two watermarked inputs the
    * global value is the MIN of the per-input ones, the default
    * multipleWatermarkPolicy). So the sink holds exactly: the full
    * inner join, plus a null-extended row for each unmatched click
    * whose match window closed before that final watermark — clicks
    * within 2 days + 6 h of end-of-stream stay buffered and are never
    * emitted, and the oracle's NOT-EXISTS branch applies the same
    * cutoff. At production scale the same plan runs continuously:
    * state is O(rate · (delay + range)) per side and every attribution
    * row — matched or abandoned — is emitted exactly once. */
  private def q123(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Scratch.withScratchDir("graft_q123") { scratch =>
      val clicks = eventsStream(s, dir)
        .filter($"event_type" === "click")
        .select($"user_id", $"event_id".as("click_id"),
          $"ts".as("click_ts"))
        .withWatermark("click_ts", "2 days")
      val purchases = eventsStream(s, dir)
        .filter($"event_type" === "purchase")
        .select($"user_id".as("p_user_id"), $"event_id".as("purch_id"),
          $"ts".as("purch_ts"), $"value")
        .withWatermark("purch_ts", "2 days")
      val joined = clicks.join(purchases,
        $"user_id" === $"p_user_id" &&
          $"purch_ts" >= $"click_ts" &&
          $"purch_ts" <= $"click_ts" + expr("INTERVAL 6 HOURS"),
        "leftOuter")
      runStream(s, joined, scratch)
        .select($"user_id", $"click_id", $"purch_id",
          floor((unix_micros($"purch_ts") - unix_micros($"click_ts"))
            / lit(60000000.0)).cast("long").as("lag_min"),
          round($"value", 4).as("purchase_value"))
        .orderBy($"user_id", $"click_id", $"purch_id")
    }
  }

  private val q123Sql =
    """WITH c AS (
      | SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'),
      |p AS (
      | SELECT user_id, event_id, ts, value FROM events
      | WHERE event_type = 'purchase'),
      |wm AS (
      | SELECT make_timestamp(least((SELECT epoch_ms(max(ts)) FROM c),
      |                             (SELECT epoch_ms(max(ts)) FROM p)) * 1000)
      |        - INTERVAL 2 DAY AS w),
      |matched AS (
      | SELECT c.user_id, c.event_id AS click_id, p.event_id AS purch_id,
      |  CAST(floor((epoch_us(p.ts) - epoch_us(c.ts)) / 60000000.0)
      |    AS BIGINT) AS lag_min,
      |  round(p.value, 4) AS purchase_value
      | FROM c JOIN p
      |  ON c.user_id = p.user_id
      |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 6 HOUR),
      |abandoned AS (
      | SELECT c.user_id, c.event_id AS click_id,
      |  CAST(NULL AS BIGINT) AS purch_id,
      |  CAST(NULL AS BIGINT) AS lag_min,
      |  CAST(NULL AS DOUBLE) AS purchase_value
      | FROM c, wm
      | WHERE c.ts + INTERVAL 6 HOUR < wm.w
      |  AND NOT EXISTS (
      |   SELECT 1 FROM p WHERE p.user_id = c.user_id
      |    AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 6 HOUR))
      |SELECT * FROM matched UNION ALL SELECT * FROM abandoned
      |ORDER BY user_id, click_id, purch_id""".stripMargin

  /** q130: STREAMING-INGEST DECONTAMINATION — q128's bloom screen as
    * the shape a production pipeline actually runs it: the benchmark
    * filter is built ONCE in batch (small side), then newly-arriving
    * corpus documents stream through a stateless
    * `graft_bloom_any` filter into the cleaned-corpus sink. The
    * one §2.10 operator class the other ten gates don't cover: a
    * stateless transform (no watermark, no state store — per-batch
    * filtering against the broadcast filter blob), and the first gate
    * composing a native graft expression inside a StreamingQuery.
    * Scale: the stream side never shuffles (filter + project only)
    * and reads a MULTI-FILE source (streamFixtureDir), so the
    * stateless pipeline parallelizes to the ingest file count — the
    * production topology, and the fix for the single-file 35.2 s sf1
    * measurement (one task however wide the session);
    * re-pointing the filter at a refreshed benchmark is a stream
    * restart with a new broadcast, state-free by construction. The
    * sink-side rollup (per-source kept count + checksum) matches the
    * exact batch screen's kept set — FP margin per q128. */
  private def q130(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val screen = DedupQueries.BloomScreen
    // batch-side build — ONE definition of the screen, shared with
    // q128 (split predicate, shingles, geometry all from BloomScreen)
    val blob = screen.benchBlob(s, dir)
    graft.Scratch.withScratchDir("graft_q130") { scratch =>
      val cleaned = screen.withBenchSplit(multiFileStream(s, dir, "documents"))
        .filter($"hx" >= screen.BenchMax)
        .filter(!screen.probe(s, blob, screen.tokens($"text")))
        .select($"doc_id", $"source")
      runStream(s, cleaned, scratch)
        .groupBy($"source")
        .agg(count(lit(1)).as("n_kept"),
          sum($"doc_id").as("kept_checksum"))
        .orderBy($"source")
    }
  }

  private lazy val q130Sql =
    s"""WITH d AS (
      | SELECT doc_id, source, string_split(text, ' ') AS t,
      |  substr(md5(concat('bench:', CAST(doc_id AS VARCHAR))), 1, 2) AS hx
      | FROM documents),
      |sh AS (
      | SELECT doc_id, source, hx,
      |  ${DedupQueries.BloomScreen.ShingleSql} AS shs
      | FROM d),
      |bench_sh AS (
      | SELECT DISTINCT unnest(shs) AS sh FROM sh WHERE hx < '0d'),
      |corpus AS (SELECT doc_id, source, shs FROM sh WHERE hx >= '0d'),
      |hit AS (
      | SELECT DISTINCT c.doc_id
      | FROM (SELECT doc_id, unnest(shs) AS sh FROM corpus) c
      | JOIN bench_sh b ON c.sh = b.sh)
      |SELECT source, count(*) AS n_kept,
      | CAST(sum(corpus.doc_id) AS BIGINT) AS kept_checksum
      |FROM corpus LEFT JOIN hit h ON corpus.doc_id = h.doc_id
      |WHERE h.doc_id IS NULL
      |GROUP BY source ORDER BY source""".stripMargin

  /** q140: STREAMING NEAR-DUP DEDUP-AT-INGEST — the production "dedup
    * the new crawl against the indexed corpus" shape, the last
    * batch-gated pipeline stage (q42's MinHash-LSH) without a
    * streaming twin. The corpus band index (doc_id, band_idx,
    * band_key) and the corpus shingle lookup are built ONCE in batch
    * from the already-indexed split (IngestSplit, ix ≥ NewMax) and
    * frozen (localCheckpoint) so micro-batches never re-run the
    * signature pipeline; newly-arriving documents stream through the
    * IDENTICAL signature pipeline (signaturesOf — every stage a
    * deterministic per-row expression, so the batch and stream
    * spellings cannot diverge), band-join against the static index,
    * and are exact-Jaccard-verified IN-STREAM, so the emitted record
    * (doc_id, corpus_id, jaccard) is an actionable drop/keep decision
    * at ingest, not a candidate for a later job.
    *
    * Scale: the stream side shuffles only its own MICRO-BATCH (bands
    * + that batch's shingle arrays), never the corpus; at 100 TB the
    * corpus band index is bucketed by band_key (and the shingle
    * lookup by corpus_id) so the per-batch stream-static joins are
    * shuffle-free on the static side — the same co-location move as
    * the batch pipeline's slim-band projection. A multi-band match
    * emits one identical row per matching band (stateless — no
    * in-stream dropDuplicates state); the sink-side distinct is the
    * compaction a production sink table runs anyway.
    * Ref behavior: reference near-dup semantics per q42
    * (minhash/verify); ingest topology per q130's multi-file source. */
  private def q140(s: SparkSession, dir: String): DataFrame = {
    // batch side: the indexed corpus — slim band index + shingle
    // lookup, computed once and frozen
    val sigs = corpusSigs(s, dir).localCheckpoint(true)
    graft.Scratch.withScratchDir("graft_q140") { scratch =>
      ingestDedup(s, s, dir, corpusBands(sigs),
        sigs.select(col("corpus_id"), col("sh_b")), scratch)
    }
  }

  /** a signature frame's bands as rows: (band_idx, band_key) structs. */
  private def bandStructs: Column =
    explode(array((0 until DedupQueries.BANDS).map(b =>
      struct(lit(b).as("band_idx"), col(s"band$b").as("band_key"))): _*))

  /** the indexed corpus's signatures (corpus_id, sh_b, band0..):
    * split filter BELOW the signature pipeline, so the md5-per-shingle
    * work runs only on the corpus two-thirds. */
  private def corpusSigs(s: SparkSession, dir: String): DataFrame = {
    val split = DedupQueries.IngestSplit
    DedupQueries.signaturesOf(
        split.withIx(graft.Tables.documents(s, dir))
          .filter(col("ix") >= split.NewMax))
      .select((col("doc_id").as("corpus_id") +: col("sh").as("sh_b") +:
        (0 until DedupQueries.BANDS).map(b => col(s"band$b"))): _*)
  }

  /** the corpus band index (corpus_id, band_idx, band_key). */
  private def corpusBands(sigs: DataFrame): DataFrame =
    sigs.select(col("corpus_id"), bandStructs.as("band"))
      .select(col("corpus_id"), col("band.band_idx"), col("band.band_key"))

  /** q140's matches: the new third streamed (on `ss`'s stream session)
    * through the same signature pipeline (split filter first — only
    * the new third pays the hashing), band-joined to `bands`
    * (corpus_id, band_idx, band_key), Jaccard-verified against `sh`
    * (corpus_id, sh_b), run into a sink under `scratch` and compacted
    * (distinct) on `s`. `done` sees the finished stream. */
  private def ingestDedup(s: SparkSession, ss: SparkSession, dir: String,
      bands: DataFrame, sh: DataFrame, scratch: String,
      done: StreamingQuery => Unit = _ => ()): DataFrame = {
    val split = DedupQueries.IngestSplit
    val scored = DedupQueries.signaturesOf(
        split.withIx(multiFileStream(ss, dir, "documents"))
          .filter(col("ix") < split.NewMax))
      .select(col("doc_id"), col("sh"), bandStructs.as("band"))
      .select(col("doc_id"), col("sh"), col("band.band_idx"),
        col("band.band_key"))
      .join(bands, Seq("band_idx", "band_key"))
      .join(sh, "corpus_id")
      .withColumn("inter",
        size(array_intersect(col("sh"), col("sh_b"))).cast("double"))
      .withColumn("jaccard", round(col("inter") /
        (size(col("sh")) + size(col("sh_b")) - col("inter")), 6))
      .filter(col("jaccard") >= 0.7)
      .select(col("doc_id"), col("corpus_id"), col("jaccard"))
    runStream(s, scored, scratch, done = done)
      .distinct()
      .orderBy(col("doc_id"), col("corpus_id"))
  }

  /** Spec-facing build of q140 with the 100 TB co-location move made
    * REAL: the corpus band index persisted as a table BUCKETED on the
    * band join keys and the shingle lookup BUCKETED on corpus_id, so
    * each micro-batch's stream-static joins shuffle ONLY the batch —
    * the static sides read pre-partitioned, no Exchange above either
    * bucketed scan. The stream runs in its own stream session made
    * with broadcast joins off, so the shape under test is the at-scale
    * one (a 100 TB corpus index does not broadcast). Returns (matches
    * identical to q140's, last micro-batch physical plan) for
    * StreamIngestDedupSpec to lock. */
  private[graft] def q140BucketedDemo(
      s: SparkSession, dir: String): (DataFrame, String) = {
    val sigs = corpusSigs(s, dir)
    try {
      corpusBands(sigs).write.mode("overwrite")
        .bucketBy(8, "band_idx", "band_key").sortBy("band_idx", "band_key")
        .saveAsTable("graft_q140_bandidx")
      sigs.select(col("corpus_id"), col("sh_b"))
        .write.mode("overwrite")
        .bucketBy(8, "corpus_id").sortBy("corpus_id")
        .saveAsTable("graft_q140_shidx")
      val ss = graft.Session.streamOf(s,
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")
      var plan = ""
      val matches = graft.Scratch.withScratchDir("graft_q140b") { scratch =>
        ingestDedup(s, ss, dir, s.table("graft_q140_bandidx"),
          s.table("graft_q140_shidx"), scratch, done = { q =>
            // q.explain prints the LAST micro-batch's physical plan
            val baos = new java.io.ByteArrayOutputStream
            Console.withOut(new java.io.PrintStream(baos, true, "UTF-8")) {
              q.explain()
            }
            plan = baos.toString("UTF-8")
          })
      }
      (matches, plan)
    } finally {
      s.sql("DROP TABLE IF EXISTS graft_q140_bandidx")
      s.sql("DROP TABLE IF EXISTS graft_q140_shidx")
    }
  }

  private lazy val q140Sql =
    s"""WITH ${DedupQueries.sigSqlCte},
      |bands AS (
      | ${DedupQueries.bandUnionSql}),
      |ix AS (
      | SELECT doc_id, ${DedupQueries.IngestSplit.IxSql} AS ix
      | FROM documents),
      |newb AS (
      | SELECT b.doc_id, b.band_idx, b.band_key
      | FROM bands b JOIN ix USING (doc_id)
      | WHERE ix < '${DedupQueries.IngestSplit.NewMax}'),
      |corpb AS (
      | SELECT b.doc_id, b.band_idx, b.band_key
      | FROM bands b JOIN ix USING (doc_id)
      | WHERE ix >= '${DedupQueries.IngestSplit.NewMax}'),
      |cand AS (
      | SELECT DISTINCT n.doc_id AS doc_id, c.doc_id AS corpus_id
      | FROM newb n JOIN corpb c
      |   ON n.band_idx = c.band_idx AND n.band_key = c.band_key),
      |ver AS (
      | SELECT cand.doc_id AS doc_id, cand.corpus_id AS corpus_id,
      |  round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
      |   / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))),
      |   6) AS jaccard
      | FROM cand
      | JOIN shq sa ON sa.doc_id = cand.doc_id
      | JOIN shq sb ON sb.doc_id = cand.corpus_id)
      |SELECT doc_id, corpus_id, jaccard FROM ver
      |WHERE jaccard >= 0.7 ORDER BY doc_id, corpus_id""".stripMargin

  /** q143: STREAMING DISTINCT-COUNT (windowed DAU) — the native HLL
    * aggregate inside a watermarked streaming window: per (1-day
    * window, event_type), the distinct active-user-bucket count via
    * `graft_hll_agg` — the streaming DAU counter every ingest
    * pipeline dashboards. Exercises the one aggregate class the
    * other streaming gates don't: a TypedImperativeAggregate whose
    * OPAQUE buffer rides the state store across micro-batches
    * (serialize/deserialize between batches — the same blob the
    * batch shuffle uses). Keys are bounded by construction
    * (user_id mod 512 < 2^p), so the emitted counts are
    * sparse-exact and the oracle is batch COUNT(DISTINCT) under the
    * q103 watermark cutoff.
    *
    * Scale: state per (window, type) is ONE ≤ 8·2^p-byte buffer —
    * bounded regardless of event volume; the exact streaming
    * spelling (dropDuplicates on (window, type, user) then count)
    * holds per-user state instead. */
  private def q143(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Scratch.withScratchDir("graft_q143") { scratch =>
      val agg = eventsStream(s, dir)
        .withWatermark("ts", "2 days")
        .groupBy(window($"ts", "1 day").as("win"), $"event_type")
        .agg(
          graft.expr.GraftFunctions.hllDistinct(
            s, ($"user_id" % 512).cast("long"), 12).as("dau_bucket"),
          count(lit(1)).as("n"))
        .select($"win.start".as("bucket"), $"event_type",
          $"dau_bucket", $"n")
      runStream(s, agg, scratch).orderBy($"bucket", $"event_type")
    }
  }

  private val q143Sql =
    """WITH m AS (SELECT max(ts) AS mx FROM events),
      |w AS (
      | SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
      |  event_type,
      |  count(DISTINCT user_id % 512) AS dau_bucket,
      |  count(*) AS n
      | FROM events GROUP BY bucket, event_type)
      |SELECT bucket, event_type, dau_bucket, n
      |FROM w, m
      |WHERE bucket + INTERVAL 1 DAY
      |      <= make_timestamp(epoch_ms(mx) * 1000)
      |         - INTERVAL 2 DAY
      |ORDER BY bucket, event_type""".stripMargin

  /** q146: STREAMING TRENDING ITEMS (windowed heavy hitters) — the
    * native Space-Saving summary (`graft_topk_freq`, TopKFreqExpr)
    * inside a watermarked 1-day streaming window: per day, the top-5
    * most frequent item keys (the `props` payload key), i.e. the
    * "trending now" panel every ingest dashboard runs next to the DAU
    * counter (q143). Completes the sketch-through-the-state-store
    * family: bloom (q130 membership), HLL (q143 distinct), Space-
    * Saving (frequency) — each an opaque TypedImperativeAggregate
    * buffer that rides the state store across micro-batches.
    *
    * Gate regime: the item domain is 100 distinct keys by
    * construction, below the summary's k = 256 capacity, so no
    * counter ever evicts, every err is 0, and the emitted top-5
    * equals the exact per-day counts (the q125 trick) — oracle'd
    * with the identical cnt DESC, key tie-break under the q103
    * watermark cutoff.
    *
    * Scale: state per window is ONE O(k) summary regardless of event
    * volume; the exact streaming spelling keys state by (window,
    * item) — unbounded in the item domain — and still needs a
    * per-window sort at read time. */
  private def q146(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Scratch.withScratchDir("graft_q146") { scratch =>
      val agg = eventsStream(s, dir)
        .withWatermark("ts", "2 days")
        .groupBy(window($"ts", "1 day").as("win"))
        .agg(
          graft.expr.GraftFunctions.topKFreq(s,
            regexp_extract($"props", "\"k\": (\\d+)", 1), 256).as("hh"),
          count(lit(1)).as("n"))
        .select($"win.start".as("bucket"), $"hh", $"n")
      runStream(s, agg, scratch)
        .select($"bucket", $"n", posexplode($"hh").as(Seq("pos", "e")))
        .filter($"pos" < 5)
        .select($"bucket", ($"pos" + 1).cast("int").as("rank"),
          $"e.key".as("item"), $"e.cnt".as("cnt"), $"e.err".as("err"),
          $"n")
        .orderBy($"bucket", $"rank")
    }
  }

  private val q146Sql =
    """WITH m AS (SELECT max(ts) AS mx FROM events),
      |e AS (
      | SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
      |        regexp_extract(props, '"k": (\d+)', 1) AS item
      | FROM events),
      |c AS (SELECT bucket, item, count(*) AS cnt FROM e GROUP BY 1, 2),
      |tot AS (SELECT bucket, CAST(sum(cnt) AS BIGINT) AS n
      |        FROM c GROUP BY 1),
      |r AS (
      | SELECT bucket, item, cnt,
      |  row_number() OVER (PARTITION BY bucket ORDER BY cnt DESC, item)
      |    AS rank
      | FROM c)
      |SELECT r.bucket, CAST(r.rank AS INT) AS rank, r.item,
      | CAST(r.cnt AS BIGINT) AS cnt, CAST(0 AS BIGINT) AS err, tot.n
      |FROM r JOIN tot USING (bucket), m
      |WHERE rank <= 5
      |  AND r.bucket + INTERVAL 1 DAY
      |      <= make_timestamp(epoch_ms(mx) * 1000) - INTERVAL 2 DAY
      |ORDER BY r.bucket, rank""".stripMargin

  /** q151: STREAMING WINDOWED PERCENTILES — the mergeable quantile
    * sketch (`graft_kll_sketch`, KllExpr) inside a watermarked 1-day
    * streaming window: per (day, event_type), the p50/p90 of `value`
    * — the latency/size distribution panel every ingest dashboard
    * runs. Closes the sketch-through-the-state-store family: bloom
    * (q130 membership), HLL (q143 distinct), Space-Saving (q146
    * frequency), KLL (order statistics) — each ONE opaque
    * TypedImperativeAggregate buffer riding the state store across
    * micro-batches.
    *
    * Gate regime: the 1-in-16 event sample keeps each (window, type)
    * cell's value count far below k = 8192, so no compactor fires and
    * the emitted quantiles are exact under DuckDB quantile_disc with
    * the q103 watermark cutoff. State per cell is one O(k)-double
    * buffer regardless of volume — the exact streaming spelling
    * retains every value. */
  private def q151(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Scratch.withScratchDir("graft_q151") { scratch =>
      val agg = eventsStream(s, dir)
        .filter($"event_id" % 16 === 0)
        .withWatermark("ts", "2 days")
        .groupBy(window($"ts", "1 day").as("win"), $"event_type")
        .agg(
          graft.expr.GraftFunctions.kllQuantiles(s,
            graft.expr.GraftFunctions.kllSketch(s, $"value", 8192),
            Seq(0.5, 0.9)).as("qs"),
          count(lit(1)).as("n"))
        .select($"win.start".as("bucket"), $"event_type",
          round(element_at($"qs", 1), 6).as("p50"),
          round(element_at($"qs", 2), 6).as("p90"), $"n")
      runStream(s, agg, scratch).orderBy($"bucket", $"event_type")
    }
  }

  private val q151Sql =
    """WITH m AS (SELECT max(ts) AS mx FROM events),
      |w AS (
      | SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
      |  event_type,
      |  round(quantile_disc(value, 0.5), 6) AS p50,
      |  round(quantile_disc(value, 0.9), 6) AS p90,
      |  count(*) AS n
      | FROM events WHERE event_id % 16 = 0
      | GROUP BY bucket, event_type)
      |SELECT bucket, event_type, p50, p90, n
      |FROM w, m
      |WHERE bucket + INTERVAL 1 DAY
      |      <= make_timestamp(epoch_ms(mx) * 1000)
      |         - INTERVAL 2 DAY
      |ORDER BY bucket, event_type""".stripMargin

  /** q157: STREAMING ANOMALY MONITOR — the production deployment of
    * q152's robust screen, split the way a real monitor deploys it:
    * the median/MAD profile is fit in BATCH over the corpus and FROZEN
    * (the "trained" reference distribution — profiles must not drift
    * with the anomalies they are screening), then live events
    * stream-static-join the broadcast profile (O(#types) rows, no
    * state), are scored row-locally with the Iglewicz-Hoaglin modified
    * z, and the per-(day, type) anomaly counts aggregate through the
    * watermarked state store. The q140 split discipline: batch builds
    * the index/profile once, the stream pays only a broadcast probe
    * per event. Oracle = the same profile + scoring + daily rollup in
    * batch SQL under the q103 watermark cutoff. */
  private def q157(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Scratch.withScratchDir("graft_q157") { scratch =>
      // profile medians through the mergeable KLL sketch (exact-regime
      // interpolated lookup ≡ percentile — q152's kllMedian rationale)
      def kllMed(v: org.apache.spark.sql.Column) =
        element_at(graft.expr.GraftFunctions.kllQuantilesCont(s,
          graft.expr.GraftFunctions.kllSketch(s, v, 8192), Seq(0.5)), 1)
      val e = graft.Tables.events(s, dir).select($"event_type", $"value")
      val med = e.groupBy($"event_type")
        .agg(kllMed($"value").as("med0"))
      val prof = e.join(broadcast(med), "event_type")
        .groupBy($"event_type")
        .agg(kllMed(abs($"value" - $"med0")).as("mad0"))
        .join(med, "event_type")
      val scored = eventsStream(s, dir)
        .join(broadcast(prof), "event_type")
        // MAD = 0 → NULL z (degenerate robust scale; q152's guard)
        .withColumn("az",
          when($"mad0" === 0, lit(null).cast("double"))
            .otherwise(round(lit(0.6745) * abs($"value" - $"med0") / $"mad0", 6)))
      val agg = scored
        .withWatermark("ts", "2 days")
        .groupBy(window($"ts", "1 day").as("win"), $"event_type")
        .agg(count(lit(1)).as("n"),
          sum(when($"az" > 3.5, 1L).otherwise(0L)).as("n_anomalies"),
          round(max($"az"), 4).as("max_abs_z"))
        .select($"win.start".as("bucket"), $"event_type",
          $"n", $"n_anomalies", $"max_abs_z")
      runStream(s, agg, scratch).orderBy($"bucket", $"event_type")
    }
  }

  private val q157Sql =
    """WITH m AS (SELECT max(ts) AS mx FROM events),
      |med AS (
      | SELECT event_type, quantile_cont(value, 0.5) AS med0
      | FROM events GROUP BY event_type),
      |mad AS (
      | SELECT e.event_type,
      |  quantile_cont(abs(e.value - md.med0), 0.5) AS mad0
      | FROM events e JOIN med md USING (event_type)
      | GROUP BY e.event_type),
      |z AS (
      | SELECT CAST(date_trunc('day', e.ts) AS TIMESTAMP) AS bucket,
      |  e.event_type,
      |  CASE WHEN d.mad0 = 0 THEN NULL
      |       ELSE round(0.6745 * abs(e.value - md.med0) / d.mad0, 6)
      |  END AS az
      | FROM events e JOIN med md USING (event_type)
      |   JOIN mad d USING (event_type)),
      |w AS (
      | SELECT bucket, event_type, count(*) AS n,
      |  CAST(sum(CASE WHEN az > 3.5 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_anomalies,
      |  round(max(az), 4) AS max_abs_z
      | FROM z GROUP BY bucket, event_type)
      |SELECT bucket, event_type, n, n_anomalies, max_abs_z
      |FROM w, m
      |WHERE bucket + INTERVAL 1 DAY
      |      <= make_timestamp(epoch_ms(mx) * 1000)
      |         - INTERVAL 2 DAY
      |ORDER BY bucket, event_type""".stripMargin

  /** q166: STREAMING CUSUM DRIFT ALARM — Page's one-sided CUSUM as
    * online per-type state (Streaming.cusumPerKey): the per-type
    * baseline mean is fit in BATCH over the FIRST SEVEN DAYS and
    * frozen (q157's frozen-profile discipline), attached to live
    * events by the broadcast stream-static join (q112's enrichment
    * shape), and the drift statistic S_t = max(0, S_{t−1} + (x − μ0))
    * accumulates as FIVE longs of state per key. What makes this
    * gate-able: S_t has the closed form P_t − min(0, min_{j≤t} P_j)
    * (prefix sum minus prefix min), so the batch oracle is two plain
    * windows over the identical (ms, value, event_id) order, and the
    * exact int64 micro-unit arithmetic makes stream-fold ≡
    * batch-window bit-for-bit. Emits per type the event count, max
    * CUSUM excursion, and the 1-based index of the first
    * threshold crossing (0 = no alarm). h = 100 value-units of
    * accumulated drift.
    * Headroom (the q156 discipline): P_t grows linearly with events
    * per key — at |x − μ0| ≤ 10³ units (10⁹ micro) int64 holds ~9·10⁹
    * events per key, far beyond any monitoring horizon at test SFs;
    * a production deployment resets the accumulator on alarm (the
    * standard CUSUM restart) or rebases periodically, both of which
    * keep P bounded by the inter-alarm event count. */
  private val DriftH6 = 100000000L
  private def q166(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Scratch.withScratchDir("graft_q166") { scratch =>
      val base = graft.Tables.events(s, dir)
        .select($"event_type", $"ts",
          round($"value" * 1e6, 0).cast("long").as("x6"))
      val d0 = base.agg(min(date_trunc("day", $"ts")).as("d0"))
      val prof = base.crossJoin(broadcast(d0))
        .filter($"ts" < $"d0" + expr("INTERVAL 7 DAY"))
        .groupBy($"event_type")
        .agg(round(sum($"x6") / count(lit(1)), 0).cast("long").as("mu6"))
      val ev = eventsStream(s, dir)
        .join(broadcast(prof), "event_type")
        .select($"event_type", $"ts", $"value", $"event_id", $"mu6")
        .as[Streaming.DriftEvent]
      val sunk = runStream(s, Streaming.cusumPerKey(ev, DriftH6).toDF(),
        scratch, "update", BatchSink)
      val w = Window.partitionBy($"event_type").orderBy($"n".desc)
      sunk.withColumn("rn", row_number().over(w)).filter($"rn" === 1)
        .select($"event_type", $"n",
          ($"cusum_max6" / lit(1e6)).as("cusum_max"), $"alarm_n")
        .orderBy($"event_type")
    }
  }

  private val q166Sql =
    """WITH base AS (
      | SELECT event_type, ts, value, event_id,
      |  CAST(round(value * 1000000, 0) AS BIGINT) AS x6
      | FROM events),
      |d0 AS (SELECT min(date_trunc('day', ts)) AS d0 FROM events),
      |prof AS (
      | SELECT event_type,
      |  CAST(round(sum(x6) / count(*), 0) AS BIGINT) AS mu6
      | FROM base, d0 WHERE ts < d0 + INTERVAL 7 DAY
      | GROUP BY event_type),
      |c AS (
      | SELECT b.event_type,
      |  sum(b.x6 - p.mu6) OVER w AS pf,
      |  row_number() OVER w AS rn
      | FROM base b JOIN prof p USING (event_type)
      | WINDOW w AS (PARTITION BY b.event_type
      |              ORDER BY epoch_ms(b.ts), b.value, b.event_id)),
      |sv AS (
      | SELECT event_type, rn,
      |  pf - least(0, min(pf) OVER (PARTITION BY event_type
      |                              ORDER BY rn)) AS s
      | FROM c)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      | CAST(max(s) AS BIGINT) / 1000000.0 AS cusum_max,
      | CAST(coalesce(min(CASE WHEN s > 100000000 THEN rn END), 0)
      |  AS BIGINT) AS alarm_n
      |FROM sv GROUP BY event_type ORDER BY event_type""".stripMargin

  /** q177: STREAMING INVERTED-INDEX MAINTENANCE — the index-as-
    * artifact counterpart of q130's filtered-corpus ingest: newly
    * arriving documents stream through a STATELESS per-doc postings
    * extractor (each doc's (term, tf) rows computed row-locally —
    * distinct-tokens × occurrence-count HOFs, no cross-batch state,
    * no watermark) into an append sink of index DELTAS; the readable
    * index is the merge-on-read compaction (a partial-aggregable
    * groupBy over the delta files). This is how a 100 TB search/
    * retrieval stack actually maintains its postings store: ingest
    * appends bounded per-batch deltas, compaction amortizes, and a
    * restart replays exactly (the file sink's manifest gives
    * exactly-once delta files — no double-counted postings). The
    * gate pins the compacted index (df, cf, Σ doc_id·tf checksum per
    * term) equal to the one-shot batch inverted index — stream ≡
    * batch, q115/q162's foundation maintained incrementally. */
  /** the per-doc postings extractor (doc_id, term, tf) — row-local,
    * so the SAME spelling serves q177's stream deltas and q206's
    * batch-built artifact (stream ≡ batch is q177's own gate). */
  private[graft] def docPostingsOf(src: DataFrame): DataFrame = {
    val s = src.sparkSession
    import s.implicits._
    src
      .select($"doc_id", split($"text", " ").as("toks"))
      // _outer: dodge InferFiltersFromGenerate — the inferred
      // size(e)>0 filter re-inlines the whole postings transform
      // below the projection (measured 12x on q189's n-gram twin);
      // an all-empty-token doc yields one null row, dropped below
      // (plain explode dropped the doc at the Generate)
      .select($"doc_id", explode_outer(expr(
        "transform(array_distinct(filter(toks, t -> length(t) > 0)), " +
          "t -> struct(t AS term, size(filter(toks, x -> x = t)) AS tf))"))
        .as("p"))
      .filter($"p".isNotNull)
      .select($"doc_id", $"p.term".as("term"),
        $"p.tf".cast("long").as("tf"))
  }

  private def q177(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Scratch.withScratchDir("graft_q177") { scratch =>
      val postings = docPostingsOf(multiFileStream(s, dir, "documents"))
      runStream(s, postings, scratch)
        .groupBy($"term")
        .agg(count(lit(1)).as("df"), sum($"tf").as("cf"),
          sum($"doc_id" * $"tf").as("postings_checksum"))
        .orderBy($"term")
    }
  }

  private lazy val q177Sql =
    """WITH tf AS (
      | SELECT doc_id, term, count(*) AS tf FROM (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |  FROM documents)
      | WHERE len(term) > 0 GROUP BY doc_id, term)
      |SELECT term, CAST(count(*) AS BIGINT) AS df,
      | CAST(sum(tf) AS BIGINT) AS cf,
      | CAST(sum(doc_id * tf) AS BIGINT) AS postings_checksum
      |FROM tf GROUP BY term ORDER BY term""".stripMargin

  /** q178: STREAMING CDC APPLY — the keyed upsert/delete MERGE a
    * warehouse table format (Delta/Hudi/Iceberg) runs at ingest,
    * materialized as last-writer-wins state (Streaming.lwwPerKey):
    * the event stream doubles as a changelog on key user_id (op =
    * DELETE on an md5-derived 1/8 of events, else UPSERT of the
    * event value), and per key the operation with the greatest
    * (ts, value, event_id) wins — a key deleted last is ABSENT from
    * the live table, a later upsert re-inserts it. What makes the
    * operator robust where q166's CUSUM needed an ordered-ingest
    * guard: LWW is an argmax — commutative/associative — so batch
    * boundaries and cross-batch disorder cannot change the final
    * state (StreamingSkewSpec pins invariance under an adversarial
    * shuffle). The gate rolls the materialized table into 10
    * user-bucket rows (live keys, live-value micro-unit sum, op
    * counts, live-key checksum), bit-equal to the batch window
    * twin: last op per key = row_number() over the identical DESC
    * order. */
  private def q178(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Scratch.withScratchDir("graft_q178") { scratch =>
      val ev = eventsStream(s, dir)
        .select($"user_id", $"ts", $"value", $"event_id",
          when(substring(md5(concat(lit("cdc:"),
            $"event_id".cast("string"))), 1, 1) < "2", "D")
            .otherwise("U").as("op"))
        .as[Streaming.CdcEvent]
      val sunk = runStream(s, Streaming.lwwPerKey(ev).toDF(), scratch,
        "update", BatchSink)
      val w = Window.partitionBy($"user_id").orderBy($"n_ops".desc)
      sunk.withColumn("rn", row_number().over(w)).filter($"rn" === 1)
        .groupBy(($"user_id" % 10).as("bucket"))
        .agg(count(lit(1)).as("n_keys"),
          sum(when(!$"deleted", 1L).otherwise(0L)).as("n_live"),
          sum(when(!$"deleted", $"last_v6")).as("live_value6_sum"),
          sum($"n_ops").as("total_ops"),
          sum(when(!$"deleted", $"user_id")).as("live_checksum"))
        .orderBy($"bucket")
    }
  }

  private val q178Sql =
    """WITH e AS (
      | SELECT user_id, ts, value, event_id,
      |  CASE WHEN substr(md5('cdc:' || CAST(event_id AS VARCHAR)), 1, 1)
      |        < '2' THEN 'D' ELSE 'U' END AS op,
      |  CAST(round(value * 1000000, 0) AS BIGINT) AS v6
      | FROM events),
      |last AS (
      | SELECT user_id, op, v6, n_ops FROM (
      |  SELECT user_id, op, v6,
      |   row_number() OVER (PARTITION BY user_id
      |    ORDER BY epoch_ms(ts) DESC, value DESC, event_id DESC) AS rn,
      |   count(*) OVER (PARTITION BY user_id) AS n_ops
      |  FROM e)
      | WHERE rn = 1)
      |SELECT user_id % 10 AS bucket,
      | CAST(count(*) AS BIGINT) AS n_keys,
      | CAST(sum(CASE WHEN op <> 'D' THEN 1 ELSE 0 END) AS BIGINT)
      |   AS n_live,
      | CAST(sum(CASE WHEN op <> 'D' THEN v6 END) AS BIGINT)
      |   AS live_value6_sum,
      | CAST(sum(n_ops) AS BIGINT) AS total_ops,
      | CAST(sum(CASE WHEN op <> 'D' THEN user_id END) AS BIGINT)
      |   AS live_checksum
      |FROM last GROUP BY bucket ORDER BY bucket""".stripMargin

  /** q183: STREAMING VECTOR-INDEX MAINTENANCE — the vector twin of
    * q177's inverted-index upkeep, closing the loop on q181's served
    * index: newly arriving embeddings stream through a STATELESS
    * per-row encode (L2-normalize → coarse cell assignment → PQ
    * codes, all deterministic row-local expressions — the native
    * graft_pq_encode and the literal-centroid argmax, exactly
    * q118/q181's quantizers) against the BROADCAST 1-row nested
    * codebook (stream-static join, q112's pattern), appending
    * (vec_id, cell, codes) DELTAS to the index sink; the readable
    * index is the merge-on-read compaction. This is how a production
    * ANN stack absorbs corpus growth: ingest appends bounded
    * per-batch deltas into the cell-partitioned artifact, the
    * nprobe-cell probe path (q181) is unchanged, and a restart
    * replays exactly (file-sink manifest). The gate rolls the
    * compacted streamed index into per-cell rows (vector count,
    * vec_id checksum, positional code checksums) pinned equal to
    * the batch ivfadcIndex recomputed independently by the oracle —
    * stream ≡ batch for the index artifact itself
    * (StreamAnnIndexSpec additionally pins it against
    * SimilarityQueries.ivfadcIndex row-for-row). */
  /** the streamed per-row IVFADC encode (vec_id, cell, codes) over
    * the embeddings file stream — q183's delta pipeline, factored so
    * StreamAnnIndexSpec can sink the raw deltas and pin them against
    * the batch ivfadcIndex row for row. */
  private[graft] def annIndexDeltas(s: SparkSession, dir: String): DataFrame =
    annIndexDeltasOf(s, dir, multiFileStream(s, dir, "embeddings"))

  /** the per-row IVFADC encode over an arbitrary (vec_id, embedding)
    * source — shared by q183's stream deltas and q206's batch-built
    * artifact (the codebook/centroids stay the FROZEN trained model
    * either way). */
  private[graft] def annIndexDeltasOf(s: SparkSession, dir: String,
      src: DataFrame): DataFrame = {
    import s.implicits._
    val cb = SimilarityQueries.pqCodebookNested(s, dir)
      .withColumn("k", lit(1))
    src
      .select($"vec_id", $"embedding".cast("array<double>").as("v0"))
      .withColumn("nrm", graft.ops.ArrayOps.l2Norm(s, $"v0"))
      .select($"vec_id", transform($"v0", x => x / $"nrm").as("v"))
      .withColumn("k", lit(1))
      .join(broadcast(cb), "k")
      .withColumn("codes",
        graft.expr.GraftFunctions.pqEncode(s, $"v", $"cb"))
      .withColumn("cell", SimilarityQueries.cellCol(s, $"v"))
      .select($"vec_id", $"cell", $"codes")
  }

  private def q183(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Scratch.withScratchDir("graft_q183") { scratch =>
      runStream(s, annIndexDeltas(s, dir), scratch)
        .withColumn("cchk", expr(
          "aggregate(zip_with(codes, sequence(1, size(codes)), " +
            "(c, i) -> CAST(c AS BIGINT) * i), CAST(0 AS BIGINT), " +
            "(acc, x) -> acc + x)"))
        .groupBy($"cell")
        .agg(count(lit(1)).as("n_vecs"),
          sum($"vec_id").as("vec_checksum"),
          sum($"cchk").as("codes_checksum"),
          sum($"vec_id" * $"cchk").as("codes_vec_checksum"))
        .orderBy($"cell")
    }
  }

  private lazy val q183Sql =
    s"""WITH ${SimilarityQueries.pqPreambleSqlForAnnSample},
       |bc AS (SELECT vec_id, ${SimilarityQueries.cellSql("v")} AS cell
       |       FROM e),
       |cc AS (SELECT c.vec_id, bc.cell,
       |        CAST(sum((c.m + 1) * c.j) AS BIGINT) AS cchk
       |       FROM codes c JOIN bc ON c.vec_id = bc.vec_id
       |       GROUP BY c.vec_id, bc.cell)
       |SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs,
       | CAST(sum(vec_id) AS BIGINT) AS vec_checksum,
       | CAST(sum(cchk) AS BIGINT) AS codes_checksum,
       | CAST(sum(vec_id * cchk) AS BIGINT) AS codes_vec_checksum
       |FROM cc GROUP BY cell ORDER BY cell""".stripMargin

  /** q188: STREAMING CHUNK-POSTINGS MAINTENANCE (21st gate) — the
    * upkeep twin of the q186 SERVED chunk index, completing the
    * artifact-maintenance triple (q177 doc postings, q183 ANN codes,
    * q188 chunk postings): newly arriving documents chunk-explode
    * ROW-LOCALLY (a doc's chunks, each chunk's (term, tf) multiset
    * and its dl are all functions of that one row — W=64/S=48,
    * exactly the q182/q186 spelling), so the extractor is STATELESS:
    * no cross-batch state, no watermark, batch boundaries can't
    * change a single posting, and a restart replays exactly
    * (file-sink manifest). The readable index is the merge-on-read
    * compaction; the gate rolls it into per-term rows (chunk df, cf,
    * doc/chunk/dl checksums) pinned equal to the batch chunk corpus
    * recomputed independently by the oracle (the SHARED
    * chunkCorpusSqlCtes spelling — the gate and the q182/q185 ranking
    * oracles cannot drift apart). */
  private[graft] def chunkIndexDeltas(s: SparkSession, dir: String): DataFrame =
    chunkIndexDeltasOf(multiFileStream(s, dir, "documents"))

  /** the per-doc chunk-postings extractor over an arbitrary
    * (doc_id, text) source — shared by q188's stream deltas and
    * q206's batch-built artifact. */
  private[graft] def chunkIndexDeltasOf(src: DataFrame): DataFrame = {
    val s = src.sparkSession
    import s.implicits._
    val W = SimilarityQueries.ChunkW
    val St = SimilarityQueries.ChunkS
    src
      .select($"doc_id", split($"text", " ").as("t"))
      .withColumn("n_tok", size($"t").cast("long"))
      .withColumn("n_chunks", greatest(lit(1L),
        ceil(($"n_tok" - W).cast("double") / St) + 1))
      // _outer on both generates: dodge InferFiltersFromGenerate
      // (see SimilarityQueries.chunkCorpusTerms); n_chunks >= 1 and
      // non-empty ct make both arrays provably non-empty
      .select($"doc_id", posexplode_outer(expr(
        s"""transform(sequence(0L, n_chunks - 1),
           |  i -> slice(t, CAST(i * $St + 1 AS INT), $W))""".stripMargin))
        .as(Seq("ci", "ct")))
      .select($"doc_id", $"ci".cast("long").as("chunk_idx"),
        explode_outer(expr(
          "transform(array_distinct(ct), t -> struct(t AS term, " +
            "size(filter(ct, x -> x = t)) AS tf))")).as("p"),
        size($"ct").cast("long").as("dl"))
      .select($"doc_id", $"chunk_idx", $"p.term".as("term"),
        $"p.tf".cast("long").as("tf"), $"dl")
  }

  private def q188(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Scratch.withScratchDir("graft_q188") { scratch =>
      runStream(s, chunkIndexDeltas(s, dir), scratch)
        .groupBy($"term")
        .agg(count(lit(1)).as("df"), sum($"tf").as("cf"),
          sum($"doc_id" * $"tf").as("doc_checksum"),
          sum(($"chunk_idx" + 1) * $"tf").as("chunk_checksum"),
          sum($"dl" * $"tf").as("dl_checksum"))
        .orderBy($"term")
    }
  }

  private lazy val q188Sql =
    s"""WITH ${SimilarityQueries.chunkCorpusSqlCtes("")}
       |SELECT term, CAST(count(*) AS BIGINT) AS df,
       | CAST(sum(tf) AS BIGINT) AS cf,
       | CAST(sum(doc_id * tf) AS BIGINT) AS doc_checksum,
       | CAST(sum((chunk_idx + 1) * tf) AS BIGINT) AS chunk_checksum,
       | CAST(sum(cdl.dl * tf) AS BIGINT) AS dl_checksum
       |FROM ctf JOIN cdl USING (doc_id, chunk_idx)
       |GROUP BY term ORDER BY term""".stripMargin

  // ---------------------------------------------------------------
  // q199: STREAMING RELEASE-TAIL INGEST — the 22nd gate, and the
  // streaming continuation of q197's corpus release: a FROZEN release
  // (the q197 chain over the already-indexed IngestSplit two-thirds)
  // publishes its sidecar state once — the benchmark 8-gram bloom
  // blob (one broadcast, q130's pattern at the attribution width:
  // BloomScreen.ShingleW == AttrW == 8), the released-fingerprint
  // set, and per-language released token totals. Newly-crawled docs
  // then stream through the SAME three screens state-free: bench
  // membership (row-local hx), exact-8-gram contamination (native
  // bloomAny against the frozen blob — zero corpus-side shuffle), and
  // dup-vs-released (stream-static broadcast anti-join on the
  // fingerprint). Survivors append to the corpus tail sink;
  // compaction (merge-on-read, q177's discipline) keep-firsts
  // within-crawl dups and packs the tail with q131's hierarchical
  // next-fit CONTINUING each language's running token offset from the
  // frozen release — tail shard ids extend the frozen manifest, so
  // the first tail doc lands inside the base's last partial shard.
  //
  // Honest semantics, documented: the screens are as fresh as the
  // last release — new BENCH docs arriving in the crawl are excluded
  // from the tail (they are eval data) but do not retro-screen the
  // already-released corpus, and the UNIMAX budget is not re-opened;
  // both are the batch re-release (q197). The contamination screen is
  // EXACT end-to-end (ADVICE r13): the stream side's bloom probe is a
  // PREFILTER that only flags candidates (one-sided error: a false
  // positive can flag a clean doc, never the reverse), and compaction
  // re-verifies every flagged doc against the frozen bench 8-GRAM SET
  // sidecar with the q189 exact join — so a bloom false positive can
  // delay a clean doc one compaction, never drop it, and the gate's
  // exact-join oracle holds on EVERY corpus, not just FP-free ones.
  // StreamReleaseSpec pins the continuation property, plants an
  // in-crawl released-dup + a bench-overlapping doc, and pins that a
  // bloom-flagged clean doc survives compaction.
  //
  // Scale: the stream side is filter + project + one broadcast
  // anti-join (no state store, no stream-side shuffle); the sidecar
  // state is release-time batch work amortized across every ingest
  // micro-batch; compaction is the sink table's own maintenance job,
  // and its exact-verify join only carries the FLAGGED docs' n-grams
  // (bounded by contamination volume + the bloom FP rate, not corpus
  // size) against the broadcast-size bench set.
  /** frozen per-release sidecar state: (bench 8-gram bloom blob,
    * released fingerprints, per-lang released token totals, released
    * docs, the exact bench 8-gram set). */
  private[graft] def releaseFrozenState(base: DataFrame)
      : (Broadcast[Array[Byte]], DataFrame, DataFrame, DataFrame,
        DataFrame) = {
    val s = base.sparkSession
    import s.implicits._
    val screen = DedupQueries.BloomScreen
    // the exact bench n-gram set (ShingleW == AttrW == 8 — one
    // width for the bloom build, the probe, and the exact verify):
    // compaction's ground truth for bloom-flagged candidates
    val w = DedupQueries.AttrW
    val benchNg = screen.withBenchSplit(base)
      .filter($"hx" < screen.BenchMax)
      .withColumn("t", screen.tokens($"text"))
      .filter(size($"t") >= w)
      .withColumn("ngs", array_distinct(expr(DedupQueries.ngramExpr(w))))
      .select(explode_outer($"ngs").as("ng"))
      .distinct().localCheckpoint(true)
    // the bloom blob over the same 8-grams: ngramExpr(AttrW) spells
    // BloomScreen's shingles and a bloom OR is idempotent, so the
    // distinct set gives the blob the per-doc shingle lists gave,
    // byte for byte, without tokenizing the bench split again
    val blob = screen.broadcastBlob(benchNg, "ng")
    val rel = TextQueries.releaseDocs(base).localCheckpoint(true)
    // fingerprint at the scan, THEN join the released ids — the build
    // joins (doc_id, fp) digests, not text (the q175 discipline,
    // applied to the sidecar build too)
    val relFps = base.select($"doc_id", md5($"text").as("fp"))
      .join(rel.select($"doc_id"), "doc_id")
      .select($"fp").distinct().localCheckpoint(true)
    val langTot = rel.groupBy($"lang")
      .agg(sum($"n_tok").as("base_tokens")).localCheckpoint(true)
    (blob, relFps, langTot, rel, benchNg)
  }

  /** the stateless in-stream screen — factored so StreamReleaseSpec
    * can drive the IDENTICAL plan over planted batch frames (the q140
    * signaturesOf discipline: batch and stream spellings cannot
    * diverge). The bloom probe FLAGS contamination candidates instead
    * of dropping them — compaction's exact verify (tailDocs) makes
    * the final call, so the screen chain has exact-8-gram semantics
    * even when the bloom false-positives. */
  private[graft] def releaseTailScreen(newDocs: DataFrame,
      blob: Broadcast[Array[Byte]], relFps: DataFrame): DataFrame = {
    val s = newDocs.sparkSession
    import s.implicits._
    val screen = DedupQueries.BloomScreen
    screen.withBenchSplit(newDocs)
      .filter($"hx" >= screen.BenchMax)
      .withColumn("fp", md5($"text"))
      .join(broadcast(relFps), Seq("fp"), "left_anti")
      .withColumn("bloom_hit", screen.probe(s, blob, screen.tokens($"text")))
      .select($"doc_id", $"lang", $"text", $"bloom_hit")
  }

  /** the compacted tail per doc — exact-verify of the bloom-flagged
    * contamination candidates (drop only docs truly sharing a bench
    * 8-gram — the q189 join, confined to the flagged subset), then
    * keep-first within-crawl dups, then q131's hierarchical packing
    * with each language's cumsum OFFSET by the frozen release's token
    * total. q199 rolls this into the tail manifest; q200's drift
    * audit consumes the doc set. */
  /** the compacted tail's kept docs as (lang, doc_id, n_tok):
    * exact-verify of the bloom-flagged contamination candidates (drop
    * only docs truly sharing a bench 8-gram — the q189 join, confined
    * to the flagged subset), then keep-first within-crawl dups.
    * Factored from tailDocs so q216's composed roll-forward admits
    * the IDENTICAL tail set q199 ships. */
  private[graft] def tailKeptCounts(sunk: DataFrame,
      benchNg: DataFrame): DataFrame = {
    val s = sunk.sparkSession
    import s.implicits._
    val w = DedupQueries.AttrW
    // exact verify: only flagged docs build n-grams (row-local
    // array_distinct, the q189 posture); confirmed = a real shared
    // 8-gram with the frozen bench set
    val confirmed = sunk.filter($"bloom_hit")
      .withColumn("t", DedupQueries.BloomScreen.tokens($"text"))
      .filter(size($"t") >= w)
      .withColumn("ngs", array_distinct(expr(DedupQueries.ngramExpr(w))))
      .select($"doc_id", explode_outer($"ngs").as("ng"))
      .join(broadcast(benchNg), "ng")
      .select($"doc_id").distinct()
    // digest at the sink scan (the q175 discipline): the keep-first
    // window and the packing shuffle ~50-byte digests, never text
    val wFp = Window.partitionBy($"fp").orderBy($"doc_id")
    sunk
      .join(confirmed, Seq("doc_id"), "left_anti")
      .select($"doc_id", $"lang", md5($"text").as("fp"),
        size(split($"text", " ")).cast("long").as("n_tok"))
      .withColumn("krk", row_number().over(wFp)).filter($"krk" === 1)
      .select($"lang", $"doc_id", $"n_tok")
  }

  private[graft] def tailDocs(sunk: DataFrame,
      langTot: DataFrame, benchNg: DataFrame): DataFrame = {
    val s = sunk.sparkSession
    import s.implicits._
    val kept = tailKeptCounts(sunk, benchNg)
    TextQueries.packShardsOfCounts(kept, hierarchical = true)
      .join(broadcast(langTot), Seq("lang"), "left")
      .withColumn("cum_tail",
        coalesce($"base_tokens", lit(0L)) + $"cum_before")
      .withColumn("tshard", expr(s"cum_tail div ${TextQueries.PackB}L"))
  }

  private[graft] def tailManifest(sunk: DataFrame,
      langTot: DataFrame, benchNg: DataFrame): DataFrame = {
    val s = sunk.sparkSession
    import s.implicits._
    tailDocs(sunk, langTot, benchNg)
      .groupBy($"lang", $"tshard")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("n_tokens"),
        sum($"doc_id").as("docs_checksum"),
        sum(($"cum_tail" - $"tshard" * lit(TextQueries.PackB)) * $"doc_id")
          .as("layout_checksum"))
      .select($"lang", $"tshard".as("shard"), $"n_docs", $"n_tokens",
        $"docs_checksum", $"layout_checksum")
      .orderBy($"lang", $"shard")
  }

  /** frozen-release sidecar state per corpus snapshot — the
    * production amortization: the release build runs ONCE per
    * release, every ingest micro-batch reuses its sidecars (blob,
    * fingerprints, totals). */
  private[graft] val release = graft.Artifacts.sessionBound[
    (Broadcast[Array[Byte]], DataFrame, DataFrame, DataFrame, DataFrame)](
    "release_build")

  private[graft] def frozenReleaseFor(s: SparkSession, dir: String)
      : (Broadcast[Array[Byte]], DataFrame, DataFrame, DataFrame,
        DataFrame) =
    release(s, dir, graft.Tables.fingerprint(s"$dir/documents.parquet")) {
      val split = DedupQueries.IngestSplit
      val base = split.withIx(graft.Tables.documents(s, dir))
        .filter(col("ix") >= split.NewMax)
        .select(col("doc_id"), col("lang"), col("text"))
      releaseFrozenState(base)
    }

  /** pre-build the frozen-release sidecars so q199 measures the
    * MARGINAL ingest cost — the screens + sink + compaction, not the
    * once-per-release batch build. */
  private[graft] def warmFrozenRelease(s: SparkSession, dir: String): Unit = {
    frozenReleaseFor(s, dir); ()
  }

  /** release v2 (the batch re-release over base + crawl) —
    * materializing it ONCE is what q201's roll-forward MEANS, and
    * q204's retention rollup reads the same artifact. q200
    * deliberately does NOT use this: its documented cost is the drift
    * audit INCLUDING a live re-release (the number that tells a
    * deployment what the staleness fix costs end to end). */
  private[graft] val releaseV2 =
    graft.Artifacts.sessionBound[DataFrame]("release_v2")

  private[graft] def releaseV2For(s: SparkSession, dir: String): DataFrame =
    releaseV2(s, dir, graft.Tables.fingerprint(s"$dir/documents.parquet")) {
      TextQueries.releaseDocs(graft.Tables.documents(s, dir)
          .select(col("doc_id"), col("lang"), col("text")))
        .localCheckpoint(true)
    }

  private[graft] def warmReleaseV2(s: SparkSession, dir: String): Unit = {
    releaseV2For(s, dir); ()
  }

  /** the PURGED release (the q207 roll-forward's v3 artifact,
    * materialized once per corpus snapshot): q218's SLA audit reads
    * the CURRENT release a deployment has on disk — q207 itself
    * deliberately keeps its chain live (its documented price is the
    * roll-forward). */
  private[graft] val releaseV3 =
    graft.Artifacts.sessionBound[DataFrame]("release_v3")

  private[graft] def releaseV3For(s: SparkSession, dir: String): DataFrame =
    releaseV3(s, dir, graft.Tables.fingerprint(s"$dir/documents.parquet")) {
      TextQueries.releaseDocs(graft.Tables.documents(s, dir)
          .filter(!Takedown.purged(col("doc_id")))
          .select(col("doc_id"), col("lang"), col("text")))
        .localCheckpoint(true)
    }

  private def q199(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val split = DedupQueries.IngestSplit
    val (blob, relFps, langTot, _, benchNg) = frozenReleaseFor(s, dir)
    graft.Scratch.withScratchDir("graft_q199") { scratch =>
      val accepted = releaseTailScreen(
        split.withIx(multiFileStream(s, dir, "documents"))
          .filter($"ix" < split.NewMax)
          .select($"doc_id", $"lang", $"text"),
        blob, relFps)
      tailManifest(runStream(s, accepted, scratch), langTot, benchNg)
    }
  }

  /** the frozen-sidecar + stream-screen chain as oracle CTEs over a
    * new-docs CTE `nd` (doc_id, lang, text, t, hx), with the release
    * chain's rd/uniq/kd already in scope: relpd (released docs +
    * token counts), relfp (released fingerprints), bg (frozen bench
    * 8-grams), nhit (new docs sharing one), acc (screen survivors),
    * kf (within-crawl keep-first) — q199Sql and q200Sql compose over
    * ONE spelling, so the streamed gate and the drift audit cannot
    * disagree about what the screens mean. */
  private def tailSqlCtes(nd: String): String = {
    val screen = DedupQueries.BloomScreen
    s"""relpd AS (SELECT u.doc_id, u.lang, u.text,
       |        CAST(len(string_split(u.text, ' ')) AS BIGINT) AS p_tok
       |       FROM uniq u JOIN kd USING (doc_id)),
       |relfp AS (SELECT DISTINCT md5(text) AS fp FROM relpd),
       |bg AS (SELECT DISTINCT
       |        unnest(${DedupQueries.ngramSql(DedupQueries.AttrW)}) AS ng
       |       FROM rd WHERE hx < '${screen.BenchMax}'),
       |nhit AS (SELECT DISTINCT n.doc_id FROM (
       |          SELECT doc_id,
       |           unnest(${DedupQueries.ngramSql(DedupQueries.AttrW)}) AS ng
       |          FROM $nd WHERE hx >= '${screen.BenchMax}') n
       |         JOIN bg USING (ng)),
       |acc AS (SELECT doc_id, lang, text FROM $nd
       |        WHERE hx >= '${screen.BenchMax}'
       |         AND doc_id NOT IN (SELECT doc_id FROM nhit)
       |         AND md5(text) NOT IN (SELECT fp FROM relfp)),
       |kf AS (SELECT doc_id, lang, text FROM (
       |        SELECT *, row_number() OVER (PARTITION BY md5(text)
       |          ORDER BY doc_id) AS krk
       |        FROM acc) WHERE krk = 1)""".stripMargin
  }

  private lazy val q199Sql = {
    val P = TextQueries.PackB
    s"""WITH ixd AS (
       | SELECT doc_id, lang, text,
       |  ${DedupQueries.IngestSplit.IxSql} AS ix
       | FROM documents),
       |base AS (SELECT doc_id, lang, text FROM ixd
       |         WHERE ix >= '${DedupQueries.IngestSplit.NewMax}'),
       |nd AS (SELECT doc_id, lang, text, string_split(text, ' ') AS t,
       |        substr(md5('bench:' || CAST(doc_id AS VARCHAR)), 1, 2) AS hx
       |       FROM ixd WHERE ix < '${DedupQueries.IngestSplit.NewMax}'),
       |${TextQueries.releaseSqlCtes("base")},
       |${tailSqlCtes("nd")},
       |ltot AS (SELECT lang, CAST(sum(p_tok) AS BIGINT) AS base_tokens
       |         FROM relpd GROUP BY lang),
       |tp AS (SELECT doc_id, lang,
       |        CAST(len(string_split(text, ' ')) AS BIGINT) AS p_tok
       |       FROM kf),
       |ot AS (SELECT doc_id, lang, p_tok,
       |        coalesce(sum(p_tok) OVER (PARTITION BY lang
       |         ORDER BY md5(concat('pack:', CAST(doc_id AS VARCHAR))),
       |          doc_id
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |         AS lcum
       |       FROM tp),
       |tl AS (SELECT ot.doc_id, ot.lang, ot.p_tok,
       |        coalesce(ltot.base_tokens, 0) + ot.lcum AS cum_tail,
       |        (coalesce(ltot.base_tokens, 0) + ot.lcum) // $P AS shard
       |       FROM ot LEFT JOIN ltot USING (lang))
       |SELECT lang, CAST(shard AS BIGINT) AS shard,
       | CAST(count(*) AS BIGINT) AS n_docs,
       | CAST(sum(p_tok) AS BIGINT) AS n_tokens,
       | CAST(sum(doc_id) AS BIGINT) AS docs_checksum,
       | CAST(sum((cum_tail - shard * $P) * doc_id) AS BIGINT)
       |   AS layout_checksum
       |FROM tl GROUP BY lang, shard ORDER BY lang, shard""".stripMargin
  }

  // ---------------------------------------------------------------
  // q200: INCREMENTAL-VS-RE-RELEASE DRIFT AUDIT — the measurement
  // behind q199's documented staleness: the incremental corpus state
  // (frozen base release + compacted streamed tail) diffed against a
  // FULL batch re-release over base + crawl, per (lang, status) with
  // doc/token volumes and a membership checksum. The three honest
  // drift sources, each now a measured number instead of a caveat:
  // new bench docs retro-contaminate already-released base docs
  // (inc_only), the UNIMAX budget re-opens over the grown corpus and
  // reshuffles the greedy md5-rank selection (both directions), and
  // cross-crawl duplicates resolve to min doc_id in the re-release
  // but keep the released copy incrementally. status = both means
  // the incremental path already agrees with what a re-release
  // would ship.
  //
  // Scale: two release chains (each the proven q197 posture) + one
  // slim (lang, doc_id, n_tok) full-outer join — text rides neither
  // the union nor the diff.
  private def q200(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val split = DedupQueries.IngestSplit
    val (blob, relFps, langTot, relB, benchNg) = frozenReleaseFor(s, dir)
    val docs = graft.Tables.documents(s, dir)
    val newD = split.withIx(docs).filter($"ix" < split.NewMax)
      .select($"doc_id", $"lang", $"text")
    // the incremental state (frozen base + screened tail) and the
    // full batch re-release are INDEPENDENT chains until the drift
    // join — and each runs its own driver-side checkpoint jobs
    // during construction (the tail screen; releaseStages' slim
    // attribution/dup-rank checkpoints). Overlap them (guide §2.6,
    // r18): TimeAudit measured 44 sequential jobs summing 4.7 s
    // inside an 8.1 s wall — ~42% inter-job driver latency. Both
    // chains still run IN FULL (the live re-release is this gate's
    // documented cost); only their construction overlaps.
    val Seq(inc, ful) = graft.Scratch.parMap(Seq[() => DataFrame](
      () => {
        val tail = tailDocs(releaseTailScreen(newD, blob, relFps),
            langTot, benchNg)
          .select($"lang", $"doc_id", $"n_tok")
        relB.select($"lang", $"doc_id", $"n_tok").unionByName(tail)
      },
      () => TextQueries
        .releaseDocs(docs.select($"doc_id", $"lang", $"text"))
        .select($"lang".as("f_lang"), $"doc_id", $"n_tok".as("f_tok"))),
      2)(_())
    inc.select($"lang".as("i_lang"), $"doc_id", $"n_tok".as("i_tok"))
      .join(ful, Seq("doc_id"), "full_outer")
      .withColumn("lang", coalesce($"i_lang", $"f_lang"))
      .withColumn("status",
        when($"i_tok".isNotNull && $"f_tok".isNotNull, lit("both"))
          .when($"i_tok".isNotNull, lit("inc_only"))
          .otherwise(lit("full_only")))
      .groupBy($"lang", $"status")
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce($"i_tok", $"f_tok")).as("n_tokens"),
        sum($"doc_id").as("docs_checksum"))
      .orderBy($"lang", $"status")
  }

  private lazy val q200Sql = {
    s"""WITH ixd AS (
       | SELECT doc_id, lang, text,
       |  ${DedupQueries.IngestSplit.IxSql} AS ix
       | FROM documents),
       |base AS (SELECT doc_id, lang, text FROM ixd
       |         WHERE ix >= '${DedupQueries.IngestSplit.NewMax}'),
       |newd AS (SELECT doc_id, lang, text, string_split(text, ' ') AS t,
       |          substr(md5('bench:' || CAST(doc_id AS VARCHAR)), 1, 2)
       |           AS hx
       |         FROM ixd WHERE ix < '${DedupQueries.IngestSplit.NewMax}'),
       |inc AS (
       | SELECT lang, doc_id, p_tok FROM (
       |  WITH ${TextQueries.releaseSqlCtes("base")},
       |  ${tailSqlCtes("newd")}
       |  SELECT lang, doc_id, p_tok FROM relpd
       |  UNION ALL
       |  SELECT lang, doc_id,
       |   CAST(len(string_split(text, ' ')) AS BIGINT) AS p_tok
       |  FROM kf)),
       |ful AS (
       | SELECT lang, doc_id, p_tok FROM (
       |  WITH ${TextQueries.releaseSqlCtes("documents")}
       |  SELECT u.lang, u.doc_id,
       |   CAST(len(string_split(u.text, ' ')) AS BIGINT) AS p_tok
       |  FROM uniq u JOIN kd USING (doc_id)))
       |SELECT coalesce(i.lang, f.lang) AS lang,
       | CASE WHEN i.doc_id IS NOT NULL AND f.doc_id IS NOT NULL
       |       THEN 'both'
       |      WHEN i.doc_id IS NOT NULL THEN 'inc_only'
       |      ELSE 'full_only' END AS status,
       | CAST(count(*) AS BIGINT) AS n_docs,
       | CAST(sum(coalesce(i.p_tok, f.p_tok)) AS BIGINT) AS n_tokens,
       | CAST(sum(coalesce(i.doc_id, f.doc_id)) AS BIGINT)
       |   AS docs_checksum
       |FROM inc i FULL OUTER JOIN ful f ON i.doc_id = f.doc_id
       |GROUP BY 1, 2 ORDER BY lang, status""".stripMargin
  }

  // ---------------------------------------------------------------
  // q201: RELEASE ROLL-FORWARD — the write-side q200's audit was
  // missing: the batch re-release over base + crawl MATERIALIZES as
  // release v2, and the manifest history becomes a VERSIONED
  // dimension (the q175 SCD2 spelling applied to q197's manifest,
  // keyed by (lang, shard)): an unchanged shard's v1 row stays open;
  // a changed shard closes its v1 row at version 2 and opens a v2
  // row; a shard only v2 ships opens at 2; a shard v2 retires closes
  // with no successor (tombstone). valid_from/valid_to are RELEASE
  // VERSIONS (deterministic — no wall clock), so the gate pins the
  // whole lineage cross-engine: v2's manifest rows, which v1 rows
  // survived, and which closed. After the roll-forward the frozen
  // sidecars rebuild from v2 (releaseFrozenState over base + crawl —
  // the same build, new source); StreamReleaseSpec pins that
  // re-ingesting the already-ingested crawl against the v2 sidecars
  // adds NO doc the re-release already ships (drift → structural
  // zero on released docs).
  //
  // Scale: two release chains (the proven q197 posture; the v1 side
  // is the CACHED frozen-release doc set — one rollup, no re-run) +
  // one full-outer join on the |lang × shard|-sized manifests — the
  // lineage math never touches docs, let alone text.
  private def q201(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (_, _, _, relB, _) = frozenReleaseFor(s, dir)
    releaseLineage(
      TextQueries.manifestOf(relB),
      TextQueries.manifestOf(releaseV2For(s, dir)))
  }

  /** the SCD2 lineage over two manifest versions — factored so
    * StreamReleaseSpec can drive planted manifests. */
  private[graft] def releaseLineage(v1: DataFrame, v2: DataFrame)
      : DataFrame = {
    val s = v1.sparkSession
    import s.implicits._
    val j = v1.select($"lang", $"shard", $"n_docs".as("a_nd"),
        $"n_tokens".as("a_nt"), $"docs_checksum".as("a_dc"),
        $"layout_checksum".as("a_lc"))
      .join(v2.select($"lang", $"shard", $"n_docs".as("b_nd"),
          $"n_tokens".as("b_nt"), $"docs_checksum".as("b_dc"),
          $"layout_checksum".as("b_lc")),
        Seq("lang", "shard"), "full_outer")
      .localCheckpoint(true)
    val same = $"a_nd" === $"b_nd" && $"a_nt" === $"b_nt" &&
      $"a_dc" === $"b_dc" && $"a_lc" === $"b_lc"
    val rows = j.filter($"a_nd".isNotNull)
      .select($"lang", $"shard", $"a_nd".as("n_docs"),
        $"a_nt".as("n_tokens"), $"a_dc".as("docs_checksum"),
        $"a_lc".as("layout_checksum"), lit(1L).as("ver"))
      .unionByName(j.filter($"b_nd".isNotNull && ($"a_nd".isNull || !same))
        .select($"lang", $"shard", $"b_nd".as("n_docs"),
          $"b_nt".as("n_tokens"), $"b_dc".as("docs_checksum"),
          $"b_lc".as("layout_checksum"), lit(2L).as("ver")))
      .unionByName(j.filter($"b_nd".isNull)
        .select($"lang", $"shard", lit(null).cast("long").as("n_docs"),
          lit(null).cast("long").as("n_tokens"),
          lit(null).cast("long").as("docs_checksum"),
          lit(null).cast("long").as("layout_checksum"),
          lit(2L).as("ver")))
    val w = Window.partitionBy($"lang", $"shard").orderBy($"ver")
    rows.withColumn("valid_to", lead($"ver", 1).over(w))
      .filter($"n_docs".isNotNull)
      .select($"lang", $"shard", $"n_docs", $"n_tokens",
        $"docs_checksum", $"layout_checksum", $"ver".as("valid_from"),
        $"valid_to", $"valid_to".isNull.as("is_current"))
      .orderBy($"lang", $"shard", $"valid_from")
  }

  private lazy val q201Sql =
    s"""WITH ixd AS (
       | SELECT doc_id, lang, text,
       |  ${DedupQueries.IngestSplit.IxSql} AS ix
       | FROM documents),
       |base AS (SELECT doc_id, lang, text FROM ixd
       |         WHERE ix >= '${DedupQueries.IngestSplit.NewMax}'),
       |v1 AS (SELECT * FROM (${TextQueries.releaseManifestSql("base")})),
       |v2 AS (SELECT * FROM (
       |  ${TextQueries.releaseManifestSql("documents")})),
       |j AS (SELECT coalesce(a.lang, b.lang) AS lang,
       |       coalesce(a.shard, b.shard) AS shard,
       |       a.n_docs AS a_nd, a.n_tokens AS a_nt,
       |       a.docs_checksum AS a_dc, a.layout_checksum AS a_lc,
       |       b.n_docs AS b_nd, b.n_tokens AS b_nt,
       |       b.docs_checksum AS b_dc, b.layout_checksum AS b_lc
       |      FROM v1 a FULL OUTER JOIN v2 b
       |       ON a.lang = b.lang AND a.shard = b.shard),
       |r AS (SELECT lang, shard, a_nd AS n_docs, a_nt AS n_tokens,
       |       a_dc AS docs_checksum, a_lc AS layout_checksum,
       |       CAST(1 AS BIGINT) AS ver
       |      FROM j WHERE a_nd IS NOT NULL
       |      UNION ALL
       |      SELECT lang, shard, b_nd, b_nt, b_dc, b_lc,
       |       CAST(2 AS BIGINT)
       |      FROM j WHERE b_nd IS NOT NULL AND (a_nd IS NULL
       |       OR a_nd <> b_nd OR a_nt <> b_nt OR a_dc <> b_dc
       |       OR a_lc <> b_lc)
       |      UNION ALL
       |      SELECT lang, shard, NULL, NULL, NULL, NULL,
       |       CAST(2 AS BIGINT)
       |      FROM j WHERE b_nd IS NULL),
       |v AS (SELECT *, lead(ver) OVER (PARTITION BY lang, shard
       |        ORDER BY ver) AS valid_to
       |      FROM r)
       |SELECT lang, shard, n_docs, n_tokens, docs_checksum,
       | layout_checksum, ver AS valid_from, valid_to,
       | valid_to IS NULL AS is_current
       |FROM v WHERE n_docs IS NOT NULL
       |ORDER BY lang, shard, valid_from""".stripMargin

  // ---------------------------------------------------------------
  // q204: RELEASE RETENTION/CHURN ROLLUP — the per-release-pair
  // readout q201's lineage enables (the KMV family's retention
  // spelling applied to releases): v1's released doc set FULL OUTER
  // diffed against v2's per language — docs/tokens retained, churned
  // out (v1 only: retro-contamination, cross-crawl dup resolution,
  // budget re-opening), newly shipped (v2 only) — plus the retention
  // ratio in exact integer micro-units. Where q200 audits the
  // INCREMENTAL state against a re-release, this audits RELEASE
  // AGAINST RELEASE: the number a data consumer pins a cache/training
  // restart decision on.
  //
  // Scale: the v1 side is the cached frozen-release doc set (one
  // rollup), v2 the proven q197 chain; the diff is one slim
  // (lang, doc_id, n_tok) full-outer join — text rides nothing.
  private def q204(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (_, _, _, relB, _) = frozenReleaseFor(s, dir)
    retentionOf(relB.select($"lang", $"doc_id", $"n_tok"),
      releaseV2For(s, dir).select($"lang", $"doc_id", $"n_tok"))
      .orderBy($"lang")
  }

  /** the per-language retention rollup between two released doc sets
    * — ONE spelling shared by q204 (one pair) and q205 (the 3-version
    * chain's two adjacent pairs), so the gates cannot drift. */
  private[graft] def retentionOf(v1: DataFrame, v2: DataFrame): DataFrame = {
    val s = v1.sparkSession
    import s.implicits._
    v1.select($"lang".as("l1"), $"doc_id", $"n_tok".as("t1"))
      .join(v2.select($"lang".as("l2"), $"doc_id", $"n_tok".as("t2")),
        Seq("doc_id"), "full_outer")
      .withColumn("lang", coalesce($"l1", $"l2"))
      .groupBy($"lang")
      .agg(
        sum(when($"t1".isNotNull && $"t2".isNotNull, 1L).otherwise(0L))
          .as("retained_docs"),
        sum(when($"t1".isNotNull && $"t2".isNotNull, $"t1")
          .otherwise(0L)).as("retained_tokens"),
        sum(when($"t1".isNotNull && $"t2".isNull, 1L).otherwise(0L))
          .as("churned_docs"),
        sum(when($"t1".isNotNull && $"t2".isNull, $"t1").otherwise(0L))
          .as("churned_tokens"),
        sum(when($"t1".isNull, 1L).otherwise(0L)).as("new_docs"),
        sum(when($"t1".isNull, $"t2").otherwise(0L)).as("new_tokens"))
      .withColumn("retention6", expr(
        """CASE WHEN retained_docs + churned_docs > 0
          |THEN (retained_docs * 1000000) div (retained_docs + churned_docs)
          |END""".stripMargin))
  }

  /** one released-doc-set CTE body over a source CTE (the nested
    * releaseSqlCtes trick) — shared by q204Sql and q205Sql. */
  private def relSetSql(src: String): String =
    s"""(SELECT lang, doc_id, p_tok FROM (
       |  WITH ${TextQueries.releaseSqlCtes(src)}
       |  SELECT u.lang, u.doc_id,
       |   CAST(len(string_split(u.text, ' ')) AS BIGINT) AS p_tok
       |  FROM uniq u JOIN kd USING (doc_id)))""".stripMargin

  /** the retention rollup SELECT over two released-set CTEs, with an
    * optional pair label — the ONE oracle spelling behind q204 and
    * both of q205's adjacent pairs. */
  private def retentionSelectSql(a: String, b: String,
      pair: Option[String]): String = {
    val pairCol = pair.map(l => s"'$l' AS pair, ").getOrElse("")
    s"""SELECT ${pairCol}lang,
       | CAST(sum(CASE WHEN t1 IS NOT NULL AND t2 IS NOT NULL
       |   THEN 1 ELSE 0 END) AS BIGINT) AS retained_docs,
       | CAST(sum(CASE WHEN t1 IS NOT NULL AND t2 IS NOT NULL
       |   THEN t1 ELSE 0 END) AS BIGINT) AS retained_tokens,
       | CAST(sum(CASE WHEN t1 IS NOT NULL AND t2 IS NULL
       |   THEN 1 ELSE 0 END) AS BIGINT) AS churned_docs,
       | CAST(sum(CASE WHEN t1 IS NOT NULL AND t2 IS NULL
       |   THEN t1 ELSE 0 END) AS BIGINT) AS churned_tokens,
       | CAST(sum(CASE WHEN t1 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |   AS new_docs,
       | CAST(sum(CASE WHEN t1 IS NULL THEN t2 ELSE 0 END) AS BIGINT)
       |   AS new_tokens,
       | CAST(CASE WHEN sum(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) > 0
       |  THEN sum(CASE WHEN t1 IS NOT NULL AND t2 IS NOT NULL
       |    THEN 1 ELSE 0 END) * 1000000 //
       |   sum(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END)
       |  END AS BIGINT) AS retention6
       |FROM (SELECT coalesce($a.lang, $b.lang) AS lang,
       |       $a.p_tok AS t1, $b.p_tok AS t2
       |      FROM $a FULL OUTER JOIN $b ON $a.doc_id = $b.doc_id)
       |GROUP BY ${if (pair.isDefined) "pair, lang" else "lang"}"""
      .stripMargin
  }

  private lazy val q204Sql =
    s"""WITH ixd AS (
       | SELECT doc_id, lang, text,
       |  ${DedupQueries.IngestSplit.IxSql} AS ix
       | FROM documents),
       |base AS (SELECT doc_id, lang, text FROM ixd
       |         WHERE ix >= '${DedupQueries.IngestSplit.NewMax}'),
       |r1 AS ${relSetSql("base")},
       |r2 AS ${relSetSql("documents")}
       |${retentionSelectSql("r1", "r2", None)}
       |ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------
  // q205: 3-VERSION RELEASE LINEAGE RETENTION — the per-adjacent-pair
  // churn sheet a release SERIES publishes (the rollup the 2-version
  // q204 spells, applied down a version chain): three releases built
  // from the growing corpus (v1 = the frozen base, v2 = base + the
  // first crawl wave, v3 = everything — the ingest-hex split gives
  // deterministic waves), and for each adjacent pair the per-language
  // retained/churned/new volumes + retention ratio. Retention between
  // NON-adjacent versions composes from the pairs only when churn is
  // monotone — which budget re-opening breaks — so the gate publishes
  // the pairs a consumer actually compares; conservation per pair
  // (retained + churned = the older release, retained + new = the
  // newer) is spec-pinned against independently recomputed sets.
  //
  // Scale: v1 and v3 are the cached release artifacts (zero re-run);
  // only the middle version's chain runs live, and both pair diffs
  // are slim (lang, doc_id, n_tok) full-outer joins over the ONE
  // checkpointed middle set.
  private[graft] val IngestMid = "2b"

  private def q205(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val split = DedupQueries.IngestSplit
    val (_, _, _, relB, _) = frozenReleaseFor(s, dir)
    val v1 = relB.select($"lang", $"doc_id", $"n_tok")
    val vMid = TextQueries.releaseDocs(
        split.withIx(graft.Tables.documents(s, dir))
          .filter($"ix" >= IngestMid)
          .select($"doc_id", $"lang", $"text"))
      .select($"lang", $"doc_id", $"n_tok")
      .localCheckpoint(true)
    val v3 = releaseV2For(s, dir).select($"lang", $"doc_id", $"n_tok")
    retentionOf(v1, vMid).withColumn("pair", lit("v1_v2"))
      .unionByName(retentionOf(vMid, v3).withColumn("pair", lit("v2_v3")))
      .select($"pair", $"lang", $"retained_docs", $"retained_tokens",
        $"churned_docs", $"churned_tokens", $"new_docs", $"new_tokens",
        $"retention6")
      .orderBy($"pair", $"lang")
  }

  private lazy val q205Sql =
    s"""WITH ixd AS (
       | SELECT doc_id, lang, text,
       |  ${DedupQueries.IngestSplit.IxSql} AS ix
       | FROM documents),
       |b1 AS (SELECT doc_id, lang, text FROM ixd
       |       WHERE ix >= '${DedupQueries.IngestSplit.NewMax}'),
       |b2 AS (SELECT doc_id, lang, text FROM ixd
       |       WHERE ix >= '$IngestMid'),
       |r1 AS ${relSetSql("b1")},
       |r2 AS ${relSetSql("b2")},
       |r3 AS ${relSetSql("documents")}
       |SELECT * FROM (
       |${retentionSelectSql("r1", "r2", Some("v1_v2"))}
       |UNION ALL
       |${retentionSelectSql("r2", "r3", Some("v2_v3"))})
       |ORDER BY pair, lang""".stripMargin

  // ---------------------------------------------------------------
  // q206: TAKEDOWN PURGE ACROSS THE ARTIFACT FAMILY — the one
  // lifecycle verb the served artifacts lacked (the round-14 verdict's
  // top gap): given a doc set D (takedowns/opt-outs — here an
  // md5-derived 1/16 sample, so the oracle can name the same set),
  // the purge must remove D from EVERY served artifact without a full
  // rebuild. The artifacts are the maintenance triple's sinks — doc
  // postings (q177), chunk postings (q188), ANN codes (q183, keyed by
  // vec_id: a takedown feed names artifact keys) — each pre-built
  // once (batch, the same row-local extractor the streams use; stream
  // ≡ batch is those gates' own theorem). The takedown FEED is the
  // streamed element, exactly as deployed: requests arrive
  // continuously, append key tombstones through a real streaming sink
  // (file-sink manifest → exactly-once tombstones), and the readable
  // artifact is the merge-on-read compaction = deltas ANTI JOIN
  // tombstones (q178's delete semantics applied to the index family).
  // The gate is the purge contract itself: every compacted artifact
  // hash-equal to a from-scratch rebuild over corpus − D (the oracle
  // recomputes each artifact from the base tables with D excluded),
  // rolled into per-(artifact, key-bucket) digests with the funnel
  // columns a takedown audit publishes (rows before/purged/after,
  // live keys, artifact checksums). The PQ codebook and IVF centroids
  // stay the FROZEN trained model on both sides — a purge removes a
  // vector's codes from the index, it does not retrain the quantizer
  // (that is a model-release decision, q201's territory).
  //
  // The release manifest is deliberately NOT purged-in-place here:
  // released shards pack docs by cumulative token offsets, so removing
  // a doc shifts every later offset — the honest release purge is a
  // roll-forward (q207), not a tombstone.
  //
  // Scale: tombstones are |D|-sized and broadcast; each anti-join
  // prunes at the artifact's own key, no exchange carries text or
  // vectors; the rollups are bounded (16 buckets × 3 artifacts).
  private[graft] object Takedown {
    /** 1/16 of keys: substr(md5('purge:' || key), 1, 1) = Hex. */
    val Hex = "0"
    /** the takedown FEED as successive batches (q215): wave w purges
      * hex Waves(w−1) of the key space — wave 1 IS q206's set, waves
      * 2..N extend it, each another 1/16 of keys. */
    val Waves = Seq("0", "1", "2")
    def waveHex(key: org.apache.spark.sql.Column)
        : org.apache.spark.sql.Column =
      substring(md5(concat(lit("purge:"), key.cast("string"))), 1, 1)
    def purged(key: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      waveHex(key) === Hex
    def sql(key: String): String =
      s"substr(md5('purge:' || CAST($key AS VARCHAR)), 1, 1) = '$Hex'"
    def waveHexSql(key: String): String =
      s"substr(md5('purge:' || CAST($key AS VARCHAR)), 1, 1)"
    /** append-wave tag for q220's interleave: an independent md5 1/2
      * split of the NEW ingest split's keys — the crawl feed arrives
      * as two successive append batches. */
    def appendWave(key: org.apache.spark.sql.Column)
        : org.apache.spark.sql.Column =
      when(substring(md5(concat(lit("append:"), key.cast("string"))),
        1, 1) < "8", 1).otherwise(2)
  }

  /** the three delta artifacts q206 purges, built ONCE per corpus
    * snapshot (batch, the same row-local extractors the q177/q183/
    * q188 streams run — stream ≡ batch is those gates' own theorem)
    * and stored as on-disk paths: a production deployment purges
    * artifacts that already exist, so the gate's measured time is the
    * PURGE (tombstone stream + anti-join compaction + rollups), not
    * three artifact builds. */
  private[graft] val purgeArtifacts =
    graft.Artifacts[String]("purge_artifacts")

  private[graft] def purgeArtifactDir(s: SparkSession, dir: String)
      : String = {
    import s.implicits._
    purgeArtifacts(s, dir,
        graft.Tables.fingerprint(s"$dir/documents.parquet"),
        graft.Tables.fingerprint(s"$dir/embeddings.parquet")) {
      val out = graft.Scratch.tempDirDeletedOnExit("graft_purgeart")
      val docs = graft.Tables.documents(s, dir).select($"doc_id", $"text")
      val embs = s.read.parquet(s"$dir/embeddings.parquet")
      docPostingsOf(docs).write.mode("overwrite")
        .parquet(s"$out/doc_postings")
      chunkIndexDeltasOf(docs).write.mode("overwrite")
        .parquet(s"$out/chunk_postings")
      annIndexDeltasOf(s, dir, embs).write.mode("overwrite")
        .parquet(s"$out/ann_codes")
      out
    }
  }

  /** merge-on-read compaction + per-bucket funnel: `rows` is a delta
    * table projected to (bucket, k, c1, c2) plus the tombstone key;
    * the purged artifact is rows BROADCAST ANTI JOIN tombstones on
    * `key` (the takedown names keys, so the hash side is |D|-sized —
    * PlanShapeSpec locks the broadcast; a sort-merge LeftAnti would
    * shuffle the whole artifact to delete a bounded set). `k` is the
    * artifact's own index key (term / vec_id) — live-key counts
    * report the latter. */
  private[graft] def purgeFunnel(artifact: String, rows: DataFrame,
      tomb: DataFrame, key: String): DataFrame = {
    val s = rows.sparkSession
    import s.implicits._
    val after = rows.join(broadcast(tomb), Seq(key), "left_anti")
    val b = rows.groupBy($"bucket")
      .agg(count(lit(1)).as("rows_before"))
    val a = after.groupBy($"bucket")
      .agg(count(lit(1)).as("rows_after"),
        countDistinct($"k").as("keys_after"),
        sum($"c1").as("chk1"), sum($"c2").as("chk2"))
    b.join(a, Seq("bucket"), "full_outer")
      .select(lit(artifact).as("artifact"), $"bucket",
        coalesce($"rows_before", lit(0L)).as("rows_before"),
        (coalesce($"rows_before", lit(0L)) -
          coalesce($"rows_after", lit(0L))).as("rows_purged"),
        coalesce($"rows_after", lit(0L)).as("rows_after"),
        coalesce($"keys_after", lit(0L)).as("keys_after"),
        coalesce($"chk1", lit(0L)).as("chk1"),
        coalesce($"chk2", lit(0L)).as("chk2"))
  }

  /** slim (key, k, c1, c2) audit projections of the three artifact
    * row layouts — ONE checksum spelling for q206's funnel rows,
    * q215's wave audit, and q220's interleaved audit, whether the
    * rows come from the persisted batch artifact or a streamed
    * delta (the layouts are identical by construction). */
  private[graft] def slimDocPostings(p: DataFrame): DataFrame = {
    val s = p.sparkSession
    import s.implicits._
    p.select($"doc_id", $"term".as("k"),
      ($"doc_id" * $"tf").as("c1"), $"tf".as("c2"))
  }

  private[graft] def slimChunkPostings(p: DataFrame): DataFrame = {
    val s = p.sparkSession
    import s.implicits._
    p.select($"doc_id", $"term".as("k"),
      ($"doc_id" * $"tf" * ($"chunk_idx" + 1)).as("c1"),
      ($"dl" * $"tf").as("c2"))
  }

  private[graft] def slimAnnCodes(p: DataFrame): DataFrame = {
    val s = p.sparkSession
    import s.implicits._
    p.withColumn("cchk", expr(
        "aggregate(zip_with(codes, sequence(1, size(codes)), " +
          "(c, i) -> CAST(c AS BIGINT) * i), CAST(0 AS BIGINT), " +
          "(acc, x) -> acc + x)"))
      .select($"vec_id", $"cell", $"vec_id".as("k"),
        ($"vec_id" * $"cchk").as("c1"), $"cchk".as("c2"))
  }

  /** the three purge-auditable artifact projections over the memoized
    * artifact dir — slim (bucket, key, k, c1, c2) rows with integer
    * checksums, the takedown key first-class: ONE spelling for q206's
    * funnel and q215's tombstone-wave audit, so the two gates cannot
    * disagree about what a purge removes. */
  private def purgeArtifactRows(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    import s.implicits._
    val art = purgeArtifactDir(s, dir)
    val dp = slimDocPostings(
        graft.Tables.parquetCached(s, art + "/doc_postings"))
      .select(substring(md5($"k"), 1, 1).as("bucket"),
        $"doc_id", $"k", $"c1", $"c2")
    val cp = slimChunkPostings(
        graft.Tables.parquetCached(s, art + "/chunk_postings"))
      .select(substring(md5($"k"), 1, 1).as("bucket"),
        $"doc_id", $"k", $"c1", $"c2")
    val ac = slimAnnCodes(
        graft.Tables.parquetCached(s, art + "/ann_codes"))
      .select($"cell".cast("string").as("bucket"), $"vec_id",
        $"k", $"c1", $"c2")
    (dp, cp, ac)
  }

  private def q206(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Scratch.withScratchDir("graft_q206") { scratch =>
      // the takedown feed, streamed: key tombstones through a real
      // AvailableNow streaming sink. Both key spaces ride ONE
      // multiplexed stream (r18, the q218/q220 ingest-bus
      // discipline): one startup + commit cycle instead of two, and
      // the sink rows per key space are identical (same filters,
      // same projections — the oracle recomputes D per space).
      val tombAll = runStream(s,
        multiFileStream(s, dir, "documents")
          .filter(Takedown.purged($"doc_id"))
          .select($"doc_id", lit(null).cast("long").as("vec_id"))
          .unionByName(multiFileStream(s, dir, "embeddings")
            .filter(Takedown.purged($"vec_id"))
            .select(lit(null).cast("long").as("doc_id"), $"vec_id")),
        scratch + "/tomb").localCheckpoint(true)
      val docTomb = tombAll.filter($"doc_id".isNotNull).select($"doc_id")
      val vecTomb = tombAll.filter($"vec_id".isNotNull).select($"vec_id")
      val (dp, cp, ac) = purgeArtifactRows(s, dir)
      purgeFunnel("ann_codes", ac, vecTomb, "vec_id")
        .unionByName(purgeFunnel("chunk_postings", cp, docTomb, "doc_id"))
        .unionByName(purgeFunnel("doc_postings", dp, docTomb, "doc_id"))
        .orderBy($"artifact", $"bucket")
    }
  }

  private lazy val q206Sql = {
    val cellS = SimilarityQueries.cellSql("v")
    s"""WITH ${SimilarityQueries.pqPreambleSqlForAnnSample},
       |pd AS (SELECT doc_id, text FROM documents
       |       WHERE NOT (${Takedown.sql("doc_id")})),
       |tfb AS (SELECT doc_id, term, count(*) AS tf FROM (
       |        SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |        FROM documents)
       |       WHERE len(term) > 0 GROUP BY doc_id, term),
       |tfa AS (SELECT doc_id, term, count(*) AS tf FROM (
       |        SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |        FROM pd)
       |       WHERE len(term) > 0 GROUP BY doc_id, term),
       |dpb AS (SELECT substr(md5(term), 1, 1) AS bucket,
       |         CAST(count(*) AS BIGINT) AS rows_before
       |        FROM tfb GROUP BY 1),
       |dpa AS (SELECT substr(md5(term), 1, 1) AS bucket,
       |         CAST(count(*) AS BIGINT) AS rows_after,
       |         CAST(count(DISTINCT term) AS BIGINT) AS keys_after,
       |         CAST(sum(doc_id * tf) AS BIGINT) AS chk1,
       |         CAST(sum(tf) AS BIGINT) AS chk2
       |        FROM tfa GROUP BY 1),
       |${SimilarityQueries.chunkCorpusSqlCtesFrom("xb", "documents")},
       |${SimilarityQueries.chunkCorpusSqlCtesFrom("xa", "pd")},
       |cpb AS (SELECT substr(md5(term), 1, 1) AS bucket,
       |         CAST(count(*) AS BIGINT) AS rows_before
       |        FROM xbctf GROUP BY 1),
       |cpa AS (SELECT substr(md5(term), 1, 1) AS bucket,
       |         CAST(count(*) AS BIGINT) AS rows_after,
       |         CAST(count(DISTINCT term) AS BIGINT) AS keys_after,
       |         CAST(sum(doc_id * tf * (chunk_idx + 1)) AS BIGINT) AS chk1,
       |         CAST(sum(cdl.dl * tf) AS BIGINT) AS chk2
       |        FROM xactf ctf JOIN xacdl cdl USING (doc_id, chunk_idx)
       |        GROUP BY 1),
       |bc AS (SELECT vec_id, $cellS AS cell FROM e),
       |cc AS (SELECT c.vec_id, bc.cell,
       |        CAST(sum((c.m + 1) * c.j) AS BIGINT) AS cchk
       |       FROM codes c JOIN bc ON c.vec_id = bc.vec_id
       |       GROUP BY c.vec_id, bc.cell),
       |acb AS (SELECT CAST(cell AS VARCHAR) AS bucket,
       |         CAST(count(*) AS BIGINT) AS rows_before
       |        FROM cc GROUP BY 1),
       |aca AS (SELECT CAST(cell AS VARCHAR) AS bucket,
       |         CAST(count(*) AS BIGINT) AS rows_after,
       |         CAST(count(DISTINCT vec_id) AS BIGINT) AS keys_after,
       |         CAST(sum(vec_id * cchk) AS BIGINT) AS chk1,
       |         CAST(sum(cchk) AS BIGINT) AS chk2
       |        FROM cc WHERE NOT (${Takedown.sql("vec_id")})
       |        GROUP BY 1),
       |fun AS (
       | SELECT 'doc_postings' AS artifact,
       |  coalesce(b.bucket, a.bucket) AS bucket,
       |  coalesce(b.rows_before, 0) AS rows_before,
       |  coalesce(b.rows_before, 0) - coalesce(a.rows_after, 0)
       |    AS rows_purged,
       |  coalesce(a.rows_after, 0) AS rows_after,
       |  coalesce(a.keys_after, 0) AS keys_after,
       |  coalesce(a.chk1, 0) AS chk1, coalesce(a.chk2, 0) AS chk2
       | FROM dpb b FULL OUTER JOIN dpa a ON b.bucket = a.bucket
       | UNION ALL
       | SELECT 'chunk_postings', coalesce(b.bucket, a.bucket),
       |  coalesce(b.rows_before, 0),
       |  coalesce(b.rows_before, 0) - coalesce(a.rows_after, 0),
       |  coalesce(a.rows_after, 0), coalesce(a.keys_after, 0),
       |  coalesce(a.chk1, 0), coalesce(a.chk2, 0)
       | FROM cpb b FULL OUTER JOIN cpa a ON b.bucket = a.bucket
       | UNION ALL
       | SELECT 'ann_codes', coalesce(b.bucket, a.bucket),
       |  coalesce(b.rows_before, 0),
       |  coalesce(b.rows_before, 0) - coalesce(a.rows_after, 0),
       |  coalesce(a.rows_after, 0), coalesce(a.keys_after, 0),
       |  coalesce(a.chk1, 0), coalesce(a.chk2, 0)
       | FROM acb b FULL OUTER JOIN aca a ON b.bucket = a.bucket)
       |SELECT CAST(rows_before AS BIGINT) AS rows_before,
       | CAST(rows_purged AS BIGINT) AS rows_purged,
       | CAST(rows_after AS BIGINT) AS rows_after,
       | CAST(keys_after AS BIGINT) AS keys_after,
       | CAST(chk1 AS BIGINT) AS chk1, CAST(chk2 AS BIGINT) AS chk2,
       | artifact, bucket
       |FROM fun ORDER BY artifact, bucket""".stripMargin
  }

  // ---------------------------------------------------------------
  // q207: PURGE-AWARE RELEASE ROLL-FORWARD — the release-family verb
  // q206 deliberately leaves out: released shards pack docs by
  // cumulative token offsets, so removing a doc shifts every later
  // offset — a release is purged by ROLLING FORWARD (q201's machinery)
  // over corpus − D, not by tombstoning shards. v3 = the full release
  // chain over the takedown-filtered corpus; the gate is the q204
  // retention rollup with the exit reason SPLIT: docs leaving
  // v2 → v3 because they are IN D (purged_takedown — the compliance
  // number) vs docs leaving because the UNIMAX budget re-opened over
  // the shrunken corpus and reshuffled the greedy selection
  // (churned_budget — the collateral number a consumer prices
  // separately). A takedown audit needs both: "we removed what was
  // named" and "this much else moved as a consequence".
  //
  // Scale: the v2 side is the memoized release artifact (zero
  // re-run); v3 is one q197-posture chain; the diff is a slim
  // (lang, doc_id, n_tok) full-outer join — text rides nothing.
  private def q207(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val v2 = releaseV2For(s, dir).select($"lang", $"doc_id", $"n_tok")
    val v3 = TextQueries.releaseDocs(
        graft.Tables.documents(s, dir)
          .filter(!Takedown.purged($"doc_id"))
          .select($"doc_id", $"lang", $"text"))
      .select($"lang", $"doc_id", $"n_tok")
    v2.select($"lang".as("l1"), $"doc_id", $"n_tok".as("t1"))
      .join(v3.select($"lang".as("l2"), $"doc_id", $"n_tok".as("t2")),
        Seq("doc_id"), "full_outer")
      .withColumn("lang", coalesce($"l1", $"l2"))
      .withColumn("in_d", Takedown.purged($"doc_id"))
      .groupBy($"lang")
      .agg(
        sum(when($"t1".isNotNull && $"t2".isNotNull, 1L).otherwise(0L))
          .as("retained_docs"),
        sum(when($"t1".isNotNull && $"t2".isNotNull, $"t1")
          .otherwise(0L)).as("retained_tokens"),
        sum(when($"t1".isNotNull && $"t2".isNull && $"in_d", 1L)
          .otherwise(0L)).as("purged_docs"),
        sum(when($"t1".isNotNull && $"t2".isNull && $"in_d", $"t1")
          .otherwise(0L)).as("purged_tokens"),
        sum(when($"t1".isNotNull && $"t2".isNull && !$"in_d", 1L)
          .otherwise(0L)).as("churned_docs"),
        sum(when($"t1".isNotNull && $"t2".isNull && !$"in_d", $"t1")
          .otherwise(0L)).as("churned_tokens"),
        sum(when($"t1".isNull, 1L).otherwise(0L)).as("new_docs"),
        sum(when($"t1".isNull, $"t2").otherwise(0L)).as("new_tokens"))
      .withColumn("retention6", expr(
        """CASE WHEN retained_docs + purged_docs + churned_docs > 0
          |THEN (retained_docs * 1000000)
          | div (retained_docs + purged_docs + churned_docs)
          |END""".stripMargin))
      .orderBy($"lang")
  }

  private lazy val q207Sql =
    s"""WITH pd AS (SELECT doc_id, lang, text FROM documents
       |       WHERE NOT (${Takedown.sql("doc_id")})),
       |r2 AS ${relSetSql("documents")},
       |r3 AS ${relSetSql("pd")},
       |j AS (SELECT coalesce(r2.lang, r3.lang) AS lang,
       |       coalesce(r2.doc_id, r3.doc_id) AS doc_id,
       |       r2.p_tok AS t1, r3.p_tok AS t2
       |      FROM r2 FULL OUTER JOIN r3 ON r2.doc_id = r3.doc_id)
       |SELECT lang,
       | CAST(sum(CASE WHEN t1 IS NOT NULL AND t2 IS NOT NULL
       |   THEN 1 ELSE 0 END) AS BIGINT) AS retained_docs,
       | CAST(sum(CASE WHEN t1 IS NOT NULL AND t2 IS NOT NULL
       |   THEN t1 ELSE 0 END) AS BIGINT) AS retained_tokens,
       | CAST(sum(CASE WHEN t1 IS NOT NULL AND t2 IS NULL
       |   AND (${Takedown.sql("doc_id")})
       |   THEN 1 ELSE 0 END) AS BIGINT) AS purged_docs,
       | CAST(sum(CASE WHEN t1 IS NOT NULL AND t2 IS NULL
       |   AND (${Takedown.sql("doc_id")})
       |   THEN t1 ELSE 0 END) AS BIGINT) AS purged_tokens,
       | CAST(sum(CASE WHEN t1 IS NOT NULL AND t2 IS NULL
       |   AND NOT (${Takedown.sql("doc_id")})
       |   THEN 1 ELSE 0 END) AS BIGINT) AS churned_docs,
       | CAST(sum(CASE WHEN t1 IS NOT NULL AND t2 IS NULL
       |   AND NOT (${Takedown.sql("doc_id")})
       |   THEN t1 ELSE 0 END) AS BIGINT) AS churned_tokens,
       | CAST(sum(CASE WHEN t1 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |   AS new_docs,
       | CAST(sum(CASE WHEN t1 IS NULL THEN t2 ELSE 0 END) AS BIGINT)
       |   AS new_tokens,
       | CAST(CASE WHEN sum(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) > 0
       |  THEN sum(CASE WHEN t1 IS NOT NULL AND t2 IS NOT NULL
       |    THEN 1 ELSE 0 END) * 1000000 //
       |   sum(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END)
       |  END AS BIGINT) AS retention6
       |FROM j GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------
  // q208: SQ8 CODE MAINTENANCE + RE-SCALE AUDIT — the upkeep twin the
  // scalar quantizer lacked (q183 maintains IVFADC codes; q203 made
  // SQ8-in-cell the attractive in-cell scorer, but its int8 codes
  // depend on a GLOBAL scale — the corpus-wide max |component| — that
  // drifts as the corpus grows). Two halves, exactly the production
  // split:
  //  (1) MAINTENANCE: newly arriving embeddings stream through the
  //      int8 encode against the FROZEN base scale (a broadcast 1-row
  //      plan literal — stream-static, stateless, replay-exact) plus
  //      the frozen IVF cell assignment, appending (vec_id, cell,
  //      codes) deltas; the readable artifact is base codes ∪ deltas.
  //  (2) RE-SCALE AUDIT: the full-corpus scale is recomputed and every
  //      vector re-encoded under it; the gate publishes, per cell, the
  //      compacted artifact's checksums under BOTH scales, how many
  //      vectors' codes would change, and the scale drift in exact
  //      micro-units with the re-scale decision bit (drift > 1%).
  //      A deployment runs the audit cheaply and re-encodes only when
  //      the bit fires — the alternative (re-encode every ingest) is
  //      a full-corpus pass per batch.
  // Every published number is integer (int8 code sums, counts,
  // micro-unit drift): the only doubles are max-aggregations and one
  // division, both order-free — no rounding convention to defend.
  //
  // Scale: the encode is row-local against two broadcast scalars; the
  // audit joins slim (vec_id, codes) frames on vec_id and rolls up to
  // |cells| rows. At 100 TB the re-encode-on-fire is the one
  // full-corpus pass, which is the point of gating it on drift.
  private val Sq8DriftThresh6 = 1010000L // re-scale when mx grows > 1%

  private[graft] def vecIxOf(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    substring(md5(concat(lit("ingest:"), c.cast("string"))), 1, 2)

  private def sq8Enc(v: org.apache.spark.sql.Column,
      mx: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    transform(v, x => round(x * 127 / mx, 0).cast("long"))

  /** the frozen base scale: max |component| over the base split's
    * unit vectors (a 1-row frame, broadcast as a plan literal). */
  private[graft] def sq8FrozenScale(s: SparkSession, dir: String)
      : DataFrame = {
    import s.implicits._
    SimilarityQueries.unitVecs(s, dir)
      .filter(vecIxOf($"vec_id") >= DedupQueries.IngestSplit.NewMax)
      .agg(max(expr("array_max(transform(v, x -> abs(x)))")).as("mx"))
  }

  /** (vec_id, cell, c) — the SQ8-in-cell encode of a unit-vector
    * frame at a given 1-row scale; ONE spelling for the batch base
    * artifact, the streamed deltas, and the spec's row-level pins. */
  private[graft] def sq8CodesAt(u: DataFrame, mx: DataFrame): DataFrame = {
    val s = u.sparkSession
    import s.implicits._
    u.withColumn("k", lit(1))
      .join(broadcast(mx.withColumn("k", lit(1))), "k")
      .select($"vec_id", SimilarityQueries.cellCol(s, $"v").as("cell"),
        sq8Enc($"v", $"mx").as("c"))
  }

  /** q208's streamed maintenance deltas: NEW embeddings through the
    * frozen-scale encode (stream-static broadcast, q183's pattern). */
  private[graft] def sq8Deltas(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val mxBase = sq8FrozenScale(s, dir)
    sq8CodesAt(
      multiFileStream(s, dir, "embeddings")
        .filter(vecIxOf($"vec_id") < DedupQueries.IngestSplit.NewMax)
        .select($"vec_id", $"embedding".cast("array<double>").as("v0"))
        .withColumn("nrm", graft.ops.ArrayOps.l2Norm(s, $"v0"))
        .select($"vec_id", transform($"v0", x => x / $"nrm").as("v")),
      mxBase)
  }

  private def q208(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Scratch.withScratchDir("graft_q208") { scratch =>
      val split = DedupQueries.IngestSplit
      val u = SimilarityQueries.unitVecs(s, dir)
      val mxBase = sq8FrozenScale(s, dir)
      // the pre-existing artifact (base vectors encoded at the frozen
      // scale — one batch pass per release, like ivfadcIndex) and the
      // streamed delta feed are independent — overlap them (guide
      // §2.6)
      val Seq(_, deltas) = graft.Scratch.parMap(Seq[() => DataFrame](
        () => {
          sq8CodesAt(u.filter(vecIxOf($"vec_id") >= split.NewMax),
              mxBase)
            .write.parquet(scratch + "/codes_base")
          s.emptyDataFrame
        },
        () => runStream(s, sq8Deltas(s, dir), scratch)), 2)(_())
      val compacted = s.read.parquet(scratch + "/codes_base")
        .unionByName(deltas)
      // re-scale audit: full-corpus scale, every vector re-encoded
      val mxFull = u
        .agg(max(expr("array_max(transform(v, x -> abs(x)))")).as("mxf"))
      val rescaled = u.crossJoin(broadcast(mxFull))
        .select($"vec_id", sq8Enc($"v", $"mxf").as("cr"))
      def cchk(c: String) = expr(
        s"aggregate(zip_with($c, sequence(1, size($c)), " +
          "(x, i) -> x * i), CAST(0 AS BIGINT), (acc, x) -> acc + x)")
      compacted.join(rescaled, "vec_id")
        .crossJoin(broadcast(
          mxBase.crossJoin(mxFull).select(
            floor($"mxf" / $"mx" * 1e6 + 0.5).cast("long").as("drift6"))))
        .groupBy($"cell", $"drift6")
        .agg(count(lit(1)).as("n_vecs"), sum($"vec_id").as("vec_checksum"),
          sum($"vec_id" * cchk("c")).as("chk_frozen"),
          sum($"vec_id" * cchk("cr")).as("chk_rescaled"),
          sum(when($"c" =!= $"cr", 1L).otherwise(0L)).as("n_changed"))
        .select($"cell", $"n_vecs", $"vec_checksum", $"chk_frozen",
          $"chk_rescaled", $"n_changed", $"drift6",
          ($"drift6" > Sq8DriftThresh6).as("would_rescale"))
        .orderBy($"cell")
    }
  }

  private lazy val q208Sql = {
    val cellS = SimilarityQueries.cellSql("v")
    s"""WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v0
       |           FROM embeddings),
       |en AS (SELECT vec_id, v0,
       |        sqrt(list_sum(list_transform(v0, x -> x * x))) AS nrm
       |       FROM e0),
       |e AS (SELECT vec_id, list_transform(v0, x -> x / nrm) AS v,
       |       substr(md5('ingest:' || CAST(vec_id AS VARCHAR)), 1, 2)
       |         AS ix
       |      FROM en),
       |mb AS (SELECT max(list_max(list_transform(v, x -> abs(x)))) AS mx
       |       FROM e WHERE ix >= '${DedupQueries.IngestSplit.NewMax}'),
       |mf AS (SELECT max(list_max(list_transform(v, x -> abs(x)))) AS mxf
       |       FROM e),
       |cf AS (SELECT vec_id, $cellS AS cell,
       |        list_transform(v, x -> CAST(round(x * 127 / mb.mx)
       |          AS BIGINT)) AS c,
       |        list_transform(v, x -> CAST(round(x * 127 / mf.mxf)
       |          AS BIGINT)) AS cr
       |       FROM e, mb, mf),
       |ck AS (SELECT vec_id, cell,
       |        CAST(list_sum(list_transform(list_zip(c,
       |          generate_series(1, len(c))), z -> z[1] * z[2]))
       |          AS BIGINT) AS kf,
       |        CAST(list_sum(list_transform(list_zip(cr,
       |          generate_series(1, len(cr))), z -> z[1] * z[2]))
       |          AS BIGINT) AS kr,
       |        CASE WHEN c <> cr THEN 1 ELSE 0 END AS chg
       |       FROM cf),
       |dr AS (SELECT CAST(floor(mf.mxf / mb.mx * 1000000 + 0.5)
       |         AS BIGINT) AS drift6 FROM mb, mf)
       |SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs,
       | CAST(sum(vec_id) AS BIGINT) AS vec_checksum,
       | CAST(sum(vec_id * kf) AS BIGINT) AS chk_frozen,
       | CAST(sum(vec_id * kr) AS BIGINT) AS chk_rescaled,
       | CAST(sum(chg) AS BIGINT) AS n_changed,
       | dr.drift6 AS drift6,
       | dr.drift6 > $Sq8DriftThresh6 AS would_rescale
       |FROM ck, dr GROUP BY cell, dr.drift6 ORDER BY cell""".stripMargin
  }

  // ---------------------------------------------------------------
  // q215: TOMBSTONE ACCUMULATION + VACUUM DECISION — the one
  // assumption in the purge design that time erodes (round-15
  // verdict's top gap): q206 proves ONE takedown batch, but
  // production takedowns arrive as a feed forever — tombstones
  // accumulate, the broadcast-|D| contract decays, and merge-on-read
  // pays the anti-join on every read until a VACUUM rewrites the
  // artifact and retires the tombstones. This gate runs the feed:
  // Takedown.Waves successive takedown batches (disjoint 1/16 key
  // slices; wave 1 IS q206's set) each stream key tombstones through
  // a real AvailableNow sink; after each wave, each artifact
  // publishes the audit a storage layer files — rows in the current
  // state, dead rows (tombstoned-but-present), dead fraction in
  // micro-units, and the VACUUM DECISION BIT (dead_frac6 >
  // VacuumThresh6 = 10%). When the bit fires the vacuum actually
  // runs: the live rows REWRITE the artifact (an honest full
  // artifact write, the cost the threshold amortizes), the
  // tombstone store retires, and the next wave's audit starts from
  // the compacted state — q208's audit-plus-decision-bit shape
  // applied to deletion debt. The live-row checksums/key counts per
  // wave are vacuum-INVARIANT (live rows = rows whose key survives
  // the cumulative takedown, whether or not a rewrite happened) and
  // the oracle recomputes them from corpus − (D1 ∪ … ∪ Dw) — the
  // post-vacuum ≡ rebuild pin; TakedownSpec pins wave-order
  // invariance, the decision bit on a planted-threshold frame, and
  // the vacuumed artifact ≡ rebuild row for row.
  //
  // Scale: TWO tagged columnar passes of the artifact total (the
  // (a, d) cross-tab + the per-k live flags — waveAuditFold; the
  // first form paid one scan per wave), against the BROADCAST
  // takedown-event map (which the vacuum keeps bounded — that is the
  // point of the decision bit); the only full-artifact WRITE is the
  // vacuum itself, fired by the threshold, not by the feed rate.
  // Nothing carries text or vectors; the sheet is
  // |artifacts × waves| rows.
  private[graft] val VacuumThresh6 = 100000L // vacuum when > 10% dead

  /** ONE-PASS spelling of the wave/interleave audits (r18, guide §6
    * one-pass I/O — the q230/q231 tagged-membership discipline): the
    * first form re-scanned the artifact once per event (12 scans + 2
    * append checkpoints for q220's three folds). Instead, tag every
    * row ONCE with (a = the event index at which it became present;
    * 0 = base) and (d = the event index of its key's takedown wave;
    * null = never taken down), drop ingest-screened rows (d < a — a
    * key taken down before an append never enters; takedowns are
    * forever), and then:
    *   pass 1 — the (a, d) cross-tab (counts + checksum sums), a
    *     handful of cells collected to the driver;
    *   pass 2 — keys_live per event (distinct k among live rows; live
    *     at event j ⟺ a ≤ j < d, VACUUM-INVARIANT — the same
    *     analytic live sets the DuckDB oracle's FILTER-aggregate
    *     uses);
    *   replay — the vacuum state machine (rows_total shrinks by fired
    *     vacuums, dead rows carry until one retires them) runs over
    *     the collected cells in driver arithmetic: present at j =
    *     {a ≤ j, d > lastVacuum}, dead = {… , d ≤ j} — exactly the
    *     unrolled recurrence the oracle pins, and TakedownSpec's
    *     planted thresholds + order matrix pin the Spark side.
    * Fired vacuums still perform the honest full-artifact rewrite.
    * Waves must be disjoint and a wave's keys unique (the documented
    * store invariant — the per-key min(d) dedup makes the tag
    * deterministic if a caller ever violates it). */
  private def waveAuditFold(artifact: String, base: DataFrame,
      events: Seq[(String, DataFrame)], key: String, scratch: String,
      vacPrefix: String): Seq[(Long, String, Long, Long, Long, Boolean,
        Long, Long, Long, Long, Long)] = {
    val s = base.sparkSession
    import s.implicits._
    val n = events.size
    events.foreach { case (kind, _) =>
      require(kind == "append" || kind == "takedown",
        s"unknown event: $kind") }
    val appendsTagged = events.zipWithIndex.collect {
      case (("append", df), i0) =>
        df.select(col(key), $"k", $"c1", $"c2").withColumn("a", lit(i0 + 1))
    }
    val tkWaves = events.zipWithIndex.collect {
      case (("takedown", df), i0) => (i0 + 1, df.select(col(key)))
    }
    val dm0 = tkWaves.map { case (i, t) => t.withColumn("d", lit(i)) }
      .reduceOption(_ unionByName _)
    // per-wave outstanding-store sizes: ONE aggregate over the tagged
    // wave union (the first form paid one count job per wave)
    val tkCounts: Map[Int, Long] = dm0 match {
      case Some(dm) => dm.groupBy($"d").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
        .withDefaultValue(0L)
      case None => Map.empty[Int, Long].withDefaultValue(0L)
    }
    val union0 = (base.select(col(key), $"k", $"c1", $"c2")
      .withColumn("a", lit(0)) +: appendsTagged).reduce(_ unionByName _)
    val tagged = dm0 match {
      case Some(d0) =>
        val dm = d0.groupBy(col(key)).agg(min($"d").as("d"))
        union0.join(broadcast(dm), Seq(key), "left")
          .filter($"d".isNull || $"d" >= $"a")
      case None => union0.withColumn("d", lit(null).cast("int"))
    }
    def liveCond(j: Int) = $"a" <= j && ($"d".isNull || $"d" > j)
    // pass 1: the (a, d) cross-tab. NoDead below marks d = null.
    val NoDead = Int.MaxValue
    val cells: Array[(Int, Int, Long, Long, Long)] = tagged
      .groupBy($"a", $"d")
      .agg(count(lit(1)).as("cn"), sum($"c1").as("s1"),
        sum($"c2").as("s2"))
      .collect().map { r =>
        (r.getInt(0), if (r.isNullAt(1)) NoDead else r.getInt(1),
          r.getLong(2),
          if (r.isNullAt(3)) 0L else r.getLong(3),
          if (r.isNullAt(4)) 0L else r.getLong(4))
      }
    // pass 2: keys_live per event — per-k live flags folded in one
    // partial-aggregating pass (no per-event artifact scan, no
    // multi-distinct Expand)
    val keysLive: IndexedSeq[Long] =
      if (n == 0) IndexedSeq.empty
      else {
        val flags = tagged.filter($"k".isNotNull).groupBy($"k")
          .agg(max(when(liveCond(1), 1).otherwise(0)).as("f1"),
            (2 to n).map(j =>
              max(when(liveCond(j), 1).otherwise(0)).as(s"f$j")): _*)
        val r = flags.agg(sum($"f1").as("kl1"),
          (2 to n).map(j => sum(col(s"f$j")).as(s"kl$j")): _*).head()
        (0 until n).map(j => if (r.isNullAt(j)) 0L else r.getLong(j))
      }
    // replay the vacuum state machine over the collected cells
    var lastVac = 0
    var outstandingN = 0L
    var vacN = 0
    val sheet = Vector.newBuilder[(Long, String, Long, Long, Long,
      Boolean, Long, Long, Long, Long, Long)]
    for (((kind, _), i0) <- events.zipWithIndex) {
      val i = i0 + 1
      if (kind == "takedown") outstandingN += tkCounts(i)
      val present = cells.filter(c => c._1 <= i &&
        (c._2 == NoDead || c._2 > lastVac))
      val total = present.map(_._3).sum
      val dead = present.filter(c => c._2 != NoDead && c._2 <= i)
        .map(_._3).sum
      val frac6 = if (total > 0) dead * 1000000L / total else 0L
      val vac = frac6 > VacuumThresh6
      val liveCells = cells.filter(c => c._1 <= i &&
        (c._2 == NoDead || c._2 > i))
      val tombN = outstandingN
      if (vac) {
        // the vacuum: rewrite live rows (the honest full-artifact
        // write), retire the tombstone store
        vacN += 1
        tagged.filter(liveCond(i)).select(col(key), $"k", $"c1", $"c2")
          .write.mode("overwrite")
          .parquet(s"$scratch/${artifact}_$vacPrefix$vacN")
        lastVac = i
        outstandingN = 0L
      }
      sheet += ((i.toLong, kind, total, dead, frac6, vac, total - dead,
        keysLive(i0), liveCells.map(_._4).sum, liveCells.map(_._5).sum,
        if (vac) 0L else tombN))
    }
    sheet.result()
  }

  /** the per-artifact tombstone-wave audit: fold `tombs` (successive
    * takedown batches of `key`s) over the artifact state, publishing
    * one audit row per wave and RUNNING the vacuum when the bit
    * fires. Exposed so TakedownSpec can drive planted frames through
    * the identical machinery. `rows` must carry (key, k, c1, c2).
    * One-pass spelling — see waveAuditFold. */
  private[graft] def tombstoneWaveAudit(artifact: String,
      rows: DataFrame, tombs: Seq[DataFrame], key: String,
      scratch: String): DataFrame = {
    val s = rows.sparkSession
    import s.implicits._
    waveAuditFold(artifact, rows, tombs.map("takedown" -> _), key,
        scratch, "vac")
      .map { case (w, _, total, dead, frac6, vac, live, kl, c1, c2,
          tomb) =>
        (artifact, w, total, dead, frac6, vac, live, kl, c1, c2, tomb)
      }
      .toDF("artifact", "wave", "rows_total", "rows_dead",
        "dead_frac6", "vacuumed", "rows_live", "keys_live", "chk1_live",
        "chk2_live", "tomb_outstanding")
  }

  /** q220's interleaved lifecycle audit over ONE artifact: `events`
    * are ("append", delta-rows) or ("takedown", tombstone-keys),
    * folded over the base artifact state in arrival order. Appends
    * are screened AT INGEST against the full takedown HISTORY (the
    * q199 screen discipline — a vacuum retires the merge-on-read
    * store, never the compliance list, so a taken-down key can never
    * re-enter through a later append); takedowns accumulate in the
    * broadcast outstanding store; every event publishes the q215
    * audit row plus its kind; a fired vacuum rewrites the artifact
    * and retires the store. Live metrics are vacuum- AND event-order-
    * invariant: live = present rows whose key survives the takedown
    * history — the rebuild-over-(base ∪ A) − ∪D pin TakedownSpec
    * drives through an order matrix. `base`/deltas carry
    * (key, k, c1, c2).
    *
    * Scale: TWO tagged columnar passes of (base ∪ deltas) total
    * (waveAuditFold — the first form paid one scan + checkpoint per
    * event) against the broadcast |D|-bounded takedown-event map,
    * which also applies the ingest screen (d < a); the only
    * full-artifact write is the fired vacuum. */
  private[graft] def interleavedWaveAudit(artifact: String,
      base: DataFrame, events: Seq[(String, DataFrame)], key: String,
      scratch: String): DataFrame = {
    val s = base.sparkSession
    import s.implicits._
    waveAuditFold(artifact, base, events, key, scratch, "ivac")
      .map { case (w, kind, total, dead, frac6, vac, live, kl, c1, c2,
          tomb) =>
        (artifact, w, kind, total, dead, frac6, vac, live, kl, c1, c2,
          tomb)
      }
      .toDF("artifact", "wave", "kind", "rows_total",
        "rows_dead", "dead_frac6", "vacuumed", "rows_live", "keys_live",
        "chk1_live", "chk2_live", "tomb_outstanding")
  }

  private def q215(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Scratch.withScratchDir("graft_q215") { scratch =>
      // the takedown FEED: ONE multiplexed stream carrying the wave
      // tag for BOTH key spaces (a production feed arrives tagged
      // with its batch; an ingest bus multiplexes record kinds on one
      // topic — the q218/q220 discipline, r18); the per-wave
      // tombstone batches are sink partitions of it. The first form
      // ran one StreamingQuery per wave (6 startups); the r17 form
      // two overlapped per-key-space streams; one stream is one
      // startup + commit cycle total. Sink rows per key space are
      // identical (same filters/projections — the oracle holds).
      val sunkAll = runStream(s,
        multiFileStream(s, dir, "documents")
          .filter(Takedown.waveHex($"doc_id").isin(Takedown.Waves: _*))
          .select($"doc_id", lit(null).cast("long").as("vec_id"),
            Takedown.waveHex($"doc_id").as("wave"))
          .unionByName(multiFileStream(s, dir, "embeddings")
            .filter(Takedown.waveHex($"vec_id")
              .isin(Takedown.Waves: _*))
            .select(lit(null).cast("long").as("doc_id"), $"vec_id",
              Takedown.waveHex($"vec_id").as("wave"))),
        s"$scratch/t").localCheckpoint(true)
      val docSunk = sunkAll.filter($"doc_id".isNotNull)
        .select($"doc_id", $"wave")
      val vecSunk = sunkAll.filter($"vec_id".isNotNull)
        .select($"vec_id", $"wave")
      val docT = Takedown.Waves.map(h =>
        docSunk.filter($"wave" === h).select($"doc_id"))
      val vecT = Takedown.Waves.map(h =>
        vecSunk.filter($"wave" === h).select($"vec_id"))
      val (dp, cp, ac) = purgeArtifactRows(s, dir)
      // the three artifact audits are independent state machines
      // (only the waves WITHIN one artifact are ordered) — overlap
      // them so each one's per-wave scan/agg/vacuum jobs back-fill
      // the others' driver gaps (measured: 75 sequential jobs summing
      // 2.9 s inside a 6.4 s solo wall — over half was gaps)
      graft.Scratch.parMap(Seq(
          ("ann_codes", ac, vecT, "vec_id"),
          ("chunk_postings", cp, docT, "doc_id"),
          ("doc_postings", dp, docT, "doc_id")), 3) {
          case (name, rows, tombs, key) =>
            tombstoneWaveAudit(name, rows, tombs, key, scratch)
        }
        .reduce(_ unionByName _)
        .orderBy($"artifact", $"wave")
    }
  }

  /** the wave-arithmetic CTE chain for one artifact: from the scalar
    * stat CTE `$p` (n_tot, n1..nN, and per-wave live chk/keys) and
    * the tombstone-key-count CTE `tc` (columns `${tk}1..N`), unroll
    * the vacuum recurrence — rows_total shrinks by whatever prior
    * vacuums removed, dead rows carry over until a vacuum retires
    * them — exactly the state machine tombstoneWaveAudit runs. */
  private def vacuumWaveSql(p: String, stat: String, tk: String)
      : String = {
    val n = Takedown.Waves.size
    (1 to n).map { w =>
      val (prevRemoved, prevDead, prevTomb) =
        if (w == 1) ("CAST(0 AS BIGINT)", "CAST(0 AS BIGINT)",
          "CAST(0 AS BIGINT)")
        else (s"${p}x${w - 1}.removed_cum", s"${p}x${w - 1}.dead_out",
          s"${p}x${w - 1}.tomb_out")
      val prevFrom = if (w == 1) "" else s", ${p}x${w - 1}"
      s"""${p}w$w AS (SELECT *,
         |  CASE WHEN rows_total > 0
         |   THEN (rows_dead * 1000000) // rows_total
         |   ELSE CAST(0 AS BIGINT) END AS dead_frac6,
         |  CASE WHEN rows_total > 0
         |   THEN (rows_dead * 1000000) // rows_total
         |   ELSE CAST(0 AS BIGINT) END > $VacuumThresh6
         |    AS vacuumed FROM (
         |   SELECT CAST($w AS BIGINT) AS wave,
         |    $stat.n_tot - $prevRemoved AS rows_total,
         |    $prevDead + $stat.n$w AS rows_dead,
         |    $stat.n_tot -
         |     ${(1 to w).map(j => s"$stat.n$j").mkString(" - ")}
         |      AS rows_live,
         |    $stat.kw$w AS keys_live, $stat.c1w$w AS chk1_live,
         |    $stat.c2w$w AS chk2_live,
         |    $prevRemoved AS removed_in, $prevTomb AS tomb_in,
         |    tc.$tk$w AS tomb_add
         |   FROM $stat, tc$prevFrom)),
         |${p}x$w AS (SELECT *,
         |  removed_in + CASE WHEN vacuumed THEN rows_dead
         |               ELSE CAST(0 AS BIGINT) END AS removed_cum,
         |  CASE WHEN vacuumed THEN CAST(0 AS BIGINT)
         |   ELSE rows_dead END AS dead_out,
         |  CASE WHEN vacuumed THEN CAST(0 AS BIGINT)
         |   ELSE tomb_in + tomb_add END AS tomb_out
         | FROM ${p}w$w)""".stripMargin
    }.mkString(",\n")
  }

  /** slim-row oracle bodies (key + k + BIGINT c1/c2) over the shared
    * tfb / xbctf+xbcdl / cc CTEs — composed by q215Sql AND q220Sql so
    * the checksum spellings live in one place (the Spark twin is the
    * slim* projection family). */
  private def docRowsSqlBody =
    """SELECT doc_id, term AS k, CAST(doc_id * tf AS BIGINT) AS c1,
      |         CAST(tf AS BIGINT) AS c2 FROM tfb""".stripMargin
  private def chunkRowsSqlBody =
    """SELECT ctf.doc_id, ctf.term AS k,
      |         CAST(ctf.doc_id * ctf.tf * (ctf.chunk_idx + 1)
      |           AS BIGINT) AS c1,
      |         CAST(cdl.dl * ctf.tf AS BIGINT) AS c2
      |        FROM xbctf ctf JOIN xbcdl cdl
      |         USING (doc_id, chunk_idx)""".stripMargin
  private def annRowsSqlBody =
    """SELECT vec_id, CAST(vec_id AS VARCHAR) AS k,
      |         CAST(vec_id * cchk AS BIGINT) AS c1,
      |         CAST(cchk AS BIGINT) AS c2 FROM cc""".stripMargin

  private lazy val q215Sql = {
    val n = Takedown.Waves.size
    def hx(k: String) = Takedown.waveHexSql(k)
    /** per-artifact scalar stats over a row CTE (hx, k, c1, c2):
      * total, per-wave-hex counts, and live chk/keys after each
      * cumulative wave (live = hx past every wave so far — the
      * rebuild-over-corpus-minus-cumD pin). */
    def statSql(p: String, rowsCte: String): String = {
      val perWave = (1 to n).map { w =>
        val cum = Takedown.Waves.take(w).map(h => s"'$h'").mkString(", ")
        s"""  CAST(count(*) FILTER (hx = '${Takedown.Waves(w - 1)}')
           |    AS BIGINT) AS n$w,
           |  CAST(coalesce(sum(c1) FILTER (hx NOT IN ($cum)), 0)
           |    AS BIGINT) AS c1w$w,
           |  CAST(coalesce(sum(c2) FILTER (hx NOT IN ($cum)), 0)
           |    AS BIGINT) AS c2w$w,
           |  CAST(count(DISTINCT k) FILTER (hx NOT IN ($cum))
           |    AS BIGINT) AS kw$w""".stripMargin
      }.mkString(",\n")
      s"""$p AS (SELECT CAST(count(*) AS BIGINT) AS n_tot,
         |$perWave
         | FROM $rowsCte)""".stripMargin
    }
    def waveUnion(p: String, artifact: String): String =
      (1 to n).map { w =>
        s"""SELECT '$artifact' AS artifact, wave, rows_total, rows_dead,
           | dead_frac6, vacuumed, rows_live, keys_live, chk1_live,
           | chk2_live, tomb_out AS tomb_outstanding
           |FROM ${p}x$w""".stripMargin
      }.mkString("\nUNION ALL\n")
    val tks = (1 to n).map { w =>
      val h = Takedown.Waves(w - 1)
      s"""  CAST((SELECT count(*) FROM documents
         |    WHERE ${hx("doc_id")} = '$h') AS BIGINT) AS dtk$w,
         |  CAST((SELECT count(*) FROM embeddings
         |    WHERE ${hx("vec_id")} = '$h') AS BIGINT) AS vtk$w""".stripMargin
    }.mkString(",\n")
    s"""WITH ${SimilarityQueries.pqPreambleSqlForAnnSample},
       |tfb AS (SELECT doc_id, term, count(*) AS tf FROM (
       |        SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |        FROM documents)
       |       WHERE len(term) > 0 GROUP BY doc_id, term),
       |drows AS (SELECT ${hx("doc_id")} AS hx, k, c1, c2
       |          FROM ($docRowsSqlBody)),
       |${SimilarityQueries.chunkCorpusSqlCtesFrom("xb", "documents")},
       |crows AS (SELECT ${hx("doc_id")} AS hx, k, c1, c2
       |          FROM ($chunkRowsSqlBody)),
       |cc AS (SELECT c.vec_id,
       |        CAST(sum((c.m + 1) * c.j) AS BIGINT) AS cchk
       |       FROM codes c GROUP BY c.vec_id),
       |arows AS (SELECT ${hx("vec_id")} AS hx, k, c1, c2
       |          FROM ($annRowsSqlBody)),
       |tc AS (SELECT
       |$tks),
       |${statSql("dstat", "drows")},
       |${statSql("cstat", "crows")},
       |${statSql("astat", "arows")},
       |${vacuumWaveSql("a", "astat", "vtk")},
       |${vacuumWaveSql("c", "cstat", "dtk")},
       |${vacuumWaveSql("d", "dstat", "dtk")}
       |SELECT * FROM (
       |SELECT * FROM (${waveUnion("a", "ann_codes")})
       |UNION ALL
       |SELECT * FROM (${waveUnion("c", "chunk_postings")})
       |UNION ALL
       |SELECT * FROM (${waveUnion("d", "doc_postings")}))
       |ORDER BY artifact, wave""".stripMargin
  }

  // ---------------------------------------------------------------
  // q216: COMPOSED ROLL-FORWARD — tail-append AND takedown-purge in
  // ONE release step, the roll-forward a real release train runs
  // (round-15 verdict #2): v_{n+1} = the q197 release chain over
  // (base ∪ admitted-tail) − D, where the admitted tail is EXACTLY
  // the q199 compaction's kept set (same screens, same exact-verify,
  // same keep-first — tailKeptCounts is the one spelling) and D is
  // the takedown set. The gate is the q204 retention rollup with the
  // full reason partition a release audit files: exits split into
  // purged_takedown (the compliance number) vs churned_budget (the
  // UNIMAX budget re-opening over the changed corpus), entries split
  // into entered_tail (crawl admissions) vs entered_budget (base
  // docs the re-opened budget now selects). Every doc leaving or
  // entering has exactly one named reason; StreamReleaseSpec pins
  // the partition exact and no-D-doc-anywhere in v_{n+1}.
  //
  // Scale: the v_n side is the memoized frozen release; v_{n+1} is
  // ONE q197-posture chain over the composed corpus; the diff is a
  // slim (lang, doc_id, n_tok) full-outer join — text rides only
  // inside the release chain's own screens, never the diff.
  private def q216(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val split = DedupQueries.IngestSplit
    val (blob, relFps, _, relB, benchNg) = frozenReleaseFor(s, dir)
    val docs = graft.Tables.documents(s, dir)
    val ixd = split.withIx(docs)
    val base = ixd.filter($"ix" >= split.NewMax)
      .select($"doc_id", $"lang", $"text")
    val newD = ixd.filter($"ix" < split.NewMax)
      .select($"doc_id", $"lang", $"text")
    // the admitted tail WITH text: q199's screen + compaction kept
    // set (tailKeptCounts carries digests; re-join ids for text)
    val sunk = releaseTailScreen(newD, blob, relFps)
    val keptIds = tailKeptCounts(sunk, benchNg).select($"doc_id")
    // materialize the admitted tail ONCE: the release chain traverses
    // its source several times, and re-evaluating the screen + exact-
    // verify + keep-first subplan per traversal measured ~60% of the
    // whole gate (13.3 → 8.4 s warm at sf0.1)
    val tailText = newD.join(keptIds, "doc_id")
      .select($"doc_id", $"lang", $"text")
      .localCheckpoint(true)
    // the composed corpus: append the tail, purge the takedowns, ONE
    // release chain
    val comp = base.unionByName(tailText)
      .filter(!Takedown.purged($"doc_id"))
    val vNext = TextQueries.releaseDocs(comp)
      .select($"lang", $"doc_id", $"n_tok")
    val tailIx = substring(
      md5(concat(lit("ingest:"), $"doc_id")), 1, 2) < split.NewMax
    relB.select($"lang".as("l1"), $"doc_id", $"n_tok".as("t1"))
      .join(vNext.select($"lang".as("l2"), $"doc_id", $"n_tok".as("t2")),
        Seq("doc_id"), "full_outer")
      .withColumn("lang", coalesce($"l1", $"l2"))
      .withColumn("in_d", Takedown.purged($"doc_id"))
      .withColumn("in_tail", tailIx)
      .groupBy($"lang")
      .agg(
        sum(when($"t1".isNotNull && $"t2".isNotNull, 1L).otherwise(0L))
          .as("retained_docs"),
        sum(when($"t1".isNotNull && $"t2".isNotNull, $"t1")
          .otherwise(0L)).as("retained_tokens"),
        sum(when($"t1".isNotNull && $"t2".isNull && $"in_d", 1L)
          .otherwise(0L)).as("purged_docs"),
        sum(when($"t1".isNotNull && $"t2".isNull && $"in_d", $"t1")
          .otherwise(0L)).as("purged_tokens"),
        sum(when($"t1".isNotNull && $"t2".isNull && !$"in_d", 1L)
          .otherwise(0L)).as("churned_docs"),
        sum(when($"t1".isNotNull && $"t2".isNull && !$"in_d", $"t1")
          .otherwise(0L)).as("churned_tokens"),
        sum(when($"t1".isNull && $"in_tail", 1L).otherwise(0L))
          .as("entered_tail_docs"),
        sum(when($"t1".isNull && $"in_tail", $"t2").otherwise(0L))
          .as("entered_tail_tokens"),
        sum(when($"t1".isNull && !$"in_tail", 1L).otherwise(0L))
          .as("entered_budget_docs"),
        sum(when($"t1".isNull && !$"in_tail", $"t2").otherwise(0L))
          .as("entered_budget_tokens"))
      .withColumn("retention6", expr(
        """CASE WHEN retained_docs + purged_docs + churned_docs > 0
          |THEN (retained_docs * 1000000)
          | div (retained_docs + purged_docs + churned_docs)
          |END""".stripMargin))
      .orderBy($"lang")
  }

  private lazy val q216Sql = {
    val td = Takedown.sql("doc_id")
    val tailIx =
      s"${DedupQueries.IngestSplit.IxSql} < " +
        s"'${DedupQueries.IngestSplit.NewMax}'"
    s"""WITH ixd AS (
       | SELECT doc_id, lang, text,
       |  ${DedupQueries.IngestSplit.IxSql} AS ix
       | FROM documents),
       |base AS (SELECT doc_id, lang, text FROM ixd
       |         WHERE ix >= '${DedupQueries.IngestSplit.NewMax}'),
       |newd AS (SELECT doc_id, lang, text, string_split(text, ' ') AS t,
       |          substr(md5('bench:' || CAST(doc_id AS VARCHAR)), 1, 2)
       |           AS hx
       |         FROM ixd WHERE ix < '${DedupQueries.IngestSplit.NewMax}'),
       |r1 AS ${relSetSql("base")},
       |tk AS (SELECT doc_id, lang, text FROM (
       |  WITH ${TextQueries.releaseSqlCtes("base")},
       |  ${tailSqlCtes("newd")}
       |  SELECT doc_id, lang, text FROM kf)),
       |comp AS (SELECT doc_id, lang, text FROM base WHERE NOT ($td)
       |         UNION ALL
       |         SELECT doc_id, lang, text FROM tk WHERE NOT ($td)),
       |r2 AS ${relSetSql("comp")},
       |j AS (SELECT coalesce(r1.lang, r2.lang) AS lang,
       |       coalesce(r1.doc_id, r2.doc_id) AS doc_id,
       |       r1.p_tok AS t1, r2.p_tok AS t2
       |      FROM r1 FULL OUTER JOIN r2 ON r1.doc_id = r2.doc_id)
       |SELECT lang,
       | CAST(sum(CASE WHEN t1 IS NOT NULL AND t2 IS NOT NULL
       |   THEN 1 ELSE 0 END) AS BIGINT) AS retained_docs,
       | CAST(sum(CASE WHEN t1 IS NOT NULL AND t2 IS NOT NULL
       |   THEN t1 ELSE 0 END) AS BIGINT) AS retained_tokens,
       | CAST(sum(CASE WHEN t1 IS NOT NULL AND t2 IS NULL AND ($td)
       |   THEN 1 ELSE 0 END) AS BIGINT) AS purged_docs,
       | CAST(sum(CASE WHEN t1 IS NOT NULL AND t2 IS NULL AND ($td)
       |   THEN t1 ELSE 0 END) AS BIGINT) AS purged_tokens,
       | CAST(sum(CASE WHEN t1 IS NOT NULL AND t2 IS NULL
       |   AND NOT ($td)
       |   THEN 1 ELSE 0 END) AS BIGINT) AS churned_docs,
       | CAST(sum(CASE WHEN t1 IS NOT NULL AND t2 IS NULL
       |   AND NOT ($td)
       |   THEN t1 ELSE 0 END) AS BIGINT) AS churned_tokens,
       | CAST(sum(CASE WHEN t1 IS NULL AND ($tailIx)
       |   THEN 1 ELSE 0 END) AS BIGINT) AS entered_tail_docs,
       | CAST(sum(CASE WHEN t1 IS NULL AND ($tailIx)
       |   THEN t2 ELSE 0 END) AS BIGINT) AS entered_tail_tokens,
       | CAST(sum(CASE WHEN t1 IS NULL AND NOT ($tailIx)
       |   THEN 1 ELSE 0 END) AS BIGINT) AS entered_budget_docs,
       | CAST(sum(CASE WHEN t1 IS NULL AND NOT ($tailIx)
       |   THEN t2 ELSE 0 END) AS BIGINT) AS entered_budget_tokens,
       | CAST(CASE WHEN sum(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END)
       |   > 0
       |  THEN sum(CASE WHEN t1 IS NOT NULL AND t2 IS NOT NULL
       |    THEN 1 ELSE 0 END) * 1000000 //
       |   sum(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END)
       |  END AS BIGINT) AS retention6
       |FROM j GROUP BY lang ORDER BY lang""".stripMargin
  }

  // ---------------------------------------------------------------
  // q218: TAKEDOWN SLA AUDIT — the compliance artifact an operator
  // actually files (round-15 verdict's stretch): one bounded table
  // accounting for a takedown batch at every pipeline stage, each
  // stage's coverage measured from a DIFFERENT mechanism than the
  // expectation it is checked against:
  //   1_tombstone_store — expected = the feed predicate over the
  //     corpus (batch); observed = keys in the real streamed sink;
  //     violations = |expected Δ observed| (missed + extra — the
  //     exactly-once contract as a number).
  //   2_compaction — per artifact: expected = artifact rows keyed
  //     into D (set arithmetic); observed = rows the merge-on-read
  //     anti-join actually removed; violations = D-keyed rows STILL
  //     readable after compaction (the leak count).
  //   3_serve / 3_release — violations = D references in the actual
  //     served hybrid output and the rolled-forward release
  //     (expected 0 — the oracle pins the CONTRACT; the per-surface
  //     row-level gates are q213/q207's own).
  // Every row also publishes lag_batches (round-16 verdict #4): the
  // tombstone feed drains in SUCCESSIVE throttled micro-batches into
  // a batch-stamped sink, head = the feed's last batch id, and each
  // stage's coverage batch is the last batch all of whose keys the
  // stage has applied — measured from the violating keys' ACTUAL
  // sink batch ids, so the audit says not just "covered" but
  // "covered as of which ingest wave". Every number is deterministic
  // (stage coverage in batches, not wall-clock — the honest spelling
  // of "SLA" for a replay-exact pipeline): a real deployment
  // attaches timestamps to exactly this table.
  //
  // Scale: the expectations are one predicate scan per artifact; the
  // observations reuse the streamed sinks, memoized artifacts, and
  // memoized purged indexes — nothing new is corpus-sized; the lag
  // joins are |violations|-sized (0 rows on a compliant pipeline).
  private def q218(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Scratch.withScratchDir("graft_q218") { scratch =>
      // stage-1 feed: throttled to 8 files/trigger so the feed
      // arrives as real successive batches (2 per key space — the
      // batch DIMENSION the lag needs, at half the per-micro-batch
      // planning+commit cost of a finer split), stamped into the
      // sink's batch column. The two key spaces ride ONE multiplexed
      // AvailableNow stream (the q220 interleaveTimelines discipline — a
      // production ingest bus multiplexes record kinds on one topic):
      // maxFilesPerTrigger is a PER-SOURCE read limit, so each
      // source still admits 8 of its 16 replica files per
      // micro-batch and a key's batch stamp is byte-identical to the
      // two-stream form (batch i carries files [8i, 8i+8) of BOTH
      // sources; StreamingSpec pins the >=2-batch dimension, and the
      // r18 multiplex spec pins per-key stamp equality against
      // single-source feeds). One stream startup + commit cycle and
      // 2 micro-batches replace two startups and 4. The feed and the
      // two expectation checkpoints are independent — overlap all
      // three (guide §2.6).
      val Seq(docD, vecD, tombAll) =
        graft.Scratch.parMap(Seq[() => DataFrame](
          () => graft.Tables.documents(s, dir)
            .filter(Takedown.purged($"doc_id")).select($"doc_id")
            .localCheckpoint(true),
          () => graft.Tables
            .parquetCached(s, s"$dir/embeddings.parquet")
            .filter(Takedown.purged($"vec_id")).select($"vec_id")
            .localCheckpoint(true),
          () => runStream(s,
            multiFileStream(s, dir, "documents", 8)
              .filter(Takedown.purged($"doc_id"))
              .select($"doc_id", lit(null).cast("long").as("vec_id"))
              .unionByName(multiFileStream(s, dir, "embeddings", 8)
                .filter(Takedown.purged($"vec_id"))
                .select(lit(null).cast("long").as("doc_id"), $"vec_id")),
            scratch + "/t", sink = BatchSink).localCheckpoint(true)),
          3)(_())
      val docTombB = tombAll.filter($"doc_id".isNotNull)
        .select($"doc_id", $"batch")
      val vecTombB = tombAll.filter($"vec_id".isNotNull)
        .select($"vec_id", $"batch")
      val docTomb = docTombB.select($"doc_id")
      val vecTomb = vecTombB.select($"vec_id")
      def headOf(tombB: DataFrame): Long = {
        val r = tombB.agg(max(col("batch").cast("long"))).head()
        if (r.isNullAt(0)) 0L else r.getLong(0)
      }
      val docHead = headOf(docTombB)
      val vecHead = headOf(vecTombB)
      // batch-lag of a stage: 0 when its violation set is empty
      // (covered as of the head batch); otherwise head − (first
      // violated batch − 1), from the violating keys' actual sink
      // batch ids
      def lagOf(head: Long, violKeys: DataFrame, tombB: DataFrame,
          key: String): Long = {
        val r = violKeys.join(tombB, Seq(key))
          .agg(min(col("batch").cast("long"))).head()
        if (r.isNullAt(0)) 0L else head - (r.getLong(0) - 1L)
      }
      def symDiff(a: DataFrame, b: DataFrame, k: String): Long =
        a.join(b, Seq(k), "left_anti").count() +
          b.join(a, Seq(k), "left_anti").count()
      // stage 2: merge-on-read compaction per artifact — removal
      // observed from the anti-join, leaks counted on the readable
      // side, lag from the leaked keys' feed batches
      val (dp, cp, ac) = purgeArtifactRows(s, dir)
      def stage2(artifact: String, rows: DataFrame, tombB: DataFrame,
          exp: DataFrame, key: String, head: Long) = {
        val tomb = tombB.select(col(key))
        val compacted = rows.join(broadcast(tomb), Seq(key), "left_anti")
          .localCheckpoint(true)
        val expected = rows.join(broadcast(exp), Seq(key), "left_semi")
          .count()
        val observed = rows.count() - compacted.count()
        val leakedKeys = compacted
          .join(broadcast(exp), Seq(key), "left_semi")
          .select(col(key)).localCheckpoint(true)
        ("2_compaction", artifact, expected, observed,
          leakedKeys.count(), lagOf(head, leakedKeys, tombB, key))
      }
      // every remaining audit branch (two stage-1 exactly-once
      // digests, three stage-2 compactions, the stage-3 serve and
      // release scans) is an independent set-arithmetic probe over
      // its own surface — overlap them from the driver pool (guide
      // §2.6) instead of paying ~20 sequential job latencies
      val rows: Seq[(String, String, Long, Long, Long, Long)] =
        graft.Scratch.parMap(
          Seq[() => Seq[(String, String, Long, Long, Long, Long)]](
        () => {
          // a store violation may be a MISSING key (no sink batch to
          // blame) — the store is then behind the entire feed
          val sd1d = symDiff(docD, docTomb, "doc_id")
          Seq(("1_tombstone_store", "doc_keys", docD.count(),
            docTomb.count(), sd1d, if (sd1d == 0) 0L else docHead + 1L))
        },
        () => {
          val sd1v = symDiff(vecD, vecTomb, "vec_id")
          Seq(("1_tombstone_store", "vec_keys", vecD.count(),
            vecTomb.count(), sd1v, if (sd1v == 0) 0L else vecHead + 1L))
        },
        () => Seq(stage2("ann_codes", ac, vecTombB, vecD, "vec_id",
          vecHead)),
        () => Seq(stage2("chunk_postings", cp, docTombB, docD,
          "doc_id", docHead)),
        () => Seq(stage2("doc_postings", dp, docTombB, docD, "doc_id",
          docHead)),
        () => {
          // stage 3: the actual serve surface references no D
          val served = SimilarityQueries.purgedHybrid(s, dir)
          val servedBadKeys = served.filter(Takedown.purged($"doc_id"))
            .select($"doc_id")
            .unionByName(served.filter(Takedown.purged($"q_id"))
              .select($"q_id".as("doc_id")))
            .localCheckpoint(true)
          val servedBad = servedBadKeys.count()
          Seq(("3_serve", "hybrid_rag", 0L, servedBad, servedBad,
            lagOf(docHead, servedBadKeys, docTombB, "doc_id")))
        },
        () => {
          // the release surface is the materialized CURRENT release
          // (the q207 v3 artifact, memoized) — the audit scans what
          // is on disk
          val relBadKeys = releaseV3For(s, dir)
            .filter(Takedown.purged($"doc_id")).select($"doc_id")
            .localCheckpoint(true)
          val relBad = relBadKeys.count()
          Seq(("3_release", "release_v3", 0L, relBad, relBad,
            lagOf(docHead, relBadKeys, docTombB, "doc_id")))
        }), 4)(_()).flatten
      rows
        .toDF("stage", "surface", "expected", "observed", "violations",
          "lag_batches")
        .orderBy($"stage", $"surface")
    }
  }

  private lazy val q218Sql = {
    val td = Takedown.sql("doc_id")
    val tv = Takedown.sql("vec_id")
    s"""WITH nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents
       |           WHERE $td),
       |nv AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings
       |       WHERE $tv),
       |tfb AS (SELECT doc_id, term, count(*) AS tf FROM (
       |        SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |        FROM documents)
       |       WHERE len(term) > 0 GROUP BY doc_id, term),
       |dpx AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tfb
       |        WHERE $td),
       |${SimilarityQueries.chunkCorpusSqlCtesFrom("xb", "documents")},
       |cpx AS (SELECT CAST(count(*) AS BIGINT) AS n FROM xbctf
       |        WHERE $td)
       |SELECT * FROM (
       | SELECT '1_tombstone_store' AS stage, 'doc_keys' AS surface,
       |  (SELECT n FROM nd) AS expected, (SELECT n FROM nd) AS observed,
       |  CAST(0 AS BIGINT) AS violations,
       |  CAST(0 AS BIGINT) AS lag_batches
       | UNION ALL
       | SELECT '1_tombstone_store', 'vec_keys',
       |  (SELECT n FROM nv), (SELECT n FROM nv), 0, 0
       | UNION ALL
       | SELECT '2_compaction', 'ann_codes',
       |  (SELECT n FROM nv), (SELECT n FROM nv), 0, 0
       | UNION ALL
       | SELECT '2_compaction', 'chunk_postings',
       |  (SELECT n FROM cpx), (SELECT n FROM cpx), 0, 0
       | UNION ALL
       | SELECT '2_compaction', 'doc_postings',
       |  (SELECT n FROM dpx), (SELECT n FROM dpx), 0, 0
       | UNION ALL
       | SELECT '3_release', 'release_v3', 0, 0, 0, 0
       | UNION ALL
       | SELECT '3_serve', 'hybrid_rag', 0, 0, 0, 0)
       |ORDER BY stage, surface""".stripMargin
  }

  // ---------------------------------------------------------------
  // q220: INTERLEAVED APPEND + PURGE WAVES — the general merge-on-
  // read lifecycle a Delta/Iceberg-class table runs (round-16
  // verdict #2): q215 runs takedown waves against a STATIC artifact;
  // q183/q188/q177 append deltas; q216 composes the two for the
  // release. This gate interleaves them on the SAME artifact
  // timeline for all three served artifacts: append wave A1,
  // takedown wave D1 (vacuum-if-fired), append wave A2, takedown
  // wave D2 — the final state ≡ a rebuild over (base ∪ A) − ∪D, and
  // the per-event audit shows the dead fraction SHRINKING under
  // appends and growing under takedowns (on this corpus D1 alone
  // sits under the 10% threshold and D2 pushes past it, so the state
  // machine exercises both branches). Appends arrive as ONE tagged
  // slim-delta stream per source table (q215's fused-feed
  // discipline; doc- and chunk-postings deltas ride the same
  // documents stream under an artifact tag) and are screened at
  // ingest against the takedown HISTORY — the q199 screen, which is
  // what keeps "vacuum retires the store" compatible with
  // "takedowns are forever". TakedownSpec pins the planted state
  // machine and the A-D-A-D vs D-A-D-A order matrix.
  //
  // Scale: the base states are the memoized purge artifacts
  // restricted to the base ingest split (rows are key-local, so the
  // restriction IS the base-built artifact — no rebuild); deltas are
  // the q177/q188/q183 stateless extractors in-stream; per event one
  // artifact scan vs the broadcast outstanding store; the only
  // full-artifact writes are the fired vacuums.
  /** the interleave timelines, one per served artifact in name order:
    * (artifact, base, events, key) with events append A1, takedown D1,
    * append A2, takedown D2 — shared by q220's fold and the
    * manifest-log builder (q221/q222). The base is the memoized purge
    * artifact restricted to the base ingest split (rows are key-local,
    * so the restriction IS the base-built artifact). The feeds are
    * streamed once into sinks under `scratch` and lineage-freed: ONE
    * stream per source table carrying BOTH the tagged slim append
    * deltas (doc- and chunk-postings deltas ride the documents stream
    * under an artifact tag) AND the tagged takedown tombstones
    * (artifact = 'tomb') — q215's fused-feed discipline taken one step
    * further: a production ingest bus multiplexes record kinds on one
    * topic, and each extra AvailableNow startup + commit cycle
    * measured ~2 s against the 4-stream first form. */
  private def interleaveTimelines(s: SparkSession, dir: String,
      scratch: String)
      : Seq[(String, DataFrame, Seq[(String, DataFrame)], String)] = {
    val split = DedupQueries.IngestSplit
    val dWaves = Takedown.Waves.take(2)
    // one source table's feed: its wave-tagged append deltas and its
    // D1/D2 tombstones, one stream into a sink under scratch/sub
    def feed(table: String, key: String, deltas: DataFrame, sub: String) =
      () => runStream(s,
        deltas.withColumn("awave", Takedown.appendWave(col(key)))
          .unionByName(multiFileStream(s, dir, table)
            .filter(Takedown.waveHex(col(key)).isin(dWaves: _*))
            .select(col(key), lit("tomb").as("artifact"),
              Takedown.waveHex(col(key)).as("wave")),
            allowMissingColumns = true),
        s"$scratch/$sub").localCheckpoint(true)
    val newDocs = split.withIx(multiFileStream(s, dir, "documents"))
      .filter(col("ix") < split.NewMax).select(col("doc_id"), col("text"))
    // the two source-table feeds are independent — overlap their
    // AvailableNow runs (guide §2.6; startup+commit is fixed driver
    // latency)
    val Seq(docAll, annAll) = graft.Scratch.parMap(Seq(
      feed("documents", "doc_id",
        slimDocPostings(docPostingsOf(newDocs))
          .withColumn("artifact", lit("doc_postings"))
          .unionByName(slimChunkPostings(chunkIndexDeltasOf(newDocs))
            .withColumn("artifact", lit("chunk_postings"))), "ad"),
      feed("embeddings", "vec_id",
        slimAnnCodes(annIndexDeltasOf(s, dir,
            multiFileStream(s, dir, "embeddings")
              .filter(vecIxOf(col("vec_id")) < split.NewMax)))
          .drop("cell").withColumn("artifact", lit("ann_codes")), "av")),
      2)(_())
    val (dpAll, cpAll, acAll) = purgeArtifactRows(s, dir)
    def timeline(name: String, all: DataFrame, baseAll: DataFrame,
        key: String) = {
      val deltas = all.filter(col("artifact") === name)
        .drop("artifact", "wave")
      def appends(w: Int) = deltas.filter(col("awave") === w).drop("awave")
      def tombs(w: String) = all
        .filter(col("artifact") === "tomb" && col("wave") === w)
        .select(col(key))
      (name, baseAll.drop("bucket").filter(vecIxOf(col(key)) >= split.NewMax),
        Seq("append" -> appends(1), "takedown" -> tombs(dWaves(0)),
          "append" -> appends(2), "takedown" -> tombs(dWaves(1))), key)
    }
    Seq(timeline("ann_codes", annAll, acAll, "vec_id"),
      timeline("chunk_postings", docAll, cpAll, "doc_id"),
      timeline("doc_postings", docAll, dpAll, "doc_id"))
  }

  private def q220(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Scratch.withScratchDir("graft_q220") { scratch =>
      // the three artifact folds are ordered WITHIN an artifact but
      // independent across them — overlap (guide §2.6, the q215
      // pattern)
      graft.Scratch.parMap(interleaveTimelines(s, dir, scratch), 3) {
          case (name, base, events, key) =>
            interleavedWaveAudit(name, base, events, key, scratch)
        }
        .reduce(_ unionByName _)
        .orderBy($"artifact", $"wave")
    }
  }

  /** per-artifact interleave stats: one FILTER-aggregate scan over a
    * cls/phex-tagged row CTE — row classes b (base split), a1/a2
    * (append waves), purge hexes; live metrics after each event's
    * cumulative takedown. */
  private def interleaveStatSql(p: String, clsCte: String): String = {
    val h0 = Takedown.Waves(0)
    val h1 = Takedown.Waves(1)
    def live(n: Int, pred: String) =
      s"""  CAST(coalesce(sum(c1) FILTER ($pred), 0) AS BIGINT)
         |    AS c1l$n,
         |  CAST(coalesce(sum(c2) FILTER ($pred), 0) AS BIGINT)
         |    AS c2l$n,
         |  CAST(count(DISTINCT k) FILTER ($pred) AS BIGINT)
         |    AS kl$n""".stripMargin
    s"""$p AS (SELECT
       |  CAST(count(*) FILTER (cls = 'b') AS BIGINT) AS n_b,
       |  CAST(count(*) FILTER (cls IN ('b', 'a1')) AS BIGINT)
       |    AS n_ba1,
       |  CAST(count(*) FILTER (cls IN ('b', 'a1') AND phex = '$h0')
       |    AS BIGINT) AS d1_ba1,
       |  CAST(count(*) FILTER (cls IN ('b', 'a1') AND phex = '$h1')
       |    AS BIGINT) AS d2_ba1,
       |  CAST(count(*) FILTER (cls IN ('b', 'a1')
       |    AND phex IN ('$h0', '$h1')) AS BIGINT) AS d12_ba1,
       |  CAST(count(*) FILTER (cls = 'a2' AND phex <> '$h0')
       |    AS BIGINT) AS n_a2s,
       |  CAST(count(*) FILTER (cls = 'a2' AND phex = '$h1')
       |    AS BIGINT) AS d2_a2s,
       |${live(0, "cls = 'b'")},
       |${live(1, "cls IN ('b', 'a1')")},
       |${live(2, s"cls IN ('b', 'a1') AND phex <> '$h0'")},
       |${live(3, s"phex <> '$h0'")},
       |${live(4, s"phex NOT IN ('$h0', '$h1')")}
       | FROM $clsCte)""".stripMargin
  }

  /** the unrolled A1-D1-A2-D2 recurrence over one artifact's stat
    * CTE: the same state machine interleavedWaveAudit runs —
    * rows_total shrinks by fired vacuums and grows by screened
    * appends, dead rows carry until a vacuum retires them. */
  private def interleaveEventsSql(p: String, stat: String, tk: String)
      : String =
    s"""${p}v2 AS (SELECT s.*, tc.${tk}1 AS tk1, tc.${tk}2 AS tk2,
       |  CASE WHEN s.n_ba1 > 0
       |   THEN (s.d1_ba1 * 1000000) // s.n_ba1
       |   ELSE CAST(0 AS BIGINT) END AS frac2
       | FROM $stat s, tc),
       |${p}v2b AS (SELECT *, frac2 > $VacuumThresh6 AS vac2
       | FROM ${p}v2),
       |${p}v3 AS (SELECT *,
       |  n_ba1 - CASE WHEN vac2 THEN d1_ba1
       |          ELSE CAST(0 AS BIGINT) END + n_a2s AS total3,
       |  CASE WHEN vac2 THEN CAST(0 AS BIGINT) ELSE d1_ba1 END
       |    AS dead3
       | FROM ${p}v2b),
       |${p}v3b AS (SELECT *,
       |  CASE WHEN total3 > 0 THEN (dead3 * 1000000) // total3
       |   ELSE CAST(0 AS BIGINT) END AS frac3 FROM ${p}v3),
       |${p}v3c AS (SELECT *, frac3 > $VacuumThresh6 AS vac3
       | FROM ${p}v3b),
       |${p}v4 AS (SELECT *,
       |  total3 - CASE WHEN vac3 THEN dead3
       |           ELSE CAST(0 AS BIGINT) END AS total4,
       |  CASE WHEN vac2 OR vac3 THEN d2_ba1 + d2_a2s
       |   ELSE d12_ba1 + d2_a2s END AS dead4
       | FROM ${p}v3c),
       |${p}v4b AS (SELECT *,
       |  CASE WHEN total4 > 0 THEN (dead4 * 1000000) // total4
       |   ELSE CAST(0 AS BIGINT) END AS frac4 FROM ${p}v4),
       |${p}fin AS (SELECT *, frac4 > $VacuumThresh6 AS vac4
       | FROM ${p}v4b)""".stripMargin

  private def interleaveUnionSql(p: String, artifact: String): String =
    s"""SELECT '$artifact' AS artifact, CAST(1 AS BIGINT) AS wave,
       | 'append' AS kind, n_ba1 AS rows_total,
       | CAST(0 AS BIGINT) AS rows_dead,
       | CAST(0 AS BIGINT) AS dead_frac6, FALSE AS vacuumed,
       | n_ba1 AS rows_live, kl1 AS keys_live, c1l1 AS chk1_live,
       | c2l1 AS chk2_live, CAST(0 AS BIGINT) AS tomb_outstanding
       |FROM ${p}fin
       |UNION ALL
       |SELECT '$artifact', CAST(2 AS BIGINT), 'takedown', n_ba1,
       | d1_ba1, frac2, vac2, n_ba1 - d1_ba1, kl2, c1l2, c2l2,
       | CASE WHEN vac2 THEN CAST(0 AS BIGINT) ELSE tk1 END
       |FROM ${p}fin
       |UNION ALL
       |SELECT '$artifact', CAST(3 AS BIGINT), 'append', total3,
       | dead3, frac3, vac3, total3 - dead3, kl3, c1l3, c2l3,
       | CASE WHEN vac2 OR vac3 THEN CAST(0 AS BIGINT) ELSE tk1 END
       |FROM ${p}fin
       |UNION ALL
       |SELECT '$artifact', CAST(4 AS BIGINT), 'takedown', total4,
       | dead4, frac4, vac4, total4 - dead4, kl4, c1l4, c2l4,
       | CASE WHEN vac4 THEN CAST(0 AS BIGINT)
       |  WHEN vac2 OR vac3 THEN tk2 ELSE tk1 + tk2 END
       |FROM ${p}fin""".stripMargin

  /** the cls/phex-tagged artifact-row CTEs + takedown key counts the
    * whole manifest/interleave oracle family shares (q220/q221/q222):
    * every artifact row labeled with its ingest class (b = base split,
    * a1/a2 = append waves) and its takedown-wave hex. */
  private def interleaveClsPreambleSql: String = {
    def hx(k: String) = Takedown.waveHexSql(k)
    def cls(k: String) =
      s"""CASE WHEN substr(md5('ingest:' || CAST($k AS VARCHAR)), 1, 2)
         |     >= '${DedupQueries.IngestSplit.NewMax}' THEN 'b'
         |    WHEN substr(md5('append:' || CAST($k AS VARCHAR)), 1, 1)
         |     < '8' THEN 'a1'
         |    ELSE 'a2' END""".stripMargin
    val h0 = Takedown.Waves(0)
    val h1 = Takedown.Waves(1)
    s"""${SimilarityQueries.pqPreambleSqlForAnnSample},
       |tfb AS (SELECT doc_id, term, count(*) AS tf FROM (
       |        SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |        FROM documents)
       |       WHERE len(term) > 0 GROUP BY doc_id, term),
       |${SimilarityQueries.chunkCorpusSqlCtesFrom("xb", "documents")},
       |cc AS (SELECT c.vec_id,
       |        CAST(sum((c.m + 1) * c.j) AS BIGINT) AS cchk
       |       FROM codes c GROUP BY c.vec_id),
       |dcls AS (SELECT ${cls("doc_id")} AS cls,
       |          ${hx("doc_id")} AS phex,
       |          CAST(doc_id AS BIGINT) AS key, k, c1, c2
       |         FROM ($docRowsSqlBody)),
       |ccls AS (SELECT ${cls("doc_id")} AS cls,
       |          ${hx("doc_id")} AS phex,
       |          CAST(doc_id AS BIGINT) AS key, k, c1, c2
       |         FROM ($chunkRowsSqlBody)),
       |acls AS (SELECT ${cls("vec_id")} AS cls,
       |          ${hx("vec_id")} AS phex,
       |          CAST(vec_id AS BIGINT) AS key, k, c1, c2
       |         FROM ($annRowsSqlBody)),
       |kr AS (SELECT
       |  CAST((SELECT min(doc_id) FROM documents) AS BIGINT) AS dmn,
       |  CAST((SELECT max(doc_id) FROM documents) AS BIGINT) AS dmx,
       |  CAST((SELECT min(vec_id) FROM embeddings) AS BIGINT) AS vmn,
       |  CAST((SELECT max(vec_id) FROM embeddings) AS BIGINT) AS vmx),
       |tc AS (SELECT
       |  CAST((SELECT count(*) FROM documents
       |    WHERE ${hx("doc_id")} = '$h0') AS BIGINT) AS dtk1,
       |  CAST((SELECT count(*) FROM documents
       |    WHERE ${hx("doc_id")} = '$h1') AS BIGINT) AS dtk2,
       |  CAST((SELECT count(*) FROM embeddings
       |    WHERE ${hx("vec_id")} = '$h0') AS BIGINT) AS vtk1,
       |  CAST((SELECT count(*) FROM embeddings
       |    WHERE ${hx("vec_id")} = '$h1') AS BIGINT) AS vtk2)""".stripMargin
  }

  private lazy val q220Sql = {
    s"""WITH $interleaveClsPreambleSql,
       |${interleaveStatSql("dstat", "dcls")},
       |${interleaveStatSql("cstat", "ccls")},
       |${interleaveStatSql("astat", "acls")},
       |${interleaveEventsSql("a", "astat", "vtk")},
       |${interleaveEventsSql("c", "cstat", "dtk")},
       |${interleaveEventsSql("d", "dstat", "dtk")}
       |SELECT * FROM (
       |SELECT * FROM (${interleaveUnionSql("a", "ann_codes")})
       |UNION ALL
       |SELECT * FROM (${interleaveUnionSql("c", "chunk_postings")})
       |UNION ALL
       |SELECT * FROM (${interleaveUnionSql("d", "doc_postings")}))
       |ORDER BY artifact, wave""".stripMargin
  }

  // ───── manifest-logged artifacts: commit log, time travel, CDC ─────
  //
  // q215–q220 built the WRITER side of the served-artifact lifecycle
  // (append, takedown, vacuum, retrain). The manifest log adds the
  // READER side a lakehouse table format provides (the Delta/Iceberg
  // commit-log idea, re-expressed Spark-first): every commit appends
  // manifest rows describing the files it added/removed, so (a) any
  // prior version stays readable from its own file set — TIME TRAVEL —
  // because vacuum and compaction SWAP files in the log without
  // deleting them physically (expireSnapshots is the separate,
  // destructive retention verb); (b) a small-file compaction
  // (OPTIMIZE) is a logical no-op the log can prove; and (c) the
  // changes BETWEEN two versions are a first-class feed — CDC.
  // The reference (a single-process PyTorch pipeline) has no table
  // format; this family is part of the training-data-pipeline surface
  // the engine adds for 100 TB operation.

  /** OPTIMIZE fires when > 10% of a snapshot's rows ride small
    * append-commit files (micro-units, the q208/q215/q219 decision-bit
    * pattern): streamed ingest lands one file per append commit, and
    * at 1000-executor scale the read amplification of many small
    * files — not the row count — is what degrades a serve scan. */
  private[graft] val OptimizeThresh6 = 100000L

  /** one manifest row. A commit marker (action='commit') records the
    * commit's kind even when it changed no files (an unfired
    * OPTIMIZE); file actions (add/remove × data/tomb) carry the path,
    * the writing cause (base/append/vacuum/optimize/takedown), the
    * file's row count at write time, and — for data files — the
    * file's key ZONE MAP (min/max key at write time) — so snapshot
    * row counts, the OPTIMIZE debt decision, outstanding-tombstone
    * counts, AND file pruning for a key-range read (q224) are
    * driver-side manifest arithmetic, never a scan. */
  private[graft] final case class ManRow(artifact: String, version: Long,
    kind: String, action: String, fileKind: String, cause: String,
    path: String, nRows: Long, minKey: Option[Long] = None,
    maxKey: Option[Long] = None) {
    /** this file's remove action in commit (v, kind). */
    def removedAt(v: Long, kind: String, cause: String): ManRow =
      ManRow(artifact, v, kind, "remove", fileKind, cause, path, 0L)
  }

  /** the marker row of commit (artifact, v, kind). */
  private def commitOf(artifact: String, v: Long, kind: String): ManRow =
    ManRow(artifact, v, kind, "commit", "", "", "", 0L)

  /** the newest commit of `artifact` (of commit kind `kind` if given). */
  private def headVersion(man: Seq[ManRow], artifact: String,
      kind: String = ""): Long =
    man.filter(m => m.artifact == artifact && m.action == "commit" &&
      (kind.isEmpty || m.kind == kind)).map(_.version).max

  /** one written file dir: its row count and its TRUE key zone map,
    * read back after the write (None on an empty file). */
  private final case class ManFile(path: String, nRows: Long,
      minKey: Option[Long], maxKey: Option[Long]) {
    def add(artifact: String, v: Long, kind: String, cause: String)
        : ManRow =
      ManRow(artifact, v, kind, "add", "data", cause, path, nRows,
        minKey, maxKey)
  }

  /** write `df` under `p` — with `by`, one dir per value of that column
    * (a partitionBy write, which makes NO dir for a value without rows)
    * — and return each written dir's stats from one grouped read-back
    * of the key column. */
  private def writeFiles(s: SparkSession, df: DataFrame, p: String,
      by: Option[String] = None): Seq[ManFile] = {
    val w = df.write.mode("overwrite")
    by.fold(w)(w.partitionBy(_)).parquet(p)
    val dir = by.fold(lit(p))(c =>
      concat(lit(s"$p/$c="), col(c).cast("string")))
    val sch = by.fold(ManTombSchema)(c => ManTombSchema.add(df.schema(c)))
    readMan(s, p, sch).groupBy(by.toSeq.map(col): _*)
      .agg(count(lit(1)).as("n"), min(col("key")).as("mn"),
        max(col("key")).as("mx"))
      .select(dir, col("n"), col("mn"), col("mx"))
      .collect().toSeq
      .map { r =>
        def key(i: Int) = if (r.isNullAt(i)) None else Some(r.getLong(i))
        ManFile(r.getString(0), r.getLong(1), key(2), key(3))
      }
      .sortBy(_.path)
  }

  /** rewrite, in one pass, the files of `files` that hold a key of
    * `hits`: each row is tagged with its file index `fi` and a `hit`
    * flag, ONE aggregate finds the touched indices, and ONE write
    * partitioned by `fi` lays down every touched file's `keep` rows
    * projected to `cols`. Returns each touched file with its rewrite,
    * in file order — a rewrite that keeps no rows included, as an
    * empty dir (the partitioned write makes none). */
  private def rewriteTouched(s: SparkSession, files: Seq[ManRow],
      hits: DataFrame, p: String, keep: Column, cols: Seq[Column])
      : Seq[(ManRow, ManFile)] = {
    if (files.isEmpty) return Seq.empty
    val tagged = files.zipWithIndex
      .map { case (f, i) =>
        readMan(s, f.path, ManDataSchema).withColumn("fi", lit(i)) }
      .reduce(_ unionByName _)
      .join(broadcast(hits.withColumn("hit", lit(1))), Seq("key"), "left")
    val touched = tagged.filter(col("hit") === 1).select(col("fi"))
      .distinct().collect().map(_.getInt(0)).sorted.toSeq
    if (touched.isEmpty) return Seq.empty
    val written = writeFiles(s,
      tagged.filter(col("fi").isin(touched: _*) && keep)
        .select(cols :+ col("fi"): _*),
      p, Some("fi")).map(f => f.path -> f).toMap
    touched.map { i =>
      val d = s"$p/fi=$i"
      files(i) -> written.getOrElse(d, {
        new java.io.File(d).mkdirs()
        ManFile(d, 0L, None, None)
      })
    }
  }

  /** the ONE manifest write: the log's rows as one parquet file under
    * `out`/manifest, snake_case columns in ManRow's field order. */
  private[graft] def writeManifest(s: SparkSession, out: String,
      rows: Seq[ManRow]): Unit = {
    import s.implicits._
    rows.toDF("artifact", "version", "kind", "action", "file_kind",
        "cause", "path", "n_rows", "min_key", "max_key")
      .repartition(1).write.mode("overwrite")
      .parquet(s"$out/manifest")
  }

  /** an extension log (once per upstream log): the log at `mdir`
    * untouched, plus `extend(man, artifact, out)`'s commits for each
    * artifact, in a SEPARATE manifest dir — old versions keep reading
    * from their own file sets. */
  private def extensionDir(s: SparkSession, mdir: String, prefix: String)(
      extend: (Seq[ManRow], String, String) => Seq[ManRow]): String = {
    val man = manifestRowsOf(s, mdir)
    val out = graft.Scratch.tempDirDeletedOnExit(prefix)
    writeManifest(s, out, man ++ man.map(_.artifact).distinct.sorted
      .flatMap(a => extend(man, a, out)))
    out
  }

  private[graft] val manifest = graft.Artifacts[String]("manifest_build")

  /** build (once per corpus snapshot) the manifest-logged timeline for
    * all three served artifact families over the interleave feeds: v0 base,
    * v1 append A1, v2 takedown D1, v3 append A2, v4 OPTIMIZE,
    * v5 takedown D2. Appends are ingest-screened against the full
    * takedown HISTORY (q199 discipline — the compliance list outlives
    * every vacuum); takedown commits evaluate the q215 vacuum bit
    * (append and OPTIMIZE commits only dilute or preserve the dead
    * fraction, so they cannot newly fire it); the OPTIMIZE commit
    * evaluates the small-file debt bit. */
  private[graft] def manifestLogDir(s: SparkSession, dir: String)
      : String =
    manifest(s, dir, graft.Tables.fingerprint(s"$dir/documents.parquet"),
        graft.Tables.fingerprint(s"$dir/embeddings.parquet")) {
      val out = graft.Scratch.tempDirDeletedOnExit("graft_manifest")
      val feedScratch =
        java.nio.file.Files.createTempDirectory("graft_manfeed").toString
      try {
        // the folds share no state and each writes under out/<artifact>
        // — overlap them (the q220 pattern); rows keep artifact order
        writeManifest(s, out, graft.Scratch.parMap(
            interleaveTimelines(s, dir, feedScratch), 3) {
            case (name, base, events, key) =>
              buildOneManifest(s, name, base,
                events.patch(3, Seq("optimize" -> (null: DataFrame)), 0),
                key, out)
          }.flatten)
      } finally graft.Scratch.deleteRecursively(
        new java.io.File(feedScratch))
      out
    }

  /** buckets per full-rewrite commit. A fired vacuum or OPTIMIZE
    * rewrites the whole snapshot anyway, so the rewrite CLUSTERS it:
    * range-partitioned bucket files whose manifest zone maps are
    * disjoint — which is what makes zone-map pruning (q224) bite.
    * Appends land unclustered (one file, full-span zone map): at
    * ingest there is nothing to sort against, exactly a lakehouse
    * OPTIMIZE/CLUSTER BY posture. 4 shows the mechanism at test SF;
    * a 100 TB table would carry thousands. */
  private[graft] val ClusterBuckets = 4L

  /** the ONE data-file schema every manifest data file carries (k cast
    * to string so the three artifact families share it), and the
    * tombstone-file schema — reads use these EXPLICITLY so a
    * legitimately-empty file (a fully-screened append commit) stays
    * readable without footer inference. */
  private[graft] val ManDataSchema = org.apache.spark.sql.types
    .StructType.fromDDL("key BIGINT, k STRING, c1 BIGINT, c2 BIGINT")
  private[graft] val ManTombSchema = org.apache.spark.sql.types
    .StructType.fromDDL("key BIGINT")

  private def readMan(s: SparkSession, path: String,
      sch: org.apache.spark.sql.types.StructType): DataFrame =
    s.read.schema(sch).parquet(path)

  /** multi-path manifest read: ONE scan relation over all paths
    * (explicit schema, no footer inference) instead of a unionByName
    * chain — a snapshot over many small clustered files costs one
    * file-scan node, not one plan subtree per file. */
  private def readManAll(s: SparkSession, paths: Seq[String],
      sch: org.apache.spark.sql.types.StructType): DataFrame =
    s.read.schema(sch).parquet(paths: _*)

  /** fold one artifact's event timeline into versioned data/tombstone
    * files + manifest entries under `out`. Per append/takedown commit
    * the only artifact-sized work is ONE scan (the screened-append
    * anti-join write, or the dead-count semi-join against the
    * broadcast outstanding store); fired vacuums/compactions add one
    * full-snapshot write — exactly the q215/q220 cost model, now with
    * the log rows that keep old versions readable. */
  private[graft] def buildOneManifest(s: SparkSession, artifact: String,
      base: DataFrame, events: Seq[(String, DataFrame)], key: String,
      out: String): Vector[ManRow] = {
    var entries = Vector.empty[ManRow]
    var v = 0L
    def slim(df: DataFrame) =
      df.select(col(key).cast("long").as("key"),
        col("k").cast("string").as("k"),
        col("c1").cast("long").as("c1"), col("c2").cast("long").as("c2"))
    def at(cause: String) = s"$out/$artifact/v${v}_$cause"
    // a full-rewrite commit (fired vacuum / OPTIMIZE) clusters: range-
    // bucketed files over the rewrite's own key span, one manifest
    // entry per non-empty bucket with a tight, disjoint zone map
    def writeClustered(slimDf: DataFrame, kind: String, cause: String)
        : Vector[ManRow] = {
      val bounds = slimDf.agg(min(col("key")), max(col("key"))).head()
      val parts =
        if (bounds.isNullAt(0)) // empty rewrite: one empty file
          writeFiles(s, slimDf, at(cause))
        else {
          val mn = bounds.getLong(0)
          val span = bounds.getLong(1) - mn + 1L
          val width = (span + ClusterBuckets - 1L) / ClusterBuckets
          writeFiles(s, slimDf.withColumn("b",
            expr(s"CAST((key - $mn) DIV $width AS INT)")), at(cause),
            Some("b"))
        }
      parts.map(_.add(artifact, v, kind, cause)).toVector
    }
    def fileRows(files: Seq[ManRow]) =
      readManAll(s, files.map(_.path), ManDataSchema)
    def tombRows(files: Seq[ManRow]) =
      readManAll(s, files.map(_.path), ManTombSchema)

    var data = Vector.empty[ManRow] // the visible files' add rows
    var tombs = Vector.empty[ManRow]
    var history = Vector.empty[DataFrame]

    data :+= writeFiles(s, slim(base), at("base")).head
      .add(artifact, 0L, "base", "base")
    entries ++= Seq(commitOf(artifact, 0L, "base"), data.head)

    for ((kind, df) <- events) {
      v += 1
      entries :+= commitOf(artifact, v, kind)
      kind match {
        case "append" =>
          val screened =
            if (history.isEmpty) slim(df)
            else slim(df).join(
              broadcast(history.reduce(_ unionByName _)),
              Seq("key"), "left_anti")
          data :+= writeFiles(s, screened, at("append")).head
            .add(artifact, v, kind, "append")
          entries :+= data.last
        case "takedown" =>
          val t = writeFiles(s, df.select(col(key).cast("long").as("key")),
            at("tomb")).head
          tombs :+= ManRow(artifact, v, kind, "add", "tomb", "takedown",
            t.path, t.nRows)
          entries :+= tombs.last
          history :+= readMan(s, t.path, ManTombSchema)
          // the vacuum bit: manifest arithmetic for the total, ONE
          // semi-join scan against the broadcast outstanding store
          // for the dead count
          val total = data.map(_.nRows).sum
          val dead = fileRows(data)
            .join(broadcast(tombRows(tombs)), Seq("key"), "left_semi")
            .count()
          val frac6 = if (total > 0) dead * 1000000L / total else 0L
          if (frac6 > VacuumThresh6) {
            // checkpoint: writeClustered makes two passes (bounds,
            // then the bucketed write) — don't re-run the anti-join
            // lineage per pass
            val live = fileRows(data)
              .join(broadcast(tombRows(tombs)), Seq("key"), "left_anti")
              .localCheckpoint(true)
            val parts = writeClustered(live, kind, "vacuum")
            entries ++= (data ++ tombs).map(_.removedAt(v, kind, "vacuum"))
            entries ++= parts
            data = parts
            tombs = Vector.empty
          }
        case "optimize" =>
          // small-file debt: pure manifest arithmetic, no scan
          val total = data.map(_.nRows).sum
          val debt = data.filter(_.cause == "append").map(_.nRows).sum
          val debt6 = if (total > 0) debt * 1000000L / total else 0L
          if (debt6 > OptimizeThresh6) {
            val parts = writeClustered(fileRows(data), kind, "optimize")
            entries ++= data.map(_.removedAt(v, kind, "optimize"))
            entries ++= parts
            data = parts
          }
        case other =>
          throw new IllegalArgumentException(s"unknown commit: $other")
      }
    }
    entries
  }

  /** the commit log, collected driver-side: bounded by files-ever-
    * written (≤ ~20 rows per artifact on this timeline), never by
    * data. */
  private[graft] def manifestRowsOf(s: SparkSession, mdir: String)
      : Seq[ManRow] =
    graft.Tables.parquetCached(s, s"$mdir/manifest").collect().toSeq
      .map(r => ManRow(r.getString(0), r.getLong(1), r.getString(2),
        r.getString(3), r.getString(4), r.getString(5), r.getString(6),
        r.getLong(7),
        if (r.isNullAt(8)) None else Some(r.getLong(8)),
        if (r.isNullAt(9)) None else Some(r.getLong(9))))
      .sortBy(m => (m.artifact, m.version, m.action, m.path))

  /** the files visible at (artifact, version): adds ≤ v minus removes
    * ≤ v — a snapshot read folds the LOG, never the data. */
  private[graft] def snapshotFiles(man: Seq[ManRow], artifact: String,
      v: Long, fileKind: String): Seq[ManRow] = {
    val rel = man.filter(m => m.artifact == artifact &&
      m.version <= v && m.fileKind == fileKind)
    val removed = rel.filter(_.action == "remove").map(_.path).toSet
    rel.filter(m => m.action == "add" && !removed.contains(m.path))
  }

  /** snapshot read at (artifact, version): the visible data files with
    * a dd flag from the visible tombstone files (merge-on-read). Fails
    * loudly on an expired snapshot rather than serving a partial
    * state. Key-based tombstones suffice because the ingest screen
    * guarantees a tombstoned key is never re-added by a later append,
    * and the MERGE verb (q227) is copy-on-write — it rewrites files
    * rather than tombstoning + re-adding, so no same-key
    * add-after-delete ever becomes visible. */
  private[graft] def snapshotAt(s: SparkSession, man: Seq[ManRow],
      artifact: String, v: Long): DataFrame = {
    val dataF = snapshotFiles(man, artifact, v, "data")
    require(dataF.nonEmpty,
      s"no data files visible for $artifact@v$v")
    val tombF = snapshotFiles(man, artifact, v, "tomb")
    (dataF ++ tombF).foreach(m => require(
      new java.io.File(m.path).exists(),
      s"snapshot $artifact@v$v references expired file ${m.path}"))
    val data = readManAll(s, dataF.map(_.path), ManDataSchema)
    if (tombF.isEmpty) data.withColumn("dd", lit(null).cast("int"))
    else data.join(
      broadcast(readManAll(s, tombF.map(_.path), ManTombSchema)
        .select(col("key")).distinct()
        .withColumn("dd", lit(1))),
      Seq("key"), "left")
  }

  /** the destructive retention verb (spec-exercised, not a gate):
    * physically delete every file not visible from any version >=
    * keepFrom; snapshot reads below the horizon then fail loudly via
    * snapshotAt's existence check. */
  private[graft] def expireSnapshots(s: SparkSession, mdir: String,
      keepFrom: Long): Unit = {
    val man = manifestRowsOf(s, mdir)
    val arts = man.map(_.artifact).distinct
    val maxV = man.map(_.version).max
    val keep = arts.flatMap(a => (keepFrom to maxV).flatMap(v =>
      snapshotFiles(man, a, v, "data") ++
        snapshotFiles(man, a, v, "tomb"))).map(_.path).toSet
    man.filter(_.action == "add").map(_.path).distinct
      .filterNot(keep.contains)
      .foreach(p => graft.Scratch.deleteRecursively(new java.io.File(p)))
  }

  private def q221(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val mdir = manifestLogDir(s, dir)
    val man = manifestRowsOf(s, mdir)
    val arts = man.map(_.artifact).distinct.sorted
    val cells = for {
      a <- arts
      vv <- man.filter(m => m.artifact == a && m.action == "commit")
        .map(_.version).sorted
    } yield (a, vv)
    // each (artifact, version) snapshot digest is one bounded
    // multi-path scan + driver-side log arithmetic, fully independent
    // of the others — overlap them (guide §2.6) instead of paying 18
    // sequential job latencies
    val rows = graft.Scratch.parMap(cells, 6) { case (a, vv) =>
      val kind = man.find(m => m.artifact == a && m.version == vv &&
        m.action == "commit").get.kind
      def firedCause(c: String) = man.exists(m => m.artifact == a &&
        m.version == vv && m.action == "add" && m.cause == c)
      // the OPTIMIZE decision input, re-derived from the LOG by the
      // reader (not trusted from the builder): append-cause rows over
      // total rows among the files visible entering the commit
      val debt6 = if (kind != "optimize") 0L else {
        val prev = snapshotFiles(man, a, vv - 1, "data")
        val tot = prev.map(_.nRows).sum
        if (tot > 0)
          prev.filter(_.cause == "append").map(_.nRows).sum *
            1000000L / tot
        else 0L
      }
      val tombOut = snapshotFiles(man, a, vv, "tomb").map(_.nRows).sum
      val r = snapshotAt(s, man, a, vv).agg(
        count(lit(1)),
        coalesce(sum(when($"dd" === 1, 1L)), lit(0L)),
        coalesce(sum(when($"dd".isNull, $"c1")), lit(0L)),
        coalesce(sum(when($"dd".isNull, $"c2")), lit(0L)),
        countDistinct(when($"dd".isNull, $"k"))).head()
      val total = r.getLong(0)
      val dead = r.getLong(1)
      (a, vv, kind, firedCause("vacuum"), firedCause("optimize"),
        debt6, total, dead,
        if (total > 0) dead * 1000000L / total else 0L,
        total - dead, r.getLong(4), r.getLong(2), r.getLong(3),
        tombOut)
    }
    rows.toDF("artifact", "version", "kind", "vacuumed", "optimized",
        "debt_frac6", "rows_present", "rows_dead", "dead_frac6",
        "rows_live", "keys_live", "chk1_live", "chk2_live",
        "tomb_outstanding")
      .orderBy($"artifact", $"version")
  }

  /** the logical CDC deltas one commit produces — ONE spelling shared
    * by the q222 feed and the q223 view-maintenance consumer, so the
    * producer and the consumer cannot disagree about what changed:
    * adds = exactly the rows the commit's append files carry (all
    * live at admission — the ingest screen guarantees it); removes =
    * the commit's tombstone keys against the PRIOR snapshot's live
    * rows. A vacuum firing in the same commit changes nothing (CDC is
    * the logical diff); OPTIMIZE commits produce (None, None). */
  private[graft] def cdcDeltasAt(s: SparkSession, man: Seq[ManRow],
      artifact: String, v: Long)
      : (Option[DataFrame], Option[DataFrame]) = {
    val af = man.filter(m => m.artifact == artifact && m.version == v &&
      m.action == "add" && m.cause == "append")
    val adds =
      if (af.isEmpty) None
      else Some(readManAll(s, af.map(_.path), ManDataSchema))
    val tf = man.filter(m => m.artifact == artifact && m.version == v &&
      m.action == "add" && m.fileKind == "tomb")
    val removes =
      if (tf.isEmpty) None
      else Some(snapshotAt(s, man, artifact, v - 1)
        .filter(col("dd").isNull).drop("dd")
        .join(broadcast(readManAll(s, tf.map(_.path), ManTombSchema)
          .select(col("key")).distinct()),
          Seq("key"), "left_semi"))
    (adds, removes)
  }

  private def q222(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val mdir = manifestLogDir(s, dir)
    val man = manifestRowsOf(s, mdir)
    val arts = man.map(_.artifact).distinct.sorted
    def agg4(df: DataFrame): (Long, Long, Long, Long) = {
      val r = df.agg(count(lit(1)), countDistinct($"k"),
        coalesce(sum($"c1"), lit(0L)),
        coalesce(sum($"c2"), lit(0L))).head()
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }
    val zero = (0L, 0L, 0L, 0L)
    val cells = for {
      a <- arts
      vv <- man.filter(m => m.artifact == a && m.action == "commit")
        .map(_.version).sorted if vv >= 1
    } yield (a, vv)
    // per-commit CDC digests are delta-sized and independent across
    // (artifact, version) — overlap them (guide §2.6)
    val rows = graft.Scratch.parMap(cells, 6) { case (a, vv) =>
      val kind = man.find(m => m.artifact == a && m.version == vv &&
        m.action == "commit").get.kind
      val (adds, removes) = cdcDeltasAt(s, man, a, vv)
      val added = adds.map(agg4).getOrElse(zero)
      val removed = removes.map(agg4).getOrElse(zero)
      (a, vv, kind, added._1, added._2, added._3, added._4,
        removed._1, removed._2, removed._3, removed._4)
    }
    rows.toDF("artifact", "version", "kind", "rows_added",
        "keys_added", "chk1_added", "chk2_added", "rows_removed",
        "keys_removed", "chk1_removed", "chk2_removed")
      .orderBy($"artifact", $"version")
  }

  /** incremental materialized-view maintenance off the CDC feed: the
    * per-k aggregate view (n rows, Σc1, Σc2 over LIVE rows) is built
    * ONCE from the base version and then maintained purely from each
    * commit's logical deltas — after v0 the fold never reads a
    * snapshot again (that is the point of IVM: the delta is commit-
    * sized, the recompute is corpus-sized). Returns, per version, the
    * commit kind, the number of view rows the delta touched, and the
    * maintained view. Per commit the only work is ONE shuffle on k of
    * the delta + the merge join — at 1000 executors that is the
    * delta-proportional cost a recompute-per-commit pipeline lacks.
    * q223 gates every maintained state ≡ full recompute via the
    * oracle's per-version live aggregates. */
  private[graft] def mvFold(s: SparkSession, man: Seq[ManRow],
      artifact: String): Seq[(Long, String, Long, DataFrame)] = {
    import s.implicits._
    val versions = man.filter(m => m.artifact == artifact &&
      m.action == "commit").sortBy(_.version)
    var mv = snapshotAt(s, man, artifact, versions.head.version)
      .filter($"dd".isNull)
      .groupBy($"k").agg(count(lit(1)).as("n"),
        sum($"c1").as("s1"), sum($"c2").as("s2"))
      .localCheckpoint(true)
    val out = Seq.newBuilder[(Long, String, Long, DataFrame)]
    out += ((versions.head.version, versions.head.kind, 0L, mv))
    for (c <- versions.tail) {
      val (adds, removes) = cdcDeltasAt(s, man, artifact, c.version)
      val delta = (adds.map(_.withColumn("sgn", lit(1L))).toSeq ++
        removes.map(_.withColumn("sgn", lit(-1L))).toSeq)
        .reduceOption(_ unionByName _)
        .map(_.groupBy($"k").agg(sum($"sgn").as("dn"),
          sum($"sgn" * $"c1").as("d1"), sum($"sgn" * $"c2").as("d2"))
          .localCheckpoint(true))
      val touched = delta.map(_.count()).getOrElse(0L)
      delta.foreach { d =>
        mv = mv.join(d, Seq("k"), "full_outer")
          .select($"k",
            (coalesce($"n", lit(0L)) + coalesce($"dn", lit(0L)))
              .as("n"),
            (coalesce($"s1", lit(0L)) + coalesce($"d1", lit(0L)))
              .as("s1"),
            (coalesce($"s2", lit(0L)) + coalesce($"d2", lit(0L)))
              .as("s2"))
          .filter($"n" > 0)
          .localCheckpoint(true)
      }
      out += ((c.version, c.kind, touched, mv))
    }
    out.result()
  }

  private def q223(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val mdir = manifestLogDir(s, dir)
    val man = manifestRowsOf(s, mdir)
    val arts = man.map(_.artifact).distinct.sorted
    // the per-artifact IVM folds are ordered WITHIN an artifact but
    // independent ACROSS artifacts — overlap the three folds (guide
    // §2.6); the per-version digests of each fold's checkpointed
    // views are likewise independent once the fold is done
    val rows = graft.Scratch.parMap(arts, arts.size) { a =>
      graft.Scratch.parMap(mvFold(s, man, a), 3) {
        case (v, kind, touched, mv) =>
          val r = mv.agg(count(lit(1)), coalesce(sum($"s1"), lit(0L)),
            coalesce(sum($"s2"), lit(0L))).head()
          (a, v, kind, touched, r.getLong(0), r.getLong(1),
            r.getLong(2))
      }
    }.flatten
    rows.toDF("artifact", "version", "kind", "mv_rows_touched",
        "mv_rows", "mv_chk1", "mv_chk2")
      .orderBy($"artifact", $"version")
  }

  /** q223's oracle rows: the maintained view's digest at version v
    * must equal the FULL RECOMPUTE over that version's live rows —
    * which is exactly the stat CTE's live aggregate family (kl/c1l/
    * c2l), plus the touched counts from the CDC stat sets. */
  private def mvUnionSql(stat: String, cdc: String, artifact: String)
      : String = {
    def row(v: Int, kind: String, touched: String, n: Int) =
      s"""SELECT '$artifact' AS artifact,
         | CAST($v AS BIGINT) AS version, '$kind' AS kind,
         | $touched AS mv_rows_touched, s.kl$n AS mv_rows,
         | s.c1l$n AS mv_chk1, s.c2l$n AS mv_chk2
         |FROM $stat s, $cdc c""".stripMargin
    Seq(row(0, "base", "CAST(0 AS BIGINT)", 0),
      row(1, "append", "c.k_a1", 1),
      row(2, "takedown", "c.k_d1", 2),
      row(3, "append", "c.k_a2", 3),
      row(4, "optimize", "CAST(0 AS BIGINT)", 3),
      row(5, "takedown", "c.k_d2", 4)).mkString("\nUNION ALL\n")
  }

  private lazy val q223Sql =
    s"""WITH $interleaveClsPreambleSql,
       |${interleaveStatSql("dstat", "dcls")},
       |${interleaveStatSql("cstat", "ccls")},
       |${interleaveStatSql("astat", "acls")},
       |${cdcStatSql("acdc", "acls")},
       |${cdcStatSql("ccdc", "ccls")},
       |${cdcStatSql("dcdc", "dcls")}
       |SELECT * FROM (
       |SELECT * FROM (${mvUnionSql("astat", "acdc", "ann_codes")})
       |UNION ALL
       |SELECT * FROM (${mvUnionSql("cstat", "ccdc", "chunk_postings")})
       |UNION ALL
       |SELECT * FROM (${mvUnionSql("dstat", "dcdc", "doc_postings")}))
       |ORDER BY artifact, version""".stripMargin

  // ───── q224: zone-map data skipping over the manifest log ─────
  //
  // The point of carrying per-file min/max key stats in the manifest
  // (the Delta/Iceberg/Parquet-footer zone-map idea): a key-range read
  // selects its file set from the LOG — driver-side arithmetic over
  // ≤ tens of manifest rows — and never opens the files it pruned. At
  // 100 TB the serve-path win is exactly this: a range probe over a
  // clustered table touches O(selectivity) files, not O(table). The
  // gate publishes the PHYSICAL evidence (files_visible/files_scanned/
  // rows_read per probe) alongside the logical result, and the oracle
  // re-derives both from the commit recurrence — file counts included —
  // so a reader that silently fell back to scanning everything would
  // hash-mismatch, not just run slow.

  /** the three probes per artifact, derived from the SOURCE corpus key
    * range (not the artifact state) so Spark and the oracle trivially
    * agree: a low eighth, a middle quarter, and the full span (the
    * control — it must scan every non-empty visible file). */
  private def skipProbesOf(mn: Long, mx: Long): Seq[(Long, Long, Long)] = {
    val span = mx - mn
    Seq((1L, mn, mn + span / 8L),
      (2L, mn + 3L * span / 8L, mn + 5L * span / 8L),
      (3L, mn, mx))
  }

  private def q224(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val mdir = manifestLogDir(s, dir)
    val man = manifestRowsOf(s, mdir)
    val arts = man.map(_.artifact).distinct.sorted
    def rangeOf(table: String, key: String): (Long, Long) = {
      val r = graft.Tables.parquetCached(s, s"$dir/$table.parquet")
        .agg(min(col(key).cast("long")), max(col(key).cast("long")))
        .head()
      (r.getLong(0), r.getLong(1))
    }
    val (dmn, dmx) = rangeOf("documents", "doc_id")
    val (vmn, vmx) = rangeOf("embeddings", "vec_id")
    val rows = for {
      a <- arts
      (pid, lo, hi) <- {
        val (mn, mx) = if (a == "ann_codes") (vmn, vmx) else (dmn, dmx)
        skipProbesOf(mn, mx)
      }
    } yield {
      val head = headVersion(man, a)
      val vis = snapshotFiles(man, a, head, "data")
        .filter(_.nRows > 0L)
      // the prune: zone-map intersection against the LOG, no file
      // opened — this is the only file-selection step the read has
      val scanned = vis.filter(f =>
        f.minKey.exists(_ <= hi) && f.maxKey.exists(_ >= lo))
      val rowsRead = scanned.map(_.nRows).sum
      val tombF = snapshotFiles(man, a, head, "tomb")
      val (nLive, kLive, c1, c2) =
        if (scanned.isEmpty) (0L, 0L, 0L, 0L)
        else {
          val dat = readManAll(s, scanned.map(_.path), ManDataSchema)
            .filter(col("key") >= lo && col("key") <= hi)
          val live =
            if (tombF.isEmpty) dat
            else dat.join(
              broadcast(readManAll(s, tombF.map(_.path), ManTombSchema)
                .select(col("key")).distinct()),
              Seq("key"), "left_anti")
          val r = live.agg(count(lit(1)), countDistinct(col("k")),
            coalesce(sum(col("c1")), lit(0L)),
            coalesce(sum(col("c2")), lit(0L))).head()
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
        }
      (a, pid, lo, hi, vis.size.toLong, scanned.size.toLong,
        (vis.size - scanned.size).toLong, rowsRead, nLive, kLive,
        c1, c2)
    }
    rows.toDF("artifact", "probe", "lo", "hi", "files_visible",
        "files_scanned", "files_skipped", "rows_read", "rows_live",
        "keys_live", "chk1_live", "chk2_live")
      .orderBy($"artifact", $"probe")
  }

  /** q224's oracle file stats: per-file zone maps re-derived from the
    * row classes. Single-file commits (base, A1, screened A2) and the
    * three possible clustered rewrites (V2 = live-after-D1, O4 =
    * present-at-v3, V5 = live-at-head), each rewrite bucketed over its
    * own key span exactly as writeClustered buckets it. */
  /** the upsert pick, the ONE cross-engine spelling (q227's U set):
    * live keys whose md5('upsert:'||key) leads with '0' — ~1/16. */
  private[graft] val UpsertHexSql =
    "substr(md5('upsert:' || CAST(key AS VARCHAR)), 1, 1) = '0'"

  private def zoneStatSql(p: String, clsCte: String): String = {
    val h0 = Takedown.Waves(0)
    val h1 = Takedown.Waves(1)
    val B = ClusterBuckets
    // matched = live at head AND upsert-picked: the rows q227's
    // copy-on-write MERGE transforms; per-file matched counts decide
    // which files the merge must rewrite
    val um = s"phex NOT IN ('$h0','$h1') AND $UpsertHexSql"
    val preds = Seq(
      "b" -> "cls = 'b'",
      "a1" -> "cls = 'a1'",
      "a2s" -> s"cls = 'a2' AND phex <> '$h0'",
      "l2" -> s"cls IN ('b','a1') AND phex <> '$h0'",
      "l5" -> s"phex NOT IN ('$h0','$h1')",
      "p3v" -> s"phex <> '$h0'",
      "p3n" -> s"NOT (cls = 'a2' AND phex = '$h0')")
    val lv = s"phex NOT IN ('$h0','$h1')"
    val singles = preds.map { case (n, pr) =>
      s"""  CAST(count(*) FILTER ($pr) AS BIGINT) AS n_$n,
         |  min(key) FILTER ($pr) AS mn_$n,
         |  max(key) FILTER ($pr) AS mx_$n,
         |  CAST(count(*) FILTER ($pr AND $um) AS BIGINT) AS um_$n,
         |  CAST(count(*) FILTER ($pr AND $lv) AS BIGINT)
         |    AS lv_$n""".stripMargin
    }.mkString(",\n")
    def width(mn: String, mx: String) = s"(($mx - $mn + $B) // $B)"
    val famPred = Map("l2" -> preds.toMap.apply("l2"),
      "l5" -> preds.toMap.apply("l5"))
    def buckets(fam: String, pred: String, mnCol: String,
        wCol: String, tag: String) =
      (0L until B).map { i =>
        val in = s"$pred AND (c.key - zz.$mnCol) // zz.$wCol = $i"
        s"""  CAST(count(*) FILTER ($in) AS BIGINT) AS n${tag}_$i,
           |  min(c.key) FILTER ($in) AS mn${tag}_$i,
           |  max(c.key) FILTER ($in) AS mx${tag}_$i,
           |  CAST(count(*) FILTER ($in AND $um) AS BIGINT)
           |    AS um${tag}_$i,
           |  CAST(count(*) FILTER ($in AND $lv) AS BIGINT)
           |    AS lv${tag}_$i""".stripMargin
      }.mkString(",\n")
    s"""${p}z1 AS (SELECT
       |$singles
       | FROM $clsCte),
       |${p}z2 AS (SELECT z.*, f.vac2, f.opt4, f.vac5,
       |  CASE WHEN f.vac2 THEN z.mn_p3v ELSE z.mn_p3n END AS mn_p3,
       |  CASE WHEN f.vac2 THEN z.mx_p3v ELSE z.mx_p3n END AS mx_p3,
       |  ${width("z.mn_l2", "z.mx_l2")} AS w_l2,
       |  ${width("z.mn_l5", "z.mx_l5")} AS w_l5,
       |  ${width(s"(CASE WHEN f.vac2 THEN z.mn_p3v ELSE z.mn_p3n END)",
          s"(CASE WHEN f.vac2 THEN z.mx_p3v ELSE z.mx_p3n END)")} AS w_p3
       | FROM ${p}z1 z, ${p}fin f),
       |${p}z3 AS (SELECT
       |${buckets("l2", famPred("l2"), "mn_l2", "w_l2", "2")},
       |${buckets("l5", famPred("l5"), "mn_l5", "w_l5", "5")},
       |${buckets("p3",
          s"(CASE WHEN zz.vac2 THEN phex <> '$h0' " +
            s"ELSE NOT (cls = 'a2' AND phex = '$h0') END)",
          "mn_p3", "w_p3", "p")}
       | FROM $clsCte c, ${p}z2 zz)""".stripMargin
  }

  /** q224's oracle probes + live aggregates + the head-file-set CASE:
    * which files exist, which intersect, how many physical rows they
    * carry — branch-faithful to the commit recurrence (vac5 ? V5
    * buckets : opt4 ? O4 buckets : vac2 ? V2 buckets + A2 : the three
    * unclustered commit files). */
  private def skipSelectSql(p: String, clsCte: String, artifact: String,
      kPfx: String): String = {
    val h0 = Takedown.Waves(0)
    val h1 = Takedown.Waves(1)
    val B = ClusterBuckets
    val livePred = s"c.phex NOT IN ('$h0','$h1') " +
      "AND c.key >= pr.lo AND c.key <= pr.hi"
    def nz(n: String) = s"CASE WHEN $n > 0 THEN 1 ELSE 0 END"
    def hit(n: String, mn: String, mx: String) =
      s"$n > 0 AND $mn <= lv.hi AND $mx >= lv.lo"
    def scn(n: String, mn: String, mx: String) =
      s"CASE WHEN ${hit(n, mn, mx)} THEN 1 ELSE 0 END"
    def rd(n: String, mn: String, mx: String) =
      s"CASE WHEN ${hit(n, mn, mx)} THEN $n ELSE 0 END"
    def fam(f: (String, String, String) => String, tag: String) =
      (0L until B).map(i =>
        f(s"z3.n${tag}_$i", s"z3.mn${tag}_$i", s"z3.mx${tag}_$i"))
        .mkString(" + ")
    def sgl(f: (String, String, String) => String, n: String) =
      f(s"z2.n_$n", s"z2.mn_$n", s"z2.mx_$n")
    def branch(f: (String, String, String) => String) =
      s"""CAST(CASE WHEN z2.vac5 THEN ${fam(f, "5")}
         |  WHEN z2.opt4 THEN ${fam(f, "p")}
         |  WHEN z2.vac2 THEN ${fam(f, "2")} + ${sgl(f, "a2s")}
         |  ELSE ${sgl(f, "b")} + ${sgl(f, "a1")} + ${sgl(f, "a2s")}
         |  END AS BIGINT)""".stripMargin
    s"""${p}pr AS (
       | SELECT CAST(1 AS BIGINT) AS probe, ${kPfx}mn AS lo,
       |  ${kPfx}mn + ((${kPfx}mx - ${kPfx}mn) // 8) AS hi FROM kr
       | UNION ALL
       | SELECT CAST(2 AS BIGINT),
       |  ${kPfx}mn + ((3 * (${kPfx}mx - ${kPfx}mn)) // 8),
       |  ${kPfx}mn + ((5 * (${kPfx}mx - ${kPfx}mn)) // 8) FROM kr
       | UNION ALL
       | SELECT CAST(3 AS BIGINT), ${kPfx}mn, ${kPfx}mx FROM kr),
       |${p}lv AS (SELECT pr.probe, pr.lo, pr.hi,
       |  CAST(count(*) FILTER ($livePred) AS BIGINT) AS rows_live,
       |  CAST(count(DISTINCT c.k) FILTER ($livePred) AS BIGINT)
       |    AS keys_live,
       |  CAST(coalesce(sum(c.c1) FILTER ($livePred), 0) AS BIGINT)
       |    AS chk1_live,
       |  CAST(coalesce(sum(c.c2) FILTER ($livePred), 0) AS BIGINT)
       |    AS chk2_live
       | FROM ${p}pr pr LEFT JOIN $clsCte c ON TRUE
       | GROUP BY pr.probe, pr.lo, pr.hi),
       |${p}sk AS (SELECT '$artifact' AS artifact, lv.probe, lv.lo,
       |  lv.hi,
       |  ${branch((n, _, _) => nz(n))} AS files_visible,
       |  ${branch(scn)} AS files_scanned,
       |  ${branch((n, mn, mx) => nz(n))} - ${branch(scn)}
       |    AS files_skipped,
       |  ${branch(rd)} AS rows_read,
       |  lv.rows_live, lv.keys_live, lv.chk1_live, lv.chk2_live
       | FROM ${p}lv lv, ${p}z2 z2, ${p}z3 z3)""".stripMargin
  }

  // ───── q226: optimistic concurrency on the manifest log ─────
  //
  // Multi-writer safety, the way a lakehouse commit protocol provides
  // it (Delta/Iceberg OCC re-expressed over our log): a writer
  // PREPARES its commit against the snapshot it read, then VALIDATES
  // at commit time against every commit that landed in between —
  // appends re-check their ingest screen against tombstones added
  // since the read snapshot (REBASE if any of their keys were taken
  // down concurrently), takedowns never key-conflict (tombstones are
  // merge-on-read) but their vacuum-decision INPUT can go stale, so
  // the bit is re-evaluated against the commit-time file set and the
  // sheet publishes read-time vs commit-time fractions plus a
  // decision_changed flag. Two races per artifact over the standard
  // lifecycle feeds: (A: append A1 vs B: takedown D1, B wins, A
  // rebases) then (C: append A2 vs D: takedown D2, C wins, D's stale
  // input is refreshed). Every post-commit live state is gated ≡ the
  // serialized-equivalent event prefix. No vacuum executes here — the
  // storage verbs are q215/q220/q221's gates; q226 gates the PROTOCOL.

  private val occ = graft.Artifacts[String]("occ")

  /** one OCC transaction's bookkeeping row. */
  private[graft] type OccRow = (String, Long, String, String, Long,
    Long, Long, Boolean, Long, Long, Boolean)

  /** run the two OCC races for one artifact, deriving every prepared
    * file from the already-built manifest log (the v1 append file IS
    * writer A's unscreened prepared file — its read snapshot had no
    * tombstone history; the v3 file IS writer C's prepared file — its
    * read snapshot's history was exactly D1): the only new bytes are
    * A's REBASED file (a1 ∖ d1), written once under `out`. */
  private[graft] def occRaces(s: SparkSession, man: Seq[ManRow],
      artifact: String, out: String): Seq[(OccRow, DataFrame)] = {
    def fileOf(v: Long, fileKind: String) = {
      val f = man.filter(m => m.artifact == artifact &&
        m.version == v && m.action == "add" &&
        m.fileKind == fileKind && (fileKind == "tomb" ||
          m.cause == "append" || m.cause == "base"))
      require(f.size == 1, s"$artifact v$v $fileKind: ${f.size} files")
      f.head
    }
    val base = fileOf(0L, "data")
    val a1 = fileOf(1L, "data") // A's prepared file, read snapshot v0
    val d1 = fileOf(2L, "tomb") // B's prepared file, read snapshot v0
    val a2 = fileOf(3L, "data") // C's prepared file (screened vs D1)
    val d2 = fileOf(5L, "tomb") // D's prepared file, read snapshot v2
    def dataDf(paths: Seq[String]) =
      readManAll(s, paths, ManDataSchema)
    def tombDf(paths: Seq[String]) =
      readManAll(s, paths, ManTombSchema)

    // race 1 — B commits v1 first; A validates at head v1: the
    // tombstones added since A's read snapshot hit its prepared keys
    val conflictA = readMan(s, a1.path, ManDataSchema)
      .join(broadcast(readMan(s, d1.path, ManTombSchema)),
        Seq("key"), "left_semi")
      .agg(countDistinct(col("key"))).head().getLong(0)
    val rebasedPath = s"$out/$artifact/occ_a1_rebased"
    val a1Commit =
      if (conflictA > 0L) {
        readMan(s, a1.path, ManDataSchema)
          .join(broadcast(readMan(s, d1.path, ManTombSchema)),
            Seq("key"), "left_anti")
          .write.mode("overwrite").parquet(rebasedPath)
        rebasedPath
      } else a1.path

    // vacuum-bit inputs, micro-units: B's is computed at read == at
    // commit (nothing landed in between); D's read-time input misses
    // C's concurrent append, so it is re-evaluated at commit time
    def frac6(dataPaths: Seq[String], tombPaths: Seq[String]): Long = {
      val total = dataDf(dataPaths).count()
      val dead = dataDf(dataPaths)
        .join(broadcast(tombDf(tombPaths)), Seq("key"), "left_semi")
        .count()
      if (total > 0) dead * 1000000L / total else 0L
    }
    val fracB = frac6(Seq(base.path), Seq(d1.path))
    val fracDRead = frac6(Seq(base.path, a1Commit), Seq(d1.path, d2.path))
    val fracDCommit =
      frac6(Seq(base.path, a1Commit, a2.path), Seq(d1.path, d2.path))

    def state(v: Long, dataPaths: Seq[String], tombPaths: Seq[String]) = {
      val dat = dataDf(dataPaths)
      val live =
        if (tombPaths.isEmpty) dat
        else dat.join(broadcast(tombDf(tombPaths)), Seq("key"),
          "left_anti")
      live
    }
    val thr = VacuumThresh6
    Seq(
      ((artifact, 1L, "B_takedown_d1", "takedown", 0L, 1L, 0L, false,
        fracB, fracB, false),
        state(1L, Seq(base.path), Seq(d1.path))),
      ((artifact, 2L, "A_append_a1", "append", 0L, 2L, conflictA,
        conflictA > 0L, 0L, 0L, false),
        state(2L, Seq(base.path, a1Commit), Seq(d1.path))),
      ((artifact, 3L, "C_append_a2", "append", 2L, 3L, 0L, false,
        0L, 0L, false),
        state(3L, Seq(base.path, a1Commit, a2.path), Seq(d1.path))),
      ((artifact, 4L, "D_takedown_d2", "takedown", 2L, 4L, 0L, false,
        fracDRead, fracDCommit,
        (fracDRead > thr) != (fracDCommit > thr)),
        state(4L, Seq(base.path, a1Commit, a2.path),
          Seq(d1.path, d2.path))))
  }

  private def q226(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val mdir = manifestLogDir(s, dir)
    val man = manifestRowsOf(s, mdir)
    val arts = man.map(_.artifact).distinct.sorted
    val out = occ(s, dir, mdir)(
      graft.Scratch.tempDirDeletedOnExit("graft_occ"))
    // the per-artifact OCC protocols write disjoint rebase paths and
    // share nothing — overlap the three (guide §2.6), and overlap the
    // four post-commit state digests within each
    val rows = graft.Scratch.parMap(arts, arts.size) { a =>
      graft.Scratch.parMap(occRaces(s, man, a, out), 4) {
        case (meta, live) =>
          val r = live.agg(count(lit(1)), countDistinct($"k"),
            coalesce(sum($"c1"), lit(0L)),
            coalesce(sum($"c2"), lit(0L))).head()
          (meta._1, meta._2, meta._3, meta._4, meta._5, meta._6,
            meta._7, meta._8, meta._9, meta._10, meta._11,
            r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      }
    }.flatten
    rows.toDF("artifact", "txn_seq", "txn", "kind", "read_version",
        "committed_version", "conflict_keys", "rebased", "frac6_read",
        "frac6_commit", "decision_changed", "rows_live", "keys_live",
        "chk1_live", "chk2_live")
      .orderBy($"artifact", $"txn_seq")
  }

  private lazy val q226Sql = {
    val h0 = Takedown.Waves(0)
    val h1 = Takedown.Waves(1)
    val thr = VacuumThresh6
    def one(p: String, clsCte: String, artifact: String) = {
      def live(n: Int, pred: String) =
        s"""CAST(count(*) FILTER ($pred) AS BIGINT) AS rl$n,
           |  CAST(count(DISTINCT k) FILTER ($pred) AS BIGINT) AS kl$n,
           |  CAST(coalesce(sum(c1) FILTER ($pred), 0) AS BIGINT)
           |    AS c1l$n,
           |  CAST(coalesce(sum(c2) FILTER ($pred), 0) AS BIGINT)
           |    AS c2l$n""".stripMargin
      // post-commit live predicates: v1 = base − D1; v2 = +rebased A1;
      // v3 = +screened A2; v4 = − D2
      val stat =
        s"""${p}oc AS (SELECT
           |  ${live(1, s"cls = 'b' AND phex <> '$h0'")},
           |  ${live(2, s"cls IN ('b','a1') AND phex <> '$h0'")},
           |  ${live(3, s"phex <> '$h0'")},
           |  ${live(4, s"phex NOT IN ('$h0','$h1')")},
           |  CAST(count(DISTINCT key) FILTER
           |    (cls = 'a1' AND phex = '$h0') AS BIGINT) AS cfa,
           |  CAST(count(*) FILTER (cls = 'b') AS BIGINT) AS n_b,
           |  CAST(count(*) FILTER (cls = 'b' AND phex = '$h0')
           |    AS BIGINT) AS d1_b,
           |  CAST(count(*) FILTER (cls IN ('b','a1')
           |    AND phex <> '$h0') AS BIGINT) AS n_ba1s,
           |  CAST(count(*) FILTER (cls IN ('b','a1')
           |    AND phex = '$h1') AS BIGINT) AS d2_ba1s,
           |  CAST(count(*) FILTER (phex <> '$h0') AS BIGINT)
           |    AS n_all3,
           |  CAST(count(*) FILTER (phex = '$h1') AS BIGINT) AS d2_all
           | FROM $clsCte)""".stripMargin
      // fractions over PHYSICAL files: B at read/commit = d1 hits over
      // the base file; D at read = d2 hits over [base, rebased a1]
      // (both d1-free except base's d1 rows — d1 still outstanding, so
      // dead = d1_b + d2 hits), at commit = + screened a2
      val fr =
        s"""${p}ocf AS (SELECT o.*,
           |  CASE WHEN o.n_b > 0
           |   THEN (o.d1_b * 1000000) // o.n_b
           |   ELSE CAST(0 AS BIGINT) END AS frac_b,
           |  CASE WHEN o.n_ba1s + o.d1_b > 0
           |   THEN ((o.d1_b + o.d2_ba1s) * 1000000)
           |        // (o.n_ba1s + o.d1_b)
           |   ELSE CAST(0 AS BIGINT) END AS frac_d_read,
           |  CASE WHEN o.n_all3 + o.d1_b > 0
           |   THEN ((o.d1_b + o.d2_all) * 1000000)
           |        // (o.n_all3 + o.d1_b)
           |   ELSE CAST(0 AS BIGINT) END AS frac_d_commit
           | FROM ${p}oc o)""".stripMargin
      def row(seq: Int, txn: String, kind: String, readV: Int,
          commitV: Int, cf: String, reb: String, f6r: String,
          f6c: String, dchg: String, n: Int) =
        s"""SELECT '$artifact' AS artifact,
           | CAST($seq AS BIGINT) AS txn_seq, '$txn' AS txn,
           | '$kind' AS kind, CAST($readV AS BIGINT) AS read_version,
           | CAST($commitV AS BIGINT) AS committed_version,
           | $cf AS conflict_keys, $reb AS rebased,
           | $f6r AS frac6_read, $f6c AS frac6_commit,
           | $dchg AS decision_changed,
           | rl$n AS rows_live, kl$n AS keys_live, c1l$n AS chk1_live,
           | c2l$n AS chk2_live
           |FROM ${p}ocf""".stripMargin
      val zero = "CAST(0 AS BIGINT)"
      (Seq(stat, fr),
        Seq(
          row(1, "B_takedown_d1", "takedown", 0, 1, zero, "FALSE",
            "frac_b", "frac_b", "FALSE", 1),
          row(2, "A_append_a1", "append", 0, 2, "cfa", "cfa > 0",
            zero, zero, "FALSE", 2),
          row(3, "C_append_a2", "append", 2, 3, zero, "FALSE",
            zero, zero, "FALSE", 3),
          row(4, "D_takedown_d2", "takedown", 2, 4, zero, "FALSE",
            "frac_d_read", "frac_d_commit",
            s"(frac_d_read > $thr) <> (frac_d_commit > $thr)", 4))
          .mkString("\nUNION ALL\n"))
    }
    val (aC, aR) = one("a", "acls", "ann_codes")
    val (cC, cR) = one("c", "ccls", "chunk_postings")
    val (dC, dR) = one("d", "dcls", "doc_postings")
    s"""WITH $interleaveClsPreambleSql,
       |${(aC ++ cC ++ dC).mkString(",\n")}
       |SELECT * FROM (
       |${Seq(aR, cR, dR).mkString("\nUNION ALL\n")})
       |ORDER BY artifact, txn_seq""".stripMargin
  }

  // ───── q227: copy-on-write MERGE (upsert) on the manifest log ─────
  //
  // The lifecycle verb the log still lacked: UPDATE. A re-ingested
  // revision of existing keys arrives as an upsert; the MERGE commit
  // is COPY-ON-WRITE (the Delta-default posture): every visible data
  // file containing a matched key is REWRITTEN with the matched rows
  // transformed in place, and the manifest swaps old files for new —
  // no tombstone + re-add, so the key-based merge-on-read tombstones
  // stay unambiguous. COW's price is WRITE AMPLIFICATION: updating
  // u rows rewrites every row sharing a file with them, and the gate
  // publishes that ratio (rows_rewritten / rows_updated, micro-units)
  // next to the logical result — on a hash-scattered update set every
  // clustered bucket is touched, which is exactly why real tables
  // choose between COW and MOR per update locality. Oracle re-derives
  // the physical counts (files rewritten per head branch, per-bucket
  // matched rows) AND the updated state from the commit recurrence.

  /** the upsert pick on the Spark side — same spelling as
    * UpsertHexSql. */
  private def upsertPick(c: Column): Column =
    substring(md5(concat(lit("upsert:"), c.cast("string"))), 1, 1) ===
      "0"

  private[graft] val mergeExt = graft.Artifacts[String]("merge_ext")

  /** apply one COW merge commit for `artifact` at head+1: returns the
    * new manifest entries. `pick` selects the updated keys among the
    * head's LIVE keys (the planted spec passes an explicit set; q227
    * passes the md5 upsert pick). The revision transform is
    * c1' = c1 + key, c2' = c2 + 1 — spelled identically in the
    * oracle. */
  private[graft] def mergeCommit(s: SparkSession, man: Seq[ManRow],
      artifact: String, out: String, pick: Column => Column)
      : Seq[ManRow] = {
    val head = headVersion(man, artifact)
    val v = head + 1L
    val u = snapshotAt(s, man, artifact, head)
      .filter(col("dd").isNull)
      .filter(pick(col("key")))
      .select(col("key")).distinct()
      .localCheckpoint(true)
    val vis = snapshotFiles(man, artifact, head, "data")
      .filter(_.nRows > 0L)
    val hit = col("hit") === 1
    // the rewrite also EVOLVES the schema: rewritten files carry a
    // rev column (1 = this revision, 0 = copied verbatim); files
    // never rewritten lack the column entirely and project as
    // NULL under the evolved read schema — q229 gates the
    // three-way distinction
    commitOf(artifact, v, "merge") +: rewriteTouched(s, vis, u,
        s"$out/$artifact/v${v}_merge", lit(true),
        Seq(col("key"), col("k"),
          when(hit, col("c1") + col("key")).otherwise(col("c1")).as("c1"),
          when(hit, col("c2") + lit(1L)).otherwise(col("c2")).as("c2"),
          when(hit, lit(1L)).otherwise(lit(0L)).as("rev")))
      .flatMap { case (f, nf) => Seq(f.removedAt(v, "merge", "merge"),
        nf.add(artifact, v, "merge", "merge")) }
  }

  /** the merge-extended manifest (once per corpus snapshot): the
    * q221-226 log plus one COW merge commit per artifact (the spec
    * pins v5 before/after identical). */
  private[graft] def mergeExtensionDir(s: SparkSession, dir: String)
      : String = {
    val mdir = manifestLogDir(s, dir)
    mergeExt(s, dir, mdir) {
      extensionDir(s, mdir, "graft_mergeext")((man, a, out) =>
        mergeCommit(s, man, a, out, upsertPick))
    }
  }

  private def q227(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val baseMan = manifestRowsOf(s, manifestLogDir(s, dir))
    val ext = mergeExtensionDir(s, dir)
    val man = manifestRowsOf(s, ext)
    val arts = man.map(_.artifact).distinct.sorted
    val rows = arts.map { a =>
      val mv = headVersion(man, a)
      val prevVis = snapshotFiles(baseMan, a, mv - 1L, "data")
        .filter(_.nRows > 0L)
      val rewritten = man.filter(m => m.artifact == a &&
        m.version == mv && m.action == "add" && m.cause == "merge")
      val rowsRewritten = rewritten.map(_.nRows).sum
      // pre/post digests over the matched rows: pre from the PRIOR
      // snapshot, post from the merged one — same pick both sides
      def digest(v: Long, manx: Seq[ManRow]) = {
        val r = snapshotAt(s, manx, a, v).filter($"dd".isNull)
          .filter(upsertPick($"key"))
          .agg(count(lit(1)), countDistinct($"key"),
            coalesce(sum($"c1"), lit(0L)),
            coalesce(sum($"c2"), lit(0L))).head()
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      }
      val (nUpd, kUpd, c1Pre, c2Pre) = digest(mv - 1L, man)
      val (_, _, c1Post, c2Post) = digest(mv, man)
      val lr = snapshotAt(s, man, a, mv).filter($"dd".isNull)
        .agg(count(lit(1)), countDistinct($"k"),
          coalesce(sum($"c1"), lit(0L)),
          coalesce(sum($"c2"), lit(0L))).head()
      val amp6 =
        if (nUpd > 0) rowsRewritten * 1000000L / nUpd else 0L
      (a, mv, "merge", kUpd, nUpd, prevVis.size.toLong,
        rewritten.size.toLong, rowsRewritten, amp6, c1Pre, c2Pre,
        c1Post, c2Post, lr.getLong(0), lr.getLong(1), lr.getLong(2),
        lr.getLong(3))
    }
    rows.toDF("artifact", "version", "kind", "keys_updated",
        "rows_updated", "files_visible", "files_rewritten",
        "rows_rewritten", "amp6", "chk1_pre", "chk2_pre", "chk1_post",
        "chk2_post", "rows_live", "keys_live", "chk1_live",
        "chk2_live")
      .orderBy($"artifact")
  }

  /** q227's oracle: matched/updated digests are FILTER aggregates over
    * (live at head ∧ upsert pick); the physical file counts ride the
    * same head-branch + per-bucket machinery as q224, with the um_*
    * matched counts deciding which files rewrite. */
  private def mergeSelectSql(p: String, clsCte: String,
      artifact: String): String = {
    val h0 = Takedown.Waves(0)
    val h1 = Takedown.Waves(1)
    val B = ClusterBuckets
    val live = s"phex NOT IN ('$h0','$h1')"
    val um = s"$live AND $UpsertHexSql"
    def nz(n: String) = s"CASE WHEN $n > 0 THEN 1 ELSE 0 END"
    def rw(n: String, m: String) = s"CASE WHEN $m > 0 THEN 1 ELSE 0 END"
    def rwn(n: String, m: String) =
      s"CASE WHEN $m > 0 THEN $n ELSE 0 END"
    def fam(f: (String, String) => String, tag: String) =
      (0L until B).map(i =>
        f(s"z3.n${tag}_$i", s"z3.um${tag}_$i")).mkString(" + ")
    def sgl(f: (String, String) => String, n: String) =
      f(s"z2.n_$n", s"z2.um_$n")
    def branch(f: (String, String) => String) =
      s"""CAST(CASE WHEN z2.vac5 THEN ${fam(f, "5")}
         |  WHEN z2.opt4 THEN ${fam(f, "p")}
         |  WHEN z2.vac2 THEN ${fam(f, "2")} + ${sgl(f, "a2s")}
         |  ELSE ${sgl(f, "b")} + ${sgl(f, "a1")} + ${sgl(f, "a2s")}
         |  END AS BIGINT)""".stripMargin
    s"""${p}mg AS (SELECT
       |  CAST(count(DISTINCT key) FILTER ($um) AS BIGINT)
       |    AS keys_updated,
       |  CAST(count(*) FILTER ($um) AS BIGINT) AS rows_updated,
       |  CAST(coalesce(sum(c1) FILTER ($um), 0) AS BIGINT)
       |    AS chk1_pre,
       |  CAST(coalesce(sum(c2) FILTER ($um), 0) AS BIGINT)
       |    AS chk2_pre,
       |  CAST(coalesce(sum(c1 + key) FILTER ($um), 0) AS BIGINT)
       |    AS chk1_post,
       |  CAST(coalesce(sum(c2 + 1) FILTER ($um), 0) AS BIGINT)
       |    AS chk2_post,
       |  CAST(count(*) FILTER ($live) AS BIGINT) AS rows_live,
       |  CAST(count(DISTINCT k) FILTER ($live) AS BIGINT)
       |    AS keys_live,
       |  CAST(coalesce(sum(CASE WHEN $UpsertHexSql THEN c1 + key
       |    ELSE c1 END) FILTER ($live), 0) AS BIGINT) AS chk1_live,
       |  CAST(coalesce(sum(CASE WHEN $UpsertHexSql THEN c2 + 1
       |    ELSE c2 END) FILTER ($live), 0) AS BIGINT) AS chk2_live
       | FROM $clsCte),
       |${p}mr AS (SELECT '$artifact' AS artifact,
       |  CAST(6 AS BIGINT) AS version, 'merge' AS kind,
       |  g.keys_updated, g.rows_updated,
       |  ${branch((n, _) => nz(n))} AS files_visible,
       |  ${branch(rw)} AS files_rewritten,
       |  ${branch(rwn)} AS rows_rewritten,
       |  CAST(CASE WHEN g.rows_updated > 0
       |   THEN (${branch(rwn)} * 1000000) // g.rows_updated
       |   ELSE 0 END AS BIGINT) AS amp6,
       |  g.chk1_pre, g.chk2_pre, g.chk1_post, g.chk2_post,
       |  g.rows_live, g.keys_live, g.chk1_live, g.chk2_live
       | FROM ${p}mg g, ${p}z2 z2, ${p}z3 z3)""".stripMargin
  }

  private lazy val q227Sql =
    s"""WITH $interleaveClsPreambleSql,
       |${interleaveStatSql("dstat", "dcls")},
       |${interleaveStatSql("cstat", "ccls")},
       |${interleaveStatSql("astat", "acls")},
       |${manifestEventsSql("a", "astat", "vtk")},
       |${manifestEventsSql("c", "cstat", "dtk")},
       |${manifestEventsSql("d", "dstat", "dtk")},
       |${zoneStatSql("a", "acls")},
       |${zoneStatSql("c", "ccls")},
       |${zoneStatSql("d", "dcls")},
       |${mergeSelectSql("a", "acls", "ann_codes")},
       |${mergeSelectSql("c", "ccls", "chunk_postings")},
       |${mergeSelectSql("d", "dcls", "doc_postings")}
       |SELECT * FROM (
       |SELECT * FROM amr
       |UNION ALL
       |SELECT * FROM cmr
       |UNION ALL
       |SELECT * FROM dmr)
       |ORDER BY artifact""".stripMargin

  // ───── q235: the SAME merge, merge-on-read — MoR vs COW, priced ─────
  //
  // q227 executes the upsert COPY-ON-WRITE: every file holding a
  // matched key rewrites (amp6 ≈ 16× on this hash-scattered update).
  // q235 executes the IDENTICAL logical merge MERGE-ON-READ, the
  // Iceberg-style alternative: ONE delta file carrying the |U| post-
  // image rows plus ONE supersede key file; no base file moves. The
  // MoR read rule pays instead — pre-merge rows drop on a broadcast
  // supersede anti-join at every read (sequence precedence: the
  // supersede set applies only to files committed BEFORE the merge,
  // so the delta's own rows survive). The gate proves the two heads
  // ROW-IDENTICAL via one ±1-signed groupBy over both live sets (the
  // q228 single-shuffle spelling — no exceptAll double shuffle) and
  // publishes both write-amplification numbers side by side: MoR
  // writes exactly the update (amp6_mor = 1.0 in micro-units), COW
  // rewrites every cohabiting row — the write-heavy vs read-heavy
  // table-format trade made measurable. The supersede mechanism is
  // DELIBERATELY not a takedown tombstone: key tombstones assume a
  // key never re-appears (the ingest screen's contract), while the
  // supersede file is version-scoped, which is exactly why MoR
  // updates need sequence numbers where deletes do not.

  private[graft] val morExt = graft.Artifacts[String]("mor_ext")

  /** one MoR merge commit: the post-image delta (data) and the
    * supersede key file (file_kind 'morsup') — base files untouched. */
  private[graft] def morCommit(s: SparkSession, man: Seq[ManRow],
      a: String, out: String, pick: Column => Column)
      : Seq[ManRow] = {
    val head = headVersion(man, a)
    val v = head + 1L
    val delta = snapshotAt(s, man, a, head)
      .filter(col("dd").isNull).filter(pick(col("key")))
      .select(col("key"), col("k"),
        (col("c1") + col("key")).as("c1"),
        (col("c2") + lit(1L)).as("c2"))
      .localCheckpoint(true)
    val d = writeFiles(s, delta, s"$out/$a/v${v}_mor_delta").head
    val sup = writeFiles(s, delta.select(col("key")).distinct(),
      s"$out/$a/v${v}_mor_sup").head
    Seq(commitOf(a, v, "merge"), d.add(a, v, "merge", "mor_delta"),
      ManRow(a, v, "merge", "add", "morsup", "merge", sup.path,
        sup.nRows))
  }

  /** the MoR merge extension (once per corpus snapshot): per
    * artifact, commit v6 adds the post-image delta (data) and the
    * supersede key file (file_kind 'morsup') — base files untouched. */
  private[graft] def morExtensionDir(s: SparkSession, dir: String)
      : String = {
    val mdir = manifestLogDir(s, dir)
    morExt(s, dir, mdir) {
      extensionDir(s, mdir, "graft_morext")((man, a, out) =>
        morCommit(s, man, a, out, upsertPick))
    }
  }

  /** the MoR head read: pre-merge visible rows minus the broadcast
    * supersede set (version precedence: it applies only to files
    * committed before the merge), plus the delta rows, with the
    * ordinary merge-on-read takedown tombstones on top. */
  private[graft] def morSnapshotHead(s: SparkSession, man: Seq[ManRow],
      artifact: String): DataFrame = {
    val morV = headVersion(man, artifact, "merge")
    val preF = snapshotFiles(man, artifact, morV - 1L, "data")
    val deltaF = man.filter(m => m.artifact == artifact &&
      m.version == morV && m.action == "add" && m.fileKind == "data")
    val supF = man.filter(m => m.artifact == artifact &&
      m.version == morV && m.action == "add" &&
      m.fileKind == "morsup")
    val sup = readManAll(s, supF.map(_.path), ManTombSchema)
      .select(col("key")).distinct()
    val pre = readManAll(s, preF.map(_.path), ManDataSchema)
      .join(broadcast(sup), Seq("key"), "left_anti")
    val rows = pre.unionByName(
      readManAll(s, deltaF.map(_.path), ManDataSchema))
    val tombF = snapshotFiles(man, artifact, morV - 1L, "tomb")
    if (tombF.isEmpty) rows.withColumn("dd", lit(null).cast("int"))
    else rows.join(
      broadcast(readManAll(s, tombF.map(_.path), ManTombSchema)
        .select(col("key")).distinct().withColumn("dd", lit(1))),
      Seq("key"), "left")
  }

  private def q235(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val morMan = manifestRowsOf(s, morExtensionDir(s, dir))
    val cowMan = manifestRowsOf(s, mergeExtensionDir(s, dir))
    val arts = morMan.map(_.artifact).distinct.sorted
    val rows = arts.map { a =>
      val morV = headVersion(morMan, a, "merge")
      val deltaRows = morMan.filter(m => m.artifact == a &&
        m.version == morV && m.fileKind == "data" &&
        m.action == "add").map(_.nRows).sum
      val supKeys = morMan.filter(m => m.artifact == a &&
        m.version == morV && m.fileKind == "morsup").map(_.nRows).sum
      val cowV = headVersion(cowMan, a)
      val cowRewritten = cowMan.filter(m => m.artifact == a &&
        m.version == cowV && m.action == "add" &&
        m.cause == "merge").map(_.nRows).sum
      val morLive = morSnapshotHead(s, morMan, a)
        .filter($"dd".isNull).select($"key", $"k", $"c1", $"c2")
        .localCheckpoint(true)
      val h = morLive.agg(count(lit(1)), countDistinct($"k"),
        coalesce(sum($"c1"), lit(0L)), coalesce(sum($"c2"), lit(0L)))
        .head()
      // row-identity vs the COW head in ONE signed shuffle
      val cowLive = snapshotAt(s, cowMan, a, cowV)
        .filter($"dd".isNull).select($"key", $"k", $"c1", $"c2")
      val mismatch = morLive.withColumn("sgn", lit(1L))
        .unionByName(cowLive.withColumn("sgn", lit(-1L)))
        .groupBy($"key", $"k", $"c1", $"c2")
        .agg(sum($"sgn").as("n")).filter($"n" =!= 0L).count()
      val amp6Mor =
        if (deltaRows > 0) deltaRows * 1000000L / deltaRows else 0L
      val amp6Cow =
        if (deltaRows > 0) cowRewritten * 1000000L / deltaRows else 0L
      (a, supKeys, deltaRows, deltaRows, cowRewritten, amp6Mor,
        amp6Cow, h.getLong(0), h.getLong(1), h.getLong(2),
        h.getLong(3), mismatch == 0L)
    }
    rows.toDF("artifact", "keys_updated", "rows_updated",
        "rows_written_mor", "rows_written_cow", "amp6_mor",
        "amp6_cow", "rows_live", "keys_live", "chk1_live",
        "chk2_live", "head_identical")
      .orderBy($"artifact")
  }

  private lazy val q235Sql = {
    def one(p: String, artifact: String) =
      s"""SELECT '$artifact' AS artifact,
         | g.keys_updated, g.rows_updated,
         | g.rows_updated AS rows_written_mor,
         | m.rows_rewritten AS rows_written_cow,
         | CASE WHEN g.rows_updated > 0 THEN CAST(1000000 AS BIGINT)
         |  ELSE CAST(0 AS BIGINT) END AS amp6_mor,
         | CAST(CASE WHEN g.rows_updated > 0
         |  THEN (m.rows_rewritten * 1000000) // g.rows_updated
         |  ELSE 0 END AS BIGINT) AS amp6_cow,
         | g.rows_live, g.keys_live, g.chk1_live, g.chk2_live,
         | TRUE AS head_identical
         |FROM ${p}mg g, ${p}mr m""".stripMargin
    s"""WITH $interleaveClsPreambleSql,
       |${interleaveStatSql("dstat", "dcls")},
       |${interleaveStatSql("cstat", "ccls")},
       |${interleaveStatSql("astat", "acls")},
       |${manifestEventsSql("a", "astat", "vtk")},
       |${manifestEventsSql("c", "cstat", "dtk")},
       |${manifestEventsSql("d", "dstat", "dtk")},
       |${zoneStatSql("a", "acls")},
       |${zoneStatSql("c", "ccls")},
       |${zoneStatSql("d", "dcls")},
       |${mergeSelectSql("a", "acls", "ann_codes")},
       |${mergeSelectSql("c", "ccls", "chunk_postings")},
       |${mergeSelectSql("d", "dcls", "doc_postings")}
       |SELECT * FROM (
       |${Seq(one("a", "ann_codes"), one("c", "chunk_postings"),
           one("d", "doc_postings")).mkString("\nUNION ALL\n")})
       |ORDER BY artifact""".stripMargin
  }

  // ───── q236: MoR minor compaction — retiring the read tax ─────
  //
  // q235's MoR head pays a broadcast supersede anti-join at EVERY
  // read. The deferred half of the trade is minor compaction: rewrite
  // ONLY the pre-merge files that contain superseded keys (dropping
  // those rows — the delta file already carries their post images),
  // retire the supersede file, and the head serves under the PLAIN
  // snapshot rule again — no special read path, no anti-join. The
  // compaction's write bill is exactly the COW bill MoR deferred,
  // minus the superseded rows themselves (they are dropped, not
  // copied), and the gate publishes that arithmetic: rows_written ==
  // cow_rewritten − rows_updated, oracle-derived from the same
  // branch-bit machinery. Head identity is gated twice — plain
  // snapshot at v7 ≡ the q235 MoR read at v6 (one signed shuffle),
  // and the oracle pins the same live digests all three spellings
  // (COW, MoR, compacted MoR) share. MoR merge + minor compaction ≡
  // COW, amortized across the reads in between: the lifecycle a real
  // Iceberg table runs.

  private[graft] val morCompactExt =
    graft.Artifacts[String]("mor_compact")

  /** compact one artifact's MoR merge: v7 rewrites every pre-merge
    * data file holding a superseded key (rows minus the supersede
    * set, payload verbatim), removes the supersede file, keeps the
    * delta. Returns the extension entries. */
  private[graft] def morCompact(s: SparkSession, man: Seq[ManRow],
      a: String, out: String): Seq[ManRow] = {
    val morV = headVersion(man, a, "merge")
    val v = morV + 1L
    val supF = man.filter(m => m.artifact == a && m.version == morV &&
      m.action == "add" && m.fileKind == "morsup")
    val sup = readManAll(s, supF.map(_.path), ManTombSchema)
      .select(col("key")).distinct().localCheckpoint(true)
    val preF = snapshotFiles(man, a, morV - 1L, "data")
      .filter(_.nRows > 0L)
    (commitOf(a, v, "compact") +: rewriteTouched(s, preF, sup,
        s"$out/$a/v${v}_compact", col("hit").isNull,
        Seq(col("key"), col("k"), col("c1"), col("c2")))
      .flatMap { case (f, nf) => Seq(f.removedAt(v, "compact", "compact"),
        nf.add(a, v, "compact", "compact")) }) ++
      // retire the supersede file: the read tax ends here
      supF.map(_.removedAt(v, "compact", "compact"))
  }

  /** the compacted-MoR manifest (once per corpus snapshot): the MoR
    * extension plus one minor-compaction commit per artifact. */
  private[graft] def morCompactDir(s: SparkSession, dir: String)
      : String = {
    val mor = morExtensionDir(s, dir)
    morCompactExt(s, dir, mor) {
      extensionDir(s, mor, "graft_morcmp")((man, a, out) =>
        morCompact(s, man, a, out))
    }
  }

  private def q236(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val man = manifestRowsOf(s, morCompactDir(s, dir))
    val morMan = manifestRowsOf(s, morExtensionDir(s, dir))
    val arts = man.map(_.artifact).distinct.sorted
    val rows = arts.map { a =>
      val cv = headVersion(man, a, "compact")
      val written = man.filter(m => m.artifact == a &&
        m.version == cv && m.action == "add").map(_.nRows).sum
      val filesRewritten = man.filter(m => m.artifact == a &&
        m.version == cv && m.action == "add").size.toLong
      // no supersede file survives at head: the read tax is retired
      val supLeft = snapshotFiles(man, a, cv, "morsup").size.toLong
      // the PLAIN snapshot read — no MoR rule — at the compacted head
      val live = snapshotAt(s, man, a, cv).filter($"dd".isNull)
        .select($"key", $"k", $"c1", $"c2").localCheckpoint(true)
      val h = live.agg(count(lit(1)), countDistinct($"k"),
        coalesce(sum($"c1"), lit(0L)), coalesce(sum($"c2"), lit(0L)))
        .head()
      // identity vs the q235 MoR read in one signed shuffle
      val mor = morSnapshotHead(s, morMan, a).filter($"dd".isNull)
        .select($"key", $"k", $"c1", $"c2")
      val mismatch = live.withColumn("sgn", lit(1L))
        .unionByName(mor.withColumn("sgn", lit(-1L)))
        .groupBy($"key", $"k", $"c1", $"c2")
        .agg(sum($"sgn").as("n")).filter($"n" =!= 0L).count()
      (a, filesRewritten, written, supLeft, h.getLong(0),
        h.getLong(1), h.getLong(2), h.getLong(3), mismatch == 0L)
    }
    rows.toDF("artifact", "files_rewritten", "rows_written",
        "sup_files_left", "rows_live", "keys_live", "chk1_live",
        "chk2_live", "head_identical")
      .orderBy($"artifact")
  }

  private lazy val q236Sql = {
    def one(p: String, artifact: String) =
      s"""SELECT '$artifact' AS artifact,
         | m.files_rewritten,
         | m.rows_rewritten - g.rows_updated AS rows_written,
         | CAST(0 AS BIGINT) AS sup_files_left,
         | g.rows_live, g.keys_live, g.chk1_live, g.chk2_live,
         | TRUE AS head_identical
         |FROM ${p}mg g, ${p}mr m""".stripMargin
    s"""WITH $interleaveClsPreambleSql,
       |${interleaveStatSql("dstat", "dcls")},
       |${interleaveStatSql("cstat", "ccls")},
       |${interleaveStatSql("astat", "acls")},
       |${manifestEventsSql("a", "astat", "vtk")},
       |${manifestEventsSql("c", "cstat", "dtk")},
       |${manifestEventsSql("d", "dstat", "dtk")},
       |${zoneStatSql("a", "acls")},
       |${zoneStatSql("c", "ccls")},
       |${zoneStatSql("d", "dcls")},
       |${mergeSelectSql("a", "acls", "ann_codes")},
       |${mergeSelectSql("c", "ccls", "chunk_postings")},
       |${mergeSelectSql("d", "dcls", "doc_postings")}
       |SELECT * FROM (
       |${Seq(one("a", "ann_codes"), one("c", "chunk_postings"),
           one("d", "doc_postings")).mkString("\nUNION ALL\n")})
       |ORDER BY artifact""".stripMargin
  }

  // ───── q228: update-CDC derived from the COW merge file swap ─────
  //
  // A COW merge commit adds no append files and no tombstones, so the
  // q222 adds/removes feed sees ZERO change — yet live values moved.
  // A consumer syncing on adds/removes alone would silently drift
  // past every merge. The missing feed kind is UPDATE (Delta CDF's
  // update_preimage/update_postimage), and it is DERIVABLE from the
  // log alone: the commit swapped file set, diffed as multisets —
  // pre = removed ∖ added, post = added ∖ removed — cancels every
  // row the rewrite copied verbatim and leaves exactly the changed
  // rows. The Spark side computes that from the FILES (exceptAll);
  // the oracle recomputes both images from the row classes + the
  // upsert pick — two independent mechanisms, one gate. ManifestSpec
  // pins replay on the planted timeline: v5 live − pre + post ≡ v6
  // live, row for row.

  private def q228(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ext = mergeExtensionDir(s, dir)
    val man = manifestRowsOf(s, ext)
    val arts = man.map(_.artifact).distinct.sorted
    val rows = arts.map { a =>
      val v = headVersion(man, a)
      val rem = man.filter(m => m.artifact == a && m.version == v &&
        m.action == "remove" && m.cause == "merge").map(_.path)
      val add = man.filter(m => m.artifact == a && m.version == v &&
        m.action == "add" && m.cause == "merge").map(_.path)
      // the multiset diff in ONE shuffle: ±1-signed rows grouped on
      // the full tuple; rows the rewrite copied verbatim net to zero,
      // leaving only the changed rows (net +1 = pre-image, −1 =
      // post-image, with multiplicity carried in |net|). Two
      // exceptAll passes measured 2× this cost at sf1.
      val net = readManAll(s, rem, ManDataSchema)
        .withColumn("sgn", lit(1L))
        .unionByName(readManAll(s, add, ManDataSchema)
          .withColumn("sgn", lit(-1L)))
        .groupBy($"key", $"k", $"c1", $"c2")
        .agg(sum($"sgn").as("net"))
        .filter($"net" =!= 0L)
        .localCheckpoint(true)
      def digest(side: Column) = {
        val m = when(side > 0L, side).otherwise(lit(0L))
        val r = net.agg(coalesce(sum(m), lit(0L)),
          countDistinct(when(side > 0L, $"key")),
          coalesce(sum($"c1" * m), lit(0L)),
          coalesce(sum($"c2" * m), lit(0L))).head()
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      }
      val (pn, pk, p1, p2) = digest($"net")
      val (qn, qk, q1, q2) = digest(-$"net")
      (a, v, "merge", pn, pk, p1, p2, qn, qk, q1, q2)
    }
    rows.toDF("artifact", "version", "kind", "rows_pre", "keys_pre",
        "chk1_pre", "chk2_pre", "rows_post", "keys_post", "chk1_post",
        "chk2_post")
      .orderBy($"artifact")
  }

  private lazy val q228Sql = {
    val h0 = Takedown.Waves(0)
    val h1 = Takedown.Waves(1)
    val um = s"phex NOT IN ('$h0','$h1') AND $UpsertHexSql"
    def one(clsCte: String, artifact: String) =
      s"""SELECT '$artifact' AS artifact, CAST(6 AS BIGINT) AS version,
         | 'merge' AS kind,
         | CAST(count(*) FILTER ($um) AS BIGINT) AS rows_pre,
         | CAST(count(DISTINCT key) FILTER ($um) AS BIGINT)
         |   AS keys_pre,
         | CAST(coalesce(sum(c1) FILTER ($um), 0) AS BIGINT)
         |   AS chk1_pre,
         | CAST(coalesce(sum(c2) FILTER ($um), 0) AS BIGINT)
         |   AS chk2_pre,
         | CAST(count(*) FILTER ($um) AS BIGINT) AS rows_post,
         | CAST(count(DISTINCT key) FILTER ($um) AS BIGINT)
         |   AS keys_post,
         | CAST(coalesce(sum(c1 + key) FILTER ($um), 0) AS BIGINT)
         |   AS chk1_post,
         | CAST(coalesce(sum(c2 + 1) FILTER ($um), 0) AS BIGINT)
         |   AS chk2_post
         |FROM $clsCte""".stripMargin
    s"""WITH $interleaveClsPreambleSql
       |SELECT * FROM (
       |${one("acls", "ann_codes")}
       |UNION ALL
       |${one("ccls", "chunk_postings")}
       |UNION ALL
       |${one("dcls", "doc_postings")})
       |ORDER BY artifact""".stripMargin
  }

  // ───── q229: schema evolution across the manifest timeline ─────
  //
  // The merge rewrite evolved the data-file schema (a rev column);
  // every file written before it lacks the column. A lakehouse read
  // does NOT rewrite history for that: the evolved READ schema
  // projects missing columns as NULL, and old snapshots keep reading
  // under the schema of their day. q229 reads the extended head under
  // the evolved schema — one multi-path scan over files WITH and
  // WITHOUT the column — and gates the three-way provenance split a
  // real migration audits: rev NULL (rows in never-rewritten files,
  // pre-schema), rev 0 (rows a rewrite copied verbatim, explicit
  // default), rev 1 (the revision itself). The oracle re-derives the
  // split from the commit recurrence: which head files rewrite (per-
  // bucket matched counts) and how many live rows each carries.

  private[graft] val ManDataSchemaV2 = org.apache.spark.sql.types
    .StructType.fromDDL(
      "key BIGINT, k STRING, c1 BIGINT, c2 BIGINT, rev BIGINT")

  private def q229(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ext = mergeExtensionDir(s, dir)
    val man = manifestRowsOf(s, ext)
    val arts = man.map(_.artifact).distinct.sorted
    val rows = arts.map { a =>
      val v = headVersion(man, a)
      val dataF = snapshotFiles(man, a, v, "data").filter(_.nRows > 0L)
      val tombF = snapshotFiles(man, a, v, "tomb")
      val d = readManAll(s, dataF.map(_.path), ManDataSchemaV2)
      val live =
        if (tombF.isEmpty) d
        else d.join(
          broadcast(readManAll(s, tombF.map(_.path), ManTombSchema)
            .select(col("key")).distinct()),
          Seq("key"), "left_anti")
      val r = live.agg(
        count(when($"rev".isNull, 1)),
        count(when($"rev" === 0L, 1)),
        count(when($"rev" === 1L, 1)),
        countDistinct(when($"rev" === 1L, $"key")),
        coalesce(sum(when($"rev" === 1L, $"c1")), lit(0L)),
        coalesce(sum(when($"rev" === 1L, $"c2")), lit(0L)),
        count(lit(1)),
        coalesce(sum($"c1"), lit(0L)),
        coalesce(sum($"c2"), lit(0L))).head()
      (a, v, r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7),
        r.getLong(8))
    }
    rows.toDF("artifact", "version", "rows_rev_null", "rows_rev0",
        "rows_rev1", "keys_rev1", "chk1_rev1", "chk2_rev1",
        "rows_live", "chk1_live", "chk2_live")
      .orderBy($"artifact")
  }

  /** q229's oracle: live rows per head file from the lv_* stats, the
    * rewritten-file set from the um_* matched counts — rev1 = matched
    * rows, rev0 = live-in-rewritten − matched, NULL = live-in-kept. */
  private def schemaEvoSelectSql(p: String, clsCte: String,
      artifact: String): String = {
    val h0 = Takedown.Waves(0)
    val h1 = Takedown.Waves(1)
    val B = ClusterBuckets
    val live = s"phex NOT IN ('$h0','$h1')"
    val um = s"$live AND $UpsertHexSql"
    def lvRewritten(n: String, m: String, l: String) =
      s"CASE WHEN $m > 0 THEN $l ELSE 0 END"
    def fam(f: (String, String, String) => String, tag: String) =
      (0L until B).map(i => f(s"z3.n${tag}_$i", s"z3.um${tag}_$i",
        s"z3.lv${tag}_$i")).mkString(" + ")
    def sgl(f: (String, String, String) => String, n: String) =
      f(s"z2.n_$n", s"z2.um_$n", s"z2.lv_$n")
    def branch(f: (String, String, String) => String) =
      s"""CAST(CASE WHEN z2.vac5 THEN ${fam(f, "5")}
         |  WHEN z2.opt4 THEN ${fam(f, "p")}
         |  WHEN z2.vac2 THEN ${fam(f, "2")} + ${sgl(f, "a2s")}
         |  ELSE ${sgl(f, "b")} + ${sgl(f, "a1")} + ${sgl(f, "a2s")}
         |  END AS BIGINT)""".stripMargin
    s"""${p}se AS (SELECT
       |  CAST(count(*) FILTER ($um) AS BIGINT) AS rows_rev1,
       |  CAST(count(DISTINCT key) FILTER ($um) AS BIGINT)
       |    AS keys_rev1,
       |  CAST(coalesce(sum(c1 + key) FILTER ($um), 0) AS BIGINT)
       |    AS chk1_rev1,
       |  CAST(coalesce(sum(c2 + 1) FILTER ($um), 0) AS BIGINT)
       |    AS chk2_rev1,
       |  CAST(count(*) FILTER ($live) AS BIGINT) AS rows_live,
       |  CAST(coalesce(sum(CASE WHEN $UpsertHexSql THEN c1 + key
       |    ELSE c1 END) FILTER ($live), 0) AS BIGINT) AS chk1_live,
       |  CAST(coalesce(sum(CASE WHEN $UpsertHexSql THEN c2 + 1
       |    ELSE c2 END) FILTER ($live), 0) AS BIGINT) AS chk2_live
       | FROM $clsCte),
       |${p}sr AS (SELECT '$artifact' AS artifact,
       |  CAST(6 AS BIGINT) AS version,
       |  g.rows_live - ${branch(lvRewritten)} AS rows_rev_null,
       |  ${branch(lvRewritten)} - g.rows_rev1 AS rows_rev0,
       |  g.rows_rev1, g.keys_rev1, g.chk1_rev1, g.chk2_rev1,
       |  g.rows_live, g.chk1_live, g.chk2_live
       | FROM ${p}se g, ${p}z2 z2, ${p}z3 z3)""".stripMargin
  }

  private lazy val q229Sql =
    s"""WITH $interleaveClsPreambleSql,
       |${interleaveStatSql("dstat", "dcls")},
       |${interleaveStatSql("cstat", "ccls")},
       |${interleaveStatSql("astat", "acls")},
       |${manifestEventsSql("a", "astat", "vtk")},
       |${manifestEventsSql("c", "cstat", "dtk")},
       |${manifestEventsSql("d", "dstat", "dtk")},
       |${zoneStatSql("a", "acls")},
       |${zoneStatSql("c", "ccls")},
       |${zoneStatSql("d", "dcls")},
       |${schemaEvoSelectSql("a", "acls", "ann_codes")},
       |${schemaEvoSelectSql("c", "ccls", "chunk_postings")},
       |${schemaEvoSelectSql("d", "dcls", "doc_postings")}
       |SELECT * FROM (
       |SELECT * FROM asr
       |UNION ALL
       |SELECT * FROM csr
       |UNION ALL
       |SELECT * FROM dsr)
       |ORDER BY artifact""".stripMargin

  // ───── q230: cross-artifact version-skew tear audit ─────
  //
  // The per-artifact manifests commit independently; a reader joining
  // doc_postings and chunk_postings at DIFFERENT versions sees
  // referential tears — doc keys live on one side and absent on the
  // other — which is the concrete failure multi-table atomic commits
  // exist to prevent. q230 audits the skew surface: for every aligned
  // version (the atomic read our naturally-aligned timeline provides)
  // the two artifacts' live doc-key sets differ only by STRUCTURAL
  // support (docs with terms but no chunks, or vice versa), and for
  // deliberately skewed reads (doc@3 vs chunk@2 and the reverse) the
  // tear grows by exactly the append wave the lagging side has not
  // seen. Every cell is oracle-pinned from the version-indexed live
  // predicates — the audit a deployment would run before trusting a
  // cross-table join.

  private def q230(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val mdir = manifestLogDir(s, dir)
    val man = manifestRowsOf(s, mdir)
    // the cells come from the ONE membership-frame pass shared with
    // q231 (txnCells) — the first form ran 16 per-pair anti-join
    // jobs with per-pair checkpoints (8.0 s vs 0.2 s warm at sf0.1);
    // the independent per-pair anti-join spelling lives on as the
    // ManifestSpec cross-check
    val cells = txnCells(s, dir, mdir, man)
    val pairs = (0L to 5L).map(v => (v, v)) ++ Seq((3L, 2L), (2L, 3L))
    val rows = pairs.map { case (vd, vc) =>
      val (dn, cn) = cells((vd, vc))
      (vd, vc, vd == vc, dn, cn)
    }
    rows.toDF("v_doc", "v_chunk", "aligned", "tears_doc_only",
        "tears_chunk_only")
      .orderBy($"v_doc", $"v_chunk")
  }

  /** the version-indexed live predicate of the shared manifest
    * timeline (v0 base, v1 append A1, v2 takedown D1, v3 append A2,
    * v4 OPTIMIZE no-op, v5 takedown D2), over the ingest-class
    * columns the oracle preamble derives per key. ONE spelling for
    * every gate that reasons about cross-version liveness. */
  private def manLiveAtSql(v: Long, cls: String = "cls",
      phex: String = "phex"): String = {
    val h0 = Takedown.Waves(0)
    val h1 = Takedown.Waves(1)
    v match {
      case 0L => s"$cls = 'b'"
      case 1L => s"$cls IN ('b','a1')"
      case 2L => s"$cls IN ('b','a1') AND $phex <> '$h0'"
      case 3L | 4L => s"$phex <> '$h0'"
      case _ => s"$phex NOT IN ('$h0','$h1')"
    }
  }

  /** the same predicate correlated on a version COLUMN (vCol), for
    * oracles that aggregate over a cell table in one pass. */
  private def manLiveCaseSql(vCol: String, cls: String,
      phex: String): String =
    s"CASE ${(0L to 5L).map(v =>
      s"WHEN $vCol = $v THEN (${manLiveAtSql(v, cls, phex)})")
      .mkString(" ")} ELSE FALSE END"

  private lazy val q230Sql = {
    def liveAt(v: Long): String = manLiveAtSql(v)
    def cell(vd: Long, vc: Long) =
      s"""SELECT CAST($vd AS BIGINT) AS v_doc,
         | CAST($vc AS BIGINT) AS v_chunk,
         | ${if (vd == vc) "TRUE" else "FALSE"} AS aligned,
         | CAST((SELECT count(*) FROM (
         |   SELECT DISTINCT key FROM dcls WHERE ${liveAt(vd)}
         |   EXCEPT
         |   SELECT DISTINCT key FROM ccls WHERE ${liveAt(vc)}))
         |  AS BIGINT) AS tears_doc_only,
         | CAST((SELECT count(*) FROM (
         |   SELECT DISTINCT key FROM ccls WHERE ${liveAt(vc)}
         |   EXCEPT
         |   SELECT DISTINCT key FROM dcls WHERE ${liveAt(vd)}))
         |  AS BIGINT) AS tears_chunk_only""".stripMargin
    val cells = ((0L to 5L).map(v => (v, v)) ++ Seq((3L, 2L), (2L, 3L)))
      .map { case (a, b) => cell(a, b) }
    s"""WITH $interleaveClsPreambleSql
       |SELECT * FROM (
       |${cells.mkString("\nUNION ALL\n")})
       |ORDER BY v_doc, v_chunk""".stripMargin
  }

  // ───── q231: multi-table ATOMIC commit — the txn log that prevents
  // q230's tears ─────
  //
  // q230 MEASURES the referential tears a reader suffers when the two
  // postings artifacts commit independently and it joins them at
  // different versions. q231 is the verb that PREVENTS them: a
  // transaction log whose entries span artifacts — txn t lists the
  // (artifact, version) pairs that became visible TOGETHER, and the
  // txn row seals only after every member artifact's own commit
  // landed. The physical commit order inside each transaction is
  // deliberately staggered (doc_postings seals one step before
  // chunk_postings — independent per-artifact logs always stagger
  // somehow); at every physical step two readers run:
  //   naive — "latest committed version of each artifact": inside the
  //     stagger window it reads (doc@v, chunk@v−1) and tears by
  //     exactly the wave the lagging side has not seen (on the
  //     takedown commits it even serves chunks for already-purged
  //     docs — the compliance failure);
  //   txn  — resolves versions through the sealed txn head read back
  //     from the txn ARTIFACT: always aligned, tears never exceed
  //     structural support.
  // Scale posture: tears for all 11 distinct (v_doc, v_chunk) cells
  // the protocol can touch come from ONE pass — a per-key membership
  // frame (12 live-snapshot flags via one groupBy(key)) feeding a
  // single 22-sum aggregation — one shuffle however many steps the
  // audit covers, where per-pair anti-joins (q230's fine-at-8-cells
  // spelling) would cost two corpus joins per cell. The oracle
  // mirrors the same shape: FULL OUTER membership join + one grouped
  // CASE aggregation over the cell table.

  private val txnLog = graft.Artifacts[String]("txn_log")
  private val txnCell =
    graft.Artifacts[Map[(Long, Long), (Long, Long)]]("txn_cells")

  /** seal the cross-artifact txn log as a real parquet artifact: one
    * row per (txn, member artifact, version); member_seal = the
    * physical step that member's own commit landed, seal_seq = the
    * step the txn row itself became visible (the LAST member's). */
  private def txnLogDir(s: SparkSession, dir: String, mdir: String)
      : String =
    txnLog(s, dir, mdir) {
      import s.implicits._
      val out = graft.Scratch.tempDirDeletedOnExit("graft_txnlog")
      (0L to 5L).flatMap(t => Seq(
          (t, "doc_postings", t,
            if (t == 0L) 0L else 2L * t - 1L, 2L * t),
          (t, "chunk_postings", t,
            if (t == 0L) 0L else 2L * t, 2L * t)))
        .toDF("txn", "artifact", "version", "member_seal", "seal_seq")
        .repartition(1).write.mode("overwrite").parquet(s"$out/txns")
      out
    }

  /** every tear cell in one aggregation pass (see q231 header). */
  private def txnCells(s: SparkSession, dir: String, mdir: String,
      man: Seq[ManRow]): Map[(Long, Long), (Long, Long)] =
    txnCell(s, dir, mdir) {
      import s.implicits._
      val tagged = (for {
        (a, t) <- Seq("doc_postings" -> "d", "chunk_postings" -> "c")
        v <- 0L to 5L
      } yield snapshotAt(s, man, a, v).filter($"dd".isNull)
        .select($"key").distinct()
        .withColumn("tag", lit(s"$t$v"))).reduce(_ unionByName _)
      val flags = for (t <- Seq("d", "c"); v <- 0L to 5L)
        yield max(when($"tag" === s"$t$v", 1).otherwise(0)).as(s"$t$v")
      val mem = tagged.groupBy($"key").agg(flags.head, flags.tail: _*)
      val pairs = (0L to 5L).map(v => (v, v)) ++
        (1L to 5L).map(v => (v, v - 1L)) ++ Seq((2L, 3L))
      val sums = pairs.flatMap { case (vd, vc) => Seq(
        sum(when(col(s"d$vd") === 1 && col(s"c$vc") === 0, 1L)
          .otherwise(0L)).as(s"tdo_${vd}_$vc"),
        sum(when(col(s"c$vc") === 1 && col(s"d$vd") === 0, 1L)
          .otherwise(0L)).as(s"tco_${vd}_$vc")) }
      val r = mem.agg(sums.head, sums.tail: _*).head()
      def cellOf(n: String) =
        if (r.isNullAt(r.fieldIndex(n))) 0L
        else r.getLong(r.fieldIndex(n))
      pairs.map { case (vd, vc) => (vd, vc) ->
        ((cellOf(s"tdo_${vd}_$vc"), cellOf(s"tco_${vd}_$vc"))) }.toMap
    }

  private def q231(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val mdir = manifestLogDir(s, dir)
    val man = manifestRowsOf(s, mdir)
    val cells = txnCells(s, dir, mdir, man)
    // the txn reader resolves through the SEALED txn artifact, never
    // through the per-artifact heads
    val txns = graft.Tables
      .parquetCached(s, s"${txnLogDir(s, dir, mdir)}/txns")
      .select($"txn", $"seal_seq").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    def txnAt(step: Long): Long =
      txns.filter(_._2 <= step).map(_._1).max
    val steps = (0L, "base") +: (1L to 5L).flatMap(v =>
      Seq((2L * v - 1L, "doc_sealed"), (2L * v, "txn_sealed")))
    val rows = steps.flatMap { case (st, phase) =>
      val t = txnAt(st)
      Seq(("naive", (st + 1L) / 2L, st / 2L), ("txn", t, t)).map {
        case (reader, vd, vc) =>
          val (tdo, tco) = cells((vd, vc))
          (st, phase, reader, vd, vc, vd == vc, tdo, tco)
      }
    }
    rows.toDF("step", "phase", "reader", "v_doc", "v_chunk",
        "aligned", "tears_doc_only", "tears_chunk_only")
      .orderBy($"step", $"reader")
  }

  private lazy val q231Sql = {
    val liveD =
      s"coalesce(j.ind AND (${manLiveCaseSql("cz.vd", "j.dcl", "j.dph")}), FALSE)"
    val liveC =
      s"coalesce(j.inc AND (${manLiveCaseSql("cz.vc", "j.ccl", "j.cph")}), FALSE)"
    val stepRows = {
      val steps = (0L, "base") +: (1L to 5L).flatMap(v =>
        Seq((2L * v - 1L, "doc_sealed"), (2L * v, "txn_sealed")))
      steps.flatMap { case (st, ph) =>
        val t = st / 2L
        Seq((st, ph, "naive", (st + 1L) / 2L, st / 2L),
          (st, ph, "txn", t, t))
      }.map { case (st, ph, rd, vd, vc) =>
        s"""SELECT CAST($st AS BIGINT) AS step, '$ph' AS phase,
           | '$rd' AS reader, CAST($vd AS BIGINT) AS v_doc,
           | CAST($vc AS BIGINT) AS v_chunk,
           | ${if (vd == vc) "TRUE" else "FALSE"} AS aligned""".stripMargin
      }.mkString("\nUNION ALL\n")
    }
    s"""WITH $interleaveClsPreambleSql,
       |dm AS (SELECT DISTINCT key, cls AS dcl, phex AS dph FROM dcls),
       |cm AS (SELECT DISTINCT key, cls AS ccl, phex AS cph FROM ccls),
       |jm AS (SELECT d.key IS NOT NULL AS ind,
       |        c.key IS NOT NULL AS inc,
       |        d.dcl, d.dph, c.ccl, c.cph
       |       FROM dm d FULL OUTER JOIN cm c ON d.key = c.key),
       |cz AS (SELECT * FROM (VALUES (0,0),(1,1),(2,2),(3,3),(4,4),
       |        (5,5),(1,0),(2,1),(3,2),(4,3),(5,4)) AS t(vd, vc)),
       |tearz AS (SELECT cz.vd, cz.vc,
       |  CAST(sum(CASE WHEN $liveD AND NOT $liveC
       |    THEN 1 ELSE 0 END) AS BIGINT) AS tdo,
       |  CAST(sum(CASE WHEN $liveC AND NOT $liveD
       |    THEN 1 ELSE 0 END) AS BIGINT) AS tco
       | FROM cz CROSS JOIN jm j GROUP BY cz.vd, cz.vc),
       |steps AS ($stepRows)
       |SELECT st.step, st.phase, st.reader, st.v_doc, st.v_chunk,
       | st.aligned, t.tdo AS tears_doc_only,
       | t.tco AS tears_chunk_only
       |FROM steps st JOIN tearz t
       |  ON st.v_doc = t.vd AND st.v_chunk = t.vc
       |ORDER BY st.step, st.reader""".stripMargin
  }

  // ───── q232: orphan-file GC — the retention verb for files the
  // log never saw ─────
  //
  // expireSnapshots (spec-exercised) deletes files the log REFERENCES
  // below a horizon. The dual failure mode is files the log NEVER
  // referenced: a writer that crashed between its data write and its
  // manifest add (the losing half of an OCC race, an aborted append)
  // leaves real parquet on storage that no snapshot can reach — at
  // 100 TB, unreclaimed orphans are a material storage bill, and
  // deleting the WRONG file corrupts time travel. q232 is the verb:
  // per artifact it plants an aborted writer's file (a deterministic
  // base subset, written but never committed), detects orphans as
  // physical leaf data dirs minus every path the log has EVER
  // referenced (adds and removes alike — a removed file is retained
  // for time travel, NOT an orphan), publishes the reclaim
  // accounting, deletes exactly the orphan set, and proves the head
  // snapshot reads byte-identically across the delete. Detection
  // cost is one driver-side listing of the artifact directory (file
  // count, not data) plus one bounded orphan scan for the sheet.

  private[graft] def physicalDataLeaves(root: java.io.File)
      : Seq[String] = {
    def walk(d: java.io.File): Seq[String] = {
      val kids = Option(d.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      if (kids.exists(f => f.isFile && f.getName.startsWith("part-")))
        Seq(d.getPath)
      else kids.filter(_.isDirectory).flatMap(walk)
    }
    walk(root)
  }

  private def q232(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val mdir = manifestLogDir(s, dir)
    val man = manifestRowsOf(s, mdir)
    val arts = man.map(_.artifact).distinct.sorted
    val rows = arts.map { a =>
      // plant: the aborted writer's data file — real parquet under
      // the artifact dir, never referenced by any manifest entry
      val aborted = snapshotAt(s, man, a, 0L).filter($"dd".isNull)
        .filter(substring(md5(concat(lit("abort:"),
          $"key".cast("string"))), 1, 1) < "4")
        .select($"key", $"k", $"c1", $"c2")
      aborted.write.mode("overwrite").parquet(s"$mdir/$a/v97_abort")
      val referenced = man.filter(m => m.artifact == a &&
        m.path.nonEmpty).map(_.path).toSet
      val orphans = physicalDataLeaves(new java.io.File(s"$mdir/$a"))
        .filterNot(referenced.contains).sorted
      val or = readManAll(s, orphans, ManDataSchema)
        .agg(count(lit(1)), coalesce(sum($"c1"), lit(0L))).head()
      val headV = headVersion(man, a)
      def headStat(): (Long, Long) = {
        val h = snapshotAt(s, man, a, headV).filter($"dd".isNull)
          .agg(count(lit(1)), coalesce(sum($"c1"), lit(0L))).head()
        (h.getLong(0), h.getLong(1))
      }
      val (preN, preC) = headStat()
      orphans.foreach(p =>
        graft.Scratch.deleteRecursively(new java.io.File(p)))
      val (postN, postC) = headStat() // re-reads the surviving files
      (a, orphans.size.toLong, or.getLong(0), or.getLong(1),
        preN, preC, postN, postC, preN == postN && preC == postC)
    }
    rows.toDF("artifact", "orphan_files", "orphan_rows",
        "orphan_chk1", "rows_head_pre", "chk1_head_pre",
        "rows_head_post", "chk1_head_post", "reads_unchanged")
      .orderBy($"artifact")
  }

  private lazy val q232Sql = {
    val abortPred =
      "substr(md5('abort:' || CAST(key AS VARCHAR)), 1, 1) < '4'"
    def one(artifact: String, clsCte: String) = {
      val live = manLiveAtSql(5L)
      s"""SELECT '$artifact' AS artifact,
         | CAST(1 AS BIGINT) AS orphan_files,
         | (SELECT CAST(count(*) AS BIGINT) FROM $clsCte
         |   WHERE cls = 'b' AND $abortPred) AS orphan_rows,
         | (SELECT CAST(coalesce(sum(c1), 0) AS BIGINT) FROM $clsCte
         |   WHERE cls = 'b' AND $abortPred) AS orphan_chk1,
         | (SELECT CAST(count(*) AS BIGINT) FROM $clsCte
         |   WHERE $live) AS rows_head_pre,
         | (SELECT CAST(coalesce(sum(c1), 0) AS BIGINT) FROM $clsCte
         |   WHERE $live) AS chk1_head_pre,
         | (SELECT CAST(count(*) AS BIGINT) FROM $clsCte
         |   WHERE $live) AS rows_head_post,
         | (SELECT CAST(coalesce(sum(c1), 0) AS BIGINT) FROM $clsCte
         |   WHERE $live) AS chk1_head_post,
         | TRUE AS reads_unchanged""".stripMargin
    }
    s"""WITH $interleaveClsPreambleSql
       |SELECT * FROM (
       |${Seq(one("ann_codes", "acls"), one("chunk_postings", "ccls"),
           one("doc_postings", "dcls")).mkString("\nUNION ALL\n")})
       |ORDER BY artifact""".stripMargin
  }

  // ───── q233: PARTIAL compaction — bin-packing the append tier ─────
  //
  // The log's OPTIMIZE is a FULL rewrite: it fires on a debt
  // threshold and rewrites the whole snapshot into clustered buckets.
  // Real tables cannot afford that per small-file wave — at 100 TB
  // the steady-state verb is INCREMENTAL compaction: pick only the
  // append-tier files (the unclustered singletons each streaming
  // commit lands), bin-pack them into ONE file, and leave the big
  // clustered buckets untouched. Write amplification is then bounded
  // by the small-file mass, not the table. q233 extends the shared
  // timeline with two more append waves (fresh keys offset beyond
  // the corpus span — a writer ingesting a new shard), runs the pack
  // commit, and publishes the accounting: how many files merged, how
  // many rows the pack rewrote, and that fraction of the table
  // (micro-units) vs the 1.0 a full rewrite would have paid — with
  // the pre/post live states proven identical. The pack is PURE
  // PHYSICAL (rows copied verbatim, outstanding merge-on-read
  // tombstones still apply at read), so snapshot identity is exact.

  private val packExt = graft.Artifacts[String]("pack_ext")
  /** fresh-key offset for the planted shard waves: far beyond any
    * corpus key, so the ingest screen has nothing to drop and no
    * tombstone can hit them. */
  private[graft] val PackKeyOff = 1L << 40

  /** append wave W (fresh keys) as a manifest commit, then the pack:
    * one commit that removes every visible cause='append' data file
    * and adds their bin-packed union. Returns the extension rows. */
  private[graft] def packCommits(s: SparkSession, man: Seq[ManRow],
      artifact: String, out: String, waves: Seq[DataFrame])
      : Seq[ManRow] = {
    var v = headVersion(man, artifact)
    var ext = Vector.empty[ManRow]
    for (w <- waves) {
      v += 1
      ext ++= Seq(commitOf(artifact, v, "append"),
        writeFiles(s, w, s"$out/$artifact/v${v}_append").head
          .add(artifact, v, "append", "append"))
    }
    // the pack commit: visible append-tier files swap for their union
    v += 1
    val tier = snapshotFiles(man ++ ext, artifact, v - 1, "data")
      .filter(_.cause == "append")
    require(tier.nonEmpty, s"no append tier to pack for $artifact")
    val packed = writeFiles(s,
      readManAll(s, tier.map(_.path), ManDataSchema).repartition(1),
      s"$out/$artifact/v${v}_pack").head
    ext ++ (commitOf(artifact, v, "pack") +:
      tier.map(_.removedAt(v, "pack", "pack"))) :+
      packed.add(artifact, v, "pack", "pack")
  }

  /** deterministic fresh-key shard wave from the artifact's base
    * rows: original key shifted by PackKeyOff, payload verbatim. */
  private def packWave(s: SparkSession, man: Seq[ManRow],
      artifact: String, hex1: String): DataFrame = {
    val base = snapshotAt(s, man, artifact, 0L)
    base.filter(substring(md5(concat(lit("pack:"),
        col("key").cast("string"))), 1, 1) === hex1)
      .select((col("key") + lit(PackKeyOff)).as("key"), col("k"),
        col("c1"), col("c2"))
  }

  /** the pack-extended manifest (once per corpus snapshot): shared
    * log untouched, plus per artifact two shard appends (v6, v7) and
    * the pack commit (v8) in a separate manifest dir. */
  private[graft] def packExtensionDir(s: SparkSession, dir: String)
      : String = {
    val mdir = manifestLogDir(s, dir)
    packExt(s, dir, mdir) {
      extensionDir(s, mdir, "graft_packext")((man, a, out) =>
        packCommits(s, man, a, out, Seq(
          packWave(s, man, a, "0"), packWave(s, man, a, "1"))))
    }
  }

  private def q233(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pdir = packExtensionDir(s, dir)
    val man = manifestRowsOf(s, pdir)
    val arts = man.map(_.artifact).distinct.sorted
    val rows = arts.map { a =>
      val packV = headVersion(man, a, "pack")
      val removed = man.filter(m => m.artifact == a &&
        m.version == packV && m.action == "remove")
      val packedAdd = man.filter(m => m.artifact == a &&
        m.version == packV && m.action == "add").head
      val present = snapshotFiles(man, a, packV, "data")
        .map(_.nRows).sum
      def liveStat(v: Long): (Long, Long, Long) = {
        val h = snapshotAt(s, man, a, v).filter($"dd".isNull)
          .agg(count(lit(1)), coalesce(sum($"c1"), lit(0L)),
            coalesce(sum($"c2"), lit(0L))).head()
        (h.getLong(0), h.getLong(1), h.getLong(2))
      }
      val (preN, preC1, preC2) = liveStat(packV - 1)
      val (postN, postC1, postC2) = liveStat(packV)
      val frac6 =
        if (present > 0) packedAdd.nRows * 1000000L / present else 0L
      (a, removed.size.toLong, packedAdd.nRows, present, frac6,
        preN, preC1, preC2, postN, postC1, postC2)
    }
    rows.toDF("artifact", "files_packed", "rows_packed",
        "rows_present_head", "partial_frac6", "rows_live_pre",
        "chk1_pre", "chk2_pre", "rows_live_post", "chk1_post",
        "chk2_post")
      .orderBy($"artifact")
  }

  private lazy val q233Sql = {
    def wave(clsCte: String, hex1: String, aggCol: String) =
      s"""(SELECT CAST(coalesce(${aggCol}, 0) AS BIGINT)
         | FROM $clsCte WHERE cls = 'b' AND
         | substr(md5('pack:' || CAST(key AS VARCHAR)), 1, 1)
         |   = '$hex1')""".stripMargin
    def one(p: String, clsCte: String, artifact: String) = {
      def w(agg: String) =
        s"${wave(clsCte, "0", agg)} + ${wave(clsCte, "1", agg)}"
      // append-tier rows surviving at v5 head, by the commit
      // recurrence's branch bits (a fired rewrite absorbs the tier)
      val appRows =
        s"""CASE WHEN f.vac5 OR f.opt4 THEN CAST(0 AS BIGINT)
           | WHEN f.vac2 THEN f.n_a2s
           | ELSE (f.n_ba1 - f.n_b) + f.n_a2s END""".stripMargin
      val appFiles =
        s"""CASE WHEN f.vac5 OR f.opt4 THEN CAST(0 AS BIGINT)
           | WHEN f.vac2 THEN CAST(1 AS BIGINT)
           | ELSE CAST(2 AS BIGINT) END""".stripMargin
      val present5 =
        "CASE WHEN f.vac5 THEN f.present3 - f.dead5pre ELSE f.present3 END"
      // live at v7/v8 = live(5) + both waves (fresh keys, no screen)
      val live5n = "(f.present3 - f.dead5pre)"
      s"""SELECT '$artifact' AS artifact,
         | $appFiles + 2 AS files_packed,
         | $appRows + ${w("count(*)")} AS rows_packed,
         | $present5 + ${w("count(*)")} AS rows_present_head,
         | CASE WHEN $present5 + ${w("count(*)")} > 0
         |  THEN (($appRows + ${w("count(*)")}) * 1000000)
         |       // ($present5 + ${w("count(*)")})
         |  ELSE CAST(0 AS BIGINT) END AS partial_frac6,
         | $live5n + ${w("count(*)")} AS rows_live_pre,
         | f.c1l4 + ${w("sum(c1)")} AS chk1_pre,
         | f.c2l4 + ${w("sum(c2)")} AS chk2_pre,
         | $live5n + ${w("count(*)")} AS rows_live_post,
         | f.c1l4 + ${w("sum(c1)")} AS chk1_post,
         | f.c2l4 + ${w("sum(c2)")} AS chk2_post
         |FROM ${p}fin f""".stripMargin
    }
    s"""WITH $interleaveClsPreambleSql,
       |${interleaveStatSql("dstat", "dcls")},
       |${interleaveStatSql("cstat", "ccls")},
       |${interleaveStatSql("astat", "acls")},
       |${manifestEventsSql("a", "astat", "vtk")},
       |${manifestEventsSql("c", "cstat", "dtk")},
       |${manifestEventsSql("d", "dstat", "dtk")}
       |SELECT * FROM (
       |${Seq(one("a", "acls", "ann_codes"),
           one("c", "ccls", "chunk_postings"),
           one("d", "dcls", "doc_postings")).mkString("\nUNION ALL\n")})
       |ORDER BY artifact""".stripMargin
  }

  // ───── q234: STREAMING manifest ingest — commits from micro-
  // batches, then the pack verb on the mess they make ─────
  //
  // Every manifest so far was built by a driver fold. In production
  // the log is fed by a STREAM: each micro-batch lands data files
  // and commits them to the manifest transactionally (data written
  // first, log row second — a crash between the two leaves only a
  // q232 orphan, never a torn snapshot). q234 runs that loop for
  // real: the doc-postings rows sharded 16 ways by key hash, drained
  // by a throttled AvailableNow file stream whose foreachBatch
  // writes its shards in one partitioned write and commits one append
  // per shard — idempotently (batch- and shard-keyed paths + a
  // committed-set guard make a retried batch a no-op, and a shard
  // file is atomic within one micro-batch by file-stream
  // granularity). Streaming ingest is exactly what CREATES the
  // small-file problem (one file per commit), so the gate then runs
  // q233's pack verb on the streamed log and proves the head state
  // identical across it. The sheet is arrival-order invariant
  // (counts and checksums only — shard→version assignment follows
  // the nondeterministic listing order), and the oracle derives the
  // commit count from the nonempty-shard count of the same hash.

  private val streamIngest = graft.Artifacts[String]("stream_ingest")

  private def shardHex(c: Column): Column =
    substring(md5(concat(lit("shard:"), c.cast("string"))), 1, 1)

  /** the streamed manifest log (once per corpus snapshot): feed
    * write, AvailableNow drain with per-shard commits, pack commit,
    * manifest + batch log parquet under the returned dir. */
  private[graft] def streamIngestLogDir(s: SparkSession, dir: String)
      : String =
    streamIngest(s, dir,
        graft.Tables.fingerprint(s"$dir/documents.parquet")) {
      import s.implicits._
      val out = graft.Scratch.tempDirDeletedOnExit("graft_sing")
      val (dpAll, _, _) = purgeArtifactRows(s, dir)
      val rows = dpAll.select($"doc_id".cast("long").as("key"),
        $"k".cast("string").as("k"), $"c1".cast("long").as("c1"),
        $"c2".cast("long").as("c2"))
      rows.withColumn("shard", shardHex($"key"))
        .repartition(col("shard"))
        .write.mode("overwrite").partitionBy("shard")
        .parquet(s"$out/feed")
      val a = "doc_stream"
      // v0: an empty base — the table exists before the stream starts
      rows.limit(0).write.mode("overwrite")
        .parquet(s"$out/$a/v0_base")
      val entries = scala.collection.mutable.ArrayBuffer(
        commitOf(a, 0L, "base"), ManRow(a, 0L, "base", "add", "data",
          "base", s"$out/$a/v0_base", 0L))
      val committed =
        scala.collection.mutable.LinkedHashSet.empty[String]
      val feedSchema = org.apache.spark.sql.types.StructType
        .fromDDL("key BIGINT, k STRING, c1 BIGINT, c2 BIGINT, " +
          "shard STRING")
      val sunk = runStream(s, dirStream(s, s"$out/feed", feedSchema, 3), out,
        sink = EachBatch { (sink, df, batchId) =>
          val fresh = df.select(col("shard")).distinct().collect()
            .map(_.getString(0)).filterNot(committed.contains)
          // the batch's uncommitted shards in ONE write, a dir per shard
          val files =
            if (fresh.isEmpty) Seq.empty
            else writeFiles(s, df.filter(col("shard").isin(fresh: _*)),
              s"$sink/batch=$batchId", Some("shard"))
          for (f <- files) {
            val sh = f.path.substring(f.path.lastIndexOf('=') + 1)
            val v = committed.size + 1L
            entries.synchronized {
              entries ++= Seq(commitOf(a, v, "append"),
                f.add(a, v, "append", "append"))
            }
            committed += sh
          }
        })
      val ingested = entries.toSeq
      writeManifest(s, out,
        ingested ++ packCommits(s, ingested, a, out, Seq.empty))
      // which micro-batch committed each shard, from the sink's dirs
      sunk.select($"batch".cast("long"), $"shard".cast("string"))
        .distinct().repartition(1)
        .write.mode("overwrite").parquet(s"$out/batchlog")
      out
    }

  private def q234(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sdir = streamIngestLogDir(s, dir)
    val man = manifestRowsOf(s, sdir)
    val a = "doc_stream"
    val packV = headVersion(man, a, "pack")
    def stat(v: Long): (Long, Long, Long, Long, Long) = {
      val files = snapshotFiles(man, a, v, "data").size.toLong
      val h = snapshotAt(s, man, a, v).filter($"dd".isNull)
        .agg(count(lit(1)), countDistinct($"key"),
          coalesce(sum($"c1"), lit(0L)), coalesce(sum($"c2"), lit(0L)))
        .head()
      (files, h.getLong(0), h.getLong(1), h.getLong(2), h.getLong(3))
    }
    val (fI, rI, kI, c1I, c2I) = stat(packV - 1)
    val (fP, rP, kP, c1P, c2P) = stat(packV)
    Seq(
      ("after_ingest", packV, fI, rI, kI, c1I, c2I),
      ("after_pack", packV + 1L, fP, rP, kP, c1P, c2P))
      .toDF("phase", "commits", "files_visible", "rows_live",
        "keys_live", "chk1", "chk2")
      .orderBy($"phase")
  }

  private lazy val q234Sql = {
    val ne =
      """(SELECT CAST(count(DISTINCT substr(md5('shard:' ||
        | CAST(key AS VARCHAR)), 1, 1)) AS BIGINT) FROM dcls)"""
        .stripMargin
    def stats = """
      | (SELECT CAST(count(*) AS BIGINT) FROM dcls) AS rows_live,
      | (SELECT CAST(count(DISTINCT key) AS BIGINT) FROM dcls)
      |   AS keys_live,
      | (SELECT CAST(coalesce(sum(c1), 0) AS BIGINT) FROM dcls)
      |   AS chk1,
      | (SELECT CAST(coalesce(sum(c2), 0) AS BIGINT) FROM dcls)
      |   AS chk2""".stripMargin
    s"""WITH $interleaveClsPreambleSql
       |SELECT * FROM (
       |SELECT 'after_ingest' AS phase, 1 + $ne AS commits,
       | 1 + $ne AS files_visible,$stats
       |UNION ALL
       |SELECT 'after_pack', 2 + $ne, CAST(2 AS BIGINT),$stats)
       |ORDER BY phase""".stripMargin
  }

  // ───── q225: the CDC feed CONSUMED by a real StreamingQuery ─────
  //
  // q222 publishes the logical change feed; q223 consumes it batch-
  // wise inside one driver fold. q225 closes the loop the way a
  // downstream system actually syncs: the per-commit deltas are
  // MATERIALIZED as signed delta files (adds +1 / removes −1 — the
  // base snapshot rides as version-0 adds), a throttled AvailableNow
  // file stream drains them in successive micro-batches into an
  // idempotent batch-stamped sink, and the maintained view is the
  // signed fold over the sink. The fold is ORDER-COMMUTATIVE (signed
  // sums per (artifact, k)), so file arrival order across micro-
  // batches cannot change the result — the property that makes a CDC
  // consumer restart/replay-safe on a real bus. Head digest gated ≡
  // the head snapshot's live aggregates.

  private[graft] val CdcFeedSchema = org.apache.spark.sql.types
    .StructType.fromDDL("artifact STRING, version BIGINT, k STRING, " +
      "c1 BIGINT, c2 BIGINT, sgn BIGINT")

  private[graft] val cdcFeed = graft.Artifacts[String]("cdc_feed")

  /** materialize the CDC feed (once per corpus snapshot): one signed
    * delta file per (artifact, commit), derived
    * from the manifest log via the SAME cdcDeltasAt spelling q222/q223
    * use. One file per commit is the production shape: a bus partition
    * per table, one message batch per transaction. */
  private[graft] def cdcFeedDir(s: SparkSession, dir: String): String = {
    val mdir = manifestLogDir(s, dir)
    cdcFeed(s, dir, mdir) {
      val man = manifestRowsOf(s, mdir)
      val out = graft.Scratch.tempDirDeletedOnExit("graft_cdcfeed")
      val arts = man.map(_.artifact).distinct.sorted
      for (a <- arts) {
        def emit(df: DataFrame, v: Long, sgn: Long) =
          df.select(lit(a).as("artifact"), lit(v).as("version"),
            col("k"), col("c1"), col("c2"), lit(sgn).as("sgn"))
        val versions = man.filter(m => m.artifact == a &&
          m.action == "commit").map(_.version).sorted
        emit(snapshotAt(s, man, a, versions.head)
            .filter(col("dd").isNull), versions.head, 1L)
          .repartition(1).write.mode("overwrite")
          .parquet(s"$out/${a}_v${versions.head}")
        for (v <- versions.tail) {
          val (adds, removes) = cdcDeltasAt(s, man, a, v)
          (adds.map(emit(_, v, 1L)).toSeq ++
            removes.map(emit(_, v, -1L)).toSeq)
            .reduceOption(_ unionByName _)
            .foreach(_.repartition(1).write.mode("overwrite")
              .parquet(s"$out/${a}_v$v"))
        }
      }
      out
    }
  }

  /** the consumer's sink: the feed drained by a throttled AvailableNow
    * StreamingQuery into the idempotent batch-stamped store — exposed
    * so the spec can pin the batch dimension and replay idempotence
    * on the same rows the gate folds. */
  private[graft] def cdcConsumerSink(s: SparkSession, dir: String,
      scratch: String): DataFrame =
    runStream(s, dirStream(s, s"${cdcFeedDir(s, dir)}/*", CdcFeedSchema, 4),
      scratch, sink = BatchSink)

  private def q225(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Scratch.withScratchDir("graft_q225") { scratch =>
      val sink = cdcConsumerSink(s, dir, scratch)
      sink.groupBy($"artifact", $"k")
        .agg(sum($"sgn").as("n"), sum($"sgn" * $"c1").as("s1"),
          sum($"sgn" * $"c2").as("s2"))
        .filter($"n" > 0)
        .groupBy($"artifact")
        .agg(count(lit(1)).as("mv_keys"), sum($"n").as("mv_rows"),
          sum($"s1").as("mv_chk1"), sum($"s2").as("mv_chk2"))
        .orderBy($"artifact")
    }
  }

  private lazy val q225Sql = {
    val h0 = Takedown.Waves(0)
    val h1 = Takedown.Waves(1)
    val live = s"phex NOT IN ('$h0','$h1')"
    def one(clsCte: String, artifact: String) =
      s"""SELECT '$artifact' AS artifact,
         | CAST(count(DISTINCT k) FILTER ($live) AS BIGINT) AS mv_keys,
         | CAST(count(*) FILTER ($live) AS BIGINT) AS mv_rows,
         | CAST(coalesce(sum(c1) FILTER ($live), 0) AS BIGINT)
         |   AS mv_chk1,
         | CAST(coalesce(sum(c2) FILTER ($live), 0) AS BIGINT)
         |   AS mv_chk2
         |FROM $clsCte""".stripMargin
    s"""WITH $interleaveClsPreambleSql
       |SELECT * FROM (
       |${one("acls", "ann_codes")}
       |UNION ALL
       |${one("ccls", "chunk_postings")}
       |UNION ALL
       |${one("dcls", "doc_postings")})
       |ORDER BY artifact""".stripMargin
  }

  private lazy val q224Sql =
    s"""WITH $interleaveClsPreambleSql,
       |${interleaveStatSql("dstat", "dcls")},
       |${interleaveStatSql("cstat", "ccls")},
       |${interleaveStatSql("astat", "acls")},
       |${manifestEventsSql("a", "astat", "vtk")},
       |${manifestEventsSql("c", "cstat", "dtk")},
       |${manifestEventsSql("d", "dstat", "dtk")},
       |${zoneStatSql("a", "acls")},
       |${zoneStatSql("c", "ccls")},
       |${zoneStatSql("d", "dcls")},
       |${skipSelectSql("a", "acls", "ann_codes", "v")},
       |${skipSelectSql("c", "ccls", "chunk_postings", "d")},
       |${skipSelectSql("d", "dcls", "doc_postings", "d")}
       |SELECT * FROM (
       |SELECT * FROM ask
       |UNION ALL
       |SELECT * FROM csk
       |UNION ALL
       |SELECT * FROM dsk)
       |ORDER BY artifact, probe""".stripMargin

  /** the unrolled manifest-commit recurrence for one artifact —
    * exactly the state machine buildOneManifest runs, as CTEs:
    * vacuum can fire only at the takedown commits v2/v5 (appends and
    * OPTIMIZE only dilute or preserve the dead fraction), OPTIMIZE
    * debt is append-file rows over visible rows entering v4. */
  private def manifestEventsSql(p: String, stat: String, tk: String)
      : String =
    s"""${p}m2 AS (SELECT s.*, tc.${tk}1 AS tk1, tc.${tk}2 AS tk2,
       |  CASE WHEN s.n_ba1 > 0
       |   THEN (s.d1_ba1 * 1000000) // s.n_ba1
       |   ELSE CAST(0 AS BIGINT) END AS frac2pre
       | FROM $stat s, tc),
       |${p}m2b AS (SELECT *, frac2pre > $VacuumThresh6 AS vac2
       | FROM ${p}m2),
       |${p}m3 AS (SELECT *,
       |  CASE WHEN vac2 THEN n_ba1 - d1_ba1 ELSE n_ba1 END
       |    AS present2,
       |  CASE WHEN vac2 THEN CAST(0 AS BIGINT) ELSE d1_ba1 END
       |    AS dead2
       | FROM ${p}m2b),
       |${p}m4 AS (SELECT *,
       |  present2 + n_a2s AS present3,
       |  CASE WHEN vac2 THEN n_a2s
       |   ELSE (n_ba1 - n_b) + n_a2s END AS debt_rows
       | FROM ${p}m3),
       |${p}m5 AS (SELECT *,
       |  CASE WHEN present3 > 0
       |   THEN (debt_rows * 1000000) // present3
       |   ELSE CAST(0 AS BIGINT) END AS debt6,
       |  CASE WHEN present3 > 0
       |   THEN (dead2 * 1000000) // present3
       |   ELSE CAST(0 AS BIGINT) END AS frac3
       | FROM ${p}m4),
       |${p}m5b AS (SELECT *, debt6 > $OptimizeThresh6 AS opt4
       | FROM ${p}m5),
       |${p}m6 AS (SELECT *, dead2 + d2_ba1 + d2_a2s AS dead5pre
       | FROM ${p}m5b),
       |${p}m6b AS (SELECT *,
       |  CASE WHEN present3 > 0
       |   THEN (dead5pre * 1000000) // present3
       |   ELSE CAST(0 AS BIGINT) END AS frac5pre
       | FROM ${p}m6),
       |${p}fin AS (SELECT *, frac5pre > $VacuumThresh6 AS vac5
       | FROM ${p}m6b)""".stripMargin

  private def manifestUnionSql(p: String, artifact: String): String =
    s"""SELECT '$artifact' AS artifact, CAST(0 AS BIGINT) AS version,
       | 'base' AS kind, FALSE AS vacuumed, FALSE AS optimized,
       | CAST(0 AS BIGINT) AS debt_frac6, n_b AS rows_present,
       | CAST(0 AS BIGINT) AS rows_dead,
       | CAST(0 AS BIGINT) AS dead_frac6, n_b AS rows_live,
       | kl0 AS keys_live, c1l0 AS chk1_live, c2l0 AS chk2_live,
       | CAST(0 AS BIGINT) AS tomb_outstanding
       |FROM ${p}fin
       |UNION ALL
       |SELECT '$artifact', CAST(1 AS BIGINT), 'append', FALSE, FALSE,
       | CAST(0 AS BIGINT), n_ba1, CAST(0 AS BIGINT),
       | CAST(0 AS BIGINT), n_ba1, kl1, c1l1, c2l1, CAST(0 AS BIGINT)
       |FROM ${p}fin
       |UNION ALL
       |SELECT '$artifact', CAST(2 AS BIGINT), 'takedown', vac2, FALSE,
       | CAST(0 AS BIGINT), present2, dead2,
       | CASE WHEN present2 > 0 THEN (dead2 * 1000000) // present2
       |  ELSE CAST(0 AS BIGINT) END,
       | present2 - dead2, kl2, c1l2, c2l2,
       | CASE WHEN vac2 THEN CAST(0 AS BIGINT) ELSE tk1 END
       |FROM ${p}fin
       |UNION ALL
       |SELECT '$artifact', CAST(3 AS BIGINT), 'append', FALSE, FALSE,
       | CAST(0 AS BIGINT), present3, dead2, frac3,
       | present3 - dead2, kl3, c1l3, c2l3,
       | CASE WHEN vac2 THEN CAST(0 AS BIGINT) ELSE tk1 END
       |FROM ${p}fin
       |UNION ALL
       |SELECT '$artifact', CAST(4 AS BIGINT), 'optimize', FALSE, opt4,
       | debt6, present3, dead2, frac3,
       | present3 - dead2, kl3, c1l3, c2l3,
       | CASE WHEN vac2 THEN CAST(0 AS BIGINT) ELSE tk1 END
       |FROM ${p}fin
       |UNION ALL
       |SELECT '$artifact', CAST(5 AS BIGINT), 'takedown', vac5, FALSE,
       | CAST(0 AS BIGINT),
       | CASE WHEN vac5 THEN present3 - dead5pre ELSE present3 END,
       | CASE WHEN vac5 THEN CAST(0 AS BIGINT) ELSE dead5pre END,
       | CASE WHEN vac5 THEN CAST(0 AS BIGINT)
       |  WHEN present3 > 0 THEN (dead5pre * 1000000) // present3
       |  ELSE CAST(0 AS BIGINT) END,
       | present3 - dead5pre, kl4, c1l4, c2l4,
       | CASE WHEN vac5 THEN CAST(0 AS BIGINT)
       |  WHEN vac2 THEN tk2 ELSE tk1 + tk2 END
       |FROM ${p}fin""".stripMargin

  private lazy val q221Sql =
    s"""WITH $interleaveClsPreambleSql,
       |${interleaveStatSql("dstat", "dcls")},
       |${interleaveStatSql("cstat", "ccls")},
       |${interleaveStatSql("astat", "acls")},
       |${manifestEventsSql("a", "astat", "vtk")},
       |${manifestEventsSql("c", "cstat", "dtk")},
       |${manifestEventsSql("d", "dstat", "dtk")}
       |SELECT * FROM (
       |SELECT * FROM (${manifestUnionSql("a", "ann_codes")})
       |UNION ALL
       |SELECT * FROM (${manifestUnionSql("c", "chunk_postings")})
       |UNION ALL
       |SELECT * FROM (${manifestUnionSql("d", "doc_postings")}))
       |ORDER BY artifact, version""".stripMargin

  /** CDC aggregates per commit, as FILTER sets over the cls/phex
    * partition — the LOGICAL change feed, so no vacuum/OPTIMIZE case
    * analysis exists at all (they are physical-only swaps). */
  private def cdcStatSql(p: String, clsCte: String): String = {
    val h0 = Takedown.Waves(0)
    val h1 = Takedown.Waves(1)
    def set(n: String, pred: String) =
      s"""  CAST(count(*) FILTER ($pred) AS BIGINT) AS n_$n,
         |  CAST(count(DISTINCT k) FILTER ($pred) AS BIGINT) AS k_$n,
         |  CAST(coalesce(sum(c1) FILTER ($pred), 0) AS BIGINT)
         |    AS c1_$n,
         |  CAST(coalesce(sum(c2) FILTER ($pred), 0) AS BIGINT)
         |    AS c2_$n""".stripMargin
    s"""$p AS (SELECT
       |${set("a1", "cls = 'a1'")},
       |${set("d1", s"cls IN ('b', 'a1') AND phex = '$h0'")},
       |${set("a2", s"cls = 'a2' AND phex <> '$h0'")},
       |${set("d2", s"phex = '$h1'")}
       | FROM $clsCte)""".stripMargin
  }

  private def cdcUnionSql(p: String, artifact: String): String = {
    def row(v: Int, kind: String, add: String, rem: String) = {
      val (na, ka, c1a, c2a) =
        if (add.isEmpty) ("CAST(0 AS BIGINT)", "CAST(0 AS BIGINT)",
          "CAST(0 AS BIGINT)", "CAST(0 AS BIGINT)")
        else (s"n_$add", s"k_$add", s"c1_$add", s"c2_$add")
      val (nr, kr, c1r, c2r) =
        if (rem.isEmpty) ("CAST(0 AS BIGINT)", "CAST(0 AS BIGINT)",
          "CAST(0 AS BIGINT)", "CAST(0 AS BIGINT)")
        else (s"n_$rem", s"k_$rem", s"c1_$rem", s"c2_$rem")
      s"""SELECT '$artifact' AS artifact,
         | CAST($v AS BIGINT) AS version, '$kind' AS kind,
         | $na AS rows_added, $ka AS keys_added, $c1a AS chk1_added,
         | $c2a AS chk2_added, $nr AS rows_removed,
         | $kr AS keys_removed, $c1r AS chk1_removed,
         | $c2r AS chk2_removed
         |FROM $p""".stripMargin
    }
    Seq(row(1, "append", "a1", ""), row(2, "takedown", "", "d1"),
      row(3, "append", "a2", ""), row(4, "optimize", "", ""),
      row(5, "takedown", "", "d2")).mkString("\nUNION ALL\n")
  }

  private lazy val q222Sql =
    s"""WITH $interleaveClsPreambleSql,
       |${cdcStatSql("acdc", "acls")},
       |${cdcStatSql("ccdc", "ccls")},
       |${cdcStatSql("dcdc", "dcls")}
       |SELECT * FROM (
       |SELECT * FROM (${cdcUnionSql("acdc", "ann_codes")})
       |UNION ALL
       |SELECT * FROM (${cdcUnionSql("ccdc", "chunk_postings")})
       |UNION ALL
       |SELECT * FROM (${cdcUnionSql("dcdc", "doc_postings")}))
       |ORDER BY artifact, version""".stripMargin

  val queries: Seq[Q] = Seq(
    Q("q236_mor_compaction", q236, Some(q236Sql),
      "MoR minor compaction: rewrite only the pre-merge files holding superseded keys (dropping those rows — the delta already carries their post images), retire the supersede file, and the head serves under the PLAIN snapshot rule with no anti-join read tax; rows_written proven == the COW bill minus the superseded rows (oracle-derived from the same branch bits), head row-identical to the q235 MoR read in one signed shuffle — MoR merge + minor compaction == COW, amortized across the reads between them"),
    Q("q235_mor_vs_cow_merge", q235, Some(q235Sql),
      "merge-on-read vs copy-on-write: the identical logical upsert executed as one post-image delta file + one version-scoped supersede key file (no base file moves; the read pays a broadcast anti-join) and proven ROW-IDENTICAL to q227's COW head via one signed groupBy shuffle, with both write-amplification numbers published side by side (amp6_mor = 1.0 micro-units, amp6_cow = the cohabiting-row rewrite) — the write-heavy vs read-heavy table-format trade made measurable"),
    Q("q234_stream_manifest_ingest", q234, Some(q234Sql),
      "streaming manifest ingest: the doc rows sharded 16 ways drain through a throttled AvailableNow file stream whose foreachBatch lands one idempotent append commit per shard (data file first, log row second — a crash between them is a q232 orphan, never a torn snapshot), then the q233 pack verb compacts the one-file-per-commit mess with the head state proven identical; sheet is arrival-order invariant and the oracle derives commit counts from the nonempty-shard count of the same key hash — the THIRTIETH streaming gate"),
    Q("q233_partial_compaction", q233, Some(q233Sql),
      "partial (bin-packing) compaction: two fresh-key shard appends extend the shared timeline, then ONE pack commit merges only the visible append-tier files — clustered buckets untouched — publishing files/rows packed and the packed fraction of the table in micro-units (vs the 1.0 a full rewrite pays), with pre/post live states proven identical; the oracle re-derives the surviving append tier from the commit recurrence's vac2/opt4/vac5 branch bits"),
    Q("q232_orphan_gc", q232, Some(q232Sql),
      "orphan-file GC: per artifact, an aborted writer's planted-but-never-committed parquet file is detected as physical leaf data dirs minus every path the manifest has EVER referenced (removed files are retained for time travel, not orphans), the reclaim accounting is published (files, rows, checksum), the orphan set is deleted, and the head snapshot is proven to read identically across the delete — the unreferenced-file VACUUM verb, detection costing one driver-side directory listing"),
    Q("q231_atomic_txn_read", q231, Some(q231Sql),
      "multi-table atomic commit: a sealed cross-artifact txn log (real parquet artifact) resolves reader versions; per physical commit step of the deliberately staggered timeline, the latest-per-artifact naive reader tears inside every stagger window (serving chunks for already-purged docs on the takedown commits) while the txn-resolved reader stays aligned at every step — all 11 tear cells computed in ONE membership-frame aggregation pass, oracle-mirrored by a FULL OUTER join + one grouped CASE aggregation"),
    Q("q230_version_skew_audit", q230, Some(q230Sql),
      "cross-artifact version-skew tear audit: doc-key sets of doc_postings vs chunk_postings compared at every aligned manifest version (tears = structural support only) and at deliberately skewed version pairs (the tear grows by exactly the append wave the lagging side has not seen) — the referential failure multi-table atomic commits prevent, every cell oracle-pinned from the version-indexed live predicates"),
    Q("q229_schema_evolution", q229, Some(q229Sql),
      "schema evolution across the manifest timeline: the merge rewrite adds a rev column, older files lack it, and the evolved read schema projects them as NULL in one multi-path scan — gating the three-way provenance split (rev NULL = pre-schema files, rev 0 = rewrite-copied rows, rev 1 = the revision) against the commit recurrence's per-file live/matched counts"),
    Q("q228_merge_update_cdc", q228, Some(q228Sql),
      "update-kind CDC derived from the COW merge's file swap: pre/post images computed from the commit's removed/added files alone as multiset diffs (exceptAll — rows the rewrite copied verbatim cancel), the feed kind an adds/removes-only consumer is blind to; both images oracle-pinned against the row classes + upsert pick"),
    Q("q227_cow_merge", q227, Some(q227Sql),
      "copy-on-write MERGE (upsert) on the manifest log: a re-ingested revision of ~1/16 of live keys rewrites every visible data file containing a matched key (matched rows transformed in place, manifest swaps old files for new — no tombstone+re-add), publishing the write-amplification ratio (rows_rewritten/rows_updated, micro-units) and pre/post/live digests — physical file counts and the updated state both oracle-pinned against the commit recurrence"),
    Q("q226_occ_commit_protocol", q226, Some(q226Sql),
      "optimistic concurrency on the manifest log: two writer races per artifact (append A1 vs takedown D1 — the takedown wins, the append detects its concurrently-taken-down keys at validation and REBASES; append A2 vs takedown D2 — the takedown's vacuum-decision input went stale and is re-evaluated against the commit-time file set), every post-commit live state gated ≡ the serialized-equivalent event prefix"),
    Q("q225_stream_cdc_consume", q225, Some(q225Sql),
      "§2.10 streaming CDC consumer: the manifest log's signed per-commit delta feed (base as version-0 adds) drained by a throttled AvailableNow StreamingQuery into an idempotent batch-stamped sink, the view maintained as the order-commutative signed fold per (artifact, key) — head digest ≡ the head snapshot's live aggregates"),
    Q("q224_zone_map_skipping", q224, Some(q224Sql),
      "zone-map data skipping over the manifest log: full-rewrite commits (fired vacuum / OPTIMIZE) cluster into range-bucketed files with per-file min/max key stats in the manifest; key-range probes at head prune their file set from the LOG before opening anything — files_visible/files_scanned/rows_read (the physical evidence) and the logical range result both oracle-pinned against the commit recurrence"),
    Q("q223_mv_maintain", q223, Some(q223Sql),
      "incremental materialized-view maintenance off the CDC feed: the per-key aggregate view is built once from the base snapshot and then maintained purely from each commit's logical deltas (one delta-sized shuffle per commit, no snapshot re-reads) — every maintained state's digest gated ≡ a full recompute over that version's live rows, with per-commit touched-row counts"),
    Q("q222_cdc_feed", q222, Some(q222Sql),
      "change-data-feed between manifest versions: per-commit LOGICAL adds/removes (rows, distinct keys, checksums) read from the commit log — append commits feed adds, takedown commits feed removes measured against the prior snapshot's live rows, vacuum/OPTIMIZE are physical-only file swaps with zero CDC"),
    Q("q221_time_travel", q221, Some(q221Sql),
      "manifest-logged artifact timeline (base, append A1, takedown D1, append A2, OPTIMIZE, takedown D2) with snapshot reads AT EVERY VERSION from the commit log's visible files — time travel where vacuum and small-file compaction swap files without breaking older versions; per-version live checksums ≡ rebuild over the event prefix, decision bits (vacuum > 10% dead, OPTIMIZE > 10% small-file debt) pinned by the recurrence"),
    Q("q220_append_purge_interleave", q220, Some(q220Sql),
      "interleaved append+purge lifecycle on the served artifacts: streamed tagged append deltas (A1, A2) and takedown waves (D1, D2) folded over the base artifacts in arrival order — ingest-screened appends, per-event dead-fraction audit, fired vacuums, final live state ≡ rebuild over (base ∪ A) − ∪D"),
    Q("q218_takedown_sla", q218, Some(q218Sql),
      "takedown SLA audit: per-stage coverage of one takedown batch — streamed tombstone store vs the feed predicate (exactly-once as a number), per-artifact compaction removal + leak counts, D-reference counts on the served hybrid and the rolled-forward release (contract 0), plus per-stage batch-lag against the throttled feed's batch-stamped head (covered as of which ingest wave)"),
    Q("q216_composed_rollforward", q216, Some(q216Sql),
      "composed release roll-forward: v_{n+1} = one release chain over (base ∪ q199-admitted tail) − takedown D, with the full exit/entry reason partition (purged_takedown / churned_budget / entered_tail / entered_budget) per language"),
    Q("q215_takedown_vacuum", q215, Some(q215Sql),
      "tombstone accumulation across successive takedown waves: per-artifact dead-row fraction, vacuum decision bit (> 10% dead), the fired vacuum rewriting the artifact and retiring the tombstone store — live checksums ≡ rebuild over corpus − cumulative D per wave"),
    Q("q208_sq8_maintain", q208, Some(q208Sql),
      "SQ8 code maintenance + re-scale audit: streamed frozen-scale int8 deltas over the base artifact; per-cell checksums under frozen vs recomputed global scale, code-change counts, micro-unit drift and the re-scale decision bit"),
    Q("q207_purge_rollforward", q207, Some(q207Sql),
      "purge-aware release roll-forward: v3 rebuilt over corpus − D, retention rollup with the exit reason split (purged_takedown vs churned_budget) per language"),
    Q("q206_takedown_purge", q206, Some(q206Sql),
      "takedown purge across the artifact family: streamed key tombstones + merge-on-read anti-join compaction over doc postings / chunk postings / ANN codes, gated ≡ a from-scratch rebuild over corpus − D, with per-bucket purge-funnel digests"),
    Q("q205_release_series", q205, Some(q205Sql),
      "3-version release lineage retention: adjacent-pair retained/churned/new rollups down a deterministic release series (v1 frozen, v3 the materialized roll-forward)"),
    Q("q204_release_retention", q204, Some(q204Sql),
      "release-pair retention/churn rollup: v1 vs v2 released doc sets per language — retained/churned/new docs+tokens, retention ratio in micro-units"),
    Q("q201_release_rollforward", q201, Some(q201Sql),
      "release roll-forward: the batch re-release materialized as v2 with an SCD2 version-lineage manifest (valid_from/valid_to per (lang, shard))"),
    Q("q200_release_drift", q200, Some(q200Sql),
      "incremental-vs-re-release drift audit: (frozen release + streamed tail) FULL OUTER diffed against a batch re-release, per (lang, status)"),
    Q("q199_stream_release_tail", q199, Some(q199Sql),
      "§2.10 streaming release-tail ingest: frozen-release screens (bench hx, bloom 8-gram, released-fp anti-join) state-free in-stream, tail shards continue the q197 manifest"),
    Q("q188_stream_chunk_index", q188, Some(q188Sql),
      "§2.10 streaming chunk-postings maintenance: stateless row-local chunk deltas + merge-on-read compaction ≡ the batch chunk index"),
    Q("q183_stream_ann_index", q183, Some(q183Sql),
      "§2.10 streaming vector-index maintenance: stateless PQ-encode deltas + merge-on-read compaction ≡ the batch IVFADC index"),
    Q("q178_stream_cdc_apply", q178, Some(q178Sql),
      "§2.10 streaming CDC apply: last-writer-wins upsert/delete changelog materialization (order-commutative argmax state)"),
    Q("q177_stream_index_maintain", q177, Some(q177Sql),
      "§2.10 streaming inverted-index maintenance: stateless per-doc postings deltas + merge-on-read compaction ≡ the batch index"),
    Q("q166_stream_drift_cusum", q166, Some(q166Sql),
      "§2.10 streaming CUSUM drift alarm: frozen 7-day baseline, five longs of state per key, prefix-min identity oracle"),
    Q("q157_stream_anomaly", q157, Some(q157Sql),
      "§2.10 streaming robust-z anomaly monitor: batch-frozen med/MAD profile, broadcast stream-static probe, watermarked daily rollup"),
    Q("q151_stream_percentiles", q151, Some(q151Sql),
      "§2.10 streaming windowed percentiles: mergeable KLL buffer through the state store (exact-regime, watermarked)"),
    Q("q146_stream_trending", q146, Some(q146Sql),
      "§2.10 streaming windowed heavy hitters: native Space-Saving summary through the state store (exact-regime, watermarked)"),
    Q("q143_stream_hll_dau", q143, Some(q143Sql),
      "§2.10 streaming windowed distinct count: native HLL buffer through the state store (sparse-exact, watermarked)"),
    Q("q140_stream_ingest_dedup", q140, Some(q140Sql),
      "§2.10 streaming near-dup dedup-at-ingest: new docs' MinHash bands stream-static-joined against the batch corpus band index, exact-Jaccard verified in-stream"),
    Q("q130_stream_decontaminate", q130, Some(q130Sql),
      "§2.10 streaming-ingest bloom screen (stateless transform, native expr in a StreamingQuery)"),
    Q("q123_stream_outer_join", q123, Some(q123Sql),
      "§2.10 stream-stream LEFT OUTER interval join (watermark-triggered null-extension)"),
    Q("q116_stream_join", q116, Some(q116Sql),
      "§2.10 stream-stream interval join (click→purchase attribution) through real streams"),
    Q("q109_stream_timeout", q109, Some(q109Sql),
      "§2.10 EventTimeTimeout sessionizer through a real AvailableNow StreamingQuery"),
    Q("q103_stream_tumbling", q103, Some(q103Sql),
      "§2.10 tumbling window agg through a real AvailableNow StreamingQuery"),
    Q("q110_stream_sliding", q110, Some(q110Sql),
      "§2.10 sliding window agg through a real AvailableNow StreamingQuery"),
    Q("q112_stream_enrich", q112, Some(q112Sql),
      "§2.10 stream-static broadcast enrichment join + windowed agg"),
    Q("q107_stream_dedup", q107, Some(q107Sql),
      "§2.10 streaming exact dedup (dropDuplicatesWithinWatermark) under the oracle"),
    Q("q108_stream_ema", q108, Some(q108Sql),
      "§2.10 mapGroupsWithState EMA state via foreachBatch sink under the oracle"),
    Q("q104_stream_session", q104, Some(q104Sql),
      "§2.10 session_window agg through a real AvailableNow StreamingQuery"),
    Q("q105_stream_stateful", q105, Some(q105Sql),
      "§2.10 flatMapGroupsWithState sessionizer through a real AvailableNow StreamingQuery"))
}
