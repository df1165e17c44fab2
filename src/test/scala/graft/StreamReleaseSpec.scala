package graft

import org.apache.spark.sql.functions._
import graft.queries.{DedupQueries, Registry, StreamingQueries, TextQueries}

/** q199's streaming release-tail ingest, pinned three ways the DuckDB
  * oracle can't: (1) stream ≡ batch for the WHOLE gate (the factored
  * screen + compaction driven over the static new split equals the
  * streamed sink's manifest row-for-row — q140's shared-spelling
  * discipline); (2) the continuation property (each language's first
  * tail shard is the frozen release's last partial shard); (3) the
  * three screens each drop a planted doc for their OWN reason. */
class StreamReleaseSpec extends SparkSpec {

  private def baseAndNew() = {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sf)
      .withColumn("ix",
        substring(md5(concat(lit("ingest:"), $"doc_id")), 1, 2))
    (docs.filter($"ix" >= "55").select($"doc_id", $"lang", $"text"),
      docs.filter($"ix" < "55").select($"doc_id", $"lang", $"text"))
  }

  test("stream equals batch, and tail shards continue the frozen release") {
    import spark.implicits._
    val (base, newDocs) = baseAndNew()
    val (blob, relFps, langTot, _, benchNg) =
      StreamingQueries.releaseFrozenState(base)

    val streamed = Registry.byName("q199_stream_release_tail")
      .run(spark, sf).localCheckpoint(true)
    val batch = StreamingQueries.tailManifest(
      StreamingQueries.releaseTailScreen(newDocs, blob, relFps), langTot,
      benchNg)
    assert(streamed.count() > 0)
    assert(streamed.except(batch).count() == 0)
    assert(batch.except(streamed).count() == 0)

    // continuation: for each lang with both base and tail rows, the
    // first tail shard is where the frozen release's cumsum left off
    val firstTail = streamed.groupBy($"lang")
      .agg(min($"shard").as("first_shard"))
    val expected = langTot.withColumn("exp_shard",
      expr(s"base_tokens div ${TextQueries.PackB}L"))
    val wrong = firstTail.join(expected, "lang")
      .filter($"first_shard" =!= $"exp_shard")
    assert(wrong.count() == 0)
    assert(firstTail.join(expected, "lang").count() > 0)
  }

  test("each screen drops a planted doc for its own reason") {
    import spark.implicits._
    val (base, _) = baseAndNew()
    val (blob, relFps, langTot, _, benchNg) =
      StreamingQueries.releaseFrozenState(base)
    val screen = DedupQueries.BloomScreen

    // a released doc's text (fp screen) and a bench doc's first 8
    // tokens (bloom screen); plant ids are searched for the TRAIN hx
    // family so the bench screen isn't what drops them
    val relText = TextQueries.releaseDocs(base)
      .orderBy($"doc_id").limit(1)
      .join(base, "doc_id").select($"text").collect()(0).getString(0)
    val benchText = screen.withBenchSplit(base)
      .filter($"hx" < screen.BenchMax)
      .filter(size(split($"text", " ")) >= 8)
      .orderBy($"doc_id").limit(1).collect()(0).getAs[String]("text")
    val leak = benchText.split(" ").take(8).mkString(" ")
    val mx = base.agg(max($"doc_id")).collect()(0).getLong(0) + 1000
    def trainId(from: Long): Long = Iterator.iterate(from)(_ + 1)
      .find { id =>
        java.security.MessageDigest.getInstance("MD5")
          .digest(s"bench:$id".getBytes("UTF-8"))
          .take(1).map("%02x".format(_)).mkString >= screen.BenchMax
      }.get
    val idDup = trainId(mx)
    val idLeak = trainId(idDup + 1)
    val idOk = trainId(idLeak + 1)
    val planted = Seq(
      (idDup, relText, "en"),
      (idLeak, s"$leak tail filler words here", "en"),
      (idOk, "wholly original never repeated content zz", "en"))
      .toDF("doc_id", "text", "lang")
    val screened = StreamingQueries
      .releaseTailScreen(planted, blob, relFps).localCheckpoint(true)
    val kept = screened.collect()
      .map(r => r.getLong(0) -> r.getAs[Boolean]("bloom_hit")).toMap
    assert(!kept.contains(idDup), "released-dup passed the fp screen")
    // the bloom screen FLAGS the bench-8-gram doc (it stays in the
    // stream for compaction's exact verify — ADVICE r13 semantics)
    assert(kept.get(idLeak) == Some(true), "bench 8-gram not flagged")
    assert(kept.get(idOk) == Some(false), "clean doc spuriously flagged")
    // compaction's exact verify makes the final call: the true leak
    // is dropped, the clean doc ships
    val compacted = StreamingQueries.tailDocs(screened, langTot, benchNg)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(!compacted.contains(idLeak), "confirmed leak passed compaction")
    assert(compacted.contains(idOk), "clean doc was over-dropped")

    // a bloom FALSE POSITIVE — a clean doc wrongly flagged — survives
    // the exact verify instead of being silently dropped (the
    // one-sided-error recovery the flag-then-verify split exists for)
    val falsePos = Seq((idOk, "en",
        "wholly original never repeated content zz", true))
      .toDF("doc_id", "lang", "text", "bloom_hit")
    val fpKept = StreamingQueries.tailDocs(falsePos, langTot, benchNg)
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(fpKept.contains(idOk), "bloom false positive was dropped")

    // and a lang unseen in the base release starts at shard 0
    val t0 = StreamingQueries.tailManifest(
      Seq((idOk, "zz", "newlang " * 5, false))
        .toDF("doc_id", "lang", "text", "bloom_hit"),
      langTot, benchNg)
    assert(t0.collect()(0).getAs[Long]("shard") == 0L)
  }

  test("the release blob built from benchNg equals the withShingles spelling, byte for byte") {
    import spark.implicits._
    val (base, _) = baseAndNew()
    val (blob, _, _, _, _) = StreamingQueries.releaseFrozenState(base)
    // the spelling the blob had before it was built from the exact
    // 8-gram set: every bench doc's shingle list, exploded
    val screen = DedupQueries.BloomScreen
    val old = screen.withShingles(
        screen.withBenchSplit(base).filter($"hx" < screen.BenchMax))
      .select(explode_outer($"shs").as("sh")).filter($"sh".isNotNull)
      .coalesce(8)
      .agg(graft.expr.GraftFunctions
        .bloomAgg(spark, $"sh", screen.NBits, screen.K).as("bloom"))
      .head().getAs[Array[Byte]](0)
    assert(old.exists(_ != 0), "an empty bench split makes the check vacuous")
    assert(java.util.Arrays.equals(blob.value, old))
  }

  test("releaseTailScreen's plan carries the blob as a broadcast, not bytes") {
    val (base, newDocs) = baseAndNew()
    val (blob, relFps, _, _, _) = StreamingQueries.releaseFrozenState(base)
    val screened = StreamingQueries.releaseTailScreen(newDocs, blob, relFps)
    val p = screened.queryExecution.executedPlan.toString
    assert(p.contains(s"broadcast#${blob.id}"), p.take(1500))
    assert(p.length < 64 * 1024, s"${p.length} chars")
    assert(bigBinaryLiterals(screened).isEmpty,
      "a BINARY literal of 1 KB or more is back in the optimized plan")
  }

  test("q201 roll-forward: lineage rows are SCD2-consistent, and v2 sidecars re-ingest the crawl to zero released-doc drift") {
    import spark.implicits._
    val (base, newDocs) = baseAndNew()
    val lineage = Registry.byName("q201_release_rollforward")
      .run(spark, sf).localCheckpoint(true)
    assert(lineage.count() > 0)
    // SCD2 shape: per (lang, shard) at most one open row; closed rows
    // end exactly where a successor (or tombstone) begins
    val perKey = lineage.groupBy($"lang", $"shard")
      .agg(sum(when($"is_current", 1L).otherwise(0L)).as("n_open"),
        count(lit(1)).as("n_rows"))
    assert(perKey.filter($"n_open" > 1).count() == 0)
    assert(lineage.filter(!$"is_current" && $"valid_to" =!= 2L)
      .count() == 0)
    // current rows = exactly the v2 manifest
    val v2 = graft.queries.TextQueries.releaseManifest(
      graft.Tables.documents(spark, sf)
        .select($"doc_id", $"lang", $"text"))
    val cur = lineage.filter($"is_current")
      .select($"lang", $"shard", $"n_docs", $"n_tokens",
        $"docs_checksum", $"layout_checksum")
    assert(cur.except(v2).count() == 0 && v2.except(cur).count() == 0)

    // roll forward the sidecars: v2's frozen state is the same build
    // over base + crawl; re-ingesting the ALREADY-INGESTED crawl
    // against it must add no doc the re-release already ships (the
    // fp screen sees them as released) — drift vs v2 is structurally
    // zero on released docs
    val all = graft.Tables.documents(spark, sf)
      .select($"doc_id", $"lang", $"text")
    val (blob2, relFps2, langTot2, rel2, benchNg2) =
      StreamingQueries.releaseFrozenState(all)
    val tail2 = StreamingQueries.tailDocs(
      StreamingQueries.releaseTailScreen(newDocs, blob2, relFps2),
      langTot2, benchNg2)
    assert(tail2.join(rel2.select($"doc_id"), "doc_id").count() == 0)
  }

  test("q204 retention rollup: retained+churned = v1, retained+new = v2") {
    import spark.implicits._
    val (base, _) = baseAndNew()
    val ret = Registry.byName("q204_release_retention").run(spark, sf)
      .localCheckpoint(true)
    val v1 = graft.queries.TextQueries.releaseDocs(base)
    val v2 = graft.queries.TextQueries.releaseDocs(
      graft.Tables.documents(spark, sf)
        .select($"doc_id", $"lang", $"text"))
    val agg = ret.agg(sum($"retained_docs"), sum($"churned_docs"),
      sum($"new_docs"), sum($"retained_tokens") + sum($"churned_tokens"),
      sum($"retained_tokens") + sum($"new_tokens")).collect()(0)
    assert(agg.getLong(0) + agg.getLong(1) == v1.count())
    assert(agg.getLong(0) + agg.getLong(2) == v2.count())
    assert(agg.getLong(3) ==
      v1.agg(sum($"n_tok")).collect()(0).getLong(0))
    assert(agg.getLong(4) ==
      v2.agg(sum($"n_tok")).collect()(0).getLong(0))
    // retention is a proper micro-unit ratio per language
    ret.collect().foreach { r =>
      val r6 = r.getLong(7)
      assert(r6 >= 0L && r6 <= 1000000L, r)
    }
  }

  test("q205 release series: each adjacent pair conserves against its own versions") {
    import spark.implicits._
    val split = DedupQueries.IngestSplit
    val docs = graft.Tables.documents(spark, sf)
    def relOf(minIx: String) = graft.queries.TextQueries.releaseDocs(
      split.withIx(docs).filter($"ix" >= minIx)
        .select($"doc_id", $"lang", $"text"))
    val sizes = Map(
      "v1" -> relOf(split.NewMax).count(),
      "v2" -> relOf(StreamingQueries.IngestMid).count(),
      "v3" -> graft.queries.TextQueries.releaseDocs(
        docs.select($"doc_id", $"lang", $"text")).count())
    // the series grows: each wave can only add corpus
    assert(sizes("v1") <= sizes("v2") && sizes("v2") <= sizes("v3"),
      sizes)
    val sheet = Registry.byName("q205_release_series").run(spark, sf)
      .localCheckpoint(true)
    def tot(pair: String) = {
      val r = sheet.filter($"pair" === pair)
        .agg(sum($"retained_docs"), sum($"churned_docs"),
          sum($"new_docs")).collect()(0)
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val (ret12, chr12, new12) = tot("v1_v2")
    val (ret23, chr23, new23) = tot("v2_v3")
    assert(ret12 + chr12 == sizes("v1"), (ret12, chr12, sizes("v1")))
    assert(ret12 + new12 == sizes("v2"), (ret12, new12, sizes("v2")))
    assert(ret23 + chr23 == sizes("v2"), (ret23, chr23, sizes("v2")))
    assert(ret23 + new23 == sizes("v3"), (ret23, new23, sizes("v3")))
  }

  test("q200 drift audit: statuses partition inc and full exactly") {
    import spark.implicits._
    val (base, newDocs) = baseAndNew()
    val (blob, relFps, langTot, relB, benchNg) =
      StreamingQueries.releaseFrozenState(base)
    val audit = Registry.byName("q200_release_drift")
      .run(spark, sf).localCheckpoint(true)
    def tot(statuses: String*): (Long, Long) = {
      val r = audit.filter($"status".isin(statuses: _*))
        .agg(sum($"n_docs"), sum($"n_tokens")).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    // inc = frozen release + compacted tail, recomputed independently
    val tail = StreamingQueries.tailDocs(
      StreamingQueries.releaseTailScreen(newDocs, blob, relFps), langTot,
      benchNg)
    val incDocs = relB.count() + tail.count()
    val incToks = relB.agg(sum($"n_tok")).collect()(0).getLong(0) +
      tail.agg(sum($"n_tok")).collect()(0).getLong(0)
    assert(tot("both", "inc_only") == ((incDocs, incToks)))
    // full = the batch re-release over everything
    val ful = TextQueries.releaseDocs(
      graft.Tables.documents(spark, sf).select($"doc_id", $"lang", $"text"))
    assert(tot("both", "full_only") ==
      ((ful.count(), ful.agg(sum($"n_tok")).collect()(0).getLong(0))))
  }

  test("q207 purge roll-forward: no doc of D in any v3 shard; reasons conserve") {
    import spark.implicits._
    val purged = StreamingQueries.Takedown.purged($"doc_id")
    val v3 = TextQueries.releaseDocs(
      graft.Tables.documents(spark, sf).filter(!purged)
        .select($"doc_id", $"lang", $"text"))
      .localCheckpoint(true)
    // the compliance property: a taken-down doc appears in NO current
    // shard of the rolled-forward release
    assert(v3.filter(purged).count() == 0)
    assert(v3.count() > 0)
    val v2 = TextQueries.releaseDocs(
      graft.Tables.documents(spark, sf).select($"doc_id", $"lang", $"text"))
    val sheet = Registry.byName("q207_purge_rollforward").run(spark, sf)
    val r = sheet.agg(sum($"retained_docs"), sum($"purged_docs"),
      sum($"churned_docs"), sum($"new_docs")).collect()(0)
    val (ret, pur, chr, nw) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    // every v2 doc exits into exactly one bucket; v3 = retained + new
    assert(ret + pur + chr == v2.count(), (ret, pur, chr, v2.count()))
    assert(ret + nw == v3.count(), (ret, nw, v3.count()))
    // the takedown actually bit: v2 ships docs from D, all exit as
    // purged_takedown (none can be "retained" — v3 excluded them)
    val v2InD = v2.filter(purged).count()
    assert(v2InD > 0, "no released doc in D — the reason split is vacuous")
    assert(pur == v2InD, (pur, v2InD))
  }

  test("q216 composed roll-forward: four-way reason partition exact, no D doc, tail really enters") {
    import spark.implicits._
    val purged = StreamingQueries.Takedown.purged($"doc_id")
    val split = graft.queries.DedupQueries.IngestSplit
    val sheet = Registry.byName("q216_composed_rollforward")
      .run(spark, sf).localCheckpoint(true)
    val r = sheet.agg(sum($"retained_docs"), sum($"purged_docs"),
      sum($"churned_docs"), sum($"entered_tail_docs"),
      sum($"entered_budget_docs")).head()
    val (ret, pur, chr, etl, ebu) = (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4))
    // rebuild both sides independently: v_n = the frozen base
    // release; v_{n+1} over (base ∪ admitted tail) − D — the SAME
    // corpus the gate composes, from first principles
    val docs = graft.Tables.documents(spark, sf)
    val ixd = split.withIx(docs)
    val base = ixd.filter($"ix" >= split.NewMax)
      .select($"doc_id", $"lang", $"text")
    val vN = TextQueries.releaseDocs(base).localCheckpoint(true)
    // conservation: every v_n doc exits into exactly one reason
    assert(ret + pur + chr == vN.count(), (ret, pur, chr, vN.count()))
    // entries partition by provenance and count against the gate
    val entered = etl + ebu
    assert(entered > 0 && etl > 0, (etl, ebu))
    // the compliance property on the composed release: the gate's
    // retained+entered must all avoid D — recompute v_{n+1} and scan
    val st = StreamingQueries.releaseFrozenState(base)
    val (blob, relFps, benchNg) = (st._1, st._2, st._5)
    val newD = ixd.filter($"ix" < split.NewMax)
      .select($"doc_id", $"lang", $"text")
    val sunk = StreamingQueries.releaseTailScreen(newD, blob, relFps)
    val keptIds = StreamingQueries.tailKeptCounts(sunk, benchNg)
      .select($"doc_id")
    val comp = base.unionByName(newD.join(keptIds, "doc_id")
        .select($"doc_id", $"lang", $"text"))
      .filter(!purged)
    val vNext = TextQueries.releaseDocs(comp).localCheckpoint(true)
    assert(vNext.filter(purged).count() == 0)
    assert(ret + entered == vNext.count(), (ret, entered, vNext.count()))
    // tail entries really come from the crawl split; budget entries
    // from base (ix provenance is a partition of entries)
    val tailIx = substring(
      md5(concat(lit("ingest:"), $"doc_id")), 1, 2) < split.NewMax
    val vNIds = vN.select($"doc_id")
    val enteredDf = vNext.join(vNIds, Seq("doc_id"), "left_anti")
    assert(enteredDf.filter(tailIx).count() == etl)
    assert(enteredDf.filter(!tailIx).count() == ebu)
  }
}
