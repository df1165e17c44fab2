package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.queries.StreamingQueries

/** The manifest-logged artifact family (q221/q222), pinned on planted
  * timelines where every snapshot is hand-computable: time travel
  * across a fired vacuum, OPTIMIZE as a logical no-op that shrinks the
  * visible file set, the ingest screen at the manifest layer, CDC
  * replay reconstructing the head state, snapshot expiry failing
  * loudly, and both decision bits in both directions. */
class ManifestSpec extends SparkSpec {

  import StreamingQueries.{ManRow, buildOneManifest, snapshotAt,
    snapshotFiles, expireSnapshots}

  private def rowsDf(keys: Seq[Long]): DataFrame = {
    import spark.implicits._
    keys.map(k => (k, s"t$k", k * 10L, k)).toDF("key", "k", "c1", "c2")
  }

  private def tombDf(keys: Seq[Long]): DataFrame = {
    import spark.implicits._
    keys.map(k => Tuple1(k)).toDF("key")
  }

  /** planted timeline: base 1..10, A1 11..14, D1 {1} (7.1% < 10%, no
    * vacuum), A2 {1, 15, 16} (key 1 re-add SCREENED), OPTIMIZE (debt
    * 6/16 = 37.5%, fires), D2 {2, 3} (dead 3/16 = 18.75%, vacuum
    * fires). */
  private def plantTimeline(): (String, Seq[ManRow]) = {
    val out = tmpDir("graft_manspec")
    val events = Seq(
      "append" -> rowsDf(11L to 14L),
      "takedown" -> tombDf(Seq(1L)),
      "append" -> rowsDf(Seq(1L, 15L, 16L)),
      "optimize" -> (null: DataFrame),
      "takedown" -> tombDf(Seq(2L, 3L)))
    val entries = buildOneManifest(spark, "t", rowsDf(1L to 10L),
      events, "key", out)
    StreamingQueries.writeManifest(spark, out, entries)
    (out, StreamingQueries.manifestRowsOf(spark, out))
  }

  private def snapMetrics(man: Seq[ManRow], v: Long)
      : (Long, Long, Set[Long]) = {
    val snap = snapshotAt(spark, man, "t", v).localCheckpoint(true)
    val total = snap.count()
    val dead = snap.filter(col("dd") === 1).count()
    val liveKeys = snap.filter(col("dd").isNull)
      .select("key").collect().map(_.getLong(0)).toSet
    (total, dead, liveKeys)
  }

  test("planted timeline: every snapshot matches the hand-rolled state; vacuum and OPTIMIZE fire where expected") {
    val (_, man) = plantTimeline()
    assert(snapMetrics(man, 0) == ((10L, 0L, (1L to 10L).toSet)))
    assert(snapMetrics(man, 1) == ((14L, 0L, (1L to 14L).toSet)))
    // D1 at 1/14 = 7.1% — below the 10% threshold, no vacuum
    assert(snapMetrics(man, 2) == ((14L, 1L, (2L to 14L).toSet)))
    assert(!man.exists(m => m.version == 2 && m.cause == "vacuum"))
    // key 1's re-add is screened at ingest; only 15, 16 enter
    assert(snapMetrics(man, 3) ==
      ((16L, 1L, ((2L to 16L).toSet))))
    // OPTIMIZE fires (debt 6/16 = 37.5%): 3 unclustered data files ->
    // 4 range-clustered buckets with DISJOINT zone maps (keys 1..16,
    // width 4), logical state identical to v3
    assert(man.exists(m => m.version == 4 && m.action == "add" &&
      m.cause == "optimize"))
    assert(snapshotFiles(man, "t", 3, "data").size == 3)
    val v4Files = snapshotFiles(man, "t", 4, "data")
    assert(v4Files.size == 4)
    assert(v4Files.map(f => (f.minKey.get, f.maxKey.get)).sorted ==
      Seq((1L, 4L), (5L, 8L), (9L, 12L), (13L, 16L)))
    assert(snapMetrics(man, 4) == snapMetrics(man, 3))
    // D2 pushes dead to 3/16 = 18.75% — vacuum fires, tombs retired;
    // the rewrite re-clusters over the live span (keys 4..16, width 4)
    assert(man.exists(m => m.version == 5 && m.action == "add" &&
      m.cause == "vacuum"))
    assert(snapMetrics(man, 5) ==
      ((13L, 0L, ((4L to 16L).toSet))))
    assert(snapshotFiles(man, "t", 5, "tomb").isEmpty)
    assert(snapshotFiles(man, "t", 5, "data")
      .map(f => (f.minKey.get, f.maxKey.get)).sorted ==
      Seq((4L, 7L), (8L, 11L), (12L, 15L), (16L, 16L)))
  }

  test("zone-map pruning: a range probe at head opens only the intersecting clustered buckets and matches the full-scan result") {
    val (_, man) = plantTimeline()
    // head v5: four clustered files [4,7][8,11][12,15][16,16]. The
    // probe [12, 16] intersects exactly two; pre-clustering (v3) every
    // file's zone map spans the probe, so nothing would be pruned.
    val vis = snapshotFiles(man, "t", 5, "data").filter(_.nRows > 0)
    val scanned = vis.filter(f =>
      f.minKey.exists(_ <= 16L) && f.maxKey.exists(_ >= 12L))
    assert(vis.size == 4 && scanned.size == 2)
    val pruned = scanned
      .map(f => spark.read.schema(StreamingQueries.ManDataSchema)
        .parquet(f.path))
      .reduce(_ unionByName _)
      .filter(col("key") >= 12L && col("key") <= 16L)
      .select("key").collect().map(_.getLong(0)).toSet
    val full = snapshotAt(spark, man, "t", 5)
      .filter(col("dd").isNull)
      .filter(col("key") >= 12L && col("key") <= 16L)
      .select("key").collect().map(_.getLong(0)).toSet
    assert(pruned == full && full == Set(12L, 13L, 14L, 15L, 16L))
    // v3 (pre-clustering): the per-commit files carry their own true
    // zone maps — base [1,10], A1 [11,14], A2 [15,16]
    val v3 = snapshotFiles(man, "t", 3, "data").filter(_.nRows > 0)
    assert(v3.map(f => (f.minKey.get, f.maxKey.get)).sorted ==
      Seq((1L, 10L), (11L, 14L), (15L, 16L)))
  }

  test("time travel: pre-vacuum and pre-OPTIMIZE versions stay readable AFTER the swaps") {
    val (_, man) = plantTimeline()
    // read v2 and v3 AFTER the v4 compaction and v5 vacuum rewrote
    // the file set — the log keeps the old files visible at their
    // own versions
    assert(snapMetrics(man, 2) == ((14L, 1L, (2L to 14L).toSet)))
    assert(snapMetrics(man, 3) == ((16L, 1L, (2L to 16L).toSet)))
  }

  test("CDC replay over the planted timeline reconstructs the head state") {
    val (_, man) = plantTimeline()
    // logical adds/removes per commit, derived the same way q222
    // publishes them; replaying them from the base set must land on
    // the head snapshot's live keys
    var live = (1L to 10L).toSet
    live ++= Set(11L, 12L, 13L, 14L) // v1 adds
    live --= Set(1L) // v2 removes
    live ++= Set(15L, 16L) // v3 adds (1 screened)
    // v4 OPTIMIZE: zero CDC
    live --= Set(2L, 3L) // v5 removes
    assert(snapMetrics(man, 5)._3 == live)
  }

  test("a fully-screened (empty) append commit stays readable") {
    val out = tmpDir("graft_manspec_empty")
    val events = Seq(
      "takedown" -> tombDf(Seq(1L)),
      "append" -> rowsDf(Seq(1L))) // only a re-add of the dead key
    val entries = buildOneManifest(spark, "t", rowsDf(1L to 4L),
      events, "key", out)
    StreamingQueries.writeManifest(spark, out, entries)
    val man = StreamingQueries.manifestRowsOf(spark, out)
    val add = man.find(m => m.version == 2 && m.action == "add")
    assert(add.exists(_.nRows == 0L), s"screened append should be empty: $add")
    // (D1 at 1/4 = 25% fires the v1 vacuum, so v2 = 3 clean rows +
    // the empty append file) — the empty file participates in the
    // union without breaking reads
    assert(snapMetrics(man, 2) == ((3L, 0L, Set(2L, 3L, 4L))))
  }

  test("decision bits do NOT fire below their thresholds") {
    val out = tmpDir("graft_manspec_low")
    val events = Seq(
      "append" -> rowsDf(Seq(101L)), // debt 1/101 < 10%
      "takedown" -> tombDf(Seq(1L, 2L)), // dead 2/101 < 10%
      "optimize" -> (null: DataFrame))
    val entries = buildOneManifest(spark, "t", rowsDf(1L to 100L),
      events, "key", out)
    assert(!entries.exists(e => e.cause == "vacuum"),
      "vacuum fired below threshold")
    assert(!entries.exists(e => e.cause == "optimize"),
      "OPTIMIZE fired below threshold")
    // the unfired OPTIMIZE still records its commit marker
    assert(entries.exists(e => e.version == 3L && e.action == "commit" &&
      e.kind == "optimize"))
  }

  test("expireSnapshots deletes below the horizon, keeps the rest, and expired reads fail loudly") {
    val (out, man) = plantTimeline()
    expireSnapshots(spark, out, keepFrom = 4L)
    val man2 = StreamingQueries.manifestRowsOf(spark, out)
    // versions >= the horizon read exactly what they read before
    assert(snapMetrics(man2, 4) == ((16L, 1L, (2L to 16L).toSet)))
    assert(snapMetrics(man2, 5) == ((13L, 0L, (4L to 16L).toSet)))
    // versions below the horizon fail loudly, not partially
    val e = intercept[IllegalArgumentException](
      snapshotAt(spark, man2, "t", 1))
    assert(e.getMessage.contains("expired"))
  }

  test("incremental MV fold ≡ per-version recompute, ROW FOR ROW, on the planted timeline") {
    val (_, man) = plantTimeline()
    def rowsOf(df: DataFrame): Set[(String, Long, Long, Long)] =
      df.collect().map(r => (r.getString(0), r.getLong(1),
        r.getLong(2), r.getLong(3))).toSet
    val folds = StreamingQueries.mvFold(spark, man, "t")
    assert(folds.map(_._1) == Seq(0L, 1L, 2L, 3L, 4L, 5L))
    for ((v, _, touched, mv) <- folds) {
      // the recompute: that version's snapshot, live rows, grouped
      val direct = snapshotAt(spark, man, "t", v)
        .filter(col("dd").isNull)
        .groupBy(col("k")).agg(count(lit(1)).as("n"),
          sum(col("c1")).as("s1"), sum(col("c2")).as("s2"))
      assert(rowsOf(mv.select("k", "n", "s1", "s2")) == rowsOf(direct),
        s"MV diverged from recompute at v$v")
      // the OPTIMIZE commit touches nothing; every other commit > v0
      // touches exactly its delta's key set
      if (v == 4L || v == 0L) assert(touched == 0L)
      else assert(touched > 0L)
    }
    // planted sparsity: D2 removes keys {2,3} -> exactly 2 view rows
    // touched while the view holds 13 (the IVM economy)
    assert(folds.last._3 == 2L)
  }

  test("q221/q222 registry gates: sheet shapes, decision bits, CDC-vs-snapshot conservation at sf") {
    import spark.implicits._
    val tt = graft.queries.Registry.byName("q221_time_travel")
      .run(spark, sf).localCheckpoint(true)
    val cdc = graft.queries.Registry.byName("q222_cdc_feed")
      .run(spark, sf).localCheckpoint(true)
    assert(tt.count() == 18) // 3 artifacts x 6 versions
    assert(cdc.count() == 15) // 3 artifacts x 5 commits
    // per (artifact, version): live conservation inside the sheet
    assert(tt.filter($"rows_live" =!=
      $"rows_present" - $"rows_dead").count() == 0)
    // CDC telescopes: rows_live(head) = rows_live(base) + sum(adds)
    // - sum(removes), per artifact
    val head = tt.filter($"version" === 5)
      .select($"artifact", $"rows_live").as[(String, Long)]
      .collect().toMap
    val base = tt.filter($"version" === 0)
      .select($"artifact", $"rows_live").as[(String, Long)]
      .collect().toMap
    val net = cdc.groupBy($"artifact")
      .agg(sum($"rows_added" - $"rows_removed").as("net"))
      .as[(String, Long)].collect().toMap
    for ((a, h) <- head)
      assert(h == base(a) + net(a),
        s"$a: head $h != base ${base(a)} + net ${net(a)}")
    // every artifact's OPTIMIZE commit carries the debt input and the
    // fired bit on this corpus (appends are ~1/3 of rows >> 10%)
    val opt = tt.filter($"version" === 4)
    assert(opt.filter($"optimized" && $"debt_frac6" > 100000L)
      .count() == 3)
    // and D2 fires the vacuum on all three (the q220-measured ~14%)
    assert(tt.filter($"version" === 5)
      .filter($"vacuumed" && $"rows_dead" === 0L).count() == 3)
    // q223: the maintained view's digest must agree with q221's live
    // checksums at EVERY (artifact, version) — IVM ≡ snapshot reads
    val mv = graft.queries.Registry.byName("q223_mv_maintain")
      .run(spark, sf).localCheckpoint(true)
    assert(mv.count() == 18)
    val joined = mv.join(tt, Seq("artifact", "version"))
    assert(joined.count() == 18)
    assert(joined.filter($"mv_chk1" =!= $"chk1_live" ||
      $"mv_chk2" =!= $"chk2_live" ||
      $"mv_rows" =!= $"keys_live").count() == 0)
  }

  test("q224 registry gate: zone-map pruning fires on the selective probes, never on the full-span control, and physical counts cohere") {
    import spark.implicits._
    val sk = graft.queries.Registry.byName("q224_zone_map_skipping")
      .run(spark, sf).localCheckpoint(true)
    assert(sk.count() == 9) // 3 artifacts x 3 probes
    assert(sk.filter($"files_scanned" > $"files_visible").count() == 0)
    assert(sk.filter($"files_skipped" =!=
      $"files_visible" - $"files_scanned").count() == 0)
    // physical rows opened always cover the live in-range rows
    assert(sk.filter($"rows_read" < $"rows_live").count() == 0)
    // the selective probes prune files on every artifact (the head
    // state is range-clustered by the fired D2 vacuum); the full-span
    // control scans every visible file
    assert(sk.filter($"probe" =!= 3 && $"files_skipped" <= 0)
      .count() == 0)
    assert(sk.filter($"probe" === 3 && $"files_skipped" =!= 0)
      .count() == 0)
    // and pruned reads lose no data: the control's live rows per
    // artifact equal q221's head live rows
    val tt = graft.queries.Registry.byName("q221_time_travel")
      .run(spark, sf)
    val head = tt.filter($"version" === 5)
      .select($"artifact", $"rows_live", $"keys_live",
        $"chk1_live", $"chk2_live")
    val ctl = sk.filter($"probe" === 3)
      .select($"artifact", $"rows_live", $"keys_live",
        $"chk1_live", $"chk2_live")
    assert(ctl.except(head).isEmpty && head.except(ctl).isEmpty)
  }

  test("OCC races on a planted two-writer timeline: conflict detection, rebase, and the stale-then-refreshed vacuum decision") {
    val out = tmpDir("graft_occspec")
    // writers: A appends 17..20 read@v0; B takes down {17,18} read@v0
    // and wins -> A's validation finds 2 of its keys taken down
    // concurrently and REBASES to {19,20}. Then C appends 21..23
    // read@v2 and wins; D takes down {1,2} read@v2 -> its read-time
    // vacuum input is 2/18 = 11.1% (fires) but C's concurrent append
    // dilutes the commit-time input to 2/21 = 9.5% (does not fire):
    // decision_changed.
    val events = Seq(
      "append" -> rowsDf(17L to 20L),
      "takedown" -> tombDf(Seq(17L, 18L)),
      "append" -> rowsDf(21L to 23L),
      "optimize" -> (null: DataFrame),
      "takedown" -> tombDf(Seq(1L, 2L)))
    val entries = buildOneManifest(spark, "t", rowsDf(1L to 16L),
      events, "key", out)
    StreamingQueries.writeManifest(spark, out, entries)
    val man = StreamingQueries.manifestRowsOf(spark, out)
    val races = StreamingQueries.occRaces(spark, man, "t", out)
    val meta = races.map(_._1)
    // txn 1: B's takedown commits clean; base has no {17,18} keys
    assert(meta(0)._7 == 0L && !meta(0)._8 && meta(0)._9 == 0L)
    // txn 2: A detects both concurrently-taken-down keys and rebases
    assert(meta(1)._7 == 2L && meta(1)._8)
    // txn 3: C prepared against v2 (history = D1) — no new conflicts
    assert(meta(2)._7 == 0L && !meta(2)._8)
    // txn 4: D's decision input went stale across C's commit
    assert(meta(3)._9 == 111111L, s"frac6_read: ${meta(3)._9}")
    assert(meta(3)._10 == 95238L, s"frac6_commit: ${meta(3)._10}")
    assert(meta(3)._11, "decision_changed should fire")
    // serialized equivalence: the final state is exactly
    // (base - D1 - D2) ∪ rebased A1 ∪ A2
    val live = races.last._2.select("key").collect()
      .map(_.getLong(0)).toSet
    assert(live == ((3L to 16L).toSet ++ Set(19L, 20L) ++
      (21L to 23L).toSet))
  }

  test("q226 registry gate: shape, rebase bookkeeping, and head-state agreement with time travel") {
    import spark.implicits._
    val occ = graft.queries.Registry.byName("q226_occ_commit_protocol")
      .run(spark, sf).localCheckpoint(true)
    assert(occ.count() == 12) // 3 artifacts x 4 transactions
    // rebased <=> conflicts, on every artifact's A transaction
    assert(occ.filter($"rebased" =!= ($"conflict_keys" > 0))
      .count() == 0)
    // the takedown waves hit ~10% of keys, so A1 always loses some
    // keys to the concurrent D1 on this corpus
    assert(occ.filter($"txn_seq" === 2 && $"conflict_keys" <= 0)
      .count() == 0)
    // post-commit state after txn 4 == q221's head live state
    val tt = graft.queries.Registry.byName("q221_time_travel")
      .run(spark, sf).filter($"version" === 5)
      .select($"artifact", $"rows_live", $"keys_live", $"chk1_live",
        $"chk2_live")
    val last = occ.filter($"txn_seq" === 4)
      .select($"artifact", $"rows_live", $"keys_live", $"chk1_live",
        $"chk2_live")
    assert(last.except(tt).isEmpty && tt.except(last).isEmpty)
  }

  test("COW merge on a planted timeline: only matched files rewrite, the revision lands in place, and pre-merge versions read unchanged") {
    val (out, man) = plantTimeline()
    // head v5: four clustered buckets [4,7][8,11][12,15][16,16], live
    // keys 4..16. Updating {5, 13} touches exactly two buckets; the
    // other two files are KEPT (no rewrite, no manifest action).
    val extRows = StreamingQueries.mergeCommit(spark, man, "t", out,
      c => c.isin(5L, 13L))
    assert(extRows.count(r => r.action == "remove") == 2)
    assert(extRows.count(r => r.action == "add") == 2)
    val man2 = man ++ extRows
    assert(snapshotFiles(man2, "t", 6, "data").size == 4)
    val rows = snapshotAt(spark, man2, "t", 6)
      .filter(col("dd").isNull)
      .select("key", "c1", "c2").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(rows.keySet == (4L to 16L).toSet) // cardinality preserved
    // the revision transform c1+key / c2+1 on exactly the picked keys
    assert(rows(5L) == ((55L, 6L)) && rows(13L) == ((143L, 14L)))
    assert(rows(8L) == ((80L, 8L)) && rows(16L) == ((160L, 16L)))
    // time travel: v5 reads the ORIGINAL values after the merge swap
    val v5 = snapshotAt(spark, man2, "t", 5)
      .filter(col("dd").isNull)
      .filter(col("key").isin(5L, 13L))
      .select("key", "c1").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(v5 == Map(5L -> 50L, 13L -> 130L))
  }

  test("q227 registry gate: COW write amplification, cardinality preservation, and checksum algebra vs time travel") {
    import spark.implicits._
    val mg = graft.queries.Registry.byName("q227_cow_merge")
      .run(spark, sf).localCheckpoint(true)
    assert(mg.count() == 3)
    assert(mg.filter($"files_rewritten" > $"files_visible")
      .count() == 0)
    // COW rewrites at least the updated rows themselves
    assert(mg.filter($"amp6" < 1000000L && $"rows_updated" > 0)
      .count() == 0)
    // the merge preserves cardinality and shifts checksums by exactly
    // the pre→post delta, against q221's head state
    val tt = graft.queries.Registry.byName("q221_time_travel")
      .run(spark, sf).filter($"version" === 5)
      .select($"artifact", $"rows_live".as("tr"), $"keys_live".as("tk"),
        $"chk1_live".as("t1"), $"chk2_live".as("t2"))
    val j = mg.join(tt, Seq("artifact"))
    assert(j.count() == 3)
    assert(j.filter($"rows_live" =!= $"tr" || $"keys_live" =!= $"tk")
      .count() == 0)
    assert(j.filter($"chk1_live" =!=
      $"t1" + ($"chk1_post" - $"chk1_pre")).count() == 0)
    assert(j.filter($"chk2_live" =!=
      $"t2" + ($"chk2_post" - $"chk2_pre")).count() == 0)
  }

  test("update CDC from the planted merge swap: exceptAll yields exactly the changed rows, and replay closes v5 -> v6") {
    val out = tmpDir("graft_mcdc")
    val (_, man0) = plantTimeline()
    val extRows = StreamingQueries.mergeCommit(spark, man0, "t", out,
      c => c.isin(5L, 13L))
    val man = man0 ++ extRows
    val rem = extRows.filter(_.action == "remove").map(_.path)
    val add = extRows.filter(_.action == "add").map(_.path)
    def readAll(paths: Seq[String]) = paths
      .map(p => spark.read.schema(StreamingQueries.ManDataSchema)
        .parquet(p)).reduce(_ unionByName _)
    def rowsOf(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSet
    val pre = readAll(rem).exceptAll(readAll(add))
    val post = readAll(add).exceptAll(readAll(rem))
    // exactly the picked keys' rows, original and revised
    assert(rowsOf(pre) == Set((5L, "t5", 50L, 5L),
      (13L, "t13", 130L, 13L)))
    assert(rowsOf(post) == Set((5L, "t5", 55L, 6L),
      (13L, "t13", 143L, 14L)))
    // replay: v5 live − pre + post ≡ v6 live, ROW FOR ROW
    val v5 = snapshotAt(spark, man, "t", 5).filter(col("dd").isNull)
      .select("key", "k", "c1", "c2")
    val v6 = snapshotAt(spark, man, "t", 6).filter(col("dd").isNull)
      .select("key", "k", "c1", "c2")
    val replayed = v5.exceptAll(pre).unionByName(post)
    assert(rowsOf(replayed) == rowsOf(v6))
  }

  test("q228 registry gate: the file-swap-derived update images agree with q227's matched digests") {
    import spark.implicits._
    val cdc = graft.queries.Registry.byName("q228_merge_update_cdc")
      .run(spark, sf).localCheckpoint(true)
    assert(cdc.count() == 3)
    val mg = graft.queries.Registry.byName("q227_cow_merge")
      .run(spark, sf)
      .select($"artifact", $"keys_updated", $"rows_updated",
        $"chk1_pre".as("m1p"), $"chk2_pre".as("m2p"),
        $"chk1_post".as("m1q"), $"chk2_post".as("m2q"))
    val j = cdc.join(mg, Seq("artifact"))
    assert(j.count() == 3)
    assert(j.filter($"keys_pre" =!= $"keys_updated" ||
      $"rows_pre" =!= $"rows_updated" ||
      $"chk1_pre" =!= $"m1p" || $"chk2_pre" =!= $"m2p" ||
      $"chk1_post" =!= $"m1q" || $"chk2_post" =!= $"m2q")
      .count() == 0)
  }

  test("schema evolution on the planted merge: evolved reads project pre-schema files as NULL, rewrite-copied rows as rev 0, the revision as rev 1") {
    val out = tmpDir("graft_sevspec")
    val (_, man0) = plantTimeline()
    val ext = StreamingQueries.mergeCommit(spark, man0, "t", out,
      c => c.isin(5L, 13L))
    val man = man0 ++ ext
    // head v6: buckets [4,7] and [12,15] rewritten (carry rev),
    // [8,11] and [16,16] kept (no rev column at all)
    val files = StreamingQueries.snapshotFiles(man, "t", 6, "data")
      .filter(_.nRows > 0)
    val d = spark.read.schema(StreamingQueries.ManDataSchemaV2)
      .parquet(files.map(_.path): _*)
    val byRev = d.groupBy(col("rev")).count().collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0)) ->
        r.getLong(1)).toMap
    // live 13 rows: {5,13} rev1; [4,7]∖{5} + [12,15]∖{13} = 6 rev0;
    // [8,11] + {16} = 5 pre-schema NULL
    assert(byRev == Map(-1L -> 5L, 0L -> 6L, 1L -> 2L))
    // old snapshots still read under their own schema, unchanged
    assert(snapshotAt(spark, man, "t", 5).filter(col("dd").isNull)
      .count() == 13)
  }

  test("q229 registry gate: the provenance split is conserved and rev1 matches the merge's post image") {
    import spark.implicits._
    val se = graft.queries.Registry.byName("q229_schema_evolution")
      .run(spark, sf).localCheckpoint(true)
    assert(se.count() == 3)
    assert(se.filter($"rows_rev_null" + $"rows_rev0" + $"rows_rev1"
      =!= $"rows_live").count() == 0)
    val cdc = graft.queries.Registry.byName("q228_merge_update_cdc")
      .run(spark, sf)
      .select($"artifact", $"rows_post", $"chk1_post", $"chk2_post")
    val j = se.join(cdc, Seq("artifact"))
    assert(j.count() == 3)
    assert(j.filter($"rows_rev1" =!= $"rows_post" ||
      $"chk1_rev1" =!= $"chk1_post" ||
      $"chk2_rev1" =!= $"chk2_post").count() == 0)
  }

  test("q230 registry gate: a skewed cross-artifact read tears by exactly the append wave the lagging side has not seen") {
    import spark.implicits._
    val skew = graft.queries.Registry.byName("q230_version_skew_audit")
      .run(spark, sf).localCheckpoint(true)
    assert(skew.count() == 8)
    assert(skew.filter($"aligned" === ($"v_doc" === $"v_chunk"))
      .count() == 8)
    def cell(vd: Long, vc: Long): (Long, Long) = {
      val r = skew.filter($"v_doc" === vd && $"v_chunk" === vc)
        .collect()
      assert(r.length == 1)
      (r(0).getAs[Long]("tears_doc_only"),
        r(0).getAs[Long]("tears_chunk_only"))
    }
    // the v2→v3 delta on the shared fixture timeline is append wave
    // A2; recompute it from the snapshots directly
    val mdir = StreamingQueries.manifestLogDir(spark, sf)
    val man = StreamingQueries.manifestRowsOf(spark, mdir)
    def live(artifact: String, v: Long) =
      snapshotAt(spark, man, artifact, v).filter($"dd".isNull)
        .select($"key").distinct().localCheckpoint(true)
    val c2 = live("chunk_postings", 2L)
    val c3 = live("chunk_postings", 3L)
    val d2 = live("doc_postings", 2L)
    val d3 = live("doc_postings", 3L)
    val a2c = c3.join(c2, Seq("key"), "left_anti").localCheckpoint(true)
    val g = a2c.count()
    assert(g > 0) // the append wave genuinely lands chunk keys
    // appended keys are fresh: absent at v2 on BOTH sides, present in
    // the doc artifact at v3 (same docs feed both artifacts)
    assert(a2c.join(d2, Seq("key"), "left_semi").count() == 0)
    assert(a2c.join(d3, Seq("key"), "left_anti").count() == 0)
    // tear law: skew cell = aligned cell + the unseen append wave
    assert(cell(3L, 2L)._1 == cell(3L, 3L)._1 + g)
    assert(cell(2L, 3L)._2 == cell(2L, 2L)._2 + g)
    // and the OTHER direction of each skewed cell is a subset
    // relation, never an inflation
    assert(cell(3L, 2L)._2 <= cell(3L, 3L)._2 + cell(2L, 2L)._2)
    assert(cell(2L, 3L)._1 <= cell(2L, 2L)._1 + cell(3L, 3L)._1)
  }

  test("q231 registry gate: the txn reader never tears, the naive reader tears in every stagger window, and the takedown window serves purged chunks") {
    import spark.implicits._
    val tx = graft.queries.Registry.byName("q231_atomic_txn_read")
      .run(spark, sf).localCheckpoint(true)
    assert(tx.count() == 22)
    // snapshot isolation: the txn-resolved reader is aligned at EVERY
    // physical step; the naive reader misaligns at exactly the five
    // stagger windows (odd steps)
    assert(tx.filter($"reader" === "txn" && !$"aligned").count() == 0)
    assert(tx.filter($"reader" === "naive" && !$"aligned")
      .select($"step").collect().map(_.getLong(0)).toSet ==
      Set(1L, 3L, 5L, 7L, 9L))
    // independent spelling: the naive cell inside the v3 stagger
    // window (doc@3, chunk@2) recomputed here by direct per-pair
    // anti-joins over the snapshots — the one-pass membership
    // aggregation both gates share must agree with it exactly
    val mdir = StreamingQueries.manifestLogDir(spark, sf)
    val man = StreamingQueries.manifestRowsOf(spark, mdir)
    def live(a: String, v: Long) =
      snapshotAt(spark, man, a, v).filter($"dd".isNull)
        .select($"key").distinct()
    val d3 = live("doc_postings", 3L).localCheckpoint(true)
    val c2x = live("chunk_postings", 2L).localCheckpoint(true)
    val n5 = tx.filter($"step" === 5 && $"reader" === "naive").head()
    assert(n5.getAs[Long]("tears_doc_only") ==
      d3.join(c2x, Seq("key"), "left_anti").count())
    assert(n5.getAs[Long]("tears_chunk_only") ==
      c2x.join(d3, Seq("key"), "left_anti").count())
    // the compliance failure: in the takedown-commit stagger window
    // (step 3: doc sealed v2 = D1 applied, chunk still v1) the naive
    // reader serves chunk keys for docs the doc side already purged
    val purgedWithChunks = live("chunk_postings", 1L)
      .join(live("chunk_postings", 2L), Seq("key"), "left_anti")
      .join(live("doc_postings", 1L), Seq("key"), "left_semi")
      .count()
    assert(purgedWithChunks > 0)
    val n3 = tx.filter($"step" === 3 && $"reader" === "naive").head()
    assert(n3.getAs[Long]("tears_chunk_only") >= purgedWithChunks)
    val t3 = tx.filter($"step" === 3 && $"reader" === "txn").head()
    assert(t3.getAs[Long]("v_doc") == 1L &&
      t3.getAs[Long]("v_chunk") == 1L)
  }

  test("orphan detection on a clean planted artifact finds nothing: physical leaves == referenced paths exactly") {
    val (out, man) = plantTimeline()
    val referenced = man.filter(_.path.nonEmpty).map(_.path).toSet
    val leaves = StreamingQueries
      .physicalDataLeaves(new java.io.File(s"$out/t")).toSet
    // every physical leaf is log-referenced (no orphans on a clean
    // timeline) and every referenced non-empty file is on disk
    assert(leaves.subsetOf(referenced))
    val onDisk = referenced.filter(p => new java.io.File(p).exists())
    assert(leaves == onDisk.filter(p =>
      StreamingQueries.physicalDataLeaves(new java.io.File(p)).nonEmpty))
  }

  test("q232 registry gate: GC deletes exactly the planted orphans, never a referenced file, and reads survive") {
    import spark.implicits._
    val gc = graft.queries.Registry.byName("q232_orphan_gc")
      .run(spark, sf).localCheckpoint(true)
    assert(gc.count() == 3)
    assert(gc.filter(!$"reads_unchanged").count() == 0)
    assert(gc.filter($"orphan_files" =!= 1L).count() == 0)
    assert(gc.filter($"orphan_rows" <= 0L).count() == 0)
    assert(gc.filter($"rows_head_pre" =!= $"rows_head_post" ||
      $"chk1_head_pre" =!= $"chk1_head_post").count() == 0)
    // the orphan dirs are physically gone, and every log-referenced
    // surviving file still reads: full time travel works post-GC
    val mdir = StreamingQueries.manifestLogDir(spark, sf)
    val man = StreamingQueries.manifestRowsOf(spark, mdir)
    for (a <- man.map(_.artifact).distinct) {
      assert(!new java.io.File(s"$mdir/$a/v97_abort").exists())
      for (v <- 0L to man.filter(_.artifact == a).map(_.version).max)
        assert(snapshotAt(spark, man, a, v).count() > 0)
    }
  }

  test("partial pack on the planted timeline: only the append tier rewrites, buckets stay, snapshots identical across the pack") {
    import spark.implicits._
    val (out, man0) = plantTimeline()
    // head v5 is the fired vacuum's 4 clustered buckets (live 13);
    // plant two shard waves then pack them
    val ext = StreamingQueries.packCommits(spark, man0, "t", out,
      Seq(rowsDf(Seq(101L, 102L)), rowsDf(Seq(103L))))
    val man = man0 ++ ext
    // the pack commit removed exactly the two wave files and added
    // one packed file of 3 rows; the 4 vacuum buckets never moved
    val packAdds = man.filter(m => m.version == 8L &&
      m.action == "add")
    assert(packAdds.size == 1 && packAdds.head.nRows == 3L)
    val packRemoves = man.filter(m => m.version == 8L &&
      m.action == "remove").map(_.path).toSet
    assert(packRemoves.size == 2)
    val v8files = snapshotFiles(man, "t", 8L, "data")
    assert(v8files.size == 5) // 4 buckets + the packed file
    assert(v8files.count(_.cause == "vacuum") == 4)
    // identity across the pack, and the waves are live at head
    def liveKeysAt(v: Long) =
      snapshotAt(spark, man, "t", v).filter(col("dd").isNull)
        .select("key").collect().map(_.getLong(0)).toSet
    val k7 = liveKeysAt(7L)
    assert(k7 == ((4L to 16L).toSet ++ Set(101L, 102L, 103L)))
    assert(liveKeysAt(8L) == k7)
    // time travel below the pack still reads the wave files
    assert(liveKeysAt(6L) == ((4L to 16L).toSet ++ Set(101L, 102L)))
  }

  test("q233 registry gate: pack conservation from the extended log, identity, and sub-full amplification") {
    import spark.implicits._
    val pk = graft.queries.Registry.byName("q233_partial_compaction")
      .run(spark, sf).localCheckpoint(true)
    assert(pk.count() == 3)
    assert(pk.filter($"rows_live_pre" =!= $"rows_live_post" ||
      $"chk1_pre" =!= $"chk1_post" ||
      $"chk2_pre" =!= $"chk2_post").count() == 0)
    assert(pk.filter($"partial_frac6" <= 0L ||
      $"partial_frac6" >= 1000000L).count() == 0)
    assert(pk.filter($"files_packed" < 2L).count() == 0)
    // conservation against the extension log itself: the packed add's
    // row count equals the sum of the removed files' add-time rows
    val pdir = StreamingQueries.packExtensionDir(spark, sf)
    val man = StreamingQueries.manifestRowsOf(spark, pdir)
    for (a <- man.map(_.artifact).distinct) {
      val packV = man.filter(m => m.artifact == a &&
        m.kind == "pack").map(_.version).max
      val removedPaths = man.filter(m => m.artifact == a &&
        m.version == packV && m.action == "remove").map(_.path).toSet
      val removedRows = man.filter(m => m.artifact == a &&
        m.action == "add" && removedPaths.contains(m.path))
        .map(_.nRows).sum
      val packedRows = man.filter(m => m.artifact == a &&
        m.version == packV && m.action == "add").map(_.nRows).sum
      assert(packedRows == removedRows)
      val sheet = pk.filter($"artifact" === a).head()
      assert(sheet.getAs[Long]("rows_packed") == packedRows)
      assert(sheet.getAs[Long]("files_packed") == removedPaths.size)
    }
  }

  test("q234 streaming manifest ingest: >= 2 throttled micro-batches, one commit per shard, head == the source rows, pack preserves it") {
    import spark.implicits._
    val sdir = StreamingQueries.streamIngestLogDir(spark, sf)
    // the batch dimension is real: 16 shard files at 3 files/trigger
    // must spread over successive micro-batches
    val bl = spark.read.parquet(s"$sdir/batchlog")
    assert(bl.select($"batch").distinct().count() >= 2)
    // exactly one commit per shard, no duplicate shard commits
    assert(bl.select($"shard").distinct().count() == bl.count())
    val man = StreamingQueries.manifestRowsOf(spark, sdir)
    val appends = man.filter(m => m.kind == "append" &&
      m.action == "add")
    assert(appends.size == bl.count())
    // head state equals the source frame, and survives the pack
    val sheet = graft.queries.Registry
      .byName("q234_stream_manifest_ingest").run(spark, sf)
      .localCheckpoint(true)
    assert(sheet.count() == 2)
    val i = sheet.filter($"phase" === "after_ingest").head()
    val p = sheet.filter($"phase" === "after_pack").head()
    for (c <- Seq("rows_live", "keys_live", "chk1", "chk2"))
      assert(i.getAs[Long](c) == p.getAs[Long](c))
    assert(p.getAs[Long]("files_visible") == 2L)
    assert(i.getAs[Long]("files_visible") ==
      appends.size.toLong + 1L)
  }

  test("MoR merge on the planted timeline: one delta + one supersede file, base untouched, head == the COW merge head") {
    import spark.implicits._
    val out = tmpDir("graft_morspec")
    val (cowOut, man0) = plantTimeline()
    val morExt = StreamingQueries.morCommit(spark, man0, "t", out,
      c => c.isin(5L, 13L))
    val morMan = man0 ++ morExt
    // the commit added exactly two files and removed NOTHING
    assert(morExt.count(_.action == "add") == 2)
    assert(morExt.count(_.action == "remove") == 0)
    val head = StreamingQueries.morSnapshotHead(spark, morMan, "t")
      .filter(col("dd").isNull)
      .select("key", "k", "c1", "c2").localCheckpoint(true)
    // hand-rolled expectation: live 13 rows, keys 5 and 13 carry the
    // post image (c1 + key, c2 + 1)
    val byKey = head.collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(byKey.keySet == (4L to 16L).toSet)
    assert(byKey(5L) == ((55L, 6L)) && byKey(13L) == ((143L, 14L)))
    assert(byKey(6L) == ((60L, 6L))) // untouched rows verbatim
    // row-identity with the COW merge head on the same pick
    val cowExt = StreamingQueries.mergeCommit(spark, man0, "t",
      cowOut, c => c.isin(5L, 13L))
    val cowMan = man0 ++ cowExt
    val cowHead = snapshotAt(spark, cowMan, "t", 6L)
      .filter(col("dd").isNull).select("key", "k", "c1", "c2")
    assert(head.exceptAll(cowHead).count() == 0)
    assert(cowHead.exceptAll(head).count() == 0)
  }

  test("q235 registry gate: MoR head row-identical to COW, amp6_mor exactly 1.0, COW amplification strictly above it") {
    import spark.implicits._
    val mc = graft.queries.Registry.byName("q235_mor_vs_cow_merge")
      .run(spark, sf).localCheckpoint(true)
    assert(mc.count() == 3)
    assert(mc.filter(!$"head_identical").count() == 0)
    assert(mc.filter($"amp6_mor" =!= 1000000L).count() == 0)
    assert(mc.filter($"amp6_cow" <= $"amp6_mor").count() == 0)
    assert(mc.filter($"rows_written_cow" <= $"rows_written_mor")
      .count() == 0)
    // cross-gate: the update cardinalities match q227's COW sheet
    val cow = graft.queries.Registry.byName("q227_cow_merge")
      .run(spark, sf)
      .select($"artifact", $"keys_updated".as("kc"),
        $"rows_updated".as("rc"), $"rows_rewritten".as("ww"))
    val j = mc.join(cow, Seq("artifact"))
    assert(j.count() == 3)
    assert(j.filter($"keys_updated" =!= $"kc" ||
      $"rows_updated" =!= $"rc" ||
      $"rows_written_cow" =!= $"ww").count() == 0)
  }

  test("MoR minor compaction on the planted timeline: only cohabiting buckets rewrite minus the superseded rows, the supersede file retires, plain reads return") {
    import spark.implicits._
    val out = tmpDir("graft_morcmpspec")
    val (_, man0) = plantTimeline()
    val morExt = StreamingQueries.morCommit(spark, man0, "t", out,
      c => c.isin(5L, 13L))
    val morMan = man0 ++ morExt
    val cmpExt = StreamingQueries.morCompact(spark, morMan, "t", out)
    val man = morMan ++ cmpExt
    // keys 5 and 13 live in two of the four vacuum buckets: exactly
    // those rewrite, each dropping its superseded row (4 - 1 = 3)
    val adds = cmpExt.filter(e => e.action == "add")
    assert(adds.size == 2 && adds.forall(_.nRows == 3L))
    // the supersede file is retired at v7
    assert(snapshotFiles(man, "t", 7L, "morsup").isEmpty)
    // the PLAIN snapshot read now serves the merged state
    val live = snapshotAt(spark, man, "t", 7L)
      .filter(col("dd").isNull).select("key", "k", "c1", "c2")
      .localCheckpoint(true)
    val byKey = live.collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    assert(byKey.keySet == (4L to 16L).toSet)
    assert(byKey(5L) == ((55L, 6L)) && byKey(13L) == ((143L, 14L)))
    val mor = StreamingQueries.morSnapshotHead(spark, morMan, "t")
      .filter(col("dd").isNull).select("key", "k", "c1", "c2")
    assert(live.exceptAll(mor).count() == 0)
    assert(mor.exceptAll(live).count() == 0)
  }

  test("MoR compaction that supersedes a whole bucket: its rewrite lands as an empty file, and every snapshot still reads") {
    val out = tmpDir("graft_morcmpempty")
    val (_, man0) = plantTimeline()
    // every live key of bucket [4,7] is superseded, plus 13 of [12,15]
    val morMan = man0 ++ StreamingQueries.morCommit(spark, man0, "t",
      out, c => c.isin(4L, 5L, 6L, 7L, 13L))
    val cmpExt = StreamingQueries.morCompact(spark, morMan, "t", out)
    val man = morMan ++ cmpExt
    val buckets = snapshotFiles(man0, "t", 5L, "data")
      .filter(_.nRows > 0).sortBy(_.minKey)
    val sup = morMan.filter(m => m.version == 6L && m.fileKind == "morsup")
    // the entries the per-file rewrite made: commit, then per touched
    // bucket its remove and its add (the emptied one with no zone
    // map), then the supersede file's retirement
    assert(cmpExt.map(e => (e.action, e.fileKind, e.nRows, e.minKey,
      e.maxKey)) == Seq(
      ("commit", "", 0L, None, None),
      ("remove", "data", 0L, None, None),
      ("add", "data", 0L, None, None),
      ("remove", "data", 0L, None, None),
      ("add", "data", 3L, Some(12L), Some(15L)),
      ("remove", "morsup", 0L, None, None)))
    assert(cmpExt.filter(_.action == "remove").map(_.path) ==
      Seq(buckets(0).path, buckets(2).path, sup.head.path))
    assert(cmpExt.forall(e => e.version == 7L && e.kind == "compact"))
    // every snapshot reads; the compacted head is the MoR head
    for (v <- 0L to 7L) snapshotAt(spark, man, "t", v).count()
    val live = snapshotAt(spark, man, "t", 7L).filter(col("dd").isNull)
      .select("key", "k", "c1", "c2").localCheckpoint(true)
    val mor = StreamingQueries.morSnapshotHead(spark, morMan, "t")
      .filter(col("dd").isNull).select("key", "k", "c1", "c2")
    assert(live.count() == 13L)
    assert(live.exceptAll(mor).count() == 0)
    assert(mor.exceptAll(live).count() == 0)
  }

  test("mergeCommit and morCompact run a fixed number of Spark jobs, however many files the pick touches") {
    // head v5 buckets [4,7][8,11][12,15][16,16]: picks touching 1, 2, 4
    val picks = Seq(Seq(5L), Seq(5L, 13L), Seq(5L, 9L, 13L, 16L))
    val (_, man) = plantTimeline()
    val merge = picks.map { p =>
      val out = tmpDir("graft_mergejobs")
      jobsDuring(StreamingQueries.mergeCommit(spark, man, "t", out,
        c => c.isin(p: _*)))
    }
    assert(merge.distinct.size == 1, s"mergeCommit jobs per pick: $merge")
    val compact = picks.map { p =>
      val out = tmpDir("graft_cmpjobs")
      val morMan = man ++ StreamingQueries.morCommit(spark, man, "t", out,
        c => c.isin(p: _*))
      jobsDuring(StreamingQueries.morCompact(spark, morMan, "t", out))
    }
    assert(compact.distinct.size == 1,
      s"morCompact jobs per pick: $compact")
  }

  test("q236 registry gate: the compaction bill is the COW bill minus the superseded rows, and the plain head is MoR-identical") {
    import spark.implicits._
    val cp = graft.queries.Registry.byName("q236_mor_compaction")
      .run(spark, sf).localCheckpoint(true)
    assert(cp.count() == 3)
    assert(cp.filter(!$"head_identical").count() == 0)
    assert(cp.filter($"sup_files_left" =!= 0L).count() == 0)
    val cow = graft.queries.Registry.byName("q227_cow_merge")
      .run(spark, sf)
      .select($"artifact", $"files_rewritten".as("fc"),
        $"rows_rewritten".as("wc"), $"rows_updated".as("uc"))
    val j = cp.join(cow, Seq("artifact"))
    assert(j.count() == 3)
    assert(j.filter($"files_rewritten" =!= $"fc" ||
      $"rows_written" =!= $"wc" - $"uc").count() == 0)
  }

  test("q225 streaming CDC consumer: drains in >= 2 throttled batches and its head digest equals the IVM head state") {
    import spark.implicits._
    val sink = StreamingQueries.cdcConsumerSink(spark, sf,
      tmpDir("graft_cdcspec"))
    // a real batch dimension: the 4-files/trigger throttle must have
    // produced successive micro-batches over the >= 13 feed files
    assert(sink.select($"batch").distinct().count() >= 2)
    val mv = graft.queries.Registry.byName("q225_stream_cdc_consume")
      .run(spark, sf).localCheckpoint(true)
    assert(mv.count() == 3)
    val head = graft.queries.Registry.byName("q223_mv_maintain")
      .run(spark, sf).filter($"version" === 5)
      .select($"artifact", $"mv_rows".as("k2"), $"mv_chk1".as("c1x"),
        $"mv_chk2".as("c2x"))
    val j = mv.join(head, Seq("artifact"))
    assert(j.count() == 3)
    assert(j.filter($"mv_keys" =!= $"k2" || $"mv_chk1" =!= $"c1x" ||
      $"mv_chk2" =!= $"c2x").count() == 0)
  }
}
