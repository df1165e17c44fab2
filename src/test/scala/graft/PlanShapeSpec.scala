package graft

import graft.ops.Metrics
import graft.queries.{MlQueries, Registry, TrajectoryQueries}

/** Plan-shape contracts (PERF.md audits, locked in as regressions):
  * the physical plans that make these queries scale must keep their
  * shape — pushdown reaching the scan, dims broadcast, candidate
  * joins hash-keyed (never cartesian). */
class PlanShapeSpec extends SparkSpec {

  private def plan(name: String): String = {
    // scan metadata (PushedFilters/DataFilters) truncates at 100 chars
    // by default — long literal IN-lists (the served queries' bounded
    // probe sets) would hide the very pushdowns these tests lock
    spark.conf.set("spark.sql.maxMetadataStringLength", "20000")
    Registry.byName(name).run(spark, sf)
      .queryExecution.executedPlan.toString
  }

  private def flatten(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      flatten(a.inputPlan)
    case _ => p +: p.children.flatMap(flatten)
  }

  test("q125: heavy-hitter summary aggregates map-side before the shuffle") {
    // the point of the O(k) Space-Saving summary at 100 TB: the
    // exchange must carry partial summaries (<= k entries per group
    // per partition), not raw bigram rows — i.e. an ObjectHashAggregate
    // partial pass BELOW the shuffle, final above it
    val p = plan("q125_heavy_hitters")
    assert(p.contains("ObjectHashAggregate"), p.take(1200))
    assert("partial_graft_topk_freq".r.findAllIn(p).nonEmpty ||
      ("ObjectHashAggregate.*partial".r.findAllIn(p).nonEmpty),
      p.take(2000))
  }

  test("q135: join-free single scan, counters aggregate map-side") {
    // the redaction pipeline must be one corpus pass: no join anywhere,
    // and the per-source rollup partial-aggregates BELOW the exchange so
    // only (source, counters) rows cross the wire — never document text
    val p = plan("q135_pii_redact")
    assert(!p.contains("Join"), p.take(1200))
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      p.take(2000))
    // the exchange carries the group-by hash partitioning, not text
    val exch = p.linesIterator.filter(_.contains("Exchange hashpartitioning"))
      .mkString("\n")
    assert(!exch.contains("planted") && !exch.contains("red#"), exch)
  }

  test("q136: join-free day pairing, histogram partial-aggregates map-side") {
    // the shifted-union replaces a day-over-day self-join: the plan must
    // have NO join node, and the first (type, day, bucket) count must
    // partial-aggregate below its exchange so only histogram cells cross
    // the wire — never raw event rows
    val p = plan("q136_drift_monitor")
    assert(!p.contains("Join"), p.take(1200))
    assert(p.contains("partial_count") || p.contains("partial count"),
      p.take(2000))
    // the events scan is pruned to the three columns the monitor reads
    val scan = p.linesIterator.filter(_.contains("ReadSchema"))
      .mkString("\n")
    assert(scan.contains("event_type") && scan.contains("value")
      && !scan.contains("props"), scan)
  }

  test("q02: predicates push into the parquet scan") {
    val p = plan("q02_selective_scan")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p.take(800))
    assert(p.contains("ReadSchema: struct<l_quantity"), p.take(800))
  }

  test("q03: all three dimension joins broadcast") {
    val p = plan("q03_star_join")
    assert("BroadcastHashJoin".r.findAllIn(p).size == 3, p.take(1200))
    assert(!p.contains("SortMergeJoin"))
  }

  test("q42: LSH candidate join is hash-keyed, not cartesian") {
    val p = plan("q42_lsh_neardup")
    assert(p.contains("HashJoin"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("q42: band-join exchange carries no shingle arrays") {
    // the candidate join must move only (doc_id, band_idx, band_key) —
    // shuffling the shingle arrays ×BANDS through it is the 100-TB
    // scale wart the verify-join-back shape exists to avoid
    val exec = Registry.byName("q42_lsh_neardup").run(spark, sf)
      .queryExecution.executedPlan
    // collect() doesn't descend into the AQE wrapper's inputPlan
    val bandJoins = flatten(exec).collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec
        if j.leftKeys.exists(_.toString.contains("band_key")) => j
    }
    assert(bandJoins.nonEmpty, "no band-keyed join found:\n" + exec.toString.take(1200))
    bandJoins.foreach { j =>
      (j.left.output ++ j.right.output).foreach { a =>
        assert(!a.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType],
          s"band join carries array column ${a.name}")
      }
    }
  }

  test("q53: pair join is keyed on the LSH bucket, not label alone") {
    val exec = Registry.byName("q53_embed_neardup").run(spark, sf)
      .queryExecution.executedPlan
    val pairJoins = flatten(exec).collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(pairJoins.nonEmpty, exec.toString.take(1200))
    // every equi-join in the plan must include the bucket key — a
    // label-only join is the quadratic-under-skew shape this locks out
    pairJoins.foreach { j =>
      assert(j.leftKeys.exists(_.toString.contains("bucket")),
        s"pair join not bucket-keyed: ${j.leftKeys.mkString(", ")}")
    }
    assert(!exec.toString.contains("CartesianProduct"))
  }

  test("q89: events scan is pruned to the four needed columns") {
    val p = plan("q89_sup_trajectory")
    // representations() needs ts/user_id/event_type/value only —
    // event_id and props must not reach the parquet reader
    assert(p.contains("ReadSchema"), p.take(800))
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!read.contains("event_id") && !read.contains("props"), read)
  }

  test("dropout: eval mode folds to the bare column, train mode injects rand") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = spark.range(1).select(array(lit(1.0), lit(2.0)).as("a"))
    // M6 train/eval switch: eval-mode dropout must leave NO trace in
    // the optimized plan (the reference's model.eval() semantics)
    val evalPlan = df.select(graft.ops.ArrayOps
        .dropout($"a", 0.1, 7L, train = false).as("o"))
      .queryExecution.optimizedPlan.toString
    assert(!evalPlan.toLowerCase.contains("rand"), evalPlan)
    assert(!evalPlan.contains("transform"), evalPlan)
    val trainPlan = df.select(graft.ops.ArrayOps
        .dropout($"a", 0.1, 7L).as("o"))
      .queryExecution.optimizedPlan.toString
    assert(trainPlan.toLowerCase.contains("rand"), trainPlan)
  }

  test("q50: KNN broadcasts the query side (nested-loop on broadcast)") {
    val p = plan("q50_knn_brute")
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(1200))
    assert(p.contains("BroadcastExchange"), p.take(1200))
    // the fixed-size md5 query sample must stay a TakeOrdered (no
    // corpus shuffle) and the top-5 must push below the rank sort —
    // the two properties that keep the exact baseline O(K·N)
    assert(p.contains("TakeOrderedAndProject"), p.take(1200))
    assert(p.contains("WindowGroupLimit"), p.take(1200))
  }

  test("q60: global AUC ranks through a range exchange on the score, no window") {
    // the 100 TB contract of the ungrouped rank-sum path: rows range-
    // partition on the score and each partition folds its sorted run,
    // so a global AUC never serializes its ranks onto one task.
    // rocAuc runs its jobs when called: the plan to inspect is the
    // sorted input it folds, built over q60's scored frame
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // the plan after EnsureRequirements, which adds the sort's exchange
    val exec = Metrics.rankInput(MlQueries.scored(spark, sf), $"score",
      $"y", Seq.empty).queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
    val ranges = flatten(exec).collect {
      case e: ShuffleExchangeExec => e.outputPartitioning
    }
    assert(ranges.size == 1, exec.toString.take(1200))
    ranges.head match {
      case r: RangePartitioning =>
        assert(r.ordering.map(_.child).collect {
          case a: AttributeReference => a.name } == Seq("s"), r)
        assert(r.numPartitions > 1, r)
      case p => fail(s"expected a range exchange, got $p")
    }
    val q60 = Registry.byName("q60_roc_auc").run(spark, sf)
      .queryExecution.executedPlan
    for (p <- Seq(exec, q60)) assert(!flatten(p).exists(
      _.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec]),
      p.toString.take(1200))
  }

  test("q106: the whole GD trajectory is scored by one fixed-size set of AUC jobs") {
    // the rank-sum AUC over the scored UNION of every epoch runs the
    // same jobs as over one epoch; a per-epoch collect/rank would
    // multiply them. Checkpointed: each epoch's head is broadcast into
    // the scoring pass, and those jobs are the scored frame's, not the
    // AUC's
    import spark.implicits._
    val lazyScored = MlQueries.q106Scored(spark, sf)
    assert(!lazyScored.queryExecution.executedPlan.toString
      .contains("CartesianProduct"))
    def aucJobs(f: org.apache.spark.sql.DataFrame): (Int, Int) = (
      jobsDuring(Metrics.rocAuc(f, $"score", $"y", Seq($"n_Epochs"))),
      jobsDuring(Metrics.rocAuc(f.filter($"n_Epochs" === 1),
        $"score", $"y", Seq($"n_Epochs"))))
    val (all, one) = aucJobs(lazyScored.localCheckpoint(true))
    assert(all == one && all <= 3, s"all epochs: $all jobs, one epoch: $one")
    // unmaterialized: every epoch's head arrives in ONE broadcast of the
    // stacked weights, so scoring all epochs costs what one epoch does
    val (lazyAll, lazyOne) = aucJobs(lazyScored)
    assert(lazyAll == lazyOne,
      s"unmaterialized: all epochs $lazyAll jobs, one epoch $lazyOne")
  }

  test("q73/q75: batch InfoNCE is one native aggregate, no window, no join") {
    for (q <- Seq("q73_infonce", "q75_cpc_forward")) {
      val p = plan(q)
      assert(p.contains("graft_info_nce"), p.take(1500))
      assert(!p.contains("Window"), p.take(1500))
      assert(!p.contains("Join"), p.take(1500))
    }
  }

  test("q111: range join is hash-keyed on the bin, never a nested loop") {
    val p = plan("q111_range_join")
    assert(p.contains("HashJoin"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(1200))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1200))
  }

  test("q114: every PQ join is broadcast; the native expressions are in the plan") {
    val p = plan("q114_ann_pq")
    // codebook, LUT, shortlist, and query-vector sides all broadcast —
    // the corpus is never shuffled for a join (the only exchanges are
    // the explicit rebalance repartition and the shortlist window)
    assert(!p.contains("SortMergeJoin"), p.take(1500))
    assert(!p.contains("CartesianProduct"), p.take(1500))
    // encode and ADC run through the native expressions, not the
    // interpreted HOF spelling (the 11.7 s → 4.8 s PERF.md history)
    assert(p.contains("graft_pq_encode"), p.take(1500))
    assert(p.contains("graft_pq_adc"), p.take(1500))
  }

  test("q117: the pushable half of the quality gate reaches the scan") {
    // n_tok >= 3 is computed (not pushable); n_chars >= 20 is a plain
    // column predicate and must land in PushedFilters
    val p = plan("q117_curation_pipeline")
    assert(p.contains("GreaterThanOrEqual(n_chars,20)"), p.take(1500))
  }

  test("q115: global top-20 runs as TakeOrderedAndProject, not a full sort") {
    val p = plan("q115_tfidf")
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
  }

  test("q30: documents scan prunes to the two used columns") {
    val p = plan("q30_token_stats")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      p.take(800))
  }

  test("q128: the corpus probe plan is join-free (blob is a broadcast)") {
    // the regressions this locks: attaching the one-row bloom blob via
    // crossJoin copies the multi-MB binary into every joined UnsafeRow
    // — measured 14.1 s vs 2.6 s at sf0.1 — and a plan literal makes
    // every execution print and hash the 8 MiB blob. The blob must
    // enter the probe plan as a broadcast handle; the only exchange is
    // the source rollup
    val p = plan("q128_bloom_decontaminate")
    assert(!p.contains("Join"), p.take(1500))
    assert(p.contains("graft_bloom_any"), p.take(1500))
    // a literal blob printed as a 16.7 M-character hex dump here
    assert(p.length < 64 * 1024, s"${p.length} chars")
    val df = Registry.byName("q128_bloom_decontaminate").run(spark, sf)
    assert(bigBinaryLiterals(df).isEmpty,
      "a BINARY literal of 1 KB or more is back in the optimized plan")
  }

  test("q126: single-scan rollup, no join, repetition fold row-local") {
    val p = plan("q126_repetition_filter")
    assert(!p.contains("Join"), p.take(1500))
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string,source:string>"),
      p.take(1500))
  }

  test("q131: hierarchical packing — bucket-bounded windows, broadcast offsets") {
    val p = plan("q131_shard_packing")
    // the per-doc cumsum window partitions by (lang, bkt) — no task
    // ever sorts more than one bucket of one language
    assert("hashpartitioning\\(lang#\\d+, bkt#\\d+".r
      .findFirstIn(p).isDefined, p.take(2000))
    // the 16-row-per-lang bucket-offset table joins back as a
    // BROADCAST hash join — the doc stream never shuffles for it
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(1500))
    // the slim digest stream is materialized ONCE behind a
    // localCheckpoint (the q134 move): both window branches read the
    // checkpointed RDD, and no parquet re-scan appears above it
    assert(p.contains("Scan ExistingRDD") && !p.contains("Scan parquet"),
      p.take(1500))
    // and the digest IS slim: the checkpointed rows carry the pack
    // key + counts, never the document text (the pre-checkpoint
    // select pruned it — a wide column slipping in would silently
    // inflate the one full-corpus materialization q131 performs)
    val rddLine = p.linesIterator.find(_.contains("Scan ExistingRDD")).get
    assert(rddLine.contains("n_tok") && !rddLine.contains("text"), rddLine)
  }

  test("q137: keyed GD grid — broadcast state joins, no cartesian") {
    // rocAuc runs its jobs when called, so the scoring pass is
    // inspected on the scored frame q137 hands to it
    val p = TrajectoryQueries.q137Scored(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p.take(1500))
    // the 9-row weight state and z-stats ride BROADCAST joins into
    // the scoring pass — the corpus never shuffles for model state
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    // the grid table is checkpointed and the trained weights come
    // back from the driver as a local table: the scoring pass reads
    // materialized data, no parquet re-scan of the rep chain
    assert(p.contains("Scan ExistingRDD") && !p.contains("Scan parquet"),
      p.take(1500))
  }

  test("q138: DAG rollups read the checkpointed spine, no cartesian") {
    val p = plan("q138_curation_dag")
    assert(!p.contains("CartesianProduct"), p.take(1500))
    // every rollup branch reads a localCheckpointed stage (the only
    // parquet scan in the whole DAG happens once, below the d1
    // barrier), so no branch re-runs upstream row-local work
    assert(p.contains("Scan ExistingRDD") && !p.contains("Scan parquet"),
      p.take(1500))
  }

  test("q129: LM scoring joins are hash-keyed, never cartesian on the pair stream") {
    // the only nested-loop join allowed is the broadcast of the
    // one-row token-total scalar; the pair-stream joins must be
    // hash-keyed (shuffle or broadcast — both fine; a real LM's
    // tables shuffle)
    val p = plan("q129_lm_perplexity")
    assert(!p.contains("CartesianProduct"), p.take(1500))
    // all THREE pair-stream joins (bigram counts, w1 unigram, w2
    // unigram) hash-keyed; the only nested-loop is the one-row
    // token-total scalar
    assert("BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin".r
      .findAllIn(p).size >= 3, p.take(2000))
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1, p.take(2000))
  }

  test("q134: segment dedup tokenizes once, survivor table partial-aggs") {
    // the corpus must be tokenized/hashed ONCE: the segment stream is
    // materialized behind a localCheckpoint barrier, so the final plan
    // reads the checkpointed RDD on both consumers and has NO parquet
    // re-scan; the survivor table is a partial-then-final struct-min
    // on the digest and the join back is hash-keyed — never a
    // cartesian/BNLJ
    val p = plan("q134_segment_dedup")
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    assert("(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)".r
      .findAllIn(p).size >= 1, p.take(2000))
    assert("partial_min\\(struct".r.findAllIn(p).nonEmpty, p.take(2000))
    assert(!p.contains("Scan parquet"), p.take(2000))
  }

  test("q162: BM25 candidates come from hash joins, never a cartesian") {
    // the inverted-index walk: every join (probe terms × tf, df, dl,
    // the broadcast stats scalar) is hash-keyed — a cartesian or
    // nested-loop candidate generator would be a corpus cross join at
    // 100 TB. Windows (probe-term selection, the top-k rank) must all
    // be partitioned by query.
    val p = plan("q162_bm25_search")
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert("(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)".r
      .findAllIn(p).size >= 3, p.take(2000))
  }

  test("q163/q165: retrieval windows are all query-partitioned") {
    // rank lists and greedy argmaxes partition by q_id — an
    // unpartitioned window would serialize the ranking onto one task
    for (name <- Seq("q163_rrf_hybrid", "q165_mmr_diversify")) {
      val exec = Registry.byName(name).run(spark, sf)
        .queryExecution.executedPlan
      val wins = flatten(exec).collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      wins.foreach(w => assert(w.partitionSpec.nonEmpty,
        s"unpartitioned window in $name"))
      assert(!exec.toString.contains("CartesianProduct"), name)
    }
  }

  test("q172: ANN-hybrid joins broadcast the bounded sides, no cartesian") {
    // the IVFADC chain's scale posture: probed cells, the per-query
    // LUT, the shortlist and the query vectors all BROADCAST against
    // the corpus passes (the corpus is never shuffled before the
    // shortlist); the lexical branch keeps q162's keyed walk. A
    // cartesian anywhere is a corpus cross join at 100 TB. The one
    // allowed nested-loop slot is the 1-row codebook crossJoin.
    val p = plan("q172_ann_hybrid")
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 5, p.take(2500))
    // every nested-loop slot must carry a broadcast side (the 1-row
    // codebook / corpus-stats literals) — an unbroadcast BNLJ is a
    // disguised cartesian
    assert(!"(?<!Broadcast)NestedLoopJoin".r.findAllIn(p).hasNext,
      p.take(2500))
    // embeddings scans prune to the two consumed columns
    val scans = p.linesIterator.filter(l =>
      l.contains("ReadSchema") && l.contains("embedding")).mkString("\n")
    assert(scans.nonEmpty && !scans.contains("label"), scans)
  }

  test("q181: the persisted-index scan is partition-pruned to the probed cells") {
    // the serving contract: the probed cells enter the index reader as
    // PartitionFilters literals — unprobed cells are never listed,
    // read, or decoded (AnnIndexSpec proves the same layout skips at
    // the scan-metrics level; this locks the q181 plan shape itself)
    val p = plan("q181_index_served_hybrid")
    val scan = p.linesIterator.find(l =>
      l.contains("PartitionFilters") && l.contains("cell#"))
    assert(scan.isDefined, p.linesIterator
      .filter(_.contains("Scan")).mkString("\n"))
    assert("cell#\\d+ IN \\(".r.findFirstIn(scan.get).isDefined ||
      scan.get.contains("cell#"), scan.get)
    assert(!p.contains("CartesianProduct"), p.take(1500))
    // and the serve path must not RE-ENCODE the corpus: the
    // graft_pq_encode build-pass marker may not appear anywhere in
    // the plan — codes come from the persisted artifact only (the
    // whole point of q181 vs q172)
    assert(!p.contains("graft_pq_encode"), "serve path re-encodes")
    // the lexical branch is SERVED too (round 15): probe terms push
    // into the persisted doc-postings scan — no corpus tokenize
    assert(p.linesIterator.exists(l =>
      l.contains("PushedFilters") && l.contains("In(term")),
      p.linesIterator.filter(_.contains("PushedFilters")).mkString("\n"))
  }

  test("q212: the purged-index scan is partition-pruned to the probed cells") {
    // the takedown serve reads the persisted index like q181 does: the
    // probed cells enter the reader as PartitionFilters literals, below
    // the tombstone anti-join — an unpruned scan reads every cell
    val p = plan("q212_takedown_ann_serve")
    val scan = p.linesIterator.find(l =>
      l.contains("PartitionFilters") && l.contains("cell#"))
    assert(scan.isDefined, p.linesIterator
      .filter(_.contains("Scan")).mkString("\n"))
    // Spark prints a literal list longer than
    // spark.sql.optimizer.inSetConversionThreshold (10) as INSET
    assert("cell#\\d+ (IN \\(|INSET )".r.findFirstIn(scan.get).isDefined,
      scan.get)
    assert("BroadcastHashJoin.*LeftAnti".r.findFirstIn(p).isDefined,
      p.linesIterator.filter(_.contains("Join")).mkString("\n"))
    assert(!p.contains("graft_pq_encode"), "serve path re-encodes")
  }

  test("q219: the swapped serve reads the v2 artifact — pruned scan, no re-encode") {
    // the oracle proves the swapped serve's VALUES equal a fresh
    // inline build; only this plan lock proves the rows were READ
    // from the persisted v2 index (partition-pruned to the probed
    // cells) rather than re-encoded per serve — the difference
    // between "executed the retrain" and "re-derived it every query"
    import graft.queries.SimilarityQueries._
    val ctx = agingCtx(spark, sf)
    // q219's swapped serve: the chain over the v2 artifact's codes
    val p = ctx.top5(ctx.shortlist(churnedCodebookLocal(spark, sf),
        Indexed(retrainedIndexDir(spark, sf))))
      .queryExecution.executedPlan.toString
    val scan = p.linesIterator.find(l =>
      l.contains("PartitionFilters") && l.contains("cell#"))
    assert(scan.isDefined, p.linesIterator
      .filter(_.contains("Scan")).mkString("\n"))
    assert(!p.contains("graft_pq_encode"),
      "the swapped serve re-encodes the corpus")
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("q186: probe terms push into the persisted postings scan") {
    // the lexical mirror of q181's partition pruning: the ≤ Q·5
    // distinct probe terms enter the postings reader as an In(term)
    // PushedFilter, so row-group min/max statistics skip everything
    // else — and the serve path never re-tokenizes the corpus (no
    // posexplode fan-out in the plan; only the manifest pass touches
    // documents, row-locally)
    val p = plan("q186_indexed_chunk_rag")
    val scan = p.linesIterator.find(l =>
      l.contains("PushedFilters") && l.contains("In(term"))
    assert(scan.isDefined,
      p.linesIterator.filter(_.contains("PushedFilters")).mkString("\n"))
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("q187: every scan in the fully-served plan is literal-bounded; no corpus rebuild") {
    // the end-to-end serving contract: the final plan's only data
    // scans are (a) the postings artifact with BOTH In(term) and
    // In(doc_id) pushed, (b) the manifest artifact with In(doc_id)
    // pushed, (c) the sample docs' tokenize — no graft_pq_encode
    // (ANN codes come from q181's artifact, already eager by plan
    // time) and no posexplode chunk fan-out (offsets/md5s come from
    // the manifest artifact)
    val p = plan("q187_fully_served_rag")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).toSeq
    assert(pushed.exists(l => l.contains("In(term") && l.contains("In(doc_id")),
      pushed.mkString("\n"))
    assert(pushed.exists(l => l.contains("In(doc_id") && !l.contains("term")),
      pushed.mkString("\n"))
    assert(!p.contains("graft_pq_encode"), "serve path re-encodes")
    assert(!p.contains("posexplode") && !p.contains("PosExplode"),
      "serve path re-chunks the corpus")
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("q206: the tombstone compaction is a BROADCAST anti-join; no artifact-sized shuffle") {
    // the purge contract at 100 TB: the takedown set is |D|-sized and
    // must build the hash side of the anti-join — a sort-merge
    // LeftAnti would shuffle the full postings/codes artifact to
    // delete a bounded key set. (q206's own result frame is
    // materialized inside its scratch scope, so the shape is locked
    // on the factored purgeFunnel directly.)
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = graft.queries.StreamingQueries.docPostingsOf(
      graft.Tables.documents(spark, sf).select($"doc_id", $"text"))
      .select(substring(md5($"term"), 1, 1).as("bucket"), $"doc_id",
        $"term".as("k"), ($"doc_id" * $"tf").as("c1"), $"tf".as("c2"))
    val tomb = graft.Tables.documents(spark, sf)
      .filter(graft.queries.StreamingQueries.Takedown.purged($"doc_id"))
      .select($"doc_id")
    val p = graft.queries.StreamingQueries
      .purgeFunnel("doc_postings", rows, tomb, "doc_id")
      .queryExecution.executedPlan.toString
    assert("BroadcastHashJoin.*LeftAnti".r.findFirstIn(p).isDefined,
      p.linesIterator.filter(_.contains("Join")).mkString("\n"))
    assert(!"SortMergeJoin.*LeftAnti".r.findFirstIn(p).isDefined,
      "the tombstone anti-join fell back to sort-merge")
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("q187 serve path: the fused serving collects keep the job count bounded") {
    // warm the memoized artifacts + JIT so the counted run is the
    // marginal serve, not index builds
    Registry.byName("q187_fully_served_rag").run(spark, sf).collect()
    val n = jobsDuring(
      Registry.byName("q187_fully_served_rag").run(spark, sf).collect())
    // measured on this harness: 78 jobs per warm serve before round
    // 15 (each localCheckpoint + literal-collect pair two jobs, the
    // lexical branch re-tokenizing the corpus), 64 after localized()
    // fusion + the served doc-postings branch, 41 after round 16's
    // schema-cached index reads + stats-as-literals + fused query
    // vectors / local codebook (graft.TimeAudit measures the
    // breakdown). The bound leaves modest slack; a regression
    // re-splitting the collects, re-adding the corpus tokenize, or
    // re-broadcasting the stats frames lands above it. The ABSOLUTE
    // count is pinned to the Spark line this repo builds against
    // (VERDICT r16 #5: an AQE or Spark upgrade can move absolute job
    // counts without any plan regression) — on another Spark line it
    // is advisory; the relative locks in the sibling tests (no corpus
    // tokenize, no re-encode, pruned index scans) carry the
    // version-independent regression teeth.
    info(s"warm q187 serve scheduled ${n} jobs (bound 48, " +
      s"pinned to Spark 4.1.x; running ${spark.version})")
    if (spark.version.startsWith("4.1."))
      assert(n <= 48, s"serve path scheduled ${n} jobs")
  }

  test("q180: context assembly broadcasts the fused top-5; no doc_id shuffle ships text") {
    // the assembly join must BROADCAST the ≤ RetrQK·5-row fused list
    // against the corpus text scan — an AQE miss shipping every doc's
    // text through a doc_id exchange for a 40-row probe is the 100 TB
    // regression this locks (ADVICE r12); only matched rows (≤ 5 per
    // query) may carry text past the join
    val p = plan("q180_rag_context")
    // the assembly join itself: doc_id-keyed BroadcastHashJoin (the
    // fused list is the build side). The doc_id-keyed EXCHANGES deeper
    // in the plan are the BM25 chain's doc-length rollups over the
    // slim postings checkpoint — they carry (doc_id, tf), never text.
    assert("BroadcastHashJoin \\[doc_id#\\d+L?\\]".r.findAllIn(p).hasNext,
      p.linesIterator.filter(_.contains("Join")).mkString("\n"))
    // and no exchange is keyed on the text column itself
    val exch = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!exch.contains("text#"), exch)
    assert(!p.contains("CartesianProduct"), p.take(1500))
  }

  test("q175: the SCD2 merge's joins and windows move hashes, not text") {
    // text is hashed at scan time inside the checkpointed join: the
    // surviving plan (windows + rollup) must consume only the slim
    // (a_id, ca, b_id, cb) checkpoint — an exchange or scan carrying
    // `text` would ship the corpus through the shuffle
    val p = plan("q175_scd2_merge")
    assert(p.contains("Scan ExistingRDD"), p.take(1500))
    val slim = p.linesIterator.filter(_.contains("Scan ExistingRDD"))
      .mkString("\n")
    assert(slim.contains("a_id") && slim.contains("ca") &&
      !slim.contains("text"), slim)
    val exch = p.linesIterator.filter(_.contains("Exchange")).mkString("\n")
    assert(!exch.contains("text#"), exch)
  }

  test("q197/q198/q200: the release family shuffles digests, never text") {
    // the chain fingerprints and token-counts text AT THE SCAN
    // (releaseStages' digest projection); every exchange after it —
    // dup-rank window, UNIMAX selection, packing, funnel joins, the
    // drift diff — must carry ~50-byte digests, not the corpus
    for (q <- Seq("q197_release_manifest", "q198_release_funnel",
        "q200_release_drift")) {
      val p = plan(q)
      val exch = p.linesIterator.filter(_.contains("Exchange"))
        .mkString("\n")
      assert(!exch.contains("text#"), s"$q ships text:\n$exch")
      assert(!p.contains("CartesianProduct"), s"$q: ${p.take(1200)}")
    }
  }

  test("q194: the UNIMAX selection cumsum is bucketed, not a per-language corpus sort") {
    // the greedy selection's cumsum must run per (lang, md5-bucket)
    // — the two-level prefix sum (UnimaxSpec pins hierarchical ≡
    // flat). A Window partitioned by lang ALONE over the doc stream
    // was the single-task-sort scale killer (verdict r13 #1): assert
    // the bucketed window is in the plan, and that every Sort keyed
    // on the selection's md5 order also carries the bucket key.
    val p = plan("q194_unimax_alloc")
    assert(p.contains("bkt"), p.take(2000))
    val sorts = p.linesIterator
      .filter(l => l.contains("Sort ") && l.contains("ukey"))
      .mkString("\n")
    assert(sorts.nonEmpty && sorts.linesIterator.forall(_.contains("bkt")),
      sorts)
  }

  test("q133: tercile split adds ONE rank window over q129's LM, nothing else") {
    // shares docNllFrame with q129, so q129's join locks are asserted
    // here too (3 hash-keyed pair-stream joins, the broadcast-N BNLJ
    // slot); the only addition is a single ntile window
    val p = plan("q133_perplexity_split")
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert("(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)".r
      .findAllIn(p).size >= 3, p.take(2000))
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1, p.take(2000))
    assert("Window".r.findAllIn(p).size == 1, p.take(2000))
  }
}
