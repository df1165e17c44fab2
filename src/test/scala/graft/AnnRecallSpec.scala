package graft

import org.apache.spark.sql.functions.{avg, broadcast}
import graft.queries.{Registry, SimilarityQueries}

/** ANN quality contracts: the bucketed methods (q51 sign-LSH, q54 IVF
  * cells) against the exact brute-force top-k (q50) for the shared
  * query set (the ANN md5 query sample is a prefix — hence subset — of
  * q50's brute sample; both are fixed-size, so cost stays O(N)). All
  * variants are deterministic, so recall@3 per probe schedule is an
  * exact regression value — the measured recall-vs-candidates curve is
  * the documented cost of trading the all-pairs scan for bucketing,
  * pinned here the way PERF.md pins plan trades. */
class AnnRecallSpec extends SparkSpec {

  private val sf01 = "/root/testdata/sf0.01"

  private lazy val brute: Map[Long, Set[Long]] =
    Registry.byName("q50_knn_brute").run(spark, sf01).collect()
      .filter(_.getInt(1) <= 3) // brute top-3 per query
      .groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }

  /** (recall@3, mean candidate count) for an ANN result frame with the
    * q51/q54 output shape (q_id, bucket/cell, n_cand, rn, neighbor_id,
    * sim). */
  private def curvePoint(df: org.apache.spark.sql.DataFrame): (Double, Double) = {
    val rows = df.collect()
    val ann = rows.groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(4)).toSet }
    val nCand = rows.groupBy(_.getLong(0))
      .map { case (_, rs) => rs.head.getLong(2).toDouble }
    val shared = ann.keySet.intersect(brute.keySet)
    assert(shared.nonEmpty)
    val recall = shared.toSeq
      .map(q => ann(q).count(brute(q).contains) / 3.0).sum / shared.size
    (recall, nCand.sum / nCand.size)
  }

  test("q51 LSH recall-vs-candidates curve is monotone and ends >= 0.8") {
    val curve = Seq(0, 1, 2).map { h =>
      val (r, c) = curvePoint(SimilarityQueries.lshAnn(spark, sf01, h))
      info(f"Hamming<=$h: recall@3 = $r%.3f, mean n_cand = $c%.1f")
      (h, r, c)
    }
    // more probes must never lose recall, and each step must widen the
    // candidate set (the curve the probe schedule is buying)
    curve.sliding(2).foreach { case Seq((_, r1, c1), (_, r2, c2)) =>
      assert(r2 >= r1, s"recall fell as probes grew: $curve")
      assert(c2 > c1, s"candidate set did not grow: $curve")
    }
    // shipped schedule (q51 = Hamming <= 2): the >= 0.8 contract
    assert(curve.last._2 >= 0.8,
      s"q51 shipped-schedule recall@3 = ${curve.last._2}")
  }

  test("q54 IVF recall-vs-candidates curve is monotone and ends >= 0.8") {
    val curve = Seq(1, 2, 4).map { np =>
      val (r, c) = curvePoint(SimilarityQueries.ivfAnn(spark, sf01, np))
      info(f"nprobe=$np: recall@3 = $r%.3f, mean n_cand = $c%.1f")
      (np, r, c)
    }
    curve.sliding(2).foreach { case Seq((_, r1, c1), (_, r2, c2)) =>
      assert(r2 >= r1, s"recall fell as nprobe grew: $curve")
      assert(c2 > c1, s"candidate set did not grow: $curve")
    }
    // shipped schedule (q54 = nprobe 4): the >= 0.8 contract
    assert(curve.last._2 >= 0.8,
      s"q54 shipped-schedule recall@3 = ${curve.last._2}")
  }

  test("q172 ANN-backed fusion recalls the brute-fused baselines") {
    // the documented 100 TB swap: q172 replaces q163's brute vector
    // branch with the IVFADC shortlist and fuses the SAME way — the
    // cost of the approximation is fused-rank recall, pinned here
    // exactly (all three plans are deterministic).
    def sets(rows: Array[org.apache.spark.sql.Row]): Map[Long, Set[Long]] =
      rows.groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    def recallOf(a: Map[Long, Set[Long]], b: Map[Long, Set[Long]]): Double = {
      assert(a.keySet == b.keySet,
        s"query sets diverged: ${a.keySet} vs ${b.keySet}")
      b.keySet.toSeq.map(q => a(q).count(b(q).contains) / 5.0).sum / b.size
    }
    val ann = sets(Registry.byName("q172_ann_hybrid").run(spark, sf01).collect())
    // apples-to-apples: brute vector list truncated at the SAME depth
    // (20) — the only difference left is the IVFADC approximation
    val atDepth = sets(SimilarityQueries
      .bruteFusedAtDepth(spark, sf01, 20).collect())
    val rDepth = recallOf(ann, atDepth)
    // vs the unbounded q163 fusion — includes the list-depth effect
    // (RRF weighs deep-tail vector ranks no shortlist system can
    // see), reported for honesty, contract set on the isolated number
    val full = sets(Registry.byName("q163_rrf_hybrid").run(spark, sf01).collect())
    val rFull = recallOf(ann, full)
    info(f"q172 fused recall@5: vs brute@equal-depth = $rDepth%.3f, " +
      f"vs unbounded q163 = $rFull%.3f")
    assert(rDepth >= 0.85, f"fused recall@5 at equal depth = $rDepth%.3f")
  }

  test("q196 tuning frontier: recall non-decreasing, candidate volume strictly increasing in nprobe") {
    val rows = Registry.byName("q196_ann_tuning").run(spark, sf01)
      .collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2, 4, 6))
    val cand = rows.map(_.getLong(2))
    val rec = rows.map(_.getLong(4))
    assert(cand.zip(cand.tail).forall { case (a, b) => a < b },
      cand.toSeq)
    assert(rec.zip(rec.tail).forall { case (a, b) => a <= b },
      rec.toSeq)
    // the nprobe=6 row is q118's operating point: recall@5 >= 0.8
    // (PqRecallSpec's floor for the same chain)
    assert(rec.last >= 800000L, rec.toSeq)
    info(s"frontier: ${rows.map(r =>
      s"np=${r.getInt(0)} cand=${r.getLong(2)} recall6=${r.getLong(4)}")
      .mkString(", ")}")
  }

  test("q203 cross-family frontier: per-family monotonicity and the documented cost split") {
    val rows = Registry.byName("q203_ann_frontier").run(spark, sf01)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(6))))
      .toMap // (family, setting) -> (nq, approx, exact, recall6)
    assert(rows.keySet == Set(("ivfadc", 2L), ("ivfadc", 6L),
      ("sq8", 8L), ("sq8", 32L), ("sq8cell", 2L), ("sq8cell", 6L),
      ("lsh", 1L), ("lsh", 2L)))
    // one shared query sample across families
    assert(rows.values.map(_._1).toSet.size == 1)
    val nq = rows.values.head._1
    // within each family: deeper setting => recall non-decreasing,
    // exact-scored volume non-decreasing
    for ((fam, lo, hi) <- Seq(("ivfadc", 2L, 6L), ("sq8", 8L, 32L),
        ("sq8cell", 2L, 6L), ("lsh", 1L, 2L))) {
      assert(rows((fam, hi))._4 >= rows((fam, lo))._4, s"$fam recall")
      assert(rows((fam, hi))._3 >= rows((fam, lo))._3, s"$fam exact")
    }
    // the cost-split contract: IVFADC's exact re-rank never exceeds
    // its ADC volume; SQ8's approx volume is the full scan at BOTH
    // settings (the setting only moves the exact shortlist, capped at
    // R per query); LSH has no approximate stage
    assert(rows(("ivfadc", 6L))._3 <= rows(("ivfadc", 6L))._2)
    assert(rows(("sq8", 8L))._2 == rows(("sq8", 32L))._2)
    assert(rows(("sq8", 8L))._3 <= 8L * nq &&
      rows(("sq8", 32L))._3 <= 32L * nq)
    assert(rows(("lsh", 1L))._2 == 0L && rows(("lsh", 2L))._2 == 0L)
    // sq8cell shares ivfadc's probed cells EXACTLY (same routing,
    // different in-cell scorer) — the sheet isolates the scorer choice
    for (np <- Seq(2L, 6L)) {
      assert(rows(("sq8cell", np))._2 == rows(("ivfadc", np))._2, np)
      assert(rows(("sq8cell", np))._3 <= 32L * nq, np)
    }
    // operating-point floors: IVFADC@6 reproduces q118 (>= 0.8); the
    // full-scan SQ8 shortlist is the strongest family here
    assert(rows(("ivfadc", 6L))._4 >= 800000L, rows(("ivfadc", 6L)))
    assert(rows(("sq8", 32L))._4 >= rows(("ivfadc", 6L))._4)
    info(rows.toSeq.sortBy(_._1).map { case ((f, st), v) =>
      s"$f@$st exact=${v._3} recall6=${v._4}" }.mkString(", "))
  }

  test("registry q51/q54 match the shipped parameterized schedules") {
    val q51 = Registry.byName("q51_ann_lsh").run(spark, sf01).collect()
    val p51 = SimilarityQueries.lshAnn(spark, sf01, 2).collect()
    assert(q51.toSeq == p51.toSeq)
    val q54 = Registry.byName("q54_ann_ivf").run(spark, sf01).collect()
    val p54 = SimilarityQueries.ivfAnn(spark, sf01, 4).collect()
    assert(q54.toSeq == p54.toSeq)
  }

  /** deterministic planted corpora for the aging tests: unit vectors
    * concentrated on one HALF of the dims (md5-derived jitter, no
    * RNG) — `half` 0 = the pre-churn distribution, 1 = the drifted
    * one. */
  private def planted(idBase: Long, half: Int, n: Int) = {
    import spark.implicits._
    val dim = 64
    (0 until n).map { i =>
      val v = (0 until dim).map { d =>
        val inHalf = (d >= half * 32 && d < half * 32 + 32)
        val base = if (inHalf) 1.0 else 0.0
        base + 0.05 * graft.ops.HashKeys.unitUniform(s"drift:$idBase:$i:$d")
      }
      val nrm = math.sqrt(v.map(x => x * x).sum)
      (idBase + i, v.map(_ / nrm))
    }.toDF("vec_id", "v")
  }

  test("q217: planted drift — the aged codebook reconstructs the drifted corpus strictly worse") {
    import spark.implicits._
    // the aging mechanism, isolated: quantization error of a FROZEN
    // codebook grows when the corpus drifts off its training
    // distribution. Pool = unit vectors concentrated on the FIRST
    // half of the dims; drifted corpus = concentrated on the SECOND
    // half (deterministic md5-derived jitter, no RNG). The codebook
    // trained on the pool (aged) must reconstruct the drifted corpus
    // strictly worse than one trained on the drifted corpus itself
    // (fresh) — the q217 gate's recall gap, pinned at its root cause.
    val pool = planted(1000L, 0, 64)     // pre-churn distribution
    val drifted = planted(5000L, 1, 64)  // the churned corpus
    def meanErr(cbPool: org.apache.spark.sql.DataFrame): Double = {
      val flat = SimilarityQueries.pqCodebookOfPool(cbPool)
        .localCheckpoint(true)
      val nested = SimilarityQueries.nestCodebook(flat)
      // self-LUT: adc(codes(v), lut(v)) = Σ_m dist²(sv_m, chosen cw)
      // = the reconstruction error of v under the codebook
      val lut = SimilarityQueries.pqLutOfQv(
        drifted.select($"vec_id".as("q_id"), $"v".as("qv")), flat)
      drifted.crossJoin(broadcast(nested))
        .withColumn("codes",
          graft.expr.GraftFunctions.pqEncode(spark, $"v", $"cb"))
        .join(lut, $"vec_id" === $"q_id")
        .withColumn("err",
          graft.expr.GraftFunctions.pqAdc(spark, $"codes", $"lut"))
        .agg(avg($"err")).head().getDouble(0)
    }
    val aged = meanErr(pool)
    val fresh = meanErr(drifted)
    assert(fresh > 0.0)
    assert(aged > fresh * 2,
      s"aged codebook should reconstruct drifted data much worse: " +
        s"aged=$aged fresh=$fresh")
  }

  test("q219: the retrain decision bit fires on planted drift and stays off without drift") {
    import spark.implicits._
    // the decision, pinned on the IDENTICAL machinery the gate runs
    // (AgingCtx → ivfVariant → agingRecall6): a corpus drifted off
    // the aged codebook's training distribution must push the recall
    // deficit past RetrainThresh6; the no-drift control (aged pool =
    // the corpus itself) is the SAME chain twice and must sit at
    // exactly zero deficit — the bit must not fire on noise.
    val pool = planted(1000L, 0, 128)      // pre-churn distribution
    val drifted = planted(50000L, 1, 1024) // the churned corpus —
      // large enough that the ADC shortlist truncates (recall < 1)
    val qv = drifted.filter($"vec_id" < 50008L)
      .select($"vec_id".as("q_id"), $"v".as("qv"))
    val ctx = new SimilarityQueries.AgingCtx(drifted, pool, qv)
    val aRec = SimilarityQueries.agingRecall6(ctx,
      ctx.ivfVariant(ctx.basePool).top5)
    val fRec = SimilarityQueries.agingRecall6(ctx,
      ctx.ivfVariant(ctx.u).top5)
    info(s"planted drift: aged=$aRec fresh=$fRec deficit=${fRec - aRec}")
    assert(fRec - aRec > SimilarityQueries.RetrainThresh6,
      s"decision bit should FIRE on planted drift: aged=$aRec fresh=$fRec")
    // control: no drift — identical trained state on both sides
    val ctl = new SimilarityQueries.AgingCtx(drifted, drifted, qv)
    val aCtl = SimilarityQueries.agingRecall6(ctl,
      ctl.ivfVariant(ctl.basePool).top5)
    val fCtl = SimilarityQueries.agingRecall6(ctl,
      ctl.ivfVariant(ctl.u).top5)
    assert(fCtl - aCtl == 0L,
      s"no-drift control must have zero deficit: aged=$aCtl fresh=$fCtl")
    assert(!(fCtl - aCtl > SimilarityQueries.RetrainThresh6))
  }
}
