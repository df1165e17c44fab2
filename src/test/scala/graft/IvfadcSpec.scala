package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.queries.SimilarityQueries._

/** The IVFADC chain (probe → ADC scoring → shortlist → exact re-rank):
  * a sweep's prefix reads equal from-scratch runs, and every candidate
  * source (inline encode, persisted index pruned to the probed cells,
  * the index minus tombstones) serves the same rows. */
class IvfadcSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** run `body` at `n` shuffle partitions, restoring the session's. */
  private def atPartitions[A](n: Int)(body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val was = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, was)
  }

  test("each sweep setting read off one scored pass at max nprobe equals a from-scratch run") {
    import spark.implicits._
    val e = unitVecs(spark, sf)
    val qv = queryVecs(e,
      querySample(spark, sf, 20).select($"vec_id".as("q_id")))
    val cb = pqCodebookLocal(spark, sf)
    val codes = Encoded(ivfadcIndex(spark, sf).localCheckpoint(true))
    val scored = adcScored(ivfProbe(qv, TuneProbes.max), qv, cb, codes)
      .localCheckpoint(true)
    for (np <- TuneProbes) {
      // the whole re-ranked shortlist (depth R), not only its top-5
      val prefix = rows(exactRerank(adcShortlist(scored, np, IVFPQ_R),
        e, qv, IVFPQ_R))
      val scratch = rows(ivfadc(qv, e, cb, codes, np, IVFPQ_R, IVFPQ_R))
      assert(prefix.nonEmpty)
      assert(prefix == scratch, s"nprobe $np")
    }
    // the settings differ, so the prefix read is not vacuous
    val volumes = TuneProbes.map(np => scored.filter($"crank" <= np).count())
    assert(volumes == volumes.sorted.distinct, volumes)
  }

  test("q172's vector branch (inline encode) equals q181's (persisted index, pruned) at 1 and 4 partitions") {
    val qs = retrQuerySample(spark, sf)
    for (n <- Seq(1, 4)) atPartitions(n) {
      val inline = rows(annRanks(spark, sf, qs, Encoded(ivfadcIndex(spark, sf))))
      val served = rows(annRanks(spark, sf, qs, Indexed(annIndexDir(spark, sf))))
      assert(inline.nonEmpty)
      assert(inline == served, s"at $n partitions")
    }
  }

  test("the index minus tombstones serves like an inline encode minus them") {
    import spark.implicits._
    val tomb = graft.Tables.embeddings(spark, sf).select($"vec_id")
      .filter(graft.queries.StreamingQueries.Takedown.purged($"vec_id"))
    assert(tomb.count() > 0)
    val qs = retrQuerySample(spark, sf)
      .filter(!graft.queries.StreamingQueries.Takedown.purged($"q_id"))
    val inline = rows(annRanks(spark, sf, qs, Encoded(ivfadcIndex(spark, sf)
      .join(broadcast(tomb), Seq("vec_id"), "left_anti"))))
    val served = rows(annRanks(spark, sf, qs,
      Indexed(annIndexDir(spark, sf), Some(tomb))))
    assert(inline.nonEmpty)
    assert(inline == served)
  }
}
