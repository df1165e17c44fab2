package graft

import graft.queries.{Registry, TextQueries}

/** q193's A/B sheet on a corpus where both tokenizer families are
  * computable by hand — pinning that the comparison really is between
  * each family's own rollout accounting (BPE counts the '</w>'-merged
  * symbols, unigram counts optimal pieces) and that the per-language
  * winner can DIFFER by family. The registry gate pins cross-engine
  * equality; this pins the semantics. */
class TokenizerAbSpec extends SparkSpec {

  test("planted two-lang corpus: BPE memorizes the long rare word, unigram ties on the short one") {
    import spark.implicits._
    // en: "ab ab b" — words ab(×2), b(×1); fr: "abcdefgh" (×1).
    // BPE: exactly 10 realizable merges (the chain must NOT exhaust —
    // an empty argmax empties the segmentation by documented
    // convention): (a,b) beats (b,</w>) 3-3 on the (a,b) tie-break,
    // then (ab,</w>) at 2, then eight cnt-1 merges in lexicographic
    // order — the fr prefix chain through abcdefgh</w>, and (b,</w>)
    // last. Every word collapses to ONE symbol: bpe_tokens = n_words.
    // Unigram (UniMaxPiece=4): 'ab' and 'b' are whole pieces, but
    // 'abcdefgh' exceeds the max piece length — the exhaustive
    // Viterbi picks [abcd|efgh] (the unique cheapest 2-piece split).
    // ⇒ en: 3 vs 3 tokens (tie); fr: 1 vs 2 (bpe wins by memorizing
    // the long rare word past unigram's piece-length ceiling).
    val docs = Seq(
      (1L, "ab ab b", "en"),
      (2L, "abcdefgh", "fr")).toDF("doc_id", "text", "lang")
    val rows = TextQueries.tokenizerAb(docs).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5), r.getDouble(6), r.getString(7)))).toMap
    assert(rows.keySet == Set("en", "fr"), rows)
    assert(rows("en") == ((3L, 5L, 3L, 3L, 1.666667, 1.666667, "tie")),
      rows("en"))
    assert(rows("fr") == ((1L, 8L, 1L, 2L, 8.0, 4.0, "bpe")),
      rows("fr"))
  }

  test("real corpus: every language compresses under both families, winner consistent with counts") {
    val rows = Registry.byName("q193_tokenizer_ab").run(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nw, bpe, uni) = (r.getLong(1), r.getLong(3), r.getLong(4))
      assert(bpe >= nw && uni >= nw, r)      // ≥ one token per word
      assert(r.getDouble(5) > 1.0 && r.getDouble(6) > 1.0, r)
      val expect = if (uni < bpe) "unigram"
        else if (bpe < uni) "bpe" else "tie"
      assert(r.getString(7) == expect, r)
    }
  }

  test("real corpus: the A/B sheet agrees with each family's own rollout sheet") {
    // q193 trains both families again and sums its own fertility; per
    // language its volumes and BPE tokens must equal q176's, and its
    // unigram tokens q192's
    def sheet(name: String, cols: String*): Map[String, Seq[Long]] =
      Registry.byName(name).run(spark, sf).select("lang", cols: _*)
        .collect().map(r => r.getString(0) ->
          (1 to cols.size).map(r.getLong)).toMap
    val ab = sheet("q193_tokenizer_ab",
      "n_words", "n_chars", "bpe_tokens", "uni_tokens")
    val bpe = sheet("q176_bpe_encode", "n_words", "n_chars", "bpe_tokens")
    val uni = sheet("q192_unigram_encode", "uni_tokens")
    assert(ab.nonEmpty)
    assert(ab.keySet == bpe.keySet && ab.keySet == uni.keySet,
      (ab.keySet, bpe.keySet, uni.keySet))
    ab.foreach { case (lang, v) =>
      assert(v.take(3) == bpe(lang), s"$lang: q193 $v vs q176 ${bpe(lang)}")
      assert(v.drop(3) == uni(lang), s"$lang: q193 $v vs q192 ${uni(lang)}")
    }
  }
}
