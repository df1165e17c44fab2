package graft

import org.apache.spark.sql.functions._
import graft.queries.TextQueries

/** q173 BPE merge-loop contracts: the engine reproduces the worked
  * example from Sennrich, Haddow & Birch 2016 (§3.2's low/lower/
  * newest/widest corpus) merge-for-merge, and the greedy apply fold
  * matches the reference left-to-right semantics on the adversarial
  * run/overlap cases the declarative spelling could plausibly get
  * wrong. */
class BpeSpec extends SparkSpec {

  test("planted Sennrich corpus trains the paper's merge sequence") {
    import spark.implicits._
    // 5x low, 2x lower, 6x newest, 3x widest — one doc per occurrence
    val docs = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest"))
      .toDF("text")
    val got = TextQueries.bpeMerges(docs, 6).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    // hand-derived (and cross-checked against an independent scripted
    // reference): es/est/est</w> lead exactly as in the paper, then
    // the l-o-w family, with (count desc, pair asc) breaking ties
    val want = Seq(
      (1, "e", "s", "es", 9L),
      (2, "es", "t", "est", 9L),
      (3, "est", "</w>", "est</w>", 9L),
      (4, "l", "o", "lo", 7L),
      (5, "lo", "w", "low", 7L),
      (6, "e", "w", "ew", 6L))
    assert(got.toSeq == want, got.mkString("\n"))
  }

  test("greedy apply is left-to-right non-overlapping on runs") {
    import spark.implicits._
    // merge (a,a) over "aaaa" must yield [aa, aa, </w>] (pairs merge
    // 1-2 then 3-4, never the overlapping 2-3); over "aaa" -> [aa, a]
    val docs = Seq("aaaa", "aaa").toDF("text")
    val m1 = TextQueries.bpeMerges(docs, 1).collect()
    assert(m1.head.getString(3) == "aa", m1.mkString(","))
    // pair count of (a,a): aaaa has 3 adjacent + aaa has 2 -> 5
    assert(m1.head.getLong(4) == 5L, m1.mkString(","))
    // second merge: after applying (a,a), segments are
    // aaaa -> [aa, aa, </w>], aaa -> [aa, a, </w>]; top pair is
    // (aa, aa):1 vs (aa, a):1 vs (a, </w>):1 vs (aa, </w>):1 ->
    // tie-break pair asc picks (a, </w>) ('a' < 'aa' lexicographic)
    val m2 = TextQueries.bpeMerges(docs, 2).collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(4)))
    assert(m2(1) == (("a", "</w>", 1L)), m2.mkString(","))
  }

  test("merge exhaustion: K beyond the realizable merges stops cleanly") {
    import spark.implicits._
    // one distinct word: "ab" -> (a,b) then (ab,</w>) and then the
    // whole corpus is single-symbol words — no pairs remain. Asking
    // for K=5 must return exactly the 2 realizable merges (the empty
    // argmax propagates an empty step on BOTH engines — the oracle's
    // `FROM seg, m` cross join and the Spark crossJoin agree), never
    // a crash or a padded row
    val docs = Seq("ab", "ab", "ab").toDF("text")
    val got = TextQueries.bpeMerges(docs, 5).collect()
      .map(r => (r.getInt(0), r.getString(3), r.getLong(4)))
    assert(got.toSeq == Seq((1, "ab", 3L), (2, "ab</w>", 3L)), got.toSeq)
  }

  test("q184: encode∘decode is the identity on every sampled doc") {
    // the round-trip gate's flag is a MEASURED column; this pins that
    // on the real corpus it actually measures true — a segmentation
    // table missing a word, marker mishandling, or a detok join
    // dropping tokens would flip it
    val rows = graft.queries.Registry.byName("q184_bpe_roundtrip")
      .run(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getBoolean(5),
      s"roundtrip failed for doc ${r.getLong(0)}: $r"))
  }

  test("merged symbols never false-match inside longer symbols") {
    import spark.implicits._
    // corpus where, after merging (a,b)->ab, a later pair (ab,c)
    // must only match the SYMBOL ab, not the substring "ab" inside
    // the original characters of another word
    val docs = (Seq.fill(4)("abc") ++ Seq.fill(1)("zabz")).toDF("text")
    val got = TextQueries.bpeMerges(docs, 2).collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(4)))
    // (a,b) appears in abc x4 and zabz x1 -> 5; after the merge both
    // words carry the ab SYMBOL, so (ab,c):4 and (ab,z):1 — argmax
    // must be (ab,c) with count 4 (not a substring artifact)
    assert(got(0) == (("a", "b", 5L)), got.mkString(","))
    assert(got(1) == (("ab", "c", 4L)), got.mkString(","))
  }
}
