package graft.queries

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, GraftColumn, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Deduplication suite over `documents` — the training-data-pipeline
  * surface (builder brief): exact dedup, MinHash signatures,
  * MinHash-LSH near-dup candidate generation with exact-Jaccard
  * verification, and SimHash fingerprints.
  *
  * All hashing is md5-based so every stage is bit-identical in the
  * DuckDB oracle: h_i(s) = int(md5(i ":" s)[0:8 hex]) — a 32-bit
  * universal-ish hash family indexed by seed i.
  *
  * Scale notes (100 TB posture):
  *  - exact dedup is one hash-groupBy on a 32-char digest (map-side
  *    partial min/count), not on the full text;
  *  - LSH candidates shuffle on (band_idx, band_key) — pairs are
  *    generated per bucket, never all-pairs; a pathological bucket
  *    (boilerplate spam) is AQE-skew-split, and the per-bucket pair
  *    count can be capped upstream by dropping buckets with
  *    count > limit (documented, not needed at test SF);
  *  - the Jaccard verify join touches only candidate pairs.
  */
object DedupQueries {

  private def toks(c: Column): Column = split(c, " ")

  /** distinct word-3-gram shingle set of a token array (len >= 3). */
  private def shingles(t: Column): Column =
    array_distinct(transform(sequence(lit(1), size(t) - 2), i =>
      concat_ws(" ", element_at(t, i), element_at(t, i + 1),
        element_at(t, i + 2))))

  private val K = 8          // MinHash signature length
  private[queries] val BANDS = 4 // bands of rows R = K / BANDS = 2

  /** affine MinHash lanes h_i(x) = (a_i·x + b_i) mod P over ONE 32-bit
    * md5 base hash per shingle — the standard universal-hash family, and
    * 8× less md5 work than hashing per lane. P prime > 2^32; a_i < 2^31
    * keeps a_i·x < 2^63 (no overflow). */
  private val P = 4294967311L
  private val lanes: Seq[(Long, Long)] = Seq(
    (1099511627L, 98764321261L % P), (2065518073L, 40014099L),
    (1327217884L, 271828182L), (2038074743L, 314159265L),
    (1157627017L, 577215664L), (1901122363L, 141421356L),
    (149173517L, 173205080L), (1150496843L, 236067977L))

  /** docs with their shingle sets and K-lane MinHash signature columns
    * sig0..sig7 plus BANDS band-key columns. */
  private def signatures(s: SparkSession, dir: String): DataFrame =
    signaturesOf(documents(s, dir))

  /** the same signature pipeline over an ARBITRARY (doc_id, text, …)
    * frame — every stage is a deterministic per-row expression, so it
    * runs unchanged on a STREAMING frame (q140 banding newly-arriving
    * docs at ingest) or a filtered split. */
  private[queries] def signaturesOf(docs: DataFrame): DataFrame = {
    val base = docs
      .withColumn("t", toks(col("text")))
      .filter(size(col("t")) >= 3)
      .withColumn("sh", shingles(col("t")))
      // one md5 per shingle; lanes are pure arithmetic over this
      .withColumn("hx", transform(col("sh"), x =>
        conv(substring(md5(x), 1, 8), 16, 10).cast("long")))
    val withSigs = lanes.zipWithIndex.foldLeft(base) {
      case (df, ((a, b), i)) =>
        df.withColumn(s"sig$i",
          array_min(transform(col("hx"), x => (lit(a) * x + lit(b)) % P)))
    }
    (0 until BANDS).foldLeft(withSigs) { (df, b) =>
      df.withColumn(s"band$b",
        md5(concat_ws(",", col(s"sig${2 * b}"), col(s"sig${2 * b + 1}"))))
    }.drop("hx")
  }

  /** shared oracle CTE producing the same signatures in DuckDB
    * (package-visible: q140's streaming-ingest oracle reuses it). */
  private[queries] val sigSqlCte: String = {
    val sigExprs = lanes.zipWithIndex.map { case ((a, b), i) =>
      s"list_min(list_transform(hx, x -> ($a * x + $b) % $P)) AS sig$i"
    }.mkString(",\n ")
    val bandExprs = (0 until BANDS).map { b =>
      s"md5(concat_ws(',', sig${2 * b}, sig${2 * b + 1})) AS band$b"
    }.mkString(",\n ")
    s"""shq AS (
       | SELECT doc_id,
       |  list_distinct(list_transform(generate_series(1, len(t) - 2),
       |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
       | FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
       | WHERE len(t) >= 3),
       |sigq AS (
       | SELECT doc_id, sh,
       | $sigExprs
       | FROM (SELECT doc_id, sh, list_transform(sh,
       |        x -> CAST(concat('0x', substr(md5(x), 1, 8)) AS BIGINT)) AS hx
       |       FROM shq)),
       |bandq AS (
       | SELECT *,
       | $bandExprs
       | FROM sigq)""".stripMargin
  }

  /** q40: exact dedup — every doc mapped to the canonical (min doc_id)
    * of its md5(text) group; group size and dup flag. */
  private def q40(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fp = documents(s, dir).select($"doc_id", md5($"text").as("fp"))
    val groups = fp.groupBy($"fp")
      .agg(min($"doc_id").as("canonical_id"), count(lit(1)).as("group_n"))
    fp.join(groups, "fp")
      .select($"doc_id", $"canonical_id", $"group_n",
        ($"doc_id" =!= $"canonical_id").as("is_dup"))
      .orderBy($"doc_id")
  }

  private val q40Sql =
    """WITH fp AS (SELECT doc_id, md5(text) AS fp FROM documents),
      |g AS (SELECT fp, min(doc_id) AS canonical_id, count(*) AS group_n
      |      FROM fp GROUP BY fp)
      |SELECT doc_id, canonical_id, group_n,
      | doc_id <> canonical_id AS is_dup
      |FROM fp JOIN g USING (fp) ORDER BY doc_id""".stripMargin

  /** q41: per-doc MinHash signatures — K md5 lanes over the distinct
    * shingle set, plus the banded LSH keys. Deterministic row per doc. */
  private def q41(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    signatures(s, dir)
      .select(($"doc_id" +: size($"sh").as("n_shingles") +:
        (0 until K).map(i => col(s"sig$i")) :+
        col("band0") :+ col("band3")): _*)
      .orderBy($"doc_id")
  }

  private val q41Sql = {
    val sigCols = (0 until K).map(i => s"sig$i").mkString(", ")
    s"""WITH $sigSqlCte
       |SELECT doc_id, len(sh) AS n_shingles, $sigCols, band0, band3
       |FROM bandq ORDER BY doc_id""".stripMargin
  }

  /** ONE definition of the q140 ingest split: which documents count as
    * "newly arriving" (streamed through the at-ingest near-dup screen)
    * vs "already indexed" (the batch-built corpus band index). Same
    * deterministic-md5-split idiom as BloomScreen's benchmark split;
    * ix < NewMax ≈ 1/3 of the corpus is "new". */
  private[graft] object IngestSplit {
    val NewMax = "55"
    /** first-2-hex of md5("ingest:"+doc_id) as column `ix`. */
    def withIx(d: DataFrame): DataFrame =
      d.withColumn("ix",
        substring(md5(concat(lit("ingest:"), col("doc_id"))), 1, 2))
    /** the same split key in DuckDB. */
    val IxSql = "substr(md5(concat('ingest:', CAST(doc_id AS VARCHAR))), 1, 2)"
  }

  /** DuckDB spelling of the exploded (doc_id, band_idx, band_key) band
    * table over `bandq` — shared by the q42/q44 oracles' inline unions
    * and q140's streaming-ingest oracle. */
  private[queries] val bandUnionSql: String = (0 until BANDS)
    .map(b => s"SELECT doc_id, $b AS band_idx, band$b AS band_key FROM bandq")
    .mkString("\n UNION ALL\n ")

  /** Verified near-dup pairs (doc_a, doc_b, jaccard ≥ 0.7) — the shared
    * LSH pipeline behind q42/q44/q47. The band self-join carries ONLY
    * (doc_id, band_idx, band_key): at 100 TB, shuffling the shingle
    * arrays through the candidate join would move ~4× the corpus'
    * shingle payload; instead candidates join BACK to a doc→shingles
    * table for the exact-Jaccard verify (the same shape as the oracle's
    * `cand` + `JOIN shq` CTEs). The slim projection is materialized
    * once (localCheckpoint) so bands and the shingle lookup don't
    * re-run the scan+md5 pipeline. */
  private def verifiedPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sigs = signatures(s, dir)
      .select(($"doc_id" +: $"sh" +:
        (0 until BANDS).map(b => col(s"band$b"))): _*)
      .localCheckpoint(true)
    val bands = sigs.select($"doc_id",
      explode(array((0 until BANDS).map(b =>
        struct(lit(b).as("band_idx"), col(s"band$b").as("band_key"))): _*))
        .as("band"))
      .select($"doc_id", $"band.band_idx", $"band.band_key")
    val cands = bands.as("a").join(bands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    val sh = sigs.select($"doc_id", $"sh")
    cands
      .join(sh.select($"doc_id".as("doc_a"), $"sh".as("sh_a")), "doc_a")
      .join(sh.select($"doc_id".as("doc_b"), $"sh".as("sh_b")), "doc_b")
      .withColumn("inter", size(array_intersect($"sh_a", $"sh_b")).cast("double"))
      .withColumn("jaccard", round(
        $"inter" / (size($"sh_a") + size($"sh_b") - $"inter"), 6))
      .filter($"jaccard" >= 0.7)
      .select($"doc_a", $"doc_b", $"jaccard")
  }

  /** q42: MinHash-LSH near-dup pairs, end-to-end — band-bucket join
    * generates candidates, exact shingle Jaccard verifies, threshold
    * 0.7 keeps true near-dups. */
  private def q42(s: SparkSession, dir: String): DataFrame =
    verifiedPairs(s, dir).orderBy(col("doc_a"), col("doc_b"))

  private val q42Sql = {
    val bandUnion = (0 until BANDS)
      .map(b => s"SELECT doc_id, sh, $b AS band_idx, band$b AS band_key FROM bandq")
      .mkString("\n UNION ALL\n ")
    s"""WITH $sigSqlCte,
       |bands AS (
       | $bandUnion),
       |cand AS (
       | SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       | FROM bands a JOIN bands b
       |   ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       |  AND a.doc_id < b.doc_id),
       |ver AS (
       | SELECT doc_a, doc_b,
       |  round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
       |   / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))),
       |   6) AS jaccard
       | FROM cand
       | JOIN shq sa ON sa.doc_id = doc_a
       | JOIN shq sb ON sb.doc_id = doc_b)
       |SELECT doc_a, doc_b, jaccard FROM ver
       |WHERE jaccard >= 0.7 ORDER BY doc_a, doc_b""".stripMargin
  }

  /** near-dup pairs (the q42 pipeline, shared by q44/q47). */
  private def neardupPairs(s: SparkSession, dir: String): DataFrame =
    verifiedPairs(s, dir).select(col("doc_a"), col("doc_b"))

  /** q44: transitive duplicate CLUSTERS from the near-dup pairs —
    * connected components by iterative min-label propagation (the step
    * that turns pairwise near-dups into dedup groups). Driver loop runs
    * to fixpoint; components are shallow (dup chains), so the iteration
    * count is the component diameter. At 100 TB: same loop with
    * checkpointing every few rounds (lineage control), still one
    * shuffle per round. Oracle: recursive-CTE reachability closure. */
  private def q44(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // localCheckpoint truncates LINEAGE: the folded propagation plan
    // references `edges` many times, and without truncation every
    // reference embeds (and Catalyst re-optimizes / recomputes) the
    // whole LSH pipeline subtree
    val edges = neardupPairs(s, dir)
      .select(array($"doc_a", $"doc_b").as("e"))
      .select(explode(array(
        struct($"e"(0).as("src"), $"e"(1).as("dst")),
        struct($"e"(1).as("src"), $"e"(0).as("dst")))).as("ed"))
      .select($"ed.src", $"ed.dst")
      .coalesce(4)
      .localCheckpoint(true)
    // the label-prop loop works on a tiny edge set; AQE coalesces its
    // shuffles to match (no session-conf mutation — a mutated
    // spark.sql.shuffle.partitions would leak into concurrent queries
    // and into this query's own post-return stages, since the DataFrame
    // is lazy). At scale the edge set is large and AQE sizes normally.
    def propagate(labels: DataFrame): DataFrame = {
      val neigh = edges.join(labels, $"dst" === $"node")
        .groupBy($"src").agg(min($"lbl").as("nlbl"))
      labels.join(neigh, $"node" === $"src", "left")
        .select($"node", least($"lbl", coalesce($"nlbl", $"lbl")).as("lbl"))
    }
    // near-dup clusters are shallow — 6 rounds folded LAZILY into one
    // plan (one job), then a single convergence check; the loop below
    // only runs for a pathological >6-diameter component
    var labels = (1 to 3).foldLeft(
      edges.select($"src".as("node")).distinct().withColumn("lbl", $"node"))(
      (l, _) => propagate(l)).localCheckpoint(true)
    var changed = propagate(labels).as("n")
      .join(labels.as("o"), col("n.node") === col("o.node"))
      .filter(col("n.lbl") < col("o.lbl")).count()
    while (changed > 0) {
      labels = (1 to 3).foldLeft(labels)((l, _) => propagate(l))
        .localCheckpoint(true)
      changed = propagate(labels).as("n")
        .join(labels.as("o"), col("n.node") === col("o.node"))
        .filter(col("n.lbl") < col("o.lbl")).count()
    }
    labels.select($"node".as("doc_id"), $"lbl".as("cluster_id"))
      .orderBy($"doc_id")
  }

  private val q44Sql = {
    val bandUnion = (0 until BANDS)
      .map(b => s"SELECT doc_id, sh, $b AS band_idx, band$b AS band_key FROM bandq")
      .mkString("\n UNION ALL\n ")
    s"""WITH RECURSIVE $sigSqlCte,
       |bands AS (
       | $bandUnion),
       |cand AS (
       | SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       | FROM bands a JOIN bands b
       |   ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       |  AND a.doc_id < b.doc_id),
       |pairs AS (
       | SELECT doc_a, doc_b FROM (
       |  SELECT doc_a, doc_b,
       |   round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
       |    / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))),
       |    6) AS jaccard
       |  FROM cand
       |  JOIN shq sa ON sa.doc_id = doc_a
       |  JOIN shq sb ON sb.doc_id = doc_b) v
       | WHERE jaccard >= 0.7),
       |edges AS (
       | SELECT doc_a AS src, doc_b AS dst FROM pairs
       | UNION SELECT doc_b, doc_a FROM pairs),
       |walk(node, r) AS (
       | SELECT src, src FROM edges
       | UNION
       | SELECT w.node, e.dst FROM walk w JOIN edges e ON w.r = e.src)
       |SELECT node AS doc_id, min(r) AS cluster_id
       |FROM walk GROUP BY node ORDER BY doc_id""".stripMargin
  }

  /** q48: the dedup APPLY step — the cleaned corpus a pipeline actually
    * ships: drop every doc that has an exact-dup (same md5(text)) or a
    * verified near-dup (q42 pipeline) with a SMALLER doc_id (greedy
    * min-id survivor; deterministic). Reported as the per-source
    * keep/drop rollup with a survivor checksum. */
  private def q48(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = documents(s, dir).select($"doc_id", $"source", md5($"text").as("fp"))
    val exactCanon = docs.groupBy($"fp").agg(min($"doc_id").as("canon"))
    val dropExact = docs.join(exactCanon, "fp")
      .filter($"doc_id" =!= $"canon").select($"doc_id")
    val dropNear = verifiedPairs(s, dir).select($"doc_b".as("doc_id"))
    val dropped = dropExact.union(dropNear).distinct()
    docs.join(dropped.withColumn("is_dropped", lit(true)),
        Seq("doc_id"), "left")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"is_dropped".isNull, 1L).otherwise(0L)).as("n_kept"),
        sum(when($"is_dropped".isNull, $"doc_id")).as("kept_checksum"))
      .orderBy($"source")
  }

  private lazy val q48Sql = {
    val bandUnion = (0 until BANDS)
      .map(b => s"SELECT doc_id, sh, $b AS band_idx, band$b AS band_key FROM bandq")
      .mkString("\n UNION ALL\n ")
    s"""WITH $sigSqlCte,
       |bands AS (
       | $bandUnion),
       |cand AS (
       | SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       | FROM bands a JOIN bands b
       |   ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       |  AND a.doc_id < b.doc_id),
       |pairs AS (
       | SELECT doc_a, doc_b FROM (
       |  SELECT doc_a, doc_b,
       |   round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
       |    / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))),
       |    6) AS jaccard
       |  FROM cand
       |  JOIN shq sa ON sa.doc_id = doc_a
       |  JOIN shq sb ON sb.doc_id = doc_b) v
       | WHERE jaccard >= 0.7),
       |d AS (SELECT doc_id, source, md5(text) AS fp FROM documents),
       |ec AS (SELECT fp, min(doc_id) AS canon FROM d GROUP BY fp),
       |dropped AS (
       | SELECT doc_id FROM d JOIN ec USING (fp) WHERE doc_id <> canon
       | UNION
       | SELECT doc_b FROM pairs)
       |SELECT source, count(*) AS n_docs,
       | CAST(sum(CASE WHEN dr.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |   AS n_kept,
       | CAST(sum(CASE WHEN dr.doc_id IS NULL THEN d.doc_id END) AS BIGINT)
       |   AS kept_checksum
       |FROM d LEFT JOIN dropped dr ON d.doc_id = dr.doc_id
       |GROUP BY source ORDER BY source""".stripMargin
  }

  /** q43: SimHash — 32-bit per-doc fingerprint from token-frequency bit
    * votes (tokens with multiplicity; bit j set iff Σ ±1 votes > 0). */
  private def q43(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // ONE native traversal of the hashed tokens (graft_simhash32):
    // the earlier per-bit form nested the token aggregate inside a
    // 32-step bit fold and md5 ran 32× per token (20 s at sf0.1 under
    // the honest noop bench); the single-traversal HOF rewrite cut it
    // to ~3 s but still walked the lambda interpreter 32× per token
    // with a fresh 32-lane array per fold step (27 s at sf1); the
    // native kernel is one primitive loop (q43HofTally keeps the HOF
    // spelling as the EdgeCaseSpec equivalence yardstick)
    documents(s, dir)
      .withColumn("th", transform(toks($"text"), x =>
        conv(substring(md5(x), 1, 8), 16, 10).cast("long")))
      .withColumn("simhash", graft.expr.GraftFunctions.simHash32(s, $"th"))
      .select($"doc_id", $"simhash",
        shiftright($"simhash", 24).as("bucket"))
      .orderBy($"doc_id")
  }

  /** the interpreted-HOF SimHash spelling — kept as the equivalence
    * yardstick for the native graft_simhash32 (EdgeCaseSpec). */
  private[graft] def simHashHof(th: Column): Column = {
    // literal powers of two: shiftleft/right only take literal ints,
    // and h < 2^32 makes h / 2^j exact in double
    val p2s = array((0 until 32).map(j => lit(1L << j)): _*)
    val tally = aggregate(th, array_repeat(lit(0L), 32), (acc, h) =>
      zip_with(acc, p2s, (a, p2) =>
        a + when((h / p2).cast("long") % 2 === 1, 1L).otherwise(-1L)))
    aggregate(zip_with(tally, p2s, (t, p2) =>
      when(t > 0, p2).otherwise(0L)), lit(0L), (a, x) => a + x)
  }

  private val q43Sql =
    """WITH d AS (
      | SELECT doc_id,
      |  list_transform(string_split(text, ' '),
      |    x -> CAST(concat('0x', substr(md5(x), 1, 8)) AS BIGINT)) AS th
      | FROM documents),
      |sh AS (
      | SELECT doc_id,
      |  CAST(list_sum(list_transform(generate_series(0, 31), j ->
      |   CASE WHEN list_sum(list_transform(th, h ->
      |          CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END)) > 0
      |        THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)) AS BIGINT) AS simhash
      | FROM d)
      |SELECT doc_id, simhash, simhash >> 24 AS bucket
      |FROM sh ORDER BY doc_id""".stripMargin

  /** q45: brute n-gram Jaccard near-dup pairs, anchored at a fixed-SIZE
    * md5-picked probe sample — exact pairwise Jaccard over distinct
    * word-3-gram sets, blocked on (lang, token-count adjacency
    * |Δ| ≤ 1): high-Jaccard near-dups are length-stable, so the block
    * keeps recall while bounding the quadratic term. `doc_a` ranges
    * over the PROBE_K probes only (cost O(K·N) = O(N); the all-probes
    * form measured 30× at 10× data in the round-4 sf1 audit), `doc_b`
    * over the whole corpus in BOTH directions, so a true near-dup pair
    * is found when EITHER endpoint is a probe — the exact yardstick
    * LshRecallSpec compares q42 against. The unblocked exhaustive form
    * is what q42's LSH replaces at scale. */
  private val PROBE_K = 256

  private def q45(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = documents(s, dir)
      .withColumn("t", toks($"text"))
      .filter(size($"t") >= 3)
      // 32-bit md5 shingle hashes: integer set-intersections are far
      // cheaper than string sets over the pair join (a hash collision
      // would merge shingles identically in both engines)
      .select($"doc_id", $"lang", size($"t").as("nt"),
        array_distinct(transform(shingles($"t"), x =>
          conv(substring(md5(x), 1, 8), 16, 10).cast("long"))).as("sh"))
      // materialize once: both join sides reuse the hashed-shingle
      // blocks instead of re-running the scan+md5 pipeline
      .localCheckpoint(true)
    val probes = documents(s, dir).select($"doc_id")
      .withColumn("h", md5(concat(lit("q45:"), $"doc_id".cast("string"))))
      .orderBy($"h", $"doc_id").limit(PROBE_K).select($"doc_id")
    val a = d.join(probes, "doc_id")
      .select($"lang", $"doc_id".as("doc_a"), $"sh".as("sh_a"),
        explode(array($"nt" - 1, $"nt", $"nt" + 1)).as("band"))
    val b = d.select($"lang", $"doc_id".as("doc_b"), $"sh".as("sh_b"),
      $"nt".as("band"))
    // barrier after the intersect: downstream projection collapse would
    // otherwise inline (and re-evaluate) the set-intersection into the
    // jaccard expression, the ≥0.7 filter, and the output projection
    val sized = a.join(b, Seq("lang", "band")).filter($"doc_a" =!= $"doc_b")
      .select($"lang", $"doc_a", $"doc_b",
        size(array_intersect($"sh_a", $"sh_b")).cast("double").as("inter"),
        size($"sh_a").as("na"), size($"sh_b").as("nb"))
      .localCheckpoint(true)
    sized
      .withColumn("jaccard", round($"inter" / ($"na" + $"nb" - $"inter"), 6))
      .filter($"jaccard" >= 0.7)
      .select($"lang", $"doc_a", $"doc_b", $"jaccard")
      .orderBy($"doc_a", $"doc_b")
  }

  private lazy val q45Sql =
    s"""WITH d AS (
      | SELECT doc_id, lang, len(t) AS nt,
      |  list_distinct(list_transform(
      |   list_distinct(list_transform(generate_series(1, len(t) - 2),
      |     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])),
      |   x -> CAST(concat('0x', substr(md5(x), 1, 8)) AS BIGINT))) AS sh
      | FROM (SELECT doc_id, lang, string_split(text, ' ') AS t
      |       FROM documents)
      | WHERE len(t) >= 3),
      |probes AS (SELECT doc_id FROM documents
      |           ORDER BY md5('q45:' || CAST(doc_id AS VARCHAR)), doc_id
      |           LIMIT $PROBE_K),
      |a AS (SELECT lang, doc_id AS doc_a, sh AS sh_a,
      |       unnest([nt - 1, nt, nt + 1]) AS band FROM d
      |      WHERE doc_id IN (SELECT doc_id FROM probes)),
      |b AS (SELECT lang, doc_id AS doc_b, sh AS sh_b, nt AS band FROM d)
      |SELECT lang, doc_a, doc_b,
      | round(CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
      |  / (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b))), 6)
      |  AS jaccard
      |FROM a JOIN b USING (lang, band)
      |WHERE doc_a <> doc_b
      |  AND round(CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
      |  / (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b))), 6)
      |  >= 0.7
      |ORDER BY doc_a, doc_b""".stripMargin

  /** q46: SOURCE-level similarity via bottom-k MinHash sketches — the
    * native TypedImperativeAggregate `graft_bottomk` keeps the k
    * smallest distinct shingle hashes per source in O(k) memory (the
    * scale path where collect_set would blow up), then pairwise
    * Ĵ = |bottomk(A∪B) ∩ skA ∩ skB| / |bottomk(A∪B)|. */
  private def q46(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val kSk = 128
    val sk = documents(s, dir)
      .withColumn("t", toks($"text"))
      .filter(size($"t") >= 3)
      // _outer: dodge InferFiltersFromGenerate (see ngramAttribution);
      // size(t) >= 3 makes the shingle array non-empty
      .select($"source", explode_outer(transform(shingles($"t"), x =>
        conv(substring(md5(x), 1, 8), 16, 10).cast("long"))).as("h"))
      .groupBy($"source")
      .agg(graft.expr.GraftFunctions.bottomK(s, $"h", kSk).as("sk"))
    val a = sk.select($"source".as("source_a"), $"sk".as("sk_a"))
    val b = sk.select($"source".as("source_b"), $"sk".as("sk_b"))
    a.join(b, $"source_a" < $"source_b")
      .withColumn("u", slice(array_sort(array_union($"sk_a", $"sk_b")),
        1, kSk))
      .select($"source_a", $"source_b",
        size($"sk_a").as("k_a"), size($"sk_b").as("k_b"),
        size($"u").as("k_union"),
        round(size(array_intersect(array_intersect($"u", $"sk_a"), $"sk_b"))
          / size($"u").cast("double"), 6).as("jaccard_est"))
      .orderBy($"source_a", $"source_b")
  }

  private val q46Sql =
    """WITH h AS (
      | SELECT source,
      |  unnest(list_transform(
      |   list_distinct(list_transform(generate_series(1, len(t) - 2),
      |     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])),
      |   x -> CAST(concat('0x', substr(md5(x), 1, 8)) AS BIGINT))) AS hv
      | FROM (SELECT source, string_split(text, ' ') AS t FROM documents)
      | WHERE len(t) >= 3),
      |sk AS (
      | SELECT source, list_sort(list_distinct(list(hv)))[1:128] AS sk
      | FROM h GROUP BY source),
      |p AS (
      | SELECT a.source AS source_a, b.source AS source_b,
      |  a.sk AS sk_a, b.sk AS sk_b,
      |  list_sort(list_distinct(a.sk || b.sk))[1:128] AS u
      | FROM sk a JOIN sk b ON a.source < b.source)
      |SELECT source_a, source_b,
      | len(sk_a) AS k_a, len(sk_b) AS k_b, len(u) AS k_union,
      | round(len(list_intersect(list_intersect(u, sk_a), sk_b))
      |   / CAST(len(u) AS DOUBLE), 6) AS jaccard_est
      |FROM p ORDER BY source_a, source_b""".stripMargin

  /** q47: contamination matrix — near-dup pairs (q42's LSH pipeline)
    * that CROSS source boundaries, counted per source pair: the
    * train/test-leakage check a dataset split must pass before
    * training. */
  private def q47(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val src = documents(s, dir).select($"doc_id", $"source")
    neardupPairs(s, dir)
      .join(src.withColumnRenamed("source", "source_a"),
        $"doc_a" === src("doc_id")).drop("doc_id")
      .join(broadcast(src.withColumnRenamed("source", "source_b")
        .withColumnRenamed("doc_id", "doc_id_b")),
        $"doc_b" === $"doc_id_b")
      .filter($"source_a" =!= $"source_b")
      .withColumn("s_lo", least($"source_a", $"source_b"))
      .withColumn("s_hi", greatest($"source_a", $"source_b"))
      .groupBy($"s_lo", $"s_hi")
      .agg(count(lit(1)).as("n_leaked_pairs"))
      .orderBy($"s_lo", $"s_hi")
  }

  private lazy val q47Sql = {
    val bandUnion = (0 until BANDS)
      .map(b => s"SELECT doc_id, sh, $b AS band_idx, band$b AS band_key FROM bandq")
      .mkString("\n UNION ALL\n ")
    s"""WITH $sigSqlCte,
       |bands AS (
       | $bandUnion),
       |cand AS (
       | SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       | FROM bands a JOIN bands b
       |   ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       |  AND a.doc_id < b.doc_id),
       |pairs AS (
       | SELECT doc_a, doc_b FROM (
       |  SELECT doc_a, doc_b,
       |   round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
       |    / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))),
       |    6) AS jaccard
       |  FROM cand
       |  JOIN shq sa ON sa.doc_id = doc_a
       |  JOIN shq sb ON sb.doc_id = doc_b) v
       | WHERE jaccard >= 0.7),
       |x AS (
       | SELECT da.source AS source_a, db.source AS source_b
       | FROM pairs
       | JOIN documents da ON da.doc_id = doc_a
       | JOIN documents db ON db.doc_id = doc_b
       | WHERE da.source <> db.source)
       |SELECT least(source_a, source_b) AS s_lo,
       | greatest(source_a, source_b) AS s_hi,
       | count(*) AS n_leaked_pairs
       |FROM x GROUP BY s_lo, s_hi ORDER BY s_lo, s_hi""".stripMargin
  }

  /** q117: the END-TO-END curation pipeline — the composition a real
    * training-data run executes as one job, here as one declarative
    * chain under one oracle: (1) quality gate (token/char floors, the
    * q33 family), (2) exact-dup keep-first (md5 fingerprint, min
    * doc_id survives — q40/q48's rule), (3) per-language budget cap
    * (deterministic md5-ranked keep-K, q38's machinery), (4) corpus
    * rollup. Scale: one scan; the dedup window shuffles on the
    * fingerprint (bounded groups), the cap window on lang; the n_chars
    * half of the quality gate pushes to the scan (PlanShapeSpec) while
    * the computed n_tok half evaluates row-local. The point of the gate is
    * that the stages COMPOSE without materialization barriers —
    * Catalyst plans the whole pipeline as one query. */
  private def q117(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wFp = Window.partitionBy($"fp").orderBy($"doc_id")
    val wCap = Window.partitionBy($"lang")
      .orderBy(md5(concat(lit("cap:"), $"doc_id".cast("string"))), $"doc_id")
    documents(s, dir)
      .withColumn("n_tok", size(split($"text", " ")))
      .filter($"n_tok" >= 3 && $"n_chars" >= 20)
      .withColumn("fp", md5($"text"))
      .withColumn("rk", row_number().over(wFp))
      .filter($"rk" === 1)
      .withColumn("lrk", row_number().over(wCap))
      .filter($"lrk" <= 50)
      .groupBy($"lang", $"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_tok").as("total_tokens"),
        sum($"doc_id").as("id_checksum"))
      .orderBy($"lang", $"source")
  }

  private val q117Sql =
    """WITH d AS (
      | SELECT doc_id, lang, source, text,
      |  len(string_split(text, ' ')) AS n_tok
      | FROM documents
      | WHERE len(string_split(text, ' ')) >= 3 AND n_chars >= 20),
      |k AS (
      | SELECT *, row_number() OVER (PARTITION BY md5(text)
      |   ORDER BY doc_id) AS rk
      | FROM d),
      |c AS (
      | SELECT *, row_number() OVER (PARTITION BY lang
      |   ORDER BY md5('cap:' || CAST(doc_id AS VARCHAR)), doc_id) AS lrk
      | FROM k WHERE rk = 1)
      |SELECT lang, source, count(*) AS n_docs,
      | CAST(sum(n_tok) AS BIGINT) AS total_tokens,
      | CAST(sum(doc_id) AS BIGINT) AS id_checksum
      |FROM c WHERE lrk <= 50
      |GROUP BY lang, source ORDER BY lang, source""".stripMargin

  /** q119: EDIT-DISTANCE fuzzy near-dup candidates — the remaining
    * dedup family next to exact (q40), MinHash-LSH (q42), SimHash
    * (q43), n-gram Jaccard (q45) and embedding-cosine (q53): classic
    * fuzzy title/URL-style matching. Pair generation is BLOCKED on
    * (first token, length÷32 band) — a hash join on the block key,
    * never all-pairs, with each probe also offering its two ADJACENT
    * length bands so boundary-straddling pairs are reachable
    * (FuzzyRecallSpec pins recall ≥ 0.9 on a planted corpus) — and
    * the Levenshtein runs on a 64-char prefix,
    * bounding per-pair cost at 64² regardless of document length.
    * Both engines implement classic Levenshtein, but DuckDB counts
    * UTF-8 BYTES while Spark counts characters — identical only on
    * ASCII text, which this corpus is (verified at sf0.01/sf0.1); a
    * non-ASCII corpus would need the oracle's distance wrapped in a
    * byte-normalizing transliteration. The query side is a FIXED 256-doc
    * md5-ranked probe sample (the q45/q50 lesson applied up front:
    * the all-pairs blocked form measured 225 s at sf1 — block sizes
    * grow ∝ N on a fixed first-token vocabulary, so full-side pairs
    * grow ∝ N²; probe-sampled candidates measured 299 → 29.6k for
    * 100× docs, linear as designed). At 100 TB the blocking key is
    * additionally the standard fuzzy-dedup lever: more bands (first
    * 2 tokens, finer length buckets) shrink blocks as N grows. */
  private val FUZZY_PK = 256

  /** q119's candidate generator, factored out so FuzzyRecallSpec can
    * drive the PRODUCTION blocking on a planted corpus. Probes join the
    * corpus on (first token, length÷32 band), and each probe offers its
    * HOME band plus both ADJACENT bands (`lb − 1, lb, lb + 1`): without
    * the neighbors a true fuzzy pair whose lengths straddle a band
    * boundary (63 vs 65 chars) is never a candidate — a few edits can
    * always cross a fixed-width bucket edge, so the standard blocking
    * recipe probes the neighbor buckets (3× the broadcast rows, same
    * hash-join plan shape; the corpus side still carries one band per
    * doc, so each true pair is generated at most once — no dedup step).
    * `docs` needs (doc_id, text); `probeIds` a doc_id column. */
  private[graft] def fuzzyCandidates(docs: DataFrame,
      probeIds: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val d = docs
      .select($"doc_id", $"text")
      .withColumn("tok1", element_at(split($"text", " "), 1))
      .withColumn("lb", expr("length(text) div 32"))
      .withColumn("pfx", substring($"text", 1, 64))
      .select($"doc_id", $"tok1", $"lb", $"pfx")
    val a = d.join(probeIds, "doc_id")
      .withColumn("lb", explode(array($"lb" - 1, $"lb", $"lb" + 1)))
      .select($"tok1", $"lb", $"doc_id".as("probe_id"), $"pfx".as("pa"))
    val b = d.select($"tok1", $"lb", $"doc_id".as("match_id"),
      $"pfx".as("pb"))
    broadcast(a).join(b, Seq("tok1", "lb"))
      .filter($"probe_id" =!= $"match_id")
      .withColumn("dist", levenshtein($"pa", $"pb"))
      .filter($"dist" <= 16)
      .select($"probe_id", $"match_id", $"dist")
  }

  private def q119(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val probeIds = documents(s, dir).select($"doc_id")
      .withColumn("h", md5(concat(lit("q119:"), $"doc_id".cast("string"))))
      .orderBy($"h", $"doc_id").limit(FUZZY_PK).select($"doc_id")
    fuzzyCandidates(documents(s, dir), probeIds)
      .orderBy($"dist", $"probe_id", $"match_id")
  }

  private val q119Sql =
    s"""WITH d AS (
      | SELECT doc_id, string_split(text, ' ')[1] AS tok1,
      |  length(text) // 32 AS lb, substr(text, 1, 64) AS pfx
      | FROM documents),
      |p AS (SELECT * FROM d WHERE doc_id IN
      |  (SELECT doc_id FROM documents
      |   ORDER BY md5('q119:' || CAST(doc_id AS VARCHAR)), doc_id
      |   LIMIT $FUZZY_PK))
      |SELECT a.doc_id AS probe_id, b.doc_id AS match_id,
      | levenshtein(a.pfx, b.pfx) AS dist
      |FROM p a JOIN d b
      | ON a.tok1 = b.tok1 AND b.lb BETWEEN a.lb - 1 AND a.lb + 1
      | AND a.doc_id <> b.doc_id
      |WHERE levenshtein(a.pfx, b.pfx) <= 16
      |ORDER BY dist, probe_id, match_id""".stripMargin

  /** q128: BLOOM-FILTER DECONTAMINATION — screen the training corpus
    * against a benchmark set with the native `graft_bloom_agg` /
    * `graft_bloom_contains` pair: build one bloom over the benchmark's
    * 3-token shingles (a deterministic ~5% md5 split stands in for the
    * held-out suite), broadcast the blob, drop any corpus doc whose
    * shingle probes hit. The error is one-sided BY DESIGN: a probe can
    * false-positive (over-drop a clean doc; at this sizing —
    * nbits = 2²⁶, k = 5 — the per-probe FP odds are ~10⁻¹⁵ at sf0.1's
    * ~14 k inserted shingles and still ~10⁻¹⁰ at the sf1 replica's
    * ~140 k, so the result equals the exact screen by real margin at
    * every SF this repo runs, not dataset luck) but never
    * false-negative: contamination always drops.
    *
    * Scale (the reason this operator exists next to q47's exact LSH
    * matrix): the exact screen shuffles CORPUS-side shingles — at
    * 100 TB that is the pipeline's dominant shuffle. Here the filter
    * is built from the SMALL side only (benchmark suites are MBs; no
    * distinct needed — bloom inserts are idempotent), broadcast once
    * (~100 MB covers ~10⁸ benchmark shingles at 10 bits/key ≈ 1% FP),
    * and the corpus pass is an embarrassingly parallel scan with ZERO
    * corpus-side shuffle. Sizing rule is in the blob: nbits trades FP
    * rate against partial-merge traffic (one blob per map partition
    * reaches the final merge — size nbits to the benchmark, not the
    * corpus). BloomSpec pins no-false-negatives, partition-layout
    * independence of the blob, and the FP rate on an undersized
    * filter; the oracle pins equality with the exact semi-join screen
    * at gate sizing. */
  /** ONE definition of the q128/q130 decontamination screen: the
    * benchmark split predicate, shingle spelling, and bloom geometry.
    * q130 (the streaming-ingest form of the same screen) builds from
    * these too — retuning the screen retunes both gates together. */
  private[graft] object BloomScreen {
    /** benchmark split: md5("bench:"+doc_id) first-2-hex < "0d" ≈ 5%. */
    def withBenchSplit(d: DataFrame): DataFrame =
      d.withColumn("hx",
        substring(md5(concat(lit("bench:"), col("doc_id"))), 1, 2))
    val BenchMax = "0d"
    /** the screen's tokenization — ONE spelling consumed by the build
      * side (withShingles) and BOTH probe sites (q128 batch, q130
      * streaming), so a tokenizer retune can never desynchronize
      * build and probe. */
    def tokens(text: Column): Column = split(text, " ")
    /** shingle window width — sourced from the native probe loop's
      * constant so the SQL build spelling and graft_bloom_any always
      * agree. */
    val ShingleW: Int = graft.expr.BloomExpr.ShingleWidth
    /** ShingleW-token shingles over column `t` (empty below ShingleW
      * tokens); window arithmetic derived from ShingleW. */
    val ShingleExpr: String = {
      val parts = (0 until ShingleW)
        .map(o => s"element_at(t, i + $o)").mkString(", ")
      s"transform(sequence(1, size(t) - ${ShingleW - 1}), " +
        s"i -> concat_ws(' ', $parts))"
    }
    /** DuckDB spelling of the same shingle list over a
      * string_split column `t` — interpolated into the q128/q130/q138
      * oracles so a width retune can never desynchronize the gates
      * from the native probe loop. Continuation lines must not start
      * with `||` (outer stripMargin would eat the first pipe). */
    val ShingleSql: String = {
      val parts = (0 until ShingleW)
        .map(o => if (o == 0) "t[i]" else s"t[i + $o]")
        .mkString(" || ' ' || ")
      s"CASE WHEN len(t) >= $ShingleW THEN\n" +
        s"    list_transform(generate_series(1, len(t) - ${ShingleW - 1}),\n" +
        s"      i -> $parts)\n" +
        s"  ELSE [] END"
    }
    def withShingles(d: DataFrame): DataFrame =
      d.withColumn("t", tokens(col("text")))
        .withColumn("shs", when(size(col("t")) >= ShingleW, expr(ShingleExpr))
          .otherwise(expr("array()")))
    val NBits = 1L << 26
    val K = 5
    /** build the benchmark filter once and hold it in ONE broadcast
      * variable, made when the artifact is built: every probe reads it
      * through `probe`, so the plan carries the broadcast id, not the
      * 8 MiB blob. A crossJoin would copy the blob into every joined
      * UnsafeRow (measured 14.1 s vs 2.6 s at sf0.1 for the same
      * semantics, build job included), and a plan literal makes every
      * execution hash it and print it as a 16.8 M-character hex dump.
      * coalesce(8): each partial buffer is a full nbits/8-byte blob, so
      * partial-agg traffic is partitions × blob size — right-size the
      * build parallelism to the (small) benchmark side, not the
      * corpus. */
    def benchBlob(s: SparkSession, dir: String): Broadcast[Array[Byte]] =
      blob(s, dir, graft.Tables.fingerprint(s"$dir/documents.parquet")) {
        broadcastBlob(withShingles(withBenchSplit(documents(s, dir))
          .filter(col("hx") < BenchMax))
          .select(explode(col("shs")).as("sh")), "sh")
      }

    /** the bloom blob over the string column `key` of `keys`, built at
      * the screen's geometry and broadcast once. */
    def broadcastBlob(keys: DataFrame, key: String): Broadcast[Array[Byte]] = {
      val s = keys.sparkSession
      s.sparkContext.broadcast(keys.coalesce(8)
        .agg(graft.expr.GraftFunctions
          .bloomAgg(s, col(key), NBits, K).as("bloom"))
        .head().getAs[Array[Byte]](0))
    }

    /** the one probe of the screen: does any ShingleW-token shingle of
      * the token column `toks` hit the broadcast blob. */
    def probe(s: SparkSession, blob: Broadcast[Array[Byte]],
        toks: Column): Column =
      graft.expr.GraftFunctions.bloomAny(s,
        GraftColumn(graft.expr.BroadcastBinary(blob)), toks)

    /** the production shape: a decontamination filter is built once
      * per benchmark snapshot and reused by every screen that cites it
      * (q128's batch audit and q130's streaming ingest share one
      * build). Session-bound: the broadcast lives in the context that
      * made it. */
    private[graft] val blob =
      graft.Artifacts.sessionBound[Broadcast[Array[Byte]]]("bench_blob")
  }

  private def q128(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val blob = BloomScreen.benchBlob(s, dir)
    // native any-shingle probe: one primitive loop per doc over its
    // ShingleW-token windows (BloomSpec pins equivalence to the HOF
    // spelling exists(shs, sh -> graft_bloom_contains(blob, sh)))
    BloomScreen.withBenchSplit(documents(s, dir))
      .filter($"hx" >= BloomScreen.BenchMax)
      .withColumn("hit",
        BloomScreen.probe(s, blob, BloomScreen.tokens($"text")))
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when($"hit", 1L).otherwise(0L)).as("n_dropped"),
        sum(when(!$"hit", $"doc_id")).as("kept_checksum"))
      .orderBy($"source")
  }

  private lazy val q128Sql =
    s"""WITH d AS (
      | SELECT doc_id, source, string_split(text, ' ') AS t,
      |  substr(md5(concat('bench:', CAST(doc_id AS VARCHAR))), 1, 2) AS hx
      | FROM documents),
      |sh AS (
      | SELECT doc_id, source, hx,
      |  ${BloomScreen.ShingleSql} AS shs
      | FROM d),
      |bench_sh AS (
      | SELECT DISTINCT unnest(shs) AS sh FROM sh WHERE hx < '0d'),
      |corpus AS (SELECT doc_id, source, shs FROM sh WHERE hx >= '0d'),
      |hit AS (
      | SELECT DISTINCT c.doc_id
      | FROM (SELECT doc_id, unnest(shs) AS sh FROM corpus) c
      | JOIN bench_sh b ON c.sh = b.sh)
      |SELECT source, count(*) AS n_docs,
      | CAST(sum(CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END)
      |   AS BIGINT) AS n_dropped,
      | CAST(sum(CASE WHEN h.doc_id IS NULL THEN corpus.doc_id END)
      |   AS BIGINT) AS kept_checksum
      |FROM corpus LEFT JOIN hit h ON corpus.doc_id = h.doc_id
      |GROUP BY source ORDER BY source""".stripMargin

  /** q134: SUB-DOCUMENT SEGMENT DEDUP — the paragraph-level dedup step
    * of Dolma/RefinedWeb, in the boundary-less form of Lee et al. 2022
    * ("Deduplicating Training Data Makes Language Models Better"):
    * with no paragraph delimiters in the corpus, cut each doc's token
    * stream into consecutive fixed-size segments (K = 3 tokens at test
    * vocabulary; ~50 in production), hash each segment, and keep only
    * the FIRST occurrence of each distinct segment corpus-wide
    * (keep-first = lexicographic min(struct(doc_id, seg_idx)) — no
    * packed-integer key, so no bound on segments per doc). Reported
    * per source: how many segments/tokens survive, i.e. how much
    * boilerplate the step strips. All-integer output → exact oracle.
    * An empty-text doc contributes one ''-segment (split of '' is
    * [''], identically on both engines), deduped like any other.
    *
    * Scale: the corpus is tokenized/hashed ONCE — the segment stream
    * (digest + ints, no text) is materialized behind a localCheckpoint
    * barrier (one producer, two consumers; without it both the
    * survivor aggregate and the join probe re-scan and re-md5 the
    * parquet), then consumed twice: one md5-key groupBy with map-side
    * partial min (the survivor table is |distinct segments|, not
    * |occurrences|), one shuffle join back on the digest. A
    * boilerplate mega-segment (same 3-gram in 10^9 docs) makes a hot
    * hash key on the join side — AQE skew-split handles it, and the
    * groupBy side is immune (partial min). n_docs is an exact
    * countDistinct; at 100 TB swap approx_count_distinct(rsd) the way
    * q113/q121 document. */
  private def q134(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val K = 3
    val segs = documents(s, dir)
      .withColumn("t", toks($"text"))
      // _outer: dodge InferFiltersFromGenerate (see ngramAttribution);
      // sequence(0, ...) always yields >= 1 segment
      .select($"doc_id", $"source", posexplode_outer(expr(
        s"transform(sequence(0, (size(t) - 1) div $K), " +
          s"j -> named_struct('seg', concat_ws(' ', slice(t, j*$K + 1, $K)), " +
          s"'ntok', size(slice(t, j*$K + 1, $K))))")))
      .select($"doc_id", $"source", md5($"col.seg").as("h"),
        $"col.ntok".as("ntok"), $"pos".as("seg_idx"))
      .localCheckpoint()
    val firsts = segs.groupBy($"h")
      .agg(min(struct($"doc_id", $"seg_idx")).as("fo"))
    segs.join(firsts, Seq("h"))
      .withColumn("kept",
        $"doc_id" === $"fo.doc_id" && $"seg_idx" === $"fo.seg_idx")
      .groupBy($"source")
      .agg(
        countDistinct($"doc_id").as("n_docs"),
        count(lit(1)).as("segs_total"),
        sum(when($"kept", 1L).otherwise(0L)).as("segs_kept"),
        sum($"ntok").cast("long").as("tokens_total"),
        sum(when($"kept", $"ntok").otherwise(0)).cast("long")
          .as("tokens_kept"),
        sum(when($"kept", 0L).otherwise($"doc_id")).as("removed_checksum"))
      .orderBy($"source")
  }

  private val q134Sql =
    """WITH d AS (
      | SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
      |segsraw AS (
      | SELECT doc_id, source,
      |  unnest(list_transform(generate_series(0, CAST((len(t) - 1) // 3 AS INT)),
      |    j -> struct_pack(seg_idx := j,
      |      seg := array_to_string(t[j*3+1 : j*3+3], ' '),
      |      ntok := len(t[j*3+1 : j*3+3])))) AS sg
      | FROM d),
      |segs AS (
      | SELECT doc_id, source, md5(sg.seg) AS h, sg.ntok AS ntok,
      |  sg.seg_idx AS seg_idx
      | FROM segsraw),
      |firsts AS (
      | SELECT h, min(struct_pack(d := doc_id, i := seg_idx)) AS fo
      | FROM segs GROUP BY h)
      |SELECT source,
      | CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
      | CAST(count(*) AS BIGINT) AS segs_total,
      | CAST(sum(CASE WHEN doc_id = fo.d AND seg_idx = fo.i
      |   THEN 1 ELSE 0 END) AS BIGINT) AS segs_kept,
      | CAST(sum(ntok) AS BIGINT) AS tokens_total,
      | CAST(sum(CASE WHEN doc_id = fo.d AND seg_idx = fo.i
      |   THEN ntok ELSE 0 END) AS BIGINT) AS tokens_kept,
      | CAST(sum(CASE WHEN doc_id = fo.d AND seg_idx = fo.i
      |   THEN 0 ELSE doc_id END) AS BIGINT) AS removed_checksum
      |FROM segs JOIN firsts USING (h)
      |GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------
  // q189: EXACT N-GRAM CONTAMINATION ATTRIBUTION — the audit report
  // the q128/q130 bloom screen cannot produce: the screen answers
  // "is this doc contaminated?" (drop/keep, one-sided error); a
  // benchmark owner needs "WHICH benchmark doc leaked into WHICH
  // training doc, and how much" — the GPT-3 appendix-C style overlap
  // report. Same benchmark split as the screens (one 5% md5 family
  // across all decontamination gates), but ATTRIBUTION n-grams are
  // wider (W=8) than the screen's probe shingles: a screen wants
  // recall (short windows hit more), an attribution wants precision
  // (an 8-token exact match is evidence, a 3-token one is noise).
  // Per contaminated (train doc, bench doc) pair: distinct shared
  // n-grams, the train doc's distinct n-gram count, and the overlap
  // fraction in micro-units.
  //
  // Scale: n-gram sets are per-doc row-local (array_distinct before
  // the explode — dedup without a shuffle); the BENCH side is the
  // small one (benchmark suites are MBs) and broadcasts, so the
  // corpus never shuffles raw n-grams — the only exchange carries
  // matched (doc, bench) pairs, bounded by contamination volume, not
  // corpus size.
  private[graft] val AttrW = 8

  /** Spark n-gram list expr over a tokens column `t` (w-token windows
    * joined by single spaces); mirrors BloomScreen.ShingleExpr's
    * spelling at arbitrary width. */
  private[graft] def ngramExpr(w: Int): String = {
    val parts = (0 until w).map(o => s"element_at(t, i + $o)").mkString(", ")
    s"transform(sequence(1, size(t) - ${w - 1}), " +
      s"i -> concat_ws(' ', $parts))"
  }

  /** DuckDB spelling of the same list (single line — safe under any
    * caller's stripMargin). */
  private[graft] def ngramSql(w: Int): String = {
    val parts = (0 until w)
      .map(o => if (o == 0) "t[i]" else s"t[i + $o]")
      .mkString(" || ' ' || ")
    s"CASE WHEN len(t) >= $w THEN " +
      s"list_transform(generate_series(1, len(t) - ${w - 1}), " +
      s"i -> $parts) ELSE [] END"
  }

  /** the attribution join, factored over explicit corpus/bench frames
    * (both (doc_id, text)) so NgramAttributionSpec can plant a known
    * leak; q189 feeds it the md5 benchmark split. */
  private[graft] def ngramAttribution(corpus: DataFrame,
      bench: DataFrame, w: Int): DataFrame = {
    val s = corpus.sparkSession
    import s.implicits._
    // explode_OUTER everywhere a generator expression is expensive:
    // plain explode triggers InferFiltersFromGenerate, whose inferred
    // size(e)>0 filter gets pushed below the projection with the FULL
    // generator expression inlined — here that re-ran the whole
    // 8-gram construction (with split(text) re-evaluated inside every
    // element_at) once more per doc: measured 7.7 s -> 0.6 s at
    // sf0.1. The outer variant infers no filter; size(t) >= w makes
    // the array provably non-empty, so the results are identical.
    def grams(d: DataFrame) = d
      .withColumn("t", BloomScreen.tokens($"text"))
      .filter(size($"t") >= w)
      .withColumn("ngs", array_distinct(expr(ngramExpr(w))))
      .select($"doc_id", size($"ngs").cast("long").as("n_ngrams"),
        explode_outer($"ngs").as("ng"))
    val b = grams(bench).select($"doc_id".as("bench_id"), $"ng")
    grams(corpus).join(broadcast(b), "ng")
      .groupBy($"doc_id", $"bench_id", $"n_ngrams")
      .agg(count(lit(1)).as("n_shared"))
      .withColumn("frac6",
        floor($"n_shared" * lit(1e6) / $"n_ngrams" + 0.5).cast("long"))
      .select($"doc_id", $"bench_id", $"n_shared", $"n_ngrams", $"frac6")
      .orderBy($"n_shared".desc, $"doc_id", $"bench_id")
  }

  private def q189(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = BloomScreen.withBenchSplit(documents(s, dir))
    ngramAttribution(
      d.filter($"hx" >= BloomScreen.BenchMax).select($"doc_id", $"text"),
      d.filter($"hx" < BloomScreen.BenchMax).select($"doc_id", $"text"),
      AttrW)
  }

  private lazy val q189Sql =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS t,
       |        substr(md5('bench:' || CAST(doc_id AS VARCHAR)), 1, 2) AS hx
       |       FROM documents),
       |g AS (SELECT DISTINCT doc_id, hx, unnest(${ngramSql(AttrW)}) AS ng
       |      FROM d),
       |n AS (SELECT doc_id, count(*) AS n_ngrams FROM g GROUP BY doc_id)
       |SELECT c.doc_id, b.doc_id AS bench_id,
       | CAST(count(*) AS BIGINT) AS n_shared,
       | CAST(any_value(n.n_ngrams) AS BIGINT) AS n_ngrams,
       | CAST(floor(count(*) * 1000000.0 / any_value(n.n_ngrams) + 0.5)
       |   AS BIGINT) AS frac6
       |FROM g c JOIN g b USING (ng) JOIN n ON n.doc_id = c.doc_id
       |WHERE b.hx < '${BloomScreen.BenchMax}'
       | AND c.hx >= '${BloomScreen.BenchMax}'
       |GROUP BY c.doc_id, b.doc_id
       |ORDER BY n_shared DESC, c.doc_id, bench_id""".stripMargin

  val queries: Seq[Q] = Seq(
    Q("q189_ngram_attribution", q189, Some(q189Sql),
      "exact 8-gram contamination attribution: (train doc, bench doc, shared n-grams, overlap fraction) report behind the bloom screen"),
    Q("q134_segment_dedup", q134, Some(q134Sql),
      "sub-document segment dedup (Lee et al. keep-first, Dolma paragraph analogue)"),
    Q("q128_bloom_decontaminate", q128, Some(q128Sql),
      "bloom-filter corpus decontamination (native agg, zero corpus shuffle)"),
    Q("q119_fuzzy_editdist", q119, Some(q119Sql),
      "edit-distance fuzzy near-dup candidates (blocked prefix Levenshtein)"),
    Q("q117_curation_pipeline", q117, Some(q117Sql),
      "end-to-end curation: quality gate + exact-dup keep-first + per-lang cap + rollup"),
    Q("q47_contamination", q47, Some(q47Sql),
      "cross-source near-dup leakage matrix"),
    Q("q46_sketch_similarity", q46, Some(q46Sql),
      "bottom-k MinHash sketch source similarity (native agg)"),
    Q("q45_ngram_jaccard", q45, Some(q45Sql), "brute n-gram Jaccard pairs"),
    Q("q40_exact_dedup", q40, Some(q40Sql), "exact dedup via md5 groupBy"),
    Q("q41_minhash_sig", q41, Some(q41Sql), "MinHash signatures + LSH bands"),
    Q("q42_lsh_neardup", q42, Some(q42Sql), "MinHash-LSH pairs + Jaccard verify"),
    Q("q43_simhash", q43, Some(q43Sql), "SimHash 32-bit fingerprints"),
    Q("q44_dup_clusters", q44, Some(q44Sql),
      "connected-component dup clusters (label propagation)"),
    Q("q48_corpus_filter", q48, Some(q48Sql),
      "dedup APPLY: cleaned-corpus keep/drop rollup (exact + near-dup)"))
}
