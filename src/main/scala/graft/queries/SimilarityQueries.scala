package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._
import graft.ops.ArrayOps

/** Similarity search over the `embeddings` table (builder brief;
  * SURVEY.md §7 step 8 "similarity search"): brute-force cosine top-k
  * as the exact baseline, random-hyperplane LSH bucketing as the scale
  * path, and per-label centroid statistics.
  *
  * Scale notes (100 TB posture):
  *  - brute-force KNN broadcasts the (small) query set and streams the
  *    corpus once — cost O(|Q|·N·d) with no corpus shuffle; top-k is a
  *    per-partition heap (window rank over a bounded candidate set);
  *  - LSH restricts candidate generation to one bucket (expected
  *    N/2^P per bucket) — the join shuffles on the bucket key only;
  *  - centroids come from a posexplode + groupBy(label, dim) partial
  *    aggregation — d·L groups, never a collect.
  *
  * All arithmetic is double (embeddings cast up from float) so the
  * DuckDB oracle agrees to well below the rounding threshold.
  */
object SimilarityQueries {

  private val DIM = 64
  // 4 planes, not more: the corpus is near-orthogonal (top-3 cosine
  // ≈ 0.37 → ~68°, P(plane splits a true pair) ≈ 0.38), so E[Hamming
  // distance to a true neighbor] ≈ 0.38·P — at P = 8 that is ~3 and
  // even multi-probe-1 recall collapses to 0; at P = 4 it is ~1.5,
  // probing Hamming ≤ 1 recovers half the true top-k and Hamming ≤ 2
  // covers P(d ≤ 2) ≈ 0.84 (AnnRecallSpec pins the measured curve).
  // At scale, P trades bucket size against recall per probe count.
  private val PLANES = 4

  /** Deterministic pseudo-random hyperplanes in [-1, 1): weight(p, d) is
    * derived from md5("p:d") and rounded to 6 decimals so the SAME
    * literal appears in the Spark plan and the oracle SQL. */
  private[queries] lazy val planes: Seq[Seq[BigDecimal]] =
    (0 until PLANES).map { p =>
      (0 until DIM).map { d =>
        BigDecimal(graft.ops.HashKeys.unitUniform(s"$p:$d"))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      }
    }

  /** sign-bucket id: Σ_p [dot(v, plane_p) > 0] · 2^p (row-local,
    * native dot — bit-identical to the HOF fold). */
  private def bucketCol(s: SparkSession, v: Column): Column =
    planes.zipWithIndex.map { case (w, p) =>
      val wArr = array(w.map(x => lit(x.toDouble)): _*)
      when(graft.expr.GraftFunctions.dot(s, v, wArr) > 0, lit(1L << p))
        .otherwise(lit(0L))
    }.reduce(_ + _)

  /** same bucket id as a DuckDB expression over a DOUBLE[] column. */
  private def bucketSql(v: String): String =
    planes.zipWithIndex.map { case (w, p) =>
      val wLit = w.mkString("[", ", ", "]")
      s"(CASE WHEN list_sum(list_transform(list_zip($v, $wLit), " +
        s"z -> CAST(z[1] * z[2] AS DOUBLE))) > 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  // Fixed-SIZE deterministic query samples (md5-ranked ids), so the
  // exact baseline costs O(K·N) = O(N) — a query set defined by
  // `vec_id % k` grows ∝ N and made the brute scan O(N²/k) (measured
  // 38× at 10× data in the round-4 sf1 audit). The ANN sample is a
  // PREFIX of the brute sample (same hash order, shorter limit), so
  // q50 remains exact ground truth for every q51/q54 query.
  private val BRUTE_QK = 40
  private val ANN_QK = 16

  /** the `k` vec_ids with the smallest md5("q50:" ++ vec_id) — a
    * constant-size, engine-agnostic sample (TakeOrdered, no shuffle of
    * the corpus; the hash order matches the oracle's md5). */
  private[graft] def querySample(s: SparkSession, dir: String, k: Int): DataFrame = {
    import s.implicits._
    embeddings(s, dir).select($"vec_id")
      .withColumn("h", md5(concat(lit("q50:"), $"vec_id".cast("string"))))
      .orderBy($"h", $"vec_id").limit(k).select($"vec_id")
  }

  private def sampleSql(k: Int): String =
    "(SELECT vec_id FROM embeddings " +
      s"ORDER BY md5('q50:' || CAST(vec_id AS VARCHAR)), vec_id LIMIT $k)"

  /** q50: brute-force cosine top-5 over the BRUTE_QK-query sample;
    * ranking on the ROUNDED similarity with vec_id tie-break so both
    * engines order identically. */
  private def q50(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // norms are per-ROW, computed once per side before the pair join —
    // only the dot product runs per pair (3× fewer HOF evals than a
    // naive cosine-per-pair)
    val e = embeddings(s, dir)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .withColumn("vn", ArrayOps.l2Norm(s, $"v"))
    val q = e.join(querySample(s, dir, BRUTE_QK), "vec_id")
      .select($"vec_id".as("q_id"), $"v".as("qv"), $"vn".as("qn"))
    val w = Window.partitionBy($"q_id").orderBy($"sim".desc, $"vec_id")
    broadcast(q).join(e, $"vec_id" =!= $"q_id")
      .withColumn("sim", round(graft.expr.GraftFunctions.dot(s, $"qv", $"v") / ($"qn" * $"vn"), 5))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 5)
      .select($"q_id", $"rn", $"vec_id".as("neighbor_id"), $"sim")
      .orderBy($"q_id", $"rn")
  }

  private lazy val q50Sql =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |           FROM embeddings),
      |q AS (SELECT vec_id AS q_id, v AS qv FROM e
      |      WHERE vec_id IN ${sampleSql(BRUTE_QK)}),
      |p AS (SELECT q_id, vec_id,
      |       round(list_cosine_similarity(qv, v), 5) AS sim
      |      FROM q JOIN e ON vec_id <> q_id),
      |r AS (SELECT q_id, vec_id, sim,
      |       row_number() OVER (PARTITION BY q_id
      |                          ORDER BY sim DESC, vec_id) AS rn
      |      FROM p)
      |SELECT q_id, rn, vec_id AS neighbor_id, sim FROM r
      |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin

  /** XOR masks for every probe bucket within Hamming distance
    * `maxHamming` of the home bucket (home first, then single flips,
    * then double flips — the standard multi-probe LSH schedule). */
  private[graft] def probeMasks(maxHamming: Int): Seq[Long] = {
    val h0 = Seq(0L)
    val h1 = (0 until PLANES).map(p => 1L << p)
    val h2 = for {
      p <- 0 until PLANES; r <- p + 1 until PLANES
    } yield (1L << p) | (1L << r)
    (h0 ++ (if (maxHamming >= 1) h1 else Nil) ++
      (if (maxHamming >= 2) h2 else Nil)).toSeq
  }

  /** q51: MULTI-PROBE LSH ANN — random-hyperplane sign buckets; each
    * query (the ANN_QK-id md5 sample) searches every bucket within Hamming
    * distance 2 of its home bucket (flip ≤ 2 plane signs): on this
    * near-orthogonal corpus a true top-3 neighbor crosses each plane
    * with p ≈ 0.38, so its expected Hamming distance is ~1.5 and the
    * ≤2 schedule covers P(d ≤ 2) ≈ 0.84 of true neighbors — measured
    * recall@3 ≥ 0.8 with 11 of 16 buckets probed (AnnRecallSpec pins
    * the full recall-vs-candidates curve for Hamming 0/1/2 vs q50
    * brute). The candidate join stays keyed on the bucket, never
    * all-pairs; probes partition space, so no candidate dedup needed.
    * At 100-TB scale P grows with N (buckets ~N/2^P) and the probe
    * count stays C(P,0)+C(P,1)+C(P,2) — polynomial in P while the
    * per-probe bucket shrinks exponentially. */
  private val MAX_HAMMING = 2

  private def q51(s: SparkSession, dir: String): DataFrame =
    lshAnn(s, dir, MAX_HAMMING)

  /** parameterized LSH ANN (probe schedule = Hamming ≤ maxHamming) —
    * exposed so AnnRecallSpec can pin the recall-vs-candidates curve. */
  private[graft] def lshAnn(s: SparkSession, dir: String,
      maxHamming: Int): DataFrame = {
    import s.implicits._
    val e = embeddings(s, dir)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .withColumn("bucket", bucketCol(s, $"v"))
      .withColumn("vn", ArrayOps.l2Norm(s, $"v"))
    val q = e.join(querySample(s, dir, ANN_QK), "vec_id")
      .select($"vec_id".as("q_id"), $"v".as("qv"), $"bucket", $"vn".as("qn"))
      .withColumn("home", $"bucket")
      .withColumn("bucket", explode(array(
        probeMasks(maxHamming).map(m => $"home".bitwiseXOR(lit(m))): _*)))
    val w = Window.partitionBy($"q_id").orderBy($"sim".desc, $"vec_id")
    broadcast(q).join(e, Seq("bucket"))
      .filter($"vec_id" =!= $"q_id")
      .withColumn("sim", round(graft.expr.GraftFunctions.dot(s, $"qv", $"v") / ($"qn" * $"vn"), 5))
      .withColumn("n_cand", count(lit(1)).over(Window.partitionBy($"q_id")))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3)
      .select($"q_id", $"home".as("bucket"), $"n_cand", $"rn",
        $"vec_id".as("neighbor_id"), $"sim")
      .orderBy($"q_id", $"rn")
  }

  private lazy val q51Sql = {
    val probes = probeMasks(MAX_HAMMING)
      .map(m => if (m == 0L) "bucket" else s"xor(bucket, $m)")
      .mkString("[", ", ", "]")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |           FROM embeddings),
       |b AS (SELECT vec_id, v, ${bucketSql("v")} AS bucket FROM e),
       |q AS (SELECT vec_id AS q_id, v AS qv, bucket AS home,
       |       unnest($probes) AS bucket
       |      FROM b WHERE vec_id IN ${sampleSql(ANN_QK)}),
       |p AS (SELECT q_id, q.home, vec_id,
       |       round(list_cosine_similarity(qv, v), 5) AS sim
       |      FROM q JOIN b USING (bucket) WHERE vec_id <> q_id),
       |r AS (SELECT q_id, home, vec_id, sim,
       |       count(*) OVER (PARTITION BY q_id) AS n_cand,
       |       row_number() OVER (PARTITION BY q_id
       |                          ORDER BY sim DESC, vec_id) AS rn
       |      FROM p)
       |SELECT q_id, home AS bucket, n_cand, rn, vec_id AS neighbor_id, sim
       |FROM r WHERE rn <= 3 ORDER BY q_id, rn""".stripMargin
  }

  /** q52: per-label centroid statistics — centroid via posexplode +
    * groupBy(label, dim); norms row-local. */
  private def q52(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = embeddings(s, dir)
      .select($"label", $"embedding".cast("array<double>").as("v"))
    val norms = e.groupBy($"label")
      .agg(count(lit(1)).as("n"),
        round(avg(ArrayOps.l2Norm(s, $"v")), 5).as("avg_norm"))
    val cent = e.select($"label", posexplode($"v").as(Seq("dim", "x")))
      .groupBy($"label", $"dim").agg(avg($"x").as("c"))
      .groupBy($"label").agg(round(sqrt(sum($"c" * $"c")), 5).as("centroid_norm"))
    norms.join(cent, "label")
      .select($"label", $"n", $"avg_norm", $"centroid_norm")
      .orderBy($"label")
  }

  private val q52Sql =
    """WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v
      |           FROM embeddings),
      |norms AS (
      | SELECT label, count(*) AS n,
      |  round(avg(sqrt(list_sum(list_transform(v, x -> x * x)))), 5)
      |    AS avg_norm
      | FROM e GROUP BY label),
      |ex AS (SELECT label, unnest(v) AS x,
      |        unnest(generate_series(1, len(v))) AS dim FROM e),
      |cd AS (SELECT label, dim, avg(x) AS c FROM ex GROUP BY label, dim),
      |cn AS (SELECT label, round(sqrt(sum(c * c)), 5) AS centroid_norm
      |       FROM cd GROUP BY label)
      |SELECT label, n, avg_norm, centroid_norm
      |FROM norms JOIN cn USING (label) ORDER BY label""".stripMargin

  private val CELLS = 16

  /** deterministic IVF "codebook": CELLS centroids in [-1,1)^DIM derived
    * from md5 (same literal-sharing trick as the hyperplanes). A real
    * deployment trains these with KMeans (q65); literals keep the
    * assignment oracle-checkable. */
  private[queries] lazy val centroids: Seq[Seq[BigDecimal]] =
    (0 until CELLS).map { c =>
      (0 until DIM).map { d =>
        BigDecimal(graft.ops.HashKeys.unitUniform(s"c:$c:d:$d"))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      }
    }

  /** per-cell assignment scores v·c − |c|²/2 (argmax ≡ argmin euclidean
    * distance), as ONE array — a chained conditional fold would
    * duplicate each score subtree exponentially (2^CELLS expression
    * nodes) and hang Catalyst analysis. The dot runs through the native
    * graft_dot (bit-identical to the HOF fold). */
  private def cellScoresCol(s: SparkSession, v: Column): Column =
    array(centroids.map { c =>
      val cArr = array(c.map(x => lit(x.toDouble)): _*)
      val half = c.map(x => x.toDouble * x.toDouble).sum / 2.0
      graft.expr.GraftFunctions.dot(s, v, cArr) - half
    }: _*)

  /** nearest-centroid cell id (first max wins via array_position). */
  private[queries] def cellCol(s: SparkSession, v: Column): Column = {
    val scores = cellScoresCol(s, v)
    (array_position(scores, array_max(scores)) - 1).cast("int")
  }

  private def cellScoresSql(v: String): String =
    centroids.map { c =>
      val cLit = c.mkString("[", ", ", "]")
      val half = c.map(x => x.toDouble * x.toDouble).sum / 2.0
      s"(list_sum(list_transform(list_zip($v, $cLit), " +
        s"z -> CAST(z[1] * z[2] AS DOUBLE))) - ($half))"
    }.mkString("[", ",\n   ", "]")

  private[queries] def cellSql(v: String): String = {
    val scores = cellScoresSql(v)
    s"(CAST(list_position($scores, list_max($scores)) AS INT) - 1)"
  }

  /** q54: IVF-cell ANN with nprobe = 4 — nearest-centroid assignment
    * partitions the corpus into CELLS inverted lists; each query
    * searches its 4 nearest cells by quantizer score (the standard IVF
    * recall lever: a query near a cell boundary finds neighbors that
    * were quantized to runner-up cells). nprobe = 2 measured recall@3
    * at 0.58 on this corpus; nprobe = 4 clears 0.8 while scanning
    * 4/16 of the inverted lists — AnnRecallSpec pins the full
    * recall-vs-candidates curve for nprobe ∈ {1, 2, 4} vs q50 brute.
    * The quantizer-as-blocking scale path, complementing q51's
    * multi-probe LSH; at 100 TB, CELLS grows ~√N (the IVF rule) and
    * nprobe stays a small constant fraction of CELLS. */
  private val NPROBE = 4

  private def q54(s: SparkSession, dir: String): DataFrame =
    ivfAnn(s, dir, NPROBE)

  /** append columns c2..c{nprobe} to a frame carrying (c1, s1) — the
    * shared argmax-masking probe-cell chain (each step masks the
    * previous argmax to −∞ and re-argmaxes). Used by q54's ivfAnn and
    * the IVFADC chain's probe (ivfProbe). */
  private def maskChain(q0: DataFrame, nprobe: Int): DataFrame = {
    var q = q0
    for (r <- 2 to nprobe) {
      q = q.withColumn(s"s$r", transform(col(s"s${r - 1}"), (x, i) =>
          when(i === col(s"c${r - 1}"), lit(Double.NegativeInfinity))
            .otherwise(x)))
        .withColumn(s"c$r",
          (array_position(col(s"s$r"), array_max(col(s"s$r"))) - 1)
            .cast("int"))
    }
    q
  }

  /** the same chain as oracle CTE text (one CTE per additional
    * probe), shared by q54Sql ("q" prefix) and q118Sql ("p"). */
  private def maskChainSql(prefix: String, nprobe: Int): String =
    (2 to nprobe).map { r =>
      val keep = (1 until r).map(i => s"c$i").mkString(", ")
      s"""$prefix$r AS (SELECT q_id, qv, $keep, sm AS s$r,
         |        CAST(list_position(sm, list_max(sm)) AS INT) - 1 AS c$r
         |       FROM (SELECT *, list_transform(
         |          list_zip(s${r - 1}, generate_series(1, len(s${r - 1}))),
         |          z -> CASE WHEN z[2] = c${r - 1} + 1
         |               THEN CAST('-infinity' AS DOUBLE)
         |               ELSE CAST(z[1] AS DOUBLE) END) AS sm
         |         FROM $prefix${r - 1}))""".stripMargin
    }.mkString(",\n")

  /** parameterized IVF ANN — the nprobe nearest cells are found by
    * iteratively masking the argmax cell to −∞ (nprobe − 1 maskings;
    * an array-scores fold, never an exponential conditional chain).
    * Exposed so AnnRecallSpec can pin the recall-vs-candidates curve. */
  private[graft] def ivfAnn(s: SparkSession, dir: String,
      nprobe: Int): DataFrame = {
    import s.implicits._
    val e = embeddings(s, dir)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .withColumn("cell", cellCol(s, $"v"))
      .withColumn("vn", ArrayOps.l2Norm(s, $"v"))
    val q = maskChain(
      e.join(querySample(s, dir, ANN_QK), "vec_id")
        .select($"vec_id".as("q_id"), $"v".as("qv"), $"cell".as("c1"),
          $"vn".as("qn"))
        .withColumn("s1", cellScoresCol(s, $"qv")),
      nprobe)
    val probed = q.withColumn("home", $"c1")
      .withColumn("cell",
        explode(array((1 to nprobe).map(r => col(s"c$r")): _*)))
      .select($"q_id", $"qv", $"qn", $"home", $"cell")
    val w = Window.partitionBy($"q_id").orderBy($"sim".desc, $"vec_id")
    broadcast(probed).join(e, Seq("cell"))
      .filter($"vec_id" =!= $"q_id")
      .withColumn("sim",
        round(graft.expr.GraftFunctions.dot(s, $"qv", $"v") / ($"qn" * $"vn"), 5))
      .withColumn("n_cand", count(lit(1)).over(Window.partitionBy($"q_id")))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3)
      .select($"q_id", $"home".as("cell"), $"n_cand", $"rn",
        $"vec_id".as("neighbor_id"), $"sim")
      .orderBy($"q_id", $"rn")
  }

  private lazy val q54Sql = {
    val chain = maskChainSql("q", NPROBE)
    val cells = (1 to NPROBE).map(r => s"c$r").mkString("[", ", ", "]")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |           FROM embeddings),
       |b AS (SELECT vec_id, v, ${cellSql("v")} AS cell FROM e),
       |q1 AS (SELECT vec_id AS q_id, v AS qv, cell AS c1,
       |        ${cellScoresSql("v")} AS s1
       |       FROM b WHERE vec_id IN ${sampleSql(ANN_QK)}),
       |$chain,
       |q AS (SELECT q_id, qv, c1 AS home, unnest($cells) AS cell
       |      FROM q$NPROBE),
       |p AS (SELECT q_id, q.home, vec_id,
       |       round(list_cosine_similarity(qv, v), 5) AS sim
       |      FROM q JOIN b USING (cell) WHERE vec_id <> q_id),
       |r AS (SELECT q_id, home, vec_id, sim,
       |       count(*) OVER (PARTITION BY q_id) AS n_cand,
       |       row_number() OVER (PARTITION BY q_id
       |                          ORDER BY sim DESC, vec_id) AS rn
       |      FROM p)
       |SELECT q_id, home AS cell, n_cand, rn, vec_id AS neighbor_id, sim
       |FROM r WHERE rn <= 3 ORDER BY q_id, rn""".stripMargin
  }

  /** q53: embedding-cosine near-dup candidates (dedup variant of the
    * builder brief) — pair generation keyed on (label, LSH bucket): the
    * q51 sign-bucket joins the raw label as a blocking key, so the
    * quadratic term is bounded by the BUCKET size (~n_label/2^P), not
    * the label size. A true near-duplicate (cos → 1, angle → 0) is
    * split by a random hyperplane with probability θ/π → 0, so
    * bucket-blocking keeps near-dup recall while a skewed label no
    * longer degenerates to all-pairs (SkewSpec pins the pair-count
    * bound; EdgeCaseSpec pins that perturbed near-dup copies stay
    * co-bucketed). The exact label-block form survives as
    * `q53ExactBaseline` for the spec-level recall comparison. */
  private def q53(s: SparkSession, dir: String): DataFrame =
    q53Blocked(s, embeddings(s, dir))

  /** bucket-blocked candidate pairs (pre-ranking) over any
    * (label, vec_id, embedding) frame — factored out so SkewSpec can
    * count candidates on a skewed synthetic corpus. */
  private[graft] def q53Pairs(s: SparkSession, emb: DataFrame): DataFrame = {
    import s.implicits._
    val e = emb
      .select($"label", $"vec_id", $"embedding".cast("array<double>").as("v"))
      .withColumn("bucket", bucketCol(s, $"v"))
      .withColumn("vn", ArrayOps.l2Norm(s, $"v"))
    val a = e.select($"label", $"bucket", $"vec_id".as("id_a"),
      $"v".as("va"), $"vn".as("na"))
    val b = e.select($"label", $"bucket", $"vec_id".as("id_b"),
      $"v".as("vb"), $"vn".as("nb"))
    a.join(b, Seq("label", "bucket")).filter($"id_a" < $"id_b")
      .withColumn("cos", round(graft.expr.GraftFunctions.dot(s, $"va", $"vb") / ($"na" * $"nb"), 5))
      .select($"label", $"id_a", $"id_b", $"cos")
  }

  private[graft] def q53Blocked(s: SparkSession, emb: DataFrame): DataFrame = {
    import s.implicits._
    q53Pairs(s, emb)
      .orderBy($"cos".desc, $"id_a", $"id_b")
      .limit(20)
  }

  /** the exact all-pairs-within-label baseline (pre-round-4 q53),
    * kept as the recall yardstick for the bucket-blocked plan. */
  private[graft] def q53ExactBaseline(s: SparkSession, emb: DataFrame): DataFrame = {
    import s.implicits._
    val e = emb
      .select($"label", $"vec_id", $"embedding".cast("array<double>").as("v"))
      .withColumn("vn", ArrayOps.l2Norm(s, $"v"))
    val a = e.select($"label", $"vec_id".as("id_a"), $"v".as("va"),
      $"vn".as("na"))
    val b = e.select($"label", $"vec_id".as("id_b"), $"v".as("vb"),
      $"vn".as("nb"))
    a.join(b, "label").filter($"id_a" < $"id_b")
      .withColumn("cos", round(graft.expr.GraftFunctions.dot(s, $"va", $"vb") / ($"na" * $"nb"), 5))
      .select($"label", $"id_a", $"id_b", $"cos")
  }

  private lazy val q53Sql =
    s"""WITH e AS (SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS v
       |           FROM embeddings),
       |bk AS (SELECT label, vec_id, v, ${bucketSql("v")} AS bucket FROM e)
       |SELECT a.label, a.vec_id AS id_a, c.vec_id AS id_b,
       | round(list_cosine_similarity(a.v, c.v), 5) AS cos
       |FROM bk a JOIN bk c ON a.label = c.label AND a.bucket = c.bucket
       | AND a.vec_id < c.vec_id
       |ORDER BY cos DESC, id_a, id_b LIMIT 20""".stripMargin

  // ---- q114: product quantization (PQ) ANN ------------------------------
  // The third ANN family next to q51 (LSH) and q54 (IVF): compress each
  // vector to PQ_M sub-space codewords, score queries against the CODES
  // via asymmetric distance (ADC), then exact-re-rank only the ADC
  // shortlist — the IVFADC/DiskANN production pipeline shape. Per-pair
  // work in the full scan drops from d mults to PQ_M table lookups, and
  // at 100 TB the materialized code table is PQ_M bytes/vector instead
  // of d floats (16× here — the memory story that makes billion-scale
  // ANN fit a cluster); the raw vectors are touched only for the
  // PQ_R-candidate shortlist. ADC-only top-5 measured recall 0.075 on
  // this near-orthogonal corpus (signal cos ≈ 0.37 drowns in sampled-
  // codebook quantization noise) — the shortlist+re-rank form is what
  // actually works: median true-neighbor ADC rank 18.5/499 at M = 16,
  // shortlist-100 recall 0.89 (PqRecallSpec pins the curve).
  private val PQ_M = 16 // sub-spaces
  private val PQ_SUB = DIM / PQ_M // dims per sub-space
  private val PQ_K = 16 // codewords per sub-space
  private val PQ_R = 100 // ADC shortlist size fed to exact re-ranking

  /** squared L2 distance between two equal-length double arrays. */
  private def dist2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), _ + _)

  /** explode a vector column into (m, sub-vector) structs, one per
    * PQ sub-space. */
  private def subspaces(v: Column): Column =
    explode(array((0 until PQ_M).map(m =>
      struct(lit(m).as("m"), slice(v, m * PQ_SUB + 1, PQ_SUB).as("sv"))): _*))

  /** L2-normalized corpus: PQ quantizes UNIT vectors so squared
    * euclidean ordering ≡ cosine ordering (dist² = 2 − 2·cos) and the
    * recall contract against q50's cosine brute force is metric-exact.
    * The norm runs through the native graft_dot (bit-identical to the
    * HOF fold, same sequential order) and the normalize is preceded by
    * a rebalance of the one-file local scan — profiled at 0.87 s warm
    * as a single-task interpreted fold, and q114 consumes this frame
    * five times (encode, codebook, LUT, query vectors, re-rank). */
  private[graft] def unitVecs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    embeddings(s, dir)
      .repartition(s.sparkContext.defaultParallelism)
      .select($"vec_id", $"embedding".cast("array<double>").as("v0"))
      .withColumn("nrm",
        ArrayOps.l2Norm(s, $"v0"))
      .select($"vec_id", transform($"v0", x => x / $"nrm").as("v"))
  }

  /** PQ codebook sampled FROM the corpus (real PQ trains sub-space
    * KMeans on a sample; a deterministic md5-ranked sample keeps the
    * oracle exact while staying data-distributed): codeword (m, j) =
    * sub-vector m of the j-th sample unit vector, j ordered by the
    * sample hash. PQ_M·PQ_K (= 256) rows total — broadcast everywhere
    * it joins. */
  private def pqCodebook(s: SparkSession, dir: String): DataFrame =
    pqCodebookOfPool(unitVecs(s, dir))

  /** the same sampled codebook over an explicit training POOL of unit
    * vectors — q217's quantizer-aging gate trains one codebook on the
    * pre-churn pool and one on the churned corpus; everything else
    * (seed salt, rank order, sub-space split) is this ONE spelling. */
  /** the PQ_K md5-ranked codebook sample ids of a training pool —
    * ONE spelling for the codebook build and q217's train6
    * provenance stamp (a second spelling could silently stamp a
    * different codebook than the one trained). */
  private def cbSampleIds(pool: DataFrame): DataFrame = {
    val s = pool.sparkSession
    import s.implicits._
    pool.select($"vec_id")
      .withColumn("h", md5(concat(lit("q114cb:"), $"vec_id".cast("string"))))
      .orderBy($"h", $"vec_id").limit(PQ_K)
  }

  private[graft] def pqCodebookOfPool(pool: DataFrame): DataFrame = {
    val s = pool.sparkSession
    import s.implicits._
    val ids = cbSampleIds(pool)
    // global window is fine: the frame is PQ_K rows post-limit
    pool.join(ids.select($"vec_id"), "vec_id")
      .withColumn("h", md5(concat(lit("q114cb:"), $"vec_id".cast("string"))))
      .withColumn("j", row_number().over(Window.orderBy($"h", $"vec_id")) - 1)
      .select($"j", subspaces($"v").as("x"))
      .select($"j", $"x.m".as("m"), $"x.sv".as("cw"))
  }

  /** q114: PQ-ADC shortlist + exact re-rank, top-5 over the shared
    * ANN_QK query sample. Encode: per (vector, sub-space) argmin
    * codeword by squared L2 (rounded to 9 dp with codeword-id tie-break
    * so both engines pick identically). Score: per-query lookup table
    * LUT(m, j) = dist²(query sub-vector, codeword), approx dist²(q, v)
    * = Σ_m LUT(m, code_m(v)); keep the PQ_R best per query; re-rank
    * that shortlist with the exact unit-vector dot. Every join
    * broadcasts the tiny side (codebook PQ_M·PQ_K rows, LUT
    * QK·PQ_M·PQ_K rows, shortlist QK·PQ_R rows); the corpus is touched
    * by one encode pass + one code-table pass — O(N·(K + QK)·M),
    * linear in N. PqRecallSpec pins recall vs q50. */
  /** cb[m][j] nested into ONE broadcast row so encode and ADC are
    * row-local HOFs over the corpus — the first cut exploded each
    * vector into N·M·K joined rows through a shuffle + struct-min
    * groupBy and measured 11.7 s at sf0.1; this shape removes every
    * corpus shuffle before the shortlist window (codes really are
    * "M table lookups per pair", the PQ contract). */
  private[queries] def pqCodebookNested(s: SparkSession, dir: String): DataFrame =
    nestCodebook(pqCodebook(s, dir))

  /** nest a flat (j, m, cw) codebook into the ONE broadcast cb[m][j]
    * row the native encode/ADC expressions consume. */
  private[graft] def nestCodebook(flat: DataFrame): DataFrame = {
    val s = flat.sparkSession
    import s.implicits._
    flat
      .groupBy($"m")
      .agg(sort_array(collect_list(struct($"j", $"cw"))).as("js"))
      .select($"m", transform($"js", x => x("cw")).as("cws"))
      .groupBy()
      .agg(sort_array(collect_list(struct($"m", $"cws"))).as("ms"))
      .select(transform($"ms", x => x("cws")).as("cb"))
  }

  /** (vec_id, codes) PQ code table via the native graft_pq_encode
    * expression (one primitive loop per row). The corpus parquet is one
    * tiny file locally → one scan partition, which would single-task
    * the encode (256 distance evals per row); a narrow rebalance
    * shuffle of compact (id, vector) rows is linear and trivially cheap
    * next to the per-row encode arithmetic it parallelizes, and on a
    * real multi-file corpus the scan already fans out. Plan-shape
    * history at sf0.1: N·M·K exploded join + struct-min groupBy 11.7 s
    * → row-local interpreted HOF argmin 6.5–10.4 s (an expansion-form
    * |sv|²+|cw|²−2·graft_dot variant was SLOWER still, 9.6 s, because
    * lambda-inlined subtrees re-evaluate the norm dots per codeword) →
    * native expression ~1 s. PqRecallSpec pins the native path
    * bit-equal to the HOF spelling below. */
  private[graft] def pqEncode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    unitVecs(s, dir)
      .crossJoin(broadcast(pqCodebookNested(s, dir)))
      .withColumn("codes",
        graft.expr.GraftFunctions.pqEncode(s, $"v", $"cb"))
      .select($"vec_id", $"codes")
  }

  /** the interpreted-HOF spelling of the encode — kept as the
    * equivalence yardstick for the native expression (PqRecallSpec). */
  private[graft] def pqEncodeHof(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    unitVecs(s, dir)
      .crossJoin(broadcast(pqCodebookNested(s, dir)))
      .withColumn("codes",
        transform(sequence(lit(0), lit(PQ_M - 1)), m => {
          val sv = slice($"v", m * PQ_SUB + lit(1), lit(PQ_SUB))
          val ds = transform(element_at($"cb", m + 1),
            cw => round(dist2(sv, cw), 9))
          (array_position(ds, array_min(ds)) - 1).cast("int")
        }))
      .select($"vec_id", $"codes")
  }

  private type Rows =
    (Array[org.apache.spark.sql.Row], org.apache.spark.sql.types.StructType)
  private val codebook = graft.Artifacts[Rows]("codebook")
  private val churnedCodebook = graft.Artifacts[Rows]("churned_codebook")

  /** the trained flat codebook (256 (j, m, cw) rows) collected ONCE
    * per corpus snapshot and re-entered as a local relation: the LUT
    * build otherwise re-samples it from the corpus on every warm
    * serve (one corpus normalize scan + a rank window per q118/q172/
    * q181/q196/q203 call — pure re-derivation of a frozen trained
    * state). Values identical by construction: the same pqCodebook
    * plan, collected. */
  private[graft] def pqCodebookLocal(s: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/embeddings.parquet"
    val (rows, sch) = codebook(s, path, graft.Tables.fingerprint(path)) {
      val df = pqCodebook(s, dir)
      (df.collect(), df.schema)
    }
    s.createDataFrame(java.util.Arrays.asList(rows: _*), sch)
  }

  /** the per-query nested ADC lookup table lut[m][j] = dist²(query
    * sub-vector m, codeword j) over (q_id, qv) query vectors and a flat
    * codebook — QK·M·K values, broadcast everywhere; the ONE
    * nesting/rounding spelling, for the frozen codebook and q217's
    * per-variant ones. */
  private[graft] def pqLutOfQv(qv: DataFrame, cbFlat: DataFrame): DataFrame = {
    val s = qv.sparkSession
    import s.implicits._
    qv
      .select($"q_id", subspaces($"qv").as("x"))
      .select($"q_id", $"x.m".as("m"), $"x.sv".as("qsv"))
      .join(broadcast(cbFlat), "m")
      .select($"q_id", $"m", $"j", dist2($"qsv", $"cw").as("qd"))
      .groupBy($"q_id", $"m")
      .agg(sort_array(collect_list(struct($"j", $"qd"))).as("js"))
      .select($"q_id", $"m", transform($"js", x => x("qd")).as("qds"))
      .groupBy($"q_id")
      .agg(sort_array(collect_list(struct($"m", $"qds"))).as("ms"))
      .select($"q_id", transform($"ms", x => x("qds")).as("lut"))
  }

  /** q114: the code-table scan — every code ADC-scored against the
    * query's LUT (no IVF routing), the PQ_R best per query re-ranked
    * exactly. */
  private def q114(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = unitVecs(s, dir)
    val qv = e.join(querySample(s, dir, ANN_QK), "vec_id")
      .select($"vec_id".as("q_id"), $"v".as("qv"))
    val short = pqEncode(s, dir)
      .crossJoin(broadcast(pqLutOfQv(qv, pqCodebook(s, dir))))
      .filter($"vec_id" =!= $"q_id")
      .withColumn("adist2",
        round(graft.expr.GraftFunctions.pqAdc(s, $"codes", $"lut"), 9))
      .withColumn("ar", row_number().over(
        Window.partitionBy($"q_id").orderBy($"adist2", $"vec_id")))
      .filter($"ar" <= PQ_R)
      .select($"q_id", $"vec_id")
    exactRerank(short, e, qv, 5)
      .select($"q_id", $"rv".as("rn"), $"vec_id".as("neighbor_id"), $"sim")
      .orderBy($"q_id", $"rn")
  }

  /** shared oracle CTE text (no leading WITH): unit vectors, PQ
    * codebook, code table, per-query ADC LUT — composed by q114Sql,
    * q118Sql AND q172Sql so the codebook sample seed, rounding, and
    * argmin tie-break live in exactly one place. Parameterized by the
    * query-sample subquery (q114/q118 pass the ANN sample, q172 the
    * retrieval sample). */
  private[queries] def pqPreambleSqlFor(sample: String): String =
    s"""e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v0
       |           FROM embeddings),
       |en AS (SELECT vec_id, v0,
       |        sqrt(list_sum(list_transform(v0, x -> x * x))) AS nrm
       |       FROM e0),
       |e AS (SELECT vec_id, list_transform(v0, x -> x / nrm) AS v
       |      FROM en),
       |cbi AS (SELECT vec_id,
       |         md5('q114cb:' || CAST(vec_id AS VARCHAR)) AS h
       |        FROM embeddings ORDER BY h, vec_id LIMIT $PQ_K),
       |cbv AS (SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS j, v
       |        FROM cbi JOIN e USING (vec_id)),
       |ms AS (SELECT unnest(generate_series(0, ${PQ_M - 1})) AS m),
       |cb AS (SELECT j, m, v[m*$PQ_SUB+1 : m*$PQ_SUB+$PQ_SUB] AS cw
       |       FROM cbv, ms),
       |sv AS (SELECT vec_id, m, v[m*$PQ_SUB+1 : m*$PQ_SUB+$PQ_SUB] AS sv
       |       FROM e, ms),
       |cd AS (SELECT vec_id, m, j,
       |        round(list_sum(list_transform(list_zip(sv, cw),
       |          z -> CAST((z[1]-z[2])*(z[1]-z[2]) AS DOUBLE))), 9) AS d
       |       FROM sv JOIN cb USING (m)),
       |codes AS (SELECT vec_id, m, j FROM
       |          (SELECT vec_id, m, j, row_number() OVER
       |            (PARTITION BY vec_id, m ORDER BY d, j) AS rn FROM cd)
       |          WHERE rn = 1),
       |qs AS (SELECT vec_id AS q_id, m,
       |        v[m*$PQ_SUB+1 : m*$PQ_SUB+$PQ_SUB] AS qsv
       |       FROM e, ms WHERE vec_id IN $sample),
       |lut AS (SELECT q_id, m, j,
       |         list_sum(list_transform(list_zip(qsv, cw),
       |           z -> CAST((z[1]-z[2])*(z[1]-z[2]) AS DOUBLE))) AS qd
       |        FROM qs JOIN cb USING (m))""".stripMargin

  private lazy val pqPreambleSql: String = pqPreambleSqlFor(sampleSql(ANN_QK))

  /** the ANN-sample preamble, exposed for q183's oracle (the
    * streaming index gate recomputes the batch index from it; the
    * qs/lut CTEs it carries are unreferenced there and DuckDB only
    * evaluates referenced CTEs). */
  private[queries] lazy val pqPreambleSqlForAnnSample: String = pqPreambleSql

  private lazy val q114Sql =
    s"""WITH $pqPreambleSql,
       |ad AS (SELECT q_id, c.vec_id, round(sum(qd), 9) AS adist2
       |       FROM codes c JOIN lut l ON c.m = l.m AND c.j = l.j
       |       GROUP BY q_id, c.vec_id),
       |sl AS (SELECT q_id, vec_id FROM
       |        (SELECT q_id, vec_id, row_number() OVER
       |          (PARTITION BY q_id ORDER BY adist2, vec_id) AS ar
       |         FROM ad WHERE vec_id <> q_id)
       |       WHERE ar <= $PQ_R),
       |qv AS (SELECT vec_id AS q_id, v AS qv FROM e
       |       WHERE vec_id IN ${sampleSql(ANN_QK)}),
       |rr AS (SELECT sl.q_id, sl.vec_id,
       |        round(list_sum(list_transform(list_zip(qv, v),
       |          z -> CAST(z[1] * z[2] AS DOUBLE))), 5) AS sim
       |       FROM sl JOIN e USING (vec_id) JOIN qv ON sl.q_id = qv.q_id),
       |r AS (SELECT q_id, vec_id, sim,
       |       row_number() OVER (PARTITION BY q_id
       |                          ORDER BY sim DESC, vec_id) AS rn
       |      FROM rr)
       |SELECT q_id, rn, vec_id AS neighbor_id, sim FROM r
       |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin

  // ---- q118: IVFADC — IVF routing × PQ codes, the composed
  // billion-scale ANN architecture -----------------------------------
  // nprobe=4/R=50 measured combined recall@5 = 0.66 (cell-miss and
  // shortlist truncation compound across the two approximations);
  // 6/100 measures 0.86 (PqRecallSpec pins the floor at 0.8). Of the
  // 16 cells only 9 hold vectors at sf0.01 and sf0.1, so one query's
  // 6 probed lists cover about 6 of those 9, not 6/16 of the corpus
  private val IVFPQ_NPROBE = 6
  private[graft] val IVFPQ_R = 100

  /** the persistable IVFADC index: one corpus pass assigning each
    * vector its coarse cell + PQ codes. AnnIndexSpec writes this
    * partitionBy("cell") and proves with real scan metrics that a
    * probe reads ONLY the probed partitions — the amortized
    * index-build story PERF.md's q172 note claims. */
  private[graft] def ivfadcIndex(s: SparkSession, dir: String): DataFrame =
    ivfEncOf(unitVecs(s, dir), pqCodebook(s, dir))

  /** (vec_id, cell, codes) encode of a unit corpus under a flat
    * codebook — ONE spelling for the frozen index, q217's variants and
    * q219's retrained v2 index artifact. */
  private[graft] def ivfEncOf(u: DataFrame, cbFlat: DataFrame): DataFrame = {
    val s = u.sparkSession
    import s.implicits._
    u.crossJoin(broadcast(nestCodebook(cbFlat)))
      .withColumn("codes",
        graft.expr.GraftFunctions.pqEncode(s, $"v", $"cb"))
      .withColumn("cell", cellCol(s, $"v"))
      .select($"vec_id", $"cell", $"codes")
  }

  // ---- the IVFADC chain ---------------------------------------------
  // The one spelling of the algorithm q118, q172, q181, q196, q203,
  // q212-q214, q217 and q219 run (the production composition of q54's
  // coarse quantizer and q114's PQ codes): probe each query's nprobe
  // nearest cells, ADC-score ONLY the codes in those cells (≈
  // nprobe/CELLS of the corpus, vs q114's full code-table scan)
  // against the per-query LUT, keep the R best, re-rank those by exact
  // cosine. At 100 TB this is the memory+compute story billion-scale
  // ANN ships: inverted lists partition the code table, codes are
  // PQ_M bytes/vector, raw vectors are touched only for the shortlist.
  // Cells and codes are both assigned on UNIT vectors, so the chain
  // shares one metric space with q50's cosine ground truth.
  //
  // Each step is one function below; the caller picks the candidate
  // codes (AdcCodes), the codebook, the nprobe (or a sweep's max), R
  // and the re-rank depth. Scoring tags each candidate with the probe
  // rank (crank) that admitted its cell, and the shortlist reads the
  // crank ≤ np prefix: a sweep scores once at max(np) and reads every
  // setting off that pass (Σ np → max np of the cell-volume scan + ADC
  // work), and a one-shot serve is the same read with np = max. The
  // prefix is exactly the rows a from-scratch np run scores (the mask
  // chain's cells are distinct per query and a vector lives in one
  // cell; IvfadcSpec pins it row for row).

  /** where the chain's candidate codes (vec_id, cell, codes) come from. */
  private[graft] sealed trait AdcCodes

  /** codes in hand: an inline, checkpointed or per-variant encode. */
  private[graft] final case class Encoded(enc: DataFrame) extends AdcCodes

  /** the persisted cell-partitioned index at `path`, read only in the
    * probed cells, minus the vec_ids in `tomb`. The probe is collected
    * (one job, ≤ |Q|·nprobe rows) and its distinct cells enter the
    * reader as literals — static partition pruning, so unprobed cells
    * are never listed or read; the tombstone anti-join sits above the
    * pruned scan. */
  private[graft] final case class Indexed(path: String,
      tomb: Option[DataFrame] = None) extends AdcCodes

  /** (q_id, qv) vectors of the query ids `qs` (one column q_id) over a
    * (vec_id, v) corpus, COLLECTED once (bounded by the query sample)
    * and re-entered as a local relation: the probe, the LUT and the
    * exact re-rank each broadcast qv, and as a plain subplan every use
    * re-executed the corpus normalize pass. */
  private[graft] def queryVecs(corpus: DataFrame, qs: DataFrame): DataFrame =
    localized(corpus.join(qs, corpus("vec_id") === qs("q_id"))
      .select(col("q_id"), col("v").as("qv")))._2

  /** probe: (q_id, crank, cell) — each query vector's maxNp nearest
    * cells by maskChain, crank the probe rank that admitted the
    * cell. */
  private[graft] def ivfProbe(qv: DataFrame, maxNp: Int): DataFrame = {
    val s = qv.sparkSession
    import s.implicits._
    maskChain(qv.withColumn("c1", cellCol(s, $"qv"))
        .withColumn("s1", cellScoresCol(s, $"qv")), maxNp)
      .select($"q_id",
        posexplode(array((1 to maxNp).map(i => col(s"c$i")): _*)))
      .select($"q_id", ($"pos" + 1).as("crank"), $"col".as("cell"))
  }

  /** ADC scoring: (q_id, crank, vec_id, adist2) for every candidate
    * code in a probed cell, under the flat codebook `cbFlat`. The
    * probed cells and the per-query LUT are both query-count-bounded
    * frames keyed by q_id — pre-joined they ride ONE BroadcastExchange
    * and the code-sized stream passes ONE BroadcastHashJoin instead of
    * two (guide §3.1; (q_id, cell) stays distinct, the LUT is one row
    * per q_id). */
  private[graft] def adcScored(probed: DataFrame, qv: DataFrame,
      cbFlat: DataFrame, codes: AdcCodes): DataFrame = {
    val s = qv.sparkSession
    import s.implicits._
    val (probedB, enc) = codes match {
      case Encoded(enc) => (probed, enc)
      case Indexed(path, tomb) =>
        val (rows, local) = localized(probed)
        val cells = rows.map(_.getAs[Int]("cell")).distinct.sorted
        val idx = graft.Tables.parquetCached(s, path)
          .filter($"cell".isin(cells.map(Integer.valueOf): _*))
          .select($"vec_id", $"cell".cast("int").as("cell"), $"codes")
        (local, tomb.fold(idx)(t =>
          idx.join(broadcast(t), Seq("vec_id"), "left_anti")))
    }
    enc.join(broadcast(probedB.join(pqLutOfQv(qv, cbFlat), Seq("q_id"))),
        Seq("cell"))
      .filter($"vec_id" =!= $"q_id")
      .withColumn("adist2",
        round(graft.expr.GraftFunctions.pqAdc(s, $"codes", $"lut"), 9))
      .select($"q_id", $"crank", $"vec_id", $"adist2")
  }

  /** shortlist: the crank ≤ np prefix of a scored pass, then the r best
    * per query by ADC distance — (q_id, vec_id). */
  private[graft] def adcShortlist(scored: DataFrame, np: Int,
      r: Int): DataFrame = {
    import scored.sparkSession.implicits._
    scored.filter($"crank" <= np)
      .withColumn("ar", row_number().over(
        Window.partitionBy($"q_id").orderBy($"adist2", $"vec_id")))
      .filter($"ar" <= r)
      .select($"q_id", $"vec_id")
  }

  /** the exact score of a (qv, v) pair: the unit-vector dot at 5 dp. */
  private def exactSim(s: SparkSession): Column =
    round(graft.expr.GraftFunctions.dot(s, col("qv"), col("v")), 5)

  /** rank scored rows by (sim desc, vec_id) per query as rv, keep
    * rv ≤ depth. */
  private def topBySim(scored: DataFrame, depth: Int): DataFrame =
    scored.withColumn("rv", row_number().over(Window.partitionBy(col("q_id"))
        .orderBy(col("sim").desc, col("vec_id"))))
      .filter(col("rv") <= depth)

  /** exact re-rank: a bounded shortlist (q_id, vec_id, extra…) ⋈ a
    * (vec_id, v) corpus ⋈ (q_id, qv) query vectors, both small sides
    * broadcast — the shortlist's columns plus sim and its rank
    * rv ≤ depth. */
  private[graft] def exactRerank(short: DataFrame, corpus: DataFrame,
      qv: DataFrame, depth: Int): DataFrame =
    topBySim(broadcast(short).join(corpus, "vec_id")
        .join(broadcast(qv), "q_id")
        .withColumn("sim", exactSim(qv.sparkSession)), depth)
      .select((short.columns.map(col) :+ col("sim") :+ col("rv")): _*)

  /** the brute-force ground truth: each query's exact top-5 (q_id,
    * vec_id) over the whole corpus, itself excluded. */
  private[graft] def bruteTop5(qv: DataFrame, corpus: DataFrame): DataFrame =
    topBySim(broadcast(qv).join(corpus, col("vec_id") =!= col("q_id"))
        .withColumn("sim", exactSim(qv.sparkSession)), 5)
      .select("q_id", "vec_id")

  /** the whole chain at one operating point — (q_id, vec_id, sim, rv),
    * rv ≤ depth. */
  private[graft] def ivfadc(qv: DataFrame, corpus: DataFrame,
      cbFlat: DataFrame, codes: AdcCodes, np: Int, r: Int,
      depth: Int): DataFrame =
    exactRerank(adcShortlist(adcScored(ivfProbe(qv, np), qv, cbFlat, codes),
      np, r), corpus, qv, depth)

  /** the chain over dir's unit corpus and frozen codebook at the serving
    * nprobe, for the query ids `qs` (one column q_id). */
  private def servedIvfadc(s: SparkSession, dir: String, qs: DataFrame,
      codes: AdcCodes, r: Int, depth: Int): DataFrame = {
    val e = unitVecs(s, dir)
    ivfadc(queryVecs(e, qs), e, pqCodebookLocal(s, dir), codes,
      IVFPQ_NPROBE, r, depth)
  }

  /** q118: IVFADC top-5 over the ANN sample, codes encoded inline. */
  private def q118(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    servedIvfadc(s, dir,
        querySample(s, dir, ANN_QK).select($"vec_id".as("q_id")),
        Encoded(ivfadcIndex(s, dir)), IVFPQ_R, 5)
      .select($"q_id", $"rv".as("rn"), $"vec_id".as("neighbor_id"), $"sim")
      .orderBy($"q_id", $"rn")
  }

  private lazy val q118Sql = {
    val chain = maskChainSql("p", IVFPQ_NPROBE)
    val cells = (1 to IVFPQ_NPROBE).map(r => s"c$r").mkString("[", ", ", "]")
    s"""WITH $pqPreambleSql,
       |bc AS (SELECT vec_id, ${cellSql("v")} AS cell FROM e),
       |p1 AS (SELECT vec_id AS q_id, v AS qv, ${cellSql("v")} AS c1,
       |        ${cellScoresSql("v")} AS s1
       |       FROM e WHERE vec_id IN ${sampleSql(ANN_QK)}),
       |$chain,
       |probed AS (SELECT q_id, unnest($cells) AS cell
       |           FROM p$IVFPQ_NPROBE),
       |ad AS (SELECT p.q_id, c.vec_id, round(sum(qd), 9) AS adist2
       |       FROM codes c
       |        JOIN bc ON c.vec_id = bc.vec_id
       |        JOIN probed p ON bc.cell = p.cell
       |        JOIN lut l ON p.q_id = l.q_id AND c.m = l.m AND c.j = l.j
       |       WHERE c.vec_id <> p.q_id
       |       GROUP BY p.q_id, c.vec_id),
       |sl AS (SELECT q_id, vec_id FROM
       |        (SELECT q_id, vec_id, row_number() OVER
       |          (PARTITION BY q_id ORDER BY adist2, vec_id) AS ar
       |         FROM ad)
       |       WHERE ar <= $IVFPQ_R),
       |qvec AS (SELECT vec_id AS q_id, v AS qv FROM e
       |         WHERE vec_id IN ${sampleSql(ANN_QK)}),
       |rr AS (SELECT sl.q_id, sl.vec_id,
       |        round(list_sum(list_transform(list_zip(qv, v),
       |          z -> CAST(z[1] * z[2] AS DOUBLE))), 5) AS sim
       |       FROM sl JOIN e USING (vec_id)
       |        JOIN qvec ON sl.q_id = qvec.q_id),
       |r AS (SELECT q_id, vec_id, sim,
       |       row_number() OVER (PARTITION BY q_id
       |                          ORDER BY sim DESC, vec_id) AS rn
       |      FROM rr)
       |SELECT q_id, rn, vec_id AS neighbor_id, sim FROM r
       |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin
  }

  /** q132: SEMANTIC-DEDUP APPLY — the embedding-space counterpart of
    * q48's text-dedup APPLY (the SemDedup family, Abbas et al. 2023):
    * within each (label, sign-bucket) block, any vector whose cosine
    * to ANY lower-id vector reaches τ = 0.30 is dropped — a
    * single-pass min-id screen, deliberately transitive-blind (a
    * dropped vector still justifies dropping its own near-dups;
    * strictly MORE aggressive than sequential greedy selection, and
    * embarrassingly parallel where greedy is inherently sequential).
    * Report the per-label keep/drop rollup with a survivor checksum.
    * q53 ranks the candidate pairs; this is the decision a pipeline
    * actually ships.
    *
    * Scale: identical to q53's posture — pairs exist only inside
    * (label, bucket) blocks (SkewSpec bounds the block sizes), the
    * drop set is a bucket-local anti-join, no all-pairs term. At
    * production scale the bucket count grows with N (documented at
    * bucketCol), keeping blocks ~constant. */
  private def q132(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = embeddings(s, dir).select($"label", $"vec_id")
    val dropped = q53Pairs(s, embeddings(s, dir))
      .filter($"cos" >= 0.30)
      .select($"id_b".as("vec_id")).distinct()
    e.join(dropped.withColumn("is_dropped", lit(true)),
        Seq("vec_id"), "left")
      .groupBy($"label")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when($"is_dropped".isNull, 1L).otherwise(0L)).as("n_kept"),
        sum(when($"is_dropped".isNull, $"vec_id")).as("kept_checksum"))
      .orderBy($"label")
  }

  private lazy val q132Sql =
    s"""WITH e AS (SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS v
       |           FROM embeddings),
       |bk AS (SELECT label, vec_id, v, ${bucketSql("v")} AS bucket FROM e),
       |dropped AS (
       | SELECT DISTINCT c.vec_id
       | FROM bk a JOIN bk c ON a.label = c.label AND a.bucket = c.bucket
       |  AND a.vec_id < c.vec_id
       | WHERE round(list_cosine_similarity(a.v, c.v), 5) >= 0.30)
       |SELECT label, count(*) AS n_vecs,
       | CAST(sum(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |   AS n_kept,
       | CAST(sum(CASE WHEN d.vec_id IS NULL THEN e.vec_id END) AS BIGINT)
       |   AS kept_checksum
       |FROM e LEFT JOIN dropped d ON e.vec_id = d.vec_id
       |GROUP BY label ORDER BY label""".stripMargin

  // ---------------------------------------------------------------
  // q162/q163: the RETRIEVAL RANKING layer — lexical BM25 scoring and
  // reciprocal-rank-fusion hybrid search, the two operators a modern
  // corpus-curation / RAG pipeline runs on top of the inverted index
  // (q115's tf/df tables) and the ANN family (q50/q114): rank by
  // text, rank by embedding, fuse. documents.doc_id ≡
  // embeddings.vec_id in the testdata, so the two modalities rank the
  // SAME items.
  //
  // Determinism disciplines: per-(query, candidate) BM25 is a SUM of
  // per-term float contributions whose accumulation order a
  // distributed engine cannot pin — each contribution is floor(x·10⁶
  // + 0.5)-quantized to int64 micro-units FIRST, so the sum is exact
  // order-independent integer arithmetic (the q153 lesson applied to
  // floats that ARE identical per-row on both engines); all rank
  // tie-breaks are (score desc, id).
  //
  // Scale: the tf/df join is keyed on term (vocabulary never
  // broadcast, q115's rationale); the probe side is Q·T terms (tiny,
  // broadcast); candidates = docs sharing ≥1 probe term — the
  // inverted-index walk, never a corpus cross join. The vector branch
  // is the q50 brute pass over the bounded query sample; at 100 TB it
  // swaps for the q114/q118 ANN shortlist feeding the SAME fusion
  // (rank-only coupling is the point of RRF — Cormack/Clarke/Büttcher
  // 2009: no score calibration across modalities).
  private val RetrQK = 8   // md5-ranked query docs (the q50 discipline)
  private val QTerms = 5   // distinctive probe terms per query (tf·idf)
  private val Bm25K1 = 1.2
  private val Bm25B = 0.75
  private val RrfK = 60    // the Cormack et al. fusion constant

  /** sampled from EMBEDDINGS (vec_id ⊆ doc_id in the testdata), so
    * every query carries both modalities — a documents-side sample
    * silently dropped vector-less queries from the q163 fusion. */
  private[graft] def retrQuerySample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    embeddings(s, dir).select($"vec_id")
      .withColumn("h", md5(concat(lit("q162:"), $"vec_id".cast("string"))))
      .orderBy($"h", $"vec_id").limit(RetrQK)
      .select($"vec_id".as("q_id"))
  }

  private val retrSampleSql =
    s"""(SELECT vec_id FROM embeddings
       | ORDER BY md5('q162:' || CAST(vec_id AS VARCHAR)), vec_id
       | LIMIT $RetrQK)""".stripMargin

  /** (q_id, cand_id, bm6): Okapi BM25 (k1 = 1.2, b = 0.75, the
    * Robertson/Sparck Jones idf with Lucene's +1 floor) of every
    * candidate sharing ≥1 probe term with the query, micro-unit
    * integer scores, self excluded. Probe terms = the query doc's
    * QTerms highest-tf·idf terms. */
  private def bm25Scores(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the postings table is consumed FIVE times downstream (dl, df,
    // probe-term selection, candidate walk, and their joins) — one
    // materialization instead of five tokenize+explode corpus passes
    // (the q134 barrier rationale; ~30 bytes/posting, bounded by the
    // token count)
    val tf = documents(s, dir)
      .select($"doc_id", explode(split($"text", " ")).as("term"))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    val dl = tf.groupBy($"doc_id").agg(sum($"tf").as("dl"))
    val df = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val stats = documents(s, dir).agg(count(lit(1)).as("n"))
      .crossJoin(dl.agg(sum($"dl").as("toktot")))
    val qs = retrQuerySample(s, dir)
    // probe-term rank runs on MICRO-UNIT int64 weights, not the raw
    // tf·ln(n/df) double: Spark (StrictMath) and DuckDB (libm) can
    // disagree by 1 ulp on mathematically-equal scores reached via
    // different (tf, df) pairs, and a flipped top-QTerms cut changes
    // the whole candidate set downstream — the term tie-break only
    // protects bitwise-equal scores (the c6 discipline applied to the
    // selection, not just the BM25 sum).
    val qt = tf.join(broadcast(qs), tf("doc_id") === qs("q_id"))
      .join(df, "term").crossJoin(broadcast(stats))
      .withColumn("w6", floor($"tf" * log($"n".cast("double") / $"df")
        * 1e6 + 0.5).cast("long"))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"q_id").orderBy($"w6".desc, $"term")))
      .filter($"rn" <= QTerms)
      .select($"q_id", $"term")
    broadcast(qt)
      .join(tf.withColumnRenamed("doc_id", "cand_id"), "term")
      .filter($"cand_id" =!= $"q_id")
      .join(df, "term")
      .join(dl.withColumnRenamed("doc_id", "cand_id"), "cand_id")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + ($"n" - $"df" + lit(0.5)) / ($"df" + lit(0.5))))
      .withColumn("contrib",
        $"idf" * ($"tf" * lit(Bm25K1 + 1)) /
          ($"tf" + lit(Bm25K1) * (lit(1.0 - Bm25B) +
            lit(Bm25B) * ($"dl" * $"n").cast("double") / $"toktot")))
      .withColumn("c6", floor($"contrib" * 1e6 + 0.5).cast("long"))
      .groupBy($"q_id", $"cand_id").agg(sum($"c6").as("bm6"))
  }

  /** shared oracle CTE chain mirroring bm25Scores (ends in bm(q_id,
    * cand_id, bm6)). */
  private lazy val bm25SqlCte: String =
    bm25SqlCteFrom("documents", retrSampleSql)

  /** the doc-level BM25 chain over an arbitrary (doc_id, text) source
    * and query-sample subquery — q213's purged-hybrid oracle runs it
    * over corpus − D without drifting from the shared spelling. */
  private def bm25SqlCteFrom(src: String, sample: String): String =
    s"""t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |      FROM $src),
       |tf AS (SELECT doc_id, term, count(*) AS tf
       |       FROM t GROUP BY doc_id, term),
       |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
       |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |st AS (SELECT (SELECT count(*) FROM $src) AS n,
       |              (SELECT sum(dl) FROM dl) AS toktot),
       |qt AS (
       | SELECT q_id, term FROM (
       |  SELECT tf.doc_id AS q_id, tf.term,
       |   row_number() OVER (PARTITION BY tf.doc_id
       |    ORDER BY CAST(floor(tf.tf * ln(CAST(st.n AS DOUBLE) / df.df)
       |      * 1000000 + 0.5) AS BIGINT) DESC,
       |             tf.term) AS rn
       |  FROM tf JOIN df USING (term) CROSS JOIN st
       |  WHERE tf.doc_id IN $sample)
       | WHERE rn <= $QTerms),
       |bm AS (
       | SELECT q_id, cand_id, sum(c6) AS bm6 FROM (
       |  SELECT qt.q_id, tf.doc_id AS cand_id,
       |   CAST(floor(
       |    ln(1.0 + (CAST(st.n - df.df AS DOUBLE) + 0.5)
       |            / (CAST(df.df AS DOUBLE) + 0.5)) *
       |     (tf.tf * CAST(2.2 AS DOUBLE)) /
       |     (tf.tf + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) +
       |       CAST(0.75 AS DOUBLE) * CAST(dl.dl * st.n AS DOUBLE)
       |         / st.toktot))
       |    * 1000000 + 0.5) AS BIGINT) AS c6
       |  FROM qt JOIN tf USING (term)
       |   JOIN df USING (term)
       |   JOIN dl ON dl.doc_id = tf.doc_id
       |   CROSS JOIN st
       |  WHERE tf.doc_id <> qt.q_id)
       | GROUP BY q_id, cand_id)""".stripMargin

  /** q162: BM25 TOP-K SEARCH — the inverted-index lexical ranker. */
  private def q162(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    bm25Scores(s, dir)
      .withColumn("rn", row_number().over(
        Window.partitionBy($"q_id").orderBy($"bm6".desc, $"cand_id")))
      .filter($"rn" <= 3)
      .select($"q_id", $"rn", $"cand_id".as("doc_id"),
        ($"bm6" / lit(1e6)).as("bm25"))
      .orderBy($"q_id", $"rn")
  }

  private lazy val q162Sql =
    s"""WITH $bm25SqlCte
       |SELECT q_id, rn, cand_id AS doc_id, bm6 / 1000000.0 AS bm25
       |FROM (SELECT q_id, cand_id, bm6,
       |       row_number() OVER (PARTITION BY q_id
       |        ORDER BY bm6 DESC, cand_id) AS rn
       |      FROM bm)
       |WHERE rn <= 3 ORDER BY q_id, rn""".stripMargin

  /** q163: HYBRID SEARCH via reciprocal-rank fusion — the BM25 rank
    * list and the embedding-cosine rank list (same item universe:
    * doc_id ≡ vec_id) fused by Σ 1/(60 + rank). The vector branch
    * ranks every non-self item, so a LEFT join from it loses no
    * candidate; items outside the lexical candidate set contribute
    * only their vector term (NULL lexical rank passes through to the
    * output — honest provenance of why an item ranked). */
  private def q163(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rt = bm25Scores(s, dir)
      .withColumn("rt", row_number().over(
        Window.partitionBy($"q_id").orderBy($"bm6".desc, $"cand_id")))
      .select($"q_id", $"cand_id", $"rt")
    val e = embeddings(s, dir)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .withColumn("vn", ArrayOps.l2Norm(s, $"v"))
    val qs = retrQuerySample(s, dir)
    val qv = e.join(broadcast(qs), e("vec_id") === qs("q_id"))
      .select($"q_id", $"v".as("qv"), $"vn".as("qn"))
    val rv = broadcast(qv).join(e, $"vec_id" =!= $"q_id")
      .withColumn("sim",
        round(graft.expr.GraftFunctions.dot(s, $"qv", $"v") /
          ($"qn" * $"vn"), 5))
      .withColumn("rv", row_number().over(
        Window.partitionBy($"q_id").orderBy($"sim".desc, $"vec_id")))
      .select($"q_id", $"vec_id", $"rv")
    rv.join(rt, rv("q_id") === rt("q_id") && rv("vec_id") === rt("cand_id"),
        "left")
      .select(rv("q_id"), $"vec_id", $"rv", $"rt")
      .withColumn("rrf",
        lit(1.0) / (lit(RrfK) + $"rv") +
          coalesce(lit(1.0) / (lit(RrfK) + $"rt"), lit(0.0)))
      .withColumn("r6", floor($"rrf" * 1e6 + 0.5).cast("long"))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"q_id").orderBy($"r6".desc, $"vec_id")))
      .filter($"rn" <= 5)
      .select($"q_id", $"rn", $"vec_id".as("doc_id"),
        ($"r6" / lit(1e6)).as("rrf"), $"rv".as("vec_rank"),
        $"rt".as("text_rank"))
      .orderBy($"q_id", $"rn")
  }

  private lazy val q163Sql =
    s"""WITH $bm25SqlCte,
       |rt AS (SELECT q_id, cand_id,
       |        row_number() OVER (PARTITION BY q_id
       |         ORDER BY bm6 DESC, cand_id) AS rt
       |       FROM bm),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |      FROM embeddings),
       |qv AS (SELECT vec_id AS q_id, v AS qv FROM e
       |       WHERE vec_id IN $retrSampleSql),
       |rv AS (SELECT q_id, vec_id,
       |        row_number() OVER (PARTITION BY q_id
       |         ORDER BY round(list_cosine_similarity(qv, v), 5) DESC,
       |                  vec_id) AS rv
       |       FROM qv JOIN e ON vec_id <> q_id),
       |fused AS (
       | SELECT rv.q_id, rv.vec_id, rv.rv, rt.rt,
       |  CAST(floor((1.0 / ($RrfK + rv.rv) +
       |    COALESCE(1.0 / ($RrfK + rt.rt), 0.0)) * 1000000 + 0.5)
       |   AS BIGINT) AS r6
       | FROM rv LEFT JOIN rt
       |  ON rv.q_id = rt.q_id AND rv.vec_id = rt.cand_id)
       |SELECT q_id, rn, vec_id AS doc_id, r6 / 1000000.0 AS rrf,
       | rv AS vec_rank, rt AS text_rank
       |FROM (SELECT *, row_number() OVER (PARTITION BY q_id
       |       ORDER BY r6 DESC, vec_id) AS rn FROM fused)
       |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin

  // ---------------------------------------------------------------
  // q165: MMR DIVERSIFIED RETRIEVAL (Carbonell & Goldstein 1998) —
  // the de-duplicating re-ranker a training-data sampler or RAG
  // context builder runs over an ANN shortlist: greedily pick the
  // item maximizing λ·sim(q,d) − (1−λ)·max_{s∈S} sim(d,s), so the
  // result set trades relevance against redundancy instead of
  // returning five near-copies. The greedy loop is FIVE unrolled
  // declarative steps (the q160Sql discipline): state = the selected
  // set, each step one bounded join + argmax — no collect, no UDF.
  // All candidate-candidate similarity lives in a per-query
  // CAND×CAND table (bounded: Q·C² rows), computed ONCE — at 100 TB
  // the shortlist C comes from q114/q118 and the MMR cost is
  // unchanged (it never touches the corpus).
  private val MmrC = 20      // ANN shortlist per query
  private val MmrK = 5       // diversified picks
  private val MmrLam = 0.7   // relevance/diversity trade-off

  /** the greedy MMR selection as a K-parameterized plan generator
    * (the q137/q160 GD-step discipline): step 1 is the pure-relevance
    * argmax, steps 2..k are penalized argmaxes generated by a fold —
    * nothing in the chain depends on the gate constant, and
    * MmrKSpec pins a K=8 run against a driver-side reference greedy
    * so the unroll generalizes beyond K=5. */
  private[graft] def mmrDiversify(s: SparkSession, dir: String,
      k: Int): DataFrame = {
    import s.implicits._
    val e = embeddings(s, dir)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .withColumn("vn", ArrayOps.l2Norm(s, $"v"))
    val qs = retrQuerySample(s, dir)
    val qv = e.join(broadcast(qs), e("vec_id") === qs("q_id"))
      .select($"q_id", $"v".as("qv"), $"vn".as("qn"))
    // shortlist: top-C by rounded cosine (the q50 ranking contract)
    val cand = broadcast(qv).join(e, $"vec_id" =!= $"q_id")
      .withColumn("simq",
        round(graft.expr.GraftFunctions.dot(s, $"qv", $"v") /
          ($"qn" * $"vn"), 5))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"q_id").orderBy($"simq".desc, $"vec_id")))
      .filter($"rn" <= MmrC)
      .select($"q_id", $"vec_id", $"simq", $"v", $"vn")
      .localCheckpoint(true)
    // candidate-candidate similarity, once (Q·C² bounded rows)
    val cc = cand.select($"q_id", $"vec_id".as("a_id"),
        $"v".as("av"), $"vn".as("an"))
      .join(cand.select($"q_id", $"vec_id".as("b_id"),
        $"v".as("bv"), $"vn".as("bn")), Seq("q_id"))
      .filter($"a_id" =!= $"b_id")
      .withColumn("simc",
        round(graft.expr.GraftFunctions.dot(s, $"av", $"bv") /
          ($"an" * $"bn"), 5))
      .select($"q_id", $"a_id", $"b_id", $"simc")
      .localCheckpoint(true)
    val slim = cand.select($"q_id", $"vec_id", $"simq")
    // step 1: pure relevance argmax; steps 2..K: penalized argmax
    val first = slim
      .withColumn("rn", row_number().over(
        Window.partitionBy($"q_id").orderBy($"simq".desc, $"vec_id")))
      .filter($"rn" === 1)
      .select($"q_id", $"vec_id".as("sel_id"), lit(1).as("step"),
        $"simq".as("mmr"))
    (2 to k).foldLeft(first) { (sel, step) =>
      val ccr = cc.select($"q_id".as("cq"), $"a_id", $"b_id", $"simc")
      val pen = slim
        .join(sel.select($"q_id", $"sel_id"), Seq("q_id"))
        .filter($"vec_id" =!= $"sel_id")
        .join(ccr, $"q_id" === $"cq" && $"vec_id" === $"a_id" &&
          $"sel_id" === $"b_id")
        .groupBy($"q_id", $"vec_id", $"simq")
        .agg(count(lit(1)).as("n_sel"), max($"simc").as("pen"))
        .filter($"n_sel" === step - 1) // exclude already-selected items
        .withColumn("mmr", lit(MmrLam) * $"simq" -
          lit(1.0 - MmrLam) * $"pen")
        .withColumn("rn", row_number().over(
          Window.partitionBy($"q_id").orderBy($"mmr".desc, $"vec_id")))
        .filter($"rn" === 1)
        .select($"q_id", $"vec_id".as("sel_id"), lit(step).as("step"),
          $"mmr")
      sel.unionByName(pen).localCheckpoint(true)
    }
      .select($"q_id", $"step", $"sel_id".as("doc_id"),
        (floor($"mmr" * 1e6 + 0.5) / lit(1e6)).as("mmr"))
      .orderBy($"q_id", $"step")
  }

  private def q165(s: SparkSession, dir: String): DataFrame =
    mmrDiversify(s, dir, MmrK)

  /** the MMR greedy chain as oracle CTE text (no leading WITH;
    * expects CTEs `e` and `qv` in scope) — ends in sel$k. Shared by
    * q165Sql and q174Sql, parameterized by K so the spec's K=8 run
    * exercises the same generator as the K=5 gate. */
  private def mmrChainSql(kSteps: Int): String = {
    val steps = (2 to kSteps).map { k =>
      s"""s$k AS (
         | SELECT q_id, vec_id, $k AS step, mmr FROM (
         |  SELECT p.q_id, p.vec_id, p.mmr, row_number() OVER (
         |    PARTITION BY p.q_id ORDER BY p.mmr DESC, p.vec_id) AS rn
         |  FROM (
         |   SELECT c.q_id, c.vec_id,
         |    CAST($MmrLam AS DOUBLE) * c.simq
         |     - CAST(${1.0 - MmrLam} AS DOUBLE) * max(cc.simc) AS mmr
         |   FROM cand c
         |    JOIN sel${k - 1} s ON s.q_id = c.q_id
         |    JOIN cc ON cc.q_id = c.q_id AND cc.a_id = c.vec_id
         |            AND cc.b_id = s.vec_id
         |   WHERE c.vec_id <> s.vec_id
         |   GROUP BY c.q_id, c.vec_id, c.simq
         |   HAVING count(*) = ${k - 1}) p)
         | WHERE rn = 1),
         |sel$k AS (SELECT * FROM sel${k - 1} UNION ALL
         |          SELECT * FROM s$k)""".stripMargin
    }.mkString(",\n")
    s"""cand AS (
       | SELECT q_id, vec_id, simq, v FROM (
       |  SELECT q.q_id, e.vec_id, e.v,
       |   round(list_cosine_similarity(q.qv, e.v), 5) AS simq,
       |   row_number() OVER (PARTITION BY q.q_id
       |    ORDER BY round(list_cosine_similarity(q.qv, e.v), 5) DESC,
       |             e.vec_id) AS rn
       |  FROM qv q JOIN e ON e.vec_id <> q.q_id)
       | WHERE rn <= $MmrC),
       |cc AS (
       | SELECT a.q_id, a.vec_id AS a_id, b.vec_id AS b_id,
       |  round(list_cosine_similarity(a.v, b.v), 5) AS simc
       | FROM cand a JOIN cand b
       |  ON a.q_id = b.q_id AND a.vec_id <> b.vec_id),
       |sel1 AS (
       | SELECT q_id, vec_id, 1 AS step, simq AS mmr FROM (
       |  SELECT q_id, vec_id, simq, row_number() OVER (
       |   PARTITION BY q_id ORDER BY simq DESC, vec_id) AS rn
       |  FROM cand)
       | WHERE rn = 1),
       |$steps""".stripMargin
  }

  private lazy val q165Sql =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |           FROM embeddings),
       |qv AS (SELECT vec_id AS q_id, v AS qv FROM e
       |       WHERE vec_id IN $retrSampleSql),
       |${mmrChainSql(MmrK)}
       |SELECT q_id, CAST(step AS INT) AS step, vec_id AS doc_id,
       | floor(mmr * 1000000 + 0.5) / 1000000.0 AS mmr
       |FROM sel$MmrK ORDER BY q_id, step""".stripMargin

  /** q170: CROSS-SPLIT LEAKAGE AUDIT — the train/test-contamination
    * check every ML protocol should run and few do: near-duplicate
    * pairs (q53's bucket-blocked embedding candidates) that STRADDLE
    * the evaluation split (the q63 `vec_id % 5` holdout) leak the
    * test set into training and inflate every held-out metric the
    * engine reports (q63/q76/q88's AUCs). Per label: candidate pairs
    * scanned, cross-split candidates, leaks above the dedup
    * threshold (cos ≥ 0.3 — corpus-calibrated here; a production run
    * uses its SemDedup τ, q132), and the worst cross-split cosine
    * (NULL when no cross pair — an honest all-clear, not a zero).
    * Same plan as q53: pair generation keyed on (label, sign
    * bucket), never all-pairs; the audit rides the dedup machinery,
    * which is the point — if you can dedup at 100 TB you can audit
    * your splits at 100 TB. */
  private def q170(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    q53Pairs(s, embeddings(s, dir))
      .withColumn("crossp", ($"id_a" % 5 === 0) =!= ($"id_b" % 5 === 0))
      .groupBy($"label")
      .agg(count(lit(1)).as("n_cand"),
        sum(when($"crossp", 1L).otherwise(0L)).as("n_cross"),
        sum(when($"crossp" && $"cos" >= 0.3, 1L).otherwise(0L))
          .as("n_leak"),
        max(when($"crossp", $"cos")).as("max_cross_cos"))
      .orderBy($"label")
  }

  private lazy val q170Sql =
    s"""WITH e AS (SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS v
       |           FROM embeddings),
       |bk AS (SELECT label, vec_id, v, ${bucketSql("v")} AS bucket FROM e),
       |p AS (
       | SELECT a.label,
       |  round(list_cosine_similarity(a.v, c.v), 5) AS cos,
       |  (a.vec_id % 5 = 0) <> (c.vec_id % 5 = 0) AS crossp
       | FROM bk a JOIN bk c ON a.label = c.label AND a.bucket = c.bucket
       |  AND a.vec_id < c.vec_id)
       |SELECT label, CAST(count(*) AS BIGINT) AS n_cand,
       | CAST(sum(CASE WHEN crossp THEN 1 ELSE 0 END) AS BIGINT)
       |   AS n_cross,
       | CAST(sum(CASE WHEN crossp AND cos >= 0.3 THEN 1 ELSE 0 END)
       |   AS BIGINT) AS n_leak,
       | max(CASE WHEN crossp THEN cos END) AS max_cross_cos
       |FROM p GROUP BY label ORDER BY label""".stripMargin

  // ---------------------------------------------------------------
  // q172: ANN-BACKED HYBRID RETRIEVAL — q163's documented 100 TB
  // composition as a real gated plan: the vector branch swaps the
  // brute per-query corpus scan for the q118 IVFADC shortlist (cell
  // routing over PQ codes, ADC candidates, exact re-rank of the
  // IVFPQ_R best) and feeds the SAME reciprocal-rank fusion, BM25
  // unchanged. Because RRF couples the two systems by RANK only, the
  // swap is architecturally free — no score calibration, no schema
  // change — which is exactly why production hybrid search ships
  // this shape. Candidates now come from TWO bounded lists (ANN
  // shortlist ∪ lexical postings walk), so the join is FULL OUTER:
  // an item can rank in either list alone and contributes only that
  // term (NULL ranks pass through — honest provenance of why an item
  // ranked; AnnRecallSpec pins fused top-5 recall vs the q163
  // brute-fused baseline).
  //
  // Scale: the corpus is touched by the PQ-encode pass and the
  // probed-cell ADC pass only (nprobe/CELLS of the code table per
  // query, PQ_M bytes/vector) instead of q163's full N·d dot
  // products per query — the memory+compute story that makes hybrid
  // retrieval feasible at billion-document scale; the lexical branch
  // keeps q162's postings-walk posture (vocabulary never broadcast).
  // The whole chain is deterministic (md5 codebook sample, rounded
  // ADC, rank tie-breaks), so the oracle replays the identical
  // shortlist and the gate is exact.
  /** vector-list fusion depth: the shortlist's exact re-rank makes
    * positions 1..FuseD true ranks whenever the true top-FuseD
    * survive ADC (they mostly do — PqRecallSpec's median ADC rank is
    * 18.5), while positions deeper in the 100-item shortlist are
    * ADC-noise-ordered and would feed RRF compressed pseudo-ranks;
    * fusing the top-20 list is also what a production vector engine
    * actually returns. AnnRecallSpec pins the fused recall. */
  private val FuseD = 20
  // retrieval-tuned ADC shortlist depth: q118's R=100 optimizes the
  // top-5 neighbor gate; fusion quality wants the true top-FuseD
  // reliably inside the re-rank set, and at 200 the measured retr-
  // sample vector recall@5 goes 0.875 -> 0.975 (R stays a constant
  // per query at any corpus scale — the re-rank cost is 200 exact
  // dots per query either way).
  private val RetrR = 200

  /** the RRF fusion tail shared by q172 (inline index) and q181
    * (persisted index): FULL OUTER join of the vector rank list
    * (q_id, vec_id, rv) and the lexical rank list (q_id, cand_id,
    * rt), Σ 1/(60 + rank) in micro-units, top-5 per query. */
  private def fuseRanks(rv: DataFrame, rt: DataFrame): DataFrame = {
    import rv.sparkSession.implicits._
    rv.join(rt,
        rv("q_id") === rt("q_id") && rv("vec_id") === rt("cand_id"),
        "full_outer")
      .select(coalesce(rv("q_id"), rt("q_id")).as("q_id"),
        coalesce(rv("vec_id"), rt("cand_id")).as("doc_id"),
        rv("rv"), rt("rt"))
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(RrfK) + $"rv"), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK) + $"rt"), lit(0.0)))
      .withColumn("r6", floor($"rrf" * 1e6 + 0.5).cast("long"))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"q_id").orderBy($"r6".desc, $"doc_id")))
      .filter($"rn" <= 5)
      .select($"q_id", $"rn", $"doc_id", ($"r6" / lit(1e6)).as("rrf"),
        $"rv".as("vec_rank"), $"rt".as("text_rank"))
      .orderBy($"q_id", $"rn")
  }

  /** the BM25 rank list (q_id, cand_id, rt) — the lexical fusion
    * input shared by q163/q172/q181. */
  private def bm25Ranks(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    bm25Scores(s, dir)
      .withColumn("rt", row_number().over(
        Window.partitionBy($"q_id").orderBy($"bm6".desc, $"cand_id")))
      .select($"q_id", $"cand_id", $"rt")
  }

  // ---------------------------------------------------------------
  // the persisted DOC-postings serving index — the q186 trick at doc
  // granularity: q181's lexical branch used to re-tokenize the WHOLE
  // corpus per serve (bm25Scores' tf checkpoint — fine for the inline
  // gates q162/q163/q172 whose point is the inline computation, wrong
  // for the "fully-served" q181/q185/q187 story at 100 TB). The
  // artifact persists (doc_id, term, tf, dl) term-sorted (dl
  // DENORMALIZED onto each posting so the candidate walk needs no
  // doc-length join), plus the dictionary and global stats; ranking
  // is row-identical to bm25Scores (same counts, same micro-unit
  // selection, same tie-breaks), so q181/q185/q187's oracles are
  // untouched. One build per corpus snapshot.
  private[graft] val docIndex = graft.Artifacts[String]("doc_index")

  private[graft] def docIndexDir(s: SparkSession, dir: String): String = {
    import s.implicits._
    docIndex(s, dir, graft.Tables.fingerprint(s"$dir/documents.parquet")) {
      val out = graft.Scratch.tempDirDeletedOnExit("graft_docidx")
      // EXACTLY bm25Scores' tf spelling (no length filter — the
      // shared oracle counts empty tokens too)
      val tf = documents(s, dir)
        .select($"doc_id", explode(split($"text", " ")).as("term"))
        .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
        .localCheckpoint(true)
      val dl = tf.groupBy($"doc_id").agg(sum($"tf").as("dl"))
      tf.join(dl, "doc_id")
        .select($"doc_id", $"term", $"tf", $"dl")
        .repartitionByRange($"term").sortWithinPartitions($"term")
        .write.mode("overwrite").parquet(s"$out/postings")
      tf.groupBy($"term").agg(count(lit(1)).as("df"))
        .write.mode("overwrite").parquet(s"$out/dict")
      documents(s, dir).agg(count(lit(1)).as("n"))
        .crossJoin(dl.agg(sum($"dl").as("toktot")))
        .write.mode("overwrite").parquet(s"$out/stats")
      out
    }
  }

  /** bm25Ranks SERVED: only the RetrQK sample docs tokenize; probe
    * terms come from the persisted dictionary and enter the postings
    * reader as In(term) literals (one localized job). Row-identical
    * to bm25Ranks — the fused gates' oracles pin it. */
  private def bm25RanksServed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val idx = docIndexDir(s, dir)
    val dict = graft.Tables.parquetCached(s, s"$idx/dict")
    val qs = retrQuerySample(s, dir)
    val d = documents(s, dir).select($"doc_id", $"text")
    val qtf = d.join(broadcast(qs), d("doc_id") === qs("q_id"))
      .select($"q_id", explode(split($"text", " ")).as("term"))
      .groupBy($"q_id", $"term").agg(count(lit(1)).as("tf"))
    val (qtRows, qt) = localized(qtf.join(dict, "term")
      .transform(withStatsLits(s, s"$idx/stats"))
      .withColumn("w6", floor($"tf" * log($"n".cast("double") / $"df")
        * 1e6 + 0.5).cast("long"))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"q_id").orderBy($"w6".desc, $"term")))
      .filter($"rn" <= QTerms)
      .select($"q_id", $"term", $"df"))
    val terms = qtRows.map(_.getString(1)).distinct.sorted
    graft.Tables.parquetCached(s, s"$idx/postings")
      .filter($"term".isin(terms: _*))
      .withColumnRenamed("doc_id", "cand_id")
      .join(broadcast(qt), "term")
      .filter($"cand_id" =!= $"q_id")
      .transform(withStatsLits(s, s"$idx/stats"))
      .withColumn("idf",
        log(lit(1.0) + ($"n" - $"df" + lit(0.5)) / ($"df" + lit(0.5))))
      .withColumn("contrib",
        $"idf" * ($"tf" * lit(Bm25K1 + 1)) /
          ($"tf" + lit(Bm25K1) * (lit(1.0 - Bm25B) +
            lit(Bm25B) * ($"dl" * $"n").cast("double") / $"toktot")))
      .withColumn("c6", floor($"contrib" * 1e6 + 0.5).cast("long"))
      .groupBy($"q_id", $"cand_id").agg(sum($"c6").as("bm6"))
      .withColumn("rt", row_number().over(
        Window.partitionBy($"q_id").orderBy($"bm6".desc, $"cand_id")))
      .select($"q_id", $"cand_id", $"rt")
  }

  /** the hybrid gates' vector rank list (q_id, vec_id, rv ≤ FuseD):
    * the IVFADC chain at the serving operating point with a RetrR
    * shortlist. q172 encodes the codes inline, q181 reads the persisted
    * index, q213 the index minus the takedown set. */
  private[graft] def annRanks(s: SparkSession, dir: String,
      qs: DataFrame, codes: AdcCodes): DataFrame =
    servedIvfadc(s, dir, qs, codes, RetrR, FuseD)
      .select("q_id", "vec_id", "rv")

  private def q172(s: SparkSession, dir: String): DataFrame =
    fuseRanks(annRanks(s, dir, retrQuerySample(s, dir),
      Encoded(ivfadcIndex(s, dir))), bm25Ranks(s, dir))

  /** spec yardstick (AnnRecallSpec): q172's fusion with the vector
    * branch swapped for EXACT brute cosine truncated at `depth` —
    * isolates the IVFADC quantization cost from the list-depth
    * effect (q163's RRF weighs an unbounded vector list whose deep
    * tail no shortlist system can reproduce; at equal depth the only
    * difference left is the approximation). */
  private[graft] def bruteFusedAtDepth(s: SparkSession, dir: String,
      depth: Int): DataFrame = {
    import s.implicits._
    val e = embeddings(s, dir)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .withColumn("vn", ArrayOps.l2Norm(s, $"v"))
    val qs = retrQuerySample(s, dir)
    val qv = e.join(broadcast(qs), e("vec_id") === qs("q_id"))
      .select($"q_id", $"v".as("qv"), $"vn".as("qn"))
    val rv = broadcast(qv).join(e, $"vec_id" =!= $"q_id")
      .withColumn("sim",
        round(graft.expr.GraftFunctions.dot(s, $"qv", $"v") /
          ($"qn" * $"vn"), 5))
      .withColumn("rv", row_number().over(
        Window.partitionBy($"q_id").orderBy($"sim".desc, $"vec_id")))
      .filter($"rv" <= depth)
      .select($"q_id", $"vec_id", $"rv")
    fuseRanks(rv, bm25Ranks(s, dir)).select($"q_id", $"rn", $"doc_id")
  }

  /** the whole q172 chain as oracle CTE text (no leading WITH),
    * ending in `hyb(q_id, rn, doc_id, r6, rv, rt)` — the fused top-5
    * — so q172Sql (the ranking gate) and q180Sql (the context
    * assembly built on it) share one spelling. */
  private lazy val annFusedSqlCte: String =
    annFusedSqlCteFrom(retrSampleSql, "", bm25SqlCte)

  /** the fused hybrid chain parameterized by sample, an extra ad
    * candidate predicate (q213 excludes the takedown set), and the
    * lexical CTE body — one spelling for q172/q180/q181/q185 AND the
    * purged-hybrid gate. */
  private def annFusedSqlCteFrom(sample: String, adExtra: String,
      bmCte: String): String = {
    val chain = maskChainSql("p", IVFPQ_NPROBE)
    val cells = (1 to IVFPQ_NPROBE).map(r => s"c$r").mkString("[", ", ", "]")
    s"""${pqPreambleSqlFor(sample)},
       |bc AS (SELECT vec_id, ${cellSql("v")} AS cell FROM e),
       |p1 AS (SELECT vec_id AS q_id, v AS qv, ${cellSql("v")} AS c1,
       |        ${cellScoresSql("v")} AS s1
       |       FROM e WHERE vec_id IN $sample),
       |$chain,
       |probed AS (SELECT q_id, unnest($cells) AS cell
       |           FROM p$IVFPQ_NPROBE),
       |ad AS (SELECT p.q_id, c.vec_id, round(sum(qd), 9) AS adist2
       |       FROM codes c
       |        JOIN bc ON c.vec_id = bc.vec_id
       |        JOIN probed p ON bc.cell = p.cell
       |        JOIN lut l ON p.q_id = l.q_id AND c.m = l.m AND c.j = l.j
       |       WHERE c.vec_id <> p.q_id$adExtra
       |       GROUP BY p.q_id, c.vec_id),
       |sl AS (SELECT q_id, vec_id FROM
       |        (SELECT q_id, vec_id, row_number() OVER
       |          (PARTITION BY q_id ORDER BY adist2, vec_id) AS ar
       |         FROM ad)
       |       WHERE ar <= $RetrR),
       |qvec AS (SELECT vec_id AS q_id, v AS qv FROM e
       |         WHERE vec_id IN $sample),
       |rv AS (SELECT q_id, vec_id, rv FROM
       |        (SELECT q_id, vec_id,
       |          row_number() OVER (PARTITION BY q_id
       |           ORDER BY sim DESC, vec_id) AS rv
       |         FROM (SELECT sl.q_id, sl.vec_id,
       |                round(list_sum(list_transform(list_zip(qv, v),
       |                  z -> CAST(z[1] * z[2] AS DOUBLE))), 5) AS sim
       |               FROM sl JOIN e USING (vec_id)
       |                JOIN qvec ON sl.q_id = qvec.q_id))
       |       WHERE rv <= $FuseD),
       |$bmCte,
       |rt AS (SELECT q_id, cand_id,
       |        row_number() OVER (PARTITION BY q_id
       |         ORDER BY bm6 DESC, cand_id) AS rt
       |       FROM bm),
       |fused AS (
       | SELECT COALESCE(rv.q_id, rt.q_id) AS q_id,
       |  COALESCE(rv.vec_id, rt.cand_id) AS doc_id, rv.rv, rt.rt,
       |  CAST(floor((COALESCE(1.0 / ($RrfK + rv.rv), 0.0) +
       |    COALESCE(1.0 / ($RrfK + rt.rt), 0.0)) * 1000000 + 0.5)
       |   AS BIGINT) AS r6
       | FROM rv FULL OUTER JOIN rt
       |  ON rv.q_id = rt.q_id AND rv.vec_id = rt.cand_id),
       |hyb AS (
       | SELECT q_id, rn, doc_id, r6, rv, rt
       | FROM (SELECT *, row_number() OVER (PARTITION BY q_id
       |        ORDER BY r6 DESC, doc_id) AS rn FROM fused)
       | WHERE rn <= 5)""".stripMargin
  }

  private lazy val q172Sql =
    s"""WITH $annFusedSqlCte
       |SELECT q_id, rn, doc_id, r6 / 1000000.0 AS rrf,
       | rv AS vec_rank, rt AS text_rank
       |FROM hyb ORDER BY q_id, rn""".stripMargin

  // ---------------------------------------------------------------
  // q174: RETRIEVAL-QUALITY EVALUATION — recall@5 and nDCG@5 of the
  // three shipped rankers (q162 BM25, q163 RRF hybrid, q165 MMR)
  // against the exact brute-force cosine top-5 as binary relevance,
  // per query AND macro-averaged: the evaluation loop a retrieval
  // layer runs on every index/ranker change, promoted from spec-only
  // pins to a first-class oracle gate.
  //
  // Exactness: position gains floor(10⁶/log₂(r+1)+0.5) are int64
  // LITERALS computed once and inlined on both engines (no runtime
  // transcendental), so DCG is exact integer arithmetic; recall and
  // macro averages divide exact int64 sums once at the end. Scale:
  // ground truth is the bounded-query brute pass (O(Q·N), one corpus
  // scan); everything downstream joins 5-row-per-query lists.
  private val NdcgGain6: Seq[Long] = (1 to 5).map(r =>
    math.floor(1e6 / (math.log(r + 1.0) / math.log(2.0)) + 0.5).toLong)
  private val Idcg6: Long = NdcgGain6.sum

  private def q174(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // each shared subtree materializes ONCE: the brute rank list
    // serves both the ground truth (top-5) and q163's fusion input,
    // the BM25 rank list serves both its own top-5 and the fusion —
    // without the barriers the corpus-scan subtrees re-execute per
    // consumer (measured 8.1 vs 4.4 s at sf0.1)
    val e = embeddings(s, dir)
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .withColumn("vn", ArrayOps.l2Norm(s, $"v"))
    val qs = retrQuerySample(s, dir)
    val qv = e.join(broadcast(qs), e("vec_id") === qs("q_id"))
      .select($"q_id", $"v".as("qv"), $"vn".as("qn"))
    // the two shared rank lists (brute cosine, BM25) are independent
    // corpus passes — overlap their eager builds (guide §2.6)
    val Seq(rvFull, rt) = graft.Scratch.parMap(Seq[() => DataFrame](
      () => broadcast(qv).join(e, $"vec_id" =!= $"q_id")
        .withColumn("sim",
          round(graft.expr.GraftFunctions.dot(s, $"qv", $"v") /
            ($"qn" * $"vn"), 5))
        .withColumn("rv", row_number().over(
          Window.partitionBy($"q_id").orderBy($"sim".desc, $"vec_id")))
        .select($"q_id", $"vec_id", $"rv")
        .localCheckpoint(true),
      () => bm25Scores(s, dir)
        .withColumn("rt", row_number().over(
          Window.partitionBy($"q_id").orderBy($"bm6".desc, $"cand_id")))
        .select($"q_id", $"cand_id", $"rt")
        .localCheckpoint(true)), 2)(_())
    val rel = rvFull.filter($"rv" <= 5)
      .select($"q_id", $"vec_id".as("doc_id"), lit(1L).as("hit"))
    val bm = rt.filter($"rt" <= 5)
      .select($"q_id", $"cand_id".as("doc_id"), $"rt".as("r"))
    // q163's fusion, inlined over the shared rank lists (identical
    // expressions on identical inputs — the fused list IS q163's)
    val rrf = rvFull
      .join(rt, rvFull("q_id") === rt("q_id") &&
        rvFull("vec_id") === rt("cand_id"), "left")
      .select(rvFull("q_id"), $"vec_id", $"rv", $"rt")
      .withColumn("rrf",
        lit(1.0) / (lit(RrfK) + $"rv") +
          coalesce(lit(1.0) / (lit(RrfK) + $"rt"), lit(0.0)))
      .withColumn("r6", floor($"rrf" * 1e6 + 0.5).cast("long"))
      .withColumn("r", row_number().over(
        Window.partitionBy($"q_id").orderBy($"r6".desc, $"vec_id")))
      .filter($"r" <= 5)
      .select($"q_id", $"vec_id".as("doc_id"), $"r")
    val mmr = mmrDiversify(s, dir, MmrK)
      .select($"q_id", $"doc_id", $"step".as("r"))
    val sys = bm.withColumn("system", lit("bm25"))
      .unionByName(rrf.withColumn("system", lit("rrf")))
      .unionByName(mmr.withColumn("system", lit("mmr")))
    val gain = element_at(array(NdcgGain6.map(lit(_)): _*), $"r")
    // score over the FULL systems × query-sample grid, zero-filled: a
    // query where a system returns no rows (e.g. BM25 with zero
    // candidate overlap) must score 0, not silently drop out of the
    // macro denominator and inflate the average (ADVICE r12)
    val grid = broadcast(qs)
      .crossJoin(Seq("bm25", "mmr", "rrf").toDF("system"))
    val perQ = grid.join(
        sys.join(rel, Seq("q_id", "doc_id"), "left")
          .groupBy($"system", $"q_id")
          .agg(sum(coalesce($"hit", lit(0L))).as("n_hits0"),
            sum(when($"hit".isNotNull, gain).otherwise(lit(0L)))
              .as("dcg60")),
        Seq("system", "q_id"), "left")
      .select($"system", $"q_id",
        coalesce($"n_hits0", lit(0L)).as("n_hits"),
        coalesce($"dcg60", lit(0L)).as("dcg6"))
      .localCheckpoint(true)
    val per = perQ.select($"system", $"q_id", $"n_hits",
      ($"n_hits" / lit(5.0)).as("recall5"),
      (floor($"dcg6" / lit(Idcg6.toDouble) * 1e6 + 0.5) / lit(1e6))
        .as("ndcg5"))
    val macroRow = perQ.groupBy($"system")
      .agg(sum($"n_hits").as("n_hits"), sum($"dcg6").as("sdcg6"),
        count(lit(1)).as("nq"))
      .select($"system", lit(-1L).as("q_id"), $"n_hits",
        ($"n_hits" / ($"nq" * lit(5.0))).as("recall5"),
        (floor($"sdcg6" / ($"nq" * lit(Idcg6.toDouble)) * 1e6 + 0.5) /
          lit(1e6)).as("ndcg5"))
    per.unionByName(macroRow).orderBy($"system", $"q_id")
  }

  private lazy val q174Sql = {
    val gainCase = NdcgGain6.zipWithIndex
      .map { case (g, i) => s"WHEN ${i + 1} THEN $g" }
      .mkString("CASE r ", " ", " ELSE 0 END")
    s"""WITH $bm25SqlCte,
       |rt AS (SELECT q_id, cand_id,
       |        row_number() OVER (PARTITION BY q_id
       |         ORDER BY bm6 DESC, cand_id) AS rt
       |       FROM bm),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |      FROM embeddings),
       |qv AS (SELECT vec_id AS q_id, v AS qv FROM e
       |       WHERE vec_id IN $retrSampleSql),
       |rv AS (SELECT q_id, vec_id,
       |        row_number() OVER (PARTITION BY q_id
       |         ORDER BY round(list_cosine_similarity(qv, v), 5) DESC,
       |                  vec_id) AS rv
       |       FROM qv JOIN e ON vec_id <> q_id),
       |rel AS (SELECT q_id, vec_id AS doc_id FROM rv WHERE rv <= 5),
       |bmtop AS (SELECT q_id, cand_id AS doc_id, rt AS r FROM rt
       |          WHERE rt <= 5),
       |fused AS (
       | SELECT rv.q_id, rv.vec_id, rv.rv, rt.rt,
       |  CAST(floor((1.0 / ($RrfK + rv.rv) +
       |    COALESCE(1.0 / ($RrfK + rt.rt), 0.0)) * 1000000 + 0.5)
       |   AS BIGINT) AS r6
       | FROM rv LEFT JOIN rt
       |  ON rv.q_id = rt.q_id AND rv.vec_id = rt.cand_id),
       |rrftop AS (
       | SELECT q_id, doc_id, rn AS r FROM (
       |  SELECT q_id, vec_id AS doc_id, row_number() OVER (
       |   PARTITION BY q_id ORDER BY r6 DESC, vec_id) AS rn
       |  FROM fused)
       | WHERE rn <= 5),
       |${mmrChainSql(MmrK)},
       |mmrtop AS (SELECT q_id, vec_id AS doc_id, step AS r
       |           FROM sel$MmrK),
       |sys AS (SELECT 'bm25' AS system, q_id, doc_id, r FROM bmtop
       |        UNION ALL
       |        SELECT 'rrf' AS system, q_id, doc_id, r FROM rrftop
       |        UNION ALL
       |        SELECT 'mmr' AS system, q_id, doc_id, r FROM mmrtop),
       |g AS (SELECT s.system, s.q_id, s.r,
       |       CASE WHEN rel.doc_id IS NOT NULL THEN 1 ELSE 0 END AS hit
       |      FROM sys s LEFT JOIN rel
       |       ON s.q_id = rel.q_id AND s.doc_id = rel.doc_id),
       |perq0 AS (SELECT system, q_id,
       |           CAST(sum(hit) AS BIGINT) AS n_hits,
       |           CAST(sum(hit * ($gainCase)) AS BIGINT) AS dcg6
       |          FROM g GROUP BY system, q_id),
       |grid AS (SELECT sy.system, qq.q_id
       |         FROM (SELECT unnest(['bm25', 'mmr', 'rrf']) AS system) sy
       |          CROSS JOIN (SELECT vec_id AS q_id FROM embeddings
       |                      WHERE vec_id IN $retrSampleSql) qq),
       |perq AS (SELECT grid.system, grid.q_id,
       |          CAST(coalesce(p.n_hits, 0) AS BIGINT) AS n_hits,
       |          CAST(coalesce(p.dcg6, 0) AS BIGINT) AS dcg6
       |         FROM grid LEFT JOIN perq0 p
       |          ON grid.system = p.system AND grid.q_id = p.q_id)
       |SELECT system, q_id, n_hits, recall5, ndcg5 FROM (
       | SELECT system, q_id, n_hits,
       |  n_hits / 5.0 AS recall5,
       |  floor(dcg6 / $Idcg6.0 * 1000000 + 0.5) / 1000000.0 AS ndcg5
       | FROM perq
       | UNION ALL
       | SELECT system, -1 AS q_id,
       |  CAST(sum(n_hits) AS BIGINT) AS n_hits,
       |  sum(n_hits) / (count(*) * 5.0) AS recall5,
       |  floor(sum(dcg6) / (count(*) * $Idcg6.0) * 1000000 + 0.5)
       |    / 1000000.0 AS ndcg5
       | FROM perq GROUP BY system)
       |ORDER BY system, q_id""".stripMargin
  }

  // ---------------------------------------------------------------
  // q179: LEAKAGE-SAFE SPLIT ASSIGNMENT — the FIX for what q170
  // audits: a train/test split that hashes each item independently
  // (q63's `vec_id % 5`) puts near-duplicates on opposite sides and
  // inflates every held-out metric; the group-aware split assigns
  // the WHOLE near-dup component to one fold. Pipeline: q53's
  // bucket-blocked candidate pairs at the q170 leak threshold
  // (cos ≥ 0.3) → connected components by iterative min-label
  // propagation (q44's loop, over embedding ids; singletons are
  // their own component) → fold = md5(component rep) % 5 → per-fold
  // census INCLUDING the recomputed leak count, which is zero BY
  // CONSTRUCTION and zero BY MEASUREMENT in the same result (the
  // audit column is computed from the pairs, not asserted).
  //
  // Scale: pair generation is q53's bounded bucket-block; the
  // propagation is one keyed shuffle per round over the PAIR-TOUCHED
  // nodes only (dup components are shallow — q44's diameter
  // argument), with singletons joined back afterwards; everything
  // else is a rollup. Oracle: recursive-CTE reachability closure.
  /** iterative min-label propagation over an undirected pair list
    * (id_a, id_b) → (node, lbl) where lbl = the component's minimum
    * node id. Edge-frame partitioning is a PARAMETER: the loop's
    * keyed shuffles must scale with the pair cardinality, not a
    * hard-coded test-SF constant (ADVICE r12) — SplitSpec pins that
    * the labeling is partition-count-invariant on a planted
    * two-component corpus. */
  private[graft] def connectedComponents(s: SparkSession, pairs: DataFrame,
      partitions: Int): DataFrame = {
    import s.implicits._
    val edges = pairs
      .select(explode(array(
        struct($"id_a".as("src"), $"id_b".as("dst")),
        struct($"id_b".as("src"), $"id_a".as("dst")))).as("ed"))
      .select($"ed.src", $"ed.dst")
      .repartition(partitions)
      .localCheckpoint(true)
    def propagate(labels: DataFrame): DataFrame = {
      val neigh = edges.join(labels, $"dst" === $"node")
        .groupBy($"src").agg(min($"lbl").as("nlbl"))
      labels.join(neigh, $"node" === $"src", "left")
        .select($"node", least($"lbl", coalesce($"nlbl", $"lbl")).as("lbl"))
    }
    var labels = (1 to 3).foldLeft(
      edges.select($"src".as("node")).distinct()
        .withColumn("lbl", $"node"))((l, _) => propagate(l))
      .localCheckpoint(true)
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
    labels
  }

  private def q179(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = q53Pairs(s, embeddings(s, dir))
      .filter($"cos" >= 0.30)
      .select($"id_a", $"id_b")
      .localCheckpoint(true)
    // size the propagation loop's parallelism from the (checkpointed,
    // so the count is free) pair cardinality — ~250k edges per task,
    // capped at the session width; a fixed tiny count was a 100 TB
    // serialization point, a fixed large one all scheduling overhead
    // at test SF
    val parts = math.min(
      pairs.count() * 2 / 250000L + 1L,
      s.sparkContext.defaultParallelism.toLong).toInt
    val labels = connectedComponents(s, pairs, parts)
    // singletons join back as their own component rep
    val comp = embeddings(s, dir).select($"vec_id")
      .join(labels, $"vec_id" === $"node", "left")
      .select($"vec_id", coalesce($"lbl", $"vec_id").as("rep"))
      .withColumn("fold",
        conv(substring(md5(concat(lit("q179:"), $"rep".cast("string"))),
          1, 8), 16, 10).cast("long") % 5)
      .localCheckpoint(true)
    // a leaking pair (cross-fold at the dedup threshold) counts under
    // BOTH folds it touches — attributing it to side a's fold alone
    // would underreport fold b if leaks were ever nonzero (ADVICE r12)
    val leaks = pairs
      .join(comp.select($"vec_id".as("id_a"), $"fold".as("fa")), "id_a")
      .join(comp.select($"vec_id".as("id_b"), $"fold".as("fb")), "id_b")
      .filter($"fa" =!= $"fb")
      .select(explode(array($"fa", $"fb")).as("fold"))
      .groupBy($"fold").agg(count(lit(1)).as("n_leak"))
    comp.groupBy($"fold")
      .agg(count(lit(1)).as("n_vecs"),
        countDistinct($"rep").as("n_components"),
        sum($"vec_id").as("vec_checksum"))
      .join(leaks, Seq("fold"), "left")
      .select($"fold", $"n_vecs", $"n_components", $"vec_checksum",
        coalesce($"n_leak", lit(0L)).as("n_leak"))
      .orderBy($"fold")
  }

  private lazy val q179Sql =
    s"""WITH RECURSIVE
       |e AS (SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS v
       |      FROM embeddings),
       |bk AS (SELECT label, vec_id, v, ${bucketSql("v")} AS bucket FROM e),
       |pairs AS (
       | SELECT a.vec_id AS id_a, c.vec_id AS id_b
       | FROM bk a JOIN bk c ON a.label = c.label AND a.bucket = c.bucket
       |  AND a.vec_id < c.vec_id
       | WHERE round(list_cosine_similarity(a.v, c.v), 5) >= 0.30),
       |edges AS (
       | SELECT id_a AS src, id_b AS dst FROM pairs
       | UNION SELECT id_b, id_a FROM pairs),
       |walk(node, r) AS (
       | SELECT src, src FROM edges
       | UNION
       | SELECT w.node, ed.dst FROM walk w JOIN edges ed ON w.r = ed.src),
       |reps AS (SELECT node, min(r) AS rep FROM walk GROUP BY node),
       |comp AS (
       | SELECT e.vec_id, coalesce(reps.rep, e.vec_id) AS rep,
       |  CAST(concat('0x', substr(md5(concat('q179:',
       |    CAST(coalesce(reps.rep, e.vec_id) AS VARCHAR))), 1, 8))
       |   AS BIGINT) % 5 AS fold
       | FROM e LEFT JOIN reps ON e.vec_id = reps.node),
       |leaks AS (
       | SELECT fold, CAST(count(*) AS BIGINT) AS n_leak FROM (
       |  SELECT unnest([ca.fold, cb.fold]) AS fold
       |  FROM pairs p
       |   JOIN comp ca ON p.id_a = ca.vec_id
       |   JOIN comp cb ON p.id_b = cb.vec_id
       |  WHERE ca.fold <> cb.fold)
       | GROUP BY fold)
       |SELECT c.fold, CAST(count(*) AS BIGINT) AS n_vecs,
       | CAST(count(DISTINCT c.rep) AS BIGINT) AS n_components,
       | CAST(sum(c.vec_id) AS BIGINT) AS vec_checksum,
       | CAST(coalesce(any_value(l.n_leak), 0) AS BIGINT) AS n_leak
       |FROM comp c LEFT JOIN leaks l ON c.fold = l.fold
       |GROUP BY c.fold ORDER BY c.fold""".stripMargin

  // ---------------------------------------------------------------
  // q180: RAG CONTEXT ASSEMBLY — the serving artifact the retrieval
  // stack exists to produce: for each query, take the q172
  // ANN-hybrid fused top-5 in rank order, include documents whole
  // while the running token total fits the context budget (rank-
  // order truncation — no doc splitting, the standard context
  // builder), and emit per query the docs used, tokens used, and
  // the md5 OF THE ASSEMBLED CONTEXT STRING itself — the gate pins
  // the final byte artifact, not just the ranking. Scale: the
  // ranking chain is q172's; the assembly adds one 5-row-per-query
  // join to documents and a bounded cumsum window — free.
  private val RagBudget = 256L

  private def q180(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fused = q172(s, dir).select($"q_id", $"rn", $"doc_id")
    val toks = documents(s, dir).select($"doc_id",
      size(split($"text", " ")).cast("long").as("n_tok"), $"text")
    val w = Window.partitionBy($"q_id").orderBy($"rn")
    // the fused top-5 (≤ RetrQK·5 rows) BROADCASTS against the corpus
    // text scan — without the hint an AQE miss would ship every doc's
    // text through a doc_id shuffle for a 40-row probe (ADVICE r12;
    // PlanShapeSpec locks the shape). Only matched rows (≤ 5/query)
    // carry text beyond the join.
    val packed = toks.join(broadcast(fused), "doc_id")
      .withColumn("cum", sum($"n_tok").over(w))
      .filter($"cum" <= RagBudget)
    packed.groupBy($"q_id")
      .agg(count(lit(1)).as("n_docs_used"),
        max($"cum").as("tokens_used"),
        md5(array_join(transform(
          sort_array(collect_list(struct($"rn", $"text"))),
          x => x("text")), " ")).as("context_md5"))
      .orderBy($"q_id")
  }

  private lazy val q180Sql =
    s"""WITH $annFusedSqlCte,
       |tk AS (SELECT doc_id,
       |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
       |        text
       |       FROM documents),
       |pk AS (
       | SELECT h.q_id, h.rn, tk.text, tk.n_tok,
       |  sum(tk.n_tok) OVER (PARTITION BY h.q_id ORDER BY h.rn) AS cum
       | FROM hyb h JOIN tk USING (doc_id))
       |SELECT q_id, CAST(count(*) AS BIGINT) AS n_docs_used,
       | CAST(max(cum) AS BIGINT) AS tokens_used,
       | md5(string_agg(text, ' ' ORDER BY rn)) AS context_md5
       |FROM pk WHERE cum <= $RagBudget
       |GROUP BY q_id ORDER BY q_id""".stripMargin

  // ---------------------------------------------------------------
  // q181: HYBRID RETRIEVAL FROM THE PERSISTED INDEX — the serving
  // path a deployment actually runs: q172 re-derives cell + PQ codes
  // from the raw corpus on every invocation (the index-BUILD cost in
  // every query); q181 reads the one-time cell-partitioned ivfadcIndex
  // artifact instead (AnnIndexSpec's layout, built once per corpus
  // snapshot — the bench-blob amortization), and the probe turns
  // into PARTITION PRUNING: the ≤ RetrQK·nprobe probed cells are a
  // bounded driver-side literal (the TrajectoryQueries one-bounded-
  // row precedent), so the index scan's PartitionFilters skip every
  // unprobed cell at the READER — nprobe/CELLS of the codes touched,
  // zero decode of the rest (PlanShapeSpec locks the pruned scan).
  // The measured bench delta q181 − q172 is the amortized build cost;
  // q181 itself is the marginal per-query serve cost PERF.md's
  // amortization note promises. Ranking is bit-identical to q172
  // (same codebook, rounding, tie-breaks), so the oracle is q172's.
  private[graft] val annIndex = graft.Artifacts[String]("ann_index")

  /** path of the cell-partitioned IVFADC index for `dir`'s corpus
    * (built on first use). */
  private[graft] def annIndexDir(s: SparkSession, dir: String): String =
    annIndex(s, dir, graft.Tables.fingerprint(s"$dir/embeddings.parquet")) {
      val out = graft.Scratch.tempDirDeletedOnExit("graft_annidx")
      ivfadcIndex(s, dir).write.mode("overwrite")
        .partitionBy("cell").parquet(s"$out/index")
      s"$out/index"
    }

  /** collect a BOUNDED serving frame ONCE and re-enter it as a local
    * relation: replaces the (localCheckpoint job + literal-collect
    * job) pattern with ONE collect — the scan-pushdown literals
    * derive from the collected rows in driver memory, and downstream
    * broadcast joins read driver-local rows with zero further jobs.
    * Round-14 measured q187's ~6 s floor as ~100% job scheduling
    * (flat across three data decades); fusing the serving collects
    * is the fix that analysis pointed at. Only valid for frames
    * bounded by QUERY COUNT (probe cells, probe terms, shortlists) —
    * never corpus-sized data. */
  private def localized(df: DataFrame)
      : (Array[org.apache.spark.sql.Row], DataFrame) = {
    val rows = df.collect()
    // enforce the bounded-frame contract at the call site (ADVICE
    // r15): serving frames are query-count-sized (≤ RetrQK · K ·
    // nprobe ≈ hundreds) — a future caller passing a corpus-sized
    // frame must fail HERE with a named contract, not later as a
    // driver OOM
    require(rows.length <= 16384,
      s"localized() is for query-count-bounded serving frames only; " +
        s"got ${rows.length} rows — this frame scales with data, " +
        s"keep it distributed")
    val local = df.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), df.schema)
    (rows, local)
  }

  private val statsRow = graft.Artifacts[org.apache.spark.sql.Row]("stats_row")

  /** inline a PERSISTED 1-row stats frame as plan literals, stored
    * per fingerprint: a serving tier bakes corpus constants
    * into the plan — each crossJoin(broadcast(stats)) is otherwise
    * one BroadcastExchange job (~85 ms pure scheduling, PERF.md's
    * measured q187 floor) per USE per serve, and the serve paths use
    * stats twice each. Values are identical (the literals ARE the
    * persisted stats row), so every fused gate's oracle is
    * untouched. */
  private def withStatsLits(s: SparkSession, path: String)(
      df: DataFrame): DataFrame = {
    val row = statsRow(s, path, graft.Tables.fingerprint(path))(
      graft.Tables.parquetCached(s, path).head())
    row.schema.fields.zipWithIndex.foldLeft(df) { case (d, (fl, i)) =>
      // fail LOUD on a name collision, like the crossJoin(broadcast)
      // this replaced would have (ADVICE r16): a stats schema gaining
      // a field named like an in-flight column (df, tf, ...) must not
      // silently overwrite it mid-plan
      require(!d.columns.contains(fl.name),
        s"withStatsLits($path): stats field '${fl.name}' collides " +
          "with an in-flight column — rename one side")
      d.withColumn(fl.name, lit(row.get(i)))
    }
  }

  private def q181(s: SparkSession, dir: String): DataFrame = {
    val qs = retrQuerySample(s, dir)
    // the vector and lexical branches are independent until fuseRanks,
    // and each branch's CONSTRUCTION runs bounded driver-side collect
    // jobs (query vectors + probed cells in the chain; probe terms
    // inside bm25RanksServed) — overlap the two chains (guide §2.6)
    val Seq(rv, rt) = graft.Scratch.parMap(Seq[() => DataFrame](
      // vector branch SERVED from the persisted index, read only in
      // the probed cells
      () => annRanks(s, dir, qs, Indexed(annIndexDir(s, dir))),
      // lexical branch SERVED from the persisted doc-postings index —
      // no corpus tokenize at serve time (row-identical to bm25Ranks;
      // the q172-shared oracle pins it)
      () => bm25RanksServed(s, dir)), 2)(_())
    fuseRanks(rv, rt)
  }

  // ---------------------------------------------------------------
  // q182: CHUNK-LEVEL RAG ASSEMBLY — q180 retrieves and packs WHOLE
  // documents, which is the wrong granularity when the relevant
  // passage hides inside an off-topic document (its doc-level BM25
  // drowns in the unrelated text's length normalization). q182
  // composes q155's overlapping-window chunking (W=64, S=48) with
  // the retrieval stack: every chunk is a scoring unit with its own
  // tf/dl against the CHUNK-level df/avgdl, probe terms come from
  // the query doc weighted by chunk-level idf, the top-20 chunks
  // rank-order budget-pack (q180's cumsum), and the gate pins the
  // per-query (doc_id, chunk_idx, start_tok) manifest WITH each
  // chunk's content md5 — the assembled context bytes, pinned at
  // chunk granularity (ChunkRetrievalSpec plants a relevant-chunk-
  // in-irrelevant-doc corpus and proves the granularity win).
  //
  // Scale: chunking is row-local fan-out (×W/S ≈ 1.33); the chunk
  // postings table is the ONLY materialization (slim (chunk, term,
  // tf) rows — the bm25Scores checkpoint discipline); chunk TEXT
  // never shuffles — the manifest pass hashes it at scan time and
  // ships 32-byte md5s (the q147/q155 slim-exchange discipline).
  private[graft] val ChunkW = 64   // q155's window
  private[graft] val ChunkS = 48   // q155's stride
  private val ChunkShortlist = 20
  private val ChunkBudget = 192L

  /** chunk-granularity BM25 rank list over any (doc_id, text) corpus
    * — factored so ChunkRetrievalSpec can run the planted corpus.
    * Returns (q_id, rn, doc_id, chunk_idx, bm6). */
  private[graft] def chunkRank(s: SparkSession, docs0: DataFrame,
      qids: DataFrame): DataFrame = {
    import s.implicits._
    val docs = docs0.select($"doc_id", split($"text", " ").as("t"))
      .withColumn("n_tok", size($"t").cast("long"))
    val chunkTerms = docs
      .withColumn("n_chunks", greatest(lit(1L),
        ceil(($"n_tok" - ChunkW).cast("double") / ChunkS) + 1))
      // _outer: dodge InferFiltersFromGenerate — the inferred
      // size(e)>0 filter re-inlines the whole chunk-slice transform
      // below the projection (measured 12x on q189's n-gram twin);
      // n_chunks >= 1 and slice bounds make both arrays non-empty
      .select($"doc_id", posexplode_outer(expr(
        s"""transform(sequence(0L, n_chunks - 1),
           |  i -> slice(t, CAST(i * $ChunkS + 1 AS INT), $ChunkW))"""
          .stripMargin)).as(Seq("ci", "ct")))
      .select($"doc_id", $"ci".cast("long").as("chunk_idx"),
        explode_outer($"ct").as("term"))
    // the chunk postings table: the one materialization (slim rows)
    val ctf = chunkTerms
      .groupBy($"doc_id", $"chunk_idx", $"term").agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    val cdl = ctf.groupBy($"doc_id", $"chunk_idx").agg(sum($"tf").as("dl"))
    val cdf = ctf.groupBy($"term").agg(count(lit(1)).as("df"))
    val stats = ctf.select($"doc_id", $"chunk_idx").distinct()
      .agg(count(lit(1)).as("n"))
      .crossJoin(cdl.agg(sum($"dl").as("toktot")))
    // probe terms: the query doc's top-QTerms by tf·ln(n/df) against
    // the CHUNK-level df (micro-unit int64 rank — q162's discipline)
    val qtf = docs.join(broadcast(qids), docs("doc_id") === qids("q_id"))
      .select($"q_id", explode($"t").as("term"))
      .groupBy($"q_id", $"term").agg(count(lit(1)).as("tf"))
    val qt = qtf.join(cdf, "term").crossJoin(broadcast(stats))
      .withColumn("w6", floor($"tf" * log($"n".cast("double") / $"df")
        * 1e6 + 0.5).cast("long"))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"q_id").orderBy($"w6".desc, $"term")))
      .filter($"rn" <= QTerms)
      .select($"q_id", $"term")
    broadcast(qt)
      .join(ctf, "term")
      .filter($"doc_id" =!= $"q_id")
      .join(cdf, "term")
      .join(cdl, Seq("doc_id", "chunk_idx"))
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + ($"n" - $"df" + lit(0.5)) / ($"df" + lit(0.5))))
      .withColumn("contrib",
        $"idf" * ($"tf" * lit(Bm25K1 + 1)) /
          ($"tf" + lit(Bm25K1) * (lit(1.0 - Bm25B) +
            lit(Bm25B) * ($"dl" * $"n").cast("double") / $"toktot")))
      .withColumn("c6", floor($"contrib" * 1e6 + 0.5).cast("long"))
      .groupBy($"q_id", $"doc_id", $"chunk_idx").agg(sum($"c6").as("bm6"))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"q_id")
          .orderBy($"bm6".desc, $"doc_id", $"chunk_idx")))
      .select($"q_id", $"rn", $"doc_id", $"chunk_idx", $"bm6")
  }

  /** chunk manifest (doc_id, chunk_idx, start_tok, chunk_len,
    * chunk_md5): offsets + content md5, hashed at scan time so only
    * 32-byte digests reach any join (q155's row-local spelling).
    * Shared by q182 and q185. */
  private def chunkManifest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    documents(s, dir)
      .select($"doc_id", split($"text", " ").as("t"))
      .withColumn("n_tok", size($"t").cast("long"))
      .withColumn("n_chunks", greatest(lit(1L),
        ceil(($"n_tok" - ChunkW).cast("double") / ChunkS) + 1))
      // _outer: dodge InferFiltersFromGenerate (see chunkCorpusTerms)
      .select($"doc_id", $"n_tok", posexplode_outer(expr(
        s"""transform(sequence(0L, n_chunks - 1), i -> named_struct(
           |  'start_tok', i * $ChunkS,
           |  'chunk_len', least(CAST($ChunkW AS BIGINT), n_tok - i * $ChunkS),
           |  'chunk_md5', md5(concat_ws(' ',
           |     slice(t, CAST(i * $ChunkS + 1 AS INT), $ChunkW)))))"""
          .stripMargin)).as(Seq("ci", "c")))
      .select($"doc_id", $"ci".cast("long").as("chunk_idx"),
        $"c.start_tok", $"c.chunk_len", $"c.chunk_md5")
  }

  private def q182(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ranked = chunkRank(s,
        documents(s, dir).select($"doc_id", $"text"),
        retrQuerySample(s, dir))
      .filter($"rn" <= ChunkShortlist)
    val w = Window.partitionBy($"q_id").orderBy($"rn")
    ranked.join(chunkManifest(s, dir), Seq("doc_id", "chunk_idx"))
      .withColumn("cum", sum($"chunk_len").over(w))
      .filter($"cum" <= ChunkBudget)
      .select($"q_id", $"rn", $"doc_id", $"chunk_idx", $"start_tok",
        $"chunk_len", $"chunk_md5", $"cum")
      .orderBy($"q_id", $"rn")
  }

  /** the chunk-corpus + chunk-BM25 oracle CTEs (no leading WITH),
    * every CTE name prefixed with `p` so the same spelling composes
    * standalone (q182, p = "") and alongside annFusedSqlCte (q185,
    * p = "ck" — the fused chain owns cd/st/qt etc.). Ends in
    * ${p}rk(q_id, doc_id, chunk_idx, bm6, rn) with ${p}ch (chunk
    * text/offsets) in scope. */
  /** just the chunk-CORPUS CTEs (tokenize → chunk → ctf/cdl/cdf/cst)
    * — the shared spelling the streaming index-maintenance oracle
    * (q188) composes without the query-side ranking CTEs. */
  private[graft] def chunkCorpusSqlCtes(p: String): String =
    chunkCorpusSqlCtesFrom(p, "documents")

  /** the chunk-corpus CTE chain over an arbitrary (doc_id, text)
    * source — q206's purge oracle runs it twice (full corpus vs
    * corpus − D) without drifting from the q182/q188 spelling. */
  private[graft] def chunkCorpusSqlCtesFrom(p: String, src: String): String =
    s"""${p}d AS (SELECT doc_id, string_split(text, ' ') AS t
       |           FROM $src),
       |${p}nn AS (SELECT doc_id, t, len(t) AS n_tok,
       |        greatest(1, CAST(ceil((len(t) - $ChunkW) / $ChunkS.0)
       |          AS BIGINT) + 1) AS n_chunks
       |       FROM ${p}d),
       |${p}ch AS (SELECT doc_id, i AS chunk_idx, i * $ChunkS AS start_tok,
       |        n_tok, t[i*$ChunkS+1 : i*$ChunkS+$ChunkW] AS ct
       |       FROM (SELECT doc_id, t, n_tok,
       |              unnest(generate_series(0, n_chunks - 1)) AS i
       |             FROM ${p}nn)),
       |${p}ctf AS (SELECT doc_id, chunk_idx, term, count(*) AS tf FROM (
       |         SELECT doc_id, chunk_idx, unnest(ct) AS term FROM ${p}ch)
       |        GROUP BY doc_id, chunk_idx, term),
       |${p}cdl AS (SELECT doc_id, chunk_idx, sum(tf) AS dl FROM ${p}ctf
       |        GROUP BY doc_id, chunk_idx),
       |${p}cdf AS (SELECT term, count(*) AS df FROM ${p}ctf GROUP BY term),
       |${p}cst AS (SELECT (SELECT count(*) FROM ${p}ch) AS n,
       |              (SELECT sum(dl) FROM ${p}cdl) AS toktot)""".stripMargin

  private def chunkSqlCtes(p: String): String =
    chunkSqlCtesFrom(p, "documents", retrSampleSql)

  /** the chunk-ranking chain over an arbitrary (doc_id, text) source
    * and query-sample subquery — q211's purged-serving oracle runs it
    * over corpus − D with the takedown-filtered sample, without
    * drifting from the q182/q185/q186 spelling. */
  private def chunkSqlCtesFrom(p: String, src: String,
      sample: String): String =
    s"""${chunkCorpusSqlCtesFrom(p, src)},
       |${p}qtf AS (SELECT doc_id AS q_id, term, count(*) AS tf FROM (
       |         SELECT doc_id, unnest(t) AS term FROM ${p}d
       |         WHERE doc_id IN $sample)
       |        GROUP BY doc_id, term),
       |${p}cqt AS (SELECT q_id, term FROM (
       |        SELECT ${p}qtf.q_id, ${p}qtf.term, row_number() OVER (
       |         PARTITION BY ${p}qtf.q_id ORDER BY
       |          CAST(floor(${p}qtf.tf * ln(CAST(${p}cst.n AS DOUBLE)
       |            / ${p}cdf.df)
       |           * 1000000 + 0.5) AS BIGINT) DESC, ${p}qtf.term) AS rn
       |        FROM ${p}qtf JOIN ${p}cdf USING (term) CROSS JOIN ${p}cst)
       |       WHERE rn <= $QTerms),
       |${p}bmc AS (SELECT q_id, doc_id, chunk_idx, sum(c6) AS bm6 FROM (
       |         SELECT ${p}cqt.q_id, ${p}ctf.doc_id, ${p}ctf.chunk_idx,
       |          CAST(floor(
       |           ln(1.0 + (CAST(${p}cst.n - ${p}cdf.df AS DOUBLE) + 0.5)
       |                   / (CAST(${p}cdf.df AS DOUBLE) + 0.5)) *
       |            (${p}ctf.tf * CAST(2.2 AS DOUBLE)) /
       |            (${p}ctf.tf + CAST(1.2 AS DOUBLE)
       |              * (CAST(0.25 AS DOUBLE) +
       |              CAST(0.75 AS DOUBLE)
       |                * CAST(${p}cdl.dl * ${p}cst.n AS DOUBLE)
       |                  / ${p}cst.toktot))
       |           * 1000000 + 0.5) AS BIGINT) AS c6
       |         FROM ${p}cqt JOIN ${p}ctf USING (term)
       |          JOIN ${p}cdf USING (term)
       |          JOIN ${p}cdl ON ${p}cdl.doc_id = ${p}ctf.doc_id
       |                  AND ${p}cdl.chunk_idx = ${p}ctf.chunk_idx
       |          CROSS JOIN ${p}cst
       |         WHERE ${p}ctf.doc_id <> ${p}cqt.q_id)
       |        GROUP BY q_id, doc_id, chunk_idx),
       |${p}rk AS (SELECT q_id, doc_id, chunk_idx, bm6,
       |        row_number() OVER (PARTITION BY q_id
       |         ORDER BY bm6 DESC, doc_id, chunk_idx) AS rn
       |       FROM ${p}bmc)""".stripMargin

  // ---------------------------------------------------------------
  // q211: TAKEDOWN-PURGED SERVING — the gate that closes q206's loop
  // at the SERVE path: after a takedown, the chunk index must serve
  // as if rebuilt from corpus − D — including the GLOBAL statistics
  // (chunk count, token total, per-term df) that BM25 scores depend
  // on — without any corpus re-scan. The purged artifact is the
  // persisted chunk-postings delta table ANTI-JOINED with the
  // tombstones (q206's compaction), and dict/df/dl/stats are
  // RECOMPUTED FROM THE PURGED ARTIFACT ITSELF (every chunk owns ≥ 1
  // posting row — even an empty-text doc posts its '' token — so the
  // artifact determines the stats exactly). Queries sample from the
  // non-purged ids (a taken-down doc must not be a query either).
  // Gate: the ranked shortlist (q_id, rn, doc_id, chunk_idx, bm6) is
  // hash-equal to the inline chunk chain recomputed by the oracle
  // over corpus − D — stale-stats drift is structurally ZERO, which
  // is the difference between this and a stats-unaware anti-join.
  //
  // Scale: the anti-join broadcasts |D|; the stat recomputes are
  // slim aggregations over the artifact (no text, no corpus); the
  // candidate walk is the proven q182 posture.
  private def q211(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val purgedDoc = StreamingQueries.Takedown.purged($"doc_id")
    val tomb = documents(s, dir).filter(purgedDoc).select($"doc_id")
    val ctf = graft.Tables.parquetCached(s, 
        StreamingQueries.purgeArtifactDir(s, dir) + "/chunk_postings")
      .select($"doc_id", $"chunk_idx", $"term", $"tf")
      .join(broadcast(tomb), Seq("doc_id"), "left_anti")
      .localCheckpoint(true) // consumed 4×: df, dl, stats, the walk
    val cdl = ctf.groupBy($"doc_id", $"chunk_idx").agg(sum($"tf").as("dl"))
    val cdf = ctf.groupBy($"term").agg(count(lit(1)).as("df"))
    val stats = ctf.select($"doc_id", $"chunk_idx").distinct()
      .agg(count(lit(1)).as("n"))
      .crossJoin(cdl.agg(sum($"dl").as("toktot")))
    val qids = purgedQuerySample(s, dir)
    // only the (non-purged) sample docs tokenize — q186's discipline
    val d = documents(s, dir).select($"doc_id", $"text")
    val qtf = d.join(broadcast(qids), d("doc_id") === qids("q_id"))
      .select($"q_id", explode(split($"text", " ")).as("term"))
      .groupBy($"q_id", $"term").agg(count(lit(1)).as("tf"))
    val qt = qtf.join(cdf, "term").crossJoin(broadcast(stats))
      .withColumn("w6", floor($"tf" * log($"n".cast("double") / $"df")
        * 1e6 + 0.5).cast("long"))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"q_id").orderBy($"w6".desc, $"term")))
      .filter($"rn" <= QTerms)
      .select($"q_id", $"term")
    broadcast(qt)
      .join(ctf, "term")
      .filter($"doc_id" =!= $"q_id")
      .join(cdf, "term")
      .join(cdl, Seq("doc_id", "chunk_idx"))
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + ($"n" - $"df" + lit(0.5)) / ($"df" + lit(0.5))))
      .withColumn("contrib",
        $"idf" * ($"tf" * lit(Bm25K1 + 1)) /
          ($"tf" + lit(Bm25K1) * (lit(1.0 - Bm25B) +
            lit(Bm25B) * ($"dl" * $"n").cast("double") / $"toktot")))
      .withColumn("c6", floor($"contrib" * 1e6 + 0.5).cast("long"))
      .groupBy($"q_id", $"doc_id", $"chunk_idx").agg(sum($"c6").as("bm6"))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"q_id")
          .orderBy($"bm6".desc, $"doc_id", $"chunk_idx")))
      .filter($"rn" <= ChunkShortlist)
      .select($"q_id", $"rn", $"doc_id", $"chunk_idx", $"bm6")
      .orderBy($"q_id", $"rn")
  }

  private lazy val q211Sql = {
    val purgedSampleSql =
      s"""(SELECT vec_id FROM embeddings
         | WHERE NOT (${StreamingQueries.Takedown.sql("vec_id")})
         | ORDER BY md5('q162:' || CAST(vec_id AS VARCHAR)), vec_id
         | LIMIT $RetrQK)""".stripMargin
    s"""WITH pd AS (SELECT doc_id, text FROM documents
       |       WHERE NOT (${StreamingQueries.Takedown.sql("doc_id")})),
       |${chunkSqlCtesFrom("pp", "pd", purgedSampleSql)}
       |SELECT q_id, rn, doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       | CAST(bm6 AS BIGINT) AS bm6
       |FROM pprk WHERE rn <= $ChunkShortlist
       |ORDER BY q_id, rn""".stripMargin
  }

  // ---------------------------------------------------------------
  // q212: TAKEDOWN-PURGED ANN SERVING — q211's vector twin: the
  // persisted cell-partitioned IVFADC index anti-joined with vec
  // tombstones serves EXACTLY like an index rebuilt over
  // embeddings − D. Unlike BM25 there are no global statistics to
  // re-derive — ADC scores are per-vector against the per-query LUT —
  // so purge ≡ rebuild needs only (a) the quantizer staying the
  // FROZEN trained model (codebook/centroids sampled from the
  // original corpus on both sides — a purge removes codes, it does
  // not retrain, q206's documented contract) and (b) queries sampled
  // from non-purged ids. The gate pins the exact top-5 (ADC shortlist
  // → exact cosine re-rank) against the oracle's rebuild over the
  // takedown-filtered code table.
  //
  // Scale: the tombstone anti-join broadcasts |D| against the
  // cell-partition-pruned index scan (the chain's Indexed codes);
  // everything downstream is the proven q118/q181 bounded posture.
  private def q212(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    servedIvfadc(s, dir, purgedQuerySample(s, dir), purgedAnnIndex(s, dir),
        IVFPQ_R, 5)
      .select($"q_id", $"rv".as("rn"), $"vec_id".as("neighbor_id"),
        $"sim")
      .orderBy($"q_id", $"rn")
  }

  /** the persisted IVFADC index minus the vec tombstones — the
    * takedown-serving family's codes (q212, q213, q214). */
  private def purgedAnnIndex(s: SparkSession, dir: String): AdcCodes = {
    import s.implicits._
    Indexed(annIndexDir(s, dir), Some(embeddings(s, dir).select($"vec_id")
      .filter(StreamingQueries.Takedown.purged($"vec_id"))))
  }

  private lazy val q212Sql = {
    val sample =
      s"""(SELECT vec_id FROM embeddings
         | WHERE NOT (${StreamingQueries.Takedown.sql("vec_id")})
         | ORDER BY md5('q162:' || CAST(vec_id AS VARCHAR)), vec_id
         | LIMIT $RetrQK)""".stripMargin
    val chain = maskChainSql("p", IVFPQ_NPROBE)
    val cells = (1 to IVFPQ_NPROBE).map(r => s"c$r").mkString("[", ", ", "]")
    s"""WITH ${pqPreambleSqlFor(sample)},
       |bc AS (SELECT vec_id, ${cellSql("v")} AS cell FROM e),
       |p1 AS (SELECT vec_id AS q_id, v AS qv, ${cellSql("v")} AS c1,
       |        ${cellScoresSql("v")} AS s1
       |       FROM e WHERE vec_id IN $sample),
       |$chain,
       |probed AS (SELECT q_id, unnest($cells) AS cell
       |           FROM p$IVFPQ_NPROBE),
       |ad AS (SELECT p.q_id, c.vec_id, round(sum(qd), 9) AS adist2
       |       FROM codes c
       |        JOIN bc ON c.vec_id = bc.vec_id
       |        JOIN probed p ON bc.cell = p.cell
       |        JOIN lut l ON p.q_id = l.q_id AND c.m = l.m AND c.j = l.j
       |       WHERE c.vec_id <> p.q_id
       |        AND NOT (${StreamingQueries.Takedown.sql("c.vec_id")})
       |       GROUP BY p.q_id, c.vec_id),
       |sl AS (SELECT q_id, vec_id FROM
       |        (SELECT q_id, vec_id, row_number() OVER
       |          (PARTITION BY q_id ORDER BY adist2, vec_id) AS ar
       |         FROM ad)
       |       WHERE ar <= $IVFPQ_R),
       |qvec AS (SELECT vec_id AS q_id, v AS qv FROM e
       |         WHERE vec_id IN $sample),
       |rr AS (SELECT sl.q_id, sl.vec_id,
       |        round(list_sum(list_transform(list_zip(qv, v),
       |          z -> CAST(z[1] * z[2] AS DOUBLE))), 5) AS sim
       |       FROM sl JOIN e USING (vec_id)
       |        JOIN qvec ON sl.q_id = qvec.q_id),
       |r AS (SELECT q_id, vec_id, sim,
       |       row_number() OVER (PARTITION BY q_id
       |                          ORDER BY sim DESC, vec_id) AS rn
       |      FROM rr)
       |SELECT q_id, rn, vec_id AS neighbor_id, sim FROM r
       |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin
  }

  // ---------------------------------------------------------------
  // q213: TAKEDOWN-PURGED HYBRID SERVING — the composition gate over
  // q211/q212's halves: the FULL q181 hybrid (persisted IVFADC index
  // + persisted doc-postings index + RRF fusion) served from
  // tombstone-purged artifacts equals the hybrid rebuilt over
  // corpus − D. The vector branch is q212's (frozen quantizer, no
  // stats); the lexical branch applies q211's exact re-stats at doc
  // granularity — df/n/toktot recomputed from the purged postings
  // artifact (dl rides denormalized and a doc's own length is
  // purge-invariant); queries sample from non-purged ids. Hash-equal
  // top-5 RRF output ⇒ the serving tier honors takedowns end to end
  // with zero corpus re-scan and zero drift.
  /** the COMPACTED purged doc-postings index: docIndexDir's artifact
    * tombstone-anti-joined once per (corpus, takedown set), with the
    * dictionary and global stats RE-DERIVED from the purged postings
    * (q211's exact re-stats at doc granularity) and re-persisted
    * term-sorted. This is the compaction job a takedown batch runs
    * ONCE — the serve path (q213) then reads purged artifacts at
    * q181's cost instead of re-aggregating per query. */
  private[graft] val purgedDocIndex =
    graft.Artifacts[String]("purged_doc_index")

  private[graft] def purgedDocIndexDir(s: SparkSession, dir: String)
      : String = {
    import s.implicits._
    purgedDocIndex(s, dir, docIndexDir(s, dir)) {
      val out = graft.Scratch.tempDirDeletedOnExit("graft_pdocidx")
      val tomb = documents(s, dir)
        .filter(StreamingQueries.Takedown.purged($"doc_id"))
        .select($"doc_id")
      val postings = graft.Tables.parquetCached(s, s"${docIndexDir(s, dir)}/postings")
        .join(broadcast(tomb), Seq("doc_id"), "left_anti")
        .localCheckpoint(true)
      postings.repartitionByRange($"term").sortWithinPartitions($"term")
        .write.mode("overwrite").parquet(s"$out/postings")
      postings.groupBy($"term").agg(count(lit(1)).as("df"))
        .write.mode("overwrite").parquet(s"$out/dict")
      postings.select($"doc_id", $"dl").distinct()
        .agg(count(lit(1)).as("n"), sum($"dl").as("toktot"))
        .write.mode("overwrite").parquet(s"$out/stats")
      out
    }
  }

  private def bm25RanksPurged(s: SparkSession, dir: String,
      qids: DataFrame): DataFrame = {
    import s.implicits._
    val idx = purgedDocIndexDir(s, dir)
    val postings = graft.Tables.parquetCached(s, s"$idx/postings")
    val dict = graft.Tables.parquetCached(s, s"$idx/dict")
    val d = documents(s, dir).select($"doc_id", $"text")
    val qtf = d.join(broadcast(qids), d("doc_id") === qids("q_id"))
      .select($"q_id", explode(split($"text", " ")).as("term"))
      .groupBy($"q_id", $"term").agg(count(lit(1)).as("tf"))
    val (qtRows, qt) = localized(qtf.join(dict, "term")
      .transform(withStatsLits(s, s"$idx/stats"))
      .withColumn("w6", floor($"tf" * log($"n".cast("double") / $"df")
        * 1e6 + 0.5).cast("long"))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"q_id").orderBy($"w6".desc, $"term")))
      .filter($"rn" <= QTerms)
      .select($"q_id", $"term", $"df"))
    val terms = qtRows.map(_.getString(1)).distinct.sorted
    postings.filter($"term".isin(terms: _*))
      .withColumnRenamed("doc_id", "cand_id")
      .join(broadcast(qt), "term")
      .filter($"cand_id" =!= $"q_id")
      .transform(withStatsLits(s, s"$idx/stats"))
      .withColumn("idf",
        log(lit(1.0) + ($"n" - $"df" + lit(0.5)) / ($"df" + lit(0.5))))
      .withColumn("contrib",
        $"idf" * ($"tf" * lit(Bm25K1 + 1)) /
          ($"tf" + lit(Bm25K1) * (lit(1.0 - Bm25B) +
            lit(Bm25B) * ($"dl" * $"n").cast("double") / $"toktot")))
      .withColumn("c6", floor($"contrib" * 1e6 + 0.5).cast("long"))
      .groupBy($"q_id", $"cand_id").agg(sum($"c6").as("bm6"))
      .withColumn("rt", row_number().over(
        Window.partitionBy($"q_id").orderBy($"bm6".desc, $"cand_id")))
      .select($"q_id", $"cand_id", $"rt")
  }

  /** the non-purged query sample shared by the whole takedown-serving
    * family (q211-q214): a taken-down doc must not be a query. */
  private def purgedQuerySample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    embeddings(s, dir).select($"vec_id")
      .filter(!StreamingQueries.Takedown.purged($"vec_id"))
      .withColumn("h", md5(concat(lit("q162:"), $"vec_id".cast("string"))))
      .orderBy($"h", $"vec_id").limit(RetrQK)
      .select($"vec_id".as("q_id"))
  }

  /** q213's fused hybrid over purged artifacts — factored so q214's
    * fully-served RAG can take it as the doc-shortlist stage. */
  private[graft] def purgedHybrid(s: SparkSession, dir: String): DataFrame = {
    val qs = purgedQuerySample(s, dir)
    // vector and lexical branches are independent until fuseRanks —
    // overlap their construction-time collect jobs (guide §2.6, the
    // q181 spelling)
    val Seq(rv, rt) = graft.Scratch.parMap(Seq[() => DataFrame](
      () => annRanks(s, dir, qs, purgedAnnIndex(s, dir)),
      () => bm25RanksPurged(s, dir, qs)), 2)(_())
    fuseRanks(rv, rt)
  }

  private def q213(s: SparkSession, dir: String): DataFrame =
    purgedHybrid(s, dir)

  // ---------------------------------------------------------------
  // q214: TAKEDOWN-PURGED FULLY-SERVED RAG — the capstone of the
  // takedown-serving family: q187's complete composition (served doc
  // shortlist → served chunk re-rank → served manifest pack) with
  // EVERY artifact tombstone-purged and every global statistic
  // re-derived from the purged artifact itself — hash-equal to the
  // whole RAG pipeline rebuilt over corpus − D. Stage 1 is q213's
  // purged hybrid; stage 2/3 read the COMPACTED purged chunk index
  // (postings anti-joined + df/n/toktot re-derived + manifest
  // anti-joined, re-persisted sorted — the once-per-takedown-batch
  // job); chunk offsets/md5s are doc-local so
  // purge-invariant for kept docs. A serving tier that passes this
  // gate provably honors takedowns END TO END — retrieval, ranking,
  // statistics, and the packed context — with zero corpus re-scan.
  private[graft] val purgedChunkIndex =
    graft.Artifacts[String]("purged_chunk_index")

  private[graft] def purgedChunkIndexDir(s: SparkSession, dir: String)
      : String = {
    import s.implicits._
    val base = chunkIndexDir(s, dir)
    purgedChunkIndex(s, dir, base) {
      val out = graft.Scratch.tempDirDeletedOnExit("graft_pchunkidx")
      val tomb = documents(s, dir)
        .filter(StreamingQueries.Takedown.purged($"doc_id"))
        .select($"doc_id")
      val postings = graft.Tables.parquetCached(s, s"$base/postings")
        .join(broadcast(tomb), Seq("doc_id"), "left_anti")
        .localCheckpoint(true)
      postings.repartitionByRange($"term").sortWithinPartitions($"term")
        .write.mode("overwrite").parquet(s"$out/postings")
      postings.groupBy($"term").agg(count(lit(1)).as("df"))
        .write.mode("overwrite").parquet(s"$out/dict")
      postings.select($"doc_id", $"chunk_idx", $"dl").distinct()
        .agg(count(lit(1)).as("n"), sum($"dl").as("toktot"))
        .write.mode("overwrite").parquet(s"$out/stats")
      graft.Tables.parquetCached(s, s"$base/manifest")
        .join(broadcast(tomb), Seq("doc_id"), "left_anti")
        .repartitionByRange($"doc_id").sortWithinPartitions($"doc_id")
        .write.mode("overwrite").parquet(s"$out/manifest")
      out
    }
  }

  private def q214(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val idx = purgedChunkIndexDir(s, dir)
    val dict = graft.Tables.parquetCached(s, s"$idx/dict")
    val qids = purgedQuerySample(s, dir)
    // stage 1 — the purged served doc shortlist (q213); stage 2 —
    // probe terms vs the purged dictionary. Independent bounded
    // collects — overlap them (guide §2.6, the q187 spelling).
    val Seq((hybRows, hyb), (qtRows, qt)) = graft.Scratch.parMap(
      Seq[() => (Array[org.apache.spark.sql.Row], DataFrame)](
      () => localized(purgedHybrid(s, dir)
        .select($"q_id", $"rn".as("doc_rank"), $"doc_id")),
      () => {
        val d = documents(s, dir).select($"doc_id", $"text")
        val qtf = d.join(broadcast(qids), d("doc_id") === qids("q_id"))
          .select($"q_id", explode(split($"text", " ")).as("term"))
          .groupBy($"q_id", $"term").agg(count(lit(1)).as("tf"))
        localized(qtf.join(dict, "term")
          .transform(withStatsLits(s, s"$idx/stats"))
          .withColumn("w6", floor($"tf" * log($"n".cast("double") / $"df")
            * 1e6 + 0.5).cast("long"))
          .withColumn("rn", row_number().over(
            Window.partitionBy($"q_id").orderBy($"w6".desc, $"term")))
          .filter($"rn" <= QTerms)
          .select($"q_id", $"term", $"df"))
      }), 2)(_())
    val docIds = hybRows.map(_.getLong(2)).distinct.sorted
    val docLits = docIds.map(java.lang.Long.valueOf)
    val terms = qtRows.map(_.getString(1)).distinct.sorted
    // stage 3 — purged postings walk, BOTH pushdowns
    val scored = graft.Tables.parquetCached(s, s"$idx/postings")
      .filter($"term".isin(terms: _*) && $"doc_id".isin(docLits: _*))
      .join(broadcast(qt), "term")
      .filter($"doc_id" =!= $"q_id")
      .transform(withStatsLits(s, s"$idx/stats"))
      .withColumn("idf",
        log(lit(1.0) + ($"n" - $"df" + lit(0.5)) / ($"df" + lit(0.5))))
      .withColumn("contrib",
        $"idf" * ($"tf" * lit(Bm25K1 + 1)) /
          ($"tf" + lit(Bm25K1) * (lit(1.0 - Bm25B) +
            lit(Bm25B) * ($"dl" * $"n").cast("double") / $"toktot")))
      .withColumn("c6", floor($"contrib" * 1e6 + 0.5).cast("long"))
      .groupBy($"q_id", $"doc_id", $"chunk_idx").agg(sum($"c6").as("bm6"))
    val within = scored.join(broadcast(hyb), Seq("q_id", "doc_id"))
      .withColumn("crn", row_number().over(
        Window.partitionBy($"q_id")
          .orderBy($"bm6".desc, $"doc_id", $"chunk_idx")))
    // stage 4 — purged manifest pack
    val manifest = graft.Tables.parquetCached(s, s"$idx/manifest")
      .filter($"doc_id".isin(docLits: _*))
    within.join(manifest, Seq("doc_id", "chunk_idx"))
      .withColumn("cum", sum($"chunk_len").over(
        Window.partitionBy($"q_id").orderBy($"crn")))
      .filter($"cum" <= ChunkBudget)
      .select($"q_id", $"crn".as("rn"), $"doc_id", $"doc_rank",
        $"chunk_idx", $"start_tok", $"chunk_len", $"chunk_md5", $"cum")
      .orderBy($"q_id", $"rn")
  }

  private lazy val q214Sql = {
    val sample =
      s"""(SELECT vec_id FROM embeddings
         | WHERE NOT (${StreamingQueries.Takedown.sql("vec_id")})
         | ORDER BY md5('q162:' || CAST(vec_id AS VARCHAR)), vec_id
         | LIMIT $RetrQK)""".stripMargin
    val adExtra =
      s"\n       AND NOT (${StreamingQueries.Takedown.sql("c.vec_id")})"
    s"""WITH pdx AS (SELECT doc_id, text FROM documents
       |        WHERE NOT (${StreamingQueries.Takedown.sql("doc_id")})),
       |${annFusedSqlCteFrom(sample, adExtra, bm25SqlCteFrom("pdx", sample))},
       |${chunkSqlCtesFrom("ck", "pdx", sample)},
       |wr AS (SELECT ckrk.q_id, h.rn AS doc_rank, ckrk.doc_id,
       |        ckrk.chunk_idx,
       |        row_number() OVER (PARTITION BY ckrk.q_id
       |         ORDER BY ckrk.bm6 DESC, ckrk.doc_id, ckrk.chunk_idx)
       |          AS crn
       |       FROM ckrk JOIN hyb h
       |        ON ckrk.q_id = h.q_id AND ckrk.doc_id = h.doc_id),
       |pk AS (SELECT wr.q_id, wr.crn AS rn, wr.doc_id,
       |        CAST(wr.doc_rank AS BIGINT) AS doc_rank,
       |        CAST(wr.chunk_idx AS BIGINT) AS chunk_idx,
       |        CAST(ckch.start_tok AS BIGINT) AS start_tok,
       |        CAST(least($ChunkW, ckch.n_tok - ckch.chunk_idx * $ChunkS)
       |          AS BIGINT) AS chunk_len,
       |        md5(array_to_string(ckch.ct, ' ')) AS chunk_md5,
       |        CAST(sum(least($ChunkW,
       |          ckch.n_tok - ckch.chunk_idx * $ChunkS))
       |         OVER (PARTITION BY wr.q_id ORDER BY wr.crn) AS BIGINT)
       |          AS cum
       |       FROM wr JOIN ckch ON wr.doc_id = ckch.doc_id
       |                        AND wr.chunk_idx = ckch.chunk_idx)
       |SELECT q_id, rn, doc_id, doc_rank, chunk_idx, start_tok,
       | chunk_len, chunk_md5, cum
       |FROM pk WHERE cum <= $ChunkBudget ORDER BY q_id, rn""".stripMargin
  }

  private lazy val q213Sql = {
    val sample =
      s"""(SELECT vec_id FROM embeddings
         | WHERE NOT (${StreamingQueries.Takedown.sql("vec_id")})
         | ORDER BY md5('q162:' || CAST(vec_id AS VARCHAR)), vec_id
         | LIMIT $RetrQK)""".stripMargin
    val adExtra =
      s"\n       AND NOT (${StreamingQueries.Takedown.sql("c.vec_id")})"
    s"""WITH pdx AS (SELECT doc_id, text FROM documents
       |        WHERE NOT (${StreamingQueries.Takedown.sql("doc_id")})),
       |${annFusedSqlCteFrom(sample, adExtra, bm25SqlCteFrom("pdx", sample))}
       |SELECT q_id, rn, doc_id, r6 / 1000000.0 AS rrf,
       | rv AS vec_rank, rt AS text_rank
       |FROM hyb ORDER BY q_id, rn""".stripMargin
  }

  private lazy val q182Sql =
    s"""WITH ${chunkSqlCtes("")},
       |pk AS (SELECT rk.q_id, rk.rn, rk.doc_id,
       |        CAST(rk.chunk_idx AS BIGINT) AS chunk_idx,
       |        CAST(ch.start_tok AS BIGINT) AS start_tok,
       |        CAST(least($ChunkW, ch.n_tok - ch.chunk_idx * $ChunkS)
       |          AS BIGINT) AS chunk_len,
       |        md5(array_to_string(ch.ct, ' ')) AS chunk_md5,
       |        CAST(sum(least($ChunkW, ch.n_tok - ch.chunk_idx * $ChunkS))
       |         OVER (PARTITION BY rk.q_id ORDER BY rk.rn) AS BIGINT) AS cum
       |       FROM rk JOIN ch ON rk.doc_id = ch.doc_id
       |                      AND rk.chunk_idx = ch.chunk_idx
       |       WHERE rk.rn <= $ChunkShortlist)
       |SELECT q_id, rn, doc_id, chunk_idx, start_tok, chunk_len,
       | chunk_md5, cum
       |FROM pk WHERE cum <= $ChunkBudget ORDER BY q_id, rn""".stripMargin

  // ---------------------------------------------------------------
  // q185: ANN-PREFILTERED CHUNK RETRIEVAL — the end-to-end serving
  // composition production RAG actually runs, closing the loop
  // between q172/q181 (retrieve DOCUMENTS at index scale) and q182
  // (rank PASSAGES): candidate chunks are restricted to the fused
  // hybrid top-5 documents per query, re-ranked by the chunk-level
  // BM25 score against the GLOBAL chunk statistics (tf/df/avgdl are
  // index-time artifacts — a serve-time restriction must not change
  // the scoring model), and budget-packed into the provenance
  // manifest carrying BOTH ranks (the doc's fusion rank + the
  // chunk's rank within the restriction). A chunk of a retrieved
  // doc sharing no probe term is absent by construction (it was
  // never scored) — the candidate set is the postings walk
  // intersected with the doc shortlist, both bounded.
  //
  // Scale: the chunk postings table is the one materialization
  // (shared spelling with q182); the restriction join broadcasts
  // the ≤ RetrQK·5-row fused list; everything downstream is
  // ≤ 5-docs-per-query bounded.
  private def q185(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the doc shortlist comes from the SERVED path (q181's persisted
    // partition-pruned index — ranking row-identical to q172, which
    // is why the oracle reuses the fused-chain CTEs), not the inline
    // build: this gate is the full serving composition end to end.
    // The shortlist chain and the inline chunk ranking are
    // independent until the stage-3 join, and each runs driver-side
    // materialization jobs during construction (q181's bounded
    // collects; chunkRank's ctf checkpoint) — overlap them (§2.6).
    val Seq(hyb, ranked) = graft.Scratch.parMap(Seq[() => DataFrame](
      () => q181(s, dir)
        .select($"q_id", $"rn".as("doc_rank"), $"doc_id"),
      () => chunkRank(s,
        documents(s, dir).select($"doc_id", $"text"),
        retrQuerySample(s, dir))), 2)(_())
    val within = ranked.join(broadcast(hyb), Seq("q_id", "doc_id"))
      .withColumn("crn", row_number().over(
        Window.partitionBy($"q_id")
          .orderBy($"bm6".desc, $"doc_id", $"chunk_idx")))
    within.join(chunkManifest(s, dir), Seq("doc_id", "chunk_idx"))
      .withColumn("cum", sum($"chunk_len").over(
        Window.partitionBy($"q_id").orderBy($"crn")))
      .filter($"cum" <= ChunkBudget)
      .select($"q_id", $"crn".as("rn"), $"doc_id", $"doc_rank",
        $"chunk_idx", $"start_tok", $"chunk_len", $"chunk_md5", $"cum")
      .orderBy($"q_id", $"rn")
  }

  private lazy val q185Sql =
    s"""WITH $annFusedSqlCte,
       |${chunkSqlCtes("ck")},
       |wr AS (SELECT ckrk.q_id, h.rn AS doc_rank, ckrk.doc_id,
       |        ckrk.chunk_idx,
       |        row_number() OVER (PARTITION BY ckrk.q_id
       |         ORDER BY ckrk.bm6 DESC, ckrk.doc_id, ckrk.chunk_idx)
       |          AS crn
       |       FROM ckrk JOIN hyb h
       |        ON ckrk.q_id = h.q_id AND ckrk.doc_id = h.doc_id),
       |pk AS (SELECT wr.q_id, wr.crn AS rn, wr.doc_id,
       |        CAST(wr.doc_rank AS BIGINT) AS doc_rank,
       |        CAST(wr.chunk_idx AS BIGINT) AS chunk_idx,
       |        CAST(ckch.start_tok AS BIGINT) AS start_tok,
       |        CAST(least($ChunkW, ckch.n_tok - ckch.chunk_idx * $ChunkS)
       |          AS BIGINT) AS chunk_len,
       |        md5(array_to_string(ckch.ct, ' ')) AS chunk_md5,
       |        CAST(sum(least($ChunkW,
       |          ckch.n_tok - ckch.chunk_idx * $ChunkS))
       |         OVER (PARTITION BY wr.q_id ORDER BY wr.crn) AS BIGINT)
       |          AS cum
       |       FROM wr JOIN ckch ON wr.doc_id = ckch.doc_id
       |                        AND wr.chunk_idx = ckch.chunk_idx)
       |SELECT q_id, rn, doc_id, doc_rank, chunk_idx, start_tok,
       | chunk_len, chunk_md5, cum
       |FROM pk WHERE cum <= $ChunkBudget ORDER BY q_id, rn""".stripMargin

  // ---------------------------------------------------------------
  // q186: CHUNK RETRIEVAL FROM THE PERSISTED POSTINGS INDEX — the
  // lexical mirror of q181: q182/q185 rebuild the chunk postings
  // table (tokenize → chunk → aggregate) on every run; q186 reads
  // the one-time persisted chunk index instead. Layout (the Lucene
  // norms idea): postings rows are DENORMALIZED to (doc_id,
  // chunk_idx, term, tf, dl) so scoring needs no per-chunk length
  // join; the term dictionary (term, df) and the 1-row corpus stats
  // (n, toktot) persist beside them. The serve path tokenizes ONLY
  // the RetrQK sample docs for query tf, selects probe terms
  // against the persisted dictionary, and pulls the ≤ RetrQK·QTerms
  // DISTINCT probe terms as literals — so the postings scan carries
  // `PushedFilters: In(term, ...)` and row-group min/max statistics
  // skip everything else (PlanShapeSpec lock). Ranking is
  // row-identical to q182 (same counts, same micro-unit arithmetic
  // — ChunkIndexSpec pins equality), so the oracle is q182's.
  private[graft] val chunkIndex = graft.Artifacts[String]("chunk_index")

  /** the chunk corpus as (doc_id, chunk_idx, term) rows — the one
    * tokenize+chunk fan-out pass, shared by the inline ranker and
    * the index build. */
  private def chunkTermRows(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.select($"doc_id", split($"text", " ").as("t"))
      .withColumn("n_tok", size($"t").cast("long"))
      .withColumn("n_chunks", greatest(lit(1L),
        ceil(($"n_tok" - ChunkW).cast("double") / ChunkS) + 1))
      // _outer: dodge InferFiltersFromGenerate (see chunkCorpusTerms)
      .select($"doc_id", posexplode_outer(expr(
        s"""transform(sequence(0L, n_chunks - 1),
           |  i -> slice(t, CAST(i * $ChunkS + 1 AS INT), $ChunkW))"""
          .stripMargin)).as(Seq("ci", "ct")))
      .select($"doc_id", $"ci".cast("long").as("chunk_idx"),
        explode_outer($"ct").as("term"))
  }

  /** path of the persisted chunk postings index for `dir`'s corpus
    * (built on first use). */
  private[graft] def chunkIndexDir(s: SparkSession, dir: String): String = {
    import s.implicits._
    chunkIndex(s, dir, graft.Tables.fingerprint(s"$dir/documents.parquet")) {
      val out = graft.Scratch.tempDirDeletedOnExit("graft_chunkidx")
      val ctf = chunkTermRows(documents(s, dir).select($"doc_id", $"text"))
        .groupBy($"doc_id", $"chunk_idx", $"term")
        .agg(count(lit(1)).as("tf"))
        .localCheckpoint(true)
      val cdl = ctf.groupBy($"doc_id", $"chunk_idx").agg(sum($"tf").as("dl"))
      // postings denormalize the chunk length (Lucene's norms):
      // scoring reads one table, no per-chunk join at serve time.
      // Rows are range-clustered and sorted BY TERM so the serve
      // path's In(term) PushedFilter actually skips row groups via
      // parquet min/max statistics — an unsorted postings file makes
      // every row group straddle the whole term range and the
      // pushdown degenerates to a full decode.
      ctf.join(cdl, Seq("doc_id", "chunk_idx"))
        .select($"doc_id", $"chunk_idx", $"term", $"tf", $"dl")
        .repartitionByRange($"term").sortWithinPartitions($"term")
        .write.mode("overwrite").parquet(s"$out/postings")
      ctf.groupBy($"term").agg(count(lit(1)).as("df"))
        .write.mode("overwrite").parquet(s"$out/dict")
      ctf.select($"doc_id", $"chunk_idx").distinct()
        .agg(count(lit(1)).as("n"))
        .crossJoin(cdl.agg(sum($"dl").as("toktot")))
        .write.mode("overwrite").parquet(s"$out/stats")
      // the chunk MANIFEST (offsets + content md5) persists beside the
      // postings, doc_id-clustered: the serve path joins its bounded
      // shortlist against this artifact with an In(doc_id) pushdown
      // instead of re-chunking the corpus (pre-manifest q186 spent a
      // full tokenize+chunk+md5 corpus pass per query on this join)
      chunkManifest(s, dir)
        .repartitionByRange($"doc_id").sortWithinPartitions($"doc_id")
        .write.mode("overwrite").parquet(s"$out/manifest")
      out
    }
  }

  private def q186(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val idx = chunkIndexDir(s, dir)
    val postings = graft.Tables.parquetCached(s, s"$idx/postings")
    val dict = graft.Tables.parquetCached(s, s"$idx/dict")
    val qids = retrQuerySample(s, dir)
    // query tf: tokenize ONLY the sample docs (filter before explode)
    val d = documents(s, dir).select($"doc_id", $"text")
    val qtf = d.join(broadcast(qids), d("doc_id") === qids("q_id"))
      .select($"q_id", explode(split($"text", " ")).as("term"))
      .groupBy($"q_id", $"term").agg(count(lit(1)).as("tf"))
    // probe terms against the persisted dictionary — qt carries df so
    // scoring needs no second dictionary join; ONE job (localized:
    // the ≤ RetrQK·QTerms rows re-enter as a local relation)
    val (qtRows, qt) = localized(qtf.join(dict, "term")
      .transform(withStatsLits(s, s"$idx/stats"))
      .withColumn("w6", floor($"tf" * log($"n".cast("double") / $"df")
        * 1e6 + 0.5).cast("long"))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"q_id").orderBy($"w6".desc, $"term")))
      .filter($"rn" <= QTerms)
      .select($"q_id", $"term", $"df"))
    // the distinct probe terms are BOUNDED (≤ RetrQK·QTerms) —
    // literals push the filter into the postings scan
    val terms = qtRows.map(_.getString(1)).distinct.sorted
    val ranked = postings.filter($"term".isin(terms: _*))
      .join(broadcast(qt), "term")
      .filter($"doc_id" =!= $"q_id")
      .transform(withStatsLits(s, s"$idx/stats"))
      .withColumn("idf",
        log(lit(1.0) + ($"n" - $"df" + lit(0.5)) / ($"df" + lit(0.5))))
      .withColumn("contrib",
        $"idf" * ($"tf" * lit(Bm25K1 + 1)) /
          ($"tf" + lit(Bm25K1) * (lit(1.0 - Bm25B) +
            lit(Bm25B) * ($"dl" * $"n").cast("double") / $"toktot")))
      .withColumn("c6", floor($"contrib" * 1e6 + 0.5).cast("long"))
      .groupBy($"q_id", $"doc_id", $"chunk_idx").agg(sum($"c6").as("bm6"))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"q_id")
          .orderBy($"bm6".desc, $"doc_id", $"chunk_idx")))
      .filter($"rn" <= ChunkShortlist)
    // offsets + md5s come from the PERSISTED manifest (not a corpus
    // re-chunk): the ≤ RetrQK·ChunkShortlist shortlist docs are a
    // bounded literal set, so the manifest reader skips every other
    // doc's row groups via the In(doc_id) pushdown (the artifact is
    // doc_id-sorted at build time for exactly this). `ranked` stays
    // LAZY — this collect re-runs the probe-term postings walk (a
    // term-pruned scan over ≤ RetrQK·QTerms row-group ranges), which
    // costs less than checkpointing would hide: keeping the plan
    // lazy keeps the In(term) pushdown in the SERVED query's own
    // plan, where PlanShapeSpec locks it
    val docIds = ranked.select($"doc_id").distinct().collect()
      .map(_.getLong(0)).sorted
    val manifest = graft.Tables.parquetCached(s, s"$idx/manifest")
      .filter($"doc_id".isin(docIds.map(java.lang.Long.valueOf): _*))
    val w = Window.partitionBy($"q_id").orderBy($"rn")
    ranked.join(manifest, Seq("doc_id", "chunk_idx"))
      .withColumn("cum", sum($"chunk_len").over(w))
      .filter($"cum" <= ChunkBudget)
      .select($"q_id", $"rn", $"doc_id", $"chunk_idx", $"start_tok",
        $"chunk_len", $"chunk_md5", $"cum")
      .orderBy($"q_id", $"rn")
  }

  // ---------------------------------------------------------------
  // q187: FULLY-SERVED RAG — the composition a production serving
  // tier actually deploys, with EVERY retrieval stage reading a
  // persisted artifact and nothing rebuilt inline: the doc shortlist
  // is q181's (cell-partition-pruned IVFADC index), the chunk
  // re-rank reads the persisted postings (In(term) pushdown against
  // the term-sorted artifact) restricted to the shortlist docs
  // (In(doc_id) pushdown — the ≤ RetrQK·5 fused docs are a bounded
  // literal set), and the offsets/md5s come from the persisted
  // doc_id-sorted manifest. Semantics are row-identical to q185
  // (same global chunk stats from the index's stats table, same
  // micro-unit arithmetic, same tie-breaks), so the oracle is
  // q185's. PERF.md's serving-economics table reports the measured
  // marginal cost vs the inline q185.
  //
  // Scale: at serve time NO pass touches the corpus beyond the
  // RetrQK sample docs' tokenize — the scans are (a) probed index
  // cells, (b) probe-term postings row groups ∩ shortlist docs,
  // (c) shortlist docs' manifest row groups; all three bounded by
  // query count, not corpus size.
  private def q187(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val idx = chunkIndexDir(s, dir)
    val dict = graft.Tables.parquetCached(s, s"$idx/dict")
    val qids = retrQuerySample(s, dir)
    // stage 1 — the SERVED doc shortlist (≤ RetrQK·5 rows): rows
    // re-entering as a local relation so the fused doc set is both
    // the stage-2 scan literals and the stage-3 broadcast side.
    // stage 2 — probe terms against the persisted dictionary (only
    // the sample docs tokenize; qt carries df). The two stages are
    // independent bounded collects — overlap them (guide §2.6).
    val Seq((hybRows, hyb), (qtRows, qt)) = graft.Scratch.parMap(
      Seq[() => (Array[org.apache.spark.sql.Row], DataFrame)](
      () => localized(q181(s, dir)
        .select($"q_id", $"rn".as("doc_rank"), $"doc_id")),
      () => {
        val d = documents(s, dir).select($"doc_id", $"text")
        val qtf = d.join(broadcast(qids), d("doc_id") === qids("q_id"))
          .select($"q_id", explode(split($"text", " ")).as("term"))
          .groupBy($"q_id", $"term").agg(count(lit(1)).as("tf"))
        localized(qtf.join(dict, "term")
          .transform(withStatsLits(s, s"$idx/stats"))
          .withColumn("w6", floor($"tf" * log($"n".cast("double") / $"df")
            * 1e6 + 0.5).cast("long"))
          .withColumn("rn", row_number().over(
            Window.partitionBy($"q_id").orderBy($"w6".desc, $"term")))
          .filter($"rn" <= QTerms)
          .select($"q_id", $"term", $"df"))
      }), 2)(_())
    val docIds = hybRows.map(_.getLong(2)).distinct.sorted
    val docLits = docIds.map(java.lang.Long.valueOf)
    val terms = qtRows.map(_.getString(1)).distinct.sorted
    // stage 3 — postings walk: BOTH pushdowns (probe terms × fused
    // docs); scoring uses the index's GLOBAL stats, so restricting
    // the candidate rows cannot change any surviving chunk's score
    val scored = graft.Tables.parquetCached(s, s"$idx/postings")
      .filter($"term".isin(terms: _*) && $"doc_id".isin(docLits: _*))
      .join(broadcast(qt), "term")
      .filter($"doc_id" =!= $"q_id")
      .transform(withStatsLits(s, s"$idx/stats"))
      .withColumn("idf",
        log(lit(1.0) + ($"n" - $"df" + lit(0.5)) / ($"df" + lit(0.5))))
      .withColumn("contrib",
        $"idf" * ($"tf" * lit(Bm25K1 + 1)) /
          ($"tf" + lit(Bm25K1) * (lit(1.0 - Bm25B) +
            lit(Bm25B) * ($"dl" * $"n").cast("double") / $"toktot")))
      .withColumn("c6", floor($"contrib" * 1e6 + 0.5).cast("long"))
      .groupBy($"q_id", $"doc_id", $"chunk_idx").agg(sum($"c6").as("bm6"))
    val within = scored.join(broadcast(hyb), Seq("q_id", "doc_id"))
      .withColumn("crn", row_number().over(
        Window.partitionBy($"q_id")
          .orderBy($"bm6".desc, $"doc_id", $"chunk_idx")))
    // stage 4 — offsets/md5s from the persisted manifest, pack
    val manifest = graft.Tables.parquetCached(s, s"$idx/manifest")
      .filter($"doc_id".isin(docLits: _*))
    within.join(manifest, Seq("doc_id", "chunk_idx"))
      .withColumn("cum", sum($"chunk_len").over(
        Window.partitionBy($"q_id").orderBy($"crn")))
      .filter($"cum" <= ChunkBudget)
      .select($"q_id", $"crn".as("rn"), $"doc_id", $"doc_rank",
        $"chunk_idx", $"start_tok", $"chunk_len", $"chunk_md5", $"cum")
      .orderBy($"q_id", $"rn")
  }

  // ---------------------------------------------------------------
  // q190: SCALAR-QUANTIZED (SQ8) ANN — the third quantizer family
  // next to LSH (q51) and PQ/IVFADC (q114/q118/q181): every unit
  // vector compresses to one int8 code per dimension (symmetric
  // global scale mx = the corpus-wide max |component|, code =
  // round(127·x/mx)), 4× smaller than float32 with NO codebook to
  // train — the standard serving trade when PQ's 8-16× is more
  // compression than the recall budget wants. Scoring is the
  // SYMMETRIC int8×int8 dot: pure int64 arithmetic, so unlike every
  // float path the approximate score needs no rounding convention at
  // all — both engines agree EXACTLY, and the gate pins the adot
  // values themselves, not a rounded shadow. Top-SQ_R shortlist by
  // quantized dot, exact cosine re-rank to top-5 (q50's output
  // shape + the quantized score for auditability).
  //
  // Scale: encode is row-local (one pass, no shuffle — at 100 TB it
  // runs once per corpus snapshot like ivfadcIndex, and composes
  // with the IVF cell restriction as the in-cell scorer); the scan
  // is the same O(N) the brute pass pays but over 64 BYTES per
  // vector instead of 512, and the only exchange carries slim
  // (q_id, vec_id, adot) rows for the bounded per-query window.
  private val SQ_R = 32

  /** (vec_id, c int8-codes, v unit-vector) under the corpus-wide
    * symmetric scale. */
  private def sqCodes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val u = unitVecs(s, dir)
    val mx = u.agg(max(expr("array_max(transform(v, x -> abs(x)))"))
      .as("mx"))
    u.crossJoin(broadcast(mx))
      .select($"vec_id",
        expr("transform(v, x -> CAST(round(x * 127 / mx, 0) AS BIGINT))")
          .as("c"),
        $"v")
  }

  private def q190(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = sqCodes(s, dir)
    val q = c.join(querySample(s, dir, ANN_QK), "vec_id")
      .select($"vec_id".as("q_id"), $"c".as("qc"), $"v".as("qv"))
    val wa = Window.partitionBy($"q_id").orderBy($"adot".desc, $"vec_id")
    val short = broadcast(q.select($"q_id", $"qc"))
      .join(c.select($"vec_id", $"c"), $"vec_id" =!= $"q_id")
      .withColumn("adot", expr(
        "aggregate(zip_with(qc, c, (a, b) -> a * b), " +
          "CAST(0 AS BIGINT), (acc, x) -> acc + x)"))
      .withColumn("ar", row_number().over(wa))
      .filter($"ar" <= SQ_R)
      .select($"q_id", $"vec_id", $"adot")
    exactRerank(short, c.select($"vec_id", $"v"), q.select($"q_id", $"qv"), 5)
      .select($"q_id", $"rv".as("rn"), $"vec_id".as("neighbor_id"), $"sim",
        $"adot")
      .orderBy($"q_id", $"rn")
  }

  private lazy val q190Sql =
    s"""WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v0
       |           FROM embeddings),
       |en AS (SELECT vec_id, v0,
       |        sqrt(list_sum(list_transform(v0, x -> x * x))) AS nrm
       |       FROM e0),
       |e AS (SELECT vec_id, list_transform(v0, x -> x / nrm) AS v
       |      FROM en),
       |mx AS (SELECT max(list_max(list_transform(v, x -> abs(x)))) AS mx
       |       FROM e),
       |c AS (SELECT vec_id, v,
       |       list_transform(v, x -> CAST(round(x * 127 / mx.mx) AS BIGINT))
       |         AS c
       |      FROM e, mx),
       |q AS (SELECT vec_id AS q_id, c AS qc, v AS qv FROM c
       |      WHERE vec_id IN ${sampleSql(ANN_QK)}),
       |p AS (SELECT q_id, vec_id,
       |       CAST(list_sum(list_transform(list_zip(qc, c.c),
       |         z -> z[1] * z[2])) AS BIGINT) AS adot
       |      FROM q JOIN c ON vec_id <> q_id),
       |sh AS (SELECT q_id, vec_id, adot, row_number() OVER (
       |         PARTITION BY q_id ORDER BY adot DESC, vec_id) AS ar
       |       FROM p),
       |rr AS (SELECT sh.q_id, sh.vec_id, sh.adot,
       |        round(list_sum(list_transform(list_zip(q.qv, c.v),
       |          z -> CAST(z[1] * z[2] AS DOUBLE))), 5) AS sim
       |       FROM sh JOIN c USING (vec_id) JOIN q USING (q_id)
       |       WHERE sh.ar <= $SQ_R),
       |r AS (SELECT q_id, vec_id, sim, adot, row_number() OVER (
       |        PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rn
       |      FROM rr)
       |SELECT q_id, rn, vec_id AS neighbor_id, sim, adot FROM r
       |WHERE rn <= 5 ORDER BY q_id, rn""".stripMargin

  // q196: ANN TUNING FRONTIER — the recall-vs-cost sheet an ANN
  // deployment publishes before fixing nprobe: for each nprobe in
  // TuneProbes the full IVFADC serve chain (probed cells → ADC
  // shortlist R → exact top-5 re-rank) is scored against brute
  // cosine ground truth (computed ONCE), reporting the two axes of
  // the tuning trade — macro recall@5 (integer micro-units: exact
  // hit counts over 5·nq, no float convention) and the TOTAL ADC
  // candidate volume (= Σ probed-cell sizes − the query's own
  // vector; the work a serve pays, exactly countable from the cell
  // histogram). The nprobe=6 row reproduces q118's operating point;
  // the sheet shows what 1/2/4 would have bought.
  //
  // Scale: the corpus is encoded ONCE (the checkpointed ivfadcIndex
  // build is the chain's Encoded codes for the whole sweep) and
  // ADC-scored once at max(nprobe); everything else is per-query
  // bounded — each setting reads the crank ≤ np prefix of the one
  // probe and the one scored pass.
  private[graft] val TuneProbes = Seq(1, 2, 4, 6)

  private def q196(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val qs = querySample(s, dir, ANN_QK).select($"vec_id".as("q_id"))
      .localCheckpoint(true)
    val e = unitVecs(s, dir)
    val qv = queryVecs(e, qs)
    // the three sweep inputs — brute ground truth, the inline native
    // encode (checkpointed once for the sweep: measured FASTER than
    // reading the persisted cell-partitioned index back at every
    // decade tried — the tuning sheet touches ALL cells, so the
    // partitioned layout buys nothing here; the pruned-read serving
    // story is q181's), and the max-nprobe probe — are independent:
    // overlap their eager builds (guide §2.6)
    val Seq(gt, enc, probed) = graft.Scratch.parMap(
      Seq[() => DataFrame](
        () => bruteTop5(qv, e).localCheckpoint(true),
        () => ivfadcIndex(s, dir).localCheckpoint(true),
        () => ivfProbe(qv, TuneProbes.max).localCheckpoint(true)), 3)(_())
    val cellsz = enc.groupBy($"cell").agg(count(lit(1)).as("cn"))
      .localCheckpoint(true)
    // ADC-score ONCE at max(nprobe); every setting reads its crank
    // prefix (the q203 SQ8 prefix discipline applied to the ADC family)
    val scored = adcScored(probed, qv, pqCodebookLocal(s, dir), Encoded(enc))
      .localCheckpoint(true)
    val sheets = TuneProbes.map { np =>
      val top5 = exactRerank(adcShortlist(scored, np, IVFPQ_R), e, qv, 5)
        .select($"q_id", $"vec_id")
      val hits = top5.join(gt, Seq("q_id", "vec_id"))
        .agg(count(lit(1)).as("hits"))
      val cand = candVolume(probed, cellsz, np)
        .agg(sum($"cq").as("total_candidates"), count(lit(1)).as("nq"))
      cand.crossJoin(hits)
        .select(lit(np).as("nprobe"), $"nq".as("n_queries"),
          $"total_candidates", $"hits",
          expr("(hits * 1000000) div (5 * nq)").as("recall6"))
    }
    sheets.reduce(_.unionByName(_)).orderBy($"nprobe")
  }

  /** per query, the ADC candidate volume of its first np probed cells:
    * Σ probed-cell sizes − the query's own vector (q_id, cq), from the
    * (cell, cn) histogram — the work a serve at np pays. */
  private def candVolume(probed: DataFrame, cellsz: DataFrame,
      np: Int): DataFrame = {
    import probed.sparkSession.implicits._
    probed.filter($"crank" <= np).join(cellsz, Seq("cell"))
      .groupBy($"q_id").agg((sum($"cn") - 1).as("cq"))
  }

  /** the per-nprobe IVFADC sweep CTEs (probed cells → ADC shortlist →
    * exact top-5 → candidate volume), assuming p`chainMax`, codes, bc,
    * csz, lut, qvf, e in scope — ONE spelling shared by q196Sql and
    * q203Sql so the two frontier gates cannot drift. */
  private def ivfSweepCtes(np: Int, chainMax: Int): String = {
    val cells = (1 to np).map(r => s"c$r").mkString("[", ", ", "]")
    s"""pr$np AS (SELECT q_id, unnest($cells) AS cell
       |          FROM p$chainMax),
       |ad$np AS (SELECT p.q_id, c.vec_id, round(sum(qd), 9) AS adist2
       |          FROM codes c
       |           JOIN bc ON c.vec_id = bc.vec_id
       |           JOIN pr$np p ON bc.cell = p.cell
       |           JOIN lut l ON p.q_id = l.q_id AND c.m = l.m
       |            AND c.j = l.j
       |          WHERE c.vec_id <> p.q_id
       |          GROUP BY p.q_id, c.vec_id),
       |sl$np AS (SELECT q_id, vec_id FROM
       |           (SELECT q_id, vec_id, row_number() OVER
       |             (PARTITION BY q_id ORDER BY adist2, vec_id) AS ar
       |            FROM ad$np)
       |          WHERE ar <= $IVFPQ_R),
       |r$np AS (SELECT q_id, vec_id FROM (
       |          SELECT sl$np.q_id, sl$np.vec_id, row_number() OVER (
       |           PARTITION BY sl$np.q_id ORDER BY
       |            round(list_sum(list_transform(list_zip(qvf.qv, e.v),
       |              z -> CAST(z[1] * z[2] AS DOUBLE))), 5) DESC,
       |            sl$np.vec_id) AS rn
       |          FROM sl$np JOIN e USING (vec_id)
       |           JOIN qvf ON sl$np.q_id = qvf.q_id)
       |         WHERE rn <= 5),
       |cand$np AS (SELECT q_id, CAST(sum(cn) - 1 AS BIGINT) AS cq
       |            FROM pr$np JOIN csz USING (cell) GROUP BY q_id)"""
      .stripMargin
  }

  private lazy val q196Sql = {
    val perNp = TuneProbes.map { np =>
      s"""${ivfSweepCtes(np, TuneProbes.max)},
         |row$np AS (SELECT $np AS nprobe,
         |            (SELECT CAST(count(*) AS BIGINT) FROM cand$np)
         |              AS n_queries,
         |            (SELECT CAST(sum(cq) AS BIGINT) FROM cand$np)
         |              AS total_candidates,
         |            (SELECT CAST(count(*) AS BIGINT)
         |             FROM r$np JOIN gt USING (q_id, vec_id)) AS hits,
         |            (SELECT CAST(count(*) * 1000000 //
         |              (5 * (SELECT count(*) FROM cand$np)) AS BIGINT)
         |             FROM r$np JOIN gt USING (q_id, vec_id)) AS recall6)"""
        .stripMargin
    }.mkString(",\n")
    val union = TuneProbes.map(np => s"SELECT * FROM row$np")
      .mkString(" UNION ALL ")
    s"""WITH $pqPreambleSql,
       |bc AS (SELECT vec_id, ${cellSql("v")} AS cell FROM e),
       |csz AS (SELECT cell, CAST(count(*) AS BIGINT) AS cn FROM bc
       |        GROUP BY cell),
       |qvf AS (SELECT vec_id AS q_id, v AS qv FROM e
       |        WHERE vec_id IN ${sampleSql(ANN_QK)}),
       |p1 AS (SELECT vec_id AS q_id, v AS qv, ${cellSql("v")} AS c1,
       |        ${cellScoresSql("v")} AS s1
       |       FROM e WHERE vec_id IN ${sampleSql(ANN_QK)}),
       |${maskChainSql("p", TuneProbes.max)},
       |gt AS (SELECT q_id, vec_id FROM (
       |        SELECT qvf.q_id, e.vec_id, row_number() OVER (
       |         PARTITION BY qvf.q_id ORDER BY
       |          round(list_sum(list_transform(list_zip(qvf.qv, e.v),
       |            z -> CAST(z[1] * z[2] AS DOUBLE))), 5) DESC,
       |          e.vec_id) AS rn
       |        FROM qvf JOIN e ON e.vec_id <> qvf.q_id)
       |       WHERE rn <= 5),
       |$perNp
       |SELECT * FROM ($union) ORDER BY nprobe""".stripMargin
  }

  // q203: CROSS-FAMILY ANN FRONTIER — the sheet a deployment decides
  // a quantizer on, extending q196's single-family nprobe sweep to
  // every quantizer configuration the engine ships: IVFADC (q118),
  // full-scan SQ8 (q190), SQ8-IN-CELL (the composed scale path — IVF
  // cell routing with int8 symmetric-dot scoring inside the probed
  // cells, SQ8's 4× codes buying ADC-free scoring while IVF buys the
  // nprobe/CELLS scan reduction), and multi-probe LSH (q51) — two
  // operating points each, against ONE brute-cosine ground truth
  // computed once over the shared unit-vector space. The axes are the
  // honest cost split: approx_candidates = vectors scored with the
  // family's CHEAP arithmetic (ADC lookups / int8 dots; 0 for LSH,
  // which has no approximate scoring stage — its candidates go
  // straight to exact), exact_candidates = vectors paying a full
  // float dot (the shortlist re-rank, or every bucket candidate for
  // LSH), and recall@5 in exact integer micro-units. The nprobe=6 row
  // reproduces q118's operating point, SQ8@32 reproduces q190's,
  // LSH@2 is q51's probe schedule at depth 5; sq8cell shares
  // ivfadc's probed cells row-for-row (the spec pins equal approx
  // volumes), so the sheet isolates the SCORER choice at fixed
  // routing.
  //
  // Scale: each family keeps its own proven posture (probed cells /
  // one int8 column scan / bucket joins — nothing all-pairs); the
  // per-family scored frames are checkpointed ONCE and both operating
  // points read prefixes (the q196 sweep discipline), and the sheet
  // itself is eight rows.
  private val FrontierProbes = Seq(2, 6)
  private val FrontierSqR = Seq(8, 32)
  private val FrontierHams = Seq(1, 2)

  private def q203(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val qs = querySample(s, dir, ANN_QK).select($"vec_id".as("q_id"))
      .localCheckpoint(true)
    val e = unitVecs(s, dir).localCheckpoint(true)
    val qv = queryVecs(e, qs)
    val nqDf = qs.agg(count(lit(1)).as("nq"))
    def sheet(family: String, setting: Int, approx: DataFrame,
        exact: DataFrame, top5: DataFrame, gt: DataFrame): DataFrame = {
      val hits = top5.join(gt, Seq("q_id", "vec_id"))
        .agg(count(lit(1)).as("hits"))
      approx.crossJoin(exact).crossJoin(hits).crossJoin(broadcast(nqDf))
        .select(lit(family).as("family"), lit(setting.toLong).as("setting"),
          $"nq".as("n_queries"), $"approx_candidates",
          $"exact_candidates", $"hits",
          expr("(hits * 1000000) div (5 * nq)").as("recall6"))
    }
    val c = sqCodes(s, dir)
    val qc = c.join(qs, c("vec_id") === qs("q_id"))
      .select($"q_id", $"c".as("qc"))
    val wa = Window.partitionBy($"q_id").orderBy($"adot".desc, $"vec_id")
    // phase 1 — the five family inputs are independent: the brute
    // ground truth, the IVFADC encode (inline native, checkpointed
    // once for the sweep: measured FASTER than reading the persisted
    // cell-partitioned index back at every decade tried — the sheet
    // touches ALL cells, so the partitioned layout buys nothing here;
    // the pruned-read serving story is q181's), the max-nprobe probe,
    // the SQ8 full-scan scoring, and the LSH bucketed corpus. Overlap
    // their eager builds (guide §2.6).
    val Seq(gt, enc, probed, scored, lb) = graft.Scratch.parMap(
      Seq[() => DataFrame](
        () => bruteTop5(qv, e).localCheckpoint(true),
        () => ivfadcIndex(s, dir).localCheckpoint(true),
        () => ivfProbe(qv, FrontierProbes.max).localCheckpoint(true),
        // SQ8: one int8 scan scored + ranked once; settings read
        // prefixes
        () => broadcast(qc)
          .join(c.select($"vec_id", $"c"), $"vec_id" =!= $"q_id")
          .withColumn("adot", expr(
            "aggregate(zip_with(qc, c, (a, b) -> a * b), " +
              "CAST(0 AS BIGINT), (acc, x) -> acc + x)"))
          .withColumn("ar", row_number().over(wa))
          .select($"q_id", $"vec_id", $"ar")
          .localCheckpoint(true),
        () => e.withColumn("bucket", bucketCol(s, $"v"))
          .localCheckpoint(true)), 5)(_())
    val cellsz = enc.groupBy($"cell").agg(count(lit(1)).as("cn"))
      .localCheckpoint(true)
    // phase 2 — the three remaining scored passes are independent
    // given phase 1; each is ONE pass at the family's max setting,
    // with every operating point reading a prefix (the q196/SQ8
    // prefix discipline, now uniform across all four families)
    val qb = lb.join(qs, lb("vec_id") === qs("q_id"))
      .select($"q_id", $"v".as("qv"), $"bucket".as("home"))
    val maxHam = FrontierHams.max
    val Seq(scoredAdc, sqCellScored, lshCand) = graft.Scratch.parMap(
      Seq[() => DataFrame](
        () => adcScored(probed, qv, pqCodebookLocal(s, dir), Encoded(enc))
          .localCheckpoint(true),
        // SQ8-IN-CELL: the composed quantizer — the SAME probed cells
        // as the ivfadc rows (shared probe/cellsz), int8 dots inside
        // them, scored once at max(nprobe) with the admitting probe
        // rank
        () => c.select($"vec_id", $"c")
          .join(enc.select($"vec_id", $"cell"), "vec_id")
          .join(broadcast(probed), Seq("cell"))
          .filter($"vec_id" =!= $"q_id")
          .join(broadcast(qc), Seq("q_id"))
          .withColumn("adot", expr(
            "aggregate(zip_with(qc, c, (a, b) -> a * b), " +
              "CAST(0 AS BIGINT), (acc, x) -> acc + x)"))
          .select($"q_id", $"crank", $"vec_id", $"adot")
          .localCheckpoint(true),
        // LSH: ONE bucket join at max(hamming), each candidate tagged
        // with the Hamming distance of the probe that admitted it (a
        // corpus vector lives in one bucket, so exactly one probe
        // mask matches) — schedules read the ham ≤ h prefix
        () => {
          val probes = qb.select($"q_id", $"qv",
              explode(array(probeMasks(maxHam).map(m => struct(
                lit(java.lang.Long.bitCount(m)).as("ham"),
                $"home".bitwiseXOR(lit(m)).as("bucket"))): _*))
                .as("pb"))
            .select($"q_id", $"qv", $"pb.ham", $"pb.bucket")
          broadcast(probes)
            .join(lb.select($"vec_id", $"v", $"bucket"), Seq("bucket"))
            .filter($"vec_id" =!= $"q_id")
            .withColumn("sim", exactSim(s))
            .select($"q_id", $"ham", $"vec_id", $"sim")
            .localCheckpoint(true)
        }), 3)(_())
    def approx(np: Int) = candVolume(probed, cellsz, np)
      .agg(sum($"cq").as("approx_candidates"))
    def top5(short: DataFrame) =
      exactRerank(short, e, qv, 5).select($"q_id", $"vec_id")
    val ivfRows = FrontierProbes.map { np =>
      val short = adcShortlist(scoredAdc, np, IVFPQ_R)
      sheet("ivfadc", np, approx(np),
        short.agg(count(lit(1)).as("exact_candidates")), top5(short), gt)
    }
    val sqRows = FrontierSqR.map { rr =>
      val short = scored.filter($"ar" <= rr).select($"q_id", $"vec_id")
      sheet("sq8", rr,
        scored.agg(count(lit(1)).as("approx_candidates")),
        short.agg(count(lit(1)).as("exact_candidates")), top5(short), gt)
    }
    val sqCellRows = FrontierProbes.map { np =>
      val short = sqCellScored.filter($"crank" <= np)
        .withColumn("ar", row_number().over(wa))
        .filter($"ar" <= SQ_R)
        .select($"q_id", $"vec_id")
      sheet("sq8cell", np, approx(np),
        short.agg(count(lit(1)).as("exact_candidates")), top5(short), gt)
    }
    val lshRows = FrontierHams.map { h =>
      val cand = lshCand.filter($"ham" <= h)
        .select($"q_id", $"vec_id", $"sim")
      sheet("lsh", h,
        nqDf.select((lit(0L) * $"nq").as("approx_candidates")),
        cand.agg(count(lit(1)).as("exact_candidates")),
        topBySim(cand, 5).select($"q_id", $"vec_id"), gt)
    }
    (ivfRows ++ sqRows ++ sqCellRows ++ lshRows)
      .reduce(_.unionByName(_))
      .orderBy($"family", $"setting")
  }

  private lazy val q203Sql = {
    val maxNp = FrontierProbes.max
    val ivf = FrontierProbes.map { np =>
      s"""${ivfSweepCtes(np, maxNp)},
         |irow$np AS (SELECT 'ivfadc' AS family,
         |            CAST($np AS BIGINT) AS setting,
         |            (SELECT CAST(count(*) AS BIGINT) FROM qvf)
         |              AS n_queries,
         |            (SELECT CAST(sum(cq) AS BIGINT) FROM cand$np)
         |              AS approx_candidates,
         |            (SELECT CAST(count(*) AS BIGINT) FROM sl$np)
         |              AS exact_candidates,
         |            (SELECT CAST(count(*) AS BIGINT)
         |             FROM r$np JOIN gt USING (q_id, vec_id)) AS hits,
         |            (SELECT CAST(count(*) * 1000000 //
         |              (5 * (SELECT count(*) FROM qvf)) AS BIGINT)
         |             FROM r$np JOIN gt USING (q_id, vec_id))
         |              AS recall6)""".stripMargin
    }.mkString(",\n")
    val sq = FrontierSqR.map { rr =>
      s"""sq5x$rr AS (SELECT q_id, vec_id FROM (
         |           SELECT sqr.q_id, sqr.vec_id, row_number() OVER (
         |            PARTITION BY sqr.q_id ORDER BY
         |             round(list_sum(list_transform(list_zip(qvf.qv, e.v),
         |               z -> CAST(z[1] * z[2] AS DOUBLE))), 5) DESC,
         |             sqr.vec_id) AS rn
         |           FROM sqr JOIN e USING (vec_id)
         |            JOIN qvf ON sqr.q_id = qvf.q_id
         |           WHERE sqr.ar <= $rr)
         |          WHERE rn <= 5),
         |srow$rr AS (SELECT 'sq8' AS family,
         |            CAST($rr AS BIGINT) AS setting,
         |            (SELECT CAST(count(*) AS BIGINT) FROM qvf)
         |              AS n_queries,
         |            (SELECT CAST(count(*) AS BIGINT) FROM sqr)
         |              AS approx_candidates,
         |            (SELECT CAST(count(*) AS BIGINT) FROM sqr
         |             WHERE ar <= $rr) AS exact_candidates,
         |            (SELECT CAST(count(*) AS BIGINT)
         |             FROM sq5x$rr JOIN gt USING (q_id, vec_id)) AS hits,
         |            (SELECT CAST(count(*) * 1000000 //
         |              (5 * (SELECT count(*) FROM qvf)) AS BIGINT)
         |             FROM sq5x$rr JOIN gt USING (q_id, vec_id))
         |              AS recall6)""".stripMargin
    }.mkString(",\n")
    val sqCell = FrontierProbes.map { np =>
      s"""scp$np AS (SELECT p.q_id, sqc.vec_id,
         |           CAST(list_sum(list_transform(list_zip(sqq.qc, sqc.c),
         |             z -> z[1] * z[2])) AS BIGINT) AS adot
         |          FROM pr$np p
         |           JOIN sqq ON sqq.q_id = p.q_id
         |           JOIN bc ON bc.cell = p.cell
         |           JOIN sqc ON sqc.vec_id = bc.vec_id
         |          WHERE sqc.vec_id <> p.q_id),
         |scs$np AS (SELECT q_id, vec_id FROM (
         |           SELECT q_id, vec_id, row_number() OVER (
         |            PARTITION BY q_id ORDER BY adot DESC, vec_id) AS ar
         |           FROM scp$np) WHERE ar <= $SQ_R),
         |sc5$np AS (SELECT q_id, vec_id FROM (
         |           SELECT scs$np.q_id, scs$np.vec_id, row_number() OVER (
         |            PARTITION BY scs$np.q_id ORDER BY
         |             round(list_sum(list_transform(list_zip(qvf.qv, e.v),
         |               z -> CAST(z[1] * z[2] AS DOUBLE))), 5) DESC,
         |             scs$np.vec_id) AS rn
         |           FROM scs$np JOIN e USING (vec_id)
         |            JOIN qvf ON scs$np.q_id = qvf.q_id)
         |          WHERE rn <= 5),
         |crow$np AS (SELECT 'sq8cell' AS family,
         |            CAST($np AS BIGINT) AS setting,
         |            (SELECT CAST(count(*) AS BIGINT) FROM qvf)
         |              AS n_queries,
         |            (SELECT CAST(sum(cq) AS BIGINT) FROM cand$np)
         |              AS approx_candidates,
         |            (SELECT CAST(count(*) AS BIGINT) FROM scs$np)
         |              AS exact_candidates,
         |            (SELECT CAST(count(*) AS BIGINT)
         |             FROM sc5$np JOIN gt USING (q_id, vec_id)) AS hits,
         |            (SELECT CAST(count(*) * 1000000 //
         |              (5 * (SELECT count(*) FROM qvf)) AS BIGINT)
         |             FROM sc5$np JOIN gt USING (q_id, vec_id))
         |              AS recall6)""".stripMargin
    }.mkString(",\n")
    val lsh = FrontierHams.map { h =>
      val probes = probeMasks(h)
        .map(m => if (m == 0L) "bucket" else s"xor(bucket, $m)")
        .mkString("[", ", ", "]")
      s"""lq$h AS (SELECT vec_id AS q_id, v AS qv,
         |         unnest($probes) AS bucket
         |        FROM lb WHERE vec_id IN ${sampleSql(ANN_QK)}),
         |lc$h AS (SELECT q_id, qv, vec_id, v FROM lq$h
         |         JOIN lb USING (bucket) WHERE vec_id <> q_id),
         |l5x$h AS (SELECT q_id, vec_id FROM (
         |          SELECT q_id, vec_id, row_number() OVER (
         |           PARTITION BY q_id ORDER BY
         |            round(list_sum(list_transform(list_zip(qv, v),
         |              z -> CAST(z[1] * z[2] AS DOUBLE))), 5) DESC,
         |            vec_id) AS rn
         |          FROM lc$h) WHERE rn <= 5),
         |lrow$h AS (SELECT 'lsh' AS family,
         |           CAST($h AS BIGINT) AS setting,
         |           (SELECT CAST(count(*) AS BIGINT) FROM qvf)
         |             AS n_queries,
         |           CAST(0 AS BIGINT) AS approx_candidates,
         |           (SELECT CAST(count(*) AS BIGINT) FROM lc$h)
         |             AS exact_candidates,
         |           (SELECT CAST(count(*) AS BIGINT)
         |            FROM l5x$h JOIN gt USING (q_id, vec_id)) AS hits,
         |           (SELECT CAST(count(*) * 1000000 //
         |             (5 * (SELECT count(*) FROM qvf)) AS BIGINT)
         |            FROM l5x$h JOIN gt USING (q_id, vec_id))
         |             AS recall6)""".stripMargin
    }.mkString(",\n")
    val union =
      (FrontierProbes.map(np => s"SELECT * FROM irow$np") ++
        FrontierSqR.map(rr => s"SELECT * FROM srow$rr") ++
        FrontierProbes.map(np => s"SELECT * FROM crow$np") ++
        FrontierHams.map(h => s"SELECT * FROM lrow$h"))
        .mkString(" UNION ALL ")
    s"""WITH $pqPreambleSql,
       |bc AS (SELECT vec_id, ${cellSql("v")} AS cell FROM e),
       |csz AS (SELECT cell, CAST(count(*) AS BIGINT) AS cn FROM bc
       |        GROUP BY cell),
       |qvf AS (SELECT vec_id AS q_id, v AS qv FROM e
       |        WHERE vec_id IN ${sampleSql(ANN_QK)}),
       |p1 AS (SELECT vec_id AS q_id, v AS qv, ${cellSql("v")} AS c1,
       |        ${cellScoresSql("v")} AS s1
       |       FROM e WHERE vec_id IN ${sampleSql(ANN_QK)}),
       |${maskChainSql("p", maxNp)},
       |gt AS (SELECT q_id, vec_id FROM (
       |        SELECT qvf.q_id, e.vec_id, row_number() OVER (
       |         PARTITION BY qvf.q_id ORDER BY
       |          round(list_sum(list_transform(list_zip(qvf.qv, e.v),
       |            z -> CAST(z[1] * z[2] AS DOUBLE))), 5) DESC,
       |          e.vec_id) AS rn
       |        FROM qvf JOIN e ON e.vec_id <> qvf.q_id)
       |       WHERE rn <= 5),
       |sqm AS (SELECT max(list_max(list_transform(v, x -> abs(x)))) AS mx
       |        FROM e),
       |sqc AS (SELECT vec_id, v,
       |         list_transform(v, x -> CAST(round(x * 127 / sqm.mx)
       |           AS BIGINT)) AS c
       |        FROM e, sqm),
       |sqq AS (SELECT vec_id AS q_id, c AS qc FROM sqc
       |        WHERE vec_id IN ${sampleSql(ANN_QK)}),
       |sqp AS (SELECT q_id, sqc.vec_id,
       |         CAST(list_sum(list_transform(list_zip(qc, sqc.c),
       |           z -> z[1] * z[2])) AS BIGINT) AS adot
       |        FROM sqq JOIN sqc ON sqc.vec_id <> q_id),
       |sqr AS (SELECT q_id, vec_id, adot, row_number() OVER (
       |         PARTITION BY q_id ORDER BY adot DESC, vec_id) AS ar
       |        FROM sqp),
       |lb AS (SELECT vec_id, v, ${bucketSql("v")} AS bucket FROM e),
       |$ivf,
       |$sq,
       |$sqCell,
       |$lsh
       |SELECT * FROM ($union) ORDER BY family, setting""".stripMargin
  }

  // q217: QUANTIZER-AGING FRONTIER — the retrain trigger the serving
  // tier lacked (round-15 verdict #3): q203 prices recall at a frozen
  // corpus; q212 proves purge ≡ rebuild UNDER the frozen quantizer;
  // nobody measured what the churn itself (q183 appends + q206
  // purges) costs the frozen TRAINED state. The churned serving
  // corpus is C′ = all vectors − D (the appended ingest split plus
  // the takedown purge); the AGED configuration serves C′ with the
  // quantizer state trained on the PRE-CHURN pool (the ingest base
  // split — including since-purged vectors, exactly production: the
  // model saw data that later left); the FRESH configuration retrains
  // on C′ itself. Two families, one operating point each, one brute
  // ground truth over C′: ivfadc (the trained state is the PQ
  // codebook sample; coarse cells are the fixed literal quantizer on
  // both sides) and sq8cell (the trained state is the global int8
  // scale). The sheet publishes recall@5 aged vs fresh plus a train6
  // provenance stamp (codebook sample id-sum / micro-unit scale) so
  // the gate pins WHICH trained state each row used — the number
  // that tells a deployment when q208's "re-encode" must escalate to
  // "re-train". AnnRecallSpec pins a PLANTED drift corpus where the
  // aged codebook strictly loses to the fresh one.
  //
  // Scale: two PQ encodes + two int8 encodes over C′ (row-local,
  // native expressions), the shared probe chain, and four bounded
  // shortlists — q203's posture with a second codebook; nothing
  // all-pairs, the sheet is 4 rows.
  /** the shared quantizer-aging evaluation context (q217 + q219): the
    * churned serving corpus C′ `u` (unit vectors − takedown D), the
    * pre-churn training pool, the non-purged query vectors, and —
    * built eagerly here — their count, the brute cosine ground truth
    * over C′ and the probed cells of the fixed literal quantizer
    * (shared by every variant: what ages is the TRAINED state, not the
    * cells). ONE construction so the aging sheet and the retrain
    * decision cannot disagree about what they measure; AnnRecallSpec
    * builds it over planted-drift corpora, so the decision bit is
    * pinned on the same code path the gate runs. */
  private[graft] final class AgingCtx(val u: DataFrame,
      val basePool: DataFrame, val qv: DataFrame) {
    val nq: Long = qv.count()
    // the ground truth and the probe are independent; overlap their
    // eager builds (guide §2.6). The probe is collected: a served
    // variant's Indexed read then prunes on it with no further job
    val Seq(gt, probed) = graft.Scratch.parMap(Seq[() => DataFrame](
      () => bruteTop5(qv, u).localCheckpoint(true),
      () => localized(ivfProbe(qv, IVFPQ_NPROBE))._2), 2)(_())

    /** the IVFADC chain's shortlist over C′ at the gates' operating
      * point, under a flat codebook and its codes. */
    def shortlist(cbFlat: DataFrame, codes: AdcCodes): DataFrame =
      adcShortlist(adcScored(probed, qv, cbFlat, codes), IVFPQ_NPROBE,
        IVFPQ_R)

    /** a shortlist's exact top-5 over C′: (q_id, vec_id, sim, rv). */
    def top5(short: DataFrame): DataFrame = exactRerank(short, u, qv, 5)

    /** one aged/fresh IVFADC variant: the codebook trained on `pool`,
      * C′ encoded under it, the chain. */
    def ivfVariant(pool: DataFrame): IvfAging = {
      import pool.sparkSession.implicits._
      val cbFlat = pqCodebookOfPool(pool).localCheckpoint(true)
      val train6 = cbSampleIds(pool)
        .agg(sum($"vec_id")).head().getLong(0)
      val short = shortlist(cbFlat, Encoded(ivfEncOf(u, cbFlat)))
        .localCheckpoint(true)
      IvfAging(train6, short, top5(short))
    }
  }

  private[graft] def agingCtx(s: SparkSession, dir: String): AgingCtx = {
    import s.implicits._
    val purgedV = StreamingQueries.Takedown.purged($"vec_id")
    val uAll = unitVecs(s, dir).localCheckpoint(true)
    val u = uAll.filter(!purgedV).localCheckpoint(true)
    val basePool = uAll.filter(StreamingQueries.vecIxOf($"vec_id") >=
      DedupQueries.IngestSplit.NewMax)
    val qs = querySample(s, dir, ANN_QK).select($"vec_id".as("q_id"))
      .filter(!StreamingQueries.Takedown.purged($"q_id"))
    // qv is checkpointed, not collected like queryVecs: a checkpoint
    // keeps the plan's constraints (here: no purged q_id), so every
    // sheet row's ground-truth join plans alike and q217 reuses one
    // broadcast of it — over a local relation it cost two more jobs
    new AgingCtx(u, basePool, u.join(qs, u("vec_id") === qs("q_id"))
      .select($"q_id", $"v".as("qv")).localCheckpoint(true))
  }

  /** one IVFADC aged/fresh variant's train6 provenance stamp, ADC
    * shortlist and exact top-5. */
  private[graft] final case class IvfAging(train6: Long,
      shortlist: DataFrame, top5: DataFrame)

  /** recall@5 in micro-units of a top-5 frame against the ctx ground
    * truth — the number both q217's sheet and q219's decision bit
    * publish. */
  private[graft] def agingRecall6(ctx: AgingCtx, top5: DataFrame): Long = {
    val hits = top5.select("q_id", "vec_id")
      .join(ctx.gt, Seq("q_id", "vec_id")).count()
    hits * 1000000L / (5L * ctx.nq)
  }

  private def q217(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ctx = agingCtx(s, dir)
    val u = ctx.u
    val qv = ctx.qv
    val nq = ctx.nq
    def sheet(family: String, variant: String, train6: Long,
        exact: DataFrame, top5: DataFrame): DataFrame = {
      val hits = top5.join(ctx.gt, Seq("q_id", "vec_id"))
        .agg(count(lit(1)).as("hits"))
      exact.crossJoin(hits)
        .select(lit(family).as("family"), lit(variant).as("variant"),
          lit(nq).as("n_queries"), $"exact_candidates", $"hits",
          expr(s"(hits * 1000000) div (5 * $nq)").as("recall6"),
          lit(train6).as("train6"))
    }
    def ivfVariant(variant: String, pool: DataFrame): DataFrame = {
      val v = ctx.ivfVariant(pool)
      sheet("ivfadc", variant, v.train6,
        v.shortlist.agg(count(lit(1)).as("exact_candidates")),
        v.top5.select($"q_id", $"vec_id"))
    }
    val ws = Window.partitionBy($"q_id").orderBy($"adot".desc, $"vec_id")
    def sqVariant(variant: String, pool: DataFrame): DataFrame = {
      val mx = pool
        .agg(max(expr("array_max(transform(v, x -> abs(x)))")))
        .head().getDouble(0)
      val train6 = math.floor(mx * 1e6 + 0.5).toLong
      val codes = u.select($"vec_id", cellCol(s, $"v").as("cell"),
        transform($"v", x => round(x * 127 / lit(mx), 0).cast("long"))
          .as("c"))
      val qs = qv.select($"q_id")
      val qc = codes.join(qs, codes("vec_id") === qs("q_id"))
        .select($"q_id", $"c".as("qc"))
      val short = codes.join(broadcast(ctx.probed), Seq("cell"))
        .filter($"vec_id" =!= $"q_id")
        .join(broadcast(qc), Seq("q_id"))
        .withColumn("adot", expr(
          "aggregate(zip_with(qc, c, (a, b) -> a * b), " +
            "CAST(0 AS BIGINT), (acc, x) -> acc + x)"))
        .withColumn("ar", row_number().over(ws))
        .filter($"ar" <= SQ_R)
        .select($"q_id", $"vec_id").localCheckpoint(true)
      sheet("sq8cell", variant, train6,
        short.agg(count(lit(1)).as("exact_candidates")),
        ctx.top5(short).select($"q_id", $"vec_id"))
    }
    // the four trained-state variants are independent given the
    // shared ctx (each trains/encodes its own state) — overlap their
    // eager builds (guide §2.6)
    graft.Scratch.parMap(Seq[() => DataFrame](
        () => ivfVariant("aged", ctx.basePool),
        () => ivfVariant("fresh", u),
        () => sqVariant("aged", ctx.basePool),
        () => sqVariant("fresh", u)), 4)(_())
      .reduce(_.unionByName(_))
      .orderBy($"family", $"variant")
  }

  private def agingAgedPredSql =
    "substr(md5('ingest:' || CAST(vec_id AS VARCHAR))" +
      s", 1, 2) >= '${DedupQueries.IngestSplit.NewMax}'"
  private def agingFreshPredSql =
    s"NOT (${StreamingQueries.Takedown.sql("vec_id")})"

  /** one aged/fresh IVFADC oracle chain (codebook trained WHERE
    * `poolPred`, codes + LUT + ADC shortlist + exact top-5 + sheet
    * row) — composed by q217Sql AND q219Sql, so the trained-state
    * spelling lives in exactly one place. */
  private def agingIvfVarSql(p: String, variant: String,
      poolPred: String) =
      s"""${p}cbi AS (SELECT vec_id,
         |         md5('q114cb:' || CAST(vec_id AS VARCHAR)) AS h
         |        FROM embeddings WHERE $poolPred
         |        ORDER BY h, vec_id LIMIT $PQ_K),
         |${p}cbv AS (SELECT row_number() OVER (ORDER BY h, vec_id) - 1
         |          AS j, v
         |         FROM ${p}cbi JOIN e USING (vec_id)),
         |${p}cb AS (SELECT j, m, v[m*$PQ_SUB+1 : m*$PQ_SUB+$PQ_SUB]
         |          AS cw
         |        FROM ${p}cbv, ms),
         |${p}cd AS (SELECT vec_id, m, j,
         |         round(list_sum(list_transform(list_zip(sv, cw),
         |           z -> CAST((z[1]-z[2])*(z[1]-z[2]) AS DOUBLE))), 9)
         |           AS d
         |        FROM sv JOIN ${p}cb USING (m)),
         |${p}co AS (SELECT vec_id, m, j FROM
         |         (SELECT vec_id, m, j, row_number() OVER
         |           (PARTITION BY vec_id, m ORDER BY d, j) AS rn
         |          FROM ${p}cd) WHERE rn = 1),
         |${p}lut AS (SELECT q_id, m, j,
         |          list_sum(list_transform(list_zip(qsv, cw),
         |            z -> CAST((z[1]-z[2])*(z[1]-z[2]) AS DOUBLE)))
         |            AS qd
         |         FROM qsub JOIN ${p}cb USING (m)),
         |${p}ad AS (SELECT p.q_id, c.vec_id, round(sum(qd), 9)
         |          AS adist2
         |        FROM ${p}co c
         |         JOIN bc ON c.vec_id = bc.vec_id
         |         JOIN probed p ON bc.cell = p.cell
         |         JOIN ${p}lut l ON p.q_id = l.q_id AND c.m = l.m
         |          AND c.j = l.j
         |        WHERE c.vec_id <> p.q_id
         |        GROUP BY p.q_id, c.vec_id),
         |${p}sl AS (SELECT q_id, vec_id FROM
         |         (SELECT q_id, vec_id, row_number() OVER
         |           (PARTITION BY q_id ORDER BY adist2, vec_id) AS ar
         |          FROM ${p}ad) WHERE ar <= $IVFPQ_R),
         |${p}t5 AS (SELECT q_id, vec_id FROM (
         |         SELECT sl.q_id, sl.vec_id, row_number() OVER (
         |          PARTITION BY sl.q_id ORDER BY
         |           round(list_sum(list_transform(list_zip(qvf.qv, pe.v),
         |             z -> CAST(z[1] * z[2] AS DOUBLE))), 5) DESC,
         |           sl.vec_id) AS rn
         |         FROM ${p}sl sl JOIN pe USING (vec_id)
         |          JOIN qvf ON sl.q_id = qvf.q_id) WHERE rn <= 5),
         |${p}row AS (SELECT 'ivfadc' AS family, '$variant' AS variant,
         |          (SELECT CAST(count(*) AS BIGINT) FROM qvf)
         |            AS n_queries,
         |          (SELECT CAST(count(*) AS BIGINT) FROM ${p}sl)
         |            AS exact_candidates,
         |          (SELECT CAST(count(*) AS BIGINT)
         |           FROM ${p}t5 JOIN gt USING (q_id, vec_id)) AS hits,
         |          (SELECT CAST(count(*) * 1000000 //
         |            (5 * (SELECT count(*) FROM qvf)) AS BIGINT)
         |           FROM ${p}t5 JOIN gt USING (q_id, vec_id))
         |            AS recall6,
         |          (SELECT CAST(sum(vec_id) AS BIGINT) FROM ${p}cbi)
         |            AS train6)""".stripMargin

  /** shared aged/fresh oracle preamble (no leading WITH): the churned
    * unit corpus pe, query vectors, brute ground truth, literal probe
    * cells, and the PQ sub-space scaffolding — composed by q217Sql
    * AND q219Sql. */
  private def agingPreambleSql: String = {
    val cells = (1 to IVFPQ_NPROBE).map(r => s"c$r")
      .mkString("[", ", ", "]")
    s"""e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v0
       |           FROM embeddings),
       |en AS (SELECT vec_id, v0,
       |        sqrt(list_sum(list_transform(v0, x -> x * x))) AS nrm
       |       FROM e0),
       |e AS (SELECT vec_id, list_transform(v0, x -> x / nrm) AS v
       |      FROM en),
       |pe AS (SELECT vec_id, v FROM e
       |       WHERE NOT (${StreamingQueries.Takedown.sql("vec_id")})),
       |qvf AS (SELECT vec_id AS q_id, v AS qv FROM pe
       |        WHERE vec_id IN ${sampleSql(ANN_QK)}),
       |gt AS (SELECT q_id, vec_id FROM (
       |        SELECT qvf.q_id, pe.vec_id, row_number() OVER (
       |         PARTITION BY qvf.q_id ORDER BY
       |          round(list_sum(list_transform(list_zip(qvf.qv, pe.v),
       |            z -> CAST(z[1] * z[2] AS DOUBLE))), 5) DESC,
       |          pe.vec_id) AS rn
       |        FROM qvf JOIN pe ON pe.vec_id <> qvf.q_id)
       |       WHERE rn <= 5),
       |p1 AS (SELECT q_id, qv, ${cellSql("qv")} AS c1,
       |        ${cellScoresSql("qv")} AS s1
       |       FROM qvf),
       |${maskChainSql("p", IVFPQ_NPROBE)},
       |probed AS (SELECT q_id, unnest($cells) AS cell
       |           FROM p$IVFPQ_NPROBE),
       |bc AS (SELECT vec_id, ${cellSql("v")} AS cell FROM pe),
       |ms AS (SELECT unnest(generate_series(0, ${PQ_M - 1})) AS m),
       |sv AS (SELECT vec_id, m, v[m*$PQ_SUB+1 : m*$PQ_SUB+$PQ_SUB]
       |        AS sv
       |       FROM pe, ms),
       |qsub AS (SELECT q_id, m,
       |          qv[m*$PQ_SUB+1 : m*$PQ_SUB+$PQ_SUB] AS qsv
       |         FROM qvf, ms)""".stripMargin
  }

  private lazy val q217Sql = {
    def sqVar(p: String, variant: String, poolPred: String) =
      s"""${p}m8 AS (SELECT max(list_max(list_transform(v,
         |          x -> abs(x)))) AS mx
         |        FROM e WHERE $poolPred),
         |${p}c8 AS (SELECT vec_id,
         |         list_transform(v, x -> CAST(round(x * 127 / m.mx)
         |           AS BIGINT)) AS c
         |        FROM pe, ${p}m8 m),
         |${p}q8 AS (SELECT vec_id AS q_id, c AS qc FROM ${p}c8
         |        WHERE vec_id IN (SELECT q_id FROM qvf)),
         |${p}sp AS (SELECT p.q_id, c8.vec_id,
         |         CAST(list_sum(list_transform(list_zip(q8.qc, c8.c),
         |           z -> z[1] * z[2])) AS BIGINT) AS adot
         |        FROM probed p
         |         JOIN bc ON bc.cell = p.cell
         |         JOIN ${p}c8 c8 ON c8.vec_id = bc.vec_id
         |         JOIN ${p}q8 q8 ON q8.q_id = p.q_id
         |        WHERE c8.vec_id <> p.q_id),
         |${p}ss AS (SELECT q_id, vec_id FROM (
         |         SELECT q_id, vec_id, row_number() OVER (
         |          PARTITION BY q_id ORDER BY adot DESC, vec_id) AS ar
         |         FROM ${p}sp) WHERE ar <= $SQ_R),
         |${p}s5 AS (SELECT q_id, vec_id FROM (
         |         SELECT ss.q_id, ss.vec_id, row_number() OVER (
         |          PARTITION BY ss.q_id ORDER BY
         |           round(list_sum(list_transform(list_zip(qvf.qv, pe.v),
         |             z -> CAST(z[1] * z[2] AS DOUBLE))), 5) DESC,
         |           ss.vec_id) AS rn
         |         FROM ${p}ss ss JOIN pe USING (vec_id)
         |          JOIN qvf ON ss.q_id = qvf.q_id) WHERE rn <= 5),
         |${p}row AS (SELECT 'sq8cell' AS family, '$variant' AS variant,
         |          (SELECT CAST(count(*) AS BIGINT) FROM qvf)
         |            AS n_queries,
         |          (SELECT CAST(count(*) AS BIGINT) FROM ${p}ss)
         |            AS exact_candidates,
         |          (SELECT CAST(count(*) AS BIGINT)
         |           FROM ${p}s5 JOIN gt USING (q_id, vec_id)) AS hits,
         |          (SELECT CAST(count(*) * 1000000 //
         |            (5 * (SELECT count(*) FROM qvf)) AS BIGINT)
         |           FROM ${p}s5 JOIN gt USING (q_id, vec_id))
         |            AS recall6,
         |          (SELECT CAST(floor(mx * 1000000 + 0.5) AS BIGINT)
         |           FROM ${p}m8) AS train6)""".stripMargin
    s"""WITH $agingPreambleSql,
       |${agingIvfVarSql("ga", "aged", agingAgedPredSql)},
       |${agingIvfVarSql("gf", "fresh", agingFreshPredSql)},
       |${sqVar("sa", "aged", agingAgedPredSql)},
       |${sqVar("sf", "fresh", agingFreshPredSql)}
       |SELECT * FROM (
       |SELECT * FROM garow UNION ALL SELECT * FROM gfrow
       |UNION ALL SELECT * FROM sarow UNION ALL SELECT * FROM sfrow)
       |ORDER BY family, variant""".stripMargin
  }

  // ---------------------------------------------------------------
  // q219: RETRAIN DECISION + ONLINE INDEX SWAP — q217 MEASURES what
  // churn costs the frozen trained state; this gate ACTS on it, the
  // online-reindex verb every vector deployment eventually runs
  // (round-16 verdict #1), completing re-encode (q208) → re-train
  // (q217) → re-serve. The decision: the aged IVFADC recall deficit
  // vs a fresh retrain, in micro-units, thresholded (RetrainThresh6
  // — the q208/q215 decision-bit pattern applied to q217's sheet).
  // When it fires, the retrain EXECUTES: the codebook rebuilds on
  // the churned corpus C′ itself (pqCodebookOfPool — the one
  // spelling), every vector re-encodes, the v2 artifact persists
  // cell-partitioned in annIndexDir's exact layout, and the serve
  // path SWAPS onto it: the published top-5 rows are served FROM THE
  // V2 ARTIFACT with q181's partition-pruned posture, while the
  // oracle rebuilds the fresh chain inline — oracle equality IS the
  // "swapped serving ≡ fresh-built index" gate (q212's frozen-
  // codebook discipline, inverted). When the bit does NOT fire, the
  // serving tier keeps its existing (aged) trained state — both
  // sides make the same conditional choice, so the gate also pins
  // the decision itself. AnnRecallSpec pins the bit's two directions
  // on planted corpora through the identical AgingCtx machinery.
  //
  // Scale: the decision is q217's ivfadc half (two corpus encodes —
  // the honest price of asking); the v2 build is once per retrain
  // decision (a stored artifact); the swapped
  // serve is q181's bounded posture — statically pruned index scan,
  // broadcast probe/LUT/shortlist frames, nothing all-pairs.
  private[graft] val RetrainThresh6 = 50000L // retrain when the aged
    // state costs > 5 recall@5 points (micro-units) vs a fresh one

  private[graft] val retrainIndex = graft.Artifacts[String]("retrain_index")

  /** path of the RETRAINED (v2) cell-partitioned IVFADC index over
    * dir's churned corpus: codebook re-trained on C′, every code
    * re-encoded — annIndexDir's layout under the v2 trained state,
    * built once per corpus snapshot (the online reindex). */
  private[graft] def retrainedIndexDir(s: SparkSession, dir: String)
      : String = {
    import s.implicits._
    retrainIndex(s, dir,
        graft.Tables.fingerprint(s"$dir/embeddings.parquet")) {
      val out = graft.Scratch.tempDirDeletedOnExit("graft_annidx_v2")
      val u = unitVecs(s, dir)
        .filter(!StreamingQueries.Takedown.purged($"vec_id"))
        .localCheckpoint(true)
      ivfEncOf(u, pqCodebookOfPool(u).localCheckpoint(true))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(s"$out/index")
      s"$out/index"
    }
  }

  /** the CHURNED-corpus codebook collected once per corpus snapshot
    * (pqCodebookLocal's discipline for the v2 trained state: the
    * swapped serve's LUT must not re-derive the frozen retrained
    * codebook from the corpus per serve). */
  private[graft] def churnedCodebookLocal(s: SparkSession, dir: String)
      : DataFrame = {
    import s.implicits._
    val path = s"$dir/embeddings.parquet"
    val (rows, sch) =
        churnedCodebook(s, path, graft.Tables.fingerprint(path)) {
      val df = pqCodebookOfPool(
        unitVecs(s, dir)
          .filter(!StreamingQueries.Takedown.purged($"vec_id")))
      (df.collect(), df.schema)
    }
    s.createDataFrame(java.util.Arrays.asList(rows: _*), sch)
  }

  private def q219(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ctx = agingCtx(s, dir)
    val aged = ctx.ivfVariant(ctx.basePool)
    val fresh = ctx.ivfVariant(ctx.u)
    val aRec = agingRecall6(ctx, aged.top5)
    val fRec = agingRecall6(ctx, fresh.top5)
    val deficit6 = fRec - aRec
    val retrain = deficit6 > RetrainThresh6
    // EXECUTE the decision: the swapped serve reads the persisted v2
    // artifact in the probed cells, with the LUT from the collected
    // retrained codebook (PlanShapeSpec locks that it reads rather
    // than re-encodes); no retrain keeps serving the existing state
    val served =
      if (retrain) ctx.top5(ctx.shortlist(churnedCodebookLocal(s, dir),
        Indexed(retrainedIndexDir(s, dir))))
      else aged.top5
    served
      .select($"q_id", $"rv".as("rn"), $"vec_id".as("neighbor_id"), $"sim")
      .withColumn("aged_recall6", lit(aRec))
      .withColumn("fresh_recall6", lit(fRec))
      .withColumn("deficit6", lit(deficit6))
      .withColumn("retrained", lit(retrain))
      .withColumn("train6",
        lit(if (retrain) fresh.train6 else aged.train6))
      .orderBy($"q_id", $"rn")
  }

  private lazy val q219Sql = {
    val exactSim =
      """round(list_sum(list_transform(list_zip(qvf.qv, pe.v),
        |            z -> CAST(z[1] * z[2] AS DOUBLE))), 5)""".stripMargin
    def srv(name: String, sl: String) =
      s"""$name AS (SELECT sl.q_id,
         |         row_number() OVER (PARTITION BY sl.q_id ORDER BY
         |          $exactSim DESC, sl.vec_id) AS rn,
         |         sl.vec_id AS neighbor_id,
         |         $exactSim AS sim
         |        FROM $sl sl JOIN pe USING (vec_id)
         |         JOIN qvf ON sl.q_id = qvf.q_id)""".stripMargin
    s"""WITH $agingPreambleSql,
       |${agingIvfVarSql("ga", "aged", agingAgedPredSql)},
       |${agingIvfVarSql("gf", "fresh", agingFreshPredSql)},
       |dec AS (SELECT ga.recall6 AS aged_recall6,
       |         gf.recall6 AS fresh_recall6,
       |         gf.recall6 - ga.recall6 AS deficit6,
       |         gf.recall6 - ga.recall6 > $RetrainThresh6 AS retrained,
       |         ga.train6 AS aged_train6, gf.train6 AS fresh_train6
       |        FROM garow ga, gfrow gf),
       |${srv("gsrv", "gfsl")},
       |${srv("asrv", "gasl")},
       |srv AS (SELECT * FROM gsrv WHERE (SELECT retrained FROM dec)
       |        UNION ALL
       |        SELECT * FROM asrv
       |        WHERE NOT (SELECT retrained FROM dec))
       |SELECT s.q_id, CAST(s.rn AS INT) AS rn, s.neighbor_id, s.sim,
       | dec.aged_recall6, dec.fresh_recall6, dec.deficit6,
       | dec.retrained,
       | CASE WHEN dec.retrained THEN dec.fresh_train6
       |  ELSE dec.aged_train6 END AS train6
       |FROM srv s, dec WHERE s.rn <= 5
       |ORDER BY s.q_id, s.rn""".stripMargin
  }

  val queries: Seq[Q] = Seq(
    Q("q219_retrain_swap", q219, Some(q219Sql),
      "retrain decision + online index swap: the aged-vs-fresh recall deficit thresholded into a decision bit, the fired retrain rebuilding the PQ codebook on the churned corpus and re-encoding a v2 cell-partitioned index, the serve path swapped onto it — served top-5 ≡ a fresh-built inline chain row for row"),
    Q("q217_quantizer_aging", q217, Some(q217Sql),
      "quantizer-aging frontier: recall@5 over the churned corpus (appends + takedown purge) under the PRE-CHURN trained state (aged PQ codebook / int8 scale) vs a fresh retrain, train6 provenance stamps — the retrain trigger completing q208's re-encode audit"),
    Q("q214_takedown_full_rag", q214, Some(q214Sql),
      "takedown-purged fully-served RAG: q187's complete composition over tombstone-purged artifacts with exact re-derived statistics — hash-equal to the whole pipeline rebuilt over corpus − D"),
    Q("q213_takedown_hybrid_serve", q213, Some(q213Sql),
      "takedown-purged hybrid serving: persisted ANN + doc-postings indexes tombstone-purged with exact re-stats, RRF-fused — hash-equal to the hybrid rebuilt over corpus − D"),
    Q("q212_takedown_ann_serve", q212, Some(q212Sql),
      "takedown-purged ANN serving: the persisted IVFADC index anti-joined with vec tombstones serves the exact top-5 of a rebuild over embeddings − D (quantizer frozen, queries from non-purged ids)"),
    Q("q211_takedown_serve", q211, Some(q211Sql),
      "takedown-purged serving: the chunk index anti-joined with tombstones serves EXACTLY like a rebuild over corpus − D — dict/df/dl/stats recomputed from the purged artifact itself, zero corpus re-scan, zero stale-stats drift"),
    Q("q203_ann_frontier", q203, Some(q203Sql),
      "cross-family ANN frontier: IVFADC / SQ8 / multi-probe LSH at two operating points each, one shared brute ground truth, approx vs exact candidate volumes + recall@5"),
    Q("q196_ann_tuning", q196, Some(q196Sql),
      "ANN tuning frontier: recall@5 vs ADC candidate volume for nprobe in {1,2,4,6} over the shared IVFADC index, brute ground truth"),
    Q("q190_sq8_ann", q190, Some(q190Sql),
      "SQ8 scalar-quantized ANN: int8 symmetric-dot shortlist (exact int64 scores, no rounding convention) + exact cosine re-rank"),
    Q("q187_fully_served_rag", q187, Some(q185Sql),
      "fully-served RAG: persisted IVFADC doc shortlist + persisted postings chunk rerank + persisted manifest pack, ranking ≡ q185"),
    Q("q186_indexed_chunk_rag", q186, Some(q182Sql),
      "chunk retrieval SERVED from the persisted postings index: probe terms as PushedFilters literals, ranking ≡ q182"),
    Q("q185_ann_chunk_rag", q185, Some(q185Sql),
      "ANN-prefiltered chunk retrieval: fused hybrid top-5 docs re-ranked at chunk granularity (global chunk stats), budget-packed with dual-rank provenance"),
    Q("q182_chunk_rag", q182, Some(q182Sql),
      "chunk-level RAG assembly: chunk-granularity BM25 shortlist, budget-packed (doc_id, chunk_idx, offset, md5) manifest"),
    Q("q181_index_served_hybrid", q181, Some(q172Sql),
      "hybrid retrieval SERVED from the persisted cell-partitioned IVFADC index: partition-pruned probe, ranking ≡ q172"),
    Q("q180_rag_context", q180, Some(q180Sql),
      "RAG context assembly: budgeted rank-order doc packing over the ANN-hybrid top-5, context bytes md5-pinned"),
    Q("q179_leakage_safe_split", q179, Some(q179Sql),
      "group-aware train/test split: near-dup components assigned whole to md5 folds, leak count recomputed = 0"),
    Q("q174_retrieval_eval", q174, Some(q174Sql),
      "recall@5 + nDCG@5 of BM25/RRF/MMR vs brute cosine ground truth, per-query + macro"),
    Q("q172_ann_hybrid", q172, Some(q172Sql),
      "ANN-backed hybrid retrieval: IVFADC shortlist ranks fused with BM25 by RRF"),
    Q("q170_split_leakage", q170, Some(q170Sql),
      "train/test near-dup leakage audit over the bucket-blocked pair stream"),
    Q("q165_mmr_diversify", q165, Some(q165Sql),
      "MMR diversified re-ranking of the cosine shortlist (5 greedy declarative steps)"),
    Q("q162_bm25_search", q162, Some(q162Sql),
      "Okapi BM25 inverted-index top-k lexical search"),
    Q("q163_rrf_hybrid", q163, Some(q163Sql),
      "hybrid retrieval: BM25 + embedding-cosine ranks fused by RRF"),
    Q("q132_semantic_dedup", q132, Some(q132Sql),
      "SemDedup APPLY: bucket-blocked embedding dedup keep/drop rollup"),
    Q("q50_knn_brute", q50, Some(q50Sql), "brute-force cosine top-5 KNN"),
    Q("q51_ann_lsh", q51, Some(q51Sql), "random-hyperplane LSH ANN"),
    Q("q54_ann_ivf", q54, Some(q54Sql), "IVF nearest-centroid-cell ANN"),
    Q("q114_ann_pq", q114, Some(q114Sql),
      "product-quantization ADC ANN (sampled codebook, code-table scoring)"),
    Q("q118_ann_ivfpq", q118, Some(q118Sql),
      "IVFADC: IVF cell routing over PQ codes, ADC shortlist, exact re-rank"),
    Q("q52_centroid_stats", q52, Some(q52Sql), "per-label centroid stats"),
    Q("q53_embed_neardup", q53, Some(q53Sql),
      "embedding-cosine near-dup candidate ranking"))
}
