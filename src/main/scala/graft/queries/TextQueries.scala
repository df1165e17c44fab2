package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Text-analysis operators over the `documents` table — the training-data
  * pipeline surface (builder brief; SURVEY.md §7 step 8): token counting,
  * quality scoring, language-ID heuristic, document fingerprinting,
  * n-gram statistics.
  *
  * Scale notes (100 TB posture): every query is a scan → row-local
  * string/array HOFs (codegen'd, no UDFs) → one groupBy shuffle at most.
  * Token/ngram explosion is bounded by document length; the only global
  * sort is a top-k LIMIT which Spark executes as per-partition top-k +
  * merge (TakeOrderedAndProject), not a full sort.
  */
object TextQueries {

  /** whitespace tokenization shared by all queries (documents are
    * single-space separated; split is Java-regex, same as DuckDB's
    * string_split on ' '). */
  private def toks(c: Column): Column = split(c, " ")

  /** q30: per-document token statistics — token count, distinct count,
    * type-token ratio, mean token length (P-ops over string arrays). */
  private def q30(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    documents(s, dir)
      .withColumn("t", toks($"text"))
      .select(
        $"doc_id",
        size($"t").as("n_tokens"),
        size(array_distinct($"t")).as("n_distinct"),
        round(size(array_distinct($"t")).cast("double") /
          size($"t").cast("double"), 6).as("ttr"),
        round(aggregate($"t", lit(0L), (acc, x) => acc + length(x))
          .cast("double") / size($"t").cast("double"), 6).as("avg_tok_len"))
      .orderBy($"doc_id")
  }

  private val q30Sql =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
      |SELECT doc_id,
      | len(t) AS n_tokens,
      | len(list_distinct(t)) AS n_distinct,
      | round(CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 6) AS ttr,
      | round(CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE)
      |   / len(t), 6) AS avg_tok_len
      |FROM d ORDER BY doc_id""".stripMargin

  /** q31: corpus profile per (lang, source) — the groupBy rollup a
    * dataset-curation pipeline runs first. */
  private def q31(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    documents(s, dir)
      .withColumn("n_tok", size(toks($"text")))
      .groupBy($"lang", $"source")
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg($"n_chars"), 4).as("avg_chars"),
        round(avg($"n_tok"), 4).as("avg_tokens"),
        sum($"n_tok").as("total_tokens"))
      .orderBy($"lang", $"source")
  }

  private val q31Sql =
    """SELECT lang, source, count(*) AS n_docs,
      | round(avg(n_chars), 4) AS avg_chars,
      | round(avg(len(string_split(text, ' '))), 4) AS avg_tokens,
      | CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
      |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin

  /** Marker lexicons for the language-ID heuristic (q32). The corpus is
    * synthetic with a shared vocabulary, so markers are fixed vocab
    * subsets — the OPERATOR (per-lang lexicon hit scoring + argmax with
    * deterministic tie-break) is what the query demonstrates. */
  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("group", "hash", "batch"),
    "en" -> Seq("the", "a", "value"),
    "es" -> Seq("data", "table", "row"),
    "fr" -> Seq("column", "filter", "merge"),
    "zh" -> Seq("window", "query", "join"))

  /** q32: n-gram/lexicon language-ID — score each doc against each
    * language's marker lexicon (token hit count, normalized), predict
    * argmax, report the lang × predicted confusion matrix. */
  private def q32(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val withScores = langMarkers.foldLeft(
      documents(s, dir).withColumn("t", toks($"text"))) {
      case (df, (l, ms)) =>
        df.withColumn(s"score_$l",
          aggregate(col("t"), lit(0L),
            (acc, x) => acc + when(x.isin(ms: _*), 1L).otherwise(0L)))
    }
    // argmax with tie-break on lexicon order (first max wins)
    val pred = langMarkers.map { case (l, _) => (l, col(s"score_$l")) }
      .foldLeft((lit(""), lit(-1L))) { case ((bl, bs), (l, sc)) =>
        (when(sc > bs, lit(l)).otherwise(bl), when(sc > bs, sc).otherwise(bs))
      }._1
    withScores.withColumn("pred_lang", pred)
      .groupBy($"lang", $"pred_lang")
      .agg(count(lit(1)).as("n"))
      .orderBy($"lang", $"pred_lang")
  }

  private val q32Sql = {
    val scoreExprs = langMarkers.map { case (l, ms) =>
      val set = ms.map(m => s"'$m'").mkString(", ")
      s"CAST(len(list_filter(t, x -> x IN ($set))) AS BIGINT) AS score_$l"
    }.mkString(",\n ")
    // same left-fold argmax as the Spark side: strictly-greater wins
    val arg = langMarkers.foldLeft(("''", "CAST(-1 AS BIGINT)")) {
      case ((bl, bs), (l, _)) =>
        (s"(CASE WHEN score_$l > $bs THEN '$l' ELSE $bl END)",
          s"(CASE WHEN score_$l > $bs THEN score_$l ELSE $bs END)")
    }._1
    s"""WITH d AS (SELECT lang, string_split(text, ' ') AS t FROM documents),
       |sc AS (SELECT lang, $scoreExprs FROM d),
       |p AS (SELECT lang, $arg AS pred_lang FROM sc)
       |SELECT lang, pred_lang, count(*) AS n
       |FROM p GROUP BY lang, pred_lang ORDER BY lang, pred_lang""".stripMargin
  }

  /** q33: document quality scoring — length, repetition (1−TTR) and
    * stopword-ratio features fused into one score, bucketed. The keep/
    * drop decision of a pretraining-data filter. */
  private def q33(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val stop = Seq("a", "the")
    documents(s, dir)
      .withColumn("t", toks($"text"))
      .withColumn("n_tok", size($"t").cast("double"))
      .withColumn("ttr", size(array_distinct($"t")) / $"n_tok")
      .withColumn("stop_ratio",
        aggregate($"t", lit(0L),
          (acc, x) => acc + when(x.isin(stop: _*), 1L).otherwise(0L)) / $"n_tok")
      .withColumn("len_score", least($"n_tok" / 80.0, lit(1.0)))
      .withColumn("score", round(
        $"len_score" * 0.3 + $"ttr" * 0.4 + (lit(1.0) - $"stop_ratio") * 0.3, 6))
      .withColumn("bucket",
        when($"score" >= 0.8, "high")
          .when($"score" >= 0.6, "medium").otherwise("low"))
      .select($"doc_id", round($"ttr", 6).as("ttr"),
        round($"stop_ratio", 6).as("stop_ratio"), $"score", $"bucket")
      .orderBy($"doc_id")
  }

  private val q33Sql =
    """WITH d AS (
      | SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |f AS (
      | SELECT doc_id,
      |  CAST(len(t) AS DOUBLE) AS n_tok,
      |  len(list_distinct(t)) / CAST(len(t) AS DOUBLE) AS ttr,
      |  CAST(len(list_filter(t, x -> x IN ('a', 'the'))) AS DOUBLE)
      |    / len(t) AS stop_ratio
      | FROM d)
      |SELECT doc_id, round(ttr, 6) AS ttr, round(stop_ratio, 6) AS stop_ratio,
      | round(least(n_tok / 80.0, 1.0) * 0.3 + ttr * 0.4
      |   + (1.0 - stop_ratio) * 0.3, 6) AS score,
      | CASE WHEN round(least(n_tok / 80.0, 1.0) * 0.3 + ttr * 0.4
      |        + (1.0 - stop_ratio) * 0.3, 6) >= 0.8 THEN 'high'
      |      WHEN round(least(n_tok / 80.0, 1.0) * 0.3 + ttr * 0.4
      |        + (1.0 - stop_ratio) * 0.3, 6) >= 0.6 THEN 'medium'
      |      ELSE 'low' END AS bucket
      |FROM f ORDER BY doc_id""".stripMargin

  /** q34: document fingerprinting — content md5, a 32-bit bucket from its
    * hex prefix, and an order-sensitive polynomial rolling hash over the
    * token stream (left fold, mod 1e9+7). */
  private def q34(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    documents(s, dir)
      .withColumn("t", toks($"text"))
      .select(
        $"doc_id",
        md5($"text").as("fp_md5"),
        conv(substring(md5($"text"), 1, 8), 16, 10).cast("long").as("fp_bucket"),
        aggregate($"t", lit(0L), (acc, x) =>
          pmod(acc * 31L + length(x) * 17L + ascii(substring(x, 1, 1)),
            lit(1000000007L))).as("fp_rolling"))
      .orderBy($"doc_id")
  }

  private val q34Sql =
    """WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS t
      |           FROM documents)
      |SELECT doc_id, md5(text) AS fp_md5,
      | CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT) AS fp_bucket,
      | list_reduce(
      |   list_prepend(CAST(0 AS BIGINT),
      |     list_transform(t, x -> CAST(length(x) * 17
      |                  + unicode(substr(x, 1, 1)) AS BIGINT))),
      |   (acc, x) -> (acc * 31 + x) % 1000000007) AS fp_rolling
      |FROM d ORDER BY doc_id""".stripMargin

  /** q35: global top-20 word trigrams — n-gram generation per row then
    * one count shuffle; top-k via LIMIT (per-partition top-k + merge,
    * no global sort at scale). */
  private def q35(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    documents(s, dir)
      .withColumn("t", toks($"text"))
      .filter(size($"t") >= 3)
      .select(explode(transform(sequence(lit(1), size($"t") - 2), i =>
        concat_ws(" ", element_at($"t", i), element_at($"t", i + 1),
          element_at($"t", i + 2)))).as("ngram"))
      .groupBy($"ngram")
      .agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"ngram")
      .limit(20)
  }

  private val q35Sql =
    """WITH d AS (SELECT string_split(text, ' ') AS t FROM documents
      |           WHERE len(string_split(text, ' ')) >= 3),
      |g AS (SELECT unnest(list_transform(generate_series(1, len(t) - 2),
      |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS ngram
      |      FROM d)
      |SELECT ngram, count(*) AS n FROM g
      |GROUP BY ngram ORDER BY n DESC, ngram LIMIT 20""".stripMargin

  /** q36: BPE-ish regex tokenization (builder brief: "token counting —
    * whitespace + a BPE-ish regex"): subword-style lexer classes
    * (lowercase runs, Titlecase runs, digit runs, single punct) via
    * regexp_extract_all — the same pattern compiles in Java regex and
    * RE2, so the oracle tokenizes identically. */
  private def q36(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pat = "[a-z]+|[A-Z][a-z]*|[0-9]+|[^a-zA-Z0-9 ]"
    documents(s, dir)
      .withColumn("bt", regexp_extract_all($"text", lit(pat), lit(0)))
      .select(
        $"doc_id",
        size($"bt").as("n_subtokens"),
        size(filter($"bt", t => t.rlike("^[a-zA-Z]"))).as("n_alpha"),
        size(filter($"bt", t => t.rlike("^[0-9]"))).as("n_num"),
        round(aggregate($"bt", lit(0L), (acc, t) => acc + length(t))
          .cast("double") / $"n_chars", 6).as("coverage"))
      .orderBy($"doc_id")
  }

  private val q36Sql =
    """WITH d AS (
      | SELECT doc_id, n_chars,
      |  regexp_extract_all(text,
      |   '[a-z]+|[A-Z][a-z]*|[0-9]+|[^a-zA-Z0-9 ]') AS bt
      | FROM documents)
      |SELECT doc_id,
      | len(bt) AS n_subtokens,
      | len(list_filter(bt, t -> regexp_matches(t, '^[a-zA-Z]')))
      |   AS n_alpha,
      | len(list_filter(bt, t -> regexp_matches(t, '^[0-9]'))) AS n_num,
      | round(CAST(list_sum(list_transform(bt, t -> length(t))) AS DOUBLE)
      |   / n_chars, 6) AS coverage
      |FROM d ORDER BY doc_id""".stripMargin

  /** q37: content-filter scan — PII-pattern hits (email/URL/long-digit
    * runs; RE2-compatible regexes so both engines match identically)
    * and intra-document trigram repetition (the boilerplate/spam signal
    * — distinct-shingle ratio), rolled up per source. */
  private def q37(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val email = "[a-zA-Z0-9._]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
    val url = "https?://[^ ]+"
    val digits = "[0-9]{7,}"
    documents(s, dir)
      .withColumn("t", toks($"text"))
      .withColumn("n_sh", greatest(size($"t") - 2, lit(0)))
      .withColumn("n_sh_distinct",
        when($"n_sh" > 0, size(array_distinct(
          transform(sequence(lit(1), greatest(size($"t") - 2, lit(1))), i =>
            concat_ws(" ", element_at($"t", i), element_at($"t", i + 1),
              element_at($"t", i + 2))))))
          .otherwise(0))
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(regexp_extract_all($"text", lit(email), lit(0))))
          .as("email_hits"),
        sum(size(regexp_extract_all($"text", lit(url), lit(0))))
          .as("url_hits"),
        sum(size(regexp_extract_all($"text", lit(digits), lit(0))))
          .as("digit_run_hits"),
        round(avg(when($"n_sh" > 0,
          $"n_sh_distinct" / $"n_sh".cast("double"))), 6)
          .as("avg_shingle_uniqueness"))
      .orderBy($"source")
  }

  private val q37Sql =
    """WITH d AS (
      | SELECT source, text, string_split(text, ' ') AS t FROM documents),
      |f AS (
      | SELECT source, text,
      |  greatest(len(t) - 2, 0) AS n_sh,
      |  CASE WHEN len(t) >= 3 THEN
      |   len(list_distinct(list_transform(generate_series(1, len(t) - 2),
      |     i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])))
      |  ELSE 0 END AS n_sh_distinct
      | FROM d)
      |SELECT source, count(*) AS n_docs,
      | CAST(sum(len(regexp_extract_all(text,
      |   '[a-zA-Z0-9._]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}'))) AS BIGINT) AS email_hits,
      | CAST(sum(len(regexp_extract_all(text, 'https?://[^ ]+'))) AS BIGINT)
      |   AS url_hits,
      | CAST(sum(len(regexp_extract_all(text, '[0-9]{7,}'))) AS BIGINT)
      |   AS digit_run_hits,
      | round(avg(CASE WHEN n_sh > 0
      |   THEN n_sh_distinct / CAST(n_sh AS DOUBLE) END), 6)
      |   AS avg_shingle_uniqueness
      |FROM f GROUP BY source ORDER BY source""".stripMargin

  /** q38: deterministic class rebalancing — downsample every language
    * to the minority-class count via md5-ordered ranking (the engine
    * form of the reference's pre-materialized class-balanced train
    * split, `train_balancedwork.pickle`, `exercise provided.ipynb`
    * cell 3 "train split is class-balanced"). */
  private def q38(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"lang")
      .orderBy(md5(concat(lit("r:"), $"doc_id")), $"doc_id")
    val ranked = documents(s, dir)
      .select($"lang", $"doc_id")
      .withColumn("rk", row_number().over(w))
    val minCount = ranked.groupBy($"lang").agg(count(lit(1)).as("c"))
      .agg(min($"c").as("n_min"))
    ranked.crossJoin(broadcast(minCount))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_orig"),
        sum(when($"rk" <= $"n_min", 1L).otherwise(0L)).as("n_kept"),
        sum(when($"rk" <= $"n_min", $"doc_id")).as("kept_checksum"))
      .orderBy($"lang")
  }

  private val q38Sql =
    """WITH r AS (
      | SELECT lang, doc_id,
      |  row_number() OVER (PARTITION BY lang
      |    ORDER BY md5(concat('r:', CAST(doc_id AS VARCHAR))), doc_id)
      |    AS rk
      | FROM documents),
      |m AS (SELECT min(c) AS n_min FROM
      |      (SELECT count(*) AS c FROM documents GROUP BY lang))
      |SELECT lang, count(*) AS n_orig,
      | CAST(sum(CASE WHEN rk <= n_min THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      | CAST(sum(CASE WHEN rk <= n_min THEN doc_id END) AS BIGINT)
      |   AS kept_checksum
      |FROM r CROSS JOIN m GROUP BY lang ORDER BY lang""".stripMargin

  /** q96: deterministic WEIGHTED sampling (Efraimidis–Spirakis) — the
    * importance-sampling counterpart to q19's uniform sampler: each doc
    * draws u ∈ (0,1] from md5 and ranks by the ES key ln(u)/w (⇔
    * u^(1/w); higher weight ⇒ more likely to rank top), weight =
    * n_chars. Top-5 per language = a without-replacement sample biased
    * toward long documents, reproducible across engines and runs — the
    * quality-weighted corpus subsample a training pipeline draws. */
  private def q96(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = documents(s, dir)
      .withColumn("u",
        (conv(substring(md5(concat(lit("ws:"), $"doc_id")), 1, 8), 16, 10)
          .cast("long") % 1000000 + 1) / lit(1000001.0))
      .withColumn("es_key", log($"u") / $"n_chars")
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"lang")
      .orderBy($"es_key".desc, $"doc_id")
    d.withColumn("rk", row_number().over(w))
      .filter($"rk" <= 5)
      .select($"lang", $"rk", $"doc_id", $"n_chars",
        round($"es_key" * 1e6, 4).as("es_key_e6"))
      .orderBy($"lang", $"rk")
  }

  private val q96Sql =
    """WITH d AS (
      | SELECT lang, doc_id, n_chars,
      |  (CAST(concat('0x', substr(md5(concat('ws:', CAST(doc_id AS VARCHAR))),
      |        1, 8)) AS BIGINT) % 1000000 + 1) / 1000001.0 AS u
      | FROM documents),
      |k AS (
      | SELECT lang, doc_id, n_chars, ln(u) / n_chars AS es_key,
      |  row_number() OVER (PARTITION BY lang
      |                     ORDER BY ln(u) / n_chars DESC, doc_id) AS rk
      | FROM d)
      |SELECT lang, rk, doc_id, n_chars,
      | round(es_key * 1e6, 4) AS es_key_e6
      |FROM k WHERE rk <= 5 ORDER BY lang, rk""".stripMargin

  /** q115: TF-IDF term weighting — the classic corpus-statistics
    * operator a retrieval / data-curation pipeline runs after token
    * counting: tf(doc, term) from one explode + groupBy, df(term) from
    * a second agg OVER the tf table (no second corpus scan), idf =
    * ln(N / df), global top-20 (doc, term) scores via TakeOrdered.
    * Scale: the tf shuffle is keyed on (doc_id, term) and partially
    * aggregated map-side; df shuffles the (already small) tf table on
    * term; the doc count joins in as a broadcast scalar; the final
    * top-20 is a per-partition heap, never a full sort. The df join
    * stays a shuffle join on term because a real vocabulary (unlike
    * this synthetic one) is far too large to broadcast. */
  private def q115(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tf = documents(s, dir)
      .select($"doc_id", explode(toks($"text")).as("term"))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val n = documents(s, dir).agg(count(lit(1)).as("n"))
    tf.join(df, "term").crossJoin(broadcast(n))
      .withColumn("tfidf",
        round($"tf" * log($"n".cast("double") / $"df"), 6))
      .select($"doc_id", $"term", $"tf", $"df", $"tfidf")
      .orderBy($"tfidf".desc, $"doc_id", $"term")
      .limit(20)
  }

  private val q115Sql =
    """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |           FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf
      |       FROM t GROUP BY doc_id, term),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |n AS (SELECT count(*) AS n FROM documents)
      |SELECT doc_id, term, tf, df,
      | round(tf * ln(CAST(n AS DOUBLE) / df), 6) AS tfidf
      |FROM tf JOIN df USING (term) CROSS JOIN n
      |ORDER BY tfidf DESC, doc_id, term LIMIT 20""".stripMargin

  /** q125: HEAVY HITTERS via the native Space-Saving aggregate — the
    * per-language top-10 word bigrams through `graft_topk_freq`, the
    * bounded-memory operator a 100 TB vocabulary scan needs (an exact
    * per-key count shuffles the full key universe; the summary is O(k)
    * per group with partial-aggregate merge). Oracle-gateable by the
    * q113 exact-regime trick: bigram vocabulary per lang (~31² ≈ 960)
    * is below k = 2048, so no partial buffer ever evicts, every err is
    * 0, and the summary equals the exact groupBy counts the oracle
    * computes; TopKFreqSpec pins the approximate regime (k ≪ distinct,
    * planted Zipf stream) where the gate can't reach. */
  private def q125(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bigrams = documents(s, dir)
      .select($"lang", split($"text", " ").as("t"))
      .filter(size($"t") >= 2)
      // _outer: dodge InferFiltersFromGenerate (see DedupQueries.
      // ngramAttribution); size(t) >= 2 makes the array non-empty
      .select($"lang", explode_outer(expr(
        "transform(sequence(1, size(t) - 1), " +
          "i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"))
        .as("bigram"))
    bigrams.groupBy($"lang")
      .agg(graft.expr.GraftFunctions.topKFreq(s, $"bigram", 2048).as("hh"))
      .select($"lang", posexplode($"hh").as(Seq("pos", "e")))
      .filter($"pos" < 10)
      .select($"lang", ($"pos" + 1).cast("int").as("rank"),
        $"e.key".as("bigram"), $"e.cnt".as("cnt"), $"e.err".as("err"))
      .orderBy($"lang", $"rank")
  }

  private val q125Sql =
    """WITH t AS (
      | SELECT lang, string_split(text, ' ') AS tk FROM documents
      | WHERE len(string_split(text, ' ')) >= 2),
      |bg AS (
      | SELECT lang, unnest(list_transform(generate_series(1, len(tk) - 1),
      |   i -> tk[i] || ' ' || tk[i + 1])) AS bigram
      | FROM t),
      |c AS (SELECT lang, bigram, count(*) AS cnt FROM bg GROUP BY 1, 2),
      |r AS (
      | SELECT lang, bigram, cnt,
      |  row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, bigram)
      |    AS rank
      | FROM c)
      |SELECT lang, CAST(rank AS INT) AS rank, bigram,
      | CAST(cnt AS BIGINT) AS cnt, CAST(0 AS BIGINT) AS err
      |FROM r WHERE rank <= 10 ORDER BY lang, rank""".stripMargin

  /** q126: repetition-based QUALITY FILTER — the Gopher-family per-doc
    * repetition metrics (Rae et al. 2021 §A1.1; RefinedWeb/Dolma run
    * the same screens) with a keep/drop verdict per document, rolled
    * up by source: top-bigram occurrence fraction (how much of the doc
    * is one repeated word pair) and repeated-token ratio (1 − TTR).
    * Drop rule: top_bg_frac > 0.05 OR rep_ratio > 0.6 (calibrated on
    * this corpus: medians 0.033 / 0.54 — both sides of each screen are
    * populated).
    *
    * Scale: one scan, all metrics row-local HOFs. The top-bigram count
    * is a SORT-then-max-run-length fold — O(L log L) per doc — not the
    * O(L²) distinct×filter spelling, because at 100 TB the corpus has
    * million-token documents where L² is the difference between a scan
    * and a stall. The oracle computes the same number relationally
    * (unnest → GROUP BY doc,bigram → max(count)): semantics, not
    * spelling, are what the gate pins. */
  /** Gopher screen thresholds (Rae et al. 2021 §A1.1, calibrated on
    * this corpus — q126's doc): ONE definition consumed by q126 and
    * q138's stage 3, Spark and SQL sides. */
  private val GopherTopBgMax = 0.05
  private val GopherRepMax = 0.6

  /** max run length in the sorted bigram array == max bigram count.
    * private[graft]: EdgeCaseSpec pins THIS string against a
    * brute-force count — a copied string in the spec would keep
    * passing on a stale fold if the production spelling changed. */
  private[graft] val TopBigramFoldExpr: String =
    "aggregate(array_sort(bgs), " +
      "named_struct('prev', '', 'run', 0, 'best', 0), " +
      "(acc, x) -> named_struct(" +
      "  'prev', x, " +
      "  'run', if(x = acc.prev, acc.run + 1, 1), " +
      "  'best', greatest(acc.best, if(x = acc.prev, acc.run + 1, 1))), " +
      "acc -> acc.best)"

  private def q126(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    documents(s, dir)
      .withColumn("t", toks($"text"))
      .withColumn("bgs", when(size($"t") >= 2, expr(
        "transform(sequence(1, size(t) - 1), " +
          "i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"))
        .otherwise(expr("array()")))
      .withColumn("top_bg_cnt", expr(TopBigramFoldExpr))
      .withColumn("top_bg_frac",
        $"top_bg_cnt" / greatest(size($"bgs"), lit(1)).cast("double"))
      .withColumn("rep_ratio",
        lit(1.0) - size(array_distinct($"t")) / size($"t").cast("double"))
      .withColumn("keep",
        $"top_bg_frac" <= GopherTopBgMax && $"rep_ratio" <= GopherRepMax)
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(!$"keep", 1L).otherwise(0L)).as("n_dropped"),
        round(avg($"top_bg_frac"), 6).as("avg_top_bigram_frac"),
        round(avg($"rep_ratio"), 6).as("avg_rep_token_ratio"),
        sum(when($"keep", $"doc_id")).as("kept_checksum"))
      .orderBy($"source")
  }

  private lazy val q126Sql =
    s"""WITH d AS (
      | SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
      |bg AS (
      | SELECT doc_id, source, t,
      |  CASE WHEN len(t) >= 2 THEN
      |    list_transform(generate_series(1, len(t) - 1),
      |      i -> t[i] || ' ' || t[i + 1])
      |  ELSE [] END AS bgs
      | FROM d),
      |cnt AS (
      | SELECT doc_id, max(c) AS top_bg_cnt FROM (
      |  SELECT doc_id, count(*) AS c
      |  FROM (SELECT doc_id, unnest(bgs) AS b FROM bg)
      |  GROUP BY doc_id, b)
      | GROUP BY doc_id),
      |m AS (
      | SELECT bg.doc_id, source,
      |  coalesce(top_bg_cnt, 0) / CAST(greatest(len(bgs), 1) AS DOUBLE)
      |    AS top_bg_frac,
      |  1.0 - len(list_distinct(t)) / CAST(len(t) AS DOUBLE) AS rep_ratio
      | FROM bg LEFT JOIN cnt ON bg.doc_id = cnt.doc_id)
      |SELECT source, count(*) AS n_docs,
      | CAST(sum(CASE WHEN top_bg_frac > $GopherTopBgMax
      |   OR rep_ratio > $GopherRepMax
      |   THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
      | round(avg(top_bg_frac), 6) AS avg_top_bigram_frac,
      | round(avg(rep_ratio), 6) AS avg_rep_token_ratio,
      | CAST(sum(CASE WHEN top_bg_frac <= $GopherTopBgMax
      |   AND rep_ratio <= $GopherRepMax
      |   THEN doc_id END) AS BIGINT) AS kept_checksum
      |FROM m GROUP BY source ORDER BY source""".stripMargin

  /** q127: DOMAIN-MIXTURE sampling — downsample each source to a target
    * mixture weight (the Pile/Dolma "mixing" step; q38's uniform
    * balance is the all-weights-equal special case). Weights are
    * integers (w_g = 1 + src_idx mod 3); the kept count is
    * n_keep_g = w_g · T with T = min_g ⌊n_g / w_g⌋ — the LARGEST total
    * whose per-source counts are exactly proportional to the weights
    * and feasible in every source. All-integer arithmetic: no
    * cross-engine floor(float) boundary risk. Selection inside a
    * source is the md5-rank contract shared with q19/q38/q96.
    *
    * Scale: one pass for counts (tiny, broadcast back), one window
    * rank per source partition — no shuffle beyond the rank's
    * hash-partition by source; at 100 TB the rank is the only
    * per-row cost and T is a driver-side scalar. */
  /** the mixture-sampling contract — ONE definition consumed by q127
    * and q138's stage 7: integer weights w = 1 + src_idx mod 3, the
    * largest exactly-proportional feasible total t_units =
    * min_g ⌊n_g / w⌋, md5("mix:") rank within source. Adds (w, rk,
    * t_units) to `d`; a doc is kept iff rk <= w * t_units. */
  private def withMixture(d: DataFrame): DataFrame = {
    val s = d.sparkSession
    import s.implicits._
    val mw = d.withColumn("w",
      (lit(1) + pmod(regexp_extract($"source", "src(\\d+)", 1).cast("int"),
        lit(3))).cast("long"))
    val caps = mw.groupBy($"source", $"w")
      .agg(count(lit(1)).as("n_orig"))
      .agg(min(expr("n_orig div w")).as("t_units"))
    val rk = org.apache.spark.sql.expressions.Window.partitionBy($"source")
      .orderBy(md5(concat(lit("mix:"), $"doc_id")), $"doc_id")
    mw.withColumn("rk", row_number().over(rk))
      .crossJoin(broadcast(caps))
  }

  /** DuckDB spelling of `withMixture` over source table `src` with
    * carried columns `cols`: emits mw/caps/mrk CTE text (consume
    * `mrk CROSS JOIN caps`, keep rule rk <= w * t_units). */
  private def mixtureSqlCtes(src: String, cols: String): String =
    s"""mw AS (
       | SELECT $cols,
       |  1 + (CAST(regexp_extract(source, 'src(\\d+)', 1) AS INT) % 3)
       |    AS w
       | FROM $src),
       |caps AS (
       | SELECT min(n_orig // w) AS t_units FROM
       |  (SELECT source, w, count(*) AS n_orig FROM mw
       |   GROUP BY source, w)),
       |mrk AS (
       | SELECT *, row_number() OVER (PARTITION BY source
       |   ORDER BY md5(concat('mix:', CAST(doc_id AS VARCHAR))), doc_id)
       |   AS rk
       | FROM mw)""".stripMargin

  private def q127(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    withMixture(documents(s, dir))
      .groupBy($"source", $"w")
      .agg(
        count(lit(1)).as("n_orig"),
        sum(when($"rk" <= $"w" * $"t_units", 1L).otherwise(0L))
          .as("n_keep"),
        sum(when($"rk" <= $"w" * $"t_units", $"doc_id")).as("kept_checksum"))
      .withColumn("target_weight", $"w")
      .select($"source", $"n_orig", $"target_weight", $"n_keep",
        $"kept_checksum")
      .orderBy($"source")
  }

  private lazy val q127Sql =
    s"""WITH ${mixtureSqlCtes("documents", "doc_id, source")}
      |SELECT source, count(*) AS n_orig,
      | CAST(w AS BIGINT) AS target_weight,
      | CAST(sum(CASE WHEN rk <= w * t_units THEN 1 ELSE 0 END) AS BIGINT)
      |   AS n_keep,
      | CAST(sum(CASE WHEN rk <= w * t_units THEN doc_id END) AS BIGINT)
      |   AS kept_checksum
      |FROM mrk CROSS JOIN caps GROUP BY source, w ORDER BY source""".stripMargin

  /** per-doc mean NLL under the interpolated bigram LM, carrying the
    * requested grouping columns — shared by q129 (per-source rollup)
    * and q133 (per-language quantile split): ONE definition of the LM
    * so the two gates can't drift apart. The LM is corpus-self
    * (p₂ = c(w₁w₂)/c(w₁), p₁ = c(w)/N; score = −ln(0.7·p₂ + 0.3·p₁)
    * averaged over a doc's adjacent pairs; a production run would fit
    * the counts on a held-out high-quality corpus — same plan,
    * different input). Docs with fewer than 2 tokens have no pairs
    * and thus NO score — they are absent from this frame, and both
    * consumers inherit that restriction.
    *
    * Scale: counts are two explode → groupBy passes with map-side
    * partials (vocab and bigram tables ≪ corpus); scoring re-joins
    * the pair stream to the two count tables — SHUFFLE joins on
    * (w1, w2) and w by design, because a real LM's vocabulary/bigram
    * tables don't broadcast (q115's rationale); then one groupBy doc.
    * Every join key is the natural hash key; no join ever touches
    * more than the pair stream. Interpolation means every scored pair
    * EXISTS in both count tables (corpus-self guarantees c₁₂ ≥ 1), so
    * the joins are inner with no null legs. */
  private def docNllFrame(s: SparkSession, dir: String,
      carry: Seq[String]): DataFrame =
    docNllFrameOf(s, documents(s, dir), carry)

  /** same LM over an arbitrary corpus frame (doc_id, text, carry…) —
    * q138's curation DAG fits the LM on the docs that SURVIVE its
    * upstream screens, not the raw table. */
  private def docNllFrameOf(s: SparkSession, docs: DataFrame,
      carry: Seq[String]): DataFrame = {
    import s.implicits._
    val d = docs.withColumn("t", toks($"text"))
    val tok = d.select(explode($"t").as("w"))
    val c1 = tok.groupBy($"w").agg(count(lit(1)).as("c"))
    val n = tok.agg(count(lit(1)).as("n"))
    val carryCols = carry.map(col)
    val pairs = d.filter(size($"t") >= 2)
      // _outer: dodge InferFiltersFromGenerate; size(t) >= 2
      .select(($"doc_id" +: carryCols) :+ explode_outer(expr(
        "transform(sequence(1, size(t) - 1), " +
          "i -> named_struct('w1', element_at(t, i), " +
          "'w2', element_at(t, i + 1)))")).as("pr"): _*)
      .select(($"doc_id" +: carryCols) :+ $"pr.w1".as("w1") :+
        $"pr.w2".as("w2"): _*)
    val c12 = pairs.groupBy($"w1", $"w2").agg(count(lit(1)).as("c12"))
    pairs
      .join(c12, Seq("w1", "w2"))
      .join(c1.withColumnRenamed("w", "w1").withColumnRenamed("c", "c1a"),
        Seq("w1"))
      .join(c1.withColumnRenamed("w", "w2").withColumnRenamed("c", "c1b"),
        Seq("w2"))
      .crossJoin(broadcast(n))
      .withColumn("nll", -log(lit(0.7) * $"c12" / $"c1a" +
        lit(0.3) * $"c1b" / $"n"))
      .groupBy(($"doc_id" +: carryCols): _*)
      .agg(avg($"nll").as("doc_nll"))
  }

  /** q129: LM-PERPLEXITY quality scoring — the CCNet-family filter
    * (Wenzek et al. 2020): score every document by its mean NLL under
    * the interpolated bigram LM (docNllFrame) and flag the worst
    * tail per source. Flag threshold 3.42 ≈ the corpus p80
    * (calibrated; both sides of the screen populated in every
    * source). */
  private def q129(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docNllFrame(s, dir, Seq("source")).groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg($"doc_nll"), 6).as("avg_nll"),
        sum(when($"doc_nll" > 3.42, 1L).otherwise(0L)).as("n_flagged"),
        sum(when($"doc_nll" > 3.42, $"doc_id")).as("flagged_checksum"))
      .orderBy($"source")
  }

  private val q129Sql =
    """WITH d AS (
      | SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
      |tok AS (SELECT unnest(t) AS w FROM d),
      |c1 AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
      |n AS (SELECT count(*) AS n FROM tok),
      |pairs AS (
      | SELECT doc_id, source,
      |  unnest(list_transform(generate_series(1, len(t) - 1),
      |    i -> struct_pack(w1 := t[i], w2 := t[i + 1]))) AS pr
      | FROM d WHERE len(t) >= 2),
      |p AS (SELECT doc_id, source, pr.w1 AS w1, pr.w2 AS w2 FROM pairs),
      |c12 AS (SELECT w1, w2, count(*) AS c12 FROM p GROUP BY w1, w2),
      |scored AS (
      | SELECT doc_id, source,
      |  -ln(0.7 * c12.c12 / c1a.c + 0.3 * c1b.c / n.n) AS nll
      | FROM p JOIN c12 USING (w1, w2)
      | JOIN c1 c1a ON c1a.w = p.w1
      | JOIN c1 c1b ON c1b.w = p.w2
      | CROSS JOIN n),
      |docnll AS (
      | SELECT doc_id, source, avg(nll) AS doc_nll
      | FROM scored GROUP BY doc_id, source)
      |SELECT source, count(*) AS n_docs,
      | round(avg(doc_nll), 6) AS avg_nll,
      | CAST(sum(CASE WHEN doc_nll > 3.42 THEN 1 ELSE 0 END) AS BIGINT)
      |   AS n_flagged,
      | CAST(sum(CASE WHEN doc_nll > 3.42 THEN doc_id END) AS BIGINT)
      |   AS flagged_checksum
      |FROM docnll GROUP BY source ORDER BY source""".stripMargin

  /** q131: SHARD PACKING — assign documents to fixed-token-budget
    * training shards (B = 4096), the step between curation and
    * tokenized training: per language, docs in deterministic md5
    * order, shard(doc) = ⌊cum_tokens_before / B⌋ (streaming next-fit
    * by start offset: shards fill in order, a doc starts in the shard
    * where its offset lands, no doc is split). All-integer window
    * arithmetic — the assignment is exact cross-engine; the rollup's
    * placement checksum Σ(shard·doc_id) pins EVERY doc's shard, not
    * just the counts.
    *
    * Scale: the assignment is computed HIERARCHICALLY — the
    * distributed prefix-sum: bucket every doc by the leading P hex
    * chars of its md5 order key (the bucket prefix respects the
    * global (md5, doc_id) order by construction; P = packShardsOf's
    * prefixLen, so no task sorts more than N/16^P of a language),
    * run the token cumsum per (lang, bucket) — a bounded
    * in-partition sort — then rebuild the GLOBAL running offset by
    * adding each bucket's preceding-buckets token total (a 16^P-row-
    * per-lang rollup, broadcast back). cum_before = bucket_offset +
    * local_cum is bit-identical to the one-window flat form (the
    * offset decomposition is exact integer arithmetic), so the
    * assignment — and the oracle — are unchanged while no single
    * task ever sorts more than a bucket. ShardPackSpec pins per-doc
    * equality of the two forms; the flat spelling survives below as
    * the spec's reference. */
  private[graft] val PackB = 4096L

  /** per-doc (lang, doc_id, n_tok, shard) under streaming next-fit —
    * `hierarchical` picks the bounded two-level prefix-sum or the
    * one-window reference form (spec-only). */
  private[graft] def packShards(s: SparkSession, dir: String,
      hierarchical: Boolean): DataFrame =
    packShardsOf(documents(s, dir), hierarchical)

  /** same packing over an arbitrary corpus frame (lang, doc_id, text)
    * — q138 packs the post-redaction survivor set.
    *
    * `prefixLen` (hierarchical path only) is the bucket fan-out knob:
    * bucket key = first P hex chars of the md5 order key, so no task
    * ever sorts more than N/16^P of a language's corpus (P=1 → 16
    * buckets, P=2 → 256, …). The decomposition is exact integer
    * arithmetic at ANY P — the offset table just grows to 16^P rows
    * per language (still a broadcast-size rollup through P=3) — so
    * retuning fan-out for a 100 TB language can never change the
    * assignment (ShardPackSpec pins P=1 ≡ P=2 ≡ flat per-doc). */
  private[graft] def packShardsOf(docs: DataFrame,
      hierarchical: Boolean, prefixLen: Int = 1): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    packShardsOfCounts(docs.select($"lang", $"doc_id",
      size(toks($"text")).cast("long").as("n_tok")), hierarchical,
      prefixLen)
  }

  /** the packing over a pre-counted (lang, doc_id, n_tok) frame — the
    * release chain counts tokens AT THE SCAN (the q175 digest
    * discipline) so no packing exchange ever carries text. */
  private[graft] def packShardsOfCounts(docs: DataFrame,
      hierarchical: Boolean, prefixLen: Int = 1): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    require(prefixLen >= 1 && prefixLen <= 8, s"prefixLen $prefixLen")
    val d = docs
      .withColumn("pkey", md5(concat(lit("pack:"), $"doc_id")))
    val withCum =
      if (!hierarchical) {
        val w = Window.partitionBy($"lang").orderBy($"pkey", $"doc_id")
        d.withColumn("cum_before",
          coalesce(sum($"n_tok").over(w.rowsBetween(
            Window.unboundedPreceding, -1)), lit(0L)))
      } else {
        // materialize the slim digest stream ONCE (the q134 move):
        // the local-cumsum and bucket-offset branches both consume it,
        // and without the barrier each branch re-runs the parquet
        // scan + tokenize (measured 7.8 s vs 1.9 s at sf1)
        val bkt = d.withColumn("bkt", substring($"pkey", 1, prefixLen))
          .select($"lang", $"bkt", $"pkey", $"doc_id", $"n_tok")
          .localCheckpoint(true)
        val wLocal = Window.partitionBy($"lang", $"bkt")
          .orderBy($"pkey", $"doc_id")
        val local = bkt.withColumn("lcum",
          coalesce(sum($"n_tok").over(wLocal.rowsBetween(
            Window.unboundedPreceding, -1)), lit(0L)))
        // 16 rows per lang: bucket token totals → exclusive prefix sum
        val offs = bkt.groupBy($"lang", $"bkt")
          .agg(sum($"n_tok").as("btok"))
          .withColumn("boff",
            coalesce(sum($"btok").over(Window.partitionBy($"lang")
              .orderBy($"bkt").rowsBetween(
                Window.unboundedPreceding, -1)), lit(0L)))
          .select($"lang", $"bkt", $"boff")
        local.join(broadcast(offs), Seq("lang", "bkt"))
          .withColumn("cum_before", $"boff" + $"lcum")
      }
    withCum.withColumn("shard", expr(s"cum_before div ${PackB}L"))
      .select($"lang", $"doc_id", $"n_tok", $"shard", $"cum_before")
  }

  private def q131(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    packShards(s, dir, hierarchical = true)
      .groupBy($"lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_tok").as("total_tokens"),
        (max($"shard") + 1L).as("n_shards"),
        round(sum($"n_tok") / ((max($"shard") + 1L) * PackB).cast("double"), 6)
          .as("fill_ratio"),
        sum($"shard" * $"doc_id").as("placement_checksum"))
      .orderBy($"lang")
  }

  private lazy val q131Sql =
    s"""WITH d AS (
      | SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tok
      | FROM documents),
      |o AS (
      | SELECT doc_id, lang, n_tok,
      |  coalesce(sum(n_tok) OVER (PARTITION BY lang
      |    ORDER BY md5(concat('pack:', CAST(doc_id AS VARCHAR))), doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |    AS cum_before
      | FROM d),
      |sh AS (SELECT doc_id, lang, n_tok, cum_before // $PackB AS shard FROM o)
      |SELECT lang, count(*) AS n_docs,
      | CAST(sum(n_tok) AS BIGINT) AS total_tokens,
      | CAST(max(shard) + 1 AS BIGINT) AS n_shards,
      | round(sum(n_tok) / CAST((max(shard) + 1) * $PackB AS DOUBLE), 6)
      |   AS fill_ratio,
      | CAST(sum(shard * doc_id) AS BIGINT) AS placement_checksum
      |FROM sh GROUP BY lang ORDER BY lang""".stripMargin

  /** q139: SHARD MANIFEST — the per-shard index a training data
    * loader actually consumes at 100 TB: for every (lang, shard),
    * the doc count, token sum, and the layout checksum
    * Σ(offset_in_shard · doc_id), where offset_in_shard =
    * cum_before − shard·B is exact integer arithmetic off q131's
    * assignment (a doc's in-shard start under back-to-back next-fit
    * layout). q131 reports the per-language rollup; the manifest is
    * the shard-granular artifact (which docs, in which order, at
    * which token offsets) that makes the packing consumable — every
    * doc's exact position is pinned, so a loader built against this
    * manifest reads byte-identical shards on both engines.
    *
    * Scale: one pass over packShards' output (the hierarchical
    * prefix-sum — no new shuffle beyond its bounded windows) + a
    * (lang, shard)-keyed partial aggregation; manifest rows ≈
    * total_tokens / B, tiny relative to the corpus. */
  private def q139(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    packShards(s, dir, hierarchical = true)
      .withColumn("off", $"cum_before" - $"shard" * PackB)
      .groupBy($"lang", $"shard")
      .agg(
        count(lit(1)).as("n_docs"),
        sum($"n_tok").as("shard_tokens"),
        min($"doc_id").as("min_doc_id"),
        sum($"off" * $"doc_id").as("layout_checksum"))
      .orderBy($"lang", $"shard")
  }

  private lazy val q139Sql =
    s"""WITH d AS (
      | SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tok
      | FROM documents),
      |o AS (
      | SELECT doc_id, lang, n_tok,
      |  coalesce(sum(n_tok) OVER (PARTITION BY lang
      |    ORDER BY md5(concat('pack:', CAST(doc_id AS VARCHAR))), doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |    AS cum_before
      | FROM d),
      |sh AS (SELECT doc_id, lang, n_tok, cum_before // $PackB AS shard,
      |        cum_before % $PackB AS off
      |       FROM o)
      |SELECT lang, CAST(shard AS BIGINT) AS shard, count(*) AS n_docs,
      | CAST(sum(n_tok) AS BIGINT) AS shard_tokens,
      | CAST(min(doc_id) AS BIGINT) AS min_doc_id,
      | CAST(sum(off * doc_id) AS BIGINT) AS layout_checksum
      |FROM sh GROUP BY lang, shard ORDER BY lang, shard""".stripMargin

  /** q133: PERPLEXITY-QUANTILE SPLIT — CCNet's head/middle/tail step:
    * rank every scored document (= every doc with ≥ 2 tokens, the
    * docNllFrame restriction) by its LM NLL (q129's model, one shared
    * definition) WITHIN its language and cut into terciles; the
    * buckets drive downstream sampling (train mostly on head, retain
    * some tail for diversity). NTILE is an exact integer function of
    * the rank, and the rank order is made total by the doc_id
    * tiebreak: ties in round(doc_nll, 6) resolve by id on both sides.
    *
    * The rank key is DELIBERATELY coarse (1e-6 grid, ~1000× wider
    * than cross-engine float noise on an avg of ~100 log terms ≈
    * 1e-14): a fine grid puts real scores within noise of a half-step
    * and a 1-ulp disagreement then flips a doc across the rounding
    * boundary — the q71 structural-boundary class. Coarsening widens
    * tie groups (resolved deterministically by doc_id) instead of
    * leaving discrete cliffs near every score.
    *
    * Scale: q129's count/join passes plus one rank window per
    * language — the window shuffles (doc_id, lang, doc_nll) only. */
  private def q133(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"lang")
      .orderBy(round($"doc_nll", 6).asc, $"doc_id")
    docNllFrame(s, dir, Seq("lang"))
      .withColumn("bucket", ntile(3).over(w))
      .groupBy($"lang", $"bucket")
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg($"doc_nll"), 6).as("avg_nll"),
        sum($"doc_id").as("docs_checksum"))
      .orderBy($"lang", $"bucket")
  }

  private val q133Sql =
    """WITH d AS (
      | SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
      |tok AS (SELECT unnest(t) AS w FROM d),
      |c1 AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
      |n AS (SELECT count(*) AS n FROM tok),
      |pairs AS (
      | SELECT doc_id, lang,
      |  unnest(list_transform(generate_series(1, len(t) - 1),
      |    i -> struct_pack(w1 := t[i], w2 := t[i + 1]))) AS pr
      | FROM d WHERE len(t) >= 2),
      |p AS (SELECT doc_id, lang, pr.w1 AS w1, pr.w2 AS w2 FROM pairs),
      |c12 AS (SELECT w1, w2, count(*) AS c12 FROM p GROUP BY w1, w2),
      |scored AS (
      | SELECT doc_id, lang,
      |  -ln(0.7 * c12.c12 / c1a.c + 0.3 * c1b.c / n.n) AS nll
      | FROM p JOIN c12 USING (w1, w2)
      | JOIN c1 c1a ON c1a.w = p.w1
      | JOIN c1 c1b ON c1b.w = p.w2
      | CROSS JOIN n),
      |docnll AS (
      | SELECT doc_id, lang, avg(nll) AS doc_nll
      | FROM scored GROUP BY doc_id, lang),
      |b AS (
      | SELECT doc_id, lang, doc_nll,
      |  ntile(3) OVER (PARTITION BY lang
      |    ORDER BY round(doc_nll, 6), doc_id) AS bucket
      | FROM docnll)
      |SELECT lang, CAST(bucket AS INT) AS bucket,
      | count(*) AS n_docs,
      | round(avg(doc_nll), 6) AS avg_nll,
      | CAST(sum(doc_id) AS BIGINT) AS docs_checksum
      |FROM b GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin

  /** q135: PII REDACTION APPLY — the scrubbing transform every public
    * LLM corpus ships through (C4 strips lines with "bad" tokens; the
    * Dolma / RefinedWeb pipelines regex-scrub emails / phone numbers /
    * IP addresses and replace them with placeholder tokens). q37 is the
    * detection SCAN (per-source hit counts); q135 is the DECISION — the
    * rewritten corpus — which is the half a pipeline actually persists.
    *
    * The synthetic corpus contains no natural PII (lowercase word-salad,
    * no digits or '@'), so the query first derives a PLANTED frame: an
    * md5-selected quarter of the docs gets two appended email addresses
    * (exercising replace-ALL semantics), a quarter a phone number, a
    * quarter a dotted-quad IP, a quarter left untouched — the same
    * deterministic derivation on both engines, so detection counts and
    * the redacted text are exactly comparable. Redaction = three chained
    * replace-alls (email → ip → phone, fixed order mirrored in the
    * oracle); the gate pins the exact redacted BYTES via an md5-prefix
    * checksum, not just the counts.
    *
    * Scale (100 TB): one corpus scan, row-local codegen'd regex
    * (RegExpExtractAll / RegExpReplace compile the pattern once per
    * task — the per-row cost is the RE2/Java automaton over the doc,
    * linear in chars), no shuffle of text anywhere: only the per-source
    * counter/checksum rollup exchanges, under partial aggregation. The
    * regexes are RE2-compatible (no backreferences / lookaround), the
    * class every engine's linear-time matcher accepts. */
  private[graft] val PiiEmail = "[a-zA-Z0-9._]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  private[graft] val PiiIp = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
  private[graft] val PiiPhone = "555-[0-9]{4}"

  /** the redaction chain (fixed order: email → ip → phone, each a
    * replace-ALL; the oracle mirrors the same order with RE2 'g'). */
  private[graft] def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, PiiEmail, "<EMAIL>"),
        PiiIp, "<IP>"),
      PiiPhone, "<PHONE>")

  /** DuckDB spelling of `redactPii` over column expression `c`. */
  private[graft] def redactSqlOf(c: String): String =
    s"""regexp_replace(
       |    regexp_replace(
       |      regexp_replace($c, '$PiiEmail', '<EMAIL>', 'g'),
       |      '$PiiIp', '<IP>', 'g'),
       |    '$PiiPhone', '<PHONE>', 'g')""".stripMargin

  /** deterministic PII planting (md5-keyed quarter each of email /
    * phone / IP / untouched) — ONE definition shared by q135's gate
    * and q138's curation DAG, Spark and SQL sides. */
  private[graft] def plantPii(text: Column, docId: Column): Column = {
    val ds = docId.cast("string")
    val sel = conv(substr(md5(concat(lit("q135:"), ds)), lit(1), lit(8)),
      16, 10).cast("long") % 4
    when(sel === 0, concat(text,
      lit(" contact user"), ds, lit("@mail.example.com or user"), ds,
      lit("b@alt.example.org now")))
      .when(sel === 1, concat(text,
        lit(" call 555-"),
        lpad((docId % 10000).cast("string"), 4, "0"), lit(" today")))
      .when(sel === 2, concat(text,
        lit(" from 10."), (docId % 256).cast("string"), lit("."),
        ((docId * 7 + 13) % 256).cast("string"), lit("."),
        ((docId * 11 + 5) % 256).cast("string"), lit(" logged")))
      .otherwise(text)
  }

  /** DuckDB spelling of `plantPii` (same md5 key, same appends).
    * NOTE: no continuation line may start with `||` — this fragment
    * is interpolated into outer stripMargin strings, which would eat
    * the first pipe and leave a bitwise-or. */
  private[graft] val PlantPiiSql: String =
    """CASE CAST(concat('0x', substr(md5(concat('q135:',
      |      CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) % 4
      | WHEN 0 THEN text || ' contact user' || CAST(doc_id AS VARCHAR) ||
      |   '@mail.example.com or user' || CAST(doc_id AS VARCHAR) ||
      |   'b@alt.example.org now'
      | WHEN 1 THEN text || ' call 555-' ||
      |   lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today'
      | WHEN 2 THEN text || ' from 10.' || CAST(doc_id % 256 AS VARCHAR) ||
      |   '.' || CAST((doc_id * 7 + 13) % 256 AS VARCHAR) ||
      |   '.' || CAST((doc_id * 11 + 5) % 256 AS VARCHAR) || ' logged'
      | ELSE text END""".stripMargin

  private def q135(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    documents(s, dir)
      .select($"doc_id", $"source",
        plantPii($"text", $"doc_id").as("planted"))
      .withColumn("emails",
        size(regexp_extract_all($"planted", lit(PiiEmail), lit(0))))
      .withColumn("ips",
        size(regexp_extract_all($"planted", lit(PiiIp), lit(0))))
      .withColumn("phones",
        size(regexp_extract_all($"planted", lit(PiiPhone), lit(0))))
      .withColumn("red", redactPii($"planted"))
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when($"emails" + $"ips" + $"phones" > 0, 1L).otherwise(0L))
          .as("pii_docs"),
        sum($"emails".cast("long")).as("emails"),
        sum($"ips".cast("long")).as("ips"),
        sum($"phones".cast("long")).as("phones"),
        sum((length($"planted") - length($"red")).cast("long"))
          .as("chars_redacted"),
        sum(conv(substr(md5($"red"), lit(1), lit(8)), 16, 10).cast("long"))
          .as("red_checksum"))
      .orderBy($"source")
  }

  private val q135Sql =
    s"""WITH p AS (
      | SELECT doc_id, source,
      |  $PlantPiiSql AS planted
      | FROM documents),
      |r AS (
      | SELECT doc_id, source, planted,
      |  len(regexp_extract_all(planted, '$PiiEmail')) AS emails,
      |  len(regexp_extract_all(planted, '$PiiIp')) AS ips,
      |  len(regexp_extract_all(planted, '$PiiPhone')) AS phones,
      |  ${redactSqlOf("planted")} AS red
      | FROM p)
      |SELECT source, count(*) AS n_docs,
      | CAST(sum(CASE WHEN emails + ips + phones > 0 THEN 1 ELSE 0 END)
      |   AS BIGINT) AS pii_docs,
      | CAST(sum(emails) AS BIGINT) AS emails,
      | CAST(sum(ips) AS BIGINT) AS ips,
      | CAST(sum(phones) AS BIGINT) AS phones,
      | CAST(sum(length(planted) - length(red)) AS BIGINT)
      |   AS chars_redacted,
      | CAST(sum(CAST(concat('0x', substr(md5(red), 1, 8)) AS BIGINT))
      |   AS BIGINT) AS red_checksum
      |FROM r GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------
  // q138: the FULL CURATION DAG — every pipeline stage the engine
  // ships, composed end-to-end in dependency order, with a per-stage
  // funnel rollup under the hash gate. The single most user-facing
  // artifact: a team adopting the engine runs exactly this DAG over
  // raw crawl shards. Stages (each reusing the standalone gate's ONE
  // definition — screen geometry, thresholds, LM, regexes, rank keys):
  //   1 ingest           bench-split corpus side, q135 PII plant at
  //                      the door (so redaction is measurably real)
  //   2 decontaminated   q128/q130 bloom screen (the broadcast blob;
  //                      oracle = exact shingle anti-join)
  //   3 repetition_filtered  q126 Gopher screens
  //   4 ppl_tail_dropped q129 LM FIT ON THE SURVIVORS + q133 tercile
  //                      cut: worst tercile per lang dropped (docs
  //                      with < 2 tokens carry no score and drop too)
  //   5 exact_deduped    q40/q48 keep-first by md5(text)
  //   6 pii_redacted     q135 redaction; token counts RECOMPUTED on
  //                      the redacted text; checksum = Σ md5-first8
  //                      of the redacted bytes (byte-exact proof)
  //   7 mixture_sampled  q127 integer-exact proportional targets
  //   8 sharded          q131 hierarchical packing; checksum =
  //                      Σ(shard·doc_id) pins every doc's shard
  //
  // Scale: the spine is localCheckpointed after stages 3, 4 and 6 —
  // the LM joins and every downstream stage read materialized
  // survivors, so no rollup branch re-runs an upstream stage's scan.
  // Stage order is the cost argument from the pipeline literature:
  // cheap row-local screens (2, 3) run before the join-heavy LM (4),
  // which runs before the shuffling stages (5, 7, 8) — each stage
  // shrinks the corpus the next one pays for.
  // ---------------------------------------------------------------
  /** one curation stage: the q138 rollup's inputs plus the stage's
    * own materialization wall-clock (meaningful only when the DAG is
    * built with `materializeAll` — q142's operational record). */
  private final case class DagStage(idx: Int, name: String,
      df: DataFrame, tok: Column, ck: Column, buildSec: Double)

  /** the 8-stage curation DAG in dependency order — ONE definition
    * shared by q138 (hash-gated funnel) and q142 (per-stage metrics
    * into the sink). `materializeAll = false` keeps the economical
    * spine (checkpoints at d1/d2/d3/d4/d6 only, where branch reuse
    * demands a barrier); `true` checkpoints EVERY stage so each
    * stage's wall-clock is its own materialization, not a lazy
    * fragment of a downstream job. Both modes compute identical
    * rows — checkpoint placement never changes assignment. */
  private def curationStages(s: SparkSession, dir: String,
      materializeAll: Boolean): Seq[DagStage] = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val screen = DedupQueries.BloomScreen
    val blob = screen.benchBlob(s, dir)
    // spine = true: the q138 economics — stages whose output several
    // branches (or the join-heavy LM) re-read get a barrier
    def built(df: DataFrame, spine: Boolean): (DataFrame, Double) = {
      val t = System.nanoTime()
      val out = if (spine || materializeAll) df.localCheckpoint(true) else df
      (out, (System.nanoTime() - t) / 1e9)
    }
    // the testdata table is ONE parquet file → one scan partition, and
    // every row-local stage (plant, tokenize, 8-gram probe, Gopher
    // fold, redaction regexes) would run single-task stacked end to
    // end. Fan the ingest out to the session's shuffle width and
    // checkpoint — production ingest is many files (q130's fixture
    // argument); every later stage and rollup reads the materialized
    // fan-out instead of re-running upstream row-local work.
    val (d1, s1) = built(screen.withBenchSplit(documents(s, dir))
      .filter($"hx" >= screen.BenchMax)
      .select($"doc_id", $"lang", $"source",
        plantPii($"text", $"doc_id").as("text"))
      .withColumn("t", toks($"text"))
      .withColumn("n_tok", size($"t").cast("long"))
      .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt),
      spine = true)
    val (d2, s2) = built(d1.filter(!screen.probe(s, blob, $"t")),
      spine = true)
    val (d3, s3) = built(d2
      .withColumn("bgs", when(size($"t") >= 2, expr(
        "transform(sequence(1, size(t) - 1), " +
          "i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"))
        .otherwise(expr("array()")))
      .withColumn("top_bg_frac", expr(TopBigramFoldExpr) /
        greatest(size($"bgs"), lit(1)).cast("double"))
      .withColumn("rep_ratio",
        lit(1.0) - size(array_distinct($"t")) / size($"t").cast("double"))
      .filter($"top_bg_frac" <= GopherTopBgMax && $"rep_ratio" <= GopherRepMax)
      .select($"doc_id", $"lang", $"source", $"text", $"n_tok"),
      spine = true)
    val (d4, s4) = built({
      val keep4 = docNllFrameOf(s, d3, Seq("lang"))
        .withColumn("tc", ntile(3).over(Window.partitionBy($"lang")
          .orderBy(round($"doc_nll", 6), $"doc_id")))
        .filter($"tc" <= 2).select($"doc_id")
      d3.join(keep4, "doc_id")
    }, spine = true)
    val (d5, s5) = built(d4.withColumn("mn",
        min($"doc_id").over(Window.partitionBy(md5($"text"))))
      .filter($"doc_id" === $"mn").drop("mn"), spine = false)
    val (d6, s6) = built(d5.withColumn("red", redactPii($"text"))
      .select($"doc_id", $"lang", $"source", $"red",
        size(toks($"red")).cast("long").as("rn_tok")), spine = true)
    val (d7, s7) = built(withMixture(d6)
      .filter($"rk" <= $"w" * $"t_units")
      .select($"doc_id", $"lang", $"source", $"red", $"rn_tok"),
      spine = false)
    val (packed, s8) = built(packShardsOf(
      d7.select($"lang", $"doc_id", $"red".as("text")),
      hierarchical = true), spine = false)
    val redCk = conv(substr(md5($"red"), lit(1), lit(8)), 16, 10)
      .cast("long")
    Seq(
      DagStage(1, "ingest", d1, $"n_tok", $"doc_id", s1),
      DagStage(2, "decontaminated", d2, $"n_tok", $"doc_id", s2),
      DagStage(3, "repetition_filtered", d3, $"n_tok", $"doc_id", s3),
      DagStage(4, "ppl_tail_dropped", d4, $"n_tok", $"doc_id", s4),
      DagStage(5, "exact_deduped", d5, $"n_tok", $"doc_id", s5),
      DagStage(6, "pii_redacted", d6, $"rn_tok", redCk, s6),
      DagStage(7, "mixture_sampled", d7, $"rn_tok", $"doc_id", s7),
      DagStage(8, "sharded", packed, $"n_tok", $"shard" * $"doc_id", s8))
  }

  private def q138(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def roll(st: DagStage): DataFrame =
      st.df.agg(count(lit(1)).cast("long").as("n_docs"),
          sum(st.tok).cast("long").as("n_tokens"),
          sum(st.ck).cast("long").as("checksum"))
        .select(lit(st.idx).as("stage_idx"), lit(st.name).as("stage"),
          $"n_docs", $"n_tokens", $"checksum")
    curationStages(s, dir, materializeAll = false)
      .map(roll).reduce(_.unionAll(_))
      .orderBy($"stage_idx")
  }

  /** q142: DAG OBSERVABILITY — the per-stage operational record a
    * production run of the q138 DAG emits into the metrics sink
    * (q99's pattern): every stage appends (stage_idx, stage, n_docs,
    * n_tokens, build_sec), where build_sec is the stage's OWN
    * materialization wall-clock (materializeAll mode — each stage is
    * checkpointed, so its cost is attributed to it, not to whichever
    * downstream job first forces it). Rows and tokens make the
    * funnel's selectivity operable (alert when a stage's drop rate
    * moves); build_sec makes its cost operable. The GATE reads back
    * the deterministic columns from the sink (build_sec stays in the
    * sink artifact — wall-clock is not cross-engine reproducible);
    * the oracle re-derives the funnel from the same CTE chain as
    * q138, minus the checksums.
    *
    * Scale: identical to q138 (the stages ARE q138's), plus one
    * 1-row append per stage — the sink write is driver-side-free
    * (each rollup is a partial-aggregated job whose single-row
    * result writes straight to parquet). */
  private def q142(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.Scratch.withScratchDir("graft_q142") { scratch =>
      val sink = scratch + "/stage_metrics"
      curationStages(s, dir, materializeAll = true).foreach { st =>
        st.df.agg(count(lit(1)).cast("long").as("n_docs"),
            sum(st.tok).cast("long").as("n_tokens"))
          .select(lit(st.idx).as("stage_idx"), lit(st.name).as("stage"),
            $"n_docs", $"n_tokens",
            round(lit(st.buildSec), 3).as("build_sec"))
          .write.mode("append").parquet(sink)
      }
      s.read.parquet(sink)
        .select($"stage_idx", $"stage", $"n_docs", $"n_tokens")
        .orderBy($"stage_idx")
    }
  }

  /** the DuckDB CTE chain of the curation DAG (through o8) — shared
    * by the q138 and q142 oracles so the two gates can never drift. */
  private lazy val dagSqlWith = {
    val shingles = DedupQueries.BloomScreen.ShingleSql
    s"""WITH raw AS (
       | SELECT doc_id, lang, source, text,
       |  substr(md5(concat('bench:', CAST(doc_id AS VARCHAR))), 1, 2) AS hx
       | FROM documents),
       |bench_sh AS MATERIALIZED (
       | SELECT DISTINCT unnest($shingles) AS sh
       | FROM (SELECT string_split(text, ' ') AS t FROM raw
       |       WHERE hx < '0d')),
       |d1 AS MATERIALIZED (
       | SELECT doc_id, lang, source, $PlantPiiSql AS text
       | FROM raw WHERE hx >= '0d'),
       |d1t AS MATERIALIZED (
       | SELECT doc_id, lang, source, text, string_split(text, ' ') AS t,
       |  len(string_split(text, ' ')) AS n_tok
       | FROM d1),
       |hit AS (
       | SELECT DISTINCT c.doc_id FROM (
       |  SELECT doc_id, unnest($shingles) AS sh FROM d1t) c
       | JOIN bench_sh b ON c.sh = b.sh),
       |d2 AS MATERIALIZED (
       | SELECT d.* FROM d1t d LEFT JOIN hit h ON d.doc_id = h.doc_id
       | WHERE h.doc_id IS NULL),
       |bg AS (
       | SELECT doc_id, t, CASE WHEN len(t) >= 2 THEN
       |   list_transform(generate_series(1, len(t) - 1),
       |     i -> t[i] || ' ' || t[i + 1]) ELSE [] END AS bgs
       | FROM d2),
       |cnt AS (
       | SELECT doc_id, max(c) AS top_bg_cnt FROM (
       |  SELECT doc_id, count(*) AS c
       |  FROM (SELECT doc_id, unnest(bgs) AS b FROM bg)
       |  GROUP BY doc_id, b)
       | GROUP BY doc_id),
       |d3 AS MATERIALIZED (
       | SELECT d.doc_id, d.lang, d.source, d.text, d.t, d.n_tok
       | FROM d2 d JOIN bg ON d.doc_id = bg.doc_id
       | LEFT JOIN cnt ON d.doc_id = cnt.doc_id
       | WHERE coalesce(top_bg_cnt, 0)
       |    / CAST(greatest(len(bgs), 1) AS DOUBLE) <= $GopherTopBgMax
       |  AND 1.0 - len(list_distinct(d.t)) / CAST(len(d.t) AS DOUBLE)
       |    <= $GopherRepMax),
       |tok AS (SELECT unnest(t) AS w FROM d3),
       |c1 AS MATERIALIZED (SELECT w, count(*) AS c FROM tok GROUP BY w),
       |nn AS MATERIALIZED (SELECT count(*) AS n FROM tok),
       |pairs AS MATERIALIZED (
       | SELECT doc_id, lang, pr.w1 AS w1, pr.w2 AS w2 FROM (
       |  SELECT doc_id, lang,
       |   unnest(list_transform(generate_series(1, len(t) - 1),
       |     i -> struct_pack(w1 := t[i], w2 := t[i + 1]))) AS pr
       |  FROM d3 WHERE len(t) >= 2)),
       |c12 AS MATERIALIZED (
       | SELECT w1, w2, count(*) AS c12 FROM pairs GROUP BY w1, w2),
       |nq AS (
       | SELECT doc_id, lang, avg(nll) AS doc_nll FROM (
       |  SELECT p.doc_id, p.lang,
       |   -ln(0.7 * c12.c12 / c1a.c + 0.3 * c1b.c / nn.n) AS nll
       |  FROM pairs p JOIN c12 USING (w1, w2)
       |  JOIN c1 c1a ON c1a.w = p.w1
       |  JOIN c1 c1b ON c1b.w = p.w2
       |  CROSS JOIN nn)
       | GROUP BY doc_id, lang),
       |k4 AS (
       | SELECT doc_id, ntile(3) OVER (PARTITION BY lang
       |   ORDER BY round(doc_nll, 6), doc_id) AS tc
       | FROM nq),
       |d4 AS MATERIALIZED (
       | SELECT d.* FROM d3 d JOIN k4 ON d.doc_id = k4.doc_id
       | WHERE k4.tc <= 2),
       |d5 AS MATERIALIZED (
       | SELECT * FROM (
       |  SELECT d.*, min(doc_id) OVER (PARTITION BY md5(text)) AS mn
       |  FROM d4 d)
       | WHERE doc_id = mn),
       |d6 AS MATERIALIZED (
       | SELECT doc_id, lang, source,
       |  ${redactSqlOf("text")} AS red
       | FROM d5),
       |d6t AS MATERIALIZED (
       | SELECT *, len(string_split(red, ' ')) AS rn_tok FROM d6),
       |${mixtureSqlCtes("d6t", "doc_id, lang, source, red, rn_tok")},
       |d7 AS MATERIALIZED (
       | SELECT doc_id, lang, source, red, rn_tok
       | FROM mrk CROSS JOIN caps WHERE rk <= w * t_units),
       |o8 AS (
       | SELECT doc_id, lang, rn_tok,
       |  coalesce(sum(rn_tok) OVER (PARTITION BY lang
       |    ORDER BY md5(concat('pack:', CAST(doc_id AS VARCHAR))), doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |    AS cum_before
       | FROM d7)""".stripMargin
  }

  private lazy val q138Sql =
    s"""$dagSqlWith
       |SELECT * FROM (
       | SELECT 1 AS stage_idx, 'ingest' AS stage, count(*) AS n_docs,
       |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       |  CAST(sum(doc_id) AS BIGINT) AS checksum FROM d1t
       | UNION ALL
       | SELECT 2, 'decontaminated', count(*), CAST(sum(n_tok) AS BIGINT),
       |  CAST(sum(doc_id) AS BIGINT) FROM d2
       | UNION ALL
       | SELECT 3, 'repetition_filtered', count(*),
       |  CAST(sum(n_tok) AS BIGINT), CAST(sum(doc_id) AS BIGINT) FROM d3
       | UNION ALL
       | SELECT 4, 'ppl_tail_dropped', count(*),
       |  CAST(sum(n_tok) AS BIGINT), CAST(sum(doc_id) AS BIGINT) FROM d4
       | UNION ALL
       | SELECT 5, 'exact_deduped', count(*),
       |  CAST(sum(n_tok) AS BIGINT), CAST(sum(doc_id) AS BIGINT) FROM d5
       | UNION ALL
       | SELECT 6, 'pii_redacted', count(*), CAST(sum(rn_tok) AS BIGINT),
       |  CAST(sum(CAST(concat('0x', substr(md5(red), 1, 8)) AS BIGINT))
       |    AS BIGINT) FROM d6t
       | UNION ALL
       | SELECT 7, 'mixture_sampled', count(*), CAST(sum(rn_tok) AS BIGINT),
       |  CAST(sum(doc_id) AS BIGINT) FROM d7
       | UNION ALL
       | SELECT 8, 'sharded', count(*), CAST(sum(rn_tok) AS BIGINT),
       |  CAST(sum((cum_before // $PackB) * doc_id) AS BIGINT) FROM o8)
       |ORDER BY stage_idx""".stripMargin

  private lazy val q142Sql =
    s"""$dagSqlWith
       |SELECT * FROM (
       | SELECT 1 AS stage_idx, 'ingest' AS stage, count(*) AS n_docs,
       |  CAST(sum(n_tok) AS BIGINT) AS n_tokens FROM d1t
       | UNION ALL
       | SELECT 2, 'decontaminated', count(*), CAST(sum(n_tok) AS BIGINT)
       |  FROM d2
       | UNION ALL
       | SELECT 3, 'repetition_filtered', count(*),
       |  CAST(sum(n_tok) AS BIGINT) FROM d3
       | UNION ALL
       | SELECT 4, 'ppl_tail_dropped', count(*),
       |  CAST(sum(n_tok) AS BIGINT) FROM d4
       | UNION ALL
       | SELECT 5, 'exact_deduped', count(*),
       |  CAST(sum(n_tok) AS BIGINT) FROM d5
       | UNION ALL
       | SELECT 6, 'pii_redacted', count(*), CAST(sum(rn_tok) AS BIGINT)
       |  FROM d6t
       | UNION ALL
       | SELECT 7, 'mixture_sampled', count(*), CAST(sum(rn_tok) AS BIGINT)
       |  FROM d7
       | UNION ALL
       | SELECT 8, 'sharded', count(*), CAST(sum(rn_tok) AS BIGINT) FROM o8)
       |ORDER BY stage_idx""".stripMargin

  /** q147: CORPUS SNAPSHOT DIFF — dataset versioning: given two
    * snapshots of the corpus, report per (source, status) what was
    * ADDED, REMOVED, CHANGED (same doc_id, different content hash) and
    * UNCHANGED — the audit table every managed-dataset release pipeline
    * publishes next to the new snapshot (what changed since v1?).
    * Snapshots derive deterministically from `documents` (md5 split:
    * one hex bucket absent from A = "added in B", one absent from B =
    * "removed", one rewritten in B = "changed"), so both engines build
    * byte-identical inputs.
    *
    * Scale posture: the diff is ONE full-outer hash join on doc_id
    * where each side carries only (doc_id, source, 32-byte content
    * hash) — text is hashed at scan time and never rides the shuffle;
    * at 100 TB both snapshots bucket by doc_id (BucketingSpec's
    * co-located join) and the diff becomes a zero-shuffle sort-merge.
    * Ref behavior: the reference versions nothing (notebooks overwrite
    * CSVs in place); this is the operation that makes a 100 TB corpus
    * release auditable. */
  private def q147(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = documents(s, dir).select($"doc_id", $"text", $"source",
      substring(md5($"doc_id".cast("string")), 32, 1).as("h"))
    val snapA = d.filter($"h" =!= "0")
      .select($"doc_id", $"source", md5($"text").as("chash_a"))
    val snapB = d.filter($"h" =!= "1")
      .select($"doc_id", $"source",
        md5(when($"h" === "f", concat($"text", lit(" v2")))
          .otherwise($"text")).as("chash_b"))
    snapA.as("a").join(snapB.as("b"), $"a.doc_id" === $"b.doc_id",
        "full_outer")
      .select(
        coalesce($"a.source", $"b.source").as("source"),
        coalesce($"a.doc_id", $"b.doc_id").as("doc_id"),
        when($"chash_a".isNull, "added")
          .when($"chash_b".isNull, "removed")
          .when($"chash_a" =!= $"chash_b", "changed")
          .otherwise("unchanged").as("status"))
      .groupBy($"source", $"status")
      .agg(count(lit(1)).as("n_docs"),
        min($"doc_id").as("min_doc"), max($"doc_id").as("max_doc"))
      .orderBy($"source", $"status")
  }

  private val q147Sql =
    """WITH d AS (
      | SELECT doc_id, text, source,
      |        substr(md5(CAST(doc_id AS VARCHAR)), 32, 1) AS h
      | FROM documents),
      |a AS (SELECT doc_id, source, md5(text) AS ca FROM d WHERE h <> '0'),
      |b AS (
      | SELECT doc_id, source,
      |  md5(CASE WHEN h = 'f' THEN text || ' v2' ELSE text END) AS cb
      | FROM d WHERE h <> '1'),
      |j AS (
      | SELECT COALESCE(a.source, b.source) AS source,
      |        COALESCE(a.doc_id, b.doc_id) AS doc_id,
      |        CASE WHEN ca IS NULL THEN 'added'
      |             WHEN cb IS NULL THEN 'removed'
      |             WHEN ca <> cb THEN 'changed'
      |             ELSE 'unchanged' END AS status
      | FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
      |SELECT source, status, CAST(count(*) AS BIGINT) AS n_docs,
      | min(doc_id) AS min_doc, max(doc_id) AS max_doc
      |FROM j GROUP BY source, status ORDER BY source, status""".stripMargin

  /** q175: SCD2 SNAPSHOT MERGE — the write-side counterpart of
    * q147's read-side diff: apply snapshot B to a dimension table
    * holding snapshot A as a slowly-changing-dimension type-2
    * history. Per doc: unchanged → the v1 row stays open; changed →
    * v1 closes at version 2 and a v2 row opens; removed → v1 closes
    * with NO successor; added → a v2 row opens. Spelled as ONE
    * full-outer hash join on doc_id (both sides slim: id + 32-byte
    * content hash), a union of three row generators (v1 rows, v2
    * rows, removal TOMBSTONES), and one per-doc lead() window that
    * turns successor versions into valid_to — tombstones close
    * removed rows then drop out, so "closed with no successor" needs
    * no special case. Output = the full versioned dimension
    * (valid_from/valid_to/is_current), every row pinned by the gate.
    *
    * Scale: identical join posture to q147 (text hashed at scan,
    * never shuffled; bucketed snapshots make it a zero-shuffle
    * sort-merge), and the window partitions by doc_id over ≤3 rows —
    * the upsert a 100 TB warehouse applies per release. */
  private def q175(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val d = documents(s, dir).select($"doc_id", $"text",
      substring(md5($"doc_id".cast("string")), 32, 1).as("h"))
    val snapA = d.filter($"h" =!= "0")
      .select($"doc_id", md5($"text").as("chash"))
    val snapB = d.filter($"h" =!= "1")
      .select($"doc_id",
        md5(when($"h" === "f", concat($"text", lit(" v2")))
          .otherwise($"text")).as("chash"))
    val j = snapA.as("a").join(snapB.as("b"),
        $"a.doc_id" === $"b.doc_id", "full_outer")
      .select($"a.doc_id".as("a_id"), $"a.chash".as("ca"),
        $"b.doc_id".as("b_id"), $"b.chash".as("cb"))
      .localCheckpoint(true)
    val rows = j.filter($"ca".isNotNull)
      .select($"a_id".as("doc_id"), $"ca".as("chash"), lit(1L).as("ver"))
      .unionByName(j
        .filter($"cb".isNotNull && ($"ca".isNull || $"ca" =!= $"cb"))
        .select($"b_id".as("doc_id"), $"cb".as("chash"),
          lit(2L).as("ver")))
      .unionByName(j.filter($"cb".isNull)
        .select($"a_id".as("doc_id"),
          lit(null).cast("string").as("chash"), lit(2L).as("ver")))
    val w = Window.partitionBy($"doc_id").orderBy($"ver")
    rows.withColumn("valid_to", lead($"ver", 1).over(w))
      .filter($"chash".isNotNull)
      .select($"doc_id", $"chash", $"ver".as("valid_from"),
        $"valid_to", $"valid_to".isNull.as("is_current"))
      .orderBy($"doc_id", $"valid_from")
  }

  private val q175Sql =
    """WITH d AS (
      | SELECT doc_id, text,
      |        substr(md5(CAST(doc_id AS VARCHAR)), 32, 1) AS h
      | FROM documents),
      |a AS (SELECT doc_id, md5(text) AS chash FROM d WHERE h <> '0'),
      |b AS (
      | SELECT doc_id,
      |  md5(CASE WHEN h = 'f' THEN text || ' v2' ELSE text END) AS chash
      | FROM d WHERE h <> '1'),
      |j AS (
      | SELECT a.doc_id AS a_id, a.chash AS ca,
      |        b.doc_id AS b_id, b.chash AS cb
      | FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id),
      |r AS (
      | SELECT a_id AS doc_id, ca AS chash, CAST(1 AS BIGINT) AS ver
      | FROM j WHERE ca IS NOT NULL
      | UNION ALL
      | SELECT b_id, cb, CAST(2 AS BIGINT)
      | FROM j WHERE cb IS NOT NULL AND (ca IS NULL OR ca <> cb)
      | UNION ALL
      | SELECT a_id, NULL, CAST(2 AS BIGINT) FROM j WHERE cb IS NULL),
      |v AS (
      | SELECT doc_id, chash, ver,
      |  lead(ver) OVER (PARTITION BY doc_id ORDER BY ver) AS valid_to
      | FROM r)
      |SELECT doc_id, chash, ver AS valid_from, valid_to,
      | valid_to IS NULL AS is_current
      |FROM v WHERE chash IS NOT NULL
      |ORDER BY doc_id, valid_from""".stripMargin

  /** q148: ONE-PASS COLUMN PROFILER — the data-quality report every
    * ingestion run publishes before a snapshot is accepted: per column
    * of `documents`, null count, distinct count, numeric min/max, and
    * mean string length, computed in ONE aggregation over ONE scan
    * (21 agg expressions side by side), then unpivoted to the long
    * (col_name, metric…) report via `stack` on the single result row.
    * Distinct counts ride the native HLL at p=16 — sparse-EXACT to
    * 65,536 distinct values, which covers every profiled column at the
    * gate SFs (the q141 regime; past it the same report degrades to
    * ±0.4% estimates instead of failing).
    *
    * Scale posture: the naive spelling runs one query per column ×
    * metric — k scans of a 100 TB table; this plan is one scan, one
    * partial-aggregable reduce (every metric here — sums, min/max,
    * HLL buffers — merges map-side), and the unpivot touches one row.
    * Ref behavior: pandas `df.describe()`/`nunique` on collected
    * frames; this is the scaled spelling. */
  private def q148(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.expr.GraftFunctions
    def nNull(c: Column) = sum(when(c.isNull, 1L).otherwise(0L))
    def avgLen(c: Column) =
      floor(avg(length(c)) * 10000 + 0.5) / 10000.0
    val agg = documents(s, dir).agg(
      nNull($"doc_id").as("nn_doc_id"),
      GraftFunctions.hllDistinct(s, $"doc_id", 16).as("nd_doc_id"),
      min($"doc_id").cast("double").as("mn_doc_id"),
      max($"doc_id").cast("double").as("mx_doc_id"),
      nNull($"n_chars").as("nn_n_chars"),
      GraftFunctions.hllDistinct(s, $"n_chars", 16).as("nd_n_chars"),
      min($"n_chars").cast("double").as("mn_n_chars"),
      max($"n_chars").cast("double").as("mx_n_chars"),
      nNull($"text").as("nn_text"),
      GraftFunctions.hllDistinct(s, $"text", 16).as("nd_text"),
      avgLen($"text").as("al_text"),
      nNull($"lang").as("nn_lang"),
      GraftFunctions.hllDistinct(s, $"lang", 16).as("nd_lang"),
      avgLen($"lang").as("al_lang"),
      nNull($"source").as("nn_source"),
      GraftFunctions.hllDistinct(s, $"source", 16).as("nd_source"),
      avgLen($"source").as("al_source"))
    agg.select(expr(
      """stack(5,
        | 'doc_id',  nn_doc_id,  nd_doc_id,  mn_doc_id, mx_doc_id,
        |   CAST(NULL AS DOUBLE),
        | 'n_chars', nn_n_chars, nd_n_chars, mn_n_chars, mx_n_chars,
        |   CAST(NULL AS DOUBLE),
        | 'text',    nn_text,    nd_text,    CAST(NULL AS DOUBLE),
        |   CAST(NULL AS DOUBLE), al_text,
        | 'lang',    nn_lang,    nd_lang,    CAST(NULL AS DOUBLE),
        |   CAST(NULL AS DOUBLE), al_lang,
        | 'source',  nn_source,  nd_source,  CAST(NULL AS DOUBLE),
        |   CAST(NULL AS DOUBLE), al_source)
        | AS (col_name, n_nulls, n_distinct, min_num, max_num, avg_len)
        |""".stripMargin))
      .orderBy($"col_name")
  }

  private val q148Sql =
    """SELECT 'doc_id' AS col_name,
      | CAST(count(*) - count(doc_id) AS BIGINT) AS n_nulls,
      | CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct,
      | CAST(min(doc_id) AS DOUBLE) AS min_num,
      | CAST(max(doc_id) AS DOUBLE) AS max_num,
      | CAST(NULL AS DOUBLE) AS avg_len
      |FROM documents
      |UNION ALL SELECT 'n_chars',
      | CAST(count(*) - count(n_chars) AS BIGINT),
      | CAST(count(DISTINCT n_chars) AS BIGINT),
      | CAST(min(n_chars) AS DOUBLE), CAST(max(n_chars) AS DOUBLE),
      | CAST(NULL AS DOUBLE)
      |FROM documents
      |UNION ALL SELECT 'text',
      | CAST(count(*) - count(text) AS BIGINT),
      | CAST(count(DISTINCT text) AS BIGINT),
      | CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
      | floor(avg(length(text)) * 10000 + 0.5) / 10000
      |FROM documents
      |UNION ALL SELECT 'lang',
      | CAST(count(*) - count(lang) AS BIGINT),
      | CAST(count(DISTINCT lang) AS BIGINT),
      | CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
      | floor(avg(length(lang)) * 10000 + 0.5) / 10000
      |FROM documents
      |UNION ALL SELECT 'source',
      | CAST(count(*) - count(source) AS BIGINT),
      | CAST(count(DISTINCT source) AS BIGINT),
      | CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
      | floor(avg(length(source)) * 10000 + 0.5) / 10000
      |FROM documents
      |ORDER BY col_name""".stripMargin

  /** q155: OVERLAPPING-WINDOW CHUNKING — the retrieval/context-window
    * preprocessing step every RAG index and long-document training
    * pipeline runs: each document is cut into W=64-token windows at
    * stride S=48 (16-token overlap, so no boundary sentence is lost),
    * emitting per chunk its token offset, length, and content md5.
    * Entirely ROW-LOCAL (tokenize → `transform` over a `sequence` of
    * chunk starts → posexplode): zero shuffle before the output sort,
    * fan-out bounded by n_tok/S ≈ 1 + n_tok/48 rows per doc, and the
    * chunk TEXT never leaves the row — only its 32-byte hash is
    * emitted (the q147 slim-exchange discipline). Chunk-count closed
    * form: max(1, ⌈(n_tok−W)/S⌉+1) — the last window always reaches
    * the final token; every start stays < n_tok by construction. */
  private def q155(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val W = 64
    val S = 48
    documents(s, dir)
      .withColumn("t", toks($"text"))
      .withColumn("n_tok", size($"t").cast("long"))
      .withColumn("n_chunks",
        greatest(lit(1L), ceil(($"n_tok" - W).cast("double") / S) + 1))
      // _outer: dodge InferFiltersFromGenerate; n_chunks >= 1
      .select($"doc_id", $"n_tok",
        posexplode_outer(expr(
          s"""transform(sequence(0L, n_chunks - 1), i -> named_struct(
             |  'start_tok', i * $S,
             |  'chunk_len', least(CAST($W AS BIGINT), n_tok - i * $S),
             |  'chunk_md5', md5(concat_ws(' ', slice(t, CAST(i * $S + 1 AS INT), $W)))))"""
            .stripMargin)).as(Seq("ci", "c")))
      .select($"doc_id", $"ci".cast("long").as("chunk_idx"),
        $"c.start_tok", $"c.chunk_len", $"c.chunk_md5")
      .orderBy($"doc_id", $"chunk_idx")
  }

  private val q155Sql =
    """WITH d AS (
      | SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |n AS (
      | SELECT doc_id, t, len(t) AS n_tok,
      |  greatest(1, CAST(ceil((len(t) - 64) / 48.0) AS BIGINT) + 1)
      |    AS n_chunks
      | FROM d),
      |c AS (
      | SELECT doc_id, t, n_tok,
      |  unnest(generate_series(0, n_chunks - 1)) AS i
      | FROM n)
      |SELECT doc_id, i AS chunk_idx, i * 48 AS start_tok,
      | least(64, n_tok - i * 48) AS chunk_len,
      | md5(array_to_string(t[i * 48 + 1 : i * 48 + 64], ' ')) AS chunk_md5
      |FROM c ORDER BY doc_id, chunk_idx""".stripMargin

  /** q168: SEQUENCE PACKING — the concat-then-chunk sample packing an
    * LLM training pipeline runs after curation: documents are laid
    * end-to-end in a deterministic md5 shuffle order and cut into
    * fixed CTX-token training contexts; a document straddling a pack
    * boundary contributes one SEGMENT per touched pack (GPT-style
    * packing — no padding, every context exactly full except the
    * last). Spelled as one token-count scan, ONE global prefix sum
    * over the shuffle order, and a row-local `sequence` explode from
    * each doc's first to last touched pack — segment offsets are pure
    * integer arithmetic on (cum_before, n_tok), so the layout is
    * cross-engine exact. Output = the per-pack manifest (segments,
    * fill, span checksum) — bounded at Σtokens/CTX rows.
    * Scale note: the cumsum runs HIERARCHICALLY (q131's discipline,
    * applied to the global order): bucket every doc by the leading
    * hex char of its shuffle key (the bucket prefix respects the
    * global (h, doc_id) order by construction), local cumsum per
    * bucket — a bounded in-partition sort of N/16 docs — plus a
    * broadcast 16-row exclusive bucket-offset rollup. cum =
    * bucket_offset + local_cum is exact integer arithmetic, so the
    * layout — and the oracle — are bit-identical to the one-window
    * flat spelling, which survives below as ShardPackSpec's
    * reference; everything after the cumsum is row-local. */
  private[graft] def packSequences(docs: DataFrame,
      hierarchical: Boolean): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val Ctx = 1024
    val d = docs
      .select($"doc_id", size(toks($"text")).cast("long").as("n_tok"))
      .filter($"n_tok" > 0)
      .withColumn("h", md5(concat(lit("q168:"), $"doc_id".cast("string"))))
    val withCum =
      if (!hierarchical) {
        val w = Window.orderBy($"h", $"doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        d.withColumn("cum", coalesce(sum($"n_tok").over(w), lit(0L)))
      } else {
        // one materialization of the slim digest stream (the q131
        // barrier): both the local-cumsum and bucket-offset branches
        // consume it without re-scanning + re-tokenizing the corpus
        val bkt = d.withColumn("bkt", substring($"h", 1, 1))
          .select($"bkt", $"h", $"doc_id", $"n_tok")
          .localCheckpoint(true)
        val wLocal = Window.partitionBy($"bkt").orderBy($"h", $"doc_id")
        val local = bkt.withColumn("lcum",
          coalesce(sum($"n_tok").over(wLocal.rowsBetween(
            Window.unboundedPreceding, -1)), lit(0L)))
        val offs = bkt.groupBy($"bkt")
          .agg(sum($"n_tok").as("btok"))
          .withColumn("boff",
            coalesce(sum($"btok").over(Window.orderBy($"bkt")
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select($"bkt", $"boff")
        local.join(broadcast(offs), Seq("bkt"))
          .withColumn("cum", $"boff" + $"lcum")
      }
    val segs = withCum
      .withColumn("pack", explode(sequence(
        floor($"cum" / Ctx).cast("long"),
        floor(($"cum" + $"n_tok" - 1) / Ctx).cast("long"))))
      .withColumn("seg_len",
        least(($"pack" + 1) * lit(Ctx.toLong), $"cum" + $"n_tok") -
          greatest($"pack" * lit(Ctx.toLong), $"cum"))
    segs.groupBy($"pack".as("pack_id"))
      .agg(count(lit(1)).as("n_segs"),
        min($"doc_id").as("first_doc"),
        max($"doc_id").as("last_doc"),
        sum($"seg_len").as("fill"),
        sum($"doc_id" * $"seg_len").as("span_checksum"))
      .orderBy($"pack_id")
  }

  private def q168(s: SparkSession, dir: String): DataFrame =
    packSequences(documents(s, dir), hierarchical = true)

  private val q168Sql =
    """WITH d AS (
      | SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT)
      |         AS n_tok,
      |  md5('q168:' || CAST(doc_id AS VARCHAR)) AS h
      | FROM documents
      | WHERE len(string_split(text, ' ')) > 0),
      |c AS (
      | SELECT doc_id, n_tok,
      |  coalesce(sum(n_tok) OVER (ORDER BY h, doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
      | FROM d),
      |segs AS (
      | SELECT doc_id, n_tok, cum,
      |  unnest(generate_series(CAST(floor(cum / 1024) AS BIGINT),
      |    CAST(floor((cum + n_tok - 1) / 1024) AS BIGINT))) AS pack
      | FROM c)
      |SELECT pack AS pack_id,
      | CAST(count(*) AS BIGINT) AS n_segs,
      | min(doc_id) AS first_doc,
      | max(doc_id) AS last_doc,
      | CAST(sum(least((pack + 1) * 1024, cum + n_tok)
      |        - greatest(pack * 1024, cum)) AS BIGINT) AS fill,
      | CAST(sum(doc_id * (least((pack + 1) * 1024, cum + n_tok)
      |        - greatest(pack * 1024, cum))) AS BIGINT) AS span_checksum
      |FROM segs GROUP BY pack ORDER BY pack_id""".stripMargin

  // ---------------------------------------------------------------
  // q173: BPE TOKENIZER TRAINING (Sennrich, Haddow & Birch 2016) —
  // the REAL byte-pair-encoding merge loop, not q36's regex
  // approximation: start from characters (+ an explicit '</w>'
  // end-of-word symbol), repeat K times {count adjacent symbol
  // pairs over the weighted word table → global argmax pair (count
  // desc, pair asc — the deterministic tie-break) → greedily apply
  // the merge left-to-right inside every word}. Output = the ranked
  // merge table, the artifact a tokenizer ships; each step's counts
  // depend on every previous apply, so the gate pins the WHOLE loop.
  //
  // Scale: BPE trains on the DISTINCT-word table (Heaps' law —
  // sublinear in corpus size; the corpus is scanned ONCE to build
  // it), pair counting is a partial-aggregable explode over that
  // bounded table, the argmax is a 1-row TakeOrdered broadcast back,
  // and the apply is row-local — K passes over the word table, zero
  // corpus re-scans. The greedy apply is a per-word sequential fold
  // by definition (Sennrich's algorithm), spelled as an `aggregate`
  // HOF: a merged symbol equals concat(a,b), which can never equal
  // the bare `a` a following merge would need, so the fold IS the
  // canonical left-to-right non-overlapping application. The oracle
  // spells the same apply as a delimiter-doubled string replace
  // (every symbol flanked by two spaces; pattern consumes one space
  // per side, preserving the invariant) — BpeSpec pins both against
  // the paper's worked example.
  private val BpeK = 10

  /** the corpus's non-empty space-separated words, beside `keys`. */
  private def corpusWords(docs: DataFrame, keys: Column*): DataFrame =
    docs.select(keys :+ explode(split(col("text"), " ")).as("word"): _*)
      .filter(length(col("word")) > 0)

  /** the distinct-word table (word, wc) both tokenizer families train
    * on (the Spark spelling of wordSqlCte). */
  private def distinctWords(docs: DataFrame): DataFrame =
    corpusWords(docs).groupBy(col("word")).agg(count(lit(1)).as("wc"))

  /** per-language fertility of one or more trained tokenizers: the
    * corpus's (lang, word) counts n, inner-joined to each (word, name)
    * table of per-word token counts, summed per language into n_words,
    * n_chars and, per tokenizer, name = Σ n · tokens. */
  private def fertility(docs: DataFrame, toks: (String, DataFrame)*)
      : DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val wl = corpusWords(docs, $"lang")
      .groupBy($"lang", $"word").agg(count(lit(1)).as("n"))
    toks.foldLeft(wl) { case (df, (_, t)) => df.join(t, "word") }
      .groupBy($"lang")
      .agg(sum($"n").as("n_words"),
        (sum($"n" * length($"word")).as("n_chars") +:
          toks.map { case (name, _) => sum($"n" * col(name)).as(name) }): _*)
  }

  /** chars per token, rounded to 6 dp half up. */
  private def charsPerToken(chars: Column, tokens: Column): Column =
    floor(chars / tokens.cast("double") * 1e6 + 0.5) / lit(1e6)

  /** greedy left-to-right application of merge (a, b) to a symbol
    * array (row-local fold; exact Sennrich apply — see q173 note). */
  private def bpeApply(seg: Column, a: Column, b: Column): Column =
    aggregate(
      slice(seg, lit(2), size(seg) - 1),
      slice(seg, lit(1), lit(1)),
      (acc, x) =>
        when(element_at(acc, -1) === a && x === b,
          concat(slice(acc, lit(1), size(acc) - 1), array(concat(a, b))))
          .otherwise(concat(acc, array(x))))

  /** occurrence-weighted adjacent-pair counts of a segmentation. */
  private def bpePairs(seg: DataFrame): DataFrame = {
    val s = seg.sparkSession
    import s.implicits._
    seg.filter(size($"seg") >= 2)
      // _outer: dodge InferFiltersFromGenerate; size(seg) >= 2
      .select($"wc", explode_outer(expr(
        "transform(sequence(1, size(seg) - 1), " +
          "i -> struct(element_at(seg, i) AS a, " +
          "element_at(seg, i + 1) AS b))")).as("p"))
      .groupBy($"p.a".as("a"), $"p.b".as("b"))
      .agg(sum($"wc").as("cnt"))
  }

  /** the K-step merge loop → (final segmentation (word, wc, seg), merge
    * table): every step re-counts the pairs over the whole word table,
    * the spelling the DuckDB oracle mirrors. A full recount measured
    * 2.9 s against 8.0 s for delta-maintained pair counts (sf0.1,
    * K=10, PERF.md round 13): the distinct-word table is a few
    * thousand rows, so a recount is one cheap job while the delta
    * bookkeeping pays several materializations per step. */
  private[graft] def bpeChain(docs: DataFrame,
      k: Int): (DataFrame, DataFrame) = {
    val s = docs.sparkSession
    import s.implicits._
    // the initial character segmentation (word, wc, seg)
    val seg0 = distinctWords(docs)
      .withColumn("seg", concat(
        expr("transform(sequence(1, char_length(word)), " +
          "i -> substring(word, i, 1))"),
        array(lit("</w>"))))
      .localCheckpoint(true)
    val (segK, merges) = (1 to k).foldLeft(
      (seg0, Option.empty[DataFrame])) {
      case ((seg, ms), step) =>
        val top = bpePairs(seg).orderBy($"cnt".desc, $"a", $"b").limit(1)
          .localCheckpoint(true)
        val seg2 = seg.crossJoin(broadcast(top))
          .withColumn("seg", bpeApply($"seg", $"a", $"b"))
          .select($"word", $"wc", $"seg")
          .localCheckpoint(true)
        val mrow = top.select(lit(step).as("step"), $"a".as("left_sym"),
          $"b".as("right_sym"), concat($"a", $"b").as("merged"),
          $"cnt".as("pair_count"))
        (seg2, Some(ms.map(_.unionByName(mrow)).getOrElse(mrow)))
    }
    (segK, merges.get.orderBy($"step"))
  }

  private[graft] def bpeMerges(docs: DataFrame, k: Int): DataFrame =
    bpeChain(docs, k)._2

  private def q173(s: SparkSession, dir: String): DataFrame =
    bpeMerges(documents(s, dir), BpeK)

  /** the trained chain as oracle CTE text (no leading WITH): ends in
    * seg$k (the final segmentation) with m1..m$k (the merges) in
    * scope — composed by q173Sql (merge table) AND q176Sql (encode
    * rollup) so the training spelling lives in one place. */
  private def bpeChainSqlCte(k: Int): String =
    s"""$wordSqlCte,
       |${bpeChainSqlCteNoWords(k)}""".stripMargin

  /** the distinct-word CTE both tokenizer families train on — ONE
    * spelling so composed oracles (q193) can't duplicate it. */
  private[graft] val wordSqlCte: String =
    """w AS (
      | SELECT term AS word, count(*) AS wc FROM (
      |  SELECT unnest(string_split(text, ' ')) AS term FROM documents)
      | WHERE len(term) > 0 GROUP BY term)""".stripMargin

  /** the BPE chain CTEs assuming `w` is already in scope (q193's
    * composition partner of unigramSqlCtesNoW). */
  private[graft] def bpeChainSqlCteNoWords(k: Int): String = {
    val steps = (1 to k).map { step =>
      val prev = s"seg${step - 1}"
      s"""p$step AS (
         | SELECT a, b, CAST(sum(wc) AS BIGINT) AS cnt FROM (
         |  SELECT wc, seg[i] AS a, seg[i+1] AS b FROM (
         |   SELECT wc, seg, unnest(generate_series(1, len(seg)-1)) AS i
         |   FROM $prev WHERE len(seg) >= 2))
         | GROUP BY a, b),
         |m$step AS (SELECT a, b, cnt FROM p$step
         |           ORDER BY cnt DESC, a, b LIMIT 1),
         |seg$step AS (
         | SELECT word, wc,
         |  string_split(trim(replace(
         |    '  ' || array_to_string(seg, '  ') || '  ',
         |    ' ' || a || '  ' || b || ' ',
         |    ' ' || a || b || ' '), ' '), '  ') AS seg
         | FROM $prev, m$step)""".stripMargin
    }.mkString(",\n")
    s"""seg0 AS (
       | SELECT word, wc,
       |  list_append(list_transform(generate_series(1, len(word)),
       |    i -> word[i:i]), '</w>') AS seg
       | FROM w),
       |$steps""".stripMargin
  }

  private lazy val q173Sql = {
    val union = (1 to BpeK).map { k =>
      s"SELECT $k AS step, a AS left_sym, b AS right_sym, " +
        s"a||b AS merged, cnt AS pair_count FROM m$k"
    }.mkString(" UNION ALL ")
    s"""WITH ${bpeChainSqlCte(BpeK)}
       |SELECT * FROM ($union) ORDER BY step""".stripMargin
  }

  /** q176: BPE ENCODE — the companion APPLY of q173's training: the
    * corpus tokenized under the trained segmentation, reported as
    * the per-language accounting a tokenizer rollout publishes
    * (word/token/char volumes, chars-per-token compression, global
    * subword vocabulary size). Token count per word = the symbol
    * count of its final segmentation (the '</w>' marker merges into
    * symbols, Sennrich's accounting). Scale: the encode is a JOIN
    * against the bounded distinct-word segmentation table — the
    * corpus is scanned once for (lang, word) counts and never
    * re-tokenized per merge; vocab is a distinct over the seg
    * explode (bounded by initial chars + K merges). */
  private def q176(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = documents(s, dir)
    val (seg, _) = bpeChain(docs, BpeK)
    val vocab = seg.select(explode($"seg").as("sym")).distinct()
      .agg(count(lit(1)).as("vocab_size"))
    fertility(docs, "bpe_tokens" ->
        seg.select($"word", size($"seg").cast("long").as("bpe_tokens")))
      .crossJoin(broadcast(vocab))
      .withColumn("chars_per_token",
        charsPerToken($"n_chars", $"bpe_tokens"))
      .select($"lang", $"n_words", $"bpe_tokens", $"n_chars",
        $"chars_per_token", $"vocab_size")
      .orderBy($"lang")
  }

  private lazy val q176Sql =
    s"""WITH ${bpeChainSqlCte(BpeK)},
       |wl AS (
       | SELECT lang, term AS word, count(*) AS n FROM (
       |  SELECT lang, unnest(string_split(text, ' ')) AS term
       |  FROM documents)
       | WHERE len(term) > 0 GROUP BY lang, term),
       |vs AS (SELECT count(DISTINCT sym) AS vocab_size FROM (
       |  SELECT unnest(seg) AS sym FROM seg$BpeK)),
       |enc AS (
       | SELECT lang, n, len(seg) AS n_sub, len(word) AS wlen
       | FROM wl JOIN seg$BpeK USING (word))
       |SELECT lang, CAST(sum(n) AS BIGINT) AS n_words,
       | CAST(sum(n * n_sub) AS BIGINT) AS bpe_tokens,
       | CAST(sum(n * wlen) AS BIGINT) AS n_chars,
       | floor(sum(n * wlen) / CAST(sum(n * n_sub) AS DOUBLE)
       |   * 1000000 + 0.5) / 1000000.0 AS chars_per_token,
       | CAST(vs.vocab_size AS BIGINT) AS vocab_size
       |FROM enc CROSS JOIN vs
       |GROUP BY lang, vs.vocab_size ORDER BY lang""".stripMargin

  /** q184: TOKENIZER ROUND-TRIP — the invariant a tokenizer rollout
    * actually checks before shipping: encode∘decode = identity.
    * q176 ACCOUNTS tokens; this DECODES them back: each word of an
    * md5-ranked doc sample maps through the trained segmentation
    * (q173's merge loop — BPE merges never change the concatenation,
    * so join(seg) = word‖'</w>' structurally, and the decode strips
    * the marker), words reassemble in position order, and the gate
    * pins md5(rebuilt doc) against md5(original doc) WITH the match
    * flag as a measured column (computed, not asserted — the q179
    * audit-column discipline). A real rollout runs exactly this
    * before swapping tokenizers: a segmentation table missing a word,
    * a marker-handling bug, or a detok-join dropping tokens all
    * surface as a flipped flag. Scale: the decode is a broadcast-size
    * sample joined against the bounded distinct-word segmentation —
    * no corpus re-scan beyond the sample filter. */
  private val RtSample = 20

  private def q184(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (seg, _) = bpeChain(documents(s, dir), BpeK)
    val sample = documents(s, dir).select($"doc_id", $"text")
      .withColumn("h", md5(concat(lit("q184:"), $"doc_id".cast("string"))))
      .orderBy($"h", $"doc_id").limit(RtSample)
      .select($"doc_id", $"text")
      .localCheckpoint(true)
    val toks = sample
      .select($"doc_id", posexplode(split($"text", " ")).as(Seq("pos", "word")))
      .filter(length($"word") > 0)
    val detok = toks.join(seg.select($"word", $"seg"), "word")
      .withColumn("cat", array_join($"seg", ""))
      .withColumn("rw", expr(
        "substring(cat, 1, char_length(cat) - 4)")) // strip '</w>'
    val rebuilt = detok.groupBy($"doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(size($"seg")).cast("long").as("n_tokens"),
        md5(array_join(transform(
          sort_array(collect_list(struct($"pos", $"rw"))),
          x => x("rw")), " ")).as("rebuilt_md5"))
    sample.select($"doc_id", md5($"text").as("orig_md5"))
      .join(rebuilt, "doc_id")
      .withColumn("roundtrip_ok", $"orig_md5" === $"rebuilt_md5")
      .select($"doc_id", $"n_words", $"n_tokens", $"orig_md5",
        $"rebuilt_md5", $"roundtrip_ok")
      .orderBy($"doc_id")
  }

  private lazy val q184Sql =
    s"""WITH ${bpeChainSqlCte(BpeK)},
       |samp AS (SELECT doc_id, text FROM documents
       |         ORDER BY md5('q184:' || CAST(doc_id AS VARCHAR)), doc_id
       |         LIMIT $RtSample),
       |tk AS (SELECT doc_id, i AS pos, t[i] AS word FROM (
       |        SELECT doc_id, string_split(text, ' ') AS t,
       |         unnest(generate_series(1,
       |           len(string_split(text, ' ')))) AS i
       |        FROM samp)
       |       WHERE len(t[i]) > 0),
       |dt AS (SELECT tk.doc_id, tk.pos, len(s.seg) AS n_sub,
       |        substr(array_to_string(s.seg, ''), 1,
       |          len(array_to_string(s.seg, '')) - 4) AS rw
       |       FROM tk JOIN seg$BpeK s ON tk.word = s.word),
       |rb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |        CAST(sum(n_sub) AS BIGINT) AS n_tokens,
       |        md5(string_agg(rw, ' ' ORDER BY pos)) AS rebuilt_md5
       |       FROM dt GROUP BY doc_id)
       |SELECT s.doc_id, rb.n_words, rb.n_tokens,
       | md5(s.text) AS orig_md5, rb.rebuilt_md5,
       | (md5(s.text) = rb.rebuilt_md5) AS roundtrip_ok
       |FROM samp s JOIN rb USING (doc_id) ORDER BY s.doc_id""".stripMargin

  // ---------------------------------------------------------------
  // q191: UNIGRAM-LM TOKENIZER (Kudo 2018, the SentencePiece model) —
  // the second tokenizer family beside q173's BPE, because the two
  // families fail differently (BPE's greedy merges are order-
  // sensitive; unigram scores whole segmentations) and a data
  // pipeline validating a tokenizer swap needs both. Pipeline: seed
  // vocabulary = every ≤UniMaxPiece-char substring of the distinct-
  // word table, occurrence-weighted (all single chars kept — the
  // segmentability floor — plus the top-UniV multi-char pieces);
  // piece costs are integer micro-units of the unigram surprisal
  // −ln(f/T) (the q162 int64 discipline: cross-engine rank-safe);
  // E-step = EXACT Viterbi segmentation of every distinct word —
  // spelled as total enumeration of the 2^(len−1) cut masks with a
  // (cost, piece-count, segmentation-string) tie-break, which is
  // EXHAUSTIVE hence provably the Viterbi optimum, row-local, and
  // oracle-mirrorable with no recursion; M-step = re-estimated piece
  // frequencies from the occurrence-weighted optimal segmentations.
  // The gate pins the full vocab table (piece, seed f0, cost6,
  // EM-updated f1) — seed statistics, model scores, and one exact EM
  // round, cross-engine.
  //
  // Scale: everything trains on the DISTINCT-word table (Heaps-
  // bounded; the corpus is scanned once — q173's posture). The
  // enumeration is exponential in WORD LENGTH, not corpus size, so it
  // is GUARDED: words of ≤ UniEnumMax (16) chars enumerate ≤ 2^15 cut
  // masks as one row-local HOF chain (zero shuffle); any longer word
  // — a URL, a hash, CJK text without spaces, anything a real crawl
  // contains — routes through the O(len²) bounded Viterbi
  // fold below, which computes the IDENTICAL optimum (UnigramSpec
  // pins fold ≡ enumeration per word, including the (cost, m, seg)
  // tie-break, and plants a 64-char token that the unguarded
  // enumeration could not represent: sequence() caps at 2^31 elements
  // around len 33, and memory dies well before — ~2^24 masks × ~30
  // bytes ≈ 0.5 GiB per row at len 25).
  private val UniMaxPiece = 4
  private val UniV = 48
  private val UniBig = 1000000000000L
  private[graft] val UniEnumMax = 16

  /** every (≤ UniMaxPiece)-char substring of `word`, as a SQL expr
    * over a row with a `word` column. */
  private def uniSubsExpr: String =
    s"""flatten(transform(sequence(1, char_length(word)),
       |  st -> transform(
       |    sequence(st, least(char_length(word), st + ${UniMaxPiece - 1})),
       |    en -> substring(word, st, en - st + 1))))""".stripMargin

  /** the per-word optimal segmentation under the piece-cost map `pm`:
    * array_min over all cut masks of (cost, m, seg) — exhaustive, so
    * exactly the Viterbi optimum with a total deterministic
    * tie-break. Exponential in word length; uniBestExpr guards it at
    * UniEnumMax chars (spec-pinned ≡ the bounded fold). */
  private[graft] def uniBestEnumExpr: String = {
    val bd = "concat(array(0L), " +
      "filter(CASE WHEN char_length(word) <= 1 " +
      "THEN CAST(array() AS ARRAY<BIGINT>) " +
      "ELSE sequence(1L, CAST(char_length(word) AS LONG) - 1L) END, " +
      "k -> (mask div shiftleft(1L, CAST(k AS INT) - 1)) % 2 = 1), " +
      "array(CAST(char_length(word) AS LONG)))"
    val pieces = s"transform(sequence(1, size($bd) - 1), " +
      s"i -> substring(word, CAST(element_at($bd, i) AS INT) + 1, " +
      s"CAST(element_at($bd, CAST(i AS INT) + 1) - element_at($bd, i) AS INT)))"
    s"""array_min(transform(
       |  transform(
       |    sequence(0L, shiftleft(1L, char_length(word) - 1) - 1),
       |    mask -> $pieces),
       |  ps -> named_struct(
       |    'cost', aggregate(ps, 0L,
       |      (acc, pc) -> acc + coalesce(try_element_at(pm, pc), ${UniBig}L)),
       |    'm', size(ps),
       |    'seg', array_join(ps, '|'))))""".stripMargin
  }

  /** the same optimum as a BOUNDED Viterbi fold — O(len²) work and
    * O(len) state instead of 2^(len−1) masks, for words past the
    * enumeration guard. DP over char positions: element_at(acc,
    * j + 1) = the optimal (cost, m, seg) struct covering the first j
    * chars (acc(1) = the empty prefix); step i minimizes over ALL
    * pieces ENDING at i — in-model candidates are ≤ UniMaxPiece long
    * (pm can contain nothing longer), but LONGER pieces stay legal at
    * the UniBig sentinel, exactly like the enumeration: one long
    * unknown SPAN can be the optimum (it beats two adjacent unknown
    * pieces by a whole sentinel — the Kudo <unk>-span semantics, and
    * the spelling the DuckDB oracle enumerates; a seeded-random
    * UnigramSpec case caught the capped-window variant diverging
    * here). The (cost, m, seg) tie-break is the enumeration's own,
    * and it is DP-safe: appending a fixed piece preserves the struct
    * order (costs shift by a constant, m by one, and seg strings
    * compared only when cost AND m tie — equal piece count over an
    * equal prefix means equal total seg LENGTH, and lexicographic
    * order on equal-length strings is append-stable) — so
    * pointwise-minimal prefix states compose to the global minimum,
    * and fold ≡ enumeration exactly (UnigramSpec pins it per word on
    * hand-picked AND 300 seeded-random (word, vocab) cases). A len-L
    * token costs L²/2 row-local struct ops — a 10k-char blob is ~5e7
    * ops, slow but bounded and spill-free, vs the enumeration's
    * impossible 2^L. */
  private[graft] def uniBestFoldExpr: String = {
    val piece = "substring(word, st, i - st + 1)"
    val cand =
      s"""named_struct(
         |      'cost', element_at(acc, st).cost +
         |        (CASE WHEN i - st + 1 <= $UniMaxPiece
         |         THEN coalesce(try_element_at(pm, $piece), ${UniBig}L)
         |         ELSE ${UniBig}L END),
         |      'm', element_at(acc, st).m + 1,
         |      'seg', CASE WHEN st = 1 THEN $piece
         |             ELSE concat(element_at(acc, st).seg, '|', $piece)
         |             END)""".stripMargin
    s"""element_at(
       |  aggregate(
       |    sequence(1, char_length(word)),
       |    array(named_struct('cost', 0L, 'm', 0, 'seg', '')),
       |    (acc, i) -> concat(acc, array(array_min(transform(
       |      sequence(1, i),
       |      st -> $cand))))),
       |  char_length(word) + 1)""".stripMargin
  }

  /** guarded dispatch: exhaustive enumeration for ≤ UniEnumMax-char
    * words (the oracle-mirrored gate path — the test corpora's words
    * are all ≤ 8 chars), the bounded fold for anything longer, so an
    * adversarial real-world token can never blow up the E-step at
    * runtime. Both branches produce the identical struct. */
  private def uniBestExpr: String =
    s"""CASE WHEN char_length(word) <= $UniEnumMax
       | THEN $uniBestEnumExpr
       | ELSE $uniBestFoldExpr END""".stripMargin

  /** (words = (word, wc), vocab0 = (piece, f0)) — the unigram seed
    * statistics shared by the hard chain (q191) and the soft-EM
    * chain (q209): one corpus scan for (word, wc), the substring
    * counts, and the singles + top-UniV-multi seed vocabulary. */
  private[graft] def uniSeed(docs: DataFrame): (DataFrame, DataFrame) = {
    val s = docs.sparkSession
    import s.implicits._
    val words = distinctWords(docs).localCheckpoint(true)
    val subs = words
      // _outer: dodge InferFiltersFromGenerate; words are non-empty
      .select($"wc", explode_outer(expr(uniSubsExpr)).as("piece"))
      .groupBy($"piece").agg(sum($"wc").as("f0"))
      .localCheckpoint(true)
    (words, uniPrune(subs, "f0", Some(UniV)))
  }

  /** the prune rule: every single-char piece (the segmentability
    * floor) plus the multi-char pieces with count `f` > 0 — the top
    * `cap` of them by (f desc, piece) when capped. */
  private def uniPrune(c: DataFrame, f: String, cap: Option[Int])
      : DataFrame = {
    val multi = c.filter(length(col("piece")) > 1 && col(f) > 0)
    c.filter(length(col("piece")) === 1).unionByName(cap.fold(multi)(k =>
      multi.orderBy(col(f).desc, col("piece")).limit(k)))
  }

  /** `v` with cost6 = −ln(f/T) in integer micro-units, T = Σ f over
    * `v`; a piece with f = 0 costs the UniBig sentinel. */
  private def uniCosts(v: DataFrame, f: String): DataFrame =
    v.crossJoin(broadcast(v.agg(sum(col(f)).as("t"))))
      .withColumn("cost6",
        when(col(f) > 0,
          floor(log(col("t").cast("double") / col(f)) * 1e6 + 0.5)
            .cast("long"))
          .otherwise(lit(UniBig)))

  /** per-word piece map pm over the word's own substrings ∩ vocab
    * (bounded: ≤ len·UniMaxPiece entries — the lookup the row-local
    * E-steps fold over; the vocab side broadcasts), the value column
    * `v` of vocab (cost6 for the Viterbi, p for the soft E-step). */
  private def uniPieceMap(words: DataFrame, vocab: DataFrame, v: String)
      : DataFrame =
    words.select(col("word"), explode_outer(expr(uniSubsExpr)).as("piece"))
      .distinct()
      .join(broadcast(vocab.select(col("piece"), col(v))), "piece")
      .groupBy(col("word"))
      .agg(map_from_entries(collect_set(struct(col("piece"), col(v))))
        .as("pm"))

  /** the exact Viterbi E-step under vocab's (piece, cost6) →
    * (word, wc, m, seg): the optimal segmentation of every word. */
  private def uniBest(words: DataFrame, vocab: DataFrame): DataFrame =
    words.join(uniPieceMap(words, vocab, "cost6"), "word")
      .withColumn("b", expr(uniBestExpr))
      .select(col("word"), col("wc"), col("b.m").as("m"),
        col("b.seg").as("seg"))

  /** the M-step recount: vocab's rows with `f` = Σ wc of each piece
    * over best's segmentations (0 for a piece no segmentation uses). */
  private def uniRecount(vocab: DataFrame, best: DataFrame, f: String)
      : DataFrame =
    vocab.join(uniCounts(best, f), Seq("piece"), "left")
      .withColumn(f, coalesce(col(f), lit(0L)))

  /** (piece, f = Σ wc) over the pieces of the segmentations in seg. */
  private def uniCounts(seg: DataFrame, f: String): DataFrame =
    seg.select(col("wc"), explode(split(col("seg"), "\\|")).as("piece"))
      .groupBy(col("piece")).agg(sum(col("wc")).as(f))

  /** (words, vocab, best) of the unigram chain: words = (word, wc);
    * vocab = (piece, f0, cost6); best = (word, wc, m, seg) — the
    * occurrence-weighted optimal segmentations. Shared by q191
    * (training gate), q192 (rollout) and UnigramSpec. */
  private[graft] def unigramChain(docs: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val s = docs.sparkSession
    import s.implicits._
    val (words, vocab0) = uniSeed(docs)
    val vocab = uniCosts(vocab0, "f0")
      .select($"piece", $"f0", $"cost6")
      .localCheckpoint(true)
    val best = uniBest(words, vocab).localCheckpoint(true)
    (words, vocab, best)
  }

  private def q191(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (_, vocab, best) = unigramChain(documents(s, dir))
    uniRecount(vocab, best, "f1")
      .select($"piece", $"f0", $"cost6", $"f1")
      .orderBy($"piece")
  }

  // q195: UNIGRAM EM ITERATION + VOCABULARY PRUNING — the step that
  // makes q191 the real SentencePiece training loop: after the first
  // EM round, multi-char pieces the Viterbi never used (f1 = 0) are
  // PRUNED (single chars always survive — the segmentability floor),
  // costs are re-estimated from the round-1 Viterbi counts
  // (cost2 = −ln(f1/T1) in integer micro-units; unused singles get
  // the UniBig sentinel), and the exact E-step re-runs under the
  // pruned, re-costed vocabulary. The gate pins the full round-2
  // vocab table (piece, f1, cost2_6, f2) — pruning, re-costing, and
  // the second Viterbi pass all cross-engine. Scale: identical to
  // q191 (everything over the Heaps-bounded distinct-word table; the
  // oracle reuses the SAME mask-decomposition CTE for both rounds).
  private def q195(s: SparkSession, dir: String): DataFrame =
    unigramRound2(documents(s, dir))

  /** q195's core over an explicit corpus (UnigramSpec plants a
    * corpus where a seeded multi-char piece is provably pruned). */
  private[graft] def unigramRound2(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val (words, vocab, best) = unigramChain(docs)
    val v1 = uniPrune(uniRecount(vocab.select($"piece"), best, "f1"),
        "f1", None)
      .localCheckpoint(true)
    val v2 = uniCosts(v1, "f1")
      .select($"piece", $"f1", $"cost6")
      .localCheckpoint(true)
    uniRecount(v2, uniBest(words, v2), "f2")
      .select($"piece", $"f1", $"cost6".as("cost2_6"), $"f2")
      .orderBy($"piece")
  }

  private lazy val q195Sql =
    s"""WITH RECURSIVE $unigramSqlCtes,
       |f1 AS (SELECT piece, CAST(sum(wc) AS BIGINT) AS f1 FROM (
       |        SELECT wc, unnest(string_split(seg, '|')) AS piece
       |        FROM best) GROUP BY piece),
       |v1 AS (SELECT vocab.piece,
       |        CAST(coalesce(f1.f1, 0) AS BIGINT) AS f1
       |       FROM vocab LEFT JOIN f1 USING (piece)
       |       WHERE len(vocab.piece) = 1 OR coalesce(f1.f1, 0) > 0),
       |t1 AS (SELECT CAST(sum(f1) AS BIGINT) AS t1 FROM v1),
       |v2 AS (SELECT piece, f1,
       |        CASE WHEN f1 > 0 THEN
       |         CAST(floor(ln(CAST(t1 AS DOUBLE) / f1) * 1000000 + 0.5)
       |           AS BIGINT)
       |        ELSE $UniBig END AS cost6
       |       FROM v1, t1),
       |costed2 AS (SELECT word, wc, mask, any_value(m) AS m,
       |             CAST(sum(coalesce(v2.cost6, $UniBig)) AS BIGINT)
       |               AS cost,
       |             string_agg(pcr.piece, '|' ORDER BY i) AS seg
       |            FROM pcr LEFT JOIN v2 USING (piece)
       |            GROUP BY word, wc, mask),
       |${uniFoldSqlCte("u2", "v2")},
       |best2 AS (SELECT wc, seg FROM (
       |           SELECT wc, seg, row_number() OVER (
       |            PARTITION BY word ORDER BY cost, m, seg) AS rn
       |           FROM costed2) WHERE rn = 1
       |          UNION ALL
       |          SELECT wc, seg FROM u2bf),
       |f2 AS (SELECT piece, CAST(sum(wc) AS BIGINT) AS f2 FROM (
       |        SELECT wc, unnest(string_split(seg, '|')) AS piece
       |        FROM best2) GROUP BY piece)
       |SELECT v2.piece, v2.f1, v2.cost6 AS cost2_6,
       | CAST(coalesce(f2.f2, 0) AS BIGINT) AS f2
       |FROM v2 LEFT JOIN f2 USING (piece)
       |ORDER BY piece""".stripMargin

  // q202: UNIGRAM EM-TO-VOCAB-TARGET LOOP — the training loop a
  // tokenizer shipper actually runs (Kudo 2018 §3.2: repeat
  // re-estimate → prune until the vocabulary hits a target size),
  // generalizing q195's single round. Each round r: exact Viterbi
  // E-step under the current costs → recount → prune (multi-char
  // pieces the Viterbi never used drop — q195's rule — then the
  // survivors cap at K_r by (count desc, piece), Kudo's
  // lowest-loss-first pruning in count form) → re-estimate costs from
  // the kept counts. The prune schedule is GEOMETRIC —
  // K_r = max(target, ceil(UniV / 2^r)) — so the loop-until-target
  // has a compile-time bound R = ceil(log2(UniV / target)) and runs
  // EXACTLY R rounds; that keeps "until |multi vocab| ≤ target" a
  // structural guarantee while the oracle stays a static CTE chain
  // (the q173 fixed-K-merges discipline applied to EM rounds). The
  // gate pins the FULL per-round vocabulary (round, piece, f, cost6)
  // — sizes, membership, counts, and re-estimated costs of every
  // round, cross-engine.
  //
  // Scale: identical to q191/q195 — R bounded E-steps over the
  // Heaps-bounded distinct-word table, the vocab side broadcast,
  // per-round state checkpointed so plans stay flat.
  private[graft] val UniTarget = 16

  private def q202(s: SparkSession, dir: String): DataFrame =
    unigramToTarget(documents(s, dir), UniTarget)

  /** rounds needed for the geometric schedule to provably reach the
    * target multi-char vocab size. */
  private[graft] def uniPruneRounds(target: Int): Int =
    math.max(1,
      math.ceil(math.log(UniV.toDouble / target) / math.log(2.0)).toInt)

  /** round r's multi-char keep cap. */
  private[graft] def uniKeepK(target: Int, r: Int): Int =
    math.max(target, math.ceil(UniV / math.pow(2.0, r)).toInt)

  /** q202's core, parameterized by target so UnigramSpec can pin a
    * hand-computable deep-prune run (target = 1 → 6 rounds). */
  private[graft] def unigramToTarget(docs: DataFrame, target: Int)
      : DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val (words, vocab0, best0) = unigramChain(docs)
    var vocab = vocab0.select($"piece", $"cost6")
    val sheets = Seq.newBuilder[DataFrame]
    for (r <- 1 to uniPruneRounds(target)) {
      val best = if (r == 1) best0 else uniBest(words, vocab)
      val keep = uniPrune(uniRecount(vocab.select($"piece"), best, "f"),
        "f", Some(uniKeepK(target, r)))
      val v = uniCosts(keep, "f")
        .select($"piece", $"f", $"cost6")
        .localCheckpoint(true)
      sheets += v.select(lit(r.toLong).as("round"), $"piece", $"f",
        $"cost6")
      vocab = v.select($"piece", $"cost6")
    }
    sheets.result().reduce(_.unionByName(_)).orderBy($"round", $"piece")
  }

  private[graft] def unigramToTargetSql(target: Int): String = {
    val rounds = uniPruneRounds(target)
    val rcte = (1 to rounds).map { r =>
      val fPrev =
        if (r == 1)
          s"""fr1 AS (SELECT piece, CAST(sum(wc) AS BIGINT) AS f FROM (
             |        SELECT wc, unnest(string_split(seg, '|')) AS piece
             |        FROM best) GROUP BY piece)""".stripMargin
        else
          s"""cst$r AS (SELECT word, wc, mask, any_value(m) AS m,
             |         CAST(sum(coalesce(vr${r - 1}.cost6, $UniBig))
             |           AS BIGINT) AS cost,
             |         string_agg(pcr.piece, '|' ORDER BY i) AS seg
             |        FROM pcr LEFT JOIN vr${r - 1} USING (piece)
             |        GROUP BY word, wc, mask),
             |${uniFoldSqlCte(s"u$r", s"vr${r - 1}")},
             |bst$r AS (SELECT wc, seg FROM (
             |         SELECT wc, seg, row_number() OVER (
             |          PARTITION BY word ORDER BY cost, m, seg) AS rn
             |         FROM cst$r) WHERE rn = 1
             |        UNION ALL
             |        SELECT wc, seg FROM u${r}bf),
             |fr$r AS (SELECT piece, CAST(sum(wc) AS BIGINT) AS f FROM (
             |        SELECT wc, unnest(string_split(seg, '|')) AS piece
             |        FROM bst$r) GROUP BY piece)""".stripMargin
      val vPrev = if (r == 1) "vocab" else s"vr${r - 1}"
      s"""$fPrev,
         |cr$r AS (SELECT $vPrev.piece,
         |         CAST(coalesce(fr$r.f, 0) AS BIGINT) AS f
         |        FROM $vPrev LEFT JOIN fr$r USING (piece)),
         |kp$r AS (SELECT piece, f FROM cr$r WHERE len(piece) = 1
         |        UNION ALL
         |        SELECT piece, f FROM (
         |         SELECT piece, f FROM cr$r
         |         WHERE len(piece) > 1 AND f > 0
         |         ORDER BY f DESC, piece LIMIT ${uniKeepK(target, r)})),
         |tr$r AS (SELECT CAST(sum(f) AS BIGINT) AS t FROM kp$r),
         |vr$r AS (SELECT piece, f,
         |         CASE WHEN f > 0 THEN
         |          CAST(floor(ln(CAST(t AS DOUBLE) / f) * 1000000 + 0.5)
         |            AS BIGINT)
         |         ELSE $UniBig END AS cost6
         |        FROM kp$r, tr$r)""".stripMargin
    }.mkString(",\n")
    val union = (1 to rounds)
      .map(r =>
        s"SELECT CAST($r AS BIGINT) AS round, piece, f, cost6 FROM vr$r")
      .mkString(" UNION ALL ")
    s"""WITH RECURSIVE $unigramSqlCtes,
       |$rcte
       |SELECT * FROM ($union) ORDER BY round, piece""".stripMargin
  }

  private lazy val q202Sql = unigramToTargetSql(UniTarget)

  /** the unigram chain as oracle CTEs (no leading WITH): relational
    * enumeration (mask rows → piece rows → LEFT JOIN vocab → best by
    * row_number) — same costs, same tie-break as the Spark HOF
    * spelling. Ends with w, vocab, best in scope. */
  private[graft] def unigramSqlCtes: String =
    s"""$wordSqlCte,
       |$unigramSqlCtesNoW""".stripMargin

  /** the unigram chain CTEs ASSUMING `w` (the distinct-word table)
    * is already in scope — so q193 can compose the unigram and BPE
    * chains over ONE shared `w` without a duplicate-CTE error. */
  private[graft] def unigramSqlCtesNoW: String =
    s"""s1 AS (SELECT word, wc,
       |        unnest(generate_series(1, len(word))) AS st FROM w),
       |s2 AS (SELECT word, wc, st,
       |        unnest(generate_series(st,
       |          least(len(word), st + ${UniMaxPiece - 1}))) AS en
       |       FROM s1),
       |sub AS (SELECT substr(word, CAST(st AS INT),
       |          CAST(en - st + 1 AS INT)) AS piece,
       |         CAST(sum(wc) AS BIGINT) AS f0
       |        FROM s2 GROUP BY piece),
       |v0 AS (SELECT piece, f0 FROM sub WHERE len(piece) = 1
       |       UNION ALL
       |       SELECT piece, f0 FROM (
       |        SELECT piece, f0 FROM sub WHERE len(piece) > 1
       |        ORDER BY f0 DESC, piece LIMIT $UniV)),
       |tot AS (SELECT CAST(sum(f0) AS BIGINT) AS t0 FROM v0),
       |vocab AS (SELECT piece, f0,
       |           CAST(floor(ln(CAST(t0 AS DOUBLE) / f0) * 1000000 + 0.5)
       |             AS BIGINT) AS cost6
       |          FROM v0, tot),
       |mk AS (SELECT word, wc,
       |        unnest(generate_series(0,
       |          CAST(2 ** (len(word) - 1) AS BIGINT) - 1)) AS mask
       |       FROM w WHERE len(word) <= $UniEnumMax),
       |lw AS (SELECT word, wc FROM w WHERE len(word) > $UniEnumMax),
       |bm AS (SELECT word, wc, mask,
       |        list_concat(list_concat([CAST(0 AS BIGINT)],
       |          list_filter(generate_series(1, len(word) - 1),
       |            k -> (mask // CAST(2 ** (k - 1) AS BIGINT)) % 2 = 1)),
       |          [CAST(len(word) AS BIGINT)]) AS bd
       |       FROM mk),
       |pcr AS (SELECT word, wc, mask, i, len(bd) - 1 AS m,
       |         substr(word, CAST(bd[i] + 1 AS INT),
       |           CAST(bd[i + 1] - bd[i] AS INT)) AS piece
       |        FROM (SELECT word, wc, mask, bd,
       |               unnest(generate_series(1, len(bd) - 1)) AS i
       |              FROM bm)),
       |costed AS (SELECT word, wc, mask, any_value(m) AS m,
       |            CAST(sum(coalesce(vocab.cost6, $UniBig)) AS BIGINT)
       |              AS cost,
       |            string_agg(pcr.piece, '|' ORDER BY i) AS seg
       |           FROM pcr LEFT JOIN vocab USING (piece)
       |           GROUP BY word, wc, mask),
       |${uniFoldSqlCte("u0", "vocab")},
       |best AS (SELECT word, wc, m, seg FROM (
       |          SELECT word, wc, m, seg, row_number() OVER (
       |           PARTITION BY word ORDER BY cost, m, seg) AS rn
       |          FROM costed) WHERE rn = 1
       |         UNION ALL
       |         SELECT word, wc, m, seg FROM u0bf)""".stripMargin

  /** the bounded Viterbi fold (uniBestFoldExpr) as oracle CTEs over
    * the words LONGER than UniEnumMax — the oracle branch of the
    * Spark dispatch, so a corpus containing a URL/hash/CJK blob keeps
    * FULL oracle coverage instead of aborting the gate (ADVICE r15:
    * the old mk guard called error() and lost q191/q192/q193/q195/
    * q202 on one long word). Same recursive list-carrying DP as the
    * soft-EM oracle (uniSoftStepSql): the per-word edge-COST list
    * (ecl[(en-1)·M + k] = cost6 of the k-char piece ending at en;
    * out-of-vocab and invalid slots hold the UniBig sentinel) rides
    * in the recursion seed, each step appends the min over ALL start
    * positions st ≤ i+1 — pieces longer than UniMaxPiece stay legal
    * at one UniBig (the Kudo <unk>-span semantics the enumeration
    * has) — and the (cost, m, seg) struct sort IS the enumeration's
    * ORDER BY cost, m, seg tie-break (list_sort on structs compares
    * fields in declaration order). Fold ≡ enumeration pinned on 60
    * seeded-random (word, vocab) cases at build time and by
    * UnigramSpec's Spark-side 300-case pin of the identical
    * recurrence. Parameterized by cost table `ct` = (piece, cost6)
    * so each EM round's E-step (q195's v2, q202's vr_r) folds under
    * its OWN costs, exactly like the pcr-join it mirrors. Requires
    * `lw` in scope; ends with ${tag}bf = (word, wc, m, seg). */
  private def uniFoldSqlCte(tag: String, ct: String): String = {
    val M = UniMaxPiece
    s"""${tag}ec AS MATERIALIZED (
       | SELECT g.word, any_value(g.wc) AS wc, any_value(g.ln) AS ln,
       |  list(CASE WHEN g.piece IS NULL THEN CAST($UniBig AS BIGINT)
       |        ELSE coalesce(v.cost6, CAST($UniBig AS BIGINT)) END
       |       ORDER BY g.en, g.k) AS ecl
       | FROM (SELECT we.word, we.wc, we.ln, we.en, ks.k,
       |        CASE WHEN we.en - ks.k + 1 >= 1
       |         THEN substr(we.word, CAST(we.en - ks.k + 1 AS INT),
       |           CAST(ks.k AS INT)) END AS piece
       |       FROM (SELECT word, wc, len(word) AS ln,
       |              unnest(generate_series(1, len(word))) AS en
       |             FROM lw) we
       |       CROSS JOIN (SELECT unnest(generate_series(1, $M)) AS k)
       |        ks) g
       | LEFT JOIN $ct v ON g.piece = v.piece
       | GROUP BY g.word),
       |${tag}fd AS (
       | SELECT word, wc, ln, ecl, 0 AS i,
       |  [{'cost': CAST(0 AS BIGINT), 'm': CAST(0 AS BIGINT),
       |    'seg': ''}] AS acc
       | FROM ${tag}ec
       | UNION ALL
       | SELECT word, wc, ln, ecl, i + 1, list_append(acc,
       |   (list_sort(list_transform(generate_series(1, i + 1), st ->
       |     {'cost': acc[st].cost +
       |        (CASE WHEN i + 2 - st <= $M
       |          THEN ecl[i * $M + (i + 2 - st)]
       |          ELSE CAST($UniBig AS BIGINT) END),
       |      'm': acc[st].m + 1,
       |      'seg': CASE WHEN st = 1
       |             THEN substr(word, CAST(st AS INT),
       |               CAST(i + 2 - st AS INT))
       |             ELSE acc[st].seg || '|' || substr(word,
       |               CAST(st AS INT), CAST(i + 2 - st AS INT)) END}
       |    ))[1]))
       | FROM ${tag}fd WHERE i < ln),
       |${tag}bf AS (SELECT word, wc, CAST(acc[ln + 1].m AS BIGINT) AS m,
       |          acc[ln + 1].seg AS seg
       |         FROM ${tag}fd WHERE i = ln)""".stripMargin
  }

  private lazy val q191Sql =
    s"""WITH RECURSIVE $unigramSqlCtes,
       |f1 AS (SELECT piece, CAST(sum(wc) AS BIGINT) AS f1 FROM (
       |        SELECT wc, unnest(string_split(seg, '|')) AS piece
       |        FROM best) GROUP BY piece)
       |SELECT vocab.piece, vocab.f0, vocab.cost6,
       | CAST(coalesce(f1.f1, 0) AS BIGINT) AS f1
       |FROM vocab LEFT JOIN f1 USING (piece)
       |ORDER BY piece""".stripMargin

  // q192: UNIGRAM ENCODE ROLLOUT — q176's accounting under the
  // unigram model: per-language word/token/char volumes and
  // compression under the OPTIMAL (not greedy) segmentation, plus
  // the used-vocab size (pieces with nonzero Viterbi count — the
  // effective vocabulary a rollout ships). The corpus is scanned
  // once for (lang, word) counts and joined against the bounded
  // segmentation table.
  private def q192(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = documents(s, dir)
    val (_, _, best) = unigramChain(docs)
    val used = uniCounts(best, "f").agg(count(lit(1)).as("vocab_used"))
    fertility(docs, "uni_tokens" -> best.select($"word", $"m".as("uni_tokens")))
      .crossJoin(broadcast(used))
      .withColumn("chars_per_token",
        charsPerToken($"n_chars", $"uni_tokens"))
      .select($"lang", $"n_words", $"uni_tokens", $"n_chars",
        $"chars_per_token", $"vocab_used")
      .orderBy($"lang")
  }

  private lazy val q192Sql =
    s"""WITH RECURSIVE $unigramSqlCtes,
       |wl AS (
       | SELECT lang, term AS word, count(*) AS n FROM (
       |  SELECT lang, unnest(string_split(text, ' ')) AS term
       |  FROM documents)
       | WHERE len(term) > 0 GROUP BY lang, term),
       |vu AS (SELECT CAST(count(DISTINCT piece) AS BIGINT) AS vocab_used
       |       FROM (SELECT unnest(string_split(seg, '|')) AS piece
       |             FROM best)),
       |enc AS (SELECT lang, n, m, len(word) AS wlen
       |        FROM wl JOIN best USING (word))
       |SELECT lang, CAST(sum(n) AS BIGINT) AS n_words,
       | CAST(sum(n * m) AS BIGINT) AS uni_tokens,
       | CAST(sum(n * wlen) AS BIGINT) AS n_chars,
       | floor(CAST(sum(n * wlen) AS DOUBLE) / sum(n * m) * 1000000 + 0.5)
       |   / 1000000 AS chars_per_token,
       | (SELECT vocab_used FROM vu) AS vocab_used
       |FROM enc GROUP BY lang ORDER BY lang""".stripMargin

  // q193: TOKENIZER A/B COMPARISON — the readout a tokenizer swap
  // actually decides on: BOTH families trained on the same corpus
  // (q173's BPE chain, q191's unigram chain — each builds its own
  // distinct-word table; only the oracle shares one `w` CTE), their
  // encodings joined per language into the fertility sheet (the
  // `fertility` helper q176 and q192 use): word/char volumes, tokens
  // under each family, chars-per-token, and the per-language
  // winner. Accounting conventions carried verbatim from each
  // family's own rollout gate: BPE token count = symbol count of
  // the final segmentation INCLUDING the '</w>' word-end marker
  // (Sennrich's accounting, q176); unigram = the optimal-
  // segmentation piece count (q192) — the comparison is between
  // the rollout numbers each tokenizer would actually publish.
  //
  // Scale: both chains train on the Heaps-bounded distinct-word
  // table (corpus scanned once for (lang, word) counts); the A/B
  // join is distinct-word-sized, the result |lang|-sized.
  private def q193(s: SparkSession, dir: String): DataFrame =
    tokenizerAb(documents(s, dir))

  /** q193's core over an explicit corpus frame so TokenizerAbSpec can
    * plant a hand-computable one. */
  private[graft] def tokenizerAb(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // the two tokenizer trainings are independent chains — overlap
    // them (guide §2.6; each is internally an ordered merge/EM
    // recursion and stays so)
    val Seq(bseg, ubest) = graft.Scratch.parMap(
      Seq[() => DataFrame](
        () => bpeChain(docs, BpeK)._1,
        () => unigramChain(docs)._3), 2)(_())
    fertility(docs,
        "bpe_tokens" -> bseg.select($"word",
          size($"seg").cast("long").as("bpe_tokens")),
        "uni_tokens" -> ubest.select($"word", $"m".as("uni_tokens")))
      .withColumn("bpe_cpt", charsPerToken($"n_chars", $"bpe_tokens"))
      .withColumn("uni_cpt", charsPerToken($"n_chars", $"uni_tokens"))
      .withColumn("winner",
        when($"uni_tokens" < $"bpe_tokens", lit("unigram"))
          .when($"bpe_tokens" < $"uni_tokens", lit("bpe"))
          .otherwise(lit("tie")))
      .select($"lang", $"n_words", $"n_chars", $"bpe_tokens",
        $"uni_tokens", $"bpe_cpt", $"uni_cpt", $"winner")
      .orderBy($"lang")
  }

  private lazy val q193Sql =
    s"""WITH RECURSIVE $wordSqlCte,
       |${bpeChainSqlCteNoWords(BpeK)},
       |$unigramSqlCtesNoW,
       |wl AS (
       | SELECT lang, term AS word, count(*) AS n FROM (
       |  SELECT lang, unnest(string_split(text, ' ')) AS term
       |  FROM documents)
       | WHERE len(term) > 0 GROUP BY lang, term),
       |enc AS (SELECT lang, n, len(word) AS wlen,
       |         len(sb.seg) AS nb, ub.m AS nu
       |        FROM wl
       |        JOIN seg$BpeK sb USING (word)
       |        JOIN best ub USING (word)),
       |acc AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_words,
       |         CAST(sum(n * wlen) AS BIGINT) AS n_chars,
       |         CAST(sum(n * nb) AS BIGINT) AS bpe_tokens,
       |         CAST(sum(n * nu) AS BIGINT) AS uni_tokens
       |        FROM enc GROUP BY lang)
       |SELECT lang, n_words, n_chars, bpe_tokens, uni_tokens,
       | floor(CAST(n_chars AS DOUBLE) / bpe_tokens * 1000000 + 0.5)
       |   / 1000000 AS bpe_cpt,
       | floor(CAST(n_chars AS DOUBLE) / uni_tokens * 1000000 + 0.5)
       |   / 1000000 AS uni_cpt,
       | CASE WHEN uni_tokens < bpe_tokens THEN 'unigram'
       |      WHEN bpe_tokens < uni_tokens THEN 'bpe'
       |      ELSE 'tie' END AS winner
       |FROM acc ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------
  // q194: UNIMAX BUDGET ALLOCATION (Chung et al. 2023) — the
  // multilingual sampling step q127's proportional mixing can't
  // express: given a global token BUDGET and a per-language EPOCH
  // CAP, water-fill the budget across languages — uniform-first,
  // each language clipped at cap·n_tokens — then select documents
  // greedily (md5 rank, cumulative tokens) up to each language's
  // allocation. Low-resource languages repeat up to the cap;
  // high-resource ones are downsampled to the equal share. The
  // waterfall is exact integer arithmetic: languages ascending by
  // capacity, the binding set is provably a prefix (a language is
  // capped iff cap_i·(langs remaining) fits the remaining budget),
  // the unbound share is one integer division with the remainder
  // distributed +1 to the first (pool mod m) unbound languages —
  // so sum(alloc) = least(budget, total capacity) EXACTLY, a
  // UnimaxSpec invariant.
  //
  // Scale: the waterfall runs over the |languages|-sized rollup
  // (the one intentionally-global window — bounded by language
  // count, never corpus size); doc selection is one per-language
  // rank+cumsum window, the q127/q131 discipline.
  private val UnimaxCap = 2L

  private def q194(s: SparkSession, dir: String): DataFrame =
    unimaxAlloc(documents(s, dir))

  /** q194's core over an explicit corpus frame (UnimaxSpec plants
    * hand-computable waterfalls). Budget = (3·total tokens) div 2 —
    * scale-free, and between one epoch and the cap so both regimes
    * (capped + downsampled) appear on real data. */
  private[graft] def unimaxAlloc(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val (al, keptDocs) = unimaxParts(docs)
    val kept = keptDocs.groupBy($"lang")
      .agg(count(lit(1)).as("kept_docs"), sum($"n_tok").as("kept_tokens"))
    al.join(kept, Seq("lang"), "left")
      .select($"lang", $"n_docs", $"n_tokens", $"capacity", $"alloc",
        ($"alloc" === $"capacity").as("at_cap"),
        expr("(alloc * 1000000) div n_tokens").as("epochs6"),
        coalesce($"kept_docs", lit(0L)).as("kept_docs"),
        coalesce($"kept_tokens", lit(0L)).as("kept_tokens"))
      .orderBy($"lang")
  }

  /** (al, keptDocs) of the UNIMAX chain: al = the per-language
    * waterfall sheet; keptDocs = (lang, doc_id, n_tok), the greedy
    * selection — q197's release pipeline consumes the doc set. */
  private[graft] def unimaxParts(docs: DataFrame)
      : (DataFrame, DataFrame) = {
    val s = docs.sparkSession
    import s.implicits._
    unimaxPartsCounts(docs.select($"lang", $"doc_id",
      expr("CAST(size(filter(split(text, ' '), w -> length(w) > 0)) AS LONG)")
        .as("n_tok")))
  }

  /** the UNIMAX chain over a pre-counted (lang, doc_id, n_tok) frame
    * (nonzero-length tokens) — the release chain feeds its scan-time
    * digest so the selection window never shuffles text.
    *
    * The greedy SELECTION cumsum is computed HIERARCHICALLY (q131's
    * bucketed two-level prefix sum): a flat
    * `sum(n_tok) over (partition by lang order by md5-rank)` makes
    * each language's ENTIRE digest stream sort in ONE task — with a
    * handful of languages at 100 TB, that is the single-task-sort
    * scale killer (the shape q168's global cumsum had before it was
    * decomposed). Instead: bucket by the leading hex char of the md5
    * order key (the bucket prefix respects the global (md5, doc_id)
    * order by construction), run the inclusive cumsum per
    * (lang, bucket) — a bounded in-partition sort — and rebuild the
    * global running total by adding each bucket's preceding-buckets
    * token total (a 16-rows-per-lang rollup, broadcast back). The
    * offset decomposition is exact integer arithmetic, so the greedy
    * cut — and every gate hash downstream (q194/q197/q198/q199/q200)
    * — is bit-identical to the flat form; UnimaxSpec pins
    * hierarchical ≡ flat per doc, ShardPackSpec-style. The flat
    * spelling survives as the spec's reference. */
  private[graft] def unimaxPartsCounts(dt: DataFrame,
      hierarchical: Boolean = true): (DataFrame, DataFrame) = {
    val s = dt.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val pl = dt.groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("n_tokens"))
      .withColumn("capacity", $"n_tokens" * lit(UnimaxCap))
    val tot = pl.agg(expr("(sum(n_tokens) * 3) div 2").as("budget"),
      count(lit(1)).as("nl"))
    val w = Window.orderBy($"capacity", $"lang")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val rk = pl.crossJoin(broadcast(tot))
      .withColumn("i",
        row_number().over(Window.orderBy($"capacity", $"lang")).cast("long"))
      .withColumn("cumc", sum($"capacity").over(w))
      .withColumn("bind",
        $"capacity" * ($"nl" - $"i" + 1) <= $"budget" - ($"cumc" - $"capacity"))
    val kv = rk.agg(
      coalesce(min(when(!$"bind", $"i")) - 1, max($"i")).as("k"))
    val rk2 = rk.crossJoin(broadcast(kv))
    val ck = rk2.agg(
      coalesce(max(when($"i" <= $"k", $"cumc")), lit(0L)).as("c_k"))
    val al = rk2.crossJoin(broadcast(ck))
      .withColumn("alloc", when($"i" <= $"k", $"capacity").otherwise(expr(
        """(budget - c_k) div (nl - k) +
          | (CASE WHEN i - k <= (budget - c_k) % (nl - k)
          |  THEN 1 ELSE 0 END)""".stripMargin)))
    val sel =
      if (!hierarchical) {
        val sw = Window.partitionBy($"lang")
          .orderBy(md5(concat(lit("unimax:"), $"doc_id")), $"doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        dt.withColumn("cum", sum($"n_tok").over(sw))
      } else {
        // materialize the slim keyed digest ONCE (the packShards
        // barrier): the local-cumsum and bucket-offset branches both
        // consume it
        val keyed = dt
          .withColumn("ukey", md5(concat(lit("unimax:"), $"doc_id")))
          .withColumn("bkt", substring($"ukey", 1, 1))
          .localCheckpoint(true)
        val wLocal = Window.partitionBy($"lang", $"bkt")
          .orderBy($"ukey", $"doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val local = keyed.withColumn("lcum", sum($"n_tok").over(wLocal))
        // 16 rows per lang: bucket token totals → exclusive prefix sum
        val offs = keyed.groupBy($"lang", $"bkt")
          .agg(sum($"n_tok").as("btok"))
          .withColumn("boff",
            coalesce(sum($"btok").over(Window.partitionBy($"lang")
              .orderBy($"bkt").rowsBetween(
                Window.unboundedPreceding, -1)), lit(0L)))
          .select($"lang", $"bkt", $"boff")
        local.join(broadcast(offs), Seq("lang", "bkt"))
          .withColumn("cum", $"boff" + $"lcum")
      }
    val keptDocs = sel
      .join(broadcast(al.select($"lang", $"alloc")), "lang")
      .filter($"cum" <= $"alloc")
      .select($"lang", $"doc_id", $"n_tok")
    (al, keptDocs)
  }

  /** the UNIMAX chain as oracle CTEs over an arbitrary
    * (doc_id, lang, text) source — ends with dt, al, sel in scope
    * (sel carries doc_id so q197's release pipeline can take the
    * kept SET, not just the counts). */
  private def unimaxSqlCtes(src: String): String =
    s"""dt AS (
       | SELECT lang, doc_id,
       |  CAST(len(list_filter(string_split(text, ' '), w -> len(w) > 0))
       |    AS BIGINT) AS n_tok
       | FROM $src),
       |pl AS (SELECT lang, count(*) AS n_docs,
       |        CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       |        CAST(sum(n_tok) * $UnimaxCap AS BIGINT) AS capacity
       |       FROM dt GROUP BY lang),
       |tt AS (SELECT CAST(sum(n_tokens) * 3 // 2 AS BIGINT) AS budget,
       |        CAST(count(*) AS BIGINT) AS nl FROM pl),
       |rk AS (SELECT pl.*, budget, nl,
       |        CAST(row_number() OVER (ORDER BY capacity, lang)
       |          AS BIGINT) AS i,
       |        CAST(sum(capacity) OVER (ORDER BY capacity, lang
       |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumc
       |       FROM pl, tt),
       |bd AS (SELECT rk.*,
       |        (capacity * (nl - i + 1) <= budget - (cumc - capacity))
       |          AS bind
       |       FROM rk),
       |kv AS (SELECT coalesce(min(CASE WHEN NOT bind THEN i END) - 1,
       |          max(i)) AS k FROM bd),
       |ck AS (SELECT coalesce(max(CASE WHEN i <= k THEN cumc END), 0)
       |          AS c_k FROM bd, kv),
       |al AS (SELECT bd.*, k, c_k,
       |        CASE WHEN i <= k THEN capacity
       |         ELSE (budget - c_k) // (nl - k) +
       |          (CASE WHEN i - k <= (budget - c_k) % (nl - k)
       |           THEN 1 ELSE 0 END) END AS alloc
       |       FROM bd, kv, ck),
       |sel AS (SELECT lang, doc_id, n_tok,
       |         CAST(sum(n_tok) OVER (PARTITION BY lang
       |          ORDER BY md5('unimax:' || CAST(doc_id AS VARCHAR)), doc_id
       |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
       |        FROM dt)""".stripMargin

  private lazy val q194Sql =
    s"""WITH ${unimaxSqlCtes("documents")},
       |kept AS (SELECT sel.lang, count(*) AS kept_docs,
       |          CAST(sum(n_tok) AS BIGINT) AS kept_tokens
       |         FROM sel JOIN al USING (lang)
       |         WHERE cum <= alloc GROUP BY sel.lang)
       |SELECT al.lang, n_docs, n_tokens, capacity,
       | CAST(alloc AS BIGINT) AS alloc,
       | (alloc = capacity) AS at_cap,
       | CAST((alloc * 1000000) // n_tokens AS BIGINT) AS epochs6,
       | CAST(coalesce(kept_docs, 0) AS BIGINT) AS kept_docs,
       | CAST(coalesce(kept_tokens, 0) AS BIGINT) AS kept_tokens
       |FROM al LEFT JOIN kept USING (lang)
       |ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------
  // q197: CORPUS RELEASE MANIFEST — the one query that ships a
  // training corpus: benchmark split (the one md5 family every
  // decontamination gate shares) → EXACT 8-gram decontamination
  // screen (q189's attribution join as a semijoin: any train doc
  // sharing one exact 8-gram with a bench doc is dropped) →
  // exact-dup keep-first (md5 fingerprint, min doc_id — q117's
  // spelling) → UNIMAX budget selection (q194's waterfall over the
  // survivors) → fixed-budget shard packing (q131's hierarchical
  // next-fit) → the per-(lang, shard) release manifest with doc
  // and in-shard-layout checksums (q139's discipline: the checksums
  // pin EVERY doc's membership, order, and offset, so the gate
  // certifies the whole pipeline composition, not just counts).
  //
  // Scale: every stage is a proven-posture reuse — the screen's
  // n-gram sets are row-local with the bench side broadcast, the
  // dup window is keyed by fingerprint, the waterfall is
  // |langs|-sized, and the packing prefix-sum is hierarchical.
  private def q197(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    releaseManifest(documents(s, dir))
  }

  /** the shared release-chain intermediates — (d = bench-split
    * corpus, contaminated train ids, ranked = clean train docs with
    * their dup rank, uniq = the rank-1 survivors, keptIds = the
    * UNIMAX selection over uniq). q197's manifest and q198's funnel
    * consume the SAME chain, so the two gates cannot drift. */
  private[graft] def releaseStages(docs: DataFrame)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    val s = docs.sparkSession
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val d = DedupQueries.BloomScreen.withBenchSplit(docs)
    val train = d.filter($"hx" >= DedupQueries.BloomScreen.BenchMax)
      .select($"doc_id", $"lang", $"text")
    val bench = d.filter($"hx" < DedupQueries.BloomScreen.BenchMax)
      .select($"doc_id", $"text")
    // materialize each expensive stage ONCE: the attribution join is
    // consumed by both the anti-join and the funnel's disposition
    // column (a slim id-set checkpoint), and the dup-rank window by
    // uniq AND the funnel (one digest-size checkpoint; uniq stays a
    // lazy filter over it) — without these, q198's three join
    // branches each re-ran the 8-gram attribution (measured 9.7 s →
    // ~q197-parity at sf0.1)
    val contaminated = DedupQueries
      .ngramAttribution(train.select($"doc_id", $"text"), bench,
        DedupQueries.AttrW)
      .select($"doc_id").distinct()
      .localCheckpoint(true)
    // the q175 discipline applied to the whole chain: fingerprint and
    // token-count text AT THE SCAN (row-local digest projection), so
    // the dup-rank window, the UNIMAX selection, and the packing all
    // shuffle ~50-byte digests — no exchange after this line carries
    // the corpus (PlanShapeSpec locks q197/q198/q200). n_tok = plain
    // split (the packing count); n_tok_u = nonzero-length tokens (the
    // UNIMAX count) — both spellings mirrored in the oracle CTEs.
    val digest = train.select($"doc_id", $"lang",
      md5($"text").as("fp"),
      size(split($"text", " ")).cast("long").as("n_tok"),
      expr("CAST(size(filter(split(text, ' '), w -> length(w) > 0)) AS LONG)")
        .as("n_tok_u"))
    val cleanDigest = digest.join(contaminated, Seq("doc_id"), "left_anti")
    val wFp = Window.partitionBy($"fp").orderBy($"doc_id")
    val ranked = cleanDigest
      .withColumn("rk", row_number().over(wFp))
      .localCheckpoint(true)
    val uniq = ranked.filter($"rk" === 1)
      .select($"doc_id", $"lang", $"fp", $"n_tok", $"n_tok_u")
    val (_, keptIds) = unimaxPartsCounts(
      uniq.select($"lang", $"doc_id", $"n_tok_u".as("n_tok")))
    (d, contaminated, ranked, uniq, keptIds)
  }

  /** the per-doc released set (lang, doc_id, n_tok, shard,
    * cum_before) — factored so ReleaseSpec can audit membership
    * directly (no doc in the bench split, no duplicate fingerprint,
    * no bench 8-gram overlap). */
  private[graft] def releaseDocs(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val (_, _, _, uniq, keptIds) = releaseStages(docs)
    packShardsOfCounts(
      uniq.join(keptIds.select($"doc_id"), "doc_id")
        .select($"lang", $"doc_id", $"n_tok"),
      hierarchical = true)
  }

  /** the per-(lang, shard) manifest rollup over a released-docs frame
    * (lang, doc_id, n_tok, shard, cum_before) — factored so q201's
    * lineage gate can roll up the FROZEN release (the cached sidecar
    * doc set) without re-running the chain. */
  private[graft] def manifestOf(relDocs: DataFrame): DataFrame = {
    val s = relDocs.sparkSession
    import s.implicits._
    relDocs
      .groupBy($"lang", $"shard")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("n_tokens"),
        sum($"doc_id").as("docs_checksum"),
        sum(($"cum_before" - $"shard" * lit(PackB)) * $"doc_id")
          .as("layout_checksum"))
      .orderBy($"lang", $"shard")
  }

  private[graft] def releaseManifest(docs: DataFrame): DataFrame =
    manifestOf(releaseDocs(docs))

  /** the release chain as oracle CTEs over an arbitrary
    * (doc_id, lang, text) source — rd (split + bench hex), cont
    * (contaminated train ids), rkd (clean train docs with dup rank),
    * uniq (the rank-1 survivors), the UNIMAX chain over uniq, and kd
    * (the kept ids) — q197Sql, q198Sql, and q199's streaming-tail
    * oracle compose over ONE spelling. */
  private[graft] def releaseSqlCtes(src: String = "documents"): String =
    s"""rd AS (
       | SELECT doc_id, lang, text, string_split(text, ' ') AS t,
       |  substr(md5('bench:' || CAST(doc_id AS VARCHAR)), 1, 2) AS hx
       | FROM $src),
       |g AS (SELECT DISTINCT doc_id, hx,
       |       unnest(${DedupQueries.ngramSql(DedupQueries.AttrW)}) AS ng
       |      FROM rd),
       |cont AS (SELECT DISTINCT c.doc_id FROM g c JOIN g b USING (ng)
       |         WHERE b.hx < '${DedupQueries.BloomScreen.BenchMax}'
       |          AND c.hx >= '${DedupQueries.BloomScreen.BenchMax}'),
       |clean AS (SELECT doc_id, lang, text FROM rd
       |          WHERE hx >= '${DedupQueries.BloomScreen.BenchMax}'
       |           AND doc_id NOT IN (SELECT doc_id FROM cont)),
       |rkd AS (SELECT doc_id, lang, text,
       |         row_number() OVER (PARTITION BY md5(text)
       |          ORDER BY doc_id) AS drk
       |        FROM clean),
       |uniq AS (SELECT doc_id, lang, text FROM rkd WHERE drk = 1),
       |${unimaxSqlCtes("uniq")},
       |kd AS (SELECT sel.doc_id FROM sel JOIN al USING (lang)
       |       WHERE cum <= alloc)""".stripMargin

  /** the FULL q197 manifest as one self-contained WITH…SELECT over an
    * arbitrary (doc_id, lang, text) source — nestable inside a
    * parenthesized subquery (the q200Sql trick), so q201's lineage
    * oracle can run the chain twice (v1 over `base`, v2 over
    * `documents`) without CTE-name collisions. */
  private[graft] def releaseManifestSql(src: String = "documents"): String =
    s"""WITH ${releaseSqlCtes(src)},
       |pd AS (SELECT u.doc_id, u.lang,
       |        CAST(len(string_split(u.text, ' ')) AS BIGINT) AS p_tok
       |       FROM uniq u JOIN kd USING (doc_id)),
       |o AS (SELECT doc_id, lang, p_tok,
       |       coalesce(sum(p_tok) OVER (PARTITION BY lang
       |         ORDER BY md5(concat('pack:', CAST(doc_id AS VARCHAR))),
       |          doc_id
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |         AS cum_before
       |      FROM pd),
       |sh AS (SELECT doc_id, lang, p_tok, cum_before,
       |        cum_before // $PackB AS shard FROM o)
       |SELECT lang, CAST(shard AS BIGINT) AS shard,
       | CAST(count(*) AS BIGINT) AS n_docs,
       | CAST(sum(p_tok) AS BIGINT) AS n_tokens,
       | CAST(sum(doc_id) AS BIGINT) AS docs_checksum,
       | CAST(sum((cum_before - shard * $PackB) * doc_id) AS BIGINT)
       |   AS layout_checksum
       |FROM sh GROUP BY lang, shard ORDER BY lang, shard""".stripMargin

  private lazy val q197Sql = releaseManifestSql()

  // ---------------------------------------------------------------
  // q198: RELEASE FUNNEL DATASHEET — the per-language disposition
  // accounting a corpus release publishes alongside q197's manifest:
  // every source doc lands in exactly one stage (bench | contaminated
  // | duplicate | over_budget | released), with doc and token volumes
  // per (lang, stage). Conservation (stages partition the corpus) is
  // structural — the CASE is exhaustive over one row per doc — and
  // ReleaseSpec re-asserts it against raw totals plus agreement of
  // the released stage with the manifest rollup.
  //
  // Scale: the chain is q197's (shared via releaseStages, one
  // spelling); the disposition frame is slim — (doc_id, lang, hx,
  // n_tok) left-joined against three bounded id sets (contaminated,
  // dup ranks, kept ids), so TEXT never rides any funnel join.
  private def q198(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    releaseFunnel(documents(s, dir))
  }

  private[graft] def releaseFunnel(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val (d, contaminated, ranked, _, keptIds) = releaseStages(docs)
    val base = d.select($"doc_id", $"lang", $"hx",
      size(toks($"text")).cast("long").as("n_tok"))
    base
      .join(contaminated.withColumn("is_cont", lit(true)),
        Seq("doc_id"), "left")
      .join(ranked.select($"doc_id", $"rk"), Seq("doc_id"), "left")
      .join(keptIds.select($"doc_id").withColumn("is_kept", lit(true)),
        Seq("doc_id"), "left")
      .withColumn("stage",
        when($"hx" < DedupQueries.BloomScreen.BenchMax, lit("bench"))
          .when($"is_cont", lit("contaminated"))
          .when($"rk" > 1, lit("duplicate"))
          .when($"is_kept".isNull, lit("over_budget"))
          .otherwise(lit("released")))
      .groupBy($"lang", $"stage")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("n_tokens"))
      .orderBy($"lang", $"stage")
  }

  private lazy val q198Sql =
    s"""WITH ${releaseSqlCtes()},
       |disp AS (SELECT lang, CAST(len(t) AS BIGINT) AS n_tok,
       |  CASE WHEN hx < '${DedupQueries.BloomScreen.BenchMax}'
       |        THEN 'bench'
       |       WHEN doc_id IN (SELECT doc_id FROM cont)
       |        THEN 'contaminated'
       |       WHEN doc_id IN (SELECT doc_id FROM rkd WHERE drk > 1)
       |        THEN 'duplicate'
       |       WHEN doc_id NOT IN (SELECT doc_id FROM kd)
       |        THEN 'over_budget'
       |       ELSE 'released' END AS stage
       | FROM rd)
       |SELECT lang, stage, CAST(count(*) AS BIGINT) AS n_docs,
       | CAST(sum(n_tok) AS BIGINT) AS n_tokens
       |FROM disp GROUP BY lang, stage ORDER BY lang, stage""".stripMargin

  // ---------------------------------------------------------------
  // q209: SOFT-EM UNIGRAM E-STEP (expected counts) — the fidelity gap
  // the round-14 verdict names: q191/q195/q202 re-estimate from the
  // single BEST segmentation per word (hard EM / Viterbi counts);
  // SentencePiece's E-step (Kudo 2018 §3.2, reference tokenizer
  // training) accumulates EXPECTED piece frequencies over ALL
  // segmentations — forward-backward on the segmentation lattice.
  // Two rounds ship: round 1 over the seed statistics, round 2 over
  // Laplace-smoothed round-1 expectations ((e6+1)/(t6+|V|) — the
  // smoothing keeps every lattice edge positive without a sentinel).
  // Viterbi remains the serving/encode path (q192) and the gate twin.
  //
  // CROSS-ENGINE DETERMINISM BY CONSTRUCTION, not by rounding hope:
  // the lattice edge weights are RATIONAL — p(piece) = f/t, one IEEE
  // division of exactly-representable integers — and the DP uses only
  // +, ×, ÷ in a pinned evaluation order (inner sums k = 1..4
  // ascending, left-associated; the occupancy chain left-associated),
  // so every intermediate double is bit-identical in Spark and DuckDB:
  // NO transcendentals anywhere (the Viterbi family's ln lives only in
  // its display costs). Expected counts publish as exact integers:
  // e6 = Σ floor(α(st−1)·p·β(en)/Z · wc · 1e6 + ½) per lattice edge,
  // with out-of-vocab edges at a fixed 1e-12 and their mass pooled
  // under '<unk>'. The oracle mirrors the DP with recursive CTEs
  // carrying the α/β prefix lists — same unrolled k-order, same
  // association — so the gate pins the forward-backward itself.
  //
  // Scale: row-local O(len · UniMaxPiece) folds over the Heaps-bounded
  // distinct-word table (cheaper than the Viterbi ENUMERATION it sits
  // beside); no guard needed — the DP is bounded by construction at
  // any word length. The only exchanges are the seed groupBys q191
  // already pays and a |pieces|-sized aggregation of integer counts.
  private val UniUnkP = "CAST(1e-12 AS DOUBLE)"

  private def uniEdgeP(st: String, k: String): String =
    s"coalesce(try_element_at(pm, substring(word, $st, $k)), $UniUnkP)"

  /** forward list: element_at(al, i + 1) = α_i; α_0 = 1,
    * α_i = Σ_{k=1..min(4,i)} α_{i−k} · p(word[i−k+1 .. i]). */
  private[graft] def uniAlphaExpr: String =
    s"""aggregate(
       |  sequence(1, char_length(word)),
       |  array(CAST(1.0 AS DOUBLE)),
       |  (acc, i) -> concat(acc, array(
       |    aggregate(sequence(1, least($UniMaxPiece, i)),
       |      CAST(0.0 AS DOUBLE),
       |      (s, k) -> s + element_at(acc, i - k + 1) *
       |        ${uniEdgeP("i - k + 1", "k")}))))""".stripMargin

  /** backward list: element_at(bl, L − i + 1) = β_i; β_L = 1,
    * β_i = Σ_{k=1..min(4,L−i)} p(word[i+1 .. i+k]) · β_{i+k}. */
  private[graft] def uniBetaExpr: String =
    s"""aggregate(
       |  sequence(char_length(word) - 1, 0, -1),
       |  array(CAST(1.0 AS DOUBLE)),
       |  (acc, i) -> concat(acc, array(
       |    aggregate(
       |      sequence(1, least($UniMaxPiece, char_length(word) - i)),
       |      CAST(0.0 AS DOUBLE),
       |      (s, k) -> s + ${uniEdgeP("i + 1", "k")} *
       |        element_at(acc, char_length(word) - (i + k) + 1)))))"""
      .stripMargin

  private def uniEdgeStructsExpr: String =
    s"""flatten(transform(sequence(1, char_length(word)),
       |  st -> transform(
       |    sequence(st, least(char_length(word), st + ${UniMaxPiece - 1})),
       |    en -> named_struct('st', st, 'en', en))))""".stripMargin

  /** one soft E-step over vocabP = (piece, p): returns
    * (piece | '<unk>', e6) — expected counts in exact micro-units. */
  private[graft] def uniSoftEStep(words: DataFrame, vocabP: DataFrame)
      : DataFrame = {
    val s = words.sparkSession
    import s.implicits._
    val pm = uniPieceMap(words, vocabP, "p")
    // LEFT join + empty-map fallback: a word sharing NO substring with
    // the vocab still has a lattice (all edges at the unk weight) —
    // unreachable in the gates (vocab always ⊇ all singles) but the
    // honest semantics, and the seeded-random spec pin exercises it
    val contrib = words.join(pm, Seq("word"), "left")
      .withColumn("pm",
        coalesce($"pm", expr("CAST(map() AS MAP<STRING, DOUBLE>)")))
      .withColumn("al", expr(uniAlphaExpr))
      .withColumn("bl", expr(uniBetaExpr))
      .select($"word", $"wc", $"pm", $"al", $"bl",
        explode(expr(uniEdgeStructsExpr)).as("e"))
      .withColumn("piece",
        expr("substring(word, e.st, e.en - e.st + 1)"))
      .withColumn("c6", expr(
        s"""CAST(floor(element_at(al, e.st) *
           | coalesce(try_element_at(pm, piece), $UniUnkP) *
           | element_at(bl, char_length(word) - e.en + 1) /
           | element_at(al, char_length(word) + 1) *
           | CAST(wc AS DOUBLE) * 1e6 + CAST(0.5 AS DOUBLE))
           |AS BIGINT)""".stripMargin))
      .groupBy($"piece").agg(sum($"c6").as("e6raw"))
    contrib
      .join(broadcast(vocabP.select($"piece", lit(1).as("inv"))),
        Seq("piece"), "left")
      .select(when($"inv".isNotNull, $"piece").otherwise("<unk>")
        .as("piece"), $"e6raw")
      .groupBy($"piece").agg(sum($"e6raw").as("e6"))
  }

  /** the soft seed: vocab0's (piece, p = f0 / Σ f0). */
  private def uniSoftSeed(vocab0: DataFrame): DataFrame =
    vocab0.crossJoin(broadcast(vocab0.agg(sum(col("f0")).as("t0"))))
      .select(col("piece"), (col("f0").cast("double") / col("t0")).as("p"))

  /** the Laplace step: g's (piece, e6) → (piece, p = (e6 + 1) /
    * (Σ e6 + |g|)). */
  private def uniLaplace(g: DataFrame): DataFrame =
    g.crossJoin(broadcast(
        g.agg(sum(col("e6")).as("t"), count(lit(1)).as("nv"))))
      .select(col("piece"),
        ((col("e6") + 1).cast("double") / (col("t") + col("nv"))).as("p"))

  /** the two gated soft-EM rounds over an explicit corpus (UnigramSpec
    * plants corpora where soft and hard EM provably diverge). */
  private[graft] def uniSoftRounds(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val (words, vocab0) = uniSeed(docs)
    val g1 = uniSoftEStep(words, uniSoftSeed(vocab0)).localCheckpoint(true)
    val g2 = uniSoftEStep(words, uniLaplace(g1.filter($"piece" =!= "<unk>")))
    g1.select(lit(1L).as("round"), $"piece", $"e6")
      .unionByName(g2.select(lit(2L).as("round"), $"piece", $"e6"))
      .orderBy($"round", $"piece")
  }

  private def q209(s: SparkSession, dir: String): DataFrame =
    uniSoftRounds(documents(s, dir))

  /** the soft E-step as oracle CTEs for round `r` over prob CTE `vp`:
    * recursive α/β list-carrying DP with the SAME unrolled k-order
    * and association as the Spark folds. Requires `w` and `sed` in
    * scope; ends with g$r = (piece | '<unk>', e6). */
  private def uniSoftStepSql(r: Int, vp: String): String = {
    val M = UniMaxPiece
    // the forward/backward recursions carry a POSITIONAL per-word
    // edge-probability list (epl[(en-1)·M + k] = p of the k-char
    // piece ending at en; invalid slots hold a guarded 0) in the
    // recursion seed itself, so the recursive steps are pure list
    // indexing — no correlated subqueries (DuckDB mis-evaluates
    // correlated scalar subqueries against MATERIALIZED CTEs inside
    // recursive CTEs: nulls/garbage observed under several
    // materialization combinations), and each round's chain
    // evaluates ONCE behind the materialized boundaries.
    def faTerm(k: Int): String = {
      val al = s"al[i + ${2 - k}]"
      s"""(CASE WHEN i + 1 >= $k THEN $al * epl[i * $M + $k]
         |    ELSE CAST(0 AS DOUBLE) END)""".stripMargin
    }
    def fbTerm(k: Int): String = {
      val bl = s"bl[ln - i + ${2 - k}]"
      s"""(CASE WHEN ln - i + 1 >= $k
         |    THEN epl[(i + ${k - 2}) * $M + $k] * $bl
         |    ELSE CAST(0 AS DOUBLE) END)""".stripMargin
    }
    s"""ep$r AS (SELECT e.word, e.wc, e.st, e.en, e.piece,
       |         coalesce(v.p, CAST(1e-12 AS DOUBLE)) AS p
       |        FROM sed e LEFT JOIN $vp v USING (piece)),
       |epw$r AS MATERIALIZED (
       | SELECT g.word, any_value(g.ln) AS ln,
       |  list(CASE WHEN g.piece IS NULL THEN CAST(0 AS DOUBLE)
       |        ELSE coalesce(v.p, CAST(1e-12 AS DOUBLE)) END
       |       ORDER BY g.en, g.k) AS epl
       | FROM (SELECT we.word, we.ln, we.en, ks.k,
       |        CASE WHEN we.en - ks.k + 1 >= 1
       |         THEN substr(we.word, CAST(we.en - ks.k + 1 AS INT),
       |           CAST(ks.k AS INT)) END AS piece
       |       FROM (SELECT word, len(word) AS ln,
       |              unnest(generate_series(1, len(word))) AS en
       |             FROM w) we
       |       CROSS JOIN (SELECT unnest(generate_series(1, $M)) AS k)
       |        ks) g
       | LEFT JOIN $vp v ON g.piece = v.piece
       | GROUP BY g.word),
       |fa$r AS (
       | SELECT word, ln, epl, 0 AS i, [CAST(1 AS DOUBLE)] AS al
       | FROM epw$r
       | UNION ALL
       | SELECT word, ln, epl, i + 1, list_append(al,
       |   ${(1 to M).map(faTerm).mkString("\n   + ")})
       | FROM fa$r WHERE i < ln),
       |fb$r AS (
       | SELECT word, ln, epl, ln AS i, [CAST(1 AS DOUBLE)] AS bl
       | FROM epw$r
       | UNION ALL
       | SELECT word, ln, epl, i - 1, list_append(bl,
       |   ${(1 to M).map(fbTerm).mkString("\n   + ")})
       | FROM fb$r WHERE i > 0),
       |fz$r AS MATERIALIZED (SELECT word, al FROM fa$r WHERE i = ln),
       |bz$r AS MATERIALIZED (SELECT word, bl FROM fb$r WHERE i = 0),
       |oc$r AS MATERIALIZED (SELECT e.piece,
       |         CAST(floor(fz$r.al[e.st] * e.p *
       |           bz$r.bl[len(e.word) - e.en + 1] /
       |           fz$r.al[len(e.word) + 1] *
       |           CAST(e.wc AS DOUBLE) * 1e6 + CAST(0.5 AS DOUBLE))
       |          AS BIGINT) AS c6
       |        FROM ep$r e JOIN fz$r ON e.word = fz$r.word
       |         JOIN bz$r ON e.word = bz$r.word),
       |ag$r AS MATERIALIZED (SELECT piece, CAST(sum(c6) AS BIGINT) AS e6
       |        FROM oc$r GROUP BY piece),
       |g$r AS MATERIALIZED (SELECT CASE WHEN piece IN (SELECT piece FROM $vp)
       |          THEN piece ELSE '<unk>' END AS piece,
       |         CAST(sum(e6) AS BIGINT) AS e6
       |        FROM ag$r GROUP BY 1)""".stripMargin
  }

  // q210: SOFT-EM TO-VOCAB-TARGET — q202's training loop with q209's
  // E-step: per round, expected counts (not Viterbi counts) drive the
  // prune — singles always survive, multi-char pieces keep the top
  // uniKeepK(target, r) by (e6 DESC, piece) among e6 > 0 — and the
  // next round's edge probabilities are the Laplace-smoothed kept
  // expectations. THE point of soft EM in Kudo's loop is gated here:
  // a piece the Viterbi never uses (hard f1 = 0 → pruned by q202)
  // keeps fractional mass from runner-up segmentations and can
  // survive the soft prune (UnigramSpec plants exactly that corpus).
  // Same compile-time round bound as q202 (geometric schedule), same
  // bit-determinism as q209 (rational probabilities, pinned order,
  // integer micro-unit counts).
  private[graft] def uniSoftToTarget(docs: DataFrame, target: Int)
      : DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val (words, vocab0) = uniSeed(docs)
    var vp = uniSoftSeed(vocab0)
    val sheets = Seq.newBuilder[DataFrame]
    for (r <- 1 to uniPruneRounds(target)) {
      val g = uniSoftEStep(words, vp).filter($"piece" =!= "<unk>")
      val keep = uniPrune(g, "e6", Some(uniKeepK(target, r)))
        .localCheckpoint(true)
      sheets += keep.select(lit(r.toLong).as("round"), $"piece", $"e6")
      vp = uniLaplace(keep)
    }
    sheets.result().reduce(_.unionByName(_)).orderBy($"round", $"piece")
  }

  private def q210(s: SparkSession, dir: String): DataFrame =
    uniSoftToTarget(documents(s, dir), UniTarget)

  private lazy val q210Sql = {
    val rounds = uniPruneRounds(UniTarget)
    val rcte = (1 to rounds).map { r =>
      val vp = if (r == 1) "vpt1" else s"vpt$r"
      s"""${uniSoftStepSql(r, vp)},
         |k$r AS MATERIALIZED (SELECT piece, e6 FROM g$r
         |        WHERE len(piece) = 1 AND piece <> '<unk>'
         |        UNION ALL
         |        SELECT piece, e6 FROM (
         |         SELECT piece, e6 FROM g$r
         |         WHERE len(piece) > 1 AND piece <> '<unk>' AND e6 > 0
         |         ORDER BY e6 DESC, piece
         |         LIMIT ${uniKeepK(UniTarget, r)})),
         |tt$r AS (SELECT CAST(sum(e6) AS BIGINT) AS t,
         |          CAST(count(*) AS BIGINT) AS nv FROM k$r),
         |vpt${r + 1} AS MATERIALIZED (SELECT piece, CAST(e6 + 1 AS DOUBLE) / (t + nv)
         |           AS p
         |          FROM k$r, tt$r)""".stripMargin
    }.mkString(",\n")
    val union = (1 to rounds)
      .map(r => s"SELECT CAST($r AS BIGINT) AS round, piece, e6 FROM k$r")
      .mkString(" UNION ALL ")
    s"""WITH RECURSIVE $unigramSqlCtes,
       |sed AS (SELECT word, wc, st, en,
       |         substr(word, CAST(st AS INT), CAST(en - st + 1 AS INT))
       |           AS piece
       |        FROM (SELECT word, wc, st,
       |               unnest(generate_series(st,
       |                 least(len(word), st + ${UniMaxPiece - 1}))) AS en
       |              FROM (SELECT word, wc,
       |                     unnest(generate_series(1, len(word))) AS st
       |                    FROM w))),
       |vpt1 AS (SELECT piece, CAST(f0 AS DOUBLE) / t0 AS p
       |        FROM v0, tot),
       |$rcte
       |SELECT * FROM ($union) ORDER BY round, piece""".stripMargin
  }

  private lazy val q209Sql =
    s"""WITH RECURSIVE $unigramSqlCtes,
       |sed AS (SELECT word, wc, st, en,
       |         substr(word, CAST(st AS INT), CAST(en - st + 1 AS INT))
       |           AS piece
       |        FROM (SELECT word, wc, st,
       |               unnest(generate_series(st,
       |                 least(len(word), st + ${UniMaxPiece - 1}))) AS en
       |              FROM (SELECT word, wc,
       |                     unnest(generate_series(1, len(word))) AS st
       |                    FROM w))),
       |vp1 AS (SELECT piece, CAST(f0 AS DOUBLE) / t0 AS p
       |        FROM v0, tot),
       |${uniSoftStepSql(1, "vp1")},
       |t61 AS (SELECT CAST(sum(e6) AS BIGINT) AS t,
       |         CAST(count(*) AS BIGINT) AS nv
       |        FROM g1 WHERE piece <> '<unk>'),
       |vp2 AS (SELECT piece, CAST(e6 + 1 AS DOUBLE) / (t + nv) AS p
       |        FROM g1, t61 WHERE piece <> '<unk>'),
       |${uniSoftStepSql(2, "vp2")}
       |SELECT * FROM (
       | SELECT CAST(1 AS BIGINT) AS round, piece, e6 FROM g1
       | UNION ALL
       | SELECT CAST(2 AS BIGINT) AS round, piece, e6 FROM g2)
       |ORDER BY round, piece""".stripMargin

  val queries: Seq[Q] = Seq(
    Q("q210_unigram_soft_target", q210, Some(q210Sql),
      "soft-EM to-vocab-target loop: expected-count-driven pruning down the geometric schedule — Viterbi-unused pieces can survive on fractional mass (the point of soft EM), gated per round in exact micro-units"),
    Q("q209_unigram_soft_em", q209, Some(q209Sql),
      "soft-EM unigram E-step: lattice forward-backward expected counts in exact micro-units (rational edge probabilities, zero transcendentals), two rounds with Laplace-smoothed re-estimation; '<unk>' pools out-of-vocab mass"),
    Q("q198_release_funnel", q198, Some(q198Sql),
      "release funnel datasheet: per-(lang, stage) doc/token disposition — bench | contaminated | duplicate | over_budget | released"),
    Q("q197_release_manifest", q197, Some(q197Sql),
      "corpus release manifest: exact 8-gram decontamination -> dup keep-first -> UNIMAX selection -> shard packing, checksummed per (lang, shard)"),
    Q("q194_unimax_alloc", q194, Some(q194Sql),
      "UNIMAX multilingual budget allocation: epoch-capped integer water-fill + greedy per-language doc selection"),
    Q("q193_tokenizer_ab", q193, Some(q193Sql),
      "tokenizer A/B: BPE vs unigram-LM trained on the same corpus, per-language fertility/compression sheet + winner"),
    Q("q195_unigram_prune", q195, Some(q195Sql),
      "unigram EM iteration + vocab pruning: unused multi-char pieces dropped, costs re-estimated from Viterbi counts, exact second E-step"),
    Q("q202_unigram_to_target", q202, Some(q202Sql),
      "unigram EM-to-vocab-target loop (Kudo): geometric prune schedule to |multi vocab| <= target, full per-round vocab gated"),
    Q("q191_unigram_train", q191, Some(q191Sql),
      "unigram-LM (SentencePiece) tokenizer training: substring seed vocab, integer surprisal costs, exact Viterbi E-step + M-step recount"),
    Q("q192_unigram_encode", q192, Some(q192Sql),
      "unigram encode rollout: per-lang token/char accounting under the optimal segmentation + used-vocab size"),
    Q("q184_bpe_roundtrip", q184, Some(q184Sql),
      "tokenizer round-trip: encode->decode identity over a doc sample, rebuilt-text md5 vs original (measured flag)"),
    Q("q173_bpe_train", q173, Some(q173Sql),
      "real BPE tokenizer training: 10 count->argmax->apply merge steps over the distinct-word table"),
    Q("q176_bpe_encode", q176, Some(q176Sql),
      "BPE encode rollout: per-lang token/char accounting under the trained segmentation + vocab size"),
    Q("q168_sequence_packing", q168, Some(q168Sql),
      "concat-then-chunk sample packing: md5 shuffle order, fixed 1024-token contexts, per-pack manifest"),
    Q("q155_chunk_windows", q155, Some(q155Sql),
      "overlapping token-window chunking (W=64, S=48): offsets + content md5, row-local"),
    Q("q148_column_profiler", q148, Some(q148Sql),
      "one-scan data-quality profile: nulls/distinct/min/max/avg-len per column, HLL sparse-exact"),
    Q("q147_snapshot_diff", q147, Some(q147Sql),
      "corpus snapshot diff: added/removed/changed/unchanged audit rollup (hash-only full-outer join)"),
    Q("q175_scd2_merge", q175, Some(q175Sql),
      "SCD2 snapshot merge: versioned dimension with valid_from/valid_to via tombstoned lead() window"),
    Q("q142_dag_metrics", q142, Some(q142Sql),
      "per-stage operational metrics of the q138 DAG (rows/tokens/build_sec into the metrics sink; deterministic columns gated)"),
    Q("q138_curation_dag", q138, Some(q138Sql),
      "full curation DAG: screen→gopher→LM tercile→dedup→redact→mix→pack funnel"),
    Q("q135_pii_redact", q135, Some(q135Sql),
      "PII redaction APPLY: planted email/phone/IP scrub, byte-exact"),
    Q("q133_perplexity_split", q133, Some(q133Sql),
      "CCNet head/middle/tail perplexity terciles per language"),
    Q("q131_shard_packing", q131, Some(q131Sql),
      "fixed-token-budget shard packing (deterministic next-fit)"),
    Q("q139_shard_manifest", q139, Some(q139Sql),
      "per-shard manifest: doc counts, token sums, in-shard layout checksum"),
    Q("q129_lm_perplexity", q129, Some(q129Sql),
      "interpolated-bigram LM perplexity quality filter (CCNet-style)"),
    Q("q126_repetition_filter", q126, Some(q126Sql),
      "Gopher-style repetition quality filter (sort-fold top-bigram)"),
    Q("q127_domain_mixture", q127, Some(q127Sql),
      "domain-mixture sampling to integer target weights"),
    Q("q125_heavy_hitters", q125, Some(q125Sql),
      "Space-Saving heavy hitters (native O(k) summary, exact-regime oracle)"),
    Q("q96_weighted_sample", q96, Some(q96Sql),
      "Efraimidis-Spirakis deterministic weighted sampling"),
    Q("q115_tfidf", q115, Some(q115Sql),
      "TF-IDF term weighting, global top-20 scores"),
    Q("q38_rebalance", q38, Some(q38Sql), "deterministic class rebalancing"),
    Q("q37_content_filter", q37, Some(q37Sql), "PII-pattern scan + repetition"),
    Q("q36_bpe_tokens", q36, Some(q36Sql), "BPE-ish regex subword tokens"),
    Q("q30_token_stats", q30, Some(q30Sql), "per-doc token stats (text analysis)"),
    Q("q31_corpus_profile", q31, Some(q31Sql), "lang×source corpus rollup"),
    Q("q32_lang_id", q32, Some(q32Sql), "lexicon lang-ID heuristic + confusion"),
    Q("q33_quality_score", q33, Some(q33Sql), "doc quality scoring + buckets"),
    Q("q34_fingerprint", q34, Some(q34Sql), "md5 + rolling-hash fingerprints"),
    Q("q35_ngram_topk", q35, Some(q35Sql), "global top-20 word trigrams"))
}
