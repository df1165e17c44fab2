package graft

import org.apache.spark.sql.functions._
import graft.expr.GraftFunctions

/** Contract of the native bloom pair (graft_bloom_agg /
  * graft_bloom_contains): NO false negatives ever (the safe direction
  * of the decontamination screen), blob identity under any partition
  * layout (merge is a bitwise OR), a measurable-but-bounded FP rate
  * on a deliberately undersized filter (what the q128 oracle can't
  * exercise — its sizing makes FPs ~impossible), and loud failure on
  * malformed input instead of wrong answers. */
class BloomSpec extends SparkSpec {
  import spark.implicits._

  private val keys = Seq.tabulate(2000)(i => s"key-$i-${i * 31}")

  private def buildBlob(ks: Seq[String], nbits: Long, k: Int,
      parts: Int): Array[Byte] =
    ks.toDF("s").repartition(parts)
      .agg(GraftFunctions.bloomAgg(spark, $"s", nbits, k).as("b"))
      .collect()(0).getAs[Array[Byte]](0)

  test("no false negatives: every inserted key probes true") {
    val blob = buildBlob(keys, 1L << 16, 5, 3)
    val misses = keys.toDF("s")
      .withColumn("hit",
        GraftFunctions.bloomContains(spark, lit(blob), $"s"))
      .filter(!$"hit").count()
    assert(misses == 0L, s"$misses inserted keys probed false")
  }

  test("blob is partition-layout independent (OR-merge commutes)") {
    val a = buildBlob(keys, 1L << 16, 5, 1)
    val b = buildBlob(keys, 1L << 16, 5, 13)
    assert(java.util.Arrays.equals(a, b),
      "same key set, different partitioning -> different blob")
  }

  test("inserts are idempotent: duplicates don't change the blob") {
    val a = buildBlob(keys, 1L << 16, 5, 4)
    val b = buildBlob(keys ++ keys ++ keys.take(500), 1L << 16, 5, 4)
    assert(java.util.Arrays.equals(a, b))
  }

  test("undersized filter: FP rate present but bounded; sized filter: ~zero") {
    val absent = Seq.tabulate(10000)(i => s"absent-$i-${i * 17}")
    def fpCount(nbits: Long): Long = {
      val blob = buildBlob(keys, nbits, 5, 4)
      absent.toDF("s")
        .withColumn("hit",
          GraftFunctions.bloomContains(spark, lit(blob), $"s"))
        .filter($"hit").count()
    }
    // 2^14 bits for 2000 keys ≈ 8 bits/key → theory ~2% FP; allow 5%
    val tight = fpCount(1L << 14)
    assert(tight <= 500, s"undersized filter FP rate too high: $tight/10000")
    // 2^20 bits for 2000 keys → FP odds ~1e-12 per probe
    assert(fpCount(1L << 20) == 0L, "well-sized filter produced FPs")
  }

  test("geometry travels in the blob: probe needs no (nbits, k) args") {
    val blob = buildBlob(keys, 1L << 12, 3, 2)
    assert(blob.length == 4 + (1 << 12) / 8)
    // header k = 3 big-endian
    assert(blob(3) == 3.toByte && blob(0) == 0.toByte)
  }

  test("graft_bloom_any ≡ exists(W-shingles, graft_bloom_contains)") {
    // the native any-shingle probe must keep the HOF spelling's exact
    // semantics: same shingle bytes (concat_ws ' '), same short-doc
    // (< ShingleWidth tokens) false, same short-circuit OR — on a
    // corpus where some docs contain planted filter members and most
    // don't. The whole test derives from ShingleWidth so a width
    // retune retunes the pin with it.
    val w = graft.expr.BloomExpr.ShingleWidth
    val m1 = (1 to w).map(i => s"alpha$i").mkString(" ")
    val m2 = (1 to w).map(i => s"delta$i").mkString(" ")
    val blob = buildBlob(Seq(m1, m2), 1L << 16, 5, 4)
    var nxt = 12345
    def tok(): String = { nxt = nxt * 1103515245 + 12345; s"w${(nxt >>> 16) % 50}" }
    val shortDoc = (1 to w - 1).map(i => s"s$i").mkString(" ")
    // m1 with one token swapped: every window misses by one position
    val offByOne = (1 to w).map(i => if (i == w / 2) "zz" else s"alpha$i")
      .mkString(" ")
    val docs: Seq[String] =
      Seq("", "one", shortDoc, s"$m1 tail", s"head $m1", offByOne) ++
        Seq.tabulate(60) { i =>
          val base = Seq.fill(w + (i % 9))(tok()).mkString(" ")
          if (i % 7 == 0) s"$base $m2" else base
        }
    val parts = (0 until w)
      .map(o => s"element_at(t, i + $o)").mkString(", ")
    val shingleExpr =
      s"transform(sequence(1, greatest(size(t) - ${w - 1}, 0)), " +
        s"i -> concat_ws(' ', $parts))"
    val got = docs.zipWithIndex.map { case (d, i) => (i, d) }
      .toDF("i", "text")
      .withColumn("t", split($"text", " "))
      .withColumn("hof", when(size($"t") >= w, exists(expr(shingleExpr),
        sh => GraftFunctions.bloomContains(spark, lit(blob), sh)))
        .otherwise(lit(false)))
      .withColumn("native", GraftFunctions.bloomAny(spark, lit(blob), $"t"))
      .select($"i", $"hof", $"native").collect()
    got.foreach { r =>
      assert(r.getBoolean(1) == r.getBoolean(2),
        s"doc ${r.getInt(0)}: hof ${r.getBoolean(1)} != native ${r.getBoolean(2)}")
    }
    // planted members actually probe true (the equivalence isn't
    // vacuously all-false)
    assert(got.count(_.getBoolean(2)) >= 10)
  }

  test("graft_bloom_any: null token element throws, null inputs → null") {
    val blob = buildBlob(Seq("a b c"), 1L << 10, 3, 1)
    intercept[Exception] {
      // enough tokens to form at least one probe window, null inside
      val toks = (lit("a") +: lit(null).cast("string") +:
        (1 to graft.expr.BloomExpr.ShingleWidth).map(i => lit(s"t$i"))): Seq[_root_.org.apache.spark.sql.Column]
      Seq(1).toDF("x")
        .withColumn("hit", GraftFunctions.bloomAny(spark, lit(blob),
          array(toks: _*)))
        .collect()
    }
    val r = Seq(1).toDF("x")
      .withColumn("hit", GraftFunctions.bloomAny(spark, lit(blob),
        lit(null).cast("array<string>")))
      .select($"hit").collect()(0)
    assert(r.isNullAt(0))
  }

  /** `body` under whole-stage codegen (`codegen = true`) or with every
    * expression interpreted, the shared session's settings restored. */
  private def underCodegen[T](codegen: Boolean)(body: => T): T = {
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(keys(0), codegen.toString)
    spark.conf.set(keys(1), if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN")
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("a broadcast blob probes as its literal does, codegen and interpreted") {
    import org.apache.spark.sql.GraftColumn
    import graft.expr.BroadcastBinary
    val w = graft.expr.BloomExpr.ShingleWidth
    val m1 = (1 to w).map(i => s"alpha$i").mkString(" ")
    val blob = buildBlob(m1 +: keys.take(500), 1L << 14, 5, 4)
    val bc = spark.sparkContext.broadcast(blob)
    val viaBc = GraftColumn(BroadcastBinary(bc))
    assert(BroadcastBinary(bc).toString == s"broadcast#${bc.id}")
    var nxt = 777
    def tok(): String = { nxt = nxt * 1103515245 + 12345; s"w${(nxt >>> 16) % 40}" }
    // keys probe graft_bloom_contains (members and absent keys); docs
    // probe graft_bloom_any (planted shingles, short docs, random text)
    val rows = (keys.take(300) ++ Seq.tabulate(300)(i => s"absent-$i"))
      .zipWithIndex.map { case (k, i) =>
        val doc = if (i % 5 == 0) s"${tok()} $m1 ${tok()}"
          else Seq.fill(i % (2 * w))(tok()).mkString(" ")
        (i, k, doc)
      }
    // repartitioned, so the probes run in tasks, not folded into a
    // local relation on the driver
    val df = rows.toDF("i", "k", "text").repartition(3)
      .withColumn("t", split($"text", " "))
      .select($"i",
        GraftFunctions.bloomContains(spark, lit(blob), $"k").as("c_lit"),
        GraftFunctions.bloomContains(spark, viaBc, $"k").as("c_bc"),
        GraftFunctions.bloomAny(spark, lit(blob), $"t").as("a_lit"),
        GraftFunctions.bloomAny(spark, viaBc, $"t").as("a_bc"))
    for (codegen <- Seq(true, false)) underCodegen(codegen) {
      // a new Dataset, so its physical plan is made under this mode
      val q = df.select($"*")
      val got = q.collect()
      got.foreach { r =>
        assert(r.getBoolean(1) == r.getBoolean(2) &&
          r.getBoolean(3) == r.getBoolean(4),
          s"codegen=$codegen row ${r.getInt(0)}: $r")
      }
      // neither probe is vacuous
      assert(got.count(_.getBoolean(2)) >= 300 && got.count(_.getBoolean(4)) >= 60,
        s"codegen=$codegen")
      val code = org.apache.spark.sql.execution.debug
        .codegenString(q.queryExecution.executedPlan)
      assert(code.contains("BloomExpr.anyShingle") == codegen,
        s"codegen=$codegen: generated code ${code.take(300)}")
      // a null token inside a probe window still throws
      val toks = (lit("a") +: lit(null).cast("string") +:
        (1 to w).map(i => lit(s"t$i"))): Seq[_root_.org.apache.spark.sql.Column]
      intercept[Exception] {
        Seq(1).toDF("x").repartition(2)
          .withColumn("hit", GraftFunctions.bloomAny(spark, viaBc,
            array(toks: _*)))
          .collect()
      }
    }
    bc.destroy()
  }

  test("malformed blob and bad literals fail loudly") {
    intercept[Exception] {
      Seq("x").toDF("s")
        .withColumn("hit", GraftFunctions.bloomContains(
          spark, lit(Array[Byte](1, 2, 3)), $"s"))
        .collect()
    }
    intercept[Exception] { // nbits not a power of two
      Seq("x").toDF("s")
        .agg(GraftFunctions.bloomAgg(spark, $"s", 100L, 5)).collect()
    }
    intercept[Exception] { // k out of range
      Seq("x").toDF("s")
        .agg(GraftFunctions.bloomAgg(spark, $"s", 1L << 10, 0)).collect()
    }
  }
}
