package graft

import java.util.concurrent.atomic.AtomicInteger

/** The artifact store's rules: superseded-key eviction, session-bound
  * eviction, one build per key, nested builds, build-time accounting;
  * and the two memos that used to be keyed by directory alone. */
class ArtifactsSpec extends SparkSpec {

  test("a superseded fingerprint evicts the old entry and rebuilds") {
    val e = Artifacts[String]("spec_fresh")
    val builds = new AtomicInteger()
    def get(fresh: String) =
      e(spark, "d", fresh) { builds.incrementAndGet(); fresh }
    assert(get("a") == "a" && get("a") == "a")
    assert(builds.get == 1)
    assert(get("b") == "b")
    assert(builds.get == 2)
    // "a" was replaced by "b", not kept beside it
    assert(get("a") == "a")
    assert(builds.get == 3)
  }

  test("8 concurrent callers cause one build") {
    val e = Artifacts[String]("spec_concurrent")
    val builds = new AtomicInteger()
    val together = new java.util.concurrent.CyclicBarrier(8)
    val got = Scratch.parMap(0 until 8, 8) { _ =>
      together.await()
      e(spark, "d", "f") {
        builds.incrementAndGet(); Thread.sleep(200); "v"
      }
    }
    assert(got == Seq.fill(8)("v"))
    assert(builds.get == 1)
  }

  test("a build that reads other entries completes") {
    val outer = Artifacts[String]("spec_outer")
    val mid = Artifacts[String]("spec_mid")
    val inner = Artifacts[String]("spec_inner")
    // a chain (outer → mid → inner, as MoR compaction → MoR → manifest),
    // and enough nested inserts to grow the store while `outer` builds
    val v = outer(spark, "d", "f") {
      val up = inner(spark, "d", "f")("d/inner")
      (1 to 1000).foreach(i => inner(spark, s"d$i", "f")(s"d$i/inner"))
      mid(spark, "d", up)(s"$up/mid") + "/outer"
    }
    assert(v == "d/inner/mid/outer")
  }

  test("hits add no build time") {
    val e = Artifacts[String]("spec_seconds")
    e(spark, "d", "f") { Thread.sleep(50); "v" }
    val built = e.seconds("d")
    assert(built >= 0.05, built)
    (1 to 5).foreach(_ => e(spark, "d", "f") { Thread.sleep(50); "v" })
    assert(e.seconds("d") == built)
    assert(e.seconds("other") == 0.0)
  }

  test("checkpointPartitions recounts after events.parquet is rewritten") {
    val dir = tmpDir("graft_events_fresh")
    def write(n: Long) = spark.range(n).toDF("user_id").write
      .mode("overwrite").parquet(s"$dir/events.parquet")
    write(10L)
    assert(Tables.checkpointPartitions(spark, dir) == 1)
    write(600000L)
    assert(Tables.checkpointPartitions(spark, dir) == 2)
  }

  test("benchBlob rebuilds after documents.parquet is rewritten") {
    import spark.implicits._
    val dir = tmpDir("graft_blob_fresh")
    val screen = queries.DedupQueries.BloomScreen
    def write(text: String) = (1L to 400L).map(i => (i, text))
      .toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    write("a b c d e f g h i j")
    val first = screen.benchBlob(spark, dir)
    assert(screen.benchBlob(spark, dir) eq first)
    write("q r s t u v w x y z")
    val second = screen.benchBlob(spark, dir)
    assert(!java.util.Arrays.equals(first.value, second.value),
      "a rewritten documents.parquet served the old blob")
  }

  // last: it stops the shared session
  test("a session-bound entry is rebuilt in a new session after stop(); a path entry is not") {
    val bound = Artifacts.sessionBound[String]("spec_session")
    val path = Artifacts[String]("spec_path")
    val nBound = new AtomicInteger()
    val nPath = new AtomicInteger()
    def both(s: org.apache.spark.sql.SparkSession) = (
      bound(s, "d", "f") { nBound.incrementAndGet(); "b" },
      path(s, "d", "f") { nPath.incrementAndGet(); "p" })
    val s1 = TestSpark.spark
    both(s1); both(s1)
    assert((nBound.get, nPath.get) == ((1, 1)))
    s1.stop()
    val s2 = TestSpark.spark
    assert(s2.sparkContext.applicationId != s1.sparkContext.applicationId)
    both(s2); both(s2)
    assert((nBound.get, nPath.get) == ((2, 1)))
  }
}
