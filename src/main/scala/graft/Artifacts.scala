package graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession
import graft.queries.{DedupQueries, SimilarityQueries => Sim,
  StreamingQueries => St}

/** The one store of artifacts the engine builds once and reuses across
  * queries: probe tables, encoded indexes, releases, manifests, cached
  * schemas and small collected frames. An entry has a name and is
  * looked up per `dir` (a table directory, or a path for path-keyed
  * entries) with the build to run on a miss. The store's rules:
  *
  *  - Freshness. Each lookup passes its freshness inputs:
  *    `Tables.fingerprint` of the files the build reads, or an upstream
  *    artifact's path. A lookup whose inputs differ from the held
  *    entry's replaces it. A superseded fingerprint can never be read
  *    again, so keeping it would only grow the store (and pin dead
  *    checkpoint blocks) in a session that regenerates its inputs.
  *  - Session-bound entries. An entry whose value holds checkpointed
  *    DataFrames is defined with `sessionBound`: its blocks live in the
  *    building SparkContext, so every session-bound lookup first drops
  *    the entries whose context has stopped, and a later session builds
  *    its own. Other entries hold on-disk paths or driver values that
  *    any session can read, and outlive sessions.
  *  - One build per key. Concurrent callers (`Scratch.parMap` siblings)
  *    wait on the key's own cell, never on a map operation, so a build
  *    may look up other entries (merge → manifest, MoR compaction →
  *    MoR → manifest). Building inside one shared map's
  *    `computeIfAbsent` would throw `IllegalStateException: Recursive
  *    update` on JDK 17. A build that throws is not kept; the next
  *    lookup builds again.
  *  - Build time per (name, dir): the wall time of the builds that ran,
  *    including builds they nested. Hits add nothing. */
object Artifacts {
  final class Entry[V] private[Artifacts] (val name: String,
      sessionBound: Boolean) {
    /** the value for `dir` under freshness inputs `fresh`, built by
      * `build` on a miss. */
    def apply(s: SparkSession, dir: String, fresh: String*)(
        build: => V): V = lookup(s, dir, "", fresh, build)

    /** as `apply`, keeping one value per `part` of `dir` (say, per
      * table); build time still adds up per `dir`. */
    def part(s: SparkSession, dir: String, part: String, fresh: String*)(
        build: => V): V = lookup(s, dir, part, fresh, build)

    private def lookup(s: SparkSession, dir: String, part: String,
        fresh: Seq[String], build: => V): V = {
      val owner = if (sessionBound) s.sparkContext else null
      if (sessionBound)
        cells.values.removeIf(c => c.owner != null && c.owner.isStopped)
      val cell = cells.compute((name, dir, part), (_, old) =>
        if (old != null && old.fresh == fresh) old else new Cell(fresh, owner))
      cell.get {
        val t0 = System.nanoTime()
        val v = build
        buildNanos.merge((name, dir), System.nanoTime() - t0, _ + _)
        v
      }.asInstanceOf[V]
    }

    /** wall seconds spent building this entry for `dir`. */
    def seconds(dir: String): Double =
      buildNanos.getOrDefault((name, dir), 0L) / 1e9
  }

  def apply[V](name: String): Entry[V] = new Entry(name, false)
  def sessionBound[V](name: String): Entry[V] = new Entry(name, true)

  private final class Cell(val fresh: Seq[String], val owner: SparkContext) {
    private var value: Any = _
    private var built = false
    def get(build: => Any): Any = synchronized {
      if (!built) { value = build; built = true }
      value
    }
  }

  private val cells = new java.util.concurrent.ConcurrentHashMap[
    (String, String, String), Cell]()
  private val buildNanos = new java.util.concurrent.ConcurrentHashMap[
    (String, String), java.lang.Long]()

  /** the artifacts whose gates assume they already exist, each after
    * the entries it reads. Bench builds them for the measured dir
    * before timing and reports each as `<name>_sec`. */
  private[graft] lazy val warmList
      : Seq[(Entry[_], (SparkSession, String) => Any)] = Seq(
    DedupQueries.BloomScreen.blob -> DedupQueries.BloomScreen.benchBlob,
    St.fixture -> ((s, d) =>
      Seq("documents", "embeddings").map(St.streamFixtureDir(s, d, _))),
    Sim.annIndex -> Sim.annIndexDir,
    Sim.retrainIndex -> Sim.retrainedIndexDir,
    Sim.chunkIndex -> Sim.chunkIndexDir,
    Sim.docIndex -> Sim.docIndexDir,
    St.release -> St.warmFrozenRelease,
    St.releaseV2 -> St.warmReleaseV2,
    St.releaseV3 -> St.releaseV3For,
    St.purgeArtifacts -> St.purgeArtifactDir,
    St.manifest -> St.manifestLogDir,
    Sim.purgedDocIndex -> Sim.purgedDocIndexDir,
    Sim.purgedChunkIndex -> Sim.purgedChunkIndexDir,
    St.cdcFeed -> St.cdcFeedDir,
    St.mergeExt -> St.mergeExtensionDir,
    St.morExt -> St.morExtensionDir,
    St.morCompactExt -> St.morCompactDir)
}
