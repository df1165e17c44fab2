package graft

import org.apache.spark.sql.DataFrame

/** Scratch-dir discipline for sink round-trip queries (q99 metrics
  * sink, the streaming gate): a query that writes an intermediate
  * table gets a fresh temp dir, must EAGERLY materialize its final
  * result (localCheckpoint truncates lineage, so the re-read parquet
  * files are no longer referenced by the returned plan), and the dir
  * is deleted before returning — repeated invocations leave nothing
  * behind under /tmp.
  */
object Scratch {

  /** Run `f` with a fresh temp dir; eagerly materialize the resulting
    * frame, then delete the dir recursively. The returned frame is a
    * lineage-free localCheckpoint, safe to consume after deletion. */
  def withScratchDir(prefix: String)(f: String => DataFrame): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try f(dir.toString).localCheckpoint(true)
    finally deleteRecursively(dir.toFile)
  }

  /** shared by the test harness's shutdown hooks — one delete
    * implementation in the tree, not three copies. */
  private[graft] def deleteRecursively(f: java.io.File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** create a temp dir that self-deletes on JVM exit. */
  private[graft] def tempDirDeletedOnExit(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(
      new Thread(() => deleteRecursively(dir.toFile)))
    dir.toString
  }

  /** seconds parMap waits for interrupted siblings to stop, first
    * before cancelling their Spark jobs and again after. */
  private val StopSecs = 60L

  /** Bounded driver-side overlap of INDEPENDENT Spark actions
    * (optimization guide §2.6): the scheduler happily runs several
    * jobs at once inside one application; actions are only sequential
    * because driver code calls them sequentially. For gates that fold
    * a handful of bounded per-artifact / per-setting audits, each
    * element's tiny jobs back-fill the scheduling gaps of the others'
    * — the wall-clock drops toward the single-slowest element. Results
    * keep input order; the first failure propagates. Use ONLY where
    * elements are provably independent (separate artifacts, settings,
    * key spaces) — never across an ordered fold's steps. Width stays
    * small (fill the tail, don't fight for executors — guide §2.6). */
  private[graft] def parMap[A, B](xs: Seq[A], width: Int)(
      f: A => B): Seq[B] = {
    if (xs.sizeIs <= 1 || width <= 1) xs.map(f)
    else {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      import java.util.concurrent.TimeUnit.SECONDS
      val sc = org.apache.spark.sql.SparkSession.getActiveSession
        .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
        .map(_.sparkContext)
      val run = java.util.UUID.randomUUID().toString.take(8)
      val groups = xs.indices.map(i => s"graft-parmap-$run-$i")
      val pool = java.util.concurrent.Executors
        .newFixedThreadPool(math.min(width, xs.size))
      implicit val ec: ExecutionContext =
        ExecutionContext.fromExecutorService(pool)
      def sibling(i: Int): B = sc match {
        case None => f(xs(i))
        case Some(c) =>
          c.setJobGroup(groups(i), s"parMap sibling $i",
            interruptOnCancel = true)
          try f(xs(i)) finally c.clearJobGroup()
      }
      // the sequence's callbacks run on the completing sibling's thread:
      // a sibling that ends after shutdownNow must not submit to the pool
      try Await.result(Future.sequence(xs.indices.map(i =>
        Future(sibling(i))))(implicitly, ExecutionContext.parasitic),
        Duration.Inf)
      catch { case t: Throwable =>
        // first failure propagates, but NOT before the siblings are
        // interrupted and drained (ADVICE r17): a withScratchDir gate
        // unwinding past this frame deletes the scratch dir, and a
        // still-running sibling stream would hit it mid-write and
        // surface a confusing secondary failure instead of `t`. A
        // sibling running a stream stops it before its thread ends
        // (StreamingQueries.awaitOrStop). Each sibling's batch jobs run
        // in its own job group, so siblings still alive `StopSecs`
        // after the interrupt get them cancelled.
        pool.shutdownNow()
        if (!pool.awaitTermination(StopSecs, SECONDS)) {
          sc.foreach(c => groups.foreach(c.cancelJobGroup))
          val stopped = pool.awaitTermination(StopSecs, SECONDS)
          System.err.println(s"[graft] parMap: siblings still running " +
            s"${StopSecs} s after ${t.getClass.getName}; cancelled " +
            s"their Spark jobs (${groups.mkString(",")}): " +
            (if (stopped) "they stopped" else "some are STILL running"))
        }
        throw t
      }
      finally pool.shutdown()
    }
  }

  /** drain the async SparkListener bus deterministically before
    * reading listener-accumulated state (job counts, stage metrics).
    * LiveListenerBus.waitUntilEmpty is private[spark] — public at the
    * bytecode level, so reflection reaches it without a package
    * cheat; falls back to a short settle if the private API moves.
    * ONE spelling shared by TimeAudit and the plan-shape specs, so a
    * Spark upgrade can't silently degrade one copy to the sleep. */
  private val drainFallbackWarned =
    new java.util.concurrent.atomic.AtomicBoolean(false)

  private[graft] def drainListenerBus(
      sc: org.apache.spark.SparkContext): Unit = {
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus): Unit
    } catch { case scala.util.control.NonFatal(t) =>
      // warn ONCE when the reflective path breaks (ADVICE r16): a
      // Spark upgrade renaming listenerBus/waitUntilEmpty would
      // otherwise silently revert to the nondeterministic settle the
      // deterministic drain exists to remove
      if (drainFallbackWarned.compareAndSet(false, true))
        System.err.println("[graft] drainListenerBus: reflective " +
          s"waitUntilEmpty unavailable (${t.getClass.getName}: " +
          s"${t.getMessage}) — falling back to a 300 ms settle; " +
          "listener-derived job/stage counts may flake low")
      Thread.sleep(300)
    }
  }
}
