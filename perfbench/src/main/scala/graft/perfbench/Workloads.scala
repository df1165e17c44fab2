package graft.perfbench

import org.apache.spark.sql.SparkSession
import graft.queries.{StreamingQueries => SQ}

/** A workload: the registry queries one closed-loop client sends, the
  * `warm*` artifacts its queries assume exist, and how many warm passes
  * a run makes at least.
  *
  * `minWarmPasses` × `queries.size` is the warm sample count. It is at
  * least 20 on every workload so `query_tail_s` always has ten samples
  * beyond it; a fixed count also keeps that percentile the same from
  * run to run, which is what keeps the tail steady. */
final case class Workload(
    name: String,
    queries: Seq[String],
    artifacts: Seq[(String, (SparkSession, String) => Unit)],
    minWarmPasses: Int)

object Workloads {
  /** The paper's batch pipeline, trimmed to fit a run: series
    * assembly (q20, q21), encoder kernels (q70 conv1d, q71 FFT, q75 CPC
    * forward), probe and evaluation (q60), GD trajectories (q137). No
    * artifacts, streams or sink writes: kernel and planning changes show
    * here, artifact and streaming changes must read flat. */
  val cpc = Workload("cpc",
    Seq("q20_series_assembly", "q21_quality_fuse", "q70_conv1d",
      "q71_fft_spectrum", "q75_cpc_forward", "q60_roc_auc",
      "q137_gd_probe_grid"),
    Nil, minWarmPasses = 4)

  /** Table-lifecycle writes, release side: the release tail stream
    * (q199: an AvailableNow run through a scratch dir), roll-forward
    * (q201) and retention (q204). Set-up builds releases v1 and v2,
    * which those queries read. Streams, scratch dirs and sink writes
    * show here; kernels barely run. The table-format group (q221-q236)
    * is left out: all of it reads the manifest log, whose build alone
    * takes about 29 s of set-up per run on 4 cores. */
  val lifecycle = Workload("lifecycle",
    Seq("q199_stream_release_tail", "q201_release_rollforward",
      "q204_release_retention"),
    Seq("release" -> SQ.warmFrozenRelease, "release_v2" -> SQ.warmReleaseV2),
    minWarmPasses = 7)

  val all: Seq[Workload] = Seq(cpc, lifecycle)
  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$n' (known: ${all.map(_.name).mkString(", ")})"))
}
