package graft

import graft.queries.{Registry, StreamingQueries}
import org.apache.spark.sql.functions._

/** Pins for the multi-file streaming-source fixture behind q130:
  * FileStreamSource parallelism tracks source FILE COUNT, so the
  * stateless ingest screen must read a many-file directory (the
  * production topology) and still produce the batch screen's exact
  * kept set. */
class StreamSourceSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("q130 streams a multi-file source and matches the batch screen") {
    val result = Registry.byName("q130_stream_decontaminate")
      .run(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

    // the fixture directory actually fans out to StreamFiles files —
    // the property the 100 TB deployment relies on (parallelism =
    // ingest file count, no repartition on the stream side)
    val fix = StreamingQueries.streamFixtureDir(spark, dir, "documents")
    val parts = new java.io.File(fix).listFiles()
      .count(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet"))
    assert(parts == StreamingQueries.StreamFiles, s"$parts part files")

    // batch twin of the streamed screen: same BloomScreen contract,
    // exact shingle join instead of the bloom probe is NOT used here —
    // the bloom filter itself is the contract, so run the identical
    // probe over a batch read and compare rollups
    import spark.implicits._
    val screen = graft.queries.DedupQueries.BloomScreen
    val blob = screen.benchBlob(spark, dir)
    val expected = screen
      .withBenchSplit(spark.read.parquet(s"$dir/documents.parquet"))
      .filter($"hx" >= screen.BenchMax)
      .filter(!screen.probe(spark, blob, screen.tokens($"text")))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_kept"), sum($"doc_id").as("kept_checksum"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

    assert(result == expected, s"stream $result vs batch $expected")
  }
}
