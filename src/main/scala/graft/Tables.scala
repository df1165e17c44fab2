package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loaders for the driver-generated testdata layout
  * (TESTDATA.md): one parquet file per table under an sf directory.
  *
  * All queries read through here so scans stay uniform: column pruning
  * and predicate pushdown reach the parquet reader via Catalyst — do not
  * cache or materialize at this layer.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    parquetCached(spark, s"$dir/$name.parquet")

  private val schema = Artifacts[org.apache.spark.sql.types.StructType](
    "parquet_schema")

  /** schema-cached parquet read: static tables and persisted indexes
    * are read MANY times per session (every warm serve re-opens
    * dict/stats/postings/manifest), and each bare spark.read.parquet
    * pays a 1-task schema-inference job per call — measured 16 of
    * q187's 64 warm-serve jobs. Caching the inferred schema per
    * fingerprint makes warm reads job-free at the reader while a
    * regenerated fixture still re-infers. Columnar pruning and
    * pushdown are unaffected — only inference is skipped. */
  def parquetCached(spark: SparkSession, path: String): DataFrame = {
    val sch = schema(spark, path, fingerprint(path))(
      spark.read.parquet(path).schema)
    spark.read.schema(sch).parquet(path)
  }

  private def md5Hex(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(b)
      .map("%02x".format(_)).mkString

  /** freshness key for a parquet file OR directory: a directory's own
    * length is a filesystem constant and its mtime granularity can be
    * a full second, so an in-place rewrite within one tick could
    * serve a stale cache entry — fold in the children's (name, mtime,
    * size) instead, as a STRONG digest of the full sorted listing (a
    * 32-bit String.hashCode starts colliding at ~65k listings). For a
    * single FILE, second-granularity mtime plus an unchanged byte
    * length is likewise not enough — fold in the nanosecond mtime and
    * a first/last-4KiB checksum so a same-tick same-size in-place
    * rewrite still re-fingerprints (ADVICE r16). One driver-side
    * listing or an 8 KiB page-cached read, no job. */
  private[graft] def fingerprint(path: String): String = {
    val f = new java.io.File(path)
    val sig = Option(f.listFiles()) match {
      case Some(ks) =>
        md5Hex(ks.map(c => s"${c.getName}:${c.lastModified}:${c.length}")
          .sorted.mkString(",").getBytes("UTF-8"))
      case None if f.isFile =>
        val nanos = java.nio.file.Files
          .getLastModifiedTime(f.toPath).toInstant.getNano
        val raf = new java.io.RandomAccessFile(f, "r")
        try {
          val n = raf.length()
          val blk = math.min(4096L, n).toInt
          val head = new Array[Byte](blk)
          raf.readFully(head)
          val tail = new Array[Byte](blk)
          raf.seek(n - blk); raf.readFully(tail)
          s"$nanos:${md5Hex(head ++ tail)}"
        } finally raf.close()
      case None => "absent"
    }
    s"$path:${f.lastModified}:${f.length}:$sig"
  }

  /** events.parquet has shipped with two `ts` physical layouts across
    * testdata generations: INT64 TIMESTAMP(NANOS) (readable only as
    * long nanos under the legacy nanosAsLong conf) and plain
    * TIMESTAMP(MICROS) with isAdjustedToUTC=false (surfacing as
    * TIMESTAMP_NTZ). Read with the legacy conf on (harmless for
    * micros) and normalize whatever arrives to one session-tz
    * TimestampType column, so every query sees the same `ts`. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(parquetCached(s, s"$d/events.parquet"))
  }

  /** Schema-sensitive `ts` normalization (shared with the streaming
    * source): long nanos → microsecond TimestampType (integer `div`,
    * NOT `/` — double division loses precision at 1e18 ns); NTZ (or
    * any timestamp flavor) → session-tz timestamp, a value-identical
    * relabel under the project-wide UTC session timezone. */
  def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => df.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  private val eventRows = Artifacts[java.lang.Long]("event_rows")

  /** Partition count for materialized (localCheckpoint) per-user rep
    * tables that feed probe-grid fits: one partition per ~250k source
    * event rows, capped at the session's parallelism. The rowcount is
    * ONE count job over the raw parquet (column-pruned to zero columns,
    * so the scan serves it from row-group metadata rather than data
    * pages), kept per events file so repeated q76/q88/q91 invocations
    * don't re-run it. At sf0.1 this stays 1 (the rep table is a few
    * thousand rows — more partitions would only add scheduling overhead
    * to tiny fits); at 100× the checkpoint fans out so grid fits read a
    * parallel input instead of one task. */
  def checkpointPartitions(s: SparkSession, d: String): Int = {
    val path = s"$d/events.parquet"
    val rows: Long = eventRows(s, d, fingerprint(path)) {
      // same nanosAsLong guard as `events` — without it a FRESH
      // session whose first events touch is this count would throw on
      // the INT64 TIMESTAMP(NANOS) column during schema conversion
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      s.read.parquet(path).count()
    }
    val target = math.max(1L, rows / 250000L)
    math.min(target, s.sparkContext.defaultParallelism.toLong).toInt
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
