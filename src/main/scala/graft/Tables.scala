package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{LongType, TimestampType}
import scala.util.control.NonFatal

/** Loaders for the driver-generated parquet corpus (see TESTDATA.md).
  *
  * Every query entry in [[SparkEntry]] receives `(spark, sfDir)` and loads
  * tables through here so the scan is a plain parquet `FileScan` that
  * Catalyst can prune columns into and push filters into.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else spark.read.parquet(s"$dir/$name.parquet")

  /** Round-robin spread of a small unsplittable input — the guide-§2.5
    * remedy ("one huge unsplittable file … repartition immediately
    * after the read") applied to the OPPOSITE end of the same problem:
    * the test corpora are single-file, single-rowgroup parquet, so
    * every scan is exactly ONE split and every scan-rooted map stage
    * runs one task — which serializes the CPU-heavy text kernels
    * (shingling, minhash, simhash, winnowing, PII regex…) that consume
    * `documents` (round-15 stage profile: 1.2 s single-task shingle
    * stages inside ppjoin while 32 cores idle).
    *
    * Size-gated so it stays a SMALL-INPUT remedy: spread only while
    * the table's on-disk bytes are at most 1 GiB. `getContentSummary`
    * sizes a directory recursively, so a nested or partitioned layout
    * counts all its files. At production scale inputs arrive as many
    * splittable files, the gate turns the spread off, and the scan's
    * natural parallelism stands — the extra exchange is never paid on
    * data large enough for it to matter. Row order is not part of any
    * query contract (every registry output is deterministic by
    * explicit ORDER BY / aggregation; sampling is md5-keyed), so the
    * spread cannot change a result.
    */
  def spreadSmall(spark: SparkSession, path: String, df: DataFrame): DataFrame = {
    // Size via the Hadoop FileSystem so the gate also resolves on
    // non-local filesystems (hdfs://, s3a://) — java.io.File reads 0
    // there and the spread would silently never apply. An unreadable /
    // missing path logs a WARN, sizes as 0 and the spread is skipped
    // (the scan itself will raise the real error).
    val bytes = try {
      val hPath = new org.apache.hadoop.fs.Path(path)
      val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.getContentSummary(hPath).getLength
    } catch { case NonFatal(e) =>
      log.warn(s"spreadSmall: cannot size $path ($e); not spreading it")
      0L
    }
    if (bytes > 0L && bytes <= SpreadMaxBytes)
      df.repartition(spark.sparkContext.defaultParallelism)
    else df
  }

  private val SpreadMaxBytes = 1L << 30

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Loads `events` with `ts` as a proper TimestampType whatever physical
    * unit the parquet writer used.
    *
    * The driver has historically flipped the unit of `events.ts` between
    * TIMESTAMP(NANOS) (which Spark's schema inference rejects) and
    * TIMESTAMP_MICROS (which it reads natively). Hardcoding either
    * assumption silently compresses or inflates every event timestamp
    * 1000x, so:
    *
    *  1. Try native schema inference (a driver-side footer read, no job).
    *     If `ts` infers as TimestampType, Spark already decodes the unit
    *     correctly — use the frame as-is.
    *  2. Otherwise fall back to forcing `ts` to BIGINT (delivers the raw
    *     int64) and *probe* the stored magnitude to pick the divisor:
    *     nanos since epoch for any plausible event date is >= ~1e18,
    *     micros ~1e15, millis ~1e12. A value outside every known band
    *     fails loudly rather than guessing.
    *
    * No session conf is involved (an earlier
    * `spark.sql.legacy.parquet.nanosAsLong` approach leaked a global
    * setting that changed every later TIMESTAMP(NANOS) read). The
    * fallback's long→micros cast is a codegen'd projection, so
    * pushdown/pruning on the other columns is unaffected.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val path = s"$dir/events.parquet"
    val native = scala.util.Try(spark.read.parquet(path)).toOption
      .filter(df => df.schema.fieldNames.contains("ts"))
    native.map(df => df.schema("ts").dataType) match {
      case Some(TimestampType) => native.get
      case Some(LongType) =>
        rawLongToTimestamp(native.get, path)
      case _ =>
        // Inference rejected the file (TIMESTAMP(NANOS)): force BIGINT.
        val raw = spark.read
          .schema("event_id BIGINT, ts BIGINT, user_id BIGINT, " +
            "event_type STRING, value DOUBLE, props STRING")
          .parquet(path)
        rawLongToTimestamp(raw, path)
    }
  }

  /** Converts a raw int64 `ts` to TimestampType, detecting the unit from
    * the stored magnitude and failing loudly when none matches. The probe
    * is one min() over a single column of one small footer-scanned file —
    * bounded driver work, done once per loader call.
    */
  private def rawLongToTimestamp(raw: DataFrame, path: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val probe = raw.agg(min("ts")).head
    if (probe.isNullAt(0))
      throw new IllegalStateException(
        s"events.ts at $path: no rows (or all-null ts) — cannot probe the " +
          "timestamp unit")
    val minTs = probe.getLong(0)
    // Bands for epochs between 2001-09 (1e9 s) and ~2286 (1e10 s).
    val tsMicros =
      if (minTs >= 1e18.toLong && minTs < 1e19.toLong) expr("ts div 1000") // nanos
      else if (minTs >= 1e15.toLong && minTs < 1e16.toLong) col("ts") // micros
      else if (minTs >= 1e12.toLong && minTs < 1e13.toLong) col("ts") * 1000L // millis
      else if (minTs >= 1e9.toLong && minTs < 1e10.toLong) col("ts") * 1000000L // seconds
      else
        throw new IllegalStateException(
          s"events.ts at $path: raw int64 min=$minTs matches no known " +
            "epoch unit (nanos/micros/millis/seconds) — refusing to guess")
    raw.withColumn("ts", timestamp_micros(tsMicros))
  }
}
