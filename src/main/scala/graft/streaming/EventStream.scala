package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Streaming ingestion of the `events` table + the AvailableNow runner that
  * turns a streaming transform into a deterministic batch DataFrame for the
  * driver contract.
  *
  * The file source stands in for the Kinesis source during correctness
  * checks: both deliver the same rows through the same mode-agnostic
  * transforms (StreamOps), so swapping `format("parquet")` for
  * `format("kinesis")` (graft.sources) changes ingestion only, not
  * semantics.
  */
object EventStream {

  /** Raw parquet schema of events with `ts` in the file's physical type —
    * LongType for the ns-fixture generation (INT64 TIMESTAMP(NANOS), which
    * Spark 4 only reads under `nanosAsLong=true`, SURVEY §1.2) or
    * TIMESTAMP_NTZ for the µs generation. The streaming source requires an
    * explicit schema, so the batch footer (`Tables.rawEvents`) is probed
    * once at stream construction to pick the matching variant; both land on
    * the identical µs TimestampType after normalization, same as the batch
    * reader.
    */
  private def rawSchema(tsType: DataType) = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", tsType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Streaming scan of `$dir/events.parquet`, normalized to the exact same
    * schema/values as `Tables.events`.
    *
    * For ns files, unlike the batch reader (which scopes `nanosAsLong` to
    * its eager footer-schema inference and restores the caller's value),
    * the STREAMING reader must leave the conf set for the session: each
    * micro-batch converts parquet footers asynchronously for the whole
    * lifetime of the query, so a scoped restore would race the stream.
    */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    // Glob, not bare file: FileStreamSource requires a directory basePath;
    // the pattern keeps discovery scoped to the events table only.
    readEventsGlob(spark, s"$dir/events.parque*", probeTsType(spark, dir))
  }

  /** Footer-probe cache: the physical ts type of a fixture dir
    * is a property of the FILE, not the session — 13 streaming rows each
    * re-read the parquet footer (~50 ms of eager schema resolution per
    * query construction) for the same answer. Keyed by dir; never caches
    * data or results.
    *
    * IMMUTABLE-FIXTURE ASSUMPTION: there is no
    * invalidation — a dir whose events.parquet is rewritten with a
    * DIFFERENT physical ts type within one JVM would be served the stale
    * type and the sentinel union/schema would mismatch. Every current
    * writer (the driver's fixture generator, tests' fresh temp dirs)
    * writes a dir at most once; a future in-place-rewriting caller must
    * key by (dir, mtime/length) instead.
    */
  private val tsTypeCache =
    new java.util.concurrent.ConcurrentHashMap[String, DataType]()

  private def probeTsType(spark: SparkSession, dir: String): DataType =
    tsTypeCache.computeIfAbsent(dir,
      d => graft.Tables.rawEvents(spark, d).schema("ts").dataType)

  private def readEventsGlob(
      spark: SparkSession, glob: String, tsType: DataType): DataFrame = {
    if (tsType == LongType)
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.Tables.normalizeTs(spark.readStream.schema(rawSchema(tsType)).parquet(glob))
  }

  /** Sentinel-file cache: the 1-row far-future sentinel file is a pure
    * function of the ts TYPE, so the three sentinel-using rows share one
    * file per type per JVM instead of a temp dir and a one-row parquet
    * write job per query. The file is input fixture, not a computed result.
    */
  private val sentinelCache =
    new java.util.concurrent.ConcurrentHashMap[DataType, String]()

  /** `readEvents` unioned with a single far-future sentinel event (year
    * 2100, user_id −1) staged as a second file source. Purpose: in append
    * mode, session/window state only flushes when the watermark passes it;
    * end-of-input alone never advances the watermark past the last real
    * session. The sentinel is that final watermark push — its own state
    * row stays open and is withheld, so with a `user_id != -1` guard the
    * emitted rows are exactly the finalized sessions of the real data.
    */
  def readEventsWithSentinel(spark: SparkSession, dir: String): DataFrame = {
    val tsType = probeTsType(spark, dir)
    // The sentinel write runs OUTSIDE any map lock: a computeIfAbsent would
    // hold the hash-bin lock for a full Spark write job, blocking
    // concurrent first-touch callers even for other types. Two racing
    // first-touch callers each write their own temp dir and putIfAbsent
    // decides the winner — the loser deletes its temp dir and reads the
    // winner's file. The file is written
    // under the FIRST caller session's writer conf and reused by later
    // sessions; all harness sessions share the writer-relevant conf
    // (UTC, parquet defaults), which is the assumption this cache makes.
    val cached = sentinelCache.get(tsType)
    val sentinelDir = if (cached != null) cached else {
      val t = tsType
      val tmp = Files.createTempDirectory("graft_sentinel")
      // 2100-01-01T00:00:00Z, written in the main source's physical ts type
      // so the two streaming scans union without a cast.
      val sentinelTs: Any = t match {
        case LongType => 4102444800000000000L // ns
        case TimestampNTZType => java.time.LocalDateTime.of(2100, 1, 1, 0, 0)
        case _ => java.sql.Timestamp.from(java.time.Instant.parse("2100-01-01T00:00:00Z"))
      }
      import scala.jdk.CollectionConverters._
      val row = org.apache.spark.sql.Row(-1L, sentinelTs, -1L, "sentinel", 0.0, "{}")
      spark.createDataFrame(Seq(row).asJava, rawSchema(t))
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString + "/sentinel")
      val mine = tmp.toString + "/sentinel"
      val prev = sentinelCache.putIfAbsent(t, mine)
      if (prev == null) mine else {
        org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
        prev
      }
    }
    readEventsGlob(spark, s"$dir/events.parque*", tsType)
      .unionAll(readEventsGlob(spark, sentinelDir, tsType))
  }

  /** State partition count for the declared streaming queries. Stateful
    * operators pin their partitioning to `spark.sql.shuffle.partitions` at
    * first plan (AQE cannot coalesce state), and each state partition pays
    * fixed per-batch file I/O (delta + commit per store instance) — at
    * verify scale, 32 partitions × 4 store instances of a stream-stream
    * join is ~10 s of pure filesystem overhead for kilobytes of state
    * (measured; 8 partitions → 3.2 s, same rows). Production sizes this UP
    * with state volume; the point is that it is a sizing decision, not an
    * inherited batch default.
    */
  private val StatePartitions = "8"

  /** Run a streaming DataFrame to completion under Trigger.AvailableNow
    * into an in-memory table and return its contents. Deterministic because
    * the whole input is one micro-batch (single file) plus the trailing
    * no-data batch that finalizes watermark-gated state.
    *
    * The memory sink is the harness-side terminal only (bounded verify-time
    * data); production sinks are foreachBatchParquet / the Kinesis sink.
    */
  def runAvailableNow(
      spark: SparkSession,
      name: String,
      df: DataFrame,
      outputMode: String): DataFrame = {
    val qn = name + "_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val ckpt = Files.createTempDirectory(s"graft_ckpt_$name").toString
    val key = "spark.sql.shuffle.partitions"
    val prior = spark.conf.get(key)
    // The streaming plan is created on the stream-execution thread, so the
    // conf must stay set until the query has fully run; the harness calls
    // queries sequentially, making set→run→restore safe.
    spark.conf.set(key, StatePartitions)
    try {
      val q = df.writeStream
        .format("memory")
        .queryName(qn)
        .outputMode(outputMode)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally spark.conf.set(key, prior)
    spark.table(qn)
  }
}
