package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Readers for the driver-generated test tables (TESTDATA.md / FIXTURES.md).
  *
  * All readers are plain parquet scans so Catalyst predicate pushdown /
  * column pruning reach the file source. The only special case is `events`:
  * its `ts` column has shipped in two physical forms across fixture
  * generations — parquet INT64 TIMESTAMP(NANOS) (which Spark 4 refuses to
  * read unless `spark.sql.legacy.parquet.nanosAsLong=true`; we then
  * normalize ns→µs with exact integer division) and plain µs timestamps
  * (isAdjustedToUTC=false, inferred as TIMESTAMP_NTZ). `events` branches on
  * the footer-inferred type so both generations land on the identical µs
  * TimestampType schema.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** `events` with `ts` normalized to a µs TimestampType — identical to what
    * DuckDB produces reading the same file (SURVEY §1.2): ns files truncate
    * to µs via exact integer division, µs/NTZ files cast value-identically
    * under the UTC session timezone.
    *
    * `nanosAsLong` is only consulted during footer-schema inference (i.e.
    * inside `spark.read.parquet`, which resolves the schema eagerly), so
    * the conf is set for exactly that call and restored in `finally` —
    * execution of the returned DataFrame after restore is verified to work
    * (probe, round 8) and the reader no longer leaves a session-conf
    * mutation behind (the nit carried since round 5).
    *
    * The set/read/restore window is synchronized (round-8 ADVICE): two
    * concurrent `events()` calls could otherwise interleave so one call
    * restores the conf to false while the other is still inside footer
    * inference, failing with the NANOS error the set exists to avoid. The
    * lock serializes this method against itself; a concurrent NON-events
    * parquet read on the same session merely sees `nanosAsLong=true` during
    * the brief inference window, which is harmless (it only widens what a
    * reader would accept, and no other test table carries ns timestamps).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val df = rawEvents(spark, dir)
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df // already µs TimestampType
    }
  }

  /** The footer-inferred events frame with `ts` untouched: LongType for the
    * ns-fixture generation (read under the scoped `nanosAsLong`), timestamp
    * for the µs generation. `EventStream` probes this to pick the matching
    * streaming read schema.
    */
  def rawEvents(spark: SparkSession, dir: String): DataFrame = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    nanosLock.synchronized {
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, "true")
      try table(spark, dir, "events")
      finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
  }

  private val nanosLock = new Object

  /** SURVEY rule R2: aggregate monetary/quantity doubles as exact decimals so
    * sums are order-independent and engine-exact.
    */
  def dec(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    c.cast("decimal(18,2)")

  /** Round 21 (optimization guide §2.5, input-skew remedy): floor on the
    * parallelism of a heavy map-side pipeline. The fixture tables are
    * single-file, single-row-group parquet, so a scan — and everything
    * fused above its first exchange: tokenization, shingling, dot
    * products, partial aggregation — otherwise runs as ONE task
    * regardless of core count (parquet cannot split below a row group;
    * profiled at sf0.1: llm_knn_graph's bucket join ran 2.0 s
    * single-task on a 32-core session). Repartitions by a provided
    * unique key (hash — deterministic, and unlike round-robin it pays no
    * sort-before-repartition) ONLY when the scan is narrower than the
    * size-derived target; at production scale scans are already wider
    * than the core count and this is a no-op, so nothing here is tuned
    * to the local fixture.
    *
    * Round 22 (r21 verdict #2): the partition count is derived from the
    * DATA SIZE, capped at the session's default parallelism — no longer
    * the raw core count. The r21 core-count form put a 0.8 MB cached
    * index on 32 partitions, and every downstream index-scale stage then
    * paid 32 near-empty tasks (the measured llm_pq_codes/pack/recon
    * 1.3-1.5× regressions). `SpreadTargetBytes` is the measured
    * bytes-per-task knee for the CPU-heavy map pipelines this floor
    * serves (A/B table in OPTIMIZATION_r22.md — 32 KB..256 KB swept at
    * sf0.1; compute above the floor is ~10²-10³ instructions/byte, so
    * tasks this small still amortize their launch overhead); it only
    * matters in the narrow-scan regime — at production widths the
    * byte-derived count exceeds the parallelism cap long before the
    * scan-narrower-than-target condition can hold.
    *
    * Width and size both come from the optimizer's stats (file bytes ×
    * column-pruning ratio), never `df.rdd` (r21 ADVICE: resolving .rdd
    * under AQE eagerly materializes any exchange already in the plan —
    * latent here since every call site passes a scan+project/filter,
    * but nothing enforced that precondition).
    */
  private[graft] val SpreadTargetBytes = 64L * 1024

  /** Smaller per-task byte target for the HEAVY text map pipelines
    * (shingle/sort/hash chains over every token — r22 A/B: at the default
    * 64 KB target the containment/tfidf/contamination rows lost 1.1-1.4×
    * because their compute-per-byte is an order above the vector sites';
    * 16 KB restores their measured-optimal width at sf0.1 while staying
    * data-derived and parallelism-capped).
    */
  private[graft] val SpreadTargetBytesHeavy = 16L * 1024

  def spread(spark: SparkSession, df: DataFrame,
      key: org.apache.spark.sql.Column,
      targetBytes: Long = SpreadTargetBytes): DataFrame = {
    val p = spark.sparkContext.defaultParallelism.toLong
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
      .min(BigInt(Long.MaxValue)).toLong
    val want = math.min(p, ceilDiv(bytes, targetBytes))
    // Estimated scan width from the file layout (what FilePartition
    // packing yields for splittable sources) — parquet cannot split
    // below a row group, so this upper-bounds the effective width.
    val maxPB = spark.sessionState.conf.filesMaxPartitionBytes
    val scanParts = math.max(1L, ceilDiv(bytes, maxPB))
    if (scanParts < want) df.repartition(want.toInt, key) else df
  }

  /** ceil(a / b) for a >= 0, b > 0, exact up to `a = Long.MaxValue` (the
    * size estimate of a relation without stats), where `(a + b - 1) / b`
    * would wrap negative.
    */
  private[graft] def ceilDiv(a: Long, b: Long): Long = a / b + (if (a % b == 0) 0 else 1)
}
