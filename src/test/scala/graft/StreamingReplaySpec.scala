package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.kinesis.{FakeKinesisRegistry, Payload}
import graft.streaming.{EventStream, StreamOps}

/** Round-4 verdict #5, made uniform: every DECLARED streaming transform is
  * replayed through OUR OWN kinesis source in multiple rate-limited
  * micro-batches (maxRecordsPerTrigger splits the AvailableNow drain into
  * N > 3 real batches, so the watermark advances across genuine batch
  * boundaries), and the final output must equal the batch answer over the
  * same rows. The declared `stream_*` queries run the same StreamOps
  * transforms over a single-batch file source — this suite proves the
  * results do not depend on that single-batch luck, and exercises
  * connector → decode → stateful-operator end to end.
  *
  * Events are replayed in event-time order through ONE shard (Kinesis's
  * per-shard ordering is the only order it defines; a time-ordered single
  * shard is the replay analog of an ordered log). S8's known scope limit
  * (heavily out-of-order cross-batch arrival) is documented at
  * StreamOps.funnel and pinned separately by StreamingEquivalenceSpec.
  */
class StreamingReplaySpec extends GraftSpec {

  private val sf = TestEnv.Sf001
  private val BatchSize = 250 // 1000 events @sf0.001 → 4 data batches

  private val payloadSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts_us", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  private var nextId = 0

  /** Stage `events` (plus an optional far-future sentinel, for session
    * flushing — same trick as EventStream.readEventsWithSentinel) into a
    * fresh single-shard fake stream in event-time order, and return the
    * decoded streaming DataFrame with the exact readEvents schema.
    */
  private def eventsViaKinesis(withSentinel: Boolean): DataFrame = {
    nextId += 1
    val id = s"replay_${System.identityHashCode(this)}_$nextId"
    val svc = FakeKinesisRegistry.create(id)
    svc.createStream("ev", 1)
    val recs = Tables.events(spark, sf)
      .orderBy(col("ts"), col("event_id"))
      .select(col("user_id"),
        to_json(struct(col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("user_id"), col("event_type"), col("value"), col("props"))).as("j"))
      .collect()
      .map(r => (s"u${r.getLong(0)}", r.getString(1).getBytes(UTF_8)))
    svc.putRecords("ev", recs.toSeq)
    if (withSentinel) {
      val sentinelUs = 4102444800000000L // 2100-01-01T00:00:00Z in µs
      svc.putRecords("ev", Seq(("sentinel",
        s"""{"event_id":-1,"ts_us":$sentinelUs,"user_id":-1,"event_type":"sentinel","value":0.0,"props":"{}"}"""
          .getBytes(UTF_8))))
    }
    val raw = spark.readStream.format("kinesis")
      .option("streams", "ev")
      .option("initialPosition", "trim_horizon")
      .option("fake.id", id)
      .option("maxRecordsPerTrigger", BatchSize.toString)
      .load()
    Payload.json(raw, payloadSchema)
      .select(col("event_id"), timestamp_micros(col("ts_us")).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
  }

  private def runReplay(name: String, mode: String,
      xform: DataFrame => DataFrame, withSentinel: Boolean = false): DataFrame =
    EventStream.runAvailableNow(spark, s"replay_$name",
      xform(eventsViaKinesis(withSentinel)), mode)

  private def canon(df: DataFrame, keys: String*): Seq[Seq[String]] =
    TestEnv.sparkRows(df.orderBy(keys.map(col): _*))._2

  private def assertSame(streamed: DataFrame, batch: DataFrame, keys: String*): Unit = {
    val s = canon(streamed, keys: _*)
    val b = canon(batch, keys: _*)
    assert(s.size == b.size, s"row counts differ: replay=${s.size} batch=${b.size}")
    assert(s == b)
  }

  private lazy val batchEvents = Tables.events(spark, sf)

  test("S1 tumbling over a 4-batch kinesis replay equals batch") {
    assertSame(runReplay("s1", "complete", StreamOps.tumbling),
      StreamOps.tumbling(batchEvents), "ws", "event_type")
  }

  test("S2 sliding over a 4-batch kinesis replay equals batch") {
    assertSame(runReplay("s2", "complete", StreamOps.sliding),
      StreamOps.sliding(batchEvents), "ws", "event_type")
  }

  test("S14 CMS cells over a 4-batch kinesis replay equals batch") {
    // The sketch state is the 4×16 counter matrix regardless of user
    // cardinality; additive merges commute, so the rate-limited replay
    // must land on the identical cells.
    assertSame(runReplay("s14", "complete", StreamOps.cmsUserCells),
      StreamOps.cmsUserCells(batchEvents), "i", "b")
  }

  test("S3 sessions flush across real batch boundaries (sentinel-closed)") {
    val streamed = runReplay("s3", "append", StreamOps.sessions,
      withSentinel = true).where(col("user_id") =!= -1L)
    assertSame(streamed, StreamOps.sessions(batchEvents),
      "user_id", "session_start")
  }

  test("S4 watermarked append emits exactly the windows the final watermark closes") {
    val maxTs = batchEvents.agg(max(col("ts"))).collect().head.getTimestamp(0)
    val batch = StreamOps.watermarkTumbling(batchEvents)
      .where(col("ws") + expr("INTERVAL 1 HOUR") <=
        lit(maxTs) - expr("INTERVAL 2 HOURS"))
    assertSame(runReplay("s4", "append", StreamOps.watermarkTumbling),
      batch, "ws", "event_type")
  }

  test("S5 dedup over a 4-batch replay covers the batch key set exactly") {
    // dropDuplicatesWithinWatermark guarantees dedup WITHIN the watermark:
    // a key can legitimately re-emit once the (multi-batch-advanced)
    // watermark expires its state, so the row-for-row single-batch
    // comparison does not apply — the contract that does is set equality:
    // no key lost, nothing fabricated (re-emissions are exact dup rows).
    val streamed = runReplay("s5", "append", StreamOps.dedupKeys)
    val batch = batchEvents.select(col("user_id"), col("event_type")).distinct()
    assertSame(streamed.distinct(), batch, "user_id", "event_type")
  }

  test("S6 stream-stream join over a 4-batch replay equals the batch join") {
    assertSame(runReplay("s6", "append", StreamOps.purchaseClickJoin),
      StreamOps.purchaseClickJoin(batchEvents), "p_event_id", "c_event_id")
  }

  test("S15 left-outer join over a 4-batch replay equals the batch left join") {
    // Outer state resolves across REAL batch boundaries here: matches emit
    // as their batches arrive, withheld unmatched purchases flush when the
    // sentinel (riding the final batch) pushes the watermark past their
    // bands — and the union must still equal the batch left join.
    val streamed = runReplay("s15", "append", StreamOps.purchaseClickLeftJoin,
      withSentinel = true).where(col("user_id") =!= -1L)
    assertSame(streamed, StreamOps.purchaseClickLeftJoin(batchEvents),
      "p_event_id", "c_event_id")
  }

  test("S16 full-outer join over a 4-batch replay equals the batch full join") {
    // Both sides' outer state resolves across REAL batch boundaries:
    // matches emit as their batches arrive, and BOTH stores' withheld
    // rows (unmatched purchases AND unmatched clicks) flush when the
    // sentinel pushes the two watermarks past their bands.
    val streamed = runReplay("s16", "append", StreamOps.purchaseClickFullJoin,
      withSentinel = true).where(col("user_id") =!= -1L)
      .withColumn("pk", coalesce(col("p_event_id"), lit(-1L)))
      .withColumn("ck", coalesce(col("c_event_id"), lit(-1L)))
    val batch = StreamOps.purchaseClickFullJoin(batchEvents)
      .withColumn("pk", coalesce(col("p_event_id"), lit(-1L)))
      .withColumn("ck", coalesce(col("c_event_id"), lit(-1L)))
    assertSame(streamed, batch, "pk", "ck")
  }

  test("S7 stream-static enrichment over a 4-batch replay equals batch") {
    val customer = Tables.customer(spark, sf)
    assertSame(
      runReplay("s7", "append", ev => StreamOps.staticEnrich(ev, customer)),
      StreamOps.staticEnrich(batchEvents, customer), "event_id")
  }

  test("S8 funnel state carries across the 4-batch replay, equals batch") {
    assertSame(runReplay("s8", "append", StreamOps.funnel),
      StreamOps.funnel(batchEvents), "user_id")
  }

  test("S13 incremental dedup over a 4-batch replay equals batch") {
    // The one declared streaming transform whose static side SHUFFLES (the
    // corpus-scale (h, n_old) ingest index — round-13 verdict #4: it
    // shipped without this row). The index is re-planned per micro-batch,
    // so the replay proves membership answers are identical no matter
    // which real batch boundary an event lands behind.
    val idx = StreamOps.incrementalIndex(batchEvents)
    assertSame(
      runReplay("s13", "append", ev => StreamOps.incrementalDedup(ev, idx)),
      StreamOps.incrementalDedup(batchEvents, idx), "event_id")
  }

  test("S12 static anti-join suppresses identically across the replay") {
    val customer = Tables.customer(spark, TestEnv.Sf001)
    assertSame(
      runReplay("s12", "append", ev => StreamOps.staticSuppress(ev, customer)),
      StreamOps.staticSuppress(batchEvents, customer), "event_id")
  }
}
