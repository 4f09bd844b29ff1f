package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.kinesis._

/** SURVEY §5.2(4): connector tests against the deterministic fake service —
  * offset arithmetic, exactly-once replay across restarts, split/merge
  * resharding, throttling retries, initial positions, and the PutRecords
  * sink. This is the offline replacement for the reference's env-gated
  * real-AWS integration suites.
  */
class KinesisSourceSpec extends GraftSpec {

  private var nextId = 0
  private def freshFake(): (String, FakeKinesisService) = {
    nextId += 1
    val id = s"fake_${System.identityHashCode(this)}_$nextId"
    (id, FakeKinesisRegistry.create(id))
  }

  private def readAvailable(fakeId: String, streams: String,
      initialPosition: String = "trim_horizon",
      checkpoint: String = Files.createTempDirectory("graft_kinesis_ckpt").toString): DataFrame = {
    val df = spark.readStream
      .format("kinesis")
      .option("streams", streams)
      .option("initialPosition", initialPosition)
      .option("fake.id", fakeId)
      .load()
    val qn = "kinesis_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = df.writeStream.format("memory").queryName(qn)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.table(qn)
  }

  private def payloads(df: DataFrame): Seq[String] =
    df.select(col("data").cast("string")).collect().map(_.getString(0)).toSeq

  /** Restart-capable variant: the memory sink refuses checkpoint recovery,
    * so restart tests collect through foreachBatch instead (recovery
    * supported). Returns only THIS run's payload strings.
    */
  private def readAvailableForeach(fakeId: String, streams: String,
      checkpoint: String): Seq[String] = {
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val q = spark.readStream
      .format("kinesis")
      .option("streams", streams)
      .option("initialPosition", "trim_horizon")
      .option("fake.id", fakeId)
      .load()
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.select(col("data").cast("string")).collect()
          .foreach(r => buf.add(r.getString(0)))
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    scala.jdk.CollectionConverters.CollectionHasAsScala(buf).asScala.toSeq
  }

  test("e2e: reads every record exactly once across shards with full metadata") {
    val (id, svc) = freshFake()
    svc.createStream("s1", 3)
    val msgs = (1 to 100).map(i => (s"pk$i", s"""{"n":$i}""".getBytes(UTF_8)))
    svc.putRecords("s1", msgs)

    val out = readAvailable(id, "s1")
    assert(out.count() == 100)
    assert(payloads(out).sorted == msgs.map(m => new String(m._2, UTF_8)).sorted)
    // Metadata columns present and coherent.
    val row = out.orderBy(col("sequenceNumber")).collect().head
    assert(row.getAs[String]("streamName") == "s1")
    assert(row.getAs[String]("shardId").startsWith("shardId-"))
    assert(row.getAs[String]("sequenceNumber").length == 20)
    assert(row.getAs[java.sql.Timestamp]("approximateArrivalTimestamp") != null)
    // Distribution actually used multiple shards (pk hash routing).
    assert(out.select(col("shardId")).distinct().count() == 3)
  }

  test("per-shard ordering: sequence numbers are monotonic within each shard") {
    val (id, svc) = freshFake()
    svc.createStream("s1", 2)
    svc.putRecords("s1", (1 to 50).map(i => (s"pk$i", Array[Byte](i.toByte))))
    val rows = readAvailable(id, "s1")
      .select(col("shardId"), col("sequenceNumber")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    rows.groupBy(_._1).foreach { case (_, rs) =>
      val seqs = rs.map(_._2).toSeq
      assert(seqs == seqs.sorted, "per-shard order must be preserved")
    }
  }

  test("restart from checkpoint: second run reads only the new records (exactly-once)") {
    val (id, svc) = freshFake()
    svc.createStream("s1", 2)
    val ckpt = Files.createTempDirectory("graft_kinesis_restart").toString

    svc.putRecords("s1", (1 to 10).map(i => (s"a$i", s"first$i".getBytes(UTF_8))))
    val first = readAvailableForeach(id, "s1", ckpt)
    assert(first.size == 10)

    svc.putRecords("s1", (1 to 5).map(i => (s"b$i", s"second$i".getBytes(UTF_8))))
    val second = readAvailableForeach(id, "s1", ckpt)
    assert(second.size == 5, "restart must resume from the checkpointed offset")
    assert(second.forall(_.startsWith("second")))
  }

  test("reshard split: parent drains to its end, children picked up, no loss no dup") {
    val (id, svc) = freshFake()
    svc.createStream("s1", 1)
    svc.putRecords("s1", (1 to 20).map(i => (s"pk$i", s"pre$i".getBytes(UTF_8))))
    val parent = svc.listShards("s1").head.shardId
    svc.splitShard("s1", parent)
    svc.putRecords("s1", (1 to 20).map(i => (s"pk$i", s"post$i".getBytes(UTF_8))))

    val out = readAvailable(id, "s1")
    assert(out.count() == 40)
    assert(payloads(out).toSet ==
      ((1 to 20).map(i => s"pre$i") ++ (1 to 20).map(i => s"post$i")).toSet)
    // Children actually served the post-split records.
    val postShards = out.where(col("data").cast("string").startsWith("post"))
      .select(col("shardId")).distinct().collect().map(_.getString(0)).toSet
    assert(postShards.forall(_ != parent), "post-split records must be in children")
  }

  test("reshard merge: both parents drain, merged child serves new writes") {
    val (id, svc) = freshFake()
    svc.createStream("s1", 2)
    svc.putRecords("s1", (1 to 12).map(i => (s"pk$i", s"pre$i".getBytes(UTF_8))))
    val Seq(a, b) = svc.listShards("s1").map(_.shardId).toSeq
    svc.mergeShards("s1", a, b)
    svc.putRecords("s1", (1 to 8).map(i => (s"pk$i", s"post$i".getBytes(UTF_8))))

    val out = readAvailable(id, "s1")
    assert(out.count() == 20)
    val postShard = out.where(col("data").cast("string").startsWith("post"))
      .select(col("shardId")).distinct().collect().map(_.getString(0)).toSet
    assert(postShard.size == 1 && !postShard.contains(a) && !postShard.contains(b))
  }

  test("mid-stream reshard between micro-batches via checkpoint restart") {
    val (id, svc) = freshFake()
    svc.createStream("s1", 1)
    val ckpt = Files.createTempDirectory("graft_kinesis_reshard2").toString
    svc.putRecords("s1", (1 to 7).map(i => (s"k$i", s"one$i".getBytes(UTF_8))))
    assert(readAvailableForeach(id, "s1", ckpt).size == 7)

    val parent = svc.listShards("s1").head.shardId
    svc.splitShard("s1", parent)
    svc.putRecords("s1", (1 to 9).map(i => (s"k$i", s"two$i".getBytes(UTF_8))))
    val second = readAvailableForeach(id, "s1", ckpt)
    assert(second.size == 9, "children discovered from a checkpointed offset")
    assert(second.forall(_.startsWith("two")))
  }

  test("initialPosition=latest skips history; trim_horizon replays it") {
    val (id, svc) = freshFake()
    svc.createStream("s1", 1)
    svc.putRecords("s1", Seq(("old", "old".getBytes(UTF_8))))
    assert(readAvailable(id, "s1", initialPosition = "latest").count() == 0)
    assert(readAvailable(id, "s1", initialPosition = "trim_horizon").count() == 1)
  }

  test("multiple streams fan-in via comma-separated 'streams' option") {
    val (id, svc) = freshFake()
    svc.createStream("s1", 1)
    svc.createStream("s2", 2)
    svc.putRecords("s1", (1 to 3).map(i => (s"a$i", s"s1_$i".getBytes(UTF_8))))
    svc.putRecords("s2", (1 to 4).map(i => (s"b$i", s"s2_$i".getBytes(UTF_8))))
    val out = readAvailable(id, "s1, s2")
    assert(out.count() == 7)
    assert(out.select(col("streamName")).distinct().count() == 2)
  }

  test("throttling: injected ProvisionedThroughputExceeded errors are retried, result exact") {
    val (id, svc) = freshFake()
    svc.createStream("s1", 2)
    svc.putRecords("s1", (1 to 30).map(i => (s"pk$i", s"r$i".getBytes(UTF_8))))
    svc.failNextGetRecords(3)
    val out = readAvailable(id, "s1")
    assert(out.count() == 30)
  }

  test("throttling during rate-limited planning: offsets are planned from positions, result exact") {
    // Offset planning under maxRecordsPerTrigger must not page records on
    // the driver: there a throttling error has no retry and fails the query.
    val (id, svc) = freshFake()
    svc.createStream("s1", 2)
    svc.putRecords("s1", (1 to 30).map(i => (s"pk$i", s"r$i".getBytes(UTF_8))))
    svc.failNextGetRecords(3)
    val df = spark.readStream.format("kinesis")
      .option("streams", "s1")
      .option("initialPosition", "trim_horizon")
      .option("maxRecordsPerTrigger", "10")
      .option("fake.id", id)
      .load()
    val qn = "kthrottle_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = df.writeStream.format("memory").queryName(qn)
      .option("checkpointLocation",
        Files.createTempDirectory("graft_kinesis_throttle_ac").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(payloads(spark.table(qn)).sorted == (1 to 30).map(i => s"r$i").sorted)
  }

  test("initialPosition=at_timestamp starts at the first record at-or-after the timestamp") {
    val (id, svc) = freshFake()
    svc.createStream("s1", 1)
    svc.putRecords("s1", (1 to 6).map(i => (s"k$i", s"early$i".getBytes(UTF_8))))
    val cutoff = svc.allRecords("s1").last.approximateArrivalMs + 1
    svc.putRecords("s1", (1 to 4).map(i => (s"k$i", s"late$i".getBytes(UTF_8))))

    val df = spark.readStream.format("kinesis")
      .option("streams", "s1")
      .option("initialPosition", "at_timestamp")
      .option("startingTimestamp", cutoff.toString)
      .option("fake.id", id)
      .load()
    val qn = "kats_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = df.writeStream.format("memory").queryName(qn)
      .option("checkpointLocation",
        Files.createTempDirectory("graft_kinesis_ats").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = payloads(spark.table(qn))
    assert(got.size == 4 && got.forall(_.startsWith("late")))
  }

  test("admission control: maxRecordsPerTrigger bounds each micro-batch, all records exactly once") {
    val (id, svc) = freshFake()
    svc.createStream("s1", 2)
    svc.putRecords("s1", (1 to 100).map(i => (s"pk$i", s"r$i".getBytes(UTF_8))))

    val batchSizes = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = spark.readStream.format("kinesis")
      .option("streams", "s1")
      .option("initialPosition", "trim_horizon")
      .option("maxRecordsPerTrigger", "30")
      .option("fake.id", id)
      .load()
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batchSizes.add(batch.count()); ()
      }
      .option("checkpointLocation",
        Files.createTempDirectory("graft_kinesis_ac").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val sizes = scala.jdk.CollectionConverters.CollectionHasAsScala(batchSizes)
      .asScala.toSeq.filter(_ > 0)
    assert(sizes.sum == 100, s"exactly-once across rate-limited batches, got $sizes")
    assert(sizes.size >= 3, s"budget 30 must split 100 records into several batches, got $sizes")
    // even split across 2 shards: each batch ≤ budget (+1 per shard rounding)
    assert(sizes.forall(_ <= 32), s"per-batch cap violated: $sizes")
  }

  test("payload decode: Payload.json parses data into typed columns") {
    val (id, svc) = freshFake()
    svc.createStream("s1", 1)
    svc.putRecords("s1",
      (1 to 5).map(i => (s"pk$i", s"""{"n":$i,"tag":"t$i"}""".getBytes(UTF_8))))
    val raw = readAvailable(id, "s1")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("n", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("tag", org.apache.spark.sql.types.StringType)))
    val typed = Payload.json(raw, schema)
    assert(typed.agg(sum(col("n"))).collect().head.getLong(0) == 15L)
    assert(typed.columns.contains("tag") && typed.columns.contains("sequenceNumber"))
  }

  test("admission control across a reshard: child shards enter the budget at their birth") {
    val (id, svc) = freshFake()
    svc.createStream("s1", 1)
    svc.putRecords("s1", (1 to 40).map(i => (s"k$i", s"pre$i".getBytes(UTF_8))))
    svc.splitShard("s1", svc.listShards("s1").head.shardId)
    svc.putRecords("s1", (1 to 40).map(i => (s"k$i", s"post$i".getBytes(UTF_8))))

    val batchSizes = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = spark.readStream.format("kinesis")
      .option("streams", "s1")
      .option("initialPosition", "trim_horizon")
      .option("maxRecordsPerTrigger", "20")
      .option("fake.id", id)
      .load()
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batchSizes.add(batch.count()); ()
      }
      .option("checkpointLocation",
        Files.createTempDirectory("graft_kinesis_ac2").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val sizes = scala.jdk.CollectionConverters.CollectionHasAsScala(batchSizes)
      .asScala.toSeq.filter(_ > 0)
    assert(sizes.sum == 80, s"exactly-once across reshard + rate limit, got $sizes")
    // budget 20 split across ≤3 pending shards, +1 rounding each
    assert(sizes.forall(_ <= 23), s"per-batch cap violated across reshard: $sizes")
    assert(sizes.size >= 4, s"80 records under budget 20 need several batches: $sizes")
  }

  test("payload decode: Payload.csv parses headerless CSV payloads") {
    val (id, svc) = freshFake()
    svc.createStream("s1", 1)
    svc.putRecords("s1",
      (1 to 4).map(i => (s"pk$i", s"$i,name$i,${i * 1.5}".getBytes(UTF_8))))
    val raw = readAvailable(id, "s1")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("name", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("score", org.apache.spark.sql.types.DoubleType)))
    val typed = Payload.csv(raw, schema).orderBy(col("id"))
    val rows = typed.collect()
    assert(rows.length == 4)
    assert(rows.map(_.getAs[String]("name")).toSeq == (1 to 4).map(i => s"name$i"))
    assert(rows.last.getAs[Double]("score") == 6.0)
  }

  test("payload decode: Payload.utf8 exposes text with metadata intact") {
    val (id, svc) = freshFake()
    svc.createStream("s1", 1)
    svc.putRecords("s1", Seq(("k", "héllo wörld".getBytes(UTF_8))))
    val out = Payload.utf8(readAvailable(id, "s1")).collect().head
    assert(out.getAs[String]("text") == "héllo wörld")
    assert(out.getAs[String]("sequenceNumber").nonEmpty)
  }

  test("sink: writeStream format kinesis delivers all rows via PutRecords") {
    val (id, svc) = freshFake()
    svc.createStream("out", 2)
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val ms = MemoryStream[(String, String)]
    ms.addData((1 to 25).map(i => (s"pk$i", s"payload$i")): _*)
    val q = ms.toDF().toDF("pk", "txt")
      .select(col("pk").as("partitionKey"), col("txt").cast("binary").as("data"))
      .writeStream
      .format("kinesis")
      .option("streams", "out")
      .option("fake.id", id)
      .option("checkpointLocation",
        Files.createTempDirectory("graft_kinesis_sink").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val stored = svc.allRecords("out")
    assert(stored.size == 25)
    assert(stored.map(r => new String(r.data, UTF_8)).sorted ==
      (1 to 25).map(i => s"payload$i").sorted)
    assert(stored.map(_.shardId).distinct.size == 2, "keys spread across shards")
  }

  test("sink kplAggregate: fewer transport records, deaggregate restores every row") {
    val (id, svc) = freshFake()
    svc.createStream("out_agg", 1)
    val s = spark
    import s.implicits._
    implicit val sq = s.sqlContext
    val ms = MemoryStream[(String, String)]
    ms.addData((1 to 200).map(i => (s"pk${i % 7}", s"payload$i")): _*)
    val q = ms.toDF().toDF("pk", "txt")
      .select(col("pk").as("partitionKey"), col("txt").cast("binary").as("data"))
      .writeStream
      .format("kinesis")
      .option("streams", "out_agg")
      .option("fake.id", id)
      .option("kplAggregate", "true")
      .option("kplMaxAggregatedSize", "512") // force several blobs
      .option("checkpointLocation",
        Files.createTempDirectory("graft_kinesis_sink_agg").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val stored = svc.allRecords("out_agg")
    assert(stored.size < 200 && stored.size > 1,
      s"expected aggregated transport records, got ${stored.size}")
    // Read back through the source + deaggregation: every row, its own key.
    val got = Payload.deaggregate(readAvailable(id, "out_agg"))
      .select(col("partitionKey"), col("data").cast("string"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == (1 to 200).map(i => (s"pk${i % 7}", s"payload$i")).toSet)
  }

  test("source→transform→sink roundtrip: kinesis in, StreamOps window agg, kinesis out semantics") {
    // The full identity flow of the reference: ingest a stream, run a
    // relational transform, and the result matches the same transform over
    // the same records read as a batch.
    val (id, svc) = freshFake()
    svc.createStream("s1", 2)
    val base = 1700003600L
    val msgs = (0 until 60).map { i =>
      (s"u${i % 6}", s"""{"user":${i % 6},"t":${base + i * 60}}""".getBytes(UTF_8))
    }
    svc.putRecords("s1", msgs)

    val raw = readAvailable(id, "s1")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("t", org.apache.spark.sql.types.LongType)))
    val agg = Payload.json(raw, schema)
      .select(col("user"), timestamp_seconds(col("t")).as("ts"))
      .groupBy(window(col("ts"), "30 minutes"), col("user"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("user"), col("n"))
      .orderBy(col("ws"), col("user"))
      .collect().toSeq

    assert(agg.nonEmpty && agg.map(_.getAs[Long]("n")).sum == 60)
  }

  test("KPL-aggregated payloads roundtrip: fake producer → source → deaggregate decode") {
    // Real producers aggregate by default (SURVEY §2.1 KPLBasedKinesisTestUtils
    // row): mixed traffic of one aggregated blob + plain records must come
    // out as the member records with their own partition keys.
    val (id, svc) = freshFake()
    svc.createStream("kpl1", 2)
    val agg = Kpl.aggregate(Seq(
      "u1" -> """{"v":1}""".getBytes(UTF_8),
      "u2" -> """{"v":2}""".getBytes(UTF_8),
      "u1" -> """{"v":3}""".getBytes(UTF_8)))
    svc.putRecords("kpl1", Seq("blob_pk" -> agg, "plain_pk" -> "plain".getBytes(UTF_8)))

    val out = Payload.deaggregate(readAvailable(id, "kpl1"))
    val got = out.select(col("partitionKey"), col("data").cast("string"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(("u1", """{"v":1}"""), ("u2", """{"v":2}"""),
      ("u1", """{"v":3}"""), ("plain_pk", "plain")))
    assert(out.count() == 4)
    // Members inherit the blob's transport metadata (shard + sequence).
    val memberSeqs = out.where(col("partitionKey").startsWith("u"))
      .select(col("sequenceNumber")).collect().map(_.getString(0)).distinct
    assert(memberSeqs.length == 1, "all members share the aggregated record's sequence")
  }

  test("source metrics: records-pending lag surfaces in StreamingQueryProgress") {
    val (id, svc) = freshFake()
    svc.createStream("m1", 2)
    svc.putRecords("m1", (1 to 90).map(i => (s"pk$i", s"r$i".getBytes(UTF_8))))

    val df = spark.readStream.format("kinesis")
      .option("streams", "m1")
      .option("initialPosition", "trim_horizon")
      .option("fake.id", id)
      .option("maxRecordsPerTrigger", "30") // force a multi-batch drain
      .load()
    val qn = "kinesis_metrics_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = df.writeStream.format("memory").queryName(qn)
      .option("checkpointLocation",
        Files.createTempDirectory("graft_kinesis_metrics").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    assert(spark.table(qn).count() == 90)
    val metrics = q.recentProgress.toSeq
      .filter(_.sources.nonEmpty).map(_.sources.head.metrics)
    assert(metrics.nonEmpty, "expected source metrics in progress events")
    metrics.foreach { m =>
      assert(m.containsKey("recordsPendingTotal") &&
        m.containsKey("maxRecordsPendingPerShard") &&
        m.containsKey("maxMillisBehindLatest") && m.containsKey("shardsTotal"),
        s"missing metric keys in $m")
      assert(m.get("shardsTotal") == "2")
    }
    val pendings = metrics.map(_.get("recordsPendingTotal").toLong)
    // Mid-drain progress events must show real lag; the final one shows 0.
    assert(pendings.head > 0, s"first batch should report lag, got $pendings")
    assert(pendings.last == 0, s"drained stream must report zero lag, got $pendings")
    // Time lag (MillisBehindLatest analog) must track the record lag: the
    // fake clock advances 1 ms per put, so a mid-drain event lags by
    // (records pending on the worst shard − 1) ms. The implication is
    // one-way — a single pending record IS the tip, so its stream-time lag
    // is legitimately 0 ms while the record count still reads 1.
    val millis = metrics.map(_.get("maxMillisBehindLatest").toLong)
    assert(millis.head > 0, s"first batch should report time lag, got $millis")
    assert(millis.last == 0, s"drained stream must report zero time lag, got $millis")
    assert(millis.zip(pendings).forall { case (ms, rec) => ms == 0 || rec > 0 },
      s"time lag without record lag is impossible: $millis vs $pendings")
    // Round-7 verdict "next round" #5: the metric must DECREASE as the
    // rate-limited drain progresses, not merely exist. No new data arrives
    // during the drain (fake clock advances only on put), so the sequence
    // must be non-increasing, and a real multi-batch drain must show at
    // least two distinct positive readings on its way to 0.
    assert(millis.sliding(2).forall { case Seq(a, b) => b <= a; case _ => true },
      s"lag must not increase while draining a static backlog: $millis")
    assert(millis.distinct.count(_ > 0) >= 2,
      s"a multi-batch drain must show the lag stepping down, got $millis")
  }

  test("millisBehindLatest on a closed shard derives from the shard's own records") {
    // Round-7 ADVICE: a closed shard's endingSequenceNumber is assigned at
    // reshard time from the service-global sequence counter, so `tip - 1`
    // need not be a record of THIS shard — a naive tip-1 probe then finds
    // nothing and silently reports 0 ms while the parent still has
    // unconsumed records. Arrange exactly that: split the shard that does
    // NOT hold the globally-last record.
    val (_, svc) = freshFake()
    svc.createStream("lag1", 2)
    svc.putRecords("lag1", (1 to 40).map(i => (s"pk$i", s"r$i".getBytes(UTF_8))))
    val all = svc.allRecords("lag1")
    val globalLast = all.maxBy(_.sequenceNumber)
    val victim = svc.listShards("lag1").map(_.shardId)
      .find(_ != globalLast.shardId).get
    val own = all.filter(_.shardId == victim)
    assert(own.nonEmpty, "routing should populate both shards")
    svc.splitShard("lag1", victim)
    assert(svc.listShards("lag1").find(_.shardId == victim).get.isClosed)
    val expected = own.last.approximateArrivalMs - own.head.approximateArrivalMs
    val got = svc.millisBehindLatest("lag1", victim, 0L)
    assert(got == expected && got > 0,
      s"closed-shard lag must span the shard's own records: got $got, expected $expected")
  }
}
