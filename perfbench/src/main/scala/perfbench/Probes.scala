package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{MinHash, VectorOps}
import graft.sources.kinesis._

/** A client that counts and traces every call before handing it to the
  * fake service.
  */
final class TracedClient(inner: KinesisClient, tr: Tracer) extends KinesisClient {
  var putCalls = 0L
  def listShards(stream: String): Seq[ShardInfo] = inner.listShards(stream)
  def getRecords(stream: String, shardId: String, from: Long, until: Long,
      limit: Int): Seq[KinesisRecord] =
    tr.span("reader.page", 2)(inner.getRecords(stream, shardId, from, until, limit))
  def latestSequence(stream: String, shardId: String): Long = inner.latestSequence(stream, shardId)
  def putRecords(stream: String, records: Seq[(String, Array[Byte])]): Unit = {
    putCalls += 1
    tr.span("fake.put", 2)(inner.putRecords(stream, records))
  }
}

final case class TracedFactory(fakeId: String, @transient tr: Tracer) extends KinesisClientFactory {
  def create(): KinesisClient = new TracedClient(FakeKinesisRegistry.get(fakeId), tr)
}

/** Layer probes: each layer's public functions timed from the outside on
  * inputs from the same seeded generators as the workloads. Timings are
  * medians of `Reps` repetitions after one untimed repetition.
  */
final class Probes(spark: SparkSession, seed: Long, tr: Tracer) {
  private val Reps = 3
  val out = mutable.LinkedHashMap.empty[String, (Double, String)]
  private def put(n: String, v: Double, u: String): Unit = out(n) = (v, u)

  private def median(xs: Seq[Double]): Double = { val s = xs.sorted; s(s.length / 2) }
  private def timeMs(f: => Unit): Double = { val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e6 }
  private def repeat(f: => Unit): Double = { f; median(Seq.fill(Reps)(timeMs(f))) }

  /** FakeKinesisService, the partition reader, Kpl, the sink's writer and
    * Payload, over the drain workload's event records.
    */
  def connector(events: Array[Gen.Event]): Unit = {
    val recs = Gen.eventPayloads(events)
    val n = recs.length
    // one deep shard
    val id = s"probe-$seed"
    val svc = FakeKinesisRegistry.create(id)
    svc.createStream("p", 1)
    val putMs = timeMs(Workloads.load(svc, "p", recs, tr))
    put("fake.put_us_per_record", putMs * 1000.0 / n, "us")
    val shard = svc.listShards("p").head
    val all = svc.allRecords("p")
    val head = shard.starting
    val tailFrom = all(n - 1000).sequenceNumber
    put("fake.page_ms_head", repeat(svc.getRecords("p", shard.shardId, head, Long.MaxValue, 1000)), "ms")
    put("fake.page_ms_tail", repeat(svc.getRecords("p", shard.shardId, tailFrom, Long.MaxValue, 1000)), "ms")
    put("fake.lag_probe_ms", repeat(svc.millisBehindLatest("p", shard.shardId, head)), "ms")

    val tip = svc.latestSequence("p", shard.shardId)
    val readMs = repeat {
      val r = new KinesisPartitionReader(
        KinesisInputPartition("p", shard.shardId, head, tip, TracedFactory(id, tr)))
      var c = 0
      while (r.next()) { r.get(); c += 1 }
      r.close()
      require(c == n, s"reader probe read $c of $n records")
    }
    put("reader.records_per_s", n / (readMs / 1000.0), "records/s")

    val chunks = recs.grouped(500).map(_.toSeq).toArray
    var blobs: Array[Array[Byte]] = null
    val aggMs = repeat { blobs = chunks.map(c => tr.span("kpl.aggregate", 2)(Kpl.aggregate(c))) }
    put("kpl.aggregate_records_per_s", n / (aggMs / 1000.0), "records/s")
    val parseMs = repeat {
      val back = blobs.map(b => tr.span("kpl.parse", 2)(Kpl.parse(b)).get.length).sum
      require(back == n, s"kpl probe parsed $back of $n records")
    }
    put("kpl.parse_records_per_s", n / (parseMs / 1000.0), "records/s")
    put("kpl.user_per_transport", n.toDouble / blobs.length, "ratio")

    var calls = 0L
    val sinkMs = repeat {
      val sid = s"probe-sink-$seed"
      FakeKinesisRegistry.create(sid).createStream("s", 4)
      val client = new TracedClient(FakeKinesisRegistry.get(sid), tr)
      val w = new KinesisDataWriter("s", client, 0, 1, kplAggregate = true)
      recs.foreach { case (pk, d) => w.write(InternalRow(UTF8String.fromString(pk), d)) }
      w.commit(); w.close()
      calls = client.putCalls
    }
    put("sink.records_per_s", n / (sinkMs / 1000.0), "records/s")
    put("sink.put_calls", calls.toDouble, "count")

    // Payload over the same bytes as batch DataFrames in the source's schema
    def asSource(rows: Seq[(String, Array[Byte])]): DataFrame = {
      val rs = rows.zipWithIndex.map { case ((pk, d), i) =>
        Row(d, "p", pk, f"$i%020d", shard.shardId, new java.sql.Timestamp(1714521600000L + i))
      }
      val df = spark.createDataFrame(rs.asJava, KinesisTableProvider.RecordSchema).cache()
      df.count()
      df
    }
    val plain = asSource(recs.toSeq)
    val jsonMs = repeat(Payload.json(plain, Workloads.EventSchema)
      .select(sum(hash(col("event_id"), col("user_id"), col("event_type"), col("ts"),
        col("value"), col("partitionKey")))).collect())
    put("payload.json_records_per_s", n / (jsonMs / 1000.0), "records/s")
    val agg = asSource(blobs.toSeq.zip(chunks).map { case (b, c) => (c.head._1, b) })
    val deaggMs = repeat(Payload.deaggregate(agg)
      .select(sum(hash(col("data"), col("partitionKey")))).collect())
    put("payload.deaggregate_records_per_s", n / (deaggMs / 1000.0), "records/s")
    plain.unpersist(true); agg.unpersist(true)
  }

  /** MinHash signatures and the bounded verify kernel over a corpus. */
  def operators(corpus: Gen.Corpus): Unit = {
    def tid(t: String): Long = {
      var h = 0xcbf29ce484222325L
      t.getBytes(UTF_8).foreach { b => h = (h ^ (b & 0xff)) * 0x100000001b3L }
      h
    }
    val ids = corpus.docs.map(d => d.tokens.map(tid).distinct.sorted)
    val exploded = spark.createDataFrame(
      ids.indices.flatMap(i => ids(i).map(t => Row(i.toLong, t & 0xffffffffL))).asJava,
      StructType(Seq(StructField("rep_id", LongType), StructField("tid", LongType)))).cache()
    exploded.count()
    val mhMs = repeat(exploded.groupBy(col("rep_id")).agg(MinHash.minhash(col("tid")).as("sig"))
      .select(sum(hash(col("sig")))).collect())
    put("minhash.docs_per_s", ids.length / (mhMs / 1000.0), "docs/s")
    exploded.unpersist(true)

    // fixed candidate set: every doc against 12 seeded partners
    val r = new java.util.SplittableRandom(seed ^ 0xBADC0DEL)
    val pairs = ids.indices.flatMap(i => Seq.fill(12)(r.nextInt(ids.length)).map(j =>
      Row(ids(i).toSeq, ids(j).toSeq)))
    val pdf = spark.createDataFrame(pairs.asJava, StructType(Seq(
      StructField("a_t", ArrayType(LongType, containsNull = false)),
      StructField("b_t", ArrayType(LongType, containsNull = false))))).cache()
    pdf.count()
    val vMs = repeat(pdf.select(sum(VectorOps.sortedIntersectCountBounded(
      col("a_t"), col("b_t"), 0.8))).collect())
    put("verify.pairs_per_s", pairs.length / (vMs / 1000.0), "pairs/s")
    pdf.unpersist(true)
  }
}
