package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

import graft.{Cleanup, SparkEntry}
import graft.sources.kinesis.{FakeKinesisRegistry, FakeKinesisService, Payload}
import graft.streaming.StreamOps

/** Raised when a program output differs from the reference. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

/** Shared plumbing of the three workloads. One operation is timed from the
  * outside by the caller; `check` runs untimed after it.
  */
abstract class Workload(val spark: SparkSession, val seed: Long, val work: Path, val tr: Tracer) {
  def name: String
  /** Generates the inputs and hands them to the program. */
  def setup(): Unit
  /** One timed operation. */
  def run(): Unit
  /** User records (or documents) one operation processes. */
  def recordsPerOp: Long
  /** Checks the last operation's output; returns its failed operations. */
  def check(): Long
  /** Operations one `run` attempts (checked items for the dedup pass). */
  def attemptedPerOp: Long
  /** Samples of this workload's latency metric from the last operation. */
  def latencySamplesMs: Seq[Double]
  /** Untimed operations before the timed loop, enough for the JIT to
    * settle (measured: the first operations of a process run 20-30% slow).
    */
  def warmUpOps: Int
  /** Untimed check made once per process, as the first warm-up step. */
  def checkOnce(): Unit = ()

  /** Micro-batch progress of every traced operation. */
  val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]

  /** A new directory under the work dir; the previous operation's are
    * removed by [[newOp]].
    */
  private val opDirs = mutable.ArrayBuffer.empty[String]
  protected def freshDir(prefix: String): String = {
    val d = work.resolve(s"$prefix-${Workload.dirs.incrementAndGet()}").toString
    opDirs += d
    d
  }
  protected def newOp(): Unit = {
    opDirs.foreach { p =>
      val root = java.nio.file.Paths.get(p)
      if (Files.exists(root))
        Files.walk(root).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    }
    opDirs.clear()
  }

  /** Runs a query to its end under AvailableNow and keeps its progress. */
  protected def await(q: StreamingQuery): Array[StreamingQueryProgress] = {
    q.awaitTermination()
    q.exception.foreach(e => throw e)
    val ps = q.recentProgress.filter(_.durationMs.containsKey("triggerExecution"))
    if (tr.enabled) {
      ps.foreach { p =>
        val s = tr.fromEpoch(java.time.Instant.parse(p.timestamp).toEpochMilli)
        tr.add("batch", 2, s, s + p.durationMs.get("triggerExecution").doubleValue)
      }
      progress ++= ps
    }
    ps
  }
}

object Workload {
  private val dirs = new java.util.concurrent.atomic.AtomicInteger()
}

object Workloads {
  val EventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("ts", TimestampType),
    StructField("value", DoubleType)))

  def apply(name: String, spark: SparkSession, seed: Long, work: Path, tr: Tracer): Workload =
    name match {
      case "kinesis_drain"         => new Drain(spark, seed, work, tr)
      case "kinesis_kpl_roundtrip" => new Roundtrip(spark, seed, work, tr)
      case "corpus_dedup"          => new Dedup(spark, seed, work, tr)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }

  val Names: Seq[String] = Seq("kinesis_drain", "kinesis_kpl_roundtrip", "corpus_dedup")

  /** Puts `recs` in PutRecords-sized calls of 500, one span per call. */
  def load(svc: FakeKinesisService, stream: String, recs: Array[(String, Array[Byte])],
      tr: Tracer): Unit =
    recs.grouped(500).foreach(b => tr.span("fake.put", 2)(svc.putRecords(stream, b.toSeq)))
}

/** Read path: a deep JSON backlog on 4 shards drained by the kinesis source
  * under AvailableNow with a per-trigger cap, through Payload.json and
  * StreamOps.tumbling into a complete-mode memory sink.
  */
final class Drain(spark: SparkSession, seed: Long, work: Path, tr: Tracer)
    extends Workload(spark, seed, work, tr) {
  val name = "kinesis_drain"
  val Shards = 4
  val Records = 160000
  val MaxPerTrigger = 40000
  private val fakeId = s"drain-$seed"
  lazy val events: Array[Gen.Event] = Gen.events(seed, Records)
  private lazy val expected = Reference.tumbling(events)
  private var ops = 0
  private var last: (String, Array[StreamingQueryProgress]) = _

  def recordsPerOp: Long = Records
  def attemptedPerOp: Long = 1
  def warmUpOps: Int = 2 // after the exactly-once drain of checkOnce

  def setup(): Unit = {
    val svc = FakeKinesisRegistry.create(fakeId)
    svc.createStream("events", Shards)
    Workloads.load(svc, "events", Gen.eventPayloads(events), tr)
  }

  private def source() = spark.readStream.format("kinesis")
    .option("streams", "events")
    .option("initialPosition", "trim_horizon")
    .option("fake.id", fakeId)
    .option("maxRecordsPerTrigger", MaxPerTrigger.toLong)
    .load()

  def run(): Unit = {
    newOp()
    ops += 1
    val view = s"drain_$ops"
    val q = StreamOps.tumbling(Payload.json(source(), Workloads.EventSchema))
      .writeStream.format("memory").queryName(view).outputMode("complete")
      .option("checkpointLocation", freshDir("ckpt"))
      .trigger(Trigger.AvailableNow()).start()
    last = (view, tr.span("query.drain", 1)(await(q)))
  }

  def latencySamplesMs: Seq[Double] =
    last._2.map(_.durationMs.get("triggerExecution").doubleValue).toSeq

  def check(): Long = {
    val (view, ps) = last
    val got = spark.table(view).collect().map { r =>
      (r.getTimestamp(0).getTime / 1000L, r.getString(1)) -> (r.getLong(2), r.getDouble(3))
    }
    spark.catalog.dropTempView(view)
    if (got.length != expected.size || got.map(_._1).toSet != expected.keySet)
      throw new CheckFailed(s"drain: ${got.length} windows, expected ${expected.size}")
    got.foreach { case (k, (n, sum)) =>
      val (en, cents) = expected(k)
      if (n != en || sum != BigDecimal(cents, 2).toDouble)
        throw new CheckFailed(s"drain: window $k has ($n, $sum), expected ($en, ${BigDecimal(cents, 2)})")
    }
    val batches = ps.count(_.numInputRows > 0)
    if (batches < 2) throw new CheckFailed(s"drain: one drain spanned $batches micro-batches")
    0L
  }

  /** Exactly-once delivery: a drain that lands every event_id. */
  override def checkOnce(): Unit = {
    val view = "drain_ids"
    val q = Payload.json(source(), Workloads.EventSchema).select(col("event_id"))
      .writeStream.format("memory").queryName(view).outputMode("append")
      .option("checkpointLocation", freshDir("ckpt"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q.exception.foreach(e => throw e)
    val ids = spark.table(view).collect().map(_.getLong(0))
    spark.catalog.dropTempView(view)
    val seen = new Array[Int](Records)
    ids.foreach(i => if (i >= 0 && i < Records) seen(i.toInt) += 1
      else throw new CheckFailed(s"drain: unknown event_id $i"))
    val bad = seen.count(_ != 1)
    if (bad != 0) throw new CheckFailed(s"drain: $bad event_ids not delivered exactly once")
  }
}

/** Write path beside the read path: keyed records through the kinesis sink
  * with KPL aggregation, then read back through Payload.deaggregate and
  * Payload.json, landing every record.
  */
final class Roundtrip(spark: SparkSession, seed: Long, work: Path, tr: Tracer)
    extends Workload(spark, seed, work, tr) {
  val name = "kinesis_kpl_roundtrip"
  val Shards = 4
  val Records = 100000
  val Keys = 64
  val Writers = 4
  val ReadMaxPerTrigger = 60 // transport (aggregated) records per trigger
  private val fakeId = s"roundtrip-$seed"
  private val schema = StructType(Seq(
    StructField("k", StringType), StructField("n", IntegerType), StructField("pad", StringType)))
  lazy val records: Array[Gen.KeyedRecord] = Gen.keyedRecords(seed, Records, Keys)
  /** One block per writer task; a key's records stay in one block, in order. */
  private lazy val blocks = {
    val b = Array.fill(Writers)(mutable.ArrayBuffer.empty[(String, Array[Byte])])
    records.foreach(r => b(r.key.hashCode.abs % Writers) += ((r.key, r.payload)))
    b.map(_.toSeq)
  }
  private var ops = 0
  private var svc: FakeKinesisService = _
  private var last: (String, Seq[Double]) = _
  var transport = 0L

  def recordsPerOp: Long = Records
  def attemptedPerOp: Long = 1
  def warmUpOps: Int = 4

  def setup(): Unit = { blocks; () }

  def run(): Unit = {
    newOp()
    ops += 1
    svc = FakeKinesisRegistry.create(fakeId)
    svc.createStream("rt", Shards)
    val ms = MemoryStream[(String, Array[Byte])](
      Encoders.tuple(Encoders.STRING, Encoders.BINARY), spark)
    blocks.foreach(b => ms.addData(b))
    val w = ms.toDF().toDF("partitionKey", "data").writeStream.format("kinesis")
      .option("streams", "rt").option("fake.id", fakeId)
      .option("kplAggregate", "true")
      .option("checkpointLocation", freshDir("ckpt"))
      .trigger(Trigger.AvailableNow()).start()
    val wp = tr.span("query.write", 1)(await(w))
    val view = s"rt_$ops"
    val raw = spark.readStream.format("kinesis")
      .option("streams", "rt").option("initialPosition", "trim_horizon")
      .option("fake.id", fakeId)
      .option("maxRecordsPerTrigger", ReadMaxPerTrigger.toLong)
      .load()
    val r = Payload.json(Payload.deaggregate(raw), schema)
      .select(col("partitionKey"), col("sequenceNumber"), col("k"), col("n"), col("pad"))
      .writeStream.format("memory").queryName(view).outputMode("append")
      .option("checkpointLocation", freshDir("ckpt"))
      .trigger(Trigger.AvailableNow()).start()
    val rp = tr.span("query.read", 1)(await(r))
    last = (view, (wp ++ rp).map(_.durationMs.get("triggerExecution").doubleValue).toSeq)
  }

  def latencySamplesMs: Seq[Double] = last._2

  def check(): Long = {
    val view = last._1
    transport = svc.allRecords("rt").length.toLong
    if (transport >= Records)
      throw new CheckFailed(s"roundtrip: $transport transport records for $Records user records")
    val rows = spark.table(view).collect()
    spark.catalog.dropTempView(view)
    if (rows.length != Records)
      throw new CheckFailed(s"roundtrip: read back ${rows.length} of $Records records")
    val byKey = rows.groupBy(_.getString(0))
    val want = records.groupBy(_.key)
    if (byKey.keySet != want.keySet) throw new CheckFailed("roundtrip: partition keys differ")
    byKey.foreach { case (key, rs) =>
      // sequence order, then position: members of one blob share a sequence number
      val ordered = rs.sortBy(r => (r.getString(1), r.getInt(3)))
      val gen = want(key)
      if (ordered.length != gen.length)
        throw new CheckFailed(s"roundtrip: key $key read ${ordered.length} of ${gen.length}")
      ordered.iterator.zip(gen.iterator).foreach { case (r, g) =>
        val payload = s"""{"k":"${r.getString(2)}","n":${r.getInt(3)},"pad":"${r.getString(4)}"}"""
        if (r.getInt(3) != g.pos || !java.util.Arrays.equals(payload.getBytes(UTF_8), g.payload))
          throw new CheckFailed(s"roundtrip: key $key out of order or altered at ${g.pos}")
      }
    }
    0L
  }
}

/** The operator library: one pass runs llm_neardup_minhash and then
  * llm_dedup_cluster over a generated documents.parquet and collects both.
  */
final class Dedup(spark: SparkSession, seed: Long, work: Path, tr: Tracer)
    extends Workload(spark, seed, work, tr) {
  val name = "corpus_dedup"
  val Docs = 1000
  lazy val corpus: Gen.Corpus = Gen.corpus(seed, Docs)
  private val dir = work.resolve("corpus").toString
  private var lastPairs: Array[Row] = _
  private var lastLabels: Array[Row] = _
  private var lastWallMs = 0.0
  /** Per traced pass: (neardup s, pairs, cluster s, components, cluster span). */
  val passes = mutable.ArrayBuffer.empty[(Double, Long, Double, Long, (Double, Double))]

  def recordsPerOp: Long = Docs
  def warmUpOps: Int = 3

  def setup(): Unit = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val rows = corpus.docs.toSeq.map(d =>
      Row(d.id, d.text, if (d.id % 7 == 0) "de" else "en", s"site-${d.id % 13}",
        d.text.length.toLong))
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.parquet(s"$dir/documents.parquet")
  }

  def run(): Unit = {
    val t0 = System.nanoTime()
    val s1 = tr.nowMs
    lastPairs = tr.span("query.neardup", 1)(
      SparkEntry.queries("llm_neardup_minhash")(spark, dir).collect())
    val s2 = tr.nowMs
    lastLabels = tr.span("query.cluster", 1)(
      SparkEntry.queries("llm_dedup_cluster")(spark, dir).collect())
    val s3 = tr.nowMs
    Cleanup.release(spark, blocking = true)
    lastWallMs = (System.nanoTime() - t0) / 1e6
    if (tr.enabled)
      passes += (((s2 - s1) / 1000.0, lastPairs.length.toLong, (s3 - s2) / 1000.0,
        lastLabels.map(_.getLong(1)).distinct.length.toLong, (s2, s3)))
  }

  def latencySamplesMs: Seq[Double] = Seq(lastWallMs)

  // reference answers, with and without the pairs at exactly τ = 0.8
  private lazy val ref = Reference.pairs(corpus.docs.map(_.tokens))
  private lazy val fullPairs: Map[(Long, Long), Double] =
    ref.map { case (a, b, i, u) => (a, b) -> i.toDouble / u.toDouble }.toMap
  private lazy val strictPairs = ref.filter { case (_, _, i, u) => 5 * i != 4 * u }
    .map { case (a, b, i, u) => (a, b) -> i.toDouble / u.toDouble }.toMap
  private lazy val fullLabels = Reference.labels(Docs, fullPairs.keys)
  private lazy val strictLabels = Reference.labels(Docs, strictPairs.keys)

  def attemptedPerOp: Long = fullPairs.size.toLong + Docs

  def check(): Long = {
    val pairs = lastPairs.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
    val pairMap = pairs.toMap
    if (pairMap.size != pairs.length) throw new CheckFailed("dedup: duplicate pairs in output")
    val pairFailed =
      if (pairMap == fullPairs) 0L
      else if (pairMap == strictPairs) (fullPairs.size - strictPairs.size).toLong
      else throw new CheckFailed(s"dedup: ${pairMap.size} pairs differ from the reference " +
        s"(${fullPairs.size} pairs, ${strictPairs.size} above τ)")
    val labels = new Array[Long](Docs)
    java.util.Arrays.fill(labels, -1L)
    lastLabels.foreach { r =>
      val d = r.getLong(0)
      if (d < 0 || d >= Docs || labels(d.toInt) != -1L)
        throw new CheckFailed(s"dedup: doc $d labelled twice or unknown")
      labels(d.toInt) = r.getLong(1)
    }
    val labelFailed =
      if (java.util.Arrays.equals(labels, fullLabels)) 0L
      else if (java.util.Arrays.equals(labels, strictLabels))
        fullLabels.indices.count(i => fullLabels(i) != strictLabels(i)).toLong
      else throw new CheckFailed("dedup: keep_id labels differ from the reference")
    pairFailed + labelFailed
  }
}
