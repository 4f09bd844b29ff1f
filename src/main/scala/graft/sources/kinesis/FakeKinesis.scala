package graft.sources.kinesis

import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.ArraySeq
import scala.collection.mutable

/** Deterministic in-memory Kinesis service (SURVEY §5.2(4)): the offline
  * replacement for the reference's real-AWS KinesisTestUtils. Supports the
  * operations the connector's contract depends on — put with
  * partition-key routing, split/merge resharding that closes parents at an
  * exact ending sequence number, and injectable throttling errors — all
  * synchronized and sequence-numbered from one counter so every test run
  * observes the identical record layout.
  */
final class FakeKinesisService extends KinesisClient {
  private val seq = new AtomicLong(1000L) // opaque-looking, monotonic

  private final class Shard(val info0: ShardInfo) {
    var parent: Option[String] = info0.parent
    val starting: Long = info0.starting
    var ending: Option[Long] = None
    val records = mutable.ArrayBuffer.empty[KinesisRecord]
    def shardId: String = info0.shardId
    def isOpen: Boolean = ending.isEmpty
    def info: ShardInfo = ShardInfo(shardId, parent, starting, ending)
  }

  private val streams = mutable.LinkedHashMap.empty[String, mutable.LinkedHashMap[String, Shard]]
  private var shardCounter = 0
  private var failGetRecords = 0
  private var arrivalMs = 1700000000000L // deterministic fake clock (ms)

  private def shardsOf(stream: String) = synchronized {
    streams.getOrElse(stream,
      throw new IllegalArgumentException(s"no such stream: $stream"))
  }

  def createStream(stream: String, shardCount: Int): Unit = synchronized {
    require(!streams.contains(stream), s"stream exists: $stream")
    val m = mutable.LinkedHashMap.empty[String, Shard]
    (0 until shardCount).foreach { _ => val s = newShard(None); m += s.shardId -> s }
    streams += stream -> m
  }

  private def newShard(parent: Option[String]): Shard = {
    val id = f"shardId-$shardCounter%012d"
    shardCounter += 1
    new Shard(ShardInfo(id, parent, seq.get(), None))
  }

  /** PutRecords: md5-free deterministic routing — pk hash mod #open shards
    * (stable across calls unless a reshard changes the open set, exactly
    * like real key-range routing behaves).
    */
  override def putRecords(stream: String, records: Seq[(String, Array[Byte])]): Unit =
    synchronized {
      val open = shardsOf(stream).values.filter(_.isOpen).toIndexedSeq
      require(open.nonEmpty, s"stream $stream has no open shards")
      records.foreach { case (pk, data) =>
        val shard = open(math.floorMod(pk.hashCode, open.size))
        arrivalMs += 1
        shard.records += KinesisRecord(stream, shard.shardId,
          seq.getAndIncrement(), pk, data, arrivalMs)
      }
    }

  /** Split: closes the parent at its current tip and opens two children. */
  def splitShard(stream: String, shardId: String): (String, String) = synchronized {
    val shard = shardsOf(stream)(shardId)
    require(shard.isOpen, s"$shardId already closed")
    shard.ending = Some(seq.get() - 1)
    val (a, b) = (newShard(Some(shardId)), newShard(Some(shardId)))
    shardsOf(stream) += a.shardId -> a += b.shardId -> b
    (a.shardId, b.shardId)
  }

  /** Merge: closes both parents and opens a single child. */
  def mergeShards(stream: String, left: String, right: String): String = synchronized {
    val (l, r) = (shardsOf(stream)(left), shardsOf(stream)(right))
    require(l.isOpen && r.isOpen, "merge requires two open shards")
    l.ending = Some(seq.get() - 1)
    r.ending = Some(seq.get() - 1)
    val child = newShard(Some(left)) // Kinesis records one adjacent parent
    shardsOf(stream) += child.shardId -> child
    child.shardId
  }

  /** Inject `n` transient throttling failures into the next `n`
    * getRecords calls. Within the connector only the partition reader's
    * pages call getRecords — offset planning, lag and timestamp probes read
    * positions through the overrides below — so the errors exercise the
    * reader's retry/backoff path and nothing else.
    */
  def failNextGetRecords(n: Int): Unit = synchronized { failGetRecords = n }

  // ------------------------------------------------------ KinesisClient --

  override def listShards(stream: String): Seq[ShardInfo] = synchronized {
    shardsOf(stream).values.map(_.info).toSeq
  }

  /** First index of `records` whose sequence number is `>= at`
    * (`records.length` if none): a binary search, valid because a shard's
    * sequence numbers ascend. They are drawn from one counter shared by all
    * shards, so a shard's own numbers are not contiguous and `at` may fall
    * between two of its records.
    */
  private def seek(records: mutable.ArrayBuffer[KinesisRecord], at: Long): Int = {
    var lo = 0
    var hi = records.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (records(mid).sequenceNumber < at) lo = mid + 1 else hi = mid
    }
    lo
  }

  override def getRecords(stream: String, shardId: String, from: Long,
      until: Long, limit: Int): Seq[KinesisRecord] = synchronized {
    if (failGetRecords > 0) {
      failGetRecords -= 1
      throw new RuntimeException(
        "ProvisionedThroughputExceededException: rate exceeded (injected)")
    }
    val records = shardsOf(stream)(shardId).records
    val lo = seek(records, from)
    val hi = lo + math.min(math.max(0, seek(records, until) - lo), limit)
    ArraySeq.from(records.view.slice(lo, hi))
  }

  override def advanceBy(stream: String, shardId: String, from: Long,
      until: Long, count: Int): Long = synchronized {
    val records = shardsOf(stream)(shardId).records
    val lo = seek(records, from)
    if (seek(records, until) - lo < count) until
    else records(lo + count - 1).sequenceNumber + 1
  }

  override def millisBehindLatest(stream: String, shardId: String, at: Long): Long =
    synchronized {
      val records = shardsOf(stream)(shardId).records
      val lo = seek(records, at)
      val hi = seek(records, latestSequence(stream, shardId))
      if (lo >= hi) 0L
      else math.max(0L, records(hi - 1).approximateArrivalMs - records(lo).approximateArrivalMs)
    }

  override def firstSequenceAtOrAfter(stream: String, shardId: String,
      epochMs: Long): Long = synchronized {
    shardsOf(stream)(shardId).records.find(_.approximateArrivalMs >= epochMs)
      .map(_.sequenceNumber)
      .getOrElse(latestSequence(stream, shardId))
  }

  override def latestSequence(stream: String, shardId: String): Long = synchronized {
    val shard = shardsOf(stream)(shardId)
    shard.ending match {
      case Some(e) => e + 1
      case None =>
        shard.records.lastOption.map(_.sequenceNumber + 1).getOrElse(shard.starting)
    }
  }

  /** Everything ever stored, for test assertions. */
  def allRecords(stream: String): Seq[KinesisRecord] = synchronized {
    shardsOf(stream).values.flatMap(_.records).toSeq.sortBy(_.sequenceNumber)
  }
}

/** JVM-local registry connecting driver-planned partitions to the fake
  * service on executors — valid in local[k] (single JVM) which is the only
  * offline test topology; a real deployment uses AwsClientFactory instead.
  */
object FakeKinesisRegistry {
  private val services = new java.util.concurrent.ConcurrentHashMap[String, FakeKinesisService]()

  def create(id: String): FakeKinesisService = {
    val s = new FakeKinesisService
    services.put(id, s)
    s
  }

  def get(id: String): FakeKinesisService = {
    val s = services.get(id)
    require(s != null, s"no fake kinesis service registered under '$id'")
    s
  }
}
