package graft.sources.kinesis

/** Minimal Kinesis data-plane surface the connector needs (SURVEY §2.1,
  * §4.3). Modeled at the sequence-*range* level rather than the raw
  * shard-iterator level: the reference's exactly-once trick
  * (KinesisBackedBlockRDD re-reads records by SequenceNumberRange when a
  * block is lost — SURVEY §2.1) is our PRIMARY read path, so ranges are the
  * natural API. A production implementation backs `getRecords` with
  * GetShardIterator(AT_SEQUENCE_NUMBER) + GetRecords pages; the deterministic
  * in-memory fake (FakeKinesis.scala) backs it with a binary-searched slice.
  *
  * Sequence numbers are Longs internally (fake) and rendered as the opaque
  * zero-padded strings Kinesis users see in the row output; ordering and
  * range semantics are identical either way.
  */
trait KinesisClient extends Serializable {

  /** All shards of a stream, open and closed. */
  def listShards(stream: String): Seq[ShardInfo]

  /** Records of `shardId` with `from <= sequenceNumber < until`, in
    * sequence order, at most `limit` per call (GetRecords page shape).
    */
  def getRecords(stream: String, shardId: String, from: Long, until: Long,
      limit: Int): Seq[KinesisRecord]

  /** The sequence number one past the last record currently in the shard
    * (== the shard's endingSequenceNumber + 1 once it is closed).
    */
  def latestSequence(stream: String, shardId: String): Long

  /** First sequence number whose approximate arrival time is ≥ `epochMs`
    * (GetShardIterator AT_TIMESTAMP); the shard tip if nothing qualifies.
    */
  def firstSequenceAtOrAfter(stream: String, shardId: String, epochMs: Long): Long =
    getRecords(stream, shardId, 0L, Long.MaxValue, Int.MaxValue)
      .find(_.approximateArrivalMs >= epochMs)
      .map(_.sequenceNumber)
      .getOrElse(latestSequence(stream, shardId))

  /** The position after reading at most `count` records from `from`,
    * bounded by `until` — the admission-control step. Invariants: the
    * result is `until` when fewer than `count` records lie in
    * `[from, until)`, else one past the `count`-th of them; it reads
    * positions only, so offset planning never fetches the payloads the
    * executors then read. The default derives it from one bounded
    * getRecords page; a client that can count positions (the fake's
    * binary search, or GetRecords' own `Limit`) overrides it.
    */
  def advanceBy(stream: String, shardId: String, from: Long, until: Long,
      count: Int): Long = {
    val page = getRecords(stream, shardId, from, until, count)
    if (page.size < count) until else page.last.sequenceNumber + 1
  }

  /** How far, in stream time, the position `at` lags the shard tip: the
    * arrival time of the shard's last record below the tip minus that of
    * its first record at or after `at`; 0 when no record lies in
    * `[at, tip)`. Invariants: both records are this shard's own — a
    * closed shard's tip is the reshard-assigned ending sequence + 1, which
    * need not be any record's sequence here, so `tip - 1` is never probed
    * — and no wall clock is read, so the offline fake stays deterministic.
    * This is the `MillisBehindLatest` signal of GetRecords. The default
    * pages the pending range; the fake reads the two records by seek, and
    * an SDK client returns the value GetRecords already carries.
    */
  def millisBehindLatest(stream: String, shardId: String, at: Long): Long = {
    val tip = latestSequence(stream, shardId)
    if (at >= tip) 0L
    else {
      val pageLimit = 10000
      var from = at
      var first = Option.empty[Long]
      var last = Option.empty[Long]
      var done = false
      while (!done) {
        val page = getRecords(stream, shardId, from, tip, pageLimit)
        if (page.isEmpty) done = true
        else {
          if (first.isEmpty) first = Some(page.head.approximateArrivalMs)
          last = Some(page.last.approximateArrivalMs)
          from = page.last.sequenceNumber + 1
          done = page.size < pageLimit || from >= tip
        }
      }
      (for (f <- first; l <- last) yield math.max(0L, l - f)).getOrElse(0L)
    }
  }

  /** PutRecords: (partitionKey, payload) pairs routed to open shards. */
  def putRecords(stream: String, records: Seq[(String, Array[Byte])]): Unit
}

/** Shard descriptor. `ending` is defined once the shard is closed by a
  * reshard (split/merge); children carry `parent` so readers can drain
  * parents before or alongside children (per-shard order is preserved
  * inside each shard either way).
  */
final case class ShardInfo(
    shardId: String,
    parent: Option[String],
    starting: Long,
    ending: Option[Long]) {
  def isClosed: Boolean = ending.isDefined
}

/** One Kinesis record as the source exposes it (fixed metadata schema,
  * SURVEY §1.1): opaque payload bytes + stream/shard/sequence/partition-key
  * provenance + approximate arrival time (epoch ms).
  */
final case class KinesisRecord(
    stream: String,
    shardId: String,
    sequenceNumber: Long,
    partitionKey: String,
    data: Array[Byte],
    approximateArrivalMs: Long)

/** Serializable factory shipped inside InputPartitions so executors can
  * construct their client without the driver serializing live connections.
  */
trait KinesisClientFactory extends Serializable {
  def create(): KinesisClient
}

/** Looks up the JVM-local deterministic fake (tests / offline dev). */
final case class FakeClientFactory(fakeId: String) extends KinesisClientFactory {
  def create(): KinesisClient = FakeKinesisRegistry.get(fakeId)
}

/** Real-AWS factory: carries the reference's full option surface
  * (endpoint/region/credentials/STS — SURVEY §2.1 SparkAWSCredentials rows)
  * so user code is written against the final API, but this offline build has
  * no AWS SDK on the classpath (zero egress), so `create()` fails fast with
  * instructions rather than half-working.
  */
final case class AwsClientFactory(
    endpointUrl: Option[String],
    regionName: Option[String],
    awsAccessKeyId: Option[String],
    awsSecretKey: Option[String],
    stsRoleArn: Option[String],
    stsSessionName: Option[String],
    stsExternalId: Option[String]) extends KinesisClientFactory {
  def create(): KinesisClient =
    throw new UnsupportedOperationException(
      "AWS-backed KinesisClient requires the AWS SDK on the classpath; " +
        "this build is offline-only. Provide option 'fake.id' to use the " +
        "in-memory service, or wire an SDK-backed KinesisClientFactory.")
}
