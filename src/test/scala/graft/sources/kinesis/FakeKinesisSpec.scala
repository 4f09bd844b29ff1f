package graft.sources.kinesis

import java.nio.charset.StandardCharsets.UTF_8

import scala.util.Random

import org.apache.spark.sql.catalyst.InternalRow

/** The fake service's seek-based reads against the trait's paging
  * defaults, and the partition reader across page boundaries.
  */
class FakeKinesisSpec extends graft.GraftSpec {

  /** Overrides only the abstract methods, so `advanceBy`,
    * `millisBehindLatest` and `firstSequenceAtOrAfter` take the trait's
    * paging defaults over the fake's pages.
    */
  private final class PagingClient(inner: KinesisClient) extends KinesisClient {
    def listShards(stream: String): Seq[ShardInfo] = inner.listShards(stream)
    def getRecords(stream: String, shardId: String, from: Long, until: Long,
        limit: Int): Seq[KinesisRecord] = inner.getRecords(stream, shardId, from, until, limit)
    def latestSequence(stream: String, shardId: String): Long =
      inner.latestSequence(stream, shardId)
    def putRecords(stream: String, records: Seq[(String, Array[Byte])]): Unit =
      inner.putRecords(stream, records)
  }

  private def putRandom(svc: FakeKinesisService, rnd: Random, n: Int): Unit =
    svc.putRecords("s", Seq.fill(n)(
      (s"pk${rnd.nextInt(10000)}", Array[Byte](rnd.nextInt(256).toByte))))

  test("seek-based reads agree with the trait's paging defaults, across a split and a merge") {
    for (seed <- 1 to 4) {
      val rnd = new Random(seed)
      val svc = new FakeKinesisService
      svc.createStream("s", 3)
      putRandom(svc, rnd, 60 + rnd.nextInt(60))
      svc.splitShard("s", svc.listShards("s")(rnd.nextInt(3)).shardId)
      putRandom(svc, rnd, 60 + rnd.nextInt(60))
      val open = rnd.shuffle(svc.listShards("s").filterNot(_.isClosed).map(_.shardId))
      svc.mergeShards("s", open(0), open(1))
      putRandom(svc, rnd, 60 + rnd.nextInt(60))

      val ref = new PagingClient(svc)
      val all = svc.allRecords("s")
      val shards = svc.listShards("s")
      assert(shards.count(_.isClosed) == 3)
      assert(shards.filter(_.isClosed).exists(sh => all.exists(_.shardId == sh.shardId)),
        "a closed shard must hold records")
      for (shard <- shards) {
        val id = shard.shardId
        val own = all.filter(_.shardId == id)
        val seqs = own.map(_.sequenceNumber)
        val tip = svc.latestSequence("s", id)
        // On records, between them (a shard's numbers are not contiguous),
        // and outside the shard's range.
        val edges = Seq(0L, shard.starting, tip - 1, tip, tip + 1, Long.MaxValue) ++
          seqs.take(2) ++ seqs.takeRight(2)
        val inner = (seqs ++ seqs.map(_ + 1) ++ seqs.map(_ - 1)).distinct
        val positions = (edges ++ rnd.shuffle(inner).take(24)).distinct.sorted

        for (at <- positions)
          assert(svc.millisBehindLatest("s", id, at) == ref.millisBehindLatest("s", id, at),
            s"millisBehindLatest seed=$seed shard=$id at=$at")
        val arrivals = own.map(_.approximateArrivalMs)
        for (ms <- (Seq(0L, Long.MaxValue) ++ arrivals ++ arrivals.map(_ + 1)).distinct)
          assert(svc.firstSequenceAtOrAfter("s", id, ms) == ref.firstSequenceAtOrAfter("s", id, ms),
            s"firstSequenceAtOrAfter seed=$seed shard=$id ms=$ms")

        for (from <- positions; until <- positions) {
          val inRange = own.filter(r => r.sequenceNumber >= from && r.sequenceNumber < until)
          val remaining = inRange.size
          for (n <- Seq(1, remaining, remaining + 1, Int.MaxValue).filter(_ >= 1).distinct) {
            val ctx = s"seed=$seed shard=$id from=$from until=$until n=$n"
            val page = svc.getRecords("s", id, from, until, n)
            assert(page == inRange.take(n), s"getRecords $ctx")
            assert(page.isInstanceOf[IndexedSeq[_]], s"getRecords pages are indexed: $ctx")
            assert(svc.advanceBy("s", id, from, until, n) == ref.advanceBy("s", id, from, until, n),
              s"advanceBy $ctx")
          }
        }
      }
    }
  }

  /** One deep shard next to a second one, so the deep shard's sequence
    * numbers have gaps; returns the fake's id, the fake and the deep
    * shard's records.
    */
  private def deepShard(): (String, FakeKinesisService, Seq[KinesisRecord]) = {
    val id = s"fake_reader_${System.nanoTime()}"
    val svc = FakeKinesisRegistry.create(id)
    svc.createStream("s", 2)
    svc.putRecords("s", (0 until 7000).map(i => (s"pk$i", s"r$i".getBytes(UTF_8))))
    val all = svc.allRecords("s")
    val deep = all.groupBy(_.shardId).values.maxBy(_.size)
    (id, svc, deep)
  }

  private def parentForm(r: KinesisRecord): (Seq[Byte], String, String, String, String, Long) =
    (r.data.toSeq, r.stream, r.partitionKey, f"${r.sequenceNumber}%020d", r.shardId,
      r.approximateArrivalMs * 1000L)

  private def rowForm(row: InternalRow): (Seq[Byte], String, String, String, String, Long) =
    (row.getBinary(0).toSeq, row.getUTF8String(1).toString, row.getUTF8String(2).toString,
      row.getUTF8String(3).toString, row.getUTF8String(4).toString, row.getLong(5))

  private def readAcrossPages(throttleAfter: Option[Int]): Unit = {
    val (id, svc, deep) = deepShard()
    // `from` falls between two of the shard's records.
    val k = (1 until deep.size).find(i =>
      deep(i).sequenceNumber - deep(i - 1).sequenceNumber > 1).get
    val from = deep(k - 1).sequenceNumber + 1
    val expected = deep.slice(k, k + 2500)
    assert(expected.size == 2500 && from < expected.head.sequenceNumber)
    val until = expected.last.sequenceNumber + 1
    val reader = new KinesisPartitionReader(
      KinesisInputPartition("s", deep.head.shardId, from, until, FakeClientFactory(id)))
    val got = Iterator.continually(reader.next()).takeWhile(identity).zipWithIndex.map {
      case (_, i) =>
        if (throttleAfter.contains(i)) svc.failNextGetRecords(2)
        rowForm(reader.get())
    }.toVector
    reader.close()
    assert(got == expected.map(parentForm))
    // The injected errors were drawn by the reader's pages and retried.
    svc.getRecords("s", deep.head.shardId, from, until, 1)
  }

  test("reader: a 2,500-record range starting between records yields each record once, in order") {
    readAcrossPages(None)
  }

  test("reader: throttling mid-range is retried and the range is still read exactly once") {
    readAcrossPages(Some(1200))
  }

  test("reader: sequence numbers render as f\"%020d\"") {
    for (n <- Seq(0L, 1L, 1000L, 1000000000000000000L, Long.MaxValue, -1L))
      assert(KinesisPartitionReader.sequenceText(n).toString == f"$n%020d")
  }
}
