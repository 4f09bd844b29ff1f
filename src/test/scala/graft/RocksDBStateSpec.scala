package graft

/** The 100 TB streaming-state path: HDFS-backed state keeps everything on
  * the executor heap, which caps state size per partition; production
  * deployments use the RocksDB provider (off-heap + native spill). This
  * suite runs stateful operators under RocksDB and asserts results are
  * IDENTICAL to the default provider — state backend is a deployment
  * choice, never a semantics choice.
  */
class RocksDBStateSpec extends GraftSpec {

  private val Provider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private val Key = "spark.sql.streaming.stateStore.providerClass"

  private def withRocksDB[T](f: => T): T = {
    val prior = spark.conf.getOption(Key)
    spark.conf.set(Key, Provider)
    try f
    finally prior match {
      case Some(v) => spark.conf.set(Key, v)
      case None    => spark.conf.unset(Key)
    }
  }

  for (q <- Seq("stream_dedup", "stream_watermark_late", "stream_stream_join",
      "stream_funnel", "stream_session")) {
    test(s"$q produces identical results under the RocksDB state store") {
      val default = TestEnv.sparkRows(
        SparkEntry.queries(q)(spark, TestEnv.Sf001))._2
      val rocks = withRocksDB {
        TestEnv.sparkRows(SparkEntry.queries(q)(spark, TestEnv.Sf001))._2
      }
      assert(rocks.size == default.size,
        s"row counts differ: rocksdb=${rocks.size} default=${default.size}")
      assert(rocks == default)
    }
  }
}
