package graft

/** Dev tool: wall times of the declared stateful streaming rows under the
  * HDFS-backed (default) and the RocksDB state-store providers, at a base
  * dir and optionally a staged N× dir (tools/make_sf1.py), to locate the
  * crossover SURVEY §6 documents. Result identity is RocksDBStateSpec's
  * job, asserted there for every query probed here.
  *
  * Usage: graft.StateStoreProbe <sfDir> [query ...]
  *   (env as graft.Bench: SPARK_GRAFT_CPUS; default query set below)
  */
object StateStoreProbe {
  private val Default = Seq("stream_dedup", "stream_session",
    "stream_stream_join", "stream_funnel", "stream_watermark_late")

  private val Provider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private val Key = "spark.sql.streaming.stateStore.providerClass"

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val queries = if (args.length > 1) args.drop(1).toSeq else Default
    val spark = Harness.session(Harness.cpus)
    def run(q: String): Double = {
      val (_, sec) = Harness.timedCount(spark, q, sfDir)
      Cleanup.release(spark, blocking = true)
      sec
    }
    // The first RocksDB run pays the one-time JNI load and provider init,
    // once per executor in production, so it is reported apart.
    for (q <- queries) {
      val hdfs = Seq(run(q), run(q))
      spark.conf.set(Key, Provider)
      val rocksFirst = run(q) // includes one-time JNI/provider init
      val rocks = Seq(run(q), run(q))
      spark.conf.unset(Key)
      println(f"$q%-24s hdfs=${hdfs.map(t => f"$t%.2f").mkString("/")}  " +
        f"rocksdb=${rocks.map(t => f"$t%.2f").mkString("/")}  " +
        f"(rocksdb first-touch incl. init ${rocksFirst}%.2f)")
    }
    spark.stop()
  }
}
