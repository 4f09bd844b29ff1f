package graft

import org.apache.spark.sql.SparkSession

/** The one session shape every graft entry point runs in: Bench, Verify,
  * the probes, the `Dev` CLI, the Kinesis example and the test suites.
  * A plan or timing read in one of them therefore holds in the others.
  *
  * `session` is idempotent: `getOrCreate` hands back the active session
  * when one exists, so a caller that runs inside an existing harness (a
  * test calling `Dev.run`) gets the same session, not a second one.
  */
object Harness {

  /** Core count from `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** `local[cpus]` with one shuffle partition per core, UTC, ANSI off (every
    * declared query was parity-verified under non-ANSI evaluation), UI off,
    * the SQL functions of [[GraftExtensions]] installed, log level WARN.
    *
    * `canChangeCachedPlanOutputPartitioning` lets AQE choose the output
    * partitioning of plans that feed a cache. Spark leaves it off only for
    * partitioning stability; with it on, cached builders (rep graphs, IVF/PQ
    * indexes, chunk tables) materialize with AQE-coalesced partition counts
    * instead of a fixed `spark.sql.shuffle.partitions`, so their many
    * downstream stages stop paying one task per shuffle partition for a tiny
    * cached scan. Measured over the 16 cache-heavy bench rows at 32 cores
    * (same-boot A/B, two rounds): 77.2/62.6 s off vs 51.8/51.1 s on, no row
    * regressed; rows without caches are unaffected. At production sizes AQE
    * targets `advisoryPartitionSizeInBytes`, so nothing here is fixture-tuned.
    */
  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** (rows, seconds) of one run of the declared query `name`: the one query
    * timer of Bench, the probes and `Dev`. The timed region covers the
    * query function as well as the `count()`, because queries with
    * driver-side iteration do real work before they return the DataFrame.
    * Releasing the state the query leaves behind is the caller's step.
    */
  def timedCount(spark: SparkSession, name: String, sfDir: String): (Long, Double) = {
    val fn = SparkEntry.queries(name)
    val t0 = System.nanoTime()
    val rows = fn(spark, sfDir).count()
    (rows, (System.nanoTime() - t0) / 1e9)
  }

  /** The names in `SPARK_GRAFT_ONLY` (comma-separated; empty = no filter).
    * Names outside `known` fail loud: a typo would otherwise shrink the run
    * silently, and conclusions would be drawn from the wrong query set.
    */
  def only(known: Iterable[String]): Set[String] = {
    val names = sys.env.getOrElse("SPARK_GRAFT_ONLY", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    val unknown = names.diff(known.toSet)
    require(unknown.isEmpty,
      s"SPARK_GRAFT_ONLY names not known here: ${unknown.toSeq.sorted.mkString(", ")}")
    names
  }
}
