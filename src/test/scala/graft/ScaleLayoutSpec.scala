package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Table-LAYOUT scale levers, made executable (complements PlanAuditSpec,
  * which pins per-query plan shapes): at 100 TB the dominant cost of a
  * repeated fact⋈fact join is the shuffle, and the standard fix is to bake
  * the partitioning into storage — bucketed tables for shuffle-free
  * co-located joins, and directory partitioning so selective scans read
  * only matching partitions. Neither lever needs custom code (Spark's
  * bucketed scan + partition pruning do the work); these tests prove the
  * library's tables and keys actually engage them.
  */
class ScaleLayoutSpec extends GraftSpec {

  private def withConf[T](pairs: (String, String)*)(body: => T): T = {
    val saved = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("bucketed orders⋈lineitem joins with ZERO shuffle exchanges") {
    val dir = Files.createTempDirectory("graft_bucketed").toFile
    try {
      // Same bucket count + join key on both sides = co-located buckets;
      // sortBy pre-sorts within buckets so even the merge sort is free.
      Tables.orders(spark, TestEnv.Sf001)
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$dir/orders_b").mode("overwrite")
        .saveAsTable("graft_orders_b")
      Tables.lineitem(spark, TestEnv.Sf001)
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$dir/lineitem_b").mode("overwrite")
        .saveAsTable("graft_lineitem_b")

      withConf(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false") {
        val joined = spark.table("graft_orders_b")
          .join(spark.table("graft_lineitem_b"),
            col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("o_orderkey"))
          .agg(count(lit(1)).as("n"))
        val plan = joined.queryExecution.executedPlan.toString
        assert(plan.contains("SortMergeJoin"),
          s"expected SMJ over bucketed scans:\n${plan.take(1500)}")
        assert(!plan.contains("Exchange"),
          s"bucketed co-located join must not shuffle:\n${plan.take(1500)}")
        // Both layouts agree with the shuffled answer.
        val expected = Tables.orders(spark, TestEnv.Sf001)
          .join(Tables.lineitem(spark, TestEnv.Sf001),
            col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("o_orderkey")).agg(count(lit(1)).as("n"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val got = joined.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == expected)
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_orders_b")
      spark.sql("DROP TABLE IF EXISTS graft_lineitem_b")
      org.apache.commons.io.FileUtils.deleteQuietly(dir)
    }
  }

  test("partitioned events scan prunes to the filtered partitions") {
    val dir = Files.createTempDirectory("graft_part").toFile
    try {
      Tables.events(spark, TestEnv.Sf001)
        .write.partitionBy("event_type").mode("overwrite")
        .parquet(s"$dir/events_p")

      val scan = spark.read.parquet(s"$dir/events_p")
        .where(col("event_type") === "click")
        .select(col("event_id"))
      val plan = scan.queryExecution.executedPlan.toString
      // The filter must appear INSIDE the PartitionFilters bracket — a bare
      // `PartitionFilters: []` prints unconditionally for file scans and a
      // post-scan Filter would also mention event_type (round-4 ADVICE:
      // the old contains-pair was vacuous).
      assert("PartitionFilters: \\[[^\\]]*event_type".r.findFirstIn(plan).isDefined,
        s"expected event_type INSIDE PartitionFilters at the scan:\n${plan.take(1500)}")
      // The pruned scan must touch only the one matching partition
      // directory — prove it by the row count matching the filtered base.
      val expected = Tables.events(spark, TestEnv.Sf001)
        .where(col("event_type") === "click").count()
      assert(scan.count() == expected)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(dir)
    }
  }

  test("AQE splits a skewed sort-merge join at runtime (the skew lever)") {
    // Third table-layout/runtime lever after bucketing and pruning: a hot
    // join key (90% of one side) must not serialize into one straggler
    // task — AQE's skew-join split handles it with NO query change, which
    // is exactly why the declared fact joins can rely on it at 100 TB.
    // Thresholds are scaled down so verify-sized data exhibits the same
    // runtime decision a 100 TB hot key would.
    withConf(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16k",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val left = spark.range(200000).select(
        when(col("id") % 10 < 9, lit(0L)).otherwise(col("id")).as("k"),
        col("id").as("v"))
      val right = spark.range(2000).select(col("id").as("k"), (col("id") * 2).as("w"))
      val joined = left.join(right.hint("merge"), "k")
      // collect() (not count(), which plans its own QueryExecution) so THIS
      // Dataset's adaptive plan is the one that runs to final.
      assert(joined.collect().nonEmpty)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true") || plan.contains("skewed"),
        s"expected AQE skew-join split in the final plan:\n${plan.take(2000)}")
    }
  }

  test("runtime Bloom filter prunes the fact side of a filtered join (the semi-join lever)") {
    // Fourth runtime lever (round 18, second session) after bucketing,
    // pruning, and AQE skew-split: when a shuffle join's small side
    // carries a selective filter, Spark can inject a Bloom filter of the
    // surviving keys into the FACT side's scan — at 100 TB that turns a
    // full-fact shuffle into a pre-shuffle semi-reduction with no query
    // change. Default thresholds target real cluster sizes
    // (applicationSideScanSizeThreshold = 10 GB), so they are scaled down
    // exactly like the AQE test's, to show the same runtime decision
    // verify-sized data.
    withConf(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "10MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val fact = Tables.lineitem(spark, TestEnv.Sf01)
        .select(col("l_orderkey"), col("l_quantity"))
      val dim = Tables.orders(spark, TestEnv.Sf01)
        .where(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      val joined = fact.join(dim.hint("merge"),
        col("l_orderkey") === col("o_orderkey"))
      assert(joined.collect().nonEmpty)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("bloom_filter") || plan.contains("BloomFilter"),
        s"expected an injected runtime Bloom filter on the fact scan:\n${plan.take(2000)}")
    }
  }

  test("new distribution/reshape rows keep parallel plans") {
    for (q <- Seq("win_ntile_dist", "fn_unpivot", "set_intersect_all",
      "set_except_all", "agg_minmax_by", "agg_corr_cov")) {
      val plan = SparkEntry.queries(q)(spark, TestEnv.Sf01)
        .queryExecution.executedPlan.toString
      // agg_* rows legitimately end in a tiny single-partition sort of a
      // handful of group rows; for them the REAL parallelism property is
      // the keyed hash exchange feeding the aggregation (round-4 ADVICE:
      // the old blanket exemption asserted nothing for them).
      if (q.startsWith("agg_"))
        assert(plan.contains("hashpartitioning"),
          s"$q must hash-partition its groupBy:\n${plan.take(1200)}")
      else
        assert(!plan.contains("SinglePartition"),
          s"$q must not collapse to a single partition:\n${plan.take(1200)}")
      assert(!plan.contains("CartesianProduct"), s"$q must not cartesian")
    }
  }

  test("spread's ceil-divide stays exact at Long.MaxValue (unknown stats)") {
    val t = Tables.SpreadTargetBytes
    assert(Tables.ceilDiv(Long.MaxValue, t) == Long.MaxValue / t + 1)
    assert(Tables.ceilDiv(Long.MaxValue, 1L) == Long.MaxValue)
    assert(Seq(0L, 1L, t, t + 1).map(Tables.ceilDiv(_, t)) == Seq(0L, 1L, 1L, 2L))
  }
}
