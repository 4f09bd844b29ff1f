package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The rep graph behind every near-dup operator (ARCHITECTURE.md scale
  * discipline 2, "rep-collapse in front of pair generation"). Rows with an
  * identical key (token set, shingle set, vector) are exact duplicates
  * under every similarity the consumers verify, so each group enters
  * candidate generation once, through its representative, and members
  * come back only at the end:
  *
  *   - [[chunks]] collapses rows into member-chunked rep groups;
  *   - [[reps]] selects one row per group for candidate generation;
  *   - [[memberPairs]] expands verified rep pairs back to member pairs;
  *   - [[components]] connects verified rep pairs into components.
  *
  * The rep graphs (`LlmQueries.lshRepGraph`, `TextQueries.containmentRepGraph`,
  * `VectorQueries.srpRepGraph`) differ only in their candidate generation
  * and verify; they return `(chunks, verified)` with `verified` holding
  * `(a_rep, b_rep, <score>)` at score ≥ τ.
  */
object RepGraph {

  /** Upper bound on rows per rep group: member lists are chunked by an id
    * hash, so no single row holds a whole giant duplicate group. Width per
    * chunk is ⌈m / 256⌉ — a 10⁹-member group tops out at ~31 MB per row —
    * and small groups (the overwhelming majority) still occupy a single row
    * because only chunks with members exist.
    */
  val MemberChunks = 256

  /** Rep groups over `rows`, one row per (`key`, member chunk):
    * `(key, chunk, cmin, members, rep_id, gsize)`, where
    * `members` are the sorted `id`s of the chunk, `cmin` their minimum,
    * `rep_id` the group minimum and `gsize` the group's member count.
    * Chunks partition a group's members, so exactly one chunk per group has
    * `cmin = rep_id` ([[reps]]).
    *
    * Linear: the window shuffles one bounded row per chunk, not one per
    * row, and one select extracts `rep_id` and `gsize` into ONE Window node
    * (chained withColumns plan as two). The keys are the raw value — a
    * 64-bit hash prefix on the group/window keys was measured slower
    * (SURVEY §6). Persisted: candidate generation, verify and the member
    * expansion all read it, and the CacheManager dedupes by plan, so
    * repeated calls over the same input share one entry.
    */
  def chunks(rows: DataFrame, key: String, id: String): DataFrame = {
    val w = Window.partitionBy(col(key))
    rows
      .groupBy(col(key), pmod(xxhash64(col(id)), lit(MemberChunks)).as("chunk"))
      .agg(min(col(id)).as("cmin"), sort_array(collect_list(col(id))).as("members"))
      .select(col("*"), min(col("cmin")).over(w).as("rep_id"),
        sum(size(col("members"))).over(w).as("gsize"))
      .persist()
  }

  /** One row per rep group: the chunk holding the group minimum. */
  def reps(chunks: DataFrame): DataFrame = chunks.where(col("cmin") === col("rep_id"))

  /** Member pairs `(a_id, b_id, <score>)` of the verified rep pairs.
    *
    * Cross-group pairs inherit their reps' verified `score` verbatim
    * (members are exact duplicates of their rep). Intra-group pairs of
    * multi-member groups carry `intra`, evaluated per chunk row, and exist
    * only where `intra >= tau` (the glue test: a group whose members fail
    * it stays unlinked).
    *
    * `ordered` picks the relation's shape: a directed relation keeps each
    * cross pair's a→b direction and emits both directions of every intra
    * pair (`b_id != a_id`); a symmetric one emits each unordered pair once,
    * `a_id < b_id` (least/greatest across, `b_id > a_id` within groups).
    *
    * Every broadcast is bounded by the answer, not the corpus: the member
    * sides are semi-joined to the reps of some verified pair, and the intra
    * side keeps only `gsize > 1` groups. Both expansions reshard on the
    * first exploded member between their two explodes, so no task emits a
    * whole C(m,2) group; each post-shuffle row emits at most one chunk per
    * broadcast match, and the broadcast joins keep that layout.
    */
  def memberPairs(chunks: DataFrame, verified: DataFrame, score: String,
      ordered: Boolean, intra: Column, tau: Double): DataFrame = {
    // Read three times below: the two semi-joins and the pair join.
    verified.persist()
    def members(side: String): DataFrame =
      chunks.select(col("rep_id").as(s"${side}_rep"), col("members").as(s"${side}_members"))
        .join(verified.select(col(s"${side}_rep")).distinct(), Seq(s"${side}_rep"), "left_semi")
    val (a, b) = if (ordered) ("a_id", "b_id") else ("a_m", "b_m")
    val cross = verified
      .join(broadcast(members("a")), "a_rep")
      .select(explode(col("a_members")).as(a), col("b_rep"), col(score))
      .repartition(col(a))
      .join(broadcast(members("b")), "b_rep")
      .select(col(a), explode(col("b_members")).as(b), col(score))
    val crossPairs = if (ordered) cross else cross.select(
      least(col(a), col(b)).as("a_id"), greatest(col(a), col(b)).as("b_id"), col(score))
    val multi = chunks.where(col("gsize") > 1)
      .withColumn(score, intra)
      .where(col(score) >= tau)
    val intraPairs = multi
      .select(col("rep_id"), explode(col("members")).as("a_id"), col(score))
      .repartition(col("a_id"))
      .join(broadcast(multi.select(col("rep_id"), col("members"))), "rep_id")
      .select(col("a_id"), explode(col("members")).as("b_id"), col(score))
      .where(if (ordered) col("b_id") =!= col("a_id") else col("b_id") > col("a_id"))
    crossPairs.unionAll(intraPairs)
  }

  /** Connected components of the verified rep pairs `(a_rep, b_rep, …)`:
    * `(rep_id, comp)` with `comp` the minimum rep id of the component, for
    * ACTIVE reps only (those with at least one pair). Callers re-admit
    * edge-free reps with `coalesce(comp, rep_id)` at the final assignment.
    *
    * Iterative min-label propagation with pointer jumping:
    *   - one scan of `pairs` symmetrizes the edges (an explode over both
    *     directions), so the verify pipeline upstream runs once;
    *   - the edges are hash-partitioned by `src` and persisted, so each
    *     round's neighbour-min aggregation and label join need no further
    *     exchange; AQE sizes the partition count from the shuffled bytes;
    *   - labels cover active reps only, so every in-loop broadcast is
    *     bounded by the near-dup answer at any corpus size;
    *   - each round takes the neighbour min, then jumps comp ← comp(comp),
    *     so MaxIters rounds cover diameter 2^MaxIters; the loop fails
    *     loudly if it has not converged after MaxIters = 30 rounds;
    *   - every round's state is an eager localCheckpoint (flat lineage, so
    *     analysis cost stays constant per round) and the superseded
    *     checkpoints are freed at once.
    *
    * The fixpoint (min id per component) is unique, so the result does not
    * depend on iteration order. The returned labels are a live checkpoint:
    * `graft.Cleanup.release` frees it with the other cached intermediates.
    */
  def components(pairs: DataFrame): DataFrame = {
    val sym = pairs
      .select(col("a_rep").as("src"), col("b_rep").as("dst"))
      .select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    val edges = sym.repartition(col("src")).persist()
    edges.count() // materialize the verify pipeline exactly once
    val MaxIters = 30
    var labels = edges.select(col("src").as("rep_id")).distinct()
      .select(col("rep_id"), col("rep_id").as("comp"))
      .localCheckpoint(true)
    var iter = 0
    var converged = false
    while (!converged && iter < MaxIters) {
      // broadcast(labels): a checkpoint carries the default (huge) size
      // estimate, so unhinted this would re-sort the edges every round.
      val nbrMin = edges
        .join(broadcast(labels), col("dst") === col("rep_id"))
        .groupBy(col("src")).agg(min(col("comp")).as("nbr_comp"))
      // `oldc` carries the round's input label, so convergence is a
      // filter-count on the checkpoint rather than a join.
      val half = labels
        .join(nbrMin, col("rep_id") === col("src"), "left")
        .select(col("rep_id"), col("comp").as("oldc"),
          least(col("comp"), coalesce(col("nbr_comp"), col("comp"))).as("comp"))
        .localCheckpoint(true)
      val next = half.as("l")
        .join(broadcast(half.as("m")), col("l.comp") === col("m.rep_id"))
        .select(col("l.rep_id").as("rep_id"), col("l.oldc").as("oldc"),
          col("m.comp").as("comp"))
        .localCheckpoint(true)
      freeCheckpoint(half)
      // Stable under both steps ⇔ comp is constant per component and
      // root-valued, i.e. the component minimum.
      val changed = next.where(col("comp") =!= col("oldc")).count()
      freeCheckpoint(labels)
      labels = next.select(col("rep_id"), col("comp"))
      converged = changed == 0L
      iter += 1
    }
    require(converged, s"label propagation did not converge in $MaxIters rounds")
    edges.unpersist()
    labels
  }

  /** Drops the blocks behind a superseded eager `localCheckpoint(true)`
    * Dataset. `Dataset.unpersist` reaches only the CacheManager; a
    * checkpoint lives in the plan as a `LogicalRDD` leaf whose RDD the
    * checkpoint persisted, so that leaf is the only handle. Blocking: the
    * label tables are small, and no removal can then land inside a later
    * timed region.
    */
  private def freeCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case l: LogicalRDD => l.rdd.unpersist(blocking = true)
      case _ => ()
    }
}
