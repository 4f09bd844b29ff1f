package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.functions.VectorOps

/** SURVEY §2.2-H extension — the similarity-search scale path. The brief's
  * contract: brute-force cosine top-k as the baseline (llm_sim_cosine_topk)
  * and "an IVF or LSH-bucketed variant as the scale path". This file adds:
  *
  *   - llm_neardup_cosine: embedding-space near-dup pairs (cosine ≥ τ) —
  *     the vector twin of the Jaccard text rows;
  *   - llm_ann_ivf: IVF-style approximate nearest neighbour — deterministic
  *     coarse quantizer sized to the corpus (≈√N cells via an N-derived
  *     stride), residency assignment by max dot, nprobe ≈ ncells/4
  *     probing, exact re-rank within the probed cells. Every step is
  *     deterministic dot-product arithmetic, so unlike most ANN
  *     implementations it IS oracle-able: the DuckDB SQL replays the
  *     identical quantize→probe→rerank pipeline (same stride/nprobe
  *     arithmetic from count(*)) and the driver hash-checks it like an
  *     exact query. At 100 TB the shape holds: centroids broadcast,
  *     assignment is a map-side argmax in O(N·√N), a probe touches the
  *     probed fraction of the corpus instead of all of it;
  *   - llm_knn_bucketed: llm_knn_per_vector's contract over the same IVF
  *     cell assignment as candidate generator — the realized "replace
  *     `base` with bucketed candidates" scale path.
  *
  * All dot products use the native codegen DotProduct expression, whose
  * left-to-right accumulation is bit-identical to DuckDB list_dot_product.
  */
object VectorQueries {

  private def vecs(s: SparkSession, d: String): DataFrame =
    doubles(Tables.embeddings(s, d))

  /** embeddings → (vec_id, v), the FLOAT components widened to DOUBLE. */
  private def doubles(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))

  /** The DuckDB spelling of [[vecs]], the `e` CTE every oracle opens with. */
  private val vecsSql = """e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)"""

  /** Symmetric int8 quantization of `v`: max-abs scaling to [-127, 127]
    * with round-half-up encoded as floor(x/scale·127 + ½) — NOT the
    * engines' round() (HALF_UP vs banker's tie policies differ; floor(+½)
    * is the identical IEEE op in both). A zero vector (scale = 0) takes
    * the q ≡ 0 branch.
    */
  private def int8Scale(v: Column): Column = array_max(transform(v, x => abs(x)))

  private def int8Codes(v: Column, scale: Column): Column =
    when(scale > 0, transform(v, x => floor(x / scale * 127d + 0.5d).cast("bigint")))
      .otherwise(transform(v, _ => lit(0L)))

  /** (vec_id, v) → (vec_id, q), the int8 codes of each vector. */
  private def quantize(df: DataFrame): DataFrame =
    df.select(col("vec_id"), col("v"), int8Scale(col("v")).as("scale"))
      .select(col("vec_id"), int8Codes(col("v"), col("scale")).as("q"))

  /** The DuckDB spellings of [[int8Scale]] and [[int8Codes]], and of
    * [[quantize]] as the sc → qv CTEs over `e`.
    */
  private def int8ScaleSql(v: String) = s"list_aggregate(list_transform($v, x -> abs(x)), 'max')"

  private def int8CodesSql(v: String, scale: String) = s"""CASE WHEN $scale > 0
                   THEN list_transform($v,
                     x -> CAST(floor(x / $scale * 127 + 0.5) AS BIGINT))
                   ELSE list_transform($v, x -> CAST(0 AS BIGINT))
                 END"""

  private val quantizeSql = s"""sc AS (
          SELECT vec_id, ${int8ScaleSql("v")} AS scale FROM e),
        qv AS (
          SELECT e.vec_id, ${int8CodesSql("e.v", "sc.scale")} AS q
          FROM e JOIN sc USING (vec_id))"""

  /** vecs with the parallelism floor (Tables.spread): the
    * embeddings fixture is a single-row-group file, so every assignment /
    * signature / dot pipeline fused above its first exchange otherwise
    * runs as ONE task (llm_knn_graph's bucket join profiled at 2.0 s
    * single-task on 32 cores). Used ONLY where the fused map work is
    * heavy enough to pay for the extra exchange — measured per site in
    * a filtered A/B: pqIndex (llm_pq_search 2.7→1.7 s),
    * srpRepGraph, llm_knn_graph (4.5→2.8 s), llm_neardup_cosine. The
    * map-only rows (llm_emb_quant etc.) keep the plain reader and their
    * pinned zero-corpus-shuffle plans, and ivfIndex/hierIndex REVERTED
    * to the plain reader: their assignment work is light and their cache
    * feeds many small stages, where 32-partition scans cost more in
    * per-task overhead than the parallelism returns (ann_hier 1.4→1.8 s,
    * knn_hier 1.2→1.6 s with spread — a measured loss).
    */
  private def vecsSpread(s: SparkSession, d: String): DataFrame =
    doubles(Tables.spread(s, Tables.embeddings(s, d), col("vec_id")))

  /** The sizing both IVF indexes derive from count(): (e, cents, stride,
    * ncells, nprobe) — see [[ivfIndex]].
    */
  private def ivfBase(s: SparkSession, d: String)
      : (DataFrame, DataFrame, Long, Long, Long) = {
    val e = vecs(s, d).persist()
    val n = e.count()
    val stride = math.max(1L, n / math.ceil(math.sqrt(n.toDouble)).toLong)
    val ncells = (n + stride - 1) / stride
    val nprobe = math.max(2L, math.ceil(ncells / 4.0).toLong)
    val cents = e.where(col("vec_id") % stride === 0)
      .select(col("vec_id").as("c_id"), col("v").as("cv"))
    (e, cents, stride, ncells, nprobe)
  }

  /** Shared IVF machinery (the cell assignment doubles as the
    * bucketed-kNN candidate generator): returns (e, cents, cell, nprobe) where
    *
    *   e      = persisted (vec_id, v) projection — the quantizer-sizing
    *            count() and every downstream use share ONE materialization
    *            (CacheManager dedupes by plan, so the two IVF queries in a
    *            session reuse the same entry; MEMORY_AND_DISK, spill-safe);
    *   cents  = ≈√N deterministic centroids (stride = N/⌈√N⌉ — a FIXED
    *            stride made assignment O(N²/stride), which the 30× probe
    *            caught as a 41× wall ratio);
    *   cell   = one (vec_id, c_id) residency row per vector: argmax_c
    *            dot(v, c) as a map-side max_by aggregation, NOT a window —
    *            a window argmax shuffles AND sorts all N×ncells scored
    *            rows, the hash agg collapses to one row per vector before
    *            any exchange. Deterministic c_id tiebreak via the negated
    *            struct key, identical to the oracles' row_number pick;
    *   nprobe = ≈ncells/4 (min 2) — probed FRACTION stays constant as
    *            cells grow, so recall is scale-stable instead of
    *            collapsing as 2/ncells.
    */
  private def ivfIndex(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame, Long) = {
    val (e, cents, _, _, nprobe) = ivfBase(s, d)
    val cell = e.crossJoin(broadcast(cents))
      .groupBy(col("vec_id"))
      .agg(max_by(col("c_id"),
        struct(VectorOps.dot(col("v"), col("cv")).as("s_dot"),
          (-col("c_id")).as("s_nc"))).as("c_id"))
    (e, cents, cell, nprobe)
  }

  /** Hierarchical (two-level) variant of the IVF cell assignment — a
    * 30× probe showed the flat √N-cell argmax sitting exactly on
    * its documented O(N·√N) curve (158× wall at 30× data ≈ F^1.5 = 164×),
    * so this is the realized next rung: assign each vector to one of
    * ≈N^(1/4) SUPER-cells first (the super-centroids are every sfac-th
    * centroid, sfac = ⌈√ncells⌉), then argmax only over the ≈√ncells
    * centroids mapped to that super-cell — O(N·N^(1/4)) total. Deterministic
    * end to end (same max_by struct tiebreaks as the flat index; every dot
    * is the codegen DotProduct ↔ list_dot_product pair), so it stays
    * driver-oracle-able like the flat rows. Both broadcasts are bounded by
    * construction: the super table is N^(1/4) rows, the centroid→super map
    * is √N rows (the same order as the flat index's cents broadcast); the
    * corpus-side v2s/cell aggregations are map-side max_by collapses, never
    * broadcast. The flat rows stay declared as baselines — recall shifts
    * slightly (a vector near a super-cell boundary can land in a different
    * cell), which is the standard IVF trade and is floor-pinned in
    * AnnRecallSpec like the others.
    *
    * MULTI-PROBE routing: the recall the
    * two-level assignment gives up is entirely boundary loss — a vector
    * whose globally-best centroid maps to super-cell s* but whose own
    * top-1 super is some other s gets argmax'd over the wrong centroid
    * subset. The standard multi-probe fix routes each vector through its
    * top-`HierSupProbe` SUPER-cells (a literal, so the DuckDB replay is
    * `rn <= P` instead of `rn = 1`) and argmaxes over the union of those
    * supers' centroids: the boundary vector now sees s* whenever it ranks
    * in its top P. Cost is P·√ncells centroid dots per vector —
    * O(N·P·N^(1/4)), the same complexity class with a constant factor,
    * measured sub-linear in the 10×/30× probes like the single-probe
    * form. The top-P selection aggregates as a bounded
    * collect_list(struct) (the broadcast nested-loop join emits each
    * vector's N^(1/4) super rows contiguously, so the partial agg
    * collapses to ONE row per vector before the exchange — same
    * one-row-per-vector shuffle as the max_by it replaces), sorted
    * descending on (dot, -s_id): dot-DESC-then-id, the family tiebreak,
    * with the negation on the exact BIGINT id, never the double.
    */
  private[graft] val HierSupProbe = 4
  /** Shared quantize + assign + centroid + score stages for
    * llm_cluster_sample / llm_diversity_prune: the
    * per-vector (c_id, vec_id, dist2) table — persisted q ⋈ cell (the
    * two consumers share ONE assignment+quantization pass), centroid-
    * update means re-assembled dim-ordered, dist² via the bit-identical
    * DotProduct-over-diff. One definition so the quantization cannot
    * fork between the two rows — their identical subplans (and the
    * CacheManager persist sharing when both run in a session) are now
    * structural, not textual luck.
    */
  private def quantizedDist2(s: SparkSession,
      d: String): DataFrame = {
    val (q, cents) = quantizedQC(s, d)
    q.join(broadcast(cents), "c_id")
      .select(col("c_id"), col("vec_id"),
        VectorOps.dot(
          zip_with(col("q"), col("cm"), (a, b) => a.cast("double") - b),
          zip_with(col("q"), col("cm"), (a, b) => a.cast("double") - b))
          .as("dist2"))
  }

  /** The (q, cents) stages of [[quantizedDist2]], factored so the Lloyd
    * convergence row (llm_kmeans_shift) shares the identical quantize /
    * assign / centroid arithmetic instead of re-spelling it.
    */
  private def quantizedQC(s: SparkSession,
      d: String): (DataFrame, DataFrame) = {
    val (e, _, cell, _) = hierIndex(s, d)
    // spread (profiled): without it the quantize + cell-attach pass into
    // the persisted q ran as one 790 ms task off hierIndex's narrow
    // cache. Floor only this pipeline's input — hierIndex's own cache
    // stays at scan width (spreading IT fed many tiny index-scale stages,
    // a measured loss).
    val q = quantize(Tables.spread(s, e, col("vec_id")))
      // Consumed twice (centroid build + scoring pass) — persist so
      // the two-level assignment and the quantization run ONCE;
      // released by Cleanup like the other corpus-scale intermediates.
      .join(cell, "vec_id")
      .persist()
    // Centroid-update means per cell, re-assembled into a dim-ordered
    // array (struct sort on (dim, mean) — dim leads, so the order is
    // exactly 0..63).
    val cents = q
      .select(col("c_id"), posexplode(col("q")).as(Seq("dim", "qc")))
      .groupBy(col("c_id"), col("dim"))
      .agg((sum(col("qc")).cast("double") /
        count(lit(1)).cast("double")).as("m"))
      .groupBy(col("c_id"))
      .agg(transform(sort_array(collect_list(struct(col("dim"), col("m")))),
        p => p.getField("m")).as("cm"))
    (q, cents)
  }

  /** The DuckDB spelling of [[quantizedDist2]] — hierCellsSql plus the
    * shared sc → qv → x → cm → cma → scored CTE chain both oracles
    * open with.
    */
  private def quantizedDist2Sql = s"""$hierCellsSql,
        $quantizeSql,
        x AS (
          SELECT cell.c_id, qv.vec_id, r.i AS dim, qv.q[r.i + 1] AS qc
          FROM qv JOIN cell USING (vec_id), range(0, 64) r(i)),
        cm AS (
          SELECT c_id, dim,
                 CAST(sum(qc) AS DOUBLE) / count(*) AS m
          FROM x GROUP BY c_id, dim),
        cma AS (
          SELECT c_id, list(m ORDER BY dim) AS cm FROM cm GROUP BY c_id),
        scored AS (
          SELECT qv2.c_id, qv2.vec_id,
                 list_dot_product(qv2.diff, qv2.diff) AS dist2
          FROM (
            SELECT cell.c_id, qv.vec_id,
                   list_transform(range(1, 65),
                     i -> CAST(qv.q[i] AS DOUBLE) - cma.cm[i]) AS diff
            FROM qv
            JOIN cell USING (vec_id)
            JOIN cma ON cma.c_id = cell.c_id) qv2)"""

  private def hierIndex(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame, Long) = {
    val (e, cents, stride, ncells, nprobe) = ivfBase(s, d)
    val sfac = math.max(1L, math.ceil(math.sqrt(ncells.toDouble)).toLong)
    val sstride = stride * sfac
    val sups = e.where(col("vec_id") % sstride === 0)
      .select(col("vec_id").as("s_id"), col("v").as("sv"))
    // centroid → super-cell: √N × N^(1/4) — tiny both sides.
    val c2s = cents.crossJoin(broadcast(sups))
      .groupBy(col("c_id"))
      .agg(max_by(col("s_id"),
        struct(VectorOps.dot(col("cv"), col("sv")).as("d_cs"),
          (-col("s_id")).as("t_cs"))).as("s_id"),
        first(col("cv")).as("cv")) // all rows of a c_id carry the same cv
    // vector → its top-HierSupProbe super-cells: the N·N^(1/4) pass.
    // `first(v)` is value-deterministic (every duplicate of a vec_id
    // carries the same v) and rides the map-side partial agg, so the
    // shuffle stays one row per vector; the explode then fans each vector
    // out to its ≤P routed supers (see the multi-probe doc above).
    val v2s = e.crossJoin(broadcast(sups))
      .groupBy(col("vec_id"))
      .agg(slice(sort_array(collect_list(struct(
          VectorOps.dot(col("v"), col("sv")).as("d_vs"),
          (-col("s_id")).as("t_vs"))), asc = false), 1, HierSupProbe)
          .as("top"),
        first(col("v")).as("v"))
      .select(col("vec_id"), col("v"),
        explode(col("top")).as("t"))
      .select(col("vec_id"), col("v"), (-col("t.t_vs")).as("s_id"))
    // vector → cell: score only the centroids of its routed super-cells.
    val cell = v2s.join(broadcast(c2s), Seq("s_id"))
      .groupBy(col("vec_id"))
      .agg(max_by(col("c_id"),
        struct(VectorOps.dot(col("v"), col("cv")).as("d_vc"),
          (-col("c_id")).as("t_vc"))).as("c_id"))
    (e, cents, cell, nprobe)
  }

  /** The probe-bound query vectors (q_id, qv): vec_id < probeMax. */
  private def queryVecs(e: DataFrame, probeMax: Long): DataFrame =
    e.where(col("vec_id") < probeMax)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))

  /** Each query's top-`nprobe` cells by (dot DESC, c_id) joined to their
    * residents `cell(vec_id, c_id)`, the query itself excluded: rows
    * (c_id, q_id, vec_id).
    */
  private def probedResidents(qa: DataFrame, cents: DataFrame,
      cell: DataFrame, nprobe: Long): DataFrame = {
    val probeW = Window.partitionBy(col("q_id"))
      .orderBy(VectorOps.dot(col("qv"), col("cv")).desc, col("c_id"))
    qa.crossJoin(broadcast(cents))
      .withColumn("rn", row_number().over(probeW))
      .where(col("rn") <= nprobe)
      .select(col("q_id"), col("c_id"))
      .join(cell, "c_id")
      .where(col("vec_id") =!= col("q_id"))
  }

  /** Probe → candidate → exact-re-rank tail shared by both IVF queries:
    * top-`nprobe` cells per query vector, candidates = residents of the
    * probed cells (self excluded), exact top-k by dot with the same
    * deterministic window as the brute-force kNN rows.
    */
  private def ivfKnn(e: DataFrame, cents: DataFrame, cell: DataFrame,
      nprobe: Long, probeMax: Long, k: Int): DataFrame = {
    // THE probe-bound projection: every probe-side use below derives from
    // this single definition, so the `vec_id < probeMax` bound that
    // licenses the qa broadcast cannot drift apart from the probe
    // generation.
    val qa = queryVecs(e, probeMax)
    val cand = probedResidents(qa, cents, cell, nprobe)
      .select(col("q_id"), col("vec_id").as("n_id"))
    // Query-vector re-attachment reuses `qa` — EXPLICITLY probe-bound (the
    // boundedness must not hang on constraint inference): ≤ probeMax rows,
    // safe to broadcast at any corpus size. Candidate-vector re-attachment
    // (`nb`) is the FULL corpus — candidates span every probed cell's
    // residents — so it carries NO hint and shuffle-joins on n_id; a
    // broadcast hint there
    // was a multi-TB driver OOM at 10¹⁰ × 64-d vectors, invisible at sf0.1
    // where auto-broadcast picks BHJ anyway. Pinned by PlanAuditSpec under
    // autoBroadcastJoinThreshold=-1.
    val nb = e.select(col("vec_id").as("n_id"), col("v").as("nv"))
    val rankW = Window.partitionBy(col("q_id"))
      .orderBy(col("dot").desc, col("n_id"))
    cand.join(broadcast(qa), "q_id").join(nb, "n_id")
      .select(col("q_id"), col("n_id"),
        VectorOps.dot(col("qv"), col("nv")).as("dot"))
      .withColumn("nn_rank", row_number().over(rankW))
      .where(col("nn_rank") <= k)
      .select(col("q_id"), col("nn_rank"), col("n_id"), col("dot"))
      .orderBy(col("q_id"), col("nn_rank"))
  }

  /** The sizing CTEs both IVF replays open with (e → s0 → s → c): the
    * same stride/nprobe/sfac arithmetic from count(*) as [[ivfBase]] and
    * [[hierIndex]].
    */
  private val ivfBaseSql: String = s"""
        WITH $vecsSql,
        s0 AS (
          -- NB: // is DuckDB integer division; / would be float division
          SELECT greatest(1, CAST(count(*) AS BIGINT)
                   // CAST(ceil(sqrt(count(*))) AS BIGINT)) AS stride,
                 count(*) AS n
          FROM embeddings),
        s AS (
          SELECT stride,
                 greatest(2, CAST(ceil(
                   ceil(CAST(n AS DOUBLE) / stride) / 4.0) AS BIGINT)) AS nprobe,
                 CAST(ceil(sqrt(
                   ceil(CAST(n AS DOUBLE) / stride))) AS BIGINT) AS sfac
          FROM s0),
        c AS (
          SELECT vec_id AS c_id, v AS cv FROM e
          WHERE vec_id % (SELECT stride FROM s) = 0)"""

  /** The flat cell assignment ([[ivfIndex]]'s `cell`), ending in `cell`. */
  private val ivfCellsSql: String = s"""$ivfBaseSql,
        assign AS (
          SELECT e.vec_id, c.c_id,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_dot_product(e.v, c.cv) DESC, c.c_id) AS rn
          FROM e CROSS JOIN c),
        cell AS (SELECT vec_id, c_id FROM assign WHERE rn = 1)"""

  /** probe → probes → cand over the query relation `queries(q_id, qv)`:
    * each query's top-nprobe cells by (dot DESC, c_id), and their residents
    * other than the query itself as n_id ([[probedResidents]]).
    */
  private def probeCandSql(queries: String): String = s"""
        probe AS (
          SELECT q.q_id, c.c_id,
                 row_number() OVER (PARTITION BY q.q_id
                   ORDER BY list_dot_product(q.qv, c.cv) DESC, c.c_id) AS rn
          FROM $queries q CROSS JOIN c),
        probes AS (SELECT q_id, c_id FROM probe
                   WHERE rn <= (SELECT nprobe FROM s)),
        cand AS (
          SELECT p.q_id, cl.vec_id AS n_id
          FROM probes p JOIN cell cl ON p.c_id = cl.c_id
          WHERE cl.vec_id <> p.q_id)"""

  /** The DuckDB replay of [[ivfKnn]] over a cell-assignment chain `cells`
    * (flat or hierarchical), parameterized on the probe range and k.
    */
  private def ivfKnnSql(cells: String, probeMax: Long, k: Int): String = s"""$cells,
        ${probeCandSql(s"(SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < $probeMax)")},
        scored AS (
          SELECT cd.q_id, cd.n_id, list_dot_product(a.v, b.v) AS dot,
                 row_number() OVER (PARTITION BY cd.q_id
                   ORDER BY list_dot_product(a.v, b.v) DESC, cd.n_id) AS nn_rank
          FROM cand cd
          JOIN e a ON a.vec_id = cd.q_id
          JOIN e b ON b.vec_id = cd.n_id)
        SELECT q_id, nn_rank, n_id, dot FROM scored
        WHERE nn_rank <= $k
        ORDER BY q_id, nn_rank"""

  /** The two-level cell-assignment CTE chain (e → s → c/sup → c2s/v2s →
    * cell), shared verbatim by the probe-contract oracles and the
    * quantized-cell oracles so the assignment arithmetic cannot fork
    * between the replays (same dot-DESC-then-id tiebreaks at every level).
    */
  private val hierCellsSql: String = s"""$ivfBaseSql,
        sup AS (
          SELECT vec_id AS s_id, v AS sv FROM e
          WHERE vec_id % ((SELECT stride FROM s) * (SELECT sfac FROM s)) = 0),
        c2s_r AS (
          SELECT c.c_id, sup.s_id,
                 row_number() OVER (PARTITION BY c.c_id
                   ORDER BY list_dot_product(c.cv, sup.sv) DESC, sup.s_id) AS rn
          FROM c CROSS JOIN sup),
        c2s AS (SELECT c_id, s_id FROM c2s_r WHERE rn = 1),
        v2s_r AS (
          SELECT e.vec_id, sup.s_id,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY list_dot_product(e.v, sup.sv) DESC, sup.s_id) AS rn
          FROM e CROSS JOIN sup),
        v2s AS (SELECT vec_id, s_id FROM v2s_r WHERE rn <= $HierSupProbe),
        cell_r AS (
          SELECT v2s.vec_id, m.c_id,
                 row_number() OVER (PARTITION BY v2s.vec_id
                   ORDER BY list_dot_product(ev.v, c.cv) DESC, m.c_id) AS rn
          FROM v2s
          JOIN e ev ON ev.vec_id = v2s.vec_id
          JOIN c2s m ON m.s_id = v2s.s_id
          JOIN c ON c.c_id = m.c_id),
        cell AS (SELECT vec_id, c_id FROM cell_r WHERE rn = 1)"""

  // ── Product quantization ─────────────────────────────────────────────
  //
  // PQ (Jégou/Douze/Schmid, "Product Quantization for Nearest Neighbor
  // Search", TPAMI 2011) is the memory-scale lever behind every
  // billion-vector ANN deployment (the FAISS IVFADC layout): split the
  // 64-dim vector into M=8 contiguous 8-dim subspaces, quantize each
  // sub-vector to one of K=16 per-subspace codewords, and the corpus
  // shrinks from 256 B/vector (float32) to M·log₂K/8 = 4 B/vector — 64×.
  // At 10¹⁰ vectors that is the difference between 2.5 TB of codes (fits
  // a modest cluster's memory) and 2.5 PB of floats (does not). Search
  // never reconstructs: a query precomputes its M×K table of EXACT
  // sub-distances once (asymmetric distance computation, ADC) and scores
  // any corpus vector with M table lookups plus a fixed-order M-term sum.
  //
  // Everything here is deterministic arithmetic, so unlike most PQ
  // implementations the rows are ORACLE-ABLE: the codebook is seed-vector
  // sub-slices (every ⌊N/K⌋-th vec_id — the hierIndex stride idiom; a
  // production deployment would Lloyd-refine it with exactly
  // llm_kmeans_update's machinery), assignment is argmin over the K=16
  // codewords with the family (d², k) tiebreak, every d² is
  // DotProduct(diff, diff) — the accumulation PROVEN bit-identical to
  // DuckDB list_dot_product (SURVEY §2.3) — and the ADC reduction is the
  // same primitive against a ones vector, pinning the M-term add order
  // left-to-right on both engines.
  private[graft] val PqM = 8       // subspaces
  private[graft] val PqDsub = 8    // dims per subspace: PqM·PqDsub = 64
  private[graft] val PqK = 16L     // codewords per subspace
  private[graft] val PqProbeMax = 32L // bounded ADC query set (probe contract)
  private[graft] val PqTopK = 10

  /** 1-based PqDsub-wide sub-slice of v for subspace m (a column). */
  private def pqSub(v: Column, m: Column): Column =
    slice(v, (m * PqDsub + 1).cast("int"), lit(PqDsub))

  /** The fixed-order M-term sum of `ds`: a DotProduct against a ones
    * vector, the accumulation both engines evaluate bit-identically.
    */
  private def pqSum(ds: Column): Column =
    VectorOps.dot(ds, array(Seq.fill(PqM)(lit(1.0d)): _*))

  private def pqD2(a: Column, b: Column): Column =
    VectorOps.dot(zip_with(a, b, (x, y) => x - y),
      zip_with(a, b, (x, y) => x - y))

  /** (e, cb, codes): the persisted corpus, the M×K codebook — 128 rows ×
    * 8 doubles, broadcast-scale BY CONSTRUCTION at any corpus size — and
    * the per-vector code table exploded to (vec_id, m, code), one row per
    * subspace. The argmin is the ivfIndex max_by idiom: a hash agg
    * collapses map-side to PqM rows per vector BEFORE any exchange (a
    * window argmin would shuffle and sort all N·M·K scored rows).
    */
  private def pqIndex(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    // The cache stays at the scan's own width (data-sized: one block at
    // sf0.1, already-wide at production): spreading the PERSISTED e made
    // every index-scale consumer of the cache (the sizing count, cb's seed
    // filter, the trio's tiny aggs) pay 32 near-empty tasks per stage, a
    // measured 1.3-1.5× loss on pq_codes/pack/recon. ONLY the N·M·K
    // scoring expansion — the one genuinely CPU-heavy stage — gets the
    // size-derived parallelism floor on its input.
    val e = vecs(s, d).persist()
    val n = e.count()
    val sstride = math.max(1L, n / PqK)
    val cb = e.where(col("vec_id") % sstride === 0 &&
        col("vec_id") < sstride * PqK)
      .select((col("vec_id") / sstride).cast("bigint").as("k"), col("v"))
      .select(col("k"),
        explode(sequence(lit(0L), lit((PqM - 1).toLong))).as("m"), col("v"))
      .select(col("m"), col("k"), pqSub(col("v"), col("m")).as("cvec"))
    val codes = Tables.spread(s, e, col("vec_id"))
      .crossJoin(broadcast(cb))
      .select(col("vec_id"), col("m"), col("k"),
        pqD2(pqSub(col("v"), col("m")), col("cvec")).as("d2"))
      .groupBy(col("vec_id"), col("m"))
      .agg(min_by(col("k"), struct(col("d2"), col("k"))).as("code"))
    (e, cb, codes)
  }

  /** Per-query ADC distance tables over the probe-bound query set:
    * (q_id, dm, dk, dq) — PqProbeMax·M·K rows, broadcast-scale by
    * construction like ivfKnn's qa.
    */
  private def pqDistTable(e: DataFrame, cb: DataFrame): DataFrame =
    queryVecs(e, PqProbeMax)
      .crossJoin(broadcast(cb))
      .select(col("q_id"), col("m").as("dm"), col("k").as("dk"),
        pqD2(pqSub(col("qv"), col("m")), col("cvec")).as("dq"))

  /** ADC tail shared by llm_pq_search / llm_ann_ivfpq: given joined rows
    * (q_id, vec_id, m, dq), re-assemble each pair's M per-subspace
    * distances in subspace order (sort_array AFTER collect_list — partial
    * lists merge in nondeterministic order across map partitions, the
    * sort restores the one canonical order) and reduce with DotProduct
    * against a ones vector — the accumulation both engines evaluate
    * bit-identically, so the M-term ADC sum cannot drift. Rank ties break
    * on vec_id like every kNN row in the family.
    */
  private def pqAdcTopK(pairs: DataFrame): DataFrame = {
    val rankW = Window.partitionBy(col("q_id"))
      .orderBy(col("adist").asc, col("vec_id"))
    pairs
      .groupBy(col("q_id"), col("vec_id"))
      .agg(transform(sort_array(collect_list(struct(col("m"), col("dq")))),
        p => p.getField("dq")).as("ds"))
      .select(col("q_id"), col("vec_id"),
        pqSum(col("ds")).as("adist"))
      .withColumn("nn_rank", row_number().over(rankW))
      .where(col("nn_rank") <= PqTopK)
      .select(col("q_id"), col("nn_rank"), col("vec_id"), col("adist"))
      .orderBy(col("q_id"), col("nn_rank"))
  }

  /** The codebook/code-assignment CTE chain (assumes `e` is already
    * defined): pqs → seeds → cb → pqsc → codes. Shared verbatim by all
    * three PQ oracles so the codebook arithmetic cannot fork.
    */
  private val pqCodesSql: String = s"""
        pqs AS (
          SELECT greatest(1, CAST(count(*) AS BIGINT) // $PqK) AS sstride
          FROM e),
        seeds AS (
          SELECT vec_id // (SELECT sstride FROM pqs) AS k, v
          FROM e
          WHERE vec_id % (SELECT sstride FROM pqs) = 0
            AND vec_id < (SELECT sstride FROM pqs) * $PqK),
        cb AS (
          SELECT mm.m, seeds.k,
                 list_transform(range(1, ${PqDsub + 1}),
                   i -> seeds.v[mm.m * $PqDsub + i]) AS cvec
          FROM seeds CROSS JOIN (SELECT unnest(range($PqM)) AS m) mm),
        pqsc AS (
          SELECT e.vec_id, cb.m, cb.k,
                 list_dot_product(
                   list_transform(range(1, ${PqDsub + 1}),
                     i -> e.v[cb.m * $PqDsub + i] - cb.cvec[i]),
                   list_transform(range(1, ${PqDsub + 1}),
                     i -> e.v[cb.m * $PqDsub + i] - cb.cvec[i])) AS d2
          FROM e CROSS JOIN cb),
        codes_r AS (
          SELECT vec_id, m, k,
                 row_number() OVER (PARTITION BY vec_id, m
                   ORDER BY d2, k) AS rn
          FROM pqsc),
        codes AS (SELECT vec_id, m, k AS code FROM codes_r WHERE rn = 1)"""

  /** The ADC query-side CTE chain (assumes `e` and the pqCodesSql chain):
    * qs → dt, plus the grouped ordered-list reduction both search oracles
    * end with. The ones-vector dot is the list_dot_product spelling of
    * the fixed-order M-term sum (see pqAdcTopK).
    */
  private val pqDistSql: String = s"""
        qs AS (SELECT vec_id AS q_id, v AS qv FROM e
               WHERE vec_id < $PqProbeMax),
        dt AS (
          SELECT qs.q_id, cb.m AS dm, cb.k AS dk,
                 list_dot_product(
                   list_transform(range(1, ${PqDsub + 1}),
                     i -> qs.qv[cb.m * $PqDsub + i] - cb.cvec[i]),
                   list_transform(range(1, ${PqDsub + 1}),
                     i -> qs.qv[cb.m * $PqDsub + i] - cb.cvec[i])) AS dq
          FROM qs CROSS JOIN cb)"""

  private val pqOnesSql: String =
    "[" + Seq.fill(PqM)("1.0").mkString(", ") + "]"

  /** The rank tail of both ADC search oracles over ds(q_id, vec_id, dl),
    * the DuckDB spelling of [[pqAdcTopK]]'s ranking.
    */
  private val pqTopKSql: String = s"""ranked AS (
          SELECT q_id, vec_id,
                 list_dot_product(dl, $pqOnesSql) AS adist,
                 row_number() OVER (PARTITION BY q_id
                   ORDER BY list_dot_product(dl, $pqOnesSql), vec_id)
                   AS nn_rank
          FROM ds)
        SELECT q_id, nn_rank, vec_id, adist FROM ranked
        WHERE nn_rank <= $PqTopK
        ORDER BY q_id, nn_rank"""

  /** Deterministic signed-random-projection hyperplanes for the cosine
    * LSH row: 16 planes × 64 dims, every coefficient derived
    * from md5("graft-srp-v1:j:k") exactly as the DuckDB oracle re-derives
    * it (first 8 hex chars → BIGINT → % 1000001 → centered → / 500000.0 —
    * the llm_sample_stratified salted-md5 idiom), so both engines hold
    * bit-identical plane vectors and the sign bits agree exactly. Fixed
    * plane COUNT (not N-derived): SRP-LSH's knobs are bits-per-band and
    * band count, chosen from the target cosine and bucket occupancy, not
    * from corpus size — so no count() pass is needed to build this index.
    */
  private def srpPlanesN(n: Int): Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(n) { j =>
      Array.tabulate(64) { k =>
        md.reset()
        val hex = md.digest(s"graft-srp-v1:$j:$k".getBytes("UTF-8"))
          .take(4).map(b => f"$b%02x").mkString
        ((java.lang.Long.parseLong(hex, 16) % 1000001L) - 500000L) / 500000.0
      }
    }
  }

  private lazy val srpPlanes: Array[Array[Double]] = srpPlanesN(16)

  /** llm_knn_graph's occupancy knobs: 8 SRP bands of
    * ⌈log2(⌈N/64⌉)⌉ bits — bucket count ∝ N, expected occupancy ≈ the
    * constant 64 target at any corpus size, so the bucket self-join is
    * linear (a √N-cell sizing made it N^1.5 — 43× wall at 30×).
    */
  private val GraphBands = 8
  private val GraphBucket = 64L

  /** The SRP-LSH rep graph — shared by llm_neardup_cosine_lsh (which
    * expands it to member pairs) and llm_dedup_semantic (which connects it
    * into components), so the candidate generation cannot fork between the
    * pair row and the dedup row. Returns (chunks, verified) where
    *
    *   chunks   = the [[RepGraph.chunks]] of DISTINCT vector values
    *              (`v`), so m byte-identical vectors enter band
    *              generation ONCE instead of emitting C(m,2) verified
    *              pairs: identical vectors have identical sign bits AND
    *              identical cosine to every other vector, so banding
    *              representatives loses nothing and the member expansion
    *              at the end is exact;
    *   verified = exact-verified REP pairs at cos ≥ 0.3:
    *              (a_rep, b_rep, cos), a_rep < b_rep.
    *
    * Plan shape of the verify (A/B, measured): rep vectors and
    * their precomputed norms are CARRIED through the band-key bucket join
    * and the cosine is verified INLINE; only the verified ANSWER is
    * distinct'd (a pair that collides in k ≤ 4 bands is verified k times —
    * bounded duplicate dot work — but the candidate-bound distinct AND
    * both corpus re-attach shuffle joins disappear). The rejected
    * alternative distinct'd the raw candidate set then re-attached vectors
    * via two corpus joins: interleaved same-boot pairs read sf0.1 1.02 vs
    * 0.83 s and 10× staging 60.4 vs 2.35 s — the carried form is 25×
    * faster exactly where the candidate set outgrows the answer, because
    * the shuffled bytes track the ANSWER, not the collision count.
    * With the rep collapse in front, the bucket join is
    * additionally answer-bound on clone-dense corpora: a hot bucket of m
    * identical vectors is ONE rep row, not m. Still zero corpus-bound
    * broadcasts, no cartesian (pinned).
    */
  private[graft] def srpRepGraph(
      s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val e = vecsSpread(s, d)
    // Stage 0: collapse byte-identical vectors (RepGraph.chunks).
    val chunks = RepGraph.chunks(e, "v", "vec_id")
    val reps = RepGraph.reps(chunks).select(col("rep_id"), col("v"))
    val bits: Seq[org.apache.spark.sql.Column] = (0 until 16).map { j =>
      when(VectorOps.dot(col("v"), lit(srpPlanes(j))) >= 0.0, 1L)
        .otherwise(0L)
    }
    val bands = (0 until 4).map { b =>
      (bits(4 * b) + bits(4 * b + 1) * 2 + bits(4 * b + 2) * 4 +
        bits(4 * b + 3) * 8).as(s"band$b")
    }
    val sig = reps.select(Seq(col("rep_id"), col("v"),
        sqrt(VectorOps.dot(col("v"), col("v"))).as("nrm")) ++ bands: _*)
      .select(col("rep_id"), col("v"), col("nrm"), expr(
        "stack(4, 0L, band0, 1L, band1, 2L, band2, 3L, band3)" +
          " as (band_idx, band_val)"))
    val a = sig.select(col("rep_id").as("a_rep"), col("v").as("a_v"),
      col("nrm").as("a_n"), col("band_idx"), col("band_val"))
    val b = sig.select(col("rep_id").as("b_rep"), col("v").as("b_v"),
      col("nrm").as("b_n"), col("band_idx"), col("band_val"))
    val verified = a.join(b, Seq("band_idx", "band_val"))
      .where(col("a_rep") < col("b_rep"))
      .select(col("a_rep"), col("b_rep"),
        (VectorOps.dot(col("a_v"), col("b_v")) /
          (col("a_n") * col("b_n"))).as("cos"))
      .where(col("cos") >= 0.3)
      .distinct()
    (chunks, verified)
  }

  /** Per-group "glue" predicate: members of a group are byte-identical, so
    * every intra-group pair's cosine is dot(v,v)/(nrm·nrm) — ≈1.0 for any
    * nonzero vector, NULL/NaN for the all-zeros vector (0/0), in which
    * case the pair FAILS the ≥ τ verify in both engines and the group's
    * members stay singletons. Computed with the identical IEEE expression
    * the pairwise verify uses (dot over the same operand order, norm
    * product in the denominator) so an intra pair carries bit-identical
    * cos to what the un-collapsed pipeline would have emitted.
    */
  private def selfCos: org.apache.spark.sql.Column =
    VectorOps.dot(col("v"), col("v")) /
      (sqrt(VectorOps.dot(col("v"), col("v"))) *
        sqrt(VectorOps.dot(col("v"), col("v"))))

  /** The DuckDB CTE chain replaying llm_neardup_cosine_lsh (e → planes →
    * bits → bands → bucket join → exact verify), ending in
    * `vp(a_id, b_id, cos)` — shared by the cosine_lsh and dedup_semantic
    * oracles.
    */
  private val srpPairsSql: String = s"""
        $vecsSql,
        h AS (
          SELECT j, list_transform(range(0, 64), k ->
            ((('0x' || substr(md5('graft-srp-v1:' || j || ':' || k), 1, 8))::BIGINT
              % 1000001) - 500000) / 500000.0) AS hv
          FROM range(0, 16) t(j)),
        bits AS (
          SELECT e.vec_id, h.j,
                 CASE WHEN list_dot_product(e.v, h.hv) >= 0 THEN 1 ELSE 0 END AS bit
          FROM e CROSS JOIN h),
        sig AS (
          SELECT vec_id, j // 4 AS band_idx,
                 CAST(sum(bit * (1 << (j % 4))) AS BIGINT) AS band_val
          FROM bits GROUP BY vec_id, j // 4),
        cand AS (
          SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
          FROM sig a JOIN sig b
            ON a.band_idx = b.band_idx AND a.band_val = b.band_val
               AND a.vec_id < b.vec_id),
        vp AS (
          SELECT c.a_id, c.b_id,
                 list_dot_product(ea.v, eb.v)
                   / (sqrt(list_dot_product(ea.v, ea.v))
                      * sqrt(list_dot_product(eb.v, eb.v))) AS cos
          FROM cand c
          JOIN e ea ON c.a_id = ea.vec_id
          JOIN e eb ON c.b_id = eb.vec_id
          WHERE list_dot_product(ea.v, eb.v)
                  / (sqrt(list_dot_product(ea.v, ea.v))
                     * sqrt(list_dot_product(eb.v, eb.v))) >= 0.3)"""

  val defs: Seq[Q] = Seq(
    // H: embedding-cosine near-dup pairs over a bounded probe range —
    // cosine = dot / (|a|·|b|), τ chosen above the corpus p99 (~0.29) so
    // the pair set is the interesting tail.
    Q(
      "llm_neardup_cosine",
      (s, d) => {
        val e = vecsSpread(s, d)
          .select(col("vec_id"), col("v"),
            sqrt(VectorOps.dot(col("v"), col("v"))).as("norm"))
        val a = e.select(col("vec_id").as("a_id"), col("v").as("a_v"),
          col("norm").as("a_n"))
        val b = e.select(col("vec_id").as("b_id"), col("v").as("b_v"),
          col("norm").as("b_n"))
        a.join(b, col("a_id") < col("b_id"))
          .select(col("a_id"), col("b_id"),
            (VectorOps.dot(col("a_v"), col("b_v")) /
              (col("a_n") * col("b_n"))).as("cos"))
          .where(col("cos") >= 0.3)
          .orderBy(col("a_id"), col("b_id"))
      },
      oracle = Some(s"""
        WITH $vecsSql
        SELECT a.vec_id AS a_id, b.vec_id AS b_id,
               list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v))
                    * sqrt(list_dot_product(b.v, b.v))) AS cos
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE list_dot_product(a.v, b.v)
                / (sqrt(list_dot_product(a.v, a.v))
                   * sqrt(list_dot_product(b.v, b.v))) >= 0.3
        ORDER BY a_id, b_id""")),

    // H (scale form): SRP-LSH bucketed cosine near-dup — the embedding-
    // space twin of llm_neardup_minhash's banding, and the scale path the
    // all-pairs llm_neardup_cosine baseline (above) cannot be: 16
    // deterministic signed-random-projection bits per vector (see
    // srpPlanes), banded 4×4; a pair is a CANDIDATE iff some 4-bit band
    // matches, and the output is the candidates verified exact
    // (cos ≥ 0.3). Deterministic end to end, so the full
    // sign→band→bucket-join→verify pipeline replays in DuckDB and the row
    // is driver-hash-verified like an exact query (recall vs the true
    // tail is the quantity the oracle CANNOT express — floor-pinned in
    // AnnRecallSpec's SrpRecall sibling: measured ≈0.44/0.46, the
    // 1−(1−(1−θ/π)^4)^4 theory line for τ=0.3 on this structureless
    // random corpus).
    //
    // Scale shape: the signature stage is map-only (planes are plan
    // literals — zero joins, zero count() passes); pair generation is the
    // LSH family's linear groupBy-shape join on the (band_idx, band_val)
    // bucket key, CARRYING each vector + precomputed norm so the cosine
    // verifies inline and only the answer is distinct'd (the
    // A/B in srpRepGraph's comment — 25× over distinct-then-attach
    // at 10× staging); corpus-bound sides pinned never-broadcast under
    // auto-broadcast-off. Bits-per-band is the occupancy knob: at 10¹⁰
    // vectors a production run sizes bands ≈ log2(N/target_bucket) bits
    // (the banding arithmetic is unchanged); 4-bit bands here keep the
    // driver-gate output non-empty on the ANN-hostile random corpus whose
    // cos tail tops out at ~0.51.
    //
    // Member expansion (RepGraph.memberPairs): cross-group pairs inherit
    // the verified rep cos verbatim (members are byte-identical to their
    // rep), intra-group pairs of glued groups carry selfCos. The output is
    // bit-identical to the all-vector pipeline, since identical vectors
    // share all band values and every member pair's cosine IS its reps'.
    Q(
      "llm_neardup_cosine_lsh",
      (s, d) => {
        val (chunks, verified) = srpRepGraph(s, d)
        RepGraph.memberPairs(chunks, verified, "cos", ordered = false,
            intra = selfCos, tau = 0.3)
          .orderBy(col("a_id"), col("b_id"))
      },
      oracle = Some(s"""
        WITH $srpPairsSql
        SELECT a_id, b_id, cos FROM vp
        ORDER BY a_id, b_id""")),

    // H (scale form): IVF approximate NN, deterministic end to end (see
    // file header). Queries = vec_id < 50, k = 3, nprobe = 2.
    //
    // Coarse-quantizer sizing: ncells ≈ √N (stride = N/⌈√N⌉), the standard
    // IVF balance — a FIXED stride makes ncells ∝ N and the assignment
    // argmax O(N²/stride), which the 30× scaling probe caught as a 41×
    // wall-ratio. With √N cells, assignment is O(N·√N) and a probe scans
    // nprobe·N/√N of the corpus. The oracle derives the identical stride
    // from count(*) so both engines quantize identically at any scale.
    Q(
      "llm_ann_ivf",
      (s, d) => {
        val (e, cents, cell, nprobe) = ivfIndex(s, d)
        ivfKnn(e, cents, cell, nprobe, probeMax = 50, k = 3)
      },
      oracle = Some(ivfKnnSql(ivfCellsSql, probeMax = 50, k = 3))),

    // H (scale form): bucketed per-vector kNN — llm_knn_per_vector's exact
    // contract (probe set vec_id < 100, k = 3, same output schema and
    // deterministic tiebreaks) with the IVF cell assignment as the
    // candidate generator instead of the full-corpus join (the promise
    // made at llm_knn_per_vector's definition). Per probe the scored set
    // is the probed fraction of the corpus (≈ nprobe·N/ncells rows)
    // instead of all N, so the probe×base stage
    // drops from O(P·N) to O(P·N/4) dot products while assignment stays
    // the shared O(N·√N) map-side argmax — sub-quadratic end to end, and
    // directly diffable against the brute-force row for recall.
    Q(
      "llm_knn_bucketed",
      (s, d) => {
        val (e, cents, cell, nprobe) = ivfIndex(s, d)
        ivfKnn(e, cents, cell, nprobe, probeMax = 100, k = 3)
      },
      oracle = Some(ivfKnnSql(ivfCellsSql, probeMax = 100, k = 3))),

    // H (scale form, next rung): HIERARCHICAL IVF — llm_ann_ivf's contract
    // (probeMax = 50, k = 3, same probing/rerank tail) over the two-level
    // O(N·N^(1/4)) cell assignment (see hierIndex). Declared alongside the
    // flat rows, not replacing them: the flat assignment is the recall
    // baseline and the A/B anchor for the 30×-probe complexity story.
    Q(
      "llm_ann_hier",
      (s, d) => {
        val (e, cents, cell, nprobe) = hierIndex(s, d)
        ivfKnn(e, cents, cell, nprobe, probeMax = 50, k = 3)
      },
      oracle = Some(ivfKnnSql(hierCellsSql, probeMax = 50, k = 3))),

    // H (scale form): hierarchical bucketed kNN — llm_knn_bucketed's exact
    // contract (probe set vec_id < 100, k = 3, same output schema and
    // deterministic tiebreaks) over the two-level O(N·N^(1/4)) assignment,
    // so BOTH kNN contracts (the 50-probe ANN row and the 100-probe
    // per-vector row) have a ≥10×-scale-safe variant (a
    // 30× probe measured the flat assignment at 136–158× wall — the
    // documented N^1.5 curve — while the hier assignment ran the same data
    // 39× faster). Shares ivfKnn's probe/rerank tail, the
    // no-corpus-broadcast pins, and the AnnRecallSpec floor.
    Q(
      "llm_knn_hier",
      (s, d) => {
        val (e, cents, cell, nprobe) = hierIndex(s, d)
        ivfKnn(e, cents, cell, nprobe, probeMax = 100, k = 3)
      },
      oracle = Some(ivfKnnSql(hierCellsSql, probeMax = 100, k = 3))),

    // H (scale form): full-corpus kNN GRAPH
    // — the semantic-dedup primitive none of the probe-contract rows are:
    // EVERY vector's exact top-3 among its SRP-band bucket-mates (the
    // SNN/kNN-graph build step that embedding-cluster dedup and graph ANN
    // indexes start from). The probe-contract rows bound their query side
    // (vec_id < 50/100) and broadcast it; here the query side IS the
    // corpus, so the plan is the LSH bucket-key shape: candidates come
    // from the signature table's SELF-join on (band_idx, band_val), rep
    // vectors are CARRIED through the bucket join (the
    // carried-verify mechanics of srpRepGraph) so the dot scores inline with zero
    // re-attach joins, multi-band duplicate candidates collapse in ONE
    // linear (q_id, n_id) aggregation, and the per-q top-3 plans as
    // WindowGroupLimit heaps (pinned) so no bucket's full candidate list
    // survives to the sort.
    //
    // Cell sizing: hierIndex's probe-contract ≈√N cells would make the
    // candidate phase total Σ|cell|² ≈ N^1.5 scored pairs — measured 43×
    // wall at 30× staging. This row has its OWN occupancy-targeted cells: 8
    // independent SRP bands of ⌈log2(⌈N/64⌉)⌉ sign bits each (the
    // bits-per-band knob the LSH rows document), so bucket count ∝ N and
    // expected occupancy stays ≈ the constant target 64 at every corpus
    // size — per-band candidate work ≈ N·64, total ≈ 8·64·N, LINEAR.
    // Assignment is map-only (planes are md5-derived plan literals — no
    // count()-dependent centroid joins at all; the one count() pass sizes
    // bits_per_band, an integer derived via binary-string length so both
    // engines compute it exactly, never through float log2). 8 bands
    // (vs the pair row's 4) buy union-recall: a true neighbor is a
    // candidate if it agrees on ALL bits of ANY band.
    Q(
      "llm_knn_graph",
      (s, d) => {
        val e = vecsSpread(s, d).persist()
        val n = e.count()
        val ncellsTarget = math.max(1L, (n + GraphBucket - 1) / GraphBucket)
        val bBits = java.lang.Long.toBinaryString(
          math.max(1L, ncellsTarget - 1)).length
        val planes = srpPlanesN(GraphBands * bBits)
        val bits: Seq[org.apache.spark.sql.Column] =
          (0 until GraphBands * bBits).map { j =>
            when(VectorOps.dot(col("v"), lit(planes(j))) >= 0.0, 1L)
              .otherwise(0L)
          }
        val bandCols = (0 until GraphBands).map { bi =>
          (0 until bBits).map(t => bits(bi * bBits + t) * (1L << t))
            .reduce(_ + _).as(s"band$bi")
        }
        val sig = e.select(Seq(col("vec_id"), col("v")) ++ bandCols: _*)
          .select(col("vec_id"), col("v"), expr(
            s"stack($GraphBands, " +
              (0 until GraphBands).map(i => s"${i}L, band$i").mkString(", ") +
              ") as (band_idx, band_val)"))
        val a = sig.select(col("vec_id").as("q_id"), col("v").as("qv"),
          col("band_idx"), col("band_val"))
        val b = sig.select(col("vec_id").as("n_id"), col("v").as("nv"),
          col("band_idx"), col("band_val"))
        val rankW = Window.partitionBy(col("q_id"))
          .orderBy(col("dot").desc, col("n_id"))
        a.join(b, Seq("band_idx", "band_val"))
          .where(col("q_id") =!= col("n_id"))
          .select(col("q_id"), col("n_id"),
            VectorOps.dot(col("qv"), col("nv")).as("dot"))
          // One linear shuffle collapses the ≤8× per-band candidate
          // multiplicity (all copies carry the identical dot, so max is
          // a value no-op); a distinct-then-attach form would pay two
          // corpus-wide re-attach joins instead (rejected in the
          // carried-verify A/B, 25× at 10× staging).
          .groupBy(col("q_id"), col("n_id"))
          .agg(max(col("dot")).as("dot"))
          .withColumn("nn_rank", row_number().over(rankW))
          .where(col("nn_rank") <= 3)
          .select(col("q_id"), col("nn_rank"), col("n_id"), col("dot"))
          .orderBy(col("q_id"), col("nn_rank"))
      },
      oracle = Some(s"""
        WITH $vecsSql,
        s0 AS (SELECT count(*) AS n FROM embeddings),
        -- bits/band = ⌈log2(⌈N/64⌉)⌉ via exact integer binary-string
        -- length (float log2 could straddle a ulp boundary between
        -- engines at exact powers of two): length(bin(x)) = ⌊log2 x⌋+1.
        s AS (
          SELECT length(bin(greatest(1,
                   greatest(1, (n + 63) // 64) - 1))) AS bb
          FROM s0),
        h AS (
          SELECT j, list_transform(range(0, 64), k ->
            ((('0x' || substr(md5('graft-srp-v1:' || j || ':' || k), 1, 8))::BIGINT
              % 1000001) - 500000) / 500000.0) AS hv
          FROM range(0, 520) t(j)
          WHERE j < 8 * (SELECT bb FROM s)),
        bits AS (
          SELECT e.vec_id, h.j, s.bb,
                 CASE WHEN list_dot_product(e.v, h.hv) >= 0
                   THEN 1 ELSE 0 END AS bit
          FROM e CROSS JOIN h CROSS JOIN s),
        sig AS (
          SELECT vec_id, j // bb AS band_idx,
                 CAST(sum(bit * ((1::BIGINT) << (j % bb))) AS BIGINT) AS band_val
          FROM bits GROUP BY vec_id, j // bb),
        cand AS (
          SELECT DISTINCT a.vec_id AS q_id, b.vec_id AS n_id
          FROM sig a JOIN sig b
            ON a.band_idx = b.band_idx AND a.band_val = b.band_val
               AND a.vec_id <> b.vec_id),
        scored AS (
          SELECT cd.q_id, cd.n_id, list_dot_product(qa.v, nb.v) AS dot,
                 row_number() OVER (PARTITION BY cd.q_id
                   ORDER BY list_dot_product(qa.v, nb.v) DESC, cd.n_id)
                   AS nn_rank
          FROM cand cd
          JOIN e qa ON qa.vec_id = cd.q_id
          JOIN e nb ON nb.vec_id = cd.n_id)
        SELECT q_id, nn_rank, n_id, dot FROM scored
        WHERE nn_rank <= 3
        ORDER BY q_id, nn_rank""")),

    // H (pipeline capstone): SEMANTIC dedup — SemDeDup-shaped:
    // connect the SRP-LSH verified cosine pair set (the exact set
    // llm_neardup_cosine_lsh emits) into connected components
    // and assign every vector keep_id = min id of its component
    // (singletons keep themselves). The embedding-space twin of
    // llm_dedup_cluster, built from the SAME two shared pieces: the LSH
    // candidate generation (cannot fork from the pair row) and the
    // component loop (RepGraph.components). Output
    // is ONE ROW PER VECTOR — linear where any pair list is quadratic in
    // cluster size, the same 100 TB output contract as the cluster row.
    // Oracle: recursive-CTE reachability over the identical replayed pair
    // set, keep_id = min reachable id (verify-scale walk, the cluster
    // oracle's form).
    Q(
      "llm_dedup_semantic",
      (s, d) => {
        // The component loop runs over the REP graph, not the expanded
        // member pairs — m byte-identical vectors are ONE label row, so
        // |labels| is bounded by the DISTINCT-vector near-dup answer even on
        // clone-dense corpora. Exactly llm_dedup_cluster's shape.
        val (chunks, verified) = srpRepGraph(s, d)
        val labels = RepGraph.components(verified)
        // keep_id equivalence with the member-pair semantics: members of a
        // GLUED group (selfCos ≥ τ — any nonzero duplicate vector) are
        // mutually near-dup, so they share their rep's component
        // (coalesce re-admits reps with no cross edges); members of a
        // non-glued group (the all-zeros vector: selfCos is 0/0, failing
        // the verify in both engines) have no edges at all — intra pairs
        // fail the same τ check and cross pairs fail on the zero norm —
        // so each keeps itself, exactly as the pair-graph walk decides.
        chunks.join(broadcast(labels), Seq("rep_id"), "left")
          .select(explode(col("members")).as("vec_id"),
            when(selfCos >= 0.3,
              coalesce(col("comp"), col("rep_id"))).as("glued_keep"))
          .select(col("vec_id"),
            coalesce(col("glued_keep"), col("vec_id")).as("keep_id"))
          .orderBy(col("vec_id"))
      },
      oracle = Some(s"""
        WITH RECURSIVE $srpPairsSql,
        edges AS (
          SELECT a_id AS src, b_id AS dst FROM vp
          UNION ALL
          SELECT b_id AS src, a_id AS dst FROM vp),
        reach(id, r) AS (
          SELECT vec_id, vec_id FROM e
          UNION
          SELECT reach.id, edges.dst
          FROM reach JOIN edges ON edges.src = reach.r)
        SELECT id AS vec_id, min(r) AS keep_id
        FROM reach GROUP BY id
        ORDER BY vec_id""")),


    // H: QUANTIZED K-MEANS CENTROID UPDATE — one exact Lloyd
    // iteration, the clustering primitive SemDeDup-style diversity
    // pruning and IVF index builds iterate at scale: assign every vector
    // to its cell (the shared two-level hier assignment — deterministic,
    // O(N·N^(1/4))), then per (cell, dimension) emit the member count and
    // the centroid-update mean. The mean is computed over the int8
    // QUANTIZED components (llm_emb_quant's exact floor(x/scale·127 + ½)
    // encoding) for the same reason agg_corr_cov uses exact sums: a
    // double sum across a shuffle is partition-order-dependent and could
    // never hash-match DuckDB's sequential sum, while BIGINT sums of
    // int8 components are order-insensitive-exact and the single final
    // division is IEEE-identical in both engines — and quantized-domain
    // k-means is the production memory-scale choice anyway.
    //
    // Scale shape: quantization is map-only; q ⋈ cell joins two
    // corpus-bound sides on vec_id — SHUFFLE join, never broadcast
    // (pinned); the posexplode is 64 rows per vector feeding ONE linear
    // (c_id, dim) aggregation with map-side partials; output is
    // ncells×64 rows — index-scale, not corpus-scale. A full k-means run
    // loops this query with the previous output as the centroid table;
    // one iteration is declared because the FIXPOINT is corpus-dependent
    // while one update is exactly oracle-able.
    Q(
      "llm_kmeans_update",
      (s, d) => {
        val (e, _, cell, _) = hierIndex(s, d)
        quantize(e).join(cell, "vec_id")
          .select(col("c_id"), posexplode(col("q")).as(Seq("dim", "qc")))
          .groupBy(col("c_id"), col("dim"))
          .agg(count(lit(1)).as("n"), sum(col("qc")).as("qsum"))
          .select(col("c_id"), col("dim").cast("bigint").as("dim"),
            col("n"), col("qsum"),
            (col("qsum").cast("double") / col("n").cast("double")).as("q_mean"))
          .orderBy(col("c_id"), col("dim"))
      },
      oracle = Some(s"""$hierCellsSql,
        $quantizeSql,
        x AS (
          SELECT cell.c_id, r.i AS dim, qv.q[r.i + 1] AS qc
          FROM qv JOIN cell USING (vec_id), range(0, 64) r(i))
        SELECT c_id, CAST(dim AS BIGINT) AS dim,
               count(*) AS n,
               CAST(sum(qc) AS BIGINT) AS qsum,
               CAST(sum(qc) AS DOUBLE) / count(*) AS q_mean
        FROM x GROUP BY c_id, dim
        ORDER BY c_id, dim""")),

    // H: CLUSTER-PROXIMITY SAMPLING — the third leg of the
    // SemDeDup-style trilogy (semantic dedup → quantized Lloyd update →
    // THIS): per hier cell keep the K=8 vectors closest to the cell's
    // quantized centroid (the "most central exemplars" selection that
    // diversity pruning and prototype-set construction run after
    // clustering). Distance is dist² to the centroid-update mean in the
    // quantized domain, expressed as DotProduct(diff, diff) over the
    // element-wise diff array — the one accumulation both engines are
    // PROVEN to evaluate bit-identically (DotProduct ↔ list_dot_product,
    // SURVEY §2.3), so the row stays hash-verifiable where an ad-hoc
    // float fold might differ in summation order. Ties break on vec_id.
    //
    // Scale shape: the centroid table is ncells×64 — index-scale, built
    // by one bounded aggregation and legitimately BROADCAST (the cents
    // broadcast argument); the corpus side quantizes map-only, joins the
    // broadcast centroids, and ranks with row_number ≤ K — planned as
    // WindowGroupLimit heaps (pinned), so each partition keeps only its
    // per-cell top-K before the exchange. One corpus shuffle for the
    // cell assignment join (q ⋈ cell, pinned) + the window exchange.
    Q(
      "llm_cluster_sample",
      (s, d) => {
        val rankW = Window.partitionBy(col("c_id"))
          .orderBy(col("dist2").asc, col("vec_id"))
        quantizedDist2(s, d)
          .withColumn("rk", row_number().over(rankW))
          .where(col("rk") <= 8)
          .select(col("c_id"), col("rk"), col("vec_id"), col("dist2"))
          .orderBy(col("c_id"), col("rk"))
      },
      oracle = Some(s"""$quantizedDist2Sql,
        ranked AS (
          SELECT c_id, vec_id, dist2,
                 row_number() OVER (PARTITION BY c_id
                   ORDER BY dist2 ASC, vec_id) AS rk
          FROM scored)
        SELECT c_id, rk, vec_id, dist2 FROM ranked
        WHERE rk <= 8
        ORDER BY c_id, rk""")),

    // H: DIVERSITY PRUNING — SemDeDup's final
    // keep-list given a per-cluster budget: within each hier cell, keep
    // the ⌈30%·|cell|⌉ vectors FARTHEST from the quantized centroid (the
    // SemDeDup paper's choice — for semantically clustered near-dups the
    // low-similarity-to-centroid members are the diverse ones; the
    // centroid-adjacent mass is redundant) and emit ONE row per vector
    // with its rank and keep/drop flag — the linear keep-list contract,
    // the same output shape llm_dedup_cluster established.
    //
    // Shares llm_cluster_sample's quantize+assign+centroid stages via
    // quantizedDist2 (one definition — identical plans and the
    // CacheManager-shared persist are structural);
    // dist² is DotProduct(diff, diff) — the accumulation PROVEN
    // bit-identical across engines — and the rank orders (dist2 DESC,
    // vec_id) so ties are deterministic. The budget ⌈0.3·n⌉ uses one
    // double mul + ceil, IEEE-identical in DuckDB; n rides the SAME
    // Window partition as the rank (no extra exchange — both window
    // nodes share the c_id partitioning).
    //
    // Scale shape: centroid table is index-scale (broadcast, pinned);
    // q ⋈ cell shuffles (pinned); one window exchange on c_id. No limit
    // prune applies — every vector is emitted with its flag, which is
    // the point: the keep-list feeds the next pipeline stage.
    Q(
      "llm_diversity_prune",
      (s, d) => {
        val rankW = Window.partitionBy(col("c_id"))
          .orderBy(col("dist2").desc, col("vec_id"))
        val cntW = Window.partitionBy(col("c_id"))
        quantizedDist2(s, d)
          .select(col("c_id"), col("vec_id"), col("dist2"),
            row_number().over(rankW).as("rk"),
            count(lit(1)).over(cntW).as("n_cell"))
          .select(col("c_id"), col("rk"), col("vec_id"), col("dist2"),
            (col("rk") <= ceil(col("n_cell") * lit(0.3d))).as("kept"))
          .orderBy(col("c_id"), col("rk"))
      },
      oracle = Some(s"""$quantizedDist2Sql,
        ranked AS (
          SELECT c_id, vec_id, dist2,
                 row_number() OVER (PARTITION BY c_id
                   ORDER BY dist2 DESC, vec_id) AS rk,
                 count(*) OVER (PARTITION BY c_id) AS n_cell
          FROM scored)
        SELECT c_id, rk, vec_id, dist2,
               rk <= ceil(n_cell * 0.3e0) AS kept
        FROM ranked
        ORDER BY c_id, rk""")),

    // H: symmetric int8 quantization audit — the memory-scale lever every
    // production ANN deployment pulls (4× smaller vectors, SIMD int8 dot
    // kernels): per vector, max-abs scaling to [-127, 127] with
    // round-half-up encoded as floor(x/scale·127 + ½) — NOT the engines'
    // round() (HALF_UP vs banker's tie policies differ; floor(+½) is the
    // identical IEEE op in both) — plus the reconstruction-quality metrics
    // a quantization job reports: L2 norm (DotProduct ↔ list_dot_product,
    // bit-identical accumulation), quantized min/max/sum, and max absolute
    // dequantization error with the mul/div order fixed on both engines.
    // Zero vectors (scale = 0) take the q≡0 branch via the same CASE both
    // engines evaluate. Map-only: one projection pass over the vectors,
    // ZERO corpus shuffles at any scale (plan-pinned to at most the
    // oracle-ordering exchange) — the quantized corpus would be written
    // back columnar and the int8 payload is 64 B/vector vs 256.
    Q(
      "llm_emb_quant",
      (s, d) => {
        val scaled = vecs(s, d).select(col("vec_id"), col("v"),
          sqrt(VectorOps.dot(col("v"), col("v"))).as("l2_norm"),
          int8Scale(col("v")).as("scale"))
        scaled
          .select(col("vec_id"), col("l2_norm"), col("scale"),
            int8Codes(col("v"), col("scale")).as("q"), col("v"))
          .select(col("vec_id"),
            size(col("v")).cast("bigint").as("dim"),
            col("l2_norm"),
            array_min(col("q")).as("q_min"),
            array_max(col("q")).as("q_max"),
            aggregate(col("q"), lit(0L), (a, x) => a + x).as("q_sum"),
            when(col("scale") > 0,
              array_max(zip_with(col("q"), col("v"),
                (q, x) => abs(q.cast("double") * col("scale") / 127d - x))))
              .otherwise(lit(0d)).as("max_abs_err"))
          .orderBy(col("vec_id"))
      },
      oracle = Some(s"""
        WITH $vecsSql,
        s AS (
          SELECT vec_id, v,
                 sqrt(list_dot_product(v, v)) AS l2_norm,
                 ${int8ScaleSql("v")} AS scale
          FROM e),
        q AS (
          SELECT vec_id, v, l2_norm, scale, ${int8CodesSql("v", "scale")} AS qv
          FROM s)
        SELECT vec_id,
               CAST(len(v) AS BIGINT) AS dim,
               l2_norm,
               CAST(list_aggregate(qv, 'min') AS BIGINT) AS q_min,
               CAST(list_aggregate(qv, 'max') AS BIGINT) AS q_max,
               -- coalesce: DuckDB's list sum over an EMPTY list is NULL,
               -- Spark's aggregate(q, 0L, +) is 0 — a zero-length
               -- embedding would diverge without it.
               CAST(coalesce(list_aggregate(qv, 'sum'), 0) AS BIGINT) AS q_sum,
               CASE WHEN scale > 0
                 THEN list_aggregate(
                   list_transform(range(1, len(v) + 1),
                     i -> abs(CAST(qv[i] AS DOUBLE) * scale / 127 - v[i])),
                   'max')
                 ELSE 0.0 END AS max_abs_err
        FROM q
        ORDER BY vec_id""")),

    // H: LLOYD CONVERGENCE SHIFT — the number
    // an iterative k-means driver checks after every llm_kmeans_update
    // pass ("stop when max centroid shift < ε"): per cell, the quantized-
    // domain dist² between the cell's SEED centroid (its c_id IS the seed
    // vec_id, so the seed's quantized vector is already in the q table)
    // and the iteration-1 mean llm_kmeans_update computed. Shares the
    // quantize/assign/centroid stages via quantizedQC — the same
    // structural-not-textual sharing as the cluster_sample/
    // diversity_prune pair — and the dist² is the bit-identical
    // DotProduct-over-diff.
    //
    // Scale shape: the shift join is q ⋈ broadcast(cents) on the SEED ids
    // (cents is index-scale √N rows — the legitimate broadcast), which
    // filters the corpus map-side to √N rows; output is one row per cell.
    // Nothing beyond kmeans_update's own stages touches the corpus.
    Q(
      "llm_kmeans_shift",
      (s, d) => {
        val (q, cents) = quantizedQC(s, d)
        val c2 = cents.select(col("c_id").as("sc_id"), col("cm"))
        q.join(broadcast(c2), col("vec_id") === col("sc_id"))
          .select(col("sc_id").as("c_id"),
            VectorOps.dot(
              zip_with(col("q"), col("cm"), (a, b) => a.cast("double") - b),
              zip_with(col("q"), col("cm"), (a, b) => a.cast("double") - b))
              .as("shift"))
          .orderBy(col("c_id"))
      },
      oracle = Some(s"""$quantizedDist2Sql
        SELECT cma.c_id,
               list_dot_product(
                 list_transform(range(1, 65),
                   i -> CAST(qv.q[i] AS DOUBLE) - cma.cm[i]),
                 list_transform(range(1, 65),
                   i -> CAST(qv.q[i] AS DOUBLE) - cma.cm[i])) AS shift
        FROM cma JOIN qv ON qv.vec_id = cma.c_id
        ORDER BY cma.c_id""")),

    // H: PQ CODE ASSIGNMENT — the compression half of product
    // quantization (doc on pqIndex above): every vector becomes M=8
    // 4-bit codes, 64× smaller than its float32 form. Output is the
    // exploded (vec_id, m, code) table — the columnar layout the codes
    // would be written back in (one fixed-width int column per subspace
    // after a pivot; exploded here so the row stays scalar-hashable).
    //
    // Scale shape: the codebook is M·K = 128 rows — broadcast BY
    // CONSTRUCTION at any corpus size; assignment is one map-side
    // expansion to N·M·K scored rows that a hash agg collapses back to
    // N·M BEFORE the only exchange (min_by partial agg, the ivfIndex
    // idiom). One linear corpus pass, one N·M-row shuffle, nothing
    // quadratic anywhere.
    Q(
      "llm_pq_codes",
      (s, d) => {
        val (_, _, codes) = pqIndex(s, d)
        codes.select(col("vec_id"), col("m"), col("code"))
          .orderBy(col("vec_id"), col("m"))
      },
      oracle = Some(s"""
        WITH $vecsSql,
        $pqCodesSql
        SELECT vec_id, m, code FROM codes
        ORDER BY vec_id, m""")),

    // H: ADC SEARCH — the query half of PQ: each of the 32
    // probe-contract queries precomputes its EXACT M×K sub-distance
    // table once (dt — PqProbeMax·128 rows, broadcast-scale by
    // construction), then every corpus vector is scored from its CODES
    // ALONE: M table lookups + the fixed-order 8-term sum. This is the
    // full-scan ADC baseline (FAISS's IndexPQ); llm_ann_ivfpq below is
    // the cell-pruned production composition.
    //
    // Scale shape: codes ⋈ broadcast(dt) is a map-side BHJ (pinned) —
    // each vector's M code rows stay contiguous, so the partial
    // collect_list collapses to ONE row per (q, vec) before the only
    // corpus exchange; top-10 per query plans as WindowGroupLimit heaps.
    // The corpus side never touches a float vector — at 10¹⁰ vectors the
    // scan reads 4-byte codes, not 256-byte embeddings.
    Q(
      "llm_pq_search",
      (s, d) => {
        val (e, cb, codes) = pqIndex(s, d)
        val dt = pqDistTable(e, cb)
        pqAdcTopK(codes
          .join(broadcast(dt),
            col("m") === col("dm") && col("code") === col("dk"))
          .where(col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id"), col("m"), col("dq")))
      },
      oracle = Some(s"""
        WITH $vecsSql,
        $pqCodesSql,
        $pqDistSql,
        ds AS (
          SELECT dt.q_id, codes.vec_id,
                 list(dt.dq ORDER BY codes.m) AS dl
          FROM codes JOIN dt ON codes.m = dt.dm AND codes.code = dt.dk
          WHERE codes.vec_id <> dt.q_id
          GROUP BY dt.q_id, codes.vec_id),
        $pqTopKSql""")),

    // H: IVF-PQ — the production billion-scale ANN layout
    // (FAISS IVFADC): the hierarchical IVF assignment prunes the corpus
    // to the query's top-nprobe cells, then ADC scores ONLY those cells'
    // residents from their codes. Per query the work drops from N code
    // scans to (nprobe/ncells)·N — and the scanned payload is 4-byte
    // codes, so the two levers (cell pruning × PQ compression) compose
    // exactly as they do in production. Recall vs the exact rows is
    // floor-pinned in AnnRecallSpec like every ANN row in the family.
    //
    // Scale shape: probes are PqProbeMax·√N rows (query-side,
    // broadcast-bound); candidates shuffle-join the cell table on c_id
    // (corpus-scale side NEVER broadcast — the ivfKnn discipline); the
    // ADC tail is the same BHJ + one-row-per-pair collapse as
    // llm_pq_search, now over the pruned candidate set only.
    Q(
      "llm_ann_ivfpq",
      (s, d) => {
        val (e, cents, cell, nprobe) = hierIndex(s, d)
        val (_, cb, codes) = pqIndex(s, d)
        val dt = pqDistTable(e, cb)
        val cand = probedResidents(queryVecs(e, PqProbeMax), cents, cell, nprobe)
          .select(col("q_id"), col("vec_id"))
        // dt's query key renamed so the equi-condition stays unambiguous
        // after cand contributes its own q_id through the codes join.
        val dtr = dt.withColumnRenamed("q_id", "dq_id")
        pqAdcTopK(cand
          .join(codes, "vec_id")
          .join(broadcast(dtr),
            col("m") === col("dm") && col("code") === col("dk") &&
              col("q_id") === col("dq_id"))
          .select(col("q_id"), col("vec_id"), col("m"), col("dq")))
      },
      oracle = Some(s"""$hierCellsSql,
        $pqCodesSql,
        $pqDistSql,
        ${probeCandSql("qs")},
        ds AS (
          SELECT cand.q_id, cand.n_id AS vec_id,
                 list(dt.dq ORDER BY codes.m) AS dl
          FROM cand
          JOIN codes ON codes.vec_id = cand.n_id
          JOIN dt ON dt.dm = codes.m AND dt.dk = codes.code
                 AND dt.q_id = cand.q_id
          GROUP BY cand.q_id, cand.n_id),
        $pqTopKSql""")),

    // H: CLUSTERING PURITY — the standard
    // EXTERNAL clustering evaluation, and the first row to touch the
    // fixture's ground-truth `label` column: per hier cell, the majority
    // true label and purity = majority/|cell| (ties break to the smallest
    // label on both engines — max_by over (n, −label) ↔ row_number
    // (n DESC, label)). On this near-random corpus purity sits close to
    // the 1/K chance line — the row ships the measurement, not a claim;
    // on clustered real embeddings this is the number a clustering job
    // reports next to llm_kmeans_shift's convergence.
    //
    // Scale shape: cell ⋈ labels is a corpus-scale equi shuffle join
    // (neither side broadcast — labels are corpus-bound); the (c_id,
    // label) agg collapses map-side to ≤ ncells·K rows and everything
    // after is index-scale. One row per cell out.
    Q(
      "llm_cluster_purity",
      (s, d) => {
        val (_, _, cell, _) = hierIndex(s, d)
        val lab = Tables.embeddings(s, d)
          .select(col("vec_id"), col("label").cast("bigint").as("label"))
        cell.join(lab, "vec_id")
          .groupBy(col("c_id"), col("label"))
          .agg(count(lit(1)).as("n"))
          .groupBy(col("c_id"))
          .agg(sum(col("n")).cast("bigint").as("n_cell"),
            max_by(col("label"),
              struct(col("n"), (-col("label")).as("t"))).as("maj_label"),
            max(col("n")).as("n_maj"))
          .select(col("c_id"), col("n_cell"), col("maj_label"),
            (col("n_maj").cast("double") / col("n_cell").cast("double"))
              .as("purity"))
          .orderBy(col("c_id"))
      },
      oracle = Some(s"""$hierCellsSql,
        m AS (
          SELECT cell.c_id, CAST(emb.label AS BIGINT) AS label,
                 count(*) AS n
          FROM cell JOIN embeddings emb ON emb.vec_id = cell.vec_id
          GROUP BY 1, 2),
        p AS (
          SELECT c_id, label, n,
                 row_number() OVER (PARTITION BY c_id
                   ORDER BY n DESC, label) AS rn,
                 sum(n) OVER (PARTITION BY c_id) AS n_cell,
                 max(n) OVER (PARTITION BY c_id) AS n_maj
          FROM m)
        SELECT c_id, CAST(n_cell AS BIGINT) AS n_cell,
               label AS maj_label,
               CAST(n_maj AS DOUBLE) / CAST(n_cell AS DOUBLE) AS purity
        FROM p WHERE rn = 1
        ORDER BY c_id""")),

    // H: PQ CODE PACKING — the storage step
    // that makes the 64× claim LITERAL: the M=8 4-bit codes bit-pack into
    // one 32-bit word per vector (code_m << 4m, summed — disjoint nibble
    // ranges, so integer addition IS concatenation and the sum is
    // shuffle-order-free), the column a production deployment actually
    // writes back. One bounded agg over the N·M code table; map-side
    // partials collapse to one row per vector before the exchange.
    Q(
      "llm_pq_pack",
      (s, d) => {
        val (_, _, codes) = pqIndex(s, d)
        codes.groupBy(col("vec_id"))
          .agg(sum(expr("shiftleft(code, cast(4 * m as int))"))
            .cast("bigint").as("packed"))
          .orderBy(col("vec_id"))
      },
      oracle = Some(s"""
        WITH $vecsSql,
        $pqCodesSql
        SELECT vec_id,
               CAST(sum(code * (CAST(1 AS BIGINT)
                 << CAST(4 * m AS INTEGER))) AS BIGINT) AS packed
        FROM codes GROUP BY vec_id
        ORDER BY vec_id""")),

    // H: PQ DISTORTION AUDIT — the number a
    // production deployment reports before committing to a codebook (and
    // the llm_emb_quant twin for the PQ path): per-vector reconstruction
    // error ‖v − recon(codes)‖², which is exactly the sum of the
    // per-subspace argmin distances (the codeword IS the sub-vector's
    // reconstruction), plus ‖v‖² so the relative distortion is one
    // division away downstream. The M-term sum rides the same ordered
    // ones-vector DotProduct as the ADC rows, and ‖v‖² is the proven
    // bit-identical primitive — every number here hash-checks.
    //
    // Scale shape: the same broadcast-codebook map expansion as
    // llm_pq_codes, one (vec_id, m) agg carrying first(l2sq) map-side
    // (every scored row of a vector carries the same ‖v‖², the hierIndex
    // first() idiom — no corpus join-back), one (vec_id) re-agg of the
    // already-N·M-bounded table. Linear, zero joins.
    Q(
      "llm_pq_recon",
      (s, d) => {
        val (e, cb, _) = pqIndex(s, d)
        e.crossJoin(broadcast(cb))
          .select(col("vec_id"), col("m"),
            pqD2(pqSub(col("v"), col("m")), col("cvec")).as("d2"),
            VectorOps.dot(col("v"), col("v")).as("l2sq"))
          .groupBy(col("vec_id"), col("m"))
          .agg(min(col("d2")).as("d2m"), first(col("l2sq")).as("l2sq"))
          .groupBy(col("vec_id"))
          .agg(transform(sort_array(collect_list(struct(col("m"),
              col("d2m").as("dq")))), p => p.getField("dq")).as("ds"),
            first(col("l2sq")).as("l2sq"))
          .select(col("vec_id"),
            pqSum(col("ds")).as("recon_err"),
            col("l2sq"))
          .orderBy(col("vec_id"))
      },
      oracle = Some(s"""
        WITH $vecsSql,
        $pqCodesSql,
        dm AS (
          SELECT vec_id, m, min(d2) AS d2m
          FROM pqsc GROUP BY vec_id, m),
        dv AS (
          SELECT vec_id, list(d2m ORDER BY m) AS ds FROM dm
          GROUP BY vec_id)
        SELECT dv.vec_id,
               list_dot_product(dv.ds, $pqOnesSql) AS recon_err,
               list_dot_product(e.v, e.v) AS l2sq
        FROM dv JOIN e ON e.vec_id = dv.vec_id
        ORDER BY dv.vec_id""")),

    // H: PQ CODEBOOK TRAINING — one per-subspace Lloyd
    // iteration over the seed codebook, the production training step the
    // PQ family documents as its stand-in's successor (doc above pqIndex:
    // "a production deployment would Lloyd-refine it with exactly
    // llm_kmeans_update's machinery" — this row IS that refinement).
    // Assignment is the family's existing double-domain argmin (the
    // pqIndex codes — a Lloyd E-step); the update is llm_kmeans_update's
    // quantized-BIGINT M-step verbatim: per (subspace, codeword,
    // sub-dimension), the member count, the exact BIGINT sum of int8
    // per-vector-quantized components, and their mean. BIGINT sums are
    // shuffle-order-insensitive-exact where a double fold is not, and the
    // one final division is IEEE-identical in both engines — which keeps
    // a TRAINING pass hash-verifiable. A full PQ train loops this row
    // with the previous output as the codebook (the kmeans_update
    // precedent: one iteration declared because the fixpoint is
    // corpus-dependent while one update is exactly oracle-able);
    // AnnRecallSpec measures the recall the refined book buys over the
    // seed book on this corpus.
    //
    // Scale shape: quantization is map-only; qv ⋈ codes joins two
    // corpus-bound sides on vec_id — SHUFFLE join, never broadcast
    // (pinned, the kmeans_update discipline); the subspace slice explode
    // is PqDsub = 8 rows per code row feeding ONE linear (m, k, dim)
    // aggregation with map-side partials; output is M·K·Dsub = 1024
    // rows — codebook-scale, not corpus-scale.
    Q(
      "llm_pq_train",
      (s, d) => {
        val (e, _, codes) = pqIndex(s, d)
        quantize(e).join(codes, "vec_id")
          .select(col("m"), col("code").as("k"),
            posexplode(pqSub(col("q"), col("m"))).as(Seq("dim", "qc")))
          .groupBy(col("m"), col("k"), col("dim"))
          .agg(count(lit(1)).as("n"), sum(col("qc")).as("qsum"))
          .select(col("m"), col("k"), col("dim").cast("bigint").as("dim"),
            col("n"), col("qsum").cast("bigint").as("qsum"),
            (col("qsum").cast("double") / col("n").cast("double"))
              .as("q_mean"))
          .orderBy(col("m"), col("k"), col("dim"))
      },
      oracle = Some(s"""
        WITH $vecsSql,
        $pqCodesSql,
        $quantizeSql,
        x AS (
          SELECT codes.m, codes.code AS k, r.i AS dim,
                 qv.q[codes.m * $PqDsub + r.i + 1] AS qc
          FROM qv JOIN codes USING (vec_id), range(0, $PqDsub) r(i))
        SELECT m, k, CAST(dim AS BIGINT) AS dim,
               count(*) AS n,
               CAST(sum(qc) AS BIGINT) AS qsum,
               CAST(sum(qc) AS DOUBLE) / count(*) AS q_mean
        FROM x GROUP BY m, k, dim
        ORDER BY m, k, dim""")))
}
