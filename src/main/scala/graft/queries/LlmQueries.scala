package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.functions.{MinHash, VectorOps}

/** SURVEY §2.2-H — LLM-training-data-pipeline operators (the north star).
  *
  * Design split, per operator family:
  *   - an ORACLE-ABLE bounded/baseline form declared here (DuckDB-verified
  *     by the driver), and
  *   - where the baseline is O(n²), a SKETCH/BUCKETED scale form whose only
  *     shuffles are linear groupBys (MinHash/LSH — `graft.functions.MinHash`),
  *     so the same operator survives 100 TB where all-pairs cannot.
  *
  * Conventions: R2/R3 numeric discipline (BIGINT casts on both sides of
  * every sum — DuckDB promotes sum(BIGINT) to HUGEINT), identical division
  * shapes (CAST x AS DOUBLE / CAST y AS DOUBLE), deterministic total
  * ordering with a unique trailing key, column aliases identical in Spark
  * and oracle SQL (the driver compare is name-sensitive).
  */
object LlmQueries {

  /** Distinct non-empty whitespace tokens. Spark `split` is regex and DuckDB
    * `string_split` is literal, but for the single-space separator they are
    * identical (SURVEY §2.2-F fn_array, [MEASURED]).
    */
  private def toks(text: Column): Column =
    array_distinct(filter(split(text, " "), t => t =!= ""))

  private val toksSqlDuck =
    "list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))"

  /** llm_dedup_norm's canonical key — first 8 lowercased tokens in document
    * order — shared with llm_dedup_incremental (round-12 reuse factoring)
    * and, since round 13, with the streaming twin's per-event payload key
    * (graft.streaming.StreamOps.incrementalDedup — hence private[graft]).
    * Coalesced to '' on BOTH engines so token-less AND NULL texts key
    * identically: Spark's array_join([]) is '' but array_join(NULL) is
    * NULL, while the DuckDB side's array_to_string([]) is NULL — the
    * coalesce is the one point where all four corners agree.
    */
  private[graft] def normKey(text: Column): Column =
    coalesce(array_join(
      slice(filter(split(lower(text), " "), t => t =!= ""), 1, 8), " "),
      lit(""))

  /** The DuckDB spelling of [[normKey]] over an arbitrary SQL expression
    * (the batch rows key on `text`; the streaming twin keys on a
    * concat_ws of the event payload fields).
    */
  private[graft] def normKeyDuckOn(sqlExpr: String): String =
    "coalesce(array_to_string((list_filter(" +
      s"string_split(lower($sqlExpr), ' '), t -> t <> ''))[1:8], ' '), '')"

  private val normKeyDuck = normKeyDuckOn("text")

  /** inter / (|a| + |b| - inter) with the identical IEEE division shape on
    * both engines.
    */
  private def jaccard(aToks: Column, bToks: Column): Column = {
    val inter = size(array_intersect(aToks, bToks))
    inter.cast("double") /
      (size(aToks) + size(bToks) - inter).cast("double")
  }

  /** Stages 1–5 of the full-corpus MinHash/LSH near-dup pipeline (see the
    * `llm_neardup_minhash` comment for the per-stage scale rationale),
    * shared by the pair-list, τ-sweep and cluster-assignment queries:
    *
    * returns (chunks, verified) where
    *   chunks   = the [[RepGraph.chunks]] of identical token sets (`tids`);
    *   verified = exact-verified rep pairs at jac ≥ tau:
    *              (a_rep, b_rep, jac) — member-free, so the verify
    *              broadcast carries only token ids, never doc lists.
    *
    * `rowsPerBand` must suit the lowest τ verified: rowsPerBand=r gives
    * per-pair miss probability (1-j^r)^(k/r), so the default r=4/b=32
    * index (miss 5e-8 at j=0.8) misses a j=0.5 pair with probability
    * 0.127, while r=2/b=64 over the SAME k=128 signatures misses at
    * 0.75^64 ≈ 1e-8. Candidate volume rises with the flatter S-curve. All
    * callers share the chunks cache (CacheManager dedupes by plan);
    * sigs/bands differ per rowsPerBand.
    */
  private[graft] def lshRepGraph(s: SparkSession, d: String, tau: Double = 0.8,
      rowsPerBand: Int = MinHash.RowsPerBand): (DataFrame, DataFrame) = {
    val numBands = MinHash.NumHashes / rowsPerBand
    // spread (round 21): single-row-group fixture file — tokenization +
    // hashing otherwise run as one task up to the chunks exchange
    // (Tables.spread doc); text is projected first so the conditional
    // repartition moves only (doc_id, text).
    val docs = Tables.spread(s,
        Tables.documents(s, d).select(col("doc_id"), col("text")),
        col("doc_id"))
      .select(col("doc_id"),
        sort_array(array_distinct(
          transform(toks(col("text")), t => xxhash64(t)))).as("tids"))
    // 1. identical-token-set rep groups (RepGraph.chunks); reps carry the
    //    token ids into signatures and both verify sides.
    val chunks = RepGraph.chunks(docs, "tids", "doc_id")
    val reps = RepGraph.reps(chunks).select(col("rep_id"), col("tids"))
    // 2. signatures on representatives (token ids, masked to the
    //    32-bit universal-hash domain — same values the string path
    //    produced via MinHash.tokenId)
    val sigs = reps
      .select(col("rep_id"), explode(col("tids")).as("tid"))
      .groupBy(col("rep_id"))
      .agg(MinHash.minhash(col("tid").bitwiseAND(lit(0xffffffffL))).as("sig"))
    // 3. banding
    val bands = sigs
      .select(col("rep_id"),
        explode(expr(s"sequence(0, ${numBands - 1})")).as("band"),
        col("sig"))
      .select(col("rep_id"), col("band"),
        xxhash64(col("band"),
          expr(s"slice(sig, band * $rowsPerBand + 1, " +
            s"$rowsPerBand)")).as("bh"))
    val buckets = bands
      .groupBy(col("band"), col("bh"))
      .agg(sort_array(collect_list(col("rep_id"))).as("ids"))
      .where(size(col("ids")) > 1)
    // 4. skew-resharded pair expansion + two-column distinct. The distinct
    //    is on the (a_rep, b_rep) pair itself — never a packed single long:
    //    round-8's (a<<32)|b packing silently collided rep ids ≥ 2³², i.e.
    //    wrong pairs at exactly the 10⁹–10¹⁰-doc scale this operator
    //    targets (round-8 verdict #1; doc_ids are full 64-bit longs).
    //    Tungsten aggregates two-long keys natively, and because the
    //    reshard above co-locates every per-band copy of a pair (bucket id
    //    lists are sorted, so all copies share the same smaller id), the
    //    partial aggregation still collapses the ~6× candidate multiplicity
    //    BEFORE the shuffle — the property the packing existed for.
    // Round 22 (profiled): the bands→buckets agg exchange is KBs of packed
    // arrays, so AQE coalesces its read to one partition — and then the
    // pair expansion below (posexplode + slices, ~60× the bytes: 0.7 MB in,
    // 44.5 MB out at sf0.1) ran as ONE serial 1.1 s task. The guide-§2.5
    // "repartition immediately after the read" remedy, conditional:
    // Tables.spread on the packed buckets parallelizes the expansion; at
    // production the subtree estimate exceeds the scan-width bound and the
    // spread is a structural no-op (AQE already reads the agg wide there).
    val anchors = Tables.spread(s, buckets, col("bh"))
      .select(posexplode(col("ids")).as(Seq("i", "a_rep")), col("ids"))
      .select(col("a_rep"),
        slice(col("ids"), col("i") + lit(2),
          size(col("ids")) - col("i") - lit(1)).as("rest"))
      .where(size(col("rest")) > 0)
      .repartition(col("a_rep"))
    val cand = anchors
      .select(col("a_rep"), explode(col("rest")).as("b_rep"))
      .distinct()
    // 5. verify once per rep pair on sorted token-ID arrays (the
    //    sorted-merge intersect count is the allocation-free fast path).
    //    The reps sides join WITHOUT broadcast hints (round-9 verdict #1):
    //    reps ≈ docs on a mostly-unique corpus, so a hint here ships the
    //    tokenized corpus to the driver and every executor — the same
    //    corpus-bound ceiling the chunking/semi-join work removed from the
    //    member path. Unhinted, the a_rep join reuses the reshard exchange
    //    already under `cand` and each reps side pays one linear keyed
    //    shuffle; at bench SF the auto-broadcast threshold still picks BHJ
    //    (reps are KBs), so the small-scale physical plan is unchanged.
    //    The corpus-bound absence is pinned by PlanAuditSpec under
    //    autoBroadcastJoinThreshold=-1, where only hints broadcast.
    //    Member lists stay out of the verify path entirely and are
    //    re-attached chunk-by-chunk in the consumers.
    val ga = reps.select(col("rep_id").as("a_rep"), col("tids").as("a_t"))
    val gb = reps.select(col("rep_id").as("b_rep"), col("tids").as("b_t"))
    // Bounded (early-abandon) intersect: the PPJoin positional suffix
    // bound — stop the merge walk once even a perfect remaining suffix
    // cannot reach the overlap `jac >= tau` requires. Unlike the size-ratio
    // prefilter below (rejected: per-pair cost, no walk saved), the bound
    // lives INSIDE the walk and prunes independently of the size
    // distribution; a failing pair returns a partial count whose jac is
    // still < tau (monotone), so output rows and values are bit-identical
    // (equivalence note on `VectorOps.intersectCount`; fuzzed in
    // IntersectBoundSpec).
    val inter = VectorOps.sortedIntersectCountBounded(
      col("a_t"), col("b_t"), tau).cast("int")
    // Size-ratio prefilter (round 21): A/B'd and NOT adopted. jac ≤
    // min(|a|,|b|)/max(|a|,|b|), so a `least(size(a),size(b)) ≥
    // τ·greatest(...)` guard before the sorted-merge intersect is
    // exactness-preserving and would skip the O(|a|+|b|) walk for
    // size-incompatible pairs — but on this fixture's narrow token-set
    // size distribution it pruned too little to pay for its own per-pair
    // evaluation: interleaved same-boot llm_neardup_minhash read
    // 6.45/6.70 s without vs 7.17/6.99 s with the guard (~7% loss).
    // Worth re-measuring on a corpus with heavy-tailed doc lengths,
    // where the prune rate is structurally higher.
    val verified = cand
      .join(ga, "a_rep").join(gb, "b_rep")
      .select(col("a_rep"), col("b_rep"),
        (inter.cast("double") /
          (size(col("a_t")) + size(col("b_t")) - inter).cast("double")).as("jac"))
      .where(col("jac") >= tau)
    (chunks, verified)
  }

  val defs: Seq[Q] = Seq(
    // H: exact dedup — keep min(doc_id) per identical text. groupBy form
    // (not dropDuplicates) so the oracle is literally the same aggregation;
    // at scale this is one hash-shuffle on the text key with map-side
    // partial aggregation. (This corpus has no byte-identical dups — the
    // normalized variant below exercises the collapse path.)
    Q(
      "llm_dedup_exact",
      (s, d) => {
        Tables.documents(s, d)
          .groupBy(col("text"))
          .agg(min(col("doc_id")).as("keep_id"),
            count(lit(1)).as("n_dups"))
          .select(col("keep_id"), col("n_dups"), col("text"))
          .orderBy(col("keep_id"))
      },
      oracle = Some("""
        SELECT min(doc_id) AS keep_id, count(*) AS n_dups, text
        FROM documents
        GROUP BY text
        ORDER BY keep_id""")),

    // H: normalized dedup — canonical key = first 8 lowercased tokens, in
    // document order (NOT distinct: DuckDB list_distinct does not preserve
    // element order, so a distinct-then-slice key diverges between engines).
    // Same shuffle shape as exact dedup but actually collapses groups on
    // this corpus (23 multi-doc groups at sf0.01). Spark slice(arr,1,8) and
    // DuckDB toks[1:8] both take elements 1..8. A token-LESS doc (empty /
    // whitespace-only text) keys to the EMPTY STRING: Spark's
    // array_join([]) is '' but DuckDB's array_to_string([]) is NULL
    // (CurationFuzzSpec caught the divergence), so the oracle coalesces.
    Q(
      "llm_dedup_norm",
      (s, d) => {
        Tables.documents(s, d)
          .select(col("doc_id"), normKey(col("text")).as("key"))
          .groupBy(col("key"))
          .agg(min(col("doc_id")).as("keep_id"),
            count(lit(1)).as("n_dups"))
          .select(col("keep_id"), col("n_dups"), col("key"))
          .orderBy(col("keep_id"))
      },
      oracle = Some(s"""
        WITH t AS (
          SELECT doc_id, $normKeyDuck AS key
          FROM documents)
        SELECT min(doc_id) AS keep_id, count(*) AS n_dups, key
        FROM t
        GROUP BY key
        ORDER BY keep_id""")),

    // H (round 18, second session): PER-SOURCE DUPLICATION AUDIT — the
    // report a curation run files before deciding which crawls to keep:
    // within each source, how much of the corpus collapses under the
    // norm-key dedup ("which crawl is dup-heavy"). Rides llm_dedup_norm's
    // shared normKey so the audit cannot fork from the dedup it audits;
    // dup_rate is one fixed-order IEEE division over exact BIGINT counts.
    //
    // Scale shape: countDistinct expands to a (source, key) partial
    // distinct then re-aggregates — two linear map-side-partial shuffles,
    // no joins, #sources rows out.
    Q(
      "llm_dup_rate_by_source",
      (s, d) => {
        Tables.documents(s, d)
          .select(col("source"), normKey(col("text")).as("key"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("key")).as("n_unique"),
            (lit(1.0d) - countDistinct(col("key")).cast("double") /
              count(lit(1)).cast("double")).as("dup_rate"))
          .orderBy(col("source"))
      },
      oracle = Some(s"""
        WITH t AS (
          SELECT source, $normKeyDuck AS key
          FROM documents)
        SELECT source,
               count(*) AS n_docs,
               count(DISTINCT key) AS n_unique,
               1.0 - CAST(count(DISTINCT key) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE) AS dup_rate
        FROM t
        GROUP BY source
        ORDER BY source""")),

    // H: paragraph/segment-level exact dedup — the Dolma/C4-style stage
    // that dedups WITHIN documents' parts, not whole documents: a segment
    // is kept iff this doc is the minimum doc_id among all docs containing
    // it; output is per-doc kept/dropped segment counts. The fixture corpus
    // is single-line (no '\n'), so the deterministic segmentation is
    // consecutive 8-token windows (the shingle-slice idiom both engines
    // share verbatim); production would split on newline runs first — the
    // pipeline downstream of segmentation is identical.
    //
    // Scale shape: within-doc dedup is array_distinct BEFORE the explode
    // (map-side — no corpus-wide (doc, seg) distinct shuffle), segments
    // travel as md5 hashes (16 bytes, never the segment text), and the
    // ownership table is corpus-bound so it joins back by SHUFFLE, never
    // broadcast (a common boilerplate paragraph can appear in millions of
    // docs — collect_set-style ownership would be unbounded state; pinned
    // in PlanAuditSpec under auto-broadcast-off). Three linear hash
    // shuffles total: groupBy(h), join-back on h, groupBy(doc_id).
    // Round-14 A/B (r12 verdict #2, measured): persist the 16-byte
    // (doc_id, h) intermediate vs recompute the segment pipeline under
    // both consumers. Interleaved same-boot pairs, blocking sweeps, probe
    // brackets healthy (CPU 3.62e8; membw bracket max 1.85-1.86e10):
    // sf0.1 recompute 3.58/1.33/1.01 s vs persist 1.76/0.82/0.78 s; 10×
    // staging recompute 5.55/3.53/3.48 s vs persist 2.84/2.03/2.01 s —
    // persist wins every pair, 1.7× warmed at 10×. ADOPTED. Scale
    // rationale: unlike the contamination pre-cap stream (unbounded by
    // the answer, kept recompute), the segment table is LINEAR in input
    // (≤ ntoks/8 + 1 rows/doc, 16-byte digests — ~40% of corpus bytes)
    // and recompute re-reads + re-tokenizes + re-md5s the FULL text
    // corpus; MEMORY_AND_DISK spills instead of evicting under pressure.
    Q(
      "llm_dedup_paragraph",
      (s, d) => {
        // spread (round 22, profiled): the tokenize + md5-segment explode
        // into the cache ran as one 500 ms task on the narrow scan.
        val seg = Tables.spread(s, Tables.documents(s, d)
            .select(col("doc_id"), col("text")), col("doc_id"))
          .select(col("doc_id"),
            filter(split(col("text"), " "), t => t =!= "").as("toks"))
          .where(size(col("toks")) > 0)
          // explode_outer + null guard (the llm_vocab_topk pattern): plain
          // explode infers a size(...)>0 filter that re-runs the whole
          // segment pipeline per doc. The array is non-empty by the guard
          // above, so outer adds no rows.
          .select(col("doc_id"), explode_outer(array_distinct(
            expr("transform(sequence(0, (size(toks) - 1) div 8), " +
              "i -> md5(array_join(slice(toks, i * 8 + 1, 8), ' ')))")))
            .as("h"))
          .where(col("h").isNotNull)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val own = seg.groupBy(col("h")).agg(min(col("doc_id")).as("keep_id"))
        seg.join(own, Seq("h"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).cast("bigint").as("n_segs"),
            sum(when(col("doc_id") === col("keep_id"), 1L).otherwise(0L))
              .cast("bigint").as("n_kept"))
          .select(col("doc_id"), col("n_segs"), col("n_kept"),
            (col("n_segs") - col("n_kept")).cast("bigint").as("n_dropped"))
          .orderBy(col("doc_id"))
      },
      oracle = Some("""
        WITH t AS (
          SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
          FROM documents),
        seg AS (
          SELECT DISTINCT doc_id, h FROM (
            SELECT doc_id,
                   unnest(list_transform(range(0, ((len(toks) - 1) // 8) + 1),
                     i -> md5(array_to_string(toks[i*8+1 : i*8+8], ' ')))) AS h
            FROM t WHERE len(toks) > 0)),
        own AS (SELECT h, min(doc_id) AS keep_id FROM seg GROUP BY h)
        SELECT s.doc_id,
               CAST(count(*) AS BIGINT) AS n_segs,
               CAST(sum(CASE WHEN s.doc_id = o.keep_id THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               CAST(count(*) - sum(CASE WHEN s.doc_id = o.keep_id THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
        FROM seg s JOIN own o USING (h)
        GROUP BY s.doc_id
        ORDER BY doc_id""")),

    // H: INCREMENTAL dedup — the production pattern every crawl pipeline
    // runs daily that none of the batch rows cover: dedup a NEW batch
    // against an EXISTING corpus without reprocessing the corpus. Batch
    // split is deterministic (doc_id % 10 == 0 ≈ the 10% daily increment);
    // the key is llm_dedup_norm's normalized first-8-token key, hashed to
    // md5 so only 16-byte digests travel. Per new doc: how many OLD docs
    // share its key (n_old), whether it duplicates the corpus
    // (dup_of_old), and whether it survives (keep = no old dup AND first
    // of its key within the batch, by doc_id).
    //
    // Scale shape: the OLD side is the 100 TB corpus, so membership is a
    // hash-SHUFFLE left join on the digest — never a broadcast in either
    // direction (the new batch is billions of docs too; pinned under
    // auto-broadcast-off: zero BroadcastExchange), and the old side
    // reduces to one row per distinct key via map-side partial agg before
    // the join. In production the old side's (h, n_old) table is exactly
    // the incremental index one would persist between runs — this query IS
    // the daily step against it.
    Q(
      "llm_dedup_incremental",
      (s, d) => {
            val keyed = Tables.documents(s, d)
          .select(col("doc_id"), md5(normKey(col("text"))).as("h"))
        val oldH = keyed.where(col("doc_id") % 10 =!= 0)
          .groupBy(col("h")).agg(count(lit(1)).cast("bigint").as("n_old_raw"))
        val w = Window.partitionBy(col("h")).orderBy(col("doc_id"))
        keyed.where(col("doc_id") % 10 === 0)
          .join(oldH, Seq("h"), "left")
          .select(col("doc_id"), col("h"),
            coalesce(col("n_old_raw"), lit(0L)).as("n_old"),
            row_number().over(w).as("rn"))
          .select(col("doc_id"), col("h"), col("n_old"),
            (col("n_old") > 0).as("dup_of_old"),
            (col("n_old") === 0 && col("rn") === 1).as("keep"))
          .orderBy(col("doc_id"))
      },
      oracle = Some(s"""
        WITH k AS (
          SELECT doc_id, md5($normKeyDuck) AS h
          FROM documents),
        old AS (
          SELECT h, CAST(count(*) AS BIGINT) AS n_old_raw
          FROM k WHERE doc_id % 10 <> 0 GROUP BY h),
        r AS (
          SELECT n.doc_id, n.h, coalesce(o.n_old_raw, 0) AS n_old,
                 row_number() OVER (PARTITION BY n.h ORDER BY n.doc_id) AS rn
          FROM k n LEFT JOIN old o USING (h)
          WHERE n.doc_id % 10 = 0)
        SELECT doc_id, h, CAST(n_old AS BIGINT) AS n_old,
               n_old > 0 AS dup_of_old,
               (n_old = 0 AND rn = 1) AS keep
        FROM r
        ORDER BY doc_id""")),

    // H: near-dup pairs by exact token-set Jaccard ≥ 0.8 over a bounded id
    // range — the oracle-able baseline. The UNBOUNDED scale form is
    // llm_neardup_minhash below; this one exists so the τ-thresholded
    // Jaccard semantics themselves are DuckDB-verified.
    Q(
      "llm_neardup_jaccard",
      (s, d) => {
        val t = Tables.documents(s, d)
          .where(col("doc_id") < 200)
          .select(col("doc_id"), toks(col("text")).as("toks"))
        val a = t.select(col("doc_id").as("a_id"), col("toks").as("a_toks"))
        val b = t.select(col("doc_id").as("b_id"), col("toks").as("b_toks"))
        a.join(b, col("a_id") < col("b_id"))
          .select(col("a_id"), col("b_id"),
            jaccard(col("a_toks"), col("b_toks")).as("jac"))
          .where(col("jac") >= 0.8)
          .orderBy(col("a_id"), col("b_id"))
      },
      oracle = Some(s"""
        WITH t AS (
          SELECT doc_id, $toksSqlDuck AS toks
          FROM documents WHERE doc_id < 200),
        p AS (
          SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                 CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                   / CAST(len(a.toks) + len(b.toks)
                          - len(list_intersect(a.toks, b.toks)) AS DOUBLE) AS jac
          FROM t a JOIN t b ON a.doc_id < b.doc_id)
        SELECT a_id, b_id, jac FROM p
        WHERE jac >= 0.8
        ORDER BY a_id, b_id""")),

    // H (scale form): MinHash/LSH near-dup over the FULL corpus — no
    // bounded id range, no all-pairs over documents. Pipeline (all linear
    // shuffles):
    //
    //   1. token-set canonicalization: docs with IDENTICAL token sets
    //      collapse to one representative (min doc_id) — identical sets
    //      have identical signatures AND identical Jaccard to every other
    //      set, so banding representatives loses nothing and the group
    //      expansion at the end is exact. (Standard dedup-pipeline stage;
    //      on this corpus 5000 docs → 3935 reps at sf0.1.)
    //   2. MinHash signatures on reps (bounded-state udaf, map-side
    //      combinable), k=128.
    //   3. LSH banding b=32 × r=4: miss prob for a true j≥0.8 pair is
    //      (1-0.8^4)^32 ≈ 5e-8; buckets = groupBy(band, bandHash).
    //   4. pair generation bucket-locally with a two-stage explode,
    //      repartitioned by the pair's SMALLER rep id between the stages.
    //      That one choice does double duty: it breaks hot buckets apart
    //      (a bucket of m reps would otherwise expand C(m,2) pairs in one
    //      task), and — because bucket id lists are sorted, so every copy
    //      of a pair carries the same smaller id — it co-locates all of a
    //      pair's per-band copies, letting the partial aggregation of the
    //      two-column (a_rep, b_rep) distinct collapse the ~6× candidate
    //      multiplicity BEFORE the shuffle instead of after (measured ~2×
    //      on the candidate phase). The pair key is deliberately the two
    //      longs, not a packed (a<<32)|b single long — packing caps rep
    //      ids at 2³² and silently corrupts pairs past it (r8 verdict #1).
    //   5. exact verify per candidate REP pair on sorted token-ID arrays
    //      (int64 compare beats string sets; xxhash64 is injective on any
    //      real vocabulary, and parity vs the string-based oracle is
    //      re-checked at every sf).
    //   6. member expansion back to doc pairs (below).
    //
    // NOTE on this corpus: 24% of ALL doc pairs are true near-dups at
    // τ=0.8 (2.97M result rows at sf0.1 from a 31-token vocabulary), so
    // ANY correct algorithm is answer-bound here; LSH's pruning value
    // shows on realistic corpora where near-dup density is ~0.01%. The
    // oracle computes the same answer all-pairs (fine at verify scale).
    Q(
      "llm_neardup_minhash",
      (s, d) => {
        // 6. expand rep groups back to doc pairs (RepGraph.memberPairs):
        //    cross-group pairs inherit the verified jac, intra-group pairs
        //    are exact duplicates at jac = 1.0 ≥ τ. The pair-LIST contract
        //    is inherently quadratic in cluster size — the scale-shaped
        //    output is llm_dedup_cluster below.
        val (chunks, verified) = lshRepGraph(s, d)
        RepGraph.memberPairs(chunks, verified, "jac", ordered = false,
            intra = lit(1.0), tau = 0.8)
          .orderBy(col("a_id"), col("b_id"))
      },
      oracle = Some(s"""
        WITH t AS (
          SELECT doc_id, $toksSqlDuck AS toks
          FROM documents),
        p AS (
          SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                 CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                   / CAST(len(a.toks) + len(b.toks)
                          - len(list_intersect(a.toks, b.toks)) AS DOUBLE) AS jac
          FROM t a JOIN t b ON a.doc_id < b.doc_id)
        SELECT a_id, b_id, jac FROM p
        WHERE jac >= 0.8
        ORDER BY a_id, b_id""")),

    // H (round 18, r17 verdict #5): MinHash τ-SWEEP — the threshold-tuning
    // report a production dedup run reads before committing to a τ: for
    // each τ ∈ {0.5, 0.7, 0.9}, how many near-dup pairs exist and how much
    // of the corpus is touched. Output is 3 SUMMARY rows (answer-bound —
    // index-scale at any corpus size), NOT a tripled pair list: doc-pair
    // counts are derived arithmetically from the verified REP pairs and
    // the per-group sizes (identical token sets ⇒ every member pair has
    // exactly its reps' jaccard; intra-group pairs are exact dups at
    // jac = 1.0 ≥ τ), so nothing corpus-scale is ever expanded.
    //
    // Candidate generation is re-banded r=2/b=64 over the SAME k=128
    // signatures (see lshRepGraph): the default τ=0.8 index misses a
    // j=0.5 pair with prob 0.127 — useless as a sweep candidate source —
    // while r=2 misses at (1-0.25)^64 ≈ 1e-8, so the sweep is exact to
    // the same standard as llm_neardup_minhash and the all-pairs DuckDB
    // oracle can verify it. The flatter S-curve admits more candidates —
    // that cost is the real price of sweeping low τ, which is exactly
    // what this row lets an operator measure before a 100 TB run.
    //
    // Scale shape: the gsize joins SHUFFLE (gs is corpus-bound — one row
    // per distinct token set — and hinting it would be the corpus-bound
    // broadcast anti-pattern, pinned); the τ explode multiplies only the
    // answer-bound verified pairs by 3; everything after is index-scale.
    Q(
      "llm_minhash_tau_sweep",
      (s, d) => {
        val tauArr = array(Seq(0.5, 0.7, 0.9).map(lit): _*)
        val (chunks, verified0) = lshRepGraph(s, d, tau = 0.5, rowsPerBand = 2)
        val verified = verified0.persist()
        // one row per identical-token-set group: (rep_id, gsize)
        val gs = RepGraph.reps(chunks)
          .select(col("rep_id"), col("gsize"))
        val pg = verified
          .join(gs.select(col("rep_id").as("a_rep"), col("gsize").as("ga")), "a_rep")
          .join(gs.select(col("rep_id").as("b_rep"), col("gsize").as("gb")), "b_rep")
        val tl = pg.select(explode(tauArr).as("tau"), col("jac"),
            col("a_rep"), col("b_rep"), col("ga"), col("gb"))
          .where(col("jac") >= col("tau"))
        // cross-group doc pairs per τ: ga·gb per verified rep pair —
        // COUNTED via group sizes, never materialized
        val crossP = tl.groupBy(col("tau"))
          .agg(sum(col("ga") * col("gb")).as("n_cross_pairs"))
        // intra-group doc pairs: C(g,2) per multi-member group, at
        // jac = 1.0 ≥ every swept τ. Integer DIV, not `/`: the double
        // division loses exactness past 2^53 — a 10⁹-member boilerplate
        // group has ~5×10¹⁷ intra pairs.
        val multi = gs.where(col("gsize") > 1)
        val intraP = multi
          .select(explode(tauArr).as("tau"),
            expr("gsize * (gsize - 1) DIV 2").as("np"))
          .groupBy(col("tau")).agg(sum(col("np")).as("n_intra_pairs"))
        // linked docs per τ: members of any rep in a ≥τ pair, plus members
        // of every multi-member group
        val pairReps = tl
          .select(col("tau"), col("a_rep").as("rep_id"), col("ga").as("g"))
          .unionAll(tl.select(col("tau"), col("b_rep").as("rep_id"), col("gb").as("g")))
        val multiReps = multi
          .select(explode(tauArr).as("tau"), col("rep_id"), col("gsize").as("g"))
        val linked = pairReps.unionAll(multiReps).distinct()
          .groupBy(col("tau")).agg(sum(col("g")).as("n_docs_linked"))
        // corpus total: one-row aggregate, legitimately broadcast
        val total = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
        s.range(1).select(explode(tauArr).as("tau"))
          .join(crossP, Seq("tau"), "left")
          .join(intraP, Seq("tau"), "left")
          .join(linked, Seq("tau"), "left")
          .crossJoin(broadcast(total))
          .select(col("tau"),
            (coalesce(col("n_cross_pairs"), lit(0L)) +
              coalesce(col("n_intra_pairs"), lit(0L))).as("n_pairs"),
            coalesce(col("n_cross_pairs"), lit(0L)).as("n_cross_pairs"),
            coalesce(col("n_intra_pairs"), lit(0L)).as("n_intra_pairs"),
            coalesce(col("n_docs_linked"), lit(0L)).as("n_docs_linked"),
            (coalesce(col("n_docs_linked"), lit(0L)).cast("double") /
              col("n_docs").cast("double")).as("frac_linked"))
          .orderBy(col("tau"))
      },
      oracle = Some(s"""
        WITH t AS (
          SELECT doc_id, $toksSqlDuck AS toks
          FROM documents),
        g AS (
          SELECT min(doc_id) AS rep_id, count(*) AS gsize
          FROM t GROUP BY list_sort(toks)),
        reps AS (
          SELECT t.doc_id AS rep_id, t.toks
          FROM t JOIN g ON t.doc_id = g.rep_id),
        p AS (
          SELECT a.rep_id AS a_rep, b.rep_id AS b_rep,
                 CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                   / CAST(len(a.toks) + len(b.toks)
                          - len(list_intersect(a.toks, b.toks)) AS DOUBLE) AS jac
          FROM reps a JOIN reps b ON a.rep_id < b.rep_id),
        taus AS (SELECT unnest([0.5e0, 0.7e0, 0.9e0]) AS tau),
        tl AS (
          SELECT taus.tau, p.a_rep, p.b_rep, ga.gsize AS ga, gb.gsize AS gb
          FROM p
          JOIN g ga ON ga.rep_id = p.a_rep
          JOIN g gb ON gb.rep_id = p.b_rep
          JOIN taus ON p.jac >= taus.tau),
        crossp AS (SELECT tau, sum(ga * gb) AS ncp FROM tl GROUP BY tau),
        intrap AS (
          SELECT taus.tau, sum(g.gsize * (g.gsize - 1) // 2) AS nip
          FROM g CROSS JOIN taus WHERE g.gsize > 1 GROUP BY taus.tau),
        linkedreps AS (
          SELECT DISTINCT tau, rep_id, gg FROM (
            SELECT tau, a_rep AS rep_id, ga AS gg FROM tl
            UNION ALL SELECT tau, b_rep AS rep_id, gb AS gg FROM tl
            UNION ALL
            SELECT taus.tau, g.rep_id, g.gsize AS gg
            FROM g CROSS JOIN taus WHERE g.gsize > 1)),
        linked AS (SELECT tau, sum(gg) AS ndl FROM linkedreps GROUP BY tau),
        tot AS (SELECT count(*) AS n_docs FROM documents)
        SELECT taus.tau,
               CAST(coalesce(crossp.ncp, 0) + coalesce(intrap.nip, 0) AS BIGINT) AS n_pairs,
               CAST(coalesce(crossp.ncp, 0) AS BIGINT) AS n_cross_pairs,
               CAST(coalesce(intrap.nip, 0) AS BIGINT) AS n_intra_pairs,
               CAST(coalesce(linked.ndl, 0) AS BIGINT) AS n_docs_linked,
               CAST(coalesce(linked.ndl, 0) AS DOUBLE)
                 / CAST(tot.n_docs AS DOUBLE) AS frac_linked
        FROM taus
        LEFT JOIN crossp ON crossp.tau = taus.tau
        LEFT JOIN intrap ON intrap.tau = taus.tau
        LEFT JOIN linked ON linked.tau = taus.tau
        CROSS JOIN tot
        ORDER BY taus.tau""")),

    // H (scale output form): cluster-assignment dedup — ONE row per doc,
    // (doc_id → keep_id), where keep_id = min doc_id of the doc's near-dup
    // connected component over the SAME verified LSH rep graph as
    // llm_neardup_minhash. This is the contract a 100 TB training-data
    // pipeline actually consumes (keep/drop decisions): output is linear in
    // corpus size no matter how large a boilerplate cluster grows, where
    // any pair list is quadratic in cluster size (round-4 verdict #1).
    //
    // Components over the REP graph (RepGraph.components — min-label
    // propagation with pointer jumping, fail-loud convergence), then every
    // chunk's members take their rep's component label.
    //
    // keep_id equivalence with the doc-level oracle: rep_id = min(members),
    // members connect to their rep at jac = 1, and cross-group member pairs
    // have exactly their reps' jaccard (identical token sets) — so rep
    // components and doc components coincide and min-rep = min-doc.
    Q(
      "llm_dedup_cluster",
      (s, d) => {
        val (chunks, verified) = lshRepGraph(s, d)
        val labels = RepGraph.components(verified)
        // Still alive on purpose: the FINAL labels checkpoint (one tiny row
        // per active rep) and lshRepGraph's `chunks` cache — both feed the
        // lazy DataFrame returned below. Callers that run many queries in
        // one session (Bench/Verify) clear them between queries; library
        // consumers call graft.Cleanup.release once results are consumed.
        // Left join + coalesce re-admits edge-free reps (they keep
        // themselves); broadcast stays legitimate because labels is
        // answer-bound.
        chunks.join(broadcast(labels), Seq("rep_id"), "left")
          .select(explode(col("members")).as("doc_id"),
            coalesce(col("comp"), col("rep_id")).as("keep_id"))
          .orderBy(col("doc_id"))
      },
      // Oracle: doc-level connected components by recursive reachability
      // (UNION-distinct bounds the walk), keep_id = min reachable doc_id.
      // The walk is verify-scale like the other all-pairs oracles (fine at
      // the driver's sf0.01 gate): a giant component of m docs costs
      // ~O(m³) closure intermediates (this corpus has one with 3728 docs
      // at sf0.1). At sf0.1 the Spark output is instead cross-validated by
      // union-find over the hash-verified llm_neardup_minhash pair list —
      // 0 mismatches over 5000 docs / 2.97M pairs [MEASURED round 5].
      oracle = Some(s"""
        WITH RECURSIVE t AS (
          SELECT doc_id, $toksSqlDuck AS toks
          FROM documents),
        e AS (
          SELECT a.doc_id AS src, b.doc_id AS dst,
                 CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                   / CAST(len(a.toks) + len(b.toks)
                          - len(list_intersect(a.toks, b.toks)) AS DOUBLE) AS jac
          FROM t a JOIN t b ON a.doc_id <> b.doc_id),
        edges AS (SELECT src, dst FROM e WHERE jac >= 0.8),
        reach(id, r) AS (
          SELECT doc_id, doc_id FROM t
          UNION
          SELECT reach.id, edges.dst FROM reach JOIN edges ON edges.src = reach.r)
        SELECT id AS doc_id, min(r) AS keep_id
        FROM reach GROUP BY id
        ORDER BY doc_id""")),

    // H: brute-force top-k most-similar vector pairs by dot product (R4:
    // everything in DOUBLE before any arithmetic — the one mismatch SURVEY
    // §2.3 ever measured was FLOAT[] dot products). Plans as
    // TakeOrderedAndProject: per-partition top-k heaps, no global sort.
    // Dot product is the native codegen expression (VectorOps.dot) — same
    // left-to-right IEEE accumulation as the aggregate(zip_with(...)) form
    // it replaced, ~100× less per-pair overhead (SURVEY §4.3 escalation).
    //
    // BASELINE.md shape mismatch (adjudicated r19, re-confirmed r20): the
    // baseline's `emb_cosine_topk` scores a BOUNDED pair set; this row
    // scores the FULL all-pairs product before the top-k heaps — strictly
    // more work, so its 2×-gate ratio against that baseline row is not a
    // weak-plan signal. Flat at 10×/100× probes (the row is a declared
    // exact baseline; the scale path is the LSH/IVF family).
    Q(
      "llm_sim_cosine_topk",
      (s, d) => {
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"),
            transform(col("embedding"), x => x.cast("double")).as("v"))
        val a = e.select(col("vec_id").as("a_id"), col("v").as("a_v"))
        val b = e.select(col("vec_id").as("b_id"), col("v").as("b_v"))
        a.join(b, col("a_id") < col("b_id"))
          .select(col("a_id"), col("b_id"),
            VectorOps.dot(col("a_v"), col("b_v")).as("dot"))
          .orderBy(col("dot").desc, col("a_id"), col("b_id"))
          .limit(20)
      },
      oracle = Some("""
        SELECT a.vec_id AS a_id, b.vec_id AS b_id,
               list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                CAST(b.embedding AS DOUBLE[])) AS dot
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        ORDER BY dot DESC, a_id, b_id
        LIMIT 20""")),

    // H: per-vector 3-NN for a bounded probe set against the full corpus —
    // dot-product + rank window with a deterministic n_id tiebreak. The
    // probe×base join is the honest bounded baseline; the 100 TB path is
    // llm_knn_bucketed (VectorQueries): the same probe set and downstream
    // window with IVF-bucketed candidates instead of `base`.
    Q(
      "llm_knn_per_vector",
      (s, d) => {
        val e = Tables.embeddings(s, d)
          .select(col("vec_id"),
            transform(col("embedding"), x => x.cast("double")).as("v"))
        val probe = e.where(col("vec_id") < 100)
          .select(col("vec_id").as("q_id"), col("v").as("q_v"))
        val base = e.select(col("vec_id").as("n_id"), col("v").as("n_v"))
            val scored = probe.join(base, col("q_id") =!= col("n_id"))
          .select(col("q_id"), col("n_id"),
            VectorOps.dot(col("q_v"), col("n_v")).as("dot"))
        scored
          .withColumn("nn_rank", row_number().over(
            Window.partitionBy(col("q_id"))
              .orderBy(col("dot").desc, col("n_id"))))
          .where(col("nn_rank") <= 3)
          .select(col("q_id"), col("nn_rank"), col("n_id"), col("dot"))
          .orderBy(col("q_id"), col("nn_rank"))
      },
      oracle = Some("""
        WITH scored AS (
          SELECT a.vec_id AS q_id, b.vec_id AS n_id,
                 list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                  CAST(b.embedding AS DOUBLE[])) AS dot
          FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
          WHERE a.vec_id < 100),
        ranked AS (
          SELECT q_id, n_id, dot,
                 row_number() OVER (PARTITION BY q_id
                                    ORDER BY dot DESC, n_id) AS nn_rank
          FROM scored)
        SELECT q_id, nn_rank, n_id, dot FROM ranked
        WHERE nn_rank <= 3
        ORDER BY q_id, nn_rank""")),

    // H: per-(lang, source) corpus statistics — doc counts, char stats,
    // token counts. One hash-shuffle on the grouping key; BIGINT casts on
    // every sum (DuckDB HUGEINT promotion), identical division shape for
    // the mean.
    Q(
      "llm_text_stats",
      (s, d) => {
        Tables.documents(s, d)
          .groupBy(col("lang"), col("source"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("bigint").as("sum_chars"),
            min(col("n_chars")).as("min_chars"),
            max(col("n_chars")).as("max_chars"),
            (sum(col("n_chars")).cast("double") /
              count(lit(1)).cast("double")).as("avg_chars"),
            sum(size(toks(col("text")))).cast("bigint").as("sum_tokens"))
          .orderBy(col("lang"), col("source"))
      },
      oracle = Some(s"""
        SELECT lang, source,
               count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars,
               min(n_chars) AS min_chars,
               max(n_chars) AS max_chars,
               CAST(sum(n_chars) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_chars,
               CAST(sum(len($toksSqlDuck)) AS BIGINT) AS sum_tokens
        FROM documents
        GROUP BY lang, source
        ORDER BY lang, source""")),

    // H: lang × source contingency as conditional aggregation (SURVEY: NOT
    // df.pivot, so the oracle is the same CASE sums and the column set is
    // static). Single shuffle on lang.
    Q(
      "llm_lang_pivot",
      (s, d) => {
        val srcs = (0 to 4).map(i => s"src$i")
        val counts = srcs.map(sv =>
          sum(when(col("source") === sv, 1L).otherwise(0L))
            .cast("bigint").as(s"n_$sv"))
        val other = sum(when(!col("source").isin(srcs: _*), 1L).otherwise(0L))
          .cast("bigint").as("n_other")
        Tables.documents(s, d)
          .groupBy(col("lang"))
          .agg(counts.head, (counts.tail :+ other :+
            count(lit(1)).as("n_total")): _*)
          .orderBy(col("lang"))
      },
      oracle = Some {
        val srcs = (0 to 4).map(i => s"src$i")
        val cases = srcs.map(sv =>
          s"CAST(sum(CASE WHEN source = '$sv' THEN 1 ELSE 0 END) AS BIGINT) AS n_$sv")
          .mkString(",\n               ")
        val inList = srcs.map(sv => s"'$sv'").mkString(", ")
        s"""
        SELECT lang,
               $cases,
               CAST(sum(CASE WHEN source NOT IN ($inList) THEN 1 ELSE 0 END) AS BIGINT) AS n_other,
               count(*) AS n_total
        FROM documents
        GROUP BY lang
        ORDER BY lang"""
      }))
}
