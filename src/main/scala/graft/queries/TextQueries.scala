package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** SURVEY §2.2-H extension — the text-analysis / fingerprinting family the
  * north star calls out beyond the first eight H rows: SimHash near-dup,
  * n-gram (shingle) Jaccard, quality scoring, language-ID heuristic, and
  * winnowing-style document fingerprints.
  *
  * Cross-engine discipline for these rows:
  *   - the only 64-bit token hash both engines share is md5 → take 15 hex
  *     chars (60 bits, always positive; Spark `conv(...,16,10)` ↔ DuckDB
  *     `('0x'||substr(...))::BIGINT`);
  *   - SimHash uses bits 0..59 — DuckDB `1::BIGINT << 63` overflows, so a
  *     60-bit fingerprint keeps the shift domain safe in both engines;
  *   - every sum that could hit DuckDB's HUGEINT promotion is CAST to
  *     BIGINT on both sides (R2/R3);
  *   - token lists here are POSITIONAL (duplicates kept) where the
  *     operator is frequency- or order-sensitive (SimHash weights,
  *     shingles), unlike the set-based `toks` used by the Jaccard rows.
  */
object TextQueries {

  /** Ordered, non-empty whitespace tokens (duplicates preserved). */
  private def toksAll(text: Column): Column =
    filter(split(text, " "), t => t =!= "")

  private val toksAllDuck = "list_filter(string_split(text, ' '), t -> t <> '')"

  /** Corpus-document-frequency cap for llm_contamination_capped: a gram
    * present in more than this many corpus documents is treated as
    * stopword-like and dropped before overlap counting. A literal both
    * engines interpolate, so the oracle pins the capped semantics exactly.
    */
  private val DfCap = 5

  /** llm_unigram_score literals (same interpolated-literal discipline as
    * DfCap): top-K unigram-table size and the rare-doc threshold on mean
    * relative token frequency. Sized so BOTH branches bite on the driver
    * corpus (31-token vocabulary, near-uniform ≈ 1/31 relative
    * frequencies): K = 16 puts roughly half the vocabulary out-of-table,
    * and 0.014 sits at the ~5th percentile of the resulting commonness
    * distribution (median ≈ 0.019 [MEASURED] sf0.01) — the flag drops a
    * low-quality MINORITY, the way a production perplexity filter is
    * tuned, while both flag branches stay exercised at the driver gate.
    */
  private val UnigramVocabK = 16
  private val RareThreshold = 0.014

  /** llm_seq_pack literals (interpolated on both engines, DfCap precedent).
    * PackBlockLen = tokens per training block; PackBucketWidth = documents
    * per prefix-sum bucket. Test-scale values sized so every path is hot at
    * the driver gate: L = 32 makes most fixture docs span a block boundary,
    * W = 32 gives sf0.01 ~16 buckets (the cross-bucket offset path) while
    * production runs W ~ 10^6 (bucket table = N/W rows — 10^4 at 10^10
    * docs, trivially broadcastable).
    */
  // private[graft]: OpPropertySpec's naive reference reimplementation
  // interpolates the SAME constant (round-12 ADVICE — a hardcoded copy
  // there would silently desynchronize the executable spec from the
  // declared query if the block length were retuned).
  private[graft] val PackBlockLen = 32L
  private val PackBucketWidth = 32L

  /** llm_tfidf_topk literal: keywords kept per document. */
  private val TfidfTopK = 3

  /** Bigram-LM literals (interpolated on both engines, DfCap precedent).
    * TransRareP: a Laplace-smoothed transition probability below this is
    * a "rare transition" — 0.025 sits at the ~p5 of the sf0.01 corpus
    * transition distribution [MEASURED: p01 0.0204, p05 0.0241, median
    * 0.0341]. RareFracFlag: a doc whose rare-transition share exceeds
    * this is flagged disfluent — 0.10 sits between the p75 (0.081) and
    * p95 (0.138) of the per-doc distribution, so the flag drops a
    * minority while both branches stay hot at the driver gate.
    */
  private val TransRareP = 0.025
  private val RareFracFlag = 0.10

  /** Shared bigram-LM machinery for llm_bigram_lm / llm_bigram_score
    * (round 18; the hierCellsSql discipline — one definition so the
    * smoothing cannot fork between the train and apply rows). Returns
    * (per-doc transitions, smoothed LM table). V is countDistinct(w2)
    * over the REDUCED c12 table — identical to counting over the raw
    * transitions (c12 has one row per distinct (w1, w2)) but saves a
    * full corpus scan + explode (round-18 review). NULL/token-poor docs
    * drop consistently in both engines: Spark's size(toks) is -1 for
    * NULL and DuckDB's len(NULL) is NULL — both fail the >= 2 guard.
    */
  private def bigramLm(s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    // spread (round 22): the tokenize + transition explode ran as ONE
    // ~420 ms task per consuming stage on the single-row-group fixture
    // scan (profiled; r21 A/B'd this site at the then-32-partition spread
    // and rightly reverted — the size-derived width is where it pays).
    val tr = Tables.spread(s,
        Tables.documents(s, d).select(col("doc_id"), col("text")),
        col("doc_id"))
      .select(col("doc_id"), toksAll(col("text")).as("toks"))
      .where(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(toks) - 1), " +
          "i -> struct(toks[i-1] AS w1, toks[i] AS w2))")).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val c12 = tr.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
    val c1 = c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val v = c12.agg(countDistinct(col("w2")).as("v"))
    val lm = c12.join(c1, "w1").crossJoin(broadcast(v))
      .select(col("w1"), col("w2"), col("c12"), col("c1"),
        ((col("c12").cast("double") + lit(1.0)) /
          (col("c1").cast("double") + col("v").cast("double")))
          .as("prob"))
    (tr, lm)
  }

  /** The DuckDB spelling of [[bigramLm]] — the shared CTE chain both
    * bigram oracles open with (t → e → c12 → c1 → v → lm).
    */
  private val bigramLmSql = s"""t AS (
          SELECT doc_id, $toksAllDuck AS toks FROM documents),
        e AS (
          SELECT doc_id, p.w1 AS w1, p.w2 AS w2
          FROM (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
                  i -> {'w1': toks[i], 'w2': toks[i+1]})) AS p
                FROM t WHERE len(toks) >= 2)),
        c12 AS (SELECT w1, w2, count(*) AS c12 FROM e GROUP BY w1, w2),
        c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1
               FROM c12 GROUP BY w1),
        v AS (SELECT count(DISTINCT w2) AS v FROM c12),
        lm AS (
          SELECT w1, w2, c12, c1,
                 (CAST(c12 AS DOUBLE) + 1.0)
                   / (CAST(c1 AS DOUBLE) + CAST(v AS DOUBLE)) AS prob
          FROM c12 JOIN c1 USING (w1), v)"""

  /** llm_dupgram_fraction literal (interpolated on both engines, DfCap
    * precedent): a document whose duplicated-shingle share reaches this
    * value is flagged dup_heavy. 0.8 sits at the ~p90 of the sf0.01
    * per-doc distribution [MEASURED: p75 0.676, p95 0.989, median 0.617]
    * — the flag marks a high-duplication MINORITY, the way the audit is
    * tuned in production, while both flag branches stay hot at the
    * driver gate.
    */
  private val DupFracFlag = 0.8

  /** llm_pipeline_curate literal (interpolated on both engines, DfCap
    * precedent): minimum composite quality (llm_quality_score's exact
    * formula, computed on the SCRUBBED text) a doc must reach to survive
    * the quality stage. 0.60 sits at the ~p8 of the sf0.01 scrubbed
    * quality distribution [MEASURED: p5 0.593, p10 0.608, median 0.645] —
    * the filter drops a low-quality minority, the production tuning, while
    * both branches stay hot at the driver gate.
    */
  private val CurateQualityMin = 0.60

  /** Stages 1–5 of the full-corpus prefix-filter containment pipeline
    * (see llm_containment_prefix for the per-stage scale rationale):
    * returns (chunks, verified) in the lshRepGraph/srpRepGraph contract —
    * chunked identical-shingle-set rep groups (persisted) and the
    * exact-verified ORDERED rep pairs (a_rep, b_rep, cont) at cont ≥ 0.5.
    */
  private[graft] def containmentRepGraph(
      s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    // spread (round 21): single-row-group fixture file — shingling +
    // hashing otherwise run as one task up to the chunks exchange
    // (Tables.spread doc).
    val t = Tables.spread(s,
        Tables.documents(s, d).select(col("doc_id"), col("text")),
        col("doc_id"), Tables.SpreadTargetBytesHeavy)
      .select(col("doc_id"), toksAll(col("text")).as("toks"))
      .where(size(col("toks")) >= 3)
      .select(col("doc_id"),
        sort_array(transform(array_distinct(
          expr("transform(sequence(1, size(toks) - 2), " +
            "i -> array_join(slice(toks, i, 3), ' '))")),
          sh => xxhash64(sh))).as("sids"))
    val w = Window.partitionBy(col("sids"))
    val chunks = t
      .groupBy(col("sids"),
        pmod(xxhash64(col("doc_id")), lit(LlmQueries.MemberChunks)).as("chunk"))
      .agg(min(col("doc_id")).as("cmin"),
        sort_array(collect_list(col("doc_id"))).as("members"))
      // One window projection for rep + size (the lshRepGraph fuse — two
      // chained withColumns plan as two Window passes).
      .select(col("*"), min(col("cmin")).over(w).as("rep_id"),
        sum(size(col("members"))).over(w).as("gsize"))
      .persist()
    val reps = chunks.where(col("cmin") === col("rep_id"))
      .select(col("rep_id"), col("sids"))
    val df = reps.select(explode(col("sids")).as("sid"))
      .groupBy(col("sid")).agg(count(lit(1)).as("df"))
    // Persisted since round 18: the positional filter below consumes the
    // rarity-ranked lists from BOTH join sides (prefix slice + full
    // index), and without the persist each side re-runs the df join +
    // collect_list aggregation. Rep-scale rows (one per rep), released by
    // Cleanup with the other corpus intermediates.
    val ranked = reps.select(col("rep_id"), explode(col("sids")).as("sid"))
      .join(df, "sid")
      .groupBy(col("rep_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("sid")))).as("ranked"))
      .persist()
    // Length filter rides both explodes (the PPJoin companion prune,
    // exactness-preserving): cont(a→b) ≥ ½ forces |a∩b| ≥ ⌈|a|/2⌉ ≤ |b|,
    // so any candidate with 2·|b| < |a| is provably below threshold and
    // drops BEFORE the distinct. Prunes nothing on the uniform-length
    // fixture; on real corpora it removes the long-doc→short-doc probe
    // direction wholesale.
    //
    // POSITIONAL filter (round 18, r16 verdict #2 — the PPJoin prune
    // proper, exactness-preserving like the length prune): both explodes
    // carry each shingle's 1-based POSITION in the record's global
    // rarity order ((df, sid) ascending — the same total order on both
    // sides, which is what makes the bound sound). For a candidate pair,
    // the minimal matched a_pos is the globally-FIRST common shingle:
    // a's prefix is downward-closed in that order, so if the first
    // common shingle sat beyond the prefix, NO prefix entry could match
    // and the pair would never have joined. Every common shingle then
    // sits at position ≥ a_pos in a and ≥ b_pos in b, so
    // |a∩b| ≤ min(a_len − a_pos, b_len − b_pos) + 1; a pair whose bound
    // already misses t = ⌈a_len/2⌉ (integer form: 2·bound < a_len) is
    // provably below threshold and drops BEFORE the verify join ships
    // both full shingle arrays. The distinct becomes a same-shuffle
    // min-struct aggregation (map-side partials; a_len/b_len are
    // functionally dependent grouping keys, carried not recomputed).
    // On the fixture's hot 31-token vocabulary this prunes ~28% of
    // candidates [MEASURED sf0.1: 919k → 659k]; on a zipfian corpus the
    // rare-first positions spread further and the filter bites harder.
    val prefix = ranked
      .select(col("rep_id").as("a_rep"),
        size(col("ranked")).as("a_len"),
        posexplode(expr("slice(ranked, 1, size(ranked) div 2 + 1)"))
          .as(Seq("ai", "p")))
      .select(col("a_rep"), col("a_len"), (col("ai") + 1).as("a_pos"),
        col("p.sid").as("sid"))
    val index = ranked
      .select(col("rep_id").as("b_rep"),
        size(col("ranked")).as("b_len"),
        posexplode(col("ranked")).as(Seq("bi", "p")))
      .select(col("b_rep"), col("b_len"), (col("bi") + 1).as("b_pos"),
        col("p.sid").as("sid"))
    // (a_pos, b_pos) of the first-common-shingle match ride the
    // aggregation as ONE packed BIGINT (a_pos · 2³¹ + b_pos, both
    // positive ints) so the min stays a codegen-native long min —
    // min(struct(...)) plans an interpreted ordering on every joined row,
    // measured ~25% slower on this stage's tens-of-millions join output.
    val cand = prefix.join(index, "sid")
      .where(col("a_rep") =!= col("b_rep") &&
        col("b_len") * 2 >= col("a_len"))
      .groupBy(col("a_rep"), col("b_rep"), col("a_len"), col("b_len"))
      .agg(min(col("a_pos").cast("bigint") * lit(2147483648L)
        + col("b_pos")).as("m"))
      .where((least(col("a_len") - shiftright(col("m"), 31),
        col("b_len") - col("m").bitwiseAND(lit(2147483647L))) + 1) * 2
        >= col("a_len"))
      .select(col("a_rep"), col("b_rep"))
    val ga = reps.select(col("rep_id").as("a_rep"), col("sids").as("a_s"))
    val gb = reps.select(col("rep_id").as("b_rep"), col("sids").as("b_s"))
    val inter = graft.functions.VectorOps
      .sortedIntersectCount(col("a_s"), col("b_s")).cast("int")
    val verified = cand
      .join(ga, "a_rep").join(gb, "b_rep")
      .select(col("a_rep"), col("b_rep"),
        (inter.cast("double") / size(col("a_s")).cast("double")).as("cont"))
      .where(col("cont") >= 0.5)
    (chunks, verified)
  }

  /** PII patterns for llm_pii_scrub, in the Java↔RE2-shared regex subset
    * (both engines see the identical runtime string — the Spark side goes
    * through the Column API, so no SQL-literal double-escaping). The phone
    * pattern's optional country code lives in a group so a bare
    * `555-123-4567` still matches; no leading \b because a boundary before
    * an optional `+` fails on ` +1 …` (space→`+` is not a word boundary).
    * Instead the phone pattern leads with a `(^|[^0-9])` guard (round-10
    * ADVICE: with only the trailing \b, any ≥10-digit run — order ids,
    * account numbers — got a 10-digit suffix-aligned substring redacted as
    * [PHONE]); the guard character is restored by the replacement's
    * backreference (`$1` in Java, `\1` in RE2 — the one engine-specific
    * piece, so it lives at the two call sites, not in the shared pattern).
    * Counts use group 0 on both engines, so the guard char inflates
    * neither. Both engines scan leftmost-first, so which start wins on
    * overlapping candidates is identical.
    */
  private val EmailP = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val IpP    = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private val SsnP   = "\\b\\d{3}-\\d{2}-\\d{4}\\b"
  private val PhoneP =
    "(^|[^0-9])((\\+?\\d{1,2}[ .-])?\\(?\\d{3}\\)?[ .-]?\\d{3}[ .-]?\\d{4}\\b)"

  /** Constructed-container headers for the REAL-decode rows
    * (llm_image_decode / llm_audio_decode): the fixture corpus carries no
    * media payloads, so each row BUILDS a valid container in-query from
    * sha256(text) bytes — a 4×2 24-bit bottom-up BMP (raw BGR, stride 12,
    * no padding) and a 4-frame mono 16-bit/8kHz PCM WAV. Both formats are
    * uncompressed, so the JDK decode is byte-transparent and DuckDB can
    * compute the SAME features arithmetically from the hex digest with no
    * codec — the only way a real ImageIO/javax.sound decode can face a
    * driver-grade oracle in this sandbox (round-11 verdict #3).
    */
  private val BmpHeader: Array[Byte] = {
    val o = new java.io.ByteArrayOutputStream()
    val dd = new java.io.DataOutputStream(o)
    def le32(v: Int): Unit = dd.writeInt(Integer.reverseBytes(v))
    def le16(v: Int): Unit = dd.writeShort(java.lang.Short.reverseBytes(v.toShort))
    dd.writeBytes("BM"); le32(78); le32(0); le32(54)        // file header
    le32(40); le32(4); le32(2); le16(1); le16(24)           // BITMAPINFOHEADER
    le32(0); le32(24); le32(0); le32(0); le32(0); le32(0)
    o.toByteArray
  }

  private val WavHeader: Array[Byte] = {
    val o = new java.io.ByteArrayOutputStream()
    val dd = new java.io.DataOutputStream(o)
    def le32(v: Int): Unit = dd.writeInt(Integer.reverseBytes(v))
    def le16(v: Int): Unit = dd.writeShort(java.lang.Short.reverseBytes(v.toShort))
    dd.writeBytes("RIFF"); le32(36 + 8); dd.writeBytes("WAVE")
    dd.writeBytes("fmt "); le32(16); le16(1); le16(1)       // PCM, mono
    le32(8000); le32(16000); le16(2); le16(16)              // 8kHz, 16-bit
    dd.writeBytes("data"); le32(8)                          // 4 frames
    o.toByteArray
  }

  /** DuckDB: byte j (0-based) of the sha256 hex string `h`, as INTEGER. */
  private def shaByte(j: Int) = s"CAST(('0x' || substr(h, ${2 * j + 1}, 2)) AS INTEGER)"

  /** Portable 60-bit token hash (see file header). */
  private def tokHash(tok: Column): Column =
    conv(substring(md5(tok), 1, 15), 16, 10).cast("bigint")

  private def tokHashDuck(t: String) = s"('0x' || substr(md5($t), 1, 15))::BIGINT"

  /** Count-Min sketch shape (llm_freq_sketch): d salted hash rows × w
    * buckets. Private-to-graft so CmsSoundnessSpec derives its ε-bound
    * (e/w over the token total) from the same literals.
    */
  private[graft] val CmsD = 4
  private[graft] val CmsW = 16L
  /** Five in-vocab probes spanning the fixture's frequency range + one
    * absent token (pure collision mass — the one-sided-error surface).
    */
  private[graft] val CmsProbes =
    Seq("batch", "data", "dup", "nosuchtoken99", "the", "vector")

  /** h_i(t) = salted-md5 60-bit key mod w — the llm_sample_stratified
    * hash idiom, one salt per sketch row.
    */
  private def cmsBucket(i: Column, t: Column): Column =
    pmod(conv(substring(md5(
      concat(lit("cms-"), i.cast("string"), lit(":"), t)),
      1, 15), 16, 10).cast("bigint"), lit(CmsW))

  val defs: Seq[Q] = Seq(
    // H: SimHash near-dup — frequency-weighted 60-bit fingerprints, pairs
    // within Hamming distance 8 over a bounded id range (the oracle-able
    // form; the unbounded scale path buckets fingerprints by bit-band
    // exactly like MinHash bands). Two linear shuffles: (doc, bit) sums,
    // then per-doc assembly.
    Q(
      "llm_simhash_neardup",
      (s, d) => {
        val toks = Tables.documents(s, d)
          .where(col("doc_id") < 200)
          .select(col("doc_id"), explode(toksAll(col("text"))).as("tok"))
          .select(col("doc_id"), tokHash(col("tok")).as("h"))
        val bits = toks
          .select(col("doc_id"), col("h"), explode(expr("sequence(0, 59)")).as("b"))
          .groupBy(col("doc_id"), col("b"))
          .agg(sum(when(expr("shiftright(h, b) & 1") === 1, 1L).otherwise(-1L)).as("s"))
        val fp = bits
          .groupBy(col("doc_id"))
          .agg(sum(when(col("s") > 0, expr("shiftleft(1L, b)")).otherwise(0L))
            .cast("bigint").as("fp"))
        val a = fp.select(col("doc_id").as("a_id"), col("fp").as("a_fp"))
        val b = fp.select(col("doc_id").as("b_id"), col("fp").as("b_fp"))
        a.join(b, col("a_id") < col("b_id"))
          .select(col("a_id"), col("b_id"),
            bit_count(col("a_fp").bitwiseXOR(col("b_fp"))).as("hamming"))
          .where(col("hamming") <= 8)
          .orderBy(col("a_id"), col("b_id"))
      },
      oracle = Some(s"""
        WITH tok AS (
          SELECT doc_id, ${tokHashDuck("unnest(" + toksAllDuck + ")")} AS h
          FROM documents WHERE doc_id < 200),
        bits AS (
          SELECT doc_id, b,
                 sum(CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END) AS s
          FROM tok CROSS JOIN (SELECT unnest(range(60)) AS b)
          GROUP BY doc_id, b),
        fp AS (
          SELECT doc_id,
                 CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS fp
          FROM bits GROUP BY doc_id)
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               bit_count(xor(a.fp, b.fp)) AS hamming
        FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.fp, b.fp)) <= 8
        ORDER BY a_id, b_id""")),

    // H: n-gram (3-token shingle) Jaccard near-dup — order-sensitive where
    // the token-set row is not: reordering tokens changes shingles. Bounded
    // form for the oracle; the scale path reuses the MinHash pipeline with
    // shingles as the token universe.
    Q(
      "llm_neardup_shingle",
      (s, d) => {
        // spread (round 22, profiled): the pair join + shingle intersect
        // ran as one 700 ms task (the probe side scans as 1 partition).
        val t = Tables.spread(s, Tables.documents(s, d)
            .where(col("doc_id") < 150)
            .select(col("doc_id"), col("text")), col("doc_id"))
          .select(col("doc_id"), toksAll(col("text")).as("toks"))
          .where(size(col("toks")) >= 3)
          .select(col("doc_id"),
            array_distinct(transform(expr("sequence(1, size(toks) - 2)"),
              i => array_join(slice(col("toks"), i, lit(3)), " "))).as("sh"))
        val a = t.select(col("doc_id").as("a_id"), col("sh").as("a_sh"))
        val b = t.select(col("doc_id").as("b_id"), col("sh").as("b_sh"))
        val inter = size(array_intersect(col("a_sh"), col("b_sh")))
        a.join(b, col("a_id") < col("b_id"))
          .select(col("a_id"), col("b_id"),
            (inter.cast("double") /
              (size(col("a_sh")) + size(col("b_sh")) - inter).cast("double")).as("jac"))
          .where(col("jac") >= 0.3)
          .orderBy(col("a_id"), col("b_id"))
      },
      oracle = Some(s"""
        WITH t AS (
          SELECT doc_id,
                 list_distinct(list_transform(range(1, len(toks) - 1),
                   i -> array_to_string(toks[i:i+2], ' '))) AS sh
          FROM (SELECT doc_id, $toksAllDuck AS toks
                FROM documents WHERE doc_id < 150)
          WHERE len(toks) >= 3),
        p AS (
          SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                 CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                   / CAST(len(a.sh) + len(b.sh)
                          - len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS jac
          FROM t a JOIN t b ON a.doc_id < b.doc_id)
        SELECT a_id, b_id, jac FROM p
        WHERE jac >= 0.3
        ORDER BY a_id, b_id""")),

    // H: ASYMMETRIC containment near-dup (round 14) — the quote/subset
    // duplication detector the symmetric rows cannot be: C(a→b) =
    // |sh(a) ∩ sh(b)| / |sh(a)| over the same 3-gram shingles as
    // llm_neardup_shingle. When a short doc is quoted inside a much
    // longer one, Jaccard divides by the UNION (dominated by the long
    // doc) and stays near 0 while containment reads ≈1 — the LLM-data
    // case is boilerplate/license blocks and verbatim quotations that
    // dedup-by-Jaccard ships into training. ORDERED pairs (a≠b, not
    // a<b): containment is directional, and a symmetric dup legitimately
    // emits both directions. Same bounded-probe oracle form as the other
    // all-pairs text rows (ids < 300; the LSH/banding machinery is the
    // declared scale path for candidate generation — this row defines the
    // verify-stage semantics).
    Q(
      "llm_neardup_containment",
      (s, d) => {
        // spread (round 21): parallelize the tokenize/gram map work over
        // the 1-partition fixture scan (Tables.spread doc; no-op at
        // production scan widths).
        val t = Tables.spread(s, Tables.documents(s, d)
            .where(col("doc_id") < 300)
            .select(col("doc_id"), col("text")), col("doc_id"),
          Tables.SpreadTargetBytesHeavy)
          .select(col("doc_id"), toksAll(col("text")).as("toks"))
          .where(size(col("toks")) >= 3)
          .select(col("doc_id"),
            array_distinct(transform(expr("sequence(1, size(toks) - 2)"),
              i => array_join(slice(col("toks"), i, lit(3)), " "))).as("sh"))
        val a = t.select(col("doc_id").as("a_id"), col("sh").as("a_sh"))
        val b = t.select(col("doc_id").as("b_id"), col("sh").as("b_sh"))
        a.join(b, col("a_id") =!= col("b_id"))
          .select(col("a_id"), col("b_id"),
            (size(array_intersect(col("a_sh"), col("b_sh"))).cast("double") /
              size(col("a_sh")).cast("double")).as("cont"))
          .where(col("cont") >= 0.5)
          .orderBy(col("a_id"), col("b_id"))
      },
      oracle = Some(s"""
        WITH t AS (
          SELECT doc_id,
                 list_distinct(list_transform(range(1, len(toks) - 1),
                   i -> array_to_string(toks[i:i+2], ' '))) AS sh
          FROM (SELECT doc_id, $toksAllDuck AS toks
                FROM documents WHERE doc_id < 300)
          WHERE len(toks) >= 3),
        p AS (
          SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                 CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                   / CAST(len(a.sh) AS DOUBLE) AS cont
          FROM t a JOIN t b ON a.doc_id <> b.doc_id)
        SELECT a_id, b_id, cont FROM p
        WHERE cont >= 0.5
        ORDER BY a_id, b_id""")),

    // H (scale form, round 15 — r14 verdict #5): FULL-CORPUS directional
    // containment — llm_neardup_containment's exact contract (3-gram
    // shingles, C(a→b) = |sh(a)∩sh(b)| / |sh(a)| ≥ 0.5, ordered pairs)
    // with a linear-shaped candidate generator instead of the bounded
    // all-pairs probe. The r14 verdict suggested reusing the MINHASH
    // BANDING for candidates; rejected on correctness grounds: banding
    // approximates JACCARD, and the pairs this operator exists for (a
    // short doc quoted inside a much longer one) have high containment
    // with arbitrarily LOW Jaccard — |a∩b|/|a∪b| ≈ |a|/|b| — so a
    // Jaccard-banded generator misses exactly the quote/subset pairs and
    // the row could never match its exact oracle. The correct exact
    // machinery for an overlap threshold is the PREFIX FILTER (the
    // AllPairs/PPJoin family): C(a→b) ≥ τ ⟹ |a∩b| ≥ ⌈τ·|a|⌉ = t, and any
    // (|a|-t+1)-subset of sh(a) must then intersect sh(b) — so probing a
    // doc's ⌊|a|/2⌋+1 RAREST shingles (rarity = global df, a pure
    // performance heuristic; ANY subset of that size is exact) against a
    // full inverted index has recall 1 BY CONSTRUCTION, which is what
    // lets the row stay driver-hash-green against the plain all-pairs
    // oracle, like llm_neardup_minhash (banding miss prob ≈5e-8) but with
    // a zero-miss argument instead of a probabilistic one.
    //
    // Pipeline (shares the LSH family's stage shapes):
    //   1. rep-collapse identical shingle SETS (chunked members — the
    //      round-15 srpRepGraph/lshRepGraph stage, so a boilerplate
    //      cluster probes once);
    //   2. df per shingle over reps (one linear groupBy);
    //   3. rarity-ranked shingle lists per rep (one shuffle join on the
    //      shingle id — df is vocabulary-scale, NEVER broadcast);
    //   4. candidates = prefix explode ⋈ full-index explode on sid,
    //      two-column distinct (hot shingles stay out of rare-first
    //      prefixes, the standard PPJoin skew control);
    //   5. verify once per ORDERED rep pair on sorted 64-bit shingle ids
    //      (sortedIntersectCount; reps joins unhinted = shuffle, the
    //      round-9 corpus-bound-broadcast rule);
    //   6. member expansion exactly like minhash stage 6 (answer-bound
    //      semi-join-reduced broadcasts, reshard between the explodes) —
    //      ordered pairs, so NO least/greatest: cross pairs keep their
    //      (a→b) direction, intra pairs of multi-member groups emit both
    //      directions at cont = 1.0 (identical sets, |a∩a|/|a| exact).
    //
    // Measured (round 15, warmed medians, healthy window): sf0.1 6.8 s
    // (4992 reps, 27.2k distinct shingles, ~919k distinct candidates from
    // the prefix join, 482 verified rep pairs); 10× staging 13.1 s —
    // 1.93× wall at 10× data, because the staged clones collapse in the
    // rep stage and the pair work is unchanged (excluded from ScaleProbe
    // like the other pair-LIST rows: the staged answer itself grows
    // quadratically in the factor, an artifact of the staging). The
    // fixture's 31-token vocabulary is the prefix filter's worst case —
    // every shingle is hot, so rarity ordering prunes little and ~7% of
    // rep pairs stay candidates; on a realistic zipfian-shingle corpus
    // the rare-first prefix excludes stopword shingles and the candidate
    // set tracks the near-dup answer.
    Q(
      "llm_containment_prefix",
      (s, d) => {
        val (chunks, verified0) = containmentRepGraph(s, d)
        val verified = verified0.persist()
        val ca = chunks.select(col("rep_id").as("a_rep"), col("members").as("a_members"))
          .join(verified.select(col("a_rep")).distinct(), Seq("a_rep"), "left_semi")
        val cb = chunks.select(col("rep_id").as("b_rep"), col("members").as("b_members"))
          .join(verified.select(col("b_rep")).distinct(), Seq("b_rep"), "left_semi")
        val crossPairs = verified
          .join(broadcast(ca), "a_rep")
          .select(explode(col("a_members")).as("a_id"), col("b_rep"), col("cont"))
          .repartition(col("a_id"))
          .join(broadcast(cb), "b_rep")
          .select(col("a_id"), explode(col("b_members")).as("b_id"), col("cont"))
        val multi = chunks.where(col("gsize") > 1)
        val intraPairs = multi
          .select(col("rep_id"), explode(col("members")).as("a_id"))
          .repartition(col("a_id"))
          .join(broadcast(multi.select(col("rep_id"), col("members"))), "rep_id")
          .select(col("a_id"), explode(col("members")).as("b_id"))
          .where(col("b_id") =!= col("a_id"))
          .select(col("a_id"), col("b_id"), lit(1.0).as("cont"))
        crossPairs.unionAll(intraPairs)
          .orderBy(col("a_id"), col("b_id"))
      },
      oracle = Some(s"""
        WITH t AS (
          SELECT doc_id,
                 list_distinct(list_transform(range(1, len(toks) - 1),
                   i -> array_to_string(toks[i:i+2], ' '))) AS sh
          FROM (SELECT doc_id, $toksAllDuck AS toks
                FROM documents)
          WHERE len(toks) >= 3),
        p AS (
          SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                 CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                   / CAST(len(a.sh) AS DOUBLE) AS cont
          FROM t a JOIN t b ON a.doc_id <> b.doc_id)
        SELECT a_id, b_id, cont FROM p
        WHERE cont >= 0.5
        ORDER BY a_id, b_id""")),

    // H: token counting two ways — whitespace tokens (the cheap LLM-data
    // heuristic) and a BPE-ish regex segmentation (`\w+` runs plus single
    // non-space punctuation, the GPT-2-style pre-tokenizer shape). RE2
    // (DuckDB) and Java regex agree on these classes; counts only, so the
    // regex engines' group semantics never matter.
    Q(
      "llm_token_count",
      (s, d) => {
        Tables.documents(s, d)
          .select(
            col("doc_id"),
            size(toksAll(col("text"))).as("ws_tokens"),
            size(expr("""regexp_extract_all(text, '\\w+|[^\\w\\s]', 0)"""))
              .as("bpe_tokens"),
            (col("n_chars").cast("double") /
              greatest(size(toksAll(col("text"))), lit(1)).cast("double"))
              .as("chars_per_token"))
          .orderBy(col("doc_id"))
      },
      oracle = Some(s"""
        SELECT doc_id,
               len($toksAllDuck) AS ws_tokens,
               len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS bpe_tokens,
               CAST(n_chars AS DOUBLE)
                 / CAST(greatest(len($toksAllDuck), 1) AS DOUBLE) AS chars_per_token
        FROM documents
        ORDER BY doc_id""")),

    // H: per-document quality scoring — token counts, type/token ratio,
    // stopword ratio, mean token length, and a fixed-weight composite.
    // Pure per-row arithmetic (no shuffle at all beyond the scan) with
    // identical IEEE expression shapes on both engines.
    Q(
      "llm_quality_score",
      (s, d) => {
        val t = Tables.documents(s, d)
          .select(col("doc_id"), toksAll(col("text")).as("toks"))
        val n = size(col("toks")).cast("double")
        val types = size(array_distinct(col("toks"))).cast("double")
        val stops = size(filter(col("toks"),
          x => x.isin("the", "a"))).cast("double")
        val sumLen = aggregate(transform(col("toks"), x => length(x)),
          lit(0), (acc, x) => acc + x).cast("double")
        t.where(size(col("toks")) > 0)
          .select(
            col("doc_id"),
            size(col("toks")).as("n_tokens"),
            size(array_distinct(col("toks"))).as("n_types"),
            (types / n).as("ttr"),
            (stops / n).as("stop_ratio"),
            (sumLen / n).as("mean_tok_len"),
            ((types / n) * 0.4 + (lit(1.0) - stops / n) * 0.3 +
              least(n / 100.0, lit(1.0)) * 0.3).as("quality"))
          .orderBy(col("doc_id"))
      },
      oracle = Some(s"""
        WITH t AS (SELECT doc_id, $toksAllDuck AS toks FROM documents)
        SELECT doc_id,
               len(toks) AS n_tokens,
               len(list_distinct(toks)) AS n_types,
               CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS ttr,
               CAST(len(list_filter(toks, x -> x IN ('the', 'a'))) AS DOUBLE)
                 / CAST(len(toks) AS DOUBLE) AS stop_ratio,
               CAST(list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS DOUBLE)
                 / CAST(len(toks) AS DOUBLE) AS mean_tok_len,
               (CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE)) * 0.4
                 + (1.0 - CAST(len(list_filter(toks, x -> x IN ('the', 'a'))) AS DOUBLE)
                          / CAST(len(toks) AS DOUBLE)) * 0.3
                 + least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) * 0.3 AS quality
        FROM t
        WHERE len(toks) > 0
        ORDER BY doc_id""")),

    // H: dictionary-vote language ID. The corpus is synthetic (lang label
    // is independent of text), so the dictionaries are deterministic
    // pseudo-profiles — the operator shape (per-class token votes, argmax
    // with fixed tiebreak, corpus-level confusion counts) is the real
    // deliverable. Output is the (labeled × predicted) contingency.
    Q(
      "llm_lang_id",
      (s, d) => {
        val dictA = Seq("the", "a", "table", "row", "order")
        val dictB = Seq("data", "value", "key", "hash", "merge")
        val dictC = Seq("spark", "stream", "batch", "window", "join")
        val t = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"), toksAll(col("text")).as("toks"))
        def score(dict: Seq[String]) =
          size(filter(col("toks"), x => x.isin(dict: _*)))
        val scored = t.select(col("doc_id"), col("lang"),
          score(dictA).as("sa"), score(dictB).as("sb"), score(dictC).as("sc"))
        val pred = when(col("sa") >= col("sb") && col("sa") >= col("sc"), "lang_a")
          .when(col("sb") >= col("sc"), "lang_b")
          .otherwise("lang_c")
        scored.select(col("lang"), pred.as("pred"))
          .groupBy(col("lang"), col("pred"))
          .agg(count(lit(1)).as("n_docs"))
          .orderBy(col("lang"), col("pred"))
      },
      oracle = Some(s"""
        WITH t AS (
          SELECT doc_id, lang, $toksAllDuck AS toks FROM documents),
        scored AS (
          SELECT lang,
                 len(list_filter(toks, x -> x IN ('the','a','table','row','order'))) AS sa,
                 len(list_filter(toks, x -> x IN ('data','value','key','hash','merge'))) AS sb,
                 len(list_filter(toks, x -> x IN ('spark','stream','batch','window','join'))) AS sc
          FROM t),
        p AS (
          SELECT lang,
                 CASE WHEN sa >= sb AND sa >= sc THEN 'lang_a'
                      WHEN sb >= sc THEN 'lang_b'
                      ELSE 'lang_c' END AS pred
          FROM scored)
        SELECT lang, pred, count(*) AS n_docs
        FROM p GROUP BY lang, pred
        ORDER BY lang, pred""")),

    // H: TRUE winnowing — the min-md5 of every w=8 sliding window over the
    // positional 4-token shingle hash sequence, deduplicated into the
    // document's fingerprint SET (robust to local edits: an edit only
    // perturbs the windows it touches, unlike llm_fingerprint's single
    // global min). Output: set size + an order-independent set digest.
    Q(
      "llm_fingerprint_winnow",
      (s, d) => {
        val shingles = expr("transform(sequence(1, size(toks) - 3), " +
          "i -> md5(array_join(slice(toks, i, 4), ' ')))")
        Tables.documents(s, d)
          .select(col("doc_id"), toksAll(col("text")).as("toks"))
          .where(size(col("toks")) >= 11) // ≥ 8 windows of 4-shingles
          .select(col("doc_id"), shingles.as("hs"))
          .select(col("doc_id"),
            array_distinct(expr("transform(sequence(1, size(hs) - 7), " +
              "i -> array_min(slice(hs, i, 8)))")).as("fps"))
          .select(col("doc_id"),
            size(col("fps")).as("n_winnow"),
            md5(array_join(sort_array(col("fps")), "")).as("winnow_digest"))
          .orderBy(col("doc_id"))
      },
      oracle = Some(s"""
        WITH t AS (SELECT doc_id, $toksAllDuck AS toks FROM documents),
        h AS (
          SELECT doc_id,
                 list_transform(range(1, len(toks) - 2),
                   i -> md5(array_to_string(toks[i:i+3], ' '))) AS hs
          FROM t WHERE len(toks) >= 11),
        w AS (
          SELECT doc_id,
                 list_distinct(list_transform(range(1, len(hs) - 6),
                   i -> list_aggregate(hs[i:i+7], 'min'))) AS fps
          FROM h)
        SELECT doc_id, len(fps) AS n_winnow,
               md5(array_to_string(list_sort(fps), '')) AS winnow_digest
        FROM w
        ORDER BY doc_id""")),

    // H (multimodal): opaque-binary metadata extraction — the declared row
    // for the Multimodal plumbing (format sniff / byte stats / checksums
    // over BINARY payloads). Text bytes stand in for media payloads so the
    // row is oracle-able: UTF-8 encode on both engines, byte length, hex
    // prefix (uppercase hex on both), magic-byte format CASE mirrored
    // verbatim, md5 content fingerprint.
    Q(
      "llm_multimodal_meta",
      (s, d) => {
        val bin = col("text").cast("binary")
        Tables.documents(s, d)
          .select(
            col("doc_id"),
            length(bin).as("n_bytes"),
            substring(hex(bin), 1, 16).as("prefix_hex"),
            graft.operators.Multimodal.sniffFormat(bin).as("format"),
            md5(bin).as("fp_md5"))
          .orderBy(col("doc_id"))
      },
      oracle = Some("""
        WITH b AS (
          SELECT doc_id, text, encode(text) AS bin, hex(encode(text)) AS h
          FROM documents)
        SELECT doc_id,
               octet_length(bin) AS n_bytes,
               substr(h, 1, 16) AS prefix_hex,
               CASE WHEN substr(h, 1, 8) = '89504E47' THEN 'png'
                    WHEN substr(h, 1, 6) = 'FFD8FF' THEN 'jpeg'
                    WHEN substr(h, 1, 8) = '47494638' THEN 'gif'
                    WHEN substr(h, 1, 8) = '52494646' THEN 'riff'
                    WHEN substr(h, 1, 8) = '664C6143' THEN 'flac'
                    WHEN substr(h, 1, 8) = '1A45DFA3' THEN 'matroska'
                    ELSE 'unknown' END AS format,
               md5(text) AS fp_md5
        FROM b
        ORDER BY doc_id""")),

    // H (multimodal, REAL decode): image feature extraction through the
    // actual JDK ImageIO path, driver-oracle'd. Each doc's payload is a
    // CONSTRUCTED 4×2 24-bit BMP (header literal + the first 24 sha256
    // bytes as raw BGR pixels, bottom-up rows) — uncompressed, so
    // ImageFeaturesExpr's decode is byte-transparent and DuckDB recomputes
    // every feature arithmetically from the same digest: channel means
    // replicate the decoder's exact accumulation order (getRGB scans
    // top-row-first = file bytes 12..23 then 0..11; double addition is not
    // associative, so the oracle unrolls the same left-assoc chain), and
    // luminance min/max are order-independent. Map-only, zero corpus
    // shuffles (pinned with the other map-only rows).
    Q(
      "llm_image_decode",
      (s, d) => {
        val px = substring(unhex(sha2(col("text").cast("binary"), 256)), 1, 24)
        Tables.documents(s, d)
          .select(col("doc_id"),
            graft.operators.Multimodal.imageFeatures(
              concat(lit(BmpHeader), px)).as("f"))
          .select(col("doc_id"),
            col("f").getItem(0).as("img_w"),
            col("f").getItem(1).as("img_h"),
            col("f").getItem(2).as("aspect"),
            col("f").getItem(3).as("mean_r"),
            col("f").getItem(4).as("mean_g"),
            col("f").getItem(5).as("mean_b"),
            col("f").getItem(8).as("l_min"),
            col("f").getItem(9).as("l_max"))
          .orderBy(col("doc_id"))
      },
      oracle = Some {
        // getRGB pixel order → (B,G,R) file-byte offsets: top row is the
        // SECOND stored row (bottom-up format), so i=0..3 → bytes 12..23,
        // i=4..7 → bytes 0..11.
        val pxs = (0 until 4).map(x => (12 + 3 * x, 13 + 3 * x, 14 + 3 * x)) ++
          (0 until 4).map(x => (3 * x, 3 * x + 1, 3 * x + 2))
        def chan(off: ((Int, Int, Int)) => Int): String =
          "(" + pxs.map(p => s"(${shaByte(off(p))} / 255e0)").mkString(" + ") + ") / 8e0"
        def lum(p: (Int, Int, Int)): String =
          s"(2.99e-1 * (${shaByte(p._3)} / 255e0) + 5.87e-1 * (${shaByte(p._2)} / 255e0)" +
            s" + 1.14e-1 * (${shaByte(p._1)} / 255e0))"
        s"""
        WITH t AS (SELECT doc_id, sha256(text) AS h FROM documents)
        SELECT doc_id,
               4e0 AS img_w, 2e0 AS img_h, 2e0 AS aspect,
               ${chan(_._3)} AS mean_r,
               ${chan(_._2)} AS mean_g,
               ${chan(_._1)} AS mean_b,
               least(${pxs.map(lum).mkString(", ")}) AS l_min,
               greatest(${pxs.map(lum).mkString(", ")}) AS l_max
        FROM t
        ORDER BY doc_id"""
      }),

    // H (multimodal, REAL decode, VARIABLE geometry): llm_image_decode
    // fixes a 4×2 raster, so stride padding (BMP rows align to 4 bytes)
    // is constant-zero there and the padding arithmetic never faces the
    // driver oracle (round-12 verdict #5). This row derives w ∈ {1..4} and
    // h ∈ {1,2} PER DOC from the first two sha256 bytes — across any
    // corpus all four padding lengths {1,2,3,0} and both row counts occur
    // — and builds each BMP header + bottom-up pixel rows + computed
    // row padding IN-QUERY from byte-level expressions (every dynamic
    // header field fits one byte at these sizes, so le32 = u8 ‖ 00 00 00).
    // Pixel (x, image-row i counted from the top) carries digest bytes
    // 2+3·(w·i+x)+{0,1,2} as B,G,R; the bottom-up file layout stores image
    // row h−1 first, which is exactly the branch a fixed-geometry oracle
    // can never falsify. DuckDB recomputes dims, aspect, channel means (in
    // the decoder's top-row-first left-assoc accumulation order) and
    // luminance extrema from the same derivation, codec-free, via one CASE
    // arm per (w,h) combination. Map-only, zero corpus shuffles.
    Q(
      "llm_image_decode_var",
      (s, d) => {
        val sha = sha2(col("text").cast("binary"), 256)
        def u8(c: Column): Column = unhex(lpad(hex(c), 2, "0"))
        def le32b(c: Column): Column = concat(u8(c), lit(Array.fill[Byte](3)(0)))
        Tables.documents(s, d)
          .select(col("doc_id"),
            (conv(substring(sha, 1, 2), 16, 10).cast("int") % 4 + 1).as("w"),
            (conv(substring(sha, 3, 2), 16, 10).cast("int") % 2 + 1).as("hh"),
            substring(unhex(sha), 3, 24).as("px"))
          .withColumn("npad", (lit(4) - ((col("w") * 3) % 4)) % 4)
          .select(col("doc_id"),
            concat(
              lit("BM".getBytes(java.nio.charset.StandardCharsets.US_ASCII)),
              le32b(lit(54) + (col("w") * 3 + col("npad")) * col("hh")),
              lit(Array.fill[Byte](4)(0)),                 // reserved
              lit(Array[Byte](54, 0, 0, 0, 40, 0, 0, 0)),  // px offset, hdr size
              le32b(col("w")), le32b(col("hh")),
              lit(Array[Byte](1, 0, 24, 0, 0, 0, 0, 0)),   // planes, bpp, BI_RGB
              le32b((col("w") * 3 + col("npad")) * col("hh")),
              lit(Array.fill[Byte](16)(0)),                // ppm + palette fields
              // bottom-up rows: image row 1 first when h = 2, then row 0,
              // each padded to the 4-byte stride.
              expr("CASE WHEN hh = 2 THEN substring(px, 1 + 3*w, 3*w) " +
                "ELSE CAST('' AS BINARY) END"),
              expr("CASE WHEN hh = 2 THEN substring(X'000000', 1, npad) " +
                "ELSE CAST('' AS BINARY) END"),
              expr("substring(px, 1, 3*w)"),
              expr("substring(X'000000', 1, npad)")).as("bmp"))
          .select(col("doc_id"),
            graft.operators.Multimodal.imageFeatures(col("bmp")).as("f"))
          .select(col("doc_id"),
            col("f").getItem(0).as("img_w"),
            col("f").getItem(1).as("img_h"),
            col("f").getItem(2).as("aspect"),
            col("f").getItem(3).as("mean_r"),
            col("f").getItem(4).as("mean_g"),
            col("f").getItem(5).as("mean_b"),
            col("f").getItem(8).as("l_min"),
            col("f").getItem(9).as("l_max"))
          .orderBy(col("doc_id"))
      },
      oracle = Some {
        // One CASE arm per (w,h): pixel (x, image-row i) → digest byte
        // offsets 2+3(w·i+x); getRGB accumulates top row first, x left to
        // right, left-assoc — mirrored exactly per arm.
        val combos = for (w <- 1 to 4; hh <- 1 to 2) yield (w, hh)
        def pxBytes(w: Int, hh: Int): Seq[Int] =
          for (i <- 0 until hh; x <- 0 until w) yield 2 + 3 * (w * i + x)
        def chanCase(sel: Int): String = combos.map { case (w, hh) =>
          val chain = pxBytes(w, hh)
            .map(b => s"(${shaByte(b + sel)} / 255e0)").mkString(" + ")
          s"WHEN w = $w AND hh = $hh THEN ($chain) / ${w * hh}e0"
        }.mkString("CASE ", " ", " END")
        def lum(b: Int): String =
          s"(2.99e-1 * (${shaByte(b + 2)} / 255e0) + " +
            s"5.87e-1 * (${shaByte(b + 1)} / 255e0) + " +
            s"1.14e-1 * (${shaByte(b)} / 255e0))"
        def lumCase(f: String): String = combos.map { case (w, hh) =>
          s"WHEN w = $w AND hh = $hh THEN $f(${pxBytes(w, hh).map(lum).mkString(", ")})"
        }.mkString("CASE ", " ", " END")
        s"""
        WITH t AS (SELECT doc_id, sha256(text) AS h FROM documents),
        d AS (
          SELECT doc_id, h,
                 1 + (${shaByte(0)} % 4) AS w,
                 1 + (${shaByte(1)} % 2) AS hh
          FROM t)
        SELECT doc_id,
               CAST(w AS DOUBLE) AS img_w,
               CAST(hh AS DOUBLE) AS img_h,
               CAST(w AS DOUBLE) / hh AS aspect,
               ${chanCase(2)} AS mean_r,
               ${chanCase(1)} AS mean_g,
               ${chanCase(0)} AS mean_b,
               ${lumCase("least")} AS l_min,
               ${lumCase("greatest")} AS l_max
        FROM d
        ORDER BY doc_id"""
      }),

    // H (multimodal, REAL decode): audio feature extraction through the
    // actual javax.sound.sampled path, driver-oracle'd — same constructed-
    // container trick as llm_image_decode: a 4-frame mono 16-bit/8kHz PCM
    // WAV from sha256 bytes 24..31. 16-bit samples are v/2^15 — dyadic
    // EXACT in double, so sums need no order replication; sqrt is IEEE
    // correctly-rounded on both engines (unlike ln/exp — fn_math R2). The
    // zero-crossing feature is the one output whose zero-sample-skipping
    // chain SQL can't unroll cleanly, so it stays spec-pinned
    // (MultimodalSpec) rather than declared.
    Q(
      "llm_audio_decode",
      (s, d) => {
        val pcm = substring(unhex(sha2(col("text").cast("binary"), 256)), 25, 8)
        Tables.documents(s, d)
          .select(col("doc_id"),
            graft.operators.Multimodal.audioFeatures(
              concat(lit(WavHeader), pcm)).as("f"))
          .select(col("doc_id"),
            col("f").getItem(0).as("n_ch"),
            col("f").getItem(1).as("sample_rate"),
            col("f").getItem(2).as("n_frames"),
            col("f").getItem(3).as("duration"),
            col("f").getItem(4).as("amp_mean"),
            col("f").getItem(5).as("amp_rms"),
            col("f").getItem(6).as("amp_peak"))
          .orderBy(col("doc_id"))
      },
      oracle = Some {
        // Frame f: little-endian signed 16-bit at digest bytes 24+2f/25+2f.
        def x(f: Int): String = {
          val lo = shaByte(24 + 2 * f); val hi = shaByte(25 + 2 * f)
          s"(($lo + 256 * $hi - CASE WHEN $hi >= 128 THEN 65536 ELSE 0 END) / 32768e0)"
        }
        val xs = (0 until 4).map(x)
        s"""
        WITH t AS (SELECT doc_id, sha256(text) AS h FROM documents)
        SELECT doc_id,
               1e0 AS n_ch, 8000e0 AS sample_rate, 4e0 AS n_frames,
               4e0 / 8000e0 AS duration,
               (${xs.mkString(" + ")}) / 4e0 AS amp_mean,
               sqrt((${xs.map(v => s"$v * $v").mkString(" + ")}) / 4e0) AS amp_rms,
               greatest(${xs.map(v => s"abs($v)").mkString(", ")}) AS amp_peak
        FROM t
        ORDER BY doc_id"""
      }),

    // H: winnowing-style document fingerprint — min-md5 over 4-token
    // shingles (the classic rolling-window fingerprint with md5 standing
    // in for the rolling hash: both engines share md5 exactly, and min of
    // lowercase-hex strings is byte-order-stable in both).
    Q(
      "llm_fingerprint",
      (s, d) => {
        // Shingle strings materialize ONCE in their own projection — the
        // min-md5 and the distinct count both derive from `sh`, instead of
        // each re-running the sequence/slice/join pipeline (measured ~2× on
        // the per-doc cost; Catalyst does not CSE across the two because
        // one maps md5 over the elements and the other does not).
        Tables.documents(s, d)
          .select(col("doc_id"), toksAll(col("text")).as("toks"))
          .where(size(col("toks")) >= 4)
          .select(col("doc_id"),
            transform(expr("sequence(1, size(toks) - 3)"),
              i => array_join(slice(col("toks"), i, lit(4)), " ")).as("sh"))
          .select(
            col("doc_id"),
            array_min(transform(col("sh"), x => md5(x))).as("fp"),
            size(array_distinct(col("sh"))).as("n_shingles"))
          .orderBy(col("doc_id"))
      },
      oracle = Some(s"""
        WITH t AS (SELECT doc_id, $toksAllDuck AS toks FROM documents)
        SELECT doc_id,
               list_aggregate(list_transform(range(1, len(toks) - 2),
                 i -> md5(array_to_string(toks[i:i+3], ' '))), 'min') AS fp,
               len(list_distinct(list_transform(range(1, len(toks) - 2),
                 i -> array_to_string(toks[i:i+3], ' ')))) AS n_shingles
        FROM t
        WHERE len(toks) >= 4
        ORDER BY doc_id""")),

    // H: corpus vocabulary histogram — top-k tokens by occurrence count
    // with document frequency, the standard corpus-analysis companion to
    // the per-doc token counts (vocab coverage / stopword discovery /
    // tokenizer sanity checks). Scale shape: the explode is linear, the
    // groupBy is ONE hash shuffle with map-side partial aggregation
    // (count + distinct-doc partial), and the ordered limit plans as
    // TakeOrderedAndProject per-partition heaps — no global sort at any
    // corpus size. Deterministic total order: count desc, then token.
    Q(
      "llm_vocab_topk",
      (s, d) => {
        // explode_outer + null guard: plain explode gets an inferred
        // size(toks)>0 filter that re-runs the split+filter tokenize per
        // doc (2× CPU on the corpus pass — the llm_contamination
        // pathology, SURVEY §6 r8). The isNotNull evaluates on the
        // exploded column, not the pipeline.
        Tables.documents(s, d)
          .select(col("doc_id"), explode_outer(toksAll(col("text"))).as("tok"))
          .where(col("tok").isNotNull)
          .groupBy(col("tok"))
          .agg(count(lit(1)).cast("bigint").as("n_occ"),
            countDistinct(col("doc_id")).cast("bigint").as("n_docs"))
          .orderBy(col("n_occ").desc, col("tok"))
          .limit(30)
      },
      oracle = Some(s"""
        WITH t AS (
          SELECT doc_id, unnest($toksAllDuck) AS tok FROM documents)
        SELECT tok,
               CAST(count(*) AS BIGINT) AS n_occ,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM t
        GROUP BY tok
        ORDER BY n_occ DESC, tok
        LIMIT 30""")),

    // H: bounded-vocabulary unigram-LM commonness score — the CCNet-style
    // "LM quality filter" stage re-expressed in the repo's exact-arithmetic
    // discipline: per doc, the mean RELATIVE corpus frequency of its
    // tokens over a deterministic top-K unigram table (OOV tokens
    // contribute 0), plus a keep/drop flag at a literal threshold. Docs
    // full of rare/garbled tokens score low, boilerplate scores high —
    // the same ranking an LM-perplexity filter produces, WITHOUT
    // transcendentals: ln/exp differ from DuckDB's libm in the last ulp
    // (fn_math, [MEASURED] r2), so the score is an exact-BIGINT token-
    // frequency sum with ONE double division at the end (the agg_corr_cov
    // discipline) — order-independent and hash-verifiable.
    //
    // Scale shape: three LINEAR passes over the exploded tokens (vocab
    // count, total count, left join back), each one hash shuffle with
    // map-side partial aggregation; the vocab table is top-K via
    // TakeOrderedAndProject heaps (no global sort) and is K-BOUNDED BY
    // CONSTRUCTION, so its broadcast (and the single-row total's) is
    // legitimate at any corpus size — the corpus side never shuffle-joins.
    // Tokenize is recomputed per pass rather than persisted, the
    // contamination_capped recompute-over-persist policy. K = 16
    // (UnigramVocabK) and the RareThreshold keep/drop cut are test-scale
    // literals both engines interpolate (the DfCap precedent); production
    // vocabularies run 10^5-10^6.
    Q(
      "llm_unigram_score",
      (s, d) => {
        def toks = Tables.documents(s, d)
          .select(col("doc_id"), explode_outer(toksAll(col("text"))).as("tok"))
          .where(col("tok").isNotNull) // explode_outer: see llm_vocab_topk
        val vocab = toks.groupBy(col("tok"))
          .agg(count(lit(1)).cast("bigint").as("cnt"))
          .orderBy(col("cnt").desc, col("tok")) // deterministic tie-break
          .limit(UnigramVocabK)
        val total = toks.agg(count(lit(1)).cast("bigint").as("n_total"))
        // Two sequential double divisions, NOT a BIGINT n_toks*n_total
        // product first (round-11 ADVICE): at real corpus sizes
        // (n_total ~1e13 tokens) that product can exceed 2^63, where
        // non-ANSI Spark wraps silently while DuckDB errors — the engines
        // would diverge exactly at the scale the query targets. Division
        // order is identical in the oracle, so the result stays
        // deterministic and hash-verifiable.
        val commonness =
          col("tf_sum").cast("double") / col("n_toks") / col("n_total")
        toks.join(broadcast(vocab), Seq("tok"), "left")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).cast("bigint").as("n_toks"),
            sum(coalesce(col("cnt"), lit(0L))).cast("bigint").as("tf_sum"))
          .crossJoin(broadcast(total))
          .select(col("doc_id"), col("n_toks"), col("tf_sum"),
            commonness.as("commonness"),
            (commonness < lit(RareThreshold)).as("is_rare"))
          .orderBy(col("doc_id"))
      },
      oracle = Some(s"""
        WITH tok AS (
          SELECT doc_id, unnest($toksAllDuck) AS tok FROM documents),
        vocab AS (
          SELECT tok, CAST(count(*) AS BIGINT) AS cnt
          FROM tok GROUP BY tok
          ORDER BY cnt DESC, tok LIMIT $UnigramVocabK),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM tok),
        doc AS (
          SELECT t.doc_id,
                 CAST(count(*) AS BIGINT) AS n_toks,
                 CAST(sum(coalesce(v.cnt, 0)) AS BIGINT) AS tf_sum
          FROM tok t LEFT JOIN vocab v USING (tok)
          GROUP BY t.doc_id)
        SELECT doc_id, n_toks, tf_sum,
               CAST(tf_sum AS DOUBLE) / n_toks / n_total AS commonness,
               CAST(tf_sum AS DOUBLE) / n_toks / n_total
                 < $RareThreshold AS is_rare
        FROM doc, tot
        ORDER BY doc_id""")),

    // H: sequence packing — the GPT-style pretraining stage that
    // concatenates documents in a deterministic order (doc_id) and chunks
    // the token stream into fixed-length training blocks; per doc, its
    // global token offset and the [first, last] block range it lands in.
    // The core primitive is a CORPUS-WIDE EXCLUSIVE PREFIX SUM — the naive
    // Window.orderBy(doc_id) form collapses the whole corpus into ONE
    // window partition (the classic Spark scale-killer; it even warns), so
    // this implements the two-level distributed scan instead: (1) bucket
    // docs by doc_id range, (2) per-bucket token totals (one linear
    // groupBy; bucket table is N/W rows — bounded tiny by construction, so
    // ITS unpartitioned prefix-sum window and broadcast are legitimate at
    // any corpus size), (3) within-bucket exclusive cumsum windowed BY
    // BUCKET (bounded W-row partitions, parallel across buckets) plus the
    // broadcast bucket offset. Exact BIGINT arithmetic end to end; both
    // engines compute the identical global prefix sum, DuckDB via the
    // single window the oracle can afford.
    Q(
      "llm_seq_pack",
      (s, d) => {
            // NULL-text guard (round-12 review): under the pinned non-ANSI
        // config Spark's size(NULL) is -1, which would silently shift every
        // later doc's offset while DuckDB's len(NULL) = NULL drops the row
        // from its prefix sum — both engines must agree a NULL-text doc has
        // 0 tokens (occupies a row, spans no block), like empty text.
        val t = Tables.documents(s, d)
          .select(col("doc_id"),
            when(col("text").isNull, lit(0L))
              .otherwise(size(toksAll(col("text"))).cast("bigint")).as("n_toks"),
            expr(s"CAST(doc_id AS BIGINT) div $PackBucketWidth").as("bkt"))
        val bucketTotals = t.groupBy(col("bkt"))
          .agg(sum(col("n_toks")).as("bkt_toks"))
          .select(col("bkt"), col("bkt_toks"),
            expr(s"bkt div $PackBucketWidth").as("sbkt"))
        // Round 21 (r20 verdict #2a): SECOND scan level. The bucket table
        // is N/W rows, so the previous single unpartitioned window over it
        // was the one structure in the tree whose single-partition input
        // grew with N. Super-bucket totals (N/W² rows) take the only
        // remaining unpartitioned window — ≤W rows until N > W³ (10¹⁸
        // docs at the production W = 10⁶) — and the per-bucket exclusive
        // cumsum windows BY super-bucket (≤W rows per partition, parallel
        // across super-buckets). bkt_off = Σ_{sb'<sb} sb_toks +
        // Σ_{same sb, b'<b} bkt_toks — the identical exact-BIGINT global
        // prefix sum, so the declared output is bit-unchanged.
        val sbTotals = bucketTotals.groupBy(col("sbkt"))
          .agg(sum(col("bkt_toks")).as("sb_toks"))
        val wSb = Window.orderBy(col("sbkt"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val sbOff = sbTotals.select(col("sbkt"),
          coalesce(sum(col("sb_toks")).over(wSb), lit(0L))
            .cast("bigint").as("sb_off"))
        val wBkt = Window.partitionBy(col("sbkt")).orderBy(col("bkt"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val bucketOff = bucketTotals.join(broadcast(sbOff), Seq("sbkt"))
          .select(col("bkt"),
            (col("sb_off") + coalesce(sum(col("bkt_toks")).over(wBkt), lit(0L)))
              .cast("bigint").as("bkt_off"))
        val wDoc = Window.partitionBy(col("bkt")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        t.join(broadcast(bucketOff), Seq("bkt"))
          .select(col("doc_id"), col("n_toks"),
            (col("bkt_off") + coalesce(sum(col("n_toks")).over(wDoc), lit(0L)))
              .cast("bigint").as("tok_offset"))
          // Token-less docs occupy no block: NULL range, 0 blocks (CASE
          // with no ELSE on both engines). Integer `div` keeps the block
          // arithmetic exact BIGINT — no double rounding at any offset.
          .select(col("doc_id"), col("n_toks"), col("tok_offset"),
            when(col("n_toks") > 0,
              expr(s"tok_offset div $PackBlockLen")).as("blk_first"),
            when(col("n_toks") > 0,
              expr(s"(tok_offset + n_toks - 1) div $PackBlockLen")).as("blk_last"))
          .select(col("doc_id"), col("n_toks"), col("tok_offset"),
            col("blk_first"), col("blk_last"),
            coalesce(col("blk_last") - col("blk_first") + 1, lit(0L))
              .cast("bigint").as("n_blocks"))
          .orderBy(col("doc_id"))
      },
      oracle = Some(s"""
        WITH t AS (
          SELECT doc_id,
                 CAST(coalesce(len($toksAllDuck), 0) AS BIGINT) AS n_toks
          FROM documents),
        o AS (
          SELECT doc_id, n_toks,
                 CAST(coalesce(sum(n_toks) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS tok_offset
          FROM t)
        SELECT doc_id, n_toks, tok_offset,
               CASE WHEN n_toks > 0
                 THEN tok_offset // $PackBlockLen END AS blk_first,
               CASE WHEN n_toks > 0
                 THEN (tok_offset + n_toks - 1) // $PackBlockLen END AS blk_last,
               CAST(CASE WHEN n_toks > 0
                 THEN (tok_offset + n_toks - 1) // $PackBlockLen
                   - tok_offset // $PackBlockLen + 1
                 ELSE 0 END AS BIGINT) AS n_blocks
        FROM o
        ORDER BY doc_id""")),

    // H: per-document keyword extraction — top-K tokens by tf·idf where
    // idf is the RAW inverse document-frequency ratio n_docs/df, NOT
    // log(n_docs/df): within one document the log variant ranks identically
    // whenever tf ordering and df ordering agree, and the raw ratio keeps
    // the score transcendental-free (ln differs from DuckDB's libm in the
    // last ulp — fn_math [MEASURED] r2), so the whole row stays
    // hash-verifiable: exact BIGINT counts, then one fixed-order double
    // mul/div (IEEE-identical in both engines).
    //
    // Scale shape: tokenize explodes map-side; tf = one (doc, tok) hash
    // shuffle with map-side partial agg; df aggregates the ALREADY-REDUCED
    // tf table (vocab-scale input); tf⋈df SHUFFLE-joins on tok — the vocab
    // is corpus-bound (10^9+ distinct tokens at web scale), so
    // broadcasting it would be the llm_contamination anti-pattern, pinned
    // under auto-broadcast-off; the single-row n_docs total is the only
    // broadcast. Top-K per doc via rank-limit pushdown: row_number ≤ K
    // becomes WindowGroupLimit (per-partition heaps before the final
    // window sort) — no doc's full vocabulary survives the shuffle.
    Q(
      "llm_tfidf_topk",
      (s, d) => {
            val docs = Tables.documents(s, d)
        // spread (round 21): see Tables.spread (the n_docs count below
        // keeps the plain scan — it reads no text).
        def toks = Tables.spread(s,
            docs.select(col("doc_id"), col("text")), col("doc_id"),
            Tables.SpreadTargetBytesHeavy)
          .select(col("doc_id"), explode_outer(toksAll(col("text"))).as("tok"))
          .where(col("tok").isNotNull) // explode_outer: see llm_vocab_topk
        val tf = toks.groupBy(col("doc_id"), col("tok"))
          .agg(count(lit(1)).cast("bigint").as("tf"))
        val dfT = tf.groupBy(col("tok"))
          .agg(count(lit(1)).cast("bigint").as("df"))
        val nDocs = docs.agg(count(lit(1)).cast("bigint").as("n_docs"))
        val w = Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("tok").asc) // total order: ties → token
        tf.join(dfT, Seq("tok"))
          .crossJoin(broadcast(nDocs))
          .select(col("doc_id"), col("tok"), col("tf"), col("df"),
            (col("tf").cast("double") * col("n_docs").cast("double") /
              col("df").cast("double")).as("score"))
          .select(col("doc_id"), col("tok"), col("tf"), col("df"), col("score"),
            row_number().over(w).cast("bigint").as("rk"))
          .where(col("rk") <= TfidfTopK)
          .orderBy(col("doc_id"), col("rk"))
      },
      oracle = Some(s"""
        WITH tok AS (
          SELECT doc_id, unnest($toksAllDuck) AS tok FROM documents),
        tf AS (
          SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
          FROM tok GROUP BY doc_id, tok),
        df AS (
          SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok),
        n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        sc AS (
          SELECT tf.doc_id, tf.tok, tf.tf, df.df,
                 CAST(tf.tf AS DOUBLE) * CAST(n.n_docs AS DOUBLE)
                   / CAST(df.df AS DOUBLE) AS score
          FROM tf JOIN df USING (tok) CROSS JOIN n),
        r AS (
          SELECT doc_id, tok, tf, df, score,
                 CAST(row_number() OVER (PARTITION BY doc_id
                   ORDER BY score DESC, tok ASC) AS BIGINT) AS rk
          FROM sc)
        SELECT doc_id, tok, tf, df, score, rk
        FROM r WHERE rk <= $TfidfTopK
        ORDER BY doc_id, rk""")),

    // H: benchmark decontamination — the standard train/eval n-gram overlap
    // check (GPT-3/PaLM-style: flag a training document when it shares ≥ k
    // n-grams with any benchmark document). Semantically distinct from the
    // symmetric near-dup rows: the join is ASYMMETRIC — a bounded benchmark
    // suite (~10⁴–10⁵ docs in practice; here the deterministic doc_id%20
    // slice) against the full corpus. That asymmetry is the whole scale
    // story: the benchmark's distinct grams BROADCAST, so the 100 TB corpus
    // side never shuffles to join — one map-side BHJ, then a single
    // answer-bound (doc, bench) count shuffle. Grams are per-doc DISTINCT
    // on both sides, so count(*) of the join = |shared distinct grams|.
    // At web scale one would additionally drop grams whose corpus document
    // frequency exceeds a cap (stopword-like trigrams inflate candidates,
    // not results); correctness here needs no cap and the oracle pins the
    // uncapped semantics. The capped form is llm_contamination_capped
    // below — a separate declared row so both semantics stay oracle-able.
    Q(
      "llm_contamination",
      (s, d) => {
        // spread (round 21): see Tables.spread — gram explode otherwise
        // single-task on the 1-partition fixture scan.
        val docs = Tables.spread(s, Tables.documents(s, d)
            .select(col("doc_id"), col("text")), col("doc_id"),
          Tables.SpreadTargetBytesHeavy)
          .select(col("doc_id"), toksAll(col("text")).as("toks"))
          .where(size(col("toks")) >= 3)
          .select(col("doc_id"),
            array_distinct(transform(expr("sequence(1, size(toks) - 2)"),
              i => array_join(slice(col("toks"), i, lit(3)), " "))).as("grams"))
        // explode_OUTER, deliberately: plain explode lets Catalyst's
        // InferFiltersFromGenerate push an implicit `size(grams) > 0`
        // below this projection, substituting the whole (interpreted,
        // triple-nested) gram pipeline into the Filter — every doc then
        // pays the gram computation TWICE (measured 3.1 s → 1.0 s at
        // sf0.1). Outer is semantics-neutral here: `size(toks) >= 3`
        // guarantees non-empty grams, and a null `g` could never match
        // the equi-join anyway.
        val bench = docs.where(col("doc_id") % 20 === 0)
          .select(col("doc_id").as("bench_id"), explode_outer(col("grams")).as("g"))
        val corpus = docs.where(col("doc_id") % 20 =!= 0)
          .select(col("doc_id"), explode_outer(col("grams")).as("g"))
        corpus.join(broadcast(bench), "g")
          .groupBy(col("doc_id"), col("bench_id"))
          .agg(count(lit(1)).cast("bigint").as("shared_grams"))
          .where(col("shared_grams") >= 3)
          .orderBy(col("doc_id"), col("bench_id"))
      },
      oracle = Some(s"""
        WITH docs AS (
          SELECT doc_id,
                 list_distinct(list_transform(range(1, len(toks) - 1),
                   i -> array_to_string(toks[i:i+2], ' '))) AS grams
          FROM (SELECT doc_id, $toksAllDuck AS toks FROM documents)
          WHERE len(toks) >= 3),
        bench AS (
          SELECT doc_id AS bench_id, unnest(grams) AS g
          FROM docs WHERE doc_id % 20 = 0),
        corpus AS (
          SELECT doc_id, unnest(grams) AS g
          FROM docs WHERE doc_id % 20 <> 0)
        SELECT doc_id, bench_id, CAST(count(*) AS BIGINT) AS shared_grams
        FROM corpus JOIN bench USING (g)
        GROUP BY doc_id, bench_id
        HAVING count(*) >= 3
        ORDER BY doc_id, bench_id""")),

    // H: DF-capped decontamination (round-8 verdict #5) — identical to
    // llm_contamination but grams whose CORPUS document frequency exceeds
    // DfCap are dropped before counting overlap. That is the web-scale
    // operating mode: stopword-like trigrams ("of the same") hit most of
    // the corpus, so uncapped they blow the candidate stream up by orders
    // of magnitude while contributing no contamination signal (at sf0.1
    // cap=5 shrinks the flagged set 940 → 13 rows, all high-signal).
    //
    // Scale shape: the corpus side STILL never shuffle-joins. The oracle
    // defines the cap over FULL corpus DF, but the plan only ever computes
    // DF for bench-intersecting grams: `matched` below is the corpus gram
    // stream semi-joined (map-side BHJ) to the broadcast bench-gram set,
    // which keeps EVERY corpus doc carrying such a gram — so for exactly
    // the grams that can reach the output, restricted DF == full DF, and
    // grams outside the bench set never join anything, so capping them is
    // output-neutral. The DF aggregation and the final count are both
    // candidate-bound shuffles; `keep` is bounded by |bench grams| and
    // broadcasts. Two corpus scans (one per `matched` use) — each map-side.
    Q(
      "llm_contamination_capped",
      (s, d) => {
        // spread (round 21): see llm_contamination.
        val docs = Tables.spread(s, Tables.documents(s, d)
            .select(col("doc_id"), col("text")), col("doc_id"),
          Tables.SpreadTargetBytesHeavy)
          .select(col("doc_id"), toksAll(col("text")).as("toks"))
          .where(size(col("toks")) >= 3)
          .select(col("doc_id"),
            array_distinct(transform(expr("sequence(1, size(toks) - 2)"),
              i => array_join(slice(col("toks"), i, lit(3)), " "))).as("grams"))
        val bench = docs.where(col("doc_id") % 20 === 0)
          .select(col("doc_id").as("bench_id"), explode_outer(col("grams")).as("g"))
        val corpus = docs.where(col("doc_id") % 20 =!= 0)
          .select(col("doc_id"), explode_outer(col("grams")).as("g"))
        // `matched` is consumed twice (DF agg + final count) and NOT
        // persisted — adjudicated round 10 (r9 verdict "next round" #7):
        // an interleaved same-boot TimeQuery A/B at sf0.1 read recompute
        // 3.43/2.76/2.90 s vs persist 2.64/2.76/3.17 s — a wash (medians
        // 2.90 vs 2.76, winners flipping across pairs), so the persist
        // buys nothing at bench SF, while at 100 TB the PRE-cap matched
        // stream is the one stage stopword grams can inflate far beyond
        // the answer — exactly what should not be pinned into executor
        // storage. Recompute keeps both consumptions map-side scans.
        val matched = corpus.join(broadcast(bench.select(col("g")).distinct()), Seq("g"))
        val keep = matched.groupBy(col("g"))
          .agg(count(lit(1)).as("df")) // corpus grams are per-doc distinct
          .where(col("df") <= DfCap)
          .select(col("g"))
        matched.join(broadcast(keep), Seq("g"))
          .join(broadcast(bench), Seq("g"))
          .groupBy(col("doc_id"), col("bench_id"))
          .agg(count(lit(1)).cast("bigint").as("shared_grams"))
          .where(col("shared_grams") >= 3)
          .orderBy(col("doc_id"), col("bench_id"))
      },
      oracle = Some(s"""
        WITH docs AS (
          SELECT doc_id,
                 list_distinct(list_transform(range(1, len(toks) - 1),
                   i -> array_to_string(toks[i:i+2], ' '))) AS grams
          FROM (SELECT doc_id, $toksAllDuck AS toks FROM documents)
          WHERE len(toks) >= 3),
        bench AS (
          SELECT doc_id AS bench_id, unnest(grams) AS g
          FROM docs WHERE doc_id % 20 = 0),
        corpus AS (
          SELECT doc_id, unnest(grams) AS g
          FROM docs WHERE doc_id % 20 <> 0),
        keep AS (
          SELECT g FROM corpus GROUP BY g HAVING count(*) <= $DfCap)
        SELECT doc_id, bench_id, CAST(count(*) AS BIGINT) AS shared_grams
        FROM corpus JOIN keep USING (g) JOIN bench USING (g)
        GROUP BY doc_id, bench_id
        HAVING count(*) >= 3
        ORDER BY doc_id, bench_id""")),

    // H: PII redaction — the scrub stage every production curation
    // pipeline runs before training (C4 removed lines with PII patterns;
    // Dolma ships an email/phone/IP tagger): emails, IPv4s, SSN-shaped
    // ids, and phone numbers are replaced with typed placeholder tokens,
    // with a per-category count kept as quality metadata. Scale shape:
    // four sequential regexp passes per document — a map-only pipeline,
    // ZERO shuffles at any corpus size (the orderBy exists only for the
    // stable oracle hash). The scrub order (email → IP → SSN → phone) is
    // part of the contract: each count is taken on the text AFTER the
    // previous categories are already redacted, so overlapping matches
    // (an IP's dotted digits inside a phone-shaped run) resolve
    // identically in both engines. Patterns stay in the Java↔RE2-shared
    // subset (no lookaround, ASCII classes, \b word boundaries — the
    // fn_regexp discipline); Spark regexp_replace is global by default,
    // DuckDB needs the explicit 'g' flag.
    Q(
      "llm_pii_scrub",
      (s, d) => {
        Tables.documents(s, d)
          .withColumn("n_email",
            size(regexp_extract_all(col("text"), lit(EmailP), lit(0))).cast("bigint"))
          .withColumn("t1", regexp_replace(col("text"), EmailP, "[EMAIL]"))
          .withColumn("n_ip",
            size(regexp_extract_all(col("t1"), lit(IpP), lit(0))).cast("bigint"))
          .withColumn("t2", regexp_replace(col("t1"), IpP, "[IP]"))
          .withColumn("n_ssn",
            size(regexp_extract_all(col("t2"), lit(SsnP), lit(0))).cast("bigint"))
          .withColumn("t3", regexp_replace(col("t2"), SsnP, "[SSN]"))
          .withColumn("n_phone",
            size(regexp_extract_all(col("t3"), lit(PhoneP), lit(0))).cast("bigint"))
          .select(col("doc_id"),
            // $1 restores the non-digit guard character (Java backref form;
            // the DuckDB oracle's \1 is the RE2 spelling of the same thing).
            regexp_replace(col("t3"), PhoneP, "$1[PHONE]").as("text_scrubbed"),
            col("n_email"), col("n_ip"), col("n_ssn"), col("n_phone"))
          .orderBy(col("doc_id"))
      },
      oracle = Some(s"""
        WITH s1 AS (
          SELECT doc_id,
                 CAST(len(regexp_extract_all(text, '$EmailP')) AS BIGINT) AS n_email,
                 regexp_replace(text, '$EmailP', '[EMAIL]', 'g') AS t1
          FROM documents),
        s2 AS (
          SELECT doc_id, n_email,
                 CAST(len(regexp_extract_all(t1, '$IpP')) AS BIGINT) AS n_ip,
                 regexp_replace(t1, '$IpP', '[IP]', 'g') AS t2
          FROM s1),
        s3 AS (
          SELECT doc_id, n_email, n_ip,
                 CAST(len(regexp_extract_all(t2, '$SsnP')) AS BIGINT) AS n_ssn,
                 regexp_replace(t2, '$SsnP', '[SSN]', 'g') AS t3
          FROM s2)
        SELECT doc_id,
               regexp_replace(t3, '$PhoneP', '\\1[PHONE]', 'g') AS text_scrubbed,
               n_email, n_ip, n_ssn,
               CAST(len(regexp_extract_all(t3, '$PhoneP')) AS BIGINT) AS n_phone
        FROM s3
        ORDER BY doc_id""")),

    // H: deterministic stratified sampling — the data-mixing primitive
    // (per-language rates here; any metadata stratum works the same way).
    // The sampling key is a salted md5 of the doc id mapped to [0,1), NOT
    // rand(): a task retried on another executor must keep the same rows
    // (exactly-once at scale), reruns must be reproducible, and the oracle
    // must agree bit-for-bit. Scale shape: a map-only predicate — ZERO
    // shuffles to sample 100 TB (the orderBy below exists only for the
    // stable oracle hash). The u = key/2^60 comparison is engine-portable:
    // int→double conversion and double division are IEEE-identical in
    // both engines.
    Q(
      "llm_sample_stratified",
      (s, d) => {
        val key = conv(substring(md5(
            concat(lit("graft-sample-v1:"), col("doc_id").cast("string"))),
            1, 15), 16, 10).cast("bigint")
        val u = key.cast("double") / lit(1152921504606846976L) // 2^60
        val rate = when(col("lang") === "en", 0.5).otherwise(0.2)
        Tables.documents(s, d)
          .where(u < rate)
          .select(col("doc_id"), col("lang"), col("source"))
          .orderBy(col("doc_id"))
      },
      oracle = Some("""
        SELECT doc_id, lang, source
        FROM documents
        WHERE ('0x' || substr(md5('graft-sample-v1:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                / 1152921504606846976.0
              < (CASE WHEN lang = 'en' THEN 0.5 ELSE 0.2 END)
        ORDER BY doc_id""")),

    // H: per-source quota sampling (round 14) — the CAP-based half of
    // data mixing whose RATE-based half is llm_sample_stratified and
    // whose planning half is llm_mix_weights: keep at most K = 10 docs
    // per `source` (the RefinedWeb/Gopher "no domain dominates" curation
    // rule). Selection priority is the salted md5 of doc_id — a
    // deterministic uniform permutation both engines order identically as
    // plain ASCII hex strings (no numeric conversion needed), so retries
    // and reruns keep the same rows and the oracle agrees bit-for-bit;
    // doc_id tiebreak makes the order total.
    //
    // Scale shape: row_number ≤ K over (source, priority) plans as
    // WindowGroupLimit (pinned) — each input partition keeps only its
    // top-K per source BEFORE the exchange, so the shuffle carries ≤
    // K·sources rows per map partition and the final per-source sort is
    // K-bounded. That holds even in the adversarial few-huge-sources
    // layout where a plain window sort would serialize the corpus into a
    // handful of partitions.
    Q(
      "llm_domain_quota",
      (s, d) => {
        val w = Window.partitionBy(col("source"))
          .orderBy(col("pr"), col("doc_id"))
        Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            md5(concat(lit("graft-quota-v1:"), col("doc_id").cast("string")))
              .as("pr"))
          .withColumn("rk", row_number().over(w).cast("bigint"))
          .where(col("rk") <= 10)
          .select(col("doc_id"), col("source"), col("rk"))
          .orderBy(col("doc_id"))
      },
      oracle = Some("""
        SELECT doc_id, source, rk FROM (
          SELECT doc_id, source,
                 CAST(row_number() OVER (PARTITION BY source
                   ORDER BY md5('graft-quota-v1:' || CAST(doc_id AS VARCHAR)),
                            doc_id) AS BIGINT) AS rk
          FROM documents)
        WHERE rk <= 10
        ORDER BY doc_id""")),

    // H: mixture-rebalancing calculator — the PLANNING half of data mixing
    // whose APPLY half is llm_sample_stratified: given a literal target
    // mixture over `source` (the Dolma/Pile "domain weights" input),
    // derive per-source sampling rates for downsampling-only rebalancing.
    // The feasible output size is T = min_s(n_s / target_s) — the binding
    // source caps the corpus — and rate_s = target_s · T / n_s (= 1 for
    // the binding source). Exact cross-engine: counts are BIGINT, every
    // derived number is one fixed-order double div/mul chain, and the
    // target literals are CAST AS DOUBLE in the oracle so neither engine
    // sees a DECIMAL.
    //
    // Scale shape: ONE linear count shuffle over the corpus (map-side
    // partial agg) and ONE corpus scan — the total and the feasibility min
    // are unpartitioned-window aggregates over the POST-JOIN table, which
    // is #sources-bounded, so the global window is legitimate at any
    // corpus size (the seq_pack bucket-table argument; a first cut with
    // separate agg branches re-scanned the corpus three times and the
    // plan pin caught it). The target list is the only broadcast. Applying
    // the computed rates is llm_sample_stratified's map-only zero-shuffle
    // predicate.
    Q(
      "llm_mix_weights",
      (s, d) => {
        val targets = s.createDataFrame(Seq(
          ("src0", 0.4), ("src1", 0.3), ("src2", 0.2), ("src3", 0.1)))
          .toDF("source", "target")
        val wAll = Window.partitionBy()
        Tables.documents(s, d)
          .groupBy(col("source"))
          .agg(count(lit(1)).cast("bigint").as("n_docs"))
          .join(broadcast(targets), Seq("source"))
          .select(col("source"), col("n_docs"), col("target"),
            sum(col("n_docs")).over(wAll).cast("bigint").as("n_total"),
            min(col("n_docs").cast("double") / col("target")).over(wAll)
              .as("t_feasible"))
          .select(col("source"), col("n_docs"),
            (col("n_docs").cast("double") / col("n_total")).as("frac"),
            col("target"),
            (col("target") * col("t_feasible") / col("n_docs").cast("double"))
              .as("rate"),
            (col("target") * col("t_feasible")).as("quota"))
          .orderBy(col("source"))
      },
      oracle = Some("""
        WITH tgt(source, target) AS (VALUES
          ('src0', CAST(0.4 AS DOUBLE)), ('src1', CAST(0.3 AS DOUBLE)),
          ('src2', CAST(0.2 AS DOUBLE)), ('src3', CAST(0.1 AS DOUBLE))),
        c AS (
          SELECT source, CAST(count(*) AS BIGINT) AS n_docs
          FROM documents GROUP BY source),
        e AS (
          SELECT c.source, c.n_docs, t.target,
                 CAST(sum(c.n_docs) OVER () AS BIGINT) AS n_total,
                 min(CAST(c.n_docs AS DOUBLE) / t.target) OVER () AS t_feasible
          FROM c JOIN tgt t USING (source))
        SELECT source, n_docs,
               CAST(n_docs AS DOUBLE) / n_total AS frac,
               target,
               target * t_feasible / CAST(n_docs AS DOUBLE) AS rate,
               target * t_feasible AS quota
        FROM e
        ORDER BY source""")),

    // H: within-document repetition signals (Gopher-style quality rules:
    // "top 2-gram fraction > τ → drop") — the curation filter the
    // cross-doc dedup family does NOT cover: a document can be unique in
    // the corpus yet internally boilerplate. Scale shape: every metric is
    // a per-doc lambda expression — ZERO shuffles over the corpus (the
    // orderBy exists only for the stable oracle hash). The top-frequency
    // mode is O(distinct×n) per doc via transform+filter — constant work
    // per document, engine-portable (both engines share the lambda
    // vocabulary), no explode and therefore no Generate filter-inference
    // double-eval either.
    Q(
      "llm_repetition",
      (s, d) => {
        def topFrac(arr: Column): Column =
          array_max(transform(array_distinct(arr),
            u => size(filter(arr, x => x === u)))).cast("double") / size(arr)
        val bgs = transform(expr("sequence(1, size(toks) - 1)"),
          i => concat(element_at(col("toks"), i), lit(" "),
            element_at(col("toks"), i + lit(1))))
        Tables.documents(s, d)
          .select(col("doc_id"), toksAll(col("text")).as("toks"))
          .where(size(col("toks")) >= 2)
          .select(col("doc_id"), col("toks"), bgs.as("bgs"))
          .select(
            col("doc_id"),
            topFrac(col("toks")).as("top_tok_frac"),
            topFrac(col("bgs")).as("top_bigram_frac"),
            (size(array_distinct(col("toks"))).cast("double") /
              size(col("toks"))).as("distinct_ratio"))
          .withColumn("repetitive",
            col("top_bigram_frac") > 0.08 || col("top_tok_frac") > 0.12)
          .orderBy(col("doc_id"))
      },
      oracle = Some(s"""
        WITH t AS (
          SELECT doc_id, $toksAllDuck AS toks FROM documents),
        b AS (
          SELECT doc_id, toks,
                 list_transform(range(1, len(toks)),
                   i -> toks[i] || ' ' || toks[i+1]) AS bgs
          FROM t WHERE len(toks) >= 2),
        m AS (
          SELECT doc_id,
                 CAST(list_max(list_transform(list_distinct(toks),
                   u -> len(list_filter(toks, x -> x = u)))) AS DOUBLE)
                   / len(toks) AS top_tok_frac,
                 CAST(list_max(list_transform(list_distinct(bgs),
                   u -> len(list_filter(bgs, x -> x = u)))) AS DOUBLE)
                   / len(bgs) AS top_bigram_frac,
                 CAST(len(list_distinct(toks)) AS DOUBLE)
                   / len(toks) AS distinct_ratio
          FROM b)
        SELECT doc_id, top_tok_frac, top_bigram_frac, distinct_ratio,
               (top_bigram_frac > 0.08 OR top_tok_frac > 0.12) AS repetitive
        FROM m
        ORDER BY doc_id""")),

    // H (round 18, r16 verdict #5): END-TO-END CURATION PIPELINE — the
    // composition a real training run executes, as ONE declared query:
    // normalized dedup → PII scrub → quality + repetition keep-flags →
    // stratified sampling, emitting per-doc final keep/drop with FIRST-
    // FAILING-STAGE attribution (the number a curation run reports per
    // stage: how much each filter cost). Every stage is the corresponding
    // declared row's EXACT semantics, re-stated inline over one scan:
    //   dedup      — llm_dedup_norm's first-8-lowercased-tokens key; a doc
    //                survives iff it is the min doc_id of its key group;
    //   pii        — llm_pii_scrub's ordered email→IP→SSN→phone chain on
    //                the ORIGINAL text; n_pii is the per-category counts
    //                summed, and every downstream text stage reads the
    //                SCRUBBED text (the production ordering: filters see
    //                what training would see);
    //   quality    — llm_quality_score's composite on the scrubbed
    //                tokens, kept iff ≥ CurateQualityMin (token-less and
    //                NULL-text docs fail here: no tokens, no score);
    //   repetition — llm_repetition's Gopher-style top-fraction flags on
    //                the scrubbed tokens (docs under 2 tokens are not
    //                repetitive by definition — nothing to repeat);
    //   sample     — llm_sample_stratified's salted-md5 per-lang rate
    //                predicate, same salt, so the composed row's sample
    //                stage selects EXACTLY the stratified row's doc set.
    // Attribution order is the execution order (dedup, quality,
    // repetition, sample; pii never drops), all five values live at the
    // driver gate [MEASURED sf0.01: 24/32/74/238 dropped, 132 kept].
    //
    // Scale shape (the realistic multi-stage plan, pinned): ONE corpus
    // scan feeds the whole pipeline; the dedup verdict is a min-over-key
    // window — the single corpus-scale Exchange — and the scrub, token
    // metrics, and sample predicate are per-row lambdas stacked on the
    // same pass, so the full pipeline shuffles the corpus ONCE (plus the
    // oracle-ordering sort, which exists for the stable driver hash
    // only). At 100 TB: one hash exchange on the dedup key, zero joins,
    // zero broadcasts.
    Q(
      "llm_pipeline_curate",
      (s, d) => {
        def topFrac(arr: Column): Column =
          array_max(transform(array_distinct(arr),
            u => size(filter(arr, x => x === u)))).cast("double") / size(arr)
        val bgs = transform(expr("sequence(1, size(toks) - 1)"),
          i => concat(element_at(col("toks"), i), lit(" "),
            element_at(col("toks"), i + lit(1))))
        val n = size(col("toks")).cast("double")
        val types = size(array_distinct(col("toks"))).cast("double")
        val stops = size(filter(col("toks"),
          x => x.isin("the", "a"))).cast("double")
        val skey = conv(substring(md5(
            concat(lit("graft-sample-v1:"), col("doc_id").cast("string"))),
            1, 15), 16, 10).cast("bigint")
        val u = skey.cast("double") / lit(1152921504606846976L) // 2^60
        val rate = when(col("lang") === "en", 0.5).otherwise(0.2)
        val wKey = Window.partitionBy(col("key"))
        // NULL text coalesces to '' BEFORE the PII stage (round 18 review):
        // size(regexp_extract_all(NULL)) is -1 under the pinned non-ANSI
        // config while DuckDB's len(NULL) is NULL — n_pii would read -4 vs
        // NULL cross-engine. normKey already folds NULL to '' (its own
        // coalesce), so the dedup key is unchanged by the fold and every
        // downstream stage (scrub counts, tokens, quality) sees the same
        // empty document in both engines.
        Tables.documents(s, d)
          .select(col("doc_id"), col("lang"),
            coalesce(col("text"), lit("")).as("text"),
            LlmQueries.normKey(col("text")).as("key"))
          .select(col("doc_id"), col("lang"), col("text"),
            (col("doc_id") === min(col("doc_id")).over(wKey)).as("dedup_keep"))
          .withColumn("n_email",
            size(regexp_extract_all(col("text"), lit(EmailP), lit(0))).cast("bigint"))
          .withColumn("t1", regexp_replace(col("text"), EmailP, "[EMAIL]"))
          .withColumn("n_ip",
            size(regexp_extract_all(col("t1"), lit(IpP), lit(0))).cast("bigint"))
          .withColumn("t2", regexp_replace(col("t1"), IpP, "[IP]"))
          .withColumn("n_ssn",
            size(regexp_extract_all(col("t2"), lit(SsnP), lit(0))).cast("bigint"))
          .withColumn("t3", regexp_replace(col("t2"), SsnP, "[SSN]"))
          .withColumn("n_phone",
            size(regexp_extract_all(col("t3"), lit(PhoneP), lit(0))).cast("bigint"))
          .withColumn("toks",
            toksAll(regexp_replace(col("t3"), PhoneP, "$1[PHONE]")))
          .withColumn("n_pii",
            col("n_email") + col("n_ip") + col("n_ssn") + col("n_phone"))
          .withColumn("quality",
            when(size(col("toks")) > 0,
              (types / n) * 0.4 + (lit(1.0) - stops / n) * 0.3 +
                least(n / 100.0, lit(1.0)) * 0.3))
          // Guarded: sequence(1, size-1) with size < 2 would step DOWN
          // through index 0 (element_at errors at 0); the repetitive
          // branch below never reads bgs for those docs, but the column
          // itself must not evaluate the explode-free bigram lambda on
          // them either.
          .withColumn("bgs", when(size(col("toks")) >= 2, bgs))
          .withColumn("repetitive",
            when(size(col("toks")) < 2, lit(false))
              .otherwise(topFrac(col("bgs")) > 0.08 ||
                topFrac(col("toks")) > 0.12))
          .withColumn("sample_keep", u < rate)
          .select(col("doc_id"),
            when(!col("dedup_keep"), lit("dedup"))
              .when(col("quality").isNull ||
                col("quality") < CurateQualityMin, lit("quality"))
              .when(col("repetitive"), lit("repetition"))
              .when(!col("sample_keep"), lit("sample"))
              .otherwise(lit("kept")).as("drop_stage"),
            col("n_pii"), col("quality"))
          .withColumn("keep", col("drop_stage") === "kept")
          .orderBy(col("doc_id"))
      },
      oracle = Some(s"""
        WITH nk AS (
          SELECT doc_id, lang, coalesce(text, '') AS text,
                 ${LlmQueries.normKeyDuckOn("text")} AS key
          FROM documents),
        dd AS (
          SELECT doc_id, lang, text,
                 doc_id = min(doc_id) OVER (PARTITION BY key) AS dedup_keep
          FROM nk),
        p1 AS (
          SELECT *, CAST(len(regexp_extract_all(text, '$EmailP')) AS BIGINT) AS n_email,
                 regexp_replace(text, '$EmailP', '[EMAIL]', 'g') AS t1
          FROM dd),
        p2 AS (
          SELECT *, CAST(len(regexp_extract_all(t1, '$IpP')) AS BIGINT) AS n_ip,
                 regexp_replace(t1, '$IpP', '[IP]', 'g') AS t2
          FROM p1),
        p3 AS (
          SELECT *, CAST(len(regexp_extract_all(t2, '$SsnP')) AS BIGINT) AS n_ssn,
                 regexp_replace(t2, '$SsnP', '[SSN]', 'g') AS t3
          FROM p2),
        p4 AS (
          SELECT doc_id, lang, dedup_keep, n_email, n_ip, n_ssn,
                 CAST(len(regexp_extract_all(t3, '$PhoneP')) AS BIGINT) AS n_phone,
                 list_filter(string_split(
                   regexp_replace(t3, '$PhoneP', '\\1[PHONE]', 'g'), ' '),
                   x -> x <> '') AS toks
          FROM p3),
        m AS (
          SELECT doc_id, lang, dedup_keep,
                 n_email + n_ip + n_ssn + n_phone AS n_pii,
                 CASE WHEN len(toks) > 0 THEN
                   (CAST(len(list_distinct(toks)) AS DOUBLE)
                      / CAST(len(toks) AS DOUBLE)) * 0.4
                   + (1.0 - CAST(len(list_filter(toks, x -> x IN ('the', 'a'))) AS DOUBLE)
                      / CAST(len(toks) AS DOUBLE)) * 0.3
                   + least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) * 0.3
                 END AS quality,
                 CASE WHEN len(toks) < 2 THEN FALSE ELSE
                   (CAST(list_max(list_transform(list_distinct(
                      list_transform(range(1, len(toks)),
                        i -> toks[i] || ' ' || toks[i+1])),
                      u -> len(list_filter(
                        list_transform(range(1, len(toks)),
                          i -> toks[i] || ' ' || toks[i+1]),
                        x -> x = u)))) AS DOUBLE)
                      / (len(toks) - 1) > 0.08
                    OR CAST(list_max(list_transform(list_distinct(toks),
                      u -> len(list_filter(toks, x -> x = u)))) AS DOUBLE)
                      / len(toks) > 0.12) END AS repetitive
          FROM p4),
        f AS (
          SELECT doc_id, n_pii, quality,
                 CASE WHEN NOT dedup_keep THEN 'dedup'
                      WHEN quality IS NULL OR quality < $CurateQualityMin
                        THEN 'quality'
                      WHEN repetitive THEN 'repetition'
                      WHEN NOT (('0x' || substr(md5('graft-sample-v1:'
                          || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                          / 1152921504606846976.0
                          < (CASE WHEN lang = 'en' THEN 0.5 ELSE 0.2 END))
                        THEN 'sample'
                      ELSE 'kept' END AS drop_stage
          FROM m)
        SELECT doc_id, drop_stage, n_pii, quality,
               drop_stage = 'kept' AS keep
        FROM f
        ORDER BY doc_id""")),

    // H: corpus duplicate-shingle audit (round 18) — for every document,
    // the share of its DISTINCT 3-token shingles that also occur in at
    // least one OTHER document, plus the dup_heavy flag at the
    // DupFracFlag threshold. This is the "how duplicated is my corpus"
    // diagnostic a curation run reads BEFORE choosing dedup thresholds
    // (the per-doc self-corpus twin of llm_contamination's corpus-vs-
    // benchmark overlap): the near-dup rows answer "which pairs/clusters
    // collapse", this row answers "how much of each document's content
    // is corpus-repeated at all".
    //
    // Scale shape: one explode (linear in corpus token count), one
    // (gram) hash agg for document frequency — u is already
    // doc-distinct, so count(*) IS count(distinct doc) with map-side
    // partial agg intact — one gram-keyed shuffle join back, one
    // (doc_id) hash agg. All four stages linear; the gram-frequency
    // side is CORPUS-scale (vocabulary of shingles), so it must
    // shuffle-join, never broadcast — same contract as
    // llm_dedup_incremental's index side (pinned under
    // auto-broadcast-off in PlanAuditSpec).
    Q(
      "llm_dupgram_fraction",
      (s, d) => {
        // Persisted (round-18 review): u feeds BOTH the df aggregation
        // and the probe side of the join back — without the persist the
        // corpus scan + 3-gram explode run twice (the containment
        // `ranked` persist's exact argument). Corpus-gram-scale rows,
        // MEMORY_AND_DISK by default, released by Cleanup with the other
        // corpus intermediates.
        // spread (round 22, profiled): the shingle explode into the cache
        // ran as one 780 ms task on the narrow fixture scan.
        val u = Tables.spread(s,
            Tables.documents(s, d).select(col("doc_id"), col("text")),
            col("doc_id"))
          .select(col("doc_id"), toksAll(col("text")).as("toks"))
          .where(size(col("toks")) >= 3)
          .select(col("doc_id"), explode(array_distinct(
            expr("transform(sequence(1, size(toks) - 2), " +
              "i -> array_join(slice(toks, i, 3), ' '))"))).as("gram"))
          .persist()
        val df = u.groupBy(col("gram")).agg(count(lit(1)).as("gdf"))
        val frac = col("n_dup").cast("double") /
          col("n_grams").cast("double")
        u.join(df, "gram")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_grams"),
            sum(when(col("gdf") >= 2, 1L).otherwise(0L)).as("n_dup"))
          .select(col("doc_id"), col("n_grams"), col("n_dup"),
            frac.as("dup_frac"),
            (frac >= DupFracFlag).as("dup_heavy"))
          .orderBy(col("doc_id"))
      },
      oracle = Some(s"""
        WITH t AS (
          SELECT doc_id, $toksAllDuck AS toks FROM documents),
        u AS (
          SELECT doc_id, unnest(list_distinct(list_transform(
                   range(1, len(toks) - 1),
                   i -> array_to_string(toks[i:i+2], ' ')))) AS gram
          FROM t WHERE len(toks) >= 3),
        df AS (SELECT gram, count(*) AS gdf FROM u GROUP BY gram),
        per AS (
          SELECT u.doc_id,
                 count(*) AS n_grams,
                 CAST(sum(CASE WHEN df.gdf >= 2 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_dup
          FROM u JOIN df USING (gram) GROUP BY u.doc_id)
        SELECT doc_id, n_grams, n_dup,
               CAST(n_dup AS DOUBLE) / CAST(n_grams AS DOUBLE) AS dup_frac,
               CAST(n_dup AS DOUBLE) / CAST(n_grams AS DOUBLE)
                 >= $DupFracFlag AS dup_heavy
        FROM per
        ORDER BY doc_id""")),

    // H (round 19): DUPLICATED-SPAN AUDIT — the token-POSITION quantity
    // behind exact-substring dedup (Lee et al. 2022, "Deduplicating
    // Training Data Makes Language Models Better": remove every span
    // that occurs verbatim elsewhere in the corpus), at k-gram
    // granularity (k = 5, their 50-token threshold scaled to the
    // fixture's short docs): per document, how many token positions sit
    // inside at least one 5-gram whose corpus OCCURRENCE count is ≥ 2 —
    // within-doc repeats count, exactly as a suffix array would see
    // them. This is deliberately NOT llm_dupgram_fraction: that row
    // counts distinct shingle TYPES shared with other docs (the
    // corpus-duplication diagnostic); this one measures the COVERED
    // POSITIONS a span-removal pass would actually cut, via the interval
    // union (a position under three overlapping dup grams counts once).
    //
    // Scale shape: one positional 5-gram explode (corpus-linear), one
    // (gram) hash agg with map-side partials, the dup-gram set reduced
    // BEFORE the join back (HAVING ≥ 2 — typically a small fraction of
    // the vocabulary), gram-keyed SHUFFLE join (the frequency side is
    // corpus-vocabulary-scale, never broadcast — pinned), a ≤5× offset
    // expansion of dup positions only, and one count_distinct(doc, pos)
    // agg whose partials dedup map-side. One row per doc out via the
    // left join back to the linear token-count side.
    Q(
      "llm_dedup_spans",
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("doc_id"), toksAll(col("text")).as("tk"))
        val g = toks
          .select(col("doc_id"), explode(expr(
            """if(size(tk) < 5, array(),
              |   transform(sequence(1, size(tk) - 4),
              |     i -> struct(i AS pos,
              |                 array_join(slice(tk, i, 5), ' ') AS gram)))"""
              .stripMargin)).as("pg"))
          .select(col("doc_id"), col("pg.pos").as("pos"),
            col("pg.gram").as("gram"))
          .persist()
        val dups = g.groupBy(col("gram"))
          .agg(count(lit(1)).as("n")).where(col("n") >= 2)
          .select(col("gram"))
        val cov = g.join(dups, "gram")
          .select(col("doc_id"),
            explode(sequence(col("pos"), col("pos") + 4)).as("p"))
          .groupBy(col("doc_id"))
          .agg(count_distinct(col("p")).as("n_dup_tokens"))
        val nTok = when(col("tk").isNull, 0L)
          .otherwise(size(col("tk")).cast("bigint"))
        toks.join(cov, Seq("doc_id"), "left")
          .select(col("doc_id"), nTok.as("n_tokens"),
            coalesce(col("n_dup_tokens"), lit(0L)).as("n_dup_tokens"))
          .select(col("doc_id"), col("n_tokens"), col("n_dup_tokens"),
            when(col("n_tokens") > 0,
              col("n_dup_tokens").cast("double") / col("n_tokens"))
              .as("dup_span_frac"))
          .orderBy(col("doc_id"))
      },
      oracle = Some(s"""
        WITH t AS (
          SELECT doc_id, $toksAllDuck AS tk FROM documents),
        g AS (
          SELECT doc_id, i AS pos, array_to_string(tk[i:i+4], ' ') AS gram
          FROM (SELECT doc_id, tk,
                       CAST(unnest(range(1, len(tk) - 3)) AS INTEGER) AS i
                FROM t WHERE len(tk) >= 5)),
        dups AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
        cov AS (
          SELECT g.doc_id, count(DISTINCT g.pos + o.o) AS n_dup_tokens
          FROM g JOIN dups USING (gram), (SELECT unnest(range(5)) AS o) o
          GROUP BY g.doc_id)
        SELECT t.doc_id,
               CAST(coalesce(len(t.tk), 0) AS BIGINT) AS n_tokens,
               CAST(coalesce(c.n_dup_tokens, 0) AS BIGINT) AS n_dup_tokens,
               CASE WHEN coalesce(len(t.tk), 0) > 0
                 THEN CAST(coalesce(c.n_dup_tokens, 0) AS DOUBLE)
                      / len(t.tk)
                 ELSE NULL END AS dup_span_frac
        FROM t LEFT JOIN cov c USING (doc_id)
        ORDER BY t.doc_id""")),

    // H: bigram LM training (round 18) — the count half of a CCNet/
    // KenLM-style fluency filter: corpus bigram transition counts with
    // Laplace smoothing, P(w2|w1) = (c12 + 1)/(c1 + V) where c1 is w1's
    // total successor count and V the successor vocabulary — all exact
    // BIGINT counts with ONE double division (the tfidf/unigram
    // discipline: no log, so the row stays hash-verifiable; ranking and
    // thresholding are monotone in the rational form). Output: the
    // top-20 transitions by raw count — the model head a quality run
    // inspects first. Machinery shared VERBATIM with the apply row via
    // bigramLm (the hierCellsSql discipline: the smoothing cannot fork
    // between train and apply), same for the oracle's CTE chain.
    //
    // Scale shape: one explode (linear in corpus tokens), one (w1, w2)
    // hash agg with map-side partials, one (w1) re-agg of the REDUCED
    // bigram table, one scalar V row broadcast (V = countDistinct(w2)
    // over c12, NOT over the raw transitions — identical value from the
    // vocab²-bounded table, one corpus pass saved); top-20 as
    // TakeOrderedAndProject heaps. No corpus-scale join anywhere.
    Q(
      "llm_bigram_lm",
      (s, d) => {
        val (_, lm) = bigramLm(s, d)
        lm.orderBy(col("c12").desc, col("w1"), col("w2"))
          .limit(20)
      },
      oracle = Some(s"""
        WITH $bigramLmSql
        SELECT w1, w2, c12, c1, prob
        FROM lm
        ORDER BY c12 DESC, w1, w2
        LIMIT 20""")),

    // H: bigram fluency scoring (round 18) — the APPLY half of the
    // CCNet-style filter trained by llm_bigram_lm (the model is the
    // shared bigramLm table — verbatim-shared machinery, so the
    // smoothing cannot fork between train and apply): per document the
    // rare-transition share (smoothed P < TransRareP) and the minimum
    // transition probability, with a disfluency flag at RareFracFlag.
    // The hash-safety design: a per-doc MEAN of smoothed probabilities
    // would sum doubles with varying denominators across a shuffle
    // (partition-order-dependent — could never hash-match), so the
    // score is built only from order-insensitive-exact reductions:
    // per-transition P is one fixed-order expression, rare counting is
    // BIGINT, the share is ONE division, and min() on doubles is
    // comparison-only (no rounding). The weakest-link min and the rare
    // share are exactly the signals a fluency filter thresholds on.
    //
    // Scale shape: the bigram table is VOCABULARY²-scale — corpus-bound
    // at web scale, so transitions ⋈ table is a SHUFFLE join on
    // (w1, w2), never broadcast (the tfidf anti-pattern argument,
    // pinned under auto-broadcast-off); c12 ⋈ c1 joins two reduced
    // vocab tables; the scalar V row broadcasts; one (doc_id) hash agg
    // closes. All stages linear in corpus transitions.
    Q(
      "llm_bigram_score",
      (s, d) => {
        val (tr, lm) = bigramLm(s, d)
        tr.join(lm.select(col("w1"), col("w2"), col("prob")),
            Seq("w1", "w2"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_trans"),
            sum(when(col("prob") < TransRareP, 1L).otherwise(0L))
              .as("n_rare"),
            min(col("prob")).as("min_p"))
          .select(col("doc_id"), col("n_trans"), col("n_rare"),
            (col("n_rare").cast("double") / col("n_trans").cast("double"))
              .as("rare_frac"),
            col("min_p"),
            (col("n_rare").cast("double") / col("n_trans").cast("double")
              > RareFracFlag).as("disfluent"))
          .orderBy(col("doc_id"))
      },
      oracle = Some(s"""
        WITH $bigramLmSql,
        per AS (
          SELECT e.doc_id,
                 count(*) AS n_trans,
                 CAST(sum(CASE WHEN lm.prob < $TransRareP THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_rare,
                 min(lm.prob) AS min_p
          FROM e JOIN lm USING (w1, w2) GROUP BY e.doc_id)
        SELECT doc_id, n_trans, n_rare,
               CAST(n_rare AS DOUBLE) / CAST(n_trans AS DOUBLE) AS rare_frac,
               min_p,
               CAST(n_rare AS DOUBLE) / CAST(n_trans AS DOUBLE)
                 > $RareFracFlag AS disfluent
        FROM per
        ORDER BY doc_id""")),

    // H: BM25 retrieval (round 18) — rank the corpus against a literal
    // 3-term query and keep the top-10, the classic lexical-search
    // primitive (and the retrieval half of contamination/quality
    // tooling: "which training docs look most like this probe"). The
    // idf is BM25's (N - df + ½)/(df + ½) WITHOUT the log wrapper —
    // the llm_tfidf_topk/llm_unigram_score discipline: ln() differs
    // from DuckDB libm in the last ulp, while this rational form is one
    // fixed-order double expression over exact BIGINT counts, so the
    // row stays hash-verifiable; the log is monotone in the rational
    // idf for df < N/2 (every discriminative term), so top-k order is
    // the production order wherever ranking is decided by idf. Query
    // terms (dup/vector/batch) span the fixture's df range 25/382/402
    // of 500 — the rare term dominates exactly as BM25 intends.
    //
    // Scale shape: per-doc tf/dl are map-side lambdas (no explode, no
    // per-term join); the corpus stats (N, Σdl, per-term df) are ONE
    // scalar aggregation broadcast back as a single row (the
    // llm_mix_weights argument); top-10 plans as TakeOrderedAndProject
    // heaps. Two corpus scans, zero shuffle joins at any corpus size.
    Q(
      "llm_bm25_search",
      (s, d) => {
        val terms = Seq("dup", "vector", "batch")
        // NULL text folds to '' (round 18 review): size(toksAll(NULL)) is
        // -1 under the pinned non-ANSI config and would enter Σdl, while
        // DuckDB's sum skips NULL — one NULL doc would shift avgdl and
        // hash-poison EVERY document's score. '' scores dl = 0, tf = 0 in
        // both engines.
        val toks = toksAll(coalesce(col("text"), lit("")))
        val t = Tables.documents(s, d)
          .select(col("doc_id") +: size(toks).cast("bigint").as("dl") +:
            terms.zipWithIndex.map { case (w, i) =>
              size(filter(toks, x => x === w)).cast("bigint").as(s"tf$i")
            }: _*)
        val aggs = sum(col("dl")).as("sumdl") +:
          terms.indices.map(i =>
            sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))
        val stats = t.agg(count(lit(1)).as("n"), aggs: _*)
        val nD = col("n").cast("double")
        val avgdl = col("sumdl").cast("double") / nD
        def w(i: Int): Column = {
          val tf = col(s"tf$i").cast("double")
          val df = col(s"df$i").cast("double")
          val idf = (nD - df + lit(0.5)) / (df + lit(0.5))
          idf * (tf * lit(2.2)) / (tf + lit(1.2) *
            (lit(0.25) + lit(0.75) * (col("dl").cast("double") / avgdl)))
        }
        t.crossJoin(broadcast(stats))
          .select(col("doc_id"), col("dl"),
            (w(0) + w(1) + w(2)).as("score"))
          .orderBy(col("score").desc, col("doc_id"))
          .limit(10)
      },
      oracle = Some(s"""
        WITH t AS (
          SELECT doc_id,
                 len($toksAllDuck) AS dl,
                 len(list_filter($toksAllDuck, x -> x = 'dup')) AS tf0,
                 len(list_filter($toksAllDuck, x -> x = 'vector')) AS tf1,
                 len(list_filter($toksAllDuck, x -> x = 'batch')) AS tf2
          FROM (SELECT doc_id, coalesce(text, '') AS text FROM documents)),
        s AS (
          SELECT count(*) AS n, sum(dl) AS sumdl,
                 sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
                 sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
                 sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
          FROM t)
        SELECT doc_id, dl,
               (CAST(n AS DOUBLE) - CAST(df0 AS DOUBLE) + 0.5)
                 / (CAST(df0 AS DOUBLE) + 0.5)
                 * (CAST(tf0 AS DOUBLE) * 2.2)
                 / (CAST(tf0 AS DOUBLE) + 1.2 * (0.25 + 0.75
                     * (CAST(dl AS DOUBLE)
                        / (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE)))))
               + (CAST(n AS DOUBLE) - CAST(df1 AS DOUBLE) + 0.5)
                 / (CAST(df1 AS DOUBLE) + 0.5)
                 * (CAST(tf1 AS DOUBLE) * 2.2)
                 / (CAST(tf1 AS DOUBLE) + 1.2 * (0.25 + 0.75
                     * (CAST(dl AS DOUBLE)
                        / (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE)))))
               + (CAST(n AS DOUBLE) - CAST(df2 AS DOUBLE) + 0.5)
                 / (CAST(df2 AS DOUBLE) + 0.5)
                 * (CAST(tf2 AS DOUBLE) * 2.2)
                 / (CAST(tf2 AS DOUBLE) + 1.2 * (0.25 + 0.75
                     * (CAST(dl AS DOUBLE)
                        / (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE)))))
               AS score
        FROM t, s
        ORDER BY score DESC, doc_id
        LIMIT 10""")),

    // H (round 18, second session): COUNT-MIN FREQUENCY SKETCH — the
    // third sketch family member (HLL cardinality ✅, GK percentiles ✅,
    // CMS point frequency ← this row): estimate any token's corpus
    // frequency from a d×w counter matrix instead of a vocab-sized
    // hashmap — THE memory lever when the key space outgrows executor
    // memory (URLs, n-grams, user ids at 100 TB). d=4 salted md5 rows ×
    // w=16 buckets here (honest miniature of the production 4×2¹⁶ shape
    // against the fixture's 31-token vocabulary, so bucket collisions
    // genuinely occur and the min-over-rows recovery is exercised).
    //
    // Unlike HLL/GK, CMS is DETERMINISTIC ADDITIVE ARITHMETIC — counter
    // merges commute — so this sketch row is fully DuckDB-hash-verified
    // like an exact query (the other two are tolerance-tested by
    // necessity, not choice). Probes: five in-vocabulary tokens spanning
    // the frequency range + one absent token (its estimate is pure
    // collision mass — the one-sided-error surface). CmsSoundnessSpec
    // pins est ≥ exact per probe and the ε-bound on the overshoot.
    //
    // Scale shape: one corpus-linear explode ×d (map-only arithmetic),
    // ONE hash agg to the d·w-bounded cell table; the probe side is a
    // literal-bounded join against the broadcast-scale cells. No
    // vocab-sized state anywhere — that is the point.
    Q(
      "llm_freq_sketch",
      (s, d) => {
        val cells = Tables.documents(s, d)
          .select(explode(filter(split(lower(col("text")), " "),
            t => t =!= "")).as("t"))
          .select(col("t"),
            explode(sequence(lit(0L), lit((CmsD - 1).toLong))).as("i"))
          .select(col("i"), cmsBucket(col("i"), col("t")).as("b"))
          .groupBy(col("i"), col("b")).agg(count(lit(1)).as("c"))
        val probes = s.range(1)
          .select(explode(array(CmsProbes.map(lit): _*)).as("token"))
          .select(col("token"),
            explode(sequence(lit(0L), lit((CmsD - 1).toLong))).as("i"))
          .select(col("token"), col("i"),
            cmsBucket(col("i"), col("token")).as("b"))
        probes.join(cells, Seq("i", "b"), "left")
          .groupBy(col("token"))
          .agg(min(coalesce(col("c"), lit(0L))).as("est_freq"))
          .orderBy(col("token"))
      },
      oracle = Some(s"""
        WITH toks AS (
          SELECT unnest(list_filter(string_split(lower(text), ' '),
                   x -> x <> '')) AS t
          FROM documents),
        cells AS (
          SELECT s.i,
                 ('0x' || substr(md5('cms-' || CAST(s.i AS VARCHAR)
                    || ':' || toks.t), 1, 15))::BIGINT % $CmsW AS b,
                 count(*) AS c
          FROM toks, (SELECT unnest(range($CmsD)) AS i) s(i)
          GROUP BY 1, 2),
        pe AS (
          SELECT p.token, s.i,
                 ('0x' || substr(md5('cms-' || CAST(s.i AS VARCHAR)
                    || ':' || p.token), 1, 15))::BIGINT % $CmsW AS b
          FROM (SELECT unnest([${CmsProbes.map("'" + _ + "'").mkString(", ")}])
                  AS token) p,
               (SELECT unnest(range($CmsD)) AS i) s(i))
        SELECT pe.token,
               CAST(min(coalesce(cells.c, 0)) AS BIGINT) AS est_freq
        FROM pe LEFT JOIN cells ON cells.i = pe.i AND cells.b = pe.b
        GROUP BY pe.token
        ORDER BY pe.token""")),

    // H (round 18, second session): ROBUST LENGTH-OUTLIER FILTER — the
    // per-language percentile trim every curation pipeline applies before
    // the content heuristics: a doc whose length falls outside its
    // LANGUAGE's [p05, p95] band is flagged (absolute thresholds misfire
    // across languages — CJK chars carry ~2.5× the information of Latin
    // ones, so per-lang quantiles are the robust, distribution-free
    // form; Tukey's 1.5·IQR fences were considered and rejected — on
    // short-tailed length distributions they never fire, making the flag
    // output-neutral, while the percentile trim flags its tail mass by
    // construction). Quantiles ride agg_percentile's PROVEN counts-table
    // interpolation (0-based rank/frac, bit-identical to DuckDB
    // quantile_cont); the band comparison is the same fixed-order IEEE
    // expression on both engines. One row per doc with the flag — the
    // keep-list contract.
    //
    // Scale shape: the counts table collapses the corpus map-side to
    // |distinct (lang, len)| rows; the window runs over THAT, not raw
    // docs; the per-lang bounds table is #langs rows (index-scale,
    // broadcast); the flag join is map-side. Two linear corpus scans,
    // zero corpus-scale shuffles beyond the counts agg.
    Q(
      "llm_outlier_docs",
      (s, d) => {
        Tables.documents(s, d).createOrReplaceTempView("docs_outlier")
        s.sql(TextQueries.outlierSql)
      },
      oracle = Some("""
        WITH b AS (
          SELECT lang,
                 quantile_cont(CAST(n_chars AS DOUBLE), 0.05) AS p05,
                 quantile_cont(CAST(n_chars AS DOUBLE), 0.95) AS p95
          -- The NOT NULL filter mirrors the Spark counts CTE exactly: a
          -- lang whose docs ALL have NULL n_chars gets no bounds row in
          -- EITHER engine, so the inner join drops its docs consistently
          -- (r18 ADVICE: without it DuckDB kept the group with NULL
          -- quantiles while Spark dropped it). quantile_cont already
          -- ignores NULLs, so mixed-NULL langs are unaffected.
          FROM documents WHERE n_chars IS NOT NULL GROUP BY lang)
        SELECT d.doc_id, d.lang, d.n_chars,
               (CAST(d.n_chars AS DOUBLE) < b.p05
                OR CAST(d.n_chars AS DOUBLE) > b.p95) AS outlier
        FROM documents d JOIN b USING (lang)
        ORDER BY d.doc_id""")),

    // H (round 18, second session): BPE MERGE TRAINING — the first
    // iteration of byte-pair-encoding tokenizer training (Sennrich et al.
    // 2016; the algorithm behind GPT-2/RoBERTa vocabularies): count
    // adjacent symbol pairs over the corpus and rank merge candidates.
    // The trainable-at-scale trick is HISTOGRAM WEIGHTING — pairs are
    // enumerated once per DISTINCT word and weighted by the word's corpus
    // frequency, so after the first (linear, map-side-partial) word agg,
    // every downstream stage is VOCAB-bound, not corpus-bound: the pair
    // enumeration touches Σ|distinct word| characters, the pair agg state
    // is alphabet²-bound, and the top-20 plans as TakeOrderedAndProject
    // heaps. One corpus-scale shuffle total. Production iterates this row
    // with the winning pair merged into the symbol table; each iteration
    // is this same vocab-bound shape.
    //
    // The pair enumeration guards 0/1-char words explicitly: Spark's
    // sequence(1, 0) is a DESCENDING sequence (not empty!), so the
    // transform sits behind an if(length < 2) — DuckDB's range(1, 1) is
    // genuinely empty and needs no guard.
    Q(
      "llm_bpe_merges",
      (s, d) => {
        val words = Tables.documents(s, d)
          .select(explode(filter(split(lower(col("text")), " "),
            t => t =!= "")).as("w"))
          .groupBy(col("w")).agg(count(lit(1)).as("n"))
        words
          .select(col("n"), explode(expr(
            """if(length(w) < 2, array(),
              |   transform(sequence(1, length(w) - 1),
              |     i -> struct(substring(w, i, 1) AS a,
              |                 substring(w, i + 1, 1) AS b)))"""
              .stripMargin)).as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum(col("n")).cast("bigint").as("cnt"))
          .orderBy(col("cnt").desc, col("a"), col("b"))
          .limit(20)
      },
      oracle = Some("""
        WITH w AS (
          SELECT w, count(*) AS n FROM (
            SELECT unnest(list_filter(string_split(lower(text), ' '),
                     t -> t <> '')) AS w
            FROM documents) GROUP BY w),
        -- scalar range() + select-list unnest: DuckDB's range TABLE
        -- function rejects lateral column parameters.
        p AS (
          SELECT substr(w, i, 1) AS a, substr(w, i + 1, 1) AS b, n
          FROM (
            SELECT w.w AS w, w.n AS n,
                   CAST(unnest(range(1, length(w.w))) AS INTEGER) AS i
            FROM w))
        SELECT a, b, CAST(sum(n) AS BIGINT) AS cnt
        FROM p GROUP BY a, b
        ORDER BY cnt DESC, a, b
        LIMIT 20""")),

    // H (round 19): BPE MERGE APPLICATION — the apply half of the
    // llm_bpe_merges train/apply pair (the bigram-LM precedent): tokenize
    // the corpus WITH the trained merge table. Each merge (a, b), taken
    // in rank order (cnt DESC, a, b), is one greedy left-to-right
    // non-overlapping pass over every word's symbol sequence — exactly
    // the fast-apply every deployed BPE tokenizer runs (Sennrich et al.
    // 2016 §3; the trained artifact is a RANKED list precisely so apply
    // never re-counts). Output per document: pre-BPE symbol count
    // (chars), post-merge token count, and chars-per-token compression.
    //
    // The hash-verifiable trick is the SEPARATOR-STRING encoding: a word
    // becomes "\1\1c1\1\1c2\1\1...\1\1" (every symbol flanked by a DOUBLE
    // \x01), and applying merge (a,b) is one replace() of "\1a\1\1b\1"
    // with "\1ab\1" — string replace is left-to-right non-overlapping in
    // BOTH engines, which IS greedy BPE pass semantics, and the shared
    // boundary separator keeps consecutive matches adjacent ("abab" →
    // [ab, ab], verified) while the flanking \1s stop a pattern from
    // matching inside a previously merged 2-char symbol ("xa b" never
    // matches "a b"). The fold over the 20 ranked merges is Spark
    // `aggregate` / DuckDB `list_reduce` (init smuggled as the prepended
    // first element — DuckDB 1.0 list_reduce has no init parameter).
    // Token counts read back off the separators: #"\1"/2 − 1. Corpus
    // text never contains \x01/\x02 (driver fixture + fuzz contract).
    //
    // Scale shape: the merge table is ≤ alphabet² rows collapsed to ONE
    // array row — broadcast BY CONSTRUCTION at any corpus size; apply is
    // a map-only per-doc lambda over the broadcast-joined corpus scan (a
    // production tokenizer would additionally cache per DISTINCT word —
    // the llm_bpe_merges histogram trick — at the price of two more
    // corpus shuffles; the map-only form keeps the plan join-free past
    // the broadcast). Training's own stages are vocab-bound after its
    // one word-histogram exchange, unchanged from llm_bpe_merges.
    Q(
      "llm_bpe_apply",
      (s, d) => {
        Tables.documents(s, d)
          .crossJoin(broadcast(bpeMergeArray(s, d)))
          .withColumn("ws", expr(
            """transform(filter(split(lower(text), ' '), t -> t <> ''),
              |  w -> concat(char(1), char(1),
              |         array_join(transform(sequence(1, length(w)),
              |             i -> substring(w, i, 1)),
              |           concat(char(1), char(1))),
              |         char(1), char(1)))""".stripMargin))
          .withColumn("es", expr(
            """transform(ws, s0 -> aggregate(ml, s0,
              |  (acc, m) -> replace(acc,
              |     concat(char(1), m.a, char(1), char(1), m.b, char(1)),
              |     concat(char(1), m.a, m.b, char(1)))))""".stripMargin))
          .select(col("doc_id"),
            expr("""coalesce(aggregate(ws, 0L, (acc1, s1) ->
                   |  acc1 + ((length(s1) - length(replace(s1, char(1), '')))
                   |          div 2) - 1), 0L)""".stripMargin)
              .as("n_sym_before"),
            expr("""coalesce(aggregate(es, 0L, (acc2, s2) ->
                   |  acc2 + ((length(s2) - length(replace(s2, char(1), '')))
                   |          div 2) - 1), 0L)""".stripMargin)
              .as("n_tokens"))
          .select(col("doc_id"), col("n_sym_before"), col("n_tokens"),
            when(col("n_tokens") > 0,
              col("n_sym_before").cast("double") / col("n_tokens"))
              .as("chars_per_tok"))
          .orderBy(col("doc_id"))
      },
      oracle = Some(bpeApplyOracleSql)),

    // H (round 20): VOCAB-CACHED BPE APPLICATION — the production
    // tokenizer form of llm_bpe_apply at 100 TB: the greedy merge fold
    // runs once per DISTINCT word (the llm_bpe_merges histogram trick —
    // at web scale words repeat heavily, Zipf, so the fold work drops
    // from per-OCCURRENCE to per-VOCAB-ENTRY), and per-word token counts
    // join back to the (doc, word) occurrence table. The trade vs the
    // map-only row: the fold shrinks by the corpus/vocab ratio, but the
    // plan pays corpus shuffles the map-only form never does — the
    // (doc_id, word) histogram exchange, the vocab join-back on word
    // (SHUFFLE by contract: a web-scale vocabulary is corpus-derived and
    // unbounded, pinned under threshold=-1), and the per-doc re-agg.
    // Same output contract and the IDENTICAL oracle SQL as
    // llm_bpe_apply — the shared bpeMergeArray + bpeApplyOracleSql make
    // divergence impossible, and hash-equality of the two rows is
    // checked at all three gate SFs.
    //
    // A/B wall (TimeQuery, 3-run medians): sf0.1 map-only 1.20 s vs
    // cached 0.83 s; 100× staged (500k docs) map-only 18.3 s vs cached
    // 18.5 s — a wash on THIS fixture, whose 31-word vocabulary makes
    // the per-word fold trivial on both paths, so the A/B prices the
    // shuffle tax against the fold alone [MEASURED r20]. The production
    // argument is structural, not fixture-local: fold work is
    // per-OCCURRENCE in the map-only form and per-DISTINCT-WORD here, so
    // at a real corpus's Zipf vocab/occurrence ratio (and a real ~50k
    // merge table, 2500× this fixture's fold depth) the cached form's
    // advantage scales with corpus size while its shuffle tax stays one
    // exchange of (doc_id, word) pairs.
    Q(
      "llm_bpe_apply_cached",
      (s, d) => {
        val docWordCounts = Tables.documents(s, d)
          .select(col("doc_id"),
            // explode_outer keeps word-less docs (empty/whitespace/NULL
            // text) as a NULL-word row so they reach the output with the
            // coalesce-to-0 counts, like the map-only row's coalesce.
            explode_outer(filter(split(lower(col("text")), " "),
              t => t =!= "")).as("w"))
          .groupBy(col("doc_id"), col("w"))
          .agg(count(lit(1)).as("n_occ"))
        val wordToks = bpeWordTokens(s, d,
          docWordCounts.select(col("w")).where(col("w").isNotNull).distinct())
        docWordCounts
          .join(wordToks, Seq("w"), "left_outer")
          .groupBy(col("doc_id"))
          .agg(sum(coalesce(col("n_occ") * col("w_sym"), lit(0L)))
              .cast("long").as("n_sym_before"),
            sum(coalesce(col("n_occ") * col("w_tok"), lit(0L)))
              .cast("long").as("n_tokens"))
          .select(col("doc_id"), col("n_sym_before"), col("n_tokens"),
            when(col("n_tokens") > 0,
              col("n_sym_before").cast("double") / col("n_tokens"))
              .as("chars_per_tok"))
          .orderBy(col("doc_id"))
      },
      oracle = Some(bpeApplyOracleSql)),

    // H (round 20): TOKENIZER FERTILITY BY LANGUAGE — the multilingual
    // training-mix diagnostic (tokens emitted per whitespace word, and
    // chars per token) computed against the trained BPE merge table: a
    // language the tokenizer fragments (high fertility) costs
    // proportionally more sequence length per word of text, which is what
    // data-mixing weights correct for. Composes the shared bpeWordTokens
    // fold (llm_bpe_apply_cached's vocab-cached stage — single-sourced so
    // the rows cannot drift) with a per-(lang, word) occurrence histogram
    // and a per-lang doc count.
    //
    // Scale shape: the (lang, word) histogram is ONE corpus exchange with
    // map-side partial agg (output vocab×lang-bound); the fold runs once
    // per DISTINCT word against the broadcast 1-row merge array; the
    // occ ⋈ word-tokens join is vocab-bound on BOTH sides and SHUFFLES by
    // contract (a web-scale vocabulary is corpus-derived — the
    // llm_bpe_apply_cached discipline, pinned under threshold=-1); the
    // doc-count side is a second corpus scan reduced to |langs| rows.
    // Output is |langs| rows — answer-bound. The lang join is null-safe
    // (<=> / IS NOT DISTINCT FROM) so a NULL-lang stratum survives both
    // engines identically.
    Q(
      "llm_tokenizer_fertility",
      (s, d) => {
        // spread (round 22): parallelize the tokenize/explode map work
        // over the narrow fixture scan (profiled single-task stages).
        val occ = Tables.spread(s, Tables.documents(s, d)
            .select(col("doc_id"), col("lang"), col("text")), col("doc_id"))
          .select(col("lang"),
            explode(filter(split(lower(col("text")), " "),
              t => t =!= "")).as("w"))
          .groupBy(col("lang"), col("w"))
          .agg(count(lit(1)).as("n_occ"))
        val toks = bpeWordTokens(s, d, occ.select(col("w")).distinct())
        val wordAgg = occ.join(toks, Seq("w"))
          .groupBy(col("lang"))
          .agg(sum(col("n_occ")).cast("long").as("n_words"),
            sum(col("n_occ") * col("w_sym")).cast("long").as("n_sym"),
            sum(col("n_occ") * col("w_tok")).cast("long").as("n_tokens"))
        val docAgg = Tables.documents(s, d)
          .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
        val nw = coalesce(col("n_words"), lit(0L))
        val ns = coalesce(col("n_sym"), lit(0L))
        val nt = coalesce(col("n_tokens"), lit(0L))
        docAgg.join(wordAgg, docAgg("lang") <=> wordAgg("lang"), "left_outer")
          .select(docAgg("lang"), col("n_docs"),
            nw.as("n_words"), ns.as("n_sym"), nt.as("n_tokens"),
            when(nw > 0, nt.cast("double") / nw).as("fertility"),
            when(nt > 0, ns.cast("double") / nt).as("chars_per_tok"))
          .orderBy(docAgg("lang"))
      },
      oracle = Some(s"""
        WITH $bpeMergeCtes,
        occ AS (
          SELECT lang, w, count(*) AS n_occ FROM (
            SELECT lang,
                   unnest(list_filter(string_split(lower(text), ' '),
                     t -> t <> '')) AS w
            FROM documents)
          GROUP BY lang, w),
        dw AS (SELECT DISTINCT w FROM occ),
        wt AS (
          SELECT w, CAST(length(w) AS BIGINT) AS w_sym,
                 CAST((length(folded) - length(replace(folded, chr(1), '')))
                      // 2 - 1 AS BIGINT) AS w_tok
          FROM (
            SELECT dw.w,
                   list_reduce(list_prepend(
                       chr(1) || chr(1) || array_to_string(list_transform(
                           range(1, length(dw.w) + 1), i -> substr(dw.w, i, 1)),
                         chr(1) || chr(1)) || chr(1) || chr(1),
                       ml.merges),
                     (acc, e) -> replace(acc, split_part(e, chr(2), 1),
                                         split_part(e, chr(2), 2))) AS folded
            FROM dw CROSS JOIN ml)),
        wa AS (
          SELECT lang,
                 CAST(sum(n_occ) AS BIGINT) AS n_words,
                 CAST(sum(n_occ * w_sym) AS BIGINT) AS n_sym,
                 CAST(sum(n_occ * w_tok) AS BIGINT) AS n_tokens
          FROM occ JOIN wt USING (w) GROUP BY lang),
        da AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang)
        SELECT da.lang, da.n_docs,
               coalesce(wa.n_words, 0) AS n_words,
               coalesce(wa.n_sym, 0) AS n_sym,
               coalesce(wa.n_tokens, 0) AS n_tokens,
               CASE WHEN coalesce(wa.n_words, 0) > 0
                    THEN CAST(coalesce(wa.n_tokens, 0) AS DOUBLE)
                         / coalesce(wa.n_words, 0) END AS fertility,
               CASE WHEN coalesce(wa.n_tokens, 0) > 0
                    THEN CAST(coalesce(wa.n_sym, 0) AS DOUBLE)
                         / coalesce(wa.n_tokens, 0) END AS chars_per_tok
        FROM da LEFT JOIN wa ON da.lang IS NOT DISTINCT FROM wa.lang
        ORDER BY da.lang NULLS FIRST""")),

    // H: deterministic train/valid/test split assignment (round 18) —
    // the last step of every curation pipeline before tokenization:
    // every document lands in exactly one of train/valid/test at 90/5/5
    // by the salted-md5 uniform key (llm_sample_stratified's exact
    // idiom — NOT rand(): task retries keep the same assignment, reruns
    // reproduce bit-for-bit, adding documents never moves an existing
    // one between splits, and the DuckDB oracle agrees exactly).
    //
    // Scale shape: map-only, ZERO shuffles at any corpus size (the
    // oracle-ordering Exchange aside) — the split is a pure per-row
    // function of doc_id.
    Q(
      "llm_split_assign",
      (s, d) => {
        Tables.documents(s, d)
          .select(col("doc_id"), splitOf(col("doc_id")).as("split"))
          .orderBy(col("doc_id"))
      },
      oracle = Some(s"""
        SELECT doc_id,
               $splitOfDuck AS split
        FROM documents
        ORDER BY doc_id""")),

    // H (round 18, second session): CROSS-SPLIT LEAKAGE AUDIT — the
    // decontamination check every training run performs AFTER splitting:
    // an eval (valid/test) document whose normalized text also appears in
    // train is leaked — its eval loss measures memorization, not
    // generalization (the split-internal twin of llm_contamination's
    // external-benchmark check). Composes llm_split_assign's
    // deterministic salted-md5 split with llm_dedup_norm's canonical key
    // (both via the SHARED helpers, so the three rows cannot drift);
    // output is one row per LEAKED eval doc with its split, the smallest
    // train doc_id sharing the key (the attribution a cleanup job
    // deletes or re-splits by), and the train-side multiplicity.
    //
    // Scale shape: both sides are map-only corpus projections; the train
    // side reduces to ONE row per key (map-side partial agg) before the
    // join; the key join is a hash-shuffle equi-join — BOTH sides are
    // corpus-bound, so neither may broadcast (pinned under threshold=-1,
    // the stream_incr_dedup discipline). Output is answer-bound (leaked
    // eval docs only). Nothing quadratic at any corpus size.
    Q(
      "llm_split_leakage",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .select(col("doc_id"), splitOf(col("doc_id")).as("split"),
            LlmQueries.normKey(col("text")).as("key"))
        val train = docs.where(col("split") === "train")
          .groupBy(col("key"))
          .agg(min(col("doc_id")).as("leak_src"),
            count(lit(1)).as("n_train"))
        docs.where(col("split") =!= "train")
          .join(train, "key")
          .select(col("doc_id"), col("split"), col("leak_src"),
            col("n_train"))
          .orderBy(col("doc_id"))
      },
      oracle = Some(s"""
        WITH t AS (
          SELECT doc_id,
                 $splitOfDuck AS split,
                 ${LlmQueries.normKeyDuckOn("text")} AS key
          FROM documents),
        tr AS (
          SELECT key, min(doc_id) AS leak_src, count(*) AS n_train
          FROM t WHERE split = 'train' GROUP BY key)
        SELECT t.doc_id, t.split, tr.leak_src, tr.n_train
        FROM t JOIN tr USING (key)
        WHERE t.split <> 'train'
        ORDER BY t.doc_id""")),

    // H: link-analysis quality signal — PageRank over a key-derived
    // citation DAG (doc i cites i div 2 / i div 3 / i div 5: acyclic by
    // construction since every target key is smaller, out-degree <= 3,
    // in-degree <= 10). Web-crawl curation uses exactly this score as a
    // document-quality prior; the interesting part is making an ITERATIVE
    // fixpoint hash-verifiable: all arithmetic stays in BIGINT micro-units
    // (init 1.000000, damping 0.85 as 150000 + (85*inc) div 100, per-edge
    // contribution score div deg) — integer division and BIGINT sums are
    // shuffle-order-free where double folds are not, the llm_pq_train
    // discipline applied to link analysis. Four unrolled iterations, each
    // one corpus-LINEAR edges join + per-destination sum + node join-back;
    // NOTHING broadcasts (scores and edges are both corpus-scale by
    // contract — pinned under threshold=-1), so the plan is K sequential
    // shuffle rounds: the Pregel communication pattern written
    // declaratively, which is how a 1000-executor run wants it (each round
    // repartitions by the same key; AQE coalesces the tails). Dangling
    // nodes (0 and 1) simply leak their mass — the standard simplification,
    // identical in both engines.
    Q(
      "llm_pagerank",
      (s, d) => {
        val docs = Tables.documents(s, d).select(col("doc_id").as("node"))
        // persist() on edges too (round 21, r20 ADVICE): the degree
        // self-join below consumes `edges` twice, so without its own cache
        // entry the corpus scan + explode ran twice during edgesDeg's
        // one-time build — the edgesDeg persist only saved the per-round
        // re-scans. Both entries are reclaimed by Cleanup.release.
        val edges = docs.filter(col("node") >= 2)
          .select(col("node").as("src"),
            explode(array_distinct(filter(
              array(expr("node div 2"), expr("node div 3"),
                expr("node div 5")),
              t => t >= 1L))).as("dst"))
          .persist()
        // persist(): consumed once per damped round — without it every
        // round re-scans the corpus and re-pays the degree shuffle
        // (reclaimed per-query by Cleanup.release, the harness contract).
        val edgesDeg = edges
          .join(edges.groupBy(col("src")).agg(count(lit(1)).as("deg")), "src")
          .select(col("src"), col("dst"), col("deg"))
          .persist()
        val init = docs.select(col("node"), lit(1000000L).as("score"))
        val fin = (1 to 4).foldLeft(init) { (cur, _) =>
          val inc = cur.select(col("node").as("p"), col("score"))
            .join(edgesDeg, col("p") === col("src"))
            .select(col("dst").as("node"), expr("score div deg").as("c"))
            .groupBy(col("node")).agg(sum(col("c")).as("inc"))
          docs.join(inc, Seq("node"), "left_outer")
            .select(col("node"),
              expr("150000L + ((85L * coalesce(inc, 0L)) div 100)")
                .as("score"))
        }
        fin.select(col("node"), col("score").as("score_q"))
          .orderBy(col("node"))
      },
      oracle = Some("""
        WITH docs AS (SELECT doc_id AS node FROM documents),
        edges AS (
          SELECT DISTINCT src, dst FROM (
            SELECT node AS src,
                   unnest([node // 2, node // 3, node // 5]) AS dst
            FROM docs WHERE node >= 2)
          WHERE dst >= 1),
        ed AS (
          SELECT e.src, e.dst, d.deg
          FROM edges e
          JOIN (SELECT src, count(*) AS deg FROM edges GROUP BY src) d
            USING (src)),
        it0 AS (SELECT node, CAST(1000000 AS BIGINT) AS score FROM docs),
        it1 AS (
          SELECT n.node, CAST(150000 + (85 * coalesce(c.inc, 0)) // 100
                              AS BIGINT) AS score
          FROM docs n LEFT JOIN (
            SELECT ed.dst AS node, sum(p.score // ed.deg) AS inc
            FROM it0 p JOIN ed ON ed.src = p.node GROUP BY ed.dst) c
            USING (node)),
        it2 AS (
          SELECT n.node, CAST(150000 + (85 * coalesce(c.inc, 0)) // 100
                              AS BIGINT) AS score
          FROM docs n LEFT JOIN (
            SELECT ed.dst AS node, sum(p.score // ed.deg) AS inc
            FROM it1 p JOIN ed ON ed.src = p.node GROUP BY ed.dst) c
            USING (node)),
        it3 AS (
          SELECT n.node, CAST(150000 + (85 * coalesce(c.inc, 0)) // 100
                              AS BIGINT) AS score
          FROM docs n LEFT JOIN (
            SELECT ed.dst AS node, sum(p.score // ed.deg) AS inc
            FROM it2 p JOIN ed ON ed.src = p.node GROUP BY ed.dst) c
            USING (node)),
        it4 AS (
          SELECT n.node, CAST(150000 + (85 * coalesce(c.inc, 0)) // 100
                              AS BIGINT) AS score
          FROM docs n LEFT JOIN (
            SELECT ed.dst AS node, sum(p.score // ed.deg) AS inc
            FROM it3 p JOIN ed ON ed.src = p.node GROUP BY ed.dst) c
            USING (node))
        SELECT node, score AS score_q FROM it4 ORDER BY node""")),

    // H: hybrid-retrieval fusion — reciprocal-rank fusion (RRF, the
    // Cormack/Clarke/Buettcher method every production hybrid-search
    // stack ships) of two rankers over the SAME 3-term query: BM25
    // (llm_bm25_search's exact scoring form, same rational idf) and
    // plain tf·idf (no length normalization — a genuinely different
    // ordering, so the fusion is non-trivial). The production scale
    // shape is the declared shape: each ranker contributes only its
    // TOP-K=100 list (TakeOrderedAndProject heap — never a global
    // sort), ranks are assigned WITHIN those answer-bound lists, and
    // fusion is a K-row full-outer join. Hash-verifiability: ranks are
    // tie-broken integers (score desc, doc_id), and the RRF sum is
    // quantized — contribution = 1e12 div (60 + rank) in BIGINT, so the
    // fused score is exact integer arithmetic, not a float sum of
    // 1/(60+r) terms. Both per-doc score columns come from ONE corpus
    // pass (scored persists for its two ranker consumers); the corpus
    // stats row is the only corpus-derived broadcast (1 row by
    // construction, the llm_bm25_search contract).
    Q(
      "llm_hybrid_rrf",
      (s, d) => {
        val terms = Seq("dup", "vector", "batch")
        // NULL text folds to '' — the llm_bm25_search discipline: a NULL
        // doc entering Σdl would shift avgdl and hash-poison every score.
        val toks = toksAll(coalesce(col("text"), lit("")))
        val t = Tables.documents(s, d)
          .select(col("doc_id") +: size(toks).cast("bigint").as("dl") +:
            terms.zipWithIndex.map { case (w, i) =>
              size(filter(toks, x => x === w)).cast("bigint").as(s"tf$i")
            }: _*)
        val aggs = sum(col("dl")).as("sumdl") +:
          terms.indices.map(i =>
            sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))
        val stats = t.agg(count(lit(1)).as("n"), aggs: _*)
        val nD = col("n").cast("double")
        val avgdl = col("sumdl").cast("double") / nD
        def bm(i: Int): Column = {
          val tf = col(s"tf$i").cast("double")
          val df = col(s"df$i").cast("double")
          val idf = (nD - df + lit(0.5)) / (df + lit(0.5))
          idf * (tf * lit(2.2)) / (tf + lit(1.2) *
            (lit(0.25) + lit(0.75) * (col("dl").cast("double") / avgdl)))
        }
        def ti(i: Int): Column = {
          val tf = col(s"tf$i").cast("double")
          val df = col(s"df$i").cast("double")
          when(col(s"df$i") > 0, tf * (nD / df)).otherwise(lit(0.0))
        }
        val scored = t.crossJoin(broadcast(stats))
          .select(col("doc_id"),
            (bm(0) + bm(1) + bm(2)).as("s_bm"),
            (ti(0) + ti(1) + ti(2)).as("s_ti"))
          .persist() // two ranker consumers — one corpus pass, not two
        def ranked(scoreCol: String, rankName: String) =
          scored.orderBy(col(scoreCol).desc, col("doc_id")).limit(100)
            .withColumn(rankName, row_number().over(
              Window.orderBy(col(scoreCol).desc, col("doc_id")))
              .cast("long"))
            .select(col("doc_id"), col(rankName))
        val b = ranked("s_bm", "bm25_rank")
        val ti2 = ranked("s_ti", "tfidf_rank")
        b.join(ti2, Seq("doc_id"), "full_outer")
          .select(col("doc_id"), col("bm25_rank"), col("tfidf_rank"),
            (coalesce(expr("1000000000000L div (60L + bm25_rank)"), lit(0L))
              + coalesce(expr("1000000000000L div (60L + tfidf_rank)"),
                lit(0L))).as("rrf_q"))
          .orderBy(col("rrf_q").desc, col("doc_id"))
          .limit(10)
      },
      oracle = Some(s"""
        WITH t AS (
          SELECT doc_id,
                 len($toksAllDuck) AS dl,
                 len(list_filter($toksAllDuck, x -> x = 'dup')) AS tf0,
                 len(list_filter($toksAllDuck, x -> x = 'vector')) AS tf1,
                 len(list_filter($toksAllDuck, x -> x = 'batch')) AS tf2
          FROM (SELECT doc_id, coalesce(text, '') AS text FROM documents)),
        s AS (
          SELECT count(*) AS n, sum(dl) AS sumdl,
                 sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
                 sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
                 sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
          FROM t),
        sc AS (
          SELECT doc_id,
                 (CAST(n AS DOUBLE) - CAST(df0 AS DOUBLE) + 0.5)
                   / (CAST(df0 AS DOUBLE) + 0.5)
                   * (CAST(tf0 AS DOUBLE) * 2.2)
                   / (CAST(tf0 AS DOUBLE) + 1.2 * (0.25 + 0.75
                       * (CAST(dl AS DOUBLE)
                          / (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE)))))
                 + (CAST(n AS DOUBLE) - CAST(df1 AS DOUBLE) + 0.5)
                   / (CAST(df1 AS DOUBLE) + 0.5)
                   * (CAST(tf1 AS DOUBLE) * 2.2)
                   / (CAST(tf1 AS DOUBLE) + 1.2 * (0.25 + 0.75
                       * (CAST(dl AS DOUBLE)
                          / (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE)))))
                 + (CAST(n AS DOUBLE) - CAST(df2 AS DOUBLE) + 0.5)
                   / (CAST(df2 AS DOUBLE) + 0.5)
                   * (CAST(tf2 AS DOUBLE) * 2.2)
                   / (CAST(tf2 AS DOUBLE) + 1.2 * (0.25 + 0.75
                       * (CAST(dl AS DOUBLE)
                          / (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE)))))
                 AS s_bm,
                 CASE WHEN df0 > 0 THEN CAST(tf0 AS DOUBLE)
                      * (CAST(n AS DOUBLE) / CAST(df0 AS DOUBLE))
                      ELSE 0 END
                 + CASE WHEN df1 > 0 THEN CAST(tf1 AS DOUBLE)
                      * (CAST(n AS DOUBLE) / CAST(df1 AS DOUBLE))
                      ELSE 0 END
                 + CASE WHEN df2 > 0 THEN CAST(tf2 AS DOUBLE)
                      * (CAST(n AS DOUBLE) / CAST(df2 AS DOUBLE))
                      ELSE 0 END
                 AS s_ti
          FROM t, s),
        b AS (
          SELECT doc_id, r AS bm25_rank FROM (
            SELECT doc_id, CAST(row_number() OVER
              (ORDER BY s_bm DESC, doc_id) AS BIGINT) AS r FROM sc)
          WHERE r <= 100),
        ti AS (
          SELECT doc_id, r AS tfidf_rank FROM (
            SELECT doc_id, CAST(row_number() OVER
              (ORDER BY s_ti DESC, doc_id) AS BIGINT) AS r FROM sc)
          WHERE r <= 100)
        SELECT coalesce(b.doc_id, ti.doc_id) AS doc_id,
               b.bm25_rank, ti.tfidf_rank,
               coalesce(1000000000000 // (60 + b.bm25_rank), 0)
                 + coalesce(1000000000000 // (60 + ti.tfidf_rank), 0)
                 AS rrf_q
        FROM b FULL JOIN ti ON b.doc_id = ti.doc_id
        ORDER BY rrf_q DESC, doc_id
        LIMIT 10""")))

  /** llm_split_assign's deterministic 90/5/5 split — the salted-md5
    * uniform key mapped through the fixed thresholds, factored out
    * (round 18, second session) so the leakage audit cannot fork from
    * the assignment it audits. NOT rand(): retries keep assignments,
    * adding documents never moves existing ones, the oracle agrees
    * bit-for-bit.
    */
  private def splitOf(docId: Column): Column = {
    val key = conv(substring(md5(
        concat(lit("graft-split-v1:"), docId.cast("string"))),
        1, 15), 16, 10).cast("bigint")
    val u = key.cast("double") / lit(1152921504606846976L) // 2^60
    when(u < 0.90, "train").when(u < 0.95, "valid").otherwise("test")
  }

  /** llm_outlier_docs' Spark-side SQL: agg_percentile's counts-table
    * quantile interpolation (0-based rank/frac — bit-identical to DuckDB
    * quantile_cont) grouped by lang, then the Tukey-fence flag join. A
    * def for the same object-init reason as splitOfDuck.
    */
  private[graft] def outlierSql: String = {
    def pick(p: String, tag: String) = s"""
         min(CASE WHEN cum >= 1 + CAST(floor((n - 1) * $p) AS BIGINT) THEN x END) AS lo$tag,
         min(CASE WHEN cum >= 2 + CAST(floor((n - 1) * $p) AS BIGINT) THEN x END) AS hi$tag,
         max((n - 1) * $p - floor((n - 1) * $p)) AS fr$tag"""
    def interp(tag: String) =
      s"CASE WHEN fr$tag = 0 THEN lo$tag ELSE lo$tag + (hi$tag - lo$tag) * fr$tag END"
    s"""
      WITH counts AS (
        SELECT lang AS g, CAST(n_chars AS DOUBLE) AS x, count(*) AS c
        FROM docs_outlier WHERE n_chars IS NOT NULL GROUP BY 1, 2),
      ranked AS (
        SELECT g, x,
               sum(c) OVER (PARTITION BY g ORDER BY x) AS cum,
               sum(c) OVER (PARTITION BY g) AS n
        FROM counts),
      picks AS (
        SELECT g, ${pick("0.05", "05")}, ${pick("0.95", "95")}
        FROM ranked GROUP BY g),
      b AS (
        SELECT g AS lang,
               ${interp("05")} AS p05,
               ${interp("95")} AS p95
        FROM picks)
      SELECT d.doc_id, d.lang, d.n_chars,
             (CAST(d.n_chars AS DOUBLE) < b.p05
              OR CAST(d.n_chars AS DOUBLE) > b.p95) AS outlier
      FROM docs_outlier d JOIN b ON d.lang = b.lang
      ORDER BY d.doc_id"""
  }

  /** The DuckDB spelling of [[splitOf]] over the `doc_id` column — a def,
    * not a val: `defs` above is a strict val whose oracle strings are
    * built at object init, before any later val would be assigned.
    */
  private def splitOfDuck: String =
    """CASE WHEN ('0x' || substr(md5('graft-split-v1:'
      |             || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
      |           / 1152921504606846976.0 < 0.90 THEN 'train'
      |      WHEN ('0x' || substr(md5('graft-split-v1:'
      |             || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
      |           / 1152921504606846976.0 < 0.95 THEN 'valid'
      |      ELSE 'test' END""".stripMargin

  /** Per-DISTINCT-word BPE token counts — the vocab-bound fold stage shared
    * by llm_bpe_apply_cached and llm_tokenizer_fertility (single-sourced so
    * the two rows cannot drift): each distinct word is separator-encoded,
    * folded through the broadcast rank-ordered merge array (the map-only
    * row's exact greedy-pass semantics), and read back as (symbol count,
    * token count). Symbols are characters (code points on both engines), so
    * the per-word symbol count is just length(w); tokens read back off the
    * folded separators exactly as the map-only row does. Input and output
    * are VOCABULARY-bound; the only broadcast is the 1-row merge array.
    */
  private def bpeWordTokens(s: org.apache.spark.sql.SparkSession,
      d: String,
      distinctWords: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    distinctWords
      .crossJoin(broadcast(bpeMergeArray(s, d)))
      .withColumn("enc", expr(
        """concat(char(1), char(1),
          |  array_join(transform(sequence(1, length(w)),
          |      i -> substring(w, i, 1)),
          |    concat(char(1), char(1))),
          |  char(1), char(1))""".stripMargin))
      .withColumn("folded", expr(
        """aggregate(ml, enc, (acc, m) -> replace(acc,
          |   concat(char(1), m.a, char(1), char(1), m.b, char(1)),
          |   concat(char(1), m.a, m.b, char(1))))""".stripMargin))
      .select(col("w"), length(col("w")).cast("long").as("w_sym"),
        expr("""((length(folded) - length(replace(folded, char(1), '')))
               | div 2) - 1""".stripMargin).cast("long").as("w_tok"))
  }

  /** The trained-merge-table construction shared by the BPE apply pair
    * (llm_bpe_apply / llm_bpe_apply_cached — single-sourced so the two
    * rows cannot drift): word histogram -> adjacent-pair counts weighted
    * by corpus frequency -> top-20 ranked merges collapsed to ONE array
    * row in rank order (struct sort on (-cnt, a, b), the exact ORDER BY —
    * collect_list alone is partition-order nondeterministic). The result
    * is <= alphabet-squared rows collapsed to one row: broadcast BY
    * CONSTRUCTION at any corpus size.
    */
  private def bpeMergeArray(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val words = Tables.documents(s, d)
      .select(explode(filter(split(lower(col("text")), " "),
        t => t =!= "")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
    words
      .select(col("n"), explode(expr(
        """if(length(w) < 2, array(),
          |   transform(sequence(1, length(w) - 1),
          |     i -> struct(substring(w, i, 1) AS a,
          |                 substring(w, i + 1, 1) AS b)))"""
          .stripMargin)).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("n")).cast("bigint").as("cnt"))
      .orderBy(col("cnt").desc, col("a"), col("b"))
      .limit(20)
      .agg(transform(
        sort_array(collect_list(struct((-col("cnt")).as("nc"),
          col("a"), col("b")))),
        m => struct(m.getField("a").as("a"), m.getField("b").as("b")))
        .as("ml"))
  }

  /** The DuckDB oracle shared verbatim by the BPE apply pair: both rows
    * declare the IDENTICAL output contract, so one oracle hash-pins both
    * (and thereby pins the rows equal to each other at every gate SF).
    */
  /** The trained-merge-table CTE prefix (w → p → m → ml) shared by the BPE
    * apply oracle and the tokenizer-fertility oracle — the DuckDB spelling
    * of [[bpeMergeArray]], single-sourced for the same no-drift reason.
    *
    * Merges are encoded as 'pattern\2replacement' strings so the reduce
    * list stays VARCHAR-uniform with the prepended init word. The coalesce
    * guards the no-merges corpus (every word 1 char): list() over zero rows
    * is NULL in DuckDB where Spark's collect_list is [], and a NULL merge
    * list would NULL the whole fold — n_tokens would read 0 against
    * Spark's real symbol count (r19 ADVICE).
    */
  private def bpeMergeCtes: String = """
        w AS (
          SELECT w, count(*) AS n FROM (
            SELECT unnest(list_filter(string_split(lower(text), ' '),
                     t -> t <> '')) AS w
            FROM documents) GROUP BY w),
        p AS (
          SELECT substr(w, i, 1) AS a, substr(w, i + 1, 1) AS b, n
          FROM (
            SELECT w.w AS w, w.n AS n,
                   CAST(unnest(range(1, length(w.w))) AS INTEGER) AS i
            FROM w)),
        m AS (
          SELECT a, b, CAST(sum(n) AS BIGINT) AS cnt
          FROM p GROUP BY a, b
          ORDER BY cnt DESC, a, b
          LIMIT 20),
        ml AS (
          SELECT coalesce(list(chr(1) || a || chr(1) || chr(1) || b || chr(1)
                      || chr(2) || chr(1) || a || b || chr(1)
                      ORDER BY cnt DESC, a, b), []) AS merges
          FROM m)"""

  private def bpeApplyOracleSql: String = s"""
        WITH $bpeMergeCtes,
        enc AS (
          SELECT doc_id,
                 list_transform(list_filter(string_split(lower(text), ' '),
                     t -> t <> ''),
                   w -> chr(1) || chr(1) ||
                        array_to_string(list_transform(
                            range(1, length(w) + 1), i -> substr(w, i, 1)),
                          chr(1) || chr(1)) ||
                        chr(1) || chr(1)) AS ws
          FROM documents),
        applied AS (
          SELECT enc.doc_id,
                 list_transform(enc.ws,
                   s -> list_reduce(list_prepend(s, ml.merges),
                          (acc, e) -> replace(acc, split_part(e, chr(2), 1),
                                              split_part(e, chr(2), 2)))) AS es
          FROM enc CROSS JOIN ml)
        SELECT a.doc_id,
               CAST(coalesce(list_sum(list_transform(e.ws,
                 s -> (length(s) - length(replace(s, chr(1), ''))) // 2 - 1)),
                 0) AS BIGINT) AS n_sym_before,
               CAST(coalesce(list_sum(list_transform(a.es,
                 s -> (length(s) - length(replace(s, chr(1), ''))) // 2 - 1)),
                 0) AS BIGINT) AS n_tokens,
               CASE WHEN coalesce(list_sum(list_transform(a.es,
                      s -> (length(s) - length(replace(s, chr(1), ''))) // 2
                           - 1)), 0) > 0
                 THEN CAST(coalesce(list_sum(list_transform(e.ws,
                        s -> (length(s) - length(replace(s, chr(1), '')))
                             // 2 - 1)), 0) AS DOUBLE)
                      / CAST(coalesce(list_sum(list_transform(a.es,
                          s -> (length(s) - length(replace(s, chr(1), '')))
                               // 2 - 1)), 0) AS DOUBLE)
                 ELSE NULL END AS chars_per_tok
        FROM applied a JOIN enc e USING (doc_id)
        ORDER BY a.doc_id"""

}
