package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.streaming.{EventStream, StreamOps}

/** SURVEY §2.2-I promoted to the driver contract — each entry runs a REAL
  * Structured Streaming query (file source over `events`, the stand-in for
  * the Kinesis source) to completion under Trigger.AvailableNow, then
  * returns the sink table. Because the input is one micro-batch plus the
  * trailing no-data batch, every one of these is deterministic — which lets
  * us go beyond the SURVEY's "no oracle" plan and hash-verify the streaming
  * surface against DuckDB like any batch row.
  *
  * S3 (session windows) is declared too: sessions still open at
  * end-of-input would be withheld under append mode, so its stream unions
  * a far-future sentinel event whose only job is the final watermark push
  * (see `stream_session` below). S9 (foreachBatch) is a sink — test-only.
  */
object StreamQueries {

  private def run(name: String, mode: String)(xform: DataFrame => DataFrame) =
    (s: SparkSession, d: String) =>
      EventStream.runAvailableNow(s, name, xform(EventStream.readEvents(s, d)), mode)

  /** `run` over the events plus the far-future sentinel event
    * (`EventStream.readEventsWithSentinel`), whose only job is the final
    * watermark push; the sentinel's own rows (user_id −1) are dropped.
    */
  private def runWithSentinel(name: String, mode: String)(xform: DataFrame => DataFrame) =
    (s: SparkSession, d: String) =>
      EventStream.runAvailableNow(s, name,
        xform(EventStream.readEventsWithSentinel(s, d)), mode)
        .where(col("user_id") =!= -1L)

  val defs: Seq[Q] = Seq(
    // S1: tumbling window aggregation, complete mode (no watermark needed;
    // the memory sink holds the full group state, which is bounded by
    // #windows × #event_types, not by input rows).
    Q(
      "stream_tumbling",
      (s, d) => run("stream_tumbling", "complete")(StreamOps.tumbling)(s, d)
        .orderBy(col("ws"), col("event_type")),
      oracle = Some("""
        SELECT date_trunc('hour', ts) AS ws, event_type,
               count(*) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY 1, 2
        ORDER BY ws, event_type""")),

    // S2: sliding windows (1h every 15min) — each event lands in exactly 4
    // epoch-aligned windows; the oracle expands them with an explicit
    // 0..3 offset join on epoch arithmetic (origin-free, unlike
    // time_bucket, so no bucket-origin assumptions).
    Q(
      "stream_sliding",
      (s, d) => run("stream_sliding", "complete")(StreamOps.sliding)(s, d)
        .orderBy(col("ws"), col("event_type")),
      oracle = Some("""
        SELECT CAST(to_timestamp(floor(epoch(ts) / 900) * 900) AS TIMESTAMP)
                 - k * INTERVAL 15 MINUTES AS ws,
               event_type, count(*) AS n_events
        FROM events CROSS JOIN (SELECT unnest(range(4)) AS k)
        GROUP BY 1, 2
        ORDER BY ws, event_type""")),

    // S4: watermarked tumbling agg in APPEND mode — the emission rule is
    // the contract: only windows whose end ≤ final watermark
    // (max(ts) − 2h) are in the output; the rest are withheld in state.
    Q(
      "stream_watermark_late",
      (s, d) => run("stream_watermark_late", "append")(StreamOps.watermarkTumbling)(s, d)
        .orderBy(col("ws"), col("event_type")),
      oracle = Some("""
        SELECT date_trunc('hour', ts) AS ws, event_type, count(*) AS n_events
        FROM events
        GROUP BY 1, 2
        HAVING date_trunc('hour', ts) + INTERVAL 1 HOUR
                 <= (SELECT max(ts) - INTERVAL 2 HOURS FROM events)
        ORDER BY ws, event_type""")),

    // S3: session windows (30-min gap per user), append mode. Sessions
    // only emit once the watermark passes their close, and end-of-input
    // never advances the watermark on its own — so the stream is the real
    // events UNIONED with one far-future sentinel event whose sole job is
    // the final watermark push (its own open session is withheld and
    // filtered). The oracle is the classic gaps-and-islands rewrite; the
    // break condition is `gap >= 30 min` to mirror session_window's
    // half-open [start, last+gap) merge rule exactly.
    Q(
      "stream_session",
      (s, d) => runWithSentinel("stream_session", "append")(StreamOps.sessions)(s, d)
        .orderBy(col("user_id"), col("session_start")),
      oracle = Some("""
        WITH m AS (
          SELECT user_id, ts,
                 CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                        OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                             >= INTERVAL 30 MINUTES
                      THEN 1 ELSE 0 END AS brk
          FROM events),
        g AS (
          SELECT user_id, ts,
                 sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
          FROM m)
        SELECT min(ts) AS session_start, user_id, count(*) AS n_events
        FROM g GROUP BY user_id, sid
        ORDER BY user_id, session_start""")),

    // S5: streaming dedup on (user_id, event_type) within the watermark;
    // only the key columns are emitted so kept-row arrival order can't
    // make the result nondeterministic.
    Q(
      "stream_dedup",
      (s, d) => run("stream_dedup", "append")(StreamOps.dedupKeys)(s, d)
        .orderBy(col("user_id"), col("event_type")),
      oracle = Some("""
        SELECT DISTINCT user_id, event_type
        FROM events
        ORDER BY user_id, event_type""")),

    // S6: stream-stream inner join (purchases ⋈ clicks, same user, ±30min).
    // Inner joins emit within the micro-batch, so AvailableNow output
    // equals the batch join; the watermarks exist to bound state at scale.
    Q(
      "stream_stream_join",
      (s, d) => run("stream_stream_join", "append")(StreamOps.purchaseClickJoin)(s, d)
        .orderBy(col("p_event_id"), col("c_event_id")),
      oracle = Some("""
        SELECT p.user_id AS user_id, p.event_id AS p_event_id,
               c.event_id AS c_event_id, p.ts AS p_ts, c.ts AS c_ts
        FROM events p JOIN events c
          ON p.user_id = c.user_id
         AND p.event_type = 'purchase' AND c.event_type = 'click'
         AND c.ts BETWEEN p.ts - INTERVAL 30 MINUTES
                      AND p.ts + INTERVAL 30 MINUTES
        ORDER BY p_event_id, c_event_id""")),

    // S15: stream-stream LEFT OUTER join — the watermark-driven
    // null-emission path (doc on StreamOps.purchaseClickLeftJoin): matched
    // purchases emit within the micro-batch like S6; unmatched ones emit
    // with NULL click columns only when the watermark passes their
    // interval, i.e. in the trailing no-data batch — and only because the
    // far-future sentinel (user_id −1, admitted through both side filters)
    // pushes the final watermark past every real purchase's band. The
    // oracle is the plain batch left join; the sort spells NULLS FIRST on
    // both engines because the engines' ASC-null defaults differ (Spark
    // nulls-first, DuckDB nulls-last — a silent whole-row-order fork).
    Q(
      "stream_outer_join",
      (s, d) => runWithSentinel("stream_outer_join", "append")(StreamOps.purchaseClickLeftJoin)(s, d)
        .orderBy(col("p_event_id"), col("c_event_id").asc_nulls_first),
      oracle = Some("""
        SELECT p.user_id AS user_id, p.event_id AS p_event_id,
               c.event_id AS c_event_id, p.ts AS p_ts, c.ts AS c_ts
        FROM events p LEFT JOIN events c
          ON p.user_id = c.user_id
         AND c.event_type = 'click'
         AND c.ts BETWEEN p.ts - INTERVAL 30 MINUTES
                      AND p.ts + INTERVAL 30 MINUTES
        WHERE p.event_type = 'purchase'
        ORDER BY p_event_id, c_event_id NULLS FIRST""")),

    // S16: stream-stream FULL OUTER join — S15's
    // watermark-driven null emission on BOTH sides (doc on
    // StreamOps.purchaseClickFullJoin): unmatched purchases flush with
    // NULL click columns AND unmatched clicks flush with NULL purchase
    // columns, each once the watermark passes its band — the one sentinel
    // (admitted through both side filters) resolves both state stores.
    // The oracle is the batch FULL JOIN with the side filters in
    // subqueries (a WHERE on either side would drop that side's
    // null-extended rows); both sort keys spell NULLS FIRST because
    // either can be NULL here and the engines' ASC-null defaults differ.
    Q(
      "stream_full_outer",
      (s, d) => runWithSentinel("stream_full_outer", "append")(StreamOps.purchaseClickFullJoin)(s, d)
        .orderBy(col("p_event_id").asc_nulls_first, col("c_event_id").asc_nulls_first),
      oracle = Some("""
        SELECT coalesce(p.user_id, c.user_id) AS user_id,
               p.event_id AS p_event_id, c.event_id AS c_event_id,
               p.ts AS p_ts, c.ts AS c_ts
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        FULL JOIN (SELECT * FROM events WHERE event_type = 'click') c
          ON p.user_id = c.user_id
         AND c.ts BETWEEN p.ts - INTERVAL 30 MINUTES
                      AND p.ts + INTERVAL 30 MINUTES
        ORDER BY p_event_id NULLS FIRST, c_event_id NULLS FIRST""")),

    // S7: stream-static enrichment against the customer dimension —
    // static side broadcast per micro-batch.
    Q(
      "stream_static_join",
      (s, d) => {
        val xform = (ev: DataFrame) =>
          StreamOps.staticEnrich(ev, Tables.customer(s, d))
        run("stream_static_join", "append")(xform)(s, d)
          .orderBy(col("event_id"))
      },
      oracle = Some("""
        SELECT event_id, user_id, event_type, c_mktsegment
        FROM events JOIN customer ON user_id = c_custkey
        ORDER BY event_id""")),

    // S12: stream-static ANTI join — the streaming twin of
    // llm_dedup_incremental: live events checked against a static
    // suppression index (dimension-scale, broadcast per micro-batch);
    // only unsuppressed events pass. The oracle's NOT IN is null-safe
    // here (neither key column is nullable), so it matches anti-join
    // semantics exactly.
    Q(
      "stream_static_anti",
      (s, d) => {
        val xform = (ev: DataFrame) =>
          StreamOps.staticSuppress(ev, Tables.customer(s, d))
        run("stream_static_anti", "append")(xform)(s, d)
          .orderBy(col("event_id"))
      },
      oracle = Some("""
        SELECT event_id, user_id, event_type
        FROM events
        WHERE user_id NOT IN
          (SELECT c_custkey FROM customer WHERE c_acctbal > 8000)
        ORDER BY event_id""")),

    // S13: streaming corpus-ingest dedup against the incremental index —
    // the live-increment twin of llm_dedup_incremental. The static side is
    // the CORPUS-scale (h, n_old) key index, so unlike every other
    // stream-static row it must SHUFFLE-join (pinned; broadcasting an
    // ingest-history index is the 100 TB anti-pattern).
    Q(
      "stream_incr_dedup",
      (s, d) => {
        val idx = StreamOps.incrementalIndex(Tables.events(s, d))
        val xform = (ev: DataFrame) =>
          StreamOps.incrementalDedup(ev, idx)
        run("stream_incr_dedup", "append")(xform)(s, d)
          .orderBy(col("event_id"))
      },
      oracle = Some(s"""
        WITH k AS (
          SELECT event_id,
                 md5(${graft.queries.LlmQueries.normKeyDuckOn(
                   s"concat_ws(' ', ${StreamOps.EventKeyFields.mkString(", ")})")}) AS h
          FROM events),
        old AS (
          SELECT h, CAST(count(*) AS BIGINT) AS n_old_raw
          FROM k WHERE event_id % 10 <> 0 GROUP BY h)
        SELECT n.event_id, n.h,
               CAST(coalesce(o.n_old_raw, 0) AS BIGINT) AS n_old,
               coalesce(o.n_old_raw, 0) > 0 AS dup_of_old,
               coalesce(o.n_old_raw, 0) = 0 AS keep
        FROM k n LEFT JOIN old o USING (h)
        WHERE n.event_id % 10 = 0
        ORDER BY event_id""")),

    // S14: streaming Count-Min frequency sketch — llm_freq_sketch's
    // bounded d×w counter matrix maintained incrementally over the event
    // stream (complete mode): per-user frequency state at ANY user
    // cardinality in d·w cells. AvailableNow replay == batch bit-for-bit.
    Q(
      "stream_freq_sketch",
      (s, d) => run("stream_freq_sketch", "complete")(StreamOps.cmsUserCells)(s, d)
        .orderBy(col("i"), col("b")),
      oracle = Some("""
        SELECT i, b, count(*) AS c
        FROM (
          SELECT s.i,
                 ('0x' || substr(md5('cmsu-' || CAST(s.i AS VARCHAR) || ':'
                    || CAST(e.user_id AS VARCHAR)), 1, 15))::BIGINT % 16 AS b
          FROM events e, (SELECT unnest(range(4)) AS i) s(i))
        GROUP BY i, b
        ORDER BY i, b""")),

    // S8: stateful signup→purchase funnel via flatMapGroupsWithState —
    // first purchase at-or-after the first signup, one row per converted
    // user, two longs of state per user.
    Q(
      "stream_funnel",
      (s, d) => run("stream_funnel", "append")(StreamOps.funnel)(s, d)
        .orderBy(col("user_id")),
      oracle = Some("""
        WITH s AS (
          SELECT user_id, min(ts) AS signup_ts
          FROM events WHERE event_type = 'signup' GROUP BY user_id),
        p AS (
          SELECT e.user_id, s.signup_ts, min(e.ts) AS purchase_ts
          FROM events e JOIN s ON e.user_id = s.user_id
          WHERE e.event_type = 'purchase' AND e.ts >= s.signup_ts
          GROUP BY e.user_id, s.signup_ts)
        SELECT user_id, signup_ts, purchase_ts FROM p
        ORDER BY user_id""")))
}
