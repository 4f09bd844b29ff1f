package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** SURVEY §2.2-I — the streaming operator surface (S1–S15), expressed as
  * MODE-AGNOSTIC transforms: every function here takes a DataFrame that may
  * be either a streaming source (readStream) or a batch scan of the same
  * rows, and produces the identical logical plan on both. That single-source
  * design is what the batch-equivalence tests (SURVEY §5.2(2)) lean on: the
  * streaming result under Trigger.AvailableNow must equal the batch result
  * of the very same function.
  *
  * Scale posture: each transform's only shuffle is the keyed exchange its
  * semantics require (window×type, user, dedup key); state stores are keyed
  * by the same attributes, so a 1000-executor cluster partitions state
  * horizontally with no driver-side or single-partition step anywhere.
  */
object StreamOps {

  /** S1 — 1-hour tumbling counts/sums per event_type. Epoch-aligned windows
    * (Spark `window()` default), so the DuckDB oracle is date_trunc.
    */
  def tumbling(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      // value is 2-decimal data — sum exactly, cast the result. A raw
      // double sum is accumulation-order-dependent and cross-engine flaky.
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("w.start").as("ws"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** S2 — 1-hour windows sliding every 15 minutes: each event lands in 4
    * overlapping windows (epoch-aligned starts).
    */
  def sliding(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("ws"), col("event_type"), col("n_events"))

  /** S3 — session windows per user, 30-minute gap. Streaming session
    * aggregation requires a watermark; the 0-second delay makes the final
    * no-data batch flush every session whose close precedes the max event
    * time. Sessions still open at end-of-input are withheld in append
    * mode — the declared `stream_session` query closes them with a
    * far-future sentinel event (EventStream.readEventsWithSentinel), and
    * StreamingEquivalenceSpec pins the flush/withhold policy directly.
    */
  def sessions(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "0 seconds")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("session_start"), col("user_id"), col("n_events"))

  /** S4 — watermarked tumbling aggregation: 2-hour lateness bound, append
    * mode. Under AvailableNow the final watermark is max(ts) − 2h and only
    * windows with end ≤ watermark are emitted — that emission rule is the
    * deterministic contract the oracle reproduces.
    */
  def watermarkTumbling(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("ws"), col("event_type"), col("n_events"))

  /** S5 — streaming dedup on a business key within the watermark. Only the
    * key columns are projected so the kept-row choice (arrival order,
    * nondeterministic across partitions) can't leak into the result.
    */
  def dedupKeys(events: DataFrame): DataFrame = {
    val deduped = events
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
    deduped.select(col("user_id"), col("event_type"))
  }

  /** S6 — stream-stream inner join: purchases ⋈ clicks by user within
    * ±30 minutes. Inner joins emit within the arriving micro-batch, so the
    * AvailableNow result equals the batch join; the watermarks bound state
    * retention (without them both sides buffer forever).
    */
  def purchaseClickJoin(events: DataFrame): DataFrame =
    purchaseClick(events, "inner", sentinel = false)

  /** S15 — stream-stream LEFT OUTER join: every purchase, with its
    * ±30-minute same-user clicks where they exist and NULL click columns
    * where none do. An unmatched left row sits in state until the
    * watermark proves no future click can land in its interval, and only
    * then emits with nulls — so under AvailableNow the null rows surface in
    * the trailing no-data batch, and ONLY for rows whose interval the final
    * watermark has passed. End-of-input alone never pushes the watermark
    * past the last real purchase, so (as for stream_session) the declared
    * query feeds the far-future sentinel through BOTH side filters
    * (`user_id === -1`) to force every real row's state to resolve; the
    * sentinel's own self-match is filtered from the output. With that push
    * the AvailableNow result equals the batch left join bit-for-bit.
    *
    * Scale posture: state is keyed by user and bounded by the watermark ×
    * interval band on both sides; the only exchange is the user-keyed
    * state shuffle both sides share.
    */
  def purchaseClickLeftJoin(events: DataFrame): DataFrame =
    purchaseClick(events, "left_outer", sentinel = true)

  /** S16 — stream-stream FULL OUTER join: S15 with null emission on BOTH
    * sides. An unmatched PURCHASE emits with NULL click columns once the
    * watermark proves no click can land in its ±30-minute band; an
    * unmatched CLICK symmetrically sits in state until the watermark proves
    * no purchase interval can still cover it, then emits with NULL purchase
    * columns. One sentinel event (admitted through both side filters)
    * pushes both watermarks past every real row's band; its self-match row
    * is filtered by the caller. user_id coalesces across sides: an
    * unmatched click's p_user is NULL.
    *
    * Scale posture: identical to S15 — one shared user-keyed state
    * shuffle, zero broadcasts (pinned in PlanAuditSpec on the batch form).
    */
  def purchaseClickFullJoin(events: DataFrame): DataFrame =
    purchaseClick(events, "full_outer", sentinel = true)

  /** The S6/S15/S16 join: watermarked purchase and click sides joined by
    * user within ±30 minutes. With `sentinel`, the user_id −1 event passes
    * both side filters, so it can push both watermarks.
    */
  private def purchaseClick(events: DataFrame, joinType: String,
      sentinel: Boolean): DataFrame = {
    def side(eventType: String, p: String) = events
      .where(if (sentinel) col("event_type") === eventType || col("user_id") === -1L
        else col("event_type") === eventType)
      .select(col("user_id").as(s"${p}_user"), col("ts").as(s"${p}_ts"),
        col("event_id").as(s"${p}_event_id"))
      .withWatermark(s"${p}_ts", "1 hour")
    side("purchase", "p").join(side("click", "c"),
      col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES") &&
        col("c_ts") <= col("p_ts") + expr("INTERVAL 30 MINUTES"),
      joinType)
      .select(coalesce(col("p_user"), col("c_user")).as("user_id"),
        col("p_event_id"), col("c_event_id"), col("p_ts"), col("c_ts"))
  }

  /** S7 — stream-static enrichment join: events against the (batch)
    * customer dimension. The static side is re-planned per micro-batch and
    * broadcast when small — the canonical dimension-enrichment shape.
    */
  def staticEnrich(events: DataFrame, customer: DataFrame): DataFrame =
    events.join(
      broadcast(customer.select(col("c_custkey"), col("c_mktsegment"))),
      col("user_id") === col("c_custkey"), "inner")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("c_mktsegment"))

  /** S12 — stream-static ANTI join: drop events whose user sits
    * in a static suppression index (here: high-balance customers — any
    * bounded "already seen / blocklisted" key set). The streaming twin of
    * `llm_dedup_incremental`: the index is the persisted artifact of a
    * batch run, the stream is the live increment checked against it. The
    * static side is dimension-scale by contract, so it broadcasts per
    * micro-batch; the stream side never shuffles for the join.
    */
  def staticSuppress(events: DataFrame, customer: DataFrame): DataFrame =
    events.join(
      broadcast(customer.where(col("c_acctbal") > 8000)
        .select(col("c_custkey"))),
      col("user_id") === col("c_custkey"), "left_anti")
      .select(col("event_id"), col("user_id"), col("event_type"))

  /** S13 — streaming CORPUS-INGEST dedup against the incremental
    * index. Where
    * `staticSuppress` checks a DIMENSION-scale blocklist (broadcast is the
    * right plan), this is the daily-crawl shape at ingest granularity —
    * each incoming record's payload is keyed by the SAME normalized-first-
    * tokens md5 digest as `llm_dedup_incremental`, and membership is a
    * stream-static LEFT join against the persisted (h, n_old) index of
    * everything already ingested. The static side is CORPUS-scale (it
    * grows with the ingest history, 10¹⁰⁺ keys at 100 TB), so this is the
    * one streaming row where a broadcast would be the anti-pattern: no
    * hint, and PlanAuditSpec pins the join to a SHUFFLE under
    * auto-broadcast-off. Per event: n_old (how many prior records share
    * its key), dup_of_old, keep = unseen key. The within-batch rn=1 leg of
    * the batch row is deliberately absent — row_number is unsupported over
    * a stream, and streaming-native within-stream dedup is `stream_dedup`
    * (dropDuplicatesWithinWatermark), already declared.
    */
  def incrementalDedup(events: DataFrame, index: DataFrame): DataFrame =
    events.where(col("event_id") % 10 === 0)
      .select(col("event_id"), eventKey.as("h"))
      .join(index, Seq("h"), "left")
      .select(col("event_id"), col("h"),
        coalesce(col("n_old_raw"), lit(0L)).as("n_old"))
      .select(col("event_id"), col("h"), col("n_old"),
        (col("n_old") > 0).as("dup_of_old"),
        (col("n_old") === 0).as("keep"))

  /** The persisted side of [[incrementalDedup]]: one (h, n_old_raw) row
    * per distinct payload key over the already-ingested history (here: the
    * 90% split of the same events table — the batch that ran yesterday).
    * Map-side partial agg collapses it to one row per key before any
    * exchange, exactly like llm_dedup_incremental's old side.
    */
  def incrementalIndex(history: DataFrame): DataFrame =
    history.where(col("event_id") % 10 =!= 0)
      .select(eventKey.as("h"))
      .groupBy(col("h")).agg(count(lit(1)).cast("bigint").as("n_old_raw"))

  /** The per-event payload key shared by [[incrementalDedup]] (stream
    * side), [[incrementalIndex]] (persisted side), and — via
    * [[EventKeyFields]] — the S13 DuckDB oracle. Single-sourced so stream,
    * index and oracle cannot key differently: a drifted field list would
    * make every event report n_old=0 with no failure anywhere.
    */
  private[graft] val EventKeyFields: Seq[String] =
    Seq("event_type", "user_id", "props")

  private def eventKey: org.apache.spark.sql.Column =
    md5(graft.queries.LlmQueries.normKey(
      concat_ws(" ", EventKeyFields.map(col): _*)))

  // ---------------------------------------------------------------- S8 ----

  /** Typed row for the stateful funnel. ts carried as epoch micros so the
    * encoder stays primitive (no timezone re-interpretation inside state).
    */
  case class FunnelEvent(user_id: Long, event_type: String, ts_us: Long)

  /** Conversion state: earliest signup seen, whether converted. */
  case class FunnelState(signupUs: Long, converted: Boolean)

  case class Conversion(user_id: Long, signup_ts_us: Long, purchase_ts_us: Long)

  /** S8 — signup→purchase funnel per user via flatMapGroupsWithState: emit
    * one row per user for the FIRST purchase at-or-after their FIRST signup.
    * State is two longs per user — bounded regardless of event volume.
    * Events within a batch arrive unordered; the function sorts its group
    * slice, so the result is independent of micro-batch boundaries for
    * event-time-ordered arrival (the multi-batch test pins this). KNOWN
    * SCOPE LIMIT: a purchase that arrives in an EARLIER batch than a
    * same-user signup with a smaller event time is not buffered (bounded
    * state by design), so heavily out-of-order cross-batch data diverges
    * from the batch answer — a production deployment bounds that window
    * with a watermark-sized event buffer in state.
    */
  def funnel(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val typed = events
      .select(col("user_id"),
        col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
      .where(col("event_type").isin("signup", "purchase"))
      .as[FunnelEvent]

    val out = typed
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout)(
        processFunnelGroup)
    out.select(col("user_id"),
      timestamp_micros(col("signup_ts_us")).as("signup_ts"),
      timestamp_micros(col("purchase_ts_us")).as("purchase_ts"))
  }

  private[streaming] def processFunnelGroup(
      userId: Long,
      rows: Iterator[FunnelEvent],
      state: GroupState[FunnelState]): Iterator[Conversion] = {
    if (state.exists && state.get.converted) return Iterator.empty
    // Tie-break: a signup and purchase at the SAME timestamp must convert
    // (the oracle's `purchase.ts >= signup.ts` is inclusive), so signups
    // sort before purchases at equal ts.
    val sorted = rows.toSeq.sortBy(e =>
      (e.ts_us, if (e.event_type == "signup") 0 else 1))
    var st = state.getOption.getOrElse(FunnelState(Long.MaxValue, converted = false))
    var out: Option[Conversion] = None
    sorted.foreach { e =>
      if (!st.converted) {
        if (e.event_type == "signup" && e.ts_us < st.signupUs)
          st = st.copy(signupUs = e.ts_us)
        else if (e.event_type == "purchase" && st.signupUs != Long.MaxValue &&
          e.ts_us >= st.signupUs) {
          out = Some(Conversion(userId, st.signupUs, e.ts_us))
          st = st.copy(converted = true)
        }
      }
    }
    state.update(st)
    out.iterator
  }

  /** S9 — micro-batch parquet sink via foreachBatch: the standard "stream
    * into a lake table" shape (idempotent per batchId path). Returns the
    * started query; the caller owns lifecycle.
    */
  def foreachBatchParquet(events: DataFrame, outDir: String) =
    events.writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$outDir/batch_$batchId")
      }

  /** S14 — Count-Min sketch cells over the user-id stream: the streaming
    * twin of llm_freq_sketch, and the
    * canonical bounded-state streaming frequency estimator — the complete-
    * mode aggregation state is the d×w = 4×16 counter matrix REGARDLESS of
    * how many distinct users flow past (a per-user count would grow state
    * with key cardinality; at 10⁹ users that is the state-store OOM this
    * sketch exists to avoid). CMS is additive, so micro-batch partial
    * merges commute — AvailableNow equals batch bit-for-bit and the row
    * stays hash-verifiable like its batch twin. Salt prefix 'cmsu-'
    * (user-id domain, distinct from the token sketch's 'cms-').
    */
  def cmsUserCells(events: DataFrame): DataFrame =
    events
      .select(col("user_id"), explode(sequence(lit(0L), lit(3L))).as("i"))
      .select(col("i"),
        pmod(conv(substring(md5(concat(lit("cmsu-"), col("i").cast("string"),
          lit(":"), col("user_id").cast("string"))), 1, 15), 16, 10)
          .cast("bigint"), lit(16L)).as("b"))
      .groupBy(col("i"), col("b"))
      .agg(count(lit(1)).as("c"))
}
