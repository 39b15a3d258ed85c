package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Event-time streaming analytics over the event stream — the windowed /
  * stateful layer the reference lacks entirely (its only "window" is the
  * processing-time micro-batch, reference CDCStreamPipeline.scala:99;
  * SURVEY.md §2.7 "analytic windows available for free if added").
  *
  * Two canonical shapes:
  *   - [[windowedCounts]]: tumbling event-time windows with a watermark —
  *     late events beyond the watermark are dropped, state for closed
  *     windows is reclaimed (bounded state at 100 TB/day stream rates).
  *   - [[sessionize]]: gap-based sessions via `flatMapGroupsWithState` —
  *     explicit keyed state with event-time timeout, the Spark
  *     counterpart of a per-key session actor.
  */
object StreamingAnalytics {

  /** Tumbling 1-hour event-time windows per event type with a 2-hour
    * watermark. Append mode: a window emits exactly once, when the
    * watermark passes its end.
    */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      // DECIMAL accumulation then double: per-window sums must not depend
      // on shuffle arrival order (the engine-parity recipe)
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** SLIDING 1-hour windows every 30 minutes, streaming: each event lands
    * in its two covering windows (one Expand per micro-batch), state holds
    * one running (count, sum) pair per open window, and append mode emits
    * a window exactly once when the watermark passes its end — the
    * streaming counterpart of
    * [[graft.ops.Analytics.slidingActiveUsers]]'s batch assignment.
    */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("window.start").as("w_start"), col("n_events"), col("sum_value"))

  /** Daily event-type-mix drift vs a UNIFORM design reference, streamed:
    * the production monitor that pages when a day's traffic mix walks
    * away from what the pipeline was sized for. One streaming aggregate
    * per tumbling 1-day window with the per-type counts as FIXED
    * conditional-sum columns (the alphabet is schema, not data — no
    * second stateful aggregation, which Structured Streaming would
    * reject), then a stateless projection folds them into the exact
    * integer TVD: tvd_ppm = 1e6·Σ|k·cᵢ − n| DIV (2k·n) — the
    * cross-multiplied sourceTvd device against the uniform 1/k vector.
    * Append mode: a day emits exactly once, when the watermark passes
    * its end. Out-of-alphabet events count in n but no cᵢ, so they
    * read as drift — the monitor property you want.
    */
  def mixDrift(events: DataFrame, types: Seq[String], thresholdPpm: Long): DataFrame = {
    require(types.nonEmpty && types == types.sorted.distinct, s"sorted distinct alphabet: $types")
    val k = types.length
    val cs = types.zipWithIndex.map { case (t, i) =>
      sum(when(col("event_type") === t, 1L).otherwise(0L)).as(s"c$i") }
    val sumAbs = types.indices
      .map(i => abs(col(s"c$i") * lit(k.toLong) - col("n"))).reduce(_ + _)
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 day"))
      .agg(cs.head, cs.tail :+ count(lit(1)).as("n"): _*)
      .select(col("window.start").as("day") +: col("n").as("n_events") +:
        types.zipWithIndex.map { case (t, i) => col(s"c$i").as(s"n_$t") } :+
        sumAbs.as("sum_abs"): _*)
      .withColumn("tvd_ppm",
        expr(s"CAST((1000000 * sum_abs) DIV (2 * $k * n_events) AS BIGINT)"))
      .drop("sum_abs")
      .withColumn("drifted", col("tvd_ppm") > thresholdPpm)
  }

  /** Oracle SQL for [[mixDrift]]: the batch per-day mix cut at the final
    * watermark (ms-truncated max event time minus the 2 h delay).
    */
  def mixDriftSql(types: Seq[String], thresholdPpm: Long): String = {
    val k = types.length
    val cSel = types.map(t =>
      s"CAST(sum(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS n_$t").mkString(",\n|         ")
    val sumAbs = types.map(t => s"abs($k * n_$t - n_events)").mkString(" + ")
    s"""WITH mx AS (SELECT max(ts) AS mx FROM events),
       |w AS (
       |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       |         count(*) AS n_events,
       |         $cSel
       |  FROM events GROUP BY 1)
       |SELECT w.day, w.n_events, ${types.map(t => s"w.n_$t").mkString(", ")},
       |       CAST((1000000 * ($sumAbs)) // (2 * $k * n_events) AS BIGINT) AS tvd_ppm,
       |       CAST((1000000 * ($sumAbs)) // (2 * $k * n_events) AS BIGINT) > $thresholdPpm AS drifted
       |FROM w, mx
       |WHERE epoch_us(w.day) + 86400000000
       |      <= (epoch_us(mx.mx) // 1000) * 1000 - 7200000000
       |ORDER BY w.day""".stripMargin
  }

  /** Streaming exact dedup keyed on (fingerprint, ts): drops exact
    * replays of the same event — two occurrences of a fingerprint at
    * DIFFERENT event times both pass. For content dedup use
    * [[streamingDedupWithinWatermark]].
    */
  def streamingDedup(docs: DataFrame, fingerprintCol: String): DataFrame =
    docs
      .withWatermark("ts", "1 hour")
      .dropDuplicates(fingerprintCol, "ts")

  /** Gap sessions via the BUILT-IN `session_window` aggregation — the
    * engine-managed counterpart of the custom [[sessionize]]
    * (flatMapGroupsWithState): state merging, timeout and finalization
    * all come from the operator. Windows span `[first, last + gap]` for
    * MERGING purposes: an event landing exactly at `last + gap` joins
    * the session (inclusive bound — measured, locked by the boundary
    * spec; the docs' `[start, end)` phrasing describes window identity,
    * not the merge test). Append mode emits a session once the
    * watermark passes its end. Keeping both formulations is deliberate:
    * the built-in for plain gap aggregation, fMGWS where emission logic
    * is custom (emit-on-close, per-session payloads).
    */
  def sessionWindowCounts(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("s_start_us"),
        unix_micros(col("session_window.end")).as("s_end_us"),
        col("n_events"), col("sum_value"))

  /** Content dedup: first occurrence of each fingerprint wins and later
    * duplicates inside the watermark horizon are dropped regardless of
    * their event time; fingerprint state older than the watermark is
    * reclaimed — the streaming member of the [[graft.ops.Dedup]] family
    * (bounded state; an unbounded `dropDuplicates` would OOM a 100 TB/day
    * stream).
    */
  def streamingDedupWithinWatermark(docs: DataFrame, fingerprintCol: String): DataFrame =
    docs
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark(fingerprintCol)

  /** Stream-stream interval join: each left event pairs with right
    * events for the same key within `[left.ts, left.ts + windowSeconds]`
    * — click-to-purchase attribution, request/response correlation. Both
    * sides carry watermarks so Spark bounds the join state: a buffered
    * row is dropped once the other side's watermark passes its join
    * window (unbounded buffering would OOM any real stream).
    *
    * `delay` is the lateness/state knob: production streams keep it tight
    * (state ∝ delay + window); the oracle-checked replay widens it past
    * the fixture span so the inner join provably emits every pair and the
    * batch join is the exact oracle. Eviction under a tight delay is
    * covered by the spec.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, windowSeconds: Long,
                   delay: String = "1 hour", joinType: String = "inner"): DataFrame = {
    val l = left
      .select(col("user_id"), col("ts").as("l_ts"), col("event_type").as("l_type"))
      .withWatermark("l_ts", delay)
    val r = right
      .select(col("user_id").as("r_user"), col("ts").as("r_ts"), col("event_type").as("r_type"))
      .withWatermark("r_ts", delay)
    l.join(r,
      col("user_id") === col("r_user") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr(s"INTERVAL $windowSeconds SECONDS"),
      joinType)
      .select(col("user_id"), col("l_ts"), col("l_type"), col("r_ts"), col("r_type"))
  }

  /** Per-batch dimension enrichment — the slowly-changing-dimension join
    * every CDC consumer runs (enrich the change stream with the CURRENT
    * dimension row). The dimension is re-read from its path inside
    * `foreachBatch`, so dimension updates take effect at the next batch
    * boundary — a plain stream-static join can serve a stale file index
    * for the life of the query, which is exactly the bug this shape
    * avoids. The dimension is broadcast per batch: the stream side never
    * shuffles, and at 100 TB/day stream rates the join cost is the
    * broadcast build only (dimension-sized, not stream-sized).
    *
    * `collect` receives each enriched micro-batch; production would write
    * a sink here (the spec asserts v1 rows see v1 names and post-update
    * rows see v2 — batch-boundary consistency).
    */
  def runEnrichedStream(stream: DataFrame, dimPath: String, key: String,
                        checkpoint: String)(collect: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val dim = batch.sparkSession.read.parquet(dimPath)
        collect(batch.join(broadcast(dim), Seq(key), "left"), batchId)
      }
      .start()

  final case class AttribInput(event_id: Long, user_id: Long,
                               ts: java.sql.Timestamp, event_type: String)
  final case class ClickState(click_id: Long, click_us: Long)
  final case class AttribOut(purchase_id: Long, user_id: Long,
                             click_id: Option[Long], lag_us: Option[Long])

  private def usOf(t: java.sql.Timestamp): Long =
    (t.getTime / 1000L) * 1000000L + t.getNanos / 1000L

  /** Streaming last-touch attribution — the incremental counterpart of
    * [[graft.ops.Analytics.lastTouchAttribution]]. State per user is ONE
    * (click_id, click_us) pair (constant-size — no history buffering);
    * each purchase reads it and emits immediately. Given in-event-time
    * delivery per user, the streamed output over any batch split equals
    * the batch carry-forward window (proved by the batch-split spec);
    * within a batch rows are sorted by (event time µs, event_id), the
    * same total order the batch window uses.
    */
  def attribution(events: Dataset[AttribInput], windowUs: Long): Dataset[AttribOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[ClickState, AttribOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[AttribInput], state: GroupState[ClickState]) =>
          val sorted = rows.toSeq.sortBy(e => (usOf(e.ts), e.event_id))
          val out = List.newBuilder[AttribOut]
          var st = state.getOption
          for (e <- sorted) e.event_type match {
            case "click" => st = Some(ClickState(e.event_id, usOf(e.ts)))
            case "purchase" =>
              val t = usOf(e.ts)
              out += (st match {
                case Some(c) if t - c.click_us <= windowUs =>
                  AttribOut(e.event_id, user, Some(c.click_id), Some(t - c.click_us))
                case _ => AttribOut(e.event_id, user, None, None)
              })
            case _ => ()
          }
          st.foreach(state.update)
          out.result().iterator
      }
  }

  final case class CepInput(
      event_id: Long, user_id: Long, ts: java.sql.Timestamp, event_type: String)
  /** Constant-size CEP state per user: the latest signup's event time,
    * and the latest click that HAD a signup before it (carrying that
    * signup's time — a later signup must not retroactively re-anchor an
    * already-taken click). -1L = absent (sentinel keeps the state a flat
    * product of primitives — one fixed-width row in the state store).
    */
  final case class FunnelState(sig_us: Long, click_us: Long, click_sig_us: Long)
  final case class FunnelOut(
      event_id: Long, user_id: Long, signup_us: Long, click_us: Long,
      purchase_us: Long, span_us: Long)

  /** Streaming complex-event pattern match (the Flink-CEP shape): per
    * user, signup → click → purchase in event-time order with the whole
    * span inside `windowUs`, matched with LAST-predecessor semantics —
    * each purchase anchors to the latest preceding click that itself had
    * a signup before it. State is ONE constant-size row per user (no
    * event buffering — the pattern's memory is exactly its last partial
    * match), matches emit immediately in the purchase's micro-batch, and
    * the streamed output over any batch split equals one batch
    * carry-forward window pass (the [[attribution]] design; batch-split
    * spec pins it). Within a batch rows are sorted by (event time µs,
    * event_id) — the same total order the batch oracle's window frames
    * use. A purchase does not consume the click: a second purchase
    * inside the window re-matches the same prefix, exactly like the
    * batch semantics.
    */
  def funnelMatch(events: Dataset[CepInput], windowUs: Long): Dataset[FunnelOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[CepInput], state: GroupState[FunnelState]) =>
          val sorted = rows.toSeq.sortBy(e => (usOf(e.ts), e.event_id))
          val out = List.newBuilder[FunnelOut]
          var st = state.getOption.getOrElse(FunnelState(-1L, -1L, -1L))
          for (e <- sorted) e.event_type match {
            case "signup" => st = st.copy(sig_us = usOf(e.ts))
            case "click" if st.sig_us >= 0L =>
              st = st.copy(click_us = usOf(e.ts), click_sig_us = st.sig_us)
            case "purchase" if st.click_us >= 0L =>
              val t = usOf(e.ts)
              if (t - st.click_sig_us <= windowUs)
                out += FunnelOut(e.event_id, user, st.click_sig_us, st.click_us, t,
                  t - st.click_sig_us)
            case _ => ()
          }
          if (st.sig_us >= 0L || st.click_us >= 0L) state.update(st)
          out.result().iterator
      }
  }

  /** Batch oracle of [[funnelMatch]] (DuckDB): the carry-forward frames
    * UNBOUNDED..CURRENT are equivalent to the sequential scan because
    * the carried CASE is NULL on the current row itself (a click is not
    * a signup; a purchase is not a click).
    */
  def funnelMatchSql(windowUs: Long): String =
    s"""WITH e AS (
       |  SELECT event_id, user_id, event_type, epoch_us(ts) AS us FROM events),
       |sigc AS (
       |  SELECT *,
       |    last_value(CASE WHEN event_type = 'signup' THEN us END IGNORE NULLS)
       |      OVER (PARTITION BY user_id ORDER BY us, event_id
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_sig
       |  FROM e),
       |carr AS (
       |  SELECT *,
       |    last_value(CASE WHEN event_type = 'click' AND last_sig IS NOT NULL
       |                    THEN us END IGNORE NULLS)
       |      OVER (PARTITION BY user_id ORDER BY us, event_id
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS click_us,
       |    last_value(CASE WHEN event_type = 'click' AND last_sig IS NOT NULL
       |                    THEN last_sig END IGNORE NULLS)
       |      OVER (PARTITION BY user_id ORDER BY us, event_id
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS click_sig_us
       |  FROM sigc)
       |SELECT event_id, user_id, click_sig_us AS signup_us, click_us,
       |       us AS purchase_us, us - click_sig_us AS span_us
       |FROM carr
       |WHERE event_type = 'purchase' AND click_sig_us IS NOT NULL
       |  AND us - click_sig_us <= $windowUs
       |ORDER BY event_id""".stripMargin

  final case class ZInput(event_id: Long, ts: java.sql.Timestamp,
    event_type: String, value: Double)
  final case class ZState(n: Long, s: Long, q: Long)
  final case class ZOut(event_id: Long, event_type: String, v_centi: Long,
    n_prior: Long, mean_centi_prior: Long)

  /** Streaming anomaly gate: flag an event whose cent-value sits more
    * than `z` population standard deviations from the running mean of
    * all STRICTLY EARLIER events of its type (order: event time, then
    * event_id — the same total order every batch oracle here uses).
    * The online-monitor shape: state per key is three integers
    * (n, Σx, Σx²), constant-size forever, no event buffering.
    *
    * Exactness device: |x − s/n| > z·σ with σ² = (n·q − s²)/n² is
    * cross-multiplied to (n·x − s)² > z²·(n·q − s²) — evaluated in
    * BigInt (n·x reaches 5.6e9 here; its square passes 2^63), so the
    * gate is EXACT and the streamed flags equal the batch
    * prefix-window oracle bit-for-bit. No sqrt, no float, no
    * interpolated threshold.
    *
    * Cross-batch correctness needs in-event-time delivery per type,
    * which the ts-ordered chunk feed provides (the [[funnelMatch]]
    * delivery contract); within a batch the group sorts explicitly.
    */
  def zscoreGate(events: Dataset[ZInput], z: Long, minN: Long): Dataset[ZOut] = {
    import events.sparkSession.implicits._
    require(z >= 1 && minN >= 2, s"bad gate params: z=$z minN=$minN")
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[ZState, ZOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (typ: String, rows: Iterator[ZInput], state: GroupState[ZState]) =>
          val sorted = rows.toSeq.sortBy(e => (usOf(e.ts), e.event_id))
          val out = List.newBuilder[ZOut]
          var st = state.getOption.getOrElse(ZState(0L, 0L, 0L))
          for (e <- sorted) {
            val x = math.round(e.value * 100)
            if (st.n >= minN) {
              val dev = BigInt(st.n) * x - BigInt(st.s)
              val varTerm = BigInt(st.n) * st.q - BigInt(st.s) * st.s
              if (dev * dev > BigInt(z * z) * varTerm)
                out += ZOut(e.event_id, typ, x, st.n, st.s / st.n)
            }
            st = ZState(st.n + 1, st.s + x, st.q + x * x)
          }
          state.update(st)
          out.result().iterator
      }
  }

  /** Batch oracle of [[zscoreGate]]: the prefix frame UNBOUNDED..1
    * PRECEDING is exactly "all strictly earlier events of my type". */
  def zscoreGateSql(z: Long, minN: Long): String =
    s"""WITH e AS (
       |  SELECT event_id, event_type, epoch_us(ts) AS us,
       |         CAST(round(value * 100) AS BIGINT) AS x
       |  FROM events),
       |pre AS (
       |  SELECT *, count(*) OVER w AS n, sum(x) OVER w AS s, sum(x * x) OVER w AS q
       |  FROM e WINDOW w AS (PARTITION BY event_type ORDER BY us, event_id
       |                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
       |SELECT event_id, event_type, x AS v_centi, CAST(n AS BIGINT) AS n_prior,
       |       CAST(s // n AS BIGINT) AS mean_centi_prior
       |FROM pre
       |WHERE n >= $minN
       |  AND CAST(n * x - s AS HUGEINT) * CAST(n * x - s AS HUGEINT)
       |      > ${z * z} * (CAST(n AS HUGEINT) * CAST(q AS HUGEINT)
       |                    - CAST(s AS HUGEINT) * CAST(s AS HUGEINT))
       |ORDER BY event_id""".stripMargin

  final case class RateInput(event_id: Long, ts: java.sql.Timestamp, user_id: Long)
  final case class RateState(window: Long, n: Long)
  final case class ThrottleOut(event_id: Long, user_id: Long,
    window_us: Long, n_in_window: Long)

  /** Streaming fixed-window rate limiter: per user, allow the first
    * `k` events of each tumbling window of `windowUs` event-time
    * microseconds and EMIT every event past the budget (rank included —
    * the abuse/bot-throttle gate at ingest, and the dual of
    * [[streamingDedup]]: dedup suppresses repeats of a KEY, this
    * suppresses excess within a WINDOW). State per user is one
    * (window, count) pair — constant size, windows reset in place, no
    * event buffering and no timeout bookkeeping.
    *
    * Deterministic under the in-event-time delivery contract
    * ([[funnelMatch]]); within a batch the group sorts by (event time,
    * event_id). Oracle: the per-(user, window) row_number > k rows of
    * the batch table — exact, no floats anywhere.
    */
  def rateLimit(events: Dataset[RateInput], windowUs: Long, k: Long): Dataset[ThrottleOut] = {
    import events.sparkSession.implicits._
    require(windowUs >= 1 && k >= 1, s"bad limiter params: $windowUs, $k")
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[RateState, ThrottleOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[RateInput], state: GroupState[RateState]) =>
          val sorted = rows.toSeq.sortBy(e => (usOf(e.ts), e.event_id))
          val out = List.newBuilder[ThrottleOut]
          var st = state.getOption.getOrElse(RateState(Long.MinValue, 0L))
          for (e <- sorted) {
            val w = usOf(e.ts) / windowUs
            if (w != st.window) st = RateState(w, 0L)
            st = st.copy(n = st.n + 1)
            if (st.n > k) out += ThrottleOut(e.event_id, user, w * windowUs, st.n)
          }
          state.update(st)
          out.result().iterator
      }
  }

  def rateLimitSql(windowUs: Long, k: Long): String =
    s"""WITH e AS (
       |  SELECT event_id, user_id, epoch_us(ts) AS us FROM events),
       |r AS (
       |  SELECT event_id, user_id, (us // $windowUs) * $windowUs AS window_us,
       |         row_number() OVER (PARTITION BY user_id, us // $windowUs
       |                            ORDER BY us, event_id) AS rn
       |  FROM e)
       |SELECT event_id, user_id, window_us, CAST(rn AS BIGINT) AS n_in_window
       |FROM r WHERE rn > $k ORDER BY event_id""".stripMargin

  final case class AbsenceInput(user_id: Long, ts: java.sql.Timestamp, event_type: String)
  final case class AbsenceState(pending: List[Long])
  final case class AbsenceOut(user_id: Long, signup_us: Long, deadline_us: Long)

  /** ABSENCE detection — alert when an expected follow-up does NOT
    * arrive: every signup that is not followed by a purchase within
    * `withinMs` emits an alert once the event-time watermark passes its
    * deadline. The semantically inverted sibling of the CEP funnel
    * (which matches occurrence): the state machine must prove a
    * NEGATIVE, which only the watermark can close.
    *
    * State per user: the PENDING signup timestamps (bounded by signups
    * inside one `withinMs` horizon — old entries either clear on a
    * purchase or expire at the timeout), with the event-time timeout
    * armed at the earliest pending deadline. A purchase clears exactly
    * the pendings it satisfies (signup_ts ∈ [p_ts − within, p_ts]);
    * batch rows process in event-time order so an in-batch
    * signup→purchase pair resolves without ever arming a timer.
    */
  def absenceAlerts(events: Dataset[AbsenceInput], withinMs: Long): Dataset[AbsenceOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AbsenceState, AbsenceOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[AbsenceInput], state: GroupState[AbsenceState]) =>
          // one path for a timer firing (no rows) and for new rows: fold
          // the rows into the pendings, then emit every pending whose
          // deadline is STRICTLY before the watermark (Spark fires a
          // timer only once wm exceeds it — the strict compare keeps the
          // == boundary consistent with the oracle cut) and arm the rest.
          // A new-rows call must emit too: a carried pending whose
          // deadline the watermark has already passed cannot be re-armed
          // (Spark rejects a timeout earlier than the watermark).
          var pending = state.getOption.map(_.pending).getOrElse(Nil)
          for (e <- rows.toSeq.sortBy(_.ts.getTime)) {
            val t = e.ts.getTime
            e.event_type match {
              case "signup" => pending = t :: pending
              case "purchase" =>
                pending = pending.filterNot(s => s <= t && t <= s + withinMs)
              case _ => ()
            }
          }
          val (expired, live) = pending.partition(_ + withinMs < state.getCurrentWatermarkMs())
          if (live.isEmpty) state.remove()
          else {
            state.update(AbsenceState(live))
            state.setTimeoutTimestamp(live.min + withinMs)
          }
          expired.sorted.iterator.map(s =>
            AbsenceOut(user, s * 1000L, (s + withinMs) * 1000L))
      }
  }

  /** Oracle for [[absenceAlerts]]: signups with no purchase inside
    * [s, s+within], finalized (deadline past the ms-truncated
    * watermark cut). */
  def absenceAlertsSql(withinMs: Long): String =
    s"""WITH mx AS (SELECT max(ts) AS mx FROM events),
       |s AS (
       |  SELECT user_id, epoch_us(ts) AS s_us FROM events
       |  WHERE event_type = 'signup'),
       |p AS (
       |  SELECT user_id, epoch_us(ts) AS p_us FROM events
       |  WHERE event_type = 'purchase')
       |SELECT s.user_id, (s.s_us // 1000) * 1000 AS signup_us,
       |       (s.s_us // 1000) * 1000 + ${withinMs * 1000L} AS deadline_us
       |FROM s, mx
       |WHERE NOT EXISTS (
       |  SELECT 1 FROM p
       |  WHERE p.user_id = s.user_id
       |    AND (p.p_us // 1000) >= (s.s_us // 1000)
       |    AND (p.p_us // 1000) <= (s.s_us // 1000) + $withinMs)
       |  AND (s.s_us // 1000) * 1000 + ${withinMs * 1000L}
       |      < ((epoch_us(mx.mx) // 1000) - 7200000) * 1000
       |ORDER BY user_id, signup_us""".stripMargin

  final case class SessionInput(user_id: Long, ts: java.sql.Timestamp, event_type: String)
  final case class SessionState(start: Long, last: Long, n: Int)
  final case class SessionOut(user_id: Long, start_ms: Long, end_ms: Long, n_events: Int)

  /** Gap-based sessionization: a session closes when no event arrives
    * within `gapMs` of event time (watermark-driven timeout). Emits one
    * row per closed session.
    */
  def sessionize(events: Dataset[SessionInput], gapMs: Long): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[SessionInput], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(user, s.start, s.last, s.n))
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var closed = List.empty[SessionOut]
            var cur = state.getOption
            for (e <- sorted) {
              val t = e.ts.getTime
              cur = cur match {
                case Some(s) if t - s.last <= gapMs =>
                  Some(s.copy(last = t, n = s.n + 1))
                case Some(s) => // gap exceeded inside the batch: close + restart
                  closed ::= SessionOut(user, s.start, s.last, s.n)
                  Some(SessionState(t, t, 1))
                case None => Some(SessionState(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last + gapMs)
            }
            closed.reverseIterator
          }
      }
  }
}
