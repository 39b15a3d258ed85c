package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The heart of the engine: turn an ordered changelog into table state.
  *
  * The reference applies events one-by-one over JDBC, serialized per
  * (table, pk) partition (reference: worker/DefaultApplyWorker.scala:31-115,
  * pipeline/CDCStreamPipeline.scala:90-112). The set-oriented equivalent —
  * and the only formulation that scales to a 1000-executor cluster — is
  * last-write-wins per primary key:
  *
  *   state(changelog) = for each pk, the row with max pos, dropped if its
  *   op is Delete.
  *
  * This is a single hash-shuffle by pk (exactly the reference's router
  * guarantee, router/EventRouter.scala:25-32, expressed as Spark's
  * HashPartitioner) followed by a partial-aggregating max_by — no sort, no
  * window buffer. Applying a batch twice yields the same state
  * (idempotence), which is what makes `foreachBatch` replay safe — the
  * same property the reference gets from `INSERT ... ON DUPLICATE KEY
  * UPDATE` (MySQLSinkConnector.scala:81-90).
  */
object ChangelogApply {

  /** The LWW kernel: per `keys` group, the `carried` columns of the row
    * with the greatest `pos`, flattened back to top-level columns.
    *
    * Implementation note: `max_by(struct(...), pos)` instead of a
    * `row_number` window — the aggregate gets map-side partial aggregation
    * and whole-stage codegen; a window would buffer and sort every
    * partition. On 100 TB of changelog that is the difference between one
    * shuffle of pre-combined partials and a full sort.
    */
  def lastByPos(df: DataFrame, keys: Seq[String], carried: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(max_by(struct(carried.map(col): _*), col("pos")).as("last"))
      .select(keys.map(col) ++ carried.map(c => col(s"last.$c").as(c)): _*)

  /** Materialize current state from a changelog envelope
    * (tbl, pk, op, ts, pos, value).
    */
  def materialize(changelog: DataFrame): DataFrame =
    materializeWide(changelog, Seq("value"))

  /** Kafka-style log compaction with tombstone GC: the compacted log
    * keeps exactly the LATEST event per (tbl, pk) — INCLUDING delete
    * tombstones, which replicas that have not yet consumed the delete
    * still need — except tombstones at or below the retention frontier
    * (`min(pos) + gcFraction·(max−min)`), which every replica has
    * provably passed and can be physically dropped.
    *
    * Scale shape: one (tbl, pk) shuffle for the max_by partial-aggregate
    * (same cost as [[materialize]]); the frontier is a one-row aggregate
    * broadcast into the filter — no second pass over the log.
    */
  def compactLog(changelog: DataFrame, gcFraction: Double): DataFrame = {
    val last = lastByPos(changelog, Seq("tbl", "pk"), Seq("op", "ts", "pos", "value"))
    val frontier = changelog.agg(
      (min(col("pos")) +
        floor(lit(gcFraction) * (max(col("pos")) - min(col("pos")))).cast("long"))
        .as("gc_frontier"))
    last.crossJoin(broadcast(frontier))
      .filter(!(col("op") === "D" && col("pos") <= col("gc_frontier")))
      .select(col("tbl"), col("pk"), col("op"), col("ts"), col("pos"), col("value"),
        (col("op") === "D").as("is_tombstone"))
  }

  def compactLogSql(clCte: String, gcFraction: Double): String =
    s"""WITH cl AS ($clCte),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY tbl, pk ORDER BY pos DESC) AS rn
       |  FROM cl),
       |f AS (SELECT min(pos) + CAST(floor(${gcFraction}e0 * (max(pos) - min(pos))) AS BIGINT)
       |        AS gc_frontier FROM cl)
       |SELECT tbl, pk, op, ts, pos, value, (op = 'D') AS is_tombstone
       |FROM ranked, f
       |WHERE rn = 1 AND NOT (op = 'D' AND pos <= f.gc_frontier)""".stripMargin

  /** Merge a snapshot (base table state) with changelog deltas:
    * full-outer join by key; a delta overrides the base row, a trailing
    * Delete removes it, an Insert/Update with no base row creates it.
    *
    * This is the Spark expression of the reference's W1-W3 sink trio
    * (upsert / keyed update / keyed delete,
    * MySQLSinkConnector.scala:81-108) — a MERGE reformulated as join, so
    * it runs as one shuffle instead of per-row point writes. `base` is
    * expected keyed by `key`; `delta` is a changelog envelope whose pk
    * aligns with `base(key)`.
    */
  def mergeSnapshot(base: DataFrame, key: String, delta: DataFrame): DataFrame = {
    val last = materializeAll(delta) // keep D rows: they drive removals
    base.as("b")
      .join(last.as("d"), col(s"b.$key") === col("d.pk"), "full_outer")
      .filter(coalesce(col("d.op") =!= "D", lit(true))) // trailing delete removes the key
      .select(
        coalesce(col(s"b.$key"), col("d.pk")).as(key),
        coalesce(col("d.value"), col("b.base_value")).as("value"),
        when(col("d.pk").isNotNull, col("d.op")).otherwise(lit("B")).as("src")
      )
  }

  /** Envelope-shaped LWW compaction that KEEPS tombstones: one row per
    * (tbl, pk) with the latest op — the state representation used by the
    * streaming/engine layers (tombstones must survive so later merges
    * can't resurrect deleted keys).
    */
  def materializeEnvelope(changelog: DataFrame,
                          payloadCols: Seq[String] = Seq("value")): DataFrame =
    lastByPos(changelog, Seq("tbl", "pk"), Seq("op", "ts", "pos") ++ payloadCols)

  /** Like [[materialize]] but keeps Delete rows (needed by the merge). */
  def materializeAll(changelog: DataFrame): DataFrame =
    lastByPos(changelog, Seq("pk"), Seq("op", "pos", "value"))

  /** Point-in-time (as-of) lookup: for each (tbl, pk, asof_pos) probe,
    * the row state as of that log position — time-travel reads over the
    * changelog, the query shape a CDC-fed lakehouse serves constantly.
    *
    * Scale-safe shape (a left-outer with the probe side hinted cannot
    * build-right-broadcast, so the planner would broadcast the CHANGELOG —
    * fatal at 100 TB):
    *   1. INNER join with `broadcast(probes)` as the build side — the
    *      changelog streams through the BHJ, never shuffling or
    *      broadcasting; only rows matching a probe key survive.
    *   2. per-probe LWW via max_by partial agg (hits ≤ |probes| rows).
    *   3. probes with no history at their position come back via a
    *      RIGHT-outer join of the tiny hits frame against the probes —
    *      probe-count-sized, reported absent (op 'X').
    */
  def asOfLookup(changelog: DataFrame, probes: DataFrame): DataFrame =
    asOfLookupWide(changelog, probes, Seq("value"))

  /** [[asOfLookup]] generalized over a wide envelope: the time-travel
    * read returns the FULL row image (every payload column) as of the
    * probed position. Same scale-safe shape — the payload rides inside
    * the max_by struct, so width adds bytes, never shuffles.
    */
  def asOfLookupWide(changelog: DataFrame, probes: DataFrame,
                     payloadCols: Seq[String]): DataFrame = {
    val p = probes.select(col("tbl").as("p_tbl"), col("pk").as("p_pk"), col("asof_pos"))
    val hits = lastByPos(changelog
      .join(broadcast(p),
        col("p_tbl") === col("tbl") && col("p_pk") === col("pk") &&
          col("pos") <= col("asof_pos"), "inner"),
      Seq("p_tbl", "p_pk", "asof_pos"), "op" +: payloadCols)
    broadcast(hits)
      .join(p, Seq("p_tbl", "p_pk", "asof_pos"), "right_outer")
      .select(Seq(col("p_tbl").as("tbl"), col("p_pk").as("pk"), col("asof_pos"),
        coalesce(col("op"), lit("X")).as("op")) ++
        payloadCols.map(c => when(col("op").isNotNull && col("op") =!= "D", col(c)).as(c)): _*)
      .orderBy("tbl", "pk", "asof_pos")
  }

  /** Oracle SQL: probes CTE must be named `probes`. */
  def asOfLookupSql(clCte: String, probesCte: String): String =
    asOfLookupWideSql(clCte, probesCte, Seq("value"))

  def asOfLookupWideSql(clCte: String, probesCte: String, payloadCols: Seq[String]): String = {
    val sel = payloadCols.map(c => s"cl.$c").mkString(", ")
    val out = payloadCols.map(c =>
      s"CASE WHEN op IS NOT NULL AND op <> 'D' THEN $c END AS $c").mkString(",\n       ")
    s"""WITH cl AS ($clCte),
       |probes AS ($probesCte),
       |joined AS (
       |  SELECT p.tbl AS p_tbl, p.pk AS p_pk, p.asof_pos, cl.op, $sel, cl.pos
       |  FROM probes p LEFT JOIN cl
       |    ON p.tbl = cl.tbl AND p.pk = cl.pk AND cl.pos <= p.asof_pos),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY p_tbl, p_pk, asof_pos ORDER BY pos DESC NULLS LAST) AS rn
       |  FROM joined)
       |SELECT p_tbl AS tbl, p_pk AS pk, asof_pos,
       |       coalesce(op, 'X') AS op,
       |       $out
       |FROM ranked WHERE rn = 1 ORDER BY tbl, pk, asof_pos""".stripMargin
  }

  /** Wide-envelope LWW: one row per live (tbl, pk) carrying the FULL
    * after-image (every payload column), not just a scalar —
    * [[materializeEnvelope]] with the tombstones dropped. The payload
    * rides inside the kernel's partial-aggregated struct, so widening the
    * row adds bytes but no new shuffle or sort.
    */
  def materializeWide(changelog: DataFrame, payloadCols: Seq[String]): DataFrame =
    materializeEnvelope(changelog, payloadCols).filter(col("op") =!= "D")

  /** Oracle SQL for [[materializeWide]]: `clCte` must yield the decoded
    * wide envelope (tbl, pk, op, ts, pos, payload...).
    */
  def materializeWideSql(clCte: String, payloadCols: Seq[String]): String =
    s"""WITH cl AS ($clCte),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY tbl, pk ORDER BY pos DESC) AS rn
       |  FROM cl)
       |SELECT tbl, pk, op, ts, pos, ${payloadCols.mkString(", ")}
       |FROM ranked WHERE rn = 1 AND op <> 'D'""".stripMargin

  /** Changed-FIELD-SET diff over a wide envelope: for every event with a
    * predecessor on its key, the set of payload columns whose value
    * differs from the before-image (reference semantics:
    * worker/DefaultApplyWorker.scala:143-163 — after-fields differing from
    * before, a field absent from before counts as changed; null-aware via
    * `<=>`). The before-image is the previous after-image on the key,
    * recovered with one `lag` window per payload column — a single
    * per-key sort shared by all columns.
    *
    * Emits the UPDATE-audit rows (events that changed at least one field)
    * as (tbl, pk, pos, changed_fields, n_changed) with `changed_fields`
    * the alphabetically-joined column list.
    */
  def changedFieldSet(changelog: DataFrame, payloadCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(col("tbl"), col("pk")).orderBy(col("pos"))
    val sorted = payloadCols.sorted
    val withPrev = sorted.foldLeft(changelog.withColumn("prev_pos", lag(col("pos"), 1).over(w))) {
      (d, c) => d.withColumn(s"__prev_$c", lag(col(c), 1).over(w))
    }
    val marks = sorted.map(c => when(!(col(c) <=> col(s"__prev_$c")), lit(c)))
    val nChanged = sorted.map(c => when(!(col(c) <=> col(s"__prev_$c")), 1L).otherwise(0L)).reduce(_ + _)
    withPrev
      .filter(col("prev_pos").isNotNull)
      .withColumn("changed_fields", concat_ws(",", marks: _*))
      .withColumn("n_changed", nChanged)
      .filter(col("n_changed") > 0)
      .select("tbl", "pk", "pos", "changed_fields", "n_changed")
  }

  /** Oracle SQL for [[changedFieldSet]] (concat_ws skips NULLs in both
    * engines; IS DISTINCT FROM mirrors `<=>`'s negation).
    */
  def changedFieldSetSql(clCte: String, payloadCols: Seq[String]): String = {
    val sorted = payloadCols.sorted
    val lags = sorted.map(c => s"lag($c) OVER w AS __prev_$c").mkString(", ")
    val marks = sorted.map(c => s"CASE WHEN $c IS DISTINCT FROM __prev_$c THEN '$c' END").mkString(", ")
    val nChanged = sorted.map(c => s"CASE WHEN $c IS DISTINCT FROM __prev_$c THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH cl AS ($clCte),
       |d AS (
       |  SELECT *, lag(pos) OVER w AS prev_pos, $lags
       |  FROM cl WINDOW w AS (PARTITION BY tbl, pk ORDER BY pos))
       |SELECT tbl, pk, pos,
       |       concat_ws(',', $marks) AS changed_fields,
       |       CAST($nChanged AS BIGINT) AS n_changed
       |FROM d
       |WHERE prev_pos IS NOT NULL AND ($nChanged) > 0""".stripMargin
  }

  /** Per-pk changed-value diff for update auditing: compares each event's
    * value to the previous event on the same key (reference computes the
    * changed-field set per UPDATE, worker/DefaultApplyWorker.scala:143-163).
    * Here the previous row IS the before-image, recovered with `lag` over
    * the per-key position order.
    */
  def changedDiff(changelog: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("tbl"), col("pk")).orderBy(col("pos"))
    changelog
      .withColumn("prev_value", lag(col("value"), 1).over(w))
      .withColumn("changed",
        col("prev_value").isNotNull && col("value") =!= col("prev_value"))
  }

  /** SCD Type-2 history: every changelog event opens a row VERSION valid
    * from its position until the next event on the same key closes it
    * (that next event may be a Delete — deletes close versions but emit
    * none themselves). The open version of a live key is `is_current`.
    *
    * This is the warehouse-facing artifact a CDC feed exists to build —
    * the reference stops at point-in-time apply (worker/DefaultApplyWorker
    * .scala:31-115); materializing the full validity timeline is the same
    * per-key pass, so it costs exactly ChangelogApply's one hash shuffle
    * on (tbl, pk) plus a per-key sort (the interval endpoints genuinely
    * need neighbor order — this is the honest use of a window, unlike LWW
    * where max_by avoids it). History length per key is bounded by that
    * key's event count, so partition skew follows key skew and is
    * absorbed the same way (AQE skew splitting).
    */
  def scd2(changelog: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("tbl"), col("pk")).orderBy(col("pos"))
    changelog
      .withColumn("valid_to_pos", lead(col("pos"), 1).over(w))
      .filter(col("op") =!= "D")
      .select(
        col("tbl"), col("pk"), col("value"),
        col("pos").as("valid_from_pos"),
        col("valid_to_pos"),
        col("valid_to_pos").isNull.as("is_current"))
  }

  /** Oracle SQL for [[scd2]] given a changelog CTE body. */
  def scd2Sql(clCte: String): String =
    s"""WITH cl AS ($clCte),
       |v AS (
       |  SELECT tbl, pk, op, value, pos,
       |         lead(pos) OVER (PARTITION BY tbl, pk ORDER BY pos) AS valid_to_pos
       |  FROM cl)
       |SELECT tbl, pk, value, pos AS valid_from_pos, valid_to_pos,
       |       valid_to_pos IS NULL AS is_current
       |FROM v WHERE op <> 'D'""".stripMargin

  /** Incremental materialized-view maintenance: keep `SELECT tbl,
    * count(*), sum(value) GROUP BY tbl` up to date from changelog DELTAS
    * — never by re-aggregating the table.
    *
    * Each event contributes the difference against the pk's previous live
    * version (lag over the same (tbl, pk)-by-pos order the LWW merge
    * shuffles on): an insert (or the first event of a pk, or a
    * resurrection after a delete) adds (+1, +value); an update adds
    * (0, value − prev); a delete of a live row adds (−1, −prev); a
    * no-op delete adds nothing. Per pk the deltas TELESCOPE to exactly
    * the pk's contribution to the view, so summing deltas per tbl equals
    * aggregating the LWW state — the audit columns (`*_full`, recomputed
    * from [[materialize]]) assert that identity inside the result.
    *
    * Scale shape: the window reuses the LWW shuffle key; the delta sum is
    * a partial-merged aggregate over |tables| groups. At 100 TB the view
    * update per micro-batch touches O(batch) rows + the stored per-pk
    * prev image — never the accumulated table. Value deltas subtract in
    * DECIMAL(18,2) (exact, order-independent), cast to double at the edge.
    */
  def viewMaintenance(changelog: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("tbl"), col("pk")).orderBy(col("pos"))
    val dv = col("value").cast("decimal(18,2)")
    val deltas = changelog
      .withColumn("prev_op", lag(col("op"), 1).over(w))
      .withColumn("prev_v", lag(dv, 1).over(w))
      .withColumn("alive", col("prev_op").isNotNull && col("prev_op") =!= "D")
      .select(col("tbl"),
        when(col("op") === "D", when(col("alive"), lit(-1L)).otherwise(lit(0L)))
          .when(col("alive"), lit(0L)).otherwise(lit(1L)).as("d_cnt"),
        when(col("op") === "D",
            when(col("alive"), -col("prev_v")).otherwise(lit(0).cast("decimal(18,2)")))
          .when(col("alive"), dv - col("prev_v")).otherwise(dv).as("d_sum"))
    val maintained = deltas.groupBy(col("tbl"))
      .agg(sum(col("d_cnt")).as("n_rows"),
        sum(col("d_sum")).cast("double").as("sum_value"))
    val full = materialize(changelog).groupBy(col("tbl"))
      .agg(count(lit(1)).as("n_rows_full"),
        sum(dv).cast("double").as("sum_value_full"))
    maintained.join(full, "tbl")
      .select(col("tbl"), col("n_rows"), col("sum_value"),
        col("n_rows_full"), col("sum_value_full"),
        (col("n_rows") === col("n_rows_full") &&
          col("sum_value") === col("sum_value_full")).as("consistent"))
      .orderBy(col("tbl"))
  }

  /** Oracle SQL for [[viewMaintenance]] given a changelog CTE body. */
  def viewMaintenanceSql(clCte: String): String =
    s"""WITH cl AS ($clCte),
       |lagged AS (
       |  SELECT tbl, op, CAST(value AS DECIMAL(18,2)) AS dv,
       |         lag(op) OVER (PARTITION BY tbl, pk ORDER BY pos) AS prev_op,
       |         lag(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY tbl, pk ORDER BY pos) AS prev_v
       |  FROM cl),
       |deltas AS (
       |  SELECT tbl,
       |         CASE WHEN op = 'D' THEN CASE WHEN alive THEN -1 ELSE 0 END
       |              WHEN alive THEN 0 ELSE 1 END AS d_cnt,
       |         CASE WHEN op = 'D' THEN CASE WHEN alive THEN -prev_v ELSE CAST(0 AS DECIMAL(18,2)) END
       |              WHEN alive THEN dv - prev_v ELSE dv END AS d_sum
       |  FROM (SELECT *, prev_op IS NOT NULL AND prev_op <> 'D' AS alive FROM lagged)),
       |maintained AS (
       |  SELECT tbl, CAST(sum(d_cnt) AS BIGINT) AS n_rows,
       |         CAST(sum(d_sum) AS DOUBLE) AS sum_value
       |  FROM deltas GROUP BY tbl),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY tbl, pk ORDER BY pos DESC) AS rn
       |  FROM cl),
       |fullagg AS (
       |  SELECT tbl, count(*) AS n_rows_full,
       |         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value_full
       |  FROM ranked WHERE rn = 1 AND op <> 'D' GROUP BY tbl)
       |SELECT m.tbl, m.n_rows, m.sum_value, f.n_rows_full, f.sum_value_full,
       |       (m.n_rows = f.n_rows_full AND m.sum_value = f.sum_value_full) AS consistent
       |FROM maintained m JOIN fullagg f ON m.tbl = f.tbl
       |ORDER BY m.tbl""".stripMargin

  /** Source↔target reconciliation by range checksums (the
    * pt-table-checksum device): chunk each side's state by pk range,
    * reduce every chunk to (row count, order-independent content
    * checksum), and compare chunk summaries — the only thing that ever
    * crosses the network is |chunks| summary rows, never row data. A 100
    * TB table reconciles with one map-side partial aggregate per side
    * plus a join over summaries.
    *
    * The checksum is a SUM of per-row [[graft.functions.PortableHash]]
    * values in DECIMAL(38,0) — commutative (shuffle-order independent),
    * overflow-free, and bit-identical in the oracle. `target` is any
    * frame with the same (tbl, pk, pos, value) shape; drifted or missing
    * rows surface as chunk mismatches with per-chunk row counts, so the
    * repair job knows exactly which pk ranges to re-copy.
    */
  def reconcileRanges(source: DataFrame, target: DataFrame, chunkSize: Long): DataFrame = {
    def summarize(df: DataFrame, cnt: String, sum_ : String): DataFrame = df
      .select(col("tbl"), expr(s"pk div $chunkSize").as("chunk"),
        graft.functions.PortableHash.tokenHash(
          concat_ws("|", col("pk"), col("pos"), col("value").cast("decimal(18,2)")))
          .cast("decimal(38,0)").as("h"))
      .groupBy(col("tbl"), col("chunk"))
      .agg(count(lit(1)).as(cnt), sum(col("h")).as(sum_))
    summarize(source, "n_src", "h_src")
      .join(summarize(target, "n_tgt", "h_tgt"), Seq("tbl", "chunk"), "full_outer")
      .select(col("tbl"), col("chunk"),
        coalesce(col("n_src"), lit(0L)).as("n_src"),
        coalesce(col("n_tgt"), lit(0L)).as("n_tgt"),
        (coalesce(col("h_src"), lit(0).cast("decimal(38,0)")) ===
          coalesce(col("h_tgt"), lit(0).cast("decimal(38,0)"))).as("checksum_match"))
      .filter(!col("checksum_match") || col("n_src") =!= col("n_tgt"))
      .orderBy(col("tbl"), col("chunk"))
  }

  /** Liveness audit: inter-event gap statistics per table — the signal a
    * heartbeat monitor alarms on (a table whose max gap dwarfs its mean
    * has stalls; one whose last gap is the max is stalling NOW). One lag
    * window on the (tbl) shuffle, integral µs arithmetic, partial-merged
    * summary.
    */
  def heartbeatGaps(changelog: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("tbl")).orderBy(col("pos"))
    changelog
      .withColumn("gap_us", unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
      .filter(col("gap_us").isNotNull)
      .withColumn("gap_us", greatest(col("gap_us"), lit(0L)))
      .groupBy(col("tbl"))
      .agg(count(lit(1)).as("n_gaps"),
        max(col("gap_us")).as("max_gap_us"),
        round(sum(col("gap_us")).cast("double") /
          expr("nullif(CAST(count(1) AS DOUBLE), 0.0D)"), 2).as("mean_gap_us"))
      .orderBy("tbl")
  }

  /** Oracle SQL for [[heartbeatGaps]] given a changelog CTE body. */
  def heartbeatGapsSql(clCte: String): String =
    s"""WITH cl AS ($clCte),
       |raw AS (
       |  SELECT tbl,
       |         epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY tbl ORDER BY pos) AS raw_gap
       |  FROM cl),
       |g AS (
       |  SELECT tbl, greatest(raw_gap, 0) AS gap_us
       |  FROM raw WHERE raw_gap IS NOT NULL)
       |SELECT tbl, count(*) AS n_gaps,
       |       max(gap_us) AS max_gap_us,
       |       round(CAST(sum(gap_us) AS DOUBLE) / nullif(CAST(count(*) AS DOUBLE), 0.0), 2) AS mean_gap_us
       |FROM g GROUP BY tbl ORDER BY tbl""".stripMargin

  /** Incremental JOIN-view maintenance — the delta-join, the genuinely
    * hard half of IVM (single-table aggregates telescope trivially —
    * [[viewMaintenance]]; a JOIN's delta needs the OTHER side's value as
    * of each change). Maintains `SELECT t0.v * t1.v` for the 1:1 pairing
    * of t0/t1 rows under the household key jk = pk div 4, processing both
    * tables' events as ONE pos-ordered stream per jk: two carry-forward
    * windows track each side's latest (op, value), the pair contribution
    * recomputes at every event (0 while either side is absent or dead),
    * and per-jk deltas TELESCOPE to the final contribution — asserted
    * in-result against the full recompute (join of LWW states).
    *
    * Scale shape: one (jk) shuffle carries both windows and the lag (same
    * key, one sort); the audit join is per-jk. At 100 TB a micro-batch
    * touches O(batch) jks — the view is never re-joined from scratch.
    */
  def joinViewMaintenance(changelog: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("jk")).orderBy(col("pos"))
    val dv = col("value").cast("decimal(18,2)")
    val zero = lit(0).cast("decimal(37,4)")
    // pre-project the side markers, then apply all four carries in ONE
    // select: interleaved withColumns wrap each window input in its own
    // projection, which blocks window collapsing — Spark planned FIVE
    // Window operators (5 per-partition passes) for what is one spec
    val carried = changelog.filter(col("tbl").isin("t0", "t1"))
      .select(expr("pk div 4").as("jk"), col("pos"),
        when(col("tbl") === "t0", col("op")).as("m0_op"),
        when(col("tbl") === "t0", dv).as("m0_v"),
        when(col("tbl") === "t1", col("op")).as("m1_op"),
        when(col("tbl") === "t1", dv).as("m1_v"))
      .select(col("jk"), col("pos"),
        last(col("m0_op"), ignoreNulls = true).over(w).as("s0_op"),
        last(col("m0_v"), ignoreNulls = true).over(w).as("s0_v"),
        last(col("m1_op"), ignoreNulls = true).over(w).as("s1_op"),
        last(col("m1_v"), ignoreNulls = true).over(w).as("s1_v"))
      .withColumn("c",
        when(col("s0_op").isNotNull && col("s0_op") =!= "D" &&
          col("s1_op").isNotNull && col("s1_op") =!= "D",
          col("s0_v") * col("s1_v")).otherwise(zero))
      .withColumn("delta", col("c") - coalesce(lag(col("c"), 1).over(w), zero))
    val maintained = carried.groupBy(col("jk"))
      .agg(sum(col("delta")).cast("double").as("maintained_product"))
    val st = materialize(changelog.filter(col("tbl").isin("t0", "t1")))
      .withColumn("jk", expr("pk div 4"))
    val full = st.groupBy(col("jk"))
      .agg(coalesce(
        max(when(col("tbl") === "t0", dv)) * max(when(col("tbl") === "t1", dv)),
        lit(0).cast("decimal(37,4)")).cast("double").as("full_product"))
    maintained.join(full, Seq("jk"), "full_outer")
      .select(col("jk"),
        coalesce(col("maintained_product"), lit(0.0)).as("maintained_product"),
        coalesce(col("full_product"), lit(0.0)).as("full_product"))
      .withColumn("consistent", col("maintained_product") === col("full_product"))
      .orderBy("jk")
  }

  /** Oracle SQL for [[joinViewMaintenance]] given a changelog CTE body. */
  def joinViewMaintenanceSql(clCte: String): String =
    s"""WITH cl AS ($clCte),
       |ev AS (
       |  SELECT tbl, pk, op, pos, pk // 4 AS jk, CAST(value AS DECIMAL(18,2)) AS dv
       |  FROM cl WHERE tbl IN ('t0', 't1')),
       |car AS (
       |  SELECT jk, pos,
       |    last_value(CASE WHEN tbl = 't0' THEN op END IGNORE NULLS) OVER w AS s0_op,
       |    last_value(CASE WHEN tbl = 't0' THEN dv END IGNORE NULLS) OVER w AS s0_v,
       |    last_value(CASE WHEN tbl = 't1' THEN op END IGNORE NULLS) OVER w AS s1_op,
       |    last_value(CASE WHEN tbl = 't1' THEN dv END IGNORE NULLS) OVER w AS s1_v
       |  FROM ev WINDOW w AS (PARTITION BY jk ORDER BY pos)),
       |cc AS (
       |  SELECT jk, pos,
       |    CASE WHEN s0_op IS NOT NULL AND s0_op <> 'D'
       |          AND s1_op IS NOT NULL AND s1_op <> 'D'
       |         THEN s0_v * s1_v ELSE CAST(0 AS DECIMAL(36,4)) END AS c
       |  FROM car),
       |d AS (
       |  SELECT jk,
       |         c - coalesce(lag(c) OVER (PARTITION BY jk ORDER BY pos),
       |                      CAST(0 AS DECIMAL(36,4))) AS delta
       |  FROM cc),
       |maint AS (SELECT jk, CAST(sum(delta) AS DOUBLE) AS maintained_product FROM d GROUP BY jk),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY tbl, pk ORDER BY pos DESC) AS rn
       |  FROM cl WHERE tbl IN ('t0', 't1')),
       |st AS (
       |  SELECT tbl, pk // 4 AS jk, CAST(value AS DECIMAL(18,2)) AS dv
       |  FROM ranked WHERE rn = 1 AND op <> 'D'),
       |fullv AS (
       |  SELECT jk,
       |    CAST(coalesce(max(CASE WHEN tbl = 't0' THEN dv END)
       |                  * max(CASE WHEN tbl = 't1' THEN dv END),
       |                  CAST(0 AS DECIMAL(36,4))) AS DOUBLE) AS full_product
       |  FROM st GROUP BY jk)
       |SELECT coalesce(m.jk, f.jk) AS jk,
       |       coalesce(m.maintained_product, 0.0) AS maintained_product,
       |       coalesce(f.full_product, 0.0) AS full_product,
       |       coalesce(m.maintained_product, 0.0) = coalesce(f.full_product, 0.0) AS consistent
       |FROM maint m FULL OUTER JOIN fullv f ON m.jk = f.jk
       |ORDER BY jk""".stripMargin

  /** Snapshot diff: the state-level change set between two positions of
    * the same changelog — what a consumer that snapshotted at `cut` must
    * apply to catch up to head (reference: the snapshot→catchup handoff,
    * core/MySQLCDC.scala:109-160, computes exactly this set by replay).
    *
    * One aggregation computes BOTH snapshots: `max_by` over a
    * conditionally-null ordering key ignores rows past the cutoff (max_by
    * skips null keys), so the old and new images per pk come out of a
    * single (tbl, pk) shuffle — no second scan, no full-outer self-join
    * of two materialized states (the naive shape: 2 shuffles + a join).
    * The diff is state-based: a key rewritten to the same value is not a
    * change. At 100 TB this is the same cost as one LWW materialize.
    */
  def snapshotDiff(changelog: DataFrame): DataFrame = {
    val cut = changelog.agg(expr("(min(pos) + max(pos)) div 2").as("cut"))
    changelog.crossJoin(broadcast(cut))
      .groupBy(col("tbl"), col("pk"))
      .agg(
        max_by(struct(col("op"), col("pos"), col("value")),
          when(col("pos") <= col("cut"), col("pos"))).as("o"),
        max_by(struct(col("op"), col("pos"), col("value")), col("pos")).as("n"))
      .withColumn("old_alive", col("o").isNotNull && col("o.op") =!= "D")
      .withColumn("new_alive", col("n.op") =!= "D")
      .select(col("tbl"), col("pk"),
        when(!col("old_alive") && col("new_alive"), lit("I"))
          .when(col("old_alive") && !col("new_alive"), lit("D"))
          .when(col("old_alive") && col("new_alive") &&
            !(col("o.value") <=> col("n.value")), lit("U"))
          .as("change"),
        when(col("old_alive"), col("o.value")).as("old_value"),
        when(col("new_alive"), col("n.value")).as("new_value"))
      .filter(col("change").isNotNull)
      .orderBy(col("tbl"), col("pk"))
  }

  /** Oracle SQL for [[snapshotDiff]] given a changelog CTE body. */
  def snapshotDiffSql(clCte: String): String =
    s"""WITH cl AS ($clCte),
       |cut AS (SELECT (min(pos) + max(pos)) // 2 AS cut FROM cl),
       |old_r AS (
       |  SELECT tbl, pk, op, value,
       |         row_number() OVER (PARTITION BY tbl, pk ORDER BY pos DESC) AS rn
       |  FROM cl, cut WHERE pos <= cut),
       |old_s AS (SELECT tbl, pk, value FROM old_r WHERE rn = 1 AND op <> 'D'),
       |new_r AS (
       |  SELECT tbl, pk, op, value,
       |         row_number() OVER (PARTITION BY tbl, pk ORDER BY pos DESC) AS rn
       |  FROM cl),
       |new_s AS (SELECT tbl, pk, value FROM new_r WHERE rn = 1 AND op <> 'D'),
       |j AS (
       |  SELECT coalesce(o.tbl, n.tbl) AS tbl, coalesce(o.pk, n.pk) AS pk,
       |         o.value AS old_value, n.value AS new_value,
       |         o.pk IS NOT NULL AS old_alive, n.pk IS NOT NULL AS new_alive
       |  FROM old_s o FULL OUTER JOIN new_s n ON o.tbl = n.tbl AND o.pk = n.pk)
       |SELECT tbl, pk,
       |       CASE WHEN NOT old_alive THEN 'I'
       |            WHEN NOT new_alive THEN 'D'
       |            ELSE 'U' END AS change,
       |       old_value, new_value
       |FROM j
       |WHERE (NOT old_alive) OR (NOT new_alive)
       |   OR (old_value IS DISTINCT FROM new_value)
       |ORDER BY tbl, pk""".stripMargin

  /** Time-weighted average per table: each live row version contributes
    * its value weighted by how long it was current (event time until the
    * pk's next version, or the table's horizon = max event time). The
    * state-duration integral a monitoring consumer wants from a changelog
    * — a plain AVG over events weights a key that flapped 1000 times
    * 1000×, TWA weights it by wall-clock exposure.
    *
    * Scale shape: the lead() window rides the same (tbl, pk) shuffle key
    * as the LWW merge; the horizon is a |tables|-row aggregate broadcast
    * back; the final per-table aggregate is partial-merged. Durations are
    * integral microseconds, value×duration sums in DECIMAL (exact,
    * shuffle-order independent), double division only at the edge.
    * Out-of-order pos/ts pairs clamp to zero duration rather than
    * subtracting exposure (`greatest(dur, 0)`).
    */
  def timeWeightedAvg(changelog: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("tbl"), col("pk")).orderBy(col("pos"))
    val base = changelog.select(col("tbl"), col("pk"), col("op"), col("pos"),
      col("value").cast("decimal(18,2)").as("dv"), expr("unix_micros(ts)").as("us"))
    val tmax = base.groupBy(col("tbl")).agg(max(col("us")).as("horizon"))
    base.join(broadcast(tmax), "tbl")
      .withColumn("dur",
        greatest(coalesce(lead(col("us"), 1).over(w), col("horizon")) - col("us"), lit(0L)))
      .filter(col("op") =!= "D")
      .groupBy(col("tbl"))
      .agg(
        // nullif: a table whose every live interval is zero-length must
        // be NULL in BOTH engines (Spark's x/0 is NULL, DuckDB's is inf)
        round(sum(col("dv") * col("dur")).cast("double") /
          expr("nullif(CAST(sum(dur) AS DOUBLE), 0.0d)"), 6).as("twap"),
        sum(col("dur")).as("total_us"),
        count(lit(1)).as("n_intervals"))
      .orderBy(col("tbl"))
  }

  /** Transactionally-consistent cross-table cut: materialize EVERY table
    * at the same committable frontier — the min over tables of each
    * table's max applied position. Exporting tables independently at
    * "whatever position each reached" breaks cross-table invariants
    * (an order without its lineitems); exporting at the global frontier
    * is the consistent snapshot a downstream warehouse can trust. Output
    * is the per-table export manifest: rows, last position included, and
    * an order-independent state checksum.
    *
    * Scale shape: the frontier is a two-level aggregate (per-table max →
    * global min) broadcast back as a one-row frame; the filter + LWW is
    * the standard single-shuffle apply. Events above the frontier are
    * simply the next export's delta — nothing is lost, only deferred.
    */
  def consistentCut(changelog: DataFrame): DataFrame = {
    val frontier = changelog.groupBy(col("tbl")).agg(max(col("pos")).as("mx"))
      .agg(min(col("mx")).as("frontier"))
    val rowHash = graft.functions.PortableHash.tokenHash(
      concat_ws("|", col("pk"), col("pos"), floor(col("value") * 100).cast("long")))
      .cast("decimal(38,0)")
    val cut = changelog.crossJoin(broadcast(frontier))
      .filter(col("pos") <= col("frontier"))
    materialize(cut.drop("frontier"))
      .crossJoin(broadcast(frontier))
      .groupBy(col("tbl"), col("frontier"))
      .agg(count(lit(1)).as("n_rows"),
        max(col("pos")).as("max_pos_included"),
        // wide DECIMAL sum stays internal; export mod a prime < 2^53 so
        // the value is exact through any float64 round-trip downstream
        (sum(rowHash) % lit(9007199254740881L)).cast("long").as("state_checksum"))
      .orderBy("tbl")
  }

  /** Oracle SQL for [[consistentCut]] given a changelog CTE body. */
  def consistentCutSql(clCte: String): String = {
    val h = "CAST(concat('0x', substr(md5(concat_ws('|', pk, pos, " +
      "CAST(floor(value * 100) AS BIGINT))), 1, 15)) AS BIGINT)"
    s"""WITH cl AS ($clCte),
       |f AS (SELECT min(mx) AS frontier FROM (
       |        SELECT tbl, max(pos) AS mx FROM cl GROUP BY tbl)),
       |cut AS (SELECT cl.* FROM cl, f WHERE pos <= f.frontier),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY tbl, pk ORDER BY pos DESC) AS rn
       |  FROM cut),
       |state AS (SELECT tbl, pk, pos, value FROM ranked WHERE rn = 1 AND op <> 'D')
       |SELECT tbl, f.frontier, count(*) AS n_rows,
       |       max(pos) AS max_pos_included,
       |       CAST(sum(CAST($h AS DECIMAL(38,0))) % 9007199254740881 AS BIGINT) AS state_checksum
       |FROM state, f GROUP BY tbl, f.frontier ORDER BY tbl""".stripMargin
  }

  /** Interleaved chunked-snapshot audit — the watermark-interleaving
    * algorithm a CDC engine uses to take a CONSISTENT full snapshot while
    * the changelog keeps flowing (the DBLog device; reference snapshot
    * path: the chunked full-table scan the engine schedules beside the
    * stream). Each PK-range chunk is "read" at a progressively later log
    * position `cut_c`; a chunk's snapshot is the LWW state at its cut,
    * and later changelog events replay on top. Because the LWW merge is
    * associative and order-insensitive (max_by pos), snapshot ⊎ tail MUST
    * equal the state materialized directly from the full log for every
    * chunk — that is the invariant that makes chunked snapshotting safe,
    * and this audit proves it per (tbl, chunk) with order-independent
    * checksums on both paths (`consistent` must be uniformly true).
    *
    * Scale shape: chunk/cut assignment is a pure projection off one
    * scalar bounds probe; both LWW phases are the same single-shuffle
    * partial max_by as [[materialize]]; `n_superseded` is a left-semi
    * join on the (tbl, pk) shuffle key; the audit output is
    * O(tables × chunks), not rows.
    */
  def interleavedSnapshot(changelog: DataFrame, nChunks: Int): DataFrame = {
    require(nChunks > 0, s"nChunks must be positive: $nChunks")
    val b = changelog.agg(min(col("pk")).as("lo"), max(col("pk")).as("hi"),
      max(col("pos")).as("mp")).collect()(0)
    val (lo, hi, mp) = (b.getLong(0), b.getLong(1), b.getLong(2))
    val wc = changelog
      .withColumn("chunk", expr(s"CAST(((pk - $lo) * $nChunks) DIV (${hi - lo} + 1) AS BIGINT)"))
      .withColumn("cut", expr(s"CAST(((chunk + 1) * $mp) DIV $nChunks AS BIGINT)"))
    def lww(df: DataFrame): DataFrame =
      lastByPos(df, Seq("tbl", "pk", "chunk"), Seq("op", "pos", "value")).filter(col("op") =!= "D")
    val rowHash = graft.functions.PortableHash.tokenHash(
      concat_ws("|", col("pk"), col("pos"), floor(col("value") * 100).cast("long")))
      .cast("decimal(38,0)")
    val snap = lww(wc.filter(col("pos") <= col("cut")))
    val tail = wc.filter(col("pos") > col("cut"))
      .select(col("tbl"), col("pk"), col("chunk"), col("op"), col("pos"), col("value"))
    val merged = lww(snap.unionByName(tail))
    val direct = lww(wc)
    val snapAgg = snap.groupBy(col("tbl"), col("chunk"))
      .agg(count(lit(1)).as("n_snapshot_rows"))
    val supAgg = snap.join(tail.select(col("tbl"), col("pk")).distinct(),
        Seq("tbl", "pk"), "left_semi")
      .groupBy(col("tbl"), col("chunk")).agg(count(lit(1)).as("n_superseded"))
    // wide DECIMAL sums stay internal; export mod a prime < 2^53 so the
    // values survive any float64 round-trip in a downstream reader exactly
    val mergedAgg = merged.groupBy(col("tbl"), col("chunk"))
      .agg(count(lit(1)).as("n_final_rows"),
        (sum(rowHash) % lit(9007199254740881L)).cast("long").as("merged_checksum"))
    val directAgg = direct.groupBy(col("tbl"), col("chunk"))
      .agg(count(lit(1)).as("n_direct_rows"),
        (sum(rowHash) % lit(9007199254740881L)).cast("long").as("direct_checksum"))
    val pks = wc.groupBy(col("tbl"), col("chunk"))
      .agg(count_distinct(col("pk")).as("n_pks"))
    pks
      .join(snapAgg, Seq("tbl", "chunk"), "left")
      .join(supAgg, Seq("tbl", "chunk"), "left")
      .join(mergedAgg, Seq("tbl", "chunk"), "left")
      .join(directAgg, Seq("tbl", "chunk"), "left")
      .select(col("tbl"), col("chunk"), col("n_pks"),
        coalesce(col("n_snapshot_rows"), lit(0L)).as("n_snapshot_rows"),
        coalesce(col("n_superseded"), lit(0L)).as("n_superseded"),
        coalesce(col("n_final_rows"), lit(0L)).as("n_final_rows"),
        col("merged_checksum"), col("direct_checksum"),
        (coalesce(col("n_final_rows"), lit(0L)) === coalesce(col("n_direct_rows"), lit(0L)) &&
          col("merged_checksum") <=> col("direct_checksum")).as("consistent"))
      .orderBy("tbl", "chunk")
  }

  /** Oracle SQL for [[interleavedSnapshot]] given a changelog CTE body. */
  def interleavedSnapshotSql(clCte: String, nChunks: Int): String = {
    val h = "CAST(concat('0x', substr(md5(concat_ws('|', pk, pos, " +
      "CAST(floor(value * 100) AS BIGINT))), 1, 15)) AS BIGINT)"
    def lww(src: String) =
      s"""SELECT tbl, pk, chunk,
         |       arg_max(op, pos) AS op, max(pos) AS pos, arg_max(value, pos) AS value
         |FROM $src GROUP BY tbl, pk, chunk""".stripMargin
    s"""WITH cl AS ($clCte),
       |b AS (SELECT min(pk) AS lo, max(pk) AS hi, max(pos) AS mp FROM cl),
       |wc AS (
       |  SELECT cl.*, ((pk - b.lo) * $nChunks) // (b.hi - b.lo + 1) AS chunk,
       |         ((((pk - b.lo) * $nChunks) // (b.hi - b.lo + 1)) + 1) * b.mp // $nChunks AS cut
       |  FROM cl, b),
       |snap0 AS (${lww("wc WHERE pos <= cut")}),
       |snap AS (SELECT * FROM snap0 WHERE op <> 'D'),
       |tail AS (SELECT tbl, pk, chunk, op, pos, value FROM wc WHERE pos > cut),
       |uni AS (SELECT * FROM snap UNION ALL SELECT * FROM tail),
       |merged0 AS (${lww("uni")}),
       |merged AS (SELECT * FROM merged0 WHERE op <> 'D'),
       |direct0 AS (${lww("wc")}),
       |direct AS (SELECT * FROM direct0 WHERE op <> 'D'),
       |pks AS (SELECT tbl, chunk, count(DISTINCT pk) AS n_pks FROM wc GROUP BY tbl, chunk),
       |snap_agg AS (SELECT tbl, chunk, count(*) AS n_snapshot_rows FROM snap GROUP BY tbl, chunk),
       |sup_agg AS (
       |  SELECT s.tbl, s.chunk, count(*) AS n_superseded
       |  FROM snap s
       |  WHERE EXISTS (SELECT 1 FROM tail t WHERE t.tbl = s.tbl AND t.pk = s.pk)
       |  GROUP BY s.tbl, s.chunk),
       |merged_agg AS (
       |  SELECT tbl, chunk, count(*) AS n_final_rows,
       |         CAST(sum(CAST($h AS DECIMAL(38,0))) % 9007199254740881 AS BIGINT) AS merged_checksum
       |  FROM merged GROUP BY tbl, chunk),
       |direct_agg AS (
       |  SELECT tbl, chunk, count(*) AS n_direct_rows,
       |         CAST(sum(CAST($h AS DECIMAL(38,0))) % 9007199254740881 AS BIGINT) AS direct_checksum
       |  FROM direct GROUP BY tbl, chunk)
       |SELECT p.tbl, p.chunk, p.n_pks,
       |       coalesce(s.n_snapshot_rows, 0) AS n_snapshot_rows,
       |       coalesce(u.n_superseded, 0) AS n_superseded,
       |       coalesce(m.n_final_rows, 0) AS n_final_rows,
       |       m.merged_checksum, d.direct_checksum,
       |       coalesce(m.n_final_rows, 0) = coalesce(d.n_direct_rows, 0)
       |         AND m.merged_checksum IS NOT DISTINCT FROM d.direct_checksum AS consistent
       |FROM pks p
       |LEFT JOIN snap_agg s ON p.tbl = s.tbl AND p.chunk = s.chunk
       |LEFT JOIN sup_agg u ON p.tbl = u.tbl AND p.chunk = u.chunk
       |LEFT JOIN merged_agg m ON p.tbl = m.tbl AND p.chunk = m.chunk
       |LEFT JOIN direct_agg d ON p.tbl = d.tbl AND p.chunk = d.chunk
       |ORDER BY p.tbl, p.chunk""".stripMargin
  }

  /** Oracle SQL for [[timeWeightedAvg]] given a changelog CTE body. */
  def timeWeightedAvgSql(clCte: String): String =
    s"""WITH cl AS ($clCte),
       |base AS (
       |  SELECT tbl, pk, op, pos, CAST(value AS DECIMAL(18,2)) AS dv, epoch_us(ts) AS us
       |  FROM cl),
       |tmax AS (SELECT tbl, max(us) AS horizon FROM base GROUP BY tbl),
       |iv AS (
       |  SELECT b.tbl, b.op, b.dv,
       |         greatest(coalesce(lead(b.us) OVER (PARTITION BY b.tbl, b.pk ORDER BY b.pos),
       |                           t.horizon) - b.us, 0) AS dur
       |  FROM base b JOIN tmax t ON b.tbl = t.tbl)
       |SELECT tbl,
       |       round(CAST(sum(dv * dur) AS DOUBLE)
       |             / nullif(CAST(sum(dur) AS DOUBLE), 0.0), 6) AS twap,
       |       CAST(sum(dur) AS BIGINT) AS total_us,
       |       count(*) AS n_intervals
       |FROM iv WHERE op <> 'D'
       |GROUP BY tbl ORDER BY tbl""".stripMargin
}
