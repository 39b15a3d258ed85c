package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Snapshot / catchup watermark algebra.
  *
  * The reference brackets a bulk table copy with two binlog positions and
  * replays the events in between to reconcile changes that happened during
  * the copy (reference: engine/CDCEngine.scala:496-606 — low watermark
  * :510-512, high watermark :533-536, performCatchup :561-606;
  * docs/SNAPSHOT_CATCHUP.md:16-100). These are NOT event-time watermarks —
  * they are log positions, so in Spark they become plain predicates over a
  * bounded batch read, not `withWatermark`.
  *
  * The `[low, high)` replay applied over an idempotent upsert absorbs the
  * duplicate window by construction (reference README.md:524-552) —
  * property-tested in CdcSemanticsSpec.
  */
object Watermark {

  /** Latest log position — the reference's `SHOW BINARY LOG STATUS` probe
    * (CDCEngineUtils.scala:28-95) becomes a one-row max aggregate.
    * An empty changelog reports position 0 (stream not started), not an
    * NPE from the null max.
    */
  def latestPosition(changelog: DataFrame): Long = {
    val row = changelog.agg(max(col("pos"))).head
    if (row.isNullAt(0)) 0L else row.getLong(0)
  }

  /** Bounded catchup slice: events with pos ∈ [low, high).
    * Reference: takeWhile(compare < 0) (CDCEngineUtils.scala:239-246) —
    * here a pushable range predicate (shows up in PushedFilters).
    */
  def catchupRange(changelog: DataFrame, low: Long, high: Long): DataFrame =
    changelog.filter(col("pos") >= low && col("pos") < high)

  /** Snapshot watermark persistence (W8): the reference's
    * cdc_low_watermarks table (snapshot/LowWatermarkManager.scala:56-196)
    * becomes a JSON state file next to the checkpoint, written via
    * tmp + atomic rename (the FileOffsetStore pattern,
    * coordinator/FileOffsetStore.scala:35-57).
    */
  final case class SnapshotWatermarks(low: Long, high: Long, createdAtMs: Long)

  def persistWatermarks(dir: String, w: SnapshotWatermarks): Unit =
    graft.ops.BucketSwap.writeAtomically(java.nio.file.Paths.get(dir, "watermarks.json"),
      s"""{"low": ${w.low}, "high": ${w.high}, "createdAtMs": ${w.createdAtMs}}""")

  def loadWatermarks(dir: String): Option[SnapshotWatermarks] = {
    val p = java.nio.file.Paths.get(dir, "watermarks.json")
    if (!java.nio.file.Files.exists(p)) None
    else {
      val s = java.nio.file.Files.readString(p)
      def field(name: String): Long =
        s"""\"$name\":\\s*(-?\\d+)""".r.findFirstMatchIn(s).map(_.group(1).toLong)
          .getOrElse(throw new IllegalStateException(s"corrupt watermark file: $s"))
      Some(SnapshotWatermarks(field("low"), field("high"), field("createdAtMs")))
    }
  }

  /** Per-table watermark lifecycle against a `[low, high)` snapshot
    * bracket (reference keeps one cdc_low_watermarks row per bracket with
    * status Active/Completed/Expired, snapshot/LowWatermarkManager.scala:56-196):
    *   - `completed`: the table's log has advanced past `high` — its
    *     catchup window closed;
    *   - `active`: events seen at/after `low` but `high` not yet reached;
    *   - `expired`: nothing at/after `low` — the bracket outlived the
    *     table's activity and would be reaped.
    * Plus the snapshot/catchup event volumes the bracket implies. One
    * hash aggregation over (tbl) regardless of changelog size.
    */
  def lifecycle(changelog: DataFrame, low: Long, high: Long): DataFrame =
    changelog.groupBy(col("tbl"))
      .agg(
        sum(when(col("pos") < low, 1L).otherwise(0L)).as("n_snapshot_events"),
        sum(when(col("pos") >= low && col("pos") < high, 1L).otherwise(0L)).as("n_catchup_events"),
        max(col("pos")).as("max_pos"))
      .withColumn("status",
        when(col("max_pos") >= high, "completed")
          .when(col("max_pos") >= low, "active")
          .otherwise("expired"))

  /** Watermark statistics: per-status table counts + volumes (reference
    * calculateWatermarkStatistics, LowWatermarkManager.scala:392-448 —
    * GROUP BY status with oldest/newest; positions stand in for
    * created_at timestamps here).
    */
  def lifecycleStats(changelog: DataFrame, low: Long, high: Long): DataFrame =
    lifecycle(changelog, low, high)
      .groupBy(col("status"))
      .agg(
        count(lit(1)).as("n_tables"),
        sum(col("n_snapshot_events")).as("n_snapshot_events"),
        sum(col("n_catchup_events")).as("n_catchup_events"),
        min(col("max_pos")).as("oldest_pos"),
        max(col("max_pos")).as("newest_pos"))

  def lifecycleStatsSql(clCte: String, lowSql: String, highSql: String): String =
    s"""WITH cl AS ($clCte),
       |lc AS (
       |  SELECT tbl,
       |         CAST(sum(CASE WHEN pos < $lowSql THEN 1 ELSE 0 END) AS BIGINT) AS n_snapshot_events,
       |         CAST(sum(CASE WHEN pos >= $lowSql AND pos < $highSql THEN 1 ELSE 0 END) AS BIGINT) AS n_catchup_events,
       |         max(pos) AS max_pos
       |  FROM cl GROUP BY tbl)
       |SELECT CASE WHEN max_pos >= $highSql THEN 'completed'
       |            WHEN max_pos >= $lowSql THEN 'active'
       |            ELSE 'expired' END AS status,
       |       count(*) AS n_tables,
       |       CAST(sum(n_snapshot_events) AS BIGINT) AS n_snapshot_events,
       |       CAST(sum(n_catchup_events) AS BIGINT) AS n_catchup_events,
       |       min(max_pos) AS oldest_pos,
       |       max(max_pos) AS newest_pos
       |FROM lc GROUP BY 1""".stripMargin

  /** Full snapshot→catchup→state flow over fixtures: snapshot = state at
    * positions < low (what the bulk copy saw), catchup = replay of
    * [low, high), result = merged state as of high.
    */
  def snapshotThenCatchup(changelog: DataFrame, low: Long, high: Long): DataFrame = {
    val snapshot = ChangelogApply.materialize(changelog.filter(col("pos") < low))
    val catchup = catchupRange(changelog, low, high)
    // Re-merge: union the snapshot rows (as synthetic ops at their original
    // positions) with the catchup slice and materialize once — equivalent
    // to upserting the slice over the snapshot, and still one shuffle.
    ChangelogApply.materialize(snapshot.select(
      col("tbl"), col("pk"), col("op"), col("ts"), col("pos"), col("value")
    ).union(catchup))
  }
}
