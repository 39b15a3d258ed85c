package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental materialized-view maintenance from change deltas.
  *
  * A CDC-fed lakehouse keeps per-table aggregates (row counts, sums —
  * the dashboards) current WITHOUT rescanning the table: each
  * [[Conflation.Delta]] carries both the new and previous value, so its
  * contribution to a SUM/COUNT aggregate is a pure local adjustment:
  *
  *   I: count += 1, sum += value
  *   U: sum += value − prev_value
  *   D: count −= 1, sum −= prev_value
  *
  * The adjustment aggregate is associative/commutative (map-side
  * partials), and applying batches in any grouping/order reaches the
  * same totals — the same algebra that makes the LWW merge replay-safe.
  * At 100 TB the difference is a delta-sized job per refresh vs a
  * full-table scan.
  */
object IncrementalAgg {

  /** Per-(tbl) adjustment implied by one batch of deltas. */
  def adjustments(deltas: DataFrame): DataFrame =
    deltas.groupBy(col("tbl"))
      .agg(
        sum(when(col("op") === "I", 1L).when(col("op") === "D", -1L).otherwise(0L)).as("d_count"),
        sum(
          when(col("op") === "I", col("value"))
            .when(col("op") === "D", -col("prev_value"))
            .otherwise(col("value") - col("prev_value"))).as("d_sum"))

  /** Fold a batch of deltas into the previous aggregate state
    * (tbl, n_rows, sum_value). Missing tables appear; counts reaching
    * zero keep their row (sum 0) — harmless and simpler than delete.
    */
  def applyDeltas(prevAgg: DataFrame, deltas: DataFrame): DataFrame =
    prevAgg.select(col("tbl"), col("n_rows"), col("sum_value"))
      .unionByName(adjustments(deltas)
        .select(col("tbl"), col("d_count").as("n_rows"), col("d_sum").as("sum_value")))
      .groupBy(col("tbl"))
      .agg(sum(col("n_rows")).as("n_rows"), sum(col("sum_value")).as("sum_value"))
}
