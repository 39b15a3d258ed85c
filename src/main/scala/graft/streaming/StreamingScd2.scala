package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, LongType, StructType}

/** Incremental SCD Type-2 maintenance — the streaming counterpart of
  * [[graft.cdc.ChangelogApply.scd2]]: each micro-batch folds into a
  * bucketed history store whose rows are the per-key EVENT history with
  * derived validity intervals.
  *
  * Why the state carries events (tombstones included), not just open
  * versions: an out-of-order event landing BETWEEN two existing versions
  * re-splits its neighbors' intervals, and a late delete re-closes them —
  * only the full per-key event set makes the merge order-insensitive and
  * associative, the property every other piece of the streaming path
  * already relies on (cross-batch ordering freedom, replay idempotence).
  * That is not a size concession: the version history IS the SCD2
  * artifact — O(events) state is what the operator produces by design.
  *
  * The merge dedups on (tbl, pk, pos) — replaying a batch contributes no
  * new events and recomputes identical intervals, so crash-replay
  * rewrites identical bytes (same contract as [[StreamingApply]]'s LWW
  * path, proven by the equivalence + idempotence specs). Bucket
  * granularity, versioning and compaction are shared via
  * [[StreamingApply.applyBatchWith]].
  */
object StreamingScd2 {

  /** State columns beyond the envelope: the derived interval end and the
    * open-version flag (padded null/false on incoming batches, recomputed
    * by the merge).
    */
  val payloadCols: Seq[String] = Seq("value", "valid_to_pos", "is_current")

  val stateSchema: StructType = graft.model.ChangeEvent.envelopeSchema
    .add("valid_to_pos", LongType)
    .add("is_current", BooleanType)

  private def pad(batch: DataFrame): DataFrame = batch
    .withColumn("valid_to_pos", lit(null).cast("long"))
    .withColumn("is_current", lit(false))

  /** Rebuild intervals over (prior events ⊎ batch) per key. Delete rows
    * stay in the state as interval-closing tombstones (their own interval
    * columns are null/false).
    *
    * Bucket-aware apply contract ([[StreamingApply.applyBatchWith]]): one
    * exchange on bucket, then the dedup aggregate and the interval window
    * both run bucket-local —
    * their (bucket, tbl, pk)-prefixed keys are satisfied by the
    * hash(bucket) partitioning, so Catalyst adds no further exchange.
    */
  def mergeBucketed(prev: DataFrame, batch: DataFrame, nBuckets: Int): DataFrame = {
    val ev = Seq("bucket", "tbl", "pk", "op", "ts", "pos", "value")
    val events = StreamingApply.byBucket(prev.select(ev.map(col): _*)
      .unionByName(batch.select(ev.map(col): _*)), nBuckets)
      .dropDuplicates("bucket", "tbl", "pk", "pos")
    val nextPos = lead(col("pos"), 1).over(
      Window.partitionBy(col("bucket"), col("tbl"), col("pk")).orderBy(col("pos")))
    events
      .withColumn("valid_to_pos", when(col("op") =!= "D", nextPos))
      .withColumn("is_current", col("op") =!= "D" && nextPos.isNull)
  }

  /** foreachBatch body; returns the buckets the batch touched. */
  def applyBatch(stateDir: String, nBuckets: Int = StreamingApply.defaultBuckets)(
      batch: DataFrame, batchId: Long): Set[Int] =
    StreamingApply.applyBatchWith(stateDir, nBuckets, payloadCols, pad,
      mergeBucketed(_, _, nBuckets))(batch, batchId)

  /** The materialized SCD2 table: every non-tombstone event is a version
    * row with its validity interval.
    */
  def currentHistory(spark: SparkSession, stateDir: String): DataFrame =
    StreamingApply.stateBefore(spark, stateDir, Long.MaxValue, None, payloadCols, stateSchema)
      .filter(col("op") =!= "D")
      .select(col("tbl"), col("pk"), col("value"),
        col("pos").as("valid_from_pos"), col("valid_to_pos"), col("is_current"))
}
