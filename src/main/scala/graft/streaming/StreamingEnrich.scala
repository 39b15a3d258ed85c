package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructType}

/** Streaming as-of enrichment — the streaming counterpart of
  * [[graft.cdc.ChangelogApply.asOfLookupWide]]: every change event is
  * enriched with the dimension version valid immediately BEFORE it
  * (the SCD2 interval containing `pos − 1`), i.e. updates and deletes
  * carry the row image they superseded, inserts after a delete carry
  * NULL (the key did not exist).
  *
  * Incremental maintenance composes the two bucketed stores:
  *
  *   1. each micro-batch folds into the SCD2 history store
  *      ([[StreamingScd2.applyBatch]] — order-insensitive event merge);
  *   2. the buckets the batch touched are re-enriched AGAINST THE MERGED
  *      HISTORY and rewritten in an enriched-output store.
  *
  * Step 2 makes the output a per-bucket materialized view of the SCD2
  * store: an out-of-order event landing between two existing versions
  * re-splits their intervals, and the bucket rewrite CORRECTS the
  * enrichment of every event downstream of the split — so the final
  * store converges to the batch formulation under ANY batch split or
  * order (the invariance the spec proves), and a crash-replay rewrites
  * identical bytes (the enriched bucket is a pure function of the SCD2
  * bucket). Per-batch cost is O(touched buckets), not O(state).
  */
object StreamingEnrich {

  /** Enriched-store payload beyond (tbl, pk, op, ts, pos). */
  val payloadCols: Seq[String] = Seq("value", "prev_value", "prev_from_pos")

  val enrichedSchema: StructType = graft.model.ChangeEvent.envelopeSchema
    .add("prev_value", DoubleType)
    .add("prev_from_pos", LongType)

  /** The temporal join itself: events × history on the same key with the
    * validity interval containing `pos − 1`. Equi-keys drive the join;
    * the interval predicate filters the ≤ versions-per-key matches — at
    * most one version interval can contain any position. With
    * `bucketed = true` both sides carry a `bucket` column and share one
    * hash(bucket) partitioning, so the join (keys prefixed with bucket)
    * adds no exchange; the output keeps `bucket` for the aligned write.
    */
  def enrichAgainst(history: DataFrame, events: DataFrame,
                    bucketed: Boolean = false): DataFrame = {
    val probe = col("e.pos") - 1
    val keyEq =
      if (bucketed) col("e.bucket") === col("v.bucket") &&
        col("e.tbl") === col("v.tbl") && col("e.pk") === col("v.pk")
      else col("e.tbl") === col("v.tbl") && col("e.pk") === col("v.pk")
    val out = Seq(col("e.tbl").as("tbl"), col("e.pk").as("pk"), col("e.op").as("op"),
      col("e.ts").as("ts"), col("e.pos").as("pos"), col("e.value").as("value"),
      col("v.value").as("prev_value"), col("v.valid_from_pos").as("prev_from_pos"))
    events.as("e").join(history.as("v"),
      keyEq && col("v.valid_from_pos") <= probe &&
        (col("v.valid_to_pos").isNull || col("v.valid_to_pos") > probe),
      "left")
      .select((if (bucketed) col("e.bucket").as("bucket") +: out else out): _*)
  }

  /** foreachBatch body: fold into SCD2, then rewrite the enrichment of
    * the buckets that fold touched (the set [[StreamingScd2.applyBatch]]
    * returns, so the batch is probed once) from the merged history, as
    * `outDir/v=<batchId>` through the same bucketed version write and
    * compaction as the SCD2 store ([[StreamingApply.writeBuckets]]).
    */
  def applyBatch(scd2Dir: String, outDir: String,
                 nBuckets: Int = StreamingApply.defaultBuckets)(
      batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val touched = StreamingScd2.applyBatch(scd2Dir, nBuckets)(batch, batchId)
    if (touched.nonEmpty) StreamingApply.writeBuckets(spark, outDir, batchId, payloadCols, touched) { _ =>
      // the merged history of the touched buckets (events + intervals,
      // tombstones included) — written by the applyBatch above. ONE
      // repartition on bucket feeds both join sides: with bucket in the
      // join keys, hash(bucket) partitioning satisfies the join's
      // distribution, so the temporal join adds no further exchange and
      // the join output is already aligned for the bucketed write.
      val hist = StreamingApply.byBucket(StreamingApply.stateBefore(spark, scd2Dir, batchId + 1,
          Some(touched), StreamingScd2.payloadCols, StreamingScd2.stateSchema)
        .withColumn("bucket", StreamingApply.bucketOf(nBuckets)), nBuckets)
      val events = hist.select("bucket", "tbl", "pk", "op", "ts", "pos", "value")
      val versions = hist.filter(col("op") =!= "D")
        .select(col("bucket"), col("tbl"), col("pk"), col("value"),
          col("pos").as("valid_from_pos"), col("valid_to_pos"))
      enrichAgainst(versions, events, bucketed = true)
    }
  }

  /** The enriched changelog: latest version of every output bucket. */
  def enrichedEvents(spark: SparkSession, outDir: String): DataFrame =
    StreamingApply.stateBefore(spark, outDir, Long.MaxValue, None,
      payloadCols, enrichedSchema)

  /** Batch-formulation oracle: the same temporal join expressed over the
    * one-shot SCD2 window — what the incremental store must converge to.
    */
  def batchSql(clCte: String): String =
    s"""WITH cl AS ($clCte),
       |seq AS (
       |  SELECT tbl, pk, op, value, pos,
       |         lead(pos) OVER (PARTITION BY tbl, pk ORDER BY pos) AS valid_to_pos
       |  FROM cl),
       |hist AS (
       |  SELECT tbl, pk, value, pos AS valid_from_pos, valid_to_pos
       |  FROM seq WHERE op <> 'D')
       |SELECT e.tbl, e.pk, e.op, e.ts, e.pos, e.value,
       |       v.value AS prev_value, v.valid_from_pos AS prev_from_pos
       |FROM cl e LEFT JOIN hist v
       |  ON e.tbl = v.tbl AND e.pk = v.pk
       | AND v.valid_from_pos <= e.pos - 1
       | AND (v.valid_to_pos IS NULL OR v.valid_to_pos > e.pos - 1)
       |ORDER BY e.tbl, e.pk, e.pos""".stripMargin
}
