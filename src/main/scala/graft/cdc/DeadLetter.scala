package graft.cdc

import graft.cdc.SchemaRegistry.{CorruptCol, ParsedCol}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dead-letter routing: decode failures are DATA, not exceptions. A
  * 100 TB/day changelog always carries some unparseable payloads and
  * events for tables that were never registered; a pipeline that throws
  * on them stops replicating everything else (the reference logs the bad
  * event and drops it, normalizer/MySQLEventNormalizer.scala:186-196 —
  * losing the evidence). Here every event gets a disposition column and
  * the bad ones stay queryable: route `ok` to the apply path, the rest to
  * a quarantine sink for replay after the fix.
  *
  * Classification is a single projection (no shuffle, no UDF) over the
  * registry's one parse ([[SchemaRegistry.parsed]]) — scan-local.
  */
object DeadLetter {

  /** Envelope + `disposition` ∈ {ok, unregistered_table, null_payload,
    * unparseable}. An event without a table name is unregistered.
    * Parseability is judged by the parse's `_corrupt_record`, not by a
    * null struct: Spark yields an all-null ROW for malformed JSON,
    * indistinguishable from `{}`.
    */
  def classify(envelope: DataFrame, reg: SchemaRegistry): DataFrame =
    withDisposition(reg.parsed(envelope), reg).drop(ParsedCol)

  /** `disposition` added to a [[SchemaRegistry.parsed]] envelope. */
  private[graft] def withDisposition(parsed: DataFrame, reg: SchemaRegistry): DataFrame =
    parsed.withColumn("disposition",
      when(col("tbl").isNull || !col("tbl").isin(reg.tables: _*), lit("unregistered_table"))
        .when(col("payload_json").isNull, lit("null_payload"))
        .when(col(ParsedCol).getField(CorruptCol).isNotNull, lit("unparseable"))
        .otherwise(lit("ok")))

  /** Per-table quarantine accounting — the health panel a replication
    * operator watches (n_ok collapses through map-side partials; the
    * DLQ counts are tiny by construction).
    */
  def stats(classified: DataFrame): DataFrame =
    classified.groupBy(col("tbl"))
      .agg(count(lit(1)).as("n_events"),
        count(when(col("disposition") === "ok", 1)).as("n_ok"),
        count(when(col("disposition") === "unparseable", 1)).as("n_unparseable"),
        count(when(col("disposition") === "unregistered_table", 1)).as("n_unregistered"))
      .orderBy("tbl")
}
