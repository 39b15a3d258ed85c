package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Event normalization: raw event rows → canonical changelog envelope
  * (tbl, pk, op, ts, pos, value).
  *
  * Mirrors the reference's P1-P4 pipeline stage
  * (reference: normalizer/MySQLEventNormalizer.scala:29-162 — raw binlog
  * event → typed ChangeEvent with op-dependent before/after), expressed as
  * a single declarative projection so Catalyst can push the whole thing
  * into the parquet scan (column pruning + predicate pushdown instead of
  * the reference's per-event callback).
  *
  * Fixture mapping (the harness has no live binlog): the driver's `events`
  * table plays the raw changelog. `event_id` is the total-ordered log
  * position (the reference's BinlogPosition), `user_id` the primary key,
  * and `event_type` determines the operation:
  *   signup → Insert, error → Delete, anything else → Update.
  * Rows shard across four logical tables t0..t3 by pk so the table-filter
  * and routing operators have multi-table input to work on.
  *
  * Unlike the reference — which drops all but the first row of a multi-row
  * binlog event (`rows.head`, MySQLEventNormalizer.scala:74,108,143, a
  * documented bug) — a DataFrame projection normalizes every row.
  */
object Normalizer {

  val opCol: Column =
    when(col("event_type") === "signup", "I")
      .when(col("event_type") === "error", "D")
      .otherwise("U")

  /** SQL equivalent of [[opCol]] for oracle generation. */
  val opSql: String =
    "CASE WHEN event_type = 'signup' THEN 'I' WHEN event_type = 'error' THEN 'D' ELSE 'U' END"

  val tblCol: Column = concat(lit("t"), (col("user_id") % 4).cast("string"))
  val tblSql: String = "'t' || CAST(user_id % 4 AS VARCHAR)"

  /** Normalize the raw `events` fixture into the changelog envelope. */
  def normalize(rawEvents: DataFrame): DataFrame =
    rawEvents.select(
      tblCol.as("tbl"),
      col("user_id").as("pk"),
      opCol.as("op"),
      col("ts"),
      col("event_id").as("pos"),
      col("value")
    )

  /** Oracle-SQL rendering of [[normalize]] over the `events` table. */
  val normalizeSql: String =
    s"""SELECT $tblSql AS tbl, user_id AS pk, $opSql AS op, ts,
       |       event_id AS pos, value
       |FROM events""".stripMargin

  // ---- Wide envelope: multi-column row images ----

  /** Row-image schema of the fixture's logical tables — the columns a
    * binlog row event would carry for t0..t3 (reference payloads are
    * whole-row maps, model/ChangeEvent.scala:16-24; here the row is
    * (event_type, k, value)). Registered per table in a [[SchemaRegistry]]
    * and decoded back out of the JSON image with `from_json`.
    */
  val payloadSchema: StructType = StructType(Seq(
    StructField("event_type", StringType),
    StructField("k", LongType),
    StructField("value", DoubleType)))

  /** Payload column names, alphabetical (deterministic projection order). */
  val payloadCols: Seq[String] = payloadSchema.fieldNames.toSeq

  /** Registry covering the fixture's four logical shards, which share one
    * row schema.
    */
  val fixtureRegistry: SchemaRegistry =
    SchemaRegistry.of((0 to 3).map(i => s"t$i"), payloadSchema)

  /** Normalize raw events into the WIDE changelog envelope
    * (tbl, pk, op, ts, pos, payload_json): the after-image rides as one
    * JSON document, exactly how a binlog row event arrives before schema
    * application (reference: normalizer/MySQLEventNormalizer.scala:173-182
    * builds the after map from the raw cell array + cached schema). The
    * typed view is recovered per table via [[SchemaRegistry.decode]].
    */
  def normalizeWide(rawEvents: DataFrame): DataFrame =
    rawEvents.select(
      tblCol.as("tbl"),
      col("user_id").as("pk"),
      opCol.as("op"),
      col("ts"),
      col("event_id").as("pos"),
      to_json(struct(
        col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"),
        col("value"))).as("payload_json"))

  /** Wide changelog already decoded through the fixture registry — the
    * encode→register→decode round trip in one call.
    */
  def normalizeWideDecoded(rawEvents: DataFrame): DataFrame =
    fixtureRegistry.decode(normalizeWide(rawEvents))

  /** Oracle-SQL rendering of the DECODED wide envelope: DuckDB computes
    * the typed row image directly from the raw columns (the oracle never
    * sees the JSON leg — it asserts the round trip lands back on the
    * source values).
    */
  val normalizeWideSql: String =
    s"""SELECT $tblSql AS tbl, user_id AS pk, $opSql AS op, ts,
       |       event_id AS pos, event_type,
       |       CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k, value
       |FROM events""".stripMargin
}
