package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-table schema registry driving typed payload decode.
  *
  * The reference discovers each table's column list/types from
  * information_schema at runtime and coerces every raw binlog cell
  * through it (reference: catalog/MySQLCatalogService.scala:136-173
  * getTableSchema, normalizer/MySQLEventNormalizer.scala:164-171 per-event
  * schema cache, :184-250 convertValue per column type). Spark-first, the
  * same idea is: register a `StructType` per table once on the driver and
  * decode the row-image JSON with `from_json` — a codegen'd expression
  * inside the scan stage instead of the reference's blocking per-event
  * `Await` on a TrieMap miss (MySQLEventNormalizer.scala:166-170).
  *
  * Each payload is parsed once ([[parsed]], PERMISSIVE: malformed or
  * mistyped input lands in `_corrupt_record`); [[DeadLetter.classify]]
  * judges that parse and [[decode]] is one projection over it, so a
  * heterogeneous registry costs the same single parse as a sharded family.
  */
final case class SchemaRegistry(schemas: Map[String, StructType]) {
  import SchemaRegistry.{CorruptCol, ParsedCol}

  require(schemas.nonEmpty, "schema registry needs at least one table")

  def schemaFor(tbl: String): StructType =
    schemas.getOrElse(tbl, throw new NoSuchElementException(s"no schema registered for table $tbl"))

  def tables: Seq[String] = schemas.keys.toSeq.sorted

  /** Union of all registered fields (by name): the schema of the parse.
    * Conflicting types for the same field name are a registry bug and
    * rejected eagerly.
    */
  val unifiedFields: Seq[StructField] = {
    val byName = scala.collection.mutable.LinkedHashMap.empty[String, StructField]
    for (s <- schemas.valuesIterator.toSeq.distinct; f <- s.fields) {
      byName.get(f.name) match {
        case Some(prev) if prev.dataType != f.dataType =>
          throw new IllegalArgumentException(
            s"field ${f.name} registered with conflicting types ${prev.dataType} and ${f.dataType}")
        case _ => byName.update(f.name, f)
      }
    }
    byName.values.toSeq
  }

  /** `envelope` plus the one parse of `payload_json`. */
  private[graft] def parsed(envelope: DataFrame): DataFrame = envelope.withColumn(ParsedCol,
    from_json(col("payload_json"), StructType(unifiedFields).add(CorruptCol, StringType),
      Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> CorruptCol)))

  /** Decode an envelope's JSON row image: (tbl, pk, op, ts, pos,
    * payload_json) → (tbl, pk, op, ts, pos, <typed payload columns>), a
    * field nulled for tables whose schema lacks it. Events for unregistered
    * tables are dropped — the scoping contract of [[TableFilter]].
    */
  def decode(envelope: DataFrame): DataFrame = decodeParsed(parsed(envelope))

  /** [[decode]] as one projection over a [[parsed]] envelope. */
  private[graft] def decodeParsed(parsed: DataFrame): DataFrame = {
    val envCols = parsed.columns.filterNot(c => c == "payload_json" || c == ParsedCol).toSeq
    // A row image carries the PK column(s) too; the envelope's extracted
    // copy is authoritative (the reference extracts PK at normalize time,
    // MySQLEventNormalizer.scala:252-257), so shadowed fields are not re-emitted.
    val payloadFields = unifiedFields.filterNot(f => envCols.contains(f.name))
    parsed.filter(col("tbl").isin(tables: _*)).select(envCols.map(col) ++ payloadFields.map { f =>
      val owners = tables.filter(schemas(_).fieldNames.contains(f.name))
      val field = col(ParsedCol).getField(f.name)
      (if (owners == tables) field else when(col("tbl").isin(owners: _*), field)).as(f.name)
    }: _*)
  }
}

object SchemaRegistry {

  /** The column [[SchemaRegistry.parsed]] adds, and its corrupt-record field. */
  private[graft] val ParsedCol = "payload_parsed"
  private[graft] val CorruptCol = "_corrupt_record"

  /** All listed tables share one schema (the sharded-family case). */
  def of(tbls: Seq[String], schema: StructType): SchemaRegistry =
    SchemaRegistry(tbls.map(_ -> schema).toMap)

  /** Discovery-driven construction: read each parquet table's footer
    * schema from a lake directory — the Spark analogue of the reference's
    * information_schema scan (catalog/MySQLCatalogService.scala:136-173),
    * composed with the same [[TableFilter]] used for replication scoping.
    */
  def fromParquetDir(spark: org.apache.spark.sql.SparkSession, dir: String,
                     filter: TableFilter = TableFilter(Nil, Nil)): SchemaRegistry = {
    val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
    val schemas = files.toSeq
      .filter(f => f.getName.endsWith(".parquet"))
      .map(f => f.getName.stripSuffix(".parquet") -> f.getAbsolutePath)
      .filter { case (t, _) => filter.shouldInclude(t) }
      .map { case (t, p) => t -> spark.read.parquet(p).schema }
    SchemaRegistry(schemas.toMap)
  }
}
