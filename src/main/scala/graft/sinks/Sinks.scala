package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Idempotent sink dialects — the reference's connector SPI re-expressed
  * as (a) pure SQL renderers for JDBC targets and (b) a keyed parquet
  * upsert for lake storage.
  */

/** Per-target upsert/update/delete SQL, mirroring the reference's sink
  * connectors (reference: connector/sink/mysql/MySQLSinkConnector.scala:81-108
  * — INSERT ... ON DUPLICATE KEY UPDATE with doubled params;
  * connector/sink/starrocks/StarRocksSinkConnector.scala:79-105 — plain
  * INSERT upserts natively on a PK-model table). Pure string builders,
  * unit-tested without a live DB. Nothing in the engine executes them:
  * [[JdbcApplyWorker]], the one JDBC writer, runs its own portable
  * UPDATE-then-INSERT and DELETE statements.
  */
sealed trait JdbcUpsertDialect {
  def name: String

  protected def q(id: String): String = "`" + id + "`"

  def insertSql(table: String, cols: Seq[String]): String

  def updateSql(table: String, cols: Seq[String], pkCols: Seq[String]): String = {
    val sets = cols.filterNot(pkCols.contains).map(c => s"${q(c)} = ?").mkString(", ")
    val where = pkCols.map(c => s"${q(c)} = ?").mkString(" AND ")
    s"UPDATE ${q(table)} SET $sets WHERE $where"
  }

  /** DELETE is a no-op when the row is absent ⇒ naturally idempotent. */
  def deleteSql(table: String, pkCols: Seq[String]): String = {
    val where = pkCols.map(c => s"${q(c)} = ?").mkString(" AND ")
    s"DELETE FROM ${q(table)} WHERE $where"
  }
}

/** MySQL: idempotent upsert via ON DUPLICATE KEY UPDATE. */
object MySqlDialect extends JdbcUpsertDialect {
  val name = "mysql"
  def insertSql(table: String, cols: Seq[String]): String = {
    val colList = cols.map(q).mkString(", ")
    val params = cols.map(_ => "?").mkString(", ")
    val updates = cols.map(c => s"${q(c)} = VALUES(${q(c)})").mkString(", ")
    s"INSERT INTO ${q(table)} ($colList) VALUES ($params) ON DUPLICATE KEY UPDATE $updates"
  }
}

/** StarRocks: PK-table model upserts on plain INSERT. */
object StarRocksDialect extends JdbcUpsertDialect {
  val name = "starrocks"
  def insertSql(table: String, cols: Seq[String]): String = {
    val colList = cols.map(q).mkString(", ")
    val params = cols.map(_ => "?").mkString(", ")
    s"INSERT INTO ${q(table)} ($colList) VALUES ($params)"
  }
}

/** Keyed parquet upsert: MERGE for plain files, expressed as
  * anti-join + union (SURVEY.md §7.4(3): parquet has no DELETE — deletes
  * are keys present in `delta` with op='D' that simply don't survive into
  * the rewrite). One shuffle on the key; the delta side is typically the
  * small side and broadcast by AQE.
  */
object ParquetKeyedSink {

  /** New table state = (base rows whose key has no delta) ⊎ (delta rows
    * that aren't deletes). `delta` must be one-row-per-key (pre-merged,
    * e.g. by ChangelogApply.materializeAll).
    */
  def merged(base: DataFrame, delta: DataFrame, keys: Seq[String]): DataFrame = {
    val survivors = delta.filter(col("op") =!= "D").drop("op")
    base.join(delta.select(keys.map(col): _*), keys, "left_anti")
      .unionByName(survivors, allowMissingColumns = false)
  }

  /** Write-through upsert with an atomic version flip: write the merged
    * state to `dir/v=<version>` then let readers pick the max version —
    * same recovery contract as the reference's tmp-write + atomic rename
    * offset file (coordinator/FileOffsetStore.scala:35-57).
    */
  def upsert(spark: SparkSession, dir: String, version: Long,
             base: DataFrame, delta: DataFrame, keys: Seq[String]): String = {
    val out = s"$dir/v=$version"
    merged(base, delta, keys).write.mode("overwrite").parquet(out)
    out
  }
}
