package graft.sinks

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import java.sql.{Connection, DriverManager}

/** Distributed JDBC apply worker: executes a pre-merged changelog batch
  * (one row per key, final op per key — [[graft.cdc.ChangelogApply]]
  * output) against a JDBC table from the executors.
  *
  * The reference applies events one connection per worker actor with
  * batched statements (reference: worker/DefaultApplyWorker.scala:88-141
  * dispatch by op, :143-163 update-field application; engine/
  * CDCEngineUtils.scala:128-170 batched writes + commit cadence).
  * Spark-first that becomes `foreachPartition`: repartition by key so
  * each key lands in exactly one task, one connection + prepared
  * statements per partition, addBatch/executeBatch every [[batchSize]]
  * rows.
  *
  * Idempotent by construction — replaying the same batch rewrites the
  * same rows:
  *   - op ≠ 'D': UPDATE, and INSERT only when no row matched (the
  *     try-update-else-insert upsert — portable to any JDBC target; the
  *     statements are fixed here, so the native upserts that
  *     [[JdbcUpsertDialect]] renders for MySQL/StarRocks are not used)
  *   - op = 'D': DELETE (absent row ⇒ no-op)
  */
object JdbcApplyWorker {

  /** Rows per addBatch/executeBatch round trip and per commit. */
  private val batchSize = 500

  /** Apply `batch` to `table`. `valueCols` are the non-key payload
    * columns; the frame must carry `pkCols ++ valueCols ++ op`.
    */
  def applyBatch(batch: DataFrame, url: String, table: String,
                 pkCols: Seq[String], valueCols: Seq[String]): Unit = {
    val cols = pkCols ++ valueCols
    val updateSql = {
      val sets = valueCols.map(c => s"$c = ?").mkString(", ")
      val where = pkCols.map(c => s"$c = ?").mkString(" AND ")
      s"UPDATE $table SET $sets WHERE $where"
    }
    val insertSql =
      s"INSERT INTO $table (${cols.mkString(", ")}) VALUES (${cols.map(_ => "?").mkString(", ")})"
    val deleteSql =
      s"DELETE FROM $table WHERE ${pkCols.map(c => s"$c = ?").mkString(" AND ")}"
    batch
      .select((cols :+ "op").map(col): _*)
      .repartition(pkCols.map(col): _*)
      .foreachPartition { (rows: Iterator[Row]) =>
        if (rows.hasNext) {
          val conn = DriverManager.getConnection(url)
          try applyPartition(rows, conn, updateSql, insertSql, deleteSql,
            pkCols.size, valueCols.size)
          finally conn.close()
        }
      }
  }

  /** Batched apply: every statement class rides addBatch/executeBatch at
    * `batchSize` cadence (the reference's batched-write contract,
    * CDCEngineUtils.scala:128-170) — per-chunk round trips are O(1), not
    * O(rows). Upserts are two batched phases: batch-UPDATE all rows, then
    * batch-INSERT exactly those whose update count reported zero matches.
    * A driver reporting SUCCESS_NO_INFO (e.g. MySQL with rewritten batch
    * statements) can't distinguish — those rows re-check individually,
    * the documented fallback, not the steady path.
    */
  private def applyPartition(rows: Iterator[Row], conn: Connection,
                             updateSql: String, insertSql: String, deleteSql: String,
                             nPk: Int, nVal: Int): Unit = {
    conn.setAutoCommit(false)
    val del = conn.prepareStatement(deleteSql)
    val ins = conn.prepareStatement(insertSql)
    val upd = conn.prepareStatement(updateSql)
    try {
      rows.grouped(batchSize).foreach { chunk =>
        val (deletes, upserts) = chunk.partition(_.getString(nPk + nVal) == "D")
        deletes.foreach { r =>
          (0 until nPk).foreach(i => del.setObject(i + 1, r.get(i)))
          del.addBatch()
        }
        if (deletes.nonEmpty) del.executeBatch(): Unit
        upserts.foreach { r =>
          (0 until nVal).foreach(i => upd.setObject(i + 1, r.get(nPk + i)))
          (0 until nPk).foreach(i => upd.setObject(nVal + i + 1, r.get(i)))
          upd.addBatch()
        }
        if (upserts.nonEmpty) {
          val counts = upd.executeBatch()
          val misses = upserts.zip(counts).collect {
            case (r, 0) => r
            case (r, java.sql.Statement.SUCCESS_NO_INFO) =>
              // unknown count: decide with one targeted update
              (0 until nVal).foreach(i => upd.setObject(i + 1, r.get(nPk + i)))
              (0 until nPk).foreach(i => upd.setObject(nVal + i + 1, r.get(i)))
              if (upd.executeUpdate() == 0) r else null
          }.filter(_ != null)
          misses.foreach { r =>
            (0 until nPk + nVal).foreach(i => ins.setObject(i + 1, r.get(i)))
            ins.addBatch()
          }
          if (misses.nonEmpty) ins.executeBatch(): Unit
        }
        conn.commit()
      }
    } finally { del.close(); ins.close(); upd.close() }
  }
}
