package graft.cdc

import graft.streaming.{Bounded, StreamingApply}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Engine lifecycle orchestration: INIT → SNAPSHOT → CATCHUP → STREAMING
  * (reference: engine/CDCEngine.scala:147-188 phase pipeline,
  * :496-606 snapshot/catchup, model/CDCState.scala:32-40 transitions).
  *
  * In Spark the phases are driver-side orchestration of three jobs:
  *   1. SNAPSHOT — bulk-copy base state as of the low watermark (a batch
  *      job; in production `read.jdbc` partitioned by PK range, here the
  *      changelog prefix below `low`).
  *   2. CATCHUP — bounded replay of `[low, high)` merged over the
  *      snapshot (a second batch job). Overlap with the snapshot is
  *      absorbed by the idempotent LWW merge (§7.4(4)).
  *   3. STREAMING — Structured Streaming from `high` onward with
  *      foreachBatch incremental apply; offsets live in the checkpoint.
  *
  * Phase transitions are validated like the reference's state machine;
  * each phase records its watermark into the state directory so a
  * restarted driver resumes in the right phase.
  */
object Engine {

  sealed trait Phase { def name: String }
  case object Init extends Phase { val name = "INIT" }
  case object Snapshot extends Phase { val name = "SNAPSHOT" }
  case object Catchup extends Phase { val name = "CATCHUP" }
  case object Streaming extends Phase { val name = "STREAMING" }

  /** Valid transitions (reference model/CDCState.scala:32-40). */
  val transitions: Map[Phase, Set[Phase]] = Map(
    Init -> Set(Snapshot, Streaming),
    Snapshot -> Set(Catchup),
    Catchup -> Set(Streaming),
    Streaming -> Set())

  def validTransition(from: Phase, to: Phase): Boolean =
    transitions.getOrElse(from, Set.empty).contains(to)

  final case class RunResult(low: Long, high: Long, statePath: String)

  /** Full lifecycle over a changelog directory of parquet files.
    *
    * @param changelogDir directory whose files arrive as micro-batches in
    *                     the streaming phase
    * @param low          snapshot low watermark (events < low are the
    *                     "bulk copy"); reference records it BEFORE the
    *                     copy (CDCEngine.scala:509-512)
    * @param high         catchup high watermark; streaming starts here
    */
  def run(spark: SparkSession, changelogDir: String,
          normalize: DataFrame => DataFrame,
          low: Long, high: Long, workDir: String,
          payloadCols: Seq[String] = StreamingApply.defaultPayload): RunResult = {
    require(validTransition(Init, Snapshot))
    val full = normalize(spark.read.parquet(changelogDir))

    // SNAPSHOT: base state as of low (bulk copy under REPEATABLE_READ in
    // the reference; here the changelog prefix); CATCHUP: [low, high)
    seed(full.filter(col("pos") < low), Watermark.catchupRange(full, low, high),
      workDir, payloadCols)

    // STREAMING: everything >= high as micro-batches over the state
    require(validTransition(Catchup, Streaming))
    val stream = Bounded.readChunks(spark, changelogDir, spark.read.parquet(changelogDir).schema)
      .transform(df => normalize(df).filter(col("pos") >= high))
    Bounded.foreachBatch(stream, s"$workDir/ckpt", Bounded.OnePerFile(changelogDir))(
      StreamingApply.applyBatch(s"$workDir/state", payloadCols = payloadCols) _)

    RunResult(low, high, s"$workDir/state")
  }

  /** SNAPSHOT then CATCHUP: write the LWW state of `snapshot` rows to
    * `workDir/snapshot`, merge the `catchup` rows over it (overlap is
    * absorbed by the idempotent LWW merge), and seed the bucketed state
    * store at version -1 (pre-stream).
    */
  private def seed(snapshot: DataFrame, catchup: DataFrame, workDir: String,
                   payloadCols: Seq[String]): Unit = {
    ChangelogApply.materializeEnvelope(snapshot, payloadCols)
      .write.mode("overwrite").parquet(s"$workDir/snapshot")
    require(validTransition(Snapshot, Catchup))
    val caught = StreamingApply.mergeState(
      snapshot.sparkSession.read.parquet(s"$workDir/snapshot"), catchup, payloadCols)
    StreamingApply.writeVersion(caught, s"$workDir/state", -1L, payloadCols = payloadCols)
  }

  /** User-facing current state after/between phases. */
  def currentState(spark: SparkSession, result: RunResult,
                   payloadCols: Seq[String] = StreamingApply.defaultPayload): DataFrame =
    StreamingApply.currentState(spark, result.statePath, payloadCols)

  /** The same lifecycle against a LIVE database: every phase reads the
    * running server the way the reference's engine reads MySQL.
    *
    *   1. SNAPSHOT — partitioned `read.jdbc` stride on the position
    *     column (the reference's PK-range snapshot workers,
    *     snapshot/SnapshotWorker.scala:240-297); the `pos < low`
    *     predicate pushes down into the remote queries.
    *   2. CATCHUP — the bounded `[low, high)` range from the same
    *     partitioned reader, merged over the snapshot (overlap absorbed
    *     by the idempotent LWW merge).
    *   3. STREAMING — the graft-jdbc-cdc source tails the server from
    *     `high` onward in admission-capped micro-batches.
    *
    * `decode` adapts the table's wire row to the changelog envelope
    * (e.g. epoch-micros → TimestampType).
    */
  def runLive(spark: SparkSession, url: String, table: String, posCol: String,
              decode: DataFrame => DataFrame,
              low: Long, high: Long, workDir: String,
              numPartitions: Int = 4,
              maxPerBatch: Long = Long.MaxValue,
              payloadCols: Seq[String] = StreamingApply.defaultPayload): RunResult = {
    require(validTransition(Init, Snapshot))
    val bounds = graft.sources.JdbcCdcSource.withConnection(url) { conn =>
      val rs = conn.createStatement().executeQuery(
        s"SELECT MIN($posCol), MAX($posCol) FROM $table")
      rs.next(); (rs.getLong(1), rs.getLong(2))
    }
    val live = spark.read.jdbc(url, table, posCol,
      bounds._1, math.max(bounds._1 + 1, bounds._2), numPartitions,
      new java.util.Properties())

    // the position filters sit below `decode` so they push down to JDBC
    seed(decode(live.filter(col(posCol) < low)),
      decode(live.filter(col(posCol) >= low && col(posCol) < high)), workDir, payloadCols)

    require(validTransition(Catchup, Streaming))
    val stream = spark.readStream.format("graft-jdbc-cdc")
      .option("url", url).option("table", table).option("posColumn", posCol)
      .option("startPos", (high - 1).toString) // source reads pos > startPos
      .option("maxPerBatch", maxPerBatch.toString)
      .option("numPartitions", numPartitions.toString)
      .load()
      .transform(decode)
    Bounded.foreachBatch(stream, s"$workDir/ckpt", Bounded.AtLeast(0))(
      StreamingApply.applyBatch(s"$workDir/state", payloadCols = payloadCols) _)

    RunResult(low, high, s"$workDir/state")
  }
}
