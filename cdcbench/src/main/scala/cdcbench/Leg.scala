package cdcbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import scala.collection.mutable

/** Times of the three bootstrap phases, ms. In the untraced pass the
  * phases that `Engine.run` fuses into one job stay fused, and their time
  * is reported inside `seedWriteMs`. `sink` counts what the seed handed
  * to the leg's sink entry point (traced pass only).
  */
final case class BootTimes(snapshotMs: Double, catchupMs: Double, seedWriteMs: Double,
                           sink: SinkCount = SinkCount.zero)

/** What one micro-batch wrote to the state store (listed after the batch). */
final case class BatchWrite(buckets: Int, files: Int, bytes: Long)

/** Rows one frame handed to the leg's sink entry point, and of those the
  * upserts (non-deletes) and the upserts whose key the target lacked just
  * before the call, each of which pays a zero-row UPDATE before its
  * INSERT. Both upsert counts are 0 on legs without a JDBC sink.
  */
final case class SinkCount(rows: Long, upserts: Long, misses: Long) {
  def +(o: SinkCount): SinkCount = SinkCount(rows + o.rows, upserts + o.upserts, misses + o.misses)
}

object SinkCount {
  val zero: SinkCount = SinkCount(0L, 0L, 0L)
}

/** One leg of the replication path: its inputs, its bootstrap, its stream
  * and its output check. Inputs are generated once per leg from the seed.
  */
abstract class Leg(val spark: SparkSession, val wl: Workload, seed: Long, steadyEvents: Int) {
  protected val gen = new Generator(seed, wl.keys, wl.zipfS, wl.pUnparseable, wl.pUnregistered)
  val history: Events = gen.next(1L, wl.history)
  val backlog: Events = gen.next(history.seq(history.n), wl.backlog)
  val steady: Events = gen.next(backlog.seq(backlog.n), steadyEvents)
  lazy val all: Events = Events.concat(Seq(history, backlog, steady))

  /** Write history and backlog where bootstrap and stream read them. */
  def prepare(): Unit

  /** Bootstrap from history; `split` runs each phase as its own job so the
    * three times are separate.
    */
  def bootstrap(split: Boolean): BootTimes

  /** Drop what a bootstrap wrote, so the next one starts from scratch. */
  def unbootstrap(): Unit

  /** Start the stream from the first post-history event, running `apply`
    * on each micro-batch.
    */
  def startStream(apply: (DataFrame, Long) => Unit): StreamingQuery

  /** The frame the sink entry point receives for one micro-batch. */
  def sinkInput(batch: DataFrame): DataFrame

  /** The program's sink entry point. */
  def sink(frame: DataFrame, batchId: Long): Unit

  /** The per-batch call of an untraced stream. */
  final def sinkCall(batch: DataFrame, batchId: Long): Unit = sink(sinkInput(batch), batchId)

  /** Counts of a persisted sink input, taken against the target as it is
    * now, before the sink call.
    */
  def count(frame: DataFrame): SinkCount

  /** Where the open-loop generator appends. */
  def newSink(): LogSink

  /** Covered prefix (sequence numbers) of a progress `endOffset`. */
  def prefix(endOffset: String): Long

  /** Events the source log holds now (lines or rows). */
  def logLength(): Long

  /** Sequence numbers of events whose outcome is wrong: state rows that
    * disagree with the oracle's LWW map, and dead-letter dispositions that
    * disagree with the injected faults.
    */
  def wrongEvents(): mutable.BitSet

  /** Dead-lettered events the program recorded; 0 on legs without a DLQ. */
  def deadLetters(): Long = 0L

  /** State store write of one batch; None on legs without a state store. */
  def batchWrite(batchId: Long): Option[BatchWrite] = None

  /** State store bytes per key after bootstrap; 0 without a state store. */
  def stateBytesPerKey(): Double = 0.0

  def close(): Unit
}

object Leg {
  def apply(spark: SparkSession, wl: Workload, seed: Long, dir: String, steadyEvents: Int): Leg =
    wl.leg match {
      case "binlog" => new BinlogLeg(spark, wl, seed, dir, steadyEvents)
      case "jdbc" => new JdbcLeg(spark, wl, seed, dir, steadyEvents)
    }

  /** Wall clock, epoch ms with sub-ms digits: comparable with Spark's
    * progress timestamps and listener event times.
    */
  def wallMs(): Double = {
    val t = java.time.Instant.now()
    t.getEpochSecond * 1000.0 + t.getNano / 1e6
  }

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }
}
