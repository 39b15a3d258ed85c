package graft.ops

import graft.ops.Resilience.HealthSnapshot
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** Live streaming observability: a StreamingQueryListener that folds
  * `StreamingQueryProgress` into the same counter/health shapes the
  * reference serves over HTTP (reference: metrics/CDCMetrics.scala:13-151
  * counters + TPS + lag; api/CDCManagementAPI.scala:121-203 endpoints;
  * health rules health/HealthCheck.scala:13-165). The management API
  * becomes: attach the listener, serve [[snapshot]]/[[health]].
  */
final class StreamMetricsListener extends StreamingQueryListener {

  final case class BatchStat(batchId: Long, numInputRows: Long, processedRowsPerSecond: Double,
                             durationMs: Long, watermark: String)

  private val stats = new ConcurrentLinkedQueue[BatchStat]()

  override def onQueryStarted(event: QueryStartedEvent): Unit = ()

  override def onQueryProgress(event: QueryProgressEvent): Unit = {
    val p = event.progress
    stats.add(BatchStat(
      p.batchId, p.numInputRows, p.processedRowsPerSecond,
      Option(p.durationMs.get("triggerExecution")).map(_.toLong).getOrElse(0L),
      Option(p.eventTime).flatMap(m => Option(m.get("watermark"))).getOrElse("")))
    // bounded history, like the reference's DDL ring buffer (DDLHandler.scala:128-133)
    while (stats.size() > 256) stats.poll()
  }

  override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()

  def batches: Seq[BatchStat] = stats.asScala.toSeq

  /** Aggregate counters: total rows, mean throughput, last batch, and
    * apply-latency percentiles (the reference's P50/P95/P99 targets,
    * README.md:511-513 / BASELINE.md).
    */
  def snapshot: Map[String, Double] = {
    val b = batches
    val totalRows = b.map(_.numInputRows).sum.toDouble
    val totalSec = b.map(_.durationMs).sum / 1000.0
    def pct(p: Double): Double = {
      val d = b.map(_.durationMs).sorted
      if (d.isEmpty) 0.0
      else d(math.min(d.size - 1, math.ceil(p * d.size).toInt - 1).max(0)).toDouble
    }
    Map(
      "n_batches" -> b.size.toDouble,
      "total_rows" -> totalRows,
      "rows_per_sec" -> (if (totalSec > 0) totalRows / totalSec else 0.0),
      "last_batch_rows" -> b.lastOption.map(_.numInputRows.toDouble).getOrElse(0.0),
      "latency_p50_ms" -> pct(0.50),
      "latency_p95_ms" -> pct(0.95),
      "latency_p99_ms" -> pct(0.99))
  }

  /** Health from the live stats (error rate/queue come from the job's
    * own error accounting; lag from trigger latency here).
    */
  def health(errorRate: Double = 0.0, queueUtilization: Double = 0.0): HealthSnapshot =
    HealthSnapshot(
      lagMillis = batches.lastOption.map(_.durationMs).getOrElse(0L),
      errorRate = errorRate,
      queueUtilization = queueUtilization)
}
