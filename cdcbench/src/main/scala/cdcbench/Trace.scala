package cdcbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import scala.collection.mutable

/** One traced interval. Spans of one trigger share `trace`; `parent` is 0
  * for a root.
  */
final case class Span(id: Long, parent: Long, trace: Long, name: String,
                      startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

object Span {

  /** Self time of every span: its duration minus the part of its interval
    * that its children cover (children clipped to the parent, overlaps
    * counted once).
    */
  def selfTimes(spans: Seq[Span]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val clipped = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
      s.id -> (s.durMs - unionMs(clipped))
    }.toMap
  }

  /** Total length of the union of intervals `(start, end)`; empty or
    * inverted intervals count nothing.
    */
  def unionMs(ivs: Seq[(Double, Double)]): Double = {
    var covered = 0.0
    var end = Double.NegativeInfinity
    ivs.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (b > end) { covered += b - math.max(a, end); end = b }
    }
    covered
  }

  def toJson(s: Span, self: Double): String =
    f"""{"id":${s.id},"parent":${s.parent},"trace":${s.trace},"name":"${s.name}",""" +
      f""""start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f,"self_ms":$self%.3f}"""
}

/** Fields of a `StreamingQueryProgress` the benchmark reads. */
object Progress {
  def startMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
  def phaseMs(p: StreamingQueryProgress, phase: String): Double =
    Option(p.durationMs.get(phase)).map(_.doubleValue).getOrElse(0.0)
  def endMs(p: StreamingQueryProgress): Double = startMs(p) + phaseMs(p, "triggerExecution")
  def endOffset(p: StreamingQueryProgress): String = p.sources.head.endOffset
}

/** Spark jobs and task totals, tagged by the stream batch that ran them
  * (Spark's own `streaming.sql.batchId` local property) and by the
  * benchmark span that submitted them ([[JobLog.SpanKey]]). Attached only
  * in the traced run.
  */
final class JobLog extends SparkListener {
  import JobLog.Job

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    jobs(e.jobId) = Job(e.jobId, prop("streaming.sql.batchId").map(_.toLong),
      prop(JobLog.SpanKey).map(_.toLong), e.time.toDouble)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId).flatMap(jobs.get); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.cpuNs += m.executorCpuTime
      j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
    }
  }

  def all: Seq[Job] = synchronized(jobs.values.toSeq.filterNot(_.endMs.isNaN))
}

object JobLog {
  final case class Job(id: Int, batch: Option[Long], span: Option[Long], startMs: Double,
                       var endMs: Double = Double.NaN, var tasks: Int = 0, var cpuNs: Long = 0L,
                       var shuffleWriteBytes: Long = 0L)

  /** Local property naming the benchmark span that submits a job. */
  val SpanKey = "cdcbench.span"
}
