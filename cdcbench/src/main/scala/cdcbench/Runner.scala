package cdcbench

import graft.ops.StreamMetricsListener
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryProgress

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One metric as printed: value and unit. */
final case class Metric(value: Double, unit: String)

/** Outcome of one pass over a leg: bootstrap, drain, steady. */
final case class PassResult(metrics: mutable.LinkedHashMap[String, Metric], attempted: Long,
                            failed: Long, spans: Seq[Span], notes: Seq[String])

/** Runs the three phases of a workload on a prepared leg.
  *
  *   1. bootstrap — history events ÷ wall time until the state (or target
  *      table) is seeded;
  *   2. drain     — the backlog is in the log before the stream starts;
  *      backlog ÷ time from stream start until a committed frontier covers
  *      it;
  *   3. steady    — the open-loop generator appends the leg's steady events
  *      at the workload's rate; every event's latency is the end of the first
  *      trigger whose frontier covers it minus its due time.
  *
  * With `traced`, the pass also records Spark jobs and tasks, the state
  * directory after each batch, the repo's own `StreamMetricsListener`, and
  * one span tree per trigger, and reports the per-layer metrics.
  */
final class Runner(spark: SparkSession) {

  private val drainTimeoutMs = 120000L
  private val settleTimeoutMs = 60000L

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  /** Poll the query until a committed frontier reaches `seq`; false on
    * timeout or a failed query.
    */
  private def awaitCovered(q: org.apache.spark.sql.streaming.StreamingQuery, leg: Leg,
                           seq: Long, timeoutMs: Long): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def covered = Option(q.lastProgress).exists(p => leg.prefix(Progress.endOffset(p)) >= seq)
    while (!covered && q.isActive && System.currentTimeMillis() < deadline) Thread.sleep(20)
    q.exception.foreach(e => throw e)
    covered
  }

  /** JIT warm-up: bootstrap, then drain the backlog through the stream. */
  def warm(leg: Leg): Unit = {
    leg.bootstrap(split = false)
    val q = leg.startStream(leg.sinkCall)
    try {
      if (!awaitCovered(q, leg, leg.backlog.seq(leg.backlog.n - 1), drainTimeoutMs))
        throw new IllegalStateException(s"warm-up backlog not drained in ${drainTimeoutMs / 1000} s")
    } finally q.stop()
  }

  def pass(leg: Leg, traced: Boolean): PassResult = {
    val m = mutable.LinkedHashMap.empty[String, Metric]
    val notes = mutable.ArrayBuffer.empty[String]
    val jobLog = new JobLog
    val obs = new StreamMetricsListener
    if (traced) {
      spark.sparkContext.addSparkListener(jobLog)
      spark.streams.addListener(obs)
    }
    val applyCalls = mutable.LinkedHashMap.empty[Long, (Double, Double)]
    val sinkCounts = mutable.LinkedHashMap.empty[Long, SinkCount]
    val writes = mutable.LinkedHashMap.empty[Long, BatchWrite]
    // traced: the sink input is persisted and counted before the timed
    // sink call, at the cost of one extra job per batch
    val apply: (DataFrame, Long) => Unit =
      if (!traced) leg.sinkCall
      else (batch, id) => {
        val frame = leg.sinkInput(batch).persist()
        try {
          sinkCounts(id) = leg.count(frame)
          val sc = batch.sparkSession.sparkContext
          val t0 = Leg.wallMs()
          sc.setLocalProperty(JobLog.SpanKey, id.toString)
          try leg.sink(frame, id)
          finally sc.setLocalProperty(JobLog.SpanKey, null)
          applyCalls(id) = (t0, Leg.wallMs())
        } finally frame.unpersist()
        leg.batchWrite(id).foreach(writes(id) = _)
      }

    try {
      // 1. bootstrap, the median of `bootstrapRuns` from scratch
      val boots = (1 to leg.wl.bootstrapRuns).map { r =>
        if (r > 1) leg.unbootstrap()
        Leg.timed(leg.bootstrap(split = traced))
      }
      val (boot, bootMs) = boots.sortBy(_._2).apply(boots.size / 2)
      Main.log(s"  bootstrap ${boots.map(b => f"${b._2 / 1000}%.2f").mkString(", ")} s")
      m("bootstrap_events_per_s") = Metric(leg.history.n / (bootMs / 1000.0), "1/s")
      val stateBytesPerKey = if (traced) leg.stateBytesPerKey() else 0.0

      // 2. drain
      val backlogEnd = leg.backlog.seq(leg.backlog.n - 1)
      val gc0 = gcMs()
      val streamStart = Leg.wallMs()
      val q = leg.startStream(apply)
      var generator: OpenLoop = null
      val progress: Seq[StreamingQueryProgress] =
        try {
          if (!awaitCovered(q, leg, backlogEnd, drainTimeoutMs))
            throw new IllegalStateException(s"backlog not drained in ${drainTimeoutMs / 1000} s")
          Main.log(f"  drain ${(Leg.wallMs() - streamStart) / 1000}%.2f s")
          // 3. steady: the generator starts once the backlog is committed
          val out = leg.newSink()
          generator = new OpenLoop(leg.steady, out, leg.wl.rate)
          try {
            generator.start()
            generator.finish()
          } finally out.close()
          val lastSeq = leg.steady.seq(leg.steady.n - 1)
          Main.log(f"  steady generated, ${(Leg.wallMs() - streamStart) / 1000}%.2f s since stream start")
          if (!awaitCovered(q, leg, lastSeq, settleTimeoutMs))
            notes += s"stream did not commit every event within ${settleTimeoutMs / 1000} s"
          q.recentProgress.toSeq
        } finally q.stop()
      val gcStream = gcMs() - gc0

      val data = progress.filter(_.numInputRows > 0).sortBy(_.batchId)
      val commits = data.map(p => Latency.Commit(Progress.endMs(p), leg.prefix(Progress.endOffset(p))))
      val drainCommit = commits.filter(_.prefix >= backlogEnd).map(_.endMs).minOption
        .getOrElse(Double.NaN)
      m("drain_events_per_s") = Metric(leg.backlog.n / ((drainCommit - streamStart) / 1000.0), "1/s")
      val committed = Latency.commitTimes(leg.steady.firstSeq, leg.steady.n, commits)
      val lat = committed.indices.filterNot(i => committed(i).isNaN)
        .map(i => committed(i) - generator.dueMs(i)).toArray
      m("apply_latency_p50_ms") = Metric(Latency.percentile(lat, 0.50), "ms")
      m("apply_latency_p99_ms") = Metric(Latency.percentile(lat, 0.99), "ms")

      // correctness: the oracle's LWW map, the injected dead letters, and
      // every event committed by the end of the run
      val wrong = Main.log.timed("  check")(leg.wrongEvents())
      val lastCommitted = commits.map(_.prefix).maxOption.getOrElse(0L)
      val allEv = leg.all
      for (s <- math.max(lastCommitted + 1, leg.backlog.firstSeq) to allEv.seq(allEv.n - 1))
        wrong += s.toInt
      val attempted = allEv.n.toLong
      m("failed_events_frac") = Metric(wrong.size.toDouble / attempted, "fraction")
      notes += f"latency samples ${lat.length}%d of ${leg.steady.n}%d steady events, " +
        f"${data.size}%d data triggers, generator late max ${generator.lateMaxMs}%.1f ms"

      var spans = Seq.empty[Span]
      if (traced) {
        spans = buildSpans(data, applyCalls, jobLog.all)
        perLayer(m, leg, boot, data, commits, applyCalls, sinkCounts.values.toSeq, writes,
          jobLog.all, gcStream, generator, stateBytesPerKey)
        crossCheck(m, notes, obs, progress)
      }
      PassResult(m, attempted, wrong.size.toLong, spans, notes.toSeq)
    } finally if (traced) {
      spark.sparkContext.removeSparkListener(jobLog)
      spark.streams.removeListener(obs)
    }
  }

  private val phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
    "commitOffsets")

  /** One span tree per data trigger. Spark reports phase durations only,
    * so the phase spans are laid end to end from the trigger start in
    * execution order; the sink call and the Spark jobs carry their own
    * measured start and end.
    */
  private def buildSpans(data: Seq[StreamingQueryProgress],
                         applyCalls: collection.Map[Long, (Double, Double)],
                         jobs: Seq[JobLog.Job]): Seq[Span] = {
    var nextId = 0L
    def id(): Long = { nextId += 1; nextId }
    data.flatMap { p =>
      val trace = p.batchId + 1
      val root = Span(id(), 0, trace, "trigger", Progress.startMs(p), Progress.endMs(p))
      var t = root.startMs
      val phaseSpans = phases.map { ph =>
        val d = Progress.phaseMs(p, ph)
        val s = Span(id(), root.id, trace, ph, t, t + d)
        t += d
        s
      }
      val addBatch = phaseSpans.find(_.name == "addBatch").get
      val call = applyCalls.get(p.batchId).map { case (a, b) => Span(id(), addBatch.id, trace, "sink", a, b) }
      val jobSpans = jobs.filter(_.batch.contains(p.batchId)).map { j =>
        val parent = if (j.span.contains(p.batchId)) call.map(_.id).getOrElse(root.id) else root.id
        Span(id(), parent, trace, s"job-${j.id}", j.startMs, j.endMs)
      }
      (root +: phaseSpans) ++ call.toSeq ++ jobSpans
    }
  }

  private def perLayer(m: mutable.LinkedHashMap[String, Metric], leg: Leg, boot: BootTimes,
                       data: Seq[StreamingQueryProgress], commits: Seq[Latency.Commit],
                       applyCalls: collection.Map[Long, (Double, Double)],
                       sinkCounts: Seq[SinkCount], writes: collection.Map[Long, BatchWrite],
                       jobs: Seq[JobLog.Job], gcStream: Long, generator: OpenLoop,
                       stateBytesPerKey: Double): Unit = {
    val nTrig = math.max(1, data.size).toDouble
    def phase(ph: String) = data.map(Progress.phaseMs(_, ph)).sum / nTrig
    val events = data.map(_.numInputRows).sum.toDouble

    // sources: offset bookkeeping and how far reading lags the log
    m("source.latest_offset_ms") = Metric(phase("latestOffset"), "ms")
    m("source.log_lines") = Metric(leg.logLength().toDouble, "count")
    // per steady-phase trigger: events due by its commit that its
    // frontier does not cover yet
    val lags = commits.filter(_.endMs >= generator.startMs).map { c =>
      val due = math.floor((c.endMs - generator.startMs) * leg.wl.rate / 1000.0).toLong + 1
      val appended = leg.steady.firstSeq - 1 + math.min(leg.steady.n.toLong, due)
      (appended - c.prefix).max(0L).toDouble
    }
    m("source.lag_events_p99") = Metric(Latency.percentile(lags.toArray, 0.99), "count")

    // stream: the micro-batch driver
    m("stream.trigger_ms") = Metric(phase("triggerExecution"), "ms")
    m("stream.add_batch_ms") = Metric(phase("addBatch"), "ms")
    m("stream.query_planning_ms") = Metric(phase("queryPlanning"), "ms")
    m("stream.wal_commit_ms") = Metric(phase("walCommit"), "ms")
    m("stream.commit_offsets_ms") = Metric(phase("commitOffsets"), "ms")
    m("stream.rows_per_trigger") = Metric(events / nTrig, "count")
    m("stream.triggers") = Metric(data.size.toDouble, "count")

    // sinks: the wrapped per-batch call and the frames it received; the
    // upsert misses include the bootstrap's seed upserts
    val streamSink = sinkCounts.foldLeft(SinkCount.zero)(_ + _)
    val allSink = boot.sink + streamSink
    m("sinks.apply_ms") = Metric(applyCalls.values.map { case (a, b) => b - a }.sum / nTrig, "ms")
    m("sinks.rows_applied") = Metric(streamSink.rows.toDouble, "count")
    m("sinks.insert_after_miss_frac") = Metric(
      if (allSink.upserts == 0) 0.0 else allSink.misses.toDouble / allSink.upserts, "fraction")

    // streaming: the bucketed state store
    val w = writes.values.toSeq
    m("streaming.touched_buckets") = Metric(
      if (w.isEmpty) 0.0 else w.map(_.buckets).sum.toDouble / w.size, "count")
    m("streaming.files_written") = Metric(w.map(_.files).sum.toDouble, "count")
    m("streaming.bytes_written_per_event") = Metric(w.map(_.bytes).sum / math.max(1.0, events), "B")
    m("streaming.state_bytes_per_key") = Metric(stateBytesPerKey, "B")

    // cdc: bootstrap phases, dead letters
    m("cdc.snapshot_ms") = Metric(boot.snapshotMs, "ms")
    m("cdc.catchup_ms") = Metric(boot.catchupMs, "ms")
    m("cdc.seed_write_ms") = Metric(boot.seedWriteMs, "ms")
    m("cdc.dead_letters") = Metric(leg.deadLetters().toDouble, "count")

    // spark: jobs of the stream's batches
    val batchIds = data.map(_.batchId).toSet
    val streamJobs = jobs.filter(_.batch.exists(batchIds))
    m("spark.jobs_per_trigger") = Metric(streamJobs.size / nTrig, "count")
    m("spark.tasks_per_trigger") = Metric(streamJobs.map(_.tasks).sum / nTrig, "count")
    val gaps = data.map { p =>
      val js = streamJobs.filter(_.batch.contains(p.batchId))
      Progress.phaseMs(p, "triggerExecution") - Span.unionMs(js.map(j => (j.startMs, j.endMs)))
    }
    m("spark.driver_gap_ms_per_trigger") = Metric(gaps.sum / nTrig, "ms")
    m("spark.executor_cpu_ms_per_event") = Metric(
      streamJobs.map(_.cpuNs).sum / 1e6 / math.max(1.0, events), "ms")
    m("spark.shuffle_write_bytes_per_event") = Metric(
      streamJobs.map(_.shuffleWriteBytes).sum / math.max(1.0, events), "B")
    m("spark.gc_ms") = Metric(gcStream.toDouble, "ms")

    m("gen.late_ms_max") = Metric(generator.lateMaxMs, "ms")
  }

  /** The repo's own listener saw the same stream: compare its counts with
    * the benchmark's. Its `latency_*` fields are trigger durations and are
    * reported as such.
    */
  private def crossCheck(m: mutable.LinkedHashMap[String, Metric], notes: mutable.Buffer[String],
                         obs: StreamMetricsListener, progress: Seq[StreamingQueryProgress]): Unit = {
    val deadline = System.currentTimeMillis() + 5000
    while (obs.snapshot("n_batches") < progress.size && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    val snap = obs.snapshot
    val rows = progress.map(_.numInputRows).sum.toDouble
    m("obs.n_batches") = Metric(snap("n_batches"), "count")
    m("obs.total_rows") = Metric(snap("total_rows"), "count")
    m("obs.trigger_duration_p50_ms") = Metric(snap("latency_p50_ms"), "ms")
    val mismatches = Seq(snap("n_batches") != progress.size, snap("total_rows") != rows).count(identity)
    m("obs.mismatches") = Metric(mismatches.toDouble, "count")
    if (mismatches > 0)
      notes += s"StreamMetricsListener disagrees: n_batches ${snap("n_batches")} vs ${progress.size}, " +
        s"total_rows ${snap("total_rows")} vs $rows"
  }
}
