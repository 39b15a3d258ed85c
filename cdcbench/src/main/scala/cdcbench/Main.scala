package cdcbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `cdcbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR --out DIR`
  *
  * Runs one workload end to end in one JVM and prints every metric with its
  * unit, then, as the last line, the result object
  * `{"correct", "attempted", "failed", "metrics"}`: the end-to-end metrics
  * with `--trace 0`, the per-layer metrics with `--trace 1`.
  */
object Main {

  val endToEnd: Seq[String] = Seq("setup_s", "bootstrap_events_per_s", "drain_events_per_s",
    "apply_latency_p50_ms", "apply_latency_p99_ms")

  val perLayer: Seq[String] = Seq(
    "source.latest_offset_ms", "source.log_lines", "source.lag_events_p99",
    "stream.trigger_ms", "stream.add_batch_ms", "stream.query_planning_ms",
    "stream.wal_commit_ms", "stream.commit_offsets_ms", "stream.rows_per_trigger",
    "stream.triggers",
    "sinks.apply_ms", "sinks.rows_applied", "sinks.insert_after_miss_frac",
    "streaming.touched_buckets", "streaming.files_written",
    "streaming.bytes_written_per_event", "streaming.state_bytes_per_key",
    "cdc.snapshot_ms", "cdc.catchup_ms", "cdc.seed_write_ms", "cdc.dead_letters",
    "spark.jobs_per_trigger", "spark.tasks_per_trigger", "spark.driver_gap_ms_per_trigger",
    "spark.executor_cpu_ms_per_event", "spark.shuffle_write_bytes_per_event", "spark.gc_ms",
    "gen.late_ms_max", "trace.overhead_frac")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: String, out: String)

  def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, not $t")
    }
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt, trace,
      need("work"), need("out"))
    require(a.seconds >= 1, "--seconds must be at least 1")
    a
  }

  private def read(p: String): String =
    scala.util.Try(new String(Files.readAllBytes(Paths.get(p)), StandardCharsets.UTF_8).trim)
      .getOrElse("unknown")

  /** Filesystem type of the mount holding `dir` (tmpfs, ext4, overlay…). */
  private def fsType(dir: String): String = {
    val path = Paths.get(dir).toRealPath().toString
    read("/proc/mounts").linesIterator.map(_.split(" "))
      .filter(f => f.length > 2 && (path == f(1) || path.startsWith(f(1).stripSuffix("/") + "/")))
      .maxByOption(_(1).length).map(_(2)).getOrElse("unknown")
  }

  private def json(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, "metric is not a finite number")
      d.toString
    case m: collection.Map[_, _] => m.map { case (k, x) => json(k.toString) + ": " + json(x) }.mkString("{", ", ", "}")
    case s: Seq[_] => s.map(json).mkString("[", ", ", "]")
    case other => other.toString
  }

  def session(cores: Int, work: String): SparkSession = {
    System.setProperty("derby.system.home", s"$work/derby")
    System.setProperty("derby.stream.error.file", s"$work/derby.log")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("cdcbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val wl = Workload.named(a.workload)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    Files.createDirectories(Paths.get(a.work))
    Files.createDirectories(Paths.get(a.out))
    val nproc = Runtime.getRuntime.availableProcessors()
    val cores = math.max(1, nproc - 1)
    val stamps = mutable.LinkedHashMap[String, Any](
      "workload" -> wl.name, "seed" -> a.seed.toString, "seconds" -> a.seconds, "trace" -> a.trace,
      "nproc" -> nproc, "spark_cores" -> cores, "work_fs" -> fsType(a.work),
      "loadavg_start" -> read("/proc/loadavg"), "boot_id" -> read("/proc/sys/kernel/random/boot_id"))

    val spark = session(cores, a.work)
    log(f"session up ${(System.currentTimeMillis() - jvmStartMs) / 1000}%.1f s after JVM start")
    val runner = new Runner(spark)
    def leg(w: Workload, seed: Long, sub: String, seconds: Int) =
      Leg(spark, w, seed, s"${a.work}/$sub", math.max(1, (w.rate * seconds).toInt))

    // set-up: session (above), a JIT warm-up pass, then the measured inputs
    val warm = leg(Workload.warm(wl), a.seed ^ 0x5eedL, "warm", 1)
    log.timed("warm-up prepare")(warm.prepare())
    log.timed("warm-up pass")(try runner.warm(warm) finally warm.close())
    val main = leg(wl, a.seed, "run", a.seconds)
    log.timed("prepare")(main.prepare())
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    def run(l: Leg, traced: Boolean): PassResult =
      log.timed(if (traced) "traced pass" else "pass")(try runner.pass(l, traced) finally l.close())
    def second(): Leg = {
      val l = leg(wl, a.seed, "second", a.seconds)
      log.timed("second prepare")(l.prepare())
      l
    }
    // traced: the same inputs once more, untraced, for the tracing
    // overhead; which pass runs first, on the cooler JVM, alternates with
    // the seed's parity so the order does not bias the overhead one way
    val untracedFirst = Math.floorMod(a.seed, 2L) == 0L
    val (res, untraced) =
      if (!a.trace) (run(main, traced = false), None)
      else if (untracedFirst) {
        val u = run(main, traced = false)
        (run(second(), traced = true), Some(u))
      } else {
        val t = run(main, traced = true)
        (t, Some(run(second(), traced = false)))
      }
    val m = res.metrics
    m.put("setup_s", Metric(setupS, "s"))
    var attempted = res.attempted
    var failed = res.failed
    val notes = mutable.ArrayBuffer[String]() ++ res.notes
    untraced.foreach { u =>
      attempted += u.attempted
      failed += u.failed
      def rel(k: String, higherIsBetter: Boolean) = {
        val (t, b) = (m(k).value, u.metrics(k).value)
        if (higherIsBetter) b / t - 1 else (t - b) / b
      }
      val parts = Seq(rel("bootstrap_events_per_s", higherIsBetter = true),
        rel("drain_events_per_s", higherIsBetter = true),
        rel("apply_latency_p50_ms", higherIsBetter = false),
        rel("apply_latency_p99_ms", higherIsBetter = false))
      m("trace.overhead_frac") = Metric(parts.sum / parts.size, "fraction")
      notes += s"trace overhead (bootstrap, drain, p50, p99; ${if (untracedFirst) "untraced" else "traced"} first): " +
        parts.map(p => f"$p%.4f").mkString(", ")
      val dir = Paths.get(a.out)
      val self = Span.selfTimes(res.spans)
      writeLines(dir.resolve(s"spans-${wl.name}-${a.seed}.jsonl"),
        res.spans.map(s => Span.toJson(s, self(s.id))))
      val byName = res.spans.groupBy(s => if (s.name.startsWith("job-")) "job" else s.name)
      byName.toSeq.sortBy(_._1).foreach { case (n, ss) =>
        println(f"self_time $n%-14s total ${ss.map(s => self(s.id)).sum}%10.1f ms over ${ss.size}%d spans")
      }
    }

    stamps ++= Seq(
      "history_events" -> main.history.n, "backlog_events" -> main.backlog.n,
      "steady_events" -> main.steady.n, "keys" -> wl.keys, "rate_per_s" -> wl.rate,
      "max_per_batch" -> wl.maxPerBatch, "trigger_ms" -> wl.triggerMs,
      "failed_events_frac" -> m("failed_events_frac").value, "notes" -> notes.toSeq)
    m.foreach { case (k, v) => println(f"metric $k%-36s ${v.value}%.6f ${v.unit}") }
    notes.foreach(n => println(s"note $n"))

    val names = if (a.trace) perLayer else endToEnd
    val metrics = names.map(k => k -> mutable.LinkedHashMap[String, Any](
      "value" -> m(k).value, "unit" -> m(k).unit)).to(mutable.LinkedHashMap)
    val correct = failed == 0 && !m.get("obs.mismatches").exists(_.value > 0)
    val result = mutable.LinkedHashMap[String, Any](
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed, "metrics" -> metrics)
    writeLines(Paths.get(a.out).resolve(s"result-${wl.name}-${a.seed}-trace${if (a.trace) 1 else 0}.json"),
      Seq(json(mutable.LinkedHashMap[String, Any]("stamps" -> stamps, "result" -> result))))
    println(json(mutable.LinkedHashMap[String, Any]("stamps" -> stamps)))
    spark.stop()
    println(json(result))
    sys.exit(0)
  }

  /** Progress lines on standard error. */
  object log {
    def apply(msg: String): Unit = System.err.println(s"cdcbench: $msg")
    def timed[T](what: String)(f: => T): T = {
      val (r, ms) = Leg.timed(f)
      apply(f"$what%s ${ms / 1000}%.2f s")
      r
    }
  }

  private def writeLines(p: Path, lines: Seq[String]): Unit =
    Files.write(p, lines.asJava, StandardCharsets.UTF_8)
}
