package cdcbench

/** One workload: the same pipeline code, different input properties.
  *
  * @param leg          `binlog` (graft-binlog → filter → quarantine/decode
  *                     → bucketed LWW state) or `jdbc` (graft-jdbc-cdc →
  *                     LWW materialize → JDBC upsert)
  * @param history      events before the stream starts (bootstrap input);
  *                     on the binlog leg the log file still holds them, so
  *                     every source scan walks them
  * @param keys         key space; `zipfS` > 0 skews choice, 0 is uniform
  * @param backlog      events already in the log when the stream starts
  * @param maxPerBatch  source admission cap
  * @param rate         offered steady rate, events/s (open loop)
  * @param triggerMs    ProcessingTime trigger interval
  * @param warmHistory  history events of the set-up warm-up pass
  * @param warmBatches  micro-batches of the set-up warm-up pass: enough for
  *                     trigger times to settle after JIT compilation
  * @param bootstrapRuns bootstraps per pass, from scratch each time; the
  *                     median is reported (more than one where a single
  *                     bootstrap is short enough to be noisy)
  */
final case class Workload(name: String, leg: String, history: Int, keys: Int, zipfS: Double,
                          backlog: Int, maxPerBatch: Int, rate: Double, triggerMs: Long,
                          warmHistory: Int, warmBatches: Int, bootstrapRuns: Int = 1,
                          pUnparseable: Double = 0.0, pUnregistered: Double = 0.0) {
  /** Snapshot low watermark: the snapshot copies positions below it, the
    * catchup replays `[low, high)`.
    */
  def low: Long = history * 4L / 5 + 1
  def high: Long = history + 1L
}

object Workload {
  val all: Seq[Workload] = Seq(
    // long log, small hot state: per-trigger source bookkeeping (the
    // binlog source rescans the whole file) and fixed per-batch cost
    Workload("binlog_hot", "binlog", history = 200000, keys = 10000, zipfS = 1.0, backlog = 9000,
      maxPerBatch = 3000, rate = 500, triggerMs = 250, warmHistory = 4000, warmBatches = 3,
      pUnparseable = 0.001, pUnregistered = 0.001),
    // live database source and sink, writes beside reads, no state store
    // and no file parsing: fixed per-trigger driver work dominates
    Workload("jdbc_replica", "jdbc", history = 150000, keys = 50000, zipfS = 0.8, backlog = 100000,
      maxPerBatch = 20000, rate = 2000, triggerMs = 500, warmHistory = 150000, warmBatches = 6,
      bootstrapRuns = 3))

  def named(n: String): Workload =
    all.find(_.name == n).getOrElse(throw new IllegalArgumentException(
      s"unknown workload '$n' (known: ${all.map(_.name).mkString(", ")})"))

  /** The warm-up pass: the same leg bootstraps `warmHistory` events, then
    * runs `warmBatches` micro-batches of half the admission cap.
    */
  def warm(w: Workload): Workload =
    w.copy(history = w.warmHistory, keys = math.min(w.keys, w.warmHistory),
      backlog = w.warmBatches * (w.maxPerBatch / 2), maxPerBatch = w.maxPerBatch / 2,
      bootstrapRuns = 1)
}
