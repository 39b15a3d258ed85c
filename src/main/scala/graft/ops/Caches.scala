package graft.ops

import org.apache.spark.sql.DataFrame

/** Engine-level registry of intermediate frames persisted on behalf of a
  * lazy result.
  *
  * Several ops persist a frame their returned DataFrame consumes more
  * than once (LSH signatures, IVF assignments, scalar-probe aggregates).
  * The op cannot unpersist it eagerly — the caller's action hasn't run
  * yet — so eviction is the caller's job. One session-level convention
  * keeps that from leaking in long-lived drivers: every op registers its
  * persists here, and the caller runs [[releaseCaches]] after consuming
  * results ([[graft.Harness.release]]'s `clearCache()` subsumes the
  * unpersist but not the reference cleanup).
  */
object Caches {
  private val frames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  /** Register a frame the caller must evict; returns it for chaining. */
  def tracked(df: DataFrame): DataFrame = synchronized { frames += df; df }

  /** Unpersist every tracked frame and drop the references. */
  def releaseCaches(): Unit = synchronized {
    frames.foreach(_.unpersist())
    frames.clear()
  }

  /** Number of currently tracked frames (spec observability). */
  def trackedCount: Int = synchronized(frames.size)

  /** Memory-sink temp views minted by streaming queries, registered at
    * creation so teardown drops EXACTLY these — a substring filter
    * ("name contains stream") both missed real families (4 of 9, caught
    * only in hand-review) and would silently delete any future
    * non-streaming view that happens to contain the word. Every sink
    * name goes through [[registerStreamView]] (minted by
    * [[graft.streaming.Bounded.toMemory]]); [[releaseStreamingState]]
    * drains the set.
    */
  private val streamViews = scala.collection.mutable.Set.empty[String]

  /** Register a memory-sink view name for teardown; returns it for chaining. */
  def registerStreamView(name: String): String =
    synchronized { streamViews += name; name }

  /** Registered-but-not-yet-torn-down view names (spec observability). */
  def pendingStreamViews: Set[String] = synchronized(streamViews.toSet)

  /** Tear down executor-side streaming residue a finished query leaves in
    * a long-lived JVM: loaded state-store providers (kept in a
    * process-wide map and re-visited by the 60s maintenance thread
    * forever) and memory-sink temp views. Measured effect: with five
    * other streaming queries' providers resident, events_hourly_stream
    * read 12.0 s; in a clean JVM, 2.6 s — the residue, not the query,
    * was the cost. Every main calls this through
    * [[graft.Harness.release]] between queries; a terminated AvailableNow query never needs its
    * providers again (a restarted one reloads from the checkpoint).
    */
  def releaseStreamingState(spark: org.apache.spark.sql.SparkSession): Unit = {
    // StateStore is private[sql]; same-JVM reflection reaches the
    // public-bytecode singleton (the AbstractDataType precedent from
    // CLAUDE.md: Spark's scala-level privacy, not a JVM boundary)
    try {
      val cls = Class.forName(
        "org.apache.spark.sql.execution.streaming.state.StateStore$")
      val module = cls.getField("MODULE$").get(null)
      cls.getMethod("unloadAll").invoke(module)
      ()
    } catch { case _: Throwable => () }
    // memory-sink views are one-shot per query invocation (sequenced
    // names registered at mint time); dropping them frees the
    // collected rows. Exact-name drops only — no substring heuristics.
    val views = synchronized { val v = streamViews.toList; streamViews.clear(); v }
    views.foreach { v =>
      try spark.catalog.dropTempView(v) catch { case _: Throwable => () }
    }
  }

  /** True iff the process-wide state-store provider map is empty —
    * reached via the same reflective path [[releaseStreamingState]]
    * uses, so a Spark upgrade that breaks the unload hook ALSO breaks
    * this probe and the spec pinning it fails loudly (instead of the
    * residue fix silently disarming).
    */
  def loadedStateStoreProviders: Int = {
    val cls = Class.forName(
      "org.apache.spark.sql.execution.streaming.state.StateStore$")
    val module = cls.getField("MODULE$").get(null)
    val m = cls.getDeclaredMethod("loadedProviders")
    m.setAccessible(true)
    val map = m.invoke(module).asInstanceOf[scala.collection.mutable.HashMap[_, _]]
    map.synchronized(map.size)
  }

  /** Attach an Observation to `src`: build downstream lineage on [[df]],
    * and read the aggregated metrics from [[row]] AFTER an action has
    * executed the observed node (the localCheckpoint that materializes
    * the frame, in every current use). Rides metrics on a job that runs
    * anyway — the job-diet device for the maintenance paths, where each
    * separate `.agg().head()` / tiny `.collect()` was its own Spark job
    * (fixture-scale merges are job-count bound, round-9 lesson). If the
    * async listener bus loses the event (bounded 60 s wait), [[row]]
    * falls back to aggregating directly — correct either way, and every
    * observed frame here is micro-batch-sized.
    */
  final class Observed(src: DataFrame, exprs: org.apache.spark.sql.Column*) {
    private val obs = org.apache.spark.sql.Observation()
    val df: DataFrame = src.observe(obs, exprs.head, exprs.tail: _*)
    lazy val row: org.apache.spark.sql.Row =
      scala.util.Try(scala.concurrent.Await.result(obs.future,
        scala.concurrent.duration.Duration(60, "seconds")))
        .getOrElse(src.agg(exprs.head, exprs.tail: _*).head())
  }

  /** Run `body` with the session's shuffle width scoped down to a
    * micro-batch size (cores/8, floor 4) and restored after. Stateful
    * streaming queries pin their state-store partition count from
    * `spark.sql.shuffle.partitions` at first start — so this only
    * affects NEWLY started streams; an existing checkpoint keeps the
    * width it was created with. At cluster width a fixture-scale
    * micro-batch pays one state/delta commit + fsync per partition per
    * batch, which dominates wall. The single definition behind every
    * scoped-width site (SparkEntry streaming entries,
    * [[Dedup.streamingNovelty]]'s batch body).
    */
  def withBatchShuffleWidth[A](spark: org.apache.spark.sql.SparkSession)(body: => A): A =
    withShuffleWidth(spark,
      Some(math.max(4, spark.sparkContext.defaultParallelism / 8)))(body)

  /** Run `body` with the session's shuffle width scoped to `width` and
    * AQE off, restored after — `None` runs the body untouched (the
    * scale case: the session width is already right). AQE off in the
    * scoped case for the same reason as the batch device: at the tiny
    * frame sizes that justify scoping, every AQE shuffle-stage
    * materialization is its own Spark job plus a re-planning gap.
    * (Round-13 caveat stands: never wrap a `repartitionByRange`
    * materialization — with AQE off its range sampler re-executes the
    * whole child lineage.)
    */
  def withShuffleWidth[A](spark: org.apache.spark.sql.SparkSession,
                          width: Option[Int])(body: => A): A = width match {
    case None => body
    case Some(w) =>
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.shuffle.partitions", w)
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try body finally {
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      }
  }

  /** Shuffle width for an iterative loop whose per-round frames are
    * bounded by `rows` (guide §2: size partitions to the data, not to
    * the machine): ceil(rows / 2M) clamped to [4, defaultParallelism];
    * `None` (run unscoped) once the data-derived width reaches the
    * session width — so at cluster scale the loop keeps the session's
    * width and AQE, while fixture-scale loops stop paying 32-task
    * scheduling per tiny round. */
  def roundWidth(spark: org.apache.spark.sql.SparkSession, rows: Long): Option[Int] = {
    val target = 2L << 20
    val w = math.max(4L, (rows + target - 1) / target)
    if (w >= spark.sparkContext.defaultParallelism) None else Some(w.toInt)
  }
}
