package graft

/** Process-scoped scratch directories, swept by ONE JVM shutdown hook.
  *
  * Streaming queries and iterative checkpoints need temp trees that live
  * until process exit (their DataFrames read the dirs lazily, so earlier
  * deletion would break re-execution). A hook-per-dir (the previous shape)
  * leaks a Thread per invocation when Bench re-runs a query hundreds of
  * times; here repeated `dir()` calls only grow a queue of paths and the
  * single hook sweeps them all.
  */
object Scratch {
  private val created = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  private val hookInstalls = new java.util.concurrent.atomic.AtomicInteger(0)

  private lazy val installHook: Unit = {
    hookInstalls.incrementAndGet()
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      created.forEach(p => ops.BucketSwap.rmTree(p.toFile))
    }))
  }

  /** Scratch base tier: `SPARK_GRAFT_SCRATCH` when set, else a RAM-backed
    * tmpfs (`/dev/shm`) when one is writable AND has headroom, else
    * `java.io.tmpdir`.
    *
    * Everything under Scratch is process-ephemeral bookkeeping (streaming
    * checkpoints/WALs, iterative-round checkpoints, staged artifact
    * trees) whose durability tier is a DEPLOYMENT choice — on a cluster
    * SPARK_GRAFT_SCRATCH MUST point at the job's DFS scratch path (a
    * node-local tmpfs is neither durable nor shared, so the CC durable
    * checkpoints' executor-loss story needs the env var set). Locally the
    * default was the disk-backed /tmp, which made every streaming
    * micro-batch pay real fsync latency for WAL/state commits (and the
    * latency grows as a long bench sweep accumulates dirty writeback from
    * the artifact builders — measured round 13: stateful streaming
    * queries ran 2-3.5x their isolated time deep into a full sweep).
    * tmpfs makes those fsyncs memory-speed without changing any result:
    * recovery-from-scratch semantics within the process are identical.
    *
    * tmpfs hygiene (advice round 13): RAM-backed files leaked by a
    * SIGKILLed process survive until reboot, and tmpfs competes with
    * executor heap — so base init (i) sweeps stale entries under the
    * shared `graft_scratch` root older than [[StaleSweepAgeMs]] (old
    * enough that no live run still owns them), and (ii) only picks
    * /dev/shm when at least [[ShmMinFreeBytes]] is usable there.
    */
  private[graft] val StaleSweepAgeMs: Long = 6L * 3600 * 1000
  private[graft] val ShmMinFreeBytes: Long = 4L << 30

  /** Pure base-tier choice — the spec target: env override wins verbatim;
    * otherwise tmpfs when writable and roomy; otherwise the JVM tmpdir. */
  private[graft] def pickBase(envOverride: Option[String], shmWritable: Boolean,
                              shmUsableBytes: Long, tmpdir: String): java.nio.file.Path =
    envOverride.map(java.nio.file.Paths.get(_)).getOrElse {
      if (shmWritable && shmUsableBytes >= ShmMinFreeBytes)
        java.nio.file.Paths.get("/dev/shm", "graft_scratch")
      else java.nio.file.Paths.get(tmpdir)
    }

  /** Delete entries directly under `root` whose last-modified time is
    * older than `ageMs` — leftovers of processes that never ran their
    * shutdown hook (SIGKILL/OOM). Live runs' dirs are younger by
    * construction (a run writes continuously). Returns names swept. */
  private[graft] def sweepStale(root: java.nio.file.Path, ageMs: Long): Seq[String] = {
    val cutoff = System.currentTimeMillis() - ageMs
    Option(root.toFile.listFiles()).getOrElse(Array.empty).toSeq
      .filter(f => f.lastModified() < cutoff)
      .map { f => ops.BucketSwap.rmTree(f); f.getName }
  }

  private lazy val base: java.nio.file.Path = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    val usable = try shm.toFile.getUsableSpace catch { case _: Throwable => 0L }
    val pick = pickBase(sys.env.get("SPARK_GRAFT_SCRATCH"),
      java.nio.file.Files.isWritable(shm), usable,
      System.getProperty("java.io.tmpdir"))
    java.nio.file.Files.createDirectories(pick)
    if (pick.getFileName != null && pick.getFileName.toString == "graft_scratch")
      sweepStale(pick, StaleSweepAgeMs)
    pick
  }

  /** A fresh temp directory deleted (recursively) at JVM exit. */
  def dir(prefix: String): String = {
    installHook
    val p = java.nio.file.Files.createTempDirectory(base, prefix)
    created.add(p)
    p.toString
  }

  /** Number of JVM shutdown hooks this registry has installed — the
    * no-accumulation contract is that this stays 1 for the process
    * lifetime however many dirs are handed out (spec observability). */
  private[graft] def hookCount: Int = hookInstalls.get()
}
