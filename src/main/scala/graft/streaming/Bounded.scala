package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQueryListener, Trigger}
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.types.StructType

import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** Bounded streaming runs: every `Trigger.AvailableNow` query in the
  * engine starts, drains and is checked here.
  *
  *   - [[writeChunks]] lays an ordered list of slices out as one
  *     `chunk_<i>.parquet` file per slice;
  *   - [[readChunks]] streams such a directory one file per micro-batch;
  *   - [[foreachBatch]] / [[toMemory]] run a query to AvailableNow
  *     completion and check the number of data micro-batches it ran
  *     against an [[Expect]] — so a claimed N-way split can never
  *     silently collapse into one batch (a single-row-group input that
  *     `coalesce(n)` cannot split, or a source whose admission cap the
  *     trigger ignores).
  */
object Bounded {

  /** What a run's count of data micro-batches must satisfy. */
  sealed trait Expect

  /** One data micro-batch per chunk file of `dir`: the run must execute
    * at least as many data micro-batches as the files listed before it
    * starts (AvailableNow snapshots the directory after the start, so a
    * file that lands meanwhile may add a batch). Checked when the run
    * starts from a fresh checkpoint; a restart resumes part way through
    * the directory and runs only the files not yet committed. */
  final case class OnePerFile(dir: String) extends Expect

  /** At least `n` data micro-batches (an admission-capped source). */
  final case class AtLeast(n: Int) extends Expect

  /** Write `slices` in order as `dir/chunk_<i>.parquet`, one file per
    * slice, and return `dir`. Each slice is written through its own
    * single-task write and moved into place; the files' modification
    * times are then set one second apart in slice order, because the
    * file source picks files by modification time and a coarse-grained
    * filesystem clock would otherwise tie them. */
  def writeChunks(dir: String, slices: Seq[DataFrame]): String = {
    val out = new java.io.File(dir)
    out.mkdirs()
    val files = slices.zipWithIndex.map { case (slice, i) =>
      val tmp = new java.io.File(s"${dir}_tmp$i")
      slice.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(out, s"chunk_$i.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      tmp.listFiles().foreach(_.delete())
      tmp.delete()
      dst
    }
    val t0 = files.headOption.map(_.lastModified()).getOrElse(0L)
    files.zipWithIndex.foreach { case (f, i) => f.setLastModified(t0 + 1000L * i) }
    dir
  }

  /** Stream a chunk directory one file per micro-batch. */
  def readChunks(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(dir)

  /** Run `body` over every micro-batch of `stream` to AvailableNow
    * completion; returns the number of data micro-batches. */
  def foreachBatch(stream: DataFrame, checkpoint: String, expect: Expect)(
      body: (DataFrame, Long) => Unit): Int =
    run(stream.sparkSession, stream.writeStream.foreachBatch(body), checkpoint, expect)

  private val viewSeq = new java.util.concurrent.atomic.AtomicInteger()

  /** Run `stream` into a memory sink to AvailableNow completion; returns
    * the sink's view name, minted from `prefix` and registered for
    * teardown ([[graft.ops.Caches.releaseStreamingState]]). The
    * checkpoint lives in a fresh scratch directory. */
  def toMemory(stream: DataFrame, prefix: String, expect: Expect,
               outputMode: String = "append"): String = {
    val name = graft.ops.Caches.registerStreamView(s"${prefix}_${viewSeq.incrementAndGet()}")
    run(stream.sparkSession,
      stream.writeStream.outputMode(outputMode).format("memory").queryName(name),
      s"${graft.Scratch.dir(s"graft_$prefix")}/ckpt", expect)
    name
  }

  private def run(spark: SparkSession, writer: DataStreamWriter[Row],
                  checkpoint: String, expect: Expect): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    val ckpt = new Path(checkpoint)
    val resumed = ckpt.getFileSystem(conf).exists(new Path(ckpt, "offsets"))
    val required = expect match {
      case OnePerFile(dir) if !resumed =>
        val d = new Path(dir)
        d.getFileSystem(conf).listStatus(d).count { f =>
          val nm = f.getPath.getName
          f.isFile && !nm.startsWith("_") && !nm.startsWith(".")
        }
      case AtLeast(m) => m
      case _ => 0
    }
    val batches = new DataBatches
    spark.streams.addListener(batches)
    val n = try {
      val q = writer.option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      batches.of(q.runId)
    } finally spark.streams.removeListener(batches)
    require(n >= required, expect match {
      case OnePerFile(dir) => s"bounded run over $dir ran $n data micro-batches for $required chunk files"
      case AtLeast(_) => s"bounded run ran $n data micro-batches, expected at least $required"
    })
    n
  }

  /** Counts data micro-batches per query run from progress events. A
    * data micro-batch advances some source offset; the no-data batches a
    * stateful query runs to move its watermark do not. Unlike the
    * query's `recentProgress`, which keeps only the last
    * `spark.sql.streaming.numRecentProgressUpdates` batches, the count
    * has no cap. */
  private final class DataBatches extends StreamingQueryListener {
    private val counts = new ConcurrentHashMap[UUID, AtomicInteger]()
    private val ended = new ConcurrentHashMap[UUID, CountDownLatch]()
    private def endOf(runId: UUID) = ended.computeIfAbsent(runId, _ => new CountDownLatch(1))

    override def onQueryStarted(event: QueryStartedEvent): Unit = ()

    override def onQueryProgress(event: QueryProgressEvent): Unit = {
      val p = event.progress
      if (p.sources.exists(s => s.startOffset != s.endOffset))
        counts.computeIfAbsent(p.runId, _ => new AtomicInteger()).incrementAndGet()
    }

    override def onQueryTerminated(event: QueryTerminatedEvent): Unit =
      endOf(event.runId).countDown()

    /** The run's count. Listener events are delivered asynchronously but
      * in order, so once the run's termination event has arrived every
      * progress event of the run has been counted. */
    def of(runId: UUID): Int = {
      require(endOf(runId).await(60, TimeUnit.SECONDS),
        s"no termination event for streaming run $runId within 60 s")
      Option(counts.get(runId)).map(_.get).getOrElse(0)
    }
  }
}
