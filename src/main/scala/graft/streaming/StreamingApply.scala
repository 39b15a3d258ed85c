package graft.streaming

import graft.cdc.ChangelogApply
import graft.functions.PortableHash
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

import java.util.concurrent.ConcurrentHashMap

/** Structured Streaming changelog apply — the streaming half of the
  * engine (reference: pipeline/CDCStreamPipeline.scala:58-131, the Pekko
  * GraphDSL topology binlogSource → normalize → Partition(64) → apply →
  * offsetCommit).
  *
  * Spark-first mapping:
  *   - micro-batching = `Trigger.AvailableNow` / `ProcessingTime`
  *     (reference's `groupedWithin(100, 1s)`, R3);
  *   - keyed routing = the shuffle inside the fold's merge (R1/R2);
  *   - per-key ordering = the merge is ORDER-INSENSITIVE (max_by pos), so
  *     no cross-batch ordering guarantee is needed at all — the risk
  *     called out in SURVEY.md §7.4(1) is eliminated by construction, not
  *     by serializing batches the way the reference's `mapAsync(1)` does;
  *   - offsets = the checkpoint log (reference's RECEIVED/APPLIED/
  *     COMMITTED machine, coordinator/DefaultOffsetCoordinator.scala);
  *   - idempotent re-run = a micro-batch's delta is written by overwrite
  *     under its batchId, so replaying a batch rewrites the same rows
  *     (reference gets this from upsert-by-PK, README.md:524-552).
  *
  * The envelope is payload-polymorphic: `payloadCols` names the columns
  * carried beyond (tbl, pk, op, ts, pos) — a scalar `value` for the
  * narrow fixtures, the full multi-column after-image for wide CDC
  * (reference rows are whole-column maps, model/ChangeEvent.scala:16-24).
  *
  * The LWW store is MERGE-ON-READ, the layout of Structured Streaming's
  * own state store (a delta per batch, snapshots made by background
  * maintenance):
  *
  *   stateDir/d=<batchId>/part-*.parquet              one delta per batch
  *   stateDir/v=<fold>/bucket=<b>/part-*.parquet      bucketed bases
  *
  * [[applyBatch]] writes the batch's rows once, as `d=<batchId>`, and
  * returns: a trigger costs O(batch), whatever the state size. When
  * [[deltasPerFold]] deltas are open (newer than the newest base), a FOLD
  * runs on a daemon thread, at most one per state directory: the
  * bucketed merge of [[applyBatchWith]] over the open deltas, writing
  * `v=<newest folded delta>/bucket=<b>` for the buckets they touch only.
  * Untouched buckets keep serving their previous base. Reads
  * ([[currentState]], [[stateBefore]]) wait for the fold in flight, then
  * take the LWW result over the latest base of each bucket ∪ the retained
  * deltas — correct however the two overlap, because the merge is
  * idempotent and order-insensitive. Tombstones are retained inside the
  * state (op='D' rows kept so later batches can't resurrect deleted
  * keys); [[currentState]] drops them at read.
  *
  * Completeness and retention:
  *   - a `v=` or `d=` directory counts only once its `_SUCCESS` marker
  *     exists; the next fold removes a `v=` cut off before its marker;
  *   - the fold deletes the deltas it covered only after its base is
  *     complete, so no read ever needs a deleted delta; a delta at or
  *     below the newest base (a replay after the fold) is covered and
  *     goes with the next fold;
  *   - each fold keeps the newest previous base of every bucket it
  *     rewrites and deletes older ones, so at most two bases per bucket
  *     and about [[deltasPerFold]] deltas are retained.
  *
  * A failed fold loses nothing — its deltas stay — and the next apply or
  * read on that directory rethrows its exception once. Fold jobs run on a
  * thread that inherits none of the stream thread's local properties (job
  * group, tags, SQL execution id, `streaming.sql.batchId`), so stopping
  * the query cannot cancel a fold and fold jobs are not the batch's jobs.
  *
  * [[StreamingScd2]] and [[StreamingEnrich]] write synchronously, one
  * `v=<batchId>` per batch and no deltas, because their interval
  * recompute needs the prior rows: the SCD2 history through
  * [[applyBatchWith]], then the enrichment output over the buckets that
  * apply returns. They, the fold and the seed ([[writeVersion]]) all
  * write a version through [[writeBuckets]], which then compacts the
  * buckets it wrote.
  *
  * All state-directory listing/deleting goes through Hadoop [[FileSystem]]
  * so the same code is correct when stateDir is hdfs:// or s3a:// on a
  * real cluster (a java.io.File walk would silently see nothing there).
  * Production path at larger replay windows: Delta/Iceberg MERGE, which
  * gives the same touched-files-only rewrite transactionally.
  */
object StreamingApply {

  /** Default payload: the narrow scalar envelope. */
  val defaultPayload: Seq[String] = Seq("value")

  private def stateCols(payloadCols: Seq[String]): Seq[String] =
    Seq("tbl", "pk", "op", "ts", "pos") ++ payloadCols

  /** State buckets: the unit a fold rewrites, so more buckets make a
    * small fold rewrite less state. Tasks are sized separately, by
    * [[byBucket]]; at cluster scale this would be sized so one bucket is a
    * comfortable file (e.g. 4096).
    */
  val defaultBuckets = 32

  /** Open deltas that start a fold: Spark's own state-store
    * `minDeltasForSnapshot` default.
    */
  val deltasPerFold = 10

  /** Repartition on `bucket` into min(nBuckets, spark.sql.shuffle.partitions)
    * tasks — the width rule of the bucketed state stores (this one,
    * [[StreamingScd2]] and [[StreamingEnrich]]). Hashing on bucket
    * keeps each bucket in one task, so each bucket directory still gets
    * exactly one part file. The number is explicit because AQE would
    * coalesce a number-less repartition of a small state down to one task.
    */
  def byBucket(df: DataFrame, nBuckets: Int): DataFrame =
    df.repartition(math.min(nBuckets, df.sparkSession.sessionState.conf.numShufflePartitions),
      col("bucket"))

  /** Portable bucket assignment — same router as [[graft.cdc.Routing]],
    * so "all history of a pk lives in one bucket" is the same guarantee
    * the reference's EventRouter gives (router/EventRouter.scala:25-32).
    */
  def bucketOf(nBuckets: Int) = PortableHash.routerPartition(col("pk"), nBuckets)

  /** Merge a changelog micro-batch into prior state. Both sides carry
    * tombstones; output keeps them. Order-insensitive and associative —
    * merge(merge(s, b1), b2) == merge(s, b1 ⊎ b2) — which is what makes
    * any batch split/order safe.
    */
  def mergeState(prev: DataFrame, batch: DataFrame,
                 payloadCols: Seq[String] = defaultPayload): DataFrame = {
    val cols = stateCols(payloadCols)
    ChangelogApply.materializeEnvelope(
      prev.select(cols.map(col): _*).unionByName(batch.select(cols.map(col): _*)), payloadCols)
  }

  /** [[mergeState]] for the bucket-aware apply path: inputs carry a
    * `bucket` column; ONE exchange on bucket (the reference's R1 hash
    * route), then the per-key LWW aggregate runs bucket-local — grouping
    * by (bucket, tbl, pk) is satisfied by hash(bucket) partitioning
    * because bucket ⊆ the grouping keys, so Catalyst adds no second
    * exchange and the bucketed write needs no repartition either.
    */
  def mergeStateBucketed(prev: DataFrame, batch: DataFrame,
                         payloadCols: Seq[String], nBuckets: Int): DataFrame = {
    val cols = stateCols(payloadCols) :+ "bucket"
    ChangelogApply.lastByPos(byBucket(prev.select(cols.map(col): _*)
      .unionByName(batch.select(cols.map(col): _*)), nBuckets),
      Seq("bucket", "tbl", "pk"), Seq("op", "ts", "pos") ++ payloadCols)
  }

  private def emptyState(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  /** One listing of a state directory, through Hadoop FileSystem so
    * hdfs:// and s3a:// state dirs behave identically to local ones.
    *
    * @param bases   (version, bucket, path) of every complete base, oldest
    *                version first
    * @param deltas  (batchId, path) of every complete delta, oldest first
    * @param partial `v=` directories without a `_SUCCESS` marker
    */
  private final case class Listing(bases: Seq[(Long, Int, Path)], deltas: Seq[(Long, Path)],
                                   partial: Seq[Path]) {
    /** The newest fold: every delta at or below it is covered by a base. */
    def newestBase: Long = bases.lastOption.fold(Long.MinValue)(_._1)
    def open: Seq[(Long, Path)] = deltas.filter(_._1 > newestBase)
  }

  private def listing(spark: SparkSession, stateDir: String): Listing = {
    val hfs = fs(spark, stateDir)
    val root = new Path(stateDir)
    if (!hfs.exists(root)) Listing(Nil, Nil, Nil)
    else {
      val dirs = hfs.listStatus(root).toSeq.filter(_.isDirectory).map(_.getPath)
      def numbered(prefix: String): Seq[(Long, Path)] = dirs
        .filter(_.getName.startsWith(prefix))
        .map(p => p.getName.stripPrefix(prefix).toLong -> p).sortBy(_._1)
      def complete(p: Path): Boolean = hfs.exists(new Path(p, "_SUCCESS"))
      val (versions, partial) = numbered("v=").partition(v => complete(v._2))
      val bases = for {
        (v, p) <- versions
        b <- hfs.listStatus(p).toSeq
        if b.isDirectory && b.getPath.getName.startsWith("bucket=")
      } yield (v, b.getPath.getName.stripPrefix("bucket=").toInt, b.getPath)
      Listing(bases.sortBy(t => (t._1, t._2)), numbered("d=").filter(d => complete(d._2)),
        partial.map(_._2))
    }
  }

  /** Latest base path per bucket among versions strictly below
    * `beforeBatch` (replay of batch N must not read N's own output).
    */
  private def latestPerBucket(bases: Seq[(Long, Int, Path)],
                              beforeBatch: Long): Map[Int, Path] =
    bases
      .filter(_._1 < beforeBatch)
      .groupBy(_._2)
      .map { case (b, vs) => b -> vs.maxBy(_._1)._3 }

  /** The schema Spark recorded in the footer of the first part file under
    * `dirs`, read on the driver: a schema-inferring read would start a
    * footer-merge Spark job every time a state frame is built.
    */
  private def footerSchema(spark: SparkSession, dirs: Seq[Path]): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    dirs.iterator
      .flatMap(d => d.getFileSystem(conf).listStatus(d).iterator)
      .find(_.getPath.getName.startsWith("part-"))
      .map { f =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
        try DataType.fromJson(reader.getFooter.getFileMetaData.getKeyValueMetaData
          .get(ParquetReadSupport.SPARK_METADATA_KEY)).asInstanceOf[StructType]
        finally reader.close()
      }
  }

  /** The state rows stored under `dirs` (bucket or delta directories);
    * None when they hold no part file.
    */
  private def readState(spark: SparkSession, dirs: Seq[Path],
                        payloadCols: Seq[String]): Option[DataFrame] =
    footerSchema(spark, dirs).map(schema =>
      spark.read.schema(schema).parquet(dirs.map(_.toString): _*)
        .select(stateCols(payloadCols).map(col): _*))

  /** The bases of `buckets` (None = all) as of the latest version strictly
    * below `beforeBatch`.
    */
  private def basesBefore(spark: SparkSession, bases: Seq[(Long, Int, Path)],
                          beforeBatch: Long, buckets: Option[Set[Int]],
                          payloadCols: Seq[String]): Option[DataFrame] =
    readState(spark, latestPerBucket(bases, beforeBatch).toSeq
      .filter { case (b, _) => buckets.forall(_.contains(b)) }
      .sortBy(_._1).map(_._2), payloadCols)

  /** State as of batch `beforeBatch` (exclusive), restricted to `buckets`
    * (None = all buckets): the latest base of each bucket below it ∪ the
    * deltas below it, LWW-merged when deltas exist. `emptySchema` shapes
    * the zero-state frame before anything is written; with no base yet,
    * the schema comes from the deltas.
    *
    * A finite `beforeBatch` is answered exactly only above the newest
    * fold: a fold's base already holds every delta it covered, and those
    * deltas are gone. The SCD2 and enrichment stores, which write a
    * version per batch and never fold, are the stores read that way.
    * Merge-on-read deltas carry no bucket column, so a bucket-restricted
    * read is for those stores too.
    */
  def stateBefore(spark: SparkSession, stateDir: String, beforeBatch: Long,
                  buckets: Option[Set[Int]] = None,
                  payloadCols: Seq[String] = defaultPayload,
                  emptySchema: StructType = graft.model.ChangeEvent.envelopeSchema): DataFrame = {
    awaitFold(spark, stateDir)
    val l = listing(spark, stateDir)
    val deltas = l.deltas.filter(_._1 < beforeBatch).map(_._2)
    require(buckets.isEmpty || deltas.isEmpty,
      s"$stateDir holds merge-on-read deltas: a bucket-restricted read cannot filter them")
    val base = basesBefore(spark, l.bases, beforeBatch, buckets, payloadCols)
    readState(spark, deltas, payloadCols) match {
      case None => base.getOrElse(emptyState(spark, emptySchema))
      case Some(d) => ChangelogApply.materializeEnvelope(
        base.fold(d)(_.unionByName(d)), payloadCols)
    }
  }

  /** Write a full state frame as one bucketed version — the seeding path
    * for snapshot/catchup phases (Engine), through [[writeBuckets]]. A
    * seed version must lie below the first batch id streamed on top of
    * it: deltas at or below the newest base count as folded.
    */
  def writeVersion(state: DataFrame, stateDir: String, version: Long,
                   nBuckets: Int = defaultBuckets,
                   payloadCols: Seq[String] = defaultPayload): Unit =
    writeBuckets(state.sparkSession, stateDir, version, payloadCols, (0 until nBuckets).toSet)(_ =>
      byBucket(state.select(stateCols(payloadCols).map(col): _*)
        .withColumn("bucket", bucketOf(nBuckets)), nBuckets))

  /** The foreachBatch body: write the batch's rows as `d=<batchId>`
    * (overwrite, so a replay rewrites its own delta), then start a fold
    * when [[deltasPerFold]] deltas are open and none is in flight. Public
    * so the idempotence property is unit-testable without a stream.
    */
  def applyBatch(stateDir: String, nBuckets: Int = defaultBuckets,
                 payloadCols: Seq[String] = defaultPayload)(
      batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val folder = folderOf(spark, stateDir)
    folder.rethrow()
    val delta = new Path(stateDir, s"d=$batchId")
    // a replay overwrites its delta: never under a fold that reads it
    if (fs(spark, stateDir).exists(delta)) folder.await()
    batch.select(stateCols(payloadCols).map(col): _*)
      .write.mode("overwrite").parquet(delta.toString)
    if (folder.idle && listing(spark, stateDir).open.size >= deltasPerFold)
      folder.start(spark)(fold(spark, stateDir, nBuckets, payloadCols))
  }

  /** One fold: the open deltas merged into `v=<newest open delta>` for the
    * buckets they touch, then the covered deltas and any cut-off `v=`
    * removed.
    */
  private def fold(spark: SparkSession, stateDir: String, nBuckets: Int,
                   payloadCols: Seq[String]): Unit = {
    foldHook(stateDir)
    val l = listing(spark, stateDir)
    l.open.lastOption.foreach { case (version, _) =>
      readState(spark, l.open.map(_._2), payloadCols).foreach(deltas =>
        applyBatchWith(stateDir, nBuckets, payloadCols,
          identity, mergeStateBucketed(_, _, payloadCols, nBuckets))(deltas, version))
      val hfs = fs(spark, stateDir)
      (l.deltas.filter(_._1 <= version).map(_._2) ++
        l.partial.filter(_.getName != s"v=$version")).foreach(hfs.delete(_, true))
    }
  }

  /** Called on the fold thread before each fold, with the state directory
    * as given to [[applyBatch]]: a test hook to hold or fail a fold.
    */
  @volatile private[graft] var foldHook: String => Unit = _ => ()

  /** The background fold of one state directory: at most one in flight;
    * a failure is kept until the next call on the directory rethrows it.
    */
  private final class Folder(dir: String) {
    private var running: Thread = null
    private var failure: Throwable = null

    def idle: Boolean = synchronized(running == null)

    /** Runs `work` on a daemon thread that inherits no inheritable
      * thread-locals: no SparkContext local property of the calling
      * stream thread reaches the fold's jobs.
      */
    def start(spark: SparkSession)(work: => Unit): Unit = synchronized {
      if (running == null) {
        val t = new Thread(null, () => {
          SparkSession.setActiveSession(spark)
          spark.sparkContext.setJobDescription(s"fold $dir")
          try work
          catch { case e: Throwable => synchronized { failure = e } }
          finally synchronized { running = null }
        }, s"state-fold $dir", 0L, false)
        t.setDaemon(true)
        running = t
        t.start()
      }
    }

    def rethrow(): Unit = {
      val f = synchronized { val f = failure; failure = null; f }
      if (f != null) throw new IllegalStateException(s"the fold of $dir failed", f)
    }

    def await(): Unit = {
      val t = synchronized(running)
      if (t != null) t.join()
      rethrow()
    }
  }

  private val folders = new ConcurrentHashMap[String, Folder]()

  private def folderOf(spark: SparkSession, stateDir: String): Folder = {
    val key = fs(spark, stateDir).makeQualified(new Path(stateDir)).toString
    folders.computeIfAbsent(key, new Folder(_))
  }

  /** Waits for the fold in flight on `stateDir`, if any, then rethrows a
    * failed fold's exception once. Reads call it; tests call it to pin
    * the fold down.
    */
  private[graft] def awaitFold(spark: SparkSession, stateDir: String): Unit =
    folderOf(spark, stateDir).await()

  /** Generic bucketed apply: merge a batch into the latest bases of the
    * buckets it touches and write them as `v=<batchId>` through
    * [[writeBuckets]], with a pluggable batch preparation (pad state-only
    * columns) and state merge — the SAME versioned-bucket/replay/compaction
    * machinery serves any order-insensitive merge (the LWW fold here,
    * interval recompute in [[StreamingScd2]]). Returns the touched buckets,
    * so a store derived from this one ([[StreamingEnrich]]) rewrites the
    * same buckets without probing the batch again.
    *
    * Merge contract: both frames carry a `bucket` column and the merged
    * output must retain it. Implementations repartition ONCE on bucket
    * and key every per-key computation bucket-first ((bucket, tbl, pk)
    * groupings/windows are bucket-local under hash(bucket) partitioning
    * since bucket ⊆ the keys), so a micro-batch costs exactly one
    * exchange and the bucketed write adds none.
    *
    * The touched-bucket probe is a driver-side collect BOUNDED BY
    * nBuckets (a few ints, never data rows) — the same legitimate scalar
    * probe shape as Watermark.latestPosition.
    */
  def applyBatchWith(stateDir: String, nBuckets: Int, payloadCols: Seq[String],
                     prepare: DataFrame => DataFrame,
                     merge: (DataFrame, DataFrame) => DataFrame)(
      batch: DataFrame, batchId: Long): Set[Int] = {
    val spark = batch.sparkSession
    val b = prepare(batch).select(stateCols(payloadCols).map(col): _*)
      .withColumn("bucket", bucketOf(nBuckets)).persist()
    try {
      val touched = b.select(col("bucket")).distinct()
        .collect().map(_.getLong(0).toInt).toSet
      if (touched.nonEmpty) writeBuckets(spark, stateDir, batchId, payloadCols, touched) { bases =>
        // bucket is re-derived, not read back: the per-bucket paths are
        // read directly so the partition column isn't in the footer
        val prev = basesBefore(spark, bases, batchId, Some(touched), payloadCols)
          .getOrElse(emptyState(spark, b.drop("bucket").schema))
          .withColumn("bucket", bucketOf(nBuckets))
        merge(prev, b)
      }
      touched
    } finally { b.unpersist(); () }
  }

  /** Versions kept per bucket: the latest and its predecessor, which a
    * crash-replay of the latest batch reads.
    */
  private val keepVersions = 2

  /** The one bucketed version write: `rows` — built from the bases of the
    * state listing taken before the write, and carrying a `bucket` column
    * — become `v=<version>` (overwrite, so a replay rewrites its own
    * version). Then each of `buckets` keeps [[keepVersions]] versions,
    * `v=<version>` and the newest older one, and `v=` dirs left empty are
    * removed. ONE listing serves the caller's read and the compaction (a
    * second full walk per write is pure fixed overhead — and on object
    * stores, a LIST storm), and compaction cost follows the buckets
    * written, not the state.
    */
  private[streaming] def writeBuckets(spark: SparkSession, stateDir: String, version: Long,
                                      payloadCols: Seq[String], buckets: Set[Int])(
      rows: Seq[(Long, Int, Path)] => DataFrame): Unit = {
    val bases = listing(spark, stateDir).bases
    rows(bases).select((stateCols(payloadCols) :+ "bucket").map(col): _*)
      .write.partitionBy("bucket")
      .mode("overwrite").parquet(s"$stateDir/v=$version")
    val hfs = fs(spark, stateDir)
    bases.filter { case (v, b, _) => v < version && buckets(b) }.groupBy(_._2)
      .foreach { case (_, vs) =>
        vs.sortBy(-_._1).drop(keepVersions - 1).foreach(v => hfs.delete(v._3, true))
      }
    hfs.listStatus(new Path(stateDir)).toSeq
      .filter(v => v.isDirectory && v.getPath.getName.startsWith("v="))
      .filter(v => !hfs.listStatus(v.getPath).exists(_.getPath.getName.startsWith("bucket=")))
      .foreach(v => hfs.delete(v.getPath, true))
  }

  /** Latest materialized state (latest base of every bucket ∪ the
    * retained deltas), tombstones dropped.
    */
  def currentState(spark: SparkSession, stateDir: String,
                   payloadCols: Seq[String] = defaultPayload): DataFrame =
    stateBefore(spark, stateDir, Long.MaxValue, None, payloadCols)
      .filter(col("op") =!= "D")

  /** [[applyBatch]] with dead-letter quarantine in front: one parse of each
    * WIDE payload feeds both its [[graft.cdc.DeadLetter]] disposition and
    * the typed columns of the delta, which only `ok` rows reach — one
    * malformed payload must never stall replication of the other
    * 100 TB/day. Non-ok rows land under `dlqDir/v=<batchId>`, queryable and
    * replayable, in a second job run only when the delta write counted one.
    * Both writes overwrite under the batchId, so a replay rewrites both.
    */
  def applyBatchQuarantined(stateDir: String, dlqDir: String,
                            reg: graft.cdc.SchemaRegistry,
                            nBuckets: Int = defaultBuckets,
                            payloadCols: Seq[String] = defaultPayload)(
      batch: DataFrame, batchId: Long): Unit = {
    val classified = graft.cdc.DeadLetter.withDisposition(reg.parsed(batch), reg)
    val deadLetters = Observation("dead_letters")
    // The observe counts the dead letters during the delta write, and it is
    // an optimizer barrier: without it the `ok` filter is pushed under the
    // parse projection and from_json runs twice, in the Filter and the Project.
    val ok = classified.observe(deadLetters, count(when(col("disposition") =!= "ok", 1)).as("n"))
      .filter(col("disposition") === "ok").drop("disposition")
    applyBatch(stateDir, nBuckets, payloadCols)(reg.decodeParsed(ok), batchId)
    if (deadLetters.get("n").asInstanceOf[Long] > 0)
      graft.cdc.DeadLetter.classify(batch, reg).filter(col("disposition") =!= "ok")
        .write.mode("overwrite").parquet(s"$dlqDir/v=$batchId")
  }
}
