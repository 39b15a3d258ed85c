package graft.streaming

import graft.functions.PortableHash
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Structured Streaming changelog apply — the streaming half of the
  * engine (reference: pipeline/CDCStreamPipeline.scala:58-131, the Pekko
  * GraphDSL topology binlogSource → normalize → Partition(64) → apply →
  * offsetCommit).
  *
  * Spark-first mapping:
  *   - micro-batching = `Trigger.AvailableNow` / `ProcessingTime`
  *     (reference's `groupedWithin(100, 1s)`, R3);
  *   - keyed routing = the shuffle inside the per-batch merge (R1/R2);
  *   - per-key ordering = the merge is ORDER-INSENSITIVE (max_by pos), so
  *     no cross-batch ordering guarantee is needed at all — the risk
  *     called out in SURVEY.md §7.4(1) is eliminated by construction, not
  *     by serializing batches the way the reference's `mapAsync(1)` does;
  *   - offsets = the checkpoint log (reference's RECEIVED/APPLIED/
  *     COMMITTED machine, coordinator/DefaultOffsetCoordinator.scala);
  *   - idempotent re-run = each touched bucket's v(batchId) is a pure
  *     function of that bucket's v(prev) + batch, written by overwrite —
  *     replaying a batch rewrites the same bytes (reference gets this
  *     from upsert-by-PK, README.md:524-552).
  *
  * The envelope is payload-polymorphic: `payloadCols` names the columns
  * carried beyond (tbl, pk, op, ts, pos) — a scalar `value` for the
  * narrow fixtures, the full multi-column after-image for wide CDC
  * (reference rows are whole-column maps, model/ChangeEvent.scala:16-24).
  *
  * State layout — BUCKETED versions, the 100 TB-safe shape:
  *
  *   stateDir/v=<batchId>/bucket=<b>/part-*.parquet
  *
  * The state is hash-partitioned into `nBuckets` by the portable pk
  * router. A micro-batch merges and rewrites ONLY the buckets its keys
  * touch — O(|touched state|) per batch, not O(|whole state|): a 1-second
  * batch updating 0.1% of a 100 TB keyspace reads and writes ~0.1% of the
  * buckets instead of rewriting the world (the round-1 design's flaw).
  * Untouched buckets keep serving their previous version. Tombstones are
  * retained inside the state (op='D' rows kept so later batches can't
  * resurrect deleted keys); [[currentState]] drops them at read.
  *
  * All state-directory listing/deleting goes through Hadoop [[FileSystem]]
  * so the same code is correct when stateDir is hdfs:// or s3a:// on a
  * real cluster (a java.io.File walk would silently see nothing there).
  *
  * Retention: [[compact]] keeps the newest `keepVersions` versions per
  * bucket (default 2 — enough for Structured Streaming's replay window,
  * which only ever re-runs the latest uncommitted batch) and deletes the
  * rest; [[applyBatch]] compacts only the buckets it touched, so compaction
  * cost follows batch size, not state size. Production path at larger
  * replay windows: Delta/Iceberg MERGE, which gives the same
  * touched-files-only rewrite transactionally.
  */
object StreamingApply {

  /** Default payload: the narrow scalar envelope. */
  val defaultPayload: Seq[String] = Seq("value")

  private def stateCols(payloadCols: Seq[String]): Seq[String] =
    Seq("tbl", "pk", "op", "ts", "pos") ++ payloadCols

  /** State buckets: the unit a micro-batch rewrites, so more buckets make
    * a small batch rewrite less state. Tasks are sized separately, by
    * [[byBucket]]; at cluster scale this would be sized so one bucket is a
    * comfortable file (e.g. 4096).
    */
  val defaultBuckets = 32

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
    val carried = Seq("op", "ts", "pos") ++ payloadCols
    prev.select(cols.map(col): _*)
      .unionByName(batch.select(cols.map(col): _*))
      .groupBy(col("tbl"), col("pk"))
      .agg(max_by(struct(carried.map(col): _*), col("pos")).as("last"))
      .select(col("tbl") +: col("pk") +: carried.map(c => col(s"last.$c").as(c)): _*)
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
    val carried = Seq("op", "ts", "pos") ++ payloadCols
    byBucket(prev.select(cols.map(col): _*)
      .unionByName(batch.select(cols.map(col): _*)), nBuckets)
      .groupBy(col("bucket"), col("tbl"), col("pk"))
      .agg(max_by(struct(carried.map(col): _*), col("pos")).as("last"))
      .select(col("bucket") +: col("tbl") +: col("pk") +:
        carried.map(c => col(s"last.$c").as(c)): _*)
  }

  private def emptyState(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  /** All (version, bucket, path) triples in the state store, oldest
    * version first — listed through Hadoop FileSystem so hdfs://s3a://
    * state dirs behave identically to local ones.
    */
  private def bucketVersions(spark: SparkSession, stateDir: String): Seq[(Long, Int, Path)] = {
    val hfs = fs(spark, stateDir)
    val root = new Path(stateDir)
    if (!hfs.exists(root)) Nil
    else {
      for {
        v <- hfs.listStatus(root).toSeq
        if v.isDirectory && v.getPath.getName.startsWith("v=")
        ver = v.getPath.getName.stripPrefix("v=").toLong
        b <- hfs.listStatus(v.getPath).toSeq
        if b.isDirectory && b.getPath.getName.startsWith("bucket=")
      } yield (ver, b.getPath.getName.stripPrefix("bucket=").toInt, b.getPath)
    }.sortBy(t => (t._1, t._2))
  }

  /** Latest version path per bucket among versions strictly below
    * `beforeBatch` (replay of batch N must not read N's own output).
    */
  private def latestPerBucket(listing: Seq[(Long, Int, Path)],
                              beforeBatch: Long): Map[Int, Path] =
    listing
      .filter(_._1 < beforeBatch)
      .groupBy(_._2)
      .map { case (b, vs) => b -> vs.maxBy(_._1)._3 }

  /** State as of the latest version strictly below `beforeBatch`,
    * restricted to `buckets` (None = all buckets). `emptySchema` shapes
    * the zero-state frame before the first version exists.
    */
  def stateBefore(spark: SparkSession, stateDir: String, beforeBatch: Long,
                  buckets: Option[Set[Int]] = None,
                  payloadCols: Seq[String] = defaultPayload,
                  emptySchema: StructType = graft.model.ChangeEvent.envelopeSchema): DataFrame =
    stateFromListing(spark, bucketVersions(spark, stateDir), beforeBatch,
      buckets, payloadCols, emptySchema)

  private def stateFromListing(spark: SparkSession, listing: Seq[(Long, Int, Path)],
                               beforeBatch: Long, buckets: Option[Set[Int]],
                               payloadCols: Seq[String],
                               emptySchema: StructType): DataFrame = {
    val paths = latestPerBucket(listing, beforeBatch)
      .filter { case (b, _) => buckets.forall(_.contains(b)) }
      .values.map(_.toString).toSeq
    if (paths.isEmpty) emptyState(spark, emptySchema)
    else spark.read.parquet(paths: _*).select(stateCols(payloadCols).map(col): _*)
  }

  /** Write a full state frame as one bucketed version — the seeding path
    * for snapshot/catchup phases (Engine) and the write half of
    * [[applyBatch]].
    */
  def writeVersion(state: DataFrame, stateDir: String, version: Long,
                   nBuckets: Int = defaultBuckets,
                   payloadCols: Seq[String] = defaultPayload): Unit =
    byBucket(state.select(stateCols(payloadCols).map(col): _*)
      .withColumn("bucket", bucketOf(nBuckets)), nBuckets)
      .write.partitionBy("bucket")
      .mode("overwrite").parquet(s"$stateDir/v=$version")

  /** The foreachBatch body: for each bucket touched by the batch,
    * v(batchId)/bucket := merge(latest(bucket), batch ∩ bucket). Public so
    * the idempotence property is unit-testable without a stream.
    *
    * The touched-bucket probe is a driver-side collect BOUNDED BY
    * nBuckets (a few ints, never data rows) — the same legitimate scalar
    * probe shape as Watermark.latestPosition. Compaction afterwards is
    * scoped to the touched buckets, so its cost follows the batch.
    */
  def applyBatch(stateDir: String, nBuckets: Int = defaultBuckets,
                 payloadCols: Seq[String] = defaultPayload)(
      batch: DataFrame, batchId: Long): Unit =
    applyBatchWith(stateDir, nBuckets, payloadCols,
      identity, mergeStateBucketed(_, _, payloadCols, nBuckets))(batch, batchId)

  /** Generic bucketed apply: [[applyBatch]] with a pluggable batch
    * preparation (pad state-only columns) and state merge — the SAME
    * versioned-bucket/replay/compaction machinery serves any
    * order-insensitive merge (LWW here, interval recompute in
    * [[StreamingScd2]]).
    *
    * Merge contract: both frames carry a `bucket` column and the merged
    * output must retain it. Implementations repartition ONCE on bucket
    * and key every per-key computation bucket-first ((bucket, tbl, pk)
    * groupings/windows are bucket-local under hash(bucket) partitioning
    * since bucket ⊆ the keys), so a micro-batch costs exactly one
    * exchange and the bucketed write adds none.
    */
  def applyBatchWith(stateDir: String, nBuckets: Int, payloadCols: Seq[String],
                     prepare: DataFrame => DataFrame,
                     merge: (DataFrame, DataFrame) => DataFrame)(
      batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val cols = stateCols(payloadCols)
    val b = prepare(batch).select(cols.map(col): _*)
      .withColumn("bucket", bucketOf(nBuckets)).persist()
    try {
      val touched = b.select(col("bucket")).distinct()
        .collect().map(_.getLong(0).toInt).toSet
      if (touched.nonEmpty) {
        // ONE state listing serves both the merge read and the
        // post-write compaction (a second full walk per micro-batch is
        // pure fixed overhead — and on object stores, a LIST storm)
        val listing = bucketVersions(spark, stateDir)
        // bucket is re-derived, not read back: the per-bucket paths are
        // read directly so the partition column isn't in the footer
        val prev = stateFromListing(spark, listing, batchId, Some(touched),
          payloadCols, b.drop("bucket").schema)
          .withColumn("bucket", bucketOf(nBuckets))
        merge(prev, b)
          .select((cols :+ "bucket").map(col): _*)
          .write.partitionBy("bucket")
          .mode("overwrite").parquet(s"$stateDir/v=$batchId")
        // compact from the same listing: each touched bucket now holds
        // {v=batchId} ∪ old versions, so keeping `keepVersions`=2 total
        // means keeping the single newest PRE-batch version per bucket
        // (replay entries at v=batchId were just overwritten, never old)
        dropSuperseded(spark, stateDir,
          listing.filter { case (v, bkt, _) => v < batchId && touched(bkt) },
          keepPerBucket = 1)
      }
    } finally { b.unpersist(); () }
  }

  /** Drop superseded bucket versions, keeping the newest `keepVersions`
    * per bucket (≥ 2 so a crash-replay of the latest batch still finds
    * its predecessor). `buckets` scopes the sweep (None = all) — the
    * incremental path compacts only what it touched. Empty v= dirs are
    * removed once drained.
    */
  def compact(spark: SparkSession, stateDir: String, keepVersions: Int = 2,
              buckets: Option[Set[Int]] = None): Unit = {
    require(keepVersions >= 2, "replay of the latest batch needs its predecessor")
    dropSuperseded(spark, stateDir,
      bucketVersions(spark, stateDir)
        .filter { case (_, b, _) => buckets.forall(_.contains(b)) },
      keepPerBucket = keepVersions)
  }

  /** Delete all but the newest `keepPerBucket` versions per bucket in
    * `candidates` (an already-filtered listing — no re-walk), then drain
    * v= dirs left empty.
    */
  private def dropSuperseded(spark: SparkSession, stateDir: String,
                             candidates: Seq[(Long, Int, Path)],
                             keepPerBucket: Int): Unit = {
    val hfs = fs(spark, stateDir)
    candidates.groupBy(_._2).foreach { case (_, vs) =>
      vs.sortBy(-_._1).drop(keepPerBucket).foreach { case (_, _, path) =>
        hfs.delete(path, true)
      }
    }
    val root = new Path(stateDir)
    if (hfs.exists(root)) hfs.listStatus(root).toSeq
      .filter(v => v.isDirectory && v.getPath.getName.startsWith("v="))
      .filter(v => !hfs.listStatus(v.getPath).exists(_.getPath.getName.startsWith("bucket=")))
      .foreach(v => hfs.delete(v.getPath, true))
  }

  /** Latest materialized state (latest version of every bucket),
    * tombstones dropped.
    */
  def currentState(spark: SparkSession, stateDir: String,
                   payloadCols: Seq[String] = defaultPayload,
                   emptySchema: StructType = graft.model.ChangeEvent.envelopeSchema): DataFrame =
    stateBefore(spark, stateDir, Long.MaxValue, None, payloadCols, emptySchema)
      .filter(col("op") =!= "D")

  /** [[applyBatch]] with dead-letter quarantine in front: each micro-batch
    * of the WIDE envelope is classified ([[graft.cdc.DeadLetter]]), non-ok
    * rows land under `dlqDir/v=<batchId>` (queryable, replayable after the
    * fix), and only `ok` rows decode through the registry into the state
    * merge — one malformed payload must never stall replication of the
    * other 100 TB/day. The DLQ write is keyed by batchId exactly like the
    * state write, so a replayed micro-batch overwrites its own quarantine
    * output: crash-restart stays idempotent on BOTH paths.
    */
  def applyBatchQuarantined(stateDir: String, dlqDir: String,
                            reg: graft.cdc.SchemaRegistry,
                            nBuckets: Int = defaultBuckets,
                            payloadCols: Seq[String] = defaultPayload)(
      batch: DataFrame, batchId: Long): Unit = {
    val classified = graft.cdc.DeadLetter.classify(batch, reg).persist()
    try {
      val bad = classified.filter(col("disposition") =!= "ok")
      if (!bad.isEmpty)
        bad.write.mode("overwrite").parquet(s"$dlqDir/v=$batchId")
      val ok = reg.decode(classified.filter(col("disposition") === "ok")
        .drop("disposition"))
      applyBatchWith(stateDir, nBuckets, payloadCols,
        identity, mergeStateBucketed(_, _, payloadCols, nBuckets))(ok, batchId)
    } finally classified.unpersist()
  }
}
