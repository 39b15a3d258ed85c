package graft.ops

/** The one crash-safe mutation protocol for the partitioned parquet
  * artifacts maintained in place — the LSH index, the cluster map and
  * both kNN graphs. Two steps, each written once here:
  *
  *  - [[appendInOrder]], the guarded id-ordered append: skip a replayed
  *    batch id, require the batch's ids to follow everything already
  *    ingested, stage the batch, delete what an interrupted attempt of
  *    the same batch moved in, move the staged files in under names that
  *    carry the batch id, then advance the target's ingest frontier;
  *  - [[commit]] / [[rewrite]], the rewrite transaction: recover, absorb
  *    a batch id at or below the artifact's frontier, rewrite ONLY the
  *    touched `part=N` dirs into the sibling staging tree [[staging]],
  *    then per bucket move the live dir ASIDE (outside the artifact path,
  *    so partition discovery never sees it), move the rewrite in, delete
  *    the aside LAST, and advance the frontier after the swap.
  *
  * A crash at any step leaves either the old or the new bucket intact on
  * disk (never neither); [[recover]] heals on the next entry, and the
  * unadvanced frontier makes the interrupted batch replay.
  */
private[graft] object BucketSwap {

  private val IngestFrontier = "_ingest_frontier"

  /** The staging tree a rewrite of `path` writes into. */
  private def staging(path: String): String = s"$path.merge"
  private def aside(path: String): String = s"${staging(path)}.aside"

  def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete(); ()
  }

  /** Hardlink tree: the near-free way to give a maintenance exercise its
    * own mutable view of a prefix artifact (round-12 directive: a byte
    * copy in the timed body dominated the maintenance boards at
    * fixture scale). SAFE because maintenance never writes a data file
    * in place — parquet writes create new files, [[swap]] moves/deletes
    * directory ENTRIES, and frontiers go through [[writeAtomically]]'s
    * fresh temp file — so unlinking or replacing a link never touches
    * the prefix's inodes. Falls back to a byte copy per file if the
    * filesystem refuses the link (cross-device, no-hardlink fs). */
  def linkTree(src: String, dst: String): Unit = {
    val s0 = java.nio.file.Paths.get(src)
    val d0 = java.nio.file.Paths.get(dst)
    java.nio.file.Files.walk(s0).forEach { q =>
      val t = d0.resolve(s0.relativize(q))
      if (java.nio.file.Files.isDirectory(q)) java.nio.file.Files.createDirectories(t)
      else {
        java.nio.file.Files.createDirectories(t.getParent)
        try java.nio.file.Files.createLink(t, q)
        catch {
          case _: UnsupportedOperationException | _: java.nio.file.FileSystemException =>
            java.nio.file.Files.copy(q, t,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        }
        ()
      }
    }
    ()
  }

  /** Heal an artifact left by a swap interrupted mid-flight:
    *  - live bucket MISSING, aside present → restore the aside copy
    *    (pre-rewrite data, still complete; the batch replays);
    *  - live present AND aside present → the swap committed, drop the
    *    aside;
    *  - a stale staging tree → dead, drop it.
    * Returns restored bucket ids. No-crash cost: two existence checks.
    */
  def recover(path: String, partCol: String): Seq[Int] = {
    val asideDir = new java.io.File(aside(path))
    val restored = scala.collection.mutable.ListBuffer[Int]()
    if (asideDir.exists()) {
      Option(asideDir.listFiles()).getOrElse(Array.empty).toSeq
        .filter(d => d.isDirectory && d.getName.startsWith(s"$partCol=")).foreach { d =>
          val live = new java.io.File(s"$path/${d.getName}")
          if (!live.exists()) {
            java.nio.file.Files.move(d.toPath, live.toPath)
            restored += d.getName.stripPrefix(s"$partCol=").toInt
          }
        }
      rmTree(asideDir)
    }
    rmTree(new java.io.File(staging(path)))
    restored.toSeq.sorted
  }

  /** Swap `buckets` of the staging tree into the live artifact (see the
    * object doc for the crash-ordering argument). A bucket with no
    * rewrite dir is DRAINED: its live dir is removed. */
  private def swap(path: String, partCol: String, buckets: Seq[Int]): Unit = {
    buckets.foreach { b =>
      val dst = java.nio.file.Paths.get(s"$path/$partCol=$b")
      val asideB = java.nio.file.Paths.get(s"${aside(path)}/$partCol=$b")
      java.nio.file.Files.createDirectories(asideB.getParent)
      if (java.nio.file.Files.exists(dst)) java.nio.file.Files.move(dst, asideB)
      val src = java.nio.file.Paths.get(s"${staging(path)}/$partCol=$b")
      if (java.nio.file.Files.exists(src)) java.nio.file.Files.move(src, dst)
    }
    rmTree(new java.io.File(aside(path)))
    rmTree(new java.io.File(staging(path)))
  }

  /** Rewrite part of an artifact outside any batch (compaction):
    * recover, then [[stageAndSwap]]. Returns the swapped bucket ids. */
  def rewrite(path: String, partCol: String)(stage: String => Seq[Int]): Seq[Int] = {
    recover(path, partCol)
    stageAndSwap(path, partCol, stage)
  }

  /** The rewrite transaction of one ingest batch, in order: recover;
    * absorb a `batchId` at or below the artifact's `frontier` file
    * (false, zero work); [[stageAndSwap]]; advance the frontier to
    * `batchId` LAST, so a crash anywhere before it replays the batch
    * over a healed artifact. Returns true when the batch merged. */
  def commit(path: String, partCol: String, frontier: String, batchId: Long)(
      stage: String => Seq[Int]): Boolean = {
    recover(path, partCol)
    if (batchId <= readFrontier(path, frontier)._1) false
    else {
      stageAndSwap(path, partCol, stage)
      writeFrontier(path, frontier, batchId, 0L)
      true
    }
  }

  /** `stage` writes the buckets it rewrites into the staging tree it is
    * handed and returns their ids; those buckets are swapped in. */
  private def stageAndSwap(path: String, partCol: String,
                           stage: String => Seq[Int]): Seq[Int] = {
    val touched = stage(staging(path))
    if (touched.nonEmpty) swap(path, partCol, touched)
    touched
  }

  /** The guarded id-ordered append. `ids` is the batch's (min, max) id,
    * null on an empty batch. A batch id at or below the target's ingest
    * frontier is a replay whose rows are already in: skipped. A new
    * batch must start above every id already ingested — the incremental
    * merges key "earlier ingested" to "smaller id", so an out-of-order
    * batch fails loudly instead of silently merging wrong.
    *
    * `stage` then writes the batch, by overwrite, into the staging tree it
    * is handed, in the target's layout. Its data files move into the live
    * partition dirs as `ingest-<batchId>-<name>`, and the frontier
    * advances LAST. A crash anywhere before the frontier write leaves the
    * frontier behind, so the batch replays and passes the order check
    * again; the replay first deletes every `ingest-<batchId>-` file its
    * interrupted attempt moved in, so the batch's rows land exactly once. */
  def appendInOrder(path: String, batchId: Long, ids: => org.apache.spark.sql.Row,
                    idCol: String)(stage: String => Unit): Unit = {
    val (last, maxId) = readFrontier(path, IngestFrontier)
    lazy val range = ids
    if (batchId > last && !range.isNullAt(0)) {
      require(range.getLong(0) > maxId,
        s"ingestion-order contract broken: batch $batchId min $idCol " +
          s"${range.getLong(0)} <= already-ingested max $maxId in $path — incremental " +
          s"maintenance assumes $idCol-ordered ingestion; re-ingest " +
          "out-of-order data through a full rebuild instead")
      import java.nio.file.{Files, Path, Paths}
      import scala.jdk.CollectionConverters._
      val (live, staged) = (Paths.get(path), Paths.get(s"$path.append"))
      stage(staged.toString)
      val tag = s"ingest-$batchId-"
      def files(root: Path): List[Path] =
        if (!Files.exists(root)) Nil
        else scala.util.Using.resource(Files.walk(root))(
          _.iterator().asScala.filter(Files.isRegularFile(_)).toList)
      files(live).filter(_.getFileName.toString.startsWith(tag)).foreach(Files.delete)
      files(staged).filterNot(f => Seq("_", ".").exists(f.getFileName.toString.startsWith))
        .foreach { f =>
          val dst = live.resolve(staged.relativize(f)).resolveSibling(tag + f.getFileName)
          Files.createDirectories(dst.getParent)
          Files.move(f, dst)
        }
      writeFrontier(path, IngestFrontier, batchId, math.max(maxId, range.getLong(1)))
      rmTree(staged.toFile)
    }
  }

  /** Stamp a freshly built target as holding every id up to `maxId`, so
    * [[appendInOrder]] accepts only later ids. */
  def markIngested(path: String, maxId: Long): Unit =
    writeFrontier(path, IngestFrontier, -1L, maxId)

  /** Read `$path/$name` as "batchId,maxId"; (-1, Long.MinValue) when absent. */
  private def readFrontier(path: String, name: String): (Long, Long) = {
    val f = java.nio.file.Paths.get(s"$path/$name")
    if (java.nio.file.Files.exists(f)) {
      val parts = java.nio.file.Files.readString(f).trim.split(",")
      (parts(0).toLong, if (parts.length > 1) parts(1).toLong else Long.MinValue)
    } else (-1L, Long.MinValue)
  }

  /** Advance `$path/$name` to "batchId,maxId" (underscore-prefixed names
    * are invisible to parquet file listing). */
  private def writeFrontier(path: String, name: String, batchId: Long, maxId: Long): Unit =
    writeAtomically(java.nio.file.Paths.get(s"$path/$name"), s"$batchId,$maxId")

  /** Replace `file` with `content` through a sibling temp file and an
    * atomic rename: a reader sees the old or the new content, never a
    * torn write. */
  def writeAtomically(file: java.nio.file.Path, content: String): Unit = {
    val tmp = file.resolveSibling(s".${file.getFileName}.tmp")
    java.nio.file.Files.createDirectories(file.getParent)
    java.nio.file.Files.writeString(tmp, content)
    java.nio.file.Files.move(tmp, file,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    ()
  }
}
