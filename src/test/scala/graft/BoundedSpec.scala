package graft

import graft.ops.Caches
import graft.streaming.Bounded
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Bounded streaming runs: the chunk writer lays slices out as one
  * ordered file each, and a run executes one micro-batch per file and
  * checks that count itself.
  */
class BoundedSpec extends SparkSpec {

  import spark.implicits._

  private def slices: Seq[DataFrame] =
    (0 until 4).map(i => spark.range(i * 10L, i * 10L + 10L).toDF("id").repartition(3))

  test("the writer turns 4 slices into 4 ordered chunk files") {
    val dir = s"${Scratch.dir("bounded-writer")}/chunks"
    Bounded.writeChunks(dir, slices)
    val files = new java.io.File(dir).listFiles().toSeq.sortBy(_.lastModified())
    assert(files.map(_.getName) == (0 until 4).map(i => s"chunk_$i.parquet"))
    assert(files.map(_.lastModified()).distinct.size == 4, "modification times must not tie")
    files.zipWithIndex.foreach { case (f, i) =>
      val ids = spark.read.parquet(f.getPath).as[Long].collect().sorted.toSeq
      assert(ids == (i * 10L until i * 10L + 10L), s"${f.getName}: $ids")
    }
  }

  test("a run executes the body once per chunk file, in slice order, and returns 4") {
    val root = Scratch.dir("bounded-run")
    val dir = Bounded.writeChunks(s"$root/chunks", slices)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Seq[Long])]()
    val n = Bounded.foreachBatch(
      Bounded.readChunks(spark, dir, spark.read.parquet(dir).schema),
      s"$root/ckpt", Bounded.OnePerFile(dir)) { (batch, batchId) =>
      seen.add(batchId -> batch.select(col("id")).as[Long].collect().sorted.toSeq); ()
    }
    assert(n == 4)
    val batches = scala.jdk.CollectionConverters.IteratorHasAsScala(seen.iterator()).asScala.toSeq
    assert(batches.map(_._1) == (0L until 4L))
    assert(batches.map(_._2) == (0 until 4).map(i => i * 10L until i * 10L + 10L))
  }

  test("the batch count is not capped by the query's progress buffer") {
    val root = Scratch.dir("bounded-uncapped")
    val dir = Bounded.writeChunks(s"$root/chunks", slices)
    val key = "spark.sql.streaming.numRecentProgressUpdates"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "2")
    try {
      val n = Bounded.foreachBatch(Bounded.readChunks(spark, dir, spark.read.parquet(dir).schema),
        s"$root/ckpt", Bounded.OnePerFile(dir))((_, _) => ())
      assert(n == 4)
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("a chunk file that lands after the run's snapshot does not fail the run") {
    val root = Scratch.dir("bounded-late-file")
    val dir = Bounded.writeChunks(s"$root/chunks", slices)
    val n = Bounded.foreachBatch(Bounded.readChunks(spark, dir, spark.read.parquet(dir).schema),
      s"$root/ckpt", Bounded.OnePerFile(dir)) { (_, batchId) =>
      if (batchId == 0L) {
        val late = java.nio.file.Files.copy(
          java.nio.file.Paths.get(dir, "chunk_0.parquet"), java.nio.file.Paths.get(dir, "chunk_4.parquet"))
        late.toFile.setLastModified(System.currentTimeMillis() + 60000L)
      }
      ()
    }
    assert(n == 4)
    assert(new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet")) == 5)
  }

  test("a run that falls short of its expected batch count fails") {
    val root = Scratch.dir("bounded-short")
    val dir = Bounded.writeChunks(s"$root/chunks", slices)
    val ex = intercept[IllegalArgumentException] {
      Bounded.foreachBatch(Bounded.readChunks(spark, dir, spark.read.parquet(dir).schema),
        s"$root/ckpt", Bounded.AtLeast(5))((_, _) => ())
    }
    assert(ex.getMessage.contains("ran 4 data micro-batches"), ex.getMessage)
  }

  test("a memory-sink run returns its registered view; teardown drains it") {
    val root = Scratch.dir("bounded-memory")
    val dir = Bounded.writeChunks(s"$root/chunks", slices)
    val view = Bounded.toMemory(
      Bounded.readChunks(spark, dir, spark.read.parquet(dir).schema),
      "bounded_spec", Bounded.OnePerFile(dir))
    assert(Caches.pendingStreamViews.contains(view))
    assert(spark.table(view).count() == 40L)
    Caches.releaseStreamingState(spark)
    assert(Caches.pendingStreamViews.isEmpty)
    assert(!spark.catalog.tableExists(view))
  }
}
