package graft

import graft.ops.Similarity
import org.apache.spark.sql.functions.col

/** Definition tests for ANN-assisted kNN maintenance: the merge that
  * bounds the scored pass by probing the persisted IVF index (round-12
  * directive #1). Anchored on two structural facts:
  *
  *  - probing EVERY cell makes the candidate set identical to the exact
  *    path's, so the maintained graph must equal the from-scratch
  *    rebuild (recall 1.0 for every anchor);
  *  - the candidate set is monotone in the probe set, and a displacing
  *    candidate always outranks the displaced row in the EXACT ordering
  *    too — so per-anchor recall can never decrease as nprobe grows.
  */
class AnnMaintenanceSpec extends SparkSpec {

  import spark.implicits._

  private def synthEmb(n: Int) =
    (0L until n.toLong).map { i =>
      (i, Array.tabulate(4)(d => math.sin(i * 1.7 + d * 0.9)))
    }.toDF("vec_id", "embedding")

  test("probing every cell reproduces the exact rebuild: recall 1.0 for every anchor") {
    val emb = synthEmb(60)
    val nlist = 8
    val (cents, cells, knn) = Similarity.buildIvfKnnMaintPrefix(
      spark, emb, 5, nlist, graft.Scratch.dir("ann-def-full"))
    val audit = Similarity.knnRecallAudit(
      Similarity.annMaintenanceRun(spark, emb, 5, nlist, cents, cells, knn), emb, 5)
      .collect()
    assert(audit.length == 60)
    assert(audit.forall(_.getAs[Double]("recall") == 1.0),
      audit.filter(_.getAs[Double]("recall") < 1.0).mkString(", "))
    graft.ops.Caches.releaseCaches(); spark.catalog.clearCache()
  }

  test("per-anchor recall is monotone in nprobe (candidate-set monotonicity)") {
    val emb = synthEmb(60)
    val (cents, cells, knn) = Similarity.buildIvfKnnMaintPrefix(
      spark, emb, 5, 8, graft.Scratch.dir("ann-def-mono"))
    def recalls(nprobe: Int): Map[Long, Double] =
      Similarity.knnRecallAudit(
        Similarity.annMaintenanceRun(spark, emb, 5, nprobe, cents, cells, knn), emb, 5)
        .collect().map(r => r.getLong(0) -> r.getAs[Double]("recall")).toMap
    val r1 = recalls(1)
    val r3 = recalls(3)
    assert(r1.keySet == r3.keySet)
    r1.foreach { case (a, v) =>
      assert(v <= r3(a) + 1e-9, s"anchor $a: recall(nprobe=1)=$v > recall(nprobe=3)=${r3(a)}")
    }
    // nprobe=1 must still produce a non-degenerate graph (some hits)
    assert(r1.values.sum > 0.0)
    graft.ops.Caches.releaseCaches(); spark.catalog.clearCache()
  }

  test("streaming ANN ingest: stop/restart continues; from-zero replay is absorbed") {
    val emb = synthEmb(60)
    val (cents, cellsP, knnP) = Similarity.buildIvfKnnMaintPrefix(
      spark, emb, 5, 8, graft.Scratch.dir("ann-stream-prefix"))
    val root = graft.Scratch.dir("ann-stream-run")
    val cells = s"$root/cells"; val map = s"$root/knn"
    graft.ops.BucketSwap.linkTree(cellsP, cells)
    graft.ops.BucketSwap.linkTree(knnP, map)
    val chunks = s"$root/chunks"
    new java.io.File(chunks).mkdirs()
    val schema = emb.schema
    def writeChunk(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = s"$root/tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(s"$chunks/$name.parquet"))
      ()
    }
    // cut = 48; feed [48, 54) then "kill", then [54, 60) on restart
    writeChunk(emb.filter(col("vec_id") >= 48L && col("vec_id") < 54L), "chunk_0")
    Similarity.streamingAnnIngest(spark, chunks, schema, cents, cells, map, 5, 8, s"$root/ckpt")
    writeChunk(emb.filter(col("vec_id") >= 54L), "chunk_1")
    Similarity.streamingAnnIngest(spark, chunks, schema, cents, cells, map, 5, 8, s"$root/ckpt")
    // nprobe = nlist: the streamed ANN merges must equal the exact rebuild
    val want = Similarity.knnGraph(emb, 5)
      .select(col("anchor_id"), col("neighbor_id"), col("rank"))
      .collect().map(_.toSeq).toSet
    val got = spark.read.parquet(map)
      .select(col("anchor_id"), col("neighbor_id"), col("rank"))
      .collect().map(_.toSeq).toSet
    assert(got == want, s"extra=${got.diff(want).take(5)} missing=${want.diff(got).take(5)}")
    // from-zero replay (fresh checkpoint): absorbed by the _knn_frontier
    Similarity.streamingAnnIngest(spark, chunks, schema, cents, cells, map, 5, 8, s"$root/ckpt2")
    val replayed = spark.read.parquet(map)
      .select(col("anchor_id"), col("neighbor_id"), col("rank"))
      .collect().map(_.toSeq).toSet
    assert(replayed == want, "full replay must be absorbed")
    graft.ops.Caches.releaseCaches(); spark.catalog.clearCache()
  }

  test("replayed batch id is absorbed without touching the artifacts") {
    val emb = synthEmb(40)
    val (cents, cellsP, knnP) = Similarity.buildIvfKnnMaintPrefix(
      spark, emb, 5, 8, graft.Scratch.dir("ann-def-replay"))
    val root = graft.Scratch.dir("ann-def-replay-run")
    val cells = s"$root/cells"; val map = s"$root/knn"
    graft.ops.BucketSwap.linkTree(cellsP, cells)
    graft.ops.BucketSwap.linkTree(knnP, map)
    val cut = 40L * 4 / 5
    val batch = emb.filter(col("vec_id") >= cut)
    assert(Similarity.maintainKnnGraph(spark, spark.read.parquet(cents), cells, map, batch, 5, 3, 0L))
    val after = spark.read.parquet(map).collect().map(_.toSeq).toSet
    // replay of the same batch id: absorbed, graph unchanged
    assert(!Similarity.maintainKnnGraph(spark, spark.read.parquet(cents), cells, map, batch, 5, 3, 0L))
    assert(spark.read.parquet(map).collect().map(_.toSeq).toSet == after)
    graft.ops.Caches.releaseCaches(); spark.catalog.clearCache()
  }

  test("a batch vector tied between two centroids is stored in the argmax cell") {
    // axis-aligned stored vectors: every centroid is a scaled unit axis,
    // so the batch vector (unit cent 1 + unit cent 2) has bit-identical
    // cosines to both — the probe's first row must break the tie the
    // way cellAssignments' argmax key does
    val emb = (0L until 20L).map { i =>
      (i, Array.tabulate(4)(d => if (d == i % 4) 1.0 + i else 0.0)) }.toDF("vec_id", "embedding")
    val (cents, cellsP, knnP) = Similarity.buildIvfKnnMaintPrefix(
      spark, emb.filter(col("vec_id") < 16L), 3, 2, graft.Scratch.dir("ann-tie-prefix"))
    val cent = spark.read.parquet(cents)
    val cs = cent.collect().map(_.getAs[scala.collection.Seq[Double]]("cv"))
    assert(cs.length == 2)
    val tied = Array.tabulate(4)(d => cs.map(v => v(d) / math.sqrt(v.map(x => x * x).sum)).sum)
    val batch = Seq((100L, tied)).toDF("vec_id", "embedding")
    val root = graft.Scratch.dir("ann-tie-run")
    val cells = s"$root/cells"; val map = s"$root/knn"
    graft.ops.BucketSwap.linkTree(cellsP, cells)
    graft.ops.BucketSwap.linkTree(knnP, map)
    def cos6(a: Seq[Double], b: Seq[Double]): BigDecimal = {
      def n(v: Seq[Double]) = math.sqrt(v.map(x => x * x).sum)
      BigDecimal(a.zip(b).map { case (x, y) => x * y }.sum / (n(a) * n(b)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    }
    val cos = cs.map(c => cos6(tied.toSeq, c.toSeq))
    assert(cos.distinct.length == 1, s"precondition: equal cosines, got ${cos.mkString(", ")}")
    assert(Similarity.maintainKnnGraph(spark, cent, cells, map, batch, 3, 1, 0L))
    val stored = spark.read.parquet(cells).filter(col("vec_id") === 100L)
      .select(col("cell")).collect().map(_.getInt(0)).toSeq
    val argmax = Similarity.cellAssignments(Similarity.prepared(batch), cent, "cidx")
      .select(col("cell")).collect().map(_.getInt(0)).toSeq
    assert(stored == argmax, s"stored cell $stored, argmax cell $argmax")
    graft.ops.Caches.releaseCaches(); spark.catalog.clearCache()
  }

  private def entries(dir: String): Seq[String] =
    Option(new java.io.File(dir).list()).map(_.toSeq.sorted).getOrElse(Nil)

  test("out-of-range k or nlist is rejected before the prefix writes anything") {
    val emb = synthEmb(20)
    for ((k, nlist) <- Seq((0, 4), (5, 0))) {
      val root = graft.Scratch.dir("ann-bad-prefix")
      intercept[IllegalArgumentException] {
        Similarity.buildIvfKnnMaintPrefix(spark, emb, k, nlist, root)
      }
      assert(entries(root).isEmpty, s"k=$k nlist=$nlist wrote ${entries(root)}")
    }
  }

  test("out-of-range nprobe is rejected before the merge writes anything") {
    val emb = synthEmb(20)
    val (cents, cellsP, knnP) = Similarity.buildIvfKnnMaintPrefix(
      spark, emb, 5, 4, graft.Scratch.dir("ann-bad-nprobe"))
    val root = graft.Scratch.dir("ann-bad-nprobe-run")
    val cells = s"$root/cells"; val map = s"$root/knn"
    graft.ops.BucketSwap.linkTree(cellsP, cells)
    graft.ops.BucketSwap.linkTree(knnP, map)
    val before = (entries(cells), entries(map), entries(root))
    intercept[IllegalArgumentException] {
      Similarity.maintainKnnGraph(spark, spark.read.parquet(cents), cells, map,
        emb.filter(col("vec_id") >= 16L), 5, 0, 0L)
    }
    assert((entries(cells), entries(map), entries(root)) == before,
      "a rejected merge must leave the artifacts, frontiers and staging dirs untouched")
    graft.ops.Caches.releaseCaches(); spark.catalog.clearCache()
  }

  test("one exact (one-cell) batch launches no more jobs than the deleted exact merge") {
    // the stored × batch merge this path replaced took 8 jobs per batch
    // on this fixture (counted the same way); the probe's checkpoint
    // carries the batch payload, its id range and the probed cells, and
    // the append reads the batch's cell off the first probe row, so the
    // one-cell index adds no job
    val emb = synthEmb(60)
    val (cents, cellsP, knnP) = Similarity.buildIvfKnnMaintPrefix(
      spark, emb, 5, 1, graft.Scratch.dir("ann-jobs-prefix"))
    val cent = spark.read.parquet(cents)
    val jobs = (1 to 2).map { i =>
      val root = graft.Scratch.dir(s"ann-jobs-run-$i")
      graft.ops.BucketSwap.linkTree(cellsP, s"$root/cells")
      graft.ops.BucketSwap.linkTree(knnP, s"$root/knn")
      jobProperties {
        Similarity.maintainKnnGraph(spark, cent, s"$root/cells", s"$root/knn",
          emb.filter(col("vec_id") >= 48L), 5, 1, 0L)
      }.size
    }
    assert(jobs.last <= 8, s"one exact batch launched ${jobs.last} jobs")
    graft.ops.Caches.releaseCaches(); spark.catalog.clearCache()
  }
}
