package graft

import graft.ops.Dedup
import org.apache.spark.sql.functions.col

/** Property sweep for incremental cluster-map maintenance: on seeded
  * random corpora — mutated-copy chains, arbitrary prefix/batch split
  * points (including an EMPTY prefix), three ordered ingest batches —
  * the maintained map must equal the from-scratch star-contraction
  * rebuild exactly. This is the graph-level CcPropertySpec discipline
  * applied to the full artifact path: signatures, probe, contraction,
  * driver union-find, bucket rewrite, frontiers.
  */
class ClusterMaintPropertySpec extends SparkSpec {

  import spark.implicits._

  test("seeded corpus sweep: 3-batch incremental maintenance equals the rebuild") {
    (1 to 5).foreach { seed =>
      var x = seed.toLong * 2654435761L + 11
      def next(bound: Int): Int = {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        java.lang.Math.floorMod(x, bound.toLong).toInt
      }
      val n = 8 + next(10)
      // roughly a third of the docs are suffix-mutated copies of an
      // earlier doc (besides nearDupCorpus's own shifted copies), so
      // merges happen inside the prefix, inside batches, and across
      // the split — including batch docs BRIDGING two old clusters
      val texts = scala.collection.mutable.ArrayBuffer[String]()
      (0 until n).foreach { i =>
        if (i > 0 && next(3) == 0) texts += (texts(next(i)) + s" x${next(5)} y z")
        else texts += Seq.tabulate(40 + next(40))(j => s"t${next(37)} w$j").mkString(" ")
      }
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toSeq
        .toDF("doc_id", "text")
      val corpus = Dedup.nearDupCorpus(docs)
      val root = graft.Scratch.dir(s"cm-prop-$seed")
      val cut = next(n).toLong // originals split point; 0 = empty prefix
      Dedup.writeLshIndex(corpus.filter(col("doc_id") < cut), s"$root/index")
      Dedup.writeClusterMap(
        Dedup.nearDupClusters(corpus.filter(col("doc_id") < cut), 0.5),
        s"$root/map")
      val batches = Seq(
        corpus.filter(col("doc_id") >= cut && col("doc_id") < 1000000L),
        corpus.filter(col("doc_id") >= 1000000L && col("doc_id") < 1000000L + n / 2),
        corpus.filter(col("doc_id") >= 1000000L + n / 2))
      batches.zipWithIndex.foreach { case (b, i) =>
        Dedup.maintainClusterMap(spark, s"$root/index", s"$root/map", b, 0.5, i.toLong)
        ()
      }
      val got = spark.read.parquet(s"$root/map")
        .select(col("doc_id"), col("cluster"), col("cluster_size"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val want = Dedup.nearDupClusters(corpus, 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == want,
        s"[seed=$seed n=$n cut=$cut] incremental diverged: " +
          s"extra=${got.diff(want)} missing=${want.diff(got)}")
      graft.ops.Caches.releaseCaches(); spark.catalog.clearCache()
    }
  }

  test("hardlinked prefix staging: a maintenance run leaves the prefix artifacts byte-identical") {
    // the linkTree safety claim: maintenance mutates the linked view by
    // writing NEW files and swapping directory entries only, so the
    // process-cached prefix must survive a full run untouched
    def fingerprint(root: String): Map[String, String] = {
      val r = java.nio.file.Paths.get(root)
      val out = scala.collection.mutable.Map[String, String]()
      java.nio.file.Files.walk(r).forEach { p =>
        if (!java.nio.file.Files.isDirectory(p)) {
          val md = java.security.MessageDigest.getInstance("MD5")
          out(r.relativize(p).toString) =
            md.digest(java.nio.file.Files.readAllBytes(p))
              .map("%02x".format(_)).mkString
        }
      }
      out.toMap
    }
    val docs = (0L until 12L).map { i =>
      (i, Seq.tabulate(50)(j => s"w${(i * 7 + j) % 13} t$j").mkString(" "))
    }.toDF("doc_id", "text")
    val root = graft.Scratch.dir("cm-linktree")
    val (idx, map) = Dedup.buildClusterMaintPrefix(spark, docs, 0.5, root)
    val before = (fingerprint(idx), fingerprint(map))
    val out = Dedup.clusterMaintenanceRun(spark, docs, 0.5, idx, map)
    assert(out.count() > 0)
    assert(fingerprint(idx) == before._1, "prefix LSH index mutated through the links")
    assert(fingerprint(map) == before._2, "prefix cluster map mutated through the links")
    graft.ops.Caches.releaseCaches(); spark.catalog.clearCache()
  }

  test("job budget: one merge stays within its five-core-actions diet") {
    // the round-14 job diet: batch stats + hit buckets OBSERVED on the
    // band checkpoint, the delta pair set collected once, endpoint
    // resolution one IN-filtered pass, inserts decided in-plan — a merge
    // is ~8 jobs (5 core actions + broadcast builds). The pre-diet shape
    // was ~15; this pins the regression boundary without being brittle
    // about broadcast-build job accounting.
    val docs = (0L until 16L).map { i =>
      (i, Seq.tabulate(50)(j => s"w${(i * 5 + j) % 11} t$j").mkString(" "))
    }.toDF("doc_id", "text")
    val corpus = Dedup.nearDupCorpus(docs)
    val root = graft.Scratch.dir("cm-jobs")
    Dedup.writeLshIndex(corpus.filter(col("doc_id") < 8), s"$root/index")
    Dedup.writeClusterMap(
      Dedup.nearDupClusters(corpus.filter(col("doc_id") < 8), 0.5), s"$root/map")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      Dedup.maintainClusterMap(spark, s"$root/index", s"$root/map",
        corpus.filter(col("doc_id") >= 8), 0.5, 0L)
      drainListenerBus()
    } finally spark.sparkContext.removeSparkListener(l)
    assert(jobs.get() <= 12,
      s"one cluster-map merge launched ${jobs.get()} jobs — the job diet " +
        "regressed (expected ~8: band ckpt, pair collect, endpoint " +
        "resolve, index append, rewrite write + broadcast builds)")
    graft.ops.Caches.releaseCaches(); spark.catalog.clearCache()
  }
}
