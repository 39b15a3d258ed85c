package graft

import org.apache.spark.sql.functions._

/** Dev measurement main (round-12 directive #6): merge cost of the
  * incremental-maintenance paths vs PREFIX artifact size at FIXED batch
  * size — the delta-bounded claim is that the cluster merge is (nearly)
  * independent of |corpus|, while the exact kNN merge (the one-cell
  * index) carries its |C| term and the ANN-assisted merge carries
  * nprobe/nlist of it. The 1×
  * prefix is built from sf0.01, the 10× prefix from sf0.1 (same
  * generator); min of 2 runs on fresh hardlinked artifacts per
  * measurement.
  *
  * The cluster batch is 100 shifted near-dup copies of the PREFIX'S OWN
  * first originals (fixed batch size, fixed per-doc match structure) —
  * round 14 fix: the previous fixed sf0.1-derived batch matched NOTHING
  * in the sf0.01-built prefix (sf0.01 texts differ), so the "1× merge"
  * skipped the map rewrite entirely and the ratio compared a no-op
  * probe against a real merge. With counterpart batches both sides do
  * equivalent delta work and the ratio isolates corpus-size dependence.
  *
  * Usage: `sbt 'runMain graft.PrefixScale'` — prints one JSON line;
  * `scripts/prefix_scale.sh` merges it into scaling_curves.json. Cores
  * and session settings come from [[Harness]].
  */
object PrefixScale {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session(Harness.cpus)

    def docsOf(sf: String) = spark.read
      .parquet(s"/root/testdata/sf$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    def embOf(sf: String) = spark.read
      .parquet(s"/root/testdata/sf$sf/embeddings.parquet")

    // FIXED-SIZE cluster batches, one per prefix: 100 shifted near-dup
    // copies of the prefix's own first originals (each batch doc matches
    // its counterpart in the stored corpus — equivalent delta work on
    // both sides; see the scaladoc)
    def batchDocsOf(sf: String) = {
      val b = ops.Dedup.nearDupCorpus(docsOf(sf))
        .filter(col("doc_id") >= 1000000L && col("doc_id") < 1000100L)
        .cache()
      b.count(); b
    }
    val vMax = embOf("0.1").agg(max(col("vec_id"))).head().getLong(0)
    val vLo = (vMax + 1) * 4 / 5
    val batchVec = embOf("0.1")
      .filter(col("vec_id") >= vLo && col("vec_id") < vLo + 40)
      .cache()
    batchVec.count()

    def minOf2(body: => Unit): Double = {
      val runs = (1 to 2).map { _ =>
        Harness.release(spark); System.gc()
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
      }
      System.err.println(s"  runs: ${runs.map(r => f"$r%.2f").mkString(", ")}")
      runs.min
    }

    val out = scala.collection.mutable.LinkedHashMap[String, Double]()
    Seq("1x" -> "0.01", "10x" -> "0.1").foreach { case (label, sf) =>
      // cluster-map merge
      val batchDocs = batchDocsOf(sf)
      val (pi, pm) = ops.Dedup.buildClusterMaintPrefix(
        spark, docsOf(sf), 0.5, graft.Scratch.dir(s"ps-cl-$label"))
      out(s"cluster_merge_$label") = minOf2 {
        val r = graft.Scratch.dir(s"ps-cl-run-$label")
        ops.BucketSwap.linkTree(pi, s"$r/index")
        ops.BucketSwap.linkTree(pm, s"$r/map")
        ops.Dedup.maintainClusterMap(spark, s"$r/index", s"$r/map",
          batchDocs, 0.5, 0L)
        ()
      }
      // kNN merges: exact (one-cell index — the |C| term, by design)
      // and ANN-assisted (nprobe/nlist of the |C| term)
      Seq(("knn_exact_merge", 1, 1), ("knn_ann_merge", 32, 4)).foreach {
        case (fam, nlist, nprobe) =>
          val (pc, pcl, pk) = ops.Similarity.buildIvfKnnMaintPrefix(
            spark, embOf(sf), 10, nlist, graft.Scratch.dir(s"ps-$fam-$label"))
          out(s"${fam}_$label") = minOf2 {
            val r = graft.Scratch.dir(s"ps-$fam-run-$label")
            ops.BucketSwap.linkTree(pcl, s"$r/cells")
            ops.BucketSwap.linkTree(pk, s"$r/knn")
            ops.Similarity.maintainKnnGraph(spark, spark.read.parquet(pc),
              s"$r/cells", s"$r/knn", batchVec, 10, nprobe, 0L)
            ()
          }
      }
      Harness.release(spark)
    }
    def fmt(d: Double) = BigDecimal(d).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    def ratio(fam: String) = fmt(out(s"${fam}_10x") / out(s"${fam}_1x"))
    val json = out.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString(",") +
      s""","cluster_merge_ratio":${ratio("cluster_merge")}""" +
      s""","knn_exact_merge_ratio":${ratio("knn_exact_merge")}""" +
      s""","knn_ann_merge_ratio":${ratio("knn_ann_merge")}"""
    println(s"""{"metric":"prefix_scale","batch_docs":100,"batch_vecs":40,$json}""")
    spark.stop()
  }
}
