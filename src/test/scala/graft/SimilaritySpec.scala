package graft

import graft.ops.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ANN search: brute force is exact on known geometry; IVF returns a
  * subset consistent with its probed cells, perfect recall when nprobe
  * covers all cells, and a centroid count that does NOT grow with the
  * corpus (fixed-k sample, not a modulo rule).
  */
class SimilaritySpec extends SparkSpec {

  import spark.implicits._

  // 2-D geometry with known cosine order relative to v0 = (1, 0)
  private val vecs = Seq(
    (0L, Array(1.0f, 0.0f), 0),
    (1L, Array(0.9f, 0.1f), 0),
    (2L, Array(0.5f, 0.5f), 0),
    (3L, Array(0.0f, 1.0f), 1),
    (4L, Array(-1.0f, 0.1f), 1)
  ).toDF("vec_id", "embedding", "label")

  test("brute force top-k ranks by cosine desc") {
    val got = Similarity.bruteForceTopK(vecs, 1, 4)
      .collect().map(r => (r.getLong(1), r.getLong(3)))
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L))
    assert(got.map(_._2).toSeq == Seq(1L, 2L, 3L, 4L))
  }

  test("hard negatives: near-dups are skipped and counted, not mined") {
    // anchor = v0 (1,0). cos: v1 ≈ .994 (a latent positive at thr .9),
    // v2 ≈ .707, v3 = 0, v4 ≈ -.995 — negatives are {v2, v3, v4} ranked
    // by similarity, and exactly one skipped positive is reported
    val got = Similarity.hardNegatives(vecs, 1, 3, 0.9).collect()
    assert(got.map(_.getLong(1)).toSeq == Seq(2L, 3L, 4L),
      s"hardest (most similar) sub-threshold vectors first: ${got.toSeq}")
    assert(got.forall(_.getLong(4) == 1L),
      s"v1 (cos .994 >= .9) must be skipped as a latent positive: ${got.toSeq}")
    assert(got.map(_.getLong(3)).toSeq == Seq(1L, 2L, 3L))
    // threshold above every cosine: nothing skipped, v1 becomes minable
    val loose = Similarity.hardNegatives(vecs, 1, 1, 1.1).collect()(0)
    assert(loose.getLong(1) == 1L && loose.getLong(4) == 0L)
  }

  test("IVF with full probe coverage equals brute force") {
    val bf = Similarity.bruteForceTopK(vecs, 1, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSeq
    // nlist=3 centroids, nprobe=3 probes every cell → exact
    val ivf = Similarity.ivfTopK(vecs, 1, 3, 3, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSeq
    assert(ivf == bf)
  }

  test("IVF with nprobe=1 returns a non-empty subset of the brute-force set") {
    val bf = Similarity.bruteForceTopK(vecs, 1, 4).collect().map(_.getLong(1)).toSet
    val got = Similarity.ivfTopK(vecs, 1, 4, 3, 1).collect().map(_.getLong(1)).toSet
    assert(got.nonEmpty && got.subsetOf(bf))
  }

  test("int8 quantization: known codes on a ramp; constant vector degenerates cleanly") {
    val e = Seq(
      (0L, Array(0.0f, 1.0f, 0.25f), 0),
      (1L, Array(0.25f, 0.25f, 0.25f), 0)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.quantizeInt8(e).collect()
    val r0 = got(0)
    assert(r0.getAs[Double]("lo") == 0.0 && r0.getAs[Double]("hi") == 1.0)
    // codes 0, 255, round(0.25 * 255) = 64
    assert(r0.getAs[Long]("q_sum") == 0L + 255L + 64L)
    assert(r0.getAs[Double]("mse") < 1e-5)
    val r1 = got(1) // hi == lo → scale 0 → all-zero codes, exact reconstruction
    assert(r1.getAs[Long]("q_sum") == 0L && r1.getAs[Double]("mse") == 0.0)
  }

  test("kmeans refine: singleton cells do not move; one cell averages all members") {
    val singletons = Similarity.kmeansRefine(vecs, 5).collect()
    assert(singletons.length == 5)
    assert(singletons.forall(_.getAs[Long]("n_members") == 1L))
    assert(singletons.forall(_.getAs[Double]("shift_cosine") == 1.0))
    val one = Similarity.kmeansRefine(vecs, 1).collect()
    assert(one.length == 1 && one(0).getAs[Long]("n_members") == 5L)
    // the hash-picked seed needn't point anywhere near the mean — only
    // the cosine RANGE is guaranteed (here the seed is nearly opposite)
    val shift = one(0).getAs[Double]("shift_cosine")
    assert(shift >= -1.0 && shift <= 1.0 && shift != 0.0)
  }

  test("PQ: codebook members reconstruct themselves exactly (mse 0, own code)") {
    // 4-dim vectors, m=2 subspaces, ncode = corpus size → every vector IS
    // a codeword, so its nearest codeword in each subspace is itself (or
    // an identical-subvector tie broken to the smaller cent_id)
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 5.0f, 0.0f)),
      (1L, Array(0.0f, 2.0f, 0.0f, 6.0f)),
      (2L, Array(3.0f, 3.0f, 7.0f, 7.0f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.pqQuantize(emb, 2, 3).collect()
    assert(got.length == 3)
    got.foreach { r =>
      assert(r.getAs[Double]("mse") == 0.0)
      assert(r.getAs[Long]("c0") == r.getAs[Long]("vec_id"))
      assert(r.getAs[Long]("c1") == r.getAs[Long]("vec_id"))
    }
  }

  test("PQ: off-codebook vectors pick the nearest codeword per subspace independently") {
    // hash order of ids "0".."3" is 1 < 2 < 0 < 3, so ncode=2 samples
    // vectors 1 and 2 as the codebook; vector 3 is the off-codebook probe
    val emb = Seq(
      (0L, Array(50.0f, 50.0f, 50.0f, 50.0f)),
      (1L, Array(0.0f, 0.0f, 10.0f, 10.0f)),
      (2L, Array(8.0f, 8.0f, 0.0f, 0.0f)),
      (3L, Array(1.0f, 0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.pqQuantize(emb, 2, 2).collect()
      .map(r => r.getAs[Long]("vec_id") -> (r.getAs[Long]("c0"), r.getAs[Long]("c1"))).toMap
    // vec 3's subspace-0 half (1,0): nearer codeword 1's (0,0) than 2's (8,8);
    // subspace-1 half (1,0): nearer codeword 2's (0,0) than 1's (10,10)
    assert(got(3L) == ((1L, 2L)))
  }

  test("dim truncation: full width has recall 1; a useless prefix degrades it") {
    // dim 1 keeps only the x-axis: v3 (0,1) collapses onto the origin-adjacent
    // order and v4 (-1,0.1) stays anti-aligned — the 2-dim audit is exact
    val fourD = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f), 0),
      (1L, Array(0.9f, 0.1f, 0.0f, 0.0f), 0),
      (2L, Array(0.5f, 0.5f, 0.0f, 0.0f), 0),
      (3L, Array(0.1f, 1.0f, 0.0f, 0.0f), 1),
      (4L, Array(-1.0f, 0.1f, 0.0f, 0.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.dimTruncationAudit(fourD, 1, 3, Seq(2, 4))
      .collect().map(r => (r.getInt(0), r.getDouble(3))).toMap
    // the informative content lives in the first 2 dims: both widths exact
    assert(got(2) == 1.0 && got(4) == 1.0)
    // recall is defined against the same exact ranking (sanity: bounded)
    got.values.foreach(v => assert(v >= 0.0 && v <= 1.0))
  }

  test("k-center coreset: gains non-increasing, radius bounded, centers spread") {
    // 1-D line geometry embedded in 2-D: ids 0..4 at x = 0, 1, 5, 6, 20
    val line = Seq(
      (0L, Array(0.0f, 0.0f)), (1L, Array(1.0f, 0.0f)), (2L, Array(5.0f, 0.0f)),
      (3L, Array(6.0f, 0.0f)), (4L, Array(20.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.kCenterCoreset(line, 3).collect()
    val ids = got.map(_.getAs[Long]("center_id"))
    assert(ids.length == ids.distinct.length, s"centers must be distinct: ${ids.toSeq}")
    assert(ids(0) == 0L, "seed is the smallest vec_id")
    assert(ids(1) == 4L, s"farthest point (x=20) must be picked second: ${ids.toSeq}")
    val gains = got.map(_.getAs[Long]("gain_dist_sq")).drop(1)
    assert(gains.zip(gains.tail).forall { case (a, b) => a >= b },
      s"gains must be non-increasing: ${gains.toSeq}")
    val radius = got.head.getAs[Long]("coverage_radius_sq")
    assert(radius <= gains.last,
      s"final radius $radius cannot exceed the last selection gain ${gains.last}")
  }

  test("centroid count is fixed-k: cells stay <= nlist as the corpus doubles") {
    // threshold -1 keeps every within-cell pair, so distinct `cell` values
    // in the output count the non-singleton cells — bounded by nlist on
    // both the corpus and its doubled version (a modulo-step rule would
    // double its centroid count here).
    def nCells(df: DataFrame): Long =
      Similarity.ivfNearDup(df, 2, -1.0).select("cell").distinct().count()
    val doubled = vecs.unionByName(vecs.withColumn("vec_id", col("vec_id") + 100L))
    assert(nCells(vecs) <= 2)
    assert(nCells(doubled) <= 2)
  }

  test("kNN graph: every vector gets k ranked neighbors, no self-edges, known order") {
    val knn = Similarity.knnGraph(vecs, 2)
    val rows = knn.collect().map(r =>
      (r.getAs[Long]("anchor_id"), r.getAs[Long]("neighbor_id"), r.getAs[Long]("rank")))
    assert(rows.length == 5 * 2, s"5 anchors x k=2: ${rows.length}")
    assert(rows.forall { case (a, n, _) => a != n }, "self-edges excluded")
    // v0 = (1,0): nearest is v1 (cos .994), then v2 (.707)
    assert(rows.filter(_._1 == 0L).sortBy(_._3).map(_._2).toSeq == Seq(1L, 2L))
    // v4 = (-1,.1): nearest is v3 (cos ~.0995), then v2 (~-.63)
    assert(rows.filter(_._1 == 4L).sortBy(_._3).map(_._2).toSeq == Seq(3L, 2L))
  }

  test("kNN riders: hubness census covers every vector; agreement and outliers are consistent") {
    val knn = Similarity.knnGraph(vecs, 2)
    val hub = Similarity.knnHubness(knn, vecs, 2).collect()
    // the census partitions the corpus: n_vectors sums to |V|, and total
    // k-occurrence mass is exactly |V|*k (every top-k list has k slots)
    assert(hub.map(_.getAs[Long]("n_vectors")).sum == 5L)
    assert(hub.map(r => r.getAs[Long]("k_occurrence") * r.getAs[Long]("n_vectors")).sum == 10L)
    val agree = Similarity.knnLabelAgreement(knn, vecs, 2).collect()
    assert(agree.map(_.getAs[Long]("n_vectors")).sum == 5L)
    assert(agree.forall { r =>
      val ppm = r.getAs[Long]("agree_ppm")
      ppm >= 0L && ppm <= 1000000L
    })
    // label 0 = {v0,v1,v2}: v0's 2-NN = {v1,v2} both label 0 → some anchor
    // has full agreement; label 1 = {v3,v4}: v3's 2-NN = {v2,v1}? cos(v3,v2)=.707,
    // cos(v3,v4)≈.0995 → {v2, v4}: one agree. No label is all-suspect.
    val lab0 = agree.find(_.getAs[Int]("label") == 0).get
    assert(lab0.getAs[Long]("sum_agree") > 0L)
    val out = Similarity.knnOutliers(knn, 2, 3).collect()
    assert(out.map(_.getAs[Long]("isolation_rank")).toSeq == Seq(1L, 2L, 3L))
    val kth = out.map(_.getAs[Double]("kth_cosine"))
    assert(kth.zip(kth.tail).forall { case (a, b) => a <= b },
      s"most isolated (smallest rank-k cosine) first: ${kth.toSeq}")
    // v4 is the geometric outlier: its 2nd-nearest cosine (~-.63) is the
    // smallest in the corpus → isolation rank 1
    assert(out.head.getAs[Long]("anchor_id") == 4L)
  }

  test("semantic clusters: above-threshold kNN edges chain transitively; loners absent") {
    // k=2, tau=.75: edges v0-v1 (cos .994) and v1-v2 (cos .78) chain into
    // {0,1,2} even though cos(v0,v2)=.707 < tau; v3/v4 have no qualifying
    // edge and must be absent (implicit singletons)
    val got = Similarity.semanticClusters(vecs, 2, 0.75).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map(0L -> (0L, 3L), 1L -> (0L, 3L), 2L -> (0L, 3L)), got)
    graft.ops.Caches.releaseCaches()
  }

  test("JL distortion: single-coordinate pair is exactly 1e6; zero distance yields null") {
    // x_a = e_0, x_b = 0: x_d2 = 1000², y_j = ±1000 for every j →
    // y_d2 = 16·1000², distortion = 1e6·y_d2 / (16·x_d2) = 1e6 exactly.
    // x_c duplicates x_a: x_d2 = 0 → distortion must be null, not a crash
    val e0 = Array.tabulate(64)(i => if (i == 0) 1.0f else 0.0f)
    val vecs64 = Seq(
      (0L, e0, 0), (1L, Array.fill(64)(0.0f), 0), (2L, e0, 0)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.jlDistortion(vecs64, 16, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (if (r.isNullAt(4)) None else Some(r.getLong(4)))).toMap
    assert(got((0L, 1L)) == Some(1000000L), s"unit pair must be exactly 1e6: $got")
    assert(got((1L, 2L)) == Some(1000000L))
    assert(got((0L, 2L)) == None, "identical vectors have no distortion ratio")
  }

  test("cluster ARI: identical partitions score exactly 1e6, singletons 0, hand case 8/14") {
    def emb(rows: (Long, Int)*) = rows.toSeq.toDF("vec_id", "label")
    def cls(rows: (Long, Long)*) = rows.toSeq.toDF("vec_id", "cluster")
    // identical partition (cluster ids offset — only the grouping matters)
    val same = Similarity.clusterAriFrom(
      cls((0L, 100L), (1L, 100L), (2L, 101L), (3L, 101L), (4L, 102L), (5L, 102L)),
      emb((0L, 0), (1L, 0), (2L, 1), (3L, 1), (4L, 2), (5L, 2))).collect()(0)
    assert(same.getLong(6) == 1000000L, same)
    // empty cluster frame → every vector completes to a singleton → ARI 0
    val single = Similarity.clusterAriFrom(
      cls(), emb((0L, 0), (1L, 0), (2L, 0), (3L, 1), (4L, 1), (5L, 1)))
      .collect()(0)
    assert(single.getLong(6) == 0L, single)
    assert(single.getLong(1) == 6L && single.getLong(3) == 0L, single)
    // hand contingency: clusters {0,1},{2,3}; labels {0,1},{2},{3}:
    // sij=1, sa=2, sb=1, C2n=6 → num2 = 2·6·1 − 2·2·1 = 8,
    // den2 = 6·3 − 4 = 14 → floor(8e6/14) = 571428
    val hand = Similarity.clusterAriFrom(
      cls((0L, 10L), (1L, 10L), (2L, 20L), (3L, 20L)),
      emb((0L, 0), (1L, 0), (2L, 1), (3L, 2))).collect()(0)
    assert((hand.getLong(0), hand.getLong(1), hand.getLong(2), hand.getLong(3),
      hand.getLong(4), hand.getLong(5), hand.getLong(6)) ==
      ((4L, 2L, 3L, 1L, 2L, 1L, 571428L)), hand)
  }

  test("cosine precision curve: mutual edges count once, bands floor correctly incl. negatives") {
    val knn = Seq(
      (1L, 2L, 0.97, 1L), (2L, 1L, 0.97, 1L),   // mutual pair, same label
      (1L, 3L, 0.52, 2L),                        // cross-label
      (3L, 4L, -0.08, 2L))                       // negative band
      .toDF("anchor_id", "neighbor_id", "cosine", "rank")
    val emb = Seq((1L, 0), (2L, 0), (3L, 1), (4L, 2)).toDF("vec_id", "label")
    val got = Similarity.cosinePrecisionCurve(knn, emb).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    assert(got(19L) == ((0.95, 1L, 1L, 1000000L)), s"mutual edge deduped: $got")
    assert(got(10L) == ((0.5, 1L, 0L, 0L)), got)
    assert(got(-2L) == ((-0.1, 1L, 0L, 0L)), s"floor(-1.6) = -2: $got")
  }

  test("knn maintenance: incremental == rebuild; replay absorbed; interrupted swap heals; order guard") {
    import org.apache.spark.sql.functions.col
    import graft.ops.{Similarity, BucketSwap}
    import spark.implicits._
    // 24 deterministic 4-d vectors spread over the unit sphere-ish —
    // enough that each anchor's top-5 actually changes as batches land
    val vecs = (0L until 24L).map { i =>
      (i, Array(
        math.cos(i * 0.7).toFloat, math.sin(i * 1.3).toFloat,
        math.cos(i * 2.1 + 1).toFloat, math.sin(i * 0.4 + 2).toFloat))
    }
    val emb = vecs.toDF("vec_id", "embedding")
    val root = graft.Scratch.dir("knn-maint-spec")
    // nlist = nprobe = 1: the exact merge (prefix = vec_id < 19)
    val (cents, vec, map) = Similarity.buildIvfKnnMaintPrefix(spark, emb, 5, 1, root)
    val cent = spark.read.parquet(cents)
    def snap(): Set[(Long, Long, Double, Long)] = spark.read.parquet(map)
      .select(col("anchor_id"), col("neighbor_id"), col("cosine"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet

    val b0 = emb.filter(col("vec_id") >= 19L && col("vec_id") < 22L)
    val b1 = emb.filter(col("vec_id") >= 22L)
    assert(Similarity.maintainKnnGraph(spark, cent, vec, map, b0, 5, 1, 0L), "first merge must do work")
    assert(Similarity.maintainKnnGraph(spark, cent, vec, map, b1, 5, 1, 1L), "second merge must do work")
    val merged = snap()

    val rebuild = Similarity.knnGraph(emb, 5)
      .collect().map(r => (r.getAs[Long]("anchor_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("cosine"), r.getAs[Long]("rank"))).toSet
    assert(merged == rebuild,
      s"incremental diverged: extra=${merged.diff(rebuild)} missing=${rebuild.diff(merged)}")

    // replayed batch id: absorbed, graph untouched
    assert(!Similarity.maintainKnnGraph(spark, cent, vec, map, b1, 5, 1, 1L),
      "replayed batch id must be absorbed by the knn frontier")
    assert(snap() == merged)

    // out-of-order NEW batch fails loudly
    intercept[IllegalArgumentException] {
      Similarity.maintainKnnGraph(spark, cent, vec, map, b0, 5, 1, 2L)
    }

    // crash between move-aside and move-in: recovery restores that bucket
    val bucketDir = new java.io.File(map).listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("abucket=")).head
    val bId = bucketDir.getName.stripPrefix("abucket=").toInt
    val aside = java.nio.file.Paths.get(s"$map.merge.aside/${bucketDir.getName}")
    java.nio.file.Files.createDirectories(aside.getParent)
    java.nio.file.Files.move(bucketDir.toPath, aside)
    assert(BucketSwap.recover(map, "abucket") == Seq(bId))
    assert(snap() == merged, "healed graph must equal the committed state")
    graft.ops.Caches.releaseCaches(); spark.catalog.clearCache()
  }
}
