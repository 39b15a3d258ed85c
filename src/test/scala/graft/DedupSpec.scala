package graft

import graft.ops.Dedup
import org.apache.spark.sql.DataFrame

/** Dedup operator laws on a hand-built corpus: identical docs collide on
  * every signature; disjoint docs don't; thresholds behave.
  */
class DedupSpec extends SparkSpec {

  private def corpus(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  // fixture-sized docs: shingle-LSH needs enough shingles that a small
  // edit keeps Jaccard high (3 appended tokens on ~60 → J ≈ 0.95)
  private val a = Seq.tabulate(60)(i => s"tok${i % 37} word$i").mkString(" ")
  private val aNear = a + " zz qq zz"
  private val b = "completely different words about spark shuffles partitions and codegen stages"

  // 8 originals; nearDupCorpus adds a near-dup copy of each at
  // doc_id + 1000000 (the zz-qq suffix), so the copies cluster in pairs
  private def nearDupPairs: DataFrame = Dedup.nearDupCorpus(corpus((0L until 8L).map(i =>
    i -> Seq.tabulate(60)(j => s"t${(i * 7 + j) % 37} w$j").mkString(" ")): _*))

  test("exact: identical normalized text groups; canonical is min id") {
    val got = Dedup.exact(corpus(1L -> a, 2L -> ("  " + a.toUpperCase + " "), 3L -> b)).collect()
    assert(got.length == 1)
    assert(got(0).getAs[Long]("n_dups") == 2 && got(0).getAs[Long]("canonical_id") == 1L)
  }

  test("calibration: identical docs land in the est16=16 bucket at exactly 1e6 ppm") {
    val got = Dedup.minhashCalibration(corpus(1L -> a, 2L -> a, 3L -> aNear, 4L -> b))
      .collect().map(r => r.getInt(0) -> r).toMap
    assert(got.contains(16), s"the exact-duplicate pair must agree on all slots: ${got.keySet}")
    val full = got(16)
    // the identical pair tops the bucket at exactly 1e6; the planted
    // near-twin (J ≈ 0.95) may share the bucket, so the MEAN need only
    // stay calibrated-high, not exact
    assert(full.getAs[Long]("max_jaccard_ppm") == 1000000L)
    assert(full.getAs[Long]("mean_jaccard_ppm") >= 900000L)
    // every bucket's summary is internally consistent and ppm-bounded
    got.values.foreach { r =>
      val (mn, mean, mx) = (r.getAs[Long]("min_jaccard_ppm"),
        r.getAs[Long]("mean_jaccard_ppm"), r.getAs[Long]("max_jaccard_ppm"))
      assert(mn <= mean && mean <= mx && mx <= 1000000L, s"inconsistent bucket: $r")
    }
  }

  test("minhash: identical docs have identical signatures, disjoint docs differ") {
    val sig = Dedup.minhashSignatures(corpus(1L -> a, 2L -> a, 3L -> b))
      .collect().map(r => r.getLong(0) -> (1 to 16).map(i => r.getLong(i))).toMap
    assert(sig(1L) == sig(2L))
    assert(sig(1L) != sig(3L))
  }

  test("minhash-LSH: identical pair found with est_jaccard 1.0; disjoint pair absent") {
    val got = Dedup.minhashLsh(corpus(1L -> a, 2L -> a, 3L -> b), 0.5).collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq == Seq((1L, 2L, 1.0)))
  }

  test("near-duplicates (appended tokens) collide in at least one LSH band") {
    val got = Dedup.minhashLsh(corpus(1L -> a, 2L -> aNear), 0.0).collect()
    assert(got.length == 1 && got(0).getDouble(2) >= 0.5)
  }

  test("simhash: identical docs at hamming 0; near docs within a few bits") {
    val pairs = Dedup.simhashPairs(corpus(1L -> a, 2L -> a, 3L -> aNear, 4L -> b), 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs((1L, 2L)) == 0)
    assert(pairs.get((1L, 3L)).exists(_ <= 8))
    assert(!pairs.keys.exists { case (x, y) => y == 4L || x == 4L })
  }

  test("ngram jaccard: identical docs = 1.0; near docs in (0,1)") {
    val got = Dedup.ngramJaccard(corpus(1L -> a, 2L -> a, 3L -> aNear), 0.01)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got((1L, 2L)) == 1.0)
    val near = got((1L, 3L))
    assert(near > 0.8 && near < 1.0) // 118 shared / 121 union ≈ 0.975
  }

  test("connected components: chains unite transitively, canonical is min id") {
    import spark.implicits._
    // 1-2, 2-3 chain (1-3 never paired) + a separate 5-6 pair
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L), (5L, 5L, 2L), (6L, 5L, 2L)))
  }

  test("connected components: diameter-10 chain converges (reverse-ordered ids)") {
    import spark.implicits._
    // a single chain 10-9-8-…-0 with the min at one END, so the rounds
    // must carry it the full diameter + checkpointed rounds (every 3rd
    // round is durable) survive the whole walk
    val pairs = (0L until 10L).map(i => (i + 1, i)).toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == (0L to 10L).map(i => (i, 0L, 11L)))
  }

  test("star-contraction components: chain-64 converges in O(log n) rounds") {
    import spark.implicits._
    // one 65-node chain with the min at the far end — label propagation
    // would need 64 rounds here; star contraction must collapse it in ~log n
    val pairs = (0L until 64L).map(i => (i + 1, i)).toDF("doc_a", "doc_b")
    val (out, rounds) = Dedup.connectedComponentsWithRounds(pairs, maxRounds = 16)
    val got = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == (0L to 64L).map(i => (i, 0L, 65L)))
    assert(rounds <= 12, s"expected ~log(65) star rounds, took $rounds")
  }

  test("star-contraction components: random graph agrees with union-find result") {
    import spark.implicits._
    // deterministic pseudo-random edge soup: mixes chains, stars, singleton pairs
    val edges = (0 until 80).map { i =>
      val a = (i * 37 + 11) % 50; val b = (i * 53 + 29) % 50
      (a.toLong, b.toLong)
    }.filter { case (a, b) => a != b }
    val got = Dedup.connectedComponents(edges.toDF("doc_a", "doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == CcPropertySpec.unionFind(edges))
  }

  test("canonical pick: longest cluster member survives, singletons self-canonical") {
    val got = Dedup.canonicalDocs(
      corpus(1L -> a, 2L -> a, 3L -> aNear, 20L -> b), 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(4))).toSeq
    val byId = got.map(r => r._1 -> r).toMap
    // 1, 2, 3 cluster together (0.99 needs near-identical); 3 is longest → canonical
    assert(byId(3L)._4 == 1 && byId(1L)._4 == 0 && byId(2L)._4 == 0)
    assert(byId(1L)._2 == 1L && byId(1L)._3 == 3L)
    // 20 never clustered: its own cluster of 1, canonical by default
    assert(byId(20L) == ((20L, 20L, 1L, 1)))
    // exactly one canonical per cluster
    val perCluster = got.groupBy(_._2).map { case (_, rs) => rs.map(_._4).sum }
    assert(perCluster.forall(_ == 1))
  }

  test("near-dup clusters: identical docs group end-to-end; unpaired docs absent") {
    val got = Dedup.nearDupClusters(
      corpus(1L -> a, 2L -> a, 3L -> a, 10L -> b, 11L -> b, 20L -> (b + " extra unseen tokens here")), 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // doc 20 is near b but est_jaccard < 0.99 → excluded; singletons never appear
    assert(got == Seq((1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L), (10L, 10L, 2L), (11L, 10L, 2L)))
  }

  test("incremental LSH: near-dup batch docs matched to corpus, novel docs admitted") {
    val existing = corpus(1L -> a, 2L -> b)
    val batch = corpus(
      100L -> aNear,                            // near-dup of corpus doc 1
      101L -> a.split(" ").reverse.mkString(" ")) // same tokens, reversed → novel shingles
    val got = Dedup.incrementalLsh(existing, batch, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((100L, 1L)))
  }

  test("incremental LSH: corpus-internal duplicates are NOT reported") {
    // both corpus docs identical; batch doc matches both — but the
    // corpus pair itself must never appear (only batch-vs-corpus rows)
    val existing = corpus(1L -> a, 2L -> a)
    val batch = corpus(100L -> aNear)
    val got = Dedup.incrementalLsh(existing, batch, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((100L, 1L), (100L, 2L)))
  }

  test("containment: a short quote inside a long doc scores 1.0 despite tiny Jaccard") {
    val quote = a.split(" ").take(12).mkString(" ")
    val got = Dedup.containment(corpus(1L -> a, 2L -> b, 3L -> quote), 4, 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == Seq((1L, 3L, 1.0)))
    // and the pair is invisible to Jaccard-LSH at any usable threshold
    val lsh = Dedup.minhashLsh(corpus(1L -> a, 2L -> b, 3L -> quote), 0.5)
      .collect()
    assert(lsh.isEmpty)
  }

  test("containment: df-bound prunes stop-shingle candidates, verify still exact") {
    // doc 3 shares only a UBIQUITOUS shingle (df > maxDf) with 1 and 2 →
    // no posting-list candidate survives; the contained doc 4 still hits
    val common = "the quick brown fox"
    val got = Dedup.containment(corpus(
      1L -> (common + " " + a),
      2L -> (common + " " + b),
      3L -> common,
      4L -> a.split(" ").take(15).mkString(" ")), 2, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 4L)))
  }

  test("embedding near-dup: parallel vectors ~1, orthogonal absent; blocked by label") {
    import spark.implicits._
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f), 0),
      (2L, Array(2.0f, 0.0f, 0.0f), 0), // parallel to 1 → cosine 1
      (3L, Array(0.0f, 1.0f, 0.0f), 0), // orthogonal
      (4L, Array(1.0f, 0.0f, 0.0f), 1)  // parallel to 1 but different label → blocked
    ).toDF("vec_id", "embedding", "label")
    val got = Dedup.embeddingNearDup(emb, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 2L)))
  }

  test("effectiveTokens: originals all survive, recrawl mass is discounted") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today", "web"),
      (2L, "colorless green ideas sleep furiously while philosophers argue about meaning and truth", "web"),
      (3L, "stock markets rallied sharply as investors priced in another round of rate cuts", "books")
    ).toDF("doc_id", "text", "source")
    val rows = Dedup.effectiveTokens(docs, 0.5).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows.keySet == Set("web", "books", "recrawl"))
    // survivor = min doc_id of the cluster: every original outranks its
    // +1M re-crawl copy, so real sources keep their full mass
    for (s <- Seq("web", "books")) {
      assert(rows(s).getAs[Long]("kept_docs") == rows(s).getAs[Long]("n_docs"))
      assert(rows(s).getAs[Double]("dup_token_rate") == 0.0)
    }
    val re = rows("recrawl")
    assert(re.getAs[Long]("n_docs") == 3L)
    // every synthetic copy pairs with its original → zero surviving mass
    assert(re.getAs[Long]("kept_docs") == 0L)
    assert(re.getAs[Double]("dup_token_rate") == 1.0)
    assert(re.getAs[Long]("raw_tokens") > 0L)
  }

  test("shared cluster frame: ONE CC build feeds all three riders, results match from-scratch") {
    import spark.implicits._
    val docs = Seq(
      (1L, a, "web"),
      (2L, aNear, "web"),
      (3L, b, "books")
    ).toDF("doc_id", "text", "source")
    val corpus = Dedup.nearDupCorpus(docs)
    // from-scratch baselines (each pays its own CC build — bench isolation)
    val scratchCanon = Dedup.canonicalDocs(corpus, 0.5).collect().toSeq
    val scratchTok = Dedup.effectiveTokens(docs, 0.5).collect().toSeq
    val scratchSplit = Dedup.leakageSafeSplit(docs, 0.5, 10, 10).collect().toSeq
    // session shape: one shared cluster frame, three riders
    val before = Dedup.ccBuilds.get()
    val clusters = Dedup.clustersFor(corpus, 0.5)
    val gotCanon = Dedup.canonicalDocsFrom(corpus, clusters).collect().toSeq
    val gotTok = Dedup.effectiveTokensFrom(docs, corpus, clusters).collect().toSeq
    val gotSplit = Dedup.leakageSafeSplitFrom(corpus, clusters, 10, 10).collect().toSeq
    assert(Dedup.ccBuilds.get() - before == 1,
      "shared cluster frame must run connected components exactly once")
    assert(gotCanon == scratchCanon)
    assert(gotTok == scratchTok)
    assert(gotSplit == scratchSplit)
    graft.ops.Caches.releaseCaches()
  }

  test("banding sweep: recall monotone in bands, verified within candidates and truth") {
    import spark.implicits._
    val docs = (1L to 12L).map { i =>
      (i, (1 to 20).map(j => s"w${(i * 7 + j) % 40}").mkString(" "), "web")
    }.toDF("doc_id", "text", "source")
    val rows = Dedup.bandingSweep(Dedup.nearDupCorpus(docs), 0.5).collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2, 4, 8))
    assert(rows.map(_.getInt(1)).toSeq == Seq(16, 8, 4, 2))
    rows.foreach { r =>
      assert(r.getLong(3) <= r.getLong(2), s"verified <= candidates: $r")
      assert(r.getLong(3) <= r.getLong(4), s"verified <= truth (the union): $r")
    }
    // more bands of fewer rows can only ADD candidate pairs that agree on
    // a shorter slice — recall is monotone along the sweep
    val recalls = rows.map(_.getLong(5))
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a <= b },
      s"recall must be non-decreasing in n_bands: ${recalls.toSeq}")
    // the planted near-dup pairs clear est >= 0.5 somewhere: truth nonempty
    assert(rows.head.getLong(4) >= 12L, s"every planted pair verifies: ${rows.toSeq}")
    graft.ops.Caches.releaseCaches()
  }

  test("duplicateSpans: planted shared run is recovered exactly; disjoint doc clean") {
    import spark.implicits._
    val shared = (1 to 12).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (1L, (1 to 10).map(i => s"a$i").mkString(" ") + " " + shared),
      (2L, (1 to 7).map(i => s"b$i").mkString(" ") + " " + shared + " " +
        (1 to 5).map(i => s"c$i").mkString(" ")),
      (3L, (1 to 20).map(i => s"d$i").mkString(" "))
    ).toDF("doc_id", "text")
    val got = Dedup.duplicateSpans(docs, 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // only shingles fully inside the 12-token shared run are duplicated:
    // starts 10..19 in doc 1 (prefix 10 tokens), 7..16 in doc 2 → spans
    // of exactly 12 tokens from 10 duplicated shingle starts; doc 3 none
    assert(got.toSeq == Seq((1L, 10L, 22L, 12L, 10L), (2L, 7L, 19L, 12L, 10L)))
  }

  test("duplicateSpans: span-length threshold drops short chance collisions") {
    import spark.implicits._
    // docs share ONE isolated 3-gram ("x y z") → a 3-token island only
    val docs = Seq(
      (1L, "a1 a2 a3 x y z a4 a5 a6"),
      (2L, "b1 b2 x y z b3 b4 b5 b6")
    ).toDF("doc_id", "text")
    assert(Dedup.duplicateSpans(docs, 8).count() == 0L)
    val loose = Dedup.duplicateSpans(docs, 3).collect()
      .map(r => (r.getLong(0), r.getLong(3))).toSeq
    assert(loose == Seq((1L, 3L), (2L, 3L)))
  }

  test("hyperplane LSH: identical vectors collide in every band; opposite vectors absent") {
    import spark.implicits._
    val v = Array.tabulate(64)(i => (math.sin(i + 1) * 3).toFloat)
    val emb = Seq(
      (1L, v),
      (2L, v.clone()),         // identical → all 16 bits equal, 4/4 bands
      (3L, v.map(x => -x))     // antipodal → every bit flips, cosine -1
    ).toDF("vec_id", "embedding")
    val got = Dedup.hyperplaneLsh(emb, 16, 4, 64, 0.3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == Seq((1L, 2L, 4L, 1.0)))
    ops.Caches.releaseCaches()
  }

  test("hyperplane recall: verified pairs are a subset of exact pairs (precision 1)") {
    import spark.implicits._
    // deterministic pseudo-random cloud: recall ≤ 1 structurally, and the
    // n_lsh count can never exceed n_exact because every LSH pair is
    // cosine-verified against the same threshold
    val emb = (1L to 40L).map { id =>
      (id, Array.tabulate(64)(i => (math.sin(id * 131 + i * 17) * 2).toFloat))
    }.toDF("vec_id", "embedding")
    val r = Dedup.hyperplaneRecall(emb, 16, 4, 64, 0.3).collect()(0)
    val (nExact, nLsh) = (r.getAs[Long]("n_exact"), r.getAs[Long]("n_lsh"))
    assert(nLsh <= nExact)
    if (nExact > 0) {
      val rec = r.getAs[Double]("recall")
      assert(rec >= 0.0 && rec <= 1.0)
    }
    ops.Caches.releaseCaches()
  }

  test("prefix-filter join: LOSSLESS — equals brute-force all-pairs Jaccard") {
    import spark.implicits._
    // varied overlap structure: near-dups, a half-overlap pair, disjoint
    val docs = corpus(
      1L -> a, 2L -> aNear, 3L -> b,
      4L -> (a.split(" ").take(60).mkString(" ") + " extra tail tokens here"),
      5L -> Seq.tabulate(40)(i => s"tok${i % 37} word${i + 30}").mkString(" "))
    val t = 0.75
    val got = Dedup.prefixFilterJoin(docs, t).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute force: exact shingle-set Jaccard over all pairs
    def shingles(s: String): Set[Seq[String]] =
      s.toLowerCase.split("\\s+").filter(_.nonEmpty).sliding(3).filter(_.length == 3)
        .map(_.toSeq).toSet
    val sets = Map(1L -> a, 2L -> aNear, 3L -> b,
      4L -> (a.split(" ").take(60).mkString(" ") + " extra tail tokens here"),
      5L -> Seq.tabulate(40)(i => s"tok${i % 37} word${i + 30}").mkString(" "))
      .map { case (k, v) => k -> shingles(v) }
    val want = (for {
      x <- sets.keys; y <- sets.keys if x < y
      inter = (sets(x) & sets(y)).size
      j = inter.toDouble / (sets(x).size + sets(y).size - inter)
      if j >= t
    } yield (x, y)).toSet
    assert(got == want, s"prefix join must be lossless: got $got want $want")
    ops.Caches.releaseCaches()
  }

  test("prefix-filter join: lossless on random corpora at multiple thresholds") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    // random docs over a small token pool so overlap actually occurs
    val pool = Vector.tabulate(25)(i => s"w$i")
    val genDoc = Gen.chooseNum(12, 40).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(pool)).map(_.mkString(" ")))
    def shingles(s: String): Set[Seq[String]] =
      s.toLowerCase.split("\\s+").filter(_.nonEmpty).sliding(3).filter(_.length == 3)
        .map(_.toSeq).toSet
    for ((seed, t) <- Seq((1L, 0.5), (2L, 0.75), (3L, 0.25))) {
      val texts = (0 until 12).flatMap(i =>
        genDoc.apply(Gen.Parameters.default, Seed(seed * 100 + i))).toVector
      val docs = texts.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      val got = ops.Dedup.prefixFilterJoin(docs.toDF("doc_id", "text"), t).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val sets = docs.map { case (id, s) => id -> shingles(s) }.toMap
      val want = (for {
        x <- sets.keys; y <- sets.keys
        if x < y && sets(x).nonEmpty && sets(y).nonEmpty
        inter = (sets(x) & sets(y)).size
        j = inter.toDouble / (sets(x).size + sets(y).size - inter)
        if j >= t
      } yield (x, y)).toSet
      assert(got == want, s"seed=$seed t=$t: got $got want $want")
      ops.Caches.releaseCaches()
    }
  }

  test("streaming novelty REJECTS out-of-doc-id-order ingestion (the fused-probe contract)") {
    import org.apache.spark.sql.functions._
    // the fused earlier-candidate probe equates "earlier ingested" with
    // "smaller doc_id"; an out-of-order re-ingest would silently flip
    // duplicates to novel. The per-batch ingest-frontier check must turn
    // that into a loud failure instead.
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text")).orderBy("doc_id").limit(40).collect()
    val root = Scratch.dir("graft-order-spec")
    val chunks = s"$root/chunks"; new java.io.File(chunks).mkdirs()
    import spark.implicits._
    def writeChunk(rows: Array[org.apache.spark.sql.Row], name: String): Unit = {
      rows.map(r => (r.getLong(0), r.getString(1))).toSeq.toDF("doc_id", "text")
        .coalesce(1).write.mode("overwrite").parquet(s"$root/tmp_$name")
      val part = new java.io.File(s"$root/tmp_$name").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$chunks/$name.parquet"))
    }
    // batch 0 carries the HIGH half, batch 1 the LOW half (mod-time order
    // drives FileStreamSource's pick order) — a doc-id-order violation
    writeChunk(docs.drop(20), "chunk_0")
    Thread.sleep(1100) // distinct mod-time seconds: pin the pick order
    writeChunk(docs.take(20), "chunk_1")
    val schema = spark.read.parquet(chunks).schema
    val ex = intercept[Exception] {
      Dedup.streamingNovelty(spark, chunks, schema,
        s"$root/index", s"$root/out", s"$root/ckpt", 0.5)
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(ex).exists(_.getMessage != null) &&
      causes(ex).exists(c => c.getMessage != null &&
        c.getMessage.contains("ingestion-order contract broken")),
      s"expected the ingest-frontier require to fire, got: $ex")
  }

  test("novelty-index compaction: per-bucket file count stays bounded, results and content unchanged") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    // 6 doc-id-ordered chunk files → 6 micro-batches
    val root = Scratch.dir("graft-compact-spec")
    val chunks = s"$root/chunks"
    new java.io.File(chunks).mkdirs()
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("doc_id"))
    val ranked = docs.withColumn("rn", row_number().over(w)).persist()
    val n = ranked.count(); val per = (n + 5) / 6
    (0 until 6).foreach { i =>
      ranked.filter(col("rn") > i * per && col("rn") <= (i + 1) * per).drop("rn")
        .coalesce(1).write.mode("overwrite").parquet(s"$root/tmp$i")
      val part = new java.io.File(s"$root/tmp$i").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$chunks/chunk_$i.parquet"))
    }
    ranked.unpersist()
    val schema = spark.read.parquet(chunks).schema
    def run(tag: String, every: Int, maxFiles: Int): (Seq[String], Map[Int, Int], Seq[String]) = {
      val d = s"$root/$tag"
      Dedup.streamingNovelty(spark, chunks, schema,
        s"$d/index", s"$d/out", s"$d/ckpt", 0.5, every, maxFiles)
      (spark.read.parquet(s"$d/out").orderBy("doc_id").collect().map(_.toString).toSeq,
        Dedup.lshIndexFileCounts(s"$d/index"),
        Dedup.indexContentAudit(spark, s"$d/index").collect().map(_.toString).toSeq)
    }
    val (outPlain, filesPlain, contentPlain) = run("plain", 0, 1)
    val (outComp, filesComp, contentComp) = run("compacted", 2, 2)
    // without maintenance the hot buckets accrete ~one file per batch...
    assert(filesPlain.values.max > 2, s"fixture too small to exercise accretion: $filesPlain")
    // ...with the rider every bucket stays within the bound (last
    // compaction fires on batch 6, so nothing accretes past it)
    assert(filesComp.values.forall(_ <= 2), s"bucket file counts exceed bound: $filesComp")
    // and maintenance is invisible to the operator's semantics: same
    // novelty verdicts, bit-identical index content
    assert(outComp == outPlain)
    assert(contentComp == contentPlain)
  }

  test("index recovery heals every compaction crash point without losing a band row") {
    import org.apache.spark.sql.functions.col
    import graft.ops.{BucketSwap, Similarity}
    import spark.implicits._
    // crash points A, B, C: one artifact per bucketed layout the device
    // maintains — the LSH index (bucket), the cluster map (cbucket), the
    // kNN graph (abucket)
    val root = Scratch.dir("graft-recover-spec")
    val full = nearDupPairs
    Dedup.writeLshIndex(full, s"$root/index")
    Dedup.writeClusterMap(Dedup.nearDupClusters(full, 0.5), s"$root/map")
    Similarity.writeKnnMap(Similarity.knnGraph((0L until 24L).map { i =>
      (i, Array(math.cos(i * 0.7).toFloat, math.sin(i * 1.3).toFloat,
        math.cos(i * 2.1 + 1).toFloat, math.sin(i * 0.4 + 2).toFloat))
    }.toDF("vec_id", "embedding"), 5), s"$root/knn")
    def content(path: String): Seq[String] =
      spark.read.parquet(path).collect().map(_.toString).toSeq.sorted
    def bucketIds(path: String, partCol: String): Seq[Int] =
      new java.io.File(path).listFiles().toSeq.map(_.getName)
        .filter(_.startsWith(s"$partCol=")).map(_.stripPrefix(s"$partCol=").toInt).sorted
    for ((path, partCol) <- Seq(s"$root/index" -> "bucket", s"$root/map" -> "cbucket",
                                s"$root/knn" -> "abucket")) {
      val before = content(path)
      val bs = bucketIds(path, partCol)
      val (b0, b1) = (bs(0), bs(1))
      // crash point A: bucket b0 moved aside, its rewrite never landed
      new java.io.File(s"$path.merge.aside").mkdirs()
      java.nio.file.Files.move(
        java.nio.file.Paths.get(s"$path/$partCol=$b0"),
        java.nio.file.Paths.get(s"$path.merge.aside/$partCol=$b0"))
      // crash point B: bucket b1 swapped in, its aside copy not yet deleted
      // (stage a duplicate aside dir with a sentinel file)
      new java.io.File(s"$path.merge.aside/$partCol=$b1").mkdirs()
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$path.merge.aside/$partCol=$b1/stale.parquet"), "x")
      // crash point C: a half-written staging tree
      new java.io.File(s"$path.merge/$partCol=$b0").mkdirs()
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$path.merge/$partCol=$b0/partial.parquet"), "x")

      val restored = BucketSwap.recover(path, partCol)
      assert(restored == Seq(b0), s"[$partCol] expected only bucket $b0 restored: $restored")
      assert(!new java.io.File(s"$path.merge.aside").exists())
      assert(!new java.io.File(s"$path.merge").exists())
      assert(content(path) == before, s"[$partCol] recovered content differs from pre-crash content")
      // idempotent on a healthy artifact
      assert(BucketSwap.recover(path, partCol).isEmpty)
    }

    // crash point D, cluster map: the batch's swap finished and the
    // index took its bands, but `_cluster_frontier` never advanced; the
    // replayed batch must merge again and end equal to the rebuild
    val idx = s"$root/d/index"; val map = s"$root/d/map"
    Dedup.writeLshIndex(full.filter(col("doc_id") < 1000000L), idx)
    Dedup.writeClusterMap(
      Dedup.nearDupClusters(full.filter(col("doc_id") < 1000000L), 0.5), map)
    val batch = full.filter(col("doc_id") >= 1000000L)
    assert(Dedup.maintainClusterMap(spark, idx, map, batch, 0.5, 0L))
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$map/_cluster_frontier"))
    assert(Dedup.maintainClusterMap(spark, idx, map, batch, 0.5, 0L),
      "a batch whose frontier never advanced must merge again, not be absorbed")
    val got = spark.read.parquet(map)
      .select(col("doc_id"), col("cluster"), col("cluster_size"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val rebuild = Dedup.nearDupClusters(full, 0.5)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster"),
        r.getAs[Long]("cluster_size"))).toSet
    assert(got.nonEmpty && got == rebuild,
      s"replayed merge diverged: ${got.diff(rebuild)} | ${rebuild.diff(got)}")
    graft.ops.Caches.releaseCaches(); spark.catalog.clearCache()
  }

  /** `nearDupPairs` as two novelty batches: 0 = the originals, 1 = their
    * near-dup copies. */
  private def noveltyBatches: Seq[DataFrame] = {
    import org.apache.spark.sql.functions.col
    Seq(nearDupPairs.filter(col("doc_id") < 1000000L), nearDupPairs.filter(col("doc_id") >= 1000000L))
  }

  /** Apply novelty batches `ids` in order over the artifacts under `d`,
    * calling `beforeStep(step)` ahead of each, then return the sorted
    * verdicts and the index content audit. */
  private def noveltyRun(d: String, ids: Seq[Int])(beforeStep: Int => Unit): (Seq[String], Seq[String]) = {
    ids.zipWithIndex.foreach { case (i, step) =>
      beforeStep(step)
      Dedup.noveltyBatch(s"$d/index", s"$d/out", 0.5, 2, 2)(noveltyBatches(i), i.toLong)
    }
    (spark.read.parquet(s"$d/out").select("doc_id", "novel", "dup_of")
      .collect().map(_.toString).toSeq.sorted,
      Dedup.indexContentAudit(spark, s"$d/index").collect().map(_.toString).toSeq)
  }

  test("streaming novelty: a replayed batch leaves the verdicts and the index equal to a single run") {
    val root = Scratch.dir("graft-novelty-replay")
    val (outOnce, indexOnce) = noveltyRun(s"$root/once", Seq(0, 1))(_ => ())
    val (outReplayed, indexReplayed) = noveltyRun(s"$root/replayed", Seq(0, 1, 1))(_ => ())
    assert(outOnce.size == 16 && outOnce.exists(_.contains(",false,")),
      s"fixture must hold a verdict per doc and at least one duplicate: $outOnce")
    val (sameOut, sameIndex) = (outReplayed == outOnce, indexReplayed == indexOnce)
    assert(sameOut, s"a replayed batch changed the verdicts: ${outReplayed.size} rows, not ${outOnce.size}")
    assert(sameIndex, s"a replayed batch changed the index content: ${indexReplayed.diff(indexOnce)}")
    graft.ops.Caches.releaseCaches(); spark.catalog.clearCache()
  }

  /** Replays novelty batch 0 over the artifacts of a run of it that
    * crashed before its ingest frontier advanced: the pre-batch frontier
    * (none) is restored, and `undoMoves` takes back the data files the
    * crashed append had not yet moved into the live index. Then batch 1
    * runs; verdicts and index must equal the uninterrupted run. */
  private def crashReplay(tag: String)(undoMoves: Seq[java.nio.file.Path] => Unit): Unit = {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val root = Scratch.dir(s"graft-novelty-$tag")
    val index = Paths.get(s"$root/crashed/index")
    def dataFiles: Seq[Path] =
      scala.util.Using.resource(Files.walk(index))(_.iterator().asScala.toList)
        .filter(f => Files.isRegularFile(f) && !Seq("_", ".").exists(f.getFileName.toString.startsWith))
    val (outOnce, indexOnce) = noveltyRun(s"$root/once", Seq(0, 1))(_ => ())
    val (outCrashed, indexCrashed) = noveltyRun(s"$root/crashed", Seq(0, 0, 1)) { step =>
      if (step == 1) { // the crash, before batch 0's replay
        val frontier = index.resolve("_ingest_frontier")
        assert(Files.exists(frontier), "batch 0 must have advanced the ingest frontier")
        Files.delete(frontier)
        undoMoves(dataFiles.sortBy(_.toString))
      }
    }
    assert(outCrashed == outOnce, s"the replay changed the verdicts: ${outCrashed.diff(outOnce)}")
    assert(indexCrashed == indexOnce,
      s"the replay changed the index content: ${indexCrashed.diff(indexOnce)} | ${indexOnce.diff(indexCrashed)}")
    graft.ops.Caches.releaseCaches(); spark.catalog.clearCache()
  }

  test("streaming novelty: a batch replayed after a crash before its ingest-frontier write appends its rows once") {
    crashReplay("crash-frontier")(_ => ())
  }

  test("streaming novelty: a batch replayed after a crash part-way through its move-in appends its rows once") {
    crashReplay("crash-move") { moved =>
      assert(moved.size > 1, s"batch 0 must write more than one index file: $moved")
      moved.zipWithIndex.filter(_._2 % 2 == 1).foreach(f => java.nio.file.Files.delete(f._1))
    }
  }

  test("shingle sweep: planted pairs verify at every k, shingle mass shrinks as k grows") {
    import spark.implicits._
    // two disjoint-vocab 40-token docs; nearDupCorpus plants one
    // near-dup each (3 appended tokens → J ≈ 0.93 at every k, so the
    // 4×4 banding recovers both pairs under the frozen hash constants).
    // Per k: orig 41−k shingles, dup 44−k → avg_milli = 42500 − 1000k
    val docs = Seq(
      (1L, (0 until 40).map(i => s"t$i").mkString(" ")),
      (2L, (0 until 40).map(i => s"u$i").mkString(" ")))
      .toDF("doc_id", "text")
    val got = Dedup.shingleSweep(docs, Seq(2, 3, 5)).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    assert(got(2L) == ((4L, 40500L, 2L, 2L, 1000000L)), got)
    assert(got(3L) == ((4L, 39500L, 2L, 2L, 1000000L)), got)
    assert(got(5L) == ((4L, 37500L, 2L, 2L, 1000000L)), got)
    graft.ops.Caches.releaseCaches()
  }

  test("cluster profile: buckets partition the clustered mass, singleton row closes to the corpus") {
    import spark.implicits._
    val corpus = (1 to 10).map(i => (i.toLong, s"doc $i")).toDF("doc_id", "text")
    val clusters = Seq(
      (1L, 100L, 2L), (2L, 100L, 2L),
      (3L, 200L, 3L), (4L, 200L, 3L), (5L, 200L, 3L))
      .toDF("doc_id", "cluster", "cluster_size")
    val got = Dedup.clusterProfileFrom(corpus, clusters).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == Map(
      "size_1" -> ((5L, 5L, 500000L)),
      "size_2" -> ((1L, 2L, 200000L)),
      "size_3_5" -> ((1L, 3L, 300000L))), got)
  }

  test("cluster maintenance: incremental == rebuild; replay absorbed; interrupted swap heals") {
    import org.apache.spark.sql.functions.col
    // hand corpus: 8 originals (4 near-dup pairs via the zz-qq suffix
    // once nearDupCorpus doubles them) — prefix = originals, delta = copies
    val docs = corpus((0L until 8L).map(i =>
      i -> Seq.tabulate(60)(j => s"t${(i * 7 + j) % 37} w$j").mkString(" ")): _*)
    val full = Dedup.nearDupCorpus(docs)
    val root = graft.Scratch.dir("cm-spec")
    val idx = s"$root/index"; val map = s"$root/map"
    Dedup.writeLshIndex(full.filter(col("doc_id") < 1000000L), idx)
    Dedup.writeClusterMap(
      Dedup.nearDupClusters(full.filter(col("doc_id") < 1000000L), 0.5), map)
    def snap(): Set[(Long, Long, Long)] = spark.read.parquet(map)
      .select(col("doc_id"), col("cluster"), col("cluster_size"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    val batch = full.filter(col("doc_id") >= 1000000L)
    assert(Dedup.maintainClusterMap(spark, idx, map, batch, 0.5, 0L),
      "first merge must do work")
    val merged = snap()
    assert(merged.nonEmpty, "the copies must cluster with their originals")

    // incremental == from-scratch rebuild (the oracle relation, pinned
    // here on the hand corpus too)
    val rebuild = Dedup.nearDupClusters(full, 0.5)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster"),
        r.getAs[Long]("cluster_size"))).toSet
    assert(merged == rebuild, s"incremental diverged: ${merged.diff(rebuild)} | ${rebuild.diff(merged)}")

    // replay of the stamped batch id: absorbed, map untouched
    assert(!Dedup.maintainClusterMap(spark, idx, map, batch, 0.5, 0L),
      "replayed batch id must be absorbed by the cluster frontier")
    assert(snap() == merged, "an absorbed replay must not change the map")

    // out-of-order NEW batch fails loudly (the ingestion-order contract)
    intercept[IllegalArgumentException] {
      Dedup.maintainClusterMap(spark, idx, map, batch, 0.5, 1L)
    }

    // crash between move-aside and move-in: live bucket missing, aside
    // present -> recover restores the pre-merge copy for THAT bucket
    val bucketDir = new java.io.File(map).listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("cbucket=")).head
    val bId = bucketDir.getName.stripPrefix("cbucket=").toInt
    val aside = java.nio.file.Paths.get(s"$map.merge.aside/${bucketDir.getName}")
    java.nio.file.Files.createDirectories(aside.getParent)
    java.nio.file.Files.move(bucketDir.toPath, aside)
    assert(Dedup.recoverClusterMap(map) == Seq(bId), "recovery must restore the aside bucket")
    assert(snap() == merged, "healed map must equal the committed state")
    assert(Dedup.recoverClusterMap(map).isEmpty, "a healed map recovers nothing")
    graft.ops.Caches.releaseCaches(); spark.catalog.clearCache()
  }
}
