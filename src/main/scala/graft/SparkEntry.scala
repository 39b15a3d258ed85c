package graft

import graft.cdc._
import graft.ops._
import graft.streaming.Bounded
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator claimed in SURVEY.md §2 is exposed here as a named query
  * over the driver fixtures, with equivalent DuckDB SQL in [[oracleSql]]
  * where the semantics are ANSI-SQL-expressible.
  */
object SparkEntry {

  /** Fixture timestamp columns are parquet TIMESTAMP(NANOS), which Spark
    * reads only as Long via spark.sql.legacy.parquet.nanosAsLong (set in
    * Verify/Bench/tests). Convert ns→µs TimestampType at the scan edge so
    * everything downstream sees proper timestamps. `div` keeps the
    * arithmetic integral (a double division would lose precision above
    * 2^53 ns) and matches DuckDB's own ns→µs truncation.
    */
  private val nanoTsCols = Map(
    "events" -> Seq("ts"),
    "lineitem" -> Seq("l_shipdate"),
    "orders" -> Seq("o_orderdate"))

  /** Table-relation registry: the resolved scan DataFrame per (session,
    * fixture dir, table) — the in-process equivalent of a catalog/
    * metastore entry. `spark.read.parquet` re-lists the path and re-reads
    * the parquet footer (one driver-side job) on EVERY call, and the
    * bench's per-query timing pays that per run per table (~40-100 ms a
    * call at fixture scale, measured round 13 — pure planning overhead,
    * none of it data-dependent). Production engines resolve tables
    * through a catalog exactly once. NOTE this memoizes only the
    * ANALYZED RELATION (file index + schema + the ts normalization
    * projection); no rows are cached — every action still scans the
    * parquet input from disk (the no-result-caching bench rule).
    * Keyed by session AND the nanosAsLong conf value (the conf-dependent
    * branch below would otherwise serve a stale plan to a spec that
    * toggles it on the same session); entries of STOPPED sessions are
    * evicted on each miss, so dead test sessions and their analyzed
    * plans don't accumulate in a long-lived JVM. A fixture regenerated
    * IN-PROCESS under the same path (round-6 drift) must call
    * [[invalidateRegistries]] — the memoized relation pins the file
    * listing and schema.
    */
  private val tableRegistry =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, String, String), DataFrame]

  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame = {
    val key = (s, s.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false"), dir, name)
    tableRegistry.get(key).getOrElse {
      evictStoppedSessions()
      tableRegistry.getOrElseUpdate(key, tUncached(s, dir, name))
    }
  }

  /** Drop registry entries whose session is stopped (their plans can
    * never be used again); runs on registry misses — O(entries), and the
    * maps hold a few dozen keys at most. */
  private def evictStoppedSessions(): Unit = {
    tableRegistry.keys.filter(_._1.sparkContext.isStopped)
      .foreach(tableRegistry.remove)
    artifactRegistry.keys.filter(_._1.sparkContext.isStopped)
      .foreach(artifactRegistry.remove)
  }

  /** Forget every memoized relation (NOT the artifact files themselves) —
    * required after regenerating fixture/artifact files in-process under
    * an already-registered path. */
  private[graft] def invalidateRegistries(): Unit = {
    tableRegistry.clear(); artifactRegistry.clear()
  }

  /** [[tableRegistry]]'s sibling for the process-cached parquet
    * ARTIFACTS (cluster map, kNN graph — immutable once built, read by
    * several rider queries per bench sweep) and for the chunk files'
    * SCHEMA probe every streaming entry makes: same rationale, same
    * no-rows-cached guarantee. Mutable per-invocation scratch trees
    * (the maintenance copies) never go through here — their content
    * changes between reads.
    */
  private val artifactRegistry =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  private def aT(s: SparkSession, path: String): DataFrame =
    artifactRegistry.get((s, path)).getOrElse {
      evictStoppedSessions()
      artifactRegistry.getOrElseUpdate((s, path), s.read.parquet(path))
    }

  private def chunkSchema(s: SparkSession, path: String): org.apache.spark.sql.types.StructType =
    aT(s, path).schema

  private def tUncached(s: SparkSession, dir: String, name: String): DataFrame = {
    val df = s.read.parquet(s"$dir/$name.parquet")
    nanoTsCols.getOrElse(name, Nil).foldLeft(df) { (d, c) =>
      d.schema(c).dataType match {
        case org.apache.spark.sql.types.LongType =>
          d.withColumn(c, expr(s"timestamp_micros($c div 1000)"))
        case org.apache.spark.sql.types.TimestampNTZType =>
          // µs-precision NTZ fixtures (isAdjustedToUTC=false): under the
          // UTC session timezone this cast reinterprets the same wall
          // values as the same instants the nanos→micros path produced,
          // so everything downstream (streaming watermarks, unix_micros)
          // keeps seeing plain TimestampType.
          d.withColumn(c, col(c).cast(org.apache.spark.sql.types.TimestampType))
        case _ => d
      }
    }
  }

  private def changelog(s: SparkSession, dir: String): DataFrame =
    Normalizer.normalize(t(s, dir, "events"))

  /** Columns (recursively, dotted paths) whose type is a DECIMAL wider
    * than 18 digits. Dump schemas must never expose one: the real
    * boundary is parquet's physical encoding — DECIMAL(p<=18) is
    * INT64-backed and decodes identically in every reader, while wider
    * decimals go through FIXED_LEN_BYTE_ARRAY and the gate's readers
    * have rendered those differently for numerically-equal values. So
    * the threshold is exactly 18 (do not "tighten" it to float64's ~16
    * digits — sub-19-digit decimals are safe, it's the physical type
    * that matters). Wide sums stay internal — export
    * `sum % 9007199254740881` (prime < 2^53, so even a DOUBLE-path
    * reader holds it exactly) cast to BIGINT instead.
    * Enforced by [[Verify]] at dump time and by SchemaInvariantSpec.
    */
  def wideDecimalColumns(schema: org.apache.spark.sql.types.StructType): Seq[String] = {
    import org.apache.spark.sql.types._
    def walk(path: String, dt: DataType): Seq[String] = dt match {
      case d: DecimalType if d.precision > 18 => Seq(s"$path: $d")
      case s: StructType => s.fields.toSeq.flatMap(f => walk(s"$path.${f.name}", f.dataType))
      case a: ArrayType => walk(s"$path[]", a.elementType)
      case m: MapType => walk(s"$path{k}", m.keyType) ++ walk(s"$path{v}", m.valueType)
      case _ => Nil
    }
    schema.fields.toSeq.flatMap(f => walk(f.name, f.dataType))
  }

  /** Static fixture schema registry (parquet footers are the runtime
    * source of truth — Catalog.discoverTables; this copy exists so the
    * DuckDB oracle can assert the same discovery). `embeddings` is
    * excluded by the discovery query's table filter.
    */
  private val fixtureSchemas: Seq[(String, Seq[String])] = Seq(
    "region" -> Seq("r_regionkey", "r_name"),
    "nation" -> Seq("n_nationkey", "n_name", "n_regionkey"),
    "customer" -> Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
    "supplier" -> Seq("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
    "part" -> Seq("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"),
    "orders" -> Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate"),
    "events" -> Seq("event_id", "ts", "user_id", "event_type", "value", "props"),
    "documents" -> Seq("doc_id", "text", "lang", "source", "n_chars"))

  /** Changelog CTE shared by every CDC oracle. */
  private val clSql = Normalizer.normalizeSql

  /** Shared top-3-per-user oracle: the window formulation, the heap
    * aggregate, and its complete-mode streaming run must all equal it.
    */
  private val top3Sql: String =
    """SELECT user_id, event_id, value, CAST(rank AS BIGINT) AS rank FROM (
      |  SELECT user_id, event_id, value,
      |         row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rank
      |  FROM events WHERE user_id < 20)
      |WHERE rank <= 3 ORDER BY user_id, rank""".stripMargin

  /** Decoded WIDE changelog CTE (multi-column row images). */
  private val wideClSql = Normalizer.normalizeWideSql

  private def wideChangelog(s: SparkSession, dir: String): DataFrame =
    Normalizer.normalizeWideDecoded(t(s, dir, "events"))

  /** Scratch dir for the streaming queries' chunk/state/checkpoint trees,
    * deleted on JVM exit — Bench invokes each query several times and the
    * copies would otherwise accumulate under /tmp across runs. Deletion
    * can't happen earlier: the returned DataFrame reads the state dir
    * lazily. One shared shutdown hook sweeps all of them ([[Scratch]]).
    */
  private def scratchDir(prefix: String): String = Scratch.dir(prefix)

  /** The events table as 4 event-time slices in (ts, event_id) order,
    * one chunk file (and so one micro-batch) each: every slice starts at
    * or after the previous slice's last event time, so no row is late
    * by construction. Deterministic per sfDir, so it is built once per
    * process and shared across invocations — Bench's repeated runs then
    * time the streaming query, not fixture re-slicing. State and
    * checkpoint dirs are NOT shared: each invocation streams from a
    * fresh checkpoint.
    */
  private val chunkCache = scala.collection.concurrent.TrieMap.empty[String, String]
  private def chunkedEvents(s: SparkSession, dir: String): String =
    chunkCache.getOrElseUpdate(dir, {
      // global order via the Ranks device (no single-task window over
      // the events table — fixture prep gets the same scale shape as
      // production ranking)
      val ev = ops.Ranks.overGlobalOrder(t(s, dir, "events"),
        Seq(col("ts").asc, col("event_id").asc), rankCol = Some("rn")).persist()
      val per = (ev.count() + 3) / 4
      val out = Bounded.writeChunks(s"${scratchDir("graft_chunks")}/chunks",
        (0 until 4).map(i => ev.filter(col("rn") > i * per && col("rn") <= (i + 1) * per).drop("rn")))
      ev.unpersist()
      out
    })

  /** The chunks streamed one file per micro-batch and normalized into
    * the changelog envelope. Each one-file micro-batch is spread over
    * every core first: the normalize (a per-row JSON decode on the wide
    * envelope) would otherwise run on the batch's single input partition.
    */
  private def changelogStream(s: SparkSession, chunks: String,
                              normalize: DataFrame => DataFrame): DataFrame =
    Bounded.readChunks(s, chunks, chunkSchema(s, chunks))
      .repartition(s.sparkContext.defaultParallelism).transform(normalize)

  /** Run `query` over the chunks, streamed one file per micro-batch, into
    * a memory sink checked for one micro-batch per chunk file; returns
    * the sink's view name. */
  private def chunksToMemory(s: SparkSession, chunks: String, prefix: String,
                             outputMode: String = "append")(
      query: DataFrame => org.apache.spark.sql.Dataset[_]): String =
    Bounded.toMemory(query(Bounded.readChunks(s, chunks, chunkSchema(s, chunks))).toDF(),
      prefix, Bounded.OnePerFile(chunks), outputMode)

  /** The persisted LSH signature index, built ONCE per fixture dir (the
    * production table a continuous-dedup service maintains; probes never
    * rebuild it — Dedup.writeLshIndex / Dedup.lshIndexProbe).
    */
  private val lshIndexCache = scala.collection.concurrent.TrieMap.empty[String, String]
  private def lshIndexPath(s: SparkSession, dir: String): String =
    lshIndexCache.getOrElseUpdate(dir, {
      val path = s"${scratchDir("graft_lshidx")}/index"
      Dedup.writeLshIndex(
        t(s, dir, "documents").select(col("doc_id"), col("text")), path)
      path
    })

  /** A streaming-novelty run with an AGGRESSIVE compaction cadence
    * (every batch, one file per bucket), built once per process per
    * sfDir; `dedup_index_maintenance` audits the resulting index content
    * against the oracle's from-documents rebuild. Aggressive on purpose:
    * every bucket is rewritten at least once, so a maintenance defect
    * (lost/duplicated band rows) cannot hide in an untouched bucket.
    */
  private val compactedIdxCache = scala.collection.concurrent.TrieMap.empty[String, String]
  private def compactedNoveltyIndex(s: SparkSession, dir: String): String =
    compactedIdxCache.getOrElseUpdate(dir, {
      val tmp = scratchDir("graft_snovc")
      val chunks = chunkedDocs(s, dir)
      val schema = chunkSchema(s, chunks)
      Dedup.streamingNovelty(s, chunks, schema,
        s"$tmp/index", s"$tmp/out", s"$tmp/ckpt", 0.5,
        compactEvery = 1, maxFilesPerBucket = 1)
      s"$tmp/index"
    })

  /** Micro-batch-scale state width for the streaming entries: at
    * cluster width (32) every fixture-scale micro-batch commits 32
    * state/delta files plus WAL fsyncs, and that per-batch filesystem
    * churn — not the 2-3s of actual jobs — dominated the streaming
    * tail's wall time (measured band 3.5-14s for events_hourly_stream
    * on an idle machine, untouched code; SCALING.md "streaming tail"
    * section). On a real deployment this is the standard per-query
    * state-width knob; widths never change results (exact aggregations
    * either way). One shared definition: [[ops.Caches.withBatchShuffleWidth]].
    */
  private def withBatchShuffleWidth[A](s: SparkSession)(body: => A): A =
    ops.Caches.withBatchShuffleWidth(s)(body)

  /** Near-dup cluster assignment (doc_id, cluster, cluster_size) at
    * threshold 0.5, materialized ONCE per process per sfDir as a parquet
    * artifact — the disk twin of [[graft.ops.Dedup.clustersFor]] (and
    * the same device as [[compactedNoveltyIndex]]): a real curation
    * session persists the cluster table once and every downstream
    * decision (keep-one canonicalization, dedup-discounted token
    * accounting, leakage-safe splitting) reads the artifact instead of
    * re-running LSH+CC per consumer. At 100 TB the cluster table IS a
    * persisted dataset (like the LSH index) — recomputing connected
    * components per audit query would be the anti-pattern. The build is
    * [[Dedup.nearDupClusters]], the loop `dedup_clusters` times from
    * scratch.
    */
  private val clusterArtifactCache = scala.collection.concurrent.TrieMap.empty[String, String]
  private def clusterArtifact(s: SparkSession, dir: String): String =
    clusterArtifactCache.getOrElseUpdate(dir, {
      val out = s"${scratchDir("graft_clusters")}/clusters"
      // cluster-keyed repartition (mirroring writeLshIndex's bucketed
      // layout): the write parallelizes and downstream cluster-grained
      // consumers read co-located rows — a coalesce(1) here would make
      // the artifact build itself the single-task bottleneck at scale
      Dedup.nearDupClusters(
          Dedup.nearDupCorpus(t(s, dir, "documents").select(col("doc_id"), col("text"))), 0.5)
        .repartition(col("cluster")).write.mode("overwrite").parquet(out)
      out
    })

  /** Exact kNN graph (anchor_id, neighbor_id, cosine, rank) at k=10,
    * materialized ONCE per process per sfDir — the same device as
    * [[clusterArtifact]]: the kNN graph is the shared substrate of the
    * hubness / label-agreement / isolation-outlier audits, and at 100 TB
    * it is a persisted dataset (built via IVF-blocked candidate
    * generation) that every curation consumer reads rather than
    * recomputing |corpus|² per audit. Build cost stays measured by
    * `emb_knn_graph`, which always runs from scratch; every rider's
    * oracle recomputes from scratch, so the gate proves artifact ≡
    * from-scratch. Anchor-keyed repartition: parallel write, anchor-
    * grained consumers read co-located rows.
    */
  private val knnArtifactCache = scala.collection.concurrent.TrieMap.empty[String, String]
  private def knnArtifact(s: SparkSession, dir: String): String =
    knnArtifactCache.getOrElseUpdate(dir, {
      val out = s"${scratchDir("graft_knn")}/knn"
      ops.Similarity.knnGraph(t(s, dir, "embeddings"), 10)
        .repartition(col("anchor_id")).write.mode("overwrite").parquet(out)
      out
    })

  /** Prefix state for the cluster-maintenance exercise, built once per
    * process per sfDir ([[clusterArtifact]]'s convention): the query
    * copies it per invocation (maintenance mutates the map), so bench
    * reruns measure the incremental merges, not the prefix CC build. */
  private val maintPrefixCache = scala.collection.concurrent.TrieMap.empty[String, (String, String)]
  private def maintPrefix(s: SparkSession, dir: String): (String, String) =
    maintPrefixCache.getOrElseUpdate(dir,
      ops.Dedup.buildClusterMaintPrefix(s,
        t(s, dir, "documents").select(col("doc_id"), col("text")), 0.5,
        scratchDir("graft_cm_prefix")))

  /** Prefix state for the kNN-maintenance exercises ([[maintPrefix]]'s
    * ANN-family twin): the persisted IVF index (centroid table +
    * cell-partitioned vector layout) + kNN graph over the first 4/5 of
    * the id space, built once per process per (sfDir, nlist); the
    * queries hardlink the mutable artifacts per invocation. nlist = 1
    * is the exact entries' one-cell index. */
  private val ivfMaintPrefixCache =
    scala.collection.concurrent.TrieMap.empty[(String, Int), (String, String, String)]
  private def ivfMaintPrefix(s: SparkSession, dir: String, nlist: Int): (String, String, String) =
    ivfMaintPrefixCache.getOrElseUpdate((dir, nlist),
      ops.Similarity.buildIvfKnnMaintPrefix(s,
        t(s, dir, "embeddings"), 10, nlist,
        scratchDir(s"graft_ivf_prefix_$nlist")))

  /** Event chunks with every row duplicated IN-chunk and the previous
    * chunk's tail replayed at the next chunk's head — the adversarial
    * input for streaming dedup. Originals arrive in event-time order (so
    * none are late-dropped); every duplicate is excluded deterministically
    * by ONE of the two mechanisms (dedup state if still within the
    * watermark horizon, the late filter if beyond it), so the streamed
    * output equals the batch DISTINCT regardless of where the horizon
    * falls. Built once per process per sfDir, like [[chunkedEvents]].
    */
  private val replayCache = scala.collection.concurrent.TrieMap.empty[String, String]
  private def replayedChunks(s: SparkSession, dir: String): String =
    replayCache.getOrElseUpdate(dir, {
      // global replay order via the Ranks device, as in [[chunkedEvents]]
      val ev = ops.Ranks.overGlobalOrder(t(s, dir, "events"),
        Seq(col("ts").asc, col("event_id").asc), rankCol = Some("rn")).persist()
      val per = (ev.count() + 3) / 4
      val out = Bounded.writeChunks(s"${scratchDir("graft_replay")}/chunks",
        (0 until 4).map { i =>
          val lo = i * per; val hi = (i + 1) * per
          val slice = ev.filter(col("rn") > lo && col("rn") <= hi)
          val prevTail = ev.filter(col("rn") > lo - 50 && col("rn") <= lo)
          slice.unionAll(slice).unionAll(prevTail).drop("rn")
        })
      ev.unpersist()
      out
    })

  /** Documents sliced into 4 doc-id-ordered chunk files — the ingestion
    * order contract [[graft.ops.Dedup.streamingNovelty]] needs ("earlier
    * ingested" ≡ "smaller doc_id"). Built once per process per sfDir.
    */
  private val docChunkCache = scala.collection.concurrent.TrieMap.empty[String, String]
  private def chunkedDocs(s: SparkSession, dir: String): String =
    docChunkCache.getOrElseUpdate(dir, {
      // ordinal via the Ranks device, as in [[chunkedEvents]]
      val docs = ops.Ranks.overGlobalOrder(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        Seq(col("doc_id").asc), rankCol = Some("rn")).persist()
      val per = (docs.count() + 3) / 4
      val out = Bounded.writeChunks(s"${scratchDir("graft_docchunks")}/chunks",
        (0 until 4).map(i => docs.filter(col("rn") > i * per && col("rn") <= (i + 1) * per).drop("rn")))
      docs.unpersist()
      out
    })

  /** Suffix of the near-dup corpus (the shifted copies, doc_id past the
    * cluster-maintenance prefix) as two doc-id-ordered chunk files —
    * the ingest feed for `dedup_stream_clusters`, split at the same cut
    * as [[graft.ops.Dedup.clusterMaintenanceRun]]'s two batches. Built
    * once per process per sfDir. */
  private val clusterChunkCache = scala.collection.concurrent.TrieMap.empty[String, String]
  private def clusterChunks(s: SparkSession, dir: String): String =
    clusterChunkCache.getOrElseUpdate(dir, {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = ops.Dedup.nearDupCorpus(docs)
      val mx = docs.agg(max(col("doc_id"))).head().getLong(0)
      val cut1 = 1000000L + (mx + 1) / 2
      Bounded.writeChunks(s"${scratchDir("graft_clchunks")}/chunks",
        Seq((1000000L, cut1), (cut1, Long.MaxValue)).map { case (lo, hi) =>
          corpus.filter(col("doc_id") >= lo && col("doc_id") < hi)
        })
    })

  /** Suffix vectors past the kNN-maintenance prefix cut (4/5 of the id
    * space) as two ordered chunk files — the ingest feed for
    * `emb_knn_stream(_ann)`, split at 9/10 to match the oracle's two
    * unrolled merges. Built once per process per sfDir. */
  private val knnChunkCache = scala.collection.concurrent.TrieMap.empty[String, String]
  private def annChunks(s: SparkSession, dir: String): String =
    knnChunkCache.getOrElseUpdate(dir, {
      val emb = t(s, dir, "embeddings")
      val mx = emb.agg(max(col("vec_id"))).head().getLong(0)
      val cut = (mx + 1) * 4 / 5
      val mid = (mx + 1) * 9 / 10
      Bounded.writeChunks(s"${scratchDir("graft_knnchunks")}/chunks",
        Seq((cut, mid), (mid, mx + 1)).map { case (lo, hi) =>
          emb.filter(col("vec_id") >= lo && col("vec_id") < hi)
        })
    })

  /** Streams [[annChunks]] through [[ops.Similarity.streamingAnnIngest]]
    * into hardlinked copies of the (dir, nlist) prefix; returns the
    * maintained graph. */
  private def knnStream(s: SparkSession, dir: String, nlist: Int, nprobe: Int): DataFrame = {
    val (cents, cells0, knn0) = ivfMaintPrefix(s, dir, nlist)
    val root = scratchDir("graft_knn_stream")
    val cells = s"$root/cells"; val map = s"$root/knn"
    ops.BucketSwap.linkTree(cells0, cells)
    ops.BucketSwap.linkTree(knn0, map)
    val chunks = annChunks(s, dir)
    ops.Similarity.streamingAnnIngest(s, chunks, chunkSchema(s, chunks), cents, cells, map,
      10, nprobe, s"$root/ckpt")
    s.read.parquet(map)
      .select(col("anchor_id"), col("neighbor_id"), col("cosine"), col("rank"))
      .orderBy(col("anchor_id"), col("rank"))
  }

  /** A LIVE in-JVM Derby database holding the normalized changelog — the
    * upstream server the graft-jdbc-cdc source tails. Loaded once per
    * process per sfDir (executor-side batched inserts over real JDBC);
    * returns (url, rowCount). ts travels as epoch MICROS so the
    * round-trip back to TimestampType is exact.
    */
  private val derbyCache = scala.collection.concurrent.TrieMap.empty[String, (String, Long)]
  private def derbyChangelog(s: SparkSession, dir: String): (String, Long) =
    derbyCache.getOrElseUpdate(dir, {
      val url = s"jdbc:derby:memory:graft_cdc_${math.abs(dir.hashCode)};create=true"
      val conn = java.sql.DriverManager.getConnection(url)
      conn.createStatement().execute(
        "CREATE TABLE CHANGELOG (pos BIGINT PRIMARY KEY, tbl VARCHAR(8), " +
          "pk BIGINT, op VARCHAR(1), ts_us BIGINT, value DOUBLE)")
      conn.close()
      val cl = changelog(s, dir)
        .select(col("pos"), col("tbl"), col("pk"), col("op"),
          unix_micros(col("ts")).as("ts_us"), col("value"))
      cl.foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        if (it.hasNext) {
          val c = java.sql.DriverManager.getConnection(url)
          val ps = c.prepareStatement("INSERT INTO CHANGELOG VALUES (?, ?, ?, ?, ?, ?)")
          var n = 0
          it.foreach { r =>
            ps.setLong(1, r.getLong(0)); ps.setString(2, r.getString(1))
            ps.setLong(3, r.getLong(2)); ps.setString(4, r.getString(3))
            ps.setLong(5, r.getLong(4)); ps.setDouble(6, r.getDouble(5))
            ps.addBatch(); n += 1
            if (n % 1000 == 0) { ps.executeBatch(); () }
          }
          ps.executeBatch()
          c.close()
        }
      }
      (url, cl.count())
    })

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * materialize current table state from the changelog (LWW per pk).
    */
  def entry(spark: SparkSession): DataFrame =
    ChangelogApply.materialize(changelog(spark, "/root/testdata/sf0.001"))

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- CDC core (SURVEY.md §2.1-2.5) ----
    "cdc_normalize" -> ((s, dir) =>
      changelog(s, dir).orderBy("pos")),

    "cdc_lww_state" -> ((s, dir) =>
      ChangelogApply.materialize(changelog(s, dir)).orderBy("tbl", "pk")),

    // incremental materialized-view maintenance from changelog deltas,
    // with the full-recompute audit columns proving the telescoped sum
    "cdc_view_maintenance" -> ((s, dir) =>
      ChangelogApply.viewMaintenance(changelog(s, dir))),

    // delta-JOIN view maintenance: t0 x t1 pair products kept current
    // from one pos-ordered stream via two carry-forward windows; per-key
    // deltas telescope to the full-recompute audit
    "cdc_join_view" -> ((s, dir) =>
      ChangelogApply.joinViewMaintenance(changelog(s, dir))),

    // liveness: inter-event gap stats per table (heartbeat monitoring)
    "cdc_heartbeat_gaps" -> ((s, dir) =>
      ChangelogApply.heartbeatGaps(changelog(s, dir))),

    // pt-table-checksum-style source<->target range reconciliation over a
    // deterministically drifted target (dropped pks + perturbed values)
    "cdc_reconcile_ranges" -> ((s, dir) => {
      val st = ChangelogApply.materialize(changelog(s, dir))
      val target = st.filter(!(col("pk") % 97 === 13))
        .withColumn("value",
          when(col("pk") % 89 === 7, col("value") + 1.0).otherwise(col("value")))
      ChangelogApply.reconcileRanges(st, target, 64L)
    }),

    // Kafka-style compaction: latest per key survives, tombstones GC'd
    // once the retention frontier passes them
    "cdc_log_compaction" -> ((s, dir) =>
      ChangelogApply.compactLog(changelog(s, dir), 0.6).orderBy("tbl", "pk")),

    // State-level diff between the mid-log snapshot and head: the change
    // set a snapshot-at-cut consumer applies to catch up (I/U/D per pk),
    // computed in ONE (tbl, pk) aggregation via conditional max_by
    "cdc_snapshot_diff" -> ((s, dir) =>
      ChangelogApply.snapshotDiff(changelog(s, dir))),

    // Time-weighted average value per table from version exposure
    // intervals (event time until the pk's next version) — the
    // state-duration integral, not the event-count average
    "cdc_time_weighted_avg" -> ((s, dir) =>
      ChangelogApply.timeWeightedAvg(changelog(s, dir))),

    // Wide envelope: full multi-column after-images through the
    // encode→schema-registry-decode round trip, then LWW per key.
    "cdc_lww_state_wide" -> ((s, dir) =>
      ChangelogApply.materializeWide(wideChangelog(s, dir), Normalizer.payloadCols)
        .orderBy("tbl", "pk")),

    // Changed-FIELD-SET per update (before-image vs after-image diff)
    "cdc_changed_fields" -> ((s, dir) =>
      ChangelogApply.changedFieldSet(wideChangelog(s, dir), Normalizer.payloadCols)
        .orderBy("tbl", "pk", "pos")),

    // Schema-registry typed decode: aggregate over fields read through
    // the registry's one from_json parse — asserts the registry's typed
    // view matches the source values
    "cdc_typed_decode" -> ((s, dir) =>
      wideChangelog(s, dir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          count_distinct(col("tbl")).as("n_tables"),
          sum(col("k")).as("sum_k"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
        .orderBy("event_type")),

    // Dead-letter accounting: deterministically injected corruption
    // (truncated payloads at pos%97=0, an unregistered shard at
    // pos%101=0) is classified per event and quarantined, never thrown —
    // the oracle regenerates dispositions from the injection rule, so the
    // from_json-based classifier is checked against ground truth
    "cdc_dlq_stats" -> ((s, dir) => {
      val wide = Normalizer.normalizeWide(t(s, dir, "events"))
      val corrupted = wide
        .withColumn("tbl",
          when(col("pos") % 101 === 0, lit("t9")).otherwise(col("tbl")))
        .withColumn("payload_json",
          when(col("pos") % 97 === 0, substring(col("payload_json"), 1, 10))
            .otherwise(col("payload_json")))
      DeadLetter.stats(DeadLetter.classify(corrupted, Normalizer.fixtureRegistry))
    }),

    // Mid-stream DDL: the upstream renames value→amount halfway through
    // the changelog; decode routes each event through the registry
    // version in force at its pos (a final-schema-only decode would null
    // out every pre-DDL amount — n_decoded pins the round trip complete)
    "cdc_evolving_decode" -> ((s, dir) => {
      val wide = Normalizer.normalizeWide(t(s, dir, "events"))
      val b = wide.agg(min(col("pos")).as("lo"), max(col("pos")).as("hi")).collect()(0)
      val p = (b.getLong(0) + b.getLong(1)) / 2
      val evolved = wide.withColumn("payload_json",
        when(col("pos") >= p,
          regexp_replace(col("payload_json"), "\"value\":", "\"amount\":"))
          .otherwise(col("payload_json")))
      val ddl = (0 to 3).map(i => s"ALTER TABLE t$i RENAME COLUMN value TO amount")
      SchemaEvolution.evolvingDecode(evolved, Normalizer.fixtureRegistry, ddl, p)
        .withColumn("amount_all", coalesce(col("amount"), col("value")))
        .groupBy(col("tbl"))
        .agg(count(lit(1)).as("n_events"),
          count(col("amount_all")).as("n_decoded"),
          sum(col("k")).as("sum_k"),
          sum(col("amount_all").cast("decimal(18,2)")).cast("double").as("sum_amount"))
        .orderBy("tbl")
    }),

    "cdc_snapshot_merge" -> ((s, dir) => {
      val base = t(s, dir, "customer")
        .select(col("c_custkey").as("key"), col("c_acctbal").as("base_value"))
      ChangelogApply.mergeSnapshot(base, "key", changelog(s, dir)).orderBy("key")
    }),

    "cdc_catchup_range" -> ((s, dir) => {
      val cl = changelog(s, dir)
      val maxPos = Watermark.latestPosition(cl)
      Watermark.snapshotThenCatchup(cl, maxPos / 4, 3 * maxPos / 4).orderBy("tbl", "pk")
    }),

    // Watermark lifecycle stats (A5): per-status table counts/volumes for
    // a [maxPos/2, maxPos) snapshot bracket — the table carrying the
    // global max pos has closed its window (completed), the rest are
    // mid-catchup (active).
    "cdc_watermark_stats" -> ((s, dir) => {
      val cl = changelog(s, dir)
      val maxPos = Watermark.latestPosition(cl)
      Watermark.lifecycleStats(cl, maxPos / 2, maxPos).orderBy("status")
    }),

    "cdc_router_distribution" -> ((s, dir) =>
      Routing.distribution(changelog(s, dir), 32)),

    "cdc_offset_frontier" -> ((s, dir) =>
      Routing.offsetFrontier(changelog(s, dir), 8)),

    // GTID-set frontier per (tbl, source): applied txns coalesced into
    // the canonical interval string (gaps-and-islands, one shuffle)
    // `%` (not pmod) so Spark and DuckDB agree for any future negative key
    "cdc_gtid_frontier" -> ((s, dir) =>
      Routing.gtidFrontier(changelog(s, dir),
        concat(lit("s"), (col("pk") % 3).cast("string")), col("pos"))),

    "cdc_table_filter" -> ((s, dir) => {
      val f = TableFilter(include = Seq("t*"), exclude = Seq("t3"))
      changelog(s, dir).filter(f.column(col("tbl")))
        .groupBy("tbl").agg(count(lit(1)).as("n_events")).orderBy("tbl")
    }),

    // Filter statistics: per-table admit/reject decision + event volume
    // (reference getFilterStatistics, filter/TableFilter.scala:108-130) —
    // the filter config is validated before use (validate/validated gate).
    "cdc_filter_stats" -> ((s, dir) => {
      val f = TableFilter(include = Seq("t*"), exclude = Seq("t3")).validated
      f.stats(changelog(s, dir), col("tbl")).orderBy("tbl")
    }),

    "cdc_changed_diff" -> ((s, dir) =>
      ChangelogApply.changedDiff(changelog(s, dir))
        .groupBy("tbl", "pk")
        .agg(sum(when(col("changed"), 1L).otherwise(0L)).as("n_changed"),
          count(lit(1)).as("n_events"))
        .orderBy("tbl", "pk")),

    "cdc_ddl_classify" -> ((s, _) => DdlClassifier.classifyCorpus(s)),

    "cdc_ddl_stats" -> ((s, _) => DdlClassifier.ddlStats(s)),

    "cdc_table_activity" -> ((s, dir) => Metrics.tableActivity(changelog(s, dir))),

    // S6 discovery: catalog scan of the lake dir through the table filter
    "cdc_catalog_discovery" -> ((s, dir) =>
      Catalog.discovered(s, dir, TableFilter(include = Nil, exclude = Seq("embeddings")))),

    // Time-travel: state of 10 keys at three historical positions
    "cdc_asof_lookup" -> ((s, dir) => {
      val cl = changelog(s, dir)
      val maxPos = Watermark.latestPosition(cl)
      val probes = s.range(10).select(
        concat(lit("t"), (col("id") % 4).cast("string")).as("tbl"),
        col("id").as("pk"),
        explode(array(lit(maxPos / 4), lit(maxPos / 2), lit(3 * maxPos / 4))).as("asof_pos"))
      ChangelogApply.asOfLookup(cl, probes)
    }),

    // Time-travel over the WIDE envelope: the probe returns the full row
    // image (every payload column) as of the probed position.
    "cdc_asof_wide" -> ((s, dir) => {
      val cl = wideChangelog(s, dir)
      val maxPos = Watermark.latestPosition(cl)
      val probes = s.range(10).select(
        concat(lit("t"), (col("id") % 4).cast("string")).as("tbl"),
        col("id").as("pk"),
        explode(array(lit(maxPos / 4), lit(maxPos / 2), lit(3 * maxPos / 4))).as("asof_pos"))
      ChangelogApply.asOfLookupWide(cl, probes, Normalizer.payloadCols)
    }),

    "cdc_pk_chunks" -> ((s, dir) => Metrics.pkChunks(changelog(s, dir), 40L)),
    // Event-time vs log-order disorder per table: the LWW-by-pos audit
    "cdc_out_of_order" -> ((s, dir) => Metrics.outOfOrderAudit(changelog(s, dir))),
    // hot-key burst audit: the conflation/salting decision measurement
    "cdc_hot_keys" -> ((s, dir) => Metrics.hotKeys(changelog(s, dir), 7200L, 3L)),
    // conflation what-if: write reduction vs staleness at a 1h throttle
    "cdc_conflation_savings" -> ((s, dir) =>
      Metrics.conflationSavings(changelog(s, dir), 3600L)),

    // Bounded-concurrency snapshot plan: chunk tasks → (wave, slot) under
    // an admission cap of 6 concurrent workers (reference actor tick-loop
    // admission, snapshot/SnapshotScheduler.scala:220-251).
    "cdc_snapshot_waves" -> ((s, dir) =>
      SnapshotScheduler.waves(Metrics.pkChunks(changelog(s, dir), 40L), 6)
        .select("tbl", "chunk_id", "chunk_lo", "chunk_hi", "task_seq", "wave", "slot")
        .orderBy("task_seq")),

    // Structured Streaming apply: the events changelog split into 4
    // event-time slices -> 4 micro-batches (one per chunk file, checked by
    // `Bounded`) -> foreachBatch
    // incremental LWW state over the WIDE envelope (full after-images
    // through the schema-registry decode); final state must equal the
    // one-shot wide batch materialization (same oracle as
    // cdc_lww_state_wide). 8 buckets ≈ harness scale (micro-batches touch
    // a handful of files); at cluster scale this would be thousands.
    "cdc_stream_apply" -> ((s, dir) => {
      import graft.streaming.StreamingApply
      val tmp = scratchDir("graft_stream")
      val chunks = chunkedEvents(s, dir)
      Bounded.foreachBatch(changelogStream(s, chunks, Normalizer.normalizeWideDecoded),
        s"$tmp/ckpt", Bounded.OnePerFile(chunks))(
        StreamingApply.applyBatch(s"$tmp/state", nBuckets = 8, payloadCols = Normalizer.payloadCols) _)
      StreamingApply.currentState(s, s"$tmp/state", Normalizer.payloadCols)
        .orderBy("tbl", "pk")
    }),

    // Dimension-enriched state: the LWW materialization joined with the
    // current customer row (broadcast — the stream/state side never
    // shuffles for the enrich). Batch analog of
    // StreamingAnalytics.runEnrichedStream (spec: batch-boundary
    // consistency under dimension updates).
    "cdc_enriched_state" -> ((s, dir) =>
      ChangelogApply.materialize(changelog(s, dir))
        .join(broadcast(t(s, dir, "customer")
          .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))),
          col("pk") === col("c_custkey"), "left")
        .select(col("tbl"), col("pk"), col("value"),
          col("c_name"), col("c_mktsegment"))
        .orderBy("tbl", "pk")),

    // SCD Type-2 history: full validity timeline per key (each event
    // opens a version; the next event on the key closes it; deletes
    // close without opening). One (tbl, pk) shuffle + per-key sort.
    "cdc_scd2_history" -> ((s, dir) =>
      ChangelogApply.scd2(changelog(s, dir))
        .orderBy("tbl", "pk", "valid_from_pos")),

    // Streaming SCD2 maintenance: 4 micro-batches (one per chunk file,
    // checked by `Bounded`) folded into the bucketed history store; final
    // timeline must equal the one-shot batch scd2 (same oracle as
    // cdc_scd2_history).
    "cdc_scd2_stream" -> ((s, dir) => {
      import graft.streaming.StreamingScd2
      val tmp = scratchDir("graft_sscd2")
      val chunks = chunkedEvents(s, dir)
      Bounded.foreachBatch(changelogStream(s, chunks, Normalizer.normalize),
        s"$tmp/ckpt", Bounded.OnePerFile(chunks))(
        StreamingScd2.applyBatch(s"$tmp/state", nBuckets = 8))
      StreamingScd2.currentHistory(s, s"$tmp/state")
        .orderBy("tbl", "pk", "valid_from_pos")
    }),

    // Live-database CDC: the graft-jdbc-cdc DSv2 source tails a RUNNING
    // Derby holding the changelog (real JDBC polls, admission-capped
    // micro-batches, parallel range readers), folding each batch into
    // the bucketed LWW store — the reference's binlog-client→apply
    // pipeline with an actual live server upstream.
    "cdc_jdbc_stream" -> ((s, dir) => {
      import graft.streaming.StreamingApply
      val (url, nRows) = derbyChangelog(s, dir)
      val tmp = scratchDir("graft_jdbcstream")
      val in = s.readStream.format("graft-jdbc-cdc")
        .option("url", url).option("table", "CHANGELOG")
        .option("posColumn", "pos")
        // a quarter of the rows per poll: 4 polls, checked by `Bounded`
        .option("maxPerBatch", math.max(1L, (nRows + 3) / 4).toString)
        .option("numPartitions", s.sparkContext.defaultParallelism.toString)
        .load()
        .withColumn("ts", timestamp_micros(col("ts_us"))).drop("ts_us")
      Bounded.foreachBatch(in, s"$tmp/ckpt", Bounded.AtLeast(4))(
        StreamingApply.applyBatch(s"$tmp/state", nBuckets = 8) _)
      StreamingApply.currentState(s, s"$tmp/state").orderBy("tbl", "pk")
    }),

    // Watermarked streaming analytics, oracle-checked: the hourly window
    // aggregate emitted by append-mode streaming equals the batch hourly
    // aggregate restricted to watermark-finalized windows
    // (window_end <= max_ts - delay)
    // daily type-mix TVD vs the uniform design reference, emitted on
    // watermark close — the streaming drift monitor (exact integer ppm)
    "events_mix_drift_stream" -> ((s, dir) => withBatchShuffleWidth(s) {
      import graft.streaming.StreamingAnalytics
      val name = chunksToMemory(s, chunkedEvents(s, dir), "mixdrift_stream")(in =>
        StreamingAnalytics.mixDrift(in.select(col("ts"), col("event_type")),
          Seq("click", "error", "purchase", "signup", "view"), 100000L))
      s.table(name).orderBy("day")
    }),

    "events_hourly_stream" -> ((s, dir) => withBatchShuffleWidth(s) {
      import graft.streaming.StreamingAnalytics
      val name = chunksToMemory(s, chunkedEvents(s, dir), "hourly_stream")(in =>
        StreamingAnalytics.windowedCounts(in.select(col("ts"), col("event_type"), col("value"))))
      s.table(name).orderBy("hour", "event_type")
    }),

    // Streaming exact dedup, oracle-checked: a replayed stream (each
    // chunk duplicated in place + the previous chunk's tail re-sent)
    // deduped on a content fingerprint equals the batch DISTINCT —
    // duplicates die in dedup state or the late filter, never survive
    "events_stream_dedup" -> ((s, dir) => {
      import graft.streaming.StreamingAnalytics
      // fingerprint = md5 over a delimited field concat (NOT to_json —
      // JSON rendering per row was ~2x the fingerprint cost); the
      // leading unique event_id makes the encoding injective, so content
      // equality and fingerprint equality coincide. No pre-repartition:
      // unlike the from_json normalize paths, the md5 projection is
      // cheap enough to ride the single file-scan partition, and the
      // dedup's own state exchange spreads rows anyway — a repartition
      // here is one extra shuffle per micro-batch for nothing.
      // state-store partition count is locked in at query start from
      // spark.sql.shuffle.partitions: per micro-batch each partition pays
      // a store load + delta commit, a fixed overhead that dwarfs the
      // ~50k-row batches here; at real scale the stream would START with
      // the larger count instead.
      val name = withBatchShuffleWidth(s) {
        chunksToMemory(s, replayedChunks(s, dir), "stream_dedup")(in =>
          StreamingAnalytics.streamingDedup(
            in.withColumn("fp", md5(concat_ws("|",
              col("event_id"), col("user_id"), col("event_type"), col("value"), col("props")))),
            "fp").drop("fp"))
      }
      s.table(name).orderBy("event_id")
    }),

    // Streaming gap sessionization, oracle-checked: flatMapGroupsWithState
    // emits a session when the next event closes it (deterministic for
    // every session but each user's last) or when the event-time timeout
    // fires (deterministic given the final watermark) — so the streamed
    // output equals the batch sessionization minus still-open sessions
    // absence detection: signups with NO purchase inside 30 min alert
    // once the watermark closes the negative (event-time timers)
    "events_absence_stream" -> ((s, dir) => withBatchShuffleWidth(s) {
      import graft.streaming.StreamingAnalytics
      import s.implicits._
      val name = chunksToMemory(s, chunkedEvents(s, dir), "absence_stream")(in =>
        StreamingAnalytics.absenceAlerts(
          in.select(col("user_id"), col("ts"), col("event_type"))
            .as[StreamingAnalytics.AbsenceInput], 1800000L))
      s.table(name).orderBy("user_id", "signup_us")
    }),

    "events_sessionize_stream" -> ((s, dir) => withBatchShuffleWidth(s) {
      import graft.streaming.StreamingAnalytics
      import s.implicits._
      val name = chunksToMemory(s, chunkedEvents(s, dir), "sess_stream")(in =>
        StreamingAnalytics.sessionize(
          in.select(col("user_id"), col("ts"), col("event_type"))
            .as[StreamingAnalytics.SessionInput], 1800000L))
      s.table(name).orderBy("user_id", "start_ms")
    }),

    // Streaming CEP pattern match (signup -> click -> purchase within
    // 7 days, last-predecessor semantics): constant-size state per user,
    // matches emit in the purchase's micro-batch — output equals the
    // batch carry-forward oracle under any batch split (no timeout, no
    // late-drop), given the chunks' in-event-time delivery per user
    "events_funnel_stream" -> ((s, dir) => withBatchShuffleWidth(s) {
      import graft.streaming.StreamingAnalytics
      import s.implicits._
      val name = chunksToMemory(s, chunkedEvents(s, dir), "funnel_stream")(in =>
        StreamingAnalytics.funnelMatch(
          in.select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
            .as[StreamingAnalytics.CepInput], 604800000000L)) // 7 days
      s.table(name).orderBy("event_id")
    }),

    // streaming fixed-window rate limiter: one (window, count) pair per
    // user, emits every event past the per-hour budget with its rank
    "events_rate_limit_stream" -> ((s, dir) => withBatchShuffleWidth(s) {
      import graft.streaming.StreamingAnalytics
      import s.implicits._
      val name = chunksToMemory(s, chunkedEvents(s, dir), "ratelimit_stream")(in =>
        StreamingAnalytics.rateLimit(
          in.select(col("event_id"), col("ts"), col("user_id"))
            .as[StreamingAnalytics.RateInput], windowUs = 3600000000L, k = 1L))
      s.table(name).orderBy("event_id")
    }),

    // streaming z-score anomaly gate: constant-size (n, Σx, Σx²) state
    // per type, exact BigInt cross-multiplied threshold — streamed flags
    // equal the batch strict-prefix window oracle bit-for-bit
    "events_zscore_stream" -> ((s, dir) => withBatchShuffleWidth(s) {
      import graft.streaming.StreamingAnalytics
      import s.implicits._
      val name = chunksToMemory(s, chunkedEvents(s, dir), "zscore_stream")(in =>
        StreamingAnalytics.zscoreGate(
          in.select(col("event_id"), col("ts"), col("event_type"), col("value"))
            .as[StreamingAnalytics.ZInput], z = 3L, minN = 500L))
      s.table(name).orderBy("event_id")
    }),

    // built-in session_window sessions: engine-managed gap-session state,
    // append emits a session once the watermark passes its end — oracle
    // is the batch gaps-and-islands cut at the final watermark
    "events_session_window_stream" -> ((s, dir) => withBatchShuffleWidth(s) {
      import graft.streaming.StreamingAnalytics
      val name = chunksToMemory(s, chunkedEvents(s, dir), "sess_win")(in =>
        StreamingAnalytics.sessionWindowCounts(in.select(col("user_id"), col("ts"), col("value"))))
      s.table(name).orderBy("user_id", "s_start_us")
    }),

    // Streaming as-of enrichment: every event carries the dimension
    // version valid just before it (SCD2 interval at pos-1), maintained
    // incrementally as a per-bucket materialized view over the streaming
    // SCD2 store — converges to the batch temporal join under any split.
    "cdc_stream_asof_enrich" -> ((s, dir) => {
      import graft.streaming.StreamingEnrich
      val tmp = scratchDir("graft_senrich")
      val chunks = chunkedEvents(s, dir)
      Bounded.foreachBatch(changelogStream(s, chunks, Normalizer.normalize),
        s"$tmp/ckpt", Bounded.OnePerFile(chunks))(
        StreamingEnrich.applyBatch(s"$tmp/scd2", s"$tmp/out", nBuckets = 8) _)
      StreamingEnrich.enrichedEvents(s, s"$tmp/out")
        .orderBy("tbl", "pk", "pos")
    }),

    // interleaved chunked-snapshot audit: each PK chunk snapshotted at a
    // progressively later log cut, tail events replayed on top — merged
    // state must checksum-equal the direct materialization per chunk
    // (the invariant that makes snapshot-while-streaming safe)
    "cdc_interleaved_snapshot" -> ((s, dir) =>
      ChangelogApply.interleavedSnapshot(changelog(s, dir), 8)),

    // consistent cross-table export: every table materialized at the
    // SAME committable frontier (min over tables of max pos) — the cut
    // a downstream warehouse can trust for cross-table invariants
    "cdc_consistent_cut" -> ((s, dir) =>
      ChangelogApply.consistentCut(changelog(s, dir))),

    "cdc_op_stats" -> ((s, dir) =>
      changelog(s, dir).groupBy("tbl", "op")
        .agg(count(lit(1)).as("n_events"),
          min(col("pos")).as("min_pos"), max(col("pos")).as("max_pos"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
        .orderBy("tbl", "op")),

    // ---- Relational analytics ----
    "q1_pricing_summary" -> ((s, dir) => Analytics.pricingSummary(t(s, dir, "lineitem"))),
    "q3_top_revenue" -> ((s, dir) =>
      Analytics.topRevenueOrders(t(s, dir, "customer"), t(s, dir, "orders"), t(s, dir, "lineitem"))),
    "q5_nation_revenue" -> ((s, dir) =>
      Analytics.nationRevenue(t(s, dir, "region"), t(s, dir, "nation"),
        t(s, dir, "customer"), t(s, dir, "orders"), t(s, dir, "lineitem"))),
    "events_hourly" -> ((s, dir) => Analytics.hourlyEvents(t(s, dir, "events"))),
    // sliding 1h/30min window: overlapping-window actives via one Expand
    "events_sliding_users" -> ((s, dir) => Analytics.slidingActiveUsers(t(s, dir, "events"))),

    // market-basket co-occurrence: top part pairs bought in one order;
    // self-join fan-out bounded by basket width, top-N via ordered take
    "lineitem_basket_pairs" -> ((s, dir) => Analytics.basketPairs(t(s, dir, "lineitem"), 20)),

    // trailing-edge debounce: first event of each (user, type) burst
    // survives; per-type keep ratios as the fan-out audit
    "events_debounce" -> ((s, dir) => Analytics.debounce(t(s, dir, "events"), 1800L)),

    // frequent session paths: top event-type trigrams by distinct-session
    // support — sequence mining over the sessionizer's session ids
    "events_top_paths" -> ((s, dir) => Analytics.topSessionPaths(t(s, dir, "events"), 15)),

    // cohort LTV: cumulative value per signup-week cohort by age —
    // running total over cohort×age CELLS, never event rows
    "events_cohort_ltv" -> ((s, dir) => Analytics.cohortLtv(t(s, dir, "events"))),

    // DAU/WAU/MAU + stickiness: distinct (user, day) pre-agg exploded
    // into constant-length trailing windows, conditional DISTINCT counts
    "events_active_users" -> ((s, dir) => Analytics.activeUsers(t(s, dir, "events"))),

    // churn rate per signup-week cohort: one per-user endpoint aggregate
    // against a broadcast horizon — completes the engagement quartet
    "events_cohort_churn" -> ((s, dir) => Analytics.cohortChurn(t(s, dir, "events"), 14)),

    // language-ID confusion matrix vs the declared lang ground truth —
    // the precision/recall audit before the heuristic gates a corpus
    "text_langid_confusion" -> ((s, dir) =>
      TextAnalysis.languageIdConfusion(t(s, dir, "documents"))),

    // Zipf rank-frequency slope: corpus-statistics health check via the
    // sufficient-statistics OLS over the tiny term-count frame
    "text_zipf_fit" -> ((s, dir) => TextAnalysis.zipfFit(t(s, dir, "documents"), 100)),

    // distributed OLS from sufficient statistics: per-brand price~quantity
    // slope in one scan of exact DECIMAL moments
    "part_price_slope" -> ((s, dir) =>
      Analytics.priceSlope(t(s, dir, "lineitem"), t(s, dir, "part"))),

    // explicit bloom runtime filter: constant-size broadcast bit array
    // prunes the probe side before the exact join; false passes ledgered
    "lineitem_bloom_semijoin" -> ((s, dir) =>
      RuntimeFilters.bloomSemiJoin(t(s, dir, "orders"), t(s, dir, "lineitem"))),

    // Efraimidis-Spirakis weighted sampling without replacement:
    // reproducible hash-uniforms, top-k by ln(u)/w via ordered take
    "text_weighted_sample" -> ((s, dir) =>
      Sampling.weightedSample(t(s, dir, "documents"), 100)),

    // right-to-erasure propagation: purge ledger across changelog AND
    // materialized state, with an order-independent retained checksum
    "cdc_gdpr_purge" -> ((s, dir) => Scrub.gdprPurge(changelog(s, dir))),

    // PSI drift gate: value-distribution shift per event type between
    // the stream's first and second halves, 10 smoothed equal-width bins
    "quality_psi_drift" -> ((s, dir) => Profiling.psiDrift(t(s, dir, "events"))),

    // declarative expectation suite: not-null/range/set/uniqueness rules
    // as one conditional aggregate per table, per-rule pass/fail ledger
    "quality_expectations" -> ((s, dir) =>
      Profiling.expectations(t(s, dir, "orders"), t(s, dir, "lineitem"))),

    // Benford first-digit audit: observed vs log10(1+1/d) shares over
    // order totals — the fabricated-data screen
    "quality_benford" -> ((s, dir) => Profiling.benfordAudit(t(s, dir, "orders"))),
    // Class-balance audit: per-label shares + chi-square-vs-uniform, exact ppm
    "quality_label_balance" -> ((s, dir) => Profiling.labelBalance(t(s, dir, "embeddings"))),
    // lang × source independence: χ² + Cramér's V² in exact ppm
    "quality_cramers_v" -> ((s, dir) => Profiling.cramersV(t(s, dir, "documents"))),

    // KMV sketch inside watermarked streaming state: distinct users per
    // finalized hour from k-bounded mergeable sketch state
    "events_distinct_stream" -> ((s, dir) => withBatchShuffleWidth(s) {
      import graft.ops.Sketches
      val name = chunksToMemory(s, chunkedEvents(s, dir), "distinct_stream")(in =>
        Sketches.streamingApproxDistinct(in.select(col("ts"), col("event_type"), col("user_id")), 64))
      s.table(name).orderBy("hour", "event_type")
    }),

    // fixed-bound histogram quantiles inside watermarked streaming
    // state: P50/P95/P99 per finalized hour from nBins counter cells
    "events_quantile_stream" -> ((s, dir) => withBatchShuffleWidth(s) {
      import graft.ops.Sketches
      val name = chunksToMemory(s, chunkedEvents(s, dir), "quantile_stream")(in =>
        Sketches.streamingQuantileSketch(in.select(col("ts"), col("event_type"), col("value")), 50, 500.0))
      s.table(name).orderBy("hour", "event_type")
    }),

    // streaming sliding windows: append-mode 1h/30min windows over the
    // chunked replay equal the batch assignment on finalized windows
    "events_sliding_stream" -> ((s, dir) => withBatchShuffleWidth(s) {
      import graft.streaming.StreamingAnalytics
      val name = chunksToMemory(s, chunkedEvents(s, dir), "sliding_stream")(in =>
        StreamingAnalytics.slidingCounts(in.select(col("ts"), col("value"))))
      s.table(name).orderBy("w_start")
    }),
    // stream-stream interval join: click→purchase pairs within 30 min,
    // self-joined from one chunked replay; the aggregate over the emitted
    // pairs equals the batch interval join (delay widened past the
    // fixture span so inner-join completeness is provable — eviction
    // under a tight delay is the spec's job)
    "events_stream_join" -> ((s, dir) => {
      import graft.streaming.StreamingAnalytics
      // stream-stream join keeps 4 state stores per shuffle partition;
      // batch-width state cuts the per-batch fixed store-commit overhead
      // 4x at these batch sizes
      val name = withBatchShuffleWidth(s) {
        chunksToMemory(s, chunkedEvents(s, dir), "stream_join")(in =>
          StreamingAnalytics.intervalJoin(
            in.filter(col("event_type") === "click"),
            in.filter(col("event_type") === "purchase"),
            1800L, delay = "45 days"))
      }
      s.table(name).groupBy("user_id")
        .agg(count(lit(1)).as("n_pairs"),
          min(unix_micros(col("r_ts")) - unix_micros(col("l_ts"))).as("min_lag_us"),
          max(unix_micros(col("r_ts")) - unix_micros(col("l_ts"))).as("max_lag_us"))
        .orderBy("user_id")
    }),

    // LEFT OUTER stream-stream interval join under a TIGHT watermark:
    // matches emit as they form; an unmatched click emits null-extended
    // only once the watermark passes its join window — so the oracle is
    // the batch left join cut at the final watermark (min of both sides'
    // ms-truncated max event times, minus the 2h delay)
    "events_stream_join_outer" -> ((s, dir) => {
      import graft.streaming.StreamingAnalytics
      val name = withBatchShuffleWidth(s) {
        chunksToMemory(s, chunkedEvents(s, dir), "stream_join_outer")(in =>
          StreamingAnalytics.intervalJoin(
            in.filter(col("event_type") === "click"),
            in.filter(col("event_type") === "purchase"),
            1800L, delay = "2 hours", joinType = "left_outer"))
      }
      s.table(name).groupBy("user_id")
        .agg(count(lit(1)).as("n_rows"),
          count(col("r_ts")).as("n_matched"),
          sum(when(col("r_ts").isNull, 1L).otherwise(0L)).as("n_expired_unmatched"))
        .orderBy("user_id")
    }),

    // sliding-window token chunking: the context-window splitter, one
    // row per chunk with a portable fingerprint (map-only explode)
    "text_chunking" -> ((s, dir) =>
      Curation.chunkDocs(t(s, dir, "documents"), 64, 48)),

    // zone-map pruning audit: files_read / read_amplification for a
    // point and a range predicate under ingest-time vs z-order vs
    // hilbert layouts — the read-side payoff of the layout family
    "files_zone_prune" -> ((s, dir) => Layout.zonePrune(t(s, dir, "events"), 16)),
    // OPTIMIZE metric: per-layout/dimension zone-map overlap depth sweep
    "files_clustering_depth" -> ((s, dir) => Layout.clusteringDepth(t(s, dir, "events"), 16)),

    // KMV join-cardinality estimate: |orders ⋈ σ(customer)| from two
    // k-bounded sketches, audited against the exact join
    "sketch_join_cardinality" -> ((s, dir) =>
      Sketches.kmvJoinCardinality(t(s, dir, "orders"), t(s, dir, "customer"), 256, "BUILDING")),

    // local maxima with integer cross-multiplied prominence gate
    "events_peak_detection" -> ((s, dir) => TimeSeries.peakDetection(t(s, dir, "events"))),
    // ABC (revenue Pareto) x XYZ (demand variability) class matrix
    "lineitem_abc_xyz" -> ((s, dir) => Analytics.abcXyz(t(s, dir, "lineitem"))),
    // signup->purchase latency: sketch quantiles + conversion rate
    "events_conversion_latency" -> ((s, dir) =>
      OrderStats.conversionLatency(t(s, dir, "events"))),
    // difference-in-differences across arms and the mid-window split
    "events_impact_did" -> ((s, dir) =>
      OrderStats.impactDiD(t(s, dir, "events"), "2024-01-16 00:00:00")),
    // temporal video analysis: consecutive-frame SAD scene cuts
    "mm_video_scene_cuts" -> ((s, dir) =>
      Multimodal.videoSceneCuts(t(s, dir, "documents"), 35)),
    // winnowing fingerprints (MOSS): per-window min-hash selection
    "text_winnowing" -> ((s, dir) => TextAnalysis.winnowing(t(s, dir, "documents"), 4)),
    // exact-ppm Spearman between length and lexical-breadth gates
    "text_rank_agreement" -> ((s, dir) => TextAnalysis.rankAgreement(t(s, dir, "documents"))),
    // Wald-Wolfowitz runs census over the deterministic shuffle order
    "text_shuffle_audit" -> ((s, dir) => TextAnalysis.shuffleAudit(t(s, dir, "documents"))),
    // Holt level+trend smoothing with one-step-ahead fitted values
    "events_holt_daily" -> ((s, dir) => TimeSeries.holtDaily(t(s, dir, "events"))),
    // Rolling-origin one-step backtest: Holt vs naive, exact milli-unit MAE/MASE
    "events_forecast_backtest" -> ((s, dir) => TimeSeries.holtBacktest(t(s, dir, "events"))),
    // Pairwise Pearson among zero-filled hourly count series per event type
    "events_metric_correlation" -> ((s, dir) => TimeSeries.typeCorrelation(t(s, dir, "events"))),
    // seasonality screen: ACF of the dense hourly count series at the
    // standard daily-cycle lags (exact integer moments, one double expr)
    "events_acf" -> ((s, dir) =>
      TimeSeries.autocorrelation(t(s, dir, "events"), Seq(1, 2, 3, 6, 12, 24))),
    // CUPED variance reduction: pre-period covariate adjusts per-arm post means
    "events_cuped_adjustment" -> ((s, dir) => OrderStats.cupedAdjustment(t(s, dir, "events"))),
    // per-table position-density audit (drop-window quantification)
    "cdc_sequence_gaps" -> ((s, dir) => ops.Metrics.sequenceGaps(changelog(s, dir))),
    // embedding-distribution drift: centroid L2/cosine between halves
    "emb_centroid_drift" -> ((s, dir) => Similarity.centroidDrift(t(s, dir, "embeddings"))),
    // simplified-silhouette clustering audit, exact fixed-point distances
    "emb_silhouette" -> ((s, dir) => Similarity.silhouette(t(s, dir, "embeddings"))),
    // SRE error-budget alerting: 1h/6h multi-window burn rates
    "events_slo_burn_rate" -> ((s, dir) =>
      TimeSeries.sloBurnRate(t(s, dir, "events"), 250L, 1200L, 1000L)),
    // finance bridge: price/volume/new/discontinued revenue decomposition
    "lineitem_price_volume_mix" -> ((s, dir) =>
      Analytics.priceVolumeMix(t(s, dir, "lineitem"), 1997, 1998)),
    // sign-bit binary quantization: Hamming top-k + recall audit
    "ann_binary_topk" -> ((s, dir) =>
      Similarity.binaryHammingTopK(t(s, dir, "embeddings"), 8, 5)),
    "ann_binary_recall" -> ((s, dir) =>
      Similarity.binaryRecall(t(s, dir, "embeddings"), 8, 10)),
    // exact distinct via bucketed bitmap aggregates (bitmap_or pattern)
    "events_bitmap_distinct" -> ((s, dir) =>
      Sketches.bitmapDistinctDaily(t(s, dir, "events"))),
    // bitext mining: cross-language embedding near-dup candidates
    "dedup_bitext_candidates" -> ((s, dir) =>
      Dedup.bitextCandidates(t(s, dir, "documents"), t(s, dir, "embeddings"),
        16, 8, 64, 0.3)),
    // chunk-granularity duplication audit over the sliding chunks
    // content-defined chunking: insertion-robust boundaries + chunk-level
    // exact dedup (the storage-dedup complement of document MinHash)
    "dedup_cdc_chunks" -> ((s, dir) =>
      Curation.cdcChunkDedup(t(s, dir, "documents"), 16L)),
    "dedup_chunk_overlap" -> ((s, dir) =>
      Curation.chunkOverlap(t(s, dir, "documents"), 64, 48)),
    // numeric/temporal blocked ER: near-identical invoices per customer
    "orders_near_dup_invoices" -> ((s, dir) =>
      EntityResolution.nearDupInvoices(t(s, dir, "orders"), 5.0, 7)),
    // entropy + gini of each cohort's event-type mix (PSI-device terms)
    "events_entropy_profile" -> ((s, dir) => Profiling.entropyProfile(t(s, dir, "events"))),
    // top-3 bigram keyphrases per doc by tf-idf
    "text_keyphrases" -> ((s, dir) => TextAnalysis.keyphrases(t(s, dir, "documents"), 3)),
    // l-diversity: sensitive-value diversity within k-anonymity classes
    "quality_l_diversity" -> ((s, dir) => Scrub.lDiversity(t(s, dir, "customer"), 3)),
    // t-closeness: per-class vs global sensitive-value TVD (exact BIGINT)
    "quality_t_closeness" -> ((s, dir) => Scrub.tCloseness(t(s, dir, "customer"), 200000L)),
    // Fellegi-Sunter m/u estimation by fixed-point EM over the pattern census
    "er_em_weights" -> ((s, dir) => EntityResolution.emWeights(t(s, dir, "part"), 4)),
    // degree assortativity: Pearson over (deg src, deg dst) edge pairs
    "graph_assortativity" -> ((s, dir) => Graph.assortativity(t(s, dir, "lineitem"))),
    // modularity audit of the label-propagation partition
    "graph_modularity" -> ((s, dir) => Graph.modularity(t(s, dir, "lineitem"), 4)),
    // lexical LSH candidates adjudicated by embedding cosine
    "dedup_hybrid_verify" -> ((s, dir) =>
      Dedup.hybridVerify(t(s, dir, "documents"), t(s, dir, "embeddings"), 0.95)),
    // power-iteration top principal direction in exact fixed point
    "emb_power_iteration" -> ((s, dir) =>
      Similarity.powerIterationTop(t(s, dir, "embeddings"), 64, 4)),
    // binary-segmentation changepoint on the hourly mean series
    "events_changepoint" -> ((s, dir) => TimeSeries.changepointHourly(t(s, dir, "events"))),
    // sequential CUSUM drift monitor via the prefix-sum/running-min
    // closed form — one ordered window, no iteration
    "events_cusum" -> ((s, dir) => TimeSeries.cusumDrift(t(s, dir, "events"), 2500L, 20000L)),
    // seasonal-strength rider on the decomposition lineage
    "events_seasonal_strength" -> ((s, dir) =>
      TimeSeries.seasonalStrength(t(s, dir, "events"))),
    // brand-level association rules: support / confidence / lift
    "lineitem_association_rules" -> ((s, dir) =>
      Analytics.associationRules(t(s, dir, "lineitem"), t(s, dir, "part"), 3L, 50)),
    // robust MAD outlier flags over the hourly mean series (the
    // median buffer is bounded by hours·types, not corpus size)
    "events_mad_outliers" -> ((s, dir) => TimeSeries.madOutliers(t(s, dir, "events"))),
    // trend / weekday-seasonal / residual split of the daily series
    "events_seasonal_decompose" -> ((s, dir) =>
      TimeSeries.seasonalDecompose(t(s, dir, "events"))),
    // RFM quartile scoring cut at two-pass exact quantiles (no ntile sort)
    "orders_rfm_segments" -> ((s, dir) => OrderStats.rfmSegments(t(s, dir, "orders"))),
    // per-customer purchase cadence from lag windows
    "orders_order_gaps" -> ((s, dir) => OrderStats.orderGaps(t(s, dir, "orders"))),
    // MMR diversity re-rank over the exact top-20 candidates (5 greedy
    // rounds unrolled; corpus touched once, everything after is bounded)
    "rag_mmr_rerank" -> ((s, dir) =>
      Similarity.mmrRerank(t(s, dir, "embeddings"), 8, 20, 5, 7, 10)),
    // frame-level voice-activity detection through the real WAV codec
    "mm_audio_vad" -> ((s, dir) => Multimodal.audioVad(t(s, dir, "documents"))),
    // near-rail clipping census through the real WAV codec
    "mm_audio_clipping" -> ((s, dir) => Multimodal.audioClipping(t(s, dir, "documents"))),
    // DAU/MAU stickiness: trailing-window MAU from windowed-MAX-merged
    // HLL registers (sliding distinct without per-window rescans)
    "events_stickiness_hll" -> ((s, dir) =>
      Sketches.stickinessHll(t(s, dir, "events"), 30)),
    // HyperLogLog distinct counter from portable-hash registers (the
    // constant-memory sibling of the KMV sketch, oracle-rebuildable)
    "sketch_hll_distinct" -> ((s, dir) => Sketches.hllDistinctUsers(t(s, dir, "events"))),
    // fixed-point EWMA control line over the hourly means
    "events_ewma" -> ((s, dir) => TimeSeries.ewmaHourly(t(s, dir, "events"))),
    // dense hourly grid with forward-filled aggregates
    "events_gap_fill" -> ((s, dir) => TimeSeries.gapFillHourly(t(s, dir, "events"))),
    // 2-D Pareto frontier via two window minima (no pairwise join)
    "part_skyline" -> ((s, dir) => OrderStats.skylineParts(t(s, dir, "part"))),
    // percent_rank/cume_dist of probe users within full distributions
    "events_distribution_pos" -> ((s, dir) =>
      OrderStats.distributionPosition(t(s, dir, "events"), 4L)),
    // experiment sizing: per-arm n for a ladder of target lifts
    "events_power_analysis" -> ((s, dir) =>
      OrderStats.powerAnalysis(t(s, dir, "events"), Seq(5, 10, 20, 50))),
    // two-proportion z-test between user_id-parity experiment arms
    "events_ab_test" -> ((s, dir) => OrderStats.abTestConversion(t(s, dir, "events"))),
    // rank-sum test per event type (exact doubled-U midrank arithmetic)
    "events_mann_whitney" -> ((s, dir) => OrderStats.mannWhitney(t(s, dir, "events"))),
    // Kruskal-Wallis sufficient statistics: pooled midranks, tie mass
    "events_rank_anova" -> ((s, dir) => OrderStats.rankAnova(t(s, dir, "events"))),
    // per-column exact uniqueness + candidate-key verdicts, one pass
    "quality_key_candidates" -> ((s, dir) => Profiling.keyCandidates(t(s, dir, "orders"))),
    // bloom FPR calibration sweep: one exploded build, exact fp_ppm per size
    "sketch_bloom_fpr" -> ((s, dir) =>
      RuntimeFilters.bloomFprSweep(t(s, dir, "orders"), Seq(65536L, 262144L, 1048576L))),
    // exact 10%-trimmed + winsorized means from the cent-value census
    "events_trimmed_mean" -> ((s, dir) => OrderStats.trimmedMean(t(s, dir, "events"))),
    // full grouping-sets lattice over (segment, priority)
    "q_cube_revenue" -> ((s, dir) =>
      Analytics.cubeRevenue(t(s, dir, "orders"), t(s, dir, "customer"))),

    "events_sessionize" -> ((s, dir) => Analytics.sessionize(t(s, dir, "events"))),
    // Inter-arrival regularity (bot/automation) scoring, exact-integer CV²
    "events_bot_regularity" -> ((s, dir) => Analytics.botRegularity(t(s, dir, "events"), 8)),
    // first-order Markov transitions over per-user event paths
    "events_transitions" -> ((s, dir) => Analytics.markovTransitions(t(s, dir, "events"))),
    // depth-2 sequential patterns (a ... then b): min/max-id device, no window
    "events_sequence_support" -> ((s, dir) => Analytics.sequenceSupport(t(s, dir, "events"))),
    // Theil–Sen robust daily trend + Mann–Kendall S, integer pairwise slopes
    "events_theil_sen" -> ((s, dir) => TimeSeries.theilSenDaily(t(s, dir, "events"))),
    // long-run behavior mix: power iteration over the transition matrix
    // in ppm-scaled BIGINT (bit-identical rounds; oracle unrolls CTEs)
    "events_markov_stationary" -> ((s, dir) =>
      Analytics.markovStationary(t(s, dir, "events"), 6)),
    // last-touch attribution: carry-forward window, no range self-join
    "events_attribution" -> ((s, dir) =>
      Analytics.lastTouchAttribution(t(s, dir, "events"), 3600L)),
    // entity resolution: block on brand, levenshtein-verify dirty names
    "er_fuzzy_resolve" -> ((s, dir) => EntityResolution.resolve(t(s, dir, "part"), 1)),
    "events_topk_users" -> ((s, dir) => Analytics.topPurchasers(t(s, dir, "events"), 10)),
    "events_json_extract" -> ((s, dir) => Analytics.jsonExtract(t(s, dir, "events"))),
    "q6_forecast_revenue" -> ((s, dir) => Analytics.forecastRevenue(t(s, dir, "lineitem"))),
    "q4_order_priority" -> ((s, dir) =>
      Analytics.orderPriorityCheck(t(s, dir, "orders"), t(s, dir, "lineitem"))),
    "q_rollup_revenue" -> ((s, dir) => Analytics.rollupRevenue(t(s, dir, "lineitem"))),
    "q10_returned_items" -> ((s, dir) =>
      Analytics.returnedItemCustomers(t(s, dir, "customer"), t(s, dir, "orders"),
        t(s, dir, "lineitem"), t(s, dir, "nation"), 20)),
    "q14_promo_revenue" -> ((s, dir) =>
      Analytics.promoRevenueRatio(t(s, dir, "part"), t(s, dir, "lineitem"), 1997)),
    "q18_large_orders" -> ((s, dir) =>
      Analytics.largeOrders(t(s, dir, "customer"), t(s, dir, "orders"),
        t(s, dir, "lineitem"), 250L)),
    "q7_volume_shipping" -> ((s, dir) =>
      Analytics.volumeShipping(t(s, dir, "supplier"), t(s, dir, "lineitem"),
        t(s, dir, "orders"), t(s, dir, "customer"), t(s, dir, "nation"),
        "NATION_1", "NATION_2")),
    "q8_market_share" -> ((s, dir) =>
      Analytics.marketShare(t(s, dir, "part"), t(s, dir, "supplier"),
        t(s, dir, "lineitem"), t(s, dir, "orders"), t(s, dir, "customer"),
        t(s, dir, "nation"), t(s, dir, "region"), "NATION_7", "ASIA", "PROMO")),
    "q13_order_distribution" -> ((s, dir) =>
      Analytics.orderCountDistribution(t(s, dir, "customer"), t(s, dir, "orders"),
        "4-NOT SPECIFIED")),
    "q16_supplier_variety" -> ((s, dir) =>
      Analytics.supplierVariety(t(s, dir, "part"), t(s, dir, "lineitem"),
        "Brand#5", Seq(1, 5, 9, 13, 17, 21, 25, 29, 33, 37, 41, 45, 49))),
    "q19_disjunctive_revenue" -> ((s, dir) =>
      Analytics.disjunctiveRevenue(t(s, dir, "part"), t(s, dir, "lineitem"))),
    "q22_idle_customers" -> ((s, dir) =>
      Analytics.idleRichCustomers(t(s, dir, "customer"), t(s, dir, "orders"),
        t(s, dir, "nation"), "1999-01-01")),
    "q2_min_cost_supplier" -> ((s, dir) =>
      Analytics.minCostSupplier(t(s, dir, "part"), t(s, dir, "supplier"),
        t(s, dir, "lineitem"), t(s, dir, "nation"), t(s, dir, "region"),
        "STANDARD", Seq(5, 15, 25, 35, 45), "EUROPE")),
    "q9_product_profit" -> ((s, dir) =>
      Analytics.productProfit(t(s, dir, "part"), t(s, dir, "supplier"),
        t(s, dir, "lineitem"), t(s, dir, "orders"), t(s, dir, "nation"), "gear")),
    "q11_important_parts" -> ((s, dir) =>
      Analytics.importantParts(t(s, dir, "lineitem"), 3, 2)),
    "q12_late_shipments" -> ((s, dir) =>
      Analytics.lateShipments(t(s, dir, "orders"), t(s, dir, "lineitem"), 60)),
    "q15_top_supplier" -> ((s, dir) =>
      Analytics.topSupplier(t(s, dir, "supplier"), t(s, dir, "lineitem"),
        "1997-01-01", "1997-04-01")),
    "q17_small_qty_revenue" -> ((s, dir) =>
      Analytics.smallQuantityRevenue(t(s, dir, "part"), t(s, dir, "lineitem"), "Brand#3")),
    "q20_dominant_suppliers" -> ((s, dir) =>
      Analytics.dominantSuppliers(t(s, dir, "part"), t(s, dir, "supplier"),
        t(s, dir, "lineitem"), t(s, dir, "nation"), "small", 1, 8, "NATION_7")),
    "q21_sole_blame" -> ((s, dir) =>
      Analytics.soleBlameSuppliers(t(s, dir, "supplier"), t(s, dir, "lineitem"),
        t(s, dir, "orders"))),
    "events_top3_per_user" -> ((s, dir) => Analytics.topEventsPerUser(t(s, dir, "events"), 3)),
    // EXACT percentiles via two-pass histogram-refinement selection —
    // the naive `percentile` formulation (O(group) reducer buffer) lives
    // on only in the spec that proves the two paths equal
    "events_percentiles" -> ((s, dir) =>
      ExactQuantiles.percentiles(t(s, dir, "events"), "event_type", "value",
        Seq("p50" -> 0.5, "p95" -> 0.95, "p99" -> 0.99))),
    "events_range_join" -> ((s, dir) => Analytics.eventPairsWithin(t(s, dir, "events"), 5)),
    "events_funnel" -> ((s, dir) =>
      Analytics.funnel(t(s, dir, "events"), Seq("view", "click", "purchase"))),
    "events_retention" -> ((s, dir) => Analytics.retention(t(s, dir, "events"))),

    // 7-day rolling revenue per type: daily pre-agg then a RANGE window
    // over epoch days (calendar-gap-correct, unlike a ROWS frame)
    "events_rolling_avg" -> ((s, dir) => Analytics.rollingRevenue(t(s, dir, "events"))),
    // per-event trailing 1h RANGE-frame velocity features (count + milli
    // value mass in the hour ending at each event)
    "events_trailing_window" -> ((s, dir) =>
      Analytics.trailingWindow(t(s, dir, "events"), 3600L * 1000000L)),
    // sample-ratio-mismatch audit per entry segment: the pre-metric
    // health check of the experimentation family
    "events_srm_check" -> ((s, dir) => OrderStats.srmCheck(t(s, dir, "events"))),
    // Benjamini–Hochberg FDR across the per-segment conversion tests
    // (embedded χ² critical table, division-free compares)
    "events_fdr_gate" -> ((s, dir) => OrderStats.fdrGate(t(s, dir, "events"))),
    // hash-deterministic Poisson bootstrap CI of per-type value means
    "events_bootstrap_ci" -> ((s, dir) => OrderStats.bootstrapCi(t(s, dir, "events"))),
    // per-day event-study panel around the midpoint intervention
    "events_event_study" -> ((s, dir) => OrderStats.eventStudy(t(s, dir, "events"))),
    // sharp RD at the activity threshold + the placebo cut
    "events_regression_discontinuity" -> ((s, dir) =>
      OrderStats.regressionDiscontinuity(t(s, dir, "events"), 67L, 10L, 150.0)),
    // group-sequential probe: 5 looks against the Pocock boundary
    "events_sequential_probe" -> ((s, dir) =>
      OrderStats.sequentialProbe(t(s, dir, "events"))),
    // exact Gini split-gain screen over per-user features vs conversion
    "events_split_gain" -> ((s, dir) => OrderStats.splitGain(t(s, dir, "events"))),
    // stratified matching estimator: per pre-activity stratum arm
    // comparison + matched-weight ATT (the observational companion to
    // CUPED/DiD)
    "events_propensity_strata" -> ((s, dir) =>
      OrderStats.propensityStrata(t(s, dir, "events"))),

    // Per-type 3-sigma anomaly rates: decimal moments, division-free test
    "events_anomaly" -> ((s, dir) => Analytics.zscoreOutliers(t(s, dir, "events"))),

    // Growth accounting: first-seen users per day + running total
    "events_new_users" -> ((s, dir) => Analytics.newUsers(t(s, dir, "events"))),

    // Column profiling (ANALYZE shape): a column-pruned scan per column,
    // each distinct two-phase — never one Expand-planned aggregate
    "lineitem_profile" -> ((s, dir) =>
      Profiling.tableProfile(t(s, dir, "lineitem"),
        Seq("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
          "l_extendedprice", "l_discount"),
        Seq("l_returnflag", "l_linestatus"))),

    // Referential-integrity audit: zeros on the consistent warehouse
    // edges, exact orphan counts on a deliberately-corrupted ingest batch
    // (every 10th event's user_id shifted out of the customer key space)
    "quality_orphan_fks" -> ((s, dir) => {
      import graft.ops.FkEdge
      val dirtyEvents = t(s, dir, "events").withColumn("user_id",
        when(col("event_id") % 10 === 0, col("user_id") + 1000000L)
          .otherwise(col("user_id")))
      Profiling.orphanAudit(Seq(
        FkEdge("customer", t(s, dir, "customer"), "c_nationkey",
          "nation", t(s, dir, "nation"), "n_nationkey"),
        FkEdge("events_ingest", dirtyEvents, "user_id",
          "customer", t(s, dir, "customer"), "c_custkey"),
        FkEdge("lineitem", t(s, dir, "lineitem"), "l_orderkey",
          "orders", t(s, dir, "orders"), "o_orderkey"),
        FkEdge("lineitem", t(s, dir, "lineitem"), "l_partkey",
          "part", t(s, dir, "part"), "p_partkey"),
        FkEdge("lineitem", t(s, dir, "lineitem"), "l_suppkey",
          "supplier", t(s, dir, "supplier"), "s_suppkey"),
        FkEdge("nation", t(s, dir, "nation"), "n_regionkey",
          "region", t(s, dir, "region"), "r_regionkey"),
        FkEdge("orders", t(s, dir, "orders"), "o_custkey",
          "customer", t(s, dir, "customer"), "c_custkey"),
        FkEdge("supplier", t(s, dir, "supplier"), "s_nationkey",
          "nation", t(s, dir, "nation"), "n_nationkey")))
    }),

    // approximate-FD discovery audit: g3 violation measure per declared
    // candidate (key FDs report 0; near-FDs report their dirt in ppm)
    "quality_fd_audit" -> ((s, dir) => {
      import Profiling.FdCandidate
      val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      Profiling.fdAudit(Seq(
        FdCandidate("lineitem.l_orderkey,l_linenumber->l_shipdate",
          li, Seq("l_orderkey", "l_linenumber"), "l_shipdate"),
        FdCandidate("lineitem.l_orderkey->l_returnflag", li, Seq("l_orderkey"), "l_returnflag"),
        FdCandidate("lineitem.l_orderkey->l_shipdate", li, Seq("l_orderkey"), "l_shipdate"),
        FdCandidate("lineitem.l_partkey->l_tax", li, Seq("l_partkey"), "l_tax"),
        FdCandidate("orders.o_custkey->o_orderpriority", o, Seq("o_custkey"), "o_orderpriority"),
        FdCandidate("orders.o_orderdate->o_orderstatus", o, Seq("o_orderdate"), "o_orderstatus"),
        FdCandidate("orders.o_orderkey->o_orderstatus", o, Seq("o_orderkey"), "o_orderstatus")))
    }),

    // same result via the heap TypedImperativeAggregate (O(n log k) with
    // k-bounded partials vs the window's per-partition full sort)
    "events_top3_agg" -> ((s, dir) => {
      import graft.functions.TopKFunctions
      TopKFunctions.register(s)
      t(s, dir, "events").filter(col("user_id") < 20)
        .groupBy(col("user_id"))
        .agg(TopKFunctions.topKByValue(col("value"), col("event_id"), 3).as("top"))
        .select(col("user_id"), posexplode(col("top")).as(Seq("i", "p")))
        .select(col("user_id"), col("p.id").as("event_id"), col("p.value").as("value"),
          (col("i") + 1).cast("long").as("rank"))
        .orderBy("user_id", "rank")
    }),

    // the SAME heap aggregate as genuine streaming state: complete-mode
    // aggregation over the chunked replay; the final emitted table equals
    // the batch top-k (k-bounded buffers merge across micro-batches)
    "events_topk_stream" -> ((s, dir) => withBatchShuffleWidth(s) {
      import graft.functions.TopKFunctions
      TopKFunctions.register(s)
      val name = chunksToMemory(s, chunkedEvents(s, dir), "topk_stream", "complete")(in =>
        in.filter(col("user_id") < 20)
          .groupBy(col("user_id"))
          .agg(TopKFunctions.topKByValue(col("value"), col("event_id"), 3).as("top")))
      s.table(name)
        .select(col("user_id"), posexplode(col("top")).as(Seq("i", "p")))
        .select(col("user_id"), col("p.id").as("event_id"), col("p.value").as("value"),
          (col("i") + 1).cast("long").as("rank"))
        .orderBy("user_id", "rank")
    }),

    // ---- Training-data pipeline: dedup ----
    "dedup_exact" -> ((s, dir) => Dedup.exact(Dedup.duplicatedCorpus(t(s, dir, "documents")))),
    "dedup_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashLsh(Dedup.nearDupCorpus(t(s, dir, "documents")), 0.5)),
    // MinHash estimator calibration: exact Jaccard per agreeing-slot bucket
    "dedup_lsh_calibration" -> ((s, dir) =>
      Dedup.minhashCalibration(Dedup.nearDupCorpus(t(s, dir, "documents")))),
    // banding design sweep: candidates/verified/recall per (b x r) cut of
    // the 16-slot signature — the S-curve tuning table
    "dedup_band_sweep" -> ((s, dir) =>
      Dedup.bandingSweep(Dedup.nearDupCorpus(t(s, dir, "documents")), 0.5)),
    "dedup_simhash" -> ((s, dir) =>
      Dedup.simhashPairs(Dedup.nearDupCorpus(t(s, dir, "documents")), 3)),
    "dedup_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccard(Dedup.nearDupCorpus(t(s, dir, "documents")), 0.5)),
    // PPJoin-style prefix filtering: LOSSLESS set-similarity join
    // (recall exactly 1.0 by construction, unlike banded MinHash)
    "dedup_prefix_join" -> ((s, dir) =>
      Dedup.prefixFilterJoin(Dedup.nearDupCorpus(t(s, dir, "documents")), 0.75)),
    "dedup_embedding_cosine" -> ((s, dir) => Dedup.embeddingNearDup(t(s, dir, "embeddings"), 0.3)),
    // random-hyperplane (cosine) LSH: label-free embedding near-dup
    "dedup_hyperplane_lsh" -> ((s, dir) => Dedup.hyperplaneLsh(t(s, dir, "embeddings"), 16, 4, 64, 0.3)),
    "ann_hyperplane_recall" -> ((s, dir) => Dedup.hyperplaneRecall(t(s, dir, "embeddings"), 16, 4, 64, 0.3)),
    // contrastive hard-negative mining: per anchor, the most-similar
    // vectors BELOW the near-dup threshold (+ skipped-positive audit)
    "emb_hard_negatives" -> ((s, dir) =>
      ops.Similarity.hardNegatives(t(s, dir, "embeddings"), 8, 5, 0.9)),

    // exact kNN graph build (every vector an anchor) — the persisted
    // substrate the three audits below read; build cost measured here
    "emb_knn_graph" -> ((s, dir) =>
      ops.Similarity.knnGraph(t(s, dir, "embeddings"), 10)),
    // riders over the once-per-process kNN parquet artifact (oracle
    // recomputes from scratch, proving artifact ≡ from-scratch)
    "emb_knn_hubness" -> ((s, dir) =>
      ops.Similarity.knnHubness(
        aT(s, knnArtifact(s, dir)), t(s, dir, "embeddings"), 10)),
    "emb_knn_agreement" -> ((s, dir) =>
      ops.Similarity.knnLabelAgreement(
        aT(s, knnArtifact(s, dir)), t(s, dir, "embeddings"), 10)),
    "emb_knn_outliers" -> ((s, dir) =>
      ops.Similarity.knnOutliers(aT(s, knnArtifact(s, dir)), 10, 25)),
    // JL ±1 projection audit: distance-preservation in exact fixed-point
    "emb_jl_distortion" -> ((s, dir) =>
      ops.Similarity.jlDistortion(t(s, dir, "embeddings"), 16, 32)),
    // exact-integer Adjusted Rand Index of the semantic clusters vs the
    // generative labels (external-validity audit; kNN-artifact rider)
    "emb_cluster_ari" -> ((s, dir) =>
      ops.Similarity.clusterAriAudit(
        aT(s, knnArtifact(s, dir)), t(s, dir, "embeddings"), 0.45)),
    // cosine->label-precision calibration curve (threshold selection)
    "emb_cosine_precision_curve" -> ((s, dir) =>
      ops.Similarity.cosinePrecisionCurve(
        aT(s, knnArtifact(s, dir)), t(s, dir, "embeddings"))),
    // SemDeDup: CC over above-threshold kNN edges (artifact rider +
    // the shared components loop)
    "dedup_semantic_clusters" -> ((s, dir) =>
      ops.Similarity.semanticClustersFrom(aT(s, knnArtifact(s, dir)), 0.45)),

    // Substring-level dedup: maximal cross-document duplicated token
    // spans (suffix-array-style) via positional shingles + islands merge
    "dedup_spans" -> ((s, dir) => Dedup.duplicateSpans(t(s, dir, "documents"), 8)),

    // Quote/subset detection: posting-list candidates on rare shingles,
    // exact containment verify (the pair shape Jaccard-LSH can't see)
    "dedup_containment" -> ((s, dir) =>
      Dedup.containment(Dedup.quotedCorpus(t(s, dir, "documents")), 4, 0.6)),

    // Continuous-ingest shape: new crawl batch checked against the
    // corpus index; corpus streams, batch broadcasts, no corpus self-join
    "dedup_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.incrementalLsh(docs.select(col("doc_id"), col("text")),
        Dedup.crawlBatch(docs), 0.5)
    }),
    // Same probe against the PERSISTED bucketed signature index: corpus
    // signatures read back bucket-pruned, zero corpus-side recompute
    "dedup_index_probe" -> ((s, dir) =>
      Dedup.lshIndexProbe(s, lshIndexPath(s, dir),
        Dedup.crawlBatch(t(s, dir, "documents")), 0.5)),

    // Streaming first-occurrence novelty: each micro-batch probed
    // against the persisted signature index, then appended to it —
    // continuous dedup with index maintenance (bucket compaction every
    // 2 batches) in the loop
    "dedup_stream_novelty" -> ((s, dir) => {
      val tmp = scratchDir("graft_snov")
      val chunks = chunkedDocs(s, dir)
      val schema = chunkSchema(s, chunks)
      Dedup.streamingNovelty(s, chunks, schema,
        s"$tmp/index", s"$tmp/out", s"$tmp/ckpt", 0.5)
      s.read.parquet(s"$tmp/out").select("doc_id", "novel", "dup_of").orderBy("doc_id")
    }),

    // Post-maintenance index integrity: after a streaming-novelty run
    // whose compaction rider rewrote every over-threshold bucket, the
    // index content must still equal the corpus's band rows exactly —
    // per-bucket counts + order-independent checksum vs the oracle's
    // from-documents rebuild
    "dedup_index_maintenance" -> ((s, dir) =>
      Dedup.indexContentAudit(s, compactedNoveltyIndex(s, dir))),
    // Incremental cluster-map maintenance: the PREFIX index+map build is
    // a process-cached artifact (the clusterArtifact convention — build
    // cost stays measured by dedup_clusters); each invocation copies
    // it fresh (maintenance mutates) and measures the two delta-only
    // batch merges. Oracle = the full from-scratch rebuild, so the gate
    // proves incremental == rebuild (see Dedup.maintainClusterMap).
    "dedup_cluster_maintenance" -> ((s, dir) => {
      val (idx, map) = maintPrefix(s, dir)
      Dedup.clusterMaintenanceRun(s,
        t(s, dir, "documents").select(col("doc_id"), col("text")), 0.5, idx, map)
    }),
    // Streaming document ingestion over the cluster-maintenance path
    // (round-12 directive #5): one ordered chunk file per micro-batch
    // merges into the cluster-map artifact through foreachBatch — the
    // _cluster_frontier's replay absorption under a real restartable
    // stream; same rebuild oracle as the batch query
    "dedup_stream_clusters" -> ((s, dir) => {
      val (idx0, map0) = maintPrefix(s, dir)
      val root = scratchDir("graft_cl_stream")
      val idx = s"$root/index"; val map = s"$root/map"
      ops.BucketSwap.linkTree(idx0, idx)
      ops.BucketSwap.linkTree(map0, map)
      val chunks = clusterChunks(s, dir)
      val schema = chunkSchema(s, chunks)
      Dedup.streamingClusterIngest(s, chunks, schema, idx, map, 0.5, s"$root/ckpt")
      s.read.parquet(map)
        .select(col("doc_id"), col("cluster"), col("cluster_size"))
        .orderBy("doc_id")
    }),
    // Incremental kNN-graph maintenance: the ANN-family twin of the
    // cluster-map merge (same artifact/frontier/aside-swap devices).
    // Exact = the IVF merge over a one-cell index (nlist = nprobe = 1:
    // the probe covers every vector); oracle = the from-scratch rebuild
    "emb_knn_maintenance" -> ((s, dir) => {
      val (cents, cells, knn) = ivfMaintPrefix(s, dir, 1)
      ops.Similarity.annMaintenanceRun(s,
        t(s, dir, "embeddings"), 10, 1, cents, cells, knn)
    }),
    // ANN-assisted maintenance (round-12 directive #1): the scored pass
    // probes 4 of the index's 32 cells and reads ONLY those cell
    // partitions, instead of scanning the full vector table — the
    // 1e9-vector shape. Output = per-anchor recall@k of the
    // ANN-maintained graph vs the exact from-scratch rebuild (the
    // ann_*_recall audit shape); the oracle unrolls the whole
    // deterministic merge, so the gate proves the ANN path end-to-end
    "emb_knn_maintenance_ann" -> ((s, dir) => {
      val (cents, cells, knn) = ivfMaintPrefix(s, dir, 32)
      val emb = t(s, dir, "embeddings")
      ops.Similarity.knnRecallAudit(
        ops.Similarity.annMaintenanceRun(s, emb, 10, 4, cents, cells, knn), emb, 10)
    }),
    // Streaming vector ingestion over the same maintenance path: one
    // chunk file per micro-batch merges into the kNN artifact through
    // foreachBatch (replay-absorbing frontiers); exact one-cell index,
    // same rebuild oracle
    "emb_knn_stream" -> ((s, dir) => knnStream(s, dir, 1, 1)),
    // ... and through the 32-cell index probing 4 cells per vector;
    // the oracle unrolls both sequential merges
    "emb_knn_stream_ann" -> ((s, dir) => knnStream(s, dir, 32, 4)),

    // Pair relation -> dedup groups: connected components over LSH pairs
    "dedup_clusters" -> ((s, dir) =>
      Dedup.nearDupClusters(Dedup.nearDupCorpus(t(s, dir, "documents")), 0.5)),
    // shingle-size design sweep (the third LSH knob beside banding and
    // threshold calibration)
    "dedup_shingle_sweep" -> ((s, dir) =>
      Dedup.shingleSweep(t(s, dir, "documents"), Seq(2, 3, 5))),
    // cluster-size profile (rider on the cluster artifact; singleton row
    // closes the accounting to the corpus size)
    "dedup_cluster_profile" -> ((s, dir) =>
      Dedup.clusterProfileFrom(
        Dedup.nearDupCorpus(t(s, dir, "documents").select(col("doc_id"), col("text"))),
        aT(s, clusterArtifact(s, dir)))),
    // The large-star/small-star loop on DEEP components: one
    // shuffled-label path per doc_id residue class (near-dup pairs only
    // ever form shallow ones); closed-form oracle = min id per class
    "dedup_clusters_star" -> ((s, dir) =>
      Dedup.connectedComponents(
        Dedup.shuffledPathPairs(t(s, dir, "documents").select(col("doc_id")), 8))),
    // The keep-one decision after clustering: longest member survives,
    // every doc flagged canonical/dropped (singletons are their own
    // cluster). Rider over the persisted cluster artifact — see
    // clusterArtifact for the one-build-many-consumers rationale.
    "dedup_canonical" -> ((s, dir) =>
      Dedup.canonicalDocsFrom(Dedup.nearDupCorpus(t(s, dir, "documents")),
        aT(s, clusterArtifact(s, dir)))),
    // Provenance view of duplication: near-dup pairs as a source-pair matrix
    "dedup_cross_source" -> ((s, dir) =>
      Dedup.crossSourceDup(t(s, dir, "documents"), 0.5)),
    // Cluster-granular train/val/test split; n_leaked_clusters proves 0
    // leakage. Rider over the persisted cluster artifact.
    "dedup_leakage_split" -> ((s, dir) =>
      Dedup.leakageSafeSplitFrom(Dedup.nearDupCorpus(t(s, dir, "documents")),
        aT(s, clusterArtifact(s, dir)), testPct = 10, valPct = 10)),
    // Mixture-design view: per-source token mass surviving keep-one
    // dedup. Rider over the persisted cluster artifact.
    "dedup_effective_tokens" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.effectiveTokensFrom(docs, Dedup.nearDupCorpus(docs),
        aT(s, clusterArtifact(s, dir)))
    }),
    // Composed curation pass: ONE cluster build feeds canonicalization,
    // token accounting, and the leakage-safe split (shared-prefix reuse)
    "dedup_pipeline_shared" -> ((s, dir) =>
      Dedup.curationPipeline(t(s, dir, "documents"), 0.5, testPct = 10, valPct = 10)),

    // ---- Similarity search ----
    "ann_bruteforce_topk" -> ((s, dir) => Similarity.bruteForceTopK(t(s, dir, "embeddings"), 8, 5)),
    "ann_ivf_topk" -> ((s, dir) => Similarity.ivfTopK(t(s, dir, "embeddings"), 8, 5, 32, 2)),
    // inverted-list balance: the skew number probe latency is sized by
    "ann_ivf_balance" -> ((s, dir) => Similarity.ivfBalance(t(s, dir, "embeddings"), 32)),
    // recall-vs-nprobe tuning curve: what another probe width buys
    "ann_nprobe_sweep" -> ((s, dir) =>
      Similarity.ivfNprobeSweep(t(s, dir, "embeddings"), 8, 5, 32, Seq(1, 2, 4, 8))),
    // PIVOT cross-tab: nation x order-priority revenue in one pass
    "q_pivot_revenue" -> ((s, dir) =>
      Analytics.pivotRevenue(t(s, dir, "orders"), t(s, dir, "customer"), t(s, dir, "nation"))),
    // weekday seasonality with engine-portable epoch-day dow arithmetic
    "events_weekday_profile" -> ((s, dir) => Analytics.weekdayProfile(t(s, dir, "events"))),
    // exact equi-depth deciles with ntile semantics via two-pass
    // selection — no per-type single-reducer sort (the ntile window
    // formulation survives in the spec as the equality witness)
    // exact Shapley-value attribution over pre-purchase touchsets
    "events_shapley_attribution" -> ((s, dir) =>
      Analytics.shapleyAttribution(t(s, dir, "events"))),
    // Markov removal-effect attribution: exact integer Cramer solve of
    // the absorbing journey chain (driver BigInt = oracle HUGEINT)
    "events_markov_attribution" -> ((s, dir) =>
      Analytics.markovAttribution(t(s, dir, "events"))),
    // cumulative-gains / lift table of activity as a conversion score
    "events_gains_curve" -> ((s, dir) => Analytics.gainsCurve(t(s, dir, "events"))),
    // Qini uplift curve (treat vs control per cumulative decile)
    "events_qini_curve" -> ((s, dir) => Analytics.qiniCurve(t(s, dir, "events"), 150.0)),
    // empirical-Bayes shrinkage of per-brand return rates
    "lineitem_return_shrinkage" -> ((s, dir) =>
      Analytics.returnShrinkage(t(s, dir, "lineitem"), t(s, dir, "part"), 200L)),
    // anneal-phase selection: top-quality doc cut with exact token share
    "text_anneal_selection" -> ((s, dir) =>
      TextAnalysis.annealSelection(t(s, dir, "documents"), 20)),
    // matched-sample Laspeyres/Paasche monthly price indices
    "lineitem_price_index" -> ((s, dir) => Analytics.priceIndex(t(s, dir, "lineitem"))),
    // ER blocking-design audit: recall + candidate volume per scheme
    "er_blocking_recall" -> ((s, dir) =>
      EntityResolution.blockingRecall(t(s, dir, "part"))),
    "events_value_deciles" -> ((s, dir) =>
      ExactQuantiles.deciles(t(s, dir, "events"), "event_type", "value")),
    // Pareto 80/20: ranked cumulative revenue share over per-supplier partials
    "supplier_pareto" -> ((s, dir) =>
      Analytics.supplierPareto(t(s, dir, "lineitem"), t(s, dir, "supplier"), 50)),
    // HHI concentration of supplier revenue per nation, exact ppm + DOJ bands
    "supplier_hhi" -> ((s, dir) =>
      Analytics.supplierHhi(t(s, dir, "lineitem"), t(s, dir, "supplier"),
        t(s, dir, "nation"))),
    "dedup_ivf_blocked" -> ((s, dir) => Similarity.ivfNearDup(t(s, dir, "embeddings"), 32, 0.3)),
    // SemDeDup-style cluster curation artifact: IVF cells x text signals
    "emb_cluster_profile" -> ((s, dir) =>
      Similarity.clusterProfile(t(s, dir, "embeddings"), t(s, dir, "documents"), 32)),

    // Storage-compression audit: int8 scalar quantization of embeddings
    "emb_quantize_int8" -> ((s, dir) => Similarity.quantizeInt8(t(s, dir, "embeddings"))),
    // Greedy k-center coreset selection in exact-integer int8 code space
    "emb_kcenter_coreset" -> ((s, dir) => Similarity.kCenterCoreset(t(s, dir, "embeddings"), 8)),

    // One Lloyd iteration over the IVF cells: index-quality refinement
    "emb_kmeans_refine" -> ((s, dir) => Similarity.kmeansRefine(t(s, dir, "embeddings"), 32)),
    // PQ/OPQ preprocessing audit: per-dimension whitening statistics
    "emb_whitening" -> ((s, dir) => Similarity.whiten(t(s, dir, "embeddings"))),

    // Product quantization: 4 subspace codes/vector + reconstruction MSE
    "emb_pq_codes" -> ((s, dir) => Similarity.pqQuantize(t(s, dir, "embeddings"), 4, 16)),

    // PQ asymmetric-distance top-k: queries served from the compressed
    // codes via broadcast distance tables — full vectors never touched
    "ann_pq_adc" -> ((s, dir) => Similarity.pqAdcTopK(t(s, dir, "embeddings"), 8, 5, 4, 16)),

    // Combined IVF+PQ serving (FAISS IVFPQ shape): probe cells, then ADC
    // over codes of probed-cell members only — both reductions multiply
    "ann_ivfpq_topk" -> ((s, dir) =>
      Similarity.ivfPqTopK(t(s, dir, "embeddings"), 8, 5, 32, 2, 4, 16)),

    // Index-quality audit: recall@k of IVF vs the exact baseline
    "ann_recall_audit" -> ((s, dir) =>
      Similarity.ivfRecallAudit(t(s, dir, "embeddings"), 8, 5, 32, 2)),

    // graded ranking quality: nDCG@k of the IVF retrieval vs the exact
    // ordering (recall counts hits; this also charges wrong order)
    "ann_ndcg_audit" -> ((s, dir) =>
      Similarity.ivfNdcgAudit(t(s, dir, "embeddings"), 8, 5, 32, 2)),

    // fixed-point weighted PageRank over the part co-purchase graph —
    // 6 integer-arithmetic iterations, bit-identical in both engines
    "graph_pagerank" -> ((s, dir) => Graph.pagerank(t(s, dir, "lineitem"), 6)),
    // HITS hubs/authorities on the bipartite customer→part purchase graph
    "graph_hits" -> ((s, dir) => Graph.hits(t(s, dir, "orders"), t(s, dir, "lineitem"), 4)),

    // sync weighted label propagation: deterministic community detection
    // (4 BIGINT rounds, smallest-label tie-break, weight-1 self-vote)
    "graph_communities" -> ((s, dir) => Graph.labelPropagation(t(s, dir, "lineitem"), 4)),

    // triangle census + clustering coefficient over the support-filtered
    // co-purchase core (the support threshold bounds enumeration cost)
    "graph_triangles" -> ((s, dir) => Graph.triangleStats(t(s, dir, "lineitem"), 2)),
    // local clustering-coefficient deciles (transitivity concentration)
    "graph_local_clustering" -> ((s, dir) => Graph.localClustering(t(s, dir, "lineitem"), 2)),
    // rich-club φ(k) sweep from census folds (one pass, no per-k scan)
    "graph_rich_club" -> ((s, dir) => Graph.richClub(t(s, dir, "lineitem"), 2, Seq(2, 4, 8, 16))),
    // distributed sweep-line: peak simultaneous 5-minute activity intervals
    "events_peak_concurrency" -> ((s, dir) => Analytics.peakConcurrency(t(s, dir, "events"), 300L)),
    // exact-ppm Gini + top-decile share of per-part revenue
    "lineitem_revenue_gini" -> ((s, dir) => Analytics.revenueGini(t(s, dir, "lineitem"))),
    // exact 4-cycle census via the two-diagonal identity
    "graph_squares" -> ((s, dir) => Graph.squares(t(s, dir, "lineitem"), 2)),
    // orders->lineitem fan-out histogram incl. the fanout-0 row
    "quality_fanout_profile" -> ((s, dir) =>
      Profiling.fanoutProfile(t(s, dir, "orders"), t(s, dir, "lineitem"))),

    // 4 synchronous peel rounds of the 2-core over the support-2 core
    // (fixed rounds, all-integral — oracle unrolls them as CTEs)
    "graph_kcore" -> ((s, dir) => Graph.kCore(t(s, dir, "lineitem"), 2, 2, 4)),
    // 3-truss: edge peeling by triangle support (keep edges in >= 1
    // surviving triangle), 3 rounds — the support core is triangle-sparse,
    // so k=3 is the non-degenerate truss on these fixtures
    "graph_ktruss" -> ((s, dir) => Graph.kTruss(t(s, dir, "lineitem"), 2, 3, 3)),

    // multi-source BFS hop distances from the 3 highest-degree hubs
    // (min-plus frontier relaxation, 4 unrolled integral rounds)
    "graph_bfs_reach" -> ((s, dir) => Graph.bfsReach(t(s, dir, "lineitem"), 2, 3, 4)),
    // bounded-hop closeness centrality per hub: labeled multi-source BFS,
    // exact integer hop mass (completes the centrality family beside
    // pagerank/HITS)
    "graph_closeness" -> ((s, dir) => Graph.closeness(t(s, dir, "lineitem"), 2, 3, 4)),

    // common-neighbor / Jaccard link prediction over non-adjacent core
    // pairs; wedge-bounded candidates, partial top-k cut
    "graph_link_predict" -> ((s, dir) => Graph.linkPredict(t(s, dir, "lineitem"), 2, 20)),
    // Edge-embeddedness census: the weak-tie (zero-common-neighbor) structure
    "graph_weak_ties" -> ((s, dir) => Graph.weakTies(t(s, dir, "lineitem"), 2)),
    // Hash-seeded random-walk corpus (DeepWalk sequences), fully deterministic
    "graph_walk_corpus" -> ((s, dir) => Graph.walkCorpus(t(s, dir, "lineitem"), 2, 6, 3, 5)),
    // Per-hub local clustering coefficient (ego-network density)
    "graph_ego_density" -> ((s, dir) => Graph.egoDensity(t(s, dir, "lineitem"), 2, 20)),

    // Compressed-index audit: recall@k of IVF+PQ vs exact L2 (probe loss
    // + quantization loss — the number m/ncode/nprobe are tuned against)
    // Matryoshka truncation: recall@k retrieving with only the first d
    // components — the index-size-vs-quality tradeoff curve
    "ann_dim_truncation" -> ((s, dir) =>
      Similarity.dimTruncationAudit(t(s, dir, "embeddings"), 8, 5, Seq(8, 16, 32))),

    "ann_ivfpq_recall" -> ((s, dir) =>
      Similarity.ivfPqRecallAudit(t(s, dir, "embeddings"), 8, 5, 32, 2, 4, 16)),

    // ---- Text analysis ----
    "text_language_id" -> ((s, dir) => TextAnalysis.languageId(t(s, dir, "documents"))),
    "text_quality" -> ((s, dir) => TextAnalysis.qualityScore(t(s, dir, "documents"))),
    // within-source percentile gates vs one global cut (flip audit)
    "text_quality_source_norm" -> ((s, dir) =>
      TextAnalysis.sourceNormalizedQuality(t(s, dir, "documents"), 0.65)),
    // exact KS (sup-CDF) drift, first vs second time-half, unit bins
    "events_ks_drift" -> ((s, dir) => OrderStats.ksDrift(t(s, dir, "events"), 1000, 50000L)),
    // split-conformal interval radius + held-out coverage, alpha = 10%
    "events_conformal_coverage" -> ((s, dir) =>
      TimeSeries.conformalCoverage(t(s, dir, "events"), 100000L)),
    "text_token_counts" -> ((s, dir) => TextAnalysis.tokenCounts(t(s, dir, "documents"))),
    // per-language tokenizer-efficiency audit (context-budget driver)
    "text_tokenizer_fertility" -> ((s, dir) =>
      TextAnalysis.tokenizerFertility(t(s, dir, "documents"))),
    // exact pairwise domain-shift (total-variation, cross-multiplied ppm)
    "text_source_tvd" -> ((s, dir) => TextAnalysis.sourceTvd(t(s, dir, "documents"))),
    "text_fingerprint" -> ((s, dir) => TextAnalysis.fingerprint(t(s, dir, "documents"))),
    "text_tfidf_top_terms" -> ((s, dir) => TextAnalysis.tfidfTopTerms(t(s, dir, "documents"))),
    // per-token Fano-factor burstiness (content-vs-function words)
    "text_burstiness" -> ((s, dir) => TextAnalysis.burstiness(t(s, dir, "documents"))),
    // per-source vocabulary growth at doc-count checkpoints (Heaps audit)
    "text_vocab_growth" -> ((s, dir) =>
      TextAnalysis.vocabGrowth(t(s, dir, "documents"), Seq(5, 10, 25, 50, 100, 250))),
    // Okapi BM25 ranked retrieval, broadcast query workload, per-query top-k
    "text_bm25_topk" -> ((s, dir) => TextAnalysis.bm25TopK(t(s, dir, "documents"), 5)),

    // hybrid RAG retrieval: BM25 top-20 ⊕ exact-cosine top-20 fused by
    // reciprocal-rank fusion (K=60) on integral ranks, final top-10
    "rag_hybrid_rrf" -> ((s, dir) =>
      Retrieval.hybridRrf(t(s, dir, "documents"), t(s, dir, "embeddings"), 20, 10)),
    // context assembly: prefix of each BM25 top-10 that fits 256 tokens
    "rag_context_packing" -> ((s, dir) =>
      Retrieval.contextPacking(t(s, dir, "documents"), 10, 256L)),
    // pseudo-relevance feedback (RM3 shape): top-3 feedback docs donate
    // their 2 strongest non-query terms, second BM25 pass re-ranks
    "rag_query_expansion" -> ((s, dir) =>
      Retrieval.queryExpansion(t(s, dir, "documents"), fdbk = 3, expand = 2, k = 10)),
    // tokenizer application: first-12-token encode against a top-16 vocab
    "text_token_ids" -> ((s, dir) => TextAnalysis.tokenIds(t(s, dir, "documents"), 16, 12)),
    "text_hash_sample" -> ((s, dir) => TextAnalysis.hashSample(t(s, dir, "documents"), 10)),

    // Intra-doc repetition ratio (boilerplate / degenerate-text gate)
    "text_repetition" -> ((s, dir) => TextAnalysis.repetition(t(s, dir, "documents"))),

    // Tokenizer induction: top BPE merge candidates (bigram counts, top-N)
    "text_bpe_merges" -> ((s, dir) => TextAnalysis.bpeMerges(t(s, dir, "documents"), 20)),

    // Train/test contamination: corpus docs sharing ≥3 shingles with the
    // deterministic benchmark subset (doc_id % 97 == 0)
    "text_contamination" -> ((s, dir) =>
      Dedup.benchmarkContamination(t(s, dir, "documents"), 97, 3)),

    // Bloom-pre-filtered contamination: benchmark shingles folded into a
    // constant-size broadcast bit array; corpus probes map-side and only
    // candidates reach the exact verify (false-positive margin reported)
    "text_contamination_bloom" -> ((s, dir) =>
      Dedup.bloomContamination(t(s, dir, "documents"), 97, 3)),

    // Stratified deterministic sampling: per-class 1-in-r rates (class
    // rebalancing audit; purchase kept whole, error downweighted 20x)
    "events_stratified_sample" -> ((s, dir) =>
      Sampling.stratifiedSummary(t(s, dir, "events"), "event_type", "event_id",
        Map("click" -> 2, "error" -> 20, "signup" -> 10, "view" -> 5), 1)),

    // Cross-doc boilerplate: spans shared with >= 3 other documents
    "text_boilerplate" -> ((s, dir) =>
      TextAnalysis.boilerplate(t(s, dir, "documents"), 3)),

    // Corpus-trained unigram LM fluency scoring (CCNet-style skeleton)
    "text_unigram_logprob" -> ((s, dir) =>
      TextAnalysis.unigramLogprob(t(s, dir, "documents"))),

    // Bigram LM with interpolated unigram backoff — the next LM-filter step
    "text_bigram_logprob" -> ((s, dir) =>
      TextAnalysis.bigramLogprob(t(s, dir, "documents"), 0.75)),

    // Kneser–Ney smoothed bigram LM (d=3/4), exact rational ppb, top-50
    "text_kn_probability" -> ((s, dir) =>
      TextAnalysis.knProbability(t(s, dir, "documents"), 50)),

    // Vocab sizing: occurrence coverage of the top-S terms per size S
    "text_vocab_coverage" -> ((s, dir) =>
      TextAnalysis.vocabCoverage(t(s, dir, "documents"), Seq(8, 16, 32))),

    // Domain-weights rebalancing: actual vs target source composition
    "text_source_mix" -> ((s, dir) =>
      Curation.sourceMix(t(s, dir, "documents"),
        Map("src0" -> 3.0, "src1" -> 2.0), 1.0)),

    // Temperature-scaled mixing: weight ~ tokens^alpha, epochs at a budget
    "text_temperature_mix" -> ((s, dir) =>
      Curation.temperatureMix(t(s, dir, "documents"), alpha = 0.5,
        budgetTokens = 1000000L)),

    // Crawl-order diversity signal: fraction of shingles unseen in earlier docs
    "text_ngram_novelty" -> ((s, dir) =>
      TextAnalysis.ngramNovelty(t(s, dir, "documents"))),

    // Context-window packing plan: token-budget bins per hash bucket
    "text_pack_bins" -> ((s, dir) =>
      Curation.packBins(t(s, dir, "documents"), budget = 512, nBuckets = 8)),

    // Percentile-anchored quality gate: keep the top 60% by quality —
    // the threshold comes from exact two-pass selection (the unbounded
    // `percentile` formulation survives in the equality spec only)
    "text_quality_gate" -> ((s, dir) =>
      Curation.qualityGateTwoPass(t(s, dir, "documents"), 0.6)),

    // PII scrub: redact emails/URLs/phones/ID runs over a deterministic
    // synthetic-PII corpus, per-category counts as the audit trail
    "text_pii_scrub" -> ((s, dir) =>
      Scrub.scrubPii(Scrub.taintedCorpus(t(s, dir, "documents")))),

    // k-anonymity release audit: ROLLUP generalization ladder over the
    // customer quasi-identifiers, rows-at-risk share per level
    "quality_k_anonymity" -> ((s, dir) =>
      Scrub.kAnonymity(t(s, dir, "customer"), 5)),

    // Quality-weighted deterministic sampling: P(keep) = quality, no RNG
    "text_importance_sample" -> ((s, dir) =>
      Curation.importanceSample(t(s, dir, "documents"), 10000)),

    // Composed curation funnel: quality gate → exact-dedup canonical →
    // per-language stratified keep, with per-stage survivor counts
    "pipeline_curation" -> ((s, dir) =>
      Curation.funnel(t(s, dir, "documents"), 0.65,
        Map("en" -> 2, "de" -> 3, "es" -> 3, "fr" -> 3), 1)),

    // Repetition truncation: cut each doc at its first repeated 3-gram
    // (the degenerate-generation cutoff, as a transformation)
    "text_repetition_truncate" -> ((s, dir) =>
      TextAnalysis.repetitionTruncate(t(s, dir, "documents"))),

    // Skew devices, oracle-proven result-identical to the plain forms:
    // salted exact count-distinct (hot key's values scatter over salt
    // partials) and a salted broadcast-defeating join
    "events_salted_distinct" -> ((s, dir) =>
      Salting.saltedCountDistinct(t(s, dir, "events"), "event_type", "user_id", 8)
        .orderBy("event_type")),

    "events_salted_join" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id").as("k"), col("value"))
      val dim = t(s, dir, "customer")
        .select(col("c_custkey").as("k"), col("c_mktsegment"))
      Salting.saltedJoin(ev, dim, "k", 8)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
        .orderBy("c_mktsegment")
    }),

    // LSH tuning audit: precision/recall of the banded candidate set vs
    // a df-bounded exact-Jaccard ground truth (the band/row knob's number)
    "dedup_lsh_audit" -> ((s, dir) =>
      Dedup.lshQualityAudit(t(s, dir, "documents"), 0.8, 8)),

    // b-bit MinHash compression audit: exact vs full-sig vs 1-bit Jaccard
    "dedup_bbit_minhash" -> ((s, dir) =>
      Dedup.bbitMinhashAudit(t(s, dir, "documents"))),

    // Z-order write layout: per-file min/max pruning stats on BOTH dims
    "events_zorder_layout" -> ((s, dir) =>
      Layout.zorderFileStats(t(s, dir, "events"), 16)),

    // Hilbert-curve layout audit: same pruning-stats contract as z-order,
    // tighter per-file rectangles (no Z-shaped locality jumps)
    "events_hilbert_layout" -> ((s, dir) =>
      Layout.hilbertFileStats(t(s, dir, "events"), 16)),

    // OPTIMIZE bin-packing: sliver files from the z-order layout grouped
    // to a target row budget by quantized cumulative assignment
    "files_compaction_plan" -> ((s, dir) =>
      Layout.compactionPlan(Layout.zorderFileStats(t(s, dir, "events"), 64), 2000L)),

    // Hash vs equi-width range placement loads; rel_load >> 1 = straggler
    "events_partition_balance" -> ((s, dir) =>
      Layout.partitionBalance(t(s, dir, "events"), 16)),

    // Mergeable KMV distinct sketch vs the exact count (k-bounded partials)
    "events_approx_distinct" -> ((s, dir) =>
      Sketches.approxDistinctUsers(t(s, dir, "events"), 64)),

    // Histogram-sketch percentiles (bounded mergeable partials) vs exact audit
    "events_quantile_sketch" -> ((s, dir) =>
      Sketches.valueQuantileSketch(t(s, dir, "events"), 64)),

    // Count-Min heavy hitters: d×w bounded counter grid vs exact top-N audit
    "events_heavy_hitters" -> ((s, dir) =>
      Sketches.countMinHeavyHitters(t(s, dir, "events"), 4, 256, 20)),

    // Theta-sketch segment overlap: distinct union/intersection/Jaccard
    // per event-type pair from k-bounded KMV sketches vs exact audit
    "events_segment_overlap" -> ((s, dir) =>
      Sketches.segmentOverlap(t(s, dir, "events"), 64)),

    // Quality gate with a histogram-sketch threshold (single bounded agg)
    "text_quality_gate_sketch" -> ((s, dir) =>
      Curation.qualityGateSketch(t(s, dir, "documents"), 0.6, 64)),

    // ---- Multimodal (real ImageIO PNG codec; synthetic deterministic
    // images so the lossless round-trip is oracle-checkable) ----
    "mm_features" -> ((s, dir) => Multimodal.featurize(t(s, dir, "documents"))),
    // Variance-of-Laplacian blur scoring through the real ImageIO codec
    "mm_sharpness" -> ((s, dir) => Multimodal.sharpness(t(s, dir, "documents"))),
    // Sobel edge census via the real PNG codec; edge fraction in ppm
    "mm_edge_density" -> ((s, dir) => Multimodal.edgeDensity(t(s, dir, "documents"), 128)),
    // 8-bucket intensity histogram + modal bucket + division-free Simpson
    // uniformity through the real PNG codec
    "mm_color_histogram" -> ((s, dir) => Multimodal.colorHistogram(t(s, dir, "documents"))),
    // letterbox/pillarbox crop detection: borders MEASURED from the real
    // ImageIO-decoded raster; oracle recomputes from the synth formula
    "mm_letterbox" -> ((s, dir) => Multimodal.letterboxDetect(t(s, dir, "documents"))),
    "mm_frame_sample" -> ((s, dir) =>
      Multimodal.sampleFrames(Multimodal.payloads(t(s, dir, "documents")), 32, 8)),
    "mm_resize" -> ((s, dir) => Multimodal.resize(t(s, dir, "documents"), 8)),
    // real JDK WAV codec path: synth PCM → WAV encode → AudioSystem decode
    "mm_audio_features" -> ((s, dir) => Multimodal.audioFeaturize(t(s, dir, "documents"))),
    // container demux + sparse ImageIO decode of only the sampled frames
    "mm_video_frames" -> ((s, dir) => Multimodal.videoFrameFeatures(t(s, dir, "documents"), 2, 4)),

    // image near-dup via average-hash over the REAL PNG decode: banded
    // signature blocking + hamming verify recovers the planted noisy twins
    "mm_phash_dedup" -> ((s, dir) => Multimodal.phashPairs(t(s, dir, "documents"), 3))
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] = Map(
    "cdc_normalize" -> s"$clSql ORDER BY pos",

    "cdc_lww_state" ->
      (ChangelogApply.materializeWideSql(clSql, Seq("value")) + " ORDER BY tbl, pk"),

    "cdc_view_maintenance" -> ChangelogApply.viewMaintenanceSql(clSql),

    "cdc_join_view" -> ChangelogApply.joinViewMaintenanceSql(clSql),

    "cdc_heartbeat_gaps" -> ChangelogApply.heartbeatGapsSql(clSql),

    "cdc_snapshot_diff" -> ChangelogApply.snapshotDiffSql(clSql),

    "cdc_time_weighted_avg" -> ChangelogApply.timeWeightedAvgSql(clSql),

    "cdc_reconcile_ranges" -> {
      val h = "CAST(concat('0x', substr(md5(concat_ws('|', pk, pos, " +
        "CAST(value AS DECIMAL(18,2)))), 1, 15)) AS BIGINT)"
      s"""WITH cl AS ($clSql),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY tbl, pk ORDER BY pos DESC) AS rn
         |  FROM cl),
         |src AS (SELECT tbl, pk, pos, value FROM ranked WHERE rn = 1 AND op <> 'D'),
         |tgt AS (
         |  SELECT tbl, pk, pos,
         |         CASE WHEN pk % 89 = 7 THEN value + 1.0e0 ELSE value END AS value
         |  FROM src WHERE NOT pk % 97 = 13),
         |ssum AS (
         |  SELECT tbl, pk // 64 AS chunk, count(*) AS n_src,
         |         sum(CAST($h AS DECIMAL(38,0))) AS h_src
         |  FROM src GROUP BY 1, 2),
         |tsum AS (
         |  SELECT tbl, pk // 64 AS chunk, count(*) AS n_tgt,
         |         sum(CAST($h AS DECIMAL(38,0))) AS h_tgt
         |  FROM tgt GROUP BY 1, 2),
         |cmp AS (
         |  SELECT tbl, chunk,
         |         coalesce(n_src, 0) AS n_src, coalesce(n_tgt, 0) AS n_tgt,
         |         coalesce(h_src, CAST(0 AS DECIMAL(38,0))) =
         |           coalesce(h_tgt, CAST(0 AS DECIMAL(38,0))) AS checksum_match
         |  FROM ssum FULL OUTER JOIN tsum USING (tbl, chunk))
         |SELECT tbl, chunk, n_src, n_tgt, checksum_match
         |FROM cmp WHERE NOT checksum_match OR n_src <> n_tgt
         |ORDER BY tbl, chunk""".stripMargin
    },

    "cdc_log_compaction" ->
      (ChangelogApply.compactLogSql(clSql, 0.6) + " ORDER BY tbl, pk"),

    "cdc_lww_state_wide" ->
      (ChangelogApply.materializeWideSql(wideClSql, Normalizer.payloadCols) +
        " ORDER BY tbl, pk"),

    "cdc_changed_fields" ->
      (ChangelogApply.changedFieldSetSql(wideClSql, Normalizer.payloadCols) +
        " ORDER BY tbl, pk, pos"),

    "cdc_typed_decode" ->
      s"""WITH cl AS ($wideClSql)
         |SELECT event_type, count(*) AS n_events,
         |       count(DISTINCT tbl) AS n_tables,
         |       CAST(sum(k) AS BIGINT) AS sum_k,
         |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         |FROM cl GROUP BY event_type ORDER BY event_type""".stripMargin,

    "cdc_dlq_stats" ->
      s"""WITH cl AS ($wideClSql),
         |d AS (
         |  SELECT CASE WHEN pos % 101 = 0 THEN 't9' ELSE tbl END AS tbl,
         |         CASE WHEN pos % 101 = 0 THEN 'unregistered_table'
         |              WHEN pos % 97 = 0 THEN 'unparseable'
         |              ELSE 'ok' END AS disposition
         |  FROM cl)
         |SELECT tbl, count(*) AS n_events,
         |       count(CASE WHEN disposition = 'ok' THEN 1 END) AS n_ok,
         |       count(CASE WHEN disposition = 'unparseable' THEN 1 END) AS n_unparseable,
         |       count(CASE WHEN disposition = 'unregistered_table' THEN 1 END) AS n_unregistered
         |FROM d GROUP BY tbl ORDER BY tbl""".stripMargin,

    // the rename round-trips exactly, so the oracle is the raw aggregate;
    // n_decoded = n_events is the completeness claim (a final-schema-only
    // decode would halve it)
    "cdc_evolving_decode" ->
      s"""WITH cl AS ($wideClSql)
         |SELECT tbl, count(*) AS n_events, count(value) AS n_decoded,
         |       CAST(sum(k) AS BIGINT) AS sum_k,
         |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_amount
         |FROM cl GROUP BY tbl ORDER BY tbl""".stripMargin,

    "cdc_snapshot_merge" ->
      s"""WITH cl AS ($clSql),
         |last AS (
         |  SELECT pk, op, value FROM (
         |    SELECT pk, op, value, row_number() OVER (PARTITION BY pk ORDER BY pos DESC) AS rn
         |    FROM cl) WHERE rn = 1)
         |SELECT coalesce(b.c_custkey, d.pk) AS key,
         |       coalesce(d.value, b.c_acctbal) AS value,
         |       CASE WHEN d.pk IS NULL THEN 'B' ELSE d.op END AS src
         |FROM customer b FULL JOIN last d ON b.c_custkey = d.pk
         |WHERE NOT coalesce(d.op = 'D', FALSE)
         |ORDER BY key""".stripMargin,

    // CDC correctness theorem: snapshot(pos<low) ⊎ replay[low,high) ≡ LWW(pos<high)
    "cdc_catchup_range" ->
      s"""WITH cl AS ($clSql),
         |bounds AS (SELECT max(pos) // 4 AS low, 3 * max(pos) // 4 AS high FROM cl),
         |sliced AS (SELECT cl.* FROM cl, bounds WHERE cl.pos < bounds.high),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY tbl, pk ORDER BY pos DESC) AS rn
         |  FROM sliced)
         |SELECT tbl, pk, op, ts, pos, value FROM ranked
         |WHERE rn = 1 AND op <> 'D' ORDER BY tbl, pk""".stripMargin,

    "cdc_router_distribution" ->
      s"""WITH cl AS ($clSql)
         |SELECT ${Routing.partitionSql(32)} AS part_id,
         |       count(*) AS n_events,
         |       count(DISTINCT (tbl, pk)) AS n_keys
         |FROM cl GROUP BY 1 ORDER BY 1""".stripMargin,

    "cdc_offset_frontier" ->
      s"""WITH cl AS ($clSql),
         |parts AS (
         |  SELECT ${Routing.partitionSql(8)} AS part_id,
         |         max(pos) AS max_applied_pos, count(*) AS n_events
         |  FROM cl GROUP BY 1)
         |SELECT part_id, max_applied_pos, n_events,
         |       min(max_applied_pos) OVER () AS committable_pos
         |FROM parts ORDER BY part_id""".stripMargin,

    "cdc_gtid_frontier" -> Routing.gtidFrontierSql(clSql,
      "'s' || CAST(pk % 3 AS VARCHAR)", "pos"),

    "cdc_table_filter" ->
      s"""WITH cl AS ($clSql)
         |SELECT tbl, count(*) AS n_events FROM cl
         |WHERE regexp_matches(tbl, '^t.*$$') AND NOT regexp_matches(tbl, '^t3$$')
         |GROUP BY tbl ORDER BY tbl""".stripMargin,

    "cdc_watermark_stats" ->
      (Watermark.lifecycleStatsSql(clSql,
        "(SELECT max(pos) // 2 FROM cl)", "(SELECT max(pos) FROM cl)") +
        " ORDER BY status"),

    "cdc_filter_stats" ->
      s"""WITH cl AS ($clSql)
         |SELECT tbl,
         |       (regexp_matches(tbl, '^t.*$$') AND NOT regexp_matches(tbl, '^t3$$')) AS included,
         |       count(*) AS n_events
         |FROM cl GROUP BY tbl ORDER BY tbl""".stripMargin,

    "cdc_changed_diff" ->
      s"""WITH cl AS ($clSql),
         |d AS (
         |  SELECT tbl, pk, value,
         |         lag(value) OVER (PARTITION BY tbl, pk ORDER BY pos) AS prev_value
         |  FROM cl)
         |SELECT tbl, pk,
         |       CAST(sum(CASE WHEN prev_value IS NOT NULL AND value <> prev_value THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
         |       count(*) AS n_events
         |FROM d GROUP BY tbl, pk ORDER BY tbl, pk""".stripMargin,

    "cdc_ddl_classify" -> DdlClassifier.corpusSql,

    "cdc_ddl_stats" -> DdlClassifier.ddlStatsSql,

    "cdc_table_activity" -> Metrics.tableActivitySql(clSql),

    "cdc_catalog_discovery" -> Catalog.discoveredSql(fixtureSchemas),

    "cdc_asof_lookup" -> ChangelogApply.asOfLookupSql(clSql,
      """SELECT 't' || CAST(i % 4 AS VARCHAR) AS tbl, i AS pk,
        |       unnest([m.mp // 4, m.mp // 2, 3 * m.mp // 4]) AS asof_pos
        |FROM range(10) t(i), (SELECT max(pos) AS mp FROM cl) m""".stripMargin),

    "cdc_asof_wide" -> ChangelogApply.asOfLookupWideSql(wideClSql,
      """SELECT 't' || CAST(i % 4 AS VARCHAR) AS tbl, i AS pk,
        |       unnest([m.mp // 4, m.mp // 2, 3 * m.mp // 4]) AS asof_pos
        |FROM range(10) t(i), (SELECT max(pos) AS mp FROM cl) m""".stripMargin,
      Normalizer.payloadCols),

    "cdc_pk_chunks" -> Metrics.pkChunksSql(clSql, 40L),
    "cdc_out_of_order" -> Metrics.outOfOrderAuditSql(clSql),
    "cdc_hot_keys" -> Metrics.hotKeysSql(clSql, 7200L, 3L),
    "cdc_conflation_savings" -> Metrics.conflationSavingsSql(clSql, 3600L),

    "cdc_snapshot_waves" ->
      (SnapshotScheduler.wavesSql(Metrics.pkChunksSql(clSql, 40L), 6) +
        " ORDER BY task_seq"),

    "cdc_stream_apply" ->
      (ChangelogApply.materializeWideSql(wideClSql, Normalizer.payloadCols) +
        " ORDER BY tbl, pk"),

    "cdc_enriched_state" ->
      s"""SELECT s.tbl, s.pk, s.value, c.c_name, c.c_mktsegment
         |FROM (${ChangelogApply.materializeWideSql(clSql, Seq("value"))}) s
         |LEFT JOIN customer c ON s.pk = c.c_custkey
         |ORDER BY tbl, pk""".stripMargin,

    "cdc_scd2_history" ->
      (ChangelogApply.scd2Sql(clSql) + " ORDER BY tbl, pk, valid_from_pos"),

    "cdc_scd2_stream" ->
      (ChangelogApply.scd2Sql(clSql) + " ORDER BY tbl, pk, valid_from_pos"),

    "cdc_stream_asof_enrich" ->
      graft.streaming.StreamingEnrich.batchSql(clSql),

    "cdc_jdbc_stream" ->
      (ChangelogApply.materializeWideSql(clSql, Seq("value")) + " ORDER BY tbl, pk"),

    "events_stream_dedup" ->
      """SELECT DISTINCT event_id, ts, user_id, event_type, value, props
        |FROM events ORDER BY event_id""".stripMargin,

    "events_funnel_stream" ->
      graft.streaming.StreamingAnalytics.funnelMatchSql(604800000000L),

    "events_zscore_stream" ->
      graft.streaming.StreamingAnalytics.zscoreGateSql(3L, 500L),

    "events_rate_limit_stream" ->
      graft.streaming.StreamingAnalytics.rateLimitSql(3600000000L, 1L),

    // All arithmetic in MILLISECONDS: the streaming side sessionizes on
    // Timestamp.getTime, and the watermark/timeout comparison is strict
    "events_sessionize_stream" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS ms FROM events),
        |mx AS (SELECT max(ms) AS mx FROM e),
        |g AS (
        |  SELECT user_id, ms,
        |         CASE WHEN lag(ms) OVER w IS NULL OR ms - lag(ms) OVER w > 1800000
        |              THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms)),
        |s AS (
        |  SELECT user_id, ms,
        |         sum(new_s) OVER (PARTITION BY user_id ORDER BY ms ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM g),
        |sess AS (
        |  SELECT user_id, sid, min(ms) AS start_ms, max(ms) AS end_ms,
        |         CAST(count(*) AS INTEGER) AS n_events
        |  FROM s GROUP BY user_id, sid),
        |lastsid AS (SELECT user_id, max(sid) AS last_sid FROM sess GROUP BY user_id)
        |SELECT se.user_id, se.start_ms, se.end_ms, se.n_events
        |FROM sess se JOIN lastsid l ON se.user_id = l.user_id, mx
        |WHERE se.sid < l.last_sid OR se.end_ms + 1800000 < mx.mx - 7200000
        |ORDER BY se.user_id, se.start_ms""".stripMargin,

    // session_window MERGES an event landing exactly at last+gap
    // (inclusive merge bound — measured, see the boundary spec), so a
    // new session needs diff STRICTLY greater than the gap; finalized
    // when the session end clears the ms-truncated watermark
    "events_session_window_stream" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, value FROM events),
        |mx AS (SELECT (epoch_us(max(ts)) // 1000) * 1000 - 7200000000 AS wm FROM events),
        |g AS (
        |  SELECT user_id, us, value,
        |         CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 1800000000
        |              THEN 1 ELSE 0 END AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
        |s AS (
        |  SELECT user_id, us, value,
        |         sum(new_s) OVER (PARTITION BY user_id ORDER BY us ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM g),
        |sess AS (
        |  SELECT user_id, sid, min(us) AS s_start_us, max(us) + 1800000000 AS s_end_us,
        |         count(*) AS n_events,
        |         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |  FROM s GROUP BY user_id, sid)
        |SELECT user_id, s_start_us, s_end_us, n_events, sum_value
        |FROM sess, mx WHERE s_end_us <= mx.wm
        |ORDER BY user_id, s_start_us""".stripMargin,

    // Spark tracks the event-time watermark in MILLISECONDS (max event
    // time truncated to ms, minus the delay) — the finalization cut in
    // every streaming-window oracle must truncate the same way or a
    // sub-ms-aligned max ts flips a boundary window between engines.
    "events_mix_drift_stream" -> graft.streaming.StreamingAnalytics.mixDriftSql(
      Seq("click", "error", "purchase", "signup", "view"), 100000L),

    "events_hourly_stream" ->
      """WITH mx AS (SELECT max(ts) AS mx FROM events),
        |w AS (
        |  SELECT date_trunc('hour', ts) AS hour, event_type,
        |         count(*) AS n_events,
        |         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |  FROM events GROUP BY 1, 2)
        |SELECT w.hour, w.event_type, w.n_events, w.sum_value FROM w, mx
        |WHERE epoch_us(w.hour) + 3600000000
        |      <= (epoch_us(mx.mx) // 1000) * 1000 - 7200000000
        |ORDER BY w.hour, w.event_type""".stripMargin,

    "cdc_op_stats" ->
      s"""WITH cl AS ($clSql)
         |SELECT tbl, op, count(*) AS n_events,
         |       min(pos) AS min_pos, max(pos) AS max_pos,
         |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         |FROM cl GROUP BY tbl, op ORDER BY tbl, op""".stripMargin,

    "q1_pricing_summary" -> Analytics.pricingSummarySql,
    "q3_top_revenue" -> Analytics.topRevenueOrdersSql,
    "q5_nation_revenue" -> Analytics.nationRevenueSql,
    "events_hourly" -> Analytics.hourlyEventsSql,
    "events_sliding_users" -> Analytics.slidingActiveUsersSql,

    "lineitem_basket_pairs" -> Analytics.basketPairsSql(20),

    "lineitem_bloom_semijoin" -> RuntimeFilters.bloomSemiJoinSql,

    "events_debounce" -> Analytics.debounceSql(1800L),

    "events_top_paths" -> Analytics.topSessionPathsSql(15),

    "events_cohort_ltv" -> Analytics.cohortLtvSql,

    "events_active_users" -> Analytics.activeUsersSql,

    "events_cohort_churn" -> Analytics.cohortChurnSql(14),

    "text_langid_confusion" -> TextAnalysis.languageIdConfusionSql,

    "text_zipf_fit" -> TextAnalysis.zipfFitSql(100),

    "part_price_slope" -> Analytics.priceSlopeSql,

    "text_weighted_sample" -> Sampling.weightedSampleSql(100),

    "cdc_gdpr_purge" -> Scrub.gdprPurgeSql(clSql),

    "cdc_interleaved_snapshot" -> ChangelogApply.interleavedSnapshotSql(clSql, 8),

    "cdc_consistent_cut" -> ChangelogApply.consistentCutSql(clSql),

    "quality_psi_drift" -> Profiling.psiDriftSql,
    "quality_cramers_v" -> Profiling.cramersVSql,

    "quality_expectations" -> Profiling.expectationsSql,

    "events_distinct_stream" -> Sketches.streamingApproxDistinctSql(64),
    "events_quantile_stream" -> Sketches.streamingQuantileSketchSql(50, 500.0),

    "quality_benford" -> Profiling.benfordAuditSql,
    "quality_label_balance" -> Profiling.labelBalanceSql,

    "events_sliding_stream" ->
      """WITH mx AS (SELECT max(ts) AS mx FROM events),
        |e AS (SELECT epoch_us(ts) AS us, value FROM events),
        |w AS (
        |  SELECT unnest([us // 1800000000 * 1800000000,
        |                 (us // 1800000000 - 1) * 1800000000]) AS w_us,
        |         value
        |  FROM e)
        |SELECT epoch_ms(w_us // 1000) AS w_start,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM w, mx
        |WHERE w_us + 3600000000 <= (epoch_us(mx.mx) // 1000) * 1000 - 7200000000
        |GROUP BY w_us ORDER BY w_start""".stripMargin,
    // µs-integral lag arithmetic; the 30-min bound is exact on both sides
    "events_stream_join" ->
      """SELECT c.user_id, count(*) AS n_pairs,
        |       min(epoch_us(p.ts) - epoch_us(c.ts)) AS min_lag_us,
        |       max(epoch_us(p.ts) - epoch_us(c.ts)) AS max_lag_us
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
        |GROUP BY c.user_id ORDER BY c.user_id""".stripMargin,

    // the final global watermark is min over both sides of the
    // ms-truncated max event time, minus the 2h delay — an unmatched
    // click is visible iff its 30-min join window closed below it
    "events_stream_join_outer" ->
      """WITH c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
        |wm AS (SELECT least((epoch_us((SELECT max(ts) FROM c)) // 1000) * 1000,
        |                    (epoch_us((SELECT max(ts) FROM p)) // 1000) * 1000)
        |               - 7200000000 AS w),
        |pairs AS (
        |  SELECT c.user_id, c.ts AS l_ts, p.ts AS r_ts
        |  FROM c LEFT JOIN p
        |    ON c.user_id = p.user_id
        |   AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE),
        |vis AS (SELECT pairs.* FROM pairs, wm
        |        WHERE r_ts IS NOT NULL OR epoch_us(l_ts) + 1800000000 < wm.w)
        |SELECT user_id, count(*) AS n_rows, count(r_ts) AS n_matched,
        |       CAST(sum(CASE WHEN r_ts IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_expired_unmatched
        |FROM vis GROUP BY user_id ORDER BY user_id""".stripMargin,

    "text_chunking" -> Curation.chunkDocsSql(64, 48),

    "files_zone_prune" -> Layout.zonePruneSql(16),
    "files_clustering_depth" -> Layout.clusteringDepthSql(16),

    "sketch_join_cardinality" -> Sketches.kmvJoinCardinalitySql(256, "BUILDING"),

    "mm_video_scene_cuts" -> Multimodal.videoSceneCutsSql(35),
    "text_winnowing" -> TextAnalysis.winnowingSql(4),
    "text_rank_agreement" -> TextAnalysis.rankAgreementSql,
    "text_shuffle_audit" -> TextAnalysis.shuffleAuditSql,
    "events_holt_daily" -> TimeSeries.holtDailySql,
    "events_forecast_backtest" -> TimeSeries.holtBacktestSql,
    "events_metric_correlation" -> TimeSeries.typeCorrelationSql,
    "events_acf" -> TimeSeries.autocorrelationSql(Seq(1, 2, 3, 6, 12, 24)),
    "events_cuped_adjustment" -> OrderStats.cupedAdjustmentSql,
    "cdc_sequence_gaps" -> ops.Metrics.sequenceGapsSql(clSql),
    "emb_centroid_drift" -> Similarity.centroidDriftSql,
    "emb_silhouette" -> Similarity.silhouetteSql,
    "events_slo_burn_rate" -> TimeSeries.sloBurnRateSql(250L, 1200L, 1000L),
    "lineitem_price_volume_mix" -> Analytics.priceVolumeMixSql(1997, 1998),
    "ann_binary_topk" -> Similarity.binaryHammingTopKSql(8, 5),
    "ann_binary_recall" -> Similarity.binaryRecallSql(8, 10),
    "events_bitmap_distinct" -> Sketches.bitmapDistinctDailySql,
    "dedup_bitext_candidates" -> Dedup.bitextCandidatesSql(16, 8, 64, 0.3),
    "events_peak_detection" -> TimeSeries.peakDetectionSql,
    "lineitem_abc_xyz" -> Analytics.abcXyzSql,
    "events_conversion_latency" -> OrderStats.conversionLatencySql,
    "events_impact_did" -> OrderStats.impactDiDSql("2024-01-16 00:00:00"),
    "dedup_chunk_overlap" -> Curation.chunkOverlapSql(64, 48),
    "dedup_cdc_chunks" -> Curation.cdcChunkDedupSql(16L),
    "orders_near_dup_invoices" -> EntityResolution.nearDupInvoicesSql(5.0, 7),
    "events_entropy_profile" -> Profiling.entropyProfileSql,
    "text_keyphrases" -> TextAnalysis.keyphrasesSql(3),
    "quality_l_diversity" -> Scrub.lDiversitySql(3),
    "quality_t_closeness" -> Scrub.tClosenessSql(200000L),
    "er_em_weights" -> EntityResolution.emWeightsSql(4),
    "graph_assortativity" -> Graph.assortativitySql,
    "graph_modularity" -> Graph.modularitySql(4),
    "dedup_hybrid_verify" -> Dedup.hybridVerifySql(0.95),
    "emb_power_iteration" -> Similarity.powerIterationTopSql(64, 4),
    "events_changepoint" -> TimeSeries.changepointHourlySql,
    "events_cusum" -> TimeSeries.cusumDriftSql(2500L, 20000L),
    "events_seasonal_strength" -> TimeSeries.seasonalStrengthSql,
    "lineitem_association_rules" -> Analytics.associationRulesSql(3L, 50),
    "events_mad_outliers" -> TimeSeries.madOutliersSql,
    "events_seasonal_decompose" -> TimeSeries.seasonalDecomposeSql,
    "orders_rfm_segments" -> OrderStats.rfmSegmentsSql,
    "orders_order_gaps" -> OrderStats.orderGapsSql,
    "rag_mmr_rerank" -> Similarity.mmrRerankSql(8, 20, 5, 7, 10),
    "mm_audio_vad" -> Multimodal.audioVadSql,
    "mm_audio_clipping" -> Multimodal.audioClippingSql,
    "events_stickiness_hll" -> Sketches.stickinessHllSql(30),
    "sketch_hll_distinct" -> Sketches.hllDistinctUsersSql,
    "events_ewma" -> TimeSeries.ewmaHourlySql,
    "events_gap_fill" -> TimeSeries.gapFillHourlySql,
    "part_skyline" -> OrderStats.skylinePartsSql,
    "events_distribution_pos" -> OrderStats.distributionPositionSql(4L),
    "events_power_analysis" -> OrderStats.powerAnalysisSql(Seq(5, 10, 20, 50)),
    "events_ab_test" -> OrderStats.abTestConversionSql,
    "events_mann_whitney" -> OrderStats.mannWhitneySql,
    "events_rank_anova" -> OrderStats.rankAnovaSql,
    "quality_key_candidates" -> Profiling.keyCandidatesSql,
    "sketch_bloom_fpr" -> RuntimeFilters.bloomFprSweepSql(Seq(65536L, 262144L, 1048576L)),
    "events_trimmed_mean" -> OrderStats.trimmedMeanSql,
    "q_cube_revenue" -> Analytics.cubeRevenueSql,

    "events_sessionize" -> Analytics.sessionizeSql,
    "events_bot_regularity" -> Analytics.botRegularitySql(8),
    "events_transitions" -> Analytics.markovTransitionsSql,
    "events_sequence_support" -> Analytics.sequenceSupportSql,
    "events_theil_sen" -> TimeSeries.theilSenDailySql,
    "events_markov_stationary" -> Analytics.markovStationarySql(6),
    "events_attribution" -> Analytics.lastTouchAttributionSql(3600L),
    "er_fuzzy_resolve" -> EntityResolution.resolveSql(1),
    "er_blocking_recall" -> EntityResolution.blockingRecallSql,
    "events_topk_users" -> Analytics.topPurchasersSql(10),
    "events_json_extract" -> Analytics.jsonExtractSql,
    "q6_forecast_revenue" -> Analytics.forecastRevenueSql,
    "q10_returned_items" -> Analytics.returnedItemCustomersSql(20),
    "q14_promo_revenue" -> Analytics.promoRevenueRatioSql(1997),
    "q18_large_orders" -> Analytics.largeOrdersSql(250L),
    "q4_order_priority" -> Analytics.orderPriorityCheckSql,
    "q_rollup_revenue" -> Analytics.rollupRevenueSql,
    "q7_volume_shipping" -> Analytics.volumeShippingSql("NATION_1", "NATION_2"),
    "q8_market_share" -> Analytics.marketShareSql("NATION_7", "ASIA", "PROMO"),
    "q13_order_distribution" -> Analytics.orderCountDistributionSql("4-NOT SPECIFIED"),
    "q16_supplier_variety" -> Analytics.supplierVarietySql(
      "Brand#5", Seq(1, 5, 9, 13, 17, 21, 25, 29, 33, 37, 41, 45, 49)),
    "q19_disjunctive_revenue" -> Analytics.disjunctiveRevenueSql,
    "q22_idle_customers" -> Analytics.idleRichCustomersSql("1999-01-01"),
    "q2_min_cost_supplier" -> Analytics.minCostSupplierSql(
      "STANDARD", Seq(5, 15, 25, 35, 45), "EUROPE"),
    "q9_product_profit" -> Analytics.productProfitSql("gear"),
    "q11_important_parts" -> Analytics.importantPartsSql(3, 2),
    "q12_late_shipments" -> Analytics.lateShipmentsSql(60),
    "q15_top_supplier" -> Analytics.topSupplierSql("1997-01-01", "1997-04-01"),
    "q17_small_qty_revenue" -> Analytics.smallQuantityRevenueSql("Brand#3"),
    "q20_dominant_suppliers" -> Analytics.dominantSuppliersSql("small", 1, 8, "NATION_7"),
    "q21_sole_blame" -> Analytics.soleBlameSuppliersSql,
    "events_top3_per_user" -> Analytics.topEventsPerUserSql(3),
    "events_percentiles" -> Analytics.valuePercentilesSql,
    "events_range_join" -> Analytics.eventPairsWithinSql(5),
    "events_funnel" -> Analytics.funnelSql(Seq("view", "click", "purchase")),
    "events_retention" -> Analytics.retentionSql,
    "events_rolling_avg" -> Analytics.rollingRevenueSql,
    "events_trailing_window" -> Analytics.trailingWindowSql(3600L * 1000000L),
    "events_srm_check" -> OrderStats.srmCheckSql,
    "events_fdr_gate" -> OrderStats.fdrGateSql,
    "events_bootstrap_ci" -> OrderStats.bootstrapCiSql,
    "events_event_study" -> OrderStats.eventStudySql,
    "events_regression_discontinuity" -> OrderStats.regressionDiscontinuitySql(67L, 10L, 150.0),
    "events_sequential_probe" -> OrderStats.sequentialProbeSql,
    "events_split_gain" -> OrderStats.splitGainSql,
    "events_propensity_strata" -> OrderStats.propensityStrataSql,
    "events_anomaly" -> Analytics.zscoreOutliersSql,
    "events_new_users" -> Analytics.newUsersSql,
    "lineitem_profile" -> Profiling.tableProfileSql("lineitem",
      Seq("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount"),
      Seq("l_returnflag", "l_linestatus")),
    "quality_orphan_fks" -> Profiling.orphanAuditSql(Seq(
      ("customer", "customer", "c_nationkey", "nation", "nation", "n_nationkey"),
      ("events_ingest",
        "(SELECT CASE WHEN event_id % 10 = 0 THEN user_id + 1000000 ELSE user_id END AS user_id FROM events)",
        "user_id", "customer", "customer", "c_custkey"),
      ("lineitem", "lineitem", "l_orderkey", "orders", "orders", "o_orderkey"),
      ("lineitem", "lineitem", "l_partkey", "part", "part", "p_partkey"),
      ("lineitem", "lineitem", "l_suppkey", "supplier", "supplier", "s_suppkey"),
      ("nation", "nation", "n_regionkey", "region", "region", "r_regionkey"),
      ("orders", "orders", "o_custkey", "customer", "customer", "c_custkey"),
      ("supplier", "supplier", "s_nationkey", "nation", "nation", "n_nationkey"))),
    "quality_fd_audit" -> Profiling.fdAuditSql(Seq(
      ("lineitem.l_orderkey,l_linenumber->l_shipdate",
        "lineitem", Seq("l_orderkey", "l_linenumber"), "l_shipdate"),
      ("lineitem.l_orderkey->l_returnflag", "lineitem", Seq("l_orderkey"), "l_returnflag"),
      ("lineitem.l_orderkey->l_shipdate", "lineitem", Seq("l_orderkey"), "l_shipdate"),
      ("lineitem.l_partkey->l_tax", "lineitem", Seq("l_partkey"), "l_tax"),
      ("orders.o_custkey->o_orderpriority", "orders", Seq("o_custkey"), "o_orderpriority"),
      ("orders.o_orderdate->o_orderstatus", "orders", Seq("o_orderdate"), "o_orderstatus"),
      ("orders.o_orderkey->o_orderstatus", "orders", Seq("o_orderkey"), "o_orderstatus"))),
    "events_top3_agg" -> top3Sql,

    // complete-mode streaming top-k: the final emitted table IS the full
    // aggregate, so the oracle is the batch top-k verbatim
    "events_topk_stream" -> top3Sql,

    "dedup_exact" -> Dedup.exactSql,
    "dedup_minhash_lsh" -> Dedup.minhashLshSql(0.5),
    "dedup_lsh_calibration" -> Dedup.minhashCalibrationSql,
    "dedup_band_sweep" -> Dedup.bandingSweepSql(0.5),
    "dedup_simhash" -> Dedup.simhashPairsSql(3),
    "dedup_ngram_jaccard" -> Dedup.ngramJaccardSql(0.5),
    "dedup_prefix_join" -> Dedup.prefixFilterJoinSql(0.75),
    "dedup_embedding_cosine" -> Dedup.embeddingNearDupSql(0.3),
    "dedup_hyperplane_lsh" -> Dedup.hyperplaneLshSql(16, 4, 64, 0.3),
    "ann_hyperplane_recall" -> Dedup.hyperplaneRecallSql(16, 4, 64, 0.3),

    "dedup_spans" -> Dedup.duplicateSpansSql(8),

    "dedup_containment" -> Dedup.containmentSql(4, 0.6),

    "dedup_incremental" -> Dedup.incrementalLshSql(0.5),
    "dedup_index_probe" -> Dedup.incrementalLshSql(0.5),
    "dedup_stream_novelty" -> Dedup.streamingNoveltySql(0.5),
    "dedup_index_maintenance" -> Dedup.indexContentAuditSql,
    "dedup_cluster_maintenance" -> Dedup.nearDupClustersSql(0.5),
    "dedup_stream_clusters" -> Dedup.nearDupClustersSql(0.5),
    "emb_knn_maintenance" -> ops.Similarity.knnGraphSql(10),
    "emb_knn_maintenance_ann" -> ops.Similarity.annMaintenanceSql(10, 32, 4),
    "emb_knn_stream" -> ops.Similarity.knnGraphSql(10),
    "emb_knn_stream_ann" -> ops.Similarity.annStreamSql(10, 32, 4),

    "dedup_clusters" -> Dedup.nearDupClustersSql(0.5),
    "dedup_clusters_star" -> Dedup.shuffledPathClustersSql(8),
    "dedup_canonical" -> Dedup.canonicalDocsSql(0.5),
    "dedup_cross_source" -> Dedup.crossSourceDupSql(0.5),
    "dedup_effective_tokens" -> Dedup.effectiveTokensSql(0.5),
    "dedup_leakage_split" -> Dedup.leakageSafeSplitSql(0.5, 10, 10),
    "dedup_pipeline_shared" -> Dedup.curationPipelineSql(0.5, 10, 10),

    "ann_bruteforce_topk" -> Similarity.bruteForceTopKSql(8, 5),
    "ann_ivf_topk" -> Similarity.ivfTopKSql(8, 5, 32, 2),
    "ann_ivf_balance" -> Similarity.ivfBalanceSql(32),
    "ann_nprobe_sweep" -> Similarity.ivfNprobeSweepSql(8, 5, 32, Seq(1, 2, 4, 8)),
    "q_pivot_revenue" -> Analytics.pivotRevenueSql,
    "events_weekday_profile" -> Analytics.weekdayProfileSql,
    "events_value_deciles" -> Analytics.valueDecilesSql,
    "events_shapley_attribution" -> Analytics.shapleyAttributionSql,
    "events_markov_attribution" -> Analytics.markovAttributionSql,
    "events_gains_curve" -> Analytics.gainsCurveSql,
    "events_qini_curve" -> Analytics.qiniCurveSql(150.0),
    "events_absence_stream" ->
      graft.streaming.StreamingAnalytics.absenceAlertsSql(1800000L),
    "lineitem_price_index" -> Analytics.priceIndexSql,
    "lineitem_return_shrinkage" -> Analytics.returnShrinkageSql(200L),
    "text_anneal_selection" -> TextAnalysis.annealSelectionSql(20),
    "supplier_pareto" -> Analytics.supplierParetoSql(50),
    "supplier_hhi" -> Analytics.supplierHhiSql,
    "dedup_ivf_blocked" -> Similarity.ivfNearDupSql(32, 0.3),
    "emb_cluster_profile" -> Similarity.clusterProfileSql(32),
    "emb_quantize_int8" -> Similarity.quantizeInt8Sql,
    "emb_kcenter_coreset" -> Similarity.kCenterCoresetSql(8),
    "emb_hard_negatives" -> Similarity.hardNegativesSql(8, 5, 0.9),
    "emb_knn_graph" -> Similarity.knnGraphSql(10),
    "emb_knn_hubness" -> Similarity.knnHubnessSql(10),
    "emb_knn_agreement" -> Similarity.knnLabelAgreementSql(10),
    "emb_knn_outliers" -> Similarity.knnOutliersSql(10, 25),
    "emb_jl_distortion" -> Similarity.jlDistortionSql(16, 32),
    "emb_cluster_ari" -> Similarity.clusterAriAuditSql(10, 0.45),
    "emb_cosine_precision_curve" -> Similarity.cosinePrecisionCurveSql(10),
    "dedup_cluster_profile" -> Dedup.clusterProfileSql(0.5),
    "dedup_shingle_sweep" -> Dedup.shingleSweepSql(Seq(2, 3, 5)),
    "dedup_semantic_clusters" -> Similarity.semanticClustersSql(10, 0.45),
    "emb_kmeans_refine" -> Similarity.kmeansRefineSql(32),
    "emb_whitening" -> Similarity.whitenSql,
    "emb_pq_codes" -> Similarity.pqQuantizeSql(4, 16, 64),
    "ann_pq_adc" -> Similarity.pqAdcTopKSql(8, 5, 4, 16, 64),
    "ann_ivfpq_topk" -> Similarity.ivfPqTopKSql(8, 5, 32, 2, 4, 16, 64),
    "ann_recall_audit" -> Similarity.ivfRecallAuditSql(8, 5, 32, 2),
    "ann_ndcg_audit" -> Similarity.ivfNdcgAuditSql(8, 5, 32, 2),
    "graph_pagerank" -> Graph.pagerankSql(6),
    "graph_hits" -> Graph.hitsSql(4),
    "graph_communities" -> Graph.labelPropagationSql(4),
    "graph_triangles" -> Graph.triangleStatsSql(2),
    "graph_local_clustering" -> Graph.localClusteringSql(2),
    "graph_rich_club" -> Graph.richClubSql(2, Seq(2, 4, 8, 16)),
    "events_peak_concurrency" -> Analytics.peakConcurrencySql(300L),
    "lineitem_revenue_gini" -> Analytics.revenueGiniSql,
    "graph_squares" -> Graph.squaresSql(2),
    "quality_fanout_profile" -> Profiling.fanoutProfileSql,
    "graph_kcore" -> Graph.kCoreSql(2, 2, 4),
    "graph_ktruss" -> Graph.kTrussSql(2, 3, 3),
    "graph_bfs_reach" -> Graph.bfsReachSql(2, 3, 4),
    "graph_closeness" -> Graph.closenessSql(2, 3, 4),
    "graph_link_predict" -> Graph.linkPredictSql(2, 20),
    "graph_weak_ties" -> Graph.weakTiesSql(2),
    "graph_walk_corpus" -> Graph.walkCorpusSql(2, 6, 3, 5),
    "graph_ego_density" -> Graph.egoDensitySql(2, 20),
    "ann_ivfpq_recall" -> Similarity.ivfPqRecallAuditSql(8, 5, 32, 2, 4, 16, 64),
    "ann_dim_truncation" -> Similarity.dimTruncationAuditSql(8, 5, Seq(8, 16, 32)),

    "text_language_id" -> TextAnalysis.languageIdSql,
    "text_quality" -> TextAnalysis.qualityScoreSql,
    "text_quality_source_norm" -> TextAnalysis.sourceNormalizedQualitySql(0.65),
    "events_ks_drift" -> OrderStats.ksDriftSql(1000, 50000L),
    "events_conformal_coverage" -> TimeSeries.conformalCoverageSql(100000L),
    "text_token_counts" -> TextAnalysis.tokenCountsSql,
    "text_tokenizer_fertility" -> TextAnalysis.tokenizerFertilitySql,
    "text_source_tvd" -> TextAnalysis.sourceTvdSql,
    "text_fingerprint" -> TextAnalysis.fingerprintSql,
    "text_tfidf_top_terms" -> TextAnalysis.tfidfTopTermsSql,
    "text_burstiness" -> TextAnalysis.burstinessSql,
    "text_vocab_growth" -> TextAnalysis.vocabGrowthSql(Seq(5, 10, 25, 50, 100, 250)),
    "text_bm25_topk" -> TextAnalysis.bm25TopKSql(5),
    "rag_hybrid_rrf" -> Retrieval.hybridRrfSql(20, 10),
    "rag_context_packing" -> Retrieval.contextPackingSql(10, 256L),
    "rag_query_expansion" -> Retrieval.queryExpansionSql(3, 2, 10),
    "text_token_ids" -> TextAnalysis.tokenIdsSql(16, 12),
    "text_hash_sample" -> TextAnalysis.hashSampleSql(10),

    "text_repetition" -> TextAnalysis.repetitionSql,
    "text_bpe_merges" -> TextAnalysis.bpeMergesSql(20),

    "text_contamination" -> Dedup.benchmarkContaminationSql(97, 3),

    "text_contamination_bloom" -> Dedup.bloomContaminationSql(97, 3),

    "events_stratified_sample" -> Sampling.stratifiedSummarySql(
      "events", "event_type", "event_id",
      Map("click" -> 2, "error" -> 20, "signup" -> 10, "view" -> 5), 1),

    "text_boilerplate" -> TextAnalysis.boilerplateSql(3),

    "text_unigram_logprob" -> TextAnalysis.unigramLogprobSql,
    "text_bigram_logprob" -> TextAnalysis.bigramLogprobSql(0.75),
    "text_kn_probability" -> TextAnalysis.knProbabilitySql(50),
    "text_vocab_coverage" -> TextAnalysis.vocabCoverageSql(Seq(8, 16, 32)),

    "text_source_mix" -> Curation.sourceMixSql(
      Map("src0" -> 3.0, "src1" -> 2.0), 1.0),

    "text_temperature_mix" -> Curation.temperatureMixSql(0.5, 1000000L),

    "text_ngram_novelty" -> TextAnalysis.ngramNoveltySql,

    "text_pack_bins" -> Curation.packBinsSql(512, 8),

    "text_quality_gate" -> Curation.qualityGateSql(0.6),

    "text_importance_sample" -> Curation.importanceSampleSql(10000),

    "text_pii_scrub" -> Scrub.scrubPiiSql,
    "quality_k_anonymity" -> Scrub.kAnonymitySql(5),

    "text_repetition_truncate" -> TextAnalysis.repetitionTruncateSql,

    "pipeline_curation" -> Curation.funnelSql(0.65,
      Map("en" -> 2, "de" -> 3, "es" -> 3, "fr" -> 3), 1),

    "dedup_lsh_audit" -> Dedup.lshQualityAuditSql(0.8, 8),
    "dedup_bbit_minhash" -> Dedup.bbitMinhashAuditSql,

    "events_salted_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_distinct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "events_salted_join" ->
      """SELECT c.c_mktsegment, count(*) AS n_events,
        |       CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "events_zorder_layout" -> Layout.zorderFileStatsSql(16),
    "events_hilbert_layout" -> Layout.hilbertFileStatsSql(16),
    "files_compaction_plan" -> Layout.compactionPlanSql(64, 2000L),
    "events_partition_balance" -> Layout.partitionBalanceSql(16),

    "events_approx_distinct" -> Sketches.approxDistinctUsersSql(64),

    "events_quantile_sketch" -> Sketches.valueQuantileSketchSql(64),
    "events_heavy_hitters" -> Sketches.countMinHeavyHittersSql(4, 256, 20),
    "events_segment_overlap" -> Sketches.segmentOverlapSql(64),

    "text_quality_gate_sketch" -> Curation.qualityGateSketchSql(0.6, 64),

    "mm_features" -> Multimodal.featurizeSql,
    "mm_sharpness" -> Multimodal.sharpnessSql,
    "mm_edge_density" -> Multimodal.edgeDensitySql(128),
    "mm_color_histogram" -> Multimodal.colorHistogramSql,
    "mm_letterbox" -> Multimodal.letterboxDetectSql,
    "mm_frame_sample" -> Multimodal.sampleFramesSql(32, 8),
    "mm_resize" -> Multimodal.resizeSql(8),
    "mm_phash_dedup" -> Multimodal.phashPairsSql(3),
    "mm_audio_features" -> Multimodal.audioFeaturizeSql,
    "mm_video_frames" -> Multimodal.videoFrameFeaturesSql(2, 4)
  )
}
