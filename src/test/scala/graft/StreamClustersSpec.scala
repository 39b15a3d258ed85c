package graft

import graft.ops.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Restart/replay semantics of [[Dedup.streamingClusterIngest]] — the
  * streaming composition of the cluster-map maintenance path (round-12
  * directive #5), the StreamingApplySpec discipline applied to the
  * `_cluster_frontier`: a killed and restarted stream continues from
  * the checkpoint, a full from-zero replay is absorbed by the frontier,
  * and the final map always equals the from-scratch rebuild.
  */
class StreamClustersSpec extends SparkSpec {

  import spark.implicits._

  private def writeChunk(df: DataFrame, out: String, name: String): Unit = {
    val tmp = s"$out.tmp_$name"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(s"$out/$name.parquet"))
    ()
  }

  test("stop/restart continues from the checkpoint; a from-zero replay is absorbed") {
    // near-dup structure: doc 1 ~ doc 2 (suffix mutation), doc 3 distinct;
    // nearDupCorpus adds the +1000000 shifted copies that stream in
    val docs = Seq(
      (0L, Seq.tabulate(60)(j => s"a$j").mkString(" ")),
      (1L, Seq.tabulate(60)(j => s"b$j").mkString(" ")),
      (2L, Seq.tabulate(60)(j => s"b$j").mkString(" ") + " zz"),
      (3L, Seq.tabulate(60)(j => s"c$j").mkString(" "))).toDF("doc_id", "text")
    val corpus = Dedup.nearDupCorpus(docs)
    val root = graft.Scratch.dir("stream-clusters")
    val (idx, map) = Dedup.buildClusterMaintPrefix(spark, docs, 0.5, root)
    val chunks = s"$root/chunks"
    new java.io.File(chunks).mkdirs()
    val schema = corpus.schema
    writeChunk(corpus.filter(col("doc_id") >= 1000000L && col("doc_id") < 1000002L),
      chunks, "chunk_0")

    // run 1: only chunk_0 exists — one micro-batch, then the query ends
    Dedup.streamingClusterIngest(spark, chunks, schema, idx, map, 0.5, s"$root/ckpt")
    val afterFirst = spark.read.parquet(map)
      .select(col("doc_id"), col("cluster"), col("cluster_size"))
      .collect().map(_.toSeq).toSet
    assert(afterFirst.exists(_.head == 1000000L), s"chunk_0 docs missing: $afterFirst")

    // "kill": the first query terminated; the rest of the feed arrives
    writeChunk(corpus.filter(col("doc_id") >= 1000002L), chunks, "chunk_1")
    // run 2 (RESTART, same checkpoint): processes only the new file
    Dedup.streamingClusterIngest(spark, chunks, schema, idx, map, 0.5, s"$root/ckpt")
    val want = Dedup.nearDupClusters(corpus, 0.5)
      .collect().map(_.toSeq).toSet
    val got = spark.read.parquet(map)
      .select(col("doc_id"), col("cluster"), col("cluster_size"))
      .collect().map(_.toSeq).toSet
    assert(got == want, s"restarted stream diverged: extra=${got.diff(want)} missing=${want.diff(got)}")

    // run 3 (REPLAY from zero: fresh checkpoint re-delivers every file):
    // both batch ids are at or below the _cluster_frontier — absorbed
    Dedup.streamingClusterIngest(spark, chunks, schema, idx, map, 0.5, s"$root/ckpt2")
    val replayed = spark.read.parquet(map)
      .select(col("doc_id"), col("cluster"), col("cluster_size"))
      .collect().map(_.toSeq).toSet
    assert(replayed == want, "full replay must be absorbed by the frontier")
    graft.ops.Caches.releaseCaches(); spark.catalog.clearCache()
  }
}
