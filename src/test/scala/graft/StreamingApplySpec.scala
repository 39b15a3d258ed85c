package graft

import graft.model.ChangeEvent
import graft.streaming.StreamingApply
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import java.nio.file.Files
import java.sql.Timestamp

/** Streaming apply semantics: multi-batch == one-shot batch; replaying a
  * batch id is idempotent; out-of-order batches converge (E2E test of
  * SURVEY.md §5.4).
  */
class StreamingApplySpec extends SparkSpec {

  import spark.implicits._

  private def ev(pk: Long, op: String, pos: Long, v: Double) =
    ChangeEvent("t0", pk, op, new Timestamp(pos * 1000), pos, v)

  private val all = Seq(
    ev(1, "I", 0, 1.0), ev(2, "I", 1, 2.0), ev(1, "U", 2, 1.5),
    ev(3, "I", 3, 3.0), ev(2, "D", 4, 0.0), ev(1, "U", 5, 1.9),
    ev(4, "I", 6, 4.0), ev(4, "D", 7, 0.0), ev(4, "I", 8, 4.4))

  private def stateOf(df: DataFrame): Map[Long, Double] =
    df.collect().map(r => r.getLong(1) -> r.getDouble(5)).toMap

  private val expected = Map(1L -> 1.9, 3L -> 3.0, 4L -> 4.4)

  test("MemoryStream micro-batches converge to the batch materialization") {
    val dir = Files.createTempDirectory("graft_ms").toString
    val ms = MemoryStream[ChangeEvent](spark, numPartitions = 1)
    val q = ms.toDF().writeStream
      .foreachBatch(StreamingApply.applyBatch(s"$dir/state") _)
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      for (chunk <- all.grouped(3)) { ms.addData(chunk); q.processAllAvailable() }
    } finally q.stop()
    assert(stateOf(StreamingApply.currentState(spark, s"$dir/state")) == expected)
  }

  test("replaying the same batch id is idempotent") {
    val dir = Files.createTempDirectory("graft_replay").toString + "/state"
    val b0 = all.take(5).toDF()
    val b1 = all.drop(5).toDF()
    StreamingApply.applyBatch(dir)(b0, 0L)
    StreamingApply.applyBatch(dir)(b1, 1L)
    val once = stateOf(StreamingApply.currentState(spark, dir))
    StreamingApply.applyBatch(dir)(b1, 1L) // crash-replay of batch 1
    val twice = stateOf(StreamingApply.currentState(spark, dir))
    assert(once == expected && twice == expected)
  }

  test("out-of-order batch contents still converge (merge is order-insensitive)") {
    val dir = Files.createTempDirectory("graft_ooo").toString + "/state"
    // later positions arrive in the FIRST batch
    StreamingApply.applyBatch(dir)(all.drop(5).toDF(), 0L)
    StreamingApply.applyBatch(dir)(all.take(5).toDF(), 1L)
    assert(stateOf(StreamingApply.currentState(spark, dir)) == expected)
  }

  /** Applies `batches` as batch ids `from`, `from + 1`, ... and waits for
    * the fold each one may start, so fold versions are deterministic. */
  private def applyEach(dir: String, batches: Seq[DataFrame], from: Int = 0,
                        nBuckets: Int = StreamingApply.defaultBuckets): Unit =
    batches.zipWithIndex.foreach { case (b, i) =>
      StreamingApply.applyBatch(dir, nBuckets)(b, (from + i).toLong)
      StreamingApply.awaitFold(spark, dir)
    }

  private def dirsOf(stateDir: String, prefix: String): Seq[String] =
    new java.io.File(stateDir).listFiles().map(_.getName).filter(_.startsWith(prefix)).sorted.toSeq

  test("a small batch rewrites only its touched buckets, not the whole state") {
    val dir = Files.createTempDirectory("graft_bkt").toString + "/state"
    // batch 0 seeds several buckets; the first fold (batches 0-9) writes them
    applyEach(dir, all.take(5).toDF() +: (1 to 9).map(i => Seq(ev(3, "U", 10 + i, 3.0)).toDF()))
    val bucketsV9 = new java.io.File(s"$dir/v=9").listFiles()
      .count(_.getName.startsWith("bucket="))
    // batches 10-19 touch a single pk: each delta holds only its own row,
    // and their fold writes exactly one bucket dir under v=19
    applyEach(dir, Seq(Seq(ev(1, "U", 100, 7.7)).toDF()), from = 10)
    assert(spark.read.parquet(s"$dir/d=10").count() == 1)
    applyEach(dir, (11 to 19).map(i => Seq(ev(1, "U", 100 + i, 7.7)).toDF()), from = 11)
    val bucketsV19 = new java.io.File(s"$dir/v=19").listFiles()
      .filter(_.getName.startsWith("bucket=")).map(_.getName).toSeq
    assert(bucketsV9 > 1, "fixture should spread over multiple buckets")
    assert(bucketsV19.size == 1, s"expected 1 touched bucket, got $bucketsV19")
    // untouched buckets still serve from v=9; the touched key reads v=19
    val st = stateOf(StreamingApply.currentState(spark, dir))
    assert(st(1L) == 7.7 && st(3L) == 3.0)
  }

  test("compaction keeps only the newest two versions per bucket") {
    val dir = Files.createTempDirectory("graft_cmp").toString + "/state"
    applyEach(dir, (0 until 30).map(i => Seq(ev(1, "U", i, i.toDouble)).toDF()))
    // folds at batches 9, 19 and 29; each keeps one previous base per bucket
    // and deletes the deltas it covered
    assert(dirsOf(dir, "v=") == Seq("v=19", "v=29"), s"expected retention to 2, got ${dirsOf(dir, "v=")}")
    assert(dirsOf(dir, "d=").isEmpty, s"folded deltas retained: ${dirsOf(dir, "d=")}")
    assert(stateOf(StreamingApply.currentState(spark, dir)) == Map(1L -> 29.0))
  }

  test("bucketed state carries the wide multi-column envelope") {
    val dir = Files.createTempDirectory("graft_wide").toString + "/state"
    val wide = Seq(
      ("t0", 1L, "I", new Timestamp(0), 0L, "signup", 10L, 1.0),
      ("t0", 2L, "I", new Timestamp(1000), 1L, "click", 20L, 2.0),
      ("t0", 1L, "U", new Timestamp(2000), 2L, "click", 11L, 1.5))
      .toDF("tbl", "pk", "op", "ts", "pos", "event_type", "k", "value")
    val payload = Seq("event_type", "k", "value")
    StreamingApply.applyBatch(dir, nBuckets = 4, payloadCols = payload)(wide.filter($"pos" < 2), 0L)
    StreamingApply.applyBatch(dir, nBuckets = 4, payloadCols = payload)(wide.filter($"pos" >= 2), 1L)
    val st = StreamingApply.currentState(spark, dir, payload)
      .orderBy("pk").collect()
    assert(st.map(_.getLong(1)).toSeq == Seq(1L, 2L))
    val r1 = st(0)
    assert(r1.getString(r1.fieldIndex("event_type")) == "click" &&
      r1.getLong(r1.fieldIndex("k")) == 11L &&
      r1.getDouble(r1.fieldIndex("value")) == 1.5)
  }

  test("quarantined apply: bad rows land in the DLQ, good rows merge, replay idempotent") {
    import graft.cdc.Normalizer
    val dir = Files.createTempDirectory("graft_dlq").toString
    val ms = MemoryStream[(String, Long, String, Timestamp, Long, String)](spark, numPartitions = 1)
    def pay(k: Long, v: Double) = s"""{"event_type":"click","k":$k,"value":$v}"""
    val q = ms.toDF().toDF("tbl", "pk", "op", "ts", "pos", "payload_json")
      .writeStream
      .foreachBatch(StreamingApply.applyBatchQuarantined(
        s"$dir/state", s"$dir/dlq", Normalizer.fixtureRegistry,
        payloadCols = Normalizer.payloadCols) _)
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      ms.addData(
        ("t0", 1L, "I", new Timestamp(1000), 1L, pay(10, 1.0)),
        ("t0", 2L, "I", new Timestamp(2000), 2L, """{"event_t"""), // malformed
        ("t9", 3L, "I", new Timestamp(3000), 3L, pay(30, 3.0)))    // unknown tbl
      q.processAllAvailable()
      ms.addData(
        ("t0", 1L, "U", new Timestamp(4000), 4L, pay(11, 1.5)),
        ("t0", 4L, "I", new Timestamp(5000), 5L, null),            // null payload
        (null, 5L, "I", new Timestamp(6000), 6L, pay(50, 5.0)))    // no tbl
      q.processAllAvailable()
    } finally q.stop()
    // state holds only the decoded good rows; the latest ok update wins
    val st = StreamingApply.currentState(spark, s"$dir/state", Normalizer.payloadCols)
      .collect().map(r => r.getLong(r.fieldIndex("pk")) ->
        (r.getLong(r.fieldIndex("k")), r.getDouble(r.fieldIndex("value")))).toMap
    assert(st == Map(1L -> ((11L, 1.5))))
    // the DLQ preserves every rejected row with its disposition
    val dlq = spark.read.parquet(s"$dir/dlq/v=*")
      .collect().map(r => r.getAs[Long]("pk") -> r.getAs[String]("disposition")).toMap
    assert(dlq == Map(2L -> "unparseable", 3L -> "unregistered_table",
      4L -> "null_payload", 5L -> "unregistered_table"))
  }

  /** Part files in every `v=<batch>/bucket=<b>` directory of a state store. */
  private def partFiles(stateDir: String): Seq[(String, Int)] =
    new java.io.File(stateDir).listFiles().toSeq.filter(_.getName.startsWith("v=")).flatMap { v =>
      v.listFiles().toSeq.filter(_.getName.startsWith("bucket=")).map { b =>
        s"${v.getName}/${b.getName}" -> b.listFiles().count(_.getName.startsWith("part-"))
      }
    }

  /** Runs `write` into a fresh state directory under each shuffle width
    * and returns (width, directory). */
  private def atWidths(widths: Seq[Int])(write: String => Unit): Seq[(Int, String)] = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try widths.map { w =>
      spark.conf.set("spark.sql.shuffle.partitions", w.toLong)
      val dir = Files.createTempDirectory(s"graft_width$w").toString + "/state"
      write(dir)
      w -> dir
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  private def assertSetEqual(a: DataFrame, b: DataFrame): Unit =
    assert(a.count() == b.count() && a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)

  private val wideBatches: Seq[Seq[ChangeEvent]] = Seq(
    (0 until 300).map(i => ev(i % 97, if (i < 97) "I" else "U", i, i * 0.5)),
    (300 until 420).map(i => ev(i % 89, if (i % 10 == 0) "D" else "U", i, i * 0.25)))

  test("bucketed writes at a shuffle width below nBuckets: one part file per bucket, same state") {
    val runs = atWidths(Seq(32, 3, 7)) { dir =>
      StreamingApply.writeVersion(wideBatches.head.toDF(), dir, -1L, nBuckets = 32)
      // ten deltas: the fold over them writes v=9
      applyEach(dir, wideBatches(1).grouped(12).map(_.toDF()).toSeq, nBuckets = 32)
    }
    val (_, ref) = runs.head
    for ((w, dir) <- runs) {
      val files = partFiles(dir)
      assert(files.map(_._1).exists(_.startsWith("v=-1/")) && files.map(_._1).exists(_.startsWith("v=9/")))
      assert(dirsOf(dir, "d=").isEmpty)
      assert(files.forall(_._2 == 1), s"width $w: $files")
      assertSetEqual(StreamingApply.stateBefore(spark, dir, Long.MaxValue),
        StreamingApply.stateBefore(spark, ref, Long.MaxValue))
    }
  }

  test("bucketed SCD2 apply at a shuffle width below nBuckets: one part file per bucket, same history") {
    import graft.streaming.StreamingScd2
    val runs = atWidths(Seq(32, 3, 7)) { dir =>
      wideBatches.zipWithIndex.foreach { case (b, id) =>
        StreamingScd2.applyBatch(dir, nBuckets = 32)(b.toDF(), id.toLong)
      }
    }
    val (_, ref) = runs.head
    for ((w, dir) <- runs) {
      val files = partFiles(dir)
      assert(files.nonEmpty && files.forall(_._2 == 1), s"width $w: $files")
      assertSetEqual(StreamingScd2.currentHistory(spark, dir), StreamingScd2.currentHistory(spark, ref))
    }
  }

  test("mergeState keeps tombstones so deletes survive compaction boundaries") {
    val s1 = StreamingApply.mergeState(Seq.empty[ChangeEvent].toDF(), Seq(ev(9, "I", 0, 1.0)).toDF())
    val s2 = StreamingApply.mergeState(s1, Seq(ev(9, "D", 1, 0.0)).toDF())
    // tombstone present in state, dropped from user-facing view
    assert(s2.collect().length == 1 && s2.collect()(0).getString(2) == "D")
  }
}
