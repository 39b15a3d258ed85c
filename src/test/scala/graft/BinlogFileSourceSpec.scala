package graft

import graft.sources.BinlogFileSource
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import java.nio.file.{Files, Paths, StandardOpenOption}

/** DSv2 micro-batch changelog source: ordered delivery, admission
  * control (maxPerBatch), checkpoint restart without loss or
  * duplication — the reference's effectively-once contract
  * (README.md:524-552) on Spark's offset machinery.
  */
class BinlogFileSourceSpec extends SparkSpec {

  private def writeLines(path: String, lines: Seq[String], append: Boolean = false): Unit = {
    val opts =
      if (append) Seq(StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      else Seq(StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    Files.write(Paths.get(path), (lines.mkString("\n") + "\n").getBytes, opts: _*)
  }

  private def line(pos: Long, pk: Long, op: String, v: Double) =
    BinlogFileSource.renderLine("t0", pk, op, 1000L * pos, pos, v)

  test("streams a log file in admission-capped micro-batches, in order") {
    val dir = Files.createTempDirectory("graft_src").toString
    val log = s"$dir/changelog.log"
    writeLines(log, (0L until 10L).map(i => line(i, i % 3, "I", i * 1.0)))
    val q = spark.readStream.format("graft-binlog")
      .option("path", log).option("maxPerBatch", "3").load()
      .writeStream.format("memory").queryName("src_out")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      q.processAllAvailable()
      val got = spark.table("src_out").orderBy("pos").collect()
      assert(got.length == 10)
      assert(got.map(_.getAs[Long]("pos")).toSeq == (0L until 10L))
      // admission control: 10 rows / cap 3 → at least 4 batches
      assert(q.recentProgress.count(_.numInputRows > 0) >= 4)
    } finally q.stop()
  }

  test("AvailableNow keeps the admission cap: the backlog drains in capped micro-batches, in order") {
    val dir = Files.createTempDirectory("graft_src_an").toString
    val log = s"$dir/changelog.log"
    writeLines(log, (0L until 20L).map(i => line(i, i % 3, "I", i * 1.0)))
    val q = spark.readStream.format("graft-binlog")
      .option("path", log).option("maxPerBatch", "8").load()
      .writeStream.format("memory").queryName("src_out_an")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("src_out_an").orderBy("pos").collect()
    assert(got.map(_.getAs[Long]("pos")).toSeq == (0L until 20L))
    // 20 rows / cap 8 → at least 3 batches
    assert(q.recentProgress.count(_.numInputRows > 0) >= 3)
    spark.catalog.dropTempView("src_out_an")
  }

  test("checkpoint restart resumes exactly after the committed offset") {
    val dir = Files.createTempDirectory("graft_src2").toString
    val log = s"$dir/changelog.log"
    val delivered = new scala.collection.concurrent.TrieMap[Long, Int]()
    writeLines(log, (0L until 5L).map(i => line(i, i, "I", i * 1.0)))
    def run(): Unit = {
      val q = spark.readStream.format("graft-binlog")
        .option("path", log).load()
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.select("pos").collect().foreach { r =>
            val p = r.getLong(0)
            delivered.updateWith(p) { c => Some(c.getOrElse(0) + 1) }
          }
        }
        .option("checkpointLocation", s"$dir/ckpt")
        .trigger(Trigger.ProcessingTime(0)).start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    assert(delivered.keySet == (0L until 5L).toSet)
    // append 3 more lines, restart from the same checkpoint
    writeLines(log, (5L until 8L).map(i => line(i, i, "U", i * 2.0)), append = true)
    run()
    // exactly-once delivery: every offset seen exactly once, no replay
    assert(delivered.keySet == (0L until 8L).toSet)
    assert(delivered.values.forall(_ == 1), s"duplicated delivery: $delivered")
  }

  test("offset IS a GTID set: resume-from-GTID skips consumed transactions") {
    // 8 lines with explicit GTIDs src:1..8; start with src:1-5 already
    // consumed → only 6,7,8 delivered. This is the reference's
    // resume-from-cdc_offsets semantic (MySQLOffsetStore.scala:98-141)
    // decided by SET MEMBERSHIP, not a line counter.
    val dir = Files.createTempDirectory("graft_src4").toString
    val log = s"$dir/changelog.log"
    writeLines(log, (1L to 8L).map(i =>
      BinlogFileSource.renderLine("t0", i, "I", 1000L * i, i - 1, i * 1.0, "src", i)))
    val q = spark.readStream.format("graft-binlog")
      .option("path", log).option("startGtids", "src:1-5").load()
      .writeStream.format("memory").queryName("src_gtid_out")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      q.processAllAvailable()
      val got = spark.table("src_gtid_out").orderBy("pos").collect()
      assert(got.map(_.getAs[Long]("pk")).toSeq == Seq(6L, 7L, 8L))
      assert(got.map(_.getAs[String]("gtid")).toSeq == Seq("src:6", "src:7", "src:8"))
    } finally q.stop()
  }

  test("GTID set order is set algebra, not string compare (multi-uuid, 1-9 vs 1-10)") {
    // The reference compares gtid sets lexically ("1-9" > "1-10",
    // model/BinlogPosition.scala:19-20). Interleave two source uuids and
    // cross the 9→10 boundary; restart mid-stream must not lose or
    // duplicate any transaction.
    val dir = Files.createTempDirectory("graft_src5").toString
    val log = s"$dir/changelog.log"
    val delivered = new scala.collection.concurrent.TrieMap[String, Int]()
    def evts(r: Range, uuid: String, posBase: Long) =
      r.map(i => BinlogFileSource.renderLine("t0", i.toLong, "I", 1000L * i, posBase + i, i * 1.0, uuid, i.toLong))
    def run(): Unit = {
      val q = spark.readStream.format("graft-binlog")
        .option("path", log).option("maxPerBatch", "4").load()
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.select("gtid").collect().foreach { r =>
            delivered.updateWith(r.getString(0)) { c => Some(c.getOrElse(0) + 1) }
          }
        }
        .option("checkpointLocation", s"$dir/ckpt")
        .trigger(Trigger.ProcessingTime(0)).start()
      try q.processAllAvailable() finally q.stop()
    }
    writeLines(log, evts(1 to 9, "a", 0) ++ evts(1 to 9, "b", 100))
    run()
    // cross the lexical trap: txns 10..12 sort BEFORE 9 as strings
    writeLines(log, evts(10 to 12, "a", 200) ++ evts(10 to 12, "b", 300), append = true)
    run()
    val want = ((1 to 12).map(i => s"a:$i") ++ (1 to 12).map(i => s"b:$i")).toSet
    assert(delivered.keySet == want)
    assert(delivered.values.forall(_ == 1), s"duplicated delivery: $delivered")
  }

  test("wide row images stream through: JSON payload (commas intact) → registry decode → wide LWW state") {
    import graft.cdc.SchemaRegistry
    import graft.streaming.StreamingApply
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_src6").toString
    val log = s"$dir/changelog.log"
    val rowSchema = StructType(Seq(
      StructField("name", StringType), StructField("qty", LongType)))
    val reg = SchemaRegistry.of(Seq("t0"), rowSchema)
    def wline(pos: Long, pk: Long, op: String, name: String, qty: Long) =
      BinlogFileSource.renderLine("t0", pk, op, 1000L * pos, pos, 0.0, "src", pos + 1,
        s"""{"name": "$name", "qty": $qty}""")
    writeLines(log, Seq(
      wline(0, 1, "I", "a", 10), wline(1, 2, "I", "b", 20),
      wline(2, 1, "U", "a2", 11), wline(3, 2, "D", "b", 0),
      wline(4, 3, "I", "c", 30)))
    val payloadCols = Seq("name", "qty")
    val q = spark.readStream.format("graft-binlog")
      .option("path", log).option("maxPerBatch", "2").load()
      .withColumn("ts", timestamp_millis(col("ts_ms")))
      .transform(reg.decode(_))
      .select("tbl", "pk", "op", "ts", "pos", "name", "qty")
      .writeStream
      .foreachBatch(StreamingApply.applyBatch(s"$dir/state", payloadCols = payloadCols) _)
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.ProcessingTime(0)).start()
    try q.processAllAvailable() finally q.stop()
    val state = StreamingApply.currentState(spark, s"$dir/state", payloadCols)
      .collect().map(r => r.getAs[Long]("pk") -> ((r.getAs[String]("name"), r.getAs[Long]("qty")))).toMap
    assert(state == Map(1L -> ("a2", 11L), 3L -> ("c", 30L)))
  }

  test("source feeds the streaming LWW apply end-to-end") {
    import graft.streaming.StreamingApply
    val dir = Files.createTempDirectory("graft_src3").toString
    val log = s"$dir/changelog.log"
    writeLines(log, Seq(
      line(0, 1, "I", 1.0), line(1, 2, "I", 2.0), line(2, 1, "U", 1.5),
      line(3, 2, "D", 0.0), line(4, 3, "I", 3.0), line(5, 1, "U", 1.9)))
    val q = spark.readStream.format("graft-binlog")
      .option("path", log).option("maxPerBatch", "2").load()
      .withColumn("ts", timestamp_millis(col("ts_ms"))).drop("ts_ms")
      .writeStream
      .foreachBatch(StreamingApply.applyBatch(s"$dir/state") _)
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.ProcessingTime(0)).start()
    try q.processAllAvailable() finally q.stop()
    val state = StreamingApply.currentState(spark, s"$dir/state")
      .collect().map(r => r.getLong(1) -> r.getDouble(5)).toMap
    assert(state == Map(1L -> 1.9, 3L -> 3.0))
  }
}
