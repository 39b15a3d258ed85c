package graft

import graft.model.LogPosition.GtidSet
import graft.sources.{BinlogFileSource, GtidOffset}
import org.apache.spark.sql.connector.catalog.SupportsRead
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._

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

  private type Stream = MicroBatchStream with SupportsAdmissionControl

  /** The source's micro-batch stream, built as the engine builds it. */
  private def stream(log: String, startGtids: String = ""): Stream =
    new BinlogFileSource()
      .getTable(BinlogFileSource.schema, Array.empty, Map("path" -> log, "startGtids" -> startGtids).asJava)
      .asInstanceOf[SupportsRead].newScanBuilder(CaseInsensitiveStringMap.empty()).build()
      .toMicroBatchStream("unused").asInstanceOf[Stream]

  private def gtids(o: Offset): GtidSet = o.asInstanceOf[GtidOffset].gtids

  private def limit(cap: Long): ReadLimit =
    if (cap == Long.MaxValue) ReadLimit.allAvailable() else ReadLimit.maxRows(cap)

  /** (pos, gtid) of the rows batch `[start, end)` reads, in file order. */
  private def rows(s: Stream, start: Offset, end: Offset): Seq[(Long, String)] = {
    val factory = s.createReaderFactory()
    s.planInputPartitions(start, end).toSeq.flatMap { p =>
      val r = factory.createReader(p)
      try Iterator.continually(r.next()).takeWhile(identity)
        .map(_ => r.get().getLong(4) -> r.get().getUTF8String(6).toString).toList
      finally r.close()
    }
  }

  private def appendBytes(path: String, bytes: Array[Byte]): Unit =
    Files.write(Paths.get(path), bytes, StandardOpenOption.CREATE, StandardOpenOption.APPEND)

  /** The split-based parse of a line's gtid — field 6 split at its last
    * `:`, else the file-position transaction `pos + 1` — the reference the
    * source's byte scan must agree with. */
  private def gtidOf(line: String): (String, Long) = {
    val parts = line.split(",", 8)
    if (parts.length >= 7 && parts(6).nonEmpty) {
      val i = parts(6).lastIndexOf(':')
      (parts(6).substring(0, i), parts(6).substring(i + 1).toLong)
    } else (BinlogFileSource.FileposUuid, parts(0).toLong + 1L)
  }

  /** Overwrites `bytes.length` bytes of `path` at `at` in place. */
  private def overwrite(path: String, at: Long, bytes: Array[Byte]): Unit = {
    val ch = FileChannel.open(Paths.get(path), StandardOpenOption.WRITE)
    try ch.write(ByteBuffer.wrap(bytes), at) finally ch.close()
  }

  test("the byte scan reads the same (uuid, txn) as the split-based parse, line for line") {
    val tables = Seq("t0", "tä", "表_orders")
    val uuids = Seq("a", "3E11FA47-71CA-11E1-9E33-C80AA9429562", "ü∂-源", "host:port", "")
    val payloads = Seq("", "{}", """{"k": "a,b:c", "n": [1, 2]}""", "naïve, 日本語: ok", ",,::,")
    for (seed <- 1 to 6) {
      val rnd = new scala.util.Random(seed)
      val dir = Files.createTempDirectory("graft_src_kernel").toString
      val log = s"$dir/changelog.log"
      var uuid = uuids.head
      var txn = 0L
      // enough lines to cross the scan's 64 KiB buffer several times
      val lines = (0 until 3000).map { i =>
        if (rnd.nextInt(6) == 0) uuid = uuids(rnd.nextInt(uuids.size)) // a uuid switch
        if (rnd.nextInt(3) != 0) txn += 1 // else one more row of the same transaction
        val pad = "0" * rnd.nextInt(3) // txns such as 007
        val head = s"$i,${tables(rnd.nextInt(tables.size))},${rnd.nextInt(50)},U,$i,${i * 0.5}"
        rnd.nextInt(6) match {
          case 0 => head // a narrow 6-field line
          case 1 => s"$head," // an empty gtid field
          case 2 => s"$head,,${payloads(rnd.nextInt(payloads.size))}" // an empty gtid field and a payload
          case 3 => s"$head,$uuid:$pad$txn"
          case _ => s"$head,$uuid:$pad$txn,${payloads(rnd.nextInt(payloads.size))}"
        }
      }
      Files.write(Paths.get(log), lines.map(_ + "\n").mkString.getBytes(StandardCharsets.UTF_8))
      val scan = new BinlogFileSource.LogLines(log, 0L, Files.size(Paths.get(log)))
      try {
        var at = 0L
        for (l <- lines) {
          assert(scan.next(), s"seed $seed: scan ended before $l")
          assert((scan.uuid, scan.txn) == gtidOf(l), s"seed $seed: $l")
          assert(scan.text == l && scan.lineStart == at, s"seed $seed: $l")
          at += l.getBytes(StandardCharsets.UTF_8).length + 1
          assert(scan.end == at, s"seed $seed: $l")
        }
        assert(!scan.next())
      } finally scan.close()
    }
  }

  private val goodLines = (1L to 2L).map(i => BinlogFileSource.renderLine("t0", i, "I", 1000L * i, i, 1.0, "a", i))

  /** A fresh instance's `latestOffset` and `reportLatestOffset` both fail on
    * `bad`, the line after `goodLines`, naming the log, the line's byte
    * offset and `why`. */
  private def failsOn(dirPrefix: String, bad: String, why: String): Unit = {
    val log = s"${Files.createTempDirectory(dirPrefix)}/changelog.log"
    writeLines(log, goodLines :+ bad)
    for (call <- Seq[Stream => Offset](s => s.latestOffset(s.initialOffset(), limit(Long.MaxValue)),
                                       _.reportLatestOffset())) {
      val e = intercept[IllegalArgumentException](call(stream(log)))
      assert(e.getMessage.contains(log) && e.getMessage.contains(s"byte ${goodLines.map(_.length + 1).sum}"),
        e.getMessage)
      assert(e.getMessage.contains(why), e.getMessage)
    }
  }

  test("a gtid field without ':' fails the trigger with the log path and the line's byte offset") {
    failsOn("graft_src_nocolon", "3,t0,3,I,3000,3.0,a3,{}", "gtid 'a3' has no ':'")
  }

  test("a non-numeric gtid txn fails the trigger with the log path and the line's byte offset") {
    failsOn("graft_src_badtxn", "3,t0,3,I,3000,3.0,a:3x", "gtid txn '3x' is not a number")
  }

  test("a fresh instance reads the log once: after a capped latestOffset, reportLatestOffset reads only past the cap") {
    val dir = Files.createTempDirectory("graft_src_once").toString
    val log = s"$dir/changelog.log"
    val lines = (1L to 20L).map(i => BinlogFileSource.renderLine("t0", i, "I", 1000L * i, i, i * 1.0, "a", i))
    writeLines(log, lines)
    val s = stream(log, "a:1-5")
    val o0 = s.initialOffset()
    val o1 = s.latestOffset(o0, limit(4))
    assert(o1.json == "a:1-9")
    // line a:3 lies before the cap point: garble it in place
    overwrite(log, lines.take(2).map(_.length + 1).sum.toLong, Array.fill(lines(2).length)('#'.toByte))
    assert(s.reportLatestOffset().json == "a:1-20")
    assert(rows(s, o0, o1) == (6L to 9L).map(i => i -> s"a:$i"))
    val o2 = s.latestOffset(o1, limit(Long.MaxValue))
    assert(o2.json == "a:1-20")
    assert(rows(s, o1, o2) == (10L to 20L).map(i => i -> s"a:$i"))
  }

  test("a torn trailing line stays out of the offset until its newline lands, then streams once") {
    val dir = Files.createTempDirectory("graft_src_torn").toString
    val log = s"$dir/changelog.log"
    writeLines(log, (0L until 5L).map(i => line(i, i, "I", i * 1.0)))
    val whole = (line(5, 5, "I", 5.0) + "\n").getBytes
    appendBytes(log, whole.take(whole.length / 2))
    val s = stream(log)
    val o0 = s.initialOffset()
    val o1 = s.latestOffset(o0, limit(Long.MaxValue))
    assert(o1.json == "filepos:1-5")
    assert(s.reportLatestOffset().json == "filepos:1-5")
    assert(rows(s, o0, o1).map(_._1) == (0L until 5L))
    appendBytes(log, whole.drop(whole.length / 2))
    val o2 = s.latestOffset(o1, limit(Long.MaxValue))
    assert(o2.json == "filepos:1-6")
    assert(s.reportLatestOffset().json == "filepos:1-6")
    assert(rows(s, o1, o2) == Seq(5L -> "filepos:6"))
    assert(s.latestOffset(o2, limit(Long.MaxValue)) == o2)
  }

  test("per-trigger reads stay past the consumed lines: a consumed line overwritten in place is never parsed") {
    val dir = Files.createTempDirectory("graft_src_delta").toString
    val log = s"$dir/changelog.log"
    val lines = (0L until 10L).map(i => line(i, i, "I", i * 1.0))
    writeLines(log, lines)
    val s = stream(log)
    val o0 = s.initialOffset()
    val o1 = s.latestOffset(o0, limit(4))
    s.reportLatestOffset()
    assert(rows(s, o0, o1).map(_._1) == (0L until 4L))
    val o2 = s.latestOffset(o1, limit(4))
    s.reportLatestOffset()
    assert(rows(s, o1, o2).map(_._1) == (4L until 8L))
    // line 2 is consumed and behind both cursors: garble it in place
    val at = lines.take(2).map(_.length + 1).sum.toLong
    val ch = FileChannel.open(Paths.get(log), StandardOpenOption.WRITE)
    try ch.write(ByteBuffer.wrap(Array.fill(lines(2).length)('#'.toByte)), at) finally ch.close()
    writeLines(log, (10L until 12L).map(i => line(i, i, "I", i * 1.0)), append = true)
    val o3 = s.latestOffset(o2, limit(4))
    assert(o3.json == "filepos:1-12")
    assert(s.reportLatestOffset().json == "filepos:1-12")
    assert(rows(s, o2, o3).map(_._1) == (8L until 12L))
  }

  test("a transaction the cap cuts after its first line is read whole by the batch that takes it") {
    val dir = Files.createTempDirectory("graft_src_multi").toString
    val log = s"$dir/changelog.log"
    // a:2 is one transaction of two rows
    writeLines(log, Seq(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 3L).map { case (pos, txn) =>
      BinlogFileSource.renderLine("t0", pos, "I", 1000L * pos, pos, pos * 1.0, "a", txn) })
    val s = stream(log)
    val o0 = s.initialOffset()
    val o1 = s.latestOffset(o0, limit(2))
    assert(o1.json == "a:1-2")
    assert(rows(s, o0, o1) == Seq(1L -> "a:1", 2L -> "a:2", 3L -> "a:2"))
    val o2 = s.latestOffset(o1, limit(2))
    assert(o2.json == "a:1-3")
    assert(rows(s, o1, o2) == Seq(4L -> "a:3"))
  }

  test("a log rewritten and grown past the cursors is scanned again from byte 0") {
    val dir = Files.createTempDirectory("graft_src_rewrite").toString
    val log = s"$dir/changelog.log"
    writeLines(log, (1L to 10L).map(i =>
      BinlogFileSource.renderLine("t0", i, "I", 1000L * i, i, i * 1.0, "a", i)))
    val s = stream(log)
    val o0 = s.initialOffset()
    val o1 = s.latestOffset(o0, limit(Long.MaxValue))
    assert(s.reportLatestOffset().json == "a:1-10")
    assert(rows(s, o0, o1).size == 10)
    // new content, longer than the old log, whose line boundaries differ
    writeLines(log, (1L to 20L).map(i =>
      BinlogFileSource.renderLine("t1", i, "I", 1000L * i, 1000 + i, i * 0.25, "b", i)))
    val o2 = s.latestOffset(o1, limit(Long.MaxValue))
    assert(o2.json == "a:1-10,b:1-20")
    assert(s.reportLatestOffset() == stream(log).reportLatestOffset())
    assert(rows(s, o1, o2) == (1L to 20L).map(i => (1000 + i) -> s"b:$i"))
  }

  test("cursor stream ≡ fresh instance under random appends, torn tails, caps, commits and replays") {
    for (seed <- 1 to 12) {
      val rnd = new scala.util.Random(seed)
      val dir = Files.createTempDirectory("graft_src_prop").toString
      val log = s"$dir/changelog.log"
      Files.write(Paths.get(log), Array.emptyByteArray)
      val start = if (rnd.nextBoolean()) "a:1-3" else ""
      val s = stream(log, start)
      val txn = scala.collection.mutable.Map("a" -> 0L, "b" -> 0L)
      val written = scala.collection.mutable.ArrayBuffer.empty[(Long, String)] // (pos, gtid) per line
      var pos = 0L
      var torn = Array.emptyByteArray // the rest of a half-written line
      var committed: Offset = s.initialOffset()
      for (step <- 0 until 40) {
        if (rnd.nextInt(3) == 0) {
          // transactions of one to three rows
          val appended = (0 until rnd.nextInt(5)).flatMap { _ =>
            val uuid = if (rnd.nextBoolean()) "a" else "b"
            txn(uuid) += 1
            (0 to rnd.nextInt(3)).map { _ =>
              pos += 1
              written += pos -> s"$uuid:${txn(uuid)}"
              BinlogFileSource.renderLine("t0", pos % 7, "U", pos, pos, pos * 0.5, uuid, txn(uuid))
            }
          }
          val bytes = torn ++ appended.map(_ + "\n").mkString.getBytes
          val cut = if (bytes.nonEmpty && rnd.nextInt(3) == 0) rnd.nextInt(bytes.length) else bytes.length
          appendBytes(log, bytes.take(cut))
          torn = bytes.drop(cut)
        }
        val cap = if (rnd.nextInt(4) == 0) Long.MaxValue else 1L + rnd.nextInt(4)
        val end = s.latestOffset(committed, limit(cap))
        val ctx = s"seed $seed step $step"
        assert(gtids(end) == gtids(stream(log, start).latestOffset(committed, limit(cap))), ctx)
        assert(gtids(s.reportLatestOffset()) == gtids(stream(log, start).reportLatestOffset()), ctx)
        if (end != committed) {
          val got = rows(s, committed, end)
          assert(got == rows(stream(log, start), committed, end), ctx)
          // every complete line of the delta's transactions, in file order
          val delta = gtids(end).subtract(gtids(committed))
          val complete = written.take(Files.readAllBytes(Paths.get(log)).count(_ == '\n'))
          assert(got == complete.filter { case (_, g) =>
            val i = g.lastIndexOf(':')
            delta.contains(g.take(i), g.drop(i + 1).toLong)
          }, ctx)
          if (rnd.nextInt(4) != 0) committed = end // else the batch fails and is replanned
        }
      }
    }
  }

  test("a log truncated below the cursors is scanned again from byte 0") {
    val dir = Files.createTempDirectory("graft_src_trunc").toString
    val log = s"$dir/changelog.log"
    writeLines(log, (1L to 10L).map(i =>
      BinlogFileSource.renderLine("t0", i, "I", 1000L * i, i, i * 1.0, "a", i)))
    val s = stream(log)
    val o0 = s.initialOffset()
    val o1 = s.latestOffset(o0, limit(Long.MaxValue))
    assert(s.reportLatestOffset().json == "a:1-10")
    assert(rows(s, o0, o1).size == 10)
    writeLines(log, (1L to 3L).map(i =>
      BinlogFileSource.renderLine("t0", i, "I", 1000L * i, 100 + i, i * 1.0, "b", i)))
    val o2 = s.latestOffset(o1, limit(Long.MaxValue))
    assert(o2.json == "a:1-10,b:1-3")
    assert(s.reportLatestOffset() == stream(log).reportLatestOffset())
    assert(rows(s, o1, o2) == (1L to 3L).map(i => (100 + i) -> s"b:$i"))
  }

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
