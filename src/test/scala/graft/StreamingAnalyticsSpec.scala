package graft

import graft.streaming.StreamingAnalytics
import graft.streaming.StreamingAnalytics.{SessionInput, SessionOut}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import java.sql.Timestamp

/** Event-time semantics through real streaming micro-batches: watermark
  * drops late data; sessions close on gap/timeout.
  */
class StreamingAnalyticsSpec extends SparkSpec {

  import spark.implicits._

  private def ts(minutes: Long): Timestamp = new Timestamp(minutes * 60000L)

  test("watermarked tumbling windows emit once closed and drop late events") {
    val ms = MemoryStream[(Timestamp, String, Double)](spark, numPartitions = 1)
    val q = StreamingAnalytics.windowedCounts(
      ms.toDF().toDF("ts", "event_type", "value"))
      .writeStream.outputMode("append")
      .format("memory").queryName("win_out")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      // hour 0 events
      ms.addData((ts(10), "click", 1.0), (ts(20), "click", 2.0))
      q.processAllAvailable()
      // advance watermark past hour 0 + 2h watermark: event at minute 200
      ms.addData((ts(200), "click", 5.0))
      q.processAllAvailable()
      // hour-0 window now closed; this late event must be DROPPED
      ms.addData((ts(30), "click", 100.0))
      q.processAllAvailable()
      // push watermark further so nothing else interferes
      ms.addData((ts(400), "other", 1.0))
      q.processAllAvailable()
      val rows = spark.table("win_out")
        .select("hour", "event_type", "n_events", "sum_value").collect()
      val hour0 = rows.filter(r => r.getTimestamp(0).getTime == 0L)
      assert(hour0.length == 1)
      assert(hour0(0).getLong(2) == 2L && hour0(0).getDouble(3) == 3.0) // late 100.0 absent
    } finally q.stop()
  }

  test("mix drift: a day emits once on watermark close with the exact hand TVD") {
    val ms = MemoryStream[(Timestamp, String)](spark, numPartitions = 1)
    val q = StreamingAnalytics.mixDrift(
      ms.toDF().toDF("ts", "event_type"), Seq("a", "b", "c", "d", "e"), 100000L)
      .writeStream.outputMode("append")
      .format("memory").queryName("mixdrift_out")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      // day 1 (minutes 1440..): counts (2,1,1,0,0), n=4 →
      // Σ|5c−n| = 6+1+1+4+4 = 16 → tvd = 1e6·16 DIV (2·5·4) = 400000
      ms.addData((ts(1500), "a"), (ts(1510), "a"), (ts(1520), "b"), (ts(1530), "c"))
      q.processAllAvailable()
      assert(spark.table("mixdrift_out").isEmpty, "window must not emit before close")
      // day 3 event advances the watermark past day 1's end + 2h
      ms.addData((ts(3 * 1440 + 300), "a"))
      q.processAllAvailable()
      val rows = spark.table("mixdrift_out").collect()
      assert(rows.length == 1)
      val r = rows(0)
      assert(r.getTimestamp(0).getTime == 1440L * 60000L)
      assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
        r.getLong(6)) == ((4L, 2L, 1L, 1L, 0L, 0L)), r)
      assert(r.getLong(7) == 400000L && r.getBoolean(8), r)
    } finally q.stop()
  }

  test("streaming dedup drops repeated fingerprints across micro-batches") {
    val ms = MemoryStream[(Timestamp, String, Long)](spark, numPartitions = 1)
    val q = graft.streaming.StreamingAnalytics
      .streamingDedupWithinWatermark(ms.toDF().toDF("ts", "fp", "doc_id"), "fp")
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      ms.addData((ts(60), "fpA", 1L), (ts(61), "fpB", 2L))
      q.processAllAvailable()
      // duplicate of fpA in a LATER batch, inside the watermark horizon
      ms.addData((ts(62), "fpA", 3L), (ts(63), "fpC", 4L))
      q.processAllAvailable()
      val got = spark.table("dedup_out").collect()
        .map(r => r.getString(1) -> r.getLong(2)).toMap
      assert(got == Map("fpA" -> 1L, "fpB" -> 2L, "fpC" -> 4L)) // doc 3 deduped
    } finally q.stop()
  }

  test("exact-replay dedup excludes duplicates on BOTH paths: state and late filter") {
    val ms = MemoryStream[(Timestamp, String, Long)](spark, numPartitions = 1)
    val q = StreamingAnalytics
      .streamingDedup(ms.toDF().toDF("ts", "fp", "doc_id"), "fp")
      .writeStream.outputMode("append")
      .format("memory").queryName("replay_out")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      ms.addData((ts(60), "fpA", 1L), (ts(61), "fpB", 2L))
      q.processAllAvailable()
      // replay fpA@60 while still inside the 1h horizon → dedup STATE drops it
      ms.addData((ts(60), "fpA", 3L))
      q.processAllAvailable()
      // advance the watermark far past minute 60 (wm = 300 - 60 = 240)
      ms.addData((ts(300), "fpD", 4L))
      q.processAllAvailable()
      // replay fpA@60 again — its state is evicted, but the LATE filter
      // (event time < watermark) excludes it; replays never resurface
      ms.addData((ts(60), "fpA", 5L))
      q.processAllAvailable()
      // same fp at a NEW in-horizon event time is a different event: kept
      ms.addData((ts(301), "fpA", 6L))
      q.processAllAvailable()
      val got = spark.table("replay_out").collect()
        .map(r => (r.getString(1), r.getTimestamp(0).getTime / 60000L) -> r.getLong(2)).toMap
      assert(got == Map(("fpA", 60L) -> 1L, ("fpB", 61L) -> 2L,
        ("fpD", 300L) -> 4L, ("fpA", 301L) -> 6L))
    } finally q.stop()
  }

  test("stream-stream interval join pairs events within the window, bounded state") {
    val clicks = MemoryStream[(Long, Timestamp, String)](spark, numPartitions = 1)
    val buys = MemoryStream[(Long, Timestamp, String)](spark, numPartitions = 1)
    val q = StreamingAnalytics.intervalJoin(
      clicks.toDF().toDF("user_id", "ts", "event_type"),
      buys.toDF().toDF("user_id", "ts", "event_type"), windowSeconds = 600)
      .writeStream.outputMode("append")
      .format("memory").queryName("ssjoin_out")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      clicks.addData((1L, ts(10), "click"), (2L, ts(10), "click"))
      buys.addData(
        (1L, ts(15), "purchase"),  // 5 min after u1's click → inside window
        (2L, ts(40), "purchase"),  // 30 min after u2's click → outside
        (3L, ts(15), "purchase"))  // no matching click
      q.processAllAvailable()
      val got = spark.table("ssjoin_out")
        .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[String]("r_type"))).toSeq
      assert(got == Seq((1L, "purchase")))
    } finally q.stop()
  }

  test("left-outer interval join: null-emission gated by the watermark, recent rows withheld") {
    val clicks = MemoryStream[(Long, Timestamp, String)](spark, numPartitions = 1)
    val buys = MemoryStream[(Long, Timestamp, String)](spark, numPartitions = 1)
    val q = StreamingAnalytics.intervalJoin(
      clicks.toDF().toDF("user_id", "ts", "event_type"),
      buys.toDF().toDF("user_id", "ts", "event_type"),
      windowSeconds = 600, delay = "10 minutes", joinType = "left_outer")
      .writeStream.outputMode("append")
      .format("memory").queryName("ssjoin_outer_out")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      clicks.addData((1L, ts(10), "click"),   // will match
        (2L, ts(10), "click"),                // will never match → expires
        (3L, ts(200), "click"))               // unmatched but still open
      buys.addData((1L, ts(15), "purchase"),
        // advance BOTH watermarks far past u2's window (10+10min window
        // + 10min delay) but not past u3's
        (9L, ts(205), "purchase"))
      q.processAllAvailable()
      // one more batch so the eviction-driven null rows flush
      clicks.addData((9L, ts(206), "click"))
      buys.addData((8L, ts(207), "purchase"))
      q.processAllAvailable()
      val got = spark.table("ssjoin_outer_out").collect()
        .map(r => r.getAs[Long]("user_id") -> Option(r.getAs[String]("r_type"))).toMap
      assert(got(1L) == Some("purchase"), s"matched pair must emit: $got")
      assert(got.get(2L) == Some(None), s"expired unmatched click must emit null-extended: $got")
      assert(!got.contains(3L), s"still-open unmatched click must be withheld: $got")
    } finally q.stop()
  }

  test("session_window: an event at exactly last+gap MERGES (inclusive bound)") {
    val ms = MemoryStream[(Long, Timestamp, Double)](spark, numPartitions = 1)
    val q = StreamingAnalytics.sessionWindowCounts(
      ms.toDF().toDF("user_id", "ts", "value"), gap = "10 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("sesswin_out")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      // u1: events at 60 and 70 min — 70 lands EXACTLY at 60+gap and
      // MERGES (inclusive bound); u2: 60 and 80.5 → a true gap → split
      ms.addData((1L, ts(60), 1.0), (1L, ts(70), 1.0),
        (2L, ts(60), 1.0), (2L, new Timestamp(80 * 60000L + 30000L), 1.0))
      q.processAllAvailable()
      // advance watermark (2h delay) past every session end
      ms.addData((9L, ts(400), 1.0))
      q.processAllAvailable()
      ms.addData((9L, ts(401), 1.0))
      q.processAllAvailable()
      val got = spark.table("sesswin_out").collect()
        .filter(r => r.getLong(0) < 9L)
        .map(r => (r.getLong(0), r.getLong(1) / 60000000L, r.getLong(3))).toSet
      assert(got == Set((1L, 60L, 2L), (2L, 60L, 1L), (2L, 80L, 1L)),
        s"exact-gap merges, a true gap splits: $got")
    } finally q.stop()
  }

  test("gap sessionization closes on in-batch gap and on event-time timeout") {
    val ms = MemoryStream[SessionInput](spark, numPartitions = 1)
    val q = StreamingAnalytics.sessionize(ms.toDS(), gapMs = 10 * 60000L)
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_out")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      // user 1: two events 5 min apart (one session), then 30 min gap → new
      // session. Times start at minute 60: a row whose event time equals
      // the initial watermark (0) is dropped by the late-row filter.
      ms.addData(
        SessionInput(1L, ts(60), "a"), SessionInput(1L, ts(65), "a"),
        SessionInput(1L, ts(95), "a"))
      q.processAllAvailable()
      // advance watermark way past session 2's timeout (35 + 10 min)
      ms.addData(SessionInput(2L, ts(300), "b"))
      q.processAllAvailable()
      ms.addData(SessionInput(2L, ts(600), "b"))
      q.processAllAvailable()
      val sessions = spark.table("sess_out").as[SessionOut].collect()
        .filter(_.user_id == 1L).sortBy(_.start_ms)
      assert(sessions.length == 2)
      assert(sessions(0).start_ms == ts(60).getTime && sessions(0).end_ms == ts(65).getTime
        && sessions(0).n_events == 2)
      assert(sessions(1).start_ms == ts(95).getTime && sessions(1).n_events == 1)
    } finally q.stop()
  }

  test("streaming attribution: click state carries across batch boundaries; matches batch op") {
    import graft.streaming.StreamingAnalytics.{AttribInput, AttribOut}
    val rows = Seq(
      AttribInput(0L, 1L, ts(10), "click"),
      AttribInput(1L, 1L, ts(20), "click"),
      AttribInput(2L, 1L, ts(30), "purchase"),  // → click 1, lag 10 min
      AttribInput(3L, 2L, ts(10), "click"),
      AttribInput(4L, 2L, ts(200), "purchase"), // 190 min > 60 → None
      AttribInput(5L, 3L, ts(50), "purchase"),  // no click ever → None
      AttribInput(6L, 1L, ts(90), "purchase"))  // click 1 again (70 min) → None
    val ms = MemoryStream[AttribInput](spark, numPartitions = 1)
    val q = StreamingAnalytics.attribution(ms.toDS(), 3600L * 1000000L)
      .writeStream.outputMode("append")
      .format("memory").queryName("attrib_out")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      // split so user 1's click and its purchase land in DIFFERENT batches
      ms.addData(rows.take(2): _*); q.processAllAvailable()
      ms.addData(rows.slice(2, 5): _*); q.processAllAvailable()
      ms.addData(rows.drop(5): _*); q.processAllAvailable()
      val got = spark.table("attrib_out").as[AttribOut].collect()
        .sortBy(_.purchase_id)
      assert(got.map(o => (o.purchase_id, o.click_id, o.lag_us)).toSeq == Seq(
        (2L, Some(1L), Some(600L * 1000000L)),
        (4L, None, None), (5L, None, None), (6L, None, None)))
      // batch-split invariance: same rows through the batch operator
      val batch = graft.ops.Analytics.lastTouchAttribution(
        rows.toDF(), 3600L).collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSeq
      assert(batch == got.map(o => (o.purchase_id, o.click_id, o.lag_us)).toSeq)
    } finally q.stop()
  }

  test("sliding windows: each event feeds two windows; append emits only finalized ones") {
    val ms = MemoryStream[(Timestamp, Double)](spark, numPartitions = 1)
    val q = StreamingAnalytics.slidingCounts(ms.toDF().toDF("ts", "value"))
      .writeStream.outputMode("append")
      .format("memory").queryName("slide_out")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      ms.addData((ts(10), 2.0)); q.processAllAvailable()
      ms.addData((ts(40), 3.0)); q.processAllAvailable()
      // watermark pusher: min 400 → wm = 400m - 2h = 280m; finalizes the
      // three windows covering the two events, not its own
      ms.addData((ts(400), 99.0)); q.processAllAvailable()
      val got = spark.table("slide_out").collect()
        .map(r => r.getTimestamp(0).getTime / 60000 -> (r.getLong(1), r.getDouble(2)))
        .toMap
      assert(got == Map(
        -30L -> ((1L, 2.0)), // [-30, 30) sees only the min-10 event
        0L -> ((2L, 5.0)),   // [0, 60) sees both
        30L -> ((1L, 3.0))), // [30, 90) sees only the min-40 event
        s"got $got")
    } finally q.stop()
  }

  test("complete-mode top-k: heap buffers merge across micro-batches") {
    import graft.functions.TopKFunctions
    TopKFunctions.register(spark)
    val ms = MemoryStream[(Long, Long, Double)](spark, numPartitions = 1)
    val q = ms.toDF().toDF("user_id", "event_id", "value")
      .groupBy($"user_id")
      .agg(TopKFunctions.topKByValue($"value", $"event_id", 3).as("top"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("topk_out")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      ms.addData((1L, 1L, 5.0), (1L, 2L, 1.0)); q.processAllAvailable()
      ms.addData((1L, 3L, 9.0), (1L, 4L, 4.0)); q.processAllAvailable()
      val top = spark.table("topk_out").collect()(0)
        .getSeq[org.apache.spark.sql.Row](1)
        .map(r => (r.getAs[Long]("id"), r.getAs[Double]("value")))
      // the final top-3 interleaves batch-1 and batch-2 values — only a
      // genuine cross-batch buffer merge produces this ordering
      assert(top == Seq((3L, 9.0), (1L, 5.0), (4L, 4.0)), s"got $top")
    } finally q.stop()
  }

  test("KMV streaming aggregation: sketch state survives checkpoint restart") {
    import graft.ops.Sketches
    val dir = java.nio.file.Files.createTempDirectory("graft_kmv_restart").toString
    val chunks = s"$dir/chunks"
    new java.io.File(chunks).mkdirs()
    def hourTs(h: Long): Timestamp = new Timestamp(h * 3600000L)
    def writeChunk(name: String, rows: Seq[(Timestamp, String, Long)]): Unit = {
      rows.toDF("ts", "event_type", "user_id")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/tmp_$name")
      val part = new java.io.File(s"$dir/tmp_$name").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$chunks/$name.parquet"))
    }
    val emitted = new scala.collection.concurrent.TrieMap[(Timestamp, String), (Long, Double)]()
    def run(): Unit = {
      val schema = spark.read.parquet(chunks).schema
      val q = Sketches.streamingApproxDistinct(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(chunks), 64)
        .writeStream.outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().foreach { r =>
            emitted.put((r.getTimestamp(0), r.getString(1)),
              (r.getLong(2), r.getDouble(3)))
          }
        }
        .option("checkpointLocation", s"$dir/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // run 1: hours 0-1 only — nothing finalizes (watermark = max - 2h)
    writeChunk("c0", Seq(
      (hourTs(0), "a", 1L), (hourTs(0), "a", 2L), (hourTs(0), "a", 3L),
      (hourTs(1), "a", 3L), (hourTs(1), "a", 4L)))
    run()
    assert(emitted.isEmpty, s"no window should finalize yet: $emitted")
    // run 2 from the SAME checkpoint: hour-4 data pushes the watermark to
    // hour 2, finalizing hours 0 and 1 — whose distinct counts depend on
    // sketch state recovered from run 1's checkpoint
    writeChunk("c1", Seq((hourTs(4), "a", 9L)))
    run()
    assert(emitted.get((hourTs(0), "a")).contains((3L, 3.0)),
      s"hour-0 sketch must recover users 1,2,3 from the checkpoint: $emitted")
    assert(emitted.get((hourTs(1), "a")).contains((2L, 2.0)),
      s"hour-1 sketch must recover users 3,4: $emitted")
  }

  test("streaming CEP funnel: last-predecessor semantics, window cut, state across batches") {
    import graft.streaming.StreamingAnalytics.{CepInput, FunnelOut}
    val win = 3600L * 1000000L // 60 min
    val rows = Seq(
      CepInput(0L, 1L, ts(10), "signup"),
      CepInput(1L, 1L, ts(20), "click"),
      CepInput(2L, 1L, ts(30), "purchase"),   // match: span 20 min
      CepInput(3L, 1L, ts(40), "signup"),     // must NOT re-anchor click e1
      CepInput(4L, 1L, ts(50), "purchase"),   // match: SAME prefix, span 40 min
      CepInput(5L, 2L, ts(10), "click"),      // click before any signup: ignored
      CepInput(6L, 2L, ts(20), "purchase"),   // no qualifying click → no match
      CepInput(7L, 2L, ts(30), "signup"),
      CepInput(8L, 2L, ts(35), "click"),
      CepInput(9L, 2L, ts(300), "purchase"),  // span 270 min > 60 → no match
      CepInput(10L, 3L, ts(5), "purchase"))   // no state at all
    val ms = MemoryStream[CepInput](spark, numPartitions = 1)
    val q = StreamingAnalytics.funnelMatch(ms.toDS(), win)
      .writeStream.outputMode("append")
      .format("memory").queryName("funnel_out")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      // split so user 1's signup+click land in a DIFFERENT batch than
      // both its purchases, and user 2's prefix precedes its purchase
      ms.addData(rows.take(2): _*); q.processAllAvailable()
      ms.addData(rows.slice(2, 7): _*); q.processAllAvailable()
      ms.addData(rows.drop(7): _*); q.processAllAvailable()
      val got = spark.table("funnel_out").as[FunnelOut].collect().sortBy(_.event_id)
      val us = (m: Long) => m * 60000000L
      assert(got.map(o => (o.event_id, o.signup_us, o.click_us, o.purchase_us, o.span_us)).toSeq
        == Seq(
          (2L, us(10), us(20), us(30), us(20)),
          (4L, us(10), us(20), us(50), us(40))),
        s"exactly e2 and e4 match, both anchored to (signup e0, click e1): ${got.toSeq}")
    } finally q.stop()
  }

  test("streaming CEP funnel: batch-split invariance (all-at-once equals split delivery)") {
    import graft.streaming.StreamingAnalytics.{CepInput, FunnelOut}
    val win = 3600L * 1000000L
    val rows = Seq(
      CepInput(0L, 1L, ts(10), "signup"), CepInput(1L, 1L, ts(20), "click"),
      CepInput(2L, 1L, ts(30), "purchase"), CepInput(3L, 1L, ts(40), "signup"),
      CepInput(4L, 1L, ts(50), "purchase"), CepInput(5L, 2L, ts(30), "signup"),
      CepInput(6L, 2L, ts(35), "click"), CepInput(7L, 2L, ts(45), "purchase"))
    def run(splits: Seq[Seq[CepInput]], name: String): Seq[(Long, Long)] = {
      val ms = MemoryStream[CepInput](spark, numPartitions = 1)
      val q = StreamingAnalytics.funnelMatch(ms.toDS(), win)
        .writeStream.outputMode("append").format("memory").queryName(name)
        .trigger(Trigger.ProcessingTime(0)).start()
      try {
        splits.foreach { b => ms.addData(b: _*); q.processAllAvailable() }
        spark.table(name).as[FunnelOut].collect().map(o => (o.event_id, o.span_us))
          .sortBy(_._1).toSeq
      } finally q.stop()
    }
    val whole = run(Seq(rows), "funnel_whole")
    val split = run(rows.grouped(3).toSeq, "funnel_split")
    assert(whole == split, s"whole=$whole split=$split")
    assert(whole.map(_._1) == Seq(2L, 4L, 7L))
  }

  test("streaming z-score gate: exact cross-multiplied flags, state across batches") {
    import graft.streaming.StreamingAnalytics.{ZInput, ZOut}
    // type m: 100,100,100,100,100 | 200 (zero-variance prefix → flag) |
    // 101 (within 2σ) | 500 (flag); type q: too few rows for minN=2
    val rows = Seq(
      ZInput(0L, ts(1), "m", 1.00), ZInput(1L, ts(2), "m", 1.00),
      ZInput(2L, ts(3), "m", 1.00), ZInput(3L, ts(4), "m", 1.00),
      ZInput(4L, ts(5), "m", 1.00),
      ZInput(5L, ts(6), "m", 2.00),   // dev²=250000 > 4·0 (σ=0): flag, mean 100
      ZInput(6L, ts(7), "m", 1.01),   // dev²=8836 ≤ 4·50000: no flag
      ZInput(7L, ts(8), "m", 5.00),   // dev²=7284601 > 4·59806: flag, mean 114
      ZInput(8L, ts(1), "q", 9.99))
    def run(splits: Seq[Seq[ZInput]], name: String): Seq[(Long, Long, Long, Long)] = {
      val ms = MemoryStream[ZInput](spark, numPartitions = 1)
      val q = StreamingAnalytics.zscoreGate(ms.toDS(), z = 2L, minN = 2L)
        .writeStream.outputMode("append").format("memory").queryName(name)
        .trigger(Trigger.ProcessingTime(0)).start()
      try {
        splits.foreach { b => ms.addData(b: _*); q.processAllAvailable() }
        spark.table(name).as[ZOut].collect()
          .map(o => (o.event_id, o.v_centi, o.n_prior, o.mean_centi_prior))
          .sortBy(_._1).toSeq
      } finally q.stop()
    }
    // split so both flagged events see state built in EARLIER batches
    val split = run(rows.grouped(5).toSeq, "zscore_split")
    assert(split == Seq((5L, 200L, 5L, 100L), (7L, 500L, 7L, 114L)),
      s"flags with prior-state stats: $split")
    val whole = run(Seq(rows), "zscore_whole")
    assert(whole == split, s"batch-split invariance: whole=$whole split=$split")
  }

  test("streaming rate limiter: per-window budget, window reset, state across batches") {
    import graft.streaming.StreamingAnalytics.{RateInput, ThrottleOut}
    val winUs = 10L * 60000000L // 10-minute windows; ts() is minutes
    // user 1: 3 events in window 0 (ranks 2,3 throttled with k=2), 1 in
    // window 1 (reset → allowed), 2 more in window 1 (rank 3 throttled);
    // user 2: never exceeds
    val rows = Seq(
      RateInput(0L, ts(1), 1L), RateInput(1L, ts(2), 1L), RateInput(2L, ts(3), 1L),
      RateInput(3L, ts(11), 1L), RateInput(4L, ts(12), 1L), RateInput(5L, ts(13), 1L),
      RateInput(6L, ts(1), 2L), RateInput(7L, ts(12), 2L))
    def run(splits: Seq[Seq[RateInput]], name: String): Seq[(Long, Long, Long, Long)] = {
      val ms = MemoryStream[RateInput](spark, numPartitions = 1)
      val q = StreamingAnalytics.rateLimit(ms.toDS(), winUs, k = 2L)
        .writeStream.outputMode("append").format("memory").queryName(name)
        .trigger(Trigger.ProcessingTime(0)).start()
      try {
        splits.foreach { b => ms.addData(b: _*); q.processAllAvailable() }
        spark.table(name).as[ThrottleOut].collect()
          .map(o => (o.event_id, o.user_id, o.window_us, o.n_in_window))
          .sortBy(_._1).toSeq
      } finally q.stop()
    }
    // split mid-window so the budget count carries across batches
    val split = run(rows.grouped(2).toSeq, "ratelimit_split")
    assert(split == Seq((2L, 1L, 0L, 3L), (5L, 1L, winUs, 3L)),
      s"throttled = third event of each full window: $split")
    assert(split == run(Seq(rows), "ratelimit_whole"), "batch-split invariance")
  }

  test("absence alerts: unanswered signups fire at the watermark, satisfied ones never arm") {
    import spark.implicits._
    import StreamingAnalytics.AbsenceInput
    // +1 day base: an event AT the initial epoch-0 watermark drops as
    // late (build notes)
    def ts(minutes: Long) = new Timestamp((1440 + minutes) * 60000L)
    val base = 1440L * 60000000L
    val ms = MemoryStream[AbsenceInput](spark, numPartitions = 1)
    val q = StreamingAnalytics.absenceAlerts(ms.toDS(), 1800000L)
      .writeStream.outputMode("append")
      .format("memory").queryName("abs_out")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      ms.addData(
        AbsenceInput(1L, ts(0), "signup"),                      // never answered
        AbsenceInput(2L, ts(0), "signup"),
        AbsenceInput(2L, ts(10), "purchase"),                   // satisfied in-batch
        AbsenceInput(3L, ts(0), "signup"))
      q.processAllAvailable()
      ms.addData(AbsenceInput(3L, ts(40), "purchase"))          // too late: outside 30 min
      q.processAllAvailable()
      assert(spark.table("abs_out").isEmpty, "nothing fires before the watermark")
      // wm → 180 − 120 = 60 min > every 30-min deadline; the wm computed
      // from this batch applies to the NEXT one, where the timers fire
      ms.addData(AbsenceInput(9L, ts(180), "view"))
      q.processAllAvailable()
      ms.addData(AbsenceInput(9L, ts(181), "view"))
      q.processAllAvailable()
      val got = spark.table("abs_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
      assert(got.toSeq == Seq((1L, base, base + 1800000000L),
        (3L, base, base + 1800000000L)),
        s"u1 and u3 alert, u2 resolved in-batch: ${got.toSeq}")
    } finally { q.stop(); graft.ops.Caches.releaseStreamingState(spark) }
  }

  test("absence alerts: a carried signup the watermark already passed alerts once when its user's next event arrives") {
    import spark.implicits._
    import StreamingAnalytics.AbsenceInput
    def ts(minutes: Long) = new Timestamp((1440 + minutes) * 60000L)
    val base = 1440L * 60000000L
    val ms = MemoryStream[AbsenceInput](spark, numPartitions = 1)
    // no watermark-only batches in between: the second batch runs right
    // after the first, as AvailableNow delivers a backlog
    val prev = spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled")
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val q = try StreamingAnalytics.absenceAlerts(ms.toDS(), 1800000L)
      .writeStream.outputMode("append")
      .format("memory").queryName("abs_carried_out")
      .trigger(Trigger.ProcessingTime(0)).start()
    finally spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", prev)
    try {
      // batch 1: user 1 signs up; user 9's event moves the watermark to
      // 180 − 120 = 60 min, past the signup's 30-min deadline
      ms.addData(AbsenceInput(1L, ts(0), "signup"), AbsenceInput(9L, ts(180), "view"))
      q.processAllAvailable()
      // batch 2: user 1's next event reaches the state while the carried
      // signup's deadline is already behind the watermark
      ms.addData(AbsenceInput(1L, ts(181), "view"))
      q.processAllAvailable()
      val got = spark.table("abs_carried_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got == Seq((1L, base, base + 1800000000L)), s"exactly one alert for u1: $got")
    } finally { q.stop(); graft.ops.Caches.releaseStreamingState(spark) }
  }
}
