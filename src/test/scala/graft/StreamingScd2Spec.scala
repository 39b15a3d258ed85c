package graft

import graft.cdc.ChangelogApply
import graft.streaming.StreamingScd2
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming SCD2 ≡ batch SCD2, under arbitrary micro-batch splits and
  * replay — the same equivalence contract the LWW streaming path carries.
  */
class StreamingScd2Spec extends SparkSpec {

  import spark.implicits._

  private def changelog(n: Int): DataFrame =
    (1 to n).map { i =>
      ("t" + (i % 3), (i % 7).toLong,
        if (i % 11 == 0) "D" else if (i % 5 == 0) "I" else "U",
        i.toLong, (i * 1.5))
    }.toDF("tbl", "pk", "op", "pos", "value")
      .withColumn("ts", timestamp_micros(col("pos") * 1000000L))
      .select("tbl", "pk", "op", "ts", "pos", "value")

  private def history(df: DataFrame): Seq[String] =
    df.orderBy("tbl", "pk", "valid_from_pos").collect().map(_.toString).toSeq

  test("out-of-order micro-batches converge to the batch SCD2 timeline") {
    val cl = changelog(120)
    val expected = history(ChangelogApply.scd2(cl))
    val tmp = java.nio.file.Files.createTempDirectory("graft_sscd2").toString
    // interleaved positions per batch: batch 0 gets pos ≡ 2 (mod 3) etc.,
    // so every batch lands events BETWEEN versions earlier batches created
    val state = s"$tmp/state"
    Seq(2, 0, 1).zipWithIndex.foreach { case (m, id) =>
      StreamingScd2.applyBatch(state, nBuckets = 4)(
        cl.filter(col("pos") % 3 === m), id.toLong)
    }
    assert(history(StreamingScd2.currentHistory(spark, state)) == expected)
  }

  test("batch replay rewrites identical state (crash-recovery idempotence)") {
    val cl = changelog(60)
    val tmp = java.nio.file.Files.createTempDirectory("graft_sscd2r").toString
    val state = s"$tmp/state"
    StreamingScd2.applyBatch(state, nBuckets = 4)(cl.filter(col("pos") <= 30), 0L)
    StreamingScd2.applyBatch(state, nBuckets = 4)(cl.filter(col("pos") > 30), 1L)
    val once = history(StreamingScd2.currentHistory(spark, state))
    // replay batch 1 (the crash-recovery path: foreachBatch re-delivers)
    StreamingScd2.applyBatch(state, nBuckets = 4)(cl.filter(col("pos") > 30), 1L)
    assert(history(StreamingScd2.currentHistory(spark, state)) == once)
    assert(once == history(ChangelogApply.scd2(cl)))
  }

  test("as-of enrichment converges to the batch temporal join under any batch split") {
    import graft.streaming.StreamingEnrich
    val cl = changelog(120)
    val expected = StreamingEnrich
      .enrichAgainst(ChangelogApply.scd2(cl).drop("is_current"), cl)
      .orderBy("tbl", "pk", "pos").collect().map(_.toString).toSeq
    // worst-case split: batches interleave positions (every batch lands
    // events BETWEEN versions earlier batches created, so enrichments
    // written provisionally must be corrected by later bucket rewrites)
    for (splits <- Seq(Seq(0), Seq(2, 0, 1), Seq(4, 1, 3, 0, 2))) {
      val tmp = java.nio.file.Files.createTempDirectory("graft_senr").toString
      splits.zipWithIndex.foreach { case (m, id) =>
        StreamingEnrich.applyBatch(s"$tmp/scd2", s"$tmp/out", nBuckets = 4)(
          cl.filter(col("pos") % splits.size === m), id.toLong)
      }
      val got = StreamingEnrich.enrichedEvents(spark, s"$tmp/out")
        .orderBy("tbl", "pk", "pos").collect().map(_.toString).toSeq
      assert(got == expected, s"split $splits diverged from batch formulation")
    }
  }

  test("as-of enrichment: delete carries the value it removed; re-insert carries null") {
    import graft.streaming.StreamingEnrich
    val mk = (rows: Seq[(String, Long, String, Long, Double)]) =>
      rows.toDF("tbl", "pk", "op", "pos", "value")
        .withColumn("ts", timestamp_micros(col("pos") * 1000000L))
        .select("tbl", "pk", "op", "ts", "pos", "value")
    val tmp = java.nio.file.Files.createTempDirectory("graft_senrd").toString
    StreamingEnrich.applyBatch(s"$tmp/scd2", s"$tmp/out", nBuckets = 2)(
      mk(Seq(("t0", 1L, "I", 10L, 1.0), ("t0", 1L, "U", 20L, 2.0),
        ("t0", 1L, "D", 30L, 0.0), ("t0", 1L, "I", 40L, 4.0))), 0L)
    val rows = StreamingEnrich.enrichedEvents(spark, s"$tmp/out")
      .orderBy("pos").collect()
    assert(rows.map(_.getAs[Long]("pos")).toSeq == Seq(10L, 20L, 30L, 40L))
    assert(rows(0).isNullAt(rows(0).fieldIndex("prev_value"))) // first insert: no prior
    assert(rows(1).getAs[Double]("prev_value") == 1.0) // update supersedes the insert
    assert(rows(2).getAs[Double]("prev_value") == 2.0) // delete carries removed value
    assert(rows(3).isNullAt(rows(3).fieldIndex("prev_value"))) // key absent before re-insert
  }

  test("one enrichment batch runs the SCD2 apply's jobs plus the enrichment write: the touched buckets are probed once") {
    import graft.streaming.StreamingEnrich
    val cl = changelog(120)
    val tmp = java.nio.file.Files.createTempDirectory("graft_senrj").toString
    def jobs(batch: DataFrame, batchId: Long): Int = {
      val group = s"enrich-${System.nanoTime()}"
      jobProperties {
        spark.sparkContext.setJobGroup(group, "enrichment batch")
        try StreamingEnrich.applyBatch(s"$tmp/scd2", s"$tmp/out", nBuckets = 4)(batch, batchId)
        finally spark.sparkContext.clearJobGroup()
      }.count(_.getProperty("spark.jobGroup.id") == group)
    }
    // per batch: the SCD2 apply (its touched-bucket probe and its
    // bucketed write), then the enrichment write; the enrichment reuses
    // the SCD2 apply's touched set, so the batch is probed once
    val counts = Seq(jobs(cl.filter(col("pos") <= 60), 0L), jobs(cl.filter(col("pos") > 60), 1L))
    assert(counts == Seq(9, 9), s"jobs per enrichment batch: $counts")
  }

  test("late delete re-closes the interval it lands before") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_sscd2d").toString
    val state = s"$tmp/state"
    val mk = (rows: Seq[(String, Long, String, Long, Double)]) =>
      rows.toDF("tbl", "pk", "op", "pos", "value")
        .withColumn("ts", timestamp_micros(col("pos") * 1000000L))
        .select("tbl", "pk", "op", "ts", "pos", "value")
    StreamingScd2.applyBatch(state, nBuckets = 2)(
      mk(Seq(("t0", 1L, "I", 10L, 1.0), ("t0", 1L, "U", 40L, 2.0))), 0L)
    // late delete at pos 20: must close [10, ...) at 20, leaving a gap
    StreamingScd2.applyBatch(state, nBuckets = 2)(
      mk(Seq(("t0", 1L, "D", 20L, 0.0))), 1L)
    val got = StreamingScd2.currentHistory(spark, state)
      .orderBy("valid_from_pos").collect()
      .map(r => (r.getLong(3), Option(r.get(4)).map(_.asInstanceOf[Long]), r.getBoolean(5)))
    assert(got.toSeq == Seq((10L, Some(20L), false), (40L, None, true)))
  }
}
