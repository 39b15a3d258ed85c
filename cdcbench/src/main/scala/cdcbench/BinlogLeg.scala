package cdcbench

import graft.cdc.{ChangelogApply, DeadLetter, Normalizer, TableFilter, Watermark}
import graft.streaming.StreamingApply
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** graft-binlog → TableFilter → DeadLetter quarantine → SchemaRegistry
  * decode → bucketed LWW state (`StreamingApply`). Bootstrap reads a
  * parquet dump of the history through the same filter and quarantine,
  * then runs the `Engine.run` phases: snapshot below `low`, catchup over
  * `[low, high)`, seed of the state at version -1.
  */
final class BinlogLeg(spark: SparkSession, wl: Workload, seed: Long, dir: String, steadyEvents: Int)
  extends Leg(spark, wl, seed, steadyEvents) {

  private val logPath = s"$dir/changelog.binlog"
  private val dumpDir = s"$dir/history.parquet"
  private val stateDir = s"$dir/state"
  private val dlqDir = s"$dir/dlq"
  private val reg = Normalizer.fixtureRegistry
  private val payloadCols = Normalizer.payloadCols
  /** Replication scope: every table except `t3`. */
  private val filter = TableFilter(Nil, Seq("t3")).validated
  private val excludedTbl: Byte = 3

  override def prepare(): Unit = {
    Files.createDirectories(Paths.get(dir))
    val dumpText = s"$dir/history.txt"
    FileLog.write(dumpText, history, append = false)
    // the history dump the snapshot reads: the wide envelope as a table
    val f = split(col("value"), ",", 8)
    spark.read.text(dumpText)
      .select(f(1).as("tbl"), f(2).cast("long").as("pk"), f(3).as("op"),
        timestamp_millis(f(4).cast("long")).as("ts"), f(0).cast("long").as("pos"),
        f(7).as("payload_json"))
      .write.parquet(dumpDir)
    Files.move(Paths.get(dumpText), Paths.get(logPath))
    FileLog.write(logPath, backlog, append = true)
  }

  override def bootstrap(split: Boolean): BootTimes = {
    val classified = DeadLetter.classify(
      spark.read.parquet(dumpDir).filter(filter.column(col("tbl"))), reg).persist()
    try {
      val bad = classified.filter(col("disposition") =!= "ok")
      if (!bad.isEmpty) bad.write.parquet(s"$dlqDir/bootstrap")
      val ok = reg.decode(classified.filter(col("disposition") === "ok").drop("disposition"))
      val (_, snapMs) = Leg.timed {
        ChangelogApply.materializeEnvelope(ok.filter(col("pos") < wl.low), payloadCols)
          .write.parquet(s"$dir/snapshot")
      }
      val caught = StreamingApply.mergeState(spark.read.parquet(s"$dir/snapshot"),
        Watermark.catchupRange(ok, wl.low, wl.high), payloadCols)
      val (seedFrom, catchMs) =
        if (split) Leg.timed { val c = caught.persist(); c.count(); c } else (caught, 0.0)
      val (_, seedMs) = Leg.timed {
        StreamingApply.writeVersion(seedFrom, stateDir, -1L, payloadCols = payloadCols)
      }
      seedFrom.unpersist()
      BootTimes(snapMs, catchMs, seedMs)
    } finally classified.unpersist()
  }

  override def unbootstrap(): Unit =
    Seq(s"$dir/snapshot", stateDir, s"$dlqDir/bootstrap").foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }

  override def startStream(apply: (DataFrame, Long) => Unit): StreamingQuery =
    spark.readStream.format("graft-binlog")
      .option("path", logPath)
      .option("maxPerBatch", wl.maxPerBatch.toString)
      .option("startGtids", s"${Events.Uuid}:1-${history.n}")
      .load()
      .filter(filter.column(col("tbl")))
      .select(col("tbl"), col("pk"), col("op"), timestamp_millis(col("ts_ms")).as("ts"),
        col("pos"), col("payload_json"))
      .writeStream
      .foreachBatch(apply)
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.ProcessingTime(wl.triggerMs))
      .start()

  override def sinkInput(batch: DataFrame): DataFrame = batch

  override def sink(frame: DataFrame, batchId: Long): Unit =
    StreamingApply.applyBatchQuarantined(stateDir, s"$dlqDir/stream", reg,
      payloadCols = payloadCols)(frame, batchId)

  override def count(frame: DataFrame): SinkCount = SinkCount(frame.count(), 0L, 0L)

  override def newSink(): LogSink = new FileLog(logPath)

  override def prefix(endOffset: String): Long = Latency.gtidPrefix(endOffset, Events.Uuid)

  override def logLength(): Long = {
    val s = Files.lines(Paths.get(logPath))
    try s.count() finally s.close()
  }

  private def applied(e: Events, i: Int): Boolean =
    e.kind(i) == Events.Ok && e.tbl(i) != excludedTbl

  override def wrongEvents(): mutable.BitSet = {
    val wrong = mutable.BitSet.empty
    val ev = all
    val expect = Oracle.lww(ev.n, ev.pk(_), ev.op(_) == 'D', applied(ev, _))
    val seen = mutable.LongMap.empty[Boolean]
    StreamingApply.currentState(spark, stateDir, payloadCols)
      .select("tbl", "pk", "pos", "op", "event_type", "k", "value").collect().foreach { r =>
        val pk = r.getLong(1)
        val pos = r.getLong(2)
        expect.get(pk) match {
          case Some(i) if !seen.contains(pk) =>
            seen(pk) = true
            val eventType = ev.op(i) match { case 'I' => "signup"; case _ => "click" }
            val same = r.getString(0) == ev.tblName(i) && pos == ev.seq(i) &&
              r.getString(3) == ev.opName(i) && r.getString(4) == eventType &&
              r.getLong(5) == ev.k(i) && r.getDouble(6) == ev.value(i)
            if (!same) wrong += ev.seq(i).toInt
          case Some(i) => wrong += ev.seq(i).toInt // duplicate key row
          case None => wrong += pos.toInt // a row that should not exist
        }
      }
    expect.foreach { case (pk, i) => if (!seen.contains(pk)) wrong += ev.seq(i).toInt }
    // dead letters: exactly the injected faults inside the replication scope
    val got = mutable.LongMap.empty[String]
    dlqFrames().foreach(_.select("pos", "disposition").collect().foreach { r =>
      val pos = r.getLong(0)
      if (got.contains(pos) && got(pos) != r.getString(1)) wrong += pos.toInt
      got(pos) = r.getString(1)
    })
    for (i <- 0 until ev.n if ev.tbl(i) != excludedTbl) {
      val want = Oracle.disposition(ev, i)
      if (want != got.get(ev.seq(i))) wrong += ev.seq(i).toInt
    }
    got.keysIterator.filter(p => p < ev.firstSeq || p >= ev.firstSeq + ev.n)
      .foreach(p => wrong += p.toInt)
    wrong
  }

  private def dlqFrames(): Seq[DataFrame] = {
    val stream = Option(new File(s"$dlqDir/stream").listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("v=")).map(_.getPath)
    (Seq(s"$dlqDir/bootstrap").filter(new File(_).isDirectory) ++ stream).map(spark.read.parquet(_))
  }

  override def deadLetters(): Long = dlqFrames().map(_.count()).sum

  private def treeBytes(root: File): (Int, Long) =
    Option(root.listFiles()).toSeq.flatten.foldLeft((0, 0L)) { case ((n, b), f) =>
      if (f.isDirectory) { val (n2, b2) = treeBytes(f); (n + n2, b + b2) }
      else if (f.getName.startsWith("part-")) (n + 1, b + f.length())
      else (n, b)
    }

  override def batchWrite(batchId: Long): Option[BatchWrite] = {
    val v = new File(s"$stateDir/v=$batchId")
    val buckets = Option(v.listFiles()).toSeq.flatten.count(_.getName.startsWith("bucket="))
    val (files, bytes) = treeBytes(v)
    Some(BatchWrite(buckets, files, bytes))
  }

  override def stateBytesPerKey(): Double = {
    val (_, bytes) = treeBytes(new File(stateDir))
    val keys = Oracle.lww(history.n, history.pk(_), _ => false, applied(history, _)).size
    bytes.toDouble / math.max(1, keys)
  }

  override def close(): Unit = ()
}
