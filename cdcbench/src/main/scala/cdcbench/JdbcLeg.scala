package cdcbench

import graft.cdc.ChangelogApply
import graft.sinks.JdbcApplyWorker
import graft.sources.JdbcCdcSource
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import java.sql.{DriverManager, SQLException}
import scala.collection.mutable

/** A live Derby changelog tailed by graft-jdbc-cdc; every micro-batch is
  * LWW-materialized (`ChangelogApply.materializeAll`) and upserted into a
  * second Derby by `JdbcApplyWorker`. Bootstrap is a partitioned
  * `read.jdbc` of the history: the snapshot below `low`, then the catchup
  * over `[low, high)`, each upserted the same way.
  */
final class JdbcLeg(spark: SparkSession, wl: Workload, seed: Long, dir: String, steadyEvents: Int)
  extends Leg(spark, wl, seed, steadyEvents) {

  private val tag = s"cdcbench_${ProcessHandle.current().pid()}_${java.util.UUID.randomUUID().toString.take(8)}"
  private val srcUrl = s"jdbc:derby:memory:${tag}_src;create=true"
  private val tgtUrl = s"jdbc:derby:memory:${tag}_tgt;create=true"
  private val parts = spark.sparkContext.defaultParallelism
  private val TargetDdl = "CREATE TABLE TARGET (pk BIGINT PRIMARY KEY, value DOUBLE)"

  private def exec(url: String, sql: String): Unit =
    JdbcCdcSource.withConnection(url)(_.createStatement().execute(sql): Unit)

  override def prepare(): Unit = {
    exec(srcUrl, TableLog.Ddl)
    exec(tgtUrl, TargetDdl)
    val log = new TableLog(srcUrl)
    try {
      val chunk = 20000
      for (ev <- Seq(history, backlog); a <- 0 until ev.n by chunk)
        log.append(ev, a, math.min(ev.n, a + chunk))
    } finally log.close()
  }

  private def upsert(batch: DataFrame): Unit =
    JdbcApplyWorker.applyBatch(batch, tgtUrl, "TARGET", Seq("pk"), Seq("value"))

  override def bootstrap(split: Boolean): BootTimes = {
    val live = spark.read.jdbc(srcUrl, "CHANGELOG", "pos", 1L, wl.high, parts,
      new java.util.Properties())
    def phase(df: DataFrame): (DataFrame, Double) =
      if (split) Leg.timed { val c = df.persist(); c.count(); c } else (df, 0.0)
    val (snap, snapMs) = phase(ChangelogApply.materializeAll(live.filter(col("pos") < wl.low)))
    val (catchup, catchMs) = phase(ChangelogApply.materializeAll(
      live.filter(col("pos") >= wl.low && col("pos") < wl.high)))
    // the catchup's misses are counted after the snapshot is in the target
    def seed(df: DataFrame): (SinkCount, Double) = {
      val c = if (split) count(df) else SinkCount.zero
      (c, Leg.timed(upsert(df))._2)
    }
    val (snapCount, snapSeedMs) = seed(snap)
    val (catchCount, catchSeedMs) = seed(catchup)
    snap.unpersist(); catchup.unpersist()
    BootTimes(snapMs, catchMs, snapSeedMs + catchSeedMs, snapCount + catchCount)
  }

  override def unbootstrap(): Unit = {
    exec(tgtUrl, "DROP TABLE TARGET")
    exec(tgtUrl, TargetDdl)
  }

  override def startStream(apply: (DataFrame, Long) => Unit): StreamingQuery =
    spark.readStream.format("graft-jdbc-cdc")
      .option("url", srcUrl)
      .option("table", "CHANGELOG")
      .option("posColumn", "pos")
      .option("startPos", history.n.toString)
      .option("maxPerBatch", wl.maxPerBatch.toString)
      .option("numPartitions", parts.toString)
      .load()
      .writeStream
      .foreachBatch(apply)
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.ProcessingTime(wl.triggerMs))
      .start()

  override def sinkInput(batch: DataFrame): DataFrame = ChangelogApply.materializeAll(batch)

  override def sink(frame: DataFrame, batchId: Long): Unit = upsert(frame)

  override def count(frame: DataFrame): SinkCount = {
    val upserts = frame.filter(col("op") =!= "D").select("pk").collect().map(_.getLong(0))
    val present = mutable.LongMap.empty[Boolean]
    JdbcCdcSource.withConnection(tgtUrl) { c =>
      val rs = c.createStatement().executeQuery("SELECT pk FROM TARGET")
      while (rs.next()) present(rs.getLong(1)) = true
    }
    SinkCount(frame.count(), upserts.length, upserts.count(!present.contains(_)).toLong)
  }

  override def newSink(): LogSink = new TableLog(srcUrl)

  override def prefix(endOffset: String): Long = Latency.posPrefix(endOffset)

  private def scalar(url: String, sql: String): Long =
    JdbcCdcSource.withConnection(url) { c =>
      val rs = c.createStatement().executeQuery(sql)
      rs.next(); rs.getLong(1)
    }

  override def logLength(): Long = scalar(srcUrl, "SELECT COUNT(*) FROM CHANGELOG")

  override def wrongEvents(): mutable.BitSet = {
    val wrong = mutable.BitSet.empty
    val ev = all
    val expect = Oracle.lww(ev.n, ev.pk(_), ev.op(_) == 'D', _ => true)
    val seen = mutable.LongMap.empty[Boolean]
    JdbcCdcSource.withConnection(tgtUrl) { c =>
      val rs = c.createStatement().executeQuery("SELECT pk, value FROM TARGET")
      while (rs.next()) {
        val pk = rs.getLong(1)
        seen(pk) = true
        expect.get(pk) match {
          case Some(i) => if (rs.getDouble(2) != ev.value(i)) wrong += ev.seq(i).toInt
          case None =>
            // a row that should be gone: blame the key's last event
            (ev.n - 1 to 0 by -1).find(ev.pk(_) == pk).foreach(i => wrong += ev.seq(i).toInt)
        }
      }
    }
    expect.foreach { case (pk, i) => if (!seen.contains(pk)) wrong += ev.seq(i).toInt }
    wrong
  }

  override def close(): Unit =
    Seq(srcUrl, tgtUrl).foreach { u =>
      try DriverManager.getConnection(u.replace(";create=true", ";drop=true")).close()
      catch { case e: SQLException if e.getSQLState == "08006" => () } // Derby's "dropped"
    }
}
