package cdcbench

import graft.sources.BinlogFileSource

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.sql.DriverManager
import scala.collection.mutable.ArrayBuffer

/** A generated change log, column by column. Event `i` has sequence number
  * `firstSeq + i`: its log position, and on the binlog leg its GTID
  * transaction number under [[Events.Uuid]].
  */
final class Events(val firstSeq: Long, val tbl: Array[Byte], val pk: Array[Long],
                   val op: Array[Byte], val k: Array[Long], val value: Array[Double],
                   val kind: Array[Byte]) {
  def n: Int = pk.length
  def seq(i: Int): Long = firstSeq + i
  def tblName(i: Int): String = s"t${tbl(i)}"
  def opName(i: Int): String = op(i).toChar.toString

  /** The row image a binlog row event carries: the registered fields
    * (`event_type`, `k`, `value`) plus unregistered padding, so decode
    * parses a wide document. An unparseable event carries a truncated one.
    */
  def payload(i: Int): String = {
    val eventType = op(i) match { case 'I' => "signup"; case 'D' => "error"; case _ => "click" }
    val doc = s"""{"event_type":"$eventType","k":${k(i)},"value":${value(i)},""" +
      s""""src":"cdcbench","region":"r${pk(i) % 7}","note":"${Events.Pad}"}"""
    if (kind(i) == Events.Unparseable) doc.substring(0, doc.length / 2) else doc
  }

  def tsMs(i: Int): Long = Events.TsBase + seq(i)

  def logLine(i: Int): String =
    BinlogFileSource.renderLine(tblName(i), pk(i), opName(i), tsMs(i), seq(i), value(i),
      Events.Uuid, seq(i), payload(i))
}

object Events {
  val Uuid = "bench"
  val TsBase = 1700000000000L
  val Ok: Byte = 0
  val Unparseable: Byte = 1
  val Unregistered: Byte = 2
  /** Table index of the unregistered table `t9`. */
  val UnregisteredTbl: Byte = 9
  private val Pad = "x" * 96

  /** Consecutive segments of one log as a single log. */
  def concat(parts: Seq[Events]): Events = {
    parts.sliding(2).foreach {
      case Seq(a, b) => require(a.firstSeq + a.n == b.firstSeq, "segments must be consecutive")
      case _ =>
    }
    new Events(parts.head.firstSeq, parts.flatMap(_.tbl).toArray, parts.flatMap(_.pk).toArray,
      parts.flatMap(_.op).toArray, parts.flatMap(_.k).toArray, parts.flatMap(_.value).toArray,
      parts.flatMap(_.kind).toArray)
  }
}

/** Key choice: Zipf-skewed over `nKeys` ranks, or uniform. */
final class KeySampler(nKeys: Int, zipfS: Double, rng: java.util.SplittableRandom) {
  private val cdf: Array[Double] =
    if (zipfS <= 0) null
    else {
      val w = Array.tabulate(nKeys)(r => 1.0 / math.pow(r + 1.0, zipfS))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
  /** Rank → key, shuffled so hot ranks spread over every table. */
  private val perm: Array[Long] = {
    val a = Array.tabulate(nKeys)(_.toLong)
    for (i <- a.indices.reverse) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }
  def next(): Long =
    if (cdf == null) rng.nextInt(nKeys).toLong
    else {
      val u = rng.nextDouble()
      var lo = 0
      var hi = nKeys - 1
      while (lo < hi) { val m = (lo + hi) >>> 1; if (cdf(m) < u) lo = m + 1 else hi = m }
      perm(lo)
    }
}

/** Seeded generator of CDC events. Tables are `t(pk % 4)`, the four shards
  * `Normalizer.fixtureRegistry` registers. A key that is absent gets an
  * INSERT; a live key gets an UPDATE, or a DELETE with probability
  * [[Generator.PDelete]], so deleted keys come back as re-inserts.
  * Injected faults: `pUnparseable` of events carry a truncated payload and
  * `pUnregistered` go to the unregistered table `t9`; both must end in
  * the dead-letter queue and leave the state untouched.
  */
final class Generator(seed: Long, nKeys: Int, zipfS: Double,
                      pUnparseable: Double, pUnregistered: Double) {
  import Generator.PDelete
  private val rng = new java.util.SplittableRandom(seed)
  private val keys = new KeySampler(nKeys, zipfS, rng.split())
  private val live = new java.util.BitSet(nKeys)

  def next(firstSeq: Long, n: Int): Events = {
    val ev = alloc(firstSeq, n)
    for (i <- 0 until n) {
      val u = rng.nextDouble()
      val kind =
        if (u < pUnparseable) Events.Unparseable
        else if (u < pUnparseable + pUnregistered) Events.Unregistered
        else Events.Ok
      val pk = keys.next()
      val op: Char =
        if (!live.get(pk.toInt)) 'I'
        else if (rng.nextDouble() < PDelete) 'D'
        else 'U'
      fill(ev, i, pk, op, kind)
      if (kind == Events.Ok) live.set(pk.toInt, op != 'D')
    }
    ev
  }

  private def alloc(firstSeq: Long, n: Int) =
    new Events(firstSeq, new Array[Byte](n), new Array[Long](n), new Array[Byte](n),
      new Array[Long](n), new Array[Double](n), new Array[Byte](n))

  private def fill(ev: Events, i: Int, pk: Long, op: Char, kind: Byte): Unit = {
    ev.tbl(i) = if (kind == Events.Unregistered) Events.UnregisteredTbl else (pk % 4).toByte
    ev.pk(i) = pk
    ev.op(i) = op.toByte
    ev.k(i) = rng.nextLong(1000000L)
    ev.value(i) = rng.nextInt(1000000) / 100.0
    ev.kind(i) = kind
  }
}

object Generator {
  val PDelete = 0.03
}

/** Where generated events go: a binlog file or a live changelog table. */
trait LogSink {
  /** Append events `from until until` of `ev` durably and visibly, in one
    * write (file) or one transaction (database).
    */
  def append(ev: Events, from: Int, until: Int): Unit
  def close(): Unit = ()
}

final class FileLog(path: String) extends LogSink {
  override def append(ev: Events, from: Int, until: Int): Unit = {
    val sb = new java.lang.StringBuilder((until - from) * 256)
    for (i <- from until until) sb.append(ev.logLine(i)).append('\n')
    val out = new FileOutputStream(path, true)
    try out.write(sb.toString.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }
}

object FileLog {
  /** Bulk write of a whole log (set-up only; no reader is tailing it). */
  def write(path: String, ev: Events, append: Boolean): Unit = {
    val w = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(path, append), StandardCharsets.UTF_8), 1 << 20)
    try for (i <- 0 until ev.n) { w.write(ev.logLine(i)); w.write('\n') } finally w.close()
  }
}

/** The `CHANGELOG` table a live database exposes to `graft-jdbc-cdc`. */
final class TableLog(url: String) extends LogSink {
  private val conn = DriverManager.getConnection(url)
  conn.setAutoCommit(false)
  private val ins = conn.prepareStatement(
    "INSERT INTO CHANGELOG (pos, pk, op, ts_ms, value) VALUES (?, ?, ?, ?, ?)")

  override def append(ev: Events, from: Int, until: Int): Unit = {
    var i = from
    while (i < until) {
      ins.setLong(1, ev.seq(i)); ins.setLong(2, ev.pk(i)); ins.setString(3, ev.opName(i))
      ins.setLong(4, ev.tsMs(i)); ins.setDouble(5, ev.value(i))
      ins.addBatch()
      i += 1
      if ((i - from) % 5000 == 0 || i == until) ins.executeBatch()
    }
    conn.commit()
  }

  override def close(): Unit = { ins.close(); conn.close() }
}

object TableLog {
  val Ddl = "CREATE TABLE CHANGELOG (pos BIGINT PRIMARY KEY, pk BIGINT, op VARCHAR(1), " +
    "ts_ms BIGINT, value DOUBLE)"
}

/** Open-loop appender: one thread that appends event `i` when it falls
  * due at `startMs + i * 1000 / rate`, whatever the system under test is
  * doing. Each tick ([[OpenLoop.TickMs]]) writes every event due so far in
  * one append.
  * `lateMs` records, per tick, how far the append finished after the due
  * time of the oldest event it wrote.
  */
final class OpenLoop(ev: Events, sink: LogSink, rate: Double)
  extends Thread("cdcbench-generator") {
  setDaemon(true)
  @volatile var startMs: Double = Double.NaN
  @volatile private var failure: Option[Throwable] = None
  val lateMs = new ArrayBuffer[Double]()

  def dueMs(i: Int): Double = startMs + i * 1000.0 / rate

  override def run(): Unit =
    try {
      startMs = Leg.wallMs()
      var i = 0
      while (i < ev.n) {
        val now = Leg.wallMs()
        val due = math.min(ev.n.toLong, math.floor((now - startMs) * rate / 1000.0).toLong + 1).toInt
        if (due > i) {
          sink.append(ev, i, due)
          lateMs.synchronized(lateMs += Leg.wallMs() - dueMs(i))
          i = due
        }
        Thread.sleep(OpenLoop.TickMs)
      }
    } catch { case t: Throwable => failure = Some(t) }

  def finish(): Unit = {
    join()
    failure.foreach(t => throw new IllegalStateException("generator failed", t))
  }

  def lateMaxMs: Double = lateMs.synchronized(if (lateMs.isEmpty) 0.0 else lateMs.max)
}

object OpenLoop {
  val TickMs = 10L
}
