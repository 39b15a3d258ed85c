package graft.sources

import graft.model.LogPosition.GtidSet
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._

/** DataSource V2 micro-batch source for an append-only changelog file —
  * the Spark-native counterpart of the reference's binlog reader
  * (reference: reader/MySQLBinlogReader.scala:63-123 — a single-threaded
  * `BinaryLogClient` pushing ordered events into a backpressured queue).
  *
  * Mapping:
  *   - the binlog file          → an append-only text log, one CSV event
  *     per line `pos,tbl,pk,op,tsMillis,value[,gtid]` (a binlog IS a
  *     sequential log; a single ordered reader is the semantic, reference
  *     reader/BinlogReader.scala:10-13)
  *   - `BinlogPosition`         → [[GtidOffset]], a GTID-SET-backed
  *     Structured Streaming `Offset` (reference models positions as
  *     `GTIDPosition | FilePosition`, model/BinlogPosition.scala:7-66, but
  *     compares GTID sets as STRINGS — :19-20, a documented wart; here the
  *     offset is the [[graft.model.LogPosition.GtidSet]] algebra itself,
  *     so progress/replay are decided by set membership, never lexically)
  *   - lines without an explicit gtid field get a synthetic
  *     `filepos:pos+1` transaction id — the `FilePosition` half of the
  *     reference's duality, embedded in the same set algebra
  *   - resume-from-GTID: option `startGtids` skips every transaction
  *     already in the given set (the reference resumes from the cdc_offsets
  *     table the same way, coordinator/MySQLOffsetStore.scala:98-141)
  *   - reader queue backpressure (1000-event buffer) → admission control:
  *     `maxPerBatch` caps each micro-batch (reference
  *     MySQLBinlogReader.scala:27,69); under `Trigger.AvailableNow` it
  *     still applies, up to the transactions logged when the trigger
  *     started
  *
  * A fresh instance reads the log once; each later trigger reads only
  * bytes no batch has consumed yet. The driver keeps two byte cursors
  * that rest on line boundaries — a tail cursor with the set folded so
  * far ([[BinlogMicroBatchStream.reportLatestOffset]] reads only past
  * it), and a consumed-prefix cursor with the set every line before it
  * belongs to (`latestOffset` seeks there when its start set contains
  * that set, and scans from byte 0 otherwise). Once `latestOffset`'s scan
  * passes the tail cursor, it folds the lines it reads into the tail, so
  * on a fresh instance `reportLatestOffset` reads only what lies past the
  * cap point. Scans find each line's gtid in its bytes
  * ([[BinlogFileSource.LogLines]]); only a line a batch emits is decoded
  * and split into fields. Each batch's partition reads from its first
  * line to the end of the log as it was when the batch was planned, so
  * every line of a transaction the batch takes is read even when
  * `maxPerBatch` cut the scan inside it. Only complete `\n`-terminated
  * lines are read, so a line a writer is still appending is left for a
  * later trigger.
  *
  * The log is append-only. A cursor is reused only while the line that
  * ends at it is still in place; when a truncation or a rewrite moved or
  * changed that line, the log is read again from byte 0.
  *
  * Usage:
  * {{{
  *   spark.readStream.format("graft-binlog")
  *     .option("path", "/data/changelog.log")
  *     .option("maxPerBatch", "1000")
  *     .option("startGtids", "src:1-500")   // optional mid-stream resume
  *     .load()
  * }}}
  */
class BinlogFileSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-binlog"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = BinlogFileSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform], properties: JMap[String, String]): Table = {
    val opts = properties.asScala
    new BinlogTable(
      opts.getOrElse("path", throw new IllegalArgumentException("graft-binlog requires 'path'")),
      opts.get("maxPerBatch").map(_.toLong).getOrElse(Long.MaxValue),
      opts.get("startGtids").map(GtidSet.parse).getOrElse(GtidSet.empty))
  }
}

object BinlogFileSource {
  /** The changelog envelope (ts carried as epoch millis; gtid exposed so
    * downstream consumers can persist their own frontier; payload_json
    * carries the wide row image — null on narrow lines).
    */
  val schema: StructType = StructType(Seq(
    StructField("tbl", StringType),
    StructField("pk", LongType),
    StructField("op", StringType),
    StructField("ts_ms", LongType),
    StructField("pos", LongType),
    StructField("value", DoubleType),
    StructField("gtid", StringType),
    StructField("payload_json", StringType)))

  /** Synthetic GTID source id for lines that carry only a file position —
    * `FilePosition` lifted into the set algebra (txn = pos + 1, 1-based).
    */
  val FileposUuid = "filepos"

  def renderLine(tbl: String, pk: Long, op: String, tsMs: Long, pos: Long, value: Double): String =
    s"$pos,$tbl,$pk,$op,$tsMs,$value"

  /** Line with an explicit GTID (`uuid:txn`). */
  def renderLine(tbl: String, pk: Long, op: String, tsMs: Long, pos: Long, value: Double,
                 gtidUuid: String, gtidTxn: Long): String =
    s"$pos,$tbl,$pk,$op,$tsMs,$value,$gtidUuid:$gtidTxn"

  /** Line with a GTID and a wide row image. The payload is the LAST field
    * and the reader splits with a field limit, so JSON commas never break
    * framing (a binlog row event's cell array arrives opaque the same
    * way, reference normalizer/MySQLEventNormalizer.scala:173-182).
    */
  def renderLine(tbl: String, pk: Long, op: String, tsMs: Long, pos: Long, value: Double,
                 gtidUuid: String, gtidTxn: Long, payloadJson: String): String = {
    require(!payloadJson.contains('\n'), "payload must be single-line")
    s"$pos,$tbl,$pk,$op,$tsMs,$value,$gtidUuid:$gtidTxn,$payloadJson"
  }

  /** Field count before the payload tail — the split limit. */
  private[sources] val NFields = 8

  /** Whether `line` (its `\n` included) is the bytes that end at `at` in
    * a log of `size` bytes — the check a cursor passes before it is reused.
    */
  private[sources] def endsWithLine(path: String, size: Long, at: Long, line: Array[Byte]): Boolean =
    at <= size && at >= line.length && {
      val ch = FileChannel.open(Paths.get(path), StandardOpenOption.READ)
      try java.util.Arrays.equals(readFully(ch, at - line.length, at), line) finally ch.close()
    }

  /** Bytes `[from, until)` of `ch`. */
  private def readFully(ch: FileChannel, from: Long, until: Long): Array[Byte] = {
    val got = ByteBuffer.allocate((until - from).toInt)
    while (got.hasRemaining && ch.read(got, from + got.position()) > 0) {}
    got.array()
  }

  /** Bytes in the log now; 0 before the file exists. */
  private[sources] def logSize(path: String): Long = {
    val p = Paths.get(path)
    if (Files.exists(p)) Files.size(p) else 0L
  }

  /** A forward scan over the complete `\n`-terminated lines of `path` in the
    * byte range `[from, until)`. A trailing line without its `\n` (a writer
    * mid-append) is never returned.
    *
    * [[next]] finds each line's gtid in the bytes: field 6 (between the 6th
    * and 7th comma, or to the end of the line) split at its last `:`, else
    * the synthetic file-position transaction `pos + 1`. Nothing else of the
    * line is decoded; [[text]] decodes the current line for a caller that
    * needs its fields. The uuid `String` is reused while its bytes repeat.
    */
  private[graft] final class LogLines(path: String, from: Long, until: Long) extends AutoCloseable {
    private val ch =
      if (from < until) FileChannel.open(Paths.get(path), StandardOpenOption.READ) else null
    private var buf = new Array[Byte](1 << 16)
    private var ls = 0 // buf[ls, lo) is the current line and its `\n`
    private var lo = 0 // buf[lo, hi) is read from the file but not yet scanned
    private var hi = 0
    private var readAt = from // file offset of buf(hi)
    private var uuidBytes = Array.emptyByteArray
    private var uuidText: String = null // decoded `uuidBytes`
    /** File offsets of the current line's first byte and of the byte past
      * its `\n`; both stay at `from` until a line is read, so a cursor taken
      * from `end` always rests on a line boundary. */
    var lineStart: Long = from
    var end: Long = from
    /** The current line's gtid. */
    var uuid: String = null
    var txn: Long = 0L

    /** Moves to the next complete line and reads its gtid; false when no
      * complete line is left. */
    def next(): Boolean = {
      var scan = lo
      while (true) {
        while (scan < hi && buf(scan) != '\n') scan += 1
        if (scan < hi) {
          ls = lo
          lo = scan + 1
          lineStart = end
          end = readAt - hi + lo
          readGtid(scan)
          return true
        }
        if (readAt >= until) return false
        if (ls > 0) { // keep the current line: `lineBytes` may still want it
          System.arraycopy(buf, ls, buf, 0, hi - ls)
          scan -= ls; lo -= ls; hi -= ls; ls = 0
        }
        if (hi == buf.length) buf = java.util.Arrays.copyOf(buf, 2 * buf.length)
        val n = ch.read(ByteBuffer.wrap(buf, hi, math.min(buf.length - hi, until - readAt).toInt), readAt)
        if (n <= 0) return false
        hi += n; readAt += n
      }
      false
    }

    /** The current line, decoded, without its `\n`. */
    def text: String = new String(buf, ls, lo - 1 - ls, StandardCharsets.UTF_8)

    /** The bytes of a line this scan read, `[start, stop)` in the file, its
      * `\n` included. */
    def lineBytes(start: Long, stop: Long): Array[Byte] = {
      val base = readAt - hi // file offset of buf(0)
      if (start >= base) java.util.Arrays.copyOfRange(buf, (start - base).toInt, (stop - base).toInt)
      else readFully(ch, start, stop)
    }

    /** The gtid of the line `buf[ls, nl)`. */
    private def readGtid(nl: Int): Unit = {
      var i = ls
      var commas = 0
      var posEnd = nl // field 0 is `[ls, posEnd)`
      var gtidStart = -1 // field 6 is `[gtidStart, gtidEnd)`
      while (i < nl && commas < NFields - 1) {
        if (buf(i) == ',') {
          commas += 1
          if (commas == 1) posEnd = i
          if (commas == 6) gtidStart = i + 1
        }
        i += 1
      }
      val gtidEnd = if (commas == NFields - 1) i - 1 else nl
      if (gtidStart >= 0 && gtidEnd > gtidStart) {
        var colon = gtidEnd - 1
        while (colon >= gtidStart && buf(colon) != ':') colon -= 1
        if (colon < gtidStart) malformed(s"gtid '${decode(gtidStart, gtidEnd)}' has no ':'")
        uuid = uuidOf(gtidStart, colon)
        txn = number(colon + 1, gtidEnd, "gtid txn")
      } else {
        uuid = FileposUuid
        txn = number(ls, posEnd, "pos") + 1L
      }
    }

    private def uuidOf(start: Int, stop: Int): String = {
      if (uuidText == null || !java.util.Arrays.equals(buf, start, stop, uuidBytes, 0, uuidBytes.length)) {
        uuidBytes = java.util.Arrays.copyOfRange(buf, start, stop)
        uuidText = new String(uuidBytes, StandardCharsets.UTF_8)
      }
      uuidText
    }

    /** `buf[start, stop)` as a `Long`, parsed as `String.toLong` parses it. */
    private def number(start: Int, stop: Int, what: String): Long = {
      var v = 0L
      var i = start
      while (i < stop && i - start < 18 && buf(i) >= '0' && buf(i) <= '9') {
        v = v * 10 + (buf(i) - '0')
        i += 1
      }
      if (i == stop && stop > start) v
      else try java.lang.Long.parseLong(decode(start, stop)) catch {
        case _: NumberFormatException => malformed(s"$what '${decode(start, stop)}' is not a number")
      }
    }

    private def decode(start: Int, stop: Int): String = new String(buf, start, stop - start, StandardCharsets.UTF_8)

    private def malformed(what: String): Nothing =
      throw new IllegalArgumentException(s"graft-binlog: malformed line at byte $lineStart of $path: $what")

    override def close(): Unit = if (ch != null) ch.close()
  }
}

private[sources] class BinlogTable(path: String, maxPerBatch: Long, startGtids: GtidSet)
  extends Table with SupportsRead {
  override def name(): String = s"graft-binlog($path)"
  override def schema(): StructType = BinlogFileSource.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = BinlogFileSource.schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new BinlogMicroBatchStream(path, maxPerBatch, startGtids)
      }
    }
}

/** Offset = the GTID SET of every transaction fully consumed. JSON is the
  * canonical (sorted, coalesced) MySQL gtid-set string, so two equal sets
  * always serialize identically — progress detection stays sound. Batch
  * `[start, end)` replays exactly the transactions in `end ∖ start`
  * (set subtraction), which is what makes restart after log compaction or
  * out-of-order source uuids correct where a line-count offset silently
  * drifts.
  */
case class GtidOffset(gtids: GtidSet) extends Offset {
  override def json(): String = gtids.toString
}

private[sources] class BinlogMicroBatchStream(path: String, maxPerBatch: Long, startGtids: GtidSet)
  extends MicroBatchStream with SupportsTriggerAvailableNow {
  import BinlogFileSource.{LogLines, endsWithLine, logSize}

  /** A line boundary `at`, the bytes of the line that ends there (empty at
    * byte 0) and a set every line before `at` belongs to. */
  private case class Cursor(at: Long, last: Array[Byte], gtids: GtidSet) {
    /** Whether the log of `size` bytes still holds the lines this cursor
      * passed (checked by the line that ends at `at`). */
    def holds(size: Long): Boolean = at == 0L || endsWithLine(path, size, at, last)
  }

  /** The cursor at byte 0 with the set `gtids`. */
  private def origin(gtids: GtidSet): Cursor = Cursor(0L, Array.emptyByteArray, gtids)

  /** `here` with the set `gtids` when `at` is `here.at`; else the cursor
    * just past the line `lines` read in `[start, at)`. */
  private def cursorAt(lines: LogLines, start: Long, at: Long, gtids: GtidSet, here: Cursor): Cursor =
    if (at == here.at) here.copy(gtids = gtids) else Cursor(at, lines.lineBytes(start, at), gtids)

  /** `startGtids` ∪ every line before `at`: where [[reportLatestOffset]]
    * resumes its fold. */
  private var tail = origin(startGtids)

  /** Every line before `at` is in `gtids`, so a `latestOffset` whose
    * start contains `gtids` has nothing to take before `at`. */
  private var prefix = origin(GtidSet.empty)

  /** (start, end, from, to) of the last batch `latestOffset` chose: its
    * lines lie in the byte range `[from, to)`, `to` being the log's size
    * when it was planned. */
  private var planned: Option[(GtidSet, GtidSet, Long, Long)] = None

  override def initialOffset(): Offset = GtidOffset(startGtids)

  /** AvailableNow's end set, captured once when the trigger starts;
    * `None` under every other trigger. */
  private var availableNowEnd: Option[GtidSet] = None

  override def prepareForTriggerAvailableNow: Unit =
    availableNowEnd = Some(reportLatestOffset().asInstanceOf[GtidOffset].gtids)

  /** Basic-API entry point; the engine uses the admission-control
    * overload below when SupportsAdmissionControl is implemented.
    */
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("use latestOffset(start, limit)")

  /** Next batch end: the start set plus up to `maxRows` not-yet-consumed
    * transactions in file order (reader-queue backpressure analogue;
    * correct across checkpoint restarts because membership — not a
    * counter — decides what is new). The scan starts at the consumed
    * prefix when `start` contains the set it was proven under, and at
    * byte 0 otherwise (a fresh instance, a truncated or rewritten log).
    * Once the scan passes the tail cursor, the lines it reads are folded
    * into the tail too, so [[reportLatestOffset]] does not read them again.
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[GtidOffset].gtids
    val cap = limit match {
      case m: ReadMaxRows => m.maxRows()
      case _ => Long.MaxValue
    }
    val size = logSize(path)
    if (!prefix.gtids.isSubsetOf(s) || !prefix.holds(size)) prefix = origin(GtidSet.empty)
    if (!tail.holds(size)) tail = origin(startGtids)
    val lines = new LogLines(path, prefix.at, size)
    try {
      var end = s
      var taken = 0L
      var from = -1L
      var covered = prefix.at // every line before `covered` is in `end`
      var coveredStart = prefix.at
      var folded = if (tail.at == prefix.at) tail.gtids else null // the tail's set, once the scan reaches it
      while (taken < cap && lines.next()) {
        val uuid = lines.uuid
        val txn = lines.txn
        var in = end.contains(uuid, txn)
        if (!in && availableNowEnd.forall(_.contains(uuid, txn))) {
          end = end.add(uuid, txn)
          in = true
          taken += 1
          if (from < 0) from = lines.lineStart
        }
        if (in && covered == lines.lineStart) {
          coveredStart = covered
          covered = lines.end
        }
        if (folded != null) folded = folded.add(uuid, txn)
        else if (lines.end == tail.at) folded = tail.gtids
      }
      prefix = cursorAt(lines, coveredStart, covered, end, prefix)
      if (folded != null) tail = cursorAt(lines, lines.lineStart, lines.end, folded, tail)
      // the cap may stop the scan on a transaction's first line: its later
      // lines lie past `lines.end`, so the batch reads to `size`
      if (taken > 0) planned = Some((s, end, from, size))
      GtidOffset(end)
    } finally lines.close()
  }

  override def getDefaultReadLimit: ReadLimit =
    if (maxPerBatch == Long.MaxValue) ReadLimit.allAvailable() else ReadLimit.maxRows(maxPerBatch)

  /** `startGtids` ∪ every complete line, folding only the bytes past the
    * tail cursor. */
  override def reportLatestOffset(): Offset = {
    val size = logSize(path)
    if (!tail.holds(size)) tail = origin(startGtids)
    val lines = new LogLines(path, tail.at, size)
    try {
      var gtids = tail.gtids
      while (lines.next()) gtids = gtids.add(lines.uuid, lines.txn)
      tail = cursorAt(lines, lines.lineStart, lines.end, gtids, tail)
    } finally lines.close()
    GtidOffset(tail.gtids)
  }

  /** A batch `latestOffset` just chose reads its own byte range; any other
    * (a batch replanned from the offset log after a restart) reads the
    * whole log. */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GtidOffset].gtids
    val e = end.asInstanceOf[GtidOffset].gtids
    val delta = e.subtract(s)
    if (delta.txnCount == 0L) Array.empty
    else {
      val (from, to) = planned.collect { case (`s`, `e`, f, t) => (f, t) }.getOrElse((0L, logSize(path)))
      Array(BinlogInputPartition(path, delta.toString, from, to))
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = new BinlogReaderFactory

  override def deserializeOffset(json: String): Offset = GtidOffset(GtidSet.parse(json))

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}

/** One batch's work: the lines of the byte range `[from, to)` whose gtid
  * falls in `deltaGtids` (= end ∖ start), selected by set membership in
  * file order.
  */
private[sources] case class BinlogInputPartition(path: String, deltaGtids: String, from: Long, to: Long)
  extends InputPartition

private[sources] class BinlogReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[BinlogInputPartition]
    val delta = GtidSet.parse(p.deltaGtids)
    new PartitionReader[InternalRow] {
      private val lines = new BinlogFileSource.LogLines(p.path, p.from, p.to)
      private var current: InternalRow = _
      override def next(): Boolean = {
        while (lines.next()) {
          if (delta.contains(lines.uuid, lines.txn)) {
            val parts = lines.text.split(",", BinlogFileSource.NFields)
            current = InternalRow(
              UTF8String.fromString(parts(1)),
              parts(2).toLong,
              UTF8String.fromString(parts(3)),
              parts(4).toLong,
              parts(0).toLong,
              parts(5).toDouble,
              UTF8String.fromString(s"${lines.uuid}:${lines.txn}"),
              if (parts.length >= 8) UTF8String.fromString(parts(7)) else null)
            return true
          }
        }
        false
      }
      override def get(): InternalRow = current
      override def close(): Unit = lines.close()
    }
  }
}
