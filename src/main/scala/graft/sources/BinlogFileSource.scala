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

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
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

  /** (uuid, txn) of one log line: field 7 if present, else the synthetic
    * file-position transaction.
    */
  private[sources] def gtidOf(parts: Array[String]): (String, Long) =
    if (parts.length >= 7 && parts(6).nonEmpty) {
      val i = parts(6).lastIndexOf(':')
      (parts(6).substring(0, i), parts(6).substring(i + 1).toLong)
    } else (FileposUuid, parts(0).toLong + 1L)

  /** Field count before the payload tail — the split limit. */
  private[sources] val NFields = 8

  /** Stream the log's lines through `f` without materializing the file —
    * the driver calls this every trigger, and the log only grows.
    */
  private[sources] def withLines[T](path: String)(f: Iterator[String] => T): T = {
    if (!Files.exists(Paths.get(path))) f(Iterator.empty)
    else {
      val s = Files.lines(Paths.get(path), StandardCharsets.UTF_8)
      try f(s.iterator().asScala) finally s.close()
    }
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
    * counter — decides what is new).
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[GtidOffset].gtids
    val cap = limit match {
      case m: ReadMaxRows => m.maxRows()
      case _ => Long.MaxValue
    }
    BinlogFileSource.withLines(path) { it =>
      var end = s
      var taken = 0L
      while (it.hasNext && taken < cap) {
        val (uuid, txn) = BinlogFileSource.gtidOf(it.next().split(",", BinlogFileSource.NFields))
        if (!end.contains(uuid, txn) && availableNowEnd.forall(_.contains(uuid, txn))) {
          end = end.add(uuid, txn)
          taken += 1
        }
      }
      GtidOffset(end)
    }
  }

  override def getDefaultReadLimit: ReadLimit =
    if (maxPerBatch == Long.MaxValue) ReadLimit.allAvailable() else ReadLimit.maxRows(maxPerBatch)

  override def reportLatestOffset(): Offset =
    BinlogFileSource.withLines(path) { it =>
      GtidOffset(it.foldLeft(startGtids) { (acc, l) =>
        val (uuid, txn) = BinlogFileSource.gtidOf(l.split(",", BinlogFileSource.NFields))
        acc.add(uuid, txn)
      })
    }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GtidOffset].gtids
    val e = end.asInstanceOf[GtidOffset].gtids
    val delta = e.subtract(s)
    if (delta.txnCount == 0L) Array.empty
    else Array(BinlogInputPartition(path, delta.toString))
  }

  override def createReaderFactory(): PartitionReaderFactory = new BinlogReaderFactory

  override def deserializeOffset(json: String): Offset = GtidOffset(GtidSet.parse(json))

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}

/** One batch's work: the lines whose gtid falls in `deltaGtids`
  * (= end ∖ start), selected by set membership in file order.
  */
private[sources] case class BinlogInputPartition(path: String, deltaGtids: String)
  extends InputPartition

private[sources] class BinlogReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[BinlogInputPartition]
    val delta = GtidSet.parse(p.deltaGtids)
    new PartitionReader[InternalRow] {
      private val stream = Files.lines(Paths.get(p.path), StandardCharsets.UTF_8)
      private val it = stream.iterator()
      private var current: InternalRow = _
      override def next(): Boolean = {
        while (it.hasNext) {
          val parts = it.next().split(",", BinlogFileSource.NFields)
          val (uuid, txn) = BinlogFileSource.gtidOf(parts)
          if (delta.contains(uuid, txn)) {
            current = InternalRow(
              UTF8String.fromString(parts(1)),
              parts(2).toLong,
              UTF8String.fromString(parts(3)),
              parts(4).toLong,
              parts(0).toLong,
              parts(5).toDouble,
              UTF8String.fromString(s"$uuid:$txn"),
              if (parts.length >= 8) UTF8String.fromString(parts(7)) else null)
            return true
          }
        }
        false
      }
      override def get(): InternalRow = current
      override def close(): Unit = stream.close()
    }
  }
}
