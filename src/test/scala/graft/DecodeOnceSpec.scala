package graft

import graft.cdc.{DeadLetter, Normalizer, SchemaEvolution, SchemaRegistry}
import graft.streaming.StreamingApply
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.JsonToStructs
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** Each CDC payload is parsed once: `DeadLetter.classify` and
  * `SchemaRegistry.decode` read the registry's one parse, and equal the
  * two-parse implementation they replaced (kept below as the reference)
  * on every registry shape; the quarantined apply parses once per payload
  * and runs one Spark job for a clean batch.
  */
class DecodeOnceSpec extends SparkSpec {

  import spark.implicits._

  /** The two-parse implementation: classify probes a unified-schema parse,
    * decode unions one `from_json` branch per schema group.
    */
  private object Reference {
    def classify(envelope: DataFrame, reg: SchemaRegistry): DataFrame = {
      val probe = StructType(reg.unifiedFields.toArray).add("_corrupt_record", StringType)
      envelope.withColumn("disposition",
        when(!col("tbl").isin(reg.tables: _*), lit("unregistered_table"))
          .when(col("payload_json").isNull, lit("null_payload"))
          .when(from_json(col("payload_json"), probe,
            Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_corrupt_record"))
            .getField("_corrupt_record").isNotNull, lit("unparseable"))
          .otherwise(lit("ok")))
    }

    def decode(envelope: DataFrame, reg: SchemaRegistry): DataFrame = {
      val envCols = envelope.columns.filterNot(_ == "payload_json").toSeq
      val payloadFields = reg.unifiedFields.filterNot(f => envCols.contains(f.name))
      reg.schemas.groupBy(_._2).toSeq
        .map { case (schema, m) => (schema, m.keys.toSeq.sorted) }
        .sortBy(_._2.head)
        .map { case (schema, tbls) =>
          envelope.filter(col("tbl").isin(tbls: _*))
            .withColumn("__row", from_json(col("payload_json"), schema))
            .select(envCols.map(col) ++ payloadFields.map { f =>
              if (schema.fieldNames.contains(f.name)) col(s"__row.${f.name}").as(f.name)
              else lit(null).cast(f.dataType).as(f.name)
            }: _*)
        }
        .reduce(_.unionByName(_))
    }
  }

  /** users/orders as discovered from parquet footers: heterogeneous, and
    * users' payload `pk` is shadowed by the envelope's.
    */
  private lazy val discovered: SchemaRegistry = {
    val dir = Files.createTempDirectory("graft_decode_once").toString
    Seq((1L, "a", 1.0)).toDF("pk", "name", "score").write.parquet(s"$dir/users.parquet")
    Seq((2L, 7L)).toDF("pk", "qty").write.parquet(s"$dir/orders.parquet")
    SchemaRegistry.fromParquetDir(spark, dir)
  }

  private lazy val renamed: SchemaRegistry = SchemaEvolution.applyDdl(
    Normalizer.fixtureRegistry, "ALTER TABLE t1 RENAME COLUMN value TO amount")

  private lazy val registries = Seq(
    "fixture shards" -> Normalizer.fixtureRegistry,
    "discovered users/orders" -> discovered,
    "renamed column" -> renamed)

  private def sample(t: DataType): String = t match {
    case StringType => "\"s\""
    case DoubleType => "1.5"
    case _ => "7"
  }

  private def json(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")

  /** (tbl, payload) cases: per table well-formed, truncated, mistyped,
    * `{}`, null, and each unified field the table lacks present with a
    * well-typed and (non-string fields) a wrong-typed value; plus an
    * unregistered table and a null table.
    */
  private def payloads(reg: SchemaRegistry): Seq[(String, String)] = {
    def own(t: String) = reg.schemaFor(t).fields.map(f => f.name -> sample(f.dataType)).toSeq
    reg.tables.flatMap { t =>
      val s = reg.schemaFor(t)
      val good = json(own(t))
      val mistyped = s.fields.find(_.dataType != StringType).map(n => t -> json(own(t).map {
        case (k, _) if k == n.name => k -> "\"oops\""
        case kv => kv
      }))
      val missing = reg.unifiedFields.filterNot(f => s.fieldNames.contains(f.name)).flatMap { m =>
        (t -> json(own(t) :+ (m.name -> sample(m.dataType)))) +:
          (if (m.dataType == StringType) Nil else Seq(t -> json(own(t) :+ (m.name -> "\"oops\""))))
      }
      Seq(t -> good, t -> good.take(good.length / 2), t -> "{}", t -> (null: String)) ++
        mistyped ++ missing
    } ++ Seq("zz" -> json(own(reg.tables.head)), (null: String) -> json(own(reg.tables.head)))
  }

  private def envelope(reg: SchemaRegistry): DataFrame =
    payloads(reg).zipWithIndex.map { case ((t, p), i) =>
      (t, i.toLong % 3, "U", new Timestamp(i * 1000L), i.toLong, p)
    }.toDF("tbl", "pk", "op", "ts", "pos", "payload_json")

  private def byPos(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(r => r.getAs[Long]("pos"))

  private def dispositions(df: DataFrame): Map[Long, String] =
    df.select("pos", "disposition").collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  /** Payload columns carried into the state by the quarantined apply. */
  private def payloadCols(reg: SchemaRegistry): Seq[String] =
    reg.unifiedFields.map(_.name).filterNot(Set("tbl", "pk", "op", "ts", "pos"))

  test("decode-once equals the two-parse classify + decode on every registry shape") {
    for ((name, reg) <- registries) {
      val env = envelope(reg)
      val nullTbl = env.filter(col("tbl").isNull).select("pos").as[Long].collect().toSet
      assert(nullTbl.size == 1)

      val got = DeadLetter.classify(env, reg)
      val want = Reference.classify(env, reg)
      assert(got.columns.toSeq == want.columns.toSeq, name)
      // a null table now goes to the DLQ; the reference let it through as
      // `ok` and its decode then dropped it
      assert(dispositions(got) == dispositions(want) ++ nullTbl.map(_ -> "unregistered_table"), name)
      assert(dispositions(want).filter(_._1 == nullTbl.head).values.toSeq == Seq("ok"))
      assert(dispositions(got).values.toSet ==
        Set("ok", "unparseable", "null_payload", "unregistered_table"), name)

      val decoded = reg.decode(env)
      val wantDecoded = Reference.decode(env, reg)
      assert(decoded.schema == wantDecoded.schema, name)
      assert(byPos(decoded) == byPos(wantDecoded), name)

      // the quarantined apply writes the same delta and dead letters
      val dir = Files.createTempDirectory("graft_decode_once_apply").toString
      StreamingApply.applyBatchQuarantined(s"$dir/state", s"$dir/dlq", reg,
        payloadCols = payloadCols(reg))(env, 0L)
      val wantOk = Reference.decode(
        want.filter(col("disposition") === "ok").drop("disposition"), reg)
        .select(("tbl" +: "pk" +: "op" +: "ts" +: "pos" +: payloadCols(reg)).map(col): _*)
      assert(byPos(spark.read.parquet(s"$dir/state/d=0")) == byPos(wantOk), name)
      val dlq = spark.read.parquet(s"$dir/dlq/v=0")
      assert(dlq.columns.toSeq == want.columns.toSeq, name)
      assert(byPos(dlq) == byPos(got.filter(col("disposition") =!= "ok")), name)
      assert(dispositions(dlq) == dispositions(want.filter(col("disposition") =!= "ok")) ++
        nullTbl.map(_ -> "unregistered_table"), name)
    }
  }

  /** `from_json` calls in `plan`, counting those inside cached relations:
    * a persisted frame's parse runs when the write first reads it.
    */
  private def jsonParses(plan: LogicalPlan): Int =
    plan.collect { case n =>
      n.expressions.map(_.collect { case j: JsonToStructs => j }.size).sum + (n match {
        case r: InMemoryRelation => r.cachedPlan.collect { case p =>
          p.expressions.map(_.collect { case j: JsonToStructs => j }.size).sum
        }.sum
        case _ => 0
      })
    }.sum

  /** Optimized plans of the file writes `body` runs, by output directory name. */
  private def writePlans(body: => Unit): Seq[(String, LogicalPlan)] = {
    val seen = new ConcurrentLinkedQueue[QueryExecution]()
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = { seen.add(qe); () }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try { body; drainListenerBus() } finally spark.listenerManager.unregister(l)
    seen.asScala.toSeq.flatMap { qe =>
      qe.optimizedPlan.collectFirst {
        case w: InsertIntoHadoopFsRelationCommand => w.outputPath.getName -> qe.optimizedPlan
      }
    }
  }

  private def pay(k: Long) = s"""{"event_type":"click","k":$k,"value":1.5}"""

  /** A batch read from parquet, as a stream's batch is read from its
    * source: the optimizer would evaluate a local relation's parse at
    * planning time.
    */
  private def fixtureBatch(rows: (String, String)*): DataFrame = {
    val path = Files.createTempDirectory("graft_batch").toString + "/batch"
    rows.zipWithIndex.map { case ((t, p), i) =>
      (t, i.toLong, "I", new Timestamp(i * 1000L), i.toLong, p)
    }.toDF("tbl", "pk", "op", "ts", "pos", "payload_json").write.parquet(path)
    spark.read.parquet(path)
  }

  private def quarantined(dir: String, batch: DataFrame, batchId: Long): Unit =
    StreamingApply.applyBatchQuarantined(s"$dir/state", s"$dir/dlq", Normalizer.fixtureRegistry,
      payloadCols = Normalizer.payloadCols)(batch, batchId)

  test("the quarantined delta write parses each payload once") {
    val dir = Files.createTempDirectory("graft_parse_once").toString
    val batch = fixtureBatch("t0" -> pay(1), "t1" -> """{"event_t""", "t9" -> pay(3))
    val plans = writePlans(quarantined(dir, batch, 0L))
    val delta = plans.filter(_._1 == "d=0").map(_._2)
    assert(delta.nonEmpty, plans.map(_._1))
    delta.foreach(p => assert(jsonParses(p) == 1, p.treeString))
  }

  test("a clean batch runs one Spark job; a batch with dead letters runs two") {
    val dir = Files.createTempDirectory("graft_jobs_once").toString
    def jobs(batch: DataFrame, batchId: Long): Int = {
      val group = s"quarantine-${System.nanoTime()}"
      jobProperties {
        spark.sparkContext.setJobGroup(group, "quarantined apply")
        try quarantined(dir, batch, batchId)
        finally spark.sparkContext.clearJobGroup()
      }.count(_.getProperty("spark.jobGroup.id") == group)
    }
    val clean = fixtureBatch("t0" -> pay(1), "t1" -> pay(2))
    val dirty = fixtureBatch("t0" -> pay(3), "t1" -> null, (null: String) -> pay(4))
    assert(jobs(clean, 0L) == 1)
    assert(!new java.io.File(s"$dir/dlq/v=0").exists())
    assert(jobs(dirty, 1L) == 2)
    assert(dispositions(spark.read.parquet(s"$dir/dlq/v=1")) ==
      Map(1L -> "null_payload", 2L -> "unregistered_table"))
    // an empty batch, scanned or local, completes and quarantines nothing
    quarantined(dir, fixtureBatch(), 2L)
    quarantined(dir, Seq.empty[(String, Long, String, Timestamp, Long, String)]
      .toDF("tbl", "pk", "op", "ts", "pos", "payload_json"), 3L)
    assert(!new java.io.File(s"$dir/dlq/v=2").exists() && !new java.io.File(s"$dir/dlq/v=3").exists())
  }
}
