package graft

import graft.cdc.{ChangelogApply, Normalizer, SchemaRegistry, TableFilter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Schema-registry typed decode + wide-envelope semantics:
  *   - encode→register→decode round trip lands back on the source values
  *   - discovery (parquet footers) → registry → decode round trip
  *   - heterogeneous schemas union by name with nulled absent fields
  *   - unregistered tables are dropped (replication scoping)
  *   - conflicting field types are rejected at registry build
  *   - changed-field-set matches a driver-side fold of reference semantics
  *     (worker/DefaultApplyWorker.scala:143-163).
  */
class SchemaRegistrySpec extends SparkSpec {

  import spark.implicits._

  private def rawEvents = Seq(
    // (event_id, ts_ns, user_id, event_type, value, props)
    (0L, 1000000000L, 1L, "signup", 1.5, """{"k": 10}"""),
    (1L, 2000000000L, 1L, "click", 2.5, """{"k": 10}"""),
    (2L, 3000000000L, 1L, "click", 2.5, """{"k": 11}"""),
    (3L, 4000000000L, 5L, "signup", 9.0, null),
    (4L, 5000000000L, 5L, "error", 0.0, """{"k": 3}""")
  ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    .withColumn("ts", expr("timestamp_micros(ts div 1000)"))

  test("wide decode round-trips the source values through JSON + registry") {
    val decoded = Normalizer.normalizeWideDecoded(rawEvents)
      .orderBy("pos")
      .select("tbl", "pk", "op", "pos", "event_type", "k", "value")
      .collect()
    assert(decoded.length == 5)
    val r0 = decoded(0)
    assert(r0.getString(0) == "t1" && r0.getLong(1) == 1L && r0.getString(2) == "I")
    assert(r0.getString(4) == "signup" && r0.getLong(5) == 10L && r0.getDouble(6) == 1.5)
    // null props → null k survives the round trip
    val r3 = decoded(3)
    assert(r3.isNullAt(5) && r3.getDouble(6) == 9.0)
  }

  test("discovery-to-decode: parquet footer schemas drive the typed decode") {
    val dir = java.nio.file.Files.createTempDirectory("graft_registry").toString
    Seq((1L, "a", 1.0)).toDF("pk", "name", "score").write.parquet(s"$dir/users.parquet")
    Seq((2L, 7L)).toDF("pk", "qty").write.parquet(s"$dir/orders.parquet")

    val reg = SchemaRegistry.fromParquetDir(spark, dir)
    assert(reg.tables == Seq("orders", "users"))
    assert(reg.schemaFor("users")("name").dataType == StringType)
    assert(reg.schemaFor("orders")("qty").dataType == LongType)

    // envelope rows whose payload was encoded from each table's own schema
    val env = Seq(
      ("users", 1L, "I", 10L, """{"pk": 1, "name": "a", "score": 1.0}"""),
      ("orders", 2L, "I", 11L, """{"pk": 2, "qty": 7}""")
    ).toDF("tbl", "pk", "op", "pos", "payload_json")
    val out = reg.decode(env).orderBy("pos")
    val rows = out.collect()
    // unified fields: users' (pk, name, score) ∪ orders' (qty)
    assert(out.columns.toSeq == Seq("tbl", "pk", "op", "pos", "name", "score", "qty"))
    assert(rows(0).getString(4) == "a" && rows(0).isNullAt(6)) // users row: qty null
    assert(rows(1).isNullAt(4) && rows(1).getLong(6) == 7L)    // orders row: name null

    // discovery composes with the replication table filter
    val filtered = SchemaRegistry.fromParquetDir(spark, dir, TableFilter(Seq("users"), Nil))
    assert(filtered.tables == Seq("users"))
  }

  test("unregistered tables are dropped by decode") {
    val env = Seq(
      ("t0", 1L, "I", 0L, """{"event_type":"x","k":1,"value":1.0}"""),
      ("zz", 2L, "I", 1L, """{"event_type":"y","k":2,"value":2.0}""")
    ).toDF("tbl", "pk", "op", "pos", "payload_json")
    val out = Normalizer.fixtureRegistry.decode(env)
    assert(out.select("tbl").as[String].collect().toSeq == Seq("t0"))
  }

  test("conflicting field types across schemas are rejected") {
    val a = StructType(Seq(StructField("x", LongType)))
    val b = StructType(Seq(StructField("x", StringType)))
    assertThrows[IllegalArgumentException] {
      SchemaRegistry(Map("ta" -> a, "tb" -> b)).unifiedFields
    }
  }

  test("changed-field-set matches reference fold semantics") {
    val cl = Normalizer.normalizeWideDecoded(rawEvents)
    val got = ChangelogApply.changedFieldSet(cl, Normalizer.payloadCols)
      .orderBy("pos")
      .select("tbl", "pk", "pos", "changed_fields", "n_changed")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4)))

    // pk=1 history: (signup,10,1.5) → (click,10,2.5) changes {event_type,value};
    //               → (click,11,2.5) changes {k}.
    // pk=5 history: (signup,null,9.0) → (error,3,0.0) changes all three
    //               (null → 3 counts as changed: field absent from before).
    assert(got.toSeq == Seq(
      ("t1", 1L, 1L, "event_type,value", 2L),
      ("t1", 1L, 2L, "k", 1L),
      ("t1", 5L, 4L, "event_type,k,value", 3L)))
  }

  test("dead-letter classify: each failure mode gets its disposition; ok flows") {
    import graft.cdc.DeadLetter
    val env = Seq(
      ("t0", 1L, 10L, """{"event_type":"click","k":1,"value":2.0}"""),
      ("t0", 2L, 20L, """{"event_ty"""),                // truncated json
      ("t9", 3L, 30L, """{"event_type":"click","k":1,"value":2.0}"""), // unknown tbl
      ("t1", 4L, 40L, null),                            // null payload
      ("t1", 5L, 50L, """{}"""),                        // valid but empty → ok
      (null, 6L, 60L, """{"event_type":"click","k":1,"value":2.0}""")) // no tbl
      .toDF("tbl", "pk", "pos", "payload_json")
    val got = DeadLetter.classify(env, Normalizer.fixtureRegistry)
      .collect().map(r => r.getAs[Long]("pk") -> r.getAs[String]("disposition")).toMap
    assert(got == Map(1L -> "ok", 2L -> "unparseable", 3L -> "unregistered_table",
      4L -> "null_payload", 5L -> "ok", 6L -> "unregistered_table"))
    val stats = DeadLetter.stats(DeadLetter.classify(env, Normalizer.fixtureRegistry))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(stats("t0") == ((2L, 1L)) && stats("t9") == ((1L, 0L)))
  }

  test("wide LWW carries the full after-image and drops tombstones") {
    val cl = Normalizer.normalizeWideDecoded(rawEvents)
    val st = ChangelogApply.materializeWide(cl, Normalizer.payloadCols)
      .orderBy("pk").collect()
    // pk=5 ends with op D (error) → dropped; pk=1 latest is pos=2
    assert(st.length == 1)
    assert(st(0).getLong(st(0).fieldIndex("pk")) == 1L)
    assert(st(0).getLong(st(0).fieldIndex("k")) == 11L)
    assert(st(0).getString(st(0).fieldIndex("event_type")) == "click")
  }
}
