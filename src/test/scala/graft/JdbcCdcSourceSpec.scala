package graft

import java.sql.DriverManager

import graft.sources.JdbcCdcSource
import org.apache.spark.sql.streaming.Trigger

/** Live-database CDC tailing: the graft-jdbc-cdc DSv2 source polls a
  * RUNNING database (in-JVM Derby — a real JDBC server, the same one the
  * sink specs write to) with admission-capped micro-batches, parallel
  * range readers, and exact checkpoint resume — the runnable counterpart
  * of the reference's live MySQL binlog client.
  */
class JdbcCdcSourceSpec extends SparkSpec {

  private def freshDb(name: String): String = {
    val url = s"jdbc:derby:memory:$name;create=true"
    val conn = DriverManager.getConnection(url)
    conn.createStatement().execute(
      "CREATE TABLE CHANGELOG (pos BIGINT PRIMARY KEY, tbl VARCHAR(8), " +
        "pk BIGINT, op VARCHAR(1), value DOUBLE)")
    conn.close()
    url
  }

  private def insert(url: String, rows: Seq[(Long, String, Long, String, Double)]): Unit = {
    val conn = DriverManager.getConnection(url)
    val ps = conn.prepareStatement("INSERT INTO CHANGELOG VALUES (?, ?, ?, ?, ?)")
    rows.foreach { case (pos, tbl, pk, op, v) =>
      ps.setLong(1, pos); ps.setString(2, tbl); ps.setLong(3, pk)
      ps.setString(4, op); ps.setDouble(5, v); ps.addBatch()
    }
    ps.executeBatch()
    conn.close()
  }

  test("schema probe maps live JDBC metadata to lowercased Spark fields") {
    val url = freshDb("cdcschema")
    val schema = JdbcCdcSource.probeSchema(url, "CHANGELOG")
    assert(schema.fieldNames.toSeq == Seq("pos", "tbl", "pk", "op", "value"))
    assert(schema("pos").dataType.typeName == "long")
    assert(schema("op").dataType.typeName == "string")
    assert(schema("value").dataType.typeName == "double")
  }

  test("tails a live table in admission-capped batches; parallel range readers") {
    val url = freshDb("cdctail")
    insert(url, (1L to 20L).map(p => (p, "t0", p % 5, "I", p * 1.0)))
    val dir = java.nio.file.Files.createTempDirectory("graft_jdbccdc").toString
    val q = spark.readStream.format("graft-jdbc-cdc")
      .option("url", url).option("table", "CHANGELOG")
      .option("posColumn", "pos").option("maxPerBatch", "8")
      .option("numPartitions", "3")
      .load()
      .writeStream.format("memory").queryName("jdbc_out")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      q.processAllAvailable()
      val got = spark.table("jdbc_out").orderBy("pos").collect()
      assert(got.map(_.getAs[Long]("pos")).toSeq == (1L to 20L))
      // admission control: 20 rows / cap 8 → at least 3 non-empty batches
      assert(q.recentProgress.count(_.numInputRows > 0) >= 3)

      // LIVE tailing: rows appended to the running database arrive in the
      // next poll without restarting the query
      insert(url, (21L to 25L).map(p => (p, "t1", p, "U", p * 2.0)))
      q.processAllAvailable()
      val more = spark.table("jdbc_out").orderBy("pos").collect()
      assert(more.map(_.getAs[Long]("pos")).toSeq == (1L to 25L))
      assert(more.last.getAs[String]("tbl") == "t1")
    } finally q.stop()
  }

  test("AvailableNow keeps the admission cap: the backlog drains in capped micro-batches, in order") {
    val url = freshDb("cdcavailnow")
    insert(url, (1L to 20L).map(p => (p, "t0", p % 5, "I", p * 1.0)))
    val dir = java.nio.file.Files.createTempDirectory("graft_jdbccdc_an").toString
    val q = spark.readStream.format("graft-jdbc-cdc")
      .option("url", url).option("table", "CHANGELOG")
      .option("posColumn", "pos").option("maxPerBatch", "8")
      .option("numPartitions", "3")
      .load()
      .writeStream.format("memory").queryName("jdbc_out_an")
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("jdbc_out_an").orderBy("pos").collect()
    assert(got.map(_.getAs[Long]("pos")).toSeq == (1L to 20L))
    // 20 rows / cap 8 → at least 3 batches
    assert(q.recentProgress.count(_.numInputRows > 0) >= 3)
    spark.catalog.dropTempView("jdbc_out_an")
  }

  test("checkpoint restart resumes exactly after the committed position") {
    val url = freshDb("cdcresume")
    insert(url, (1L to 6L).map(p => (p, "t0", p, "I", p * 1.0)))
    val dir = java.nio.file.Files.createTempDirectory("graft_jdbccdc2").toString
    val delivered = new scala.collection.concurrent.TrieMap[Long, Int]()
    def run(): Unit = {
      val q = spark.readStream.format("graft-jdbc-cdc")
        .option("url", url).option("table", "CHANGELOG").option("posColumn", "pos")
        .load()
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.select("pos").collect().foreach { r =>
            delivered.updateWith(r.getLong(0))(c => Some(c.getOrElse(0) + 1)); ()
          }
        }
        .option("checkpointLocation", s"$dir/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    run()
    assert(delivered.keySet == (1L to 6L).toSet)
    // append while the query is DOWN; the restart must deliver exactly
    // the gap — no replay of 1-6, no loss of 7-9
    insert(url, (7L to 9L).map(p => (p, "t0", p, "U", p * 1.0)))
    run()
    assert(delivered.keySet == (1L to 9L).toSet)
    assert(delivered.values.forall(_ == 1), s"duplicated delivery: $delivered")
  }
}
