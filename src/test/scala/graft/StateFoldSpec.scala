package graft

import graft.cdc.ChangelogApply
import graft.model.ChangeEvent
import graft.streaming.StreamingApply
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

import java.io.File
import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._

/** The merge-on-read protocol of the LWW state store: explicit-schema
  * reads, crash and replay against the one-shot materialization, and the
  * background fold thread (stop, job properties, failures).
  */
class StateFoldSpec extends SparkSpec {

  import spark.implicits._

  private def ev(pk: Long, op: String, pos: Long, v: Double) =
    ChangeEvent("t0", pk, op, new Timestamp(pos * 1000), pos, v)

  private def newStateDir(name: String): String =
    Files.createTempDirectory(name).toString + "/state"

  private def dirsOf(stateDir: String, prefix: String): Seq[String] =
    new File(stateDir).listFiles().map(_.getName).filter(_.startsWith(prefix)).sorted.toSeq

  /** The one-shot materialization of `events`, tombstones dropped. */
  private def oracle(events: Seq[ChangeEvent]): DataFrame =
    ChangelogApply.materializeEnvelope(events.toDF()).filter(col("op") =!= "D")

  private def assertSetEqual(got: DataFrame, want: DataFrame, clue: String): Unit = {
    val (g, w) = (got.collect().toSeq, want.collect().toSeq)
    assert(g.size == w.size && g.toSet == w.toSet, clue)
  }

  /** Waits until no fold thread of `stateDir` is alive, without consuming
    * a failure it left behind. */
  private def foldThreadsGone(stateDir: String): Unit = {
    def alive = Thread.getAllStackTraces.keySet.asScala
      .exists(t => t.getName.startsWith("state-fold ") && t.getName.endsWith(stateDir))
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
    while (alive && System.nanoTime() < deadline) Thread.sleep(20)
    assert(!alive, s"fold of $stateDir still running")
  }

  test("building a state frame starts no Spark job: bases and deltas are read with an explicit schema") {
    val dir = newStateDir("graft_noinfer")
    StreamingApply.writeVersion(Seq(ev(1, "I", 0, 1.0), ev(2, "I", 1, 2.0)).toDF(), dir, -1L)
    StreamingApply.applyBatch(dir)(Seq(ev(1, "U", 2, 1.5)).toDF(), 0L)
    val group = s"build-${System.nanoTime()}"
    var frame: DataFrame = null
    val jobs = jobProperties {
      spark.sparkContext.setJobGroup(group, "build a state frame")
      try frame = StreamingApply.stateBefore(spark, dir, Long.MaxValue)
      finally spark.sparkContext.clearJobGroup()
    }.filter(_.getProperty("spark.jobGroup.id") == group)
    assert(jobs.isEmpty, s"${jobs.size} job(s) started before any action")
    assert(frame.collect().map(r => r.getLong(1) -> r.getDouble(5)).toMap == Map(1L -> 1.5, 2L -> 2.0))
  }

  test("crash and replay of the delta protocol converge to the one-shot materialization") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val ops = Seq("I", "U", "U", "D")
      val events = (0 until 260).map(i => ev(rnd.nextInt(40), ops(rnd.nextInt(4)), i, i * 0.5))
      // a random split of a shuffled changelog into 26 batches
      val shuffled = rnd.shuffle(events)
      val cuts = (0 +: rnd.shuffle((1 until shuffled.size).toList).take(25) :+ shuffled.size).sorted
      val batches = cuts.sliding(2).map { case Seq(a, b) => shuffled.slice(a, b) }.toVector
      val dir = newStateDir(s"graft_crash$seed")
      def apply(i: Int): Unit = StreamingApply.applyBatch(dir)(batches(i).toDF(), i.toLong)
      def check(applied: Int, stage: String): Unit =
        assertSetEqual(StreamingApply.currentState(spark, dir),
          oracle(batches.take(applied).flatten), s"seed $seed: $stage")

      (0 to 3).foreach(apply)
      apply(3)
      check(4, "batch 3 replayed before any fold")
      (4 to 9).foreach(apply) // the tenth delta starts the first fold
      check(10, "read waiting on the first fold")
      assert(dirsOf(dir, "v=") == Seq("v=9"))
      apply(9)
      check(10, "batch 9 replayed after its fold")

      // the second fold copies its deltas aside before it runs, then is
      // made to look cut off: marker and one bucket gone, deltas back
      val saved = Files.createTempDirectory(s"graft_saved$seed").toFile
      StreamingApply.foldHook = d => if (d == dir)
        new File(dir).listFiles().filter(_.getName.startsWith("d="))
          .foreach(f => org.apache.commons.io.FileUtils.copyDirectory(f, new File(saved, f.getName)))
      try { (10 to 19).foreach(apply); StreamingApply.awaitFold(spark, dir) }
      finally StreamingApply.foldHook = _ => ()
      val cut = new File(dir, "v=19")
      assert(new File(cut, "_SUCCESS").delete())
      org.apache.commons.io.FileUtils.deleteDirectory(
        cut.listFiles().filter(_.getName.startsWith("bucket=")).head)
      saved.listFiles().foreach(f => org.apache.commons.io.FileUtils.copyDirectory(f, new File(dir, f.getName)))
      check(20, "fold cut off before _SUCCESS")

      (20 until batches.size).foreach(apply) // the next fold covers 10-20
      check(batches.size, "after the fold that follows the cut")
      assert(!new File(dir, "v=19").exists(), "the partial version survived the next fold")
      assert(dirsOf(dir, "d=").forall(_.stripPrefix("d=").toInt > 20))
    }
  }

  test("a fold survives q.stop(), reads wait for it, and its jobs carry no stream property") {
    val root = Files.createTempDirectory("graft_foldstop").toString
    val dir = s"$root/state"
    val events = (0 until 40).map(i => ev(i % 7, if (i % 9 == 8) "D" else "U", i, i.toDouble))
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    StreamingApply.foldHook = d => if (d == dir) { entered.countDown(); release.await() }
    var state: DataFrame = null
    val props = try jobProperties {
      val ms = MemoryStream[ChangeEvent](spark, numPartitions = 1)
      val q = ms.toDF().writeStream
        .foreachBatch(StreamingApply.applyBatch(dir) _)
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.ProcessingTime(0))
        .start()
      try {
        events.grouped(4).foreach { b => ms.addData(b); q.processAllAvailable() }
        assert(entered.await(60, TimeUnit.SECONDS), "the tenth delta starts a fold")
      } finally q.stop()
      new Thread(() => { Thread.sleep(300); release.countDown() }).start()
      state = StreamingApply.currentState(spark, dir)
      assert(release.getCount == 0, "currentState returned before the fold was released")
    } finally { StreamingApply.foldHook = _ => (); release.countDown() }

    assert(new File(s"$dir/v=9/_SUCCESS").exists() && dirsOf(dir, "d=").isEmpty,
      "the fold held across q.stop() did not complete")
    assertSetEqual(state, oracle(events), "state after the fold")
    val (fold, rest) = props.partition(p =>
      Option(p.getProperty("spark.job.description")).exists(d => d.startsWith("fold ") && d.endsWith(dir)))
    assert(fold.nonEmpty && rest.exists(_.getProperty("streaming.sql.batchId") != null))
    val streamKeys = Seq("spark.jobGroup.id", "streaming.sql.batchId", "sql.streaming.queryId")
    for (p <- fold; k <- streamKeys)
      assert(p.getProperty(k) == null, s"a fold job carries $k=${p.getProperty(k)}")
    val streamExecIds = rest.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).toSet
    assert(fold.forall(p => !streamExecIds.contains(p.getProperty("spark.sql.execution.id"))))
  }

  test("a failed fold loses nothing and is rethrown exactly once by the next call") {
    val dir = newStateDir("graft_foldfail")
    val batches = (0 until 12).map(i => Seq(ev(i % 5, "U", i, i.toDouble), ev(9, "U", 100 + i, i.toDouble)))
    def apply(i: Int): Unit = StreamingApply.applyBatch(dir)(batches(i).toDF(), i.toLong)
    val boom = new RuntimeException("fold made to fail")
    StreamingApply.foldHook = d => if (d == dir) throw boom
    try {
      // the next read rethrows
      (0 to 9).foreach(apply)
      assert(intercept[IllegalStateException](StreamingApply.currentState(spark, dir)).getCause eq boom)
      assertSetEqual(StreamingApply.currentState(spark, dir), oracle(batches.take(10).flatten),
        "second read after the failed fold")
      assert(dirsOf(dir, "d=").size == 10 && dirsOf(dir, "v=").isEmpty)
      // the next apply rethrows, before writing its delta; its replay succeeds
      apply(10)
      foldThreadsGone(dir)
      assert(intercept[IllegalStateException](apply(11)).getCause eq boom)
      assert(!new File(dir, "d=11").exists())
    } finally StreamingApply.foldHook = _ => ()
    apply(11)
    StreamingApply.awaitFold(spark, dir)
    assert(dirsOf(dir, "v=") == Seq("v=11") && dirsOf(dir, "d=").isEmpty)
    assertSetEqual(StreamingApply.currentState(spark, dir), oracle(batches.flatten), "after the retried fold")
  }
}
