package graft

/** Dev profiling main (not part of the library surface): times named
  * [[SparkEntry.queries]] at a given sfDir in the [[Harness]] session
  * Bench uses, counting jobs/stages per run and printing the
  * per-job wall times with their call sites. This is the feedback loop
  * behind the round-9 iterative-op work — at fixture scale those
  * queries are JOB-COUNT dominated, so the first question is always
  * "how many jobs, and where do the gaps between them go", not "which
  * shuffle is big" (see CLAUDE.md round-9 notes).
  *
  * Usage: `sbt 'runMain graft.ProfileQ <sfDir> <query> [query...]'`
  */
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerJobEnd, SparkListenerStageCompleted}
import java.util.concurrent.atomic.AtomicInteger

object ProfileQ {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.drop(1).toSeq else Seq("graph_modularity")
    val spark = Harness.session(Harness.cpus)
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val starts = scala.collection.concurrent.TrieMap[Int, Long]()
    val descs = scala.collection.concurrent.TrieMap[Int, String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); starts(j.jobId) = j.time
        // explicit job description (setJobDescription) beats the stage
        // name when present — streamingNovelty tags its per-batch phases
        val desc = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        val site = j.stageInfos.lastOption.map(_.details.linesIterator.toSeq
          .filter(l => l.contains("graft") && !l.contains("ProfileQ")).take(2).mkString(" <- "))
          .getOrElse("")
        descs(j.jobId) =
          (if (desc.nonEmpty) s"[$desc] " else "") +
            j.stageInfos.map(_.name).mkString("|").take(80) + " @ " + site.take(160)
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        lines.add(f"job ${j.jobId}%3d ${(j.time - starts.getOrElse(j.jobId, j.time)) / 1000.0}%6.2fs  ${descs.getOrElse(j.jobId, "")}")
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
    })
    // warmup at sf0.001
    names.foreach { n => try SparkEntry.queries(n)(spark, "/root/testdata/sf0.001").count() catch { case _: Throwable => () } }
    Harness.release(spark); System.gc()
    names.foreach { n =>
      val dts = (1 to 2).map { _ =>
        jobs.set(0); stages.set(0); lines.clear()
        val t0 = System.nanoTime()
        SparkEntry.queries(n)(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        Harness.release(spark); System.gc()
        dt
      }
      println(f"== $n: ${dts.min}%6.2f s (runs: ${dts.map(d => f"$d%.2f").mkString(", ")}), jobs=${jobs.get}, stages=${stages.get} (last run)")
      lines.forEach(l => println("   " + l))
    }
    spark.stop()
  }
}
