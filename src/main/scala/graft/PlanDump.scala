package graft

/** Dev tool: write `.explain("formatted")` of named SparkEntry queries
  * to files — the plan-evidence discipline (`plans/rNN/<query>_<tag>.txt`).
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *     sbt 'runMain graft.PlanDump plans/r14 after q1 q2 ...'
  *
  * Note the maintenance/streaming exercises are imperative multi-action
  * paths: their RETURNED frame is the final artifact read, so the dump
  * shows that read plus whatever lineage survives — the per-merge plan
  * shape for those lives in the plan-contract specs (PlanShapeSpec) and
  * the job-budget specs, which the dump header points at.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <tag> <query> [query...]")
    val outDir = args(0); val tag = args(1); val names = args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session(Harness.cpus)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${name}_$tag.txt"),
        s"-- $name ($tag), sf=$sfDir\n$txt")
      println(s"dumped $name")
      Harness.release(spark)
    }
    spark.stop()
  }
}
