package graft

import org.apache.spark.sql.SparkSession

/** The one place that knows the session settings the gate's oracle
  * parity depends on, shared by every main (`Bench`, `Verify`,
  * `PrefixScale`, `ProfileQ`, `PlanDump`) and by the test suites'
  * `SparkSpec`:
  *
  *  - `local[cpus]` with shuffle partitions = `cpus`;
  *  - session time zone UTC (date bucketing matches DuckDB's);
  *  - `nanosAsLong` on, so TIMESTAMP(NANOS) fixture columns read as Long
  *    and `SparkEntry.t()` can normalize them at the scan edge;
  *  - UI off, log level ERROR.
  */
object Harness {
  /** Core count from `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)

  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Between-query teardown: tracked persists, streaming residue
    * (state-store providers, memory-sink views) and the session cache.
    */
  def release(spark: SparkSession): Unit = {
    ops.Caches.releaseCaches()
    ops.Caches.releaseStreamingState(spark)
    spark.catalog.clearCache()
  }

  /** Delivers every queued listener event. Listener callbacks run on an
    * async bus thread, so a counter read right after an action can miss
    * that action's last events; the bus is `private[spark]`, reached by
    * reflection.
    */
  def drainListenerBus(spark: SparkSession): Unit = {
    val bus = spark.sparkContext.getClass.getMethod("listenerBus").invoke(spark.sparkContext)
    bus.getClass.getMethods
      .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
      .foreach(_.invoke(bus))
  }
}
