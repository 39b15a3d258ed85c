package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.util.Properties
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** Shared local SparkSession for all specs (one JVM-wide session — specs
  * run in a single forked JVM, so getOrCreate dedups).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def sqlc = spark.sqlContext

  spark.sparkContext.setLogLevel("WARN")

  /** Delivers every queued listener event (the bus is private[spark]). */
  def drainListenerBus(): Unit = {
    val bus = spark.sparkContext.getClass.getMethod("listenerBus").invoke(spark.sparkContext)
    bus.getClass.getMethods
      .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
      .foreach(_.invoke(bus))
  }

  /** Properties of every job started while `body` runs. */
  def jobProperties(body: => Unit): Seq[Properties] = {
    val seen = new ConcurrentLinkedQueue[Properties]()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        seen.add(Option(j.properties).getOrElse(new Properties())); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try { body; drainListenerBus() } finally spark.sparkContext.removeSparkListener(l)
    seen.asScala.toSeq
  }
}
