package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.util.Properties
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** Shared local SparkSession for all specs (one JVM-wide session — specs
  * run in a single forked JVM, so getOrCreate dedups). Four cores
  * whatever `SPARK_GRAFT_CPUS` says, so specs that count tasks or
  * partitions see the same width on every machine.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Harness.session(4)

  def sqlc = spark.sqlContext

  /** Delivers every queued listener event. */
  def drainListenerBus(): Unit = Harness.drainListenerBus(spark)

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
