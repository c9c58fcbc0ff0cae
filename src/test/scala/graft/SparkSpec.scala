package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs — one per suite (lazy). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .getOrCreate()

  def sf(name: String = "sf0.001"): String = s"/root/testdata/$name"

  /** Spark jobs started while `body` runs, by any thread it spawns (a
    * streaming query thread inherits the calling thread's local properties).
    */
  def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val key = "graft.test.probe"
    val probe = s"jobs-${System.nanoTime()}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(key) == probe)) jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(key, probe)
    try body finally {
      sc.setLocalProperty(key, null)
      org.apache.spark.graft.TestBridge.drainListenerBus(sc)
      sc.removeSparkListener(listener)
    }
    jobs.get
  }
}
