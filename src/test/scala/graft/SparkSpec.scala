package graft

import org.apache.spark.graftbench.SparkInternals
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one JVM-wide session; tests fork). */
object SparkSpec {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSpec.spark
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  def sfDir: String = "/root/testdata/sf0.001"

  /** Spark jobs started by `body`, counted by a listener. */
  def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    SparkInternals.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      body
      SparkInternals.drainListenerBus(sc)
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  /** The events table across testdata generations — TIMESTAMP(NANOS)
    * or TIMESTAMP(MICROS) files — with `ts` normalized to timestamp_ntz
    * either way, by SparkEntry's own reader. */
  def eventsTable(dir: String = sfDir): org.apache.spark.sql.DataFrame =
    SparkEntry.events(spark, dir)
}
