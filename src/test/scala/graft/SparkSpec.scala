package graft

import graft.core.GraftSession
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object TestSpark {
  lazy val spark: SparkSession = GraftSession.builder("local[4]", 4).getOrCreate()
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = TestSpark.spark
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val Sf0001 = "/root/testdata/sf0.001"

  def ts(epochSec: Long): java.sql.Timestamp =
    new java.sql.Timestamp(epochSec * 1000L)

  /** 2024-01-01T00:00:00Z */
  val T0 = 1704067200L

  /** Spark jobs started while `body` runs (the listener bus drained on
    * both sides).
    */
  def jobsRun(body: => Any): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val tap = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    graft.tools.Diagnostics.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(tap)
    try {
      body
      graft.tools.Diagnostics.drainListenerBus(spark)
    } finally spark.sparkContext.removeSparkListener(tap)
    n.get
  }
}
