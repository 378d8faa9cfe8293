package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites are
  * cheap plan-level tests plus small actions).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** `f`'s result and the number of Spark jobs started while it ran. */
  protected def countJobs[A](f: => A): (A, Int) = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val a = f
      // listener events are async — drain the bus deterministically
      // (a fixed sleep can under-count on a loaded box)
      org.apache.spark.sql.graftshim.Shim.waitForListenerBus(
        spark.sparkContext, 30000L)
      (a, n.get())
    } finally spark.sparkContext.removeSparkListener(l)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
