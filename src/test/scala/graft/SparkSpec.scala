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
    val (a, jobs) = jobScopes(f)
    (a, jobs.size)
  }

  /** `f`'s result and, per Spark job started while it ran (in start
    * order), the distinct RDD operation scopes of the stages that job
    * ran (`Exchange`, `WholeStageCodegen (2)`, ...): stages a job skips
    * (shuffle output an earlier job wrote) are left out, so a job that
    * comes back names the plan operators it runs. */
  protected def jobScopes[A](f: => A): (A, Seq[Seq[String]]) = {
    import org.apache.spark.scheduler._
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Seq[Int])]
    val ran = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val scopes = new java.util.concurrent.ConcurrentHashMap[Int, Seq[String]]
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        js.stageInfos.foreach(si =>
          scopes.put(si.stageId, si.rddInfos.flatMap(_.scope.map(_.name))))
        jobs.add(js.jobId -> js.stageIds)
        ()
      }
      override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit = {
        ran.add(ss.stageInfo.stageId); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val a = f
      // listener events are async — drain the bus deterministically
      // (a fixed sleep can under-count on a loaded box)
      org.apache.spark.sql.graftshim.Shim.waitForListenerBus(
        spark.sparkContext, 30000L)
      import scala.jdk.CollectionConverters._
      (a, jobs.asScala.toSeq.sortBy(_._1).map { case (_, stages) =>
        stages.filter(ran.contains).sorted
          .flatMap(s => scopes.getOrDefault(s, Nil)).distinct
      })
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
