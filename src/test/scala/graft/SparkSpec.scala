package graft

import scala.collection.mutable

import org.apache.spark.GraftListenerShims
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM under Test/fork). */
object TestSession {
  lazy val spark: SparkSession = Profiles.test()
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  lazy val sf001 = "/root/testdata/sf0.001"

  /** Runs `body` under its own job group and returns its result with the
    * stage names of every job it started. */
  def jobsOf[T](body: => T): (T, Seq[Seq[String]]) = {
    val sc = spark.sparkContext
    val group = s"spec-${System.nanoTime()}"
    val jobs = mutable.ArrayBuffer.empty[Seq[String]]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.synchronized(jobs += e.stageInfos.map(_.name))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "spec")
    try {
      val r = body
      GraftListenerShims.waitListenerBusEmpty(sc)
      (r, jobs.synchronized(jobs.toList))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
