package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM under Test/fork). */
object TestSession {
  lazy val spark: SparkSession = Profiles.test()
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  lazy val sf001 = "/root/testdata/sf0.001"
}
