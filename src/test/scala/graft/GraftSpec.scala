package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, one session). */
object TestSession {
  lazy val spark: SparkSession = Session.local(4, "graft-test")
  val sfDir = "/root/testdata/sf0.001"
}

abstract class GraftSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  val sfDir: String            = TestSession.sfDir
}
