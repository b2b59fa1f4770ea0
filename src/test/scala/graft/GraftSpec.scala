package graft

import org.apache.spark.GraftTestBridge
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

  /** Runs `body` in a fresh job group; its jobs and their shuffle bytes. */
  protected def jobsOf(label: String)(body: => Unit): (Int, Long) = {
    val sc     = spark.sparkContext
    val group  = s"$label-${System.nanoTime()}"
    val jobs   = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val ended  = new java.util.concurrent.atomic.AtomicInteger(0)
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (js.properties != null &&
            group == js.properties.getProperty("spark.jobGroup.id")) {
          jobs.add(js.jobId)
          js.stageIds.foreach(id => stages.add(id))
        }
      override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        if (jobs.contains(je.jobId)) { ended.incrementAndGet(); () }
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (stages.contains(te.stageId) && te.taskMetrics != null) {
          shuffleBytes.addAndGet(te.taskMetrics.shuffleWriteMetrics.bytesWritten +
            te.taskMetrics.shuffleReadMetrics.totalBytesRead)
          ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, label)
      body
      // listener events are async: drain what the body's jobs posted (a
      // job's task ends precede its end). A failed job can post its end
      // just after its caller returns, so wait for any end still missing.
      GraftTestBridge.drainListenerBus(sc)
      val deadline = System.nanoTime() + 10000000000L
      while (ended.get() < jobs.size && System.nanoTime() < deadline) {
        Thread.sleep(20L)
        GraftTestBridge.drainListenerBus(sc)
      }
      assert(ended.get() == jobs.size, s"$label: a job never ended on the listener bus")
      (jobs.size, shuffleBytes.get())
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
