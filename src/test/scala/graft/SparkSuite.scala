package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base — one local session for the whole forked test JVM. */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session
  val sf001 = "/root/testdata/sf0.001"
  val sf01 = "/root/testdata/sf0.01"

  /** (SQL executions, Spark jobs) started while `f` runs, waiting for
    * the listener bus to quiesce before reading. `onJob` also runs on
    * every job start. */
  protected def actionsDuring(f: => Unit, onJob: () => Unit = () => ()): (Int, Int) = {
    val execs = new java.util.concurrent.atomic.AtomicInteger
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        onJob(); jobs.incrementAndGet(); ()
      }
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case _: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            execs.incrementAndGet(); ()
          case _ => ()
        }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      f
      var last = -1; var cur = jobs.get + execs.get
      while (cur != last) { Thread.sleep(150); last = cur; cur = jobs.get + execs.get }
      (execs.get, jobs.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }
}

object SparkSuite {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
