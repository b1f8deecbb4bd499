package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base — one local session for the whole forked test JVM. */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSuite.session
  val sf001 = "/root/testdata/sf0.001"
  val sf01 = "/root/testdata/sf0.01"

  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[Path]

  /** A fresh directory under the system temp dir; it and everything in
    * it are deleted after the suite's last test. */
  protected def tempDir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix)
    tempDirs.add(d)
    d.toString
  }

  /** Delete `path` and everything under it, if it exists. */
  protected def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val all = Files.walk(p)
      try all.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally all.close()
    }
  }

  // best effort: a directory that cannot be deleted must not fail the
  // suite whose tests already passed
  override protected def afterAll(): Unit =
    try tempDirs.forEach(d => { scala.util.Try(deleteTree(d.toString)); () })
    finally super.afterAll()

  /** `spark`'s entries in the named [[SessionResources]] slot (key →
    * value; empty when the slot holds none). */
  protected def held(s: SparkSession, slot: String): Map[Any, Any] =
    SessionResources.held(s).getOrElse(slot, Map.empty)

  /** The RDD ids a last-run slot holds for `s`. */
  protected def lastRunIds(s: SparkSession, slot: String): Seq[Int] =
    held(s, slot).values.toSeq.flatMap(_.asInstanceOf[Seq[Int]])

  /** The ids of every RDD the SparkContext holds persisted. */
  protected def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

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
