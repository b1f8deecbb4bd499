package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Minimal JSON rendering for the run record (numbers, strings, booleans,
  * sequences and string-keyed maps). */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}

/** Job and stage records, attributed to the job group the benchmark sets
  * around each call (`spark.jobGroup.id`; threads a call spawns inherit
  * it). Attached only while a traced call runs. */
final class JobLog extends SparkListener {
  val jobs = ArrayBuffer[Map[String, Any]]()
  private val open = scala.collection.mutable.Map[Int, (String, Long)]()
  private val stageGroup = scala.collection.mutable.Map[Int, String]()
  val stages = ArrayBuffer[Map[String, Any]]()

  private def group(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    open(e.jobId) = (group(e.properties), e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach { case (g, start) =>
      jobs += Map("job" -> e.jobId, "group" -> g, "start_ms" -> start.toDouble,
        "end_ms" -> e.time.toDouble, "ok" -> (e.jobResult == JobSucceeded))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageGroup(e.stageInfo.stageId) = group(e.properties)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    val m = Option(s.taskMetrics)
    stages += Map("stage" -> s.stageId, "attempt" -> s.attemptNumber(),
      "group" -> stageGroup.getOrElse(s.stageId, ""), "tasks" -> s.numTasks,
      "shuffle_write_bytes" -> m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      "output_bytes" -> m.map(_.outputMetrics.bytesWritten).getOrElse(0L))
  }
}

/** One timed call into the engine. `attrs` carries what the workload
  * learned from the call's output (counts, digests) for the record. */
final class Call(val id: String, val kind: String, val traced: Boolean) {
  var startMs = 0.0
  var endMs = 0.0
  var wallS = 0.0
  var cpuS = 0.0
  var ok = true
  var error = ""
  var rddsBefore = 0
  var rddsAfter = 0
  val attrs = scala.collection.mutable.LinkedHashMap[String, Any]()

  def record: Map[String, Any] = Map("id" -> id, "kind" -> kind, "traced" -> traced,
    "start_ms" -> startMs, "end_ms" -> endMs, "wall_s" -> wallS, "cpu_s" -> cpuS, "ok" -> ok,
    "error" -> error, "rdds_before" -> rddsBefore, "rdds_after" -> rddsAfter,
    "attrs" -> attrs)
}

object Recorder {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole JVM process (every thread), in ns. */
  def processCpuNanos: Long = os.getProcessCpuTime
}

/** CPU time the hypervisor gave to other guests while this machine's CPUs
  * wanted to run: the `steal` column of `/proc/stat`, summed over CPUs. */
object HostSteal {
  /** (steal, all) jiffies so far; (0, 0) where `/proc/stat` is missing. */
  def read(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val v = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
      (if (v.length > 7) v(7) else 0L, v.sum)
    } catch { case NonFatal(_) => (0L, 0L) }

  /** Stolen share of all CPU time between two readings. */
  def share(from: (Long, Long), to: (Long, Long)): Double =
    if (to._2 > from._2) (to._1 - from._1).toDouble / (to._2 - from._2) else 0.0
}

/** Spans and calls of one run, kept in memory until the run ends. Span
  * and call times share one clock: epoch milliseconds, interpolated from
  * the monotonic nanosecond clock (listener job times are epoch ms). */
final class Recorder(val workload: String, ctx: SparkContext) {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  val calls = ArrayBuffer[Call]()
  val spans = ArrayBuffer[Map[String, Any]]()
  val jobLog = new JobLog
  private var stack = List.empty[Int]
  private var callId = ""
  private var seq = 0

  def span[T](name: String)(f: => T): T = {
    val id = spans.size
    val parent = stack.headOption
    val start = nowMs
    spans += Map.empty // reserve the slot so ids follow start order
    stack = id :: stack
    try f finally {
      stack = stack.tail
      spans(id) = Map("id" -> id, "name" -> name, "parent" -> parent,
        "start_ms" -> start, "end_ms" -> nowMs, "workload" -> workload,
        "call" -> callId)
    }
  }

  /** Time one call. Failures are recorded on the call, not thrown. The job
    * group labels every job the call starts; a traced call attaches the
    * job listener for exactly its own duration. */
  def call[T](kind: String, traced: Boolean)(f: Call => T): (Call, Option[T]) = {
    seq += 1
    val c = new Call(s"$workload-$kind-$seq", kind, traced)
    c.rddsBefore = ctx.getPersistentRDDs.size
    if (traced) ctx.addSparkListener(jobLog)
    ctx.setJobGroup(c.id, kind, interruptOnCancel = false)
    callId = c.id
    val t0 = System.nanoTime()
    val cpu0 = Recorder.processCpuNanos
    c.startMs = nowMs
    val out =
      try Some(span(kind)(f(c)))
      catch { case NonFatal(e) =>
        c.ok = false
        c.error = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
        None
      }
    c.wallS = (System.nanoTime() - t0) / 1e9
    c.cpuS = (Recorder.processCpuNanos - cpu0) / 1e9
    c.endMs = nowMs
    callId = ""
    ctx.clearJobGroup()
    if (traced) {
      org.apache.spark.PerfbenchBus.drain(ctx)
      ctx.removeSparkListener(jobLog)
    }
    c.rddsAfter = ctx.getPersistentRDDs.size
    calls += c
    (c, out)
  }
}
