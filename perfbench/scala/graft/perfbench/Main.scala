package graft.perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Runs one workload and writes its raw run record (set-up times, calls,
  * spans, job records, checks) as JSON for `run.py` to reduce.
  *
  *   --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --data <dir>   the fixture copy the inputs come from
  *   --work <dir>   scratch for inputs, stores and Spark's local files
  *   --out <file>   where the run record goes
  *
  * Set-up runs `SetupRounds` times, each on a fresh session, and the last
  * round's state is measured. Steps (one schedule cycle each) then repeat
  * in a closed loop until `--seconds` have passed and the workload's
  * `minSteps` ran. Each step records its wall time and the share of the
  * machine's CPU time the hypervisor stole while it ran ([[HostSteal]]),
  * so a run slowed by the host can be told from a slow build. With
  * `--trace 1` the job listener is attached on alternate calls of each
  * kind, so one run yields both the per-layer records and an untraced
  * comparison for the overhead. */
object Main {
  val SetupRounds = 3

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = new File(opt("work")).getAbsoluteFile
    val w = Workload(name, seed, work, new File(opt("data")).getAbsolutePath)

    var spark: SparkSession = null
    val setupS = ArrayBuffer[Double]()
    (1 to SetupRounds).foreach { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(work)
      w.setup(spark)
      setupS += (System.nanoTime() - t0) / 1e9
    }
    val rec = new Recorder(name, spark.sparkContext)
    val t0 = System.nanoTime()
    w.warm(spark)
    val warmS = (System.nanoTime() - t0) / 1e9

    val seen = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    def traced(kind: String): Boolean = {
      seen(kind) += 1
      trace && seen(kind) % 2 == 1
    }
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    val steps = ArrayBuffer[Map[String, Any]]()
    while ({
      val t0 = System.nanoTime()
      val h0 = HostSteal.read()
      w.step(spark, rec, traced)
      steps += Map("wall_s" -> (System.nanoTime() - t0) / 1e9,
        "steal" -> HostSteal.share(h0, HostSteal.read()))
      steps.size < w.minSteps || System.nanoTime() < deadline
    }) ()
    val loopS = (System.nanoTime() - start) / 1e9
    w.finish(spark)

    val record = Map(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "setup_s" -> setupS, "warm_s" -> warmS, "loop_s" -> loopS,
      "steps" -> steps,
      "calls" -> rec.calls.map(_.record), "checks" -> w.checks, "facts" -> w.facts,
      "ledger" -> w.ledger,
      "spans" -> (if (trace) rec.spans else Nil),
      "jobs" -> rec.jobLog.jobs, "stages" -> rec.jobLog.stages)
    java.nio.file.Files.writeString(new File(opt("out")).toPath, Json.render(record))
    spark.stop()
  }

  def session(work: File): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
