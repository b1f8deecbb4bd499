package graft

import org.apache.spark.sql.DataFrame

/** Release discipline for `localCheckpoint`'d DataFrames inside iterative
  * loops (Dedup's components fixpoints, AffinityPropagation's damped
  * loop): a superseded generation's checkpoint RDD otherwise stays pinned
  * in storage memory until driver GC — across a 200-iteration loop, or
  * repeated runs in one session (the bench), that pressure evicts the
  * warmed table caches and, at distributed-AP scale, is up to
  * generations × N² rows of dead storage. */
private[graft] object Checkpoints {

  /** The checkpoint RDD(s) behind a localCheckpoint'd DataFrame — what
    * a [[SessionResources.LastRun]] slot records (as ids), so its
    * deterministic release survives the result DataFrame being GC'd
    * first (round-8 ADVICE: a WeakReference'd DataFrame value silently
    * lapsed to the async ContextCleaner whenever the result died before
    * the next run). */
  def checkpointRdds(df: DataFrame): Seq[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }

  /** Unpersist the RDD(s) behind a localCheckpoint'd DataFrame. The plan
    * becomes unrecomputable — only call on a generation no later plan
    * reads. */
  def release(df: DataFrame): Unit = releaseRdds(checkpointRdds(df))

  def releaseRdds(rdds: Seq[org.apache.spark.rdd.RDD[_]]): Unit =
    rdds.foreach(_.unpersist(false))

  /** Run one action with AQE disabled — for plans that are BOUNDED by
    * construction (a micro-batch transaction's batch-graph relations:
    * every input is batch-sized or a checkpoint of one, at ANY corpus
    * scale). On such plans AQE's re-optimization buys nothing — the
    * coalesce/skew decisions are size-invariant — while its per-stage
    * materialization turns one action into 3–8 jobs, pure dispatch
    * overhead (the AP loop's round-8 finding, applied to the ingest
    * sinks in round 22; measured there: 3 jobs/iter → 1). NOT for
    * corpus-sized plans (store scans, pair kernels, generation writes),
    * where adaptive coalescing and skew handling are load-bearing.
    * Restores the previous setting in finally; the flip is
    * session-visible for the action's duration. */
  def withAqeOff[T](spark: org.apache.spark.sql.SparkSession)(f: => T): T = {
    val key = "spark.sql.adaptive.enabled"
    val before = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try f finally spark.conf.set(key, before)
  }
}
