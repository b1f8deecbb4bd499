package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.storage.StorageLevel

/** Release discipline for the checkpoints of iterative calls (Dedup's
  * graph fixpoints, the BPE rounds, AffinityPropagation's chain, the
  * ingest transaction): a superseded generation's checkpoint RDD
  * otherwise stays pinned in storage memory until driver GC — across a
  * 200-iteration loop, or repeated runs in one session (the bench),
  * that pressure evicts the warmed table caches and, at distributed-AP
  * scale, is up to generations × N² rows of dead storage. Every such
  * call runs in one [[Scope]] ([[scoped]]), which frees its pins on
  * every exit path. */
private[graft] object Checkpoints {

  /** The checkpoint RDD(s) behind a localCheckpoint'd DataFrame — what
    * a [[SessionResources.LastRun]] slot records (as ids), so its
    * deterministic release survives the result DataFrame being GC'd
    * first (round-8 ADVICE: a WeakReference'd DataFrame value silently
    * lapsed to the async ContextCleaner whenever the result died before
    * the next run). */
  def checkpointRdds(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }

  /** Unpersist the RDD(s) behind a localCheckpoint'd DataFrame. The plan
    * becomes unrecomputable — only call on a generation no later plan
    * reads. */
  def release(df: DataFrame): Unit = checkpointRdds(df).foreach(_.unpersist(false))

  /** Runs `body` in a fresh [[Scope]]. On a normal return the scope
    * frees every pin the result does not read — the checkpoints behind
    * a returned DataFrame, or a returned RDD, found through tuples,
    * options, collections and case classes — and on a throw it frees
    * them all. */
  def scoped[T](body: Scope => T): T = {
    val s = new Scope
    var keep = Set.empty[Int]
    try {
      val out = body(s)
      keep = reads(out)
      out
    } finally s.close(keep)
  }

  /** The ids of the RDDs `x` reads. */
  private def reads(x: Any): Set[Int] = x match {
    case df: Dataset[_] => checkpointRdds(df.toDF()).map(_.id).toSet
    case r: RDD[_] => Set(r.id)
    case i: Iterable[_] => i.iterator.flatMap(reads).toSet
    case p: Product => p.productIterator.flatMap(reads).toSet
    case _ => Set.empty
  }

  /** The checkpoints and persists one call takes. Thread-safe: the
    * sinks' overlap threads pin into one scope concurrently. */
  final class Scope private[Checkpoints] {
    private final class Pin(val ids: Set[Int], val free: () => Unit)
    private val pins = ArrayBuffer.empty[Pin]
    // the pins of the running round (see rounds), else null
    private var round: ArrayBuffer[Pin] = _

    private def add(p: Pin): Unit = synchronized {
      pins += p
      if (round != null) round += p
    }

    /** An eager `localCheckpoint` of `df`, tracked. */
    def pin(df: DataFrame): DataFrame = hold(df.localCheckpoint(true))

    /** Tracks the checkpoint RDDs an already-checkpointed `df` reads. */
    def hold(df: DataFrame): DataFrame = {
      val rdds = checkpointRdds(df)
      add(new Pin(rdds.map(_.id).toSet, () => rdds.foreach(_.unpersist(false))))
      df
    }

    /** Tracks an already-checkpointed or persisted RDD. */
    def hold[R <: RDD[_]](rdd: R): R = {
      add(new Pin(Set(rdd.id), () => { rdd.unpersist(false); () }))
      rdd
    }

    /** `df` persisted at `level`, tracked; no result reads it. */
    def persist(df: DataFrame, level: StorageLevel): DataFrame = {
      val p = df.persist(level)
      add(new Pin(Set.empty, () => { p.unpersist(false); () }))
      p
    }

    /** Runs `step` from `init` until `stop` holds of the state or
      * `bound` rounds ran; returns the last state.
      * The pins `init` or a round takes belong to it: once the next
      * round's state has landed, every one of them that state does not
      * read is freed. The last state's pins stay in the scope. */
    def rounds[S](bound: Int)(init: => S)(stop: S => Boolean)(step: (S, Int) => S): S = {
      var (state, live) = taking(init)
      var r = 0
      while (r < bound && !stop(state)) {
        r += 1
        val (next, taken) = taking(step(state, r))
        val read = reads(next)
        val (kept, dead) = (live ++ taken).partition(_.ids.exists(read))
        synchronized { pins --= dead }
        dead.foreach(_.free())
        state = next
        live = kept
      }
      state
    }

    private def taking[T](body: => T): (T, Seq[Pin]) = {
      val outer = synchronized { val o = round; round = ArrayBuffer.empty; o }
      try {
        val t = body
        (t, synchronized(round.toSeq))
      } finally synchronized { round = outer }
    }

    private[Checkpoints] def close(keep: Set[Int]): Unit = {
      val all = synchronized { val a = pins.toList; pins.clear(); a }
      all.filterNot(_.ids.exists(keep)).foreach(_.free())
    }
  }

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
