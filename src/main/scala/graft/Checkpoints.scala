package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession, classic}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.storage.StorageLevel

/** Release discipline for the checkpoints of iterative calls (Dedup's
  * graph fixpoints, the BPE rounds, AffinityPropagation's chain, the
  * ingest transaction): a superseded generation's checkpoint RDD
  * otherwise stays pinned in storage memory until driver GC — across a
  * 200-iteration loop, or repeated runs in one session (the bench),
  * that pressure evicts the warmed table caches and, at distributed-AP
  * scale, is up to generations × N² rows of dead storage. Every such
  * call runs in one [[Scope]] ([[scoped]]), which frees its pins on
  * every exit path. The batch-bounded actions of those calls run
  * non-adaptive in a child session ([[bounded]]), never by changing the
  * caller's conf. */
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

  /** Runs `run` on `df`'s plan in a NON-ADAPTIVE child of `df`'s
    * session — for plans BOUNDED by construction (a micro-batch
    * transaction's batch-graph relations: every input is batch-sized or
    * a checkpoint of one, at ANY corpus scale). On such plans AQE's
    * re-optimization buys nothing — the coalesce/skew decisions are
    * size-invariant — while its per-stage materialization turns one
    * action into 3–8 jobs, pure dispatch overhead (the AP loop's round-8
    * finding, applied to the ingest sinks in round 22; measured there:
    * 3 jobs/iter → 1). NOT for corpus-sized plans (store scans, pair
    * kernels, generation writes), where adaptive coalescing and skew
    * handling are load-bearing. Non-adaptive is a property of this one
    * execution: the caller's session conf is never touched, so its
    * concurrent queries plan as they would without the call. */
  def bounded[T](df: DataFrame)(run: DataFrame => T): T =
    bounded(df.sparkSession)(in => run(in(df)))

  /** [[bounded]] over several inputs: `in` re-roots each one in the
    * non-adaptive child, and plans built on them there run in it. */
  def bounded[T](spark: SparkSession)(run: (DataFrame => DataFrame) => T): T =
    inChild(spark, Map(SQLConf.ADAPTIVE_EXECUTION_ENABLED.key -> "false"))(run)

  /** One child session per (session, overrides), created once — Spark
    * pins every session that has run a query, so a child per call would
    * leak one per call. Releasing the session releases its children. */
  private val children = SessionResources.slot[Map[String, String], SparkSession](
    "checkpoints.children", (_, c) => SessionResources.release(c))

  /** Runs `run` in a child of `spark` whose conf is `spark`'s CURRENT
    * modifiable conf with `overrides` on top (re-synced at every call,
    * so a setting the caller changed since the last call holds here
    * too). `in` re-roots a DataFrame's analyzed plan in the child; a DataFrame
    * `run` returns (a pinned checkpoint) comes back rooted in `spark` —
    * a join is planned in its left operand's session, so a result left
    * in the child would silently plan later corpus-sized work under the
    * overrides. A child of a child carries both sets of overrides. */
  private[graft] def inChild[T](spark: SparkSession, overrides: Map[String, String])(
      run: (DataFrame => DataFrame) => T): T = {
    val child = children(spark, overrides)(spark.newSession())
    def modifiable(s: SparkSession) = s.conf.getAll.filter(kv => s.conf.isModifiable(kv._1))
    child.synchronized {
      val want = modifiable(spark) ++ overrides
      val have = modifiable(child)
      (have.keySet -- want.keySet).foreach(child.conf.unset)
      want.foreach { case (k, v) => if (!have.get(k).contains(v)) child.conf.set(k, v) }
    }
    run(rooted(child, _)) match {
      case d: Dataset[_] => rooted(spark, d.toDF()).asInstanceOf[T]
      case r => r
    }
  }

  private def rooted(s: SparkSession, df: DataFrame): DataFrame =
    if (df.sparkSession eq s) df
    else new classic.Dataset[Row](s.asInstanceOf[classic.SparkSession],
      df.queryExecution.analyzed, df.encoder)
}
