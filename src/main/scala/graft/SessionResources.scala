package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** The engine's one registry of per-session state. Every cache, memo or
  * release list graft keeps for a caller's session is a typed [[Slot]]
  * (or a [[LastRun]]) over ONE weak-keyed session map, and
  * [[release]] frees all of it for a session in one call.
  *
  * Lifecycle: the map is weak-keyed by the session OBJECT, so the
  * registry adds no pin of its own and a new session never sees state
  * bound to another (no identityHashCode collision). But a weak key is
  * not a lifecycle in this Spark build: Spark itself pins ANY session
  * that has executed a query — a dereferenced `newSession()` that ran
  * only `range(10).count()` is never collected however often the
  * driver GCs (round-11 measurement: bare child sessions collect,
  * exercised ones do not). A weak entry therefore only goes away with a
  * session that never ran anything; the deterministic lifecycle for a
  * service cycling sessions over one context is [[release]]. A stopped
  * context drops executor storage regardless.
  *
  * Value policy is each slot's own: a slot value that strongly reaches
  * its session (a DataFrame) keeps the entry alive until released —
  * the explicit price of the persisted storage it stands for. Last-run
  * slots hold RDD IDS, resolved through the context's own weak-valued
  * persistent-RDD registry at release, so they never reach the
  * session. */
object SessionResources {

  private final class Cell {
    @volatile var value: Option[Any] = None
  }

  private type Entries = ConcurrentHashMap[(Slot[_, _], Any), Cell]

  private val sessions = new java.util.WeakHashMap[SparkSession, Entries]()

  private def entries(spark: SparkSession): Entries = sessions.synchronized {
    var m = sessions.get(spark)
    if (m == null) { m = new ConcurrentHashMap(); sessions.put(spark, m) }
    m
  }

  private def existing(spark: SparkSession): Option[Entries] =
    sessions.synchronized { Option(sessions.get(spark)) }

  /** One typed per-session map; `free` releases a value's storage when
    * the slot or the session is released. */
  final class Slot[K, V] private[SessionResources] (val name: String,
      free: (SparkSession, V) => Unit) {

    /** `key`'s value, computed at most once per (session, slot, key):
      * a concurrent first use waits for the one computation. A
      * computation that throws leaves the key unset. */
    def apply(spark: SparkSession, key: K)(compute: => V): V = {
      val cell = entries(spark).computeIfAbsent((this, key), (_: (Slot[_, _], Any)) => new Cell)
      cell.value.getOrElse(cell.synchronized {
        cell.value.getOrElse { val v = compute; cell.value = Some(v); v }
      }).asInstanceOf[V]
    }

    def get(spark: SparkSession, key: K): Option[V] =
      existing(spark).flatMap(m => Option(m.get((this, key))))
        .flatMap(_.value).map(_.asInstanceOf[V])

    /** Set `key`, returning the value it replaces (not freed). */
    def put(spark: SparkSession, key: K, v: V): Option[V] = {
      val c = new Cell
      c.value = Some(v)
      Option(entries(spark).put((this, key), c)).flatMap(_.value).map(_.asInstanceOf[V])
    }

    /** Is `v` still `key`'s value? False once a release dropped it —
      * a builder racing a release frees what it installed late. */
    def holds(spark: SparkSession, key: K, v: V): Boolean =
      get(spark, key).exists(_.asInstanceOf[AnyRef] eq v.asInstanceOf[AnyRef])

    /** Free and drop this slot's entries for `spark`. */
    def release(spark: SparkSession): Unit =
      existing(spark).foreach { m =>
        m.keySet.asScala.filter(_._1 eq this).foreach { k =>
          Option(m.remove(k)).flatMap(_.value).foreach(freeAny(spark, _))
        }
      }

    private[SessionResources] def freeAny(spark: SparkSession, v: Any): Unit =
      free(spark, v.asInstanceOf[V])
  }

  /** The persisted RDDs of an iterative call's LAST run per session.
    * The caller releases the previous run where its contract says (at
    * its next run's start, or once the new output has materialized)
    * and records the new one. */
  final class LastRun private[SessionResources] (name: String) {
    private val ids = new Slot[Unit, Seq[Int]](name, unpersist)
    def record(spark: SparkSession, rdds: Seq[RDD[_]]): Unit = {
      ids.put(spark, (), rdds.map(_.id)); ()
    }
    def release(spark: SparkSession): Unit = ids.release(spark)
  }

  private[graft] def slot[K, V](name: String,
      free: (SparkSession, V) => Unit = (_: SparkSession, _: V) => ()): Slot[K, V] =
    new Slot(name, free)

  private[graft] def lastRun(name: String): LastRun = new LastRun(name)

  /** Unpersist the still-persisted RDDs among `ids`. */
  private[graft] def unpersist(spark: SparkSession, ids: Seq[Int]): Unit = {
    val live = spark.sparkContext.getPersistentRDDs
    ids.foreach(id => live.get(id).foreach(_.unpersist(false)))
  }

  /** Free every slot's storage for `spark` and drop its entry: cached
    * tables and warmed layouts, session indexes and loaded models, memos
    * and every last-run checkpoint. Idempotent; a later call on the
    * session starts empty. A result still held that reads a released
    * CHECKPOINT cannot be recomputed — consume results first. */
  def release(spark: SparkSession): Unit =
    sessions.synchronized { Option(sessions.remove(spark)) }.foreach(_.asScala.foreach {
      case ((slot, _), cell) => cell.value.foreach(slot.freeAny(spark, _))
    })

  /** Test hook: each slot's computed entries for `spark` (slot name →
    * key → value); a slot with none is absent. */
  private[graft] def held(spark: SparkSession): Map[String, Map[Any, Any]] =
    existing(spark).fold(Map.empty[String, Map[Any, Any]]) { m =>
      m.asScala.toSeq
        .flatMap { case ((slot, k), c) => c.value.map(v => (slot.name, k, v)) }
        .groupBy(_._1).map { case (n, es) => n -> es.map(e => e._2 -> e._3).toMap }
    }
}
