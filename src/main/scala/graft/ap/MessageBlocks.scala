package graft.ap

import org.apache.spark.{HashPartitioner, Partition, SparkContext, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import org.apache.spark.unsafe.hash.Murmur3_x86_32

import graft.functions.Top2Buf

/** Invariant home side of one loop partition: its message rows as
  * primitive columns sorted by (i, k), so every responsibility group
  * (one i) is a contiguous run. `diag` lists the rows with i = k;
  * `byOwner(q)` lists, ascending, the rows whose column k belongs to
  * partition q (empty when the loop runs on one partition). */
private[ap] final class Home(
    val part: Int,
    val i: Array[Long], val k: Array[Long], val s: Array[Double],
    val diag: Array[Int],
    val byOwner: Array[Array[Int]]) extends Serializable

/** Invariant column side of one loop partition: the rows it owns by k,
  * concatenated in home-partition order (`segments(p)` rows from home
  * p, each run in that home's row order), and `order`, those positions
  * sorted by (k, i) with each k-group ending at `groupEnds`. Built once
  * per solve, so the per-iteration column pass never sorts. */
private[ap] final class KSide(
    val segments: Array[Int],
    val isDiag: Array[Boolean],
    val order: Array[Int],
    val groupEnds: Array[Int]) extends Serializable

/** One generation of one loop partition: the shared invariant layout
  * plus this generation's responsibilities and availabilities, aligned
  * with `home`'s rows. */
private[ap] final class MsgBlock(
    val home: Home, val kside: KSide,
    val r: Array[Double], val a: Array[Double]) extends Serializable

/** Rows [lo, hi) of an in-process block, one partition of its
  * [[BlockRows]]. On the driver it references the block's columns; it
  * serializes as a copy of its own range only, so a task carries one
  * slice, never the whole block. */
private[ap] final class BlockSlice(val index: Int,
    i: Array[Long], k: Array[Long], s: Array[Double], r: Array[Double], a: Array[Double],
    lo: Int, hi: Int) extends Partition {
  def rows: Iterator[Row] = (lo until hi).iterator.map(j => Row(i(j), k(j), s(j), r(j), a(j)))
  private def writeReplace(): AnyRef =
    if (lo == 0 && hi == i.length) this
    else new BlockSlice(index, i.slice(lo, hi), k.slice(lo, hi), s.slice(lo, hi),
      r.slice(lo, hi), a.slice(lo, hi), 0, hi - lo)
}

/** An in-process block's (i, k, s, r, a) rows as an RDD of
  * [[BlockSlice]]s of `rowsPer` rows: only the driver holds the block. */
private[ap] final class BlockRows(sc: SparkContext, @transient b: MsgBlock, rowsPer: Int)
    extends RDD[Row](sc, Nil) {
  override protected def getPartitions: Array[Partition] = {
    val n = b.r.length
    Array.tabulate((n + rowsPer - 1) / rowsPer max 1)(p => new BlockSlice(p,
      b.home.i, b.home.k, b.home.s, b.r, b.a, p * rowsPer, math.min(n, (p + 1) * rowsPer)))
  }
  override def compute(split: Partition, context: TaskContext): Iterator[Row] =
    split.asInstanceOf[BlockSlice].rows
}

/** A message relation's rows as primitive columns; `pending` lists the
  * positions of the diagonal rows that take the default preference. */
private[ap] final case class Triples(
    i: Array[Long], k: Array[Long], s: Array[Double], pending: Array[Int])

/** AP's one message kernel (Frey & Dueck 2007, eq. 1–3), over primitive
  * blocks. At P > 1 one Catalyst plan builds the
  * partition-resident layout and every iteration after it is plain RDD
  * code over arrays:
  *   - responsibility: one sweep over the i-groups of each home block,
  *     the top-2 per group from [[Top2Buf]] under (a+s DESC, k ASC) —
  *     bit-identical to [[AffinityPropagation.responsibilityPass]];
  *   - availability: one sweep over the k-groups of each column side,
  *     summing max(0, r) in ascending i, so the value is the same under
  *     any partitioning or shuffle fetch order.
  * Every in-process solve (the local regimes, and a loop of one
  * partition) builds one block on the driver ([[block]]) and steps it
  * in place ([[step]]); the hand-off between the passes is the in-block
  * `order` permutation. On P > 1 it is two shuffles per
  * iteration, each carrying one Array[Double] per (source, destination)
  * pair: the new responsibilities to the column owners, the
  * availability targets back to the homes. */
private[ap] object MessageBlocks {

  val schema: StructType = StructType(Seq(
    StructField("i", LongType, nullable = false),
    StructField("k", LongType, nullable = false),
    StructField("s", DoubleType, nullable = false),
    StructField("r", DoubleType, nullable = false),
    StructField("a", DoubleType, nullable = false)))

  /** Column owner of k: Spark's hash partitioning of the value, so the
    * owner of column k is also the home of row group i = k. */
  private def owner(k: Long, parts: Int): Int =
    Math.floorMod(Murmur3_x86_32.hashLong(k, 42), parts)

  /** Generation 0 of a P > 1 loop from an (i, k, s) relation: r = a =
    * 0. The homes come out of one Catalyst plan (hash-partition by i,
    * sort by (i, k)); the column sides are built from them once, through
    * one shuffle of the (i, k) columns. Returns (generation 0, homes):
    * the homes are lazily checkpointed because both the column sides
    * and generation 0 read them — the caller releases them once
    * generation 0 is materialized. */
  def layout(msgs: DataFrame, parts: Int): (RDD[MsgBlock], RDD[Home]) = {
    val homes = triples(msgs)
      .repartition(parts, col("i")).sortWithinPartitions("i", "k")
      .queryExecution.toRdd
      .mapPartitionsWithIndex { (p, rows) =>
        val t = columns(rows)
        Iterator(home(p, t.i, t.k, t.s, parts))
      }
      .localCheckpoint()
    val ksides: RDD[KSide] = homes
      .flatMap(h => h.byOwner.indices.map(q =>
        (q, (h.part, pick(h.byOwner(q), h.i), pick(h.byOwner(q), h.k)))))
      .partitionBy(new HashPartitioner(parts))
      .mapPartitions { in =>
        val runs = in.map(_._2).toSeq.sortBy(_._1)
        val (i, k) = (Array.concat(runs.map(_._2): _*), Array.concat(runs.map(_._3): _*))
        Iterator(kside(i, k, runs.map(_._2.length).toArray, sortByPair(k, i)))
      }
    val gen0 = homes.zipPartitions(ksides) { (hs, ks) =>
      hs.map(h => zero(h, ks.next()))
    }
    (gen0, homes)
  }

  /** The one block of an in-process solve, over resolved (i, k, s)
    * columns: taken as they are when already in (i, k) order (the vector
    * feeder emits them so), else sorted as [[layout]] sorts each home;
    * r = a = 0. */
  def block(i: Array[Long], k: Array[Long], s: Array[Double]): MsgBlock = {
    var j = 1
    while (j < i.length && (i(j - 1) < i(j) || (i(j - 1) == i(j) && k(j - 1) <= k(j)))) j += 1
    val h =
      if (j >= i.length) home(0, i, k, s, 1)
      else { val o = sortByPair(i, k); home(0, o.map(i), o.map(k), o.map(s), 1) }
    zero(h, kside(h.i, h.k, Array(h.i.length), byColumn(h.i, h.k)))
  }

  /** Positions of (i, k)-ordered rows in (k, i) order. A dense d×d
    * block (every i-group the same d ascending columns, the vector
    * feeder's form) is its own transpose's index, with no sort; any
    * other block is sorted. */
  private def byColumn(i: Array[Long], k: Array[Long]): Array[Int] = {
    val n = k.length
    val d = math.round(math.sqrt(n.toDouble)).toInt
    var dense = d.toLong * d == n
    var j = 0
    while (dense && j < n) {
      dense = k(j) == k(j % d) && i(j) == i(j - j % d) && (j == 0 || j >= d || k(j - 1) < k(j))
      j += 1
    }
    if (!dense) sortByPair(k, i)
    else {
      val order = new Array[Int](n)
      var x = 0
      while (x < n) { order(x) = (x % d) * d + x / d; x += 1 }
      order
    }
  }

  /** One job collects a relation's (i, k, s) as primitive columns, with
    * the positions of its NULL-s rows: the diagonals still waiting for
    * the default preference. */
  def collect(msgs: DataFrame): Triples = {
    val parts = triples(msgs).queryExecution.toRdd
      .mapPartitions(rows => Iterator(columns(rows))).collect()
    var off = 0
    val pending = parts.flatMap { p => val q = p.pending.map(_ + off); off += p.i.length; q }
    Triples(Array.concat(parts.map(_.i): _*), Array.concat(parts.map(_.k): _*),
      Array.concat(parts.map(_.s): _*), pending)
  }

  /** The relation's (i, k, s) as long, long, double, whatever numeric
    * types the caller supplied. */
  def triples(msgs: DataFrame): DataFrame =
    msgs.select(col("i").cast("long").as("i"), col("k").cast("long").as("k"),
      col("s").cast("double").as("s"))

  private def columns(rows: Iterator[InternalRow]): Triples = {
    val is = Array.newBuilder[Long]
    val ks = Array.newBuilder[Long]
    val ss = Array.newBuilder[Double]
    val pending = Array.newBuilder[Int]
    var n = 0
    rows.foreach { row =>
      is += row.getLong(0); ks += row.getLong(1); ss += row.getDouble(2)
      if (row.isNullAt(2)) pending += n
      n += 1
    }
    Triples(is.result(), ks.result(), ss.result(), pending.result())
  }

  private def zero(h: Home, ks: KSide): MsgBlock = {
    val n = h.i.length
    new MsgBlock(h, ks, new Array[Double](n), new Array[Double](n))
  }

  private def home(part: Int, i: Array[Long], k: Array[Long], s: Array[Double],
      parts: Int): Home = {
    val n = i.length
    val diag = Array.newBuilder[Int]
    var j = 0
    while (j < n) { if (i(j) == k(j)) diag += j; j += 1 }
    val byOwner =
      if (parts == 1) Array.empty[Array[Int]]
      else {
        val b = Array.fill(parts)(Array.newBuilder[Int])
        j = 0
        while (j < n) { b(owner(k(j), parts)) += j; j += 1 }
        b.map(_.result())
      }
    new Home(part, i, k, s, diag.result(), byOwner)
  }

  /** Column side over (i, k) rows concatenated from home runs of the
    * given lengths, in home-partition order, given their (k, i) order. */
  private def kside(i: Array[Long], k: Array[Long], segments: Array[Int],
      order: Array[Int]): KSide = {
    val ends = Array.newBuilder[Int]
    var x = 1
    while (x <= order.length) {
      if (x == order.length || k(order(x)) != k(order(x - 1))) ends += x
      x += 1
    }
    new KSide(segments, Array.tabulate(i.length)(j => i(j) == k(j)), order, ends.result())
  }

  private def pick(rows: Array[Int], v: Array[Long]): Array[Long] = rows.map(j => v(j))
  private def pick(rows: Array[Int], v: Array[Double]): Array[Double] = rows.map(j => v(j))

  /** Positions 0 until n sorted by (k, i), k major: a stable bottom-up
    * merge sort over primitive index arrays. */
  private def sortByPair(k: Array[Long], i: Array[Long]): Array[Int] = {
    val n = k.length
    var src = Array.range(0, n)
    var dst = new Array[Int](n)
    var w = 1
    while (w < n) {
      var lo = 0
      while (lo < n) {
        val mid = math.min(lo + w, n)
        val hi = math.min(lo + 2 * w, n)
        var p = lo; var q = mid; var o = lo
        while (o < hi) {
          val takeQ = p >= mid || (q < hi && {
            val x = src(q); val y = src(p)
            k(x) < k(y) || (k(x) == k(y) && i(x) < i(y))
          })
          if (takeQ) { dst(o) = src(q); q += 1 } else { dst(o) = src(p); p += 1 }
          o += 1
        }
        lo = hi
      }
      val t = src; src = dst; dst = t
      w *= 2
    }
    src
  }

  /** Responsibility update (eq. 1) over a home block, damped:
    * r ← λ·r + (1−λ)·(s − max_{k'≠k}(a + s)). The argmax row of each
    * i-group subtracts the runner-up, every other row the max; the
    * runner-up of a single-row group is −∞ (an isolated node elects
    * itself, as in the window form). Writes into `out`, which may be
    * `b.r` itself: each row reads only its own old r. */
  private def responsibilities(b: MsgBlock, damping: Double,
      out: Array[Double]): Array[Double] = {
    val h = b.home
    val n = h.i.length
    val keep = 1.0 - damping
    val top = new Top2Buf(0.0, 0L, 0.0, 0L, 0)
    var g = 0
    while (g < n) {
      top.count = 0
      var e = g
      while (e < n && h.i(e) == h.i(g)) { top.add(b.a(e) + h.s(e), h.k(e)); e += 1 }
      val m2 = if (top.count >= 2) top.m2 else Double.NegativeInfinity
      var j = g
      while (j < e) {
        out(j) = damping * b.r(j) + keep * (h.s(j) - (if (h.k(j) == top.k1) m2 else top.m1))
        j += 1
      }
      g = e
    }
    out
  }

  /** Undamped availability (eq. 2–3) of every row a column side owns,
    * given the rows' new responsibilities in the same concatenated
    * order: a(k,k) = Σ_{i≠k} max(0, r(i,k)); a(i,k) = min(0, r(k,k) +
    * Σ_{i'∉{i,k}} max(0, r(i',k))). The sum runs in ascending i. Writes
    * into `out`. */
  private def availabilityTargets(ks: KSide, r: Array[Double],
      out: Array[Double]): Array[Double] = {
    @inline def pos(v: Double) = if (v > 0.0 || v.isNaN) v else 0.0
    var g0 = 0
    for (e <- ks.groupEnds) {
      var srp = 0.0
      var rkk = Double.NaN
      var x = g0
      while (x < e) {
        val j = ks.order(x)
        if (ks.isDiag(j)) rkk = r(j) else srp += pos(r(j))
        x += 1
      }
      x = g0
      while (x < e) {
        val j = ks.order(x)
        out(j) =
          if (ks.isDiag(j)) srp
          else { val v = rkk + srp - pos(r(j)); if (v < 0.0) v else 0.0 }
        x += 1
      }
      g0 = e
    }
    out
  }

  /** a ← λ·a + (1−λ)·target, in place. */
  private def damp(a: Array[Double], target: Array[Double], damping: Double): Unit = {
    val keep = 1.0 - damping
    var j = 0
    while (j < a.length) { a(j) = damping * a(j) + keep * target(j); j += 1 }
  }

  /** One damped iteration of an in-process block, in place: the new
    * responsibilities overwrite `b.r`, then the availability targets,
    * taken through the in-block `order` permutation into `t` (a work
    * buffer of the block's length), damp `b.a`. */
  def step(b: MsgBlock, damping: Double, t: Array[Double]): Unit = {
    damp(b.a, availabilityTargets(b.kside, responsibilities(b, damping, b.r), t), damping)
  }

  /** One damped iteration of a P > 1 loop: responsibilities, then
    * availabilities, over two block shuffles. */
  def iterate(gen: RDD[MsgBlock], parts: Int, damping: Double): RDD[MsgBlock] = {
    // keys are destination partition ids, which hash to themselves
    val route = new HashPartitioner(parts)
    val toOwners = gen.flatMap { b =>
      val r = responsibilities(b, damping, new Array[Double](b.r.length))
      b.home.byOwner.indices.map(q => (q, (b.home.part, pick(b.home.byOwner(q), r))))
    }.partitionBy(route)
    val toHomes = gen.zipPartitions(toOwners) { (bs, in) =>
      val b = bs.next()
      val r = Array.concat(in.map(_._2).toSeq.sortBy(_._1).map(_._2): _*)
      val t = availabilityTargets(b.kside, r, new Array[Double](r.length))
      var off = 0
      b.kside.segments.indices.iterator.map { p =>
        val seg = java.util.Arrays.copyOfRange(t, off, off + b.kside.segments(p))
        off += seg.length
        (p, (b.home.part, seg))
      }
    }.partitionBy(route)
    gen.zipPartitions(toHomes) { (bs, in) =>
      val b = bs.next()
      val t = new Array[Double](b.home.i.length)
      in.foreach { case (_, (q, seg)) =>
        val rows = b.home.byOwner(q)
        var x = 0
        while (x < rows.length) { t(rows(x)) = seg(x); x += 1 }
      }
      val r = responsibilities(b, damping, new Array[Double](t.length))
      val a = b.a.clone()
      damp(a, t, damping)
      Iterator(new MsgBlock(b.home, b.kside, r, a))
    }
  }

  /** Ids of the exemplars a generation indicates: diagonal r + a > 0. */
  def exemplars(b: MsgBlock): Iterator[Long] =
    b.home.diag.iterator.filter(d => b.r(d) + b.a(d) > 0).map(b.home.k(_))

  /** A generation as (i, k, s, r, a) rows. */
  def rows(b: MsgBlock): Iterator[Row] = {
    val h = b.home
    h.i.indices.iterator.map(j => Row(h.i(j), h.k(j), h.s(j), b.r(j), b.a(j)))
  }
}
