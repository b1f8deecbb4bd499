package graft.functions

import scala.reflect.ClassTag

import org.apache.spark.{Dependency, HashPartitioner, OneToOneDependency, Partition, SparkContext, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType, StructField, StructType}
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** Query cells and member codes bound for one kernel partition, as
  * primitive columns: cell j is query `i(j)` probing cell `c(j)` with
  * cell vector `qv(j·d until (j+1)·d)`; member row r is block `b(r)` of
  * `id(r)`, homed in `mc(r)`, with code `code(r)`. */
private[functions] final class CellBlock(
    val i: Array[Long], val c: Array[Long], val qv: Array[Double],
    val mc: Array[Long], val id: Array[Long], val b: Array[Int],
    val code: Array[Int]) extends Serializable

/** Partial top-k entries bound for one merge partition: query `i(e)`
  * keeps candidate `k(e)` at negated distance `negd(e)`. */
private[functions] final class TopBlock(
    val i: Array[Long], val k: Array[Long], val negd: Array[Double])
  extends Serializable

/** An RDD whose lineage is built on first use, by the thread that first
  * asks for its partitions: `make` plans Catalyst inputs, which runs
  * their broadcasts (and, under adaptive execution, their exchanges),
  * so deferring it keeps a search result lazy until an action. */
private[functions] final class Deferred[T: ClassTag](sc: SparkContext,
    @transient make: () => RDD[T]) extends RDD[T](sc, Nil) {
  @transient private lazy val built = make()
  override protected def getDependencies: Seq[Dependency[_]] =
    Seq(new OneToOneDependency(built))
  private def parent: RDD[T] = dependencies.head.rdd.asInstanceOf[RDD[T]]
  override protected def getPartitions: Array[Partition] = parent.partitions
  override def compute(split: Partition, context: TaskContext): Iterator[T] =
    parent.iterator(split, context)
}

/** The IVF-ADC search kernel (Jégou et al. 2011, §V) over primitive
  * arrays — the search-side analogue of `graft.ap.MessageBlocks`.
  * Catalyst builds the two inputs, with every guard and pre-filter of
  * the search in them:
  *   - query cells `(i, c_id, qv)`: each probing query once per probed
  *     cell, `qv` the vector its lookup table is built from (the
  *     query's residual against that cell's centroid, rotated for the
  *     rotated families, or the query itself for raw codes);
  *   - members `(c_id, vec_id, b, code)`: the searchable homes joined
  *     with their codes, one row per block.
  * Both are planned as one union and meet by cell in ONE shuffle that
  * carries one [[CellBlock]] per (source, destination) partition. Each
  * cell task builds a probing query's m×k lookup table in a primitive
  * array (block distances in `vec_sqdist`'s loop order), scores every
  * other member of the cell by summing its block entries in ascending
  * block order from 0.0 — the exhaustive kernel's fold, so every `adc`
  * is bit-identical to it — and keeps each query's best entries in a
  * [[TopMBuf]] (value DESC, id ASC). A second shuffle merges the
  * per-task partial lists by query. Neither shuffle carries a `Row` or
  * a `TopMBuf`, and no result depends on the kernel's width. */
private[graft] object AdcScan {

  /** The kernel's inputs: `cells` (i: long, c_id: long, qv:
    * array<double>) and `members` (c_id: long, vec_id: long, b: int,
    * code: long), the codebooks `pq` the codes index, and the number
    * of IVF cells, `ncells`: the kernel runs on
    * min(spark.sql.shuffle.partitions, ncells) partitions. */
  final case class Inputs(cells: DataFrame, members: DataFrame, pq: Pq.Model,
      ncells: Int)

  private val CellRow: Byte = 0
  private val MemberRow: Byte = 1

  /** (i, k_id, adc, rnk) rows of the `topk` nearest members per query
    * (ties → smaller id; a query never returns itself). Lazy: the
    * inputs are planned, and the kernel runs, when the result is
    * consumed. */
  def topk(in: Inputs, topk: Int): DataFrame = {
    require(topk >= 1, s"ivfAdcTopk: topk must be >= 1, got $topk")
    val spark = in.cells.sparkSession
    val iNullable = in.cells.schema("i").nullable
    spark.createDataFrame(new Deferred(spark.sparkContext, () => scan(in, topk)),
      StructType(Seq(
      StructField("i", LongType, iNullable),
      StructField("k_id", LongType, nullable = false),
      StructField("adc", DoubleType, nullable = false),
      StructField("rnk", IntegerType, nullable = false))))
  }

  /** [[topk]]'s rows as an RDD (the lineage a plan test walks). */
  private[graft] def scan(in: Inputs, topk: Int): RDD[Row] = {
    val spark = in.cells.sparkSession
    val parts = math.max(1, math.min(spark.sessionState.conf.numShufflePartitions, in.ncells))
    val noVec = lit(null).cast(ArrayType(DoubleType))
    val rows = in.cells
      .select(lit(CellRow).as("kind"), col("c_id").cast("long").as("c_id"),
        col("i").cast("long").as("id"), col("qv"),
        lit(null).cast("int").as("b"), lit(null).cast("long").as("code"))
      .unionByName(in.members
        .select(lit(MemberRow).as("kind"), col("c_id").cast("long").as("c_id"),
          col("vec_id").cast("long").as("id"), noVec.as("qv"),
          col("b").cast("int").as("b"), col("code").cast("long").as("code")))
      .queryExecution.toRdd
    val (m, sub) = (in.pq.m, in.pq.sub)
    // block b's codebook flattened: entry c at c·sub until (c+1)·sub
    val books = in.pq.codebooks.map(cb => Array.concat(cb.toIndexedSeq: _*))
    val byCell = new HashPartitioner(parts)
    rows
      .mapPartitions(it => split(it, parts, m, sub, books))
      .partitionBy(byCell)
      .mapPartitions(in => score(in.map(_._2), parts, m, sub, books, topk))
      .partitionBy(byCell)
      .mapPartitions(in => merge(in.map(_._2), topk))
  }

  private def route(v: Long, parts: Int): Int =
    Math.floorMod(Murmur3_x86_32.hashLong(v, 42), parts)

  /** Map side: route cells and member rows by cell into one primitive
    * [[CellBlock]] per destination. Rows with a null cell or id drop
    * (the relational form's joins and `i ≠ vec_id` filter dropped
    * them); a member code must index its block's codebook. */
  private def split(rows: Iterator[InternalRow], parts: Int, m: Int, sub: Int,
      books: Array[Array[Double]]): Iterator[(Int, CellBlock)] = {
    val d = m * sub
    val i = Array.fill(parts)(Array.newBuilder[Long])
    val c = Array.fill(parts)(Array.newBuilder[Long])
    val qv = Array.fill(parts)(Array.newBuilder[Double])
    val mc = Array.fill(parts)(Array.newBuilder[Long])
    val id = Array.fill(parts)(Array.newBuilder[Long])
    val b = Array.fill(parts)(Array.newBuilder[Int])
    val code = Array.fill(parts)(Array.newBuilder[Int])
    val any = new Array[Boolean](parts)
    rows.foreach { r =>
      if (!r.isNullAt(1) && !r.isNullAt(2)) {
        val cell = r.getLong(1)
        val x = r.getLong(2)
        val p = route(cell, parts)
        any(p) = true
        if (r.getByte(0) == CellRow) {
          val v = r.getArray(3).toDoubleArray()
          require(v.length == d,
            s"ivfAdcTopk: query vector of ${v.length} dims for id $x, model has $d")
          i(p) += x; c(p) += cell; qv(p) ++= v
        } else {
          require(!r.isNullAt(4) && !r.isNullAt(5), s"ivfAdcTopk: null block or code for id $x")
          val blk = r.getInt(4)
          val cd = r.getLong(5)
          require(blk >= 0 && blk < m, s"ivfAdcTopk: block $blk outside 0..${m - 1} for id $x")
          val kb = books(blk).length / sub
          require(cd >= 0 && cd < kb,
            s"ivfAdcTopk: code $cd outside block $blk's $kb-entry codebook for id $x")
          mc(p) += cell; id(p) += x; b(p) += blk; code(p) += cd.toInt
        }
      }
    }
    (0 until parts).iterator.filter(any(_)).map(p => p -> new CellBlock(
      i(p).result(), c(p).result(), qv(p).result(),
      mc(p).result(), id(p).result(), b(p).result(), code(p).result()))
  }

  /** Cell task: score every probing query against the members of the
    * cells it probes here, one [[TopMBuf]] per query, and route the
    * partial lists by query. */
  private def score(in: Iterator[CellBlock], parts: Int, m: Int, sub: Int,
      books: Array[Array[Double]], topk: Int): Iterator[(Int, TopBlock)] = {
    val blocks = in.toArray
    val d = m * sub
    val qi = Array.concat(blocks.map(_.i).toIndexedSeq: _*)
    val qc = Array.concat(blocks.map(_.c).toIndexedSeq: _*)
    val qv = Array.concat(blocks.map(_.qv).toIndexedSeq: _*)
    val mc = Array.concat(blocks.map(_.mc).toIndexedSeq: _*)
    val id = Array.concat(blocks.map(_.id).toIndexedSeq: _*)
    val mb = Array.concat(blocks.map(_.b).toIndexedSeq: _*)
    val code = Array.concat(blocks.map(_.code).toIndexedSeq: _*)

    // members: one run of m codes per (cell, id), runs sorted by (cell, id)
    val rowOrder = sortBy3(mc, id, mb.map(_.toLong))
    val memCell = Array.newBuilder[Long]
    val memId = Array.newBuilder[Long]
    val codes = Array.newBuilder[Int]
    var x = 0
    while (x < rowOrder.length) {
      val r0 = rowOrder(x)
      var blk = 0
      while (x < rowOrder.length && mc(rowOrder(x)) == mc(r0) && id(rowOrder(x)) == id(r0)) {
        val r = rowOrder(x)
        require(mb(r) == blk,
          s"ivfAdcTopk: codes of id ${id(r0)} in cell ${mc(r0)} do not hold each block 0..${m - 1} once")
        codes += code(r); blk += 1; x += 1
      }
      require(blk == m,
        s"ivfAdcTopk: codes of id ${id(r0)} in cell ${mc(r0)} do not hold each block 0..${m - 1} once")
      memCell += mc(r0); memId += id(r0)
    }
    val cellOf = memCell.result(); val memberId = memId.result(); val memCodes = codes.result()
    // cell keys and the member run of each
    val keys = Array.newBuilder[Long]; val starts = Array.newBuilder[Int]
    var j = 0
    while (j < cellOf.length) {
      if (j == 0 || cellOf(j) != cellOf(j - 1)) { keys += cellOf(j); starts += j }
      j += 1
    }
    starts += cellOf.length
    val cellKeys = keys.result(); val cellStart = starts.result()

    val kmax = books.map(_.length / sub).foldLeft(0)(math.max)
    val lut = new Array[Double](m * kmax)
    val outI = Array.fill(parts)(Array.newBuilder[Long])
    val outK = Array.fill(parts)(Array.newBuilder[Long])
    val outV = Array.fill(parts)(Array.newBuilder[Double])
    val any = new Array[Boolean](parts)
    val cellOrder = sortBy3(qi, qc, new Array[Long](qi.length))
    var g = 0
    while (g < cellOrder.length) {
      val q = qi(cellOrder(g))
      val buf = new TopMBuf(topk)
      while (g < cellOrder.length && qi(cellOrder(g)) == q) {
        val e = cellOrder(g)
        val ci = java.util.Arrays.binarySearch(cellKeys, qc(e))
        if (ci >= 0) {
          buildLut(qv, e * d, m, sub, books, kmax, lut)
          var r = cellStart(ci)
          while (r < cellStart(ci + 1)) {
            if (memberId(r) != q) {
              var s = 0.0
              var blk = 0
              while (blk < m) { s += lut(blk * kmax + memCodes(r * m + blk)); blk += 1 }
              buf.add(-s, memberId(r))
            }
            r += 1
          }
        }
        g += 1
      }
      if (!buf.set.isEmpty) {
        val p = route(q, parts)
        any(p) = true
        val it = buf.set.iterator()
        while (it.hasNext) {
          val (v, k) = it.next()
          outI(p) += q; outK(p) += k; outV(p) += v
        }
      }
    }
    (0 until parts).iterator.filter(any(_)).map(p =>
      p -> new TopBlock(outI(p).result(), outK(p).result(), outV(p).result()))
  }

  /** lut(b·kmax + c) = Σ_t (qv(b·sub + t) − codebook_b(c)(t))², the sum
    * from 0.0 in ascending t — `vec_sqdist`'s loop. */
  private def buildLut(qv: Array[Double], off: Int, m: Int, sub: Int,
      books: Array[Array[Double]], kmax: Int, lut: Array[Double]): Unit = {
    var blk = 0
    while (blk < m) {
      val book = books(blk)
      val kb = book.length / sub
      var c = 0
      while (c < kb) {
        var s = 0.0
        var t = 0
        while (t < sub) {
          val diff = qv(off + blk * sub + t) - book(c * sub + t)
          s += diff * diff
          t += 1
        }
        lut(blk * kmax + c) = s
        c += 1
      }
      blk += 1
    }
  }

  /** Merge task: each query's partial lists into its final top-k. */
  private def merge(in: Iterator[TopBlock], topk: Int): Iterator[Row] = {
    val blocks = in.toArray
    val qi = Array.concat(blocks.map(_.i).toIndexedSeq: _*)
    val k = Array.concat(blocks.map(_.k).toIndexedSeq: _*)
    val negd = Array.concat(blocks.map(_.negd).toIndexedSeq: _*)
    val order = sortBy3(qi, new Array[Long](qi.length), new Array[Long](qi.length))
    val out = scala.collection.mutable.ArrayBuffer.empty[Row]
    var g = 0
    while (g < order.length) {
      val q = qi(order(g))
      val buf = new TopMBuf(topk)
      while (g < order.length && qi(order(g)) == q) {
        buf.add(negd(order(g)), k(order(g))); g += 1
      }
      var rnk = 1
      val it = buf.set.iterator()
      while (it.hasNext) {
        val (v, kid) = it.next()
        out += Row(q, kid, -v, rnk); rnk += 1
      }
    }
    out.iterator
  }

  /** Positions 0 until n sorted by (a, b, c): bottom-up merge sort over
    * primitive index arrays. */
  private def sortBy3(a: Array[Long], b: Array[Long], c: Array[Long]): Array[Int] = {
    val n = a.length
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
            val u = src(q); val v = src(p)
            a(u) < a(v) || (a(u) == a(v) && (b(u) < b(v) || (b(u) == b(v) && c(u) < c(v))))
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
}
