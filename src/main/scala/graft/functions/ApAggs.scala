package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._

/** Fixed-state top-2 buffer: the best two (value, key) pairs under the
  * total order (value DESC, key ASC) — the exact order the window form
  * `row_number() OVER (PARTITION BY i ORDER BY asum DESC, k)` sorts by,
  * so the AP loop kernel (graft.ap.MessageBlocks) and the window pass
  * agree bit-for-bit on which row is the argmax and what the runner-up
  * value is (keys are unique within a group, so the order is strict and
  * insertion order is irrelevant).
  * Value comparison is Spark SQL's double ordering (SQLOrderingUtil):
  * `==` first (so -0.0 ties 0.0) then java.lang.Double.compare, which
  * ranks NaN above every value and equal to itself — a plain `>` would
  * never select a NaN max while the window's ORDER BY asum DESC places
  * NaN first, breaking the bit-exact-equivalence claim on NaN inputs
  * (round-9 ADVICE).
  */
final class Top2Buf(
    var m1: Double, var k1: Long,
    var m2: Double, var k2: Long,
    var count: Int) {

  @inline private def cmp(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)

  @inline private def better(v: Double, k: Long, v2: Double, k2: Long): Boolean = {
    val c = cmp(v, v2)
    c > 0 || (c == 0 && k < k2)
  }

  def add(v: Double, k: Long): Unit = {
    if (count == 0) { m1 = v; k1 = k; count = 1 }
    else if (better(v, k, m1, k1)) {
      m2 = m1; k2 = k1; m1 = v; k1 = k
      if (count < 2) count = 2
    } else if (count < 2 || better(v, k, m2, k2)) {
      m2 = v; k2 = k
      if (count < 2) count = 2
    }
  }
}

/** Bounded top-m buffer under (value DESC, key ASC) with DEDUP BY EXACT
  * (value, key) entry — the aggregate form of
  * `DISTINCT` + `row_number() OVER (PARTITION BY g ORDER BY v DESC, k)
  * <= m` when duplicate rows carry identical (v, k) (true for IVF
  * candidate pairs: the same pair met in two probed buckets computes
  * the same distance). State is a TreeSet of ≤ m entries — constant per
  * group — so the candidate stream collapses in the partial (map-side)
  * aggregate instead of riding a full DISTINCT shuffle plus a window
  * sort. Value order mirrors Top2Buf: `==` first (so -0.0 ties 0.0),
  * then java.lang.Double.compare (NaN ranks above every value),
  * keeping the bit-exact equivalence with the window form on any
  * input. */
final class TopMBuf(val m: Int) {
  require(m >= 1, s"ap_topm: m must be >= 1, got $m")
  val set = new java.util.TreeSet[(Double, Long)](
    new java.util.Comparator[(Double, Long)] {
      def compare(a: (Double, Long), b: (Double, Long)): Int = {
        val c = if (a._1 == b._1) 0 else -java.lang.Double.compare(a._1, b._1)
        if (c != 0) c else java.lang.Long.compare(a._2, b._2)
      }
    })

  def add(v: Double, k: Long): Unit = {
    val e = (v, k)
    if (set.size < m) { set.add(e); () }
    else if (set.comparator.compare(e, set.last) < 0 && set.add(e)) {
      set.remove(set.last); ()
    }
  }

  def mergeFrom(o: TopMBuf): Unit = {
    val it = o.set.iterator()
    while (it.hasNext) { val e = it.next(); add(e._1, e._2) }
  }
}

/** ap_topm(value: double, key: bigint, m: int) →
  * array<struct<k: bigint, s: double>> — the m best (key, value)
  * entries under (value DESC, key ASC), duplicates of the exact same
  * (value, key) collapsed. See [[TopMBuf]]. */
case class ApTopM(first: Expression, second: Expression, third: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopMBuf]
  with org.apache.spark.sql.catalyst.trees.TernaryLike[Expression] {

  private lazy val m: Int = {
    // a clear unsupported-usage error instead of an NPE deep in buffer
    // creation when a caller passes a per-row column as m (round-12
    // review; the buffer's own require rejects m < 1)
    require(third.foldable, "ap_topm: m must be a literal (foldable) expression")
    third.eval().asInstanceOf[Number].intValue()
  }

  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("s", DoubleType, nullable = false))), containsNull = false)

  override def createAggregationBuffer(): TopMBuf = new TopMBuf(m)

  override def update(buf: TopMBuf, input: InternalRow): TopMBuf = {
    val v = first.eval(input)
    val k = second.eval(input)
    if (v != null && k != null)
      buf.add(v.asInstanceOf[Double], k.asInstanceOf[Long])
    buf
  }

  override def merge(buf: TopMBuf, other: TopMBuf): TopMBuf = {
    buf.mergeFrom(other); buf
  }

  override def eval(buf: TopMBuf): Any = {
    val out = new Array[Any](buf.set.size)
    val it = buf.set.iterator()
    var i = 0
    while (it.hasNext) {
      val e = it.next()
      val row = new GenericInternalRow(2)
      row.setLong(0, e._2)
      row.setDouble(1, e._1)
      out(i) = row
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override def serialize(buf: TopMBuf): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 16 * buf.set.size)
    bb.putInt(buf.set.size)
    val it = buf.set.iterator()
    while (it.hasNext) { val e = it.next(); bb.putDouble(e._1).putLong(e._2) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopMBuf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt()
    val buf = new TopMBuf(m)
    var i = 0
    while (i < n) { buf.add(bb.getDouble(), bb.getLong()); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): ApTopM =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ApTopM =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): ApTopM =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object ApAggs {
  /** Register ap_topm for expr() use in a session (idempotent; the
    * exists-check keeps repeated calls from logging a replace warning). */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    val idm = org.apache.spark.sql.catalyst.FunctionIdentifier("ap_topm")
    if (!reg.functionExists(idm))
      reg.createOrReplaceTempFunction("ap_topm",
        es => ApTopM(es(0), es(1), es(2)), "built-in")
  }
}
