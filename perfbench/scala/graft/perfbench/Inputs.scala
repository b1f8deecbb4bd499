package graft.perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession

/** The workloads' inputs are rows of the engine's sf0.1 `embeddings` test
  * fixture (2000 unit vectors in 64 dimensions, weakly clustered), kept
  * as a byte copy in `perfbench/data/embeddings.parquet`. The seed picks
  * which rows a workload uses, in which order and under which ids; the
  * same seed always yields the same rows. */
object Inputs {

  /** Independent random stream per (seed, purpose). */
  def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt * 0xC2B2AE3D27D4EB4FL)

  /** The fixture's rows, (vec_id, embedding), in vec_id order. */
  def embeddings(spark: SparkSession, dataDir: String): Array[(Long, Array[Float])] =
    spark.read.parquet(s"$dataDir/embeddings.parquet").select("vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).sortBy(_._1)

  /** A seeded permutation of `xs` (Fisher–Yates). */
  def shuffled[T: scala.reflect.ClassTag](r: SplittableRandom, xs: Seq[T]): Array[T] = {
    val a = xs.toArray
    (a.length - 1 to 1 by -1).foreach { i =>
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }

  /** Distinct positive ids in random order (sparse, so id order carries no
    * information about the fixture's order). */
  def distinctIds(r: SplittableRandom, n: Int): Array[Long] = {
    val seen = scala.collection.mutable.LinkedHashSet[Long]()
    while (seen.size < n) seen += 1L + r.nextLong(1L << 40)
    seen.toArray
  }
}
