package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit, transform, when}

/** One-off distributed probe (round 11): converged sparse AP at
  * N = 200,000 — 100 perturbed replicas of the 2000 sf0.1 base points,
  * the ap_dist fixture geometry at 4× the round-11 record scale.
  *
  * Parameters follow the kernel-scale runs of BENCH_NOTES §18: a 100-way
  * replica election needs λ=0.9 — λ=0.5/0.7 oscillate past maxIter and
  * λ=0.8 settles into a degenerate everyone-is-an-exemplar fixpoint
  * (800/800 at kernel scale), while λ=0.9 finds exactly one exemplar
  * per group in 73 iterations. m = 128 > R−1 = 99 keeps each replica
  * group fully connected in the m-NN graph, so one-exemplar-per-group
  * stays representable (at m < R an exemplar cannot reach all its
  * siblings under sparse −∞ semantics and the ground-truth count 2000
  * no longer applies). */
object ApDist200Probe {
  def main(args: Array[String]): Unit = {
    val threads = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val base = Tables.embeddings(spark, "/root/testdata/sf0.1")
    val e = (0 until 100)
      .map(r => base.select((col("vec_id") + lit(r * 1000000L)).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i === 0, x + lit(r * 1e-3f)).otherwise(x)).as("embedding")))
      .reduce(_.unionByName(_))
      .repartition(threads)
    val t0 = System.nanoTime()
    val r = ap.AffinityPropagation.run(spark, e, damping = 0.9,
      neighbors = Some(128))
    val wall = (System.nanoTime() - t0) / 1e9
    println(f"N=200000 m=128 lambda=0.9: converged=${r.converged} " +
      f"iters=${r.iterations} exemplars=${r.exemplars.size} wall=$wall%.1f s")
    val groups = r.exemplars.map(_ % 1000000L).size
    println(s"distinct base points among exemplars: $groups (want 2000)")
    spark.stop()
  }
}
