package graft.ap

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Affinity Propagation (Frey & Dueck, Science 315:972–976, 2007) on
  * Spark — the Spark re-expression of the reference's MapReduce
  * formulation (SURVEY §2.J / §3.3).
  *
  * The message matrices are (i, k, s, r, a) rows — the Spark analog of
  * the MapReduce (i, k, value) triples. Responsibility (eq. 1) is
  * row-local, availability (eq. 2–3) column-local:
  *   - as single passes they are the DataFrame window algebra
  *     [[responsibilityPass]] / [[availabilityPass]], the operators the
  *     `ap_responsibility` / `ap_availability` oracle keys check;
  *   - every solve iterates [[MessageBlocks]]' one kernel over
  *     primitive blocks. Under one task's worth of data — [[solve]]'s
  *     and [[solveFromSimilarities]]' local regimes, a dense [[run]] of
  *     one loop partition, and a loop ([[runLoop]]) of one partition —
  *     the rows are one block, stepped in place on the driver
  *     ([[inProcess]]). The three embedding entries ([[solve]],
  *     [[runLocal]], [[run]]) feed it from one bounded collect of the
  *     vectors, s computed on the driver ([[solveVectors]]); only
  *     [[solveFromSimilarities]] and a sparse [[run]] collect
  *     similarity rows. A larger relation is laid
  *     out by ONE Catalyst plan per
  *     solve into partition-resident blocks, with two block shuffles
  *     per iteration, the minimum the MapReduce formulation pays;
  *     nothing of it is collected to the driver except the exemplar
  *     diagonal (for convergence tracking), so that loop scales with
  *     cluster parallelism, and each of its generations is a
  *     `localCheckpoint`ed RDD, so lineage never grows past one
  *     convergence-check chunk (see `chain`).
  * The dense N² pair set itself is AP's intrinsic cost.
  *
  * Defaults follow the public Frey–Dueck/scikit-learn convention:
  * damping 0.5, maxIter 200, convergenceIter 15, preference = median of
  * off-diagonal similarities, similarity = −‖x−y‖².
  */
object AffinityPropagation {

  /** Off-diagonal similarities s(i,k) = −‖x_i−x_k‖² over an embeddings
    * table (vec_id, embedding: array<float>). Elements are cast to
    * double before arithmetic; the sum is a sequential left fold, so the
    * value is bit-deterministic. */
  def similarities(embeddings: DataFrame): DataFrame = {
    // vec_sqdist is a native codegen Expression (graft.functions) — the
    // same left fold as the builtin zip_with+aggregate form (and the
    // DuckDB oracle), minus the per-row intermediate array.
    graft.functions.VectorExprs.register(embeddings.sparkSession)
    val e = embeddings.select(
      col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    val a = e.select(col("vec_id").as("i"), col("v").as("va"))
    val b = e.select(col("vec_id").as("k"), col("v").as("vb"))
    a.join(b, col("i") =!= col("k"))
      .select(col("i"), col("k"), (-expr("vec_sqdist(va, vb)")).as("s"))
  }

  /** Shared preference: exact median of the off-diagonal similarities. */
  def preference(offdiag: DataFrame): Double =
    offdiag.select(percentile(col("s"), lit(0.5))).head().getDouble(0)

  /** Exact sparse m-NN similarity graph: keep each point's m most-similar
    * neighbors and symmetrize, so the message set is O(N·m) instead of
    * the dense N². Absent pairs behave as s = −∞ exactly as Frey & Dueck
    * specify for sparse input: they can never win the row max (eq. 1) and
    * contribute max(0, r) = 0 to the column sum (eq. 2–3), which is
    * precisely what their absence from the Dataset computes.
    *
    * The BUILD here is still the O(N²) windowed pair set — it exists as
    * the oracle-grade baseline the equivalence suite compares against;
    * the production path is [[sparseSimilarities]] (bucketed candidates,
    * no N² stage). */
  def sparseSimilaritiesExact(embeddings: DataFrame, m: Int): DataFrame = {
    val offd = similarities(embeddings)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("i").orderBy(col("s").desc, col("k"))
    val knn = offd
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= m)
      .select("i", "k", "s")
    knn.unionByName(
        knn.select(col("k").as("i"), col("i").as("k"), col("s")))
      .distinct()
  }

  /** Sparse m-NN graph, scale path (SURVEY §4.3): candidate pairs come
    * from IVF-style buckets — every point is assigned to its `nprobe`
    * nearest of `centroids` hash-spread seed points, pairs are generated
    * only within shared buckets (O(Σ bucket²), never the dense N²), then
    * exact −‖x−y‖² reranks and keeps each point's top-m, symmetrized.
    * Deterministic: seeds are greedy farthest-point picks over a bounded
    * hash-spread sample (graft.functions.Ivf). Approximate only in which
    * CANDIDATES are seen — kept edges carry exact similarities.
    *
    * `centroids = 0` (default) auto-sizes the bucket count to
    * min(⌈N/125⌉, ⌈√(8N)⌉), floored at 16 — identical to the old fixed
    * 16 for every fixture N ≤ 2000: a FIXED count makes home buckets
    * grow linearly with N, so per-bucket pair generation grows as N²
    * and the "scale path" quietly re-buys the quadratic cost at exactly
    * the N it exists for (round-10 scale validation). ⌈N/125⌉ keeps
    * buckets constant (~125 points, candidates ≈ nprobe·125 = 20·m per
    * point) while the assignment crossJoin cost N·c stays cheap; past
    * N = 125 000 that same growth would make the ASSIGNMENT stage the
    * new quadratic (N·c = N²/125 distance evaluations — round-10
    * review), so the count switches to the √(8N) balance point where
    * assignment (N·c·d) and candidate generation (N·nprobe·(N/c)·d)
    * are both Θ(N^1.5·d) — the honest single-level optimum. The
    * two-level assignment below cuts that to Θ(N^1.25·d), and past
    * Ivf.MultiLevelThreshold (4096) centroids the recursion the
    * round-10 doc declared as the next step is REAL: the b-ary centroid
    * tree (Ivf.treeAssignments, round 11) descends ⌈log_b c⌉ levels at
    * ≤ b·sprobe evaluations each — assignment Θ(N·b·log c·d), the
    * near-linear multi-level inverted index, leaving in-bucket
    * candidate generation (N·nprobe·125·d at the ⌈N/125⌉ sizing) as
    * the dominant term.
    *
    * Assignment runs through the shared [[graft.functions.Ivf.assignments]]
    * kernel: vectors never ride the ranking windows (24-byte rows sort,
    * not 500-byte embedding payloads; re-joined once for the bucket
    * pair join), and past Ivf.TwoLevelThreshold (512) centroids the
    * flat N·c crossJoin switches
    * to the two-level Θ(N·√c) form, then to the multi-level tree past
    * 4096 centroids. */
  def sparseSimilarities(
      embeddings: DataFrame, m: Int,
      centroids: Int = 0, nprobe: Int = 8): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    graft.functions.VectorExprs.register(spark)
    val e = embeddings.select(
      col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
    val c =
      if (centroids > 0) centroids
      else graft.functions.Ivf.autoCentroids(e.count())
    // Shared seeds + large-c Lloyd recipe (Ivf.buildCentroids — round-12
    // review consolidated the copy-pasted sequence): refinement pulls
    // the k-center outlier seeds into density past the two-level gate
    // (measured 2× lower quantization distortion at non-increasing
    // occupancy skew); small-c fixture shapes keep the historical
    // bit-identical seeds (see Ivf.refine scaladoc).
    val cents = graft.functions.Ivf.buildCentroids(e, c)
    val assigned = graft.functions.Ivf
      .assignments(e, cents, nprobe,
        (v, cv) => call_function("vec_sqdist", v, cv))
      .join(e, "vec_id")
    val home = assigned.filter(col("crnk") === 1)
      .select(col("vec_id").as("k"), col("v").as("vb"), col("c_id"))
    // Top-m per point via the bounded ap_topm aggregate (round 11): the
    // raw candidate stream is N·nprobe·occ pair rows — at N = 200 000
    // that is ~250 M rows, and the old DISTINCT + row_number window
    // moved ALL of them through two full shuffles. ap_topm collapses
    // the stream in the map-side partial (state ≤ m entries per point;
    // a pair met in several probed buckets computes the identical
    // (s, k) and dedups inside the buffer), so the exchange carries
    // ≤ m entries per (task, point) instead of the stream. Order
    // (s DESC, k ASC) is bit-identical to the window form.
    graft.functions.ApAggs.register(spark)
    val knn = assigned
      .select(col("vec_id").as("i"), col("v").as("va"), col("c_id"))
      .join(home, "c_id")
      .filter(col("i") =!= col("k"))
      .select(col("i"), col("k"), (-expr("vec_sqdist(va, vb)")).as("s"))
      .groupBy("i").agg(expr(s"ap_topm(s, k, $m)").as("top"))
      .select(col("i"), explode(col("top")).as("e"))
      .select(col("i"), col("e.k").as("k"), col("e.s").as("s"))
    knn.unionByName(
        knn.select(col("k").as("i"), col("i").as("k"), col("s")))
      .distinct()
  }

  /** Initial message state of the window passes: off-diagonal
    * similarities + diagonal preference rows, r = a = 0. */
  def init(embeddings: DataFrame, pref: Double): DataFrame =
    similarities(embeddings).unionByName(embeddings.select(
        col("vec_id").as("i"), col("vec_id").as("k"), lit(pref).as("s")))
      .withColumn("r", lit(0.0))
      .withColumn("a", lit(0.0))

  /** One responsibility update (eq. 1), row-local:
    * r(i,k) ← s(i,k) − max_{k'≠k}(a(i,k') + s(i,k')).
    * Top-2 trick: the argmax row subtracts the second max, everyone else
    * the max — two partition-local window passes, one exchange. With
    * damping λ: r ← λ·r_old + (1−λ)·r_new. */
  def responsibilityPass(msgs: DataFrame, damping: Double): DataFrame = {
    // ONE WindowExec for all three per-group values: rn, m1 and m2
    // share the (i, a+s DESC, k) spec, differing only in frame, so one
    // select computes them in one buffered pass:
    //   m1 = max(asum) over the whole group;
    //   m2 = nth_value(asum, 2) over (asum DESC, k ASC) — the runner-up,
    //        NULL on single-row groups.
    val asum = col("a") + col("s")
    val ord = Window.partitionBy("i").orderBy(asum.desc, col("k"))
    val full = ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // m2 = NULL on a SINGLE-ROW group (an isolated node whose only
    // supplied row is its diagonal preference): under the documented
    // sparse semantics every absent pair is s = −∞, so the subtracted
    // "best other" is −∞ and r(k,k) = +∞ — the node elects itself,
    // exactly what the block kernel computes for the identical input.
    // Leaving the NULL propagated r = NULL and silently excluded the
    // node from every exemplar set (round-12 review).
    msgs
      .select(col("i"), col("k"), col("s"),
        (lit(damping) * col("r") + lit(1.0 - damping) *
          (col("s") - when(row_number().over(ord) === 1,
              coalesce(nth_value(asum, 2).over(full),
                lit(Double.NegativeInfinity)))
            .otherwise(max(asum).over(full)))).as("r"),
        col("a"))
  }

  /** One availability update (eq. 2–3), column-local:
    * a(i,k) ← min(0, r(k,k) + Σ_{i'∉{i,k}} max(0, r(i',k))),  i ≠ k
    * a(k,k) ← Σ_{i'≠k} max(0, r(i',k))
    * expressed as one column-sum window minus each row's own
    * contribution — one exchange. */
  def availabilityPass(msgs: DataFrame, damping: Double): DataFrame = {
    val wK = Window.partitionBy("k")
    // Both column sums share the bare partitionBy(k) spec and the
    // whole-partition frame: one WindowExec, one buffered pass. The sum
    // order within a k-group is the shuffle's fetch order, so a can
    // differ from the loop kernel's ascending-i sum in the last ulps.
    val rp = when(col("i") === col("k"), lit(0.0)).otherwise(greatest(col("r"), lit(0.0)))
    val srp = sum(rp).over(wK)
    val rkk = sum(when(col("i") === col("k"), col("r"))).over(wK)
    msgs
      .select(col("i"), col("k"), col("s"), col("r"),
        (lit(damping) * col("a") + lit(1.0 - damping) *
          when(col("i") === col("k"), srp)
            .otherwise(least(lit(0.0), rkk + srp - rp))).as("a"))
  }

  /** `trajectory`: the exemplar count after each iteration (length
    * `iterations`). `pinned`: ids of the persisted RDDs `messages` reads
    * (a chained run's final checkpoint), for a caller that owns their
    * lifetime (`autoRelease = false`). */
  final case class Result(
    messagesFn: () => DataFrame, exemplars: Seq[Long], iterations: Int, converged: Boolean,
    trajectory: Seq[Int], pinned: Seq[Int] = Nil) {
    /** Rebuilds on the CALLING thread's active session (falling back to
      * the default session): a Result must not strongly capture the
      * session that ran the solve — cached Results live in session
      * slots (graft.SessionResources), and a captured session would
      * pin those entries. Throws
      * IllegalStateException if no session is active or default. */
    def messages: DataFrame = messagesFn()
  }

  /** Final-generation checkpoint of the LAST distributed run per
    * session, released at the next run's start — the same discipline as
    * Dedup's components fixpoints (round-7 ADVICE: without it, repeated
    * runs in one session — the bench's back-to-back apDist passes — each
    * pin a dead N²-row checkpoint). The slot holds the RDD id, so the
    * deterministic release survives the Result being GC'd before the
    * next run starts (round-8 ADVICE). */
  private val lastRun = graft.SessionResources.lastRun("ap.lastRun")

  /** At or below this point count [[solve]] runs in-process: one block
    * of the N² message rows on the driver (N = 4000: 16 M rows, ~0.9 GB
    * of primitive columns), where the per-iteration scheduling cost of
    * the distributed loop would dwarf the arithmetic. Above it, the
    * distributed loop. */
  val localThreshold = 4000

  /** The loop's width for `rows` message rows on a master of `dp`
    * default parallelism: `fixed` (the `spark.graft.ap.loopPartitions`
    * setting) when set; else one partition while the rows are under one
    * task's worth of data (16 MiB at 48 B/row, about dense N ≤ 591);
    * else the task count capped at dp, then floored at min(8, dp) and at
    * 2 — never 1 above one task's worth, even on a one-core master. */
  private[graft] def loopWidth(rows: Long, dp: Int, fixed: Option[Int]): Int =
    fixed.getOrElse {
      val tasks = rows * 48L / (16L << 20) + 1
      if (tasks <= 1) 1 else math.max(2, math.max(math.min(8, dp), math.min(dp.toLong, tasks).toInt))
    }

  /** The largest point count whose dense N² message rows [[loopWidth]]
    * runs as one partition: None when every count does (`fixed` = 1),
    * 0 when none does (`fixed` above 1). */
  private def onePartitionNodes(dp: Int, fixed: Option[Int]): Option[Int] = fixed match {
    case Some(p) => if (p == 1) None else Some(0)
    case None => Some(Iterator.from(1).indexWhere(n => loopWidth(n.toLong * n, dp, None) > 1))
  }

  private def widthOverride(spark: SparkSession): Option[Int] =
    spark.conf.getOption("spark.graft.ap.loopPartitions").map(_.toInt)

  /** Message-row ceiling for the batched convergence-check cadence
    * (checkEvery auto mode): below it, holding 6 generations during a
    * chunk job is cheap and the saved job dispatch dominates; above it
    * the extra live generations spill and cost more than the dispatch
    * they save (measured on the Dataset-form loop: dense 16 M-row
    * generations ran ~2× SLOWER at cadence 5 than 1). */
  val CadenceRowCap: Long = 4L << 20

  /** Dispatch: the in-process solve ([[solveVectors]]) for small N, the
    * distributed loop ([[run]]) beyond [[localThreshold]]. Same kernel
    * and conventions either way (the test suite pins the two bit for
    * bit). One Spark action total on the local path: collecting the
    * first threshold+1 rows both answers "is N small?" and, when it is,
    * delivers the vectors — no separate count() job. */
  def solve(
      spark: SparkSession,
      embeddings: DataFrame,
      damping: Double = 0.5,
      maxIter: Int = 200,
      convergenceIter: Int = 15,
      prefOverride: Option[Double] = None,
      autoRelease: Boolean = true,
      jitter: Double = 0.0): Result =
    vectorsUpTo(embeddings, Some(localThreshold)).fold(
      run(spark, embeddings, damping, maxIter, convergenceIter,
        prefOverride, autoRelease = autoRelease, jitter = jitter)) { case (ids, xs) =>
      solveVectors(ids, xs, damping, maxIter, convergenceIter, prefOverride, jitter)
    }

  /** Small-N path at any N: collect the (id, vector) rows (N×d) and
    * solve in-process ([[solveVectors]]). */
  def runLocal(
      spark: SparkSession,
      embeddings: DataFrame,
      damping: Double = 0.5,
      maxIter: Int = 200,
      convergenceIter: Int = 15,
      prefOverride: Option[Double] = None,
      jitter: Double = 0.0): Result = {
    val (ids, xs) = vectorsUpTo(embeddings, None).get
    solveVectors(ids, xs, damping, maxIter, convergenceIter, prefOverride, jitter)
  }

  /** The local feeder of [[solve]], [[runLocal]] and [[run]]: the (id,
    * vector) rows in id order from ONE collect — of at most `cap` + 1
    * rows when capped — or None when there are more than `cap`. A null
    * embedding fails loud, naming its vec_id. */
  private def vectorsUpTo(embeddings: DataFrame,
      cap: Option[Int]): Option[(Array[Long], Array[Array[Double]])] = {
    val v = embeddings.select(col("vec_id").cast("long"),
        transform(col("embedding"), _.cast("double")).as("v"))
      .orderBy("vec_id")
    val rows = cap.fold(v)(c => v.limit(c + 1)).collect()
    if (cap.exists(rows.length > _)) None
    else Some((rows.map(_.getLong(0)), rows.map { r =>
      require(!r.isNullAt(1), s"AffinityPropagation: null embedding for vec_id ${r.getLong(0)}")
      r.getSeq[Double](1).toArray
    }))
  }

  /** The in-process solve over (id, vector) rows, with no Spark: s(i, k)
    * = −‖x_i − x_k‖² by `vec_sqdist`'s left fold (the value
    * [[similarities]] computes), emitted in (i, k) order — ascending ids
    * need no sort — with every diagonal pending. */
  def solveVectors(
      ids: Array[Long],
      xs: Array[Array[Double]],
      damping: Double = 0.5,
      maxIter: Int = 200,
      convergenceIter: Int = 15,
      prefOverride: Option[Double] = None,
      jitter: Double = 0.0): Result = {
    val n = ids.length
    val rows = Math.multiplyExact(n, n)
    val (i, k, s) = (new Array[Long](rows), new Array[Long](rows), new Array[Double](rows))
    var j = 0
    for (a <- 0 until n; b <- 0 until n) {
      i(j) = ids(a); k(j) = ids(b)
      if (a != b) {
        val (x, y) = (xs(a), xs(b))
        require(x.length == y.length, s"vec_sqdist: ragged vectors (${x.length} vs ${y.length})")
        var d = 0.0
        var t = 0
        while (t < x.length) { val e = x(t) - y(t); d += e * e; t += 1 }
        s(j) = -d
      }
      j += 1
    }
    inProcess(Triples(i, k, s, Array.tabulate(n)(a => a * n + a)), prefOverride, jitter,
      damping, maxIter, convergenceIter)
  }

  /** The session a deferred Result accessor builds on: the calling
    * thread's active session, else the JVM default — never a captured
    * one (see [[Result.messages]]; round-8 ADVICE asked for the fallback
    * and a clear failure mode). */
  private def sessionForResult(): SparkSession =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .getOrElse(throw new IllegalStateException(
        "Result.messages needs an active or default SparkSession on the " +
          "calling thread — the Result deliberately does not capture the " +
          "session that ran the solve (weak-registry discipline)"))

  /** Full damped loop: in-process on the driver when the message
    * relation fits one loop partition, else a checkpointed chain of
    * partition-resident generations ([[runLoop]]). Dense (`neighbors =
    * None`), the width is decided before any Dataset is built: when N²
    * rows would run as one loop partition ([[onePartitionNodes]]: N ≤ 591
    * by the size rule, any N under `spark.graft.ap.loopPartitions=1`),
    * one bounded collect of the vectors feeds [[solveVectors]] — no
    * similarity plan, no init checkpoint, no N²-row collect; a larger N
    * (the collect then holds cap + 1 rows and is dropped) and a width
    * override above 1 take [[runLoop]]. Sparse inputs always take
    * [[runLoop]]. Stops when the exemplar indicator set is unchanged for
    * `convergenceIter` consecutive iterations (and non-empty), or at
    * `maxIter`. `checkEvery` is the chain's convergence-check cadence (0
    * = auto); the in-process loop checks every iteration without a job. */
  def run(
      spark: SparkSession,
      embeddings: DataFrame,
      damping: Double = 0.5,
      maxIter: Int = 200,
      convergenceIter: Int = 15,
      prefOverride: Option[Double] = None,
      neighbors: Option[Int] = None,
      knnExact: Boolean = false,
      autoRelease: Boolean = true,
      checkEvery: Int = 0,
      jitter: Double = 0.0): Result = {
    val ss = embeddings.sparkSession
    val cap = onePartitionNodes(ss.sparkContext.defaultParallelism, widthOverride(ss))
    val local =
      if (neighbors.nonEmpty || cap.contains(0)) None
      else { lastRun.release(ss); vectorsUpTo(embeddings, cap) }
    local match {
      case Some((ids, xs)) =>
        solveVectors(ids, xs, damping, maxIter, convergenceIter, prefOverride, jitter)
      case None =>
        val offd = neighbors match {
          case Some(m) if knnExact => sparseSimilaritiesExact(embeddings, m)
          case Some(m) => sparseSimilarities(embeddings, m)
          case None => similarities(embeddings)
        }
        // The preference must estimate the median of ALL pairwise
        // similarities even on the sparse path — the median of only the kept
        // top-m pairs is far too high and the loop never settles (measured:
        // kept-median never converges in 200 iters; dense-median converges in
        // ~52 with the same exemplar count as dense AP). At scale the dense
        // median is estimated from a bounded pseudo-random sample: TakeOrdered
        // by xxhash64(vec_id) — an unbiased deterministic pick (the round-1
        // orderBy(vec_id) prefix was a biased sample), O(N) heap scan, and
        // the 1000² pair block it feeds stays bounded regardless of N. The
        // dense default is the median of the init's own off-diagonal rows,
        // resolved after the init lands, so the similarity plan runs once.
        val pref = prefOverride.orElse(neighbors.map(_ => preference(similarities(
          embeddings.orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(1000)))))
        val diag = pending(embeddings.select(col("vec_id").as("i")))
        runLoop(offd.select("i", "k", "s").unionByName(diag),
          pref, jitter, damping, maxIter, convergenceIter, autoRelease, checkEvery)
    }
  }

  /** A (i, i, NULL) diagonal row per id: a diagonal pending the default
    * preference. */
  private def pending(ids: DataFrame): DataFrame =
    ids.select(col("i"), col("i").as("k"), lit(null).cast("double").as("s"))

  /** Full AP over a caller-supplied similarity relation (i, k, s) — the
    * algorithm's native input format ([FD07] p.972: s(i,k) need not be
    * metric or symmetric; string kernels, graph affinities, arbitrary
    * domain scores). DIAGONAL rows (i = k) are per-point PREFERENCES
    * ([FD07]: "the preference of point k is s(k,k)" — larger values make
    * k more likely to be chosen as an exemplar); points without a
    * diagonal row get the shared preference (prefOverride, else the
    * exact median of the supplied off-diagonal similarities), and so
    * does a diagonal row with NULL s. Absent pairs behave as s = −∞ (the
    * sparse-AP convention); an off-diagonal row with NULL s is such an
    * absent pair and is dropped. The messages are the remaining supplied
    * rows plus the diagonals in either regime. Two
    * regimes like [[solve]]: at or below `localNodeThreshold` distinct
    * ids the triples are collected once and solved in-process (a
    * bounded collect, so the default threshold is lower than the
    * embedding path's); beyond it the distributed loop runs directly on
    * the triples — nothing N-sized ever reaches the driver. */
  def solveFromSimilarities(
      spark: SparkSession,
      sims: DataFrame,
      damping: Double = 0.5,
      maxIter: Int = 200,
      convergenceIter: Int = 15,
      prefOverride: Option[Double] = None,
      localNodeThreshold: Int = 2000,
      autoRelease: Boolean = true,
      checkEvery: Int = 0,
      jitter: Double = 0.0): Result = {
    // CACHE the caller's triple relation for the duration of the solve:
    // the regime probe and the local collect / distributed init both read
    // it, and for a caller-supplied EXPENSIVE plan (the facade's public
    // entry) re-executing it per action multiplies the dominant cost
    // (round-8 VERDICT #4: the local regime executed the sims plan 3×).
    // Storage is bounded in the local regime (≤ threshold² triples); in
    // the distributed regime it is the same relation the loop's init
    // checkpoint materializes anyway, and it is unpersisted the moment
    // that checkpoint lands (onInitMaterialized) rather than after the
    // whole loop (round-9 ADVICE: holding both was a transient 2× storage
    // peak) — the finally is the idempotent backstop.
    val all = MessageBlocks.triples(sims)
      .filter(col("i") === col("k") || col("s").isNotNull).cache()
    try {
    val diag = all.filter(col("i") === col("k"))
    val nodes = all.select(col("i")).unionByName(all.select(col("k").as("i"))).distinct()
    val probe = nodes.orderBy("i").limit(localNodeThreshold + 1).collect()
    if (probe.length <= localNodeThreshold) {
      // ONE collect of the (bounded) cached triples — the probe and this
      // collect are the local regime's only actions. The nodes without a
      // diagonal row get a pending one, as do the NULL-s diagonals.
      val t = MessageBlocks.collect(all)
      val provided = t.i.indices.filter(j => t.i(j) == t.k(j)).map(t.i).toSet
      val missing = probe.map(_.getLong(0)).filterNot(provided)
      val n = t.i.length
      inProcess(Triples(t.i ++ missing, t.k ++ missing, t.s ++ new Array[Double](missing.length),
          t.pending ++ Array.range(n, n + missing.length)),
        prefOverride, jitter, damping, maxIter, convergenceIter)
    } else
      runLoop(all.unionByName(pending(nodes.join(diag.select(col("i")), Seq("i"), "left_anti"))),
        prefOverride, jitter, damping, maxIter, convergenceIter, autoRelease, checkEvery,
        onInitMaterialized = () => all.unpersist(false))
    } finally all.unpersist(false)
  }

  /** The damped iteration shared by [[run]]'s similarity path (sparse,
    * or dense past one loop partition) and [[solveFromSimilarities]]'
    * distributed regime. The init relation — its default-preference
    * diagonal still pending (NULL s) — is checkpointed and counted in
    * one job, and [[loopWidth]] picks the width from the count:
    *   - one partition while the relation is under one task's worth of
    *     data: one more job collects it, and [[inProcess]] resolves and
    *     solves it on the driver — no further job, checkpoint or
    *     rollback (a dense [[run]] of that size never gets here: it
    *     solves from the vectors);
    *   - else data-sized, at least 2: [[resolved]] fills the pending
    *     diagonal over the checkpoint, [[MessageBlocks.layout]] plans the
    *     one Catalyst layout per solve, and [[chain]] iterates
    *     [[MessageBlocks.iterate]] over checkpointed `RDD[MsgBlock]`
    *     generations.
    * The setting `spark.graft.ap.loopPartitions` overrides the width
    * (read, never written; 1 means the driver); the messages are
    * bit-identical at any width. No Dataset is built, analyzed or
    * planned inside the loop, and the caller's session conf is never
    * touched. Both loops stop by the CLASSIC per-iteration rule
    * ([[StopRule]]): converged when the exemplar indicator set is
    * non-empty and unchanged across `convergenceIter` consecutive
    * ITERATIONS, or at `maxIter`.
    *
    * `checkEvery` applies to the chain only: see [[chain]].
    *
    * `autoRelease = false` keeps a chain's final-generation checkpoint
    * OUT of the next-run release registry — for callers that CACHE the
    * Result across subsequent runs in the same session
    * (ApQueries.fullRun): the checkpoint (`Result.pinned`) then stays
    * pinned until the caller frees it, instead of being unpersisted out
    * from under the cached, unrecomputable messages. An in-process run
    * pins nothing. */
  private def runLoop(
      msgs0: DataFrame,
      pref: Option[Double],
      jitter: Double,
      damping: Double,
      maxIter: Int,
      convergenceIter: Int,
      autoRelease: Boolean,
      checkEvery: Int,
      onInitMaterialized: () => Unit = () => ()): Result = {
    // a zero-iteration loop has no exemplar state to report — fail with
    // the contract instead of an NPE at Result construction
    // (round-12 review)
    require(maxIter >= 1, s"AffinityPropagation: maxIter must be >= 1, got $maxIter")
    val spark = msgs0.sparkSession
    val sc = spark.sparkContext
    // Deterministically free the PREVIOUS run's final-generation
    // checkpoint (contract: consume an auto-released Result before the
    // next run in the same session — the contract Dedup's components
    // carry; cached Results opt out via autoRelease = false).
    lastRun.release(spark)

    graft.Checkpoints.scoped { cs =>
      // ONE job materializes the init checkpoint and counts its rows: the
      // count runs on the checkpoint's own RDD, not as a Dataset action.
      val init = cs.hold(MessageBlocks.triples(msgs0).localCheckpoint(eager = false))
      val msgRows = graft.Checkpoints.checkpointRdds(init).map(_.count()).sum
      // The init relation is materialized — upstream storage (e.g.
      // solveFromSimilarities' sims cache) can be dropped NOW instead of
      // after the whole loop (round-9 ADVICE).
      onInitMaterialized()
      val parts = loopWidth(msgRows, sc.defaultParallelism, widthOverride(spark))
      // one partition: the collected triples leave the scope, which
      // frees the init before the in-process solve
      if (parts == 1) Left(MessageBlocks.collect(init))
      else {
        val cadence =
          if (checkEvery > 0) checkEvery
          else if (msgRows <= CadenceRowCap) 5
          else 1
        val rule = new StopRule(convergenceIter)
        val (it, converged, finalMsgs) =
          chain(resolved(init, pref, jitter), parts, damping, maxIter, cadence, rule)
        // finalMsgs is a materialized checkpoint — the one pinned RDD the
        // Result keeps alive, registered for release at the next run's
        // start (unless the caller owns its lifetime). The Result holds
        // the RDD, not a DataFrame: a DataFrame strongly references its
        // SparkSession, and a cached Result in a session slot must not
        // (round-8 ADVICE); messages rebuilds on the caller's
        // active/default session.
        if (autoRelease) lastRun.record(spark, Seq(finalMsgs))
        Right(Result(() => sessionForResult().createDataFrame(
            finalMsgs.flatMap(MessageBlocks.rows), MessageBlocks.schema),
          rule.exemplars.toSeq.sorted, it, converged, rule.trajectory.toSeq, Seq(finalMsgs.id)))
      }
    }.fold(inProcess(_, pref, jitter, damping, maxIter, convergenceIter), identity)
  }

  /** Opt-in oscillation guard ([FD07]'s noise remedy): s += jitter ·
    * scale · u(i, k) on every finite off-diagonal row, where u is
    * [[LocalAP.jitterU]]'s deterministic pair-seeded uniform in
    * [−0.5, 0.5) and scale is the finite off-diagonal range hi − lo,
    * falling back to 1.0 when it is zero or empty (the all-equal case
    * that needs the jitter most). Exact duplicates make the λ = 0.5 loop
    * swap exemplar roles between the copies forever (measured:
    * unperturbed replica inputs run to maxIter unconverged); the tiny
    * asymmetric offset breaks the tie without moving any non-degenerate
    * fixpoint (jitter ≈ 1e-6 of the similarity range). Relative to the
    * range, not to s: duplicate pairs sit at s = −0, where any
    * multiplicative noise is still 0. */
  private def jitterScale(lo: Double, hi: Double): Double = {
    val range = hi - lo
    if (java.lang.Double.isFinite(range) && range > 0) range else 1.0
  }

  /** The in-process solve every regime under one task's worth of data
    * runs: one [[MessageBlocks.block]] on the driver, stepped in place
    * under the [[StopRule]]. It first resolves, once and in this order,
    * on the supplied rows: the opt-in jitter ([[jitterScale]]); the
    * preference — `pref`, else the exact median of the off-diagonal s,
    * interpolated at an even count as Spark's `percentile(s, 0.5)` does
    * (0.0 when there is none: a lone point elects itself at any finite
    * preference); then the `pending` diagonals, which take it. */
  private def inProcess(t: Triples, pref: Option[Double], jitter: Double,
      damping: Double, maxIter: Int, convergenceIter: Int): Result = {
    require(maxIter >= 1, s"AffinityPropagation: maxIter must be >= 1, got $maxIter")
    require(t.i.nonEmpty, "AffinityPropagation: empty input")
    val Triples(i, k, s, _) = t
    def jittered(j: Int) = i(j) != k(j) && java.lang.Double.isFinite(s(j))
    if (jitter > 0) {
      var lo = Double.PositiveInfinity
      var hi = Double.NegativeInfinity
      for (j <- s.indices) if (jittered(j)) { lo = math.min(lo, s(j)); hi = math.max(hi, s(j)) }
      val w = jitter * jitterScale(lo, hi)
      for (j <- s.indices) if (jittered(j)) s(j) += w * LocalAP.jitterU(i(j), k(j))
    }
    val p = pref.getOrElse {
      var n = 0
      for (j <- s.indices) if (i(j) != k(j)) n += 1
      val v = new Array[Double](n)
      n = 0
      for (j <- s.indices) if (i(j) != k(j)) { v(n) = s(j); n += 1 }
      median(v)
    }
    t.pending.foreach(s(_) = p)
    val b = MessageBlocks.block(i, k, s)
    val buf = new Array[Double](s.length)
    val rule = new StopRule(convergenceIter)
    var it = 0
    var converged = false
    while (it < maxIter && !converged) {
      MessageBlocks.step(b, damping, buf)
      it += 1
      converged = rule.fires(MessageBlocks.exemplars(b).toSet)
    }
    // The Result holds the block, not a DataFrame (see runLoop); its
    // messages ship the block to the tasks in 64 Ki-row slices (~2.6 MB
    // each), well under any RPC message limit at N = localThreshold.
    Result(() => {
        val ss = sessionForResult()
        ss.createDataFrame(new BlockRows(ss.sparkContext, b, 1 << 16), MessageBlocks.schema)
      }, rule.exemplars.toSeq.sorted, it, converged, rule.trajectory.toSeq)
  }

  /** The median of `v` as the sorted array gives it — the middle
    * element, or `0.5 * lower + 0.5 * upper` of the two middle ones at
    * an even count (0.0 when empty) — in expected linear time: the upper
    * middle by [[select]], the lower one as the largest element left
    * below it. Both follow `Double.compare`'s total order, the order
    * `Arrays.sort` puts doubles in (−0.0 before 0.0, NaN above +∞), so
    * the value is bit-identical to the sort's. Permutes `v`. */
  private[graft] def median(v: Array[Double]): Double = {
    val n = v.length
    val h = n / 2
    if (n == 0) 0.0
    else {
      val upper = select(v, h)
      if (n % 2 == 1) upper
      else {
        var lower = v(0)
        for (j <- 1 until h) if (java.lang.Double.compare(v(j), lower) > 0) lower = v(j)
        0.5 * lower + 0.5 * upper
      }
    }
  }

  /** The element of rank `r` in `v` under `Double.compare`'s order,
    * leaving every lower rank in `v(0 until r)`: three-way quickselect
    * on a median-of-three pivot, falling back to sorting the remaining
    * range after 2·log2(n) + 8 rounds, which bounds the worst case at
    * the sort's cost. Permutes `v`. */
  private def select(v: Array[Double], r: Int): Double = {
    def cmp(a: Double, b: Double) = java.lang.Double.compare(a, b)
    def swap(a: Int, b: Int): Unit = { val t = v(a); v(a) = v(b); v(b) = t }
    var lo = 0
    var hi = v.length
    var rounds = 2 * (32 - Integer.numberOfLeadingZeros(v.length)) + 8
    while (hi - lo > 1 && rounds > 0) {
      rounds -= 1
      val (a, b, c) = (v(lo), v(lo + (hi - lo) / 2), v(hi - 1))
      val p =
        if (cmp(a, b) < 0) { if (cmp(b, c) < 0) b else if (cmp(a, c) < 0) c else a }
        else { if (cmp(a, c) < 0) a else if (cmp(b, c) < 0) c else b }
      // [lo, lt) < p, [lt, j) == p, [gt, hi) > p
      var lt = lo
      var j = lo
      var gt = hi
      while (j < gt) {
        val d = cmp(v(j), p)
        if (d < 0) { swap(lt, j); lt += 1; j += 1 }
        else if (d > 0) { gt -= 1; swap(j, gt) }
        else j += 1
      }
      if (r < lt) hi = lt
      else if (r >= gt) lo = gt
      else { lo = r; hi = r + 1 }
    }
    if (hi - lo > 1) java.util.Arrays.sort(v, lo, hi)
    v(r)
  }

  /** The chain's form of [[inProcess]]'s resolution, over the init
    * checkpoint: the jitter's range is one aggregate (only when
    * enabled), the default preference one more — `percentile` over the
    * jittered off-diagonal s — and the pending diagonals take it. */
  private def resolved(init: DataFrame, pref: Option[Double], jitter: Double): DataFrame = {
    val offd = col("i") =!= col("k")
    val finite = offd && col("s") > Double.NegativeInfinity && col("s") < Double.PositiveInfinity
    val s =
      if (jitter <= 0) col("s")
      else {
        val r = init.filter(finite).agg(min(col("s")), max(col("s"))).head()
        val w = jitter * (if (r.isNullAt(0)) 1.0 else jitterScale(r.getDouble(0), r.getDouble(1)))
        val u = udf((i: Long, k: Long) => LocalAP.jitterU(i, k))
        when(finite, col("s") + lit(w) * u(col("i"), col("k"))).otherwise(col("s"))
      }
    val p = pref.getOrElse {
      val r = init.filter(offd).select(percentile(s, lit(0.5))).head()
      if (r.isNullAt(0)) 0.0 else r.getDouble(0)
    }
    init.select(col("i"), col("k"), coalesce(s, lit(p)).as("s"))
  }

  /** Classic stop: `convergenceIter` consecutive equal exemplar sets =
    * convergenceIter−1 equal-to-previous increments of the counter,
    * with the set non-empty. Floored at 0, NOT 1, so convergenceIter ≤ 1
    * converges on the first non-empty set (round-10 review). `exemplars`
    * is the last observed set; `trajectory` its size per observed
    * iteration. */
  private final class StopRule(convergenceIter: Int) {
    private val neededStable = math.max(0, convergenceIter - 1)
    private var stable = 0
    var exemplars: Set[Long] = null
    val trajectory = scala.collection.mutable.ArrayBuffer.empty[Int]

    /** Observe the next iteration's exemplar set; true when the rule
      * fires on it. */
    def fires(ex: Set[Long]): Boolean = {
      trajectory += ex.size
      if (ex == exemplars) stable += 1
      else { stable = 0; exemplars = ex }
      stable >= neededStable && ex.nonEmpty
    }
  }

  /** The P > 1 loop: checkpointed `RDD[MsgBlock]` generations over
    * [[MessageBlocks.layout]]'s partition-resident blocks. Returns
    * (iterations, converged, final generation).
    *
    * `cadence` exists because the convergence check is the chain's
    * MATERIALIZING action: one check per iteration forces one job per
    * iteration. With cadence c, c lazily-checkpointed generations chain
    * into ONE job — 1/c of the dispatch overhead — at the price of
    * holding c+1 generations of checkpoint storage live during the
    * chunk. `checkEvery` = 0 (the default) picks it from the row count:
    * ≤ [[CadenceRowCap]] rows → 5, else 1. The chunk's one job collects
    * the indicator diagonal of EVERY generation in the chain (not just
    * the last), so the rule sees each iteration — a cadence-SAMPLED
    * counter aliased on sets oscillating with a period dividing the
    * cadence (round-9 ADVICE). When the rule fires mid-chunk the loop
    * rolls back to the firing generation — the returned state and
    * iteration count are the ones the per-iteration loop would produce. */
  private def chain(init: DataFrame, parts: Int, damping: Double, maxIter: Int,
      cadence: Int, rule: StopRule): (Int, Boolean, RDD[MsgBlock]) = {
    val sc = init.sparkSession.sparkContext
    graft.Checkpoints.scoped { cs =>
      // Generation 0 holds the init relation and the homes: the first
      // chunk's landing frees them, as each landing frees every
      // generation but the kept one — the previous chunk's final AND the
      // chunk's non-kept intermediates; without this the loop pins up to
      // maxIter generations of dead checkpoint storage.
      val (msgs, it, converged) = cs.rounds(maxIter) {
        cs.hold(init)
        val (gen0, homes) = MessageBlocks.layout(init, parts)
        cs.hold(homes)
        (cs.hold(gen0.localCheckpoint()), 0, false)
      }(st => st._3 || st._2 >= maxIter) { case ((msgs, it, _), _) =>
        // Chain up to `cadence` generations, each behind its own LAZY
        // localCheckpoint, then ONE collect materializes the whole chain:
        // the job computes every generation's partitions in sequence,
        // persisting each as it streams by, so the later generations and
        // the extra union branches read one computation.
        val step = math.min(cadence, maxIter - it)
        val intermediates = (1 to step).scanLeft(msgs)((g, _) =>
          cs.hold(MessageBlocks.iterate(g, parts, damping).localCheckpoint())).tail
        // The materializing action: every generation's exemplar ids,
        // tagged by position in the chunk — only those leave the cluster.
        val byGen: Map[Int, Set[Long]] = sc
          .union(intermediates.zipWithIndex.map { case (g, j) =>
            g.flatMap(b => MessageBlocks.exemplars(b).map(k => (j, k)))
          })
          .collect()
          .groupBy(_._1)
          .map { case (j, ks) => j -> ks.map(_._2).toSet }
        // Run the rule over the chunk's per-iteration sets; stop at the
        // exact generation where it fires.
        val stopAt = (0 until step).find(j => rule.fires(byGen.getOrElse(j, Set.empty[Long])))
        stopAt.fold((intermediates.last, it + step, false))(j => (intermediates(j), it + j + 1, true))
      }
      (it, converged, msgs)
    }
  }

  /** Assignment given an exemplar set: label(i) = argmax_{k∈E} s(i,k),
    * exemplars self-assigned; ties broken by smallest k (D6).
    *
    * Sparse-input contract: a point whose supplied rows contain NO
    * exemplar is unassignable (every absent pair is s = −∞) and is
    * OMITTED from the result — deliberate, and documented on the
    * public facade ([[graft.Graft.clusterFromSimilarities]]); callers
    * needing every id labeled left-join the result against their node
    * set. Dense inputs always carry every (i, exemplar) pair, so
    * nothing is ever omitted there. */
  def assign(offdiag: DataFrame, exemplars: Seq[Long], spark: SparkSession): DataFrame = {
    import spark.implicits._
    val ex = exemplars.toDF("ex_k")
    val w = Window.partitionBy("i").orderBy(col("s").desc, col("k"))
    val nonEx = offdiag
      .join(broadcast(ex), col("k") === col("ex_k"))
      .join(broadcast(ex.select(col("ex_k").as("self"))), col("i") === col("self"), "left_anti")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("i"), col("k").as("exemplar"))
    val selfRows = ex.select(col("ex_k").as("i"), col("ex_k").as("exemplar"))
    nonEx.unionByName(selfRows)
  }
}
