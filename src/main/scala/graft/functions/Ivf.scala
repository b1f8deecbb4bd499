package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic IVF seed selection shared by the ANN index
  * (Dedup.simsearch_ivf) and the sparse AP graph builder
  * (ap.AffinityPropagation.sparseSimilarities).
  *
  * Two stages, both deterministic and bounded:
  *   1. hash-spread sample: TakeOrdered of `sampleN` rows by
  *      xxhash64(vec_id) — an unbiased pseudo-random pick computed with
  *      an O(N) bounded heap, no full sort, no data-order dependence;
  *   2. greedy farthest-point selection of `k` seeds on the driver —
  *      O(sampleN·k) distance evaluations over the bounded sample, the
  *      classic k-center 2-approximation, which spreads seeds across the
  *      data's clusters far better than any random pick.
  *
  * The driver-side collect is `sampleN` rows (default 256) regardless of
  * table size — a bounded, scale-safe exception to the no-collect rule.
  */
object Ivf {

  /** Data-adaptive centroid count shared by the ANN index and the sparse
    * AP graph builder: min(⌈N/125⌉, ⌈√(8N)⌉), floored at 16 (identical
    * to the historical fixed 16 for every fixture N ≤ 2000) and capped
    * at 2²⁰. ⌈N/125⌉ keeps home buckets ~constant (bounded per-bucket
    * work) while the assignment crossJoin stays cheap; past N = 125 000
    * that growth would make the assignment stage quadratic (N·c), so
    * the count switches to the √(8N) balance point where assignment
    * (N·c·d) and in-bucket candidate work (N·nprobe·(N/c)·d) are both
    * Θ(N^1.5·d) — the single-level-IVF optimum. */
  def autoCentroids(n: Long): Int =
    math.min(1 << 20, math.max(16,
      math.min(math.ceil(n / 125.0), math.ceil(math.sqrt(8.0 * n))).toInt))

  /** (vec_id, vector) seed rows; `vecs` must have columns
    * (vec_id: long, v: array<double>). */
  def seeds(vecs: DataFrame, k: Int, sampleN: Int = 256): Seq[(Long, Seq[Double])] = {
    val sample = vecs
      .select(col("vec_id"), col("v"))
      .orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(sampleN)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    require(sample.nonEmpty, "Ivf.seeds: empty input")
    farthestPicks(sample.toIndexedSeq, k).map { p => (sample(p)._1, sample(p)._2.toSeq) }
  }

  /** Bounded-sample Lloyd refinement of [[seeds]] — engaged on the
    * large-c path (c > [[TwoLevelThreshold]], same gate as the two-level
    * assignment) where farthest-point seeds hurt most: greedy k-CENTER
    * picks are by construction the OUTLIERS of the sample, so at large c
    * dense regions end up under-seeded (hot home buckets — the skew that
    * per-bucket pair generation pays for at 100 TB) and the centroid
    * cloud's own geometry misleads the super-bucket level. A few Lloyd
    * iterations over a bounded hash-spread sample pull the seeds into
    * the k-MEANS optimum — balanced buckets, centroids in density.
    *
    * Scale + determinism discipline:
    *   - the sample is `samplePerCentroid`·k rows capped at `sampleCap`,
    *     picked by the same xxhash64 TakeOrdered as [[seeds]] — one
    *     bounded pass over N, then cached for the loop;
    *   - each iteration's nearest-centroid assignment reuses
    *     [[assignments]] (nprobe = 1) — at c > threshold that is itself
    *     the two-level Θ(sample·√c) plan, so refinement never re-buys
    *     the flat sample·c cost it exists to justify;
    *   - mean updates are EXACT fixed-point sums: per (bucket, dim),
    *     Σ round(x·2^shift) as long — associative in any partition
    *     order (house rule D2) — with shift sized from the sample's
    *     max |x| so the largest possible partial sum stays < 2⁶¹;
    *     summing raw doubles would make centroids (and every bucket
    *     decision downstream) dependent on shuffle reduction order;
    *   - the per-iteration driver collect is k·d (c_id, pos) sums —
    *     bounded by `refineCollectCap`; above it refinement is skipped
    *     (returns the unrefined seeds) rather than collecting big;
    *   - empty buckets keep their previous centroid (no respawn
    *     heuristic — deterministic, and farthest-point seeds are
    *     already spread, so empties are rare);
    *   - seed ids are kept as bucket labels (they are labels, not
    *     coordinates — downstream joins only need stability).
    *
    * Cost: iters · (one sample-assignment job + one k·d-key aggregate).
    * Measured on the 3000-point/300-center clustered fixture (d = 16,
    * iters = 2): mean home-bucket distortion (the k-means objective)
    * halves, 128.5 → 62.1, with occupancy variance non-increasing
    * (17.4 → 17.0 — farthest-point already splits WELL-SEPARATED
    * clusters; the distortion drop is what tightens super-bucket
    * geometry and keeps in-bucket candidates truly near). SketchSpec
    * pins both plus bit-exact determinism and end-to-end recall ≥ 0.8
    * through ivfTopk at c = 600. */
  def refine(vecs: DataFrame, cents: Seq[(Long, Seq[Double])], iters: Int = 2,
      samplePerCentroid: Int = 32, sampleCap: Int = 1 << 16,
      refineCollectCap: Int = 1 << 22): Seq[(Long, Seq[Double])] = {
    val k = cents.length
    if (iters <= 0 || k == 0) return cents
    val dim = cents.head._2.length
    if (k.toLong * dim > refineCollectCap) return cents
    val spark = vecs.sparkSession
    import spark.implicits._
    val target = math.min(k.toLong * samplePerCentroid, sampleCap.toLong).toInt
    val sample = vecs.select(col("vec_id"), col("v"))
      .orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(target)
      .cache()
    try {
      val maxAbs = sample
        .agg(max(array_max(transform(col("v"), x => abs(x))))).as[Option[Double]]
        .head().getOrElse(0.0)
      if (maxAbs <= 0.0 || maxAbs.isNaN || maxAbs.isInfinite) return cents
      // largest partial sum ≤ target·maxAbs·2^shift; keep it < 2⁶¹
      val shift = math.max(0, math.min(24,
        61 - math.ceil(math.log(maxAbs * target.toDouble) / math.log(2.0)).toInt))
      val scale = math.pow(2.0, shift)
      var cur = cents
      var it = 0
      while (it < iters) {
        val sums = assignments(sample, cur, nprobe = 1,
            (v, cv) => call_function("vec_sqdist", v, cv))
          .join(sample, "vec_id")
          .select(col("c_id"), posexplode(col("v")).as(Seq("pos", "x")))
          .groupBy("c_id", "pos")
          .agg(sum(round(col("x") * scale).cast("long")).as("sx"),
            count(lit(1)).as("n"))
          .collect()
          .map(r => (r.getLong(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3)))
          .toMap
        cur = cur.map { case (id, old) =>
          if (!sums.contains((id, 0))) (id, old) // empty bucket: keep
          else (id, old.indices.map { p =>
            val (sx, n) = sums((id, p)); (sx.toDouble / n) / scale
          })
        }
        it += 1
      }
      cur
    } finally sample.unpersist()
  }

  /** Past this many centroids the flat assignment crossJoin (N·c
    * distance evaluations) switches to the TWO-LEVEL form. 512 keeps
    * every fixture path (c = 16) AND every measured ap_dist shape
    * (c ≤ 400 at N = 50 k) on the exact flat plan — the two-level
    * approximation only engages where flat N·c genuinely hurts
    * (N ≳ 200 k at the auto size), which in production is clustered
    * embedding data, the regime where super-bucket geometry carries
    * signal (measured: 97%+ home agreement on clustered data, 54% on
    * isotropic — the sampled agreement probe below detects that regime
    * and falls back to the exact flat plan). */
  val TwoLevelThreshold: Int = 512

  /** Past this many centroids the TWO-level form itself switches to the
    * MULTI-level centroid tree ([[treeAssignments]]) — the "truly
    * linear build" boundary the two-level scaladoc declared as the next
    * step. 4096 = [[TreeBranch]]², the first size where a ≥3-deep tree
    * evaluates fewer centroids per point than the √c super level
    * (at c = b² the two forms coincide), so every measured two-level
    * shape (c ≤ 4096 at all recorded N) keeps its exact historical
    * plan. */
  val MultiLevelThreshold: Int = 4096

  /** Branch factor of the multi-level centroid tree: each tree node has
    * ≤ this many children, so a point descending the tree evaluates
    * ≤ TreeBranch·sprobe centroids per level over ⌈log_b c⌉ levels —
    * Θ(N·b·sprobe·log c) total assignment work vs the two-level form's
    * Θ(N·√c·sprobe). 64 keeps per-level candidate sets comfortably
    * inside one aggregation buffer while already winning 6× at
    * c = 2²⁰. */
  val TreeBranch: Int = 64

  /** Minimum sampled home-centroid agreement (two-level vs flat) for the
    * two-level assignment to engage — below it the input is isotropy-like
    * (super-bucket geometry carries no signal; measured 54% agreement on
    * random vectors) and the assignment falls back to the exact flat
    * plan (round-10 VERDICT #4). Matches the suite's clustered-data
    * agreement bound. The multi-level tree applies the same bound with
    * its own sampled probe. */
  val MinHomeAgreement: Double = 0.9

  /** Sampled points for the isotropy/agreement probe: driver-side cost
    * is probe·c·d flops — bounded and trivial at every c the auto-sizer
    * produces (c = √(8N) ⇒ ~10⁴ at N = 10⁷). */
  val AgreementProbeSample: Int = 128

  /** Probe size for the MULTI-LEVEL guard. The two-level regimes sit
    * far from the 0.9 bound (measured 97%+ clustered vs 54% isotropic),
    * so 128 samples discriminate; a deep tree's compounding per-level
    * pruning can land near the bound (measured 0.797 on the isotropic
    * suite fixture — a 128-sample probe drew 0.922 there, +3.5σ of
    * binomial noise, and wrongly engaged the tree). 512 puts a
    * true-0.8 input ~5.6σ below the bound (pass probability ~10⁻⁸).
    * Driver cost stays probe·c·d — a few seconds even at c ≈ 10⁵. */
  val TreeAgreementProbeSample: Int = 512

  /** THE centroid-build recipe: farthest-point seeds over the
    * 2c-bounded hash-spread sample, plus euclidean Lloyd refinement on
    * the large-c path (c > [[TwoLevelThreshold]] — the same gate as
    * the two-level assignment, where k-center seeds hurt most; see
    * [[refine]]). One definition (round-12 review: the sequence was
    * copy-pasted across Dedup.ivfTopk, Pq.ivfAdcTopk, and the bench's
    * stage-timing recipe — any drift would have silently desynchronized
    * the committed pqivf.json record from the shipped path). */
  def buildCentroids(vecs: DataFrame, c: Int): Seq[(Long, Seq[Double])] = {
    val s0 = seeds(vecs, c, sampleN = math.max(256, 2 * c))
    if (c > TwoLevelThreshold) refine(vecs, s0) else s0
  }

  /** Bucket assignment shared by the sparse-AP graph builder and the
    * ANN index: returns `(vec_id, c_id, crnk)` — each point's `nprobe`
    * nearest centroids by `dist` (smaller = closer; ties → smaller
    * c_id), crnk 1..nprobe. Vectors are deliberately NOT carried
    * through the ranking windows (24-byte rows sort, not embedding
    * payloads) — callers re-join their vector columns by vec_id.
    *
    * Flat form (c ≤ [[TwoLevelThreshold]]): one broadcast crossJoin,
    * N·c evaluations — the historical plan, bit-identical ranking.
    *
    * Two-level form (c above the threshold — round-10: a single-level
    * assignment is Θ(N·c) and with c = √(8N) that is the build's
    * Θ(N^1.5) floor): the centroids are themselves clustered
    * driver-side into ⌈√c⌉ super-centroids (farthest-point over the
    * centroid set — tiny), each point ranks the supers (N·√c
    * evaluations), keeps its `sprobe` nearest, and evaluates only the
    * centroids belonging to those supers (expected N·sprobe·√c) —
    * Θ(N·√c) total, so the whole build drops to Θ(N^1.25·d) at the
    * auto size. Approximate only in which CENTROIDS a point may rank
    * (its true nearest centroid could live under an unprobed super —
    * the standard inverted-multi-index trade; the suite pins home-
    * centroid agreement vs flat ≥ 90% on clustered data, the regime
    * the two-level form is for).
    *
    * ISOTROPY GUARD (round-10 VERDICT #4): before the two-level plan is
    * built, a bounded hash-spread sample of [[AgreementProbeSample]]
    * points is checked DRIVER-side — each sampled point's true nearest
    * centroid (flat scan over all c) vs its two-level home (sprobe
    * nearest supers, then only their members). Sampled agreement below
    * [[MinHomeAgreement]] means super-bucket geometry carries no signal
    * for this input (isotropic/unclustered embeddings — measured 54%
    * home agreement on random vectors vs 97%+ on clustered) and the
    * assignment FALLS BACK to the exact flat plan: Θ(N·c) but correct,
    * instead of fast and silently lossy. Cost: one bounded collect plus
    * probe·c·d driver flops, only on the c > threshold path (~10⁻⁴ of
    * the assignment work at the auto size). The probe ranks by
    * euclidean d2 — the same geometry the super/member construction
    * itself assumes (both call sites pass vec_sqdist). */
  def assignments(vecs: DataFrame, cents: Seq[(Long, Seq[Double])],
      nprobe: Int, dist: (Column, Column) => Column,
      sprobe: Int = 8, twoLevelThreshold: Int = TwoLevelThreshold,
      multiLevelThreshold: Int = MultiLevelThreshold,
      branch: Int = TreeBranch): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val c = cents.length
    val wAssign = Window.partitionBy("vec_id").orderBy(col("cdist"), col("c_id"))
    def flat: DataFrame =
      vecs.crossJoin(broadcast(cents.toDF("c_id", "cv")))
        .select(col("vec_id"), col("c_id"), dist(col("v"), col("cv")).as("cdist"))
        .withColumn("crnk", row_number().over(wAssign))
        .filter(col("crnk") <= nprobe)
        .select("vec_id", "c_id", "crnk")
    if (c <= twoLevelThreshold) flat
    else if (c > multiLevelThreshold)
      treeAssignments(vecs, cents, nprobe, dist, sprobe, branch, flat)
    else {
      // driver-side second level over the (small) centroid set
      val superK = math.max(2, math.ceil(math.sqrt(c.toDouble)).toInt)
      // farthest-point over the centroid vectors themselves (ids 0..)
      val centVecs = cents.map { case (id, v) => (id, v.toArray) }.toIndexedSeq
      val supers = farthestPicks(centVecs, superK).zipWithIndex
        .map { case (p, si) => (si.toLong, centVecs(p)._2) }
      // membership: each centroid under its euclidean-nearest super
      // (ties → smallest super id — deterministic)
      val members = centVecs.map { case (cid, cv) =>
        val best = supers.minBy { case (sid, sv) => (d2(cv, sv), sid) }._1
        (cid, best, cv)
      }
      // Isotropy/agreement probe (scaladoc above): sampled flat-vs-two-
      // level home agreement, driver-side, before any distributed work.
      val bySuper = members.groupBy(_._2)
        .map { case (sid, ms) => sid -> ms.map(m => (m._1, m._3)) }
      val sample = vecs.select(col("vec_id"), col("v"))
        .orderBy(xxhash64(col("vec_id")), col("vec_id"))
        .limit(AgreementProbeSample)
        .collect().map(_.getSeq[Double](1).toArray)
      val agreed = sample.count { q =>
        val flatHome = centVecs.minBy { case (cid, cv) => (d2(q, cv), cid) }._1
        val nearSupers = supers.sortBy { case (sid, sv) => (d2(q, sv), sid) }
          .take(sprobe).map(_._1)
        val candidates = nearSupers.flatMap(bySuper.getOrElse(_, Seq.empty))
        candidates.nonEmpty &&
          candidates.minBy { case (cid, cv) => (d2(q, cv), cid) }._1 == flatHome
      }
      if (sample.nonEmpty &&
          agreed.toDouble / sample.length < MinHomeAgreement) flat
      else {
      // Ranking runs as the bounded ap_topm aggregate, not window sorts
      // (round 11, after the multi-level probe showed the window form's
      // two full sorts of the candidate stream dominate this path —
      // BENCH_NOTES §21): candidate SET is unchanged (same supers, same
      // members), (−dist DESC, id ASC) is the window's (dist ASC, id
      // ASC) bit-for-bit on real distances, and the second aggregate
      // reuses the first one's vec_id hash clustering — one exchange
      // for the whole two-level descent, map-side partial collapse,
      // the distance projections in WholeStageCodegen.
      graft.functions.ApAggs.register(spark)
      val vecSlim = vecs.select(col("vec_id"), col("v"))
      val probed = vecSlim.crossJoin(broadcast(
          supers.map { case (sid, sv) => (sid, sv.toSeq) }.toDF("s_id", "sv")))
        .select(col("vec_id"), col("s_id"),
          (-dist(col("v"), col("sv"))).as("negd"))
        .groupBy("vec_id")
        .agg(call_function("ap_topm",
          col("negd"), col("s_id"), lit(sprobe)).as("keep"))
        .select(col("vec_id"), explode(col("keep.k")).as("s_id"))
      probed
        .join(vecSlim, "vec_id")
        .join(broadcast(
          members.map { case (cid, sid, cv) => (cid, sid, cv.toSeq) }.toDF("c_id", "s_id", "cv")), "s_id")
        .select(col("vec_id"), col("c_id"),
          (-dist(col("v"), col("cv"))).as("negd"))
        .groupBy("vec_id")
        .agg(call_function("ap_topm",
          col("negd"), col("c_id"), lit(nprobe)).as("keep"))
        .select(col("vec_id"), posexplode(col("keep")).as(Seq("pos", "e")))
        .select(col("vec_id"), col("e.k").as("c_id"),
          (col("pos") + lit(1)).as("crnk"))
      }
    }
  }

  /** Multi-level centroid tree, bottom level last. `top` is the ≤ branch
    * root nodes; each `down` level entry is (node_id, parent_id, vec)
    * with parent_id referring to the level above (the roots for the
    * first entry). The bottom level's node_ids are the caller's real
    * centroid ids; intermediate ids are per-level synthetic (0..k-1). */
  private[graft] final case class CentroidTree(
      top: Seq[(Long, Array[Double])],
      down: List[Seq[(Long, Long, Array[Double])]])

  /** Squared euclidean distance, summed left to right. */
  @inline private[functions] def d2(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val t = a(i) - b(i); s += t * t; i += 1 }
    s
  }

  /** Greedy farthest-point pick (the k-center 2-approximation) of ≤ k
    * rows of a non-empty driver-resident sample, as indices into it —
    * the seeds, the two-level supers, the tree's parents and the PQ
    * codebook init. The smallest id starts; each next pick is the row
    * farthest from every pick so far, by a strict `>` over an ascending
    * scan, so ties resolve to the smallest index — deterministic. When
    * the farthest distance is 0, every remaining row coincides with a
    * pick (duplicate embeddings — plausible in a dedup corpus): picking
    * stops rather than emit duplicates, since downstream bucket
    * assignment has no distinct and a duplicated centroid would let the
    * same neighbor fill two of the top-k rank slots (round-2 ADVICE). */
  private[functions] def farthestPicks(
      sample: IndexedSeq[(Long, Array[Double])], k: Int): IndexedSeq[Int] = {
    val vs = sample.iterator.map(_._2).toArray
    val chosen = scala.collection.mutable.ArrayBuffer(sample.indices.minBy(sample(_)._1))
    val minD = Array.fill(vs.length)(Double.PositiveInfinity)
    var exhausted = false
    while (chosen.length < math.min(k, vs.length) && !exhausted) {
      var bi = -1; var bd = -1.0
      val last = vs(chosen.last)
      var i = 0
      while (i < vs.length) {
        val dd = math.min(minD(i), d2(vs(i), last))
        minD(i) = dd
        if (dd > bd) { bd = dd; bi = i }
        i += 1
      }
      if (bd <= 0.0) exhausted = true else chosen += bi
    }
    chosen.toIndexedSeq
  }

  /** Recursive bottom-up build of the multi-level tree over a centroid
    * set (driver-side — the input is already the bounded centroid list,
    * never the data). Two cost disciplines keep the build sub-quadratic
    * in c where a naive construction would not be:
    *   - parent SELECTION at each level is farthest-point over a
    *     hash-spread sample of 2k nodes (Θ(k²·d) per level, k = ⌈n/b⌉),
    *     never over all n;
    *   - child→parent ASSIGNMENT descends the already-built upper tree
    *     (Θ(n·b·sprobe·log·d)) instead of scanning all k parents
    *     (Θ(n·k·d) — at c = 3·10⁵ that flat scan alone would be
    *     ~10¹⁰ flops of driver time).
    * Total: Θ(c·b·sprobe·log_b c·d + (c/b)²·d) — seconds at the largest
    * c the auto-sizer reaches for 10¹⁰-row corpora (c ≈ 3·10⁵). */
  private[graft] def buildTree(nodes: Seq[(Long, Array[Double])],
      branch: Int, sprobe: Int): CentroidTree = {
    if (nodes.length <= branch) CentroidTree(nodes, Nil)
    else {
      val k = math.max(2, math.ceil(nodes.length.toDouble / branch).toInt)
      val sample: IndexedSeq[(Long, Array[Double])] =
        if (nodes.length <= 2 * k) nodes.toIndexedSeq
        else nodes.sortBy { case (id, _) =>
          (scala.util.hashing.byteswap64(id), id)
        }.take(2 * k).toIndexedSeq
      val parents: Seq[(Long, Array[Double])] =
        farthestPicks(sample, k).zipWithIndex.map { case (p, i) => (i.toLong, sample(p)._2) }
      val upper = buildTree(parents, branch, sprobe)
      val maps = levelMaps(upper.down)
      val lvl = nodes.map { case (id, v) =>
        val p = descend(upper, maps, v, sprobe) match {
          // every probed branch childless (rare): exact scan of the k
          // parents for THIS node — no child may be left unreachable,
          // or its whole subtree would silently drop from the index
          case -1L => parents.minBy { case (pid, pv) => (d2(v, pv), pid) }._1
          case p0 => p0
        }
        (id, p, v)
      }
      prune(CentroidTree(upper.top, upper.down :+ lvl))
    }
  }

  /** Remove CHILDLESS non-bottom nodes, bottom-up — the structural
    * guarantee behind the distributed descent (round-11 ADVICE): after
    * pruning, every surviving non-bottom node has ≥ 1 child, so a
    * frontier that keeps ANY set of parents always expands to ≥ 1
    * candidate at the next level and no vec_id can vanish from the
    * assignments output via an all-childless inner join. (Before this,
    * the driver mirror [[descend]] had a −1 fallback but the
    * distributed plan had no equivalent — a point whose sprobe kept
    * parents were all childless silently dropped.) The bottom level —
    * the caller's real centroids — is never pruned; childless parents
    * are unreachable dead branches whose removal only frees the probe
    * slots they wasted. Applied at every [[buildTree]] exit, so both
    * the driver mirror and the distributed plan descend the SAME
    * fertile tree — agreement stays bit-identical. */
  private[graft] def prune(tree: CentroidTree): CentroidTree = {
    if (tree.down.isEmpty) tree
    else {
      val levels = tree.down.toArray
      var i = levels.length - 1
      while (i >= 1) {
        val parents = levels(i).map(_._2).toSet
        levels(i - 1) = levels(i - 1).filter(e => parents.contains(e._1))
        i -= 1
      }
      val rootKeep = levels(0).map(_._2).toSet
      CentroidTree(tree.top.filter(n => rootKeep.contains(n._1)), levels.toList)
    }
  }

  /** Per-level parent → children lookup for [[descend]]. */
  private[graft] def levelMaps(down: List[Seq[(Long, Long, Array[Double])]])
      : List[Map[Long, Seq[(Long, Array[Double])]]] =
    down.map(_.groupBy(_._2).map { case (p, es) =>
      p -> es.map(e => (e._1, e._3))
    })

  /** Driver-side tree descent mirroring the distributed plan exactly:
    * keep the `sprobe` nearest nodes at each level (ties → smaller id),
    * expand to their children, return the nearest bottom node. Used for
    * child→parent assignment inside [[buildTree]] and for the sampled
    * isotropy/agreement probe. Returns -1 when every probed branch is
    * childless (counts as disagreement in the probe — conservative). */
  private[graft] def descend(tree: CentroidTree,
      maps: List[Map[Long, Seq[(Long, Array[Double])]]],
      q: Array[Double], sprobe: Int): Long = {
    var cand: Seq[(Long, Array[Double])] = tree.top
    maps.foreach { m =>
      val kept = cand.sortBy { case (id, v) => (d2(q, v), id) }
        .take(sprobe).map(_._1)
      cand = kept.flatMap(id => m.getOrElse(id, Nil))
    }
    if (cand.isEmpty) -1L
    else cand.minBy { case (id, v) => (d2(q, v), id) }._1
  }

  /** MULTI-LEVEL assignment (c > [[MultiLevelThreshold]]) — the declared
    * next step past the two-level form: a [[TreeBranch]]-ary centroid
    * tree built driver-side over the (bounded) centroid set, then a
    * distributed level-by-level descent. Each point evaluates ≤ b·sprobe
    * centroids per level over ⌈log_b c⌉ levels — Θ(N·b·sprobe·log c·d)
    * assignment work, vs Θ(N·√c·sprobe·d) two-level and Θ(N·c·d) flat
    * (6× fewer evaluations than two-level at c = 2²⁰, growing as
    * √c/(b·log c)).
    *
    * Plan shape (the 100 TB property, pinned in PlanSpec): the first
    * per-vec aggregate hash-partitions by vec_id — the frontier's only
    * exchange. Every later level is explode(kept parents) → join(vecs
    * by vec_id) → broadcast-join(that level's children) → ap_topm
    * re-aggregate, all of which preserve the vec_id clustering, so the
    * frontier never re-shuffles; the vecs join side contributes ONE
    * exchange subtree that every level reuses (ReusedExchange). No
    * window sort ever sees a vector payload: ranking is the bounded
    * [[ApTopM]] buffer (≤ sprobe entries/group) with map-side partial
    * collapse, under the exact window order (dist ASC, id ASC) via
    * (−dist DESC, id ASC).
    *
    * Same isotropy guard as the two-level form: a bounded hash-spread
    * sample compares flat home vs tree-descent home DRIVER-side (the
    * descent mirror is [[descend]], bit-identical pruning); agreement
    * below [[MinHomeAgreement]] falls back to the exact flat plan —
    * slow but correct, never fast and silently lossy. */
  private def treeAssignments(vecs: DataFrame, cents: Seq[(Long, Seq[Double])],
      nprobe: Int, dist: (Column, Column) => Column, sprobe: Int, branch: Int,
      flat: => DataFrame): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    ApAggs.register(spark)
    val centArr = cents.map { case (id, v) => (id, v.toArray) }
    val tree = buildTree(centArr, branch, sprobe)
    val maps = levelMaps(tree.down)
    val sample = vecs.select(col("vec_id"), col("v"))
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(TreeAgreementProbeSample)
      .collect().map(_.getSeq[Double](1).toArray)
    val agreed = sample.count { q =>
      val flatHome = centArr.minBy { case (id, v) => (d2(q, v), id) }._1
      descend(tree, maps, q, sprobe) == flatHome
    }
    if (sample.nonEmpty &&
        agreed.toDouble / sample.length < MinHomeAgreement) flat
    else {
      // Descent plan discipline (measured on the 200 k / c = 8192 probe:
      // the naive form that carried `v` through the aggregates and
      // evaluated dist INSIDE ap_topm ran 2× slower than two-level —
      // interpreted per-row sqdist in update() plus vector payloads
      // riding the object-agg sort fallback):
      //   - the frontier between levels is SLIM (vec_id, p_id) — the
      //     vector table is re-joined by vec_id each level, and because
      //     every level's join keys and the per-vec aggregate all hash
      //     by vec_id, the frontier side never re-exchanges and the
      //     vecs-side exchange is one reused subtree (ReusedExchange);
      //   - `negd` is pre-projected BEFORE the aggregate (the §20
      //     pattern), so the b-wide candidate expansion lives entirely
      //     inside one WholeStageCodegen span and ap_topm's update()
      //     reads a plain double from a 24-byte row.
      val vecSlim = vecs.select(col("vec_id"), col("v"))
      val topDF = tree.top.map { case (id, v) => (id, v.toSeq) }.toDF("n_id", "nv")
      val mTop = if (tree.down.isEmpty) nprobe else sprobe
      def rank(cands: DataFrame, m: Int): DataFrame = cands
        .select(col("vec_id"), col("n_id"),
          (-dist(col("v"), col("nv"))).as("negd"))
        .groupBy("vec_id")
        .agg(call_function("ap_topm",
          col("negd"), col("n_id"), lit(m)).as("keep"))
      var cur = rank(vecSlim.crossJoin(broadcast(topDF)), mTop)
      tree.down.zipWithIndex.foreach { case (lvl, i) =>
        val last = i == tree.down.length - 1
        val lvlDF = lvl.map { case (id, p, v) => (id, p, v.toSeq) }
          .toDF("n_id", "p_id", "nv")
        val frontier = cur.select(col("vec_id"), explode(col("keep.k")).as("p_id"))
        cur = rank(
          frontier.join(vecSlim, "vec_id").join(broadcast(lvlDF), "p_id"),
          if (last) nprobe else sprobe)
      }
      cur
        .select(col("vec_id"), posexplode(col("keep")).as(Seq("pos", "e")))
        .select(col("vec_id"), col("e.k").as("c_id"),
          (col("pos") + lit(1)).as("crnk"))
    }
  }
}
