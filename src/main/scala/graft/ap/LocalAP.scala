package graft.ap

/** Dense in-memory Affinity Propagation kernel (Frey & Dueck 2007,
  * eq. 1–3) on primitive arrays — the small-N fast path used by
  * [[AffinityPropagation.solve]] when the N² message matrices fit in one
  * task's memory (matching single-node reference throughput), and the
  * test oracle for the distributed dataflow. Same math, same iteration
  * and convergence conventions as the distributed path: damping 0.5,
  * max_iter 200, convergence_iter 15, preference = exact median of
  * off-diagonal similarities, s = −‖x−y‖². */
object LocalAP {

  /** Deterministic pair-seeded uniform in [−0.5, 0.5) — splitmix64 over
    * (i, k). Drives the OPT-IN similarity jitter (the [FD07] remedy for
    * oscillation on degenerate inputs: "add a tiny amount of noise to
    * the similarities"): exact-duplicate points make the loop swap
    * exemplar roles between the copies every iteration at λ = 0.5, so
    * the exemplar set never plateaus and the run hits maxIter
    * unconverged (measured — Bench.apDist replicas must be perturbed
    * for exactly this reason). Hash-seeded, not Random: the same (i, k)
    * pair always draws the same offset, so jittered runs are
    * deterministic and regime-independent (local kernel and the
    * distributed loop draw identical values). */
  private[ap] def jitterU(i: Long, k: Long): Double = {
    def mix(z0: Long): Long = {
      var z = z0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    ((mix(mix(i) ^ k) >>> 11) * (1.0 / (1L << 53))) - 0.5
  }

  /** In-place jitter of the finite off-diagonal entries of `s`:
    * s(i,k) += jitter · scale · u(ids(i), ids(k)), scale = the finite
    * off-diagonal RANGE (max − min), falling back to 1.0 when the range
    * is 0 (all-equal similarities — the fully symmetric case that needs
    * the jitter most) or empty. Relative-to-range, not relative-to-s:
    * duplicate pairs sit at s = −0 where any multiplicative noise is
    * still 0. */
  private[ap] def applyJitter(
      ids: Array[Long], s: Array[Array[Double]], jitter: Double): Unit = {
    val n = s.length
    var lo = Double.PositiveInfinity
    var hi = Double.NegativeInfinity
    var i = 0
    while (i < n) {
      var k = 0
      while (k < n) {
        val v = s(i)(k)
        if (i != k && java.lang.Double.isFinite(v)) {
          if (v < lo) lo = v
          if (v > hi) hi = v
        }
        k += 1
      }
      i += 1
    }
    val range = hi - lo
    val scale = if (java.lang.Double.isFinite(range) && range > 0) range else 1.0
    i = 0
    while (i < n) {
      var k = 0
      while (k < n) {
        if (i != k && java.lang.Double.isFinite(s(i)(k)))
          s(i)(k) += jitter * scale * jitterU(ids(i), ids(k))
        k += 1
      }
      i += 1
    }
  }

  final case class State(
    ids: Array[Long],
    s: Array[Array[Double]],
    r: Array[Array[Double]],
    a: Array[Array[Double]],
    exemplars: Set[Long],
    iterations: Int,
    converged: Boolean,
    trajectory: IndexedSeq[Int])

  def run(
      ids: Array[Long],
      x: Array[Array[Double]],
      damping: Double = 0.5,
      maxIter: Int = 200,
      convIter: Int = 15,
      prefOverride: Option[Double] = None,
      jitter: Double = 0.0): State = {
    val n = x.length
    val s = Array.ofDim[Double](n, n)
    var i = 0
    while (i < n) {
      var k = 0
      while (k < n) {
        if (i != k) {
          var d = 0.0
          var j = 0
          while (j < x(i).length) { val t = x(i)(j) - x(k)(j); d += t * t; j += 1 }
          s(i)(k) = -d
        }
        k += 1
      }
      i += 1
    }
    runS(ids, s, damping, maxIter, convIter, prefOverride, jitter = jitter)
  }

  /** The same damped loop over a caller-supplied similarity MATRIX — the
    * algorithm's native input ([FD07] p.972: s need not be metric or
    * symmetric). Off-diagonal entries of `s` are taken as-is (use
    * `Double.NegativeInfinity` for absent pairs, the sparse-AP
    * convention). Diagonal entries are the PREFERENCES ([FD07]: "the
    * preference of point k is s(k,k)"): where `diagProvided(k)` is true
    * the caller's s(k)(k) is kept (per-point preferences); everywhere
    * else — including the `diagProvided = null` default every embeddings
    * caller uses — the diagonal is overwritten with the shared
    * preference (default: exact median of the off-diagonal values,
    * matching the embeddings path). NOTE: `s` is mutated in place. */
  def runS(
      ids: Array[Long],
      s: Array[Array[Double]],
      damping: Double = 0.5,
      maxIter: Int = 200,
      convIter: Int = 15,
      prefOverride: Option[Double] = None,
      diagProvided: Array[Boolean] = null,
      jitter: Double = 0.0): State = {
    require(maxIter >= 1, s"LocalAP: maxIter must be >= 1, got $maxIter")
    require(s.length >= 1, "LocalAP: empty input")
    val n = s.length
    // n = 1: the only point is trivially its own exemplar — the median
    // branch below would index off(-1) on the empty off-diagonal array
    // (round-12 review; reachable via Graft.cluster on a 1-row frame)
    if (n == 1)
      return State(ids, s, Array.ofDim[Double](1, 1), Array.ofDim[Double](1, 1),
        Set(ids(0)), 0, converged = true, IndexedSeq.empty)
    // Opt-in oscillation guard, BEFORE the preference median so the
    // whole loop (preference included) sees one consistent matrix.
    if (jitter > 0) applyJitter(ids, s, jitter)
    // exact median of the n²−n off-diagonal values
    val off = new Array[Double](n * n - n)
    var p = 0
    for (a0 <- 0 until n; b0 <- 0 until n if a0 != b0) { off(p) = s(a0)(b0); p += 1 }
    java.util.Arrays.sort(off)
    val pref = prefOverride.getOrElse(
      if (off.length % 2 == 1) off(off.length / 2)
      else (off(off.length / 2 - 1) + off(off.length / 2)) / 2.0)
    var i = 0
    while (i < n) {
      if (diagProvided == null || !diagProvided(i)) s(i)(i) = pref
      i += 1
    }

    val r = Array.ofDim[Double](n, n)
    val a = Array.ofDim[Double](n, n)
    var last: Set[Int] = null
    val trajectory = IndexedSeq.newBuilder[Int]
    var stable = 0
    var it = 0
    var converged = false
    while (it < maxIter && !converged) {
      it += 1
      // r-pass (row-local, eq. 1): top-2 of a+s per row
      i = 0
      while (i < n) {
        var m1 = Double.NegativeInfinity; var m2 = Double.NegativeInfinity; var arg = -1
        var k = 0
        while (k < n) {
          val v = a(i)(k) + s(i)(k)
          if (v > m1) { m2 = m1; m1 = v; arg = k } else if (v > m2) m2 = v
          k += 1
        }
        k = 0
        while (k < n) {
          val sub = if (k == arg) m2 else m1
          r(i)(k) = damping * r(i)(k) + (1 - damping) * (s(i)(k) - sub)
          k += 1
        }
        i += 1
      }
      // a-pass (column-local, eq. 2–3)
      var k = 0
      while (k < n) {
        var sp = 0.0
        i = 0
        while (i < n) { if (i != k) sp += math.max(0.0, r(i)(k)); i += 1 }
        val rkk = r(k)(k)
        i = 0
        while (i < n) {
          val anew =
            if (i == k) sp
            else math.min(0.0, rkk + sp - math.max(0.0, r(i)(k)))
          a(i)(k) = damping * a(i)(k) + (1 - damping) * anew
          i += 1
        }
        k += 1
      }
      val ex = (0 until n).filter(k0 => r(k0)(k0) + a(k0)(k0) > 0).toSet
      trajectory += ex.size
      if (ex == last) stable += 1 else { stable = 0; last = ex }
      if (stable >= convIter - 1 && ex.nonEmpty) converged = true
    }
    State(ids, s, r, a, last.map(ids(_)), it, converged, trajectory.result())
  }
}
