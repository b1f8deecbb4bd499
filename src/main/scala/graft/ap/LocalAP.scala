package graft.ap

/** The opt-in similarity jitter's draw, shared by the in-process solve
  * and the chain's Catalyst resolution so both perturb each pair alike. */
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
    * deterministic and regime-independent (the in-process solve and the
    * chain draw identical values). */
  private[ap] def jitterU(i: Long, k: Long): Double = {
    def mix(z0: Long): Long = {
      var z = z0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    ((mix(mix(i) ^ k) >>> 11) * (1.0 / (1L << 53))) - 0.5
  }
}
