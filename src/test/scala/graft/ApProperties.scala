package graft

import graft.ap.AffinityPropagation.solveVectors
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

/** SURVEY §5.2 item 4 — property-based AP invariants on the local
  * (in-process) regime's Spark-free entry, the one `runLocal` feeds (the
  * same kernel as the distributed loop, pinned bit-identical in ApSpec).
  * Random small instances; ties have probability ~0 under continuous
  * coordinates, so the properties are deterministic. */
object ApProperties extends Properties("LocalAP") {

  private val points: Gen[Array[Array[Double]]] = for {
    n <- Gen.choose(8, 40)
    d <- Gen.choose(2, 6)
    flat <- Gen.listOfN(n * d, Gen.choose(-1.0, 1.0))
  } yield flat.toArray.grouped(d).toArray

  property("exemplars are self-assigned and non-empty on convergence") =
    forAll(points) { xs =>
      val ids = xs.indices.map(_.toLong).toArray
      val res = solveVectors(ids, xs)
      !res.converged || (res.exemplars.nonEmpty && res.exemplars.toSet.subsetOf(ids.toSet))
    }

  property("relabeling points permutes exemplars (permutation invariance)") =
    forAll(points) { xs =>
      val n = xs.length
      val ids = xs.indices.map(_.toLong).toArray
      val perm = new scala.util.Random(n * 31L).shuffle(xs.indices.toList).toArray
      val xsP = perm.map(xs(_))
      val idsP = perm.map(ids(_)) // keep original ids attached to their points
      val a = solveVectors(ids, xs)
      val b = solveVectors(idsP, xsP)
      // same point set under a different processing order → same exemplars
      a.converged == b.converged && (!a.converged || a.exemplars == b.exemplars)
    }

  property("non-exemplars assign to their max-similarity exemplar") =
    forAll(points) { xs =>
      val ids = xs.indices.map(_.toLong).toArray
      val res = solveVectors(ids, xs)
      def s(i: Int, k: Int) =
        -xs(i).indices.map(j => (xs(i)(j) - xs(k)(j)) * (xs(i)(j) - xs(k)(j))).sum
      !res.converged || {
        val ex = res.exemplars.map(_.toInt).toSet
        xs.indices.filterNot(ex).forall { i =>
          val best = ex.maxBy(k => (s(i, k), -k))
          // argmax similarity among exemplars is a valid cluster label:
          // its similarity is >= every other exemplar's
          ex.forall(k => s(i, k) <= s(i, best))
        }
      }
    }

  property("fewer-than-two points or identical runs are deterministic") =
    forAll(points) { xs =>
      val ids = xs.indices.map(_.toLong).toArray
      val a = solveVectors(ids, xs)
      val b = solveVectors(ids, xs)
      a.exemplars == b.exemplars && a.iterations == b.iterations
    }
}
