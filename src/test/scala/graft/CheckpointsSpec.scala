package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The checkpoint scope every iterative call runs in
  * ([[Checkpoints.scoped]]): what a call leaves persisted on each exit
  * path, and when a round's pins are freed. */
class CheckpointsSpec extends SparkSuite {

  private def rows(n: Int): DataFrame = spark.range(n).toDF("id")

  test("a round that throws at round 1, 2 or 3 leaves the persisted RDDs as they were") {
    for (failAt <- 1 to 3) {
      val before = persistedIds
      val boom = intercept[IllegalStateException] {
        Checkpoints.scoped { s =>
          val invariant = s.pin(rows(8))
          s.rounds(10)(s.pin(rows(4)))(_ => false) { (st, r) =>
            val next = s.pin(st.join(invariant, "id"))
            if (r == failAt) throw new IllegalStateException(s"round $r")
            next
          }
        }
      }
      assert(boom.getMessage == s"round $failAt")
      assert(persistedIds == before, s"a throw at round $failAt left pins persisted")
    }
  }

  test("pins taken concurrently from 4 threads are all freed, on return and on a throw") {
    for (fail <- Seq(false, true)) {
      val before = persistedIds
      var during = Set.empty[Int]
      val run = scala.util.Try(Checkpoints.scoped { s =>
        val threads = (1 to 4).map { t =>
          new Thread(() => (1 to 3).foreach(i => s.pin(rows(t * 10 + i))))
        }
        threads.foreach(_.start())
        threads.foreach(_.join())
        during = persistedIds -- before
        if (fail) throw new IllegalStateException("after the pins")
        during.size
      })
      assert(during.size == 12, s"expected 12 pins, saw ${during.size}")
      assert(run.isFailure == fail)
      assert(persistedIds == before, s"fail=$fail left ${persistedIds -- before}")
    }
  }

  test("a superseded round is freed once the next lands; the result keeps what it reads") {
    val before = persistedIds
    var seen = Seq.empty[Set[Int]]
    val out = Checkpoints.scoped { s =>
      val invariant = s.pin(rows(8))
      s.rounds(3)(s.pin(rows(4)))(_ => false) { (st, _) =>
        seen :+= persistedIds -- before
        s.pin(st.join(invariant, "id").withColumn("id", col("id") + 1))
      }
    }
    // three rounds, each holding the invariant and exactly one live
    // generation while it runs
    assert(seen.map(_.size) == Seq(2, 2, 2), s"live pins per round: $seen")
    assert(persistedIds == before ++ Checkpoints.checkpointRdds(out).map(_.id))
    assert(out.collect().map(_.getLong(0)).sorted.toSeq == Seq(3L, 4L, 5L, 6L))
    Checkpoints.release(out)
    assert(persistedIds == before)
  }

  test("a stop signal ends the rounds early and a step's unread pins are freed at its landing") {
    val before = persistedIds
    var seen = Seq.empty[Set[Int]]
    val (total, _) = Checkpoints.scoped { s =>
      // each round pins a scratch relation the state never reads
      s.rounds(50)((0L, false))(_._2) { case ((acc, _), r) =>
        seen :+= persistedIds -- before
        val scratch = s.pin(rows(r))
        (acc + scratch.count(), r == 4)
      }
    }
    assert(total == 1L + 2 + 3 + 4, "the stop signal of round 4 must end the rounds")
    assert(seen.forall(_.isEmpty), s"a landed round's scratch pin outlived it: $seen")
    assert(persistedIds == before)
  }
}
