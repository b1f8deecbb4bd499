package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The three connected-components regimes must agree exactly: the
  * bounded driver union-find (the ≤2²⁰-edge dispatch), alternating
  * large-star/small-star (the distributed scale path), and plain
  * min-label propagation (the textbook baseline and previous default) —
  * on both the real fixture graph and synthetic shapes chosen to stress
  * what the fixture cannot (long chains = high diameter, isolated nodes,
  * endpoints missing from `nodes`). */
class ComponentsSpec extends SparkSuite {

  private def collected(df: DataFrame): Seq[(Long, Long)] =
    df.orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  private def allThree(nodes: DataFrame, pairs: DataFrame): (Seq[(Long, Long)], Seq[(Long, Long)], Seq[(Long, Long)]) = {
    val local = collected(queries.Dedup.connectedComponents(nodes, pairs))
    val prop = collected(queries.Dedup.connectedComponentsPropagation(nodes, pairs))
    val stars = collected(queries.Dedup.componentsStars(
      nodes, pairs.select(col("id_a").as("u"), col("id_b").as("v"))))
    (local, prop, stars)
  }

  test("three regimes agree on a chain + clique + isolated + missing-endpoint graph") {
    import spark.implicits._
    // chain 1-…-10 (diameter 9: multiple star rounds, many propagation
    // iterations), clique {20,21,22}, isolated 30 (nodes only), and
    // component {40,41} absent from nodes entirely.
    val nodes = ((1L to 10L) ++ Seq(20L, 21L, 22L, 30L)).toDF("id")
    val pairs = ((1L to 9L).map(i => (i, i + 1)) ++
      Seq((20L, 21L), (21L, 22L), (20L, 22L), (41L, 40L))).toDF("id_a", "id_b")
    val expected = (1L to 10L).map(i => (i, 1L)) ++
      Seq((20L, 20L), (21L, 20L), (22L, 20L), (30L, 30L), (40L, 40L), (41L, 40L))
    val (local, prop, stars) = allThree(nodes, pairs)
    assert(local == expected.sortBy(_._1))
    assert(prop == local)
    assert(stars == local)
  }

  test("three regimes agree on the sf0.001 jaccard pair graph") {
    val docs = Tables.documents(spark, sf001)
    val nodes = docs.select(col("doc_id").as("id"))
    def pairs = queries.Dedup.jaccardPairs(spark, docs)
      .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"))
    val (local, prop, stars) = allThree(nodes, pairs)
    assert(local.nonEmpty)
    assert(prop == local)
    assert(stars == local)
    // the graph is non-trivial: at least one real merge happened
    assert(local.exists { case (id, comp) => id != comp })
  }

  test("nodesComplete fast path returns identical rows when nodes cover the edges") {
    // dedup_cluster's guarantee (doc_id PK covers every pair endpoint)
    // lets the output skip the endpoint-union + distinct exchange; the
    // rows must be exactly the general path's — both regimes.
    val docs = Tables.documents(spark, sf001)
    val nodes = docs.select(col("doc_id").as("id"))
    def pairs = queries.Dedup.jaccardPairs(spark, docs)
      .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"))
    val general = collected(queries.Dedup.connectedComponents(nodes, pairs))
    val fast = collected(queries.Dedup.connectedComponents(nodes, pairs,
      nodesComplete = true))
    assert(fast == general)
    val fastStars = collected(queries.Dedup.componentsStars(
      nodes, pairs.select(col("id_a").as("u"), col("id_b").as("v")),
      nodesComplete = true))
    assert(fastStars == general)
  }

  test("edges with a NULL endpoint are dropped, not aliased to node 0") {
    import spark.implicits._
    // round-6 ADVICE: the bounded probe read endpoints with getLong, which
    // unboxes null to 0L — a null-endpoint edge silently attached to node
    // 0 and could merge unrelated components. Nodes {0,1,2,3,4}; edges
    // (1,null), (null,2), (3,4): the null edges must vanish, so 1 and 2
    // stay their own components instead of joining 0's.
    val nodes = (0L to 4L).toDF("id")
    val pairs = Seq[(java.lang.Long, java.lang.Long)](
      (1L, null), (null, 2L), (3L, 4L)).toDF("id_a", "id_b")
    val expected = Seq((0L, 0L), (1L, 1L), (2L, 2L), (3L, 3L), (4L, 3L))
    val (local, prop, stars) = allThree(nodes, pairs)
    assert(local == expected)
    assert(prop == expected)
    assert(stars == expected)
  }

  test("components checkpoint registry is session-scoped (weak-keyed like Tables' cache)") {
    // mirror of PlanSpec's table-cache scoping test: a distributed
    // components run on a second session records ITS checkpoint without
    // touching the base session's entry (one SessionResources slot per
    // session).
    val s2 = spark.newSession()
    import s2.implicits._
    def hasComponentsCheckpoint(s: org.apache.spark.sql.SparkSession) = held(s, "dedup.lastComponents").nonEmpty
    val baseBefore = hasComponentsCheckpoint(spark)
    val nodes = (1L to 6L).toDF("id")
    val edges = Seq((1L, 2L), (3L, 4L)).toDF("id_a", "id_b")
      .select(col("id_a").as("u"), col("id_b").as("v"))
    queries.Dedup.componentsStars(nodes, edges).collect()
    assert(hasComponentsCheckpoint(s2),
      "distributed run did not record its final checkpoint for its session")
    assert(hasComponentsCheckpoint(spark) == baseBefore,
      "second session's run disturbed the base session's registry entry")
  }

  test("union-find agrees with a BFS reference on 40 random graphs") {
    // random edge lists (dense, sparse, self-loops, duplicate edges)
    // against an independent breadth-first reference. Deterministic seed.
    val rnd = new scala.util.Random(20260813L)
    import spark.implicits._
    for (trial <- 1 to 40) {
      val n = 2 + rnd.nextInt(30)
      val m = rnd.nextInt(40)
      val edges = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      // BFS reference: component of v = min id reachable from v
      val adj = (edges ++ edges.map(_.swap)).groupMap(_._1)(_._2)
      def reach(v: Long): Set[Long] = {
        var seen = Set(v); var frontier = List(v)
        while (frontier.nonEmpty) {
          val next = frontier.flatMap(u => adj.getOrElse(u, Nil)).filterNot(seen)
          seen ++= next; frontier = next
        }
        seen
      }
      val expected = (0L until n).map(v => (v, reach(v).min))
      val got = queries.Dedup.connectedComponents(
          (0L until n).toDF("id"), edges.toDF("id_a", "id_b"))
        .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got == expected, s"trial $trial: n=$n edges=$edges")
      // every 4th trial also drives the distributed star regime over the
      // same random graph (it never routes there on its own below the
      // edge cap)
      if (trial % 4 == 0) {
        val stars = queries.Dedup.componentsStars(
            (0L until n).toDF("id"),
            edges.toDF("u", "v"))
          .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        assert(stars == expected, s"trial $trial (stars): n=$n edges=$edges")
      }
    }
  }

  test("kcore: clique survives, tails and under-k structures peel, cascades converge") {
    import spark.implicits._
    // K4 (1-4) + pendant chain 4-5-6: the 3-core is exactly the clique
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L)).toDF("a", "b")
    val core3 = Graft.kcore(e, "a", "b", k = 3)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(core3 == Seq((1L, 3L), (2L, 3L), (3L, 3L), (4L, 3L)))
    // 2-core: the chain peels off over TWO cascading rounds (6 exposes 5)
    val core2 = Graft.kcore(e, "a", "b", k = 2)
      .select("node").collect().map(_.getLong(0)).toSet
    assert(core2 == Set(1L, 2L, 3L, 4L))
    // a 10-cycle is its own 2-core; a 10-path peels to empty from both
    // ends (a ~n/2-round cascade — the convergence loop, not one pass)
    val cyc = (0L until 10L).map(i => (i, (i + 1) % 10)).toDF("a", "b")
    assert(Graft.kcore(cyc, "a", "b", 2).count() == 10L)
    val path = (0L until 9L).map(i => (i, i + 1)).toDF("a", "b")
    assert(Graft.kcore(path, "a", "b", 2).count() == 0L)
    // a truncated peel must FAIL, not ship a superset of the core
    val boom = intercept[IllegalStateException] {
      Graft.kcore(path, "a", "b", 2, maxRounds = 2).count()
    }
    assert(boom.getMessage.contains("fixpoint"))
  }

  test("kcore equals a local reference peel on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(2024)
    for (trial <- 1 to 6) {
      val n = 6 + rnd.nextInt(12)
      val edges = (for {
        a <- 0L until n.toLong; b <- (a + 1) until n.toLong
        if rnd.nextDouble() < 0.3
      } yield (a, b)).toSeq
      val k = 2 + rnd.nextInt(2)
      // reference: simultaneous-drop peel over local adjacency sets
      var adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).map { case (u, vs) => u -> vs.map(_._2).toSet }
      var changed = true
      while (changed) {
        val drop = adj.collect { case (u, vs) if vs.size < k => u }.toSet
        changed = drop.nonEmpty
        adj = (adj -- drop).map { case (u, vs) => u -> (vs -- drop) }
      }
      val want = adj.map { case (u, vs) => (u, vs.size.toLong) }
        .toSeq.sortBy(_._1)
      if (edges.nonEmpty) {
        val got = Graft.kcore(edges.toDF("a", "b"), "a", "b", k)
          .orderBy("node").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq
        assert(got == want, s"trial $trial n=$n k=$k edges=$edges")
      }
    }
  }

  test("random walks: valid paths, one full walk per node, replay-identical") {
    import spark.implicits._
    // triangle 1-2-3 + pendant 3-4: every node has a neighbor, so no
    // walk can die; 4's only move is back to 3
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("a", "b")
    val steps = 5
    val w = Graft.randomWalks(e, "a", "b", steps)
      .orderBy("start", "step").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(w.length == 4 * (steps + 1), s"expected full walks: ${w.length}")
    // every hop traverses a real edge
    val und = Set((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
      .flatMap { case (a, b) => Set((a, b), (b, a)) }
    w.groupBy(_._1).values.foreach { walk =>
      val path = walk.sortBy(_._2).map(_._3)
      assert(path.head == walk.head._1, "walk must start at its node")
      path.sliding(2).foreach { case Array(x, y) =>
        assert(und((x, y)), s"hop $x->$y is not an edge") }
    }
    // exact replay: a second run emits identical rows
    val w2 = Graft.randomWalks(e, "a", "b", steps)
      .orderBy("start", "step").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(w.toSeq == w2.toSeq, "walks are not replay-deterministic")
    // negative ids fail loud (the hash sign contract)
    val boom = intercept[Exception] {
      Graft.randomWalks(Seq((-1L, 2L)).toDF("a", "b"), "a", "b", 2).collect()
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(chain(boom).exists(_.contains("non-negative")))
  }

  test("random walks at steps=64: cadence checkpoints bound the plan depth") {
    import spark.implicits._
    // round-16 VERDICT #4: without the 8-hop checkpoint cadence the
    // 64th frontier chains 64 joins of lineage and each union branch
    // re-analyzes the whole chain. The walk must complete, stay valid,
    // and every branch's analyzed plan must stay shallow (the deepest
    // join chain since the last checkpoint is ≤ 8 hops).
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("a", "b")
    val steps = 64
    val w = Graft.randomWalks(e, "a", "b", steps)
    // bounded analysis: the output reads a materialized checkpoint, so
    // its analyzed plan is a leaf — the cadence did its job if this
    // returns promptly with a full, edge-valid walk set
    val rows = w.orderBy("start", "step").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == 4 * (steps + 1), s"expected full walks: ${rows.length}")
    val und = Set((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
      .flatMap { case (a, b) => Set((a, b), (b, a)) }
    rows.groupBy(_._1).values.foreach { walk =>
      val path = walk.sortBy(_._2).map(_._3)
      path.sliding(2).foreach { case Array(x, y) =>
        assert(und((x, y)), s"hop $x->$y is not an edge") }
    }
    // the returned plan must be checkpoint-backed (a leaf RDD scan),
    // not a 64-deep union of join chains
    val analyzed = w.queryExecution.analyzed.toString
    assert(!analyzed.contains("Join"),
      s"output plan still carries the join lineage:\n$analyzed")
  }

  test("node2vec walks: p→∞ forbids backtracking, q→∞ keeps walks local, zero-total falls back") {
    import spark.implicits._
    // law 1 — wReturn=0 on a cycle: every hop's candidates are
    // {prev, other}; only `other` has positive weight, so no walk may
    // ever backtrack (p→∞ in node2vec terms)
    val c6 = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (1L, 6L))
      .toDF("a", "b")
    val w1 = Graft.node2vecWalks(c6, "a", "b", steps = 8,
      wReturn = 0, wNear = 1, wFar = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(w1.length == 6 * 9, s"full walks expected: ${w1.length}")
    w1.groupBy(_._1).values.foreach { walk =>
      val path = walk.sortBy(_._2).map(_._3)
      path.sliding(3).foreach { case Array(x, y, z) =>
        assert(x != z, s"walk backtracked $x->$y->$z with wReturn=0")
      case _ => ()
      }
    }
    // law 2 — wFar=0 on triangle{1,2,3}+pendant 3-4: from any triangle
    // position the pendant is at distance 2 from prev, so its weight is
    // zero and a triangle-started walk never reaches node 4 (q→∞)
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("a", "b")
    val w2 = Graft.node2vecWalks(tri, "a", "b", steps = 8,
      wReturn = 1, wNear = 1, wFar = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    w2.filter(r => r._1 <= 3L).foreach { case (s0, t, x) =>
      assert(x != 4L, s"walk from $s0 leaked to the pendant at step $t")
    }
    // fallback — wReturn=0 on a single edge: the pendant's only
    // candidate is prev with weight 0 (Σw = 0), so the uniform rule
    // must take over instead of erroring or killing the walk
    val p2 = Seq((1L, 2L)).toDF("a", "b")
    val w3 = Graft.node2vecWalks(p2, "a", "b", steps = 4,
      wReturn = 0, wNear = 1, wFar = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(w3.length == 2 * 5, s"fallback must keep walks alive: ${w3.length}")
    w3.foreach { case (s0, t, x) =>
      assert(x == (if (t % 2 == 0) s0 else 3L - s0),
        s"P2 walk must oscillate: start=$s0 step=$t node=$x")
    }
    // replay identity on the biased kernel
    val w1b = Graft.node2vecWalks(c6, "a", "b", steps = 8,
      wReturn = 0, wNear = 1, wFar = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(w1.sorted.toSeq == w1b.sorted.toSeq, "biased walks must replay")
  }

  test("hier flatten: forest roots/depths exact, NULL-parent roots, cycles fail loud") {
    import spark.implicits._
    // chain 1→…→5 (parent = previous), tree rooted at 10 with a branch,
    // and a NULL-parent root 30 with one child
    val forest = Seq(
      (1L, Some(1L)), (2L, Some(1L)), (3L, Some(2L)), (4L, Some(3L)),
      (5L, Some(4L)),
      (10L, Some(10L)), (11L, Some(10L)), (12L, Some(10L)), (13L, Some(11L)),
      (30L, None), (31L, Some(30L))
    ).toDF("n", "p")
    val got = Graft.hierFlatten(forest, "n", "p")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert((1L to 5L).forall(k => got(k) == ((1L, k - 1))), s"chain: $got")
    assert(got(10L) == ((10L, 0L)) && got(11L) == ((10L, 1L)) &&
      got(12L) == ((10L, 1L)) && got(13L) == ((10L, 2L)), s"tree: $got")
    assert(got(30L) == ((30L, 0L)) && got(31L) == ((30L, 1L)),
      s"null-parent root: $got")
    // a parent cycle must fail loud, never ship a truncated depth
    val cyc = Seq((20L, 21L), (21L, 20L)).toDF("n", "p")
    val boom = intercept[IllegalStateException] {
      Graft.hierFlatten(cyc, "n", "p").collect()
    }
    assert(boom.getMessage.contains("cycle"))
    // a dangling parent (no node row) would silently DROP the child's
    // state row through the inner doubling join — guarded loud instead
    val boomD = intercept[IllegalArgumentException] {
      Graft.hierFlatten(Seq((5L, 99L)).toDF("n", "p"), "n", "p")
    }
    assert(boomD.getMessage.contains("dangling"))
    // duplicate node rows would fan out k^rounds through the self-joins
    val boomU = intercept[IllegalArgumentException] {
      Graft.hierFlatten(Seq((1L, 1L), (2L, 1L), (2L, 1L)).toDF("n", "p"),
        "n", "p")
    }
    assert(boomU.getMessage.contains("more than once"))
  }

  test("hier flatten malformed-forest guard is ONE probe action") {
    // round-17 VERDICT advisory #3: the dangling-parent and duplicate-
    // node probes were two separate driver actions per call; the
    // hybridRrf single-union-probe discipline makes them one. Count SQL
    // executions (robust under AQE, where one action spawns many jobs)
    // on a duplicate-only input — the shape that forced the OLD code to
    // run its empty dangling probe first, i.e. two executions.
    import spark.implicits._
    Thread.sleep(300) // let prior tests' listener events drain
    val (execs, _) = actionsDuring {
      val boom = intercept[IllegalArgumentException] {
        Graft.hierFlatten(Seq((1L, 1L), (2L, 1L), (2L, 1L)).toDF("n", "p"),
          "n", "p")
      }
      assert(boom.getMessage.contains("more than once"))
      Thread.sleep(250) // let a stray second execution surface before asserting
    }
    assert(execs == 1,
      s"guard ran $execs SQL executions - the dangling+duplicate " +
        "probes must be one union job")
  }

  test("sssp bounded: cost beats hops, round bound truncates, negatives fail loud") {
    import spark.implicits._
    // diamond: 1→2→4 costs 1+1=2 over two edges; the direct 1→4 edge
    // costs 5 — min COST must take the longer-hop path (the case hop
    // BFS gets wrong by construction); 4→5 extends it
    val edges = Seq(
      (1L, 2L, 1L), (2L, 4L, 1L), (1L, 4L, 5L), (4L, 5L, 2L),
      (7L, 8L, 3L) // disconnected from the seed
    ).toDF("s", "d", "w")
    def run(r: Int): Map[Long, Long] =
      Graft.shortestPaths(edges, "s", "d", "w", Seq(1L).toDF("n"), "n",
          maxRounds = r)
        .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(run(4) == Map(1L -> 0L, 2L -> 1L, 4L -> 2L, 5L -> 4L),
      s"diamond costs: ${run(4)}")
    // round bound 1: only direct edges relax — node 4 keeps the
    // expensive 1-edge path, node 5 unreached
    assert(run(1) == Map(1L -> 0L, 2L -> 1L, 4L -> 5L),
      s"1-round truncation: ${run(1)}")
    // multi-seed minimum + frontier short-circuit well under the bound
    val multi = Graft.shortestPaths(edges, "s", "d", "w",
        Seq(1L, 7L).toDF("n"), "n", maxRounds = 64)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(multi == Map(1L -> 0L, 2L -> 1L, 4L -> 2L, 5L -> 4L,
      7L -> 0L, 8L -> 3L), s"multi-seed: $multi")
    // a negative weight must fail loud, never ship a diverging answer
    val boom = intercept[IllegalArgumentException] {
      Graft.shortestPaths(Seq((1L, 2L, -1L)).toDF("s", "d", "w"),
        "s", "d", "w", Seq(1L).toDF("n"), "n")
    }
    assert(boom.getMessage.contains("negative edge weight"))
  }

  test("bfs distances: chain radius cutoff, multi-seed minimum, disconnected stays out") {
    import spark.implicits._
    // chain 1-2-…-10 plus the isolated edge 100-101
    val chain = (1L until 10L).map(i => (i, i + 1)) :+ ((100L, 101L))
    def bfs(seeds: Seq[Long], r: Int): Map[Long, Long] =
      Graft.bfsDistances(chain.toDF("s", "d"), "s", "d",
          seeds.toDF("n"), "n", maxDist = r)
        .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    // seed 1, radius 6: nodes 1..7 at 0..6; 8..10 beyond; 100/101 out
    assert(bfs(Seq(1L), 6) == (1L to 7L).map(n => n -> (n - 1)).toMap)
    // two seeds: every node takes the NEARER one (min, not first-found)
    val two = bfs(Seq(1L, 10L), 6)
    assert(two(5L) == 4L && two(6L) == 4L && two(10L) == 0L, s"$two")
    // radius 0 = seeds only; unknown seed ids settle themselves only
    assert(bfs(Seq(3L), 0) == Map(3L -> 0L))
    // frontier exhaustion short-circuits below the radius bound
    assert(bfs(Seq(100L), 6) == Map(100L -> 0L, 101L -> 1L))
  }

  test("link prediction: known CN/RA values; hub intermediates are suppressed by the degree cap") {
    import spark.implicits._
    // square 1-2, 1-3, 2-4, 3-4 (every degree 2): the two diagonals are
    // the only candidates, each via two intermediates of degree 2 →
    // cn = 2, ra = 2·(1000000 div 2) = 1000000.
    val square = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L))
    def predict(edges: Seq[(Long, Long)], frac: Double = 0.05) =
      Graft.linkPredict(edges.toDF("s", "d"), "s", "d", frac)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
        .toMap
    assert(predict(square) ==
      Map((2L, 3L) -> ((2L, 1000000L)), (1L, 4L) -> ((2L, 1000000L))))
    // add a disjoint double-star: hubs 100 and 101 each joined to the
    // same 20 spokes. Degrees: 24 nodes at 2, hubs at 20 → the p05 cap
    // lands on 2 and EXCLUDES the hubs: none of the 190 spoke pairs may
    // appear (their only common neighbors are hubs — hub co-citation is
    // not affinity evidence), while the hub PAIR itself is predicted
    // through the 20 degree-2 spokes (cn = 20, ra = 20·500000).
    val spokes = (200L until 220L).flatMap(s => Seq((100L, s), (101L, s)))
    val got = predict(square ++ spokes)
    assert(got == Map(
      (2L, 3L) -> ((2L, 1000000L)), (1L, 4L) -> ((2L, 1000000L)),
      (100L, 101L) -> ((20L, 10000000L))), s"hub suppression broke: $got")
    // lifting the cap (degFraction = 1.0 keeps every intermediate)
    // admits the hub-mediated spoke pairs: 190 of them, each cn = 2
    // via the two degree-20 hubs → ra = 2·(1000000 div 20) = 100000.
    val all = predict(square ++ spokes, frac = 1.0)
    assert(all.size == 3 + 190, s"expected 193 pairs, got ${all.size}")
    assert(all((200L, 201L)) == ((2L, 100000L)))
  }

  test("iterative graph loops run a pinned action budget and keep persisted only what the result reads") {
    // Each call runs on a fresh session (its last-run slots start
    // empty) over the fixtures of the tests above; after a normal
    // return the persisted RDDs are the ones found plus the checkpoints
    // the result reads, nothing else.
    def budget(name: String)(f: org.apache.spark.sql.SparkSession => DataFrame): (String, (Int, Int)) = {
      val s = spark.newSession()
      val before = persistedIds
      var out: DataFrame = null
      val cost = actionsDuring { out = f(s); () }
      val reads = Checkpoints.checkpointRdds(out).map(_.id).toSet
      assert(persistedIds == before ++ reads,
        s"$name left persisted ${persistedIds -- before -- reads} beyond what its result reads")
      SessionResources.release(s)
      name -> cost
    }
    def chainPairs(s: org.apache.spark.sql.SparkSession) = {
      import s.implicits._
      val nodes = ((1L to 10L) ++ Seq(20L, 21L, 22L, 30L)).toDF("id")
      val pairs = ((1L to 9L).map(i => (i, i + 1)) ++
        Seq((20L, 21L), (21L, 22L), (20L, 22L), (41L, 40L))).toDF("id_a", "id_b")
      (nodes, pairs)
    }
    val got = Seq(
      budget("componentsStars") { s =>
        val (nodes, pairs) = chainPairs(s)
        queries.Dedup.componentsStars(nodes, pairs.select(col("id_a").as("u"), col("id_b").as("v")))
      },
      budget("connectedComponentsPropagation") { s =>
        val (nodes, pairs) = chainPairs(s)
        queries.Dedup.connectedComponentsPropagation(nodes, pairs)
      },
      budget("pagerankEdges") { s =>
        import s.implicits._
        Graft.pagerank(Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 2L)).toDF("src", "dst"),
          "src", "dst", iters = 64, symmetrize = false, tolNano = 1L)
      },
      budget("kcoreNodes") { s =>
        import s.implicits._
        Graft.kcore(Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
          (4L, 5L), (5L, 6L)).toDF("a", "b"), "a", "b", k = 2)
      },
      budget("hierFlatten") { s =>
        import s.implicits._
        Graft.hierFlatten(Seq((1L, 1L), (2L, 1L), (3L, 2L), (4L, 3L), (5L, 4L),
          (10L, 10L), (11L, 10L), (12L, 10L), (13L, 11L)).toDF("n", "p"), "n", "p")
      },
      budget("bfsDistances") { s =>
        import s.implicits._
        Graft.bfsDistances(((1L until 10L).map(i => (i, i + 1)) :+ ((100L, 101L))).toDF("s", "d"),
          "s", "d", Seq(1L).toDF("n"), "n", maxDist = 6)
      },
      budget("ssspBounded") { s =>
        import s.implicits._
        Graft.shortestPaths(Seq((1L, 2L, 1L), (2L, 4L, 1L), (1L, 4L, 5L), (4L, 5L, 2L),
          (7L, 8L, 3L)).toDF("s", "d", "w"), "s", "d", "w", Seq(1L).toDF("n"), "n", maxRounds = 4)
      },
      budget("randomWalks") { s =>
        import s.implicits._
        Graft.randomWalks(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("a", "b"),
          "a", "b", steps = 64)
      },
      budget("node2vecWalks") { s =>
        import s.implicits._
        Graft.node2vecWalks(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("a", "b"),
          "a", "b", steps = 64)
      }).toMap
    val pinned = Map(
      "componentsStars" -> ((16, 47)),
      "connectedComponentsPropagation" -> ((21, 52)),
      "pagerankEdges" -> ((18, 166)),
      "kcoreNodes" -> ((10, 22)),
      "hierFlatten" -> ((7, 18)),
      "bfsDistances" -> ((15, 43)),
      "ssspBounded" -> ((16, 34)),
      "randomWalks" -> ((9, 23)),
      "node2vecWalks" -> ((9, 46)))
    assert(got == pinned, s"(SQL executions, jobs) per call: $got")
  }

  test("union-find regime routes by the edge cap (stars ≡ local above it)") {
    import spark.implicits._
    // Same chain through the public entry with the ids NON-integral
    // (strings can't be union-found locally) — proves the distributed
    // fallback path of connectedComponents itself.
    val nodes = Seq("a", "b", "c", "z").toDF("id")
    val pairs = Seq(("a", "b"), ("b", "c")).toDF("id_a", "id_b")
    val got = queries.Dedup.connectedComponents(nodes, pairs)
      .orderBy("id").collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(got == Seq(("a", "a"), ("b", "a"), ("c", "a"), ("z", "z")))
  }
}
