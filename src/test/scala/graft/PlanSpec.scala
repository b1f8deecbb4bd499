package graft

/** Plan-shape assertions (SURVEY §4): pushdown/pruning reach the parquet
  * scan, small dims broadcast, hot aggregates stay in whole-stage codegen.
  * These guard the 100 TB properties that row counts can't see. */
class PlanSpec extends SparkSuite {

  private def planOf(key: String): String = {
    val df = SparkEntry.queries(key)(spark, sf001)
    df.queryExecution.executedPlan.toString
  }

  test("scan_pushdown pushes the shipdate predicate to parquet") {
    val p = planOf("scan_pushdown")
    assert(p.contains("PushedFilters") && p.contains("l_shipdate"),
      s"no pushed filter in plan:\n$p")
  }

  test("scan_pruned reads only the selected columns") {
    val p = planOf("scan_pruned")
    assert(p.contains("l_quantity") && !p.contains("l_tax"),
      s"pruning failed — l_tax survived to the scan:\n$p")
  }

  test("scan_partition_prune resolves the date predicate to PartitionFilters") {
    val p = planOf("scan_partition_prune")
    // the predicate must bind to the partition directory listing, not a
    // post-scan Filter: PartitionFilters carries the d range and the
    // data-filter list stays free of d
    assert(p.contains("PartitionFilters") &&
      p.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1").contains("d#"),
      s"partition predicate not pruned at plan time:\n$p")
  }

  test("join_broadcast plans a BroadcastHashJoin") {
    assert(planOf("join_broadcast").contains("BroadcastHashJoin"))
  }

  test("join_left_semi / anti plan semi/anti hash joins") {
    assert(planOf("join_left_semi").contains("LeftSemi"))
    assert(planOf("join_left_anti").contains("LeftAnti"))
  }

  test("topk_global plans TakeOrderedAndProject (no global sort)") {
    assert(planOf("topk_global").contains("TakeOrderedAndProject"))
  }

  test("hb-bucketed warm layout makes stream_tumbling's aggregate exchange-free") {
    // the warmed hourly projection is repartitioned BY hb (round 6), so
    // the cache scan reports HashPartitioning(hb), which satisfies the
    // groupBy(hb, event_type) clustering — the only exchange left in the
    // plan is the final ORDER BY's range partitioning.
    Tables.warmEventsHourly(spark, sf001)
    val p = SparkEntry.queries("stream_tumbling")(spark, sf001)
      .queryExecution.executedPlan.toString
    // only the segment ABOVE the cache scan counts: the InMemoryRelation
    // subtree stores the warm-time repartition itself
    val above = p.substring(0, p.indexOf("InMemoryTableScan").max(0))
    assert(above.nonEmpty, s"no cache scan in plan:\n$p")
    assert(!above.toLowerCase.contains("exchange hashpartitioning"),
      s"aggregate still pays a hash exchange over the bucketed cache:\n$p")
  }

  test("join_fuzzy_symdel plans equi-joins on the variant signature — no cartesian, no BNLJ") {
    val p = planOf("join_fuzzy_symdel")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"fuzzy join degenerated to a product:\n$p")
    // the candidate join is keyed on the 8-byte hashed signature
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"no hash-keyed candidate join:\n$p")
  }

  test("bloom decontamination broadcasts the one-row filter; gram verify is an equi-join") {
    val df = SparkEntry.queries("pipeline_decontaminate_bloom")(spark, sf001)
    val p = df.queryExecution.executedPlan.toString
    // the 128 KiB filter relation rides a broadcast (a 1-row build side —
    // BNLJ with one row IS the broadcast idiom for a columnless join)
    assert(p.contains("Broadcast"), s"bloom filter not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in bloom plan:\n$p")
  }

  test("dedup_cluster edge kernel is one join-free linear pipeline") {
    // the bucket-pair jaccard kernel (round 6): per-doc set size comes
    // from a window on the existing doc_id clustering and pairs from
    // bucket grouping — no join operator anywhere, and exactly three
    // exchanges (doc_id spread, shingle buckets, pair aggregate). A join
    // or a fourth exchange creeping in means the self-join form is back.
    val p = queries.Dedup.jaccardPairsHashed(
        spark, Tables.documents(spark, sf001))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"join crept into the kernel:\n$p")
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 3, s"$exchanges exchanges (expected 3):\n$p")
  }

  test("production jaccard kernel auto-engages the df-cap decomposition on a hot corpus") {
    // round-9 VERDICT #5: the df-capped hot-shingle decomposition must
    // be the PRODUCTION default, not a forced-low-cap oracle key. A
    // synthetic corpus where one stopword trigram's df (1115) exceeds
    // HotShingleDfCap (1024): the production entry's plan must take the
    // decomposition branch (the hot-dominated sweep union is always in
    // the capped plan), and its rows must equal the plain kernel's.
    import spark.implicits._
    val base = (0 until 1100).map { i =>
      (i.toLong, s"h0 h1 h2 u${i}a u${i}b u${i}c u${i}d u${i}e u${i}f u${i}g u${i}h")
    }
    val dups = (0 until 15).map(i => (10000L + i, base(i)._2))
    val docs = (base ++ dups).toDF("doc_id", "text")
    val sh = queries.Dedup.hashedShinglePlan(spark, docs)
    // trigger condition at the PRODUCTION cap
    val hot = queries.Dedup.hotShingleProbe(sh)
    assert(hot.nonEmpty, "synthetic corpus failed to trip the production df cap")
    val prod = queries.Dedup.jaccardPairsHashed(spark, docs)
    val plain = queries.Dedup.jaccardPairsHashedFrom(sh, 0.2)
    assert(prod.queryExecution.optimizedPlan.toString.contains("Union"),
      "production plan did not take the capped decomposition branch")
    assert(!plain.queryExecution.optimizedPlan.toString.contains("Union"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val p = rows(prod)
    assert(p == rows(plain), "capped and plain kernels disagree")
    assert(p.size == 15 && p.forall(_._3 == 1.0),
      s"expected the 15 duplicated docs as jaccard-1.0 pairs, got ${p.size}")
  }

  test("topk_global scale shape pre-aggregates per l_orderkey below the join") {
    // the 100 TB-safe regime: map-side combine shrinks the fact table
    // BEFORE any join; no sf-scaling relation is force-broadcast
    val p = queries.Windows.topkGlobal(spark, sf001, preAgg = true)
      .queryExecution.executedPlan.toString
    assert("keys=\\[l_orderkey".r.findFirstIn(p).isDefined,
      s"no pre-join aggregate on l_orderkey:\n$p")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("topk_global small shape skips the pre-aggregate, keeps one custkey agg") {
    // below the size threshold the 150k-group pre-aggregate is pure
    // overhead (BENCH_NOTES §6): the raw rows join, ONE aggregate per
    // custkey, still TakeOrderedAndProject — and the fixture-scale key
    // must pick this regime
    val p = queries.Windows.topkGlobal(spark, sf001, preAgg = false)
      .queryExecution.executedPlan.toString
    assert("keys=\\[l_orderkey".r.findFirstIn(p).isEmpty,
      s"unexpected pre-join aggregate in the small regime:\n$p")
    assert(p.contains("TakeOrderedAndProject"))
    val key = planOf("topk_global")
    assert("keys=\\[l_orderkey".r.findFirstIn(key).isEmpty,
      "fixture-scale topk_global should choose the small regime")
  }

  test("topk_global regimes agree row-for-row") {
    val a = queries.Windows.topkGlobal(spark, sf001, preAgg = true).collect().toSeq
    val b = queries.Windows.topkGlobal(spark, sf001, preAgg = false).collect().toSeq
    assert(a == b)
  }

  test("topk_global ingest-denormalized path: same rows, aggregate plans exchange-free") {
    // The bench session warms lineitem#okrev_cust (order-grain revenue
    // with the customer key attached, bucketed by o_custkey). The
    // per-query plan must then be scan → broadcast customer → custkey
    // aggregate with NO hash exchange (the broadcast join expands the
    // cache's HashPartitioning(o_custkey) to c_custkey), and the rows
    // must equal the unwarmed small regime's. Fresh session so the warm
    // doesn't flip the shared session's regime for other tests.
    val s2 = spark.newSession()
    Tables.warm(s2, sf001, Seq("lineitem" -> None, "orders" -> Some("o_orderkey")))
    queries.Windows.warmOrderkeyRev(s2, sf001)
    assert(Tables.hasDerived(s2, sf001, "lineitem#okrev_cust"))
    val warmed = queries.Windows.topkGlobal(s2, sf001, preAgg = true)
    val rows = warmed.collect().toSeq
    val plain = queries.Windows.topkGlobal(spark, sf001, preAgg = false).collect().toSeq
    assert(rows == plain, "denormalized path diverged from the small regime")
    warmed.collect() // AQE final plan materialized
    // assert above the cache boundary only: the InMemoryRelation's
    // STORED build plan legitimately contains the one-time ingest
    // repartition — the per-query plan above it must not shuffle
    val p = warmed.queryExecution.executedPlan.toString
    val cut = p.indexOf("InMemoryRelation")
    assert(cut >= 0, s"expected the plan to read the warmed cache:\n$p")
    val perQuery = p.substring(0, cut)
    assert(!perQuery.contains("Exchange hashpartitioning"),
      s"denormalized topk_global still shuffles per query:\n$p")
  }

  test("bucketed tables co-locate the join (no shuffle exchange)") {
    // default warehouse (./spark-warehouse, gitignored) — the option is a
    // static conf and can't move after session start. Clear leftovers
    // from prior JVMs (a fresh metastore orphans the old locations).
    Seq("orders_b", "customer_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete()
        }
        rm(loc)
      }
    }
    Tables.orders(spark, sf001).write
      .bucketBy(4, "o_custkey").sortBy("o_custkey")
      .mode("overwrite").saveAsTable("orders_b")
    Tables.customer(spark, sf001).write
      .bucketBy(4, "c_custkey").sortBy("c_custkey")
      .mode("overwrite").saveAsTable("customer_b")
    val j = spark.table("orders_b").join(
      spark.table("customer_b"),
      org.apache.spark.sql.functions.col("o_custkey") ===
        org.apache.spark.sql.functions.col("c_custkey"))
    j.collect()
    val p = j.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles:\n$p")
  }

  test("dedup_embedding plans equi-joins, not a cartesian BNLJ") {
    // exact all-pairs cosine is intrinsically O(N²) COMPARES, but the
    // round-2 plan was also a BroadcastNestedLoopJoin — single-threaded
    // per broadcast copy and a driver OOM at scale. The block-pair
    // decomposition must keep every join hash-partitioned.
    val p = planOf("dedup_embedding")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"dedup_embedding still plans an all-pairs join operator:\n$p")
  }

  test("graph_triangles plans equi-joins only — no cartesian, no BNLJ") {
    // The degree-ordered orientation exists so the wedge-close runs as
    // hash equi-joins bounded by O(√m) out-lists; a cartesian or BNLJ
    // anywhere would mean the decomposition regressed to all-pairs.
    val p = planOf("graph_triangles")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"graph_triangles plans an all-pairs join operator:\n$p")
  }

  test("bucket-aligned warm cache eliminates the window exchange") {
    // Tables.warm with a bucket column must make the cached relation
    // report its HashPartitioning so a window partitioned on the same
    // key plans with no exchange — the mechanism behind the
    // topk_per_group bench win (BENCH_NOTES round 3 §4).
    val s2 = spark.newSession()
    Tables.warm(s2, sf001, Seq("lineitem" -> Some("l_suppkey")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("l_suppkey").orderBy("l_orderkey")
    val df = Tables.lineitem(s2, sf001)
      .select(org.apache.spark.sql.functions.col("l_suppkey"),
        org.apache.spark.sql.functions.col("l_orderkey"),
        org.apache.spark.sql.functions.row_number().over(w).as("rn"))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the only exchange allowed is INSIDE the cached relation's ingest
    // plan (its one repartition); the window itself must reuse it
    val aboveCache = p.split("InMemoryRelation").head
    assert(!aboveCache.contains("Exchange hashpartitioning"),
      s"window still shuffles above the bucketed cache:\n$p")
  }

  test("table cache is session-scoped: a second session gets its own DataFrames") {
    val s2 = spark.newSession()
    val a = Tables.lineitem(spark, sf001)
    val b = Tables.lineitem(s2, sf001)
    assert(a eq Tables.lineitem(spark, sf001), "cache miss within a session")
    assert(!(a eq b), "two sessions shared one cached DataFrame")
    assert(b.sparkSession eq s2, "second session's DataFrame bound to the wrong session")
    val key = (sf001, "lineitem")
    assert(held(spark, "tables.load").contains(key) && held(s2, "tables.load").contains(key),
      "each session's slot must hold its own entry")
  }

  test("subqueries decorrelate to joins — no per-row re-execution, no BNLJ") {
    // IN / EXISTS must become semi joins, NOT IN the null-aware anti
    // join, and the correlated scalar COUNT an aggregate+join — the
    // rewrites that make subqueries linear instead of O(N·M) at scale.
    assert(planOf("subq_in").contains("LeftSemi"))
    assert(planOf("subq_exists_corr").contains("LeftSemi"))
    val notIn = planOf("subq_not_in")
    assert(notIn.contains("LeftAnti"), s"NOT IN did not plan an anti join:\n$notIn")
    val corr = planOf("subq_scalar_corr")
    assert(corr.contains("LeftOuter") && corr.contains("count"),
      s"correlated scalar COUNT not rewritten to aggregate+outer join:\n$corr")
    // the lateral LIMIT 2 must decorrelate to a window rank, not a
    // per-customer re-execution or an unbounded join+sort
    val lateral = planOf("subq_lateral")
    assert(lateral.contains("row_number") || lateral.contains("Window"),
      s"lateral LIMIT not rewritten to a window rank:\n$lateral")
    Seq("subq_scalar", "subq_scalar_corr", "subq_in", "subq_not_in",
        "subq_exists_corr", "subq_lateral")
      .foreach { k =>
        val p = planOf(k)
        assert(!p.contains("CartesianProduct"), s"$k plans a cartesian:\n$p")
      }
  }

  test("agg_groupby runs inside whole-stage codegen with partial aggregation") {
    val df = SparkEntry.queries("agg_groupby")(spark, sf001)
    df.collect() // finalize the adaptive plan so codegen stages materialize
    val p = df.queryExecution.executedPlan.toString
    // whole-stage-codegen stages print as "*(n) Operator" in the plan
    assert(p.contains("*(1)"), s"no codegen span:\n$p")
    assert(p.contains("partial_"), s"no partial (map-side) aggregation:\n$p")
  }

  test("join_partition_dpp prunes fact partitions at runtime (dynamicpruning)") {
    val p = SparkEntry.queries("join_partition_dpp")(spark, sf001)
      .queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruning"),
      s"no dynamic partition pruning subquery in the fact scan:\n$p")
  }

  test("join_runtime_bloom injects a bloom runtime filter into the probe side") {
    // At production thresholds the 10 GB probe-side floor keeps the
    // filter off fixture-sized scans; lowering the thresholds proves the
    // query SHAPE is injection-eligible — selective build side, equi-join
    // — so at 100 TB the probe scan is pre-filtered by the bloom filter
    // instead of shuffling every row.
    // autoBroadcastJoinThreshold=-1 stands in for "both sides are big":
    // the rule only injects when the join will probably shuffle (a
    // broadcast join already prunes the probe side with its hash table),
    // which is exactly the 100 TB fact⋈fact case being modeled here.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val p = SparkEntry.queries("join_runtime_bloom")(spark, sf001)
        .queryExecution.optimizedPlan.toString
      assert(p.contains("bloom_filter") || p.contains("BloomFilter") ||
        p.contains("might_contain"),
        s"no bloom runtime filter in optimized plan:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("pipeline_pack: data-sized window carries the bucket key; bounded exchange inventory") {
    // Round-19 rewrite: the one-level form's single exchange came at the
    // price of a SERIAL whole-shard sort (each shard's full doc set on
    // one task — the win_distribution weak shape). The two-level form's
    // inventory: the subtotal aggregate and the final pack aggregate
    // exchange only PARTIAL-aggregated grain (bucket/pack rows, reduced
    // map-side), the offsets window runs over the 4096×-smaller subtotal
    // relation, and the ONE data-sized exchange feeds the
    // (shard, bkt)-partitioned window — whose per-task sort is bounded
    // by the bucket width at any corpus size.
    val df = SparkEntry.queries("pipeline_pack")(spark, sf001)
    df.collect() // finalize the adaptive plan
    // AdaptiveSparkPlan prints the final plan then "+- == Initial Plan =="
    // — inspect the final copy only
    val p = df.queryExecution.executedPlan.toString.split("Initial Plan")(0)
    val wins = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(wins.nonEmpty, s"no window in plan:\n$p")
    wins.filter(_.contains("n_tok")).foreach(l => assert(l.contains("bkt"),
      s"the data-sized running sum lost its bucket key (whole-shard sort):\n$l"))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges <= 4,
      s"exchange inventory grew past the two-level budget ($exchanges):\n$p")
    assert(p.contains("partial_"), s"no partial (map-side) aggregation:\n$p")
  }

  test("PQ encode pays one exchange: vec_id hash reused by block and reassembly aggregates") {
    // Pq.encode repartitions by vec_id up front; HashPartitioning on a
    // SUBSET of the grouping keys satisfies the (vec_id, b) block
    // aggregate and the per-vec reassembly alike, so neither aggregate
    // may add a shuffle (the pipeline_pack property — at corpus scale a
    // second exchange would re-move every encoded row).
    val emb = Tables.embeddings(spark, sf001).select("vec_id", "embedding")
    val model = graft.functions.Pq.fit(emb, "embedding")
    val df = graft.functions.Pq.encode(emb, "embedding", model)
    df.collect() // finalize the adaptive plan
    val p = df.queryExecution.executedPlan.toString.split("Initial Plan")(0)
    val exchanges = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning"))
      .count(!_.contains("ReusedExchange"))
    assert(exchanges == 1,
      s"expected exactly 1 hash exchange across the PQ encode, got $exchanges:\n$p")
  }

  /** The IVF-ADC search's 100 TB shapes: neither kernel input (query
    * cells, cell members with codes) plans a CartesianProduct, at most
    * two nested-loop joins appear across both — the bounded broadcast
    * centroid crossJoins of the FLAT assignment regime (c = 16 ≤ the
    * two-level gate; a 16-row broadcast side), one assignment pass per
    * input, which disappear past the gate where assignments switches
    * to the ap_topm descent — and the kernel meets the inputs by cell
    * in RDD code whose lineage holds no CartesianRDD. Returns the
    * inputs' executed plans (cells, members). */
  private def assertAdcKernelShape(in: graft.functions.AdcScan.Inputs): (String, String) = {
    val Seq(cells, members) = Seq(in.cells, in.members).map { df =>
      df.collect() // finalize the adaptive plan
      df.queryExecution.executedPlan.toString.split("Initial Plan")(0)
    }
    for (p <- Seq(cells, members))
      assert(!p.contains("CartesianProduct"), s"cartesian product in an IVFADC kernel input:\n$p")
    val bnlj = Seq(cells, members).map(_.linesIterator.count(l =>
      l.contains("BroadcastNestedLoopJoin") && !l.contains("Reused"))).sum
    assert(bnlj <= 2,
      s"$bnlj nested-loop joins — more than the two bounded centroid broadcasts:\n$cells\n$members")
    def lineage(r: org.apache.spark.rdd.RDD[_]): Seq[org.apache.spark.rdd.RDD[_]] =
      r +: r.dependencies.flatMap(d => lineage(d.rdd))
    // CartesianRDD is private to Spark: match it, and the SQL
    // cartesian's subclass of it, by class name
    val cartesian = lineage(graft.functions.AdcScan.scan(in, 5)).filter(r =>
      Iterator.iterate[Class[_]](r.getClass)(_.getSuperclass).takeWhile(_ != null)
        .exists(_.getName == "org.apache.spark.rdd.CartesianRDD"))
    assert(cartesian.isEmpty, s"cartesian RDD in the kernel lineage: $cartesian")
    (cells, members)
  }

  test("IVFADC composition: candidate generation and ADC are equi-joins, no cartesian") {
    // The composed IVFADC path (round-11 VERDICT #3), raw codes:
    // candidates are the members of a query's probed cells (c_id-keyed,
    // in the kernel), never a cross product of queries and corpus.
    val emb = Tables.embeddings(spark, sf001).select("vec_id", "embedding")
    val model = graft.functions.Pq.fit(emb, "embedding")
    assertAdcKernelShape(graft.functions.Pq.ivfAdcInputs(emb, "embedding", model,
      centroids = 16, nprobe = 8, "vec_id", None, None))
  }

  test("residual IVFADC keeps the no-cartesian candidate plan") {
    // The round-13 production path (IvfPqModel overload): the same
    // kernel shape, and the query cells' residuals take the centroid
    // vectors through a broadcast hash join.
    val emb = Tables.embeddings(spark, sf001).select("vec_id", "embedding")
    val im = graft.functions.Pq.fitIvfPq(emb, "embedding", centroids = 16)
    val (cells, _) = assertAdcKernelShape(graft.functions.Pq.ivfAdcInputs(emb,
      "embedding", im, nprobe = 8, "vec_id", None, None))
    assert(cells.contains("BroadcastHashJoin"), s"centroid join is not broadcast:\n$cells")
  }

  test("multi-level IVF descent: frontier never re-exchanges, vecs exchange is reused") {
    // The round-11 tree descent's 100 TB property (BENCH_NOTES §21):
    // the first per-vec aggregate hash-partitions by vec_id, and every
    // later level (explode kept parents → join vecs → broadcast-join
    // children → re-aggregate) PRESERVES that clustering — so across a
    // 3-deep descent the frontier side contributes exactly ONE hash
    // exchange, and the per-level vecs join side is one exchange subtree
    // REUSED by every level. Auto-broadcast is disabled so the vecs
    // joins take the shuffle form they would at corpus scale (the
    // children tables stay broadcast via the explicit hint).
    import spark.implicits._
    import org.apache.spark.sql.functions.call_function
    graft.functions.VectorExprs.register(spark)
    val rnd = new scala.util.Random(5)
    val rows = (0 until 2000).map { i =>
      (i.toLong, Seq.fill(8)(rnd.nextGaussian() * 10.0))
    }
    val e = rows.toDF("vec_id", "v")
    val cents = graft.functions.Ivf.seeds(e, 200, sampleN = 400)
    val thresholdBefore = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = graft.functions.Ivf.assignments(e, cents, nprobe = 1,
        (v, cv) => call_function("vec_sqdist", v, cv),
        twoLevelThreshold = 0, multiLevelThreshold = 0, branch = 8)
      df.collect() // finalize the adaptive plan
      val p = df.queryExecution.executedPlan.toString.split("Initial Plan")(0)
      // a ReusedExchange line prints the reused node's "Exchange
      // hashpartitioning(...)" as its reference — count real nodes only
      val exchanges = p.linesIterator
        .filter(_.contains("Exchange hashpartitioning"))
        .count(!_.contains("ReusedExchange"))
      // one for the first per-vec aggregate + one for the vecs join side
      assert(exchanges <= 2,
        s"expected ≤ 2 hash exchanges across the whole descent, got $exchanges:\n$p")
      assert(p.contains("ReusedExchange") || exchanges <= 1,
        s"per-level vecs exchanges are not reused:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresholdBefore)
  }

  test("equi-depth scale form plans no window and one data exchange (bucket agg)") {
    // round-16 VERDICT #1: the scale form must never sort or window the
    // full table — boundaries reduce through the mergeable sketch, the
    // assignment is a map against the broadcast 1-row boundary relation,
    // and the only hashpartitioning exchange is the 8-group bucket agg
    val p = planOf("agg_histogram_eqdepth_scale")
    assert(!p.contains("Window"), s"window crept into the scale form:\n$p")
    val exchanges = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning"))
      .count(!_.contains("ReusedExchange"))
    assert(exchanges <= 1, s"$exchanges hash exchanges (expected ≤ 1):\n$p")
    assert(p.contains("Broadcast"), s"boundary relation must broadcast:\n$p")
  }

  test("distribution scale form never windows a whole segment") {
    // round-18 VERDICT #3: win_distribution's Window.partitionBy on the
    // 5-value segment key puts each segment's full customer set on one
    // task. The scale twin may only window WITHIN a sketch bucket —
    // every Window operator's partition spec must carry the bucket key
    // alongside the segment — and the boundary/offset/count relations
    // must broadcast.
    val p = planOf("win_distribution_scale")
    val wins = p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(wins.nonEmpty, s"expected a within-bucket window:\n$p")
    wins.foreach(l => assert(l.contains("bkt"),
      s"a Window partitions without the bucket key (whole-segment sort):\n$l"))
    assert(p.contains("Broadcast"), s"stats relations must broadcast:\n$p")
  }

  test("golden-record survivorship plans hash aggregates, no window") {
    // round-18 VERDICT minor #4: mode selection must be the min_by
    // argmin aggregate (map-side partial on a mega-cluster), never a
    // per-component rank window
    val p = planOf("er_golden_record")
    assert(!p.contains("Window ["),
      s"window crept back into the survivorship kernel:\n$p")
  }

  test("weighted quartiles plan no window and one data exchange (sketch agg)") {
    // round-17 VERDICT #1: the per-group RANGE window put each group's
    // entire row set on one task (5 near-global sorts at 100 TB). The
    // WeightedQuantiles sketch form must plan as two ObjectHashAggregates
    // around the single group-key exchange — map-side partials, no
    // Window, no per-group sort (the eqdepth_scale discipline).
    val p = planOf("agg_weighted_median")
    assert(!p.contains("Window"), s"window crept back into the sketch form:\n$p")
    assert(p.contains("ObjectHashAggregate"),
      s"typed sketch aggregate missing from plan:\n$p")
    val exchanges = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning"))
      .count(!_.contains("ReusedExchange"))
    assert(exchanges <= 1, s"$exchanges hash exchanges (expected ≤ 1):\n$p")
  }

  test("link prediction wedges are equi-joins; no cartesian, anti-join present") {
    // the wedge stage must be two z-keyed equi-joins + one anti-join —
    // the only nested-loop allowed is the broadcast of the 1-row degree
    // cap (the eqdepth_scale boundary discipline)
    val p = planOf("graph_link_predict")
    assert(!p.contains("CartesianProduct"), s"cartesian in link predict:\n$p")
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnlj <= 1, s"$bnlj nested-loop joins (only the 1-row cap may):\n$p")
    assert(p.contains("LeftAnti"), s"edge anti-join missing:\n$p")
  }

  test("containment pairs never plan a cartesian (bucket-grouped pair stage)") {
    val p = planOf("dedup_containment")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"containment must stay bucket-grouped:\n$p")
    // round-17 VERDICT advisory #2: the df prune must be a PARTIAL
    // aggregation (bounded probe + isin filter — on this clean fixture
    // the probe finds nothing and the prune is plan-free), never a
    // per-shingle window that colocates a hot shingle's rows just to
    // drop them — and the pruned-vocabulary set sizes reduce the same
    // way, so no Window node appears anywhere in the containment plan.
    assert(!p.contains("Window"), s"window crept into the df prune:\n$p")
  }

  test("new pair-graph keys stay equi-join shaped (no cartesian anywhere)") {
    // dbscan/semantic reuse the block-pair embedding kernel; incremental
    // reuses the shingle bucket join — none may degrade to a product
    Seq("cluster_dbscan", "dedup_semantic", "dedup_incremental",
        "agg_weighted_median", "hier_flatten", "graph_bfs_distance")
      .foreach { k =>
        val p = planOf(k)
        assert(!p.contains("CartesianProduct"), s"$k plans a cartesian:\n$p")
      }
  }

  test("image phash pair join is a banded equi-join, no cartesian") {
    val p = planOf("dedup_image_phash")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"phash pairs must bucket on bands:\n$p")
  }

  test("rendezvous shard assignment is exchange-free (per-row argmax, no window)") {
    // round-16 VERDICT #2: the explode×S + per-key window form shuffled
    // S·N rows; the argmax form must plan ZERO exchanges — the
    // assignment is pure per-row compute
    import spark.implicits._
    val ids = (0L until 100L).toDF("doc_id")
    val p = graft.queries.TextOps.rendezvousAssign(ids, 8)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"exchange crept into rendezvousAssign:\n$p")
    assert(!p.contains("Window"), s"window crept into rendezvousAssign:\n$p")
  }
}
