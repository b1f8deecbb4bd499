package graft.queries

import graft.{QueryGroup, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY §2.K (part 1) — deduplication + similarity search, the
  * training-data-pipeline operators. Exact methods (hash-group, shingle
  * Jaccard, brute-force cosine) are oracled; the sketch/approximate
  * methods (MinHash-LSH, SimHash, IVF) are the 100 TB-scale paths and are
  * validated against their exact counterparts in the test suite (D3).
  */
object Dedup extends QueryGroup {

  /** 3-word shingles per document (docs shorter than 3 words have none).
    * `dedup = true` gives exact SET semantics (a distinct shuffle) for
    * Jaccard; minhash skips it — min() is idempotent over duplicates.
    *
    * Built as explode(sequence) + element_at + concat_ws — all codegen
    * operators — instead of a transform()/slice() lambda chain: Spark's
    * higher-order functions evaluate interpreted and break whole-stage
    * codegen (measured 4× slower on this stage). The repartition spreads
    * the explode-heavy stage across the cluster regardless of input file
    * layout — documents is a small-file scan here, and at 100 TB the
    * same move rebalances skewed file splits before the 50× row blowup. */
  private[graft] def shingles(s: SparkSession, docs: DataFrame,
      dedup: Boolean = true, n: Int = 3): DataFrame = {
    val base = docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= n)
      // partition BY doc_id, not round-robin: the same exchange that
      // spreads the explode also satisfies every downstream per-doc
      // clustering (distinct on (doc_id, shingle), groupBy(doc_id)) —
      // one shuffle instead of two. Workload-sized, not machine-sized
      // (BENCH_NOTES §12). Hash spread over all doc_ids is balanced
      // here; at 100 TB a pathologically hot document calls for the
      // salted chunked plan ([[hashedShinglePlanSkewSafe]]).
      .repartition(Tables.workloadPartitions(s, docs), col("doc_id"))
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(0), size(col("ws")) - n)).as("j"))
      .select(col("doc_id"), concat_ws(" ",
        (1 to n).map(o => element_at(col("ws"), col("j") + o)): _*).as("shingle"))
    if (dedup) base.distinct() else base
  }

  /** Exact 3-word-shingle Jaccard ≥ 0.2 pairs (doc_a < doc_b) — shared by
    * the pair query and the connected-components clustering. */
  private[graft] def jaccardPairs(s: SparkSession, docs: DataFrame,
      threshold: Double = 0.2): DataFrame = {
    val sh = shingles(s, docs)
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val pairs = sh.select(col("doc_id").as("doc_a"), col("shingle"))
      .join(sh.select(col("doc_id").as("doc_b"), col("shingle")), "shingle")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    pairs
      .join(sz.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sz.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 4))
      .filter(col("jaccard") >= threshold)
  }

  /** Jaccard ≥ threshold pairs with HASHED shingle identity —
    * xxhash64(w1,w2,w3), the minhash base — used by the cluster path,
    * where only the thresholded PAIR SET matters: the distinct / self-join
    * / pair-count pipeline shuffles 8-byte longs instead of 20-40-byte
    * shingle strings (measured ~3× on the self-join stage, the dominant
    * cost of dedup_cluster). Pair set and values are identical to
    * [[jaccardPairs]] modulo 64-bit collisions within one document pair
    * (P < 1e-8 at 100× this scale; the driver's oracle parity on
    * dedup_cluster and — since round 10 — dedup_jaccard itself would
    * catch one). The string-shingle self-join form survives only as the
    * letter-exact REFERENCE ([[jaccardPairs]]; ComponentsSpec baseline);
    * every production route, dedup_jaccard included, runs hashed. */
  /** The hashed shingle SET — distinct (doc_id, xxhash64(word triple))
    * rows WITH the per-doc set size `n` attached, hash-partitioned by
    * doc_id: the shared base relation of the whole hashed-dedup family
    * (jaccard pairs, minhash signatures). The repartition both spreads
    * the single-row-group scan's explode and satisfies every per-doc
    * consumer downstream (the distinct, the set-size window, the
    * signature aggregate — ClusteredDistribution on (doc_id, …) is
    * satisfied by HashPartitioning(doc_id)). Carrying `n` here (an
    * exchange-free window on the same clustering) instead of inside the
    * jaccard kernel moves the set-size sort into the ONE place the
    * relation is built — the bench's warmed materialization computes it
    * once, where the round-6 form re-ran the window on every rep (the
    * dedup_cluster regression, round-6 VERDICT #4). */
  private[graft] def hashedShinglePlan(s: SparkSession, docs: DataFrame): DataFrame =
    hashedShingleSetPlan(s, docs)
      .withColumn("n", count(lit(1)).over(Window.partitionBy("doc_id")))

  /** The BARE hashed shingle set — no per-doc size column. Signature-only
    * consumers (minhash: min() is idempotent and n-free) read this form
    * so the unwarmed path skips the per-doc window sort whose result the
    * aggregate never reads (round-7 ADVICE); [[hashedShinglePlan]] layers
    * the `n` window on top for the jaccard kernel and the warmed
    * materialization (computed once at ingest there). */
  private[graft] def hashedShingleSetPlan(s: SparkSession, docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 3)
      .repartition(Tables.workloadPartitions(s, docs), col("doc_id"))
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(0), size(col("ws")) - 3)).as("j"))
      .select(col("doc_id"), xxhash64(
        element_at(col("ws"), col("j") + 1),
        element_at(col("ws"), col("j") + 2),
        element_at(col("ws"), col("j") + 3)).as("shingle"))
      .distinct()

  /** The fixture-table shingle set: the bench session's warmed
    * materialization when present (an 8-byte-pair relation, in-memory
    * columnar, doc_id-bucketed — the ingest-side projection the
    * dedup family reads, like events#hourly), else the lazy plan —
    * identical rows either way. */
  private[graft] def shingleSet(s: SparkSession, dir: String): DataFrame =
    Tables.derived(s, dir, "documents#hshingles")(
      hashedShinglePlan(s, Tables.documents(s, dir)))

  /** [[shingleSet]] for SIGNATURE-only consumers: the warmed
    * materialization when present (it carries `n`; the aggregate ignores
    * the column), else the bare set WITHOUT the per-doc size window —
    * the unwarmed minhash/verify path pays no sort it never reads. */
  private[graft] def shingleSetSig(s: SparkSession, dir: String): DataFrame =
    Tables.derived(s, dir, "documents#hshingles")(
      hashedShingleSetPlan(s, Tables.documents(s, dir)))

  /** Bench-session ingest of [[shingleSet]] — through the skew-safe
    * plan: ingest is exactly where a pathologically hot document would
    * otherwise serialize the whole explode+distinct pipeline into one
    * task, and the one-time probe job is amortized over the session. On
    * a balanced corpus (every fixture) the probe finds nothing and the
    * ingested plan is IDENTICAL to [[hashedShinglePlan]]. */
  private[graft] def warmShingles(s: SparkSession, dir: String): Unit =
    Tables.warmDerived(s, dir, "documents#hshingles",
      hashedShinglePlanSkewSafe(s, Tables.documents(s, dir)))

  /** Hot-document word-count threshold for the skew fallback: ~2¹⁷ words
    * ≈ 128 k shingles in one per-doc task — roughly a single task's
    * comfortable explode+distinct workload; anything larger is the
    * pathological outlier the salted path exists for. */
  private[graft] val HotDocWordCap: Int = 1 << 17

  /** Skew-safe [[hashedShinglePlan]] (round-7 VERDICT #4, the house
    * `join_skew_salted` pattern ported to the shingle family): a bounded
    * probe (`limit(cap+1)`, same discipline as the AP solve probe and
    * the components edge cap) detects documents whose word count exceeds
    * `hotWordCap`. Cold documents take the normal doc_id-clustered
    * pipeline unchanged; each HOT document's shingle-start range is cut
    * into `chunkWords`-sized chunks — the word array is SLICED per chunk
    * before the exchange (a +2-word overlap per cut keeps every
    * cross-boundary shingle; the giant array never replicates whole) —
    * and the explode+hash runs partitioned by (doc_id, chunk), so no
    * task ever holds more than ~chunkWords of one document's work. The
    * distinct then clusters by (doc_id, shingle) — spread by shingle,
    * not hot by doc — and the per-doc set size attaches via a BROADCAST
    * join of the ≤`maxHot`-row count relation (the window form would
    * re-serialize the hot doc into one task). Rows are identical to the
    * plain plan: chunk decomposition covers each shingle start exactly
    * once, and hot/cold doc sets are disjoint. */
  private[graft] def hashedShinglePlanSkewSafe(
      s: SparkSession, docs: DataFrame,
      hotWordCap: Int = HotDocWordCap, chunkWords: Int = 4096,
      maxHot: Int = 1024): DataFrame = {
    val hot = docs
      .filter(size(split(col("text"), " ")) > hotWordCap)
      .select(col("doc_id"))
      .limit(maxHot + 1).collect()
    require(hot.length <= maxHot,
      s"more than $maxHot documents exceed $hotWordCap words — this is not " +
        "an outlier corpus; re-ingest with a larger chunk budget or raise maxHot")
    if (hot.isEmpty) hashedShinglePlan(s, docs)
    else {
      val hotIds = hot.map(_.getLong(0)).toSeq
      val cold = hashedShinglePlan(s,
        docs.filter(!col("doc_id").isin(hotIds: _*)))
      val W = chunkWords
      val hotSet = docs.filter(col("doc_id").isin(hotIds: _*))
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .filter(size(col("ws")) >= 3)
        // one row per (doc, chunk), sliced small BEFORE the exchange
        .select(col("doc_id"),
          // integer chunk count: Column./ is double division, so floor+cast
          explode(sequence(lit(0),
            floor((size(col("ws")) - 3) / W).cast("int"))).as("c"),
          col("ws"))
        .select(col("doc_id"), col("c"),
          slice(col("ws"), col("c") * W + 1, lit(W + 2)).as("sl"),
          least(lit(W - 1), size(col("ws")) - 3 - col("c") * W).as("jmax"))
        .repartition(Tables.workloadPartitions(s, docs), col("doc_id"), col("c"))
        .select(col("doc_id"),
          explode(sequence(lit(0), col("jmax"))).as("j"), col("sl"))
        .select(col("doc_id"), xxhash64(
          element_at(col("sl"), col("j") + 1),
          element_at(col("sl"), col("j") + 2),
          element_at(col("sl"), col("j") + 3)).as("shingle"))
        .distinct()
      val hotN = hotSet.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val hotWithN = hotSet.join(broadcast(hotN), "doc_id")
        .select(col("doc_id"), col("shingle"), col("n"))
      cold.unionByName(hotWithN)
    }
  }

  /** The PRODUCTION exact-Jaccard pair entry: hashed shingle base +
    * the df-capped hot-shingle decomposition engaged automatically
    * (round-9 VERDICT #5 — the capped kernel must be the default route,
    * not a separate key). On a balanced corpus the bounded probe finds
    * nothing and the plan IS the plain bucket kernel; past the cap the
    * cold/hot-correction/hot-dominated decomposition keeps every
    * pair-generation bucket bounded. Rows are byte-identical either way
    * (DedupSkewSpec + the dedup_jaccard_capped oracle key). */
  private[graft] def jaccardPairsHashed(s: SparkSession, docs: DataFrame,
      threshold: Double = 0.2): DataFrame = {
    val sh = hashedShinglePlan(s, docs)
    jaccardPairsHashedFrom(sh, threshold, hotShingleProbe(sh))
  }

  /** Every document labeled with its near-dup cluster (smallest
    * reachable doc_id over the jaccard ≥ 0.2 graph) — the shared base of
    * dedup_cluster and the canonical-representative selection. doc_id is
    * the documents PK and both pair endpoints are doc_ids, so nodes is a
    * distinct cover and the endpoint-union + distinct exchange is
    * skipped (nodesComplete). */
  private[graft] def docClusters(s: SparkSession, dir: String): DataFrame =
    connectedComponents(
        Tables.documents(s, dir).select(col("doc_id").as("id")),
        jaccardPairsHashedFrom(shingleSet(s, dir), 0.2, hotShinglesFor(s, dir))
          .select(col("doc_a").as("id_a"), col("doc_b").as("id_b")),
        nodesComplete = true)
      .select(col("id").as("doc_id"), col("component").as("cluster"))

  /** [[hotShingleProbe]] over the fixture shingle set, memoized per
    * (session, dir): the probe answer is a property of the corpus, so the
    * bench's steady-state reps reuse it instead of paying a probe job
    * each. */
  private val hotShingles = graft.SessionResources.slot[String, Seq[Long]]("dedup.hotShingles")

  private def hotShinglesFor(s: SparkSession, dir: String): Seq[Long] =
    hotShingles(s, dir)(hotShingleProbe(shingleSet(s, dir)))

  /** Representative selection given cluster labels `(doc_id, cluster)`
    * and a per-doc quality `(doc_id, q: double)`: per cluster keep the
    * max-q doc (ties → smallest doc_id, D6) with the cluster size
    * attached. The ONE kernel behind pipeline_keep_canonical and
    * Graft.keepCanonical — quality is double so fractional scores
    * (classifier outputs) rank correctly. ONE hash aggregate (argmax =
    * max_by over the (q, −doc_id) key), not a per-cluster rank window:
    * partial aggregation reduces a mega-cluster map-side, where the
    * window form colocated its entire membership on one task just to
    * keep row 1 (the round-18 keyed-window sweep). */
  private[graft] def keepCanonicalFrom(clusters: DataFrame,
      quality: DataFrame): DataFrame =
    clusters.join(quality, "doc_id")
      .groupBy("cluster")
      .agg(
        max_by(col("doc_id"), struct(col("q"), (-col("doc_id")).as("nid")))
          .as("doc_id"),
        count(lit(1)).as("n_members"))
      .select(col("doc_id"), col("cluster"), col("n_members"))

  /** Broadcast ceiling for the eval gram set: 2²¹ distinct grams ≈
    * 60-120 MB of strings on the driver and per executor — comfortably
    * under Spark's broadcast limits. Above it the driver would OOM (or
    * hit the 8 GB broadcast hard cap) with an opaque failure, so the
    * kernel falls back to a shuffled join instead (round-8 VERDICT #7 /
    * ADVICE: the unguarded broadcast turned a large eval corpus through
    * the public facade into a crash, not a plan change). */
  private[graft] val EvalGramBroadcastCap: Long = 1L << 21

  /** Per-train-doc count of distinct word `n`-grams appearing anywhere
    * in the eval corpus (0 = clean) — the ONE kernel behind
    * pipeline_decontaminate and Graft.decontaminate. Eval suites are
    * small by nature, so the eval gram set BROADCASTS and the exploded
    * train side never shuffles by gram; a gram-count probe guards the
    * assumption and an oversized eval corpus degrades to a shuffled
    * equi-join on the gram (identical rows, no driver-sized state). */
  private[graft] def decontaminate(s: SparkSession, train: DataFrame,
      eval: DataFrame, n: Int = 5,
      broadcastCap: Long = EvalGramBroadcastCap): DataFrame = {
    import s.implicits._
    // ONE bounded probe (limit(cap+1).collect(), the house discipline)
    // executes the eval gram plan exactly once. Within the cap the
    // grams are then already ON the driver — exactly where a
    // broadcast-hash build puts them anyway — so the join side becomes
    // an immutable local relation: the eval plan never re-executes at
    // consumption, there is no cache/checkpoint storage to manage or
    // release, and nothing a later call can invalidate. (Round-9
    // ADVICE flagged the probe+join double execution; the round-10
    // review found the checkpoint fix made EARLIER calls' lazy results
    // unreadable, and a cache registry is GC-nondeterministic through
    // CacheManager's plan dedup — the local relation has none of the
    // three failure modes.) Past the cap the shuffled equi-join reads
    // the raw recomputable plan: one more execution at consumption,
    // the declared degraded mode for oversized eval corpora.
    val eg = shingles(s, eval, n = n).select("shingle").distinct()
    val probe = eg.limit(math.min(broadcastCap + 1, Int.MaxValue.toLong).toInt)
      .collect()
    val egSide =
      if (probe.length <= broadcastCap)
        broadcast(probe.map(_.getString(0)).toSeq.toDF("shingle"))
      else eg
    val hits = shingles(s, train, n = n)
      .join(egSide, "shingle")
      .groupBy("doc_id").agg(count(lit(1)).as("n_contaminated_grams"))
    train.select("doc_id").join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_contaminated_grams"), lit(0L)).as("n_contaminated_grams"))
  }

  /** THE hashed exact-Jaccard pair kernel: Jaccard ≥ threshold pairs
    * (doc_a < doc_b, with inter, na, nb, jaccard) from a hashed shingle
    * set that carries the per-doc FULL set size `n` (see
    * [[hashedShinglePlan]]). Two modes, one pair stage each:
    *
    *  - BATCH (`inc` = None): every pair, from [[bucketPairCounts]] — ONE
    *    linear pipeline, no joins: group by shingle, emit each bucket's
    *    pairs with both sizes attached, pair-count aggregate, threshold.
    *    Bucket-grouped pair generation (the minhashPairs technique)
    *    halves the shuffle volume of a shingle self-join and drops the
    *    broadcast builds (measured vs the join form at sf0.1:
    *    ~1.4 s → ~0.7 s).
    *  - INCREMENT (`inc` = Some(doc_id relation)): every pair with at
    *    least one endpoint in the increment, from [[incPairCounts]] —
    *    the daily-batch dedup production runs ("dedup today's crawl
    *    against the corpus"): O(|inc|·df) bucket work instead of
    *    O(N·df), history×history never pairs. Values use FULL set sizes,
    *    so the rows are exactly batch mode's rows for the pairs that touch
    *    the increment (DedupSkewSpec and the dedup_incremental oracle
    *    key pin it).
    *
    * HOT-SHINGLE CAP: with `hotIds` empty (every balanced corpus — the
    * production entries probe with [[hotShingleProbe]]) the plan is the
    * plain pair stage. Otherwise a shingle in more than the cap's
    * documents would make its bucket quadratic in df (a stopword
    * trigram at 100 TB has df in the millions), and the kernel
    * decomposes, same rows to the byte:
    *
    *   1. COLD pairs: the pair stage over below-cap shingles only —
    *      every bucket ≤ dfCap docs. `inter` is partial (cold
    *      co-occurrences only).
    *   2. HOT correction: each candidate pair joins both sides' hot
    *      rows — (doc, shingle) rows of above-cap shingles, a LINEAR
    *      relation — and the per-pair hot co-occurrence count is added,
    *      making `inter` exact. Expansion is |candidates| × hot-shingles
    *      -per-doc, never df².
    *   3. HOT-DOMINATED sweep: a qualifying pair the cold stage cannot
    *      see shares ONLY hot shingles, so inter ≤ min(h_a, h_b) and
    *      inter ≥ τ′(n_a+n_b)/(1+τ′) force h·(1+τ′) ≥ τ′·n for BOTH
    *      docs, where τ′ = τ − 0.00005 is the effective threshold the
    *      rounded kernel actually applies (round-half boundary) —
    *      both are "hot-dominated" (≥ τ′/(1+τ′) of their shingles
    *      ultra-common; stopword-soup documents). The pair stage runs
    *      on that sub-corpus alone — buckets there are ≤ |hd| ≤ `maxHd`
    *      docs — with full shingle sets, so its values are exact too.
    *      Pairs caught by both stages are identical rows; distinct()
    *      collapses them.
    *
    * The union is therefore exactly the plain pair stage's output:
    * complete (every qualifying pair shares a cold shingle or has both
    * ends hot-dominated) with exact inter/na/nb on every emitted row. */
  private[graft] def jaccardPairsHashedFrom(sh: DataFrame,
      threshold: Double, hotIds: Seq[Long] = Nil,
      inc: Option[DataFrame] = None, maxHd: Int = 4096): DataFrame = {
    val incIds = inc.map(_.select(col("doc_id")).distinct())
    def pairCounts(s: DataFrame): DataFrame =
      incIds.fold(bucketPairCounts(s))(incPairCounts(s, _))
    def jac(pairs: DataFrame): DataFrame =
      withJaccard(pairs).filter(col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "inter", "na", "nb", "jaccard")
    if (hotIds.isEmpty) jac(pairCounts(sh))
    else {
      val shCold = sh.filter(!col("shingle").isin(hotIds: _*))
      val shHot = sh.filter(col("shingle").isin(hotIds: _*))
      // 1. cold candidates with partial inter
      val cold = pairCounts(shCold)
      // 2. exact hot co-occurrence count per candidate pair
      val hotInter = cold.select("doc_a", "doc_b")
        .join(shHot.select(col("doc_id").as("doc_a"), col("shingle")), "doc_a")
        .join(shHot.select(col("doc_id").as("doc_b"), col("shingle")),
          Seq("doc_b", "shingle"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("hinter"))
      val coldExact = cold
        .join(hotInter, Seq("doc_a", "doc_b"), "left")
        .withColumn("inter", col("inter") + coalesce(col("hinter"), lit(0L)))
        .drop("hinter")
      // 3. hot-dominated sub-corpus sweep (h·(1+τ′) ≥ τ′·n, the provable
      //    superset of both endpoints of any pair the cold stage misses).
      //    τ′ is the EFFECTIVE threshold at the rounding boundary: the
      //    kernel thresholds on round(jaccard, 4) (HALF_UP), so a pair
      //    qualifies iff its true Jaccard ≥ τ − 0.00005 — deriving the
      //    filter from the unrounded τ let a hot-only pair sitting in
      //    [τ−5e−5, τ) pass the plain kernel while both endpoints failed
      //    the sweep filter, breaking byte-exact equivalence at the
      //    boundary (round-9 ADVICE). Floored at 0 (a non-positive τ′
      //    flips the inequality; at 0 the filter keeps every hot doc —
      //    conservative, still a superset). In increment mode the
      //    sweep's pair stage keeps the increment restriction.
      val tEff = math.max(threshold - 0.00005, 0.0)
      val hd = shHot.groupBy("doc_id")
        .agg(count(lit(1)).as("h"), max(col("n")).as("hn"))
        .filter(col("h") * (1.0 + tEff) >= lit(tEff) * col("hn"))
        .select("doc_id")
      val hdProbe = hd.limit(maxHd + 1).collect()
      require(hdProbe.length <= maxHd,
        s"more than $maxHd documents are hot-dominated (≥ ${tEff / (1 + tEff)} " +
          "of their shingles are above the df cap) — this is not an outlier " +
          "corpus; raise the cap or maxHd")
      val sweep = jac(pairCounts(sh.join(hd, Seq("doc_id"), "left_semi")))
      jac(coldExact).unionByName(sweep).distinct()
    }
  }

  /** The bucket-grouped pair stage of batch mode: (doc_a, doc_b, inter,
    * na, nb) with inter = number of co-occurring shingles IN `sh`. */
  private def bucketPairCounts(sh: DataFrame): DataFrame =
    sh
      .groupBy("shingle")
      .agg(collect_list(struct(col("doc_id"), col("n"))).as("ms"))
      .filter(size(col("ms")) >= 2)
      .select(explode(col("ms")).as("a"), col("ms"))
      .select(col("a"), explode(col("ms")).as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"), max(col("a.n")).as("na"), max(col("b.n")).as("nb"))

  private def withJaccard(pairs: DataFrame): DataFrame =
    pairs.withColumn("jaccard",
      round(col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 4))

  /** The pair stage of increment mode: increment-touching pairs with
    * (partial, if `sh` is a cold subset) co-occurrence counts. Pair
    * generation joins the INCREMENT's shingle rows against every row of
    * `sh`; inc–inc pairs arrive in both orientations from the join, and
    * the (ia < ib OR ib ∉ inc) filter keeps exactly one. Carries both
    * endpoints' FULL set sizes (na, nb) through the pair aggregate,
    * exactly as [[bucketPairCounts]] does (round 22): `n` is a per-doc
    * constant already on every shingle row (written by
    * [[hashedShinglePlan]] / the shingle store), so reading it off the
    * joined rows replaces the corpus-wide `groupBy(doc_id).max(n)`
    * aggregate the jaccard stage used to re-derive sizes with — per
    * micro-batch that aggregate was a SECOND full scan of the shingle
    * store plus a corpus-sized exchange plus two pair-side joins
    * (§1.2 "don't recompute", §2.4). Values are identical: within a
    * group the orientation is unique (ia ∈ inc always; inc–inc pairs
    * keep only ia < ib), so the max() just reads the constant. */
  private def incPairCounts(sh: DataFrame, inc: DataFrame): DataFrame = {
    val shInc = sh.join(inc, Seq("doc_id"), "left_semi")
    val flagged = sh
      .join(inc.withColumn("incb", lit(true)), Seq("doc_id"), "left")
      .withColumn("incb", coalesce(col("incb"), lit(false)))
    shInc.select(col("doc_id").as("ia"), col("shingle"), col("n").as("nia"))
      .join(flagged.select(col("doc_id").as("ib"), col("shingle"),
        col("incb"), col("n").as("nib")), "shingle")
      .filter(col("ia") =!= col("ib"))
      .filter(col("ia") < col("ib") || !col("incb"))
      .groupBy(least(col("ia"), col("ib")).as("doc_a"),
        greatest(col("ia"), col("ib")).as("doc_b"))
      .agg(count(lit(1)).as("inter"),
        max(when(col("ia") < col("ib"), col("nia")).otherwise(col("nib"))).as("na"),
        max(when(col("ia") < col("ib"), col("nib")).otherwise(col("nia"))).as("nb"))
  }

  /** Deterministic DBSCAN (Ester et al. 1996) over a precomputed
    * ε-neighbor pair graph — the density clusterer that finds
    * arbitrary-shape clusters and calls sparse points NOISE, which
    * neither AP (every point assigned) nor components-over-threshold
    * (every pair merges) provides. `pairs`: unique undirected
    * (id_a, id_b) ε-neighbor pairs; `nodes`: (id) universe. CORE =
    * ≥ minPts neighbors (exclusive of self — stated because textbook
    * minPts sometimes counts the point); clusters = connected
    * components of the core-core subgraph (labels = min core id, D6);
    * BORDER = non-core adjacent to ≥ 1 core, attached to the SMALLEST
    * adjacent core label — classic DBSCAN leaves border assignment
    * scan-order-dependent, this is its deterministic refinement;
    * everything else NOISE (cluster −1). All stages are keyed
    * joins/aggs over the pair relation — the expensive part is the
    * ε-graph, which reuses whatever candidate generation fits the
    * scale (exact block-pair here, IVF co-membership at 100 TB). */
  private[graft] def dbscan(pairs: DataFrame, nodes: DataFrame,
      minPts: Int): DataFrame = {
    require(minPts >= 1, s"dbscan: minPts $minPts < 1")
    val und = pairs.select(col("id_a").as("u"), col("id_b").as("v"))
      .unionByName(pairs.select(col("id_b").as("u"), col("id_a").as("v")))
    val core = und.groupBy("u").agg(count(lit(1)).as("d"))
      .filter(col("d") >= minPts).select(col("u").as("id"))
    val ccEdges = pairs
      .join(core.select(col("id").as("id_a")), Seq("id_a"), "left_semi")
      .join(core.select(col("id").as("id_b")), Seq("id_b"), "left_semi")
    val comp = connectedComponents(core, ccEdges)
    val border = und
      .join(comp.select(col("id").as("v"), col("component")), "v")
      .groupBy("u").agg(min(col("component")).as("bcomp"))
      .join(core.withColumnRenamed("id", "u"), Seq("u"), "left_anti")
    nodes.select(col("id"))
      .join(comp.select(col("id"), col("component").as("ccomp")), Seq("id"), "left")
      .join(border.select(col("u").as("id"), col("bcomp")), Seq("id"), "left")
      .select(col("id"),
        coalesce(col("ccomp"), col("bcomp"), lit(-1L)).as("cluster"),
        when(col("ccomp").isNotNull, lit("core"))
          .when(col("bcomp").isNotNull, lit("border"))
          .otherwise(lit("noise")).as("role"))
  }

  /** Containment vocabulary prune: shingles in more than this many
    * documents are dropped from BOTH sets before containment is
    * measured. Unlike Jaccard's hot-shingle decomposition, containment
    * has no symmetric hot-dominated sweep (the contained endpoint can be
    * tiny while the container is arbitrary), so the skew guard is the
    * one contamination detectors actually use: ubiquitous n-grams are
    * boilerplate, not evidence of copying, and leave the vocabulary
    * (Brown et al. 2020's GPT-3 appendix drops high-df collision grams
    * for exactly this reason). Every surviving bucket is ≤ cap docs, so
    * the bucket-pair explode is bounded at any corpus scale. */
  private[graft] val ContainmentDfCap: Int = 256

  /** Containment report threshold: C(A→B) = |Sh(A)∩Sh(B)| / |Sh(A)| —
    * the fraction of A's (pruned) shingle set found in B. */
  private[graft] val ContainmentTau: Double = 0.6

  /** DIRECTED containment pairs — the asymmetric companion to Jaccard
    * dedup (Broder 1997's containment coefficient): Jaccard misses a
    * small document copied wholesale into a much larger one (the
    * union in its denominator swamps the intersection), which is the
    * shape both contamination checks and quote/boilerplate attribution
    * look for. For every candidate pair sharing a below-cap shingle,
    * emit BOTH directions (doc_contained, doc_container, containment)
    * where containment ≥ tau.
    *
    * Input `sh0`: the distinct (doc_id, shingle) relation (hashed or
    * string identity — values depend only on set membership). Plan: df
    * via PARTIAL aggregation (a hot shingle reduces to one count row
    * per task map-side — the per-shingle window this replaces colocated
    * a df-10M boilerplate gram's full row set on one task just to drop
    * it, round-17 VERDICT advisory #2); the above-cap list comes back
    * through a BOUNDED probe (`limit(maxHot+1)`, the hotShingleProbe
    * discipline — an unbounded driver collect of the hot vocabulary is
    * exactly the OOM the probe family exists to prevent; past the bound
    * it fails LOUD) and prunes as an isin filter, so the corpus never
    * shuffles for the prune at all; set sizes on the PRUNED vocabulary
    * (the denominator must not count dropped shingles) reduce the same
    * way, then the bucket-grouped pair stage — no Window anywhere,
    * buckets bounded by dfCap, never all-pairs. */
  private[graft] def containmentPairs(sh0: DataFrame,
      tau: Double = ContainmentTau, dfCap: Int = ContainmentDfCap,
      maxHot: Int = 1 << 16): DataFrame = {
    val base = sh0.select("doc_id", "shingle")
    val hot = base.groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap).select("shingle")
      .limit(maxHot + 1).collect().map(_.get(0)).toSeq
    require(hot.length <= maxHot,
      s"more than $maxHot shingles exceed document frequency $dfCap — this " +
        "is not an outlier vocabulary; raise dfCap or maxHot")
    val kept =
      if (hot.isEmpty) base else base.filter(!col("shingle").isin(hot: _*))
    val sizes = kept.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val pruned = kept.join(sizes, "doc_id")
    val pairs = bucketPairCounts(pruned)
    pairs.select(col("doc_a").as("doc_contained"),
        col("doc_b").as("doc_container"),
        round(col("inter").cast("double") / col("na"), 4).as("containment"))
      .unionByName(pairs.select(col("doc_b").as("doc_contained"),
        col("doc_a").as("doc_container"),
        round(col("inter").cast("double") / col("nb"), 4).as("containment")))
      .filter(col("containment") >= tau)
  }

  /** Document-frequency cap for the exact-Jaccard skew guard: a shingle
    * appearing in more than this many documents makes the bucket-pair
    * explode quadratic in its df (round-8 VERDICT #2: a stopword trigram
    * at 100 TB has df in the millions — one task would hold a df²-pair
    * explode). 1024 bounds any single cold bucket at ~0.5 M pairs. */
  private[graft] val HotShingleDfCap: Int = 1024

  /** Bounded probe for above-cap shingles (one job; memoizable for a
    * fixed relation — [[docClusters]] caches it per session/dir so the
    * bench's steady-state reps pay no probe). */
  private[graft] def hotShingleProbe(sh: DataFrame, dfCap: Int = HotShingleDfCap,
      maxHot: Int = 1 << 16): Seq[Long] = {
    val hot = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap)
      .select("shingle")
      .limit(maxHot + 1).collect()
    require(hot.length <= maxHot,
      s"more than $maxHot shingles exceed document frequency $dfCap — this " +
        "is not an outlier vocabulary; raise dfCap or maxHot")
    hot.map(_.getLong(0)).toSeq
  }

  /** Embeddings as double vectors with L2 norms (vec_dot is the native
    * codegen Expression — same fold order as the oracle's list fold). */
  private[graft] def normed(s: SparkSession, emb: DataFrame): DataFrame = {
    graft.functions.VectorExprs.register(s)
    emb.select(
      col("vec_id"),
      transform(col("embedding"), _.cast("double")).as("v"))
      .withColumn("nrm", sqrt(expr("vec_dot(v, v)")))
  }

  private[graft] def cosine(va: String, vb: String, na: String, nb: String): Column =
    expr(s"vec_dot($va, $vb)") / (col(na) * col(nb))

  /** The search_hybrid_rrf query set — ids present in BOTH documents
    * and embeddings at every fixture scale. A real deployment passes
    * its own query relation through [[graft.Graft.hybridSearch]]. */
  private[graft] val hybridQueryIds: Seq[Long] = Seq(3L, 47L, 102L)

  /** Hybrid lexical + vector retrieval with reciprocal-rank fusion —
    * the fusion rule behind every modern "hybrid search" stack
    * (Cormack et al. 2009's RRF; Elasticsearch/OpenSearch/Vespa ship
    * it verbatim): two candidate lists are ranked independently and
    * fused by score = 1/(60+rank_lex) + 1/(60+rank_vec), which needs
    * no score calibration between the two retrievers — only ranks.
    *
    *  - lexical side: distinct-term overlap between the query document
    *    and every candidate (the BM25 core with degenerate IDF — an
    *    exact integer count, engine-order-proof), ranked per query,
    *    pool capped at `poolK`.
    *  - vector side: exact cosine against the query vectors (round-4
    *    before ranking — the simsearch_topk discipline that makes
    *    cross-engine rank ties break identically on the id), same cap.
    *  - fusion: FULL OUTER on (query, candidate) — a candidate missing
    *    from one list contributes only the other list's term. The
    *    score is a fixed two-operand double expression (one division
    *    each + one commutative add), so it is bit-equal cross-engine.
    *
    * Scale shape: the query relation is tiny and BROADCAST to both
    * sides; the lexical join shuffles on term (posting-list sized),
    * the vector side is one broadcast pass over the embedding
    * relation, the two rank windows partition by query — nothing
    * all-pairs, nothing driver-side. Returns (q, rnk, d, score),
    * `topK` rows per query. */
  private[graft] def hybridRrf(s: SparkSession, docs: DataFrame,
      emb: DataFrame, queryIds: Seq[Long], poolK: Int, topK: Int): DataFrame = {
    require(queryIds.nonEmpty && topK > 0 && poolK >= topK,
      s"hybridRrf: need query ids and poolK >= topK > 0, got $queryIds, $poolK, $topK")
    // a query id missing from either relation would silently degrade
    // that query to a single-list (or empty) result — fail loud
    // instead (the round's fail-loud discipline). ONE bounded probe for
    // both relations (round-14 VERDICT: the two per-relation collects
    // were two driver actions per call; a union of the two filtered id
    // projections is a single job over ≤ 2·|queryIds| rows — an
    // in-flow assert_true can NOT carry this check, because a fully
    // absent id produces no downstream rows for a guard to ride, and
    // AQE may skip a broadcast guard branch once the probe side is
    // known empty)
    val present = docs.select(col("doc_id").cast("long").as("id"))
      .filter(col("id").isin(queryIds: _*)).distinct()
      .withColumn("side", lit("documents"))
      .unionByName(emb.select(col("vec_id").cast("long").as("id"))
        .filter(col("id").isin(queryIds: _*)).distinct()
        .withColumn("side", lit("embeddings")))
      .collect().map(r => (r.getString(1), r.getLong(0)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    for (side <- Seq("documents", "embeddings")) {
      val missing = queryIds.filterNot(present.getOrElse(side, Set.empty))
      require(missing.isEmpty,
        s"hybridRrf: query ids ${missing.mkString(",")} absent from the $side relation")
    }
    val rrfK = 60 // the constant from Cormack et al. 2009
    val wq = Window.partitionBy("q")
    val terms = docs.select(col("doc_id"),
      explode(array_distinct(split(lower(col("text")), "[^a-z]+"))).as("t"))
      .filter(length(col("t")) > 0)
    val lex = terms.filter(col("doc_id").isin(queryIds: _*))
      .select(col("doc_id").as("q"), col("t"))
      .join(terms.select(col("doc_id").as("d"), col("t")), "t")
      .filter(col("q") =!= col("d"))
      .groupBy("q", "d").agg(count(lit(1)).as("ovl"))
      .withColumn("rnk_lex",
        row_number().over(wq.orderBy(desc("ovl"), asc("d"))))
      .filter(col("rnk_lex") <= poolK)
      .select("q", "d", "rnk_lex")
    val n = normed(s, emb)
    val qv = n.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("q"), col("v").as("qv"), col("nrm").as("qn"))
    val vec = n.join(broadcast(qv), col("vec_id") =!= col("q"))
      .withColumn("cos",
        round(expr("vec_dot(v, qv)") / (col("nrm") * col("qn")), 4))
      .withColumn("rnk_vec",
        row_number().over(wq.orderBy(desc("cos"), asc("vec_id"))))
      .filter(col("rnk_vec") <= poolK)
      .select(col("q"), col("vec_id").as("d"), col("rnk_vec"))
    lex.join(vec, Seq("q", "d"), "full_outer")
      .withColumn("score", round(
        coalesce(lit(1.0) / (lit(rrfK) + col("rnk_lex")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("rnk_vec")), lit(0.0)), 6) + lit(0.0))
      .withColumn("rnk", row_number().over(wq.orderBy(desc("score"), asc("d"))))
      .filter(col("rnk") <= topK)
      .select(col("q"), col("rnk").cast("long").as("rnk"), col("d"), col("score"))
  }

  /** Free-text hybrid retrieval (round-14 VERDICT #4 — [[hybridRrf]]
    * takes pre-known corpus ids only): the query is a (q, qtext, qv)
    * RELATION — text tokenized AT QUERY TIME against the posting
    * relation (no corpus identity required), the vector side scored
    * against the caller-embedded query vector (real retrieval stacks
    * embed the query client-side and send text + vector together) —
    * fused by WEIGHTED RRF:
    * score = wLex/(60+rank_lex) + wVec/(60+rank_vec) (Cormack et al.
    * 2009 §4's weighted variant; both weights are fixed literals so the
    * double arithmetic stays bit-equal cross-engine). No
    * self-exclusion: free text has no corpus identity to exclude — a
    * query built from a corpus document's words SHOULD retrieve that
    * document at rank 1 (GraftSpec pins exactly that).
    *
    * Scale shape: identical to [[hybridRrf]] — the query relation is
    * tiny and broadcast to both sides (the lexical side joins its
    * exploded terms against the posting relation on term; the vector
    * side is one broadcast pass over the embedding relation), both rank
    * windows partition by query. A null query vector fails loud inside
    * the broadcast build (assert_true riding the qv projection — the
    * relation is always materialized, so the guard always evaluates).
    * Returns (q, rnk, d, score), topK rows per query. */
  private[graft] def hybridRrfText(s: SparkSession, docs: DataFrame,
      emb: DataFrame, queryRel: DataFrame, poolK: Int, topK: Int,
      wLex: Double = 1.0, wVec: Double = 1.0): DataFrame = {
    require(topK > 0 && poolK >= topK,
      s"hybridRrfText: need poolK >= topK > 0, got $poolK, $topK")
    require(wLex >= 0 && wVec >= 0 && wLex + wVec > 0,
      s"hybridRrfText: weights must be >= 0 and not both zero, got $wLex, $wVec")
    graft.functions.VectorExprs.register(s)
    val rrfK = 60
    val wq = Window.partitionBy("q")
    val terms = docs.select(col("doc_id"),
      explode(array_distinct(split(lower(col("text")), "[^a-z]+"))).as("t"))
      .filter(length(col("t")) > 0)
    val qterms = queryRel.select(col("q"),
      explode(array_distinct(split(lower(col("qtext")), "[^a-z]+"))).as("t"))
      .filter(length(col("t")) > 0)
    val lex = broadcast(qterms)
      .join(terms.select(col("doc_id").as("d"), col("t")), "t")
      .groupBy("q", "d").agg(count(lit(1)).as("ovl"))
      .withColumn("rnk_lex",
        row_number().over(wq.orderBy(desc("ovl"), asc("d"))))
      .filter(col("rnk_lex") <= poolK)
      .select("q", "d", "rnk_lex")
    val qv = queryRel.select(col("q"),
      when(assert_true(col("qv").isNotNull,
        lit("hybridRrfText: a query has a null vector")).isNull,
        transform(col("qv"), _.cast("double"))).as("qv"))
      .withColumn("qn", sqrt(expr("vec_dot(qv, qv)")))
    val n = normed(s, emb)
    val vec = n.crossJoin(broadcast(qv))
      .withColumn("cos",
        round(expr("vec_dot(v, qv)") / (col("nrm") * col("qn")), 4))
      .withColumn("rnk_vec",
        row_number().over(wq.orderBy(desc("cos"), asc("vec_id"))))
      .filter(col("rnk_vec") <= poolK)
      .select(col("q"), col("vec_id").as("d"), col("rnk_vec"))
    lex.join(vec, Seq("q", "d"), "full_outer")
      .withColumn("score", round(
        coalesce(lit(wLex) / (lit(rrfK) + col("rnk_lex")), lit(0.0)) +
          coalesce(lit(wVec) / (lit(rrfK) + col("rnk_vec")), lit(0.0)), 6) + lit(0.0))
      .withColumn("rnk", row_number().over(wq.orderBy(desc("score"), asc("d"))))
      .filter(col("rnk") <= topK)
      .select(col("q"), col("rnk").cast("long").as("rnk"), col("d"), col("score"))
  }

  /** BM25 lexical ranking (Robertson & Zaragoza 2009; the Lucene
    * `(N − df + 0.5)/(df + 0.5) + 1` idf form so scores stay positive):
    * score(q, d) = Σ_{t∈q} idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)).
    * The retrieval scorer proper, completing the search family beside
    * the RRF fusion keys (whose lexical leg is plain term overlap).
    * Scale: tf/df/dl are three keyed aggregates over the token explode,
    * the query terms broadcast, the (nd, avgdl) corpus stats ride a
    * broadcast 1-row aggregate (the corpus-total discipline), and the
    * per-query ranking is one bounded window. D2 order-proofing: each
    * term's contribution rounds to 6 places and sums EXACTLY as
    * DECIMAL(18,6) (the unigramSurprisal discipline), so the rank —
    * taken on the exact decimal sum, ties by doc id — cannot flip on
    * float addition order in either engine; the displayed score is one
    * final double cast, round 4. */
  private[graft] def bm25(s: SparkSession, docs: DataFrame,
      queryRel: DataFrame, topK: Int,
      k1: Double = bm25K1, b: Double = bm25B): DataFrame = {
    require(topK > 0, s"bm25: topK must be positive, got $topK")
    val toks = docs.select(col("doc_id"),
      explode(split(lower(col("text")), "[^a-z]+")).as("t"))
      .filter(length(col("t")) > 0)
    val tf = toks.groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
    val df = toks.select("doc_id", "t").distinct()
      .groupBy("t").agg(count(lit(1)).as("df"))
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("nd"), sum(col("dl")).as("tot"))
    val qterms = queryRel.select(col("q"),
      explode(array_distinct(split(lower(col("qtext")), "[^a-z]+"))).as("t"))
      .filter(length(col("t")) > 0)
    val term = broadcast(qterms)
      .join(tf, "t").join(df, "t").join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("tot").cast("double") / col("nd").cast("double"))
      .withColumn("idf", log(
        (col("nd").cast("double") - col("df") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5)) + lit(1.0)))
      .withColumn("contrib", graft.Det.dec(round(
        col("idf") * (col("tf").cast("double") * lit(k1 + 1.0)) /
          (col("tf").cast("double") +
            lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / col("avgdl"))),
        6)))
    term.groupBy("q", "doc_id").agg(sum(col("contrib")).as("sc"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("q").orderBy(desc("sc"), asc("doc_id"))))
      .filter(col("rnk") <= topK)
      // round the DECIMAL sum IN DECIMAL, then cast (the agg_entropy
      // lesson: rounding after the cast sits one binary ulp from a
      // decimal half boundary and the engines can disagree there)
      .select(col("q"), col("rnk").cast("long").as("rnk"),
        col("doc_id").as("d"), round(col("sc"), 4).cast("double").as("score"))
  }

  private[graft] val bm25K1 = 1.2
  private[graft] val bm25B = 0.75
  private[graft] val bm25TopK = 10

  /** Hops per walk of the graph_random_walk key — the oracle's unroll
    * depth is GENERATED from this. */
  private[graft] val walkSteps = 6

  /** The graph_random_walk oracle: same co-purchase edges, same
    * adjacency ranks (row_number over (u, v)), and every hop replayed
    * from [[walkHashSql]] as one CTE per step — each referencing its
    * predecessor exactly ONCE (the kcore CTE-inlining lesson; `adj` is
    * re-referenced per step, but it's a leaf, so inlining it costs a
    * constant factor, not an exponential one). */
  private def walkSql(steps: Int): String = {
    val hops = (1 to steps).map { i =>
      s"""f$i AS (
         |  SELECT f.start AS start, CAST($i AS BIGINT) AS step, a.v AS cur
         |  FROM f${i - 1} f JOIN adj a ON f.cur = a.u
         |  WHERE a.rn = ${walkHashSql("f.start", i, "f.cur")} % a.deg + 1)""".stripMargin
    }.mkString(",\n")
    val unions = (0 to steps).map(i => s"SELECT * FROM f$i").mkString("\nUNION ALL\n")
    s"""WITH items AS (
       |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |e0 AS (
       |  SELECT DISTINCT a.p AS u, b.p AS v
       |  FROM items a JOIN items b ON a.o = b.o AND a.p < b.p),
       |e AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
       |adj AS (
       |  SELECT u, v,
       |    row_number() OVER (PARTITION BY u ORDER BY v) AS rn,
       |    COUNT(*) OVER (PARTITION BY u) AS deg
       |  FROM (SELECT DISTINCT u, v FROM e)),
       |f0 AS (
       |  SELECT u AS start, CAST(0 AS BIGINT) AS step, u AS cur
       |  FROM (SELECT DISTINCT u FROM adj)),
       |$hops
       |SELECT start, step, cur AS node FROM (
       |$unions
       |) w ORDER BY start, step""".stripMargin
  }

  /** The graph_node2vec_walk oracle: the walkSql graph and f0/f1, then
    * every biased hop replayed as TWO CTEs — a candidate expansion
    * (adjacency join + N(prev) LEFT probe + the CASE weight) and the
    * cumulative-interval draw (two windows over the per-start
    * candidate rows, winner where r = h % Σw lands). Each level
    * references its predecessor exactly ONCE (kcore lesson); `adj` is
    * re-referenced per level but is a leaf. The zero-total fallback arm
    * is mirrored verbatim even though the pinned positive weights never
    * fire it — the predicate strings must not drift. */
  private def n2vSql(steps: Int, wr: Int, wn: Int, wf: Int): String = {
    val hops = (2 to steps).map { i =>
      s"""c$i AS (
         |  SELECT f.start AS start, f.cur AS cur, a.v AS x, a.rn AS rn, a.deg AS deg,
         |    CASE WHEN a.v = f.prev THEN CAST($wr AS BIGINT)
         |         WHEN p.pv IS NOT NULL THEN CAST($wn AS BIGINT)
         |         ELSE CAST($wf AS BIGINT) END AS w
         |  FROM f${i - 1} f
         |  JOIN adj a ON f.cur = a.u
         |  LEFT JOIN (SELECT u AS pu, v AS pv FROM adj) p
         |    ON p.pu = f.prev AND p.pv = a.v),
         |f$i AS (
         |  SELECT start, CAST($i AS BIGINT) AS step, cur AS prev, x AS cur
         |  FROM (
         |    SELECT start, cur, x, rn, deg, w,
         |      CAST(SUM(w) OVER (PARTITION BY start ORDER BY rn) AS BIGINT) AS cw,
         |      CAST(SUM(w) OVER (PARTITION BY start) AS BIGINT) AS tw,
         |      ${walkHashSql("start", i, "cur")} AS h
         |    FROM c$i) t
         |  WHERE ((h % GREATEST(tw, 1)) >= cw - w AND (h % GREATEST(tw, 1)) < cw)
         |     OR (tw = 0 AND rn = h % deg + 1))""".stripMargin
    }.mkString(",\n")
    val unions = (0 to steps).map(i => s"SELECT start, step, cur FROM f$i")
      .mkString("\nUNION ALL\n")
    s"""WITH items AS (
       |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |e0 AS (
       |  SELECT DISTINCT a.p AS u, b.p AS v
       |  FROM items a JOIN items b ON a.o = b.o AND a.p < b.p),
       |e AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
       |adj AS (
       |  SELECT u, v,
       |    row_number() OVER (PARTITION BY u ORDER BY v) AS rn,
       |    COUNT(*) OVER (PARTITION BY u) AS deg
       |  FROM (SELECT DISTINCT u, v FROM e)),
       |f0 AS (
       |  SELECT u AS start, CAST(0 AS BIGINT) AS step, u AS prev, u AS cur
       |  FROM (SELECT DISTINCT u FROM adj)),
       |f1 AS (
       |  SELECT f.start AS start, CAST(1 AS BIGINT) AS step,
       |    f.cur AS prev, a.v AS cur
       |  FROM f0 f JOIN adj a ON f.cur = a.u
       |  WHERE a.rn = ${walkHashSql("f.start", 1, "f.cur")} % a.deg + 1),
       |$hops
       |SELECT start, step, cur AS node FROM (
       |$unions
       |) w ORDER BY start, step""".stripMargin
  }

  /** The search_hybrid_text pinned queries — free-text strings over the
    * fixture vocabulary, each paired with the vec_id whose embedding
    * plays the caller-embedded query vector (ids present at every
    * fixture scale, like [[hybridQueryIds]]). Shared by the key and the
    * oracle generator so the two sides cannot drift. */
  private[graft] val hybridTextQueries: Seq[(Long, String, Long)] = Seq(
    (1L, "spark window query plan", 3L),
    (2L, "customer order line item", 47L),
    (3L, "hash join filter scan", 102L))
  private[graft] val hybridTextWLex = 1.0
  private[graft] val hybridTextWVec = 0.7
  // per-list candidate pool and fused top-k of BOTH hybrid keys
  // (search_hybrid_rrf / search_hybrid_text) — shared with the
  // generated oracle SQL (the zorderShardBits discipline: one
  // constant, no silent desync — review round 15)
  private[graft] val hybridTextPoolK = 20
  private[graft] val hybridTextTopK = 10

  /** 32-minhash signature per doc as 32 COLUMNS of one codegen'd hash
    * aggregate: min(xxhash64(h, seed)) for seed 0..31 over the shingle
    * hashes. ONE pass over the shingle rows, no 32× explode — the
    * aggregate input stays at |shingles| rows instead of 32·|shingles|
    * (the round-2 form; this one measured ~3× faster at sf0.1, same
    * values: min over the same per-(doc,seed) multiset). The shingle
    * string is hashed once; each per-seed hash then combines two
    * fixed-width longs in codegen — no string allocation on the hot
    * path. */
  /** Members per band bucket above which candidate generation switches
    * from ALL-PAIRS to CHAIN edges (consecutive pairs over the sorted
    * members). An oversized bucket is by construction a near-duplicate
    * MEGA-GROUP — its members share a full band of minhashes — whose
    * true pair count is quadratic in the group size: no pair listing
    * can be linear there (round-12 review; a 100k-copy document would
    * have exploded ~5·10⁹ rows out of 8 tasks). Chain edges keep the
    * output LINEAR while spanning the same connected component as
    * all-pairs on the RAW candidate graph. A chain, not a hub-star
    * (round-12 ADVICE): downstream RERANK filters each edge by exact
    * Jaccard, and under a star one banding-collision HUB (the smallest
    * id happening to be a false candidate) failed every spoke and
    * severed true near-dups from each other — a chain confines any one
    * bad member's damage to its two incident links. The residual
    * caveat stands either way: post-rerank connectivity of a capped
    * mega bucket can still be weaker than all-pairs would have been
    * (any linear subgraph trades that), which dedup absorbs because
    * mega buckets are near-identical copies in practice. Fixture
    * buckets sit far below the cap, so oracled and benched behavior is
    * bit-identical. (The bucket member ARRAY is linear in bucket
    * size — ~8 MB per million-copy bucket; for corpora beyond that,
    * run [[Graft.exactDuplicates]] digest dedup first, the standard
    * composition.) */
  private[graft] val BandBucketCap: Int = 4096

  /** MinHash-LSH candidate pairs — the scale path: band-bucket join
    * instead of the all-pairs shingle join. 8 bands × 4 rows; a band's
    * 4 minhashes collapse to one xxhash64 bucket key (collisions only
    * ADD candidates, with probability ~2⁻⁶⁴). Pairs come from grouping
    * each bucket's members, NOT a bands⋈bands self-join: the self-join
    * re-executes the whole signature pipeline for its second input
    * (measured 2× the query at sf0.1), while the group-by shuffles the
    * bucket rows once. Within-bucket pair generation is bounded by
    * [[BandBucketCap]] (chain edges above it); sort_array makes member
    * order — and thus pair orientation — partition-order-proof (D6). */
  private[graft] def minhashPairs(s: SparkSession, docs: DataFrame): DataFrame =
    minhashPairsFrom(minhashSignatures(s, docs))

  private[graft] def minhashPairsFrom(sig: DataFrame,
      bucketCap: Int = BandBucketCap): DataFrame = {
    val bands = sig.select(col("doc_id"),
        explode(array((0 to 7).map(b =>
          struct(lit(b).as("band"),
            xxhash64(col(s"m${4 * b}"), col(s"m${4 * b + 1}"),
              col(s"m${4 * b + 2}"), col(s"m${4 * b + 3}")).as("bsig"))): _*)).as("e"))
      .select(col("doc_id"), col("e.band").as("band"), col("e.bsig").as("bsig"))
    val buckets = bands.groupBy("band", "bsig")
      .agg(sort_array(collect_list(col("doc_id"))).as("ms"))
      .filter(size(col("ms")) >= 2)
    // ONE pass, no regime union (a union of two filtered branches
    // re-executes the bucket aggregate's reduce side per branch —
    // measured +47% on the benched key): each member pairs with the
    // members AFTER it in the sorted array — ALL of them at ≤ cap
    // (all-pairs, a < b structurally, no post-filter halving), only
    // the NEXT one above cap (chain edges — linear). The slice array
    // is linear in bucket size per row; the quadratic all-pairs
    // volume exists only as the streamed explode output.
    buckets
      .select(col("ms"), size(col("ms")).as("n"),
        posexplode(col("ms")).as(Seq("pa", "doc_a")))
      .select(col("doc_a"), explode(slice(col("ms"), col("pa") + 2,
        when(col("n") > lit(bucketCap), least(lit(1), col("n") - col("pa") - 1))
          .otherwise(col("n") - col("pa") - 1))).as("doc_b"))
      .distinct()
  }

  private[graft] def minhashSignatures(s: SparkSession, docs: DataFrame): DataFrame =
    minhashSignaturesFrom(hashedShingleSetPlan(s, docs))

  /** Signatures from a hashed shingle SET relation. min() is idempotent,
    * so signatures over the distinct set are identical to the historical
    * multiset form — and the set relation is shared with the jaccard
    * kernel (ONE base to compute, warm, and cache; its doc_id
    * partitioning makes this aggregate exchange-free). Shingle identity
    * is the hashed word triple, not dedup_jaccard's joined string: same
    * per-doc set modulo 64-bit collision; the minhash keys are D3
    * (recall-tested vs the string shingles' exact Jaccard), so the two
    * bases need not hash alike. */
  private[graft] def minhashSignaturesFrom(sh: DataFrame): DataFrame =
    sh
      .groupBy("doc_id")
      .agg(
        min(xxhash64(col("shingle"), lit(0))).as("m0"),
        (1 to 31).map(i => min(xxhash64(col("shingle"), lit(i))).as(s"m$i")): _*)

  /** LSH candidates reranked with exact Jaccard — [[minhashPairs]] bounds
    * the pair space, then exact shingle-Jaccard is computed for the
    * candidate pairs ONLY, over the HASHED shingle set (the same warmed
    * 8-byte base the signature and pair kernels share — round-9 VERDICT
    * #5 moved this stage off the string shingles). Every join here is
    * keyed by doc ids (candidate → its own shingle rows), never by
    * shingle, so a hot shingle CANNOT explode any bucket in this stage —
    * the df-capped decomposition lives in pair GENERATION
    * ([[jaccardPairsHashed]]); the rerank's shuffle is
    * O(|candidates| · shingles-per-doc) by construction. Values on
    * surviving pairs are exactly [[jaccardPairsHashed]]'s (same base,
    * same rounding); the result is the LSH-recall subset of
    * dedup_jaccard. */
  private[graft] def minhashRerankFrom(sh: DataFrame,
      threshold: Double = 0.2): DataFrame = {
    val cand = minhashPairsFrom(minhashSignaturesFrom(sh))
    // Every joined shingle row already carries its doc's set size `n`
    // (hashedShinglePlan), so the sizes ride through the intersection
    // aggregate as max(na)/max(nb) — exactly bucketPairCounts'
    // discipline. The first cut re-aggregated the whole relation for
    // sizes and joined them back twice (round-10 review).
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("shingle"),
        col("n").as("na")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("shingle"),
        col("n").as("nb")), Seq("doc_b", "shingle"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"),
        max(col("na")).as("na"), max(col("nb")).as("nb"))
      // the shared withJaccard rounding, NOT an inline copy — the
      // "values exactly jaccardPairsHashed's" invariant depends on one
      // definition of the formula (round-12 review)
      .transform(withJaccard)
      .filter(col("jaccard") >= threshold)
  }

  private[graft] def minhashRerank(s: SparkSession, docs: DataFrame,
      threshold: Double = 0.2): DataFrame =
    minhashRerankFrom(hashedShinglePlan(s, docs), threshold)

  /** 64-bit SimHash over token votes. */
  private[graft] def simhashes(s: SparkSession, docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .withColumn("h", xxhash64(col("term")))
    toks
      .select(col("doc_id"), col("tf"), col("h"),
        explode(sequence(lit(0), lit(63))).as("b"))
      .withColumn("vote",
        col("tf") * (expr("shiftright(h, CAST(b AS INT)) & CAST(1 AS BIGINT)") * 2 - 1))
      .groupBy("doc_id", "b").agg(sum(col("vote")).as("v"))
      .groupBy("doc_id")
      .agg(sum(when(col("v") > 0,
        expr("shiftleft(CAST(1 AS BIGINT), CAST(b AS INT))")).otherwise(0L)).as("simhash"))
  }

  /** SimHash near-dup pairs via banded bucketing: the 64-bit fingerprint
    * splits into 4×16-bit bands; by pigeonhole, two fingerprints within
    * hamming distance ≤ maxHamming (≤ 3 with 4 bands) agree EXACTLY on
    * at least one band, so the band-equality join finds every such pair
    * — exact result, but only bucket-mates are ever compared (no N²
    * cross join; the bucket join shuffles O(N·4) rows and compares
    * O(Σ bucket²) pairs).
    *
    * Exact-contract caveat (round-12 review): D exact copies of one
    * document genuinely HAVE D²/2 qualifying pairs — the quadratic is
    * in this operator's OUTPUT, not an avoidable plan artifact, so
    * unlike minhash candidates it cannot be star-capped without
    * breaking the "every hamming ≤ 3 pair" promise. The production
    * composition for duplicate-heavy corpora is digest dedup FIRST
    * ([[Graft.exactDuplicates]] / pipeline_keep_canonical), then
    * simhash over the distinct survivors. */
  private[graft] def simhashPairs(s: SparkSession, docs: DataFrame,
      maxHamming: Int = 3): DataFrame = {
    val sh = simhashes(s, docs)
    val banded = sh
      .select(col("doc_id"), col("simhash"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("bkey", expr("shiftright(simhash, CAST(band * 16 AS INT)) & 65535"))
    val a = banded.select(
      col("doc_id").as("doc_a"), col("simhash").as("ha"), col("band"), col("bkey"))
    val b = banded.select(
      col("doc_id").as("doc_b"), col("simhash").as("hb"), col("band"), col("bkey"))
    a.join(b, Seq("band", "bkey"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming").distinct()
  }

  /** Final-generation checkpoint of the LAST distributed components run
    * per session, released at the next run's start: the returned
    * DataFrame depends on its checkpoint (a localCheckpoint'd plan is
    * unrecomputable once unpersisted), so it cannot be freed inside the
    * call that made it — but repeated invocations in one session (the
    * bench's reps) must not accumulate one pinned checkpoint each.
    * Contract: consume a components result before the next call. */
  private val lastComponents = graft.SessionResources.lastRun("dedup.lastComponents")

  /** Edge-count bound for the in-memory union-find regime: 2²⁰ edges ≈
    * 16 MB of id pairs on the driver — same bounded-collect discipline as
    * the AP solve probe and the Ann index cap. */
  private[graft] val LocalEdgeCap: Int = 1 << 20

  /** Connected components over an edge list — two-regime, like
    * [[graft.ap.AffinityPropagation.solve]] and topk_global:
    *
    *   - ≤ [[LocalEdgeCap]] edges with integral ids (the near-dup graphs:
    *     pair generation has already collapsed N documents to a tiny pair
    *     set): one bounded collect, driver union-find (path-halving,
    *     min-root invariant), broadcast label map back — zero iterative
    *     Spark jobs, so the per-iteration dispatch cost that dominates a
    *     distributed loop at this size disappears.
    *   - above the cap (or non-integral ids): alternating
    *     large-star/small-star (Kiveris et al., "Connected Components in
    *     MapReduce and Beyond", SoCC'14) — O(log²) rounds independent of
    *     component diameter, each round two window passes over the edge
    *     set; converges to star graphs rooted at each component's min id.
    *     [[connectedComponentsPropagation]] (plain min-label, O(diameter)
    *     rounds) is kept as the equality baseline the suite checks both
    *     regimes against.
    *
    * @param nodes one column `id`; @param pairs columns `id_a`, `id_b`.
    *   Edge endpoints absent from `nodes` are unioned into the output
    *   (round-4 ADVICE: otherwise such a node never self-labels and
    *   silently drops), so `nodes` need not cover the edge list. Edges
    *   with a NULL endpoint are dropped (round-6 ADVICE: the probe's
    *   getLong would otherwise unbox null to 0 and silently attach the
    *   edge to node 0, merging unrelated components); isolated nodes
    *   self-label regardless.
    * @note NOT safe for concurrent calls on one SparkSession: the bounded
    *   probe temporarily sets spark.sql.limit.initialNumPartitions
    *   session-wide (restored in a finally). The single-threaded
    *   bench/verify drivers are fine; a shared-session service should
    *   scope calls via spark.newSession.
    * @param nodesComplete caller's guarantee that `nodes` is DISTINCT and
    *   covers every edge endpoint (true for dedup_cluster: doc_id is the
    *   documents primary key and both endpoints of every jaccard pair are
    *   doc_ids). Skips the endpoint-union + distinct exchange that exists
    *   only for partial node lists — one less shuffle per call, and at
    *   100 TB one less pass over an N-row relation.
    * @return (id, component) — component = smallest reachable id. */
  private[graft] def connectedComponents(nodes: DataFrame, pairs: DataFrame,
      nodesComplete: Boolean = false): DataFrame = {
    val p = pairs.select(col("id_a").as("u"), col("id_b").as("v"))
      .filter(col("id_a").isNotNull && col("id_b").isNotNull)
    val idType = nodes.schema("id").dataType
    val integral = idType == org.apache.spark.sql.types.LongType ||
      idType == org.apache.spark.sql.types.IntegerType
    val probed: Option[Array[(Long, Long)]] = if (integral) {
      val spark = nodes.sparkSession
      // The bounded probe is limit(cap+1).collect(). Two execution traps
      // around it, both measured this round:
      //   - a separate count()-then-collect() runs the WHOLE pipeline
      //     twice (DataFrame actions don't share shuffle outputs across
      //     separate plans), ~2× the cost;
      //   - a big-limit collect at the default
      //     spark.sql.limit.initialNumPartitions=1 runs incremental
      //     executeTake batches (1 partition, then 4×, …) — several
      //     sequential final-stage jobs.
      // Raising initialNumPartitions for just this probe makes the take
      // one job over all partitions, reusing the one pipeline execution.
      val key = "spark.sql.limit.initialNumPartitions"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, "4096")
      val rows = try {
        p.select(col("u").cast("long"), col("v").cast("long"))
          .limit(LocalEdgeCap + 1).collect()
      } finally {
        prev match {
          case Some(v) => spark.conf.set(key, v)
          case None => spark.conf.unset(key)
        }
      }
      if (rows.length <= LocalEdgeCap)
        Some(rows.map(r => (r.getLong(0), r.getLong(1)))) else None
    } else None
    probed match {
      case Some(edges) => componentsLocal(nodes, edges, idType, nodesComplete)
      case None => componentsStars(nodes, p, nodesComplete)
    }
  }

  /** Small-graph regime: union-find on the driver over a bounded edge
    * array, labels joined back as a broadcast map. Exact same result as
    * the distributed forms: component = min reachable id. */
  private def componentsLocal(nodes: DataFrame,
      edges: Array[(Long, Long)], idType: org.apache.spark.sql.types.DataType,
      nodesComplete: Boolean = false): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    // Union-find with the min-root invariant (the smaller root absorbs
    // the larger) + path halving. Linking by id rather than rank can
    // chain in adversarial insert orders, but path halving keeps the
    // amortized find near-constant at the 2²⁰ cap.
    val parent = new java.util.HashMap[Long, Long](edges.length * 2)
    def find(x0: Long): Long = {
      var x = x0
      var px = parent.getOrDefault(x, x)
      while (px != x) {
        val ppx = parent.getOrDefault(px, px)
        parent.put(x, ppx); x = ppx; px = parent.getOrDefault(x, x)
      }
      x
    }
    edges.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
      } else ()
      // seed both endpoints so the label map covers them even when one
      // never becomes a key via linking
      if (!parent.containsKey(a)) parent.put(a, find(a))
      if (!parent.containsKey(b)) parent.put(b, find(b))
    }
    val labelMap = {
      val ks = parent.keySet().toArray(Array.empty[java.lang.Long])
      ks.map(k => (k.longValue(), find(k.longValue()))).toSeq
    }
    val mapDf = labelMap.toDF("mid", "mcomp")
      .select(col("mid").cast(idType).as("mid"), col("mcomp").cast(idType).as("mcomp"))
    val base =
      if (nodesComplete) nodes.select(col("id"))
      else nodes.select(col("id"))
        .unionByName(mapDf.select(col("mid").as("id")))
        .distinct()
    base
      .join(broadcast(mapDf), col("id") === col("mid"), "left")
      .select(col("id"), coalesce(col("mcomp"), col("id")).as("component"))
  }

  /** One large-star round: every node u connects its strictly LARGER
    * neighbors to m = min(Γ(u) ∪ {u}) — a window min over the
    * symmetrized adjacency, no driver state. */
  private def largeStar(e: DataFrame): DataFrame = {
    val adj = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
    val wU = Window.partitionBy("u")
    adj.withColumn("m", least(min(col("v")).over(wU), col("u")))
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .distinct()
  }

  /** One small-star round: edges oriented big→small; every node u
    * connects its smaller neighbors AND itself to m = min(N(u)). */
  private def smallStar(e: DataFrame): DataFrame = {
    val or = e.select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v"))
    val wU = Window.partitionBy("u")
    val withMin = or.withColumn("m", min(col("v")).over(wU))
    withMin.filter(col("v") =!= col("m"))
      .select(col("v").as("u"), col("m").as("v"))
      .unionByName(withMin.select(col("u"), col("m").as("v")))
      .distinct()
  }

  /** Damped PageRank (d = 0.85, T fixed iterations) over the
    * supplier↔part bipartite graph of distinct lineitem pairs,
    * symmetrized so every node has out-edges (no dangling-mass term)
    * and an sf-proportional node count. Rank mass lives in EXACT
    * integer NANO-units (Σr = 10⁹ minus deterministic floor-division
    * dust): share = r div deg, r' = (0.15·10⁹ div N) + (85·Σshares)
    * div 100 — every step is integral, so the T-step fixpoint is
    * bit-identical in any engine that evaluates the same arithmetic,
    * and the DuckDB oracle replays the FULL iteration as T unrolled
    * CTEs generated from the same constants (float PageRank could
    * never be oracled this way: cross-engine sum order would diverge).
    * Each iteration is one join + one keyed aggregate — the standard
    * distributed PageRank dataflow; at 100 TB the edge/degree relations
    * would persist and the loop would localCheckpoint every few rounds
    * exactly like [[componentsStars]] (this oracled key keeps the
    * declarative 8-stage plan: Catalyst sees one tree, and the fixture
    * graphs are vocabulary-sized). Returns (node, rank_nano) —
    * suppliers at their key, parts at key + 10⁶. */
  private[graft] def pagerankNano(lineitem: DataFrame,
      iters: Int = pagerankIters): DataFrame = {
    val pairs = lineitem.select(col("l_suppkey").cast("long").as("sk"),
      col("l_partkey").cast("long").as("pk")).distinct()
    pagerankEdges(symmetrized(
      pairs.select(col("sk").as("u"), (col("pk") + 1000000L).as("v"))), iters,
      fillSourceless = false) // symmetric ⇒ every node has in-edges
  }

  /** u→v plus v→u in ONE pass (explode of a 2-struct array — a
    * union of two selects would evaluate the input relation twice,
    * re-paying its scan and distinct at every reference: round-14
    * review). */
  private[graft] def symmetrized(edges: DataFrame): DataFrame =
    edges.select(explode(array(
      struct(col("u"), col("v")),
      struct(col("v").as("u"), col("u").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))

  /** Deterministic random walks (the DeepWalk/node2vec data-generation
    * stage, Perozzi et al. 2014): one `steps`-hop walk per node over a
    * SYMMETRIZED edge relation, the next hop chosen by an integer hash
    * of (start, step, current) mod the current node's degree — so the
    * walk is "random" in distribution but exactly replayable by any
    * engine, which is what makes the key ORACLE-ABLE (and what a
    * production pipeline wants anyway: re-runs must emit identical
    * training sequences). Adjacency is built once — per-node neighbor
    * ranks and degree via two windows — and localCheckpointed so the
    * `steps` joins reuse it instead of recomputing the windows per hop;
    * the output materializes before the adjacency checkpoint releases
    * (the pagerank outCk discipline). Each hop is one equi-join of the
    * |nodes|-row frontier against adjacency on the current node,
    * filtered to the hash-ranked neighbor — every shuffle keyed,
    * nothing quadratic; at 100 TB this is the standard distributed
    * walk-table build. Walk hash terms are mod-reduced BEFORE the
    * multiply (ANSI overflow discipline) and the oracle's formula is
    * GENERATED from [[walkHashSql]]. Returns (start, step, node),
    * step 0 = the start itself. */
  private[graft] def randomWalks(edges: DataFrame, steps: Int): DataFrame = {
    require(steps >= 1 && steps <= 64, s"randomWalks: steps in 1..64, got $steps")
    graft.Checkpoints.scoped { s =>
      val adj = s.pin(edges.distinct()
        .withColumn("rn", row_number().over(
          Window.partitionBy("u").orderBy("v")))
        .withColumn("deg", count(lit(1)).over(Window.partitionBy("u"))))
      val start = adj.select(col("u").as("start")).distinct()
        .withColumn("step", lit(0L)).withColumn("cur", col("start"))
      // the pagerank checkpoint cadence (round-16 VERDICT #4): without it
      // a 64-step caller's last frontier chains 64 joins of lineage and
      // pays 64-deep Catalyst re-analysis per downstream branch; cutting
      // every 8 hops bounds every union branch's plan depth at 8 joins.
      // Interim checkpoints stay referenced by the later branches, so
      // they are freed only after the output materializes.
      val (_, out) = (1 to steps).foldLeft((start, start)) { case ((frontier, out), t) =>
        val next = frontier
          .join(adj, col("cur") === col("u"))
          .filter(col("rn") === expr(s"${walkHashSql("start", t, "cur")} % deg + 1"))
          .select(col("start"), lit(t.toLong).as("step"), col("v").as("cur"))
        val f = if (t % walkCheckpointEvery == 0 && t < steps) s.pin(next) else next
        (f, out.unionByName(f))
      }
      s.pin(out.select(col("start"), col("step"), col("cur").as("node")))
    }
  }

  /** Checkpoint cadence for the walk frontier — 8 hops ≈ the pagerank
    * per-round discipline; the oracled graph_random_walk key runs
    * steps=6 and never triggers it, so its plan is unchanged. */
  private[graft] val walkCheckpointEvery = 8

  /** BIASED (node2vec, Grover & Leskovec 2016) walks — the p/q
    * second-order extension of [[randomWalks]]: the next hop is drawn
    * with INTEGER weights by where the candidate x stands relative to
    * the previous node — `wReturn` when x = prev (1/p), `wNear` when
    * x ∈ N(prev) (distance 1), `wFar` otherwise (1/q) — so the walk
    * interpolates BFS (high wNear) and DFS (high wFar) exploration.
    * The draw stays hash-replayable and hence ORACLE-ABLE: candidates
    * rank by the adjacency rn, weights cumulate per frontier row (one
    * window keyed by start — each start has exactly ONE frontier row
    * per step), and the winner is the interval containing
    * r = hash(start, t, cur) % Σw. All-zero-weight rows (possible only
    * when a zero weight is configured, e.g. wReturn=0 on a pendant
    * whose sole candidate is prev) fall back to the uniform rule —
    * guarded as `h % greatest(Σw, 1)` because Spark's boolean AND does
    * not short-circuit per row and `h % 0` is an ANSI runtime error.
    * Hop 1 has no second-order context and uses the uniform rule.
    * Per hop: two keyed equi-joins (adjacency expand + N(prev) probe)
    * and one keyed window — linear, nothing quadratic; frontier
    * checkpoints on the [[walkCheckpointEvery]] cadence. Hop 1 of a
    * pendant-free graph never needs the fallback; ComponentsSpec pins
    * the p→∞ (no backtracking) and q→∞ (locality) laws plus the
    * fallback. Returns (start, step, node), step 0 = the start. */
  private[graft] def node2vecWalks(edges: DataFrame, steps: Int,
      wReturn: Int, wNear: Int, wFar: Int): DataFrame = {
    require(steps >= 1 && steps <= 64, s"node2vecWalks: steps in 1..64, got $steps")
    require(wReturn >= 0 && wNear >= 0 && wFar >= 0 &&
      (wReturn max wNear max wFar) > 0,
      "node2vecWalks: weights must be non-negative, at least one positive")
    graft.Checkpoints.scoped { s =>
      val adj = s.pin(edges.distinct()
        .withColumn("rn", row_number().over(
          Window.partitionBy("u").orderBy("v")))
        .withColumn("deg", count(lit(1)).over(Window.partitionBy("u"))))
      val prevAdj = adj.select(col("u").as("pu"), col("v").as("pv"))
      val start0 = adj.select(col("u").as("start")).distinct()
        .withColumn("step", lit(0L))
        .withColumn("prev", col("start")).withColumn("cur", col("start"))
      val first = start0
        .join(adj, col("cur") === col("u"))
        .filter(col("rn") === expr(s"${walkHashSql("start", 1, "cur")} % deg + 1"))
        .select(col("start"), lit(1L).as("step"),
          col("cur").as("prev"), col("v").as("cur"))
      val out0 = start0.select(col("start"), col("step"), col("cur"))
        .unionByName(first.select(col("start"), col("step"), col("cur")))
      val (_, out) = (2 to steps).foldLeft((first, out0)) { case ((frontier, out), t) =>
        val scored = frontier
          .join(adj, col("cur") === col("u"))
          .join(prevAdj, col("pu") === col("prev") && col("pv") === col("v"), "left")
          .withColumn("w", when(col("v") === col("prev"), lit(wReturn.toLong))
            .when(col("pv").isNotNull, lit(wNear.toLong))
            .otherwise(lit(wFar.toLong)))
          .withColumn("cw", sum(col("w")).over(
            Window.partitionBy("start").orderBy("rn")))
          .withColumn("tw", sum(col("w")).over(Window.partitionBy("start")))
          .withColumn("h", expr(walkHashSql("start", t, "cur")))
          .withColumn("r", col("h") % greatest(col("tw"), lit(1L)))
        val next = scored.filter(
          (col("r") >= col("cw") - col("w") && col("r") < col("cw")) ||
            (col("tw") === 0L && col("rn") === col("h") % col("deg") + 1L))
          .select(col("start"), lit(t.toLong).as("step"),
            col("cur").as("prev"), col("v").as("cur"))
        val f = if (t % walkCheckpointEvery == 0 && t < steps) s.pin(next) else next
        (f, out.unionByName(f.select(col("start"), col("step"), col("cur"))))
      }
      s.pin(out.select(col("start"), col("step"), col("cur").as("node")))
    }
  }

  /** graph_node2vec_walk's pinned parameters — weights (1, 2, 4) are
    * p=2, q=1/2 scaled to integers (mild DFS bias); the oracle
    * GENERATES from these, and they are strictly positive so the
    * zero-total fallback never fires on the oracled path. */
  private[graft] val n2vSteps = 6
  private[graft] val n2vWReturn = 1
  private[graft] val n2vWNear = 2
  private[graft] val n2vWFar = 4

  /** The hop-choice hash of [[randomWalks]] — identical SQL on the
    * Spark side and in the oracle (GENERATED from this). Terms
    * mod-reduce to 2²⁰ before multiplying by the mixing constants, so
    * the sum stays ≤ ~2⁴⁰ (ANSI-safe at any id); all inputs
    * non-negative, so plain `%` agrees across engines. */
  private[graft] def walkHashSql(start: String, t: Int, cur: String): String =
    s"((($start % 1048576) * 69069 + $t * 12345 + ($cur % 1048576) * 31337))"

  /** The iteration core on a (u, v) edge relation — the shape
    * [[graft.Graft.pagerank]] exposes on caller columns.
    *
    * Node set. By default the SOURCE set (deg's keys — the symmetrized
    * caller's case, where src = dst by construction). With
    * `includeSinks` the node set is src ∪ dst, so a pure sink (a
    * destination that never sources an edge) is RANKED rather than
    * silently dropped (round-14 ADVICE: the drop leaked its inbound
    * mass with no runtime signal), and its retained mass is
    * REDISTRIBUTED: each iteration adds the classic dangling term —
    * D = Σ rank over zero-out-degree nodes, every node receives
    * d·(D div N) alongside its in-neighbor shares — so Σ rank_nano
    * stays ≈ 10⁹ (minus integral-floor dust) on ANY directed graph.
    * The dangling relation rides as a broadcast one-row aggregate
    * (lazy — no driver action per iteration), and the whole mechanism
    * is planned only when a one-time bounded probe finds sinks at all:
    * sink-free graphs keep the exact round-14 dataflow and plan.
    *
    * A node with no IN-edges is NOT dropped either: the per-iteration
    * aggregate only emits in-neighbors, so the node set left-joins back
    * in and sourceless nodes keep their teleport base (0.15·10⁹ div N)
    * — the fill join runs only when `fillSourceless` (or
    * `includeSinks`, whose sinks may also lack in-edges) requires it;
    * symmetrized callers pass false because every node then has
    * in-edges and the join would be a per-row no-op costing one extra
    * stage per iteration.
    *
    * Long loops (round-14 VERDICT #2). With caller-supplied `iters` the
    * naive loop grows ONE plan tree linearly — the lineage blow-up
    * SURVEY §4.3 documents and the AP loop solves. Past
    * `checkpointEvery` iterations the loop truncates lineage with an
    * eager `localCheckpoint` at that cadence (and persists the
    * loop-invariant degE/nodes relations once, releasing them at the
    * end), so plan depth is bounded by the cadence regardless of
    * `iters`. `tolNano > 0` adds an integer-exact convergence stop:
    * at each checkpoint boundary one bounded action computes
    * max |Δrank_nano| since the previous boundary and the loop exits
    * early once it is ≤ `tolNano` — exact arithmetic means the test is
    * deterministic, no float-tolerance ambiguity. The oracled
    * graph_pagerank key (iters = 8 = cadence, tol 0) plans zero
    * checkpoints and zero probes: its declarative 8-stage tree — and
    * its bit-identical DuckDB replay — is unchanged. */
  private[graft] def pagerankEdges(edges: DataFrame, iters: Int,
      fillSourceless: Boolean = true,
      includeSinks: Boolean = false,
      checkpointEvery: Int = 8,
      tolNano: Long = 0L): DataFrame = {
    require(iters > 0, s"pagerank: iters must be positive, got $iters")
    require(checkpointEvery > 0,
      s"pagerank: checkpointEvery must be positive, got $checkpointEvery")
    require(tolNano >= 0, s"pagerank: tolNano must be >= 0, got $tolNano")
    // convergence is only observable at checkpoint boundaries (multiples
    // of checkpointEvery strictly inside the loop) — a tolNano with no
    // boundary to check at would be silently inert (review round 15)
    require(tolNano == 0L || iters > checkpointEvery,
      s"pagerank: tolNano=$tolNano can never fire with iters=$iters <= " +
        s"checkpointEvery=$checkpointEvery - lower checkpointEvery below " +
        "iters (boundaries are its multiples) or drop tolNano")
    val longLoop = iters > checkpointEvery
    graft.Checkpoints.scoped { s =>
      def pin(df: DataFrame): DataFrame = if (longLoop) s.pin(df) else df
      val deg = pin(edges.groupBy("u").agg(count(lit(1)).as("d")))
      val degE = pin(edges.join(deg, "u"))
      val srcNodes = deg.select(col("u").as("node"))
      // Sinks exist ⇔ some destination never sources an edge. One bounded
      // probe (count of a left-anti join) decides whether the dangling
      // machinery is planned at all — pure-source-set graphs (and every
      // symmetrized graph) skip it entirely.
      val sinks =
        if (includeSinks)
          pin(edges.select(col("v").as("node")).distinct()
            .join(srcNodes, Seq("node"), "left_anti"))
        else null
      val haveSinks = includeSinks && sinks.limit(1).count() > 0
      val nodes = pin(
        if (haveSinks) srcNodes.unionByName(sinks) else srcNodes)
      val fill = fillSourceless || haveSinks
      // N rides a broadcast one-row relation (the corpus-total discipline)
      val nRel = nodes.agg(count(lit(1)).as("cnt"))
      val r0 = nodes.crossJoin(broadcast(nRel))
        .select(col("node"), expr("1000000000 div cnt").as("r"))
      // state: (ranks, ranks at the last boundary, converged); a boundary
      // checkpoint is freed once the next one lands
      val (r, _, _) = s.rounds(iters)((r0, r0, false))(_._3) {
        case ((r, rAtBoundary, _), i) =>
          val agg = degE.join(r.withColumnRenamed("node", "u"), "u")
            .select(col("v"), expr("r div d").as("share"))
            .groupBy("v")
            .agg(sum(col("share")).as("s"))
            .withColumnRenamed("v", "node")
          val filled = (if (fill) nodes.join(agg, Seq("node"), "left") else agg)
            .crossJoin(broadcast(nRel))
          val next =
            if (haveSinks) {
              // dangling term: D div N extra inbound for every node, damped
              // with the shares — Σ rank stays ≈ 10⁹ on any directed graph
              val dRel = r.join(sinks, Seq("node"), "left_semi")
                .agg(coalesce(sum(col("r")), lit(0L)).as("dmass"))
              filled.crossJoin(broadcast(dRel))
                .select(col("node"),
                  expr("(150000000 div cnt) + (85 * (coalesce(s, CAST(0 AS BIGINT))" +
                    " + dmass div cnt)) div 100").as("r"))
            } else filled
              .select(col("node"),
                expr("(150000000 div cnt) + (85 * coalesce(s, CAST(0 AS BIGINT))) div 100").as("r"))
          if (!(longLoop && i % checkpointEvery == 0 && i < iters)) (next, rAtBoundary, false)
          else if (tolNano == 0) (s.pin(next), rAtBoundary, false)
          else {
            val ck = s.pin(next)
            val delta = ck.join(
              rAtBoundary.withColumnRenamed("r", "r_prev"), "node")
              .agg(max(abs(col("r") - col("r_prev"))).as("d"))
              .head().getLong(0)
            (ck, ck, delta <= tolNano)
          }
      }
      val out = r.select(col("node"), col("r").as("rank_nano"))
      if (!longLoop) out
      else {
        // Checkpoint the final plan; the scope then frees its inputs —
        // the pinned loop invariants and the last boundary checkpoint —
        // and this final checkpoint is registered for release at the
        // NEXT pagerank call on this session (consume a result before
        // calling again).
        val spark = edges.sparkSession
        val outCk = s.pin(out)
        // Release the PREVIOUS call's final checkpoint only AFTER the new
        // output is materialized (round-15 ADVICE): if the caller fed the
        // previous pagerank result (or a plan derived from it) back in as
        // this call's edges, releasing first would unpersist blocks this
        // run's input checkpoints were themselves built from mid-query.
        lastPagerank.release(spark)
        lastPagerank.record(spark, graft.Checkpoints.checkpointRdds(outCk))
        outCk
      }
    }
  }

  /** Final checkpoint of the LAST long-loop pagerank run per session —
    * the [[lastComponents]] contract: consume a result before the next
    * call. */
  private val lastPagerank = graft.SessionResources.lastRun("dedup.lastPagerank")

  private val pagerankIters = 8

  /** The graph_pagerank oracle: build edges/degrees/N, then unroll the
    * integral iteration as `iters` generated CTEs r1..rT — each the
    * literal SQL form of one Spark loop step, from the same constants.
    * DuckDB's SUM(BIGINT) widens to HUGEINT, hence the explicit cast. */
  private def pagerankSql(iters: Int): String = {
    val its = (1 to iters).map { i =>
      s"""r$i AS (
         |  SELECT e.v AS node, (150000000 // (SELECT cnt FROM n))
         |    + (85 * CAST(SUM(r${i - 1}.r // deg.d) AS BIGINT)) // 100 AS r
         |  FROM e JOIN r${i - 1} ON e.u = r${i - 1}.node
         |  JOIN deg ON e.u = deg.u
         |  GROUP BY e.v)""".stripMargin
    }.mkString(",\n")
    s"""WITH p AS (
       |  SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk FROM lineitem),
       |e AS (
       |  SELECT sk AS u, pk + 1000000 AS v FROM p
       |  UNION ALL
       |  SELECT pk + 1000000 AS u, sk AS v FROM p),
       |deg AS (SELECT u, COUNT(*) AS d FROM e GROUP BY u),
       |n AS (SELECT COUNT(*) AS cnt FROM deg),
       |r0 AS (SELECT u AS node, 1000000000 // cnt AS r FROM deg, n),
       |$its
       |SELECT node, r AS rank_nano FROM r$iters ORDER BY node""".stripMargin
  }

  /** k-core decomposition by iterative peeling (Seidman 1983; the
    * Batagelj–Zaveršnik sequential algorithm's distributed round form):
    * repeatedly drop every node with degree < k until the remaining
    * graph is a fixpoint — the maximal subgraph where every node keeps
    * ≥ k neighbors, the standard density filter before community/
    * influence analysis. Input: SYMMETRIZED (u, v) edges (both
    * directions present), so out-degree per u IS the degree. Each round
    * is one keyed degree aggregate + two semi-join-shaped equi-joins on
    * the survivor set; the new edge set localCheckpoints eagerly and
    * the superseded generation releases immediately (the
    * componentsStars discipline), so plan depth and storage stay O(1)
    * in rounds. Convergence is exact — successive survivor counts
    * equal — and a truncated peel NEVER ships: maxRounds overrun fails
    * loud (a partial peel is a superset of the core, i.e. a wrong
    * answer). Rounds are bounded by the peel depth (≤ longest
    * degeneracy cascade, ≤ |V| worst case on a path — raise maxRounds
    * for adversarial chains). Returns (node, deg) of the k-core with
    * IN-CORE degrees. */
  private[graft] def kcoreNodes(edges: DataFrame, k: Int,
      maxRounds: Int = 100): DataFrame = {
    require(k >= 1, s"kcore: k must be >= 1, got $k")
    require(maxRounds >= 1, s"kcore: maxRounds must be >= 1, got $maxRounds")
    graft.Checkpoints.scoped { s =>
      // state: (edges, node count after the previous round, converged)
      val (e, _, converged) = s.rounds(maxRounds)((s.pin(edges), -1L, false))(_._3) {
        case ((e, nPrev, _), _) =>
          val keep = s.pin(e.groupBy("u").agg(count(lit(1)).as("d"))
            .filter(col("d") >= k).select("u"))
          val nKeep = keep.count()
          if (nKeep == nPrev) (e, nPrev, true)
          else (s.pin(e.join(keep, "u")
            .join(keep.withColumnRenamed("u", "v"), "v")
            .select("u", "v")), nKeep, false)
      }
      if (!converged)
        throw new IllegalStateException(
          s"kcore: no fixpoint within $maxRounds rounds - a truncated peel " +
            "would ship a SUPERSET of the core; raise maxRounds")
      // materialize the result; the scope then frees the loop's final
      // edge checkpoint (the result is readable without it)
      s.pin(e.groupBy("u").agg(count(lit(1)).as("deg"))
        .select(col("u").as("node"), col("deg")))
    }
  }

  /** The graph_kcore fixture graph: the thinned supplier↔part bipartite
    * graph (only l_quantity ≤ 2 lineitems), sparse enough that k=3
    * peeling cascades for several rounds at every SF instead of
    * converging trivially. */
  private[graft] val kcoreK = 3
  private val kcoreOracleRounds = 8

  /** The graph_kcore oracle: unroll `rounds` peel rounds as generated
    * CTEs. Peeling is monotone with a unique fixpoint, so any unroll ≥
    * the fixture's rounds-to-fixpoint (measured ≤ 3 at sf ≤ 0.1; 8 is
    * headroom) equals the Spark loop's exact-convergence result —
    * extra rounds are no-ops. A fixpoint assertion in the final WHERE
    * (round-16 ADVICE) makes the headroom self-checking: if a future
    * fixture needs more than `rounds` peels the oracle ERRORS naming
    * the unroll depth instead of silently returning a superset that
    * fails parity with no hint. */
  private def kcoreSql(k: Int, rounds: Int): String = {
    // each round references the previous CTE exactly ONCE (per-endpoint
    // degrees via window counts, then filter both ends) — a
    // survivors-join form references e(i-1) three times per level, and
    // an engine that inlines CTEs expands that 3^rounds-fold (measured:
    // DuckDB planning hung on the 8-round unroll)
    val its = (1 to rounds).map { i =>
      s"""e$i AS (
         |  SELECT u, v FROM (
         |    SELECT u, v, COUNT(*) OVER (PARTITION BY u) AS du,
         |                 COUNT(*) OVER (PARTITION BY v) AS dv
         |    FROM e${i - 1}) t
         |  WHERE du >= $k AND dv >= $k)""".stripMargin
    }.mkString(",\n")
    s"""WITH p AS (
       |  SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk
       |  FROM lineitem WHERE l_quantity <= 2),
       |e0 AS (
       |  SELECT sk AS u, pk + 1000000 AS v FROM p
       |  UNION ALL
       |  SELECT pk + 1000000 AS u, sk AS v FROM p),
       |$its
       |SELECT u AS node, COUNT(*) AS deg FROM e$rounds
       |WHERE CASE
       |  WHEN (SELECT COUNT(*) FROM e$rounds) = (SELECT COUNT(*) FROM e${rounds - 1})
       |  THEN TRUE
       |  ELSE error('kcore oracle: unroll depth $rounds did not reach the peel fixpoint - raise kcoreOracleRounds')
       |END
       |GROUP BY u ORDER BY node""".stripMargin
  }

  /** Distributed regime: alternate large-star/small-star until the edge
    * set is a fixpoint — at which point every component is a star rooted
    * at its min id and the edge set IS the (node → component) map for
    * every non-root node. O(log²) rounds on any graph shape (vs
    * O(diameter) for plain propagation — the difference that matters on
    * the long chains a 100 TB entity-resolution graph contains).
    *
    * The returned DataFrame reads the final round's checkpoint: consume
    * it before calling any components method on this session again (the
    * next call releases it — a localCheckpoint'd plan is unrecomputable
    * once unpersisted). */
  private[graft] def componentsStars(nodes: DataFrame, p: DataFrame,
      nodesComplete: Boolean = false): DataFrame = {
    val spark = nodes.sparkSession
    lastComponents.release(spark)
    graft.Checkpoints.scoped { s =>
      // state: (edge set, its count, stable). Each generation's count
      // carries forward — re-counting the previous checkpoint every
      // round was one redundant full pass per star round (round-12 review)
      val (e, _, _) = s.rounds(Int.MaxValue) {
        val e0 = s.pin(p.filter(col("u").isNotNull && col("v").isNotNull)
          .filter(col("u") =!= col("v")).distinct())
        (e0, e0.count(), false)
      }(_._3) { case ((e, eCount, _), _) =>
        val next = s.pin(smallStar(largeStar(e)))
        val nextCount = next.count()
        // Exact set-equality convergence check: both sides are distinct, so
        // equal counts + empty difference ⇔ equal sets.
        (next, nextCount, nextCount == eCount && next.except(e).isEmpty)
      }
      lastComponents.record(spark, graft.Checkpoints.checkpointRdds(e))
      val base =
        if (nodesComplete) nodes.select(col("id"))
        else nodes.select(col("id"))
          .unionByName(e.select(col("u").as("id")))
          .unionByName(e.select(col("v").as("id")))
          .distinct()
      base
        .join(e.select(col("u").as("id"), col("v").as("comp")), Seq("id"), "left")
        .select(col("id"), coalesce(col("comp"), col("id")).as("component"))
    }
  }

  /** Plain distributed min-label propagation — the textbook O(diameter)
    * baseline [[componentsStars]] and [[componentsLocal]] are
    * equality-tested against. Each iteration every node takes the min of
    * its own and its neighbors' labels (join + groupBy = 2 shuffles over
    * the edge list) until a fixpoint; no driver state beyond the
    * convergence counter. The returned DataFrame reads the final
    * iteration's checkpoint — consume it before the next components call
    * on this session (see [[componentsStars]]). */
  private[graft] def connectedComponentsPropagation(nodes: DataFrame, pairs: DataFrame): DataFrame = {
    val spark = nodes.sparkSession
    lastComponents.release(spark)
    graft.Checkpoints.scoped { s =>
      // Materialize the pair-generation pipeline ONCE: the edge list is
      // consumed forward + reversed and then on every iteration — without
      // the checkpoint the union would execute the (expensive) upstream
      // pipeline twice in a single plan.
      val p = s.pin(pairs.select(col("id_a").as("u"), col("id_b").as("v"))
        .filter(col("id_a").isNotNull && col("id_b").isNotNull))
      val adj = p.unionByName(p.select(col("v").as("u"), col("u").as("v")))
      val labels0 = nodes.select(col("id").as("u"))
        .unionByName(adj.select(col("u")))
        .distinct()
        .select(col("u"), col("u").as("lbl"))
      val lblType = labels0.schema("lbl").dataType
      // state: (labels, nodes changed by the last iteration)
      val (labels, _) = s.rounds(Int.MaxValue)((labels0, 1L))(_._2 == 0) {
        case ((labels, _), _) =>
          // One pass computes BOTH the new labels and the convergence signal:
          // self rows carry their current label in `own` (null on propagated
          // rows), so after the min-label aggregate `lbl < own` on the
          // materialized checkpoint IS the per-node change flag — no second
          // join against the previous generation per iteration.
          val nbr = adj.join(labels.withColumnRenamed("u", "v"), "v")
            .select(col("u"), col("lbl"), lit(null).cast(lblType).as("own"))
          val next = s.pin(labels.select(col("u"), col("lbl"), col("lbl").as("own"))
            .unionByName(nbr)
            .groupBy("u").agg(min(col("lbl")).as("lbl"), min(col("own")).as("own")))
          (next.select("u", "lbl"), next.filter(col("lbl") < col("own")).count())
      }
      // The result reads only the final generation's checkpoint; the
      // edge list is freed on exit.
      lastComponents.record(spark, graft.Checkpoints.checkpointRdds(labels))
      labels.select(col("u").as("id"), col("lbl").as("component"))
    }
  }

  /** SUBSTRING-level dedup statistics (round-17; the Lee et al. 2022
    * "Deduplicating Training Data Makes Language Models Better"
    * concern: doc-level and shingle-SET dedup both miss long spans
    * copied BETWEEN otherwise-distinct documents): per document, the
    * count of word-`k`-gram positions whose gram text occurs in at
    * least one OTHER document, and the longest such consecutive run
    * expressed in WORDS (run + k − 1 — a run of r adjacent shared
    * k-grams is one shared span of r+k−1 words). Everything is keyed —
    * grams bucket by their text (the decontaminate discipline: exact
    * strings, no cross-engine hash), the shared set is a gram-keyed
    * distinct-doc count, membership is one semi-shaped join, and the
    * run detection is the gaps-and-islands window per document — never
    * all-pairs, nothing quadratic in documents. Docs shorter than `k`
    * words (no grams) report zeros via the LEFT join.
    * Returns (doc_id, n_shared_grams, longest_shared_words). */
  private[graft] def sharedSpanStats(docs: DataFrame, k: Int): DataFrame = {
    val runs = sharedGramRuns(docs, k)
    val agg = runs.groupBy("doc_id").agg(
      sum(col("run")).as("ns"), max(col("run")).as("mr"))
    docs.select(col("doc_id"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("ns"), lit(0L)).as("n_shared_grams"),
        coalesce(col("mr") + lit((k - 1).toLong), lit(0L)).as("longest_shared_words"))
  }

  /** Shared kernel of [[sharedSpanStats]] and [[substringCut]]: the
    * maximal runs of cross-document-shared word-`k`-gram positions per
    * document — (doc_id, s = first gram position, run = #adjacent
    * shared positions). Grams bucket by their exact text, the shared
    * set is a gram-keyed distinct-doc count ≥ 2 (within-doc repetition
    * alone is NOT shared), membership is one semi-shaped join, and run
    * detection is the gaps-and-islands window per document — never
    * all-pairs, nothing quadratic in documents. */
  private[graft] def sharedGramRuns(docs: DataFrame, k: Int): DataFrame = {
    require(k >= 2 && k <= 64, s"sharedGramRuns: k in 2..64, got $k")
    val grams = docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= k)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(1, size(ws) - ${k - 1}), i -> array_join(slice(ws, i, $k), ' '))"))
        .as(Seq("p0", "g")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("i"), col("g"))
    val shared = grams.select("doc_id", "g").distinct()
      .groupBy("g").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2).select("g")
    grams.join(shared, "g").select("doc_id", "i")
      .withColumn("isl", col("i") - row_number().over(
        Window.partitionBy("doc_id").orderBy("i")))
      .groupBy("doc_id", "isl")
      .agg(min(col("i")).as("s"), count(lit(1)).as("run"))
      .select("doc_id", "s", "run")
  }

  /** Substring-dedup CUT step (the corpus rewrite [[sharedSpanStats]]
    * only reports; Lee et al. 2022 §4 removes the repeated spans from
    * the training corpus): every word position covered by a
    * cross-document-shared `k`-gram run is deleted and the survivors
    * are rejoined left-to-right. Within-doc repetition is untouched
    * (the shared set requires ≥ 2 distinct documents). Overlapping
    * covered ranges from nearby runs collapse via the position-set
    * distinct, so removed-word counts are exact coverage, not summed
    * span lengths. Scale shape: the runs relation (one row per shared
    * island — far smaller than the corpus) is localCheckpoint'd once
    * and fans into both the span count and the coverage explode (≤ k
    * positions per run row); the rebuild is word-granularity keyed by
    * doc_id — linear in corpus size, never pairs. Docs with nothing
    * shared rebuild to their (single-spaced) text unchanged; a doc cut
    * to nothing emits the empty string.
    * Returns (doc_id, cleaned_text, n_removed_spans, n_removed_words). */
  private[graft] def substringCut(docs: DataFrame, k: Int): DataFrame = {
    val runs = sharedGramRuns(docs, k).localCheckpoint()
    val covered = runs
      .select(col("doc_id"),
        explode(sequence(col("s"), col("s") + col("run") + lit((k - 2).toLong)))
          .as("wpos"))
      .distinct()
    val words = docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("p0", "word")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("wpos"), col("word"))
    val rebuilt = words
      .join(covered, Seq("doc_id", "wpos"), "left_anti")
      .groupBy("doc_id")
      .agg(concat_ws(" ",
        transform(array_sort(collect_list(struct(col("wpos"), col("word")))),
          _.getField("word"))).as("ct"))
    val nSpans = runs.groupBy("doc_id").agg(count(lit(1)).as("nsp"))
    val nWords = covered.groupBy("doc_id").agg(count(lit(1)).as("nrw"))
    docs.select(col("doc_id"))
      .join(rebuilt, Seq("doc_id"), "left")
      .join(nSpans, Seq("doc_id"), "left")
      .join(nWords, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("ct"), lit("")).as("cleaned_text"),
        coalesce(col("nsp"), lit(0L)).as("n_removed_spans"),
        coalesce(col("nrw"), lit(0L)).as("n_removed_words"))
  }

  private[graft] val substringGramK = 8

  def queries: Seq[(String, Q)] = Seq(
    // Exact duplicate texts: first doc_id wins, copy count kept.
    "dedup_exact" -> ((s, dir) =>
      Tables.documents(s, dir)
        .groupBy("text")
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
        .select("doc_id", "n_copies")
        .orderBy("doc_id")),

    // Cross-document repeated-span detection (kernel scaladoc on
    // [[sharedSpanStats]]): per doc, shared-8-gram position count and
    // the longest shared span in words — 45 of the 500 sf0.001 docs
    // carry a shared span, so the key is load-bearing at every SF.
    "dedup_substring" -> ((s, dir) =>
      sharedSpanStats(Tables.documents(s, dir), substringGramK)
        .orderBy("doc_id")),

    // The CUT companion (kernel scaladoc on [[substringCut]]): emit the
    // cleaned corpus with every cross-doc-shared 8-gram span removed —
    // the step Lee et al. 2022's pipeline actually performs on the
    // training data, where dedup_substring only measures.
    "dedup_substring_cut" -> ((s, dir) =>
      substringCut(Tables.documents(s, dir), substringGramK)
        .orderBy("doc_id")),

    // Exact dedup by content digest — at 100 TB you group by a 128-bit
    // hash instead of shuffling full document bodies; md5 is computed
    // identically by both engines so this stays fully oracled.
    "dedup_exact_hash" -> ((s, dir) =>
      Tables.documents(s, dir)
        .groupBy(md5(encode(col("text"), "UTF-8")).as("digest"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
        .select("doc_id", "digest", "n_copies")
        .orderBy("doc_id")),

    // Exact near-dup pairs: 3-word-shingle Jaccard ≥ 0.2, via the
    // PRODUCTION route (round-9 VERDICT #5): hashed shingle base (the
    // warmed documents#hshingles relation), bucket-grouped pair
    // generation, and the df-capped hot-shingle decomposition engaged
    // automatically at HotShingleDfCap (memoized probe). On the
    // balanced fixture the probe finds nothing and the plan is the
    // plain bucket kernel; values equal the string-shingle SQL oracle
    // exactly (hashed identity is set-equal modulo 2^-64 collisions —
    // the same basis dedup_cluster has oracled green since round 6).
    // The string-shingle self-join form stays available as the
    // letter-exact reference (jaccardPairs; ComponentsSpec baseline).
    "dedup_jaccard" -> ((s, dir) =>
      jaccardPairsHashedFrom(shingleSet(s, dir), 0.2, hotShinglesFor(s, dir))
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")),

    // The skew-safe exact-Jaccard kernel under the DRIVER's oracle, with
    // a cap (df > 4; the fixture's max df is 7) low enough that the
    // hot-shingle decomposition — cold buckets + hot-intersection
    // correction + hot-dominated sweep — actually executes: the oracle
    // is the same exact-Jaccard SQL as dedup_jaccard, so the driver
    // verifies the decomposition's completeness AND values byte-exactly
    // every round, not just in the suite (which covers the synthetic
    // stopword corpus). Production entry points use HotShingleDfCap,
    // where pair-generation buckets stay bounded at any corpus scale.
    "dedup_jaccard_capped" -> ((s, dir) => {
      val sh = hashedShinglePlan(s, Tables.documents(s, dir))
      jaccardPairsHashedFrom(sh, 0.2,
          hotShingleProbe(sh, dfCap = 4), maxHd = 1 << 14)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    }),

    // Incremental dedup (increment mode of [[jaccardPairsHashedFrom]]):
    // the doc_id % 5 == 0 slice plays today's batch; every emitted pair
    // touches it, history×history never pairs, values are full-corpus
    // exact. The oracle is the BATCH pair SQL filtered to
    // increment-touching pairs — parity proves the incremental plan
    // loses nothing and invents nothing.
    "dedup_incremental" -> ((s, dir) => {
      val sh = shingleSet(s, dir)
      jaccardPairsHashedFrom(sh, 0.2, hotShinglesFor(s, dir),
          Some(sh.select("doc_id").distinct().filter(col("doc_id") % 5 === 0)))
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    }),

    // DIRECTED containment pairs (Broder 1997's containment
    // coefficient) — the asymmetric report Jaccard structurally misses:
    // a short document copied wholesale into a much larger one scores
    // inter/(na+nb−inter) ≈ na/nb → fails any Jaccard threshold, while
    // its containment inter/na is 1.0. The kernel prunes ubiquitous
    // shingles (df > cap — boilerplate, not evidence) instead of
    // decomposing around them: that is both the contamination-detector
    // semantic AND the skew bound (every bucket ≤ cap docs). Reads the
    // session's warmed hashed-shingle relation; values depend only on
    // set membership, so the string-shingle oracle re-derives them
    // exactly (the dedup_jaccard hashed-identity argument).
    "dedup_containment" -> ((s, dir) =>
      containmentPairs(shingleSet(s, dir).select("doc_id", "shingle"))
        .orderBy("doc_contained", "doc_container")),

    // Near-dup CLUSTERS: connected components of the jaccard ≥ 0.2 pair
    // graph, every document labeled with the smallest doc_id reachable
    // from it (singletons label themselves) — the canonicalization step a
    // dedup pipeline runs after pair generation ("keep one doc per
    // component"). Two-regime (see connectedComponents): pair generation
    // has already collapsed the corpus to a tiny edge set, so below the
    // 2²⁰-edge cap a bounded driver union-find + broadcast label join
    // replaces the iterative distributed loop (whose per-iteration job
    // dispatch dominates at this size); above it, alternating
    // large-star/small-star runs in O(log²) rounds regardless of
    // component diameter. All regimes equality-tested against plain
    // min-label propagation; same DuckDB recursive-CTE oracle.
    "dedup_cluster" -> ((s, dir) =>
      docClusters(s, dir).orderBy("doc_id")),

    // Representative selection after near-dup clustering — the step
    // that actually SHRINKS the corpus ("keep one per cluster"): per
    // component keep the doc with the most content (max n_chars, tie →
    // smallest doc_id, D6) and report the cluster size alongside, so
    // the drop is auditable. Every stage is keyed on cluster/doc_id —
    // linear shuffles; the ranking window partitions by cluster, whose
    // cardinality is ~|docs| (no hot key by construction: a cluster is
    // a set of mutual near-dups).
    "pipeline_keep_canonical" -> ((s, dir) =>
      keepCanonicalFrom(docClusters(s, dir),
          Tables.documents(s, dir)
            .select(col("doc_id"), col("n_chars").cast("double").as("q")))
        .orderBy("doc_id")),

    // Connected components as a GENERIC graph operator, forced onto the
    // DISTRIBUTED large-star/small-star regime (dedup_cluster's tiny
    // near-dup graph routes to the union-find dispatch, so this key is
    // what puts the O(log²)-round scale algorithm under the driver's
    // oracle): the graph is each customer's orders chained in orderkey
    // succession — long paths (≈ orders-per-customer diameter), the
    // shape stars exists for — and the component label is provably the
    // customer's min orderkey, which the DuckDB recursive-CTE walk
    // derives independently.
    "graph_components" -> ((s, dir) => {
      val o = Tables.orders(s, dir).select("o_custkey", "o_orderkey")
      val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
      val edges = o.withColumn("nk", lead(col("o_orderkey"), 1).over(w))
        .filter(col("nk").isNotNull)
        .select(col("o_orderkey").as("u"), col("nk").as("v"))
      componentsStars(o.select(col("o_orderkey").as("id")), edges)
        .select(col("id").as("o_orderkey"), col("component"))
        .orderBy("o_orderkey")
    }),

    // Damped PageRank over the supplier↔part bipartite graph (kernel
    // scaladoc on [[pagerankNano]]) — the second graph-analytics key,
    // and unlike the AP loop it is FULLY oracled: exact integer
    // arithmetic makes the 8-iteration fixpoint bit-identical in both
    // engines, so the DuckDB oracle replays the whole iteration, not
    // just a converged literal.
    "graph_pagerank" -> ((s, dir) =>
      pagerankNano(Tables.lineitem(s, dir)).orderBy("node")),

    // Triangle counting over the part co-purchase graph — the third
    // graph-analytics key (kernel scaladoc on [[triangleCounts]]):
    // parts are linked when one order contains both (per-order pair
    // generation is bounded by order width, the banded-join
    // discipline), and each node reports how many triangles it belongs
    // to. Exact and deterministic → fully oracled: DuckDB re-derives
    // the same edges, the same degree orientation, and the same
    // three-join closure independently.
    "graph_triangles" -> ((s, dir) => {
      val items = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      val edges = items.as("a").join(items.as("b"),
          col("a.o") === col("b.o") && col("a.p") < col("b.p"))
        .select(col("a.p").as("u"), col("b.p").as("v")).distinct()
      triangleCounts(edges).orderBy("node")
    }),

    // k-core of the thinned supplier↔part graph — the fourth
    // graph-analytics key (kernel scaladoc on [[kcoreNodes]]): iterative
    // peeling to an EXACT fixpoint with per-round checkpoint release.
    // Deterministic → fully oracled: the unrolled-CTE oracle re-derives
    // the same graph and peels past the fixpoint (extra rounds are
    // no-ops on a monotone peel).
    "graph_kcore" -> ((s, dir) => {
      val p = Tables.lineitem(s, dir).filter(col("l_quantity") <= 2)
        .select(col("l_suppkey").as("sk"), col("l_partkey").as("pk"))
        .distinct()
      val edges = p.select(col("sk").as("u"), (col("pk") + 1000000L).as("v"))
        .unionByName(p.select((col("pk") + 1000000L).as("u"), col("sk").as("v")))
      kcoreNodes(edges, kcoreK).orderBy("node")
    }),

    // Hierarchy flattening by pointer doubling (kernel scaladoc on
    // [[hierFlatten]]): each customer's orders chained by orderkey
    // succession (the components fixture's graph, READ AS a
    // parent-pointer forest — chain heads root themselves), every
    // order resolved to its chain root + depth in log rounds.
    // Deterministic → fully oracled: the DuckDB recursive walk climbs
    // parents one hop per level and terminates on the root fixpoint.
    "hier_flatten" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
      val parents = Tables.orders(s, dir)
        .select(col("o_orderkey"),
          lag(col("o_orderkey"), 1).over(w).as("prev"))
        .select(col("o_orderkey").as("node"),
          coalesce(col("prev"), col("o_orderkey")).as("parent"))
      hierFlatten(parents)
        .select(col("node").as("o_orderkey"), col("root"), col("depth"))
        .orderBy("o_orderkey")
    }),

    // Bounded-radius multi-source BFS over the thinned supplier↔part
    // graph — the seventh graph key (kernel scaladoc on
    // [[bfsDistances]]): exact hop distance to the nearest seed
    // supplier (suppkey % 10 == 0) within 6 hops. Deterministic →
    // fully oracled: the DuckDB recursive walk re-derives the same
    // graph and min-hop distances with a dist < 6 cutoff (UNION
    // set-semantics bounds the recursion at |nodes|×7 rows).
    "graph_bfs_distance" -> ((s, dir) => {
      val p = Tables.lineitem(s, dir).filter(col("l_quantity") <= 2)
        .select(col("l_suppkey").as("sk"), col("l_partkey").as("pk"))
        .distinct()
      val edges = p.select(col("sk").as("u"), (col("pk") + 1000000L).as("v"))
        .unionByName(p.select((col("pk") + 1000000L).as("u"), col("sk").as("v")))
      val seeds = edges.select(col("u").as("node")).distinct()
        .filter(col("node") < 1000000L && col("node") % 10 === 0)
      bfsDistances(edges, seeds, bfsMaxDist).orderBy("node")
    }),

    // Bounded-round weighted shortest paths over the same thinned
    // bipartite graph (kernel scaladoc on [[ssspBounded]]): exact min
    // COST from the seed suppliers over ≤4-edge paths, edge weight the
    // key-derived (u+v) mod 5 + 1 ∈ 1..5 (a pure function of the edge —
    // deterministic, symmetric across orientations, and integer-exact
    // in both engines). Fully oracled: the DuckDB recursive walk
    // enumerates ≤4-edge paths as deduped (node, cost, hops) states and
    // takes the min — the state count stays |V|×R×O(costs), bounded.
    "graph_sssp_bounded" -> ((s, dir) => {
      val p = Tables.lineitem(s, dir).filter(col("l_quantity") <= 2)
        .select(col("l_suppkey").as("sk"), col("l_partkey").as("pk"))
        .distinct()
      val e0 = p.select(col("sk").as("u"), (col("pk") + 1000000L).as("v"))
        .unionByName(p.select((col("pk") + 1000000L).as("u"), col("sk").as("v")))
      val edges = e0.withColumn("w", pmod(col("u") + col("v"), lit(5L)) + 1L)
      val seeds = e0.select(col("u").as("node")).distinct()
        .filter(col("node") < 1000000L && col("node") % 10 === 0)
      ssspBounded(edges, seeds, ssspMaxRounds).orderBy("node")
    }),

    // Link prediction over the part co-purchase graph — the sixth
    // graph-analytics key (kernel scaladoc on [[linkPredict]]): score
    // non-adjacent part pairs by common-neighbor count and the
    // resource-allocation index Σ 1/deg(z), wedges routed only through
    // low-degree intermediates (the p05 degree cap — hubs are near-zero
    // RA evidence and the quadratic wedge risk). Exact integer
    // micro-unit scores + a sketch-exact percentile cap → fully
    // oracled: DuckDB re-derives the same edges, the same cap, the
    // same wedges, the same anti-join and sums.
    "graph_link_predict" -> ((s, dir) => {
      val items = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      val edges = items.as("a").join(items.as("b"),
          col("a.o") === col("b.o") && col("a.p") < col("b.p"))
        .select(col("a.p").as("u"), col("b.p").as("v")).distinct()
      linkPredict(edges).orderBy("u", "v")
    }),

    // MinHash-LSH candidate pairs — the scale path: band-bucket join
    // instead of the all-pairs shingle join. 8 bands × 4 rows; a band's
    // 4 minhashes collapse to one xxhash64 bucket key (collisions only
    // ADD candidates, with probability ~2⁻⁶⁴). Recall vs dedup_jaccard
    // is asserted in the test suite (D3 ⇒ no oracle).
    "dedup_minhash" -> ((s, dir) =>
      minhashPairsFrom(minhashSignaturesFrom(shingleSetSig(s, dir)))
        .orderBy("doc_a", "doc_b")),

    // The composed pipeline a production dedup actually runs: LSH
    // candidates (O(N·bands) shuffle, never N²) → exact shingle-Jaccard
    // computed on the CANDIDATE SET ONLY → threshold. Subquadratic end to
    // end, exact values on every surviving pair; result ⊆ dedup_jaccard
    // (the suite asserts containment + reports recall; on these fixtures
    // recall is 1.0 — every true ≥ 0.2 pair is a near-exact duplicate
    // whose 8×4-band candidate probability is ~1 — so the exact-Jaccard
    // oracle binds this key too).
    "dedup_minhash_rerank" -> ((s, dir) =>
      minhashRerankFrom(shingleSet(s, dir))
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")),

    // SimHash near-dup pairs via banded bucketing: the 64-bit fingerprint
    // splits into 4×16-bit bands; by pigeonhole, two fingerprints within
    // hamming distance ≤ 3 agree EXACTLY on at least one band, so the
    // band-equality join finds every such pair — exact result, but only
    // bucket-mates are ever compared (no N² cross join; at 100 TB the
    // bucket join shuffles O(N·4) rows and compares O(Σ bucket²) pairs).
    // Validated against the brute-force all-pairs scan in SketchSpec.
    "dedup_simhash" -> ((s, dir) =>
      simhashPairs(s, Tables.documents(s, dir)).orderBy("doc_a", "doc_b")),

    // Embedding-cosine near-dup pairs (exact, oracled). Exact all-pairs
    // at an arbitrary cosine threshold is intrinsically O(N²) compares —
    // no banding scheme is exact for cos ≥ 0.4 — but the PLAN need not be
    // a cartesian BNLJ (the round-2 form: one side broadcast, one thread
    // per broadcast copy, driver OOM at scale). Block-pair decomposition
    // turns it into two equi-joins: vectors get a block id (vec_id mod B),
    // a tiny (bi ≤ bj) block-pair relation is broadcast, and the pair
    // space is covered by hash-partitioned shuffle joins — every executor
    // compares only its block pair, nothing scales with N on the driver.
    // Same-block pairs keep va<vb; cross-block pairs are emitted once
    // with least/greatest ids (cosine is symmetric). The subquadratic
    // path for this operator is dedup_embedding_ann below.
    "dedup_embedding" -> ((s, dir) =>
      embeddingPairs(s, dir)
        .select(col("id_a"), col("id_b"),
          (round(col("cos"), 4) + lit(0.0)).as("cos"))
        .orderBy("id_a", "id_b")),

    // Density clustering (kernel scaladoc on [[dbscan]]): DBSCAN over
    // the exact cosine ≥ 0.4 ε-graph with minPts = 2 neighbors —
    // 16 cores / borders / ~480 noise at sf0.01, so every role is
    // load-bearing. Fully oracled: pairs + degree + recursive
    // min-label over the core subgraph + min-label border attach.
    "cluster_dbscan" -> ((s, dir) =>
      dbscan(embeddingPairs(s, dir).select("id_a", "id_b"),
          Tables.embeddings(s, dir).select(col("vec_id").as("id")),
          minPts = 2)
        .select(col("id").as("vec_id"), col("cluster"), col("role"))
        .orderBy("vec_id")),

    // SEMANTIC dedup — the SemDeDup step (Abbas et al. 2023: cluster
    // semantically-near embeddings, keep ONE representative per
    // cluster): connected components over the exact cosine ≥ 0.4 pair
    // graph, every vector labeled with its cluster's smallest vec_id
    // and flagged keep iff it IS that representative (D6 tie: smallest
    // id). The pair stage is the oracled dedup_embedding relation (the
    // block-pair decomposition, no BNLJ); the components solve is the
    // two-regime kernel every dedup cluster key shares; at 100 TB the
    // candidate stage swaps to IVF bucket co-membership
    // (dedup_embedding_ann) with this same downstream. Fully oracled:
    // DuckDB re-derives pairs and walks min-labels recursively.
    "dedup_semantic" -> ((s, dir) =>
      connectedComponents(
          Tables.embeddings(s, dir).select(col("vec_id").as("id")),
          embeddingPairs(s, dir).select("id_a", "id_b"))
        .select(col("id").as("vec_id"), col("component").as("cluster"),
          (col("id") === col("component")).as("keep"))
        .orderBy("vec_id")),

    // Approximate embedding near-dup — the 100 TB path: IVF bucket
    // co-membership generates candidates (O(Σ bucket²), never N²), exact
    // cosine reranks at the same 0.4 threshold. Recall vs the exact
    // dedup_embedding is asserted in SketchSpec (D3 ⇒ no oracle).
    "dedup_embedding_ann" -> ((s, dir) =>
      ivfTopk(s, normed(s, Tables.embeddings(s, dir)), k = 10, centroids = 16, nprobe = 8)
        .filter(col("cos") >= 0.4)
        .select(least(col("i"), col("k")).as("id_a"),
          greatest(col("i"), col("k")).as("id_b"))
        .distinct()
        .orderBy("id_a", "id_b")),

    // Brute-force top-5 cosine neighbors per vector — the exact baseline
    // for ANN, via the broadcast-index kernel (graft.functions.Ann):
    // same fold order as the SQL oracle, so cosines and ranks are
    // bit-identical, at single-node-reference throughput.
    "simsearch_topk" -> ((s, dir) =>
      graft.functions.Ann.topkCosine(s, Tables.embeddings(s, dir), 5)
        .select(col("i"), col("k"), col("rnk").cast("long").as("rnk"),
          (round(col("cos"), 4) + lit(0.0)).as("cos"))
        .orderBy("i", "rnk")),

    // Hybrid lexical+vector retrieval fused by reciprocal rank (kernel
    // scaladoc on [[hybridRrf]]).
    "search_hybrid_rrf" -> ((s, dir) =>
      hybridRrf(s, Tables.documents(s, dir), Tables.embeddings(s, dir),
        hybridQueryIds, poolK = hybridTextPoolK, topK = hybridTextTopK)
        .orderBy("q", "rnk")),

    // FREE-TEXT hybrid retrieval with weighted RRF (kernel scaladoc on
    // [[hybridRrfText]]): pinned query strings tokenized at query time,
    // vector side from the pinned vec_ids' embeddings (the
    // caller-embedded-query contract), wLex = 1.0 / wVec = 0.7.
    "search_hybrid_text" -> ((s, dir) => {
      import s.implicits._
      val qrel = hybridTextQueries.toDF("q", "qtext", "vid")
        .join(Tables.embeddings(s, dir)
          .select(col("vec_id").as("vid"), col("embedding").as("qv")),
          Seq("vid"), "left")
        .select(col("q"), col("qtext"), col("qv"))
      hybridRrfText(s, Tables.documents(s, dir), Tables.embeddings(s, dir),
        qrel, poolK = hybridTextPoolK, topK = hybridTextTopK,
        wLex = hybridTextWLex, wVec = hybridTextWVec)
        .orderBy("q", "rnk")
    }),

    // Deterministic random walks over the part co-purchase graph — the
    // fifth graph key (kernel scaladoc on [[randomWalks]]): one 6-hop
    // hash-replayable walk per node, the DeepWalk training-sequence
    // build. Fully oracled: DuckDB re-derives the same adjacency ranks
    // and replays every hop choice from the shared hash formula.
    "graph_random_walk" -> ((s, dir) => {
      val items = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      val edges = items.as("a").join(items.as("b"),
          col("a.o") === col("b.o") && col("a.p") < col("b.p"))
        .select(col("a.p").as("u"), col("b.p").as("v")).distinct()
      randomWalks(symmetrized(edges), walkSteps).orderBy("start", "step")
    }),

    // BIASED node2vec walks over the same co-purchase graph — the
    // p/q second-order companion to graph_random_walk (kernel scaladoc
    // on [[node2vecWalks]]): integer weights (1, 2, 4) ≙ p=2, q=1/2,
    // the draw replayable from the same hash, hence fully oracled.
    "graph_node2vec_walk" -> ((s, dir) => {
      val items = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
      val edges = items.as("a").join(items.as("b"),
          col("a.o") === col("b.o") && col("a.p") < col("b.p"))
        .select(col("a.p").as("u"), col("b.p").as("v")).distinct()
      node2vecWalks(symmetrized(edges), n2vSteps,
        n2vWReturn, n2vWNear, n2vWFar).orderBy("start", "step")
    }),

    // BM25 lexical ranking over the pinned free-text queries (kernel
    // scaladoc on [[bm25]]) — the retrieval scorer proper, order-proof
    // via per-term DECIMAL(18,6) contributions so the rank can't flip
    // on float addition order in either engine.
    "search_bm25" -> ((s, dir) => {
      import s.implicits._
      val qrel = hybridTextQueries.map { case (q, t, _) => (q, t) }
        .toDF("q", "qtext")
      bm25(s, Tables.documents(s, dir), qrel, bm25TopK).orderBy("q", "rnk")
    }),

    // IVF-bucketed ANN — the scale path: assign every vector to its
    // nearest of 16 seed centroids, then each query probes only its
    // nprobe nearest centroid buckets. Seeds are deterministic greedy
    // farthest-point picks over a bounded hash-spread sample
    // (graft.functions.Ivf — the k-center 2-approximation); round 1's
    // lowest-16-ids seeding was degenerate. nprobe trades recall for
    // scan fraction: the fixture embeddings are ISOTROPIC RANDOM (no
    // cluster structure — measured: same-label cosine ≈ cross-label ≈ 0),
    // the regime where any sublinear ANN is information-theoretically
    // weak, so recall ≥ 0.7 needs nprobe 8/16 here; on clustered data
    // (the real 100 TB workload) nprobe 2 already exceeds 0.9 — both
    // asserted in SketchSpec.
    "simsearch_ivf" -> ((s, dir) =>
      ivfTopk(s, normed(s, Tables.embeddings(s, dir)), k = 5, centroids = 16, nprobe = 8)
        .orderBy("i", "rnk")),

    // Int8 embedding quantization (see [[embQuantize]]).
    "emb_quantize" -> ((s, dir) => embQuantize(Tables.embeddings(s, dir))),

    // PCA projection of the embedding table onto its top 4 principal
    // components ([[graft.functions.Pca]]): one bounded scale pass, ONE
    // distributed moment pass (fixed-point long sums — deterministic in
    // any partition order), driver-side d×d Jacobi, then a codegen'd
    // row-parallel projection (no join, no shuffle). D3-exempt (the
    // eigenbasis has no SQL oracle); PcaSpec pins the eigenpair
    // residuals, orthonormality, variance identity, reconstruction,
    // and bit-determinism.
    "emb_pca" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val model = graft.functions.Pca.fit(emb, "embedding")
      graft.functions.Pca.project(emb, "embedding", model, k = 4)
        .select(col("vec_id"), round(col("pc1"), 6).as("pc1"),
          round(col("pc2"), 6).as("pc2"), round(col("pc3"), 6).as("pc3"),
          round(col("pc4"), 6).as("pc4"))
        .orderBy("vec_id")
    }),

    // Product quantization of the embedding table (Jégou et al. 2011;
    // [[graft.functions.Pq]]): 64 dims → 8 blocks × 256-code codebooks,
    // codes as a comma-joined string in block order. Driver-side train
    // on a bounded sample, one-exchange distributed encode. D3-exempt;
    // PqSpec pins code ranges, determinism, reconstruction gain, and
    // exhaustive-ADC recall against exact distances.
    "emb_pq" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val model = graft.functions.Pq.fit(emb, "embedding")
      graft.functions.Pq.encode(emb, "embedding", model).orderBy("vec_id")
    }),

    // IVFADC composed ANN search over the PQ codes — since round 13 the
    // RESIDUAL index ([[graft.functions.Pq.fitIvfPqCached]] +
    // [[graft.functions.Pq.ivfAdcTopk]]'s IvfPqModel overload, the
    // faiss IVFADC default: codes quantize r = x − centroid(home(x))):
    // IVF bucket candidates (c = 16 pinned for fixture stability,
    // nprobe = 8) evaluated by asymmetric distance from the
    // per-(query, probed-centroid) residual LUT — never all-pairs, and
    // the session index cache makes repeated builds free. Measured
    // (BENCH_NOTES §25): residual beats raw by +0.04..+0.09 recall@10
    // on clustered data (the production regime) and concedes ~0.04 on
    // this isotropic fixture (0.516 vs 0.552 — centroid subtraction
    // removes nothing there), same regime-dependence as the OPQ
    // rotation. D3-exempt (approximate by design); PqSpec pins residual
    // ADC value identity vs driver arithmetic, recall floors in both
    // regimes, and bit-determinism; PlanSpec pins the no-cartesian
    // candidate plan.
    "simsearch_pq_ivf" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val idx = graft.functions.Pq.ivfPqIndexCached(emb, "embedding", centroids = 16)
      graft.functions.Pq.ivfAdcTopk(emb, "embedding", idx, topk = 5,
          nprobe = 8, idCol = "vec_id", queryIds = None)
        .select(col("i"), col("k_id"), round(col("adc"), 6).as("adc"), col("rnk"))
        .orderBy("i", "rnk")
    }),

    // ANN search through the AUTO-SELECTED index (round-14 VERDICT #5,
    // [[graft.functions.Pq.fitIvfPqAuto]]): a sample probe — k-means
    // explained-variance ratio + per-centroid residual-moment CV —
    // picks raw PQ on isotropic corpora and OPQ-over-residuals on
    // clustered/heteroscedastic ones; measured recall equals
    // max(parents) on the isotropic, clustered and heavy-tailed
    // fixtures (this fixture
    // is isotropic, so the pick here is raw — closing BENCH_NOTES
    // §28's 0.540-vs-0.552 regression). D3-exempt like its parents;
    // PqSpec pins the pick on both regimes, the probe-stat thresholds,
    // and recall floors.
    "simsearch_pq_auto" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val idx = graft.functions.Pq.fitIvfPqAuto(emb, "embedding", centroids = 16)
      graft.functions.Pq.ivfAdcTopk(emb, "embedding", idx.model, topk = 5,
          nprobe = 8, idCol = "vec_id", queryIds = None)
        .select(col("i"), col("k_id"), round(col("adc"), 6).as("adc"), col("rnk"))
        .orderBy("i", "rnk")
    }),

    // FILTERED ANN search (round-17; [[graft.Graft.similarTopKFiltered]]):
    // predicate + vector search in ONE query — label = 1 passes ~10% of
    // the corpus, so the facade's selectivity probe takes the
    // PRE-FILTER regime: disallowed ids leave the home-bucket relation
    // before any of their codes is built or scored, and nprobe scales
    // by 1/sel (capped). D3-exempt like the rest of the ANN stack
    // (chooser- and sketch-dependent); PqSpec pins recall floors vs the
    // FILTERED brute force in both regimes, GraftSpec pins the
    // pushdown semantics (all-disallowed neighborhoods still answer).
    "simsearch_filtered" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      graft.Graft.similarTopKFiltered(s, emb, k = 5,
          predicate = col("label") === 1, centroids = 16, nprobe = 8)
        .select(col("i"), col("k_id"), round(col("adc"), 6).as("adc"), col("rnk"))
        .orderBy("i", "rnk")
    }),

    // Blocked entity-resolution matcher (round 12) over part names:
    // same-first-token blocking + Levenshtein ≤ 3 — the classic ER
    // blocking-then-matching pipeline ([[blockedEditPairs]]). Oracled
    // exactly: DuckDB runs the naive blocked self-join; the engine runs
    // the distinct-string decomposition and must produce the identical
    // id-level row set.
    "er_blocked_match" -> ((s, dir) =>
      blockedEditPairs(
          Tables.part(s, dir)
            .select(col("p_partkey").as("id"), col("p_name").as("name")),
          maxEdits = 3)
        .orderBy("key_a", "key_b")),

    // SURVIVORSHIP — the golden-record step AFTER matching (round 18;
    // er_blocked_match finds the pairs, this key emits the one
    // canonical row per matched entity cluster, the output an MDM/ER
    // pipeline actually ships): clusters = connected components over
    // the blocked-match pair graph; per cluster the canonical name is
    // the MODE (most frequent value wins — the classic survivorship
    // rule; count ties break to the lexicographically smallest, D6),
    // the record key is the smallest member id, the price field keeps
    // the max in exact cents. Scale shape: blocking bounds the pair
    // stage, components are the two-regime kernel, survivorship is
    // keyed hash aggregates ONLY (mode via min_by argmin — no window,
    // so a mega-cluster's name variants reduce map-side, round 19);
    // grouped cardinality, never members². Fully ORACLED:
    // the same pair SQL, the recursive min-label walk, and the same
    // mode/min/max rules.
    "er_golden_record" -> ((s, dir) => {
      val parts = Tables.part(s, dir)
      val pairs = blockedEditPairs(
          parts.select(col("p_partkey").as("id"), col("p_name").as("name")),
          maxEdits = 3)
        .select(col("key_a").as("id_a"), col("key_b").as("id_b"))
      val comp = connectedComponents(
        parts.select(col("p_partkey").as("id")), pairs, nodesComplete = true)
      goldenRecords(comp.join(
        parts.select(col("p_partkey").as("id"), col("p_name").as("name"),
          graft.Det.cents(col("p_retailprice")).as("vc")), "id"))
        .orderBy("component")
    }),

    // SPLIT-LEAKAGE audit (round 18 — the eval-hygiene check every
    // training pipeline owes its benchmark numbers: a test document
    // with a near-duplicate in train makes the eval score a memory
    // test; Lee et al. 2022 §6.2 measure exactly this): per split
    // bucket (sample_split's deterministic doc_id % 10 rule), the
    // document count and how many of them have at least one exact
    // Jaccard ≥ 0.2 near-dup in a DIFFERENT split. Composes the two
    // oracled relations — the capped near-dup pair kernel and the split
    // assignment — with keyed joins only: pairs stay bucketed, the
    // per-endpoint split lookup is id-keyed, the distinct collapses
    // multi-partner docs, output is |splits| rows. At sf0.001 the
    // fixture leaks 12 train / 2 val / 8 test docs (measured), so every
    // split's count and both branches of the LEFT join are load-bearing.
    "pipeline_split_leakage" -> ((s, dir) => {
      val split = Tables.documents(s, dir).select(col("doc_id"),
        when(col("doc_id") % 10 < 8, "train")
          .when(col("doc_id") % 10 === 8, "val")
          .otherwise("test").as("split"))
      val pairs = jaccardPairsHashedFrom(shingleSet(s, dir), 0.2,
        hotShinglesFor(s, dir))
      val und = pairs.select(col("doc_a").as("doc_id"), col("doc_b").as("other"))
        .unionByName(pairs.select(col("doc_b").as("doc_id"),
          col("doc_a").as("other")))
      val leaked = und.join(split, "doc_id")
        .join(split.select(col("doc_id").as("other"),
          col("split").as("osplit")), "other")
        .filter(col("split") =!= col("osplit"))
        .select("doc_id", "split").distinct()
      split.groupBy("split").agg(count(lit(1)).as("n_docs"))
        .join(leaked.groupBy("split").agg(count(lit(1)).as("n_leaked")),
          Seq("split"), "left")
        .select(col("split"), col("n_docs"),
          coalesce(col("n_leaked"), lit(0L)).as("n_leaked"))
        .orderBy("split")
    })
  )

  /** Survivorship kernel over a labeled member relation
    * (component, id, name, vc): one golden row per component — mode
    * name (count desc, name asc — D6), min id, max vc, member count.
    * Split out so [[graft.Graft.goldenRecords]] can run it on caller
    * frames behind any matcher. Mode selection is ONE hash aggregate
    * (argmin of the (−votes, name) key — the pipeline_keep_canonical
    * rewrite applied here, round-18 VERDICT minor #4): the per-component
    * rank window it replaces put a pathological mega-cluster's full
    * name-variant set on one task; min_by reduces it map-side. */
  private[graft] def goldenRecords(named: DataFrame): DataFrame = {
    val votes = named.groupBy("component", "name").agg(count(lit(1)).as("n"))
    val canon = votes.groupBy("component")
      .agg(min_by(struct(col("name"), col("n")),
        struct(-col("n"), col("name"))).as("c"))
      .select(col("component"), col("c.name").as("canonical_name"),
        col("c.n").as("name_votes"))
    named.groupBy("component")
      .agg(count(lit(1)).as("n_members"), min(col("id")).as("canonical_id"),
        max(col("vc")).as("max_value_cents"))
      .join(canon, "component")
      .select(col("component"), col("canonical_id"), col("n_members"),
        col("canonical_name"), col("name_votes"), col("max_value_cents"))
  }

  /** Distributed triangle counting with DEGREE-ORDERED ORIENTATION
    * (Schank & Wagner 2005; the Suri–Vassilvitskii MapReduce
    * discipline): each undirected edge is directed from its
    * (degree, id)-smaller endpoint to the larger, making the edge
    * relation acyclic with every out-neighborhood bounded by O(√m)
    * regardless of skew — a celebrity node of degree d contributes
    * wedges only through its LOW-degree neighbors' short out-lists,
    * never d² of its own, which is what makes the plan survive a
    * power-law graph at corpus scale. Wedges (ordered pairs of one
    * apex's out-edges) close against the oriented edge between the
    * legs; exactly one of the two leg orders matches the orientation,
    * so each triangle counts exactly once with no post-dedup pass.
    * Three equi-joins on node keys — no cartesian anywhere. Input:
    * distinct undirected edges with u < v. Returns (node, tri_n) for
    * every node in at least one triangle. */
  private[graft] def triangleCounts(edges0: DataFrame): DataFrame = {
    val deg = edges0.select(explode(array(col("u"), col("v"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val fwd = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val e = edges0
      .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
      .select(when(fwd, col("u")).otherwise(col("v")).as("src"),
        when(fwd, col("v")).otherwise(col("u")).as("dst"))
    val tri = e.as("e1").join(e.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dst") =!= col("e2.dst"))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"),
        col("e2.dst").as("c"))
      .join(e.select(col("src").as("b"), col("dst").as("c")), Seq("b", "c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("tri_n"))
  }

  /** BFS radius for the graph_bfs_distance key — one constant feeding
    * the Spark loop bound and the oracle's recursion cutoff. */
  private[graft] val bfsMaxDist: Int = 6

  /** Relaxation-round bound for graph_sssp_bounded — one constant
    * feeding the Spark loop and the oracle's recursion cutoff. Small on
    * purpose: the oracle enumerates ≤R-edge paths (deduped to distinct
    * (node, cost, hops) states), whose count grows with R. */
  private[graft] val ssspMaxRounds: Int = 4

  /** Pointer-doubling rounds for [[hierFlatten]]: resolves any
    * hierarchy of depth ≤ 2^rounds (256 at the default 8 — org charts
    * and bill-of-materials trees are nowhere near; raise for
    * pathological chains: the cost is LOGARITHMIC, one keyed join per
    * round). */
  private[graft] val hierDoublingRounds: Int = 8

  /** Hierarchy flattening by POINTER DOUBLING (Wyllie 1979's list
    * ranking — the classic PRAM kernel, and exactly what a recursive
    * CTE engine does per-row that Spark must do per-ROUND): every node
    * of a parent-pointer forest (roots point to themselves) gets its
    * root and its depth in ⌈log₂ depth⌉ keyed self-joins, NOT depth
    * sequential hops — the difference between 8 rounds and 256 for a
    * deep chain, which at 100 TB is the difference between a job and a
    * day. State (node, anc, d): each round replaces anc by anc's
    * current ancestor and adds the hop counts; roots are fixpoints, so
    * resolved rows ride along unchanged. Per-round eager checkpoint +
    * release (the kcore discipline). Fails LOUD — bounded probe — if
    * any pointer hasn't reached a root after the rounds (depth over
    * 2^rounds, or a parent CYCLE, which no truncated answer should
    * silently absorb). Returns (node, root, depth). */
  private[graft] def hierFlatten(parents: DataFrame,
      maxRounds: Int = hierDoublingRounds): DataFrame = {
    require(maxRounds >= 1, s"hierFlatten: maxRounds $maxRounds < 1")
    // Malformed-forest guards, both LOUD (ONE bounded probe on the
    // input relation — the hybridRrf single-union-probe discipline,
    // round-17 VERDICT advisory #3; a broken extract must never ship
    // silent row loss):
    //  - a DANGLING parent id (no node row) would make the inner
    //    doubling join drop the child's state row unseen;
    //  - a DUPLICATE node id fans out multiplicatively through the
    //    self-joins (k^rounds rows) and duplicates the output.
    val bad = parents.select(col("parent").as("id"))
      .join(parents.select(col("node").as("id")), Seq("id"), "left_anti")
      .select(col("id"), lit("dangling").as("kind"))
      .unionByName(parents.groupBy(col("node").as("id"))
        .agg(count(lit(1)).as("c"))
        .filter(col("c") > 1).select(col("id"), lit("duplicate").as("kind")))
      .limit(1).collect()
    bad.headOption.foreach { r =>
      throw new IllegalArgumentException(
        if (r.getString(1) == "dangling")
          s"hierFlatten: parent id ${r.get(0)} has no node row (dangling " +
            "pointer) - every parent must be a node"
        else
          s"hierFlatten: node id ${r.get(0)} appears more than once - a " +
            "forest assigns one parent per node")
    }
    val roots = parents.filter(col("parent") === col("node"))
      .select(col("node").as("anc"))
    graft.Checkpoints.scoped { s =>
      // short-circuit once every pointer sits on a root (the bfsDistances
      // frontier-exhaustion discipline) — a depth-3 chart resolves in 2
      // rounds, not maxRounds
      def unresolved(st: DataFrame) =
        st.join(roots, Seq("anc"), "left_anti").limit(1).collect()
      // state: (node, anc, d) rows, an unresolved row if any
      val (st, open) = s.rounds(maxRounds) {
        val st0 = s.pin(parents.select(col("node"), col("parent").as("anc"),
          when(col("parent") === col("node"), lit(0L)).otherwise(lit(1L)).as("d")))
        (st0, unresolved(st0))
      }(_._2.isEmpty) { case ((st, _), _) =>
        val up = st.select(col("node").as("anc"), col("anc").as("anc2"),
          col("d").as("d2"))
        val st2 = s.pin(st.join(up, "anc")
          .select(col("node"), col("anc2").as("anc"),
            (col("d") + col("d2")).as("d")))
        (st2, unresolved(st2))
      }
      if (open.nonEmpty)
        throw new IllegalStateException(
          s"hierFlatten: node ${open(0).getAs[Any]("node")} did not reach " +
            s"a root in $maxRounds doubling rounds (depth > ${1L << maxRounds} " +
            "or a parent cycle) - raise maxRounds or break the cycle")
      st.select(col("node"), col("anc").as("root"), col("d").as("depth"))
    }
  }

  /** Exact embedding near-dup pairs (cosine ≥ 0.4, id_a < id_b, with
    * the unrounded cos carried) via the block-pair decomposition: B=16
    * id-hash blocks, the B·(B+1)/2 block-pair relation broadcasts, and
    * every vector pair meets in exactly one block pair — equi-joins
    * only, no BNLJ/cartesian (PlanSpec-pinned), each task bounded by a
    * block-pair's rows. Shared by dedup_embedding (the pair report) and
    * dedup_semantic (components + representative selection over the
    * same graph). */
  private[graft] def embeddingPairs(s: SparkSession, dir: String): DataFrame =
    embeddingPairsOf(s, Tables.embeddings(s, dir))

  /** [[embeddingPairs]] over a caller (vec_id, embedding) relation with
    * a parameterized threshold — the facade entry. */
  private[graft] def embeddingPairsOf(s: SparkSession, emb: DataFrame,
      threshold: Double = 0.4): DataFrame = {
    val spark = s
    import spark.implicits._
    val B = 16
    val pairsBlk = (for (bi <- 0 until B; bj <- bi until B) yield (bi, bj))
      .toDF("bi", "bj")
    val n = normed(s, emb)
      .withColumn("blk", pmod(col("vec_id"), lit(B)).cast("int"))
    val a = n.select(col("vec_id").as("va_id"), col("v").as("va"),
      col("nrm").as("na"), col("blk").as("bi"))
    val b = n.select(col("vec_id").as("vb_id"), col("v").as("vb"),
      col("nrm").as("nb"), col("blk").as("bj"))
    a.join(broadcast(pairsBlk), "bi")
      .join(b, "bj")
      .filter(col("bi") =!= col("bj") || col("va_id") < col("vb_id"))
      .withColumn("cos", cosine("va", "vb", "na", "nb"))
      .filter(col("cos") >= threshold)
      .select(least(col("va_id"), col("vb_id")).as("id_a"),
        greatest(col("va_id"), col("vb_id")).as("id_b"), col("cos"))
  }

  /** Bounded-radius multi-source BFS: exact minimum hop distance from
    * ANY seed, for every node within `maxDist` hops — the
    * "hops-to-nearest-X" feature builder (distance to a flagged
    * account in fraud graphs, to a seed page in crawl frontiers), and
    * the distance companion to connected components (whose min-label
    * stars deliberately destroy path length). Per round: the frontier
    * (nodes first reached last round) takes ONE keyed equi-join to its
    * neighbors and ONE anti-join against the settled set; both the
    * settled relation and the frontier are eager-localCheckpointed and
    * the previous round's released (the kcore discipline), so lineage
    * stays one round deep at any radius and no task ever sees more
    * than frontier×degree rows. Frontier exhaustion short-circuits
    * before the radius. */
  private[graft] def bfsDistances(edges: DataFrame, seeds: DataFrame,
      maxDist: Int = bfsMaxDist): DataFrame = {
    require(maxDist >= 0, s"bfsDistances: negative radius $maxDist")
    // TWO jobs per wave (round 22; was four): the wave's ONE checkpoint
    // materializes the new frontier-with-distance, and the liveness
    // count runs over that checkpoint. The settled relation is the
    // UNION of the per-wave checkpoints (bounded by maxDist parts — no
    // per-wave re-copy of all settled rows into a fresh checkpoint),
    // and the frontier IS the wave's checkpoint projected to its node
    // column (no second checkpoint of the same rows). Same rows, same
    // per-wave anti-join semantics; nothing is released mid-loop
    // because every part is a slice of the returned result (the live
    // storage total equals the old final checkpoint's rows).
    graft.Checkpoints.scoped { s =>
      val seed = s.pin(seeds.select(col("node")).distinct()
        .withColumn("dist", lit(0L)))
      val live = seed.count() > 0
      // the edge relation is LOOP-INVARIANT and referenced once per wave
      // — un-materialized, every wave's job re-derived it from source
      // (scan + distinct + union per wave, round 22); checkpoint it once
      // (the scope frees it on exit: the result parts are independent
      // checkpoints)
      val e = if (live && maxDist > 0) s.pin(edges) else edges
      // state: (the waves' parts, newest first; their union; the last
      // wave was non-empty) — an empty wave is read by nothing and freed
      val (parts, _, _) = s.rounds(maxDist)((List(seed), seed, live))(!_._3) {
        case ((parts, settled, _), d) =>
          val nxt = s.pin(parts.head.select("node").join(e, col("node") === e("u"))
            .select(col("v").as("node")).distinct()
            .join(settled, Seq("node"), "left_anti")
            .withColumn("dist", lit(d.toLong)))
          if (nxt.count() > 0) (nxt :: parts, settled.unionByName(nxt), true)
          else (parts, settled, false)
      }
      parts.reverse.reduce(_ unionByName _)
    }
  }

  /** Bounded-round single/multi-source shortest paths — frontier
    * Bellman-Ford (Bellman 1958; the label-correcting form every
    * distributed graph engine runs, because Dijkstra's priority queue
    * does not shard): exact minimum path COST from any seed using
    * paths of at most `maxRounds` edges — the cost-distance companion
    * to [[bfsDistances]]'s hop counts (routing cost, fee-weighted
    * transfer chains, latency-weighted service graphs). Invariant:
    * after round r, `settled` holds the exact min cost over ≤r-edge
    * paths (an improved prefix puts its node in that round's frontier,
    * so the extension is relaxed next round); frontier exhaustion
    * before the bound means the answer is the UNBOUNDED shortest path.
    * Per round: one keyed equi-join frontier→edges, a min-aggregate on
    * the destination, one join against settled to keep improvements —
    * work is frontier×degree rows, never |V|²; per-round eager
    * checkpoint + release (the kcore discipline). Negative weights
    * fail LOUD (bounded probe): a negative cycle makes the bounded
    * answer silently diverge from any shortest-path reading, and no
    * truncated answer should ship unseen. `edges`: (u, v, w ≥ 0,
    * directed — pass both orientations for undirected); `seeds`:
    * (node). Returns (node, dist), reachable nodes only. */
  private[graft] def ssspBounded(edges: DataFrame, seeds: DataFrame,
      maxRounds: Int = ssspMaxRounds): DataFrame = {
    require(maxRounds >= 0, s"ssspBounded: negative round bound $maxRounds")
    val neg = edges.filter(col("w") < 0).limit(1).collect()
    require(neg.isEmpty,
      s"ssspBounded: negative edge weight ${neg.headOption.map(_.get(2)).orNull} " +
        "- bounded Bellman-Ford over negative weights silently diverges from " +
        "the shortest-path answer (negative cycles); reweight the graph")
    graft.Checkpoints.scoped { s =>
      val seed = s.pin(seeds.select(col("node")).distinct()
        .withColumn("dist", lit(0L)))
      val live = seed.count() > 0
      // loop-invariant edges checkpointed once (the bfsDistances round-22
      // discipline — the un-materialized relation re-derived from source
      // inside every round's job); frontier needs no checkpoint of its
      // own — it IS the round's improvement checkpoint (the seed round
      // reuses the settled checkpoint).
      val e = if (live && maxRounds > 0) s.pin(edges) else edges
      // state: (settled, frontier, the frontier is non-empty)
      val (settled, _, _) = s.rounds(maxRounds)((seed, seed, live))(!_._3) {
        case ((settled, frontier, _), _) =>
          val imp = s.pin(frontier.join(e, frontier("node") === e("u"))
            .select(col("v").as("node"), (col("dist") + col("w")).as("nd"))
            .groupBy("node").agg(min(col("nd")).as("nd"))
            .join(settled.withColumnRenamed("dist", "cur"), Seq("node"), "left")
            .filter(col("cur").isNull || col("nd") < col("cur"))
            .select(col("node"), col("nd").as("dist")))
          val s2 = s.pin(settled.unionByName(imp)
            .groupBy("node").agg(min(col("dist")).as("dist")))
          (s2, imp, imp.count() > 0)
      }
      settled
    }
  }

  /** Link-prediction intermediate cap: wedges route only through nodes
    * whose degree is at or below this degree-distribution quantile.
    * Resource-allocation scoring (1/deg z) makes high-degree
    * intermediates near-zero evidence anyway (a hub connecting two
    * nodes says nothing about their affinity — Zhou, Lü & Zhang 2009),
    * and excluding them is what BOUNDS the wedge stage: Σ_z deg(z)² over
    * hubs is the quadratic blowup every production link predictor
    * suppresses (recommender "people also bought" pipelines cap
    * fan-out the same way). Quantile-relative, not absolute, so the
    * kept intermediate set tracks the graph's own scale: ~1 node in 20
    * qualifies at any corpus size, and the per-z pair explode is
    * bounded by the low quantile of the degree distribution. */
  private[graft] val LinkPredictDegFraction: Double = 0.05

  /** RA scores are exact integer micro-units: 1000000 div deg(z) —
    * integer division floors identically in both engines, so the
    * per-wedge terms and their sums are bit-exact cross-engine (no
    * transcendental Adamic–Adar log whose ulp could flip a value). */
  private[graft] val LinkPredictRaMicro: Int = 1000000

  /** Link prediction over an undirected graph (edges0: u < v, distinct):
    * for every non-adjacent pair reachable through ≥ 2 common LOW-DEGREE
    * neighbors, the common-neighbor count and the resource-allocation
    * index Σ_z 1/deg(z) in exact micro-units (Liben-Nowell & Kleinberg
    * 2003; Zhou et al. 2009's RA variant). Plan: degree relation → the
    * p05 degree cap from the mergeable percentile sketch (exact at
    * fixture accuracy, the agg_histogram_eqdepth_scale discipline) →
    * wedges through capped intermediates only (two z-keyed equi-joins,
    * per-z explode bounded by the cap) → anti-join against the edge set
    * → one keyed aggregate. Never all-pairs; nothing grows with a hub's
    * degree. */
  private[graft] def linkPredict(edges0: DataFrame,
      degFraction: Double = LinkPredictDegFraction): DataFrame = {
    val und = edges0.select(col("u"), col("v"))
      .unionByName(edges0.select(col("v").as("u"), col("u").as("v")))
    val deg = und.groupBy("u").agg(count(lit(1)).as("d"))
    val cap = deg.agg(percentile_approx(col("d"), lit(degFraction),
      lit(1000000)).as("cap"))
    val lowz = deg.crossJoin(broadcast(cap))
      .filter(col("d") <= col("cap"))
      .select(col("u").as("z"), col("d"))
    val wed = und.select(col("u").as("z"), col("v").as("wu"))
      .join(lowz, "z")
      .join(und.select(col("u").as("z"), col("v").as("wv")), "z")
      .filter(col("wu") < col("wv"))
    wed
      .join(edges0.select(col("u").as("wu"), col("v").as("wv")),
        Seq("wu", "wv"), "left_anti")
      .groupBy("wu", "wv")
      .agg(count(lit(1)).as("cn"),
        sum(expr(s"$LinkPredictRaMicro div d")).as("ra_micro"))
      .filter(col("cn") >= 2)
      .select(col("wu").as("u"), col("wv").as("v"), col("cn"), col("ra_micro"))
  }

  /** Blocked edit-distance matcher — entity resolution's
    * blocking-then-matching shape, decomposed for corpus-scale string
    * DUPLICATION (the fixture has 64 distinct names across 2000 parts;
    * real catalogs are the same): the quadratic Levenshtein compare
    * runs on DISTINCT strings per block only (Σ|distinct-block|²
    * compares — 8²-ish per block here, vs 250² naive), exact-duplicate
    * pairs come from same-string group expansion with NO compare at
    * all, and the id-level result is provably the naive block-join's
    * exact row set (cross-name pairs expand the name-pair relation
    * through the two id lists; levenshtein is symmetric so the
    * name-ordered compare serves both id orders). Per-task work is
    * bounded by block population — never all-pairs; a pathological
    * block (every distinct string under one token) is the hot-bucket
    * case callers handle by picking a finer block function, the same
    * discipline as the shingle df-cap. Input (id: long, name);
    * returns (key_a < key_b, dist ≤ maxEdits). */
  private[graft] def blockedEditPairs(rows: DataFrame, maxEdits: Int): DataFrame = {
    val base = rows.select(col("id"), col("name"),
      split(col("name"), " ").getItem(0).as("w"))
    val names = base.select("w", "name").distinct()
    val crossNames = names.as("a")
      .join(names.as("b"),
        col("a.w") === col("b.w") && col("a.name") < col("b.name"))
      .select(col("a.name").as("name_a"), col("b.name").as("name_b"),
        levenshtein(col("a.name"), col("b.name")).as("dist"))
      .filter(col("dist") <= maxEdits)
    val cross = crossNames
      .join(base.select(col("name").as("name_a"), col("id").as("id_a")), "name_a")
      .join(base.select(col("name").as("name_b"), col("id").as("id_b")), "name_b")
      .select(least(col("id_a"), col("id_b")).as("key_a"),
        greatest(col("id_a"), col("id_b")).as("key_b"), col("dist"))
      // an id listed under TWO different ≤-maxEdits names would meet
      // itself here; the naive join's id_a < id_b excludes self-pairs,
      // so the exact-row-set claim needs the same exclusion (round-12
      // ADVICE)
      .filter(col("key_a") =!= col("key_b"))
    val sameName = base.select(col("name"), col("id").as("id_a"))
      .join(base.select(col("name"), col("id").as("id_b")), "name")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a").as("key_a"), col("id_b").as("key_b"),
        lit(0).as("dist"))
    cross.unionByName(sameName)
  }

  /** IVF ANN top-k kernel shared by the query key and the clustered-data
    * mechanism test: farthest-point seeds (+ Lloyd refinement past the
    * two-level gate) → nprobe bucket assignment →
    * in-bucket exact cosine rerank. `n` must carry (vec_id, v, nrm).
    * `centroids ≤ 0` auto-sizes the bucket count to the data
    * ([[graft.functions.Ivf.autoCentroids]] — constant buckets up to
    * N = 125 k, the √(8N) assignment/candidate balance beyond); the
    * fixture query keys pin an explicit 16 so their D3 recall tests
    * stay bit-stable. */
  def ivfTopk(s: SparkSession, n: DataFrame, k: Int,
      centroids: Int, nprobe: Int): DataFrame = {
    import s.implicits._
    graft.functions.VectorExprs.register(s)
    val c =
      if (centroids > 0) centroids
      else graft.functions.Ivf.autoCentroids(n.count())
    val vecs = n.select(col("vec_id"), col("v"))
    // Unit-normalized centroid vectors (driver-side): ranking by
    // −dot(v, unit(cv)) ascending IS cosine-descending ranking — 1/|v|
    // is a positive per-point constant — so the shared assignment
    // kernel needs one dot per candidate instead of dot + two norms.
    // Shared seeds + large-c Lloyd recipe (Ivf.buildCentroids), THEN
    // unit-normalization — the k-means mean of a bucket re-normalized
    // is the standard spherical-k-means update, so the refined
    // centroids serve the cosine ranking below. Fixture shapes
    // (explicit c = 16) keep the historical bit-identical seeds.
    val cents1 = graft.functions.Ivf.buildCentroids(vecs, c)
    val cents = cents1.map { case (id, v) =>
        val nrm = math.sqrt(v.map(x => x * x).sum)
        (id, if (nrm > 0) v.map(_ / nrm) else v)
      }
    val assigned = graft.functions.Ivf
      .assignments(vecs, cents, nprobe,
        (v, cv) => -call_function("vec_dot", v, cv))
      .join(n, "vec_id")
    val home = assigned.filter(col("crnk") === 1)
      .select(col("vec_id").as("k"), col("v").as("vb"), col("nrm").as("nb"), col("c_id"))
    // Top-k per query via the bounded ap_topm aggregate (round 11, same
    // move as sparseSimilarities): the in-bucket candidate stream
    // collapses in the map-side partial instead of riding a full
    // row_number window sort. (k, cos) pairs are unique per i — each
    // point has ONE home bucket — so the buffer's exact-(value, key)
    // dedup is a no-op here; order (cos DESC, k ASC) and therefore rnk
    // are bit-identical to the window form (ApSpec pins the aggregate's
    // window equivalence, SketchSpec the recall suites).
    graft.functions.ApAggs.register(s)
    assigned
      .select(col("vec_id").as("i"), col("v").as("va"), col("nrm").as("na"), col("c_id"))
      .join(home, "c_id")
      .filter(col("i") =!= col("k"))
      .select(col("i"), col("k"), cosine("va", "vb", "na", "nb").as("cos"))
      .groupBy("i").agg(expr(s"ap_topm(cos, k, $k)").as("top"))
      .select(col("i"), posexplode(col("top")).as(Seq("idx", "e")))
      .select(col("i"), col("e.k").as("k"), (col("idx") + 1).cast("long").as("rnk"),
        (round(col("e.s"), 4) + lit(0.0)).as("cos"))
  }

  /** Int8 max-abs quantization of the embedding column — the compression
    * step a training pipeline runs before shipping vectors to an ANN
    * index or a feature store (4× smaller than float32, 8× than the
    * double working form). Per-row arithmetic only: max|x| (exact),
    * scale = 127/max|x| (one IEEE division), q = round(x·scale) (one
    * multiply + half-away-from-zero round in both engines) — no
    * aggregate, so bit-parity holds without rounding discipline. The
    * int8 lanes leave as a comma-joined string (driver hash can't take
    * arrays). */
  private[graft] def embQuantize(emb: DataFrame): DataFrame =
    emb
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
      .withColumn("max_abs", array_max(transform(col("v"), x => abs(x))))
      .withColumn("scale", lit(127.0) / col("max_abs"))
      .select(
        col("vec_id"), col("scale"),
        concat_ws(",",
          transform(col("v"),
            x => round(x * col("scale")).cast("int").cast("string"))).as("q8"))
      .orderBy("vec_id")

  private val shingleSql =
    """sh AS (
      |  SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS shingle
      |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) w,
      |       UNNEST(range(1, len(ws) - 1)) AS t(i)
      |  WHERE len(ws) >= 3)""".stripMargin

  /** Shared recursive-CTE chain: shingle jaccard ≥ 0.2 pairs → min-label
    * walk → `comp(doc_id, cluster)` — the oracle twin of [[docClusters]],
    * used by dedup_cluster and pipeline_keep_canonical. */
  private val clusterCteSql =
    s"""$shingleSql,
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
       |p0 AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id),
       |pairs AS (
       |  SELECT doc_a, doc_b FROM (
       |    SELECT doc_a, doc_b,
       |      ROUND(CAST(inter AS DOUBLE) / (na.n + nb.n - inter), 4) AS jaccard
       |    FROM p0
       |    JOIN sz na ON na.doc_id = doc_a
       |    JOIN sz nb ON nb.doc_id = doc_b)
       |  WHERE jaccard >= 0.2),
       |edges AS (
       |  SELECT doc_a AS u, doc_b AS v FROM pairs
       |  UNION ALL
       |  SELECT doc_b, doc_a FROM pairs),
       |walk(u, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT w.u, e.v FROM walk w JOIN edges e ON e.u = w.r),
       |comp AS (SELECT u AS doc_id, MIN(r) AS cluster FROM walk GROUP BY u)""".stripMargin

  private val normedSql =
    """n AS (
      |  SELECT vec_id, v, sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum')) AS nrm
      |  FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |        FROM embeddings))""".stripMargin

  private def cosSql(va: String, vb: String, na: String, nb: String) =
    s"list_aggregate(list_transform(list_zip($va, $vb), q -> CAST(q[1] AS DOUBLE) * CAST(q[2] AS DOUBLE)), 'sum') / ($na * $nb)"

  def oracles: Seq[(String, String)] = Seq(
    "er_blocked_match" ->
      """SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
        |       CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
        |FROM part a JOIN part b
        |  ON split_part(a.p_name, ' ', 1) = split_part(b.p_name, ' ', 1)
        | AND a.p_partkey < b.p_partkey
        | AND levenshtein(a.p_name, b.p_name) <= 3
        |ORDER BY key_a, key_b""".stripMargin,
    // same blocked pairs, the recursive min-label component walk, and
    // the same survivorship rules (mode name with count-desc/name-asc
    // ties, min id, max cents)
    "er_golden_record" ->
      s"""WITH RECURSIVE pairs AS (
         |  SELECT a.p_partkey AS u, b.p_partkey AS v
         |  FROM part a JOIN part b
         |    ON split_part(a.p_name, ' ', 1) = split_part(b.p_name, ' ', 1)
         |   AND a.p_partkey < b.p_partkey
         |   AND levenshtein(a.p_name, b.p_name) <= 3),
         |edges AS (
         |  SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs),
         |walk(u, r) AS (
         |  SELECT p_partkey, p_partkey FROM part
         |  UNION
         |  SELECT w.u, e.v FROM walk w JOIN edges e ON e.u = w.r),
         |comp AS (SELECT u AS id, MIN(r) AS component FROM walk GROUP BY u),
         |named AS (
         |  SELECT c.component, p.p_partkey AS id, p.p_name AS name,
         |    ${graft.Det.centsSql("p.p_retailprice")} AS vc
         |  FROM comp c JOIN part p ON p.p_partkey = c.id),
         |votes AS (
         |  SELECT component, name, COUNT(*) AS n
         |  FROM named GROUP BY component, name),
         |canon AS (
         |  SELECT component, name AS canonical_name, CAST(n AS BIGINT) AS name_votes
         |  FROM votes
         |  QUALIFY row_number() OVER (PARTITION BY component
         |    ORDER BY n DESC, name) = 1),
         |agg AS (
         |  SELECT component, COUNT(*) AS n_members, MIN(id) AS canonical_id,
         |    MAX(vc) AS max_value_cents
         |  FROM named GROUP BY component)
         |SELECT a.component, a.canonical_id, a.n_members,
         |  c.canonical_name, c.name_votes, a.max_value_cents
         |FROM agg a JOIN canon c ON a.component = c.component
         |ORDER BY a.component""".stripMargin,
    // the same jaccard pair chain as dedup_jaccard, composed with the
    // sample_split CASE rule; leaked = distinct docs with a cross-split
    // near-dup partner
    "pipeline_split_leakage" ->
      s"""WITH $shingleSql,
         |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         |p0 AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id),
         |pairs AS (
         |  SELECT doc_a, doc_b FROM (
         |    SELECT doc_a, doc_b,
         |      ROUND(CAST(inter AS DOUBLE) / (na.n + nb.n - inter), 4) AS jaccard
         |    FROM p0
         |    JOIN sz na ON na.doc_id = doc_a
         |    JOIN sz nb ON nb.doc_id = doc_b)
         |  WHERE jaccard >= 0.2),
         |sp AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 10 < 8 THEN 'train'
         |         WHEN doc_id % 10 = 8 THEN 'val'
         |         ELSE 'test' END AS split
         |  FROM documents),
         |und AS (
         |  SELECT doc_a AS doc_id, doc_b AS other FROM pairs
         |  UNION ALL
         |  SELECT doc_b, doc_a FROM pairs),
         |leaked AS (
         |  SELECT DISTINCT u.doc_id, s1.split
         |  FROM und u
         |  JOIN sp s1 ON s1.doc_id = u.doc_id
         |  JOIN sp s2 ON s2.doc_id = u.other
         |  WHERE s1.split <> s2.split),
         |lc AS (SELECT split, COUNT(*) AS n_leaked FROM leaked GROUP BY split)
         |SELECT sp.split, COUNT(*) AS n_docs,
         |  CAST(COALESCE(MAX(lc.n_leaked), 0) AS BIGINT) AS n_leaked
         |FROM sp LEFT JOIN lc ON lc.split = sp.split
         |GROUP BY sp.split
         |ORDER BY sp.split""".stripMargin,
    "emb_quantize" ->
      """WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |m AS (SELECT vec_id, v,
        |        list_max(list_transform(v, x -> abs(x))) AS max_abs FROM v)
        |SELECT vec_id, CAST(127 AS DOUBLE) / max_abs AS scale,
        |  array_to_string(list_transform(v,
        |    x -> CAST(CAST(round(x * (CAST(127 AS DOUBLE) / max_abs)) AS INT) AS VARCHAR)), ',') AS q8
        |FROM m ORDER BY vec_id""".stripMargin,
    "dedup_exact" ->
      """SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin,
    "dedup_exact_hash" ->
      """SELECT MIN(doc_id) AS doc_id, md5(text) AS digest, COUNT(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY doc_id""".stripMargin,
    // independent re-derivation of sharedSpanStats: unnest+slice grams,
    // shared = distinct-doc count ≥ 2, gaps-and-islands runs per doc
    "dedup_substring" -> {
      val k = substringGramK
      s"""WITH g AS (
         |  SELECT doc_id, i, array_to_string(ws[i:i+${k - 1}], ' ') AS g
         |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) w,
         |       UNNEST(range(1, len(ws) - ${k - 2})) AS t(i)
         |  WHERE len(ws) >= $k),
         |sh AS (
         |  SELECT g FROM (SELECT DISTINCT doc_id, g FROM g)
         |  GROUP BY g HAVING COUNT(*) >= 2),
         |sp AS (SELECT doc_id, i FROM g WHERE g IN (SELECT g FROM sh)),
         |runs AS (
         |  SELECT doc_id, isl, COUNT(*) AS run FROM (
         |    SELECT doc_id, i,
         |      i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS isl
         |    FROM sp) GROUP BY doc_id, isl),
         |a AS (
         |  SELECT doc_id, CAST(SUM(run) AS BIGINT) AS ns,
         |    CAST(MAX(run) AS BIGINT) AS mr
         |  FROM runs GROUP BY doc_id)
         |SELECT d.doc_id,
         |  COALESCE(a.ns, 0) AS n_shared_grams,
         |  COALESCE(a.mr + ${k - 1}, 0) AS longest_shared_words
         |FROM documents d LEFT JOIN a ON d.doc_id = a.doc_id
         |ORDER BY d.doc_id""".stripMargin
    },
    // independent re-derivation of substringCut: the same gram/shared/
    // runs chain, then word coverage exploded per run (DISTINCT merges
    // overlaps), an anti-join keeps the surviving words, and string_agg
    // ordered by position rebuilds the cleaned text
    "dedup_substring_cut" -> {
      val k = substringGramK
      s"""WITH g AS (
         |  SELECT doc_id, i, array_to_string(ws[i:i+${k - 1}], ' ') AS g
         |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) w,
         |       UNNEST(range(1, len(ws) - ${k - 2})) AS t(i)
         |  WHERE len(ws) >= $k),
         |sh AS (
         |  SELECT g FROM (SELECT DISTINCT doc_id, g FROM g)
         |  GROUP BY g HAVING COUNT(*) >= 2),
         |runs AS (
         |  SELECT doc_id, MIN(i) AS s, MIN(i) + COUNT(*) + ${k - 2} AS e FROM (
         |    SELECT doc_id, i,
         |      i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS isl
         |    FROM g WHERE g IN (SELECT g FROM sh)) GROUP BY doc_id, isl),
         |cov AS (
         |  SELECT DISTINCT doc_id, s + d AS wpos
         |  FROM runs, UNNEST(range(0, e - s + 1)) AS t(d)),
         |w AS (
         |  SELECT doc_id, i AS wpos, ws[i] AS word
         |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |       UNNEST(range(1, len(ws) + 1)) AS t(i)),
         |kept AS (
         |  SELECT w.doc_id, w.wpos, w.word FROM w
         |  ANTI JOIN cov ON w.doc_id = cov.doc_id AND w.wpos = cov.wpos),
         |r AS (
         |  SELECT doc_id, string_agg(word, ' ' ORDER BY wpos) AS ct
         |  FROM kept GROUP BY doc_id),
         |ns AS (SELECT doc_id, COUNT(*) AS nsp FROM runs GROUP BY doc_id),
         |nw AS (SELECT doc_id, COUNT(*) AS nrw FROM cov GROUP BY doc_id)
         |SELECT d.doc_id,
         |  COALESCE(r.ct, '') AS cleaned_text,
         |  CAST(COALESCE(ns.nsp, 0) AS BIGINT) AS n_removed_spans,
         |  CAST(COALESCE(nw.nrw, 0) AS BIGINT) AS n_removed_words
         |FROM documents d
         |LEFT JOIN r ON d.doc_id = r.doc_id
         |LEFT JOIN ns ON d.doc_id = ns.doc_id
         |LEFT JOIN nw ON d.doc_id = nw.doc_id
         |ORDER BY d.doc_id""".stripMargin
    },
    "dedup_jaccard" ->
      s"""WITH $shingleSql,
         |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id)
         |SELECT doc_a, doc_b, jaccard FROM (
         |  SELECT doc_a, doc_b,
         |    ROUND(CAST(inter AS DOUBLE) / (na.n + nb.n - inter), 4) AS jaccard
         |  FROM pairs
         |  JOIN sz na ON na.doc_id = doc_a
         |  JOIN sz nb ON nb.doc_id = doc_b)
         |WHERE jaccard >= 0.2
         |ORDER BY doc_a, doc_b""".stripMargin,
    // The decomposed kernel must reproduce the exact-Jaccard relation —
    // same SQL as dedup_jaccard (hashed shingle identity is set-equal to
    // the string form modulo 64-bit collisions within one doc pair).
    "dedup_jaccard_capped" ->
      s"""WITH $shingleSql,
         |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id)
         |SELECT doc_a, doc_b, jaccard FROM (
         |  SELECT doc_a, doc_b,
         |    ROUND(CAST(inter AS DOUBLE) / (na.n + nb.n - inter), 4) AS jaccard
         |  FROM pairs
         |  JOIN sz na ON na.doc_id = doc_a
         |  JOIN sz nb ON nb.doc_id = doc_b)
         |WHERE jaccard >= 0.2
         |ORDER BY doc_a, doc_b""".stripMargin,
    // The batch exact-Jaccard relation restricted to increment-touching
    // pairs — the incremental plan must reproduce it byte-exactly.
    "dedup_incremental" ->
      s"""WITH $shingleSql,
         |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id)
         |SELECT doc_a, doc_b, jaccard FROM (
         |  SELECT doc_a, doc_b,
         |    ROUND(CAST(inter AS DOUBLE) / (na.n + nb.n - inter), 4) AS jaccard
         |  FROM pairs
         |  JOIN sz na ON na.doc_id = doc_a
         |  JOIN sz nb ON nb.doc_id = doc_b)
         |WHERE jaccard >= 0.2 AND (doc_a % 5 = 0 OR doc_b % 5 = 0)
         |ORDER BY doc_a, doc_b""".stripMargin,

    // Independent containment re-derivation on STRING shingles: same
    // df prune, same pruned-set sizes, same directed division — one
    // constant source for cap and tau.
    "dedup_containment" ->
      s"""WITH $shingleSql,
         |pr AS (
         |  SELECT doc_id, shingle FROM sh
         |  WHERE shingle IN (
         |    SELECT shingle FROM sh GROUP BY shingle
         |    HAVING COUNT(*) <= $ContainmentDfCap)),
         |sz AS (SELECT doc_id, COUNT(*) AS n FROM pr GROUP BY doc_id),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
         |  FROM pr a JOIN pr b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id),
         |d AS (
         |  SELECT doc_a AS doc_contained, doc_b AS doc_container,
         |    ROUND(CAST(inter AS DOUBLE) / na.n, 4) AS containment
         |  FROM pairs JOIN sz na ON na.doc_id = doc_a
         |  UNION ALL
         |  SELECT doc_b, doc_a, ROUND(CAST(inter AS DOUBLE) / nb.n, 4)
         |  FROM pairs JOIN sz nb ON nb.doc_id = doc_b)
         |SELECT doc_contained, doc_container, containment FROM d
         |WHERE containment >= $ContainmentTau
         |ORDER BY doc_contained, doc_container""".stripMargin,

    // Parent pointers climbed one hop per recursion level, terminating
    // on the root fixpoint — each node's single terminal row carries
    // (root, depth); the doubling kernel must land on the same rows.
    "hier_flatten" ->
      """WITH RECURSIVE ch AS (
        |  SELECT o_orderkey,
        |    lag(o_orderkey) OVER (PARTITION BY o_custkey
        |                          ORDER BY o_orderkey) AS prev
        |  FROM orders),
        |par AS (
        |  SELECT o_orderkey AS node,
        |    COALESCE(prev, o_orderkey) AS parent FROM ch),
        |walk(node, anc, d) AS (
        |  SELECT node, parent,
        |    CASE WHEN parent = node THEN 0 ELSE 1 END FROM par
        |  UNION ALL
        |  SELECT w.node, p.parent, w.d + 1
        |  FROM walk w JOIN par p ON p.node = w.anc
        |  WHERE w.anc <> p.parent)
        |SELECT w.node AS o_orderkey, w.anc AS root, CAST(w.d AS BIGINT) AS depth
        |FROM walk w JOIN par p ON p.node = w.anc
        |WHERE p.parent = w.anc
        |ORDER BY o_orderkey""".stripMargin,

    // Min-hop distances re-derived by a recursive walk with the same
    // radius cutoff; UNION set-semantics keeps the recursion bounded.
    "graph_bfs_distance" ->
      s"""WITH RECURSIVE p AS (
         |  SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk
         |  FROM lineitem WHERE l_quantity <= 2),
         |edges AS (
         |  SELECT sk AS u, pk + 1000000 AS v FROM p
         |  UNION ALL
         |  SELECT pk + 1000000, sk FROM p),
         |seeds AS (
         |  SELECT DISTINCT u AS node FROM edges
         |  WHERE u < 1000000 AND u % 10 = 0),
         |walk(node, dist) AS (
         |  SELECT node, 0 FROM seeds
         |  UNION
         |  SELECT e.v, w.dist + 1 FROM walk w JOIN edges e ON e.u = w.node
         |  WHERE w.dist < $bfsMaxDist)
         |SELECT node, CAST(MIN(dist) AS BIGINT) AS dist
         |FROM walk GROUP BY node ORDER BY node""".stripMargin,

    // Min path COST re-derived by enumerating ≤R-edge paths as deduped
    // (node, cost, hops) states (UNION set-semantics); MIN at the end —
    // enumeration-then-min equals the kernel's frontier relaxation.
    "graph_sssp_bounded" ->
      s"""WITH RECURSIVE p AS (
         |  SELECT DISTINCT l_suppkey AS sk, l_partkey AS pk
         |  FROM lineitem WHERE l_quantity <= 2),
         |edges AS (
         |  SELECT sk AS u, pk + 1000000 AS v FROM p
         |  UNION ALL
         |  SELECT pk + 1000000, sk FROM p),
         |ew AS (SELECT u, v, ((u + v) % 5) + 1 AS w FROM edges),
         |seeds AS (
         |  SELECT DISTINCT u AS node FROM edges
         |  WHERE u < 1000000 AND u % 10 = 0),
         |walk(node, dist, r) AS (
         |  SELECT node, CAST(0 AS BIGINT), 0 FROM seeds
         |  UNION
         |  SELECT e.v, w.dist + e.w, w.r + 1
         |  FROM walk w JOIN ew e ON e.u = w.node
         |  WHERE w.r < $ssspMaxRounds)
         |SELECT node, CAST(MIN(dist) AS BIGINT) AS dist
         |FROM walk GROUP BY node ORDER BY node""".stripMargin,

    // Link prediction replayed end to end: same co-purchase edges, same
    // p05 cap (quantile_disc ≡ full-accuracy percentile_approx, the
    // eqdepth_scale convention), same capped wedges, anti-join, and
    // integer-micro RA sums.
    "graph_link_predict" ->
      s"""WITH items AS (
         |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
         |edges AS (
         |  SELECT DISTINCT a.p AS u, b.p AS v
         |  FROM items a JOIN items b ON a.o = b.o AND a.p < b.p),
         |und AS (SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges),
         |deg AS (SELECT u AS n, COUNT(*) AS d FROM und GROUP BY u),
         |cap AS (
         |  SELECT quantile_disc(d, CAST($LinkPredictDegFraction AS DOUBLE)) AS c
         |  FROM deg),
         |wed AS (
         |  SELECT a.v AS wu, b.v AS wv, dz.d
         |  FROM und a
         |  JOIN deg dz ON dz.n = a.u AND dz.d <= (SELECT c FROM cap)
         |  JOIN und b ON b.u = a.u AND a.v < b.v)
         |SELECT wu AS u, wv AS v, COUNT(*) AS cn,
         |  CAST(SUM($LinkPredictRaMicro // d) AS BIGINT) AS ra_micro
         |FROM wed
         |WHERE NOT EXISTS (SELECT 1 FROM edges e WHERE e.u = wu AND e.v = wv)
         |GROUP BY wu, wv HAVING COUNT(*) >= 2
         |ORDER BY u, v""".stripMargin,

    // Per-customer order chains walked to their minimum — the same
    // min-label fixpoint the large-star/small-star rounds compute.
    "graph_components" ->
      """WITH RECURSIVE nxt AS (
        |  SELECT o_custkey, o_orderkey,
        |    lead(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS nk
        |  FROM orders),
        |edges AS (
        |  SELECT o_orderkey AS u, nk AS v FROM nxt WHERE nk IS NOT NULL
        |  UNION ALL
        |  SELECT nk, o_orderkey FROM nxt WHERE nk IS NOT NULL),
        |walk(u, r) AS (
        |  SELECT o_orderkey, o_orderkey FROM orders
        |  UNION
        |  SELECT w.u, e.v FROM walk w JOIN edges e ON e.u = w.r)
        |SELECT u AS o_orderkey, MIN(r) AS component FROM walk GROUP BY u
        |ORDER BY o_orderkey""".stripMargin,
    // The FULL 8-iteration integral fixpoint unrolled as generated
    // CTEs — same constants as the Spark loop by construction.
    "graph_pagerank" -> pagerankSql(pagerankIters),
    "graph_kcore" -> kcoreSql(kcoreK, kcoreOracleRounds),
    "graph_random_walk" -> walkSql(walkSteps),
    "graph_node2vec_walk" -> n2vSql(n2vSteps, n2vWReturn, n2vWNear, n2vWFar),

    // Independent re-derivation of the degree-oriented triangle count:
    // same co-purchase edges, same (degree, id) orientation, same
    // wedge-close joins.
    "graph_triangles" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |edges AS (
        |  SELECT DISTINCT a.p AS u, b.p AS v
        |  FROM items a JOIN items b ON a.o = b.o AND a.p < b.p),
        |deg AS (
        |  SELECT n, COUNT(*) AS d FROM (
        |    SELECT u AS n FROM edges UNION ALL SELECT v AS n FROM edges)
        |  GROUP BY n),
        |o AS (
        |  SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v)
        |              THEN u ELSE v END AS src,
        |         CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v)
        |              THEN v ELSE u END AS dst
        |  FROM edges JOIN deg du ON du.n = u JOIN deg dv ON dv.n = v),
        |tri AS (
        |  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        |  FROM o e1
        |  JOIN o e2 ON e1.src = e2.src AND e1.dst <> e2.dst
        |  JOIN o e3 ON e3.src = e1.dst AND e3.dst = e2.dst)
        |SELECT node, COUNT(*) AS tri_n FROM (
        |  SELECT a AS node FROM tri
        |  UNION ALL SELECT b AS node FROM tri
        |  UNION ALL SELECT c AS node FROM tri)
        |GROUP BY node ORDER BY node""".stripMargin,

    // Rerank recall is 1.0 on these fixtures (asserted in SketchSpec:
    // every true j ≥ 0.2 pair is band-caught), so the exact-Jaccard SQL
    // is the binding oracle for the composed key as well.
    "dedup_minhash_rerank" ->
      s"""WITH $shingleSql,
         |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id)
         |SELECT doc_a, doc_b, jaccard FROM (
         |  SELECT doc_a, doc_b,
         |    ROUND(CAST(inter AS DOUBLE) / (na.n + nb.n - inter), 4) AS jaccard
         |  FROM pairs
         |  JOIN sz na ON na.doc_id = doc_a
         |  JOIN sz nb ON nb.doc_id = doc_b)
         |WHERE jaccard >= 0.2
         |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_cluster" ->
      s"""WITH RECURSIVE $clusterCteSql
         |SELECT doc_id, cluster FROM comp
         |ORDER BY doc_id""".stripMargin,
    "pipeline_keep_canonical" ->
      s"""WITH RECURSIVE $clusterCteSql,
         |lab AS (
         |  SELECT c.doc_id, c.cluster, d.n_chars,
         |    COUNT(*) OVER (PARTITION BY c.cluster) AS n_members
         |  FROM comp c JOIN documents d USING (doc_id))
         |SELECT doc_id, cluster, n_members FROM lab
         |QUALIFY row_number() OVER (PARTITION BY cluster ORDER BY n_chars DESC, doc_id) = 1
         |ORDER BY doc_id""".stripMargin,
    "dedup_embedding" ->
      s"""WITH $normedSql
         |SELECT id_a, id_b, round(cos, 4) + 0.0 AS cos FROM (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |    ${cosSql("a.v", "b.v", "a.nrm", "b.nrm")} AS cos
         |  FROM n a JOIN n b ON a.vec_id < b.vec_id)
         |WHERE cos >= 0.4
         |ORDER BY id_a, id_b""".stripMargin,
    // DBSCAN replayed: same ε-pairs, same exclusive-of-self degree
    // rule, recursive min-label over the core-core subgraph, min-label
    // border attachment, noise = -1.
    "cluster_dbscan" ->
      s"""WITH RECURSIVE $normedSql,
         |pairs AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM n a JOIN n b ON a.vec_id < b.vec_id
         |  WHERE ${cosSql("a.v", "b.v", "a.nrm", "b.nrm")} >= 0.4),
         |und AS (
         |  SELECT id_a AS u, id_b AS v FROM pairs
         |  UNION ALL
         |  SELECT id_b, id_a FROM pairs),
         |core AS (
         |  SELECT u AS id FROM und GROUP BY u HAVING COUNT(*) >= 2),
         |ce AS (
         |  SELECT u, v FROM und
         |  WHERE u IN (SELECT id FROM core) AND v IN (SELECT id FROM core)),
         |walk(u, r) AS (
         |  SELECT id, id FROM core
         |  UNION
         |  SELECT w.u, e.v FROM walk w JOIN ce e ON e.u = w.r),
         |comp AS (SELECT u AS id, MIN(r) AS component FROM walk GROUP BY u),
         |bord AS (
         |  SELECT und.u, MIN(c.component) AS bcomp
         |  FROM und JOIN comp c ON c.id = und.v
         |  WHERE und.u NOT IN (SELECT id FROM core)
         |  GROUP BY und.u)
         |SELECT e.vec_id,
         |  CAST(COALESCE(c.component, b.bcomp, -1) AS BIGINT) AS cluster,
         |  CASE WHEN c.component IS NOT NULL THEN 'core'
         |       WHEN b.bcomp IS NOT NULL THEN 'border'
         |       ELSE 'noise' END AS role
         |FROM embeddings e
         |LEFT JOIN comp c ON c.id = e.vec_id
         |LEFT JOIN bord b ON b.u = e.vec_id
         |ORDER BY vec_id""".stripMargin,

    // SemDeDup replayed: the same exact pair graph, min-labels walked
    // to the fixpoint recursively (the graph_components oracle shape),
    // keep = "I am my cluster's smallest id".
    "dedup_semantic" ->
      s"""WITH RECURSIVE $normedSql,
         |pairs AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM n a JOIN n b ON a.vec_id < b.vec_id
         |  WHERE ${cosSql("a.v", "b.v", "a.nrm", "b.nrm")} >= 0.4),
         |edges AS (
         |  SELECT id_a AS u, id_b AS v FROM pairs
         |  UNION ALL
         |  SELECT id_b, id_a FROM pairs),
         |walk(u, r) AS (
         |  SELECT vec_id, vec_id FROM embeddings
         |  UNION
         |  SELECT w.u, e.v FROM walk w JOIN edges e ON e.u = w.r)
         |SELECT u AS vec_id, MIN(r) AS cluster, u = MIN(r) AS keep
         |FROM walk GROUP BY u ORDER BY vec_id""".stripMargin,
    "simsearch_topk" ->
      s"""WITH $normedSql
         |SELECT i, k, rnk, round(cos, 4) + 0.0 AS cos FROM (
         |  SELECT a.vec_id AS i, b.vec_id AS k,
         |    ${cosSql("a.v", "b.v", "a.nrm", "b.nrm")} AS cos,
         |    row_number() OVER (PARTITION BY a.vec_id ORDER BY
         |      ${cosSql("a.v", "b.v", "a.nrm", "b.nrm")} DESC, b.vec_id) AS rnk
         |  FROM n a JOIN n b ON a.vec_id <> b.vec_id)
         |WHERE rnk <= 5
         |ORDER BY i, rnk""".stripMargin,

    // The same two retrievers + fusion in raw SQL: integer term
    // overlap, round-4 cosine, per-query ranks, RRF as the identical
    // two-operand double expression (CAST, never a decimal literal —
    // the AgreementSpec rule).
    "search_hybrid_rrf" ->
      s"""WITH tt AS (
         |  SELECT doc_id, t FROM (
         |    SELECT doc_id,
         |      unnest(list_distinct(string_split_regex(lower(text), '[^a-z]+'))) AS t
         |    FROM documents)
         |  WHERE length(t) > 0),
         |lex AS (
         |  SELECT q, d, rnk_lex FROM (
         |    SELECT q, d, row_number() OVER (PARTITION BY q ORDER BY ovl DESC, d) AS rnk_lex
         |    FROM (
         |      SELECT a.doc_id AS q, b.doc_id AS d, COUNT(*) AS ovl
         |      FROM tt a JOIN tt b ON a.t = b.t AND a.doc_id <> b.doc_id
         |      WHERE a.doc_id IN ($hybridIdsSql)
         |      GROUP BY a.doc_id, b.doc_id))
         |  WHERE rnk_lex <= $hybridTextPoolK),
         |$normedSql,
         |vec AS (
         |  SELECT q, d, rnk_vec FROM (
         |    SELECT q, d, row_number() OVER (PARTITION BY q ORDER BY cos DESC, d) AS rnk_vec
         |    FROM (
         |      SELECT a.vec_id AS q, b.vec_id AS d,
         |        round(${cosSql("a.v", "b.v", "a.nrm", "b.nrm")}, 4) AS cos
         |      FROM n a JOIN n b ON a.vec_id <> b.vec_id
         |      WHERE a.vec_id IN ($hybridIdsSql)))
         |  WHERE rnk_vec <= $hybridTextPoolK),
         |f AS (
         |  SELECT COALESCE(lex.q, vec.q) AS q, COALESCE(lex.d, vec.d) AS d,
         |    round(COALESCE(CAST(1 AS DOUBLE) / (60 + rnk_lex), CAST(0 AS DOUBLE))
         |        + COALESCE(CAST(1 AS DOUBLE) / (60 + rnk_vec), CAST(0 AS DOUBLE)), 6)
         |      + 0.0 AS score
         |  FROM lex FULL OUTER JOIN vec ON lex.q = vec.q AND lex.d = vec.d)
         |SELECT q, rnk, d, score FROM (
         |  SELECT q, d, score,
         |    CAST(row_number() OVER (PARTITION BY q ORDER BY score DESC, d) AS BIGINT) AS rnk
         |  FROM f)
         |WHERE rnk <= $hybridTextTopK
         |ORDER BY q, rnk""".stripMargin,

    // The free-text weighted-RRF variant, re-derived independently: the
    // query strings, vec_id pins, and both weights are generated from
    // the SAME Scala constants the key uses (hybridTextQueries /
    // hybridTextWLex / hybridTextWVec), the rest re-states the
    // pipeline in raw SQL. No self-exclusion on either side (free text
    // The BM25 oracle — every double constant is INTERPOLATED from the
    // Scala-computed value (k1+1, 1−b round-trip through toString), so
    // both engines evaluate bit-identical literals; contributions round
    // to 6 and sum as exact DECIMAL(18,6), the rank reads the exact sum.
    "search_bm25" -> {
      val k1p1 = bm25K1 + 1.0
      val oneMinusB = 1.0 - bm25B
      s"""WITH qq(q, qtext) AS (VALUES ${hybridTextQueries.map {
           case (q, t, _) => s"(CAST($q AS BIGINT), '$t')" }.mkString(", ")}),
         |toks AS (
         |  SELECT doc_id, t FROM (
         |    SELECT doc_id,
         |      unnest(string_split_regex(lower(text), '[^a-z]+')) AS t
         |    FROM documents)
         |  WHERE length(t) > 0),
         |tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM toks GROUP BY doc_id, t),
         |df AS (SELECT t, COUNT(*) AS df
         |       FROM (SELECT DISTINCT doc_id, t FROM toks) GROUP BY t),
         |dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
         |st AS (SELECT COUNT(*) AS nd, CAST(SUM(dl) AS BIGINT) AS tot FROM dl),
         |qt AS (
         |  SELECT q, t FROM (
         |    SELECT q,
         |      unnest(list_distinct(string_split_regex(lower(qtext), '[^a-z]+'))) AS t
         |    FROM qq)
         |  WHERE length(t) > 0),
         |term AS (
         |  SELECT qt.q AS q, tf.doc_id AS doc_id,
         |    CAST(ROUND(
         |      ln((CAST(nd AS DOUBLE) - df + CAST(0.5 AS DOUBLE))
         |           / (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE))
         |         + CAST(1 AS DOUBLE))
         |      * (CAST(tf AS DOUBLE) * CAST($k1p1 AS DOUBLE))
         |      / (CAST(tf AS DOUBLE) + CAST($bm25K1 AS DOUBLE)
         |          * (CAST($oneMinusB AS DOUBLE)
         |             + CAST($bm25B AS DOUBLE) * CAST(dl AS DOUBLE)
         |               / (CAST(tot AS DOUBLE) / CAST(nd AS DOUBLE)))), 6)
         |      AS DECIMAL(18,6)) AS contrib
         |  FROM qt JOIN tf USING (t) JOIN df USING (t)
         |    JOIN dl ON tf.doc_id = dl.doc_id, st),
         |sc AS (SELECT q, doc_id, SUM(contrib) AS sc FROM term GROUP BY q, doc_id)
         |SELECT q, rnk, d, score FROM (
         |  SELECT q, doc_id AS d, CAST(ROUND(sc, 4) AS DOUBLE) AS score,
         |    CAST(row_number() OVER (PARTITION BY q ORDER BY sc DESC, doc_id)
         |      AS BIGINT) AS rnk
         |  FROM sc)
         |WHERE rnk <= $bm25TopK
         |ORDER BY q, rnk""".stripMargin
    },
    // has no corpus identity).
    "search_hybrid_text" ->
      s"""WITH qq(q, qtext, vid) AS (VALUES $hybridTextValuesSql),
         |tt AS (
         |  SELECT doc_id, t FROM (
         |    SELECT doc_id,
         |      unnest(list_distinct(string_split_regex(lower(text), '[^a-z]+'))) AS t
         |    FROM documents)
         |  WHERE length(t) > 0),
         |qt AS (
         |  SELECT q, t FROM (
         |    SELECT q,
         |      unnest(list_distinct(string_split_regex(lower(qtext), '[^a-z]+'))) AS t
         |    FROM qq)
         |  WHERE length(t) > 0),
         |lex AS (
         |  SELECT q, d, rnk_lex FROM (
         |    SELECT q, d, row_number() OVER (PARTITION BY q ORDER BY ovl DESC, d) AS rnk_lex
         |    FROM (
         |      SELECT qt.q AS q, tt.doc_id AS d, COUNT(*) AS ovl
         |      FROM qt JOIN tt ON qt.t = tt.t
         |      GROUP BY qt.q, tt.doc_id))
         |  WHERE rnk_lex <= $hybridTextPoolK),
         |$normedSql,
         |qn AS (
         |  SELECT qq.q AS q, n.v AS qv, n.nrm AS qn
         |  FROM qq JOIN n ON n.vec_id = qq.vid),
         |vec AS (
         |  SELECT q, d, rnk_vec FROM (
         |    SELECT q, d, row_number() OVER (PARTITION BY q ORDER BY cos DESC, d) AS rnk_vec
         |    FROM (
         |      SELECT qn.q AS q, b.vec_id AS d,
         |        round(${cosSql("qn.qv", "b.v", "qn.qn", "b.nrm")}, 4) AS cos
         |      FROM n b CROSS JOIN qn))
         |  WHERE rnk_vec <= $hybridTextPoolK),
         |f AS (
         |  SELECT COALESCE(lex.q, vec.q) AS q, COALESCE(lex.d, vec.d) AS d,
         |    round(COALESCE(CAST($hybridTextWLex AS DOUBLE) / (60 + rnk_lex), CAST(0 AS DOUBLE))
         |        + COALESCE(CAST($hybridTextWVec AS DOUBLE) / (60 + rnk_vec), CAST(0 AS DOUBLE)), 6)
         |      + 0.0 AS score
         |  FROM lex FULL OUTER JOIN vec ON lex.q = vec.q AND lex.d = vec.d)
         |SELECT q, rnk, d, score FROM (
         |  SELECT q, d, score,
         |    CAST(row_number() OVER (PARTITION BY q ORDER BY score DESC, d) AS BIGINT) AS rnk
         |  FROM f)
         |WHERE rnk <= $hybridTextTopK
         |ORDER BY q, rnk""".stripMargin
  )

  private def hybridIdsSql: String = hybridQueryIds.mkString(", ")

  /** The pinned free-text queries as SQL VALUES rows — q CAST to
    * BIGINT so the fusion key types match the Spark side. */
  private def hybridTextValuesSql: String =
    hybridTextQueries.map { case (q, t, v) =>
      s"(CAST($q AS BIGINT), '$t', $v)"
    }.mkString(", ")
}
