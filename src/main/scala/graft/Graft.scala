package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Public library facade — the typed entry points a pipeline author
  * calls on their OWN DataFrames (the query keys in [[SparkEntry]] bind
  * the same kernels to the harness fixture tables). Column names are
  * parameters; inputs are normalized internally to the engine's working
  * schema, so callers never rename their data.
  *
  * Every method returns a lazy DataFrame (no action is triggered) except
  * [[cluster]]/[[exemplars]], whose iterative solve necessarily runs
  * jobs. All paths are the scale-designed forms: banded/bucketed
  * candidate generation, broadcast dimensions, bounded driver state —
  * see the kernel Scaladoc in [[queries.Dedup]], [[ap.AffinityPropagation]],
  * [[functions.Ann]], [[functions.Ivf]].
  */
object Graft {

  private def docsOf(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).cast("long").as("doc_id"), col(textCol).as("text"))

  private def embOf(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(col(idCol).cast("long").as("vec_id"), col(vecCol).as("embedding"))

  // ---- clustering (Affinity Propagation, Frey & Dueck 2007) ----------

  /** Full damped AP to convergence; returns (id, exemplar) — every point
    * labeled with its cluster's exemplar id, exemplars self-assigned.
    * Dispatches to the dense in-memory kernel below N=4000 and the
    * distributed block-kernel loop above it.
    *
    * `jitter` (opt-in, e.g. 1e-6) adds a deterministic hash-seeded
    * offset of that fraction of the similarity range to each pair —
    * [FD07]'s noise remedy for degenerate inputs: EXACT-duplicate
    * points otherwise oscillate the damped loop forever (the copies
    * swap exemplar roles every iteration) and the run hits maxIter
    * unconverged. Deterministic per (i, k), so jittered runs are
    * reproducible; leave 0.0 unless your data has exact duplicates or
    * large similarity ties.
    *
    * `damping` (λ, default 0.5) is the remedy for SUSTAINED
    * oscillation that jitter does not fix: heavy NEAR-duplicate
    * multiplicity — many nearly-identical copies of the same content,
    * the normal shape of an undeduplicated LLM corpus — gives each
    * duplicate group a many-way exemplar election that never holds the
    * convergence plateau at λ=0.5. Raise to 0.7 ([FD07]'s
    * raise-damping remedy; measured: a 25-replica-per-point fixture at
    * N=50 000 fails λ=0.5 jittered or not, converges in 29 iterations
    * at λ=0.7 with exactly one exemplar per duplicate group —
    * BENCH_NOTES §18, ApSpec pins the kernel-scale witness). Heavier
    * damping costs iterations on easy inputs (measured 52→159 from
    * λ=0.5→0.9 on a light fixture), so it is a remedy, not a better
    * default. */
  def cluster(spark: SparkSession, embeddings: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      damping: Double = 0.5, maxIter: Int = 200, convergenceIter: Int = 15,
      preference: Option[Double] = None, jitter: Double = 0.0): DataFrame = {
    val emb = embOf(embeddings, idCol, vecCol)
    val res = ap.AffinityPropagation.solve(
      spark, emb, damping, maxIter, convergenceIter, preference,
      jitter = jitter)
    ap.AffinityPropagation.assign(
        ap.AffinityPropagation.similarities(emb), res.exemplars, spark)
      .select(col("i").as("id"), col("exemplar"))
  }

  /** Exemplar ids only (same solve as [[cluster]]). */
  def exemplars(spark: SparkSession, embeddings: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      damping: Double = 0.5, preference: Option[Double] = None,
      jitter: Double = 0.0): Seq[Long] =
    ap.AffinityPropagation.solve(spark, embOf(embeddings, idCol, vecCol),
      damping, prefOverride = preference, jitter = jitter).exemplars

  /** Full damped AP over a CALLER-SUPPLIED similarity relation — the
    * algorithm's native input ([FD07] p.972: s(i,k) need not be metric
    * or symmetric — string kernels, graph affinities, any domain score).
    * Pairs absent from `sims` behave as s = −∞ (sparse-AP semantics).
    * DIAGONAL rows (i = k) are per-point PREFERENCES ([FD07]: "the
    * preference of point k is s(k,k)"); points without one get
    * `preference` (or the median of the supplied off-diagonal s).
    * Returns (id, exemplar), exemplars self-assigned; points with no
    * similarity to any exemplar are unassignable under sparse semantics
    * and are omitted. Same two-regime dispatch, convergence conventions,
    * and D6 tie-breaks as [[cluster]] — fed `s = −‖x−y‖²` triples this
    * returns exactly [[cluster]]'s rows (GraftSpec pins it). */
  def clusterFromSimilarities(spark: SparkSession, sims: DataFrame,
      iCol: String = "i", kCol: String = "k", sCol: String = "s",
      damping: Double = 0.5, maxIter: Int = 200, convergenceIter: Int = 15,
      preference: Option[Double] = None, jitter: Double = 0.0): DataFrame = {
    val sm = sims.select(
      col(iCol).cast("long").as("i"),
      col(kCol).cast("long").as("k"),
      col(sCol).cast("double").as("s"))
    val res = ap.AffinityPropagation.solveFromSimilarities(
      spark, sm, damping, maxIter, convergenceIter, preference,
      jitter = jitter)
    ap.AffinityPropagation.assign(sm.filter(col("i") =!= col("k")), res.exemplars, spark)
      .select(col("i").as("id"), col("exemplar"))
  }

  // ---- deduplication -------------------------------------------------

  /** Exact duplicates by content digest: one representative (smallest
    * id) per distinct text + copy count. Shuffles 128-bit digests, not
    * document bodies. Returns (id, digest, n_copies). */
  def exactDuplicates(docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docsOf(docs, idCol, textCol)
      .groupBy(md5(encode(col("text"), "UTF-8")).as("digest"))
      .agg(min(col("doc_id")).as("id"), count(lit(1)).as("n_copies"))
      .select("id", "digest", "n_copies")

  /** Exact 3-word-shingle Jaccard near-dup pairs (id_a < id_b), via the
    * PRODUCTION kernel: hashed shingle identity, bucket-grouped pair
    * generation, and the df-capped hot-shingle decomposition engaged
    * automatically when a shingle's document frequency exceeds the cap
    * (stopword trigrams at corpus scale) — values identical to the
    * string-shingle baseline. Still inherently all-pairs in its OUTPUT
    * (every qualifying pair is emitted); prefer [[nearDupPairsReranked]]
    * when LSH recall is acceptable — subquadratic end to end with the
    * same exact values on every surviving pair.
    *
    * Shingle identity is 64-bit hashed (the engine-wide production
    * form): a cross-document shingle collision — P < 1e-8 at 100× the
    * fixture scale — could in principle inflate one pair's
    * intersection. Callers needing the LETTER-exact string-shingle
    * contract (audit baselines, oracle comparisons) pass
    * `hashedShingles = false` to run the reference kernel instead —
    * identical rows, heavier shuffle (round-10 ADVICE). */
  def nearDupPairsExact(spark: SparkSession, docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      threshold: Double = 0.2, hashedShingles: Boolean = true): DataFrame = {
    val d = docsOf(docs, idCol, textCol)
    val pairs =
      if (hashedShingles) queries.Dedup.jaccardPairsHashed(spark, d, threshold)
      else queries.Dedup.jaccardPairs(spark, d, threshold)
    pairs.select(col("doc_a").as("id_a"), col("doc_b").as("id_b"), col("jaccard"))
  }

  /** MinHash-LSH candidates reranked with exact Jaccard — the composed
    * pipeline a production dedup runs: candidate generation is
    * O(N·bands), exact values are computed on the candidate set only;
    * result ⊆ [[nearDupPairsExact]] with identical values. */
  def nearDupPairsReranked(spark: SparkSession, docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      threshold: Double = 0.2): DataFrame =
    queries.Dedup.minhashRerank(spark, docsOf(docs, idCol, textCol), threshold)
      .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"), col("jaccard"))

  /** MinHash-LSH candidate near-dup pairs — the 100 TB path: 32 hashes,
    * 8×4 banding, O(N·bands) shuffle, never N². Candidates only;
    * rerank with [[nearDupPairsExact]] on the candidate set if exact
    * Jaccard is required. */
  def nearDupPairs(spark: SparkSession, docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    queries.Dedup.minhashPairs(spark, docsOf(docs, idCol, textCol))
      .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"))

  /** Incremental near-dup pairs (see
    * [[graft.queries.Dedup.jaccardPairsHashedFrom]]'s increment mode): every
    * exact Jaccard ≥ `threshold` pair with at least one endpoint among
    * `incrementIds` — the daily-batch dedup shape, where history×history
    * never re-pairs and values stay full-corpus exact. The hot-shingle
    * df cap engages automatically via the bounded probe. Returns
    * (id_a, id_b, jaccard). */
  def nearDupPairsIncremental(spark: SparkSession, docs: DataFrame,
      incrementIds: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", incIdCol: String = "doc_id",
      threshold: Double = 0.2): DataFrame = {
    // probe-and-route like the batch production entry (nearDupPairs):
    // on a balanced corpus the bounded probe finds nothing and the plan
    // is the plain incremental kernel; past the df cap the cold /
    // hot-correction / hot-dominated decomposition keeps the
    // inc×corpus bucket join bounded (round-17 ADVICE #2)
    val sh = queries.Dedup.hashedShinglePlan(spark, docsOf(docs, idCol, textCol))
    queries.Dedup.jaccardPairsHashedFrom(sh, threshold,
        queries.Dedup.hotShingleProbe(sh),
        Some(incrementIds.select(col(incIdCol).cast("long").as("doc_id"))))
      .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"), col("jaccard"))
  }

  /** SimHash near-dup pairs within hamming distance ≤ 3 — provably
    * exact for that radius via 4×16-bit band pigeonhole, no N² join. */
  def nearDupPairsSimhash(spark: SparkSession, docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    queries.Dedup.simhashPairs(spark, docsOf(docs, idCol, textCol))
      .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"), col("hamming"))

  /** Lower weighted quartiles of an integer-valued column with an
    * integer mass column (see
    * [[graft.queries.Aggregates.weightedQuartiles]]) — the aggregate
    * Spark has no builtin for (percentile_approx takes no weights):
    * quartile q = smallest value whose cumulative mass reaches q/4 of
    * the group total. Interpolation-free; computed by the mergeable
    * [[graft.functions.WeightedQuantiles]] sketch — exact AND
    * deterministic while a group's distinct values stay under the 2²⁰
    * cap (the buffer is then literally the grouped (value, Σmass)
    * relation), never a keyed window. ABOVE the cap the one-sided
    * O(tot/cap) rank bound always holds, but compress() runs on
    * merge-order-dependent intermediate buffers, so the picked value
    * may vary run to run WITHIN that bound — the determinism claim is
    * scoped to the exact regime (round-18 ADVICE #1).
    * Returns (group, total_w, wq1_cents, wmedian_cents, wq3_cents). */
  def weightedQuartiles(df: DataFrame, groupCol: String, valueCol: String,
      weightCol: String): DataFrame =
    queries.Aggregates.weightedQuartiles(
        df.select(col(groupCol).as("g"), Det.cents(col(valueCol)).as("pc"),
          col(weightCol).cast("long").as("w")))
      .withColumnRenamed("g", "group")

  /** Lower weighted quantiles at ARBITRARY fractions — the p50/p90/p99
    * corpus-statistics call ([[weightedQuartiles]] generalized; see
    * [[graft.functions.WeightedQuantilesAt]]): quantile p = smallest
    * value whose cumulative mass reaches p of the group total, p taken
    * as the exact rational round(p·10⁴)/10⁴ so every comparison stays
    * on longs. Same mergeable-sketch plan and exactness contract as the
    * quartile form; null value/mass rows are skipped. Returns
    * (group, total_w, p<permyriad>_cents…) — e.g. ps = Seq(0.5, 0.99)
    * yields columns p5000_cents, p9900_cents. */
  def weightedQuantiles(df: DataFrame, groupCol: String, valueCol: String,
      weightCol: String, ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p > 0 && p <= 1),
      s"weightedQuantiles: fractions must lie in (0, 1], got $ps")
    val pm = ps.map(p => math.round(p * 10000))
    require(pm.forall(_ >= 1),
      s"weightedQuantiles: fractions resolve at 1e-4 — a fraction under " +
        s"0.00005 rounds to zero mass: $ps")
    require(pm.distinct.length == pm.length,
      s"weightedQuantiles: fractions collide at 1e-4 resolution: $ps")
    val wq = udaf(new graft.functions.WeightedQuantilesAt(
      queries.Aggregates.wqSketchCap, pm.map(n => (n, 10000L))))
    df.select(col(groupCol).as("group"), Det.cents(col(valueCol)).as("pc"),
        col(weightCol).cast("long").as("w"))
      .filter(col("pc").isNotNull && col("w").isNotNull)
      .groupBy("group")
      .agg(wq(col("pc"), col("w")).as("r"))
      .select(col("group") +: col("r.total_w").as("total_w") +:
        pm.zipWithIndex.map { case (n, i) =>
          col("r.qs").getItem(i).as(s"p${n}_cents")
        }: _*)
  }

  /** Deterministic DBSCAN over an embedding column (see
    * [[graft.queries.Dedup.dbscan]]; Ester et al. 1996): density
    * clusters on the exact cosine ≥ `threshold` ε-graph — core points
    * (≥ `minPts` neighbors, exclusive of self) merge into components,
    * border points attach to the smallest adjacent core *label* (the
    * minimum component id over their adjacent cores — which may differ
    * from the smallest core's own cluster when that core carries a
    * larger label), sparse points are NOISE (cluster −1) — the call AP and
    * plain components cannot make. Returns (id, cluster, role). */
  def dbscan(spark: SparkSession, embeddings: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      threshold: Double = 0.4, minPts: Int = 2): DataFrame =
    queries.Dedup.dbscan(
      queries.Dedup.embeddingPairsOf(spark,
          embeddings.select(col(idCol).cast("long").as("vec_id"),
            col(vecCol).as("embedding")), threshold)
        .select("id_a", "id_b"),
      embeddings.select(col(idCol).cast("long").as("id")), minPts)

  /** Semantic dedup of an embedding column — the SemDeDup step (see
    * [[graft.queries.Dedup]] `dedup_semantic`; Abbas et al. 2023):
    * connected components over the exact cosine ≥ `threshold` pair
    * graph (block-pair decomposition, no all-pairs product), each
    * vector labeled with its cluster and flagged keep iff it is the
    * cluster's smallest id — filter on `keep` to shrink the corpus.
    * At 100 TB swap the pair stage for IVF bucket co-membership
    * ([[similarTopKAuto]]'s index family) with the same downstream.
    * Returns (id, cluster, keep). */
  def semanticDedup(spark: SparkSession, embeddings: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      threshold: Double = 0.4): DataFrame =
    queries.Dedup.connectedComponents(
        embeddings.select(col(idCol).cast("long").as("id")),
        queries.Dedup.embeddingPairsOf(spark,
            embeddings.select(col(idCol).cast("long").as("vec_id"),
              col(vecCol).as("embedding")), threshold)
          .select("id_a", "id_b"))
      .select(col("id"), col("component").as("cluster"),
        (col("id") === col("component")).as("keep"))

  /** Perceptual dHash of a PNG binary column (see
    * [[graft.queries.TextOps.phashes]]; Krawetz 2013) — 64
    * gradient-sign bits as four 16-bit bands, computed in a batched
    * per-partition pass (pixels never shuffle; the hash is 32 bytes per
    * image regardless of resolution). Returns (id, b0, b1, b2, b3). */
  def imagePhash(df: DataFrame, idCol: String, pngCol: String): DataFrame = {
    import df.sparkSession.implicits._
    queries.TextOps.phashOfPayloads(
        df.select(col(idCol).cast("long").as("doc_id"), col(pngCol).as("payload"))
          .as[(Long, Array[Byte])])
      .withColumnRenamed("doc_id", "id")
  }

  /** Image near-dup pairs within dHash hamming ≤ `maxHamming` (≤ 3 —
    * the 4-band pigeonhole radius; see
    * [[graft.queries.TextOps.phashPairsFrom]]): exact pair set via the
    * band-equality bucket join, no all-pairs product. The visual
    * companion to [[nearDupPairsSimhash]] — catches re-encoded or
    * resampled image copies a byte digest misses. Returns
    * (id_a, id_b, hamming). */
  def imageNearDups(df: DataFrame, idCol: String, pngCol: String,
      maxHamming: Int = 3): DataFrame =
    queries.TextOps.phashPairsFrom(
        imagePhash(df, idCol, pngCol).withColumnRenamed("id", "doc_id"),
        maxHamming)
      .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"), col("hamming"))

  /** Near-dup clusters: connected components of the exact-Jaccard pair
    * graph; every doc labeled with its component's smallest id (keep one
    * doc per component to dedup). Returns (id, component). */
  def nearDupClusters(spark: SparkSession, docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      threshold: Double = 0.2): DataFrame = {
    val d = docsOf(docs, idCol, textCol)
    queries.Dedup.connectedComponents(
      d.select(col("doc_id").as("id")),
      queries.Dedup.jaccardPairsHashed(spark, d, threshold)
        .select(col("doc_a").as("id_a"), col("doc_b").as("id_b")))
  }

  /** Blocked edit-distance matching — entity resolution's
    * blocking-then-matching pipeline: candidates share a block key
    * (first whitespace token of `textCol` — pick/derive a finer key
    * column upstream for hot blocks), matches are Levenshtein ≤
    * `maxEdits`. The quadratic compare runs on DISTINCT strings per
    * block only; exact duplicates expand from their group with no
    * compare — corpus-scale duplication is the common case and costs
    * nothing here. Returns (key_a < key_b, dist). Exact: the result
    * row set equals the naive blocked self-join's. */
  def blockedEditDistancePairs(docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      maxEdits: Int = 2): DataFrame =
    queries.Dedup.blockedEditPairs(
      docs.select(col(idCol).cast("long").as("id"), col(textCol).as("name")),
      maxEdits)

  /** Generic connected components over any (id_a, id_b) edge list. */
  def connectedComponents(nodes: DataFrame, edges: DataFrame): DataFrame =
    queries.Dedup.connectedComponents(nodes, edges)

  /** GOLDEN-RECORD survivorship — the step AFTER entity matching (see
    * [[graft.queries.Dedup.goldenRecords]] and the er_golden_record
    * key): cluster the records by blocked Levenshtein ≤ `maxEdits`
    * matching on `nameCol`, then emit ONE canonical row per cluster —
    * mode name (count ties break to the lexicographically smallest),
    * smallest member id as the record key, max of `valueCol` in exact
    * cents, member count. Returns (component, canonical_id, n_members,
    * canonical_name, name_votes, max_value_cents). */
  def goldenRecords(records: DataFrame, idCol: String, nameCol: String,
      valueCol: String, maxEdits: Int = 3): DataFrame = {
    val base = records.select(col(idCol).cast("long").as("id"),
      col(nameCol).as("name"), Det.cents(col(valueCol)).as("vc"))
    val pairs = queries.Dedup.blockedEditPairs(
        base.select("id", "name"), maxEdits)
      .select(col("key_a").as("id_a"), col("key_b").as("id_b"))
    queries.Dedup.goldenRecords(
      queries.Dedup.connectedComponents(base.select("id").distinct(), pairs,
        nodesComplete = true).join(base, "id"))
  }

  /** Damped PageRank (d = 0.85) over a caller edge list, in exact
    * integer nano-units — bit-deterministic on any engine and any
    * partitioning (no float sum order). Edges are symmetrized (u→v plus
    * v→u, one pass), which also guarantees no dangling mass. With
    * `symmetrize = false` the directed list is taken as-is: the node
    * set is src ∪ dst — a pure source keeps its teleport base, and a
    * pure SINK is ranked too, its retained mass redistributed via the
    * classic dangling term each iteration, so Σ rank_nano ≈ 10⁹ (minus
    * integral-floor dust) on any input. Long loops are safe at any
    * `iters`: past `checkpointEvery` iterations lineage truncates at
    * that cadence, and `tolNano > 0` adds an integer-exact early stop
    * (max |Δrank_nano| ≤ tolNano, checked at checkpoint boundaries —
    * so it requires iters > checkpointEvery; an uncheckable tolNano
    * fails loud instead of being silently inert).
    * Returns (node, rank_nano). Kernel scaladoc:
    * [[queries.Dedup.pagerankEdges]]. */
  def pagerank(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 8, symmetrize: Boolean = true,
      checkpointEvery: Int = 8, tolNano: Long = 0L): DataFrame = {
    val e = edges.select(col(srcCol).cast("long").as("u"),
      col(dstCol).cast("long").as("v"))
    queries.Dedup.pagerankEdges(
      if (symmetrize) queries.Dedup.symmetrized(e) else e, iters,
      fillSourceless = !symmetrize, includeSinks = !symmetrize,
      checkpointEvery = checkpointEvery, tolNano = tolNano)
  }

  /** Per-node triangle counts of an undirected graph (see
    * [[graft.queries.Dedup.triangleCounts]]): edges are canonicalized
    * (u < v, distinct, self-loops dropped), then counted via
    * degree-ordered orientation — every out-neighborhood bounded by
    * O(√m) under any skew, three equi-joins, no cartesian. Returns
    * (node, tri_n) for nodes in ≥ 1 triangle. */
  def triangles(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = edges.select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .distinct()
    queries.Dedup.triangleCounts(e)
  }

  /** k-core of an undirected graph (see
    * [[graft.queries.Dedup.kcoreNodes]]): the maximal subgraph where
    * every node keeps ≥ k neighbors, by iterative peeling to an exact
    * fixpoint (per-round checkpoint release, loud failure instead of a
    * truncated — superset — answer past `maxRounds`). Edges are
    * symmetrized and self-loops dropped. Returns (node, deg) with
    * IN-CORE degrees. */
  def kcore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      maxRounds: Int = 100): DataFrame = {
    val e = edges.select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
    queries.Dedup.kcoreNodes(
      e.select(col("a").as("u"), col("b").as("v"))
        .unionByName(e.select(col("b").as("u"), col("a").as("v")))
        .distinct(),
      k, maxRounds)
  }

  /** Hierarchy flattening by pointer doubling (see
    * [[graft.queries.Dedup.hierFlatten]]; Wyllie's list ranking): every
    * node of a parent-pointer forest resolves to its root and depth in
    * ⌈log₂ depth⌉ keyed joins — org charts, bill-of-materials,
    * reply-thread trees, at any depth a recursive CTE would walk
    * sequentially. Roots may point to themselves or carry a NULL
    * parent (normalized internally). Fails loud on cycles or depth
    * over 2^maxRounds. Returns (node, root, depth). */
  def hierFlatten(df: DataFrame, nodeCol: String, parentCol: String,
      maxRounds: Int = queries.Dedup.hierDoublingRounds): DataFrame =
    queries.Dedup.hierFlatten(
      df.select(col(nodeCol).cast("long").as("node"),
        coalesce(col(parentCol).cast("long"), col(nodeCol).cast("long"))
          .as("parent")),
      maxRounds)

  /** Bounded-radius multi-source BFS over an undirected graph (see
    * [[graft.queries.Dedup.bfsDistances]]): exact minimum hop distance
    * from any seed for every node within `maxDist` hops — the
    * hops-to-nearest-X feature builder. Edges are symmetrized and
    * self-loops dropped. Returns (node, dist). */
  def bfsDistances(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, maxDist: Int = 6): DataFrame = {
    val e = edges.select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
    queries.Dedup.bfsDistances(
      e.select(col("a").as("u"), col("b").as("v"))
        .unionByName(e.select(col("b").as("u"), col("a").as("v")))
        .distinct(),
      seeds.select(col(seedCol).cast("long").as("node")), maxDist)
  }

  /** Bounded-round weighted shortest paths over a DIRECTED graph (see
    * [[graft.queries.Dedup.ssspBounded]]; frontier Bellman-Ford): exact
    * minimum path cost from any seed using paths of at most `maxRounds`
    * edges — pass both orientations for an undirected graph. Exact
    * integer weights; negative weights fail loud. Returns
    * (node, dist), reachable nodes only. */
  def shortestPaths(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, seeds: DataFrame, seedCol: String,
      maxRounds: Int = 4): DataFrame =
    queries.Dedup.ssspBounded(
      edges.select(col(srcCol).cast("long").as("u"),
        col(dstCol).cast("long").as("v"),
        col(weightCol).cast("long").as("w")),
      seeds.select(col(seedCol).cast("long").as("node")), maxRounds)

  /** Link prediction over an undirected graph (see
    * [[graft.queries.Dedup.linkPredict]]): non-adjacent node pairs
    * scored by common-neighbor count and the resource-allocation index
    * Σ 1/deg(z) in exact integer micro-units, wedges routed only
    * through intermediates at or below the `degFraction` degree
    * quantile (hubs are near-zero RA evidence and the quadratic wedge
    * risk). Edges are canonicalized (self-loops dropped, u < v,
    * distinct). Returns (u, v, cn, ra_micro) for pairs with ≥ 2 common
    * capped neighbors. */
  def linkPredict(edges: DataFrame, srcCol: String, dstCol: String,
      degFraction: Double = queries.Dedup.LinkPredictDegFraction): DataFrame = {
    val e = edges.select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"))
      .distinct()
    queries.Dedup.linkPredict(e, degFraction)
  }

  /** Deterministic random walks over an undirected graph (see
    * [[graft.queries.Dedup.randomWalks]]): one `steps`-hop walk per
    * node, hops chosen by an integer hash of (start, step, current) mod
    * degree — random in distribution, exactly replayable on re-run (the
    * DeepWalk/node2vec training-sequence build). Node ids must be
    * non-negative (the hash arithmetic's sign contract — enforced
    * loud). Returns (start, step, node). */
  def randomWalks(edges: DataFrame, srcCol: String, dstCol: String,
      steps: Int = 6): DataFrame = {
    val guard = assert_true(col(srcCol) >= 0 && col(dstCol) >= 0,
      lit("randomWalks: node ids must be non-negative"))
    val e = edges.filter(when(guard.isNull, col(srcCol) =!= col(dstCol)))
      .select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
    queries.Dedup.randomWalks(queries.Dedup.symmetrized(e), steps)
  }

  /** BIASED (node2vec p/q) deterministic walks (see
    * [[graft.queries.Dedup.node2vecWalks]]): the next hop is drawn
    * with integer weights by the candidate's relation to the PREVIOUS
    * node — `wReturn` for backtracking (1/p), `wNear` for the previous
    * node's neighbors (BFS pull), `wFar` for everything else (DFS
    * pull) — still hash-replayable, so re-runs emit identical training
    * sequences. Weights must be non-negative with at least one
    * positive; node ids non-negative (enforced loud). Defaults are the
    * oracled key's (1, 2, 4) ≙ p=2, q=1/2. Returns (start, step, node). */
  def node2vecWalks(edges: DataFrame, srcCol: String, dstCol: String,
      steps: Int = 6, wReturn: Int = 1, wNear: Int = 2, wFar: Int = 4): DataFrame = {
    val guard = assert_true(col(srcCol) >= 0 && col(dstCol) >= 0,
      lit("node2vecWalks: node ids must be non-negative"))
    val e = edges.filter(when(guard.isNull, col(srcCol) =!= col(dstCol)))
      .select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
    queries.Dedup.node2vecWalks(queries.Dedup.symmetrized(e), steps,
      wReturn, wNear, wFar)
  }

  /** Exact heavy hitters of a string column via the Misra–Gries
    * two-pass pipeline (see [[graft.functions.MisraGries]] and the
    * text_heavy_hitters key): a k-counter sketch pass finds ≤ k
    * candidates (shuffle k rows per partition, never the full
    * cardinality), an exact recount filters them strictly above
    * N/(k+1) — the returned (term, n) rows are EXACTLY the keys whose
    * true count exceeds N/(k+1), with exact counts, regardless of
    * sketch tie noise. Null items are ignored (SQL aggregate
    * semantics) but still count toward N. Delegates to the
    * text_heavy_hitters key's kernel. */
  def heavyHitters(items: DataFrame, itemCol: String, k: Int = 64): DataFrame =
    queries.TextOps.heavyHittersPipeline(items, itemCol, k)

  /** NEAREST as-of join on caller columns (pandas
    * `merge_asof(direction='nearest')`; kernel scaladoc on
    * [[queries.Joins.asofNearest]]): each probe row matches the build
    * row minimizing |t_build − t_probe| within its key — one shuffle
    * serves both directions, exact integer-microsecond distance
    * compare, backward wins ties. Returns (probe_id, key, build_id,
    * d_us); build_id/d_us null when the key has no build rows. */
  def asofNearest(probe: DataFrame, probeKeyCol: String, probeTsCol: String,
      probeIdCol: String, build: DataFrame, buildKeyCol: String,
      buildTsCol: String, buildIdCol: String): DataFrame =
    queries.Joins.asofNearest(
        probe.select(col(probeKeyCol).as("key"),
          col(probeTsCol).cast("timestamp").as("t"),
          col(probeIdCol).cast("long").as("event_id")),
        build.select(col(buildKeyCol).as("key"),
          col(buildTsCol).cast("timestamp").as("t"),
          col(buildIdCol).cast("long").as("bid")))
      .select(col("event_id").as("probe_id"), col("key"),
        col("matched_id").as("build_id"), col("d_us"))

  /** Pairs of same-`key` rows within a time window — (id_a, id_b) with
    * ts(id_b) ∈ (ts(id_a), ts(id_a) + window] — via the BANDED range
    * join (hour-bucket-style equi bands): per-task work is bounded by
    * band population, never a hot key's whole history, never a BNLJ.
    * `windowMicros` defaults to 1 hour. */
  def withinWindowPairs(spark: SparkSession, events: DataFrame,
      idCol: String = "event_id", keyCol: String = "user_id",
      tsCol: String = "ts", windowMicros: Long = 3600000000L): DataFrame =
    queries.Joins.rangeBandedPairs(
      events.select(col(keyCol).as("key"), col(idCol).cast("long").as("id"),
        col(tsCol).as("ts")),
      windowMicros)

  /** Benchmark decontamination (the GPT-3/Pile n-gram recipe): for each
    * training document, the count of its DISTINCT word `n`-grams that
    * appear anywhere in the evaluation corpus (0 = clean) — audit the
    * counts, then gate with `filter(n_contaminated_grams === 0)`. The
    * eval gram set broadcasts when its distinct-gram count is within the
    * probe's ceiling (eval suites are small by nature), so the exploded
    * train side never shuffles by gram; an oversized eval corpus falls
    * back to a shuffled gram join with identical rows instead of a
    * driver OOM. Returns (id, n_contaminated_grams) for every train
    * doc. */
  def decontaminate(spark: SparkSession, train: DataFrame, eval: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      n: Int = 5): DataFrame =
    queries.Dedup.decontaminate(spark,
        docsOf(train, idCol, textCol), docsOf(eval, idCol, textCol), n)
      .select(col("doc_id").as("id"), col("n_contaminated_grams"))

  /** SUBSTRING-level dedup statistics — per document, how many word
    * `k`-gram positions are shared with ANY other document and the
    * longest such span in words (see
    * [[graft.queries.Dedup.sharedSpanStats]]; Lee et al. 2022's
    * repeated-span concern that doc-level and shingle-set dedup both
    * miss). Docs shorter than `k` words report zeros. Returns
    * (id, n_shared_grams, longest_shared_words). */
  def sharedSpans(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 8): DataFrame =
    queries.Dedup.sharedSpanStats(docsOf(docs, idCol, textCol), k)
      .select(col("doc_id").as("id"),
        col("n_shared_grams"), col("longest_shared_words"))

  /** Substring-dedup CUT — the corpus rewrite [[sharedSpans]] only
    * reports (see [[graft.queries.Dedup.substringCut]]; Lee et al.
    * 2022 §4): every word position covered by a cross-document-shared
    * `k`-gram run is removed and the survivors rejoin left-to-right;
    * within-doc repetition is untouched. Returns
    * (id, cleaned_text, n_removed_spans, n_removed_words). */
  def substringCut(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 8): DataFrame =
    queries.Dedup.substringCut(docsOf(docs, idCol, textCol), k)
      .select(col("doc_id").as("id"), col("cleaned_text"),
        col("n_removed_spans"), col("n_removed_words"))

  /** DIRECTED containment pairs (see
    * [[graft.queries.Dedup.containmentPairs]]; Broder 1997's
    * containment coefficient) — the asymmetric near-dup report Jaccard
    * misses: a short document copied wholesale into a longer one.
    * Shingles above the `dfCap` document frequency leave the
    * vocabulary (boilerplate, not evidence — and the skew bound).
    * Returns (contained, container, containment) for every directed
    * pair with containment ≥ tau over the pruned 3-word shingle sets. */
  def containmentReport(spark: SparkSession, docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      tau: Double = queries.Dedup.ContainmentTau,
      dfCap: Int = queries.Dedup.ContainmentDfCap): DataFrame =
    queries.Dedup.containmentPairs(
        queries.Dedup.hashedShingleSetPlan(spark, docsOf(docs, idCol, textCol)),
        tau, dfCap)
      .select(col("doc_contained").as("contained"),
        col("doc_container").as("container"), col("containment"))

  /** Population-stability-index drift per group (see
    * [[graft.queries.Profile.driftPsi]]): each group's value
    * distribution scored against the global population over
    * equi-depth quartile bins — Σ (p−q)·ln(p/q), Laplace-smoothed,
    * the standard distribution-shift gate between pipeline snapshots
    * (> 0.25 ≈ significant shift). Values integerize to cents before
    * binning. Returns (group, n, psi). */
  def driftPsi(df: DataFrame, groupCol: String, valueCol: String): DataFrame =
    queries.Profile.driftPsi(df.select(col(groupCol).as("event_type"),
        Det.cents(col(valueCol)).as("pc")))
      .select(col("event_type").as("group"), col("n"), col("psi"))

  /** Time-grid RESAMPLE + FORWARD FILL (kernel scaladoc:
    * [[queries.Profile.resampleFfill]]; the ts_resample key): one row
    * per `granularitySec` bucket per key from the key's first to last
    * observation — empty buckets carry n = 0 and the last observed
    * value forward in exact cents. Ties within one microsecond resolve
    * by value (D6; pass a uniquely-keyed frame through the ts_resample
    * shape instead when you have an event id). Returns
    * (group, bucket, n, last_cents) with bucket = epoch-micros div
    * granularity. */
  def resampleForwardFill(df: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, granularitySec: Long = 3600): DataFrame = {
    require(granularitySec > 0,
      s"resampleForwardFill: granularity $granularitySec s <= 0")
    queries.Profile.resampleFfill(
        df.select(col(keyCol).as("key"),
            unix_micros(col(tsCol).cast("timestamp")).as("us"),
            Det.cents(col(valueCol)).as("vc"))
          .withColumn("ord", col("vc")),
        granUs = granularitySec * 1000000L)
      .select(col("key").as("group"), col("hb").as("bucket"), col("n"),
        col("last_cents"))
  }

  /** [[decontaminate]] with a bloom prefilter — identical output at a
    * CONSTANT broadcast size (a 128 KiB filter instead of the exact
    * gram set), for eval corpora past the exact path's broadcast cap:
    * the bloom's no-false-negative guarantee means the exact verify on
    * the sketch-positive grams sees every true hit. Kernel scaladoc:
    * [[queries.Matching.decontaminateBloom]]. */
  def decontaminateBloom(spark: SparkSession, train: DataFrame,
      eval: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      n: Int = 5): DataFrame =
    queries.Matching.decontaminateBloom(spark,
        docsOf(train, idCol, textCol), docsOf(eval, idCol, textCol), n)
      .select(col("doc_id").as("id"), col("n_contaminated_grams"))

  /** Exact fuzzy self-join: every pair of rows whose `strCol` values are
    * within `tau` (1 or 2) Levenshtein edits, WITHOUT the all-pairs
    * product — deletion-neighborhood candidates (SymSpell/FastSS,
    * guaranteed recall by pigeonhole) + a codegen'd edit-distance
    * verify. The fuzzy-KEY join under entity resolution: typo'd
    * identifiers, OCR'd names, near-identical SKUs. Returns
    * (id_a, id_b, lev) with id_a < id_b. Kernel scaladoc:
    * [[queries.Matching.fuzzyPairs]]. */
  def fuzzyMatches(df: DataFrame, idCol: String, strCol: String,
      tau: Int = 1): DataFrame =
    queries.Matching.fuzzyPairs(
      df.select(col(idCol).cast("long").as("id"), col(strCol).as("s")), tau)

  /** BM25 lexical ranking of free-text queries against a document
    * corpus (Robertson & Zaragoza 2009, Lucene idf form) — top `topK`
    * docs per query with scores. Order-proof: per-term contributions
    * round to 6 places and sum as exact DECIMAL, so ranks cannot flip
    * on float addition order. `queries`: (qid, qtext) pairs. Kernel
    * scaladoc: [[queries.Dedup.bm25]]. */
  def bm25Search(spark: SparkSession, docs: DataFrame, queries0: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      qidCol: String = "q", qtextCol: String = "qtext",
      topK: Int = 10): DataFrame =
    queries.Dedup.bm25(spark,
      docs.select(col(idCol).cast("long").as("doc_id"), col(textCol).as("text")),
      queries0.select(col(qidCol).cast("long").as("q"), col(qtextCol).as("qtext")),
      topK)

  /** Dataset-mixture resampling (the data-mixing step after curation):
    * downsample each `bucketCol` group so the output hits the EXACT
    * `shares` target proportions (permyriad, summing to 10000), sized
    * to the largest total the bottleneck bucket allows. Deterministic —
    * integer-hash ranking, no RNG state. Returns (id, bucket). Kernel
    * scaladoc: [[queries.TextOps.mixtureResample]]. */
  def mixtureResample(spark: SparkSession, df: DataFrame, idCol: String,
      bucketCol: String, shares: Seq[(String, Long)]): DataFrame =
    queries.TextOps.mixtureResample(spark,
        df.select(col(idCol).cast("long").as("doc_id"),
          col(bucketCol).as("lang")), shares)
      .select(col("doc_id").as("id"), col("lang").as("bucket"))

  /** Weighted random sample of `k` rows without replacement, inclusion
    * probability proportional to `weightCol` — the Efraimidis–Spirakis
    * 2006 exponential-race scheme: every row draws a deterministic
    * uniform u from xxhash64(id, seed) and ranks by u^(1/w); the global
    * top-k IS a w-weighted sample. Distributed as one
    * TakeOrderedAndProject (per-partition top-k, k-row merge on the
    * driver — the topk_global shape), no shuffle of the corpus. Floats
    * rank the race, so this is the SUITE-tested sibling of the
    * integer-exact oracled key (sample_weighted's systematic design) —
    * MatchingSpec pins inclusion frequency ∝ weight across seeds.
    * Non-positive weights fail loud (the assert_true discipline). */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
      k: Int, seed: Long = 42L): DataFrame = {
    require(k > 0, s"weightedSample: k must be positive, got $k")
    // fail loud on the reserved working column (the compactionRewrite
    // discipline): a caller __es_key would be silently clobbered by the
    // withColumn below and then dropped from the output
    require(!df.columns.contains("__es_key"),
      "weightedSample: input column __es_key collides with the reserved " +
        "ranking column - rename it first")
    val wd = col(weightCol).cast("double")
    val guard = assert_true(wd > 0.0,
      lit(s"weightedSample: $weightCol must be strictly positive"))
    val u = (pmod(xxhash64(col(idCol), lit(seed)), lit(1L << 52))
      .cast("double") + lit(0.5)) / lit((1L << 52).toDouble)
    df.withColumn("__es_key", when(guard.isNull, pow(u, lit(1.0) / wd)))
      .orderBy(col("__es_key").desc, col(idCol))
      .limit(k)
      .drop("__es_key")
  }

  /** Representative selection after near-dup clustering — the step that
    * actually shrinks the corpus: per cluster of the Jaccard ≥
    * `threshold` graph, keep the doc with the highest quality
    * (`qualityCol`, else text length; ties → smallest id) and report the
    * cluster size so the drop is auditable. Returns
    * (id, component, n_members) for KEPT docs only (singletons keep
    * themselves). */
  def keepCanonical(spark: SparkSession, docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      qualityCol: Option[String] = None,
      threshold: Double = 0.2): DataFrame = {
    // quality stays DOUBLE end to end: fractional scores (classifier
    // outputs in [0,1]) must rank, not truncate
    val d = docs.select(
      col(idCol).cast("long").as("doc_id"), col(textCol).as("text"),
      qualityCol.map(c => col(c).cast("double"))
        .getOrElse(length(col(textCol)).cast("double")).as("q"))
    queries.Dedup.keepCanonicalFrom(
        nearDupClusters(spark, d, "doc_id", "text", threshold)
          .select(col("id").as("doc_id"), col("component").as("cluster")),
        d.select("doc_id", "q"))
      .select(col("doc_id").as("id"), col("cluster").as("component"),
        col("n_members"))
  }

  /** Sequence packing — lays documents into fixed `seqLen`-token
    * training windows with document splitting, sharded so each shard
    * packs independently under one keyed window (no global running sum;
    * `shards` is the parallelism knob). Returns one row per
    * (shard, pack_id): n_docs starting in the pack, their token total,
    * first/last doc id. Kernel scaladoc:
    * [[queries.TextOps.packSequences]]. */
  def packSequences(docs: DataFrame, seqLen: Int = 512, shards: Int = 8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    queries.TextOps.packSequences(docsOf(docs, idCol, textCol), seqLen, shards)

  /** Unigram-LM quality score: per-document average corpus-MLE token
    * surprisal −ln(c/total) — the cheap perplexity proxy for ranking
    * documents before a real LM scores the survivors. Returns
    * (id, n_tok, avg_nll). Kernel scaladoc:
    * [[queries.TextOps.unigramSurprisal]]. */
  def unigramSurprisal(docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    queries.TextOps.unigramSurprisal(docsOf(docs, idCol, textCol))
      .select(col("doc_id").as("id"), col("n_tok"), col("avg_nll"))

  /** Train a BPE merge table on a text column: `merges` iterations of
    * the distributed freq-weighted adjacent-pair count (driver state =
    * the K-row table). Deterministic; same iterative-aggregate shape
    * as the AP loop. Kernel scaladoc: [[functions.Bpe.train]]. */
  def bpeTrain(docs: DataFrame, merges: Int,
      textCol: String = "text"): Seq[(String, String)] =
    functions.Bpe.train(docs, merges, textCol)

  /** Apply a fixed BPE merge table (from [[bpeTrain]] or any
    * rank-ordered (left, right) list): per-document word and subword
    * token counts — the tokenizer-budget statistic a pipeline computes
    * corpus-wide. Codegen'd per-row replace chain, no shuffle before
    * the final keyed aggregate. Returns (id, n_words, n_tokens).
    * Kernel scaladoc: [[functions.Bpe.applyMerges]]. */
  def bpeEncode(docs: DataFrame, table: Seq[(String, String)],
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    functions.Bpe.applyMerges(docs, table, idCol, textCol)
      .select(col(idCol).as("id"), col("n_words"), col("n_tokens"))

  /** Small-file compaction planning on caller columns: deterministic
    * size-decreasing bin-pack of (file, bytes) rows into
    * `targetBytes`-sized output shards, planned independently per
    * `partCol` domain (a lake's table partition — planning is
    * sequential per domain, so partitions ARE the parallelism at any
    * corpus size). Returns one manifest row per (part, out_shard):
    * (part, out_shard, n_files, tot_bytes, first_file, last_file).
    * Kernel scaladoc: [[queries.TextOps.compactPlanBytes]]. */
  def compactionPlan(files: DataFrame, idCol: String, bytesCol: String,
      partCol: String, targetBytes: Long = 128L * 1024 * 1024): DataFrame =
    queries.TextOps.compactPlanBytes(
      files.select(col(idCol).cast("long").as("doc_id"),
        col(partCol).as("part"), col(bytesCol).cast("long").as("n_bytes")),
      targetBytes)

  /** Z-order layout planning on caller columns: min-max-quantize two
    * dimensions to a 16-bit lattice (exact integer arithmetic),
    * interleave into a 32-bit Morton code, shard on its top `shardBits`
    * bits — a pure per-row map with no global sort, so the plan is
    * embarrassingly parallel at any corpus size. Returns one manifest
    * row per z-shard with its row count and both dimensions' bounding
    * box: (z_shard, n_rows, min_a, max_a, min_b, max_b). Kernel
    * scaladoc: [[queries.TextOps.zorderPlanDims]]. */
  def zorderPlan(rows: DataFrame, colA: String, colB: String,
      shardBits: Int = queries.TextOps.zorderShardBits): DataFrame =
    queries.TextOps.zorderPlanDims(
      rows.select(col(colA).cast("long").as("a"),
        col(colB).cast("long").as("b")),
      shardBits)

  /** EXECUTE a compaction plan: physically rewrite `docs` as parquet
    * under `outDir`, one file per (part, out_shard) with shards packed
    * toward `targetBytes`, and return the manifest re-derived from the
    * WRITTEN files — (part, out_shard, n_out_files, n_docs, tot_bytes,
    * first_doc, last_doc), with n_out_files counted via
    * input_file_name() (= 1 when the rewrite held its contract) and
    * tot_bytes recomputed from the read-back payload. Caller columns
    * beyond the three named ones all ride along into the written files
    * (round-15 ADVICE — a rewrite that silently dropped payload columns
    * would lose data); the named columns land as doc_id/part/text.
    * Kernel scaladoc: [[queries.TextOps.compactExecDocs]]. */
  def compactionRewrite(docs: DataFrame, idCol: String, textCol: String,
      partCol: String, outDir: String,
      targetBytes: Long = 128L * 1024 * 1024): DataFrame = {
    // fail loud on reserved working-column collisions (the zorderRewrite
    // discipline): doc_id/part/text are the rename targets — reserved
    // only when NOT the named columns themselves — and n_bytes/cum/
    // out_shard are added by compactAssign, so a payload column with any
    // of those names would be clobbered or duplicated in the files
    val reserved = (Set("doc_id", "part", "text") --
      Set(idCol, textCol, partCol)) ++ Set("n_bytes", "cum", "out_shard")
    val clash = docs.columns.filter(reserved)
    require(clash.isEmpty,
      s"compactionRewrite: input columns ${clash.mkString(", ")} collide " +
        "with reserved working columns (doc_id, part, text, n_bytes, cum, " +
        "out_shard) - rename them first")
    val rest = docs.columns
      .filterNot(c => c == idCol || c == textCol || c == partCol).map(col)
    queries.TextOps.compactExecDocs(
      docs.select(Seq(col(idCol).cast("long").as("doc_id"),
        col(partCol).as("part"), col(textCol).as("text")) ++ rest: _*),
      outDir, targetBytes)
  }

  /** EXECUTE a z-order plan: physically rewrite `rows` as parquet under
    * `outDir`, one file per z-shard, rows within each file sorted by
    * the full Morton code (caller columns all carried; the cast curve
    * keys ride as `a`/`b` plus `z`), and return the manifest re-derived
    * from the WRITTEN files — (z_shard, n_out_files, n_rows, min_a,
    * max_a, min_b, max_b). Kernel scaladoc:
    * [[queries.TextOps.zorderExecDims]]. */
  def zorderRewrite(rows: DataFrame, colA: String, colB: String,
      outDir: String,
      shardBits: Int = queries.TextOps.zorderShardBits): DataFrame = {
    // fail loud on reserved working-column collisions: `a`/`b` are
    // overwritten here and zorderAssign adds `z`/`z_shard` — a caller
    // payload column with one of those names would be silently
    // clobbered IN THE WRITTEN FILES otherwise (review round 15)
    // `z`/`z_shard` are unconditionally reserved (zorderAssign emits
    // them even when a curve key carries the name); `a`/`b` only when
    // they are NOT the curve keys themselves (then the cast copy is
    // the documented behavior)
    val reserved = (Set("a", "b") -- Set(colA, colB)) ++ Set("z", "z_shard")
    val clash = rows.columns.filter(reserved)
    require(clash.isEmpty,
      s"zorderRewrite: input columns ${clash.mkString(", ")} collide with " +
        "reserved working columns (a, b, z, z_shard) - rename them first")
    queries.TextOps.zorderExecDims(
      rows.withColumn("a", col(colA).cast("long"))
        .withColumn("b", col(colB).cast("long")),
      outDir, shardBits)
  }

  // ---- similarity search over embeddings -----------------------------

  /** Sparse m-nearest-neighbor similarity graph over an embedding
    * column — the candidate relation sparse AP clusters on, exposed for
    * callers who want the graph itself (kNN features, graph analytics,
    * a custom clustering objective over [[clusterFromSimilarities]]).
    * Returns symmetrized (id_a, id_b, s = −‖x−y‖²) triples, ≤ m
    * neighbors per point pre-symmetrization, exact similarity values on
    * every kept edge. IVF-bucketed candidate generation — never
    * all-pairs; past 512 auto centroids the build Lloyd-refines its
    * seeds and assigns two-level ([[functions.Ivf]]), and the per-point
    * top-m runs as the bounded ap_topm aggregate (BENCH_NOTES §20). */
  def neighborGraph(spark: SparkSession, embeddings: DataFrame, m: Int = 20,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    ap.AffinityPropagation.sparseSimilarities(embOf(embeddings, idCol, vecCol), m)
      .select(col("i").as("id_a"), col("k").as("id_b"), col("s"))

  /** Hybrid lexical + vector retrieval fused by reciprocal rank (RRF,
    * Cormack et al. 2009 — the fusion every modern hybrid-search stack
    * ships): term-overlap ranking over `docs` and round-4 cosine
    * ranking over `embeddings`, fused as 1/(60+rank_lex) +
    * 1/(60+rank_vec) with a FULL OUTER join so single-list candidates
    * keep their one term. Query ids must exist in both relations.
    * Returns (q, rnk, d, score), `topK` rows per query. Kernel
    * scaladoc: [[queries.Dedup.hybridRrf]]. */
  def hybridSearch(spark: SparkSession, docs: DataFrame,
      embeddings: DataFrame, queryIds: Seq[Long], topK: Int = 10,
      poolK: Int = 20, docIdCol: String = "doc_id",
      textCol: String = "text", vecIdCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    queries.Dedup.hybridRrf(spark,
      docs.select(col(docIdCol).cast("long").as("doc_id"),
        col(textCol).as("text")),
      embeddings.select(col(vecIdCol).cast("long").as("vec_id"),
        col(vecCol).as("embedding")),
      queryIds, poolK, topK)

  /** FREE-TEXT hybrid retrieval with weighted RRF: `queries` is any
    * (id, text, vector) relation — the text is tokenized at query time
    * against the corpus, the vector is the caller-embedded query (the
    * contract real retrieval stacks use), and the two ranked lists fuse
    * as wLex/(60+r_lex) + wVec/(60+r_vec). Returns (q, rnk, d, score),
    * topK rows per query. Kernel scaladoc:
    * [[queries.Dedup.hybridRrfText]]. */
  def hybridSearchText(spark: SparkSession, docs: DataFrame,
      embeddings: DataFrame, queryRel: DataFrame,
      topK: Int = 10, poolK: Int = 20,
      wLex: Double = 1.0, wVec: Double = 1.0,
      docIdCol: String = "doc_id", textCol: String = "text",
      vecIdCol: String = "vec_id", vecCol: String = "embedding",
      qIdCol: String = "q", qTextCol: String = "qtext",
      qVecCol: String = "qv"): DataFrame =
    queries.Dedup.hybridRrfText(spark,
      docs.select(col(docIdCol).cast("long").as("doc_id"),
        col(textCol).as("text")),
      embeddings.select(col(vecIdCol).cast("long").as("vec_id"),
        col(vecCol).as("embedding")),
      queryRel.select(col(qIdCol).cast("long").as("q"),
        col(qTextCol).as("qtext"), col(qVecCol).as("qv")),
      poolK, topK, wLex, wVec)

  /** Exact top-k cosine neighbors per vector via the broadcast-index
    * kernel — single-node-engine throughput while the index side fits an
    * executor; use [[similarTopKIvf]] beyond that. Returns
    * (i, k, rnk, cos). */
  def similarTopK(spark: SparkSession, embeddings: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    functions.Ann.topkCosine(spark, embOf(embeddings, idCol, vecCol), k)

  /** IVF-bucketed approximate top-k — the scale path: deterministic
    * farthest-point seeds over a bounded sample, nprobe bucket probe,
    * in-bucket exact rerank; O(Σ bucket²) compares, never N². */
  def similarTopKIvf(spark: SparkSession, embeddings: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      centroids: Int = 0, nprobe: Int = 8): DataFrame = {
    val emb = embOf(embeddings, idCol, vecCol)
    val n = emb.select(col("vec_id"),
      transform(col("embedding"), _.cast("double")).as("v"))
    graft.functions.VectorExprs.register(spark)
    queries.Dedup.ivfTopk(spark,
      n.withColumn("nrm", sqrt(expr("vec_dot(v, v)"))), k, centroids, nprobe)
  }

  /** Embedding near-dup pairs at a cosine threshold via IVF candidates +
    * exact rerank (subquadratic). Returns (id_a, id_b).
    *
    * Pairs are capped at each point's top-`k` IVF candidates before the
    * threshold applies — a point with more than `k` neighbors above
    * `minCosine` reports only its `k` nearest (raise `k` when dense
    * near-dup cliques are expected); this cap is in addition to the IVF
    * bucketing approximation. */
  def nearDupPairsEmbedding(spark: SparkSession, embeddings: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      minCosine: Double = 0.4, centroids: Int = 0, nprobe: Int = 8,
      k: Int = 10): DataFrame =
    similarTopKIvf(spark, embeddings, k, idCol, vecCol, centroids, nprobe)
      .filter(col("cos") >= minCosine)
      .select(least(col("i"), col("k")).as("id_a"),
        greatest(col("i"), col("k")).as("id_b"))
      .distinct()

  /** Int8 max-abs quantization of an embedding column: per-row scale =
    * 127/max|x|, lanes as a comma-joined int8 string. */
  def quantizeInt8(embeddings: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    queries.Dedup.embQuantize(embOf(embeddings, idCol, vecCol))

  /** IVFADC approximate top-k over the PQ codes — the composed
    * production ANN query (faiss's IVFADC default, residual encoding
    * since round 13): IVF bucket candidates (Θ(√N) auto-sized
    * centroids, nprobe probes) whose codes quantize the IVF residual
    * r = x − centroid(home(x)), evaluated by asymmetric distance from
    * the per-(query, probed-centroid) residual LUT — never all-pairs.
    * The index (centroids + residual codebooks) comes from the
    * SESSION-SCOPED registry ([[graft.functions.Pq.fitIvfPqCached]]),
    * so a caller iterating query workloads pays the build once.
    * Residual codes beat raw by +0.04..+0.09 recall@10 on clustered
    * data at the same bit budget (BENCH_NOTES §25); recall loss vs
    * exact is the IVF bucket trade plus quantization (raise `nprobe`,
    * or rerank with [[similarTopKPqIvfReranked]]). Returns
    * (i, k_id, adc, rnk).
    *
    * `queryIds` (optional, a single-id-column frame) restricts the
    * PROBING workload — the production shape: the corpus is fully
    * indexed and searched, but only those ids ask; M queries against
    * an N-row corpus cost M·(nprobe·N/c) candidate work. The session
    * registry materializes the index (persisted homes + residual
    * codes) on first use, so repeated workload calls pay ONLY their
    * own query side — release the storage with
    * [[graft.functions.Pq.invalidateIndexCache]], or everything the
    * session holds with [[graft.SessionResources.release]]. */
  def similarTopKPqIvf(spark: SparkSession, embeddings: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      m: Int = 8, pqK: Int = 256, centroids: Int = 0,
      nprobe: Int = 8, queryIds: Option[DataFrame] = None): DataFrame = {
    val e = embOf(embeddings, idCol, vecCol)
    val idx = functions.Pq.ivfPqIndexCached(e, "embedding", m, pqK, centroids)
    functions.Pq.ivfAdcTopk(e, "embedding", idx, k, nprobe,
      idCol = "vec_id", queryIds = queryIds)
  }

  /** [[similarTopKPqIvf]] + exact re-rank — the faiss `refine` stage
    * completing the compressed-index pipeline: an ADC shortlist per
    * query from the residual index (session-cached build), true sqdist
    * on the shortlist pairs only, deterministic re-rank. Returns
    * (i, k_id, sqdist, rnk) with EXACT distances; recall is monotone
    * in `shortlist` and `nprobe`. */
  def similarTopKPqIvfReranked(spark: SparkSession, embeddings: DataFrame,
      k: Int, shortlist: Int = 50, idCol: String = "vec_id",
      vecCol: String = "embedding", m: Int = 8, pqK: Int = 256,
      centroids: Int = 0, nprobe: Int = 8,
      queryIds: Option[DataFrame] = None): DataFrame = {
    val e = embOf(embeddings, idCol, vecCol)
    val idx = functions.Pq.ivfPqIndexCached(e, "embedding", m, pqK, centroids)
    functions.Pq.ivfAdcRerankTopk(e, "embedding", idx, k, shortlist, nprobe,
      idCol = "vec_id", queryIds = queryIds)
  }

  /** [[similarTopKPqIvf]] with PER-CORPUS INDEX AUTO-SELECTION (the
    * faiss-style "right index for this data" choice): a cheap probe on
    * the fit's own bounded sample — k-means explained-variance ratio +
    * per-centroid residual-moment CV — picks RAW PQ on isotropic
    * corpora (where centroid subtraction and rotation remove nothing)
    * and OPQ-over-residuals everywhere clustered or heteroscedastic;
    * measured recall equals max(parents) on the isotropic, clustered
    * and heavy-tailed fixtures (see [[graft.functions.Pq.fitIvfPqAuto]]). Fits fresh
    * per call (the probe's verdict is corpus-specific, so this facade
    * does not enter the session index cache); for a repeated workload
    * on one corpus, fit once via `fitIvfPqAuto` and search its
    * `model` with `ivfAdcTopk` directly. */
  /** FILTERED ANN search — the predicate + vector-search composition a
    * real retrieval workload runs almost every query (filter by lang /
    * source / date, then nearest neighbors among the SURVIVORS). Two
    * regimes, chosen by the predicate's measured selectivity
    * `sel = |allowed| / N` (two cheap count aggregates):
    *
    *  - `sel < postFilterMinSel` (selective): PRE-FILTER — the
    *    predicate pushes INTO candidate generation: disallowed ids
    *    leave the home-bucket relation before any of their codes is
    *    built or scored (see the `allowedIds` hook on
    *    [[graft.functions.Pq.ivfAdcTopk]]), and `nprobe` scales up
    *    by 1/sel (capped at `maxNprobe`) because each probed bucket now
    *    holds ~sel of its mass — at extreme selectivity this degrades
    *    gracefully toward an exhaustive scan OF THE ALLOWED ROWS ONLY,
    *    which is exactly the right plan there.
    *  - `sel ≥ postFilterMinSel` (the filter passes most rows):
    *    POST-FILTER — search unfiltered with an inflated shortlist
    *    (k·⌈2/sel⌉, ≤ 4k), drop disallowed hits, keep each query's
    *    first k. No candidate-side join; a query whose neighborhood is
    *    unusually disallowed-dense may return fewer than k rows (the
    *    standard post-filter trade — lower `postFilterMinSel` to 0 to
    *    force pre-filtering everywhere).
    *
    * The predicate evaluates against `embeddings`' own columns.
    * Queries search the FULL corpus workload (`queryIds` restricts who
    * asks, not who answers). Returns (i, k_id, adc, rnk); D3 — PqSpec
    * pins recall floors vs the filtered brute force on both regimes,
    * GraftSpec pins the pushdown (a query whose unfiltered neighbors
    * are all disallowed still gets k allowed answers). */
  def similarTopKFiltered(spark: SparkSession, embeddings: DataFrame, k: Int,
      predicate: org.apache.spark.sql.Column,
      idCol: String = "vec_id", vecCol: String = "embedding",
      m: Int = 8, pqK: Int = 256, centroids: Int = 0, nprobe: Int = 8,
      queryIds: Option[DataFrame] = None,
      postFilterMinSel: Double = 0.5, maxNprobe: Int = 64): DataFrame = {
    val e = embOf(embeddings, idCol, vecCol)
    val allowed = embeddings.filter(predicate)
      .select(col(idCol).cast("long").as("vec_id"))
    val n = e.count()
    val a = allowed.count()
    require(n > 0, "similarTopKFiltered: empty corpus")
    require(a > 0, "similarTopKFiltered: predicate matches no rows")
    val sel = a.toDouble / n
    val idx = functions.Pq.fitIvfPqAuto(e, "embedding", m, pqK, centroids)
    if (sel >= postFilterMinSel) {
      val shortlist = k * math.min(4L, math.ceil(2.0 / sel).toLong).toInt
      val raw = functions.Pq.ivfAdcTopk(e, "embedding", idx.model, shortlist,
        nprobe, "vec_id", queryIds)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("i").orderBy("rnk")
      raw.join(allowed.withColumnRenamed("vec_id", "k_id"), "k_id")
        .withColumn("frnk", row_number().over(w))
        .filter(col("frnk") <= k)
        .select(col("i"), col("k_id"), col("adc"), col("frnk").as("rnk"))
    } else {
      val boosted = math.min(maxNprobe.toDouble,
        math.ceil(nprobe / sel)).toInt
      functions.Pq.ivfAdcTopk(e, "embedding", idx.model, k, boosted,
        "vec_id", queryIds, Some(allowed))
    }
  }

  def similarTopKAuto(spark: SparkSession, embeddings: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      m: Int = 8, pqK: Int = 256, centroids: Int = 0,
      nprobe: Int = 8, queryIds: Option[DataFrame] = None): DataFrame = {
    val e = embOf(embeddings, idCol, vecCol)
    val idx = functions.Pq.fitIvfPqAuto(e, "embedding", m, pqK, centroids)
    functions.Pq.ivfAdcTopk(e, "embedding", idx.model, k, nprobe,
      idCol = "vec_id", queryIds = queryIds)
  }

  /** Build and PERSIST the auto-selected ANN index for an embedding
    * column — the faiss train→write_index lifecycle on a caller
    * DataFrame: [[graft.functions.Pq.fitIvfPqAuto]] picks the coding
    * this corpus needs (raw PQ on isotropic data, OPQ-rotated residual
    * on clustered/heteroscedastic) over the centroids its probe built,
    * [[graft.functions.Pq.indexOf]] materializes the index over the
    * corpus, and [[graft.functions.Pq.writeIndex]] commits the store's
    * next generation behind the marker protocol, tagged with the
    * coding. Serve it — in this session or any later one — with
    * [[searchSimilarityIndex]]; append with
    * [[graft.functions.Pq.appendToIndex]] +
    * [[graft.functions.Pq.writeIndexIncrement]]; compact with
    * [[graft.functions.Pq.vacuumIndex]]. */
  def buildSimilarityIndex(spark: SparkSession, embeddings: DataFrame,
      dir: String, idCol: String = "vec_id", vecCol: String = "embedding",
      m: Int = 8, pqK: Int = 256, centroids: Int = 0): Unit = {
    val e = embOf(embeddings, idCol, vecCol)
    val auto = functions.Pq.fitIvfPqAuto(e, "embedding", m, pqK, centroids)
    functions.Pq.writeIndex(functions.Pq.indexOf(e, "embedding", auto.model), dir)
  }

  /** Serve ANN top-k from a PERSISTED index directory, whatever coding
    * [[buildSimilarityIndex]] — or [[graft.functions.Pq.writeIndex]]
    * directly — stored there: [[graft.functions.Pq.readIndex]] returns
    * the store's own coding from its meta tag, with bounded driver reads
    * + lazy parquet plans, ZERO fit jobs and zero corpus scans, so a
    * fresh session answers its first query at query-side cost only.
    * Returns (i, k_id, adc, rnk) for the query relation (optionally
    * restricted to `queryIds`). */
  def searchSimilarityIndex(spark: SparkSession, queries: DataFrame,
      dir: String, k: Int, idCol: String = "vec_id",
      vecCol: String = "embedding", nprobe: Int = 8,
      queryIds: Option[DataFrame] = None): DataFrame = {
    val q = embOf(queries, idCol, vecCol)
    functions.Pq.ivfAdcTopk(q, "embedding",
      functions.Pq.readIndex(spark, dir), k, nprobe, "vec_id", queryIds)
  }

  /** Product-quantize an embedding column: trains m per-block
    * codebooks on a bounded sample and encodes every row to m codes
    * (comma-joined, block order) in one exchange — see
    * [[graft.functions.Pq]]; pair with [[graft.functions.Pq.adcTopk]]
    * (exhaustive) or [[similarTopKPqIvf]] (IVF-bucketed) for
    * asymmetric-distance search over the codes. */
  def pqEncode(embeddings: DataFrame, m: Int = 8, k: Int = 256,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val e = embOf(embeddings, idCol, vecCol)
    val model = functions.Pq.fit(e, "embedding", m, k)
    functions.Pq.encode(e, "embedding", model)
  }

  /** PCA dimension reduction of an embedding column: fits the
    * population-covariance eigenbasis (one distributed moment pass,
    * deterministic fixed-point sums; see [[graft.functions.Pca]]) and
    * appends pc1..pck projection columns — row-parallel, no shuffle. */
  def pcaProject(embeddings: DataFrame, k: Int,
      vecCol: String = "embedding", whiten: Boolean = false): DataFrame = {
    val model = functions.Pca.fit(embeddings, vecCol)
    functions.Pca.project(embeddings, vecCol, model, k, whiten)
  }

  /** MERGE / upsert — apply a CDC change-set to a target relation (the
    * Delta/Iceberg MERGE row-level semantics, the cdc_merge key on
    * caller columns): one FULL OUTER join on `keyCol`, then per-row
    * resolution — rows whose change op is "D" drop, "U"/"I" rows take
    * the change's payload values VERBATIM, nulls included (resolution
    * keys on the matched op, never coalesce — a U row nulling a column
    * must null it; round-13 review), an I key absent from the target
    * inserts, a U key absent from the target is DROPPED (Delta's WHEN
    * MATCHED UPDATE applies to matched rows only — use op I for
    * upsert-style inserts; round-13 ADVICE), untouched target rows
    * pass through. `changes` must carry
    * `keyCol`, `opCol`, and every target payload column (null payload
    * on D rows is fine — they never surface). A change-set with MORE
    * THAN ONE row per key fails LOUD at execution (the Delta "multiple
    * source rows matched" contract — a silent full-outer fanout would
    * corrupt the keyed relation); resolve multi-op batches upstream,
    * e.g. keep the last op per key by your sequence column. One
    * shuffle on the merge key, no driver state — linear at any scale.
    * Returns the merged relation with the target's schema. */
  def merge(target: DataFrame, changes: DataFrame, keyCol: String,
      opCol: String = "op"): DataFrame = {
    val payload = target.columns.filterNot(_ == keyCol).toSeq
    require(changes.columns.contains(opCol),
      s"merge: changes has no op column '$opCol' (columns: ${changes.columns.mkString(", ")})")
    payload.foreach(c => require(changes.columns.contains(c),
      s"merge: changes is missing target payload column '$c'"))
    // explicit presence marker: a payload of all-null target values
    // must still count as MATCHED for the U-row gate below
    val t = target.select((col(keyCol) +: lit(true).as("__t_present") +:
      payload.map(c => col(c).as(s"__t_$c"))): _*)
    // per-key multiplicity rides each change row; the op projection
    // asserts it at execution (prune-proof: the guard wraps the op
    // every downstream branch reads). The count window shares the
    // join's key hashing — one exchange for both. NULL keys are exempt
    // (round-13 review): partitionBy pools them into ONE group, but
    // they never equal-match a target row, so they cannot fan out —
    // each passes through independently as before.
    val w = org.apache.spark.sql.expressions.Window.partitionBy(keyCol)
    val ch = changes.select((col(keyCol) +: col(opCol).as("__op0") +:
        payload.map(c => col(c).as(s"__c_$c"))): _*)
      .withColumn("__nch", count(lit(1)).over(w))
      .withColumn("__op",
        when(assert_true(col(keyCol).isNull || col("__nch") === 1,
          concat(lit("merge: multiple change rows for key "),
            coalesce(col(keyCol).cast("string"), lit("?")))).isNull,
          col("__op0")))
      .drop("__op0", "__nch")
    t.join(ch, Seq(keyCol), "full_outer")
      .filter(coalesce(col("__op"), lit("")) =!= "D")
      // Delta WHEN MATCHED: an unmatched U row neither updates nor
      // inserts (3VL note: target-only rows have __op null, so the
      // conjunction is false and negation keeps them)
      .filter(!(col("__op") === "U" && col("__t_present").isNull))
      .select((col(keyCol) +:
        payload.map(c => when(col("__op").isNotNull, col(s"__c_$c"))
          .otherwise(col(s"__t_$c")).as(c))): _*)
  }

  /** NOT IN at scale — the three-valued-logic-exact decomposition of
    * `probe.key NOT IN (SELECT key FROM inner)` into SHUFFLED
    * operators. Spark itself plans single-column NOT IN only as a
    * BROADCAST null-aware anti join (the inner side must fit the
    * driver — fine for dimensions, impossible for a fact-sized inner);
    * this form scales: a shuffled left-anti join over the non-null
    * keys, one broadcast one-row inner-stats scalar gating the result
    * (ANY null in the inner set empties it, per SQL 3VL), and null
    * probe keys dropped — EXCEPT over an EMPTY inner relation, where
    * `x NOT IN ()` is TRUE for every x including NULL (IN over the
    * empty set is FALSE, not unknown — round-13 ADVICE), so null-key
    * probe rows are kept exactly when the inner count is 0. Returns
    * probe's rows/schema. Row-equal to the engine's own NOT IN
    * wherever that one can run (GraftSpec pins both paths, the null
    * cases, and the empty-inner case). */
  def notIn(probe: DataFrame, probeKey: String, inner: DataFrame,
      innerKey: String): DataFrame = {
    val keys = inner.select(col(innerKey).as("__k"))
    val innerStats = broadcast(keys.agg(
      count(when(col("__k").isNull, 1)).as("__n_null"),
      count(lit(1)).as("__n_inner")))
    val nonNullProbe = probe.filter(col(probeKey).isNotNull)
      .join(keys.filter(col("__k").isNotNull),
        col(probeKey) === col("__k"), "left_anti")
      .crossJoin(innerStats)
      .filter(col("__n_null") === 0)
    val nullProbe = probe.filter(col(probeKey).isNull)
      .crossJoin(innerStats)
      .filter(col("__n_inner") === 0)
    nonNullProbe.unionByName(nullProbe).drop("__n_null", "__n_inner")
  }

  // ---- data quality --------------------------------------------------

  /** One-pass multi-column profile of 2-decimal numeric columns:
    * (col_name, n, n_distinct, min_v, max_v, sum_v), one scan total. */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame =
    queries.Profile.profile(df, cols)
}
