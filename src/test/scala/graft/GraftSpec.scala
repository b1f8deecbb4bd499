package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The public facade ([[Graft]]) must produce the same rows as the
  * oracled query keys that bind the same kernels to the fixtures — run
  * here on inputs with RENAMED columns, so the column-name
  * parameterization (the part the query keys never exercise) is what's
  * actually under test.
  */
class GraftSpec extends SparkSuite {

  // fixture tables with caller-flavored column names
  private def myDocs: DataFrame =
    Tables.documents(spark, sf001)
      .select(col("doc_id").as("document_id"), col("text").as("body"))
  private def myEmb: DataFrame =
    Tables.embeddings(spark, sf001)
      .select(col("vec_id").as("item_id"), col("embedding").as("vec"))

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  test("exactDuplicates matches dedup_exact_hash on renamed columns") {
    val facade = rows(Graft.exactDuplicates(myDocs, "document_id", "body")
      .select(col("id"), col("n_copies")).orderBy("id"))
    val key = rows(SparkEntry.queries("dedup_exact_hash")(spark, sf001)
      .select(col("doc_id"), col("n_copies")).orderBy("doc_id"))
    assert(facade == key)
  }

  test("nearDupPairsExact matches dedup_jaccard") {
    val facade = rows(Graft.nearDupPairsExact(spark, myDocs, "document_id", "body")
      .orderBy("id_a", "id_b"))
    val key = rows(SparkEntry.queries("dedup_jaccard")(spark, sf001))
    assert(facade == key)
  }

  test("nearDupPairsReranked matches dedup_minhash_rerank") {
    val facade = rows(Graft.nearDupPairsReranked(spark, myDocs, "document_id", "body")
      .orderBy("id_a", "id_b"))
    val key = rows(SparkEntry.queries("dedup_minhash_rerank")(spark, sf001))
    assert(facade == key)
  }

  test("withinWindowPairs matches join_range_banded on renamed columns") {
    val ev = Tables.events(spark, sf001).select(
      col("event_id").as("eid"), col("user_id").as("uid"), col("ts").as("when"))
    val facade = rows(Graft.withinWindowPairs(spark, ev,
        idCol = "eid", keyCol = "uid", tsCol = "when")
      .orderBy("id_a", "id_b"))
    val key = rows(SparkEntry.queries("join_range_banded")(spark, sf001))
    assert(facade == key)
  }

  test("packSequences matches pipeline_pack on renamed columns") {
    val facade = rows(Graft.packSequences(myDocs, idCol = "document_id",
      textCol = "body").orderBy("shard", "pack_id"))
    val key = rows(SparkEntry.queries("pipeline_pack")(spark, sf001))
    assert(facade == key)
  }

  test("unigramSurprisal matches text_unigram_logprob on renamed columns") {
    val facade = rows(Graft.unigramSurprisal(myDocs, idCol = "document_id",
      textCol = "body").orderBy("id"))
    val key = rows(SparkEntry.queries("text_unigram_logprob")(spark, sf001))
    assert(facade == key)
  }

  test("bpeTrain/bpeEncode match the text_bpe keys on renamed columns") {
    // train parity: the facade table on renamed columns equals the
    // oracled key's rank-ordered merge rows
    val table = Graft.bpeTrain(myDocs, merges = 16, textCol = "body")
    val keyTable = rows(SparkEntry.queries("text_bpe_train")(spark, sf001))
      .map(r => (r(1).asInstanceOf[String], r(2).asInstanceOf[String]))
    assert(table == keyTable)
    // encode parity against the oracled application key (fixed sf0.01
    // pinned vocab — pass the key's own first rows through the facade)
    val vocab = rows(SparkEntry.queries("text_bpe_train")(spark, sf01))
      .map(r => (r(1).asInstanceOf[String], r(2).asInstanceOf[String]))
    val facade = rows(Graft.bpeEncode(myDocs, vocab, idCol = "document_id",
      textCol = "body").orderBy("id"))
    val key = rows(SparkEntry.queries("text_bpe")(spark, sf001))
    assert(facade == key)
  }

  test("compactionPlan matches pipeline_compact on caller columns") {
    val files = myDocs.select(col("document_id"),
      (col("document_id") % 4).as("bucket"),
      expr("octet_length(body)").as("sz"))
    val facade = rows(Graft.compactionPlan(files, "document_id", "sz",
      "bucket", targetBytes = 16384).orderBy("part", "out_shard"))
    val key = rows(SparkEntry.queries("pipeline_compact")(spark, sf001))
    assert(facade == key)
  }

  test("zorderPlan matches pipeline_zorder on caller columns; curve buys locality") {
    val li = Tables.lineitem(spark, sf001)
      .select(col("l_partkey").as("pk"), col("l_suppkey").as("sk"))
    val facade = rows(Graft.zorderPlan(li, "pk", "sk").orderBy("z_shard"))
    val key = rows(SparkEntry.queries("pipeline_zorder")(spark, sf001))
    assert(facade == key)

    // Every input row lands in exactly one shard.
    assert(facade.map(_(1).asInstanceOf[Long]).sum == li.count())

    // The locality claim itself. Z-ordering is measure-PRESERVING, so
    // mean box AREA ties any sorted layout — the property a rewrite
    // job actually pays for is that min/max stats prune filters on
    // BOTH dimensions: every z-shard must be narrow in a AND in b,
    // where a lead-column sort into the same shard count is narrow in
    // its lead dimension but spans ~the FULL other one.
    def meanWidths(shards: Seq[Seq[Any]], spanA: Long, spanB: Long): (Double, Double) = {
      val wA = shards.map(r => (r(3).asInstanceOf[Long] - r(2).asInstanceOf[Long])
        .toDouble / spanA)
      val wB = shards.map(r => (r(5).asInstanceOf[Long] - r(4).asInstanceOf[Long])
        .toDouble / spanB)
      (wA.sum / wA.size, wB.sum / wB.size)
    }
    val Seq(Seq(loA: Long, hiA: Long, loB: Long, hiB: Long)) = rows(li.agg(
      min(col("pk").cast("long")), max(col("pk").cast("long")),
      min(col("sk").cast("long")), max(col("sk").cast("long"))))
    val (spanA, spanB) = (math.max(hiA - loA, 1L), math.max(hiB - loB, 1L))
    val nShards = facade.size
    val leadSorted = rows(li
      .withColumn("shard", expr(
        s"((cast(pk as bigint) - $loA) * $nShards) div greatest($spanA + 1, 1)"))
      .groupBy("shard")
      .agg(count(lit(1)), min(col("pk").cast("long")), max(col("pk").cast("long")),
        min(col("sk").cast("long")), max(col("sk").cast("long"))))
    val (zA, zB) = meanWidths(facade, spanA, spanB)
    val (_, leadB) = meanWidths(leadSorted, spanA, spanB)
    assert(zA <= 0.3 && zB <= 0.3,
      s"z-shards not narrow in both dims: mean widths a=$zA b=$zB")
    assert(leadB >= 0.9,
      s"control broke: lead-sorted layout should span dim b, got $leadB")
  }

  test("pagerank matches graph_pagerank on caller columns; mass conserved") {
    val li = Tables.lineitem(spark, sf001)
    val pairs = li.select(col("l_suppkey").cast("long").as("src"),
      (col("l_partkey").cast("long") + 1000000L).as("dst")).distinct()
    val facade = rows(Graft.pagerank(pairs, "src", "dst").orderBy("node"))
    val key = rows(SparkEntry.queries("graph_pagerank")(spark, sf001))
    assert(facade == key)

    // Rank mass: Σ rank_nano = 10⁹ minus deterministic floor-division
    // dust (bounded by ~(edges + nodes) per iteration).
    val mass = facade.map(_(1).asInstanceOf[Long]).sum
    assert(mass <= 1000000000L && mass >= 990000000L,
      s"pagerank mass $mass outside the floor-dust envelope")

    // Bipartite sanity: a supplier linked to many parts outranks the
    // uniform base — the rank actually moved along edges.
    val base = 150000000L / facade.size
    assert(facade.map(_(1).asInstanceOf[Long]).max > base * 2)
  }

  test("asofNearest matches join_asof_nearest on caller columns") {
    val facade = rows(Graft.asofNearest(
        Tables.events(spark, sf001), "user_id", "ts", "event_id",
        Tables.orders(spark, sf001), "o_custkey", "o_orderdate", "o_orderkey")
      .select(col("probe_id").as("event_id"), col("key").as("user_id"),
        col("build_id").as("o_orderkey"), col("d_us"))
      .orderBy("event_id"))
    val key = rows(SparkEntry.queries("join_asof_nearest")(spark, sf001))
    assert(facade == key, "facade != join_asof_nearest on caller columns")
  }

  test("similarTopKAuto matches simsearch_pq_auto on caller columns") {
    val emb = Tables.embeddings(spark, sf001)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val facade = rows(Graft.similarTopKAuto(spark, emb, k = 5,
        idCol = "id", vecCol = "vec", centroids = 16)
      .select(col("i"), col("k_id"), round(col("adc"), 6).as("adc"), col("rnk"))
      .orderBy("i", "rnk"))
    val key = rows(SparkEntry.queries("simsearch_pq_auto")(spark, sf001))
    assert(facade == key, "facade != simsearch_pq_auto on renamed columns")
  }

  test("triangles matches graph_triangles on caller columns; handles dirty edges") {
    val li = Tables.lineitem(spark, sf001)
    val items = li.select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    // raw pair relation WITHOUT canonicalization — both orders, dups,
    // self-loops; the facade must normalize before counting
    val raw = items.as("a").join(items.as("b"),
        col("a.o") === col("b.o"))
      .select(col("a.p").as("x"), col("b.p").as("y"))
    val facade = rows(Graft.triangles(raw, "x", "y").orderBy("node"))
    val key = rows(SparkEntry.queries("graph_triangles")(spark, sf001))
    assert(facade == key, "facade != graph_triangles on the same graph")
    // K4 ground truth: every node of a 4-clique is in C(3,2)=3 triangles
    import spark.implicits._
    val k4 = Seq((1L,2L),(1L,3L),(1L,4L),(2L,3L),(2L,4L),(3L,4L))
      .toDF("x", "y")
    val got = rows(Graft.triangles(k4, "x", "y").orderBy("node"))
    assert(got == Seq(Seq(1L, 3L), Seq(2L, 3L), Seq(3L, 3L), Seq(4L, 3L)),
      s"K4 per-node triangle counts wrong: $got")
  }

  test("heavyHitters matches text_heavy_hitters and the exact groupBy answer") {
    val t = Tables.documents(spark, sf001)
      .select(explode(split(col("text"), " ")).as("term"))
    val facade = rows(Graft.heavyHitters(t, "term", k = 28).orderBy("term"))
    val key = rows(SparkEntry.queries("text_heavy_hitters")(spark, sf001))
    assert(facade == key, "facade != text_heavy_hitters at the pinned k")
    // the deterministic contract: exactly the keys with true count
    // strictly above N/(k+1), independent of sketch tie noise
    val n = t.count()
    val exact = rows(t.groupBy("term").agg(count(lit(1)).as("n"))
      .filter(col("n") * 29 > n).orderBy("term"))
    assert(facade == exact, "heavy-hitter set != exact groupBy answer")
  }

  test("hybridSearch matches search_hybrid_rrf on caller columns") {
    val facade = rows(Graft.hybridSearch(spark, myDocs, myEmb,
      Seq(3L, 47L, 102L), docIdCol = "document_id", textCol = "body",
      vecIdCol = "item_id", vecCol = "vec").orderBy("q", "rnk"))
    val key = rows(SparkEntry.queries("search_hybrid_rrf")(spark, sf001))
    assert(facade == key)
    // RRF sanity: every query returns exactly topK rows, and every
    // fused score sits inside the algebraic envelope — at most
    // 2/(60+1) (both lists at rank 1), at least 1/(60+poolK) (one
    // list at the pool tail) — which pins both fusion terms.
    assert(facade.map(_(0)).distinct.size == 3 && facade.size == 30)
    val scores = facade.map(_(3).asInstanceOf[Double])
    assert(scores.forall(v => v >= 1.0 / 80 - 1e-6 && v <= 2.0 / 61 + 1e-6),
      s"scores outside the RRF envelope: min ${scores.min} max ${scores.max}")
  }

  test("bm25Search matches search_bm25 on caller columns; BM25 ranking laws hold") {
    import spark.implicits._
    val qrel = queries.Dedup.hybridTextQueries.map { case (q, t, _) => (q, t) }
      .toDF("qid", "question")
    val facade = rows(Graft.bm25Search(spark, myDocs, qrel,
      idCol = "document_id", textCol = "body",
      qidCol = "qid", qtextCol = "question")
      .orderBy("q", "rnk"))
    val key = rows(SparkEntry.queries("search_bm25")(spark, sf001))
    assert(facade == key)
    // ranking laws on a corpus where they're provable (the fixture's
    // near-uniform vocabulary flattens idf, so source-prefix retrieval
    // is not a law there): a doc matching BOTH query terms — one of
    // them rare — must outrank a long doc spamming only the common
    // term (tf saturation + length norm + idf), and a doc matching
    // neither scores nothing
    val corpus = Seq(
      (1L, "apple banana cherry"),
      (2L, ("apple " * 20).trim),
      (3L, "dog cat fish")).toDF("document_id", "body")
    val q2 = Seq((42L, "apple banana")).toDF("qid", "question")
    val got = rows(Graft.bm25Search(spark, corpus, q2,
      idCol = "document_id", textCol = "body",
      qidCol = "qid", qtextCol = "question").orderBy("rnk"))
    assert(got.map(_(2)) == Seq(1L, 2L),
      s"expected [both-terms doc, spam doc], no zero-match doc: $got")
    assert(got.head(3).asInstanceOf[Double] > got(1)(3).asInstanceOf[Double],
      s"rare-term match should outscore common-term spam: $got")
  }

  test("hybridSearchText matches search_hybrid_text; query text retrieves its source doc") {
    import spark.implicits._
    val qrel = queries.Dedup.hybridTextQueries.toDF("id", "body_text", "v")
      .join(myEmb.select(col("item_id").as("v"), col("vec").as("qvec")), Seq("v"))
      .select(col("id"), col("body_text"), col("qvec"))
    val facade = rows(Graft.hybridSearchText(spark, myDocs, myEmb, qrel,
      wLex = queries.Dedup.hybridTextWLex, wVec = queries.Dedup.hybridTextWVec,
      docIdCol = "document_id", textCol = "body",
      vecIdCol = "item_id", vecCol = "vec",
      qIdCol = "id", qTextCol = "body_text", qVecCol = "qvec")
      .orderBy("q", "rnk"))
    val key = rows(SparkEntry.queries("search_hybrid_text")(spark, sf001))
    assert(facade == key)
    // free text built from a corpus doc's opening words must retrieve —
    // no self-exclusion in the text kernel; with the vector side
    // anchored at vec_id 3 and the text taken verbatim from doc 3, the
    // source doc should surface in the fused top-10
    val doc3 = Tables.documents(spark, sf001)
      .filter(col("doc_id") === 3L).select("text").head().getString(0)
    val qtext = doc3.split("\\s+").take(6).mkString(" ")
    val q2 = Seq((99L, qtext)).toDF("id", "body_text")
      .join(myEmb.filter(col("item_id") === 3L)
        .select(lit(99L).as("id"), col("vec").as("qvec")), Seq("id"))
    val got = rows(Graft.hybridSearchText(spark, myDocs, myEmb, q2,
      docIdCol = "document_id", textCol = "body",
      vecIdCol = "item_id", vecCol = "vec",
      qIdCol = "id", qTextCol = "body_text", qVecCol = "qvec"))
    assert(got.exists(r => r(2).asInstanceOf[Long] == 3L),
      s"source doc 3 missing from fused top-10: $got")
    // a null query vector fails loud (the in-flow assert_true guard)
    val qBad = Seq((7L, "spark")).toDF("id", "body_text")
      .withColumn("qvec", lit(null).cast("array<float>"))
    val ex = intercept[Exception] {
      Graft.hybridSearchText(spark, myDocs, myEmb, qBad,
        docIdCol = "document_id", textCol = "body",
        vecIdCol = "item_id", vecCol = "vec",
        qIdCol = "id", qTextCol = "body_text", qVecCol = "qvec").collect()
    }
    def chain2(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).toSeq
    assert(chain2(ex).exists(m => m != null && m.contains("null vector")),
      chain2(ex).mkString(" | "))
  }

  test("pagerank keeps sourceless nodes at teleport base (directed input)") {
    import spark.implicits._
    // node 3 is never a destination: it must stay at the teleport base
    // (and node 1 must still receive its share), not silently drop
    // from the result (round-14 review)
    val e = Seq((1L, 2L), (2L, 1L), (3L, 1L)).toDF("src", "dst")
    val out = rows(Graft.pagerank(e, "src", "dst", iters = 4, symmetrize = false))
    assert(out.size == 3)
    val m = out.map(r => r(0).asInstanceOf[Long] -> r(1).asInstanceOf[Long]).toMap
    assert(m(3L) == 150000000L / 3)
    // nodes 1 and 2 both receive mass (the 1↔2 two-cycle oscillates
    // with iteration parity, so compare each against the base, not
    // against each other)
    assert(m(1L) > m(3L) && m(2L) > m(3L))
  }

  test("pagerank ranks pure sinks and redistributes dangling mass (directed)") {
    import spark.implicits._
    // node 4 is a pure SINK (destination only): round-14's kernel
    // dropped it from the node set and leaked its inbound mass every
    // iteration; it must now be ranked, and the dangling term must keep
    // the total inside the floor-dust envelope (round-14 ADVICE)
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L), (2L, 4L), (3L, 4L))
      .toDF("src", "dst")
    val out = rows(Graft.pagerank(e, "src", "dst", iters = 12, symmetrize = false))
    assert(out.size == 4, s"sink missing from node set: $out")
    val m = out.map(r => r(0).asInstanceOf[Long] -> r(1).asInstanceOf[Long]).toMap
    val base = 150000000L / 4
    // the sink receives a half-share from each of the three cycle nodes
    // — well above the teleport base
    assert(m(4L) > base, s"sink stuck at/below base: ${m(4L)}")
    val mass = out.map(_(1).asInstanceOf[Long]).sum
    assert(mass <= 1000000000L && mass >= 990000000L,
      s"dangling mass leaked: total $mass")
    // sink-free directed graphs take the exact no-dangling dataflow:
    // the probe finds nothing and results are identical to round-14's
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val c = rows(Graft.pagerank(cyc, "src", "dst", iters = 4, symmetrize = false))
    assert(c.size == 3 && c.forall(_(1).asInstanceOf[Long] == 333333333L))
  }

  test("pagerank long loop: bounded lineage at iters=64, integer early stop") {
    import spark.implicits._
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 2L)).toDF("src", "dst")
    // iters=64 with the default cadence (8) must complete quickly —
    // without localCheckpoint truncation the 64-deep self-join tree
    // stalls analysis/codegen long before execution (SURVEY §4.3)
    val out = rows(Graft.pagerank(e, "src", "dst", iters = 64,
      symmetrize = false).orderBy("node"))
    assert(out.size == 3)
    val mass = out.map(_(1).asInstanceOf[Long]).sum
    assert(mass <= 1000000000L && mass >= 990000000L)
    // integer-exact early stop: the integral iteration reaches a TRUE
    // fixpoint (delta = 0 at a boundary), stops early, and returns the
    // SAME ranks as the full fixed-iteration run
    val stopped = rows(Graft.pagerank(e, "src", "dst", iters = 64,
      symmetrize = false, tolNano = 1L).orderBy("node"))
    assert(stopped == out,
      "tolNano early stop diverged from the fixed-iteration fixpoint")
    // a tolNano with no checkpoint boundary to check at must fail loud,
    // not sit silently inert (review round 15)
    assertThrows[IllegalArgumentException](
      Graft.pagerank(e, "src", "dst", iters = 8, tolNano = 1L))
  }

  test("zorderPlan fails loud when a dimension span would overflow") {
    import spark.implicits._
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
    val df = Seq((0L, 0L), (Long.MaxValue / 2, 5L)).toDF("x", "y")
    val ex = intercept[Exception] { Graft.zorderPlan(df, "x", "y").collect() }
    assert(chain(ex).exists(_.contains("zorderPlan")), chain(ex).mkString(" | "))
    // a signed-64-bit-wide span wraps hi − lo in LONG arithmetic — the
    // double-typed guard must still catch it (second review pass)
    val wide = Seq((Long.MinValue / 2, 0L), (Long.MaxValue / 2, 5L)).toDF("x", "y")
    val ex2 = intercept[Exception] { Graft.zorderPlan(wide, "x", "y").collect() }
    assert(chain(ex2).exists(_.contains("zorderPlan")), chain(ex2).mkString(" | "))
  }

  test("bpeEncode rejects out-of-charset merge symbols") {
    intercept[IllegalArgumentException] {
      Graft.bpeEncode(myDocs, Seq(("a)(b", "c")),
        idCol = "document_id", textCol = "body")
    }
  }

  test("nearDupPairs (minhash LSH) matches dedup_minhash") {
    val facade = rows(Graft.nearDupPairs(spark, myDocs, "document_id", "body")
      .orderBy("id_a", "id_b"))
    val key = rows(SparkEntry.queries("dedup_minhash")(spark, sf001))
    assert(facade == key)
  }

  test("nearDupClusters matches dedup_cluster") {
    val facade = rows(Graft.nearDupClusters(spark, myDocs, "document_id", "body")
      .orderBy("id"))
    val key = rows(SparkEntry.queries("dedup_cluster")(spark, sf001))
    assert(facade == key)
  }

  test("decontaminate matches pipeline_decontaminate on the declared eval split") {
    // the key declares eval = doc_id % 20 == 0 over ONE table; the
    // facade takes train and eval as separate DataFrames — feeding it
    // the two slices must reproduce the key exactly
    val facade = rows(Graft.decontaminate(spark,
        myDocs.filter(col("document_id") % 20 =!= 0),
        myDocs.filter(col("document_id") % 20 === 0),
        "document_id", "body")
      .orderBy("id"))
    val key = rows(SparkEntry.queries("pipeline_decontaminate")(spark, sf001))
    assert(facade == key)
  }

  test("decontaminate shuffled fallback (oversized eval) matches the broadcast path") {
    // round-8 VERDICT #7 / ADVICE: the unguarded broadcast of the eval
    // gram set turned a large eval corpus into a driver OOM. With the
    // probe's ceiling forced to 0 the kernel must take the shuffled-join
    // fallback and produce identical rows.
    val train = Tables.documents(spark, sf001).filter(col("doc_id") % 20 =!= 0)
    val eval = Tables.documents(spark, sf001).filter(col("doc_id") % 20 === 0)
    val viaBroadcast = rows(
      graft.queries.Dedup.decontaminate(spark, train, eval).orderBy("doc_id"))
    val viaShuffle = rows(
      graft.queries.Dedup.decontaminate(spark, train, eval, broadcastCap = 0L)
        .orderBy("doc_id"))
    assert(viaShuffle == viaBroadcast)
    assert(viaBroadcast.nonEmpty)
  }

  test("keepCanonical matches pipeline_keep_canonical with the n_chars quality column") {
    val withQ = Tables.documents(spark, sf001)
      .select(col("doc_id").as("document_id"), col("text").as("body"),
        col("n_chars").as("quality"))
    val facade = rows(Graft.keepCanonical(spark, withQ, "document_id", "body",
        qualityCol = Some("quality"))
      .orderBy("id"))
    val key = rows(SparkEntry.queries("pipeline_keep_canonical")(spark, sf001))
    assert(facade == key)
  }

  test("keepCanonical ranks FRACTIONAL quality scores (no long truncation)") {
    // classifier-style scores in [0,1]: both truncate to 0 as longs, so
    // a long cast would silently fall back to the smallest-id tie-break
    // and keep the WRONG doc (the higher-quality doc has the larger id)
    import spark.implicits._
    val text = (1 to 30).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, text, 0.07), (2L, text, 0.93), (3L, "only three words", 0.5))
      .toDF("doc_id", "text", "score")
    val kept = Graft.keepCanonical(spark, docs, qualityCol = Some("score"))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(kept.toSeq == Seq((2L, 2L), (3L, 1L)),
      s"expected doc 2 (score 0.93) to represent the near-dup pair, got ${kept.toSeq}")
  }

  test("neighborGraph matches the sparse AP builder on renamed columns") {
    val facade = rows(Graft.neighborGraph(spark, myEmb, m = 20,
      idCol = "item_id", vecCol = "vec").orderBy("id_a", "id_b"))
    val kernel = rows(graft.ap.AffinityPropagation.sparseSimilarities(
        Tables.embeddings(spark, sf001).select("vec_id", "embedding"), 20)
      .orderBy("i", "k"))
    assert(facade == kernel)
    assert(facade.nonEmpty)
  }

  test("similarTopKIvf matches simsearch_ivf") {
    val facade = rows(Graft.similarTopKIvf(spark, myEmb, 5, "item_id", "vec")
      .orderBy("i", "rnk"))
    val key = rows(SparkEntry.queries("simsearch_ivf")(spark, sf001))
    assert(facade == key)
  }

  test("similarTopKPqIvf matches simsearch_pq_ivf") {
    val facade = rows(Graft.similarTopKPqIvf(spark, myEmb, 5, "item_id", "vec",
        centroids = 16, nprobe = 8)
      .select(col("i"), col("k_id"), round(col("adc"), 6).as("adc"), col("rnk"))
      .orderBy("i", "rnk"))
    val key = rows(SparkEntry.queries("simsearch_pq_ivf")(spark, sf001))
    assert(facade == key)
    assert(facade.nonEmpty)
  }

  test("merge matches cdc_merge on the same change-set") {
    // the facade applies the identical U/D/I change-set the key derives
    // (keys ≡3 mod 10 reprice +10.00, ≡7 delete, ≡0 clone to +10⁸) and
    // must reproduce the key's merged rows on caller columns
    import graft.Det.cents
    val o = Tables.orders(spark, sf001)
    val target = o.select(col("o_orderkey"), col("o_custkey"),
      cents(col("o_totalprice")).as("o_total_cents"))
    val upd = o.filter(pmod(col("o_orderkey"), lit(10)) === 3)
      .select(col("o_orderkey"), lit("U").as("op"),
        col("o_custkey"), (cents(col("o_totalprice")) + 1000L).as("o_total_cents"))
    val del = o.filter(pmod(col("o_orderkey"), lit(10)) === 7)
      .select(col("o_orderkey"), lit("D").as("op"),
        lit(null).cast("long").as("o_custkey"),
        lit(null).cast("long").as("o_total_cents"))
    val ins = o.filter(pmod(col("o_orderkey"), lit(10)) === 0)
      .select((-(col("o_orderkey") + lit(1L))).as("o_orderkey"),
        lit("I").as("op"), col("o_custkey"),
        cents(col("o_totalprice")).as("o_total_cents"))
    val facade = rows(Graft.merge(target,
        upd.unionByName(del).unionByName(ins), "o_orderkey")
      .orderBy("o_orderkey"))
    val key = rows(SparkEntry.queries("cdc_merge")(spark, sf001))
    assert(facade == key && facade.nonEmpty)
  }

  test("similarTopKPqIvf queryIds workload equals the self-search restricted to it") {
    // the production repeated-query shape: a workload call must return
    // exactly the unrestricted self-search's rows for those queries
    // (same index — the session cache guarantees the same model)
    import spark.implicits._
    val all = rows(Graft.similarTopKPqIvf(spark, myEmb, 5, "item_id", "vec",
        centroids = 16, nprobe = 8)
      .filter(col("i").isin(3L, 17L, 42L))
      .orderBy("i", "rnk"))
    val workload = rows(Graft.similarTopKPqIvf(spark, myEmb, 5, "item_id", "vec",
        centroids = 16, nprobe = 8,
        queryIds = Some(Seq(3L, 17L, 42L).toDF("id")))
      .orderBy("i", "rnk"))
    assert(workload == all && workload.nonEmpty)
  }

  test("notIn decomposition matches subq_not_in and Spark's NOT IN on null cases") {
    // the scalable NOT IN (shuffled anti + null-presence guard) must be
    // row-equal to the broadcast-NAAJ key on the fixture shape, and
    // 3VL-exact where nulls appear (any inner null → empty; null probe
    // keys never qualify) — checked against Spark's own NOT IN.
    import spark.implicits._
    Tables.orders(spark, sf001).createOrReplaceTempView("orders")
    val inner = spark.sql(
      """SELECT o_custkey FROM orders
        |WHERE o_totalprice > (SELECT 0.5 * MAX(o_totalprice) FROM orders)""".stripMargin)
    val facade = rows(Graft.notIn(
        Tables.customer(spark, sf001).select("c_custkey", "c_name"),
        "c_custkey", inner, "o_custkey")
      .orderBy("c_custkey"))
    val key = rows(SparkEntry.queries("subq_not_in")(spark, sf001))
    assert(facade == key && facade.nonEmpty)
    // null cases vs the engine's own NOT IN
    val probe = Seq(Option(1L), Option(2L), Option(3L), Option.empty[Long])
      .toDF("k")
    def reference(innerVals: Seq[Option[Long]]): Seq[Seq[Any]] = {
      probe.createOrReplaceTempView("__p")
      innerVals.toDF("k").createOrReplaceTempView("__i")
      rows(spark.sql(
        "SELECT k FROM __p WHERE k NOT IN (SELECT k FROM __i) ORDER BY k"))
    }
    def mine(innerVals: Seq[Option[Long]]): Seq[Seq[Any]] =
      rows(Graft.notIn(probe, "k", innerVals.toDF("k"), "k").orderBy("k"))
    val withNull = Seq(Option(2L), Option.empty[Long])
    val noNull = Seq(Option(2L), Option(5L))
    assert(mine(withNull) == reference(withNull) && mine(withNull).isEmpty,
      "inner null must empty the result")
    assert(mine(noNull) == reference(noNull) && mine(noNull).nonEmpty,
      "non-null decomposition diverged from the engine's NOT IN")
    // EMPTY inner: NOT IN () is TRUE for every probe row INCLUDING the
    // null-key one (IN over the empty set is FALSE, not unknown) —
    // round-13 ADVICE: the first facade dropped null keys here
    val empty = Seq.empty[Option[Long]]
    assert(mine(empty) == reference(empty) && mine(empty).length == 4,
      s"empty-inner NOT IN must keep ALL probe rows incl. null: ${mine(empty)}")
  }

  test("merge applies NULL change payloads and rejects multi-row change keys") {
    // round-13 review: coalesce-style resolution silently kept the
    // target's old value for a U row nulling a column, and a
    // full-outer fanout silently multiplied rows for a key with two
    // ops. Nulls must LAND; multiplicity must FAIL (the Delta
    // "multiple source rows matched" contract).
    import spark.implicits._
    val target = Seq((1L, "a@x", 10L), (2L, "b@x", 20L))
      .toDF("id", "email", "v")
    val nullUpd = Seq((1L, "U", Option.empty[String], Option(11L)))
      .toDF("id", "op", "email", "v")
    val merged = Graft.merge(target, nullUpd, "id").orderBy("id").collect()
    assert(merged.length == 2)
    assert(merged(0).isNullAt(1) && merged(0).getLong(2) == 11L,
      s"U row's null email did not land: ${merged(0)}")
    assert(merged(1).getString(1) == "b@x" && merged(1).getLong(2) == 20L)
    val dup = Seq((1L, "I", Option("x@x"), Option(1L)),
        (1L, "U", Option("y@x"), Option(2L)))
      .toDF("id", "op", "email", "v")
    val e = intercept[Exception] {
      Graft.merge(target, dup, "id").collect()
    }
    assert(e.getMessage != null &&
      e.getMessage.contains("multiple change rows"),
      s"unexpected: ${e.getMessage}")
    // NULL-key change rows are NOT a fanout hazard (they never
    // equal-match a target) — two of them must pass through, not trip
    // the multiplicity guard (round-13 review)
    val nullKeys = Seq((Option.empty[Long], "I", Option("n1@x"), Option(1L)),
        (Option.empty[Long], "I", Option("n2@x"), Option(2L)))
      .toDF("id", "op", "email", "v")
    val withNulls = Graft.merge(target, nullKeys, "id").collect()
    assert(withNulls.length == 4 &&
      withNulls.count(_.isNullAt(0)) == 2,
      s"null-key change rows mishandled: ${withNulls.toSeq}")
    // an UNMATCHED U row is dropped, not inserted (Delta WHEN MATCHED
    // applies to matched rows only — round-13 ADVICE); an unmatched I
    // beside it still inserts, and matched rows still update
    val mixed = Seq((1L, "U", Option("z@x"), Option(99L)),
        (7L, "U", Option("ghost@x"), Option(70L)),
        (8L, "I", Option("new@x"), Option(80L)))
      .toDF("id", "op", "email", "v")
    val m2 = Graft.merge(target, mixed, "id").orderBy("id").collect()
    assert(m2.map(_.getLong(0)).toSeq == Seq(1L, 2L, 8L) &&
      m2(0).getLong(2) == 99L && m2(2).getString(1) == "new@x",
      s"unmatched-U handling wrong: ${m2.toSeq}")
  }

  test("OPQ path threads a non-vec_id id column end to end") {
    // round-12 verdict #7: adcTopkRotated/fitRotated documented the
    // vec_id contract instead of proving idCol works — a caller's own
    // id column must produce the identical result as the renamed-to-
    // vec_id route, through fit, rotation, and the rotated ADC search.
    val e = Tables.embeddings(spark, sf001)
      .select(col("vec_id"), col("embedding"))
    val mine = e.select(col("vec_id").as("item_id"), col("embedding").as("vec"))
    val rmA = graft.functions.Pq.fitRotated(e, "embedding")
    val rmB = graft.functions.Pq.fitRotated(mine, "vec", idCol = "item_id")
    assert(rmA.basisPerm.sameElements(rmB.basisPerm), "basisPerm drift under idCol")
    (0 until rmA.pq.m).foreach { b =>
      rmA.pq.codebooks(b).zip(rmB.pq.codebooks(b)).foreach { case (x, y) =>
        assert(x.sameElements(y), s"codebook drift in block $b under idCol")
      }
    }
    val a = rows(graft.functions.Pq.adcTopkRotated(e, e, "embedding", rmA, 5))
    val b = rows(graft.functions.Pq.adcTopkRotated(mine, mine, "vec", rmB, 5,
      idCol = "item_id"))
    assert(a == b && a.nonEmpty, "adcTopkRotated differs under a caller id column")
  }

  test("IVFADC index cache: second fit is the same model and issues no jobs") {
    // round-12 VERDICT #2 — a facade caller iterating queries used to
    // pay a full centroid build + residual model fit per call. The
    // session registry must hand back the SAME model for the same
    // (normalized plan, m, k, centroids), and the cached path must run
    // ZERO Spark jobs (the build's sample collects are the only jobs a
    // fit issues; a cache hit skips them all).
    val emb = Tables.embeddings(spark, sf001)
      // distinct plan from every other test's input so this test owns
      // its cache entry regardless of suite ordering
      .filter(col("vec_id") % 2 === 0)
    val m1 = graft.functions.Pq.fitIvfPqCached(emb, "embedding", centroids = 16)
    val (_, jobs) = actionsDuring {
      val m2 = graft.functions.Pq.fitIvfPqCached(emb, "embedding", centroids = 16)
      assert(m2 eq m1, "second fit rebuilt the index instead of hitting the cache")
      // the residual query over a cached index constructs LAZILY too
      // (flat assignment at c = 16): building the DataFrame must not
      // run jobs either — only the caller's action does
      graft.functions.Pq.ivfAdcTopk(emb, "embedding", m2, 5,
        nprobe = 8, idCol = "vec_id", queryIds = None)
      Thread.sleep(1500) // let any stray async job-start events land
    }
    assert(jobs == 0,
      s"cached fit + lazy query construction ran $jobs jobs")
    // a renamed-column route to the same data still hits (the key is
    // the canonicalized NORMALIZED plan)
    val renamed = emb.select(col("vec_id").as("item_id"), col("embedding").as("vec"))
    val m3 = graft.functions.Pq.fitIvfPqCached(renamed, "vec",
      centroids = 16, idCol = "item_id")
    assert(m3 eq m1, "renamed columns missed the cache")
    // materialized-index tier (round-13): one index per entry, shared
    // on repeat, its model the entry's model, and the indexed query
    // row-identical to the self-building overload
    val ix1 = graft.functions.Pq.ivfPqIndexCached(emb, "embedding", centroids = 16)
    val ix2 = graft.functions.Pq.ivfPqIndexCached(emb, "embedding", centroids = 16)
    assert((ix2 eq ix1) && (ix1.model eq m1),
      "materialized index not shared with the model entry")
    val viaIndex = rows(graft.functions.Pq.ivfAdcTopk(emb, "embedding", ix1, 5,
      nprobe = 8, idCol = "vec_id", queryIds = None).orderBy("i", "rnk"))
    val viaModel = rows(graft.functions.Pq.ivfAdcTopk(emb, "embedding", m1, 5,
      nprobe = 8, idCol = "vec_id", queryIds = None).orderBy("i", "rnk"))
    assert(viaIndex == viaModel && viaIndex.nonEmpty,
      "indexed query diverged from the self-building overload")
    // two same-schema datasets must NOT collide (round-13: plan
    // treeStrings omit local-relation data and file paths — the leaf
    // identity component is what keeps these apart)
    import spark.implicits._
    def synth(seed: Double) = (0 until 40)
      .map(i => (i.toLong, (0 until 8).map(j => seed + i * 0.1 + j).toList))
      .toDF("vec_id", "embedding")
    val sA = graft.functions.Pq.fitIvfPqCached(synth(0.0), "embedding", centroids = 4)
    val sB = graft.functions.Pq.fitIvfPqCached(synth(100.0), "embedding", centroids = 4)
    assert(!(sA eq sB), "distinct same-schema datasets collided onto one cache entry")
    assert(!sA.cents.map(_._2).sameElements(sB.cents.map(_._2)),
      "collided models: identical centroids for different data")
  }

  test("blockedEditDistancePairs matches er_blocked_match") {
    val parts = Tables.part(spark, sf001)
      .select(col("p_partkey").as("pid"), col("p_name").as("label"))
    val facade = rows(Graft.blockedEditDistancePairs(parts, "pid", "label",
      maxEdits = 3).orderBy("key_a", "key_b"))
    val key = rows(SparkEntry.queries("er_blocked_match")(spark, sf001))
    assert(facade == key)
    assert(facade.nonEmpty)
  }

  test("pqEncode matches emb_pq") {
    // round-12 review: the k=16 vs 256 facade/key default drift went
    // uncaught because this sibling of every other "matches" test was
    // missing
    val facade = rows(Graft.pqEncode(myEmb, idCol = "item_id", vecCol = "vec")
      .orderBy("vec_id"))
    val key = rows(SparkEntry.queries("emb_pq")(spark, sf001))
    assert(facade == key)
    assert(facade.nonEmpty)
  }

  test("quantizeInt8 matches emb_quantize") {
    val facade = rows(Graft.quantizeInt8(myEmb, "item_id", "vec").orderBy("vec_id"))
    val key = rows(SparkEntry.queries("emb_quantize")(spark, sf001))
    assert(facade == key)
  }

  test("cluster reproduces the pinned sf0.001 exemplar structure") {
    // FIXTURES.md pinned ground truth: 66 exemplars at sf0.001 with
    // pref = median; every point assigned, exemplars self-assigned.
    val assigned = Graft.cluster(spark, myEmb, "item_id", "vec")
    val n = Tables.embeddings(spark, sf001).count()
    assert(assigned.count() == n)
    val ex = assigned.filter(col("id") === col("exemplar")).count()
    assert(ex == 66L, s"expected 66 exemplars, got $ex")
  }

  test("clusterFromSimilarities on −‖x−y‖² triples reproduces cluster exactly") {
    // Fed the similarity relation cluster() derives internally, the
    // similarity-input facade must return the identical labeling: same
    // kernel, same median preference (the triple set holds the same
    // values), same D6 assign tie-break.
    val sims = ap.AffinityPropagation.similarities(
      Tables.embeddings(spark, sf001)
        .select(col("vec_id"), col("embedding")))
    val viaSims = rows(Graft.clusterFromSimilarities(spark, sims, "i", "k", "s")
      .orderBy("id"))
    val viaEmb = rows(Graft.cluster(spark, myEmb, "item_id", "vec").orderBy("id"))
    assert(viaSims == viaEmb)
  }

  test("clusterFromSimilarities accepts a hand-built NON-METRIC s (FD07 native input)") {
    import spark.implicits._
    // Two blocks {1,2,3} and {4,5}, deliberately asymmetric (s(i,k) ≠
    // s(k,i)) and non-metric — nothing here is a distance. AP's headline
    // feature is accepting exactly this.
    val triples = (for {
      i <- 1L to 5L; k <- 1L to 5L if i != k
    } yield {
      val sameBlock = (i <= 3) == (k <= 3)
      val base = if (sameBlock) -1.0 else -20.0
      (i, k, base + 0.01 * i - 0.003 * k) // asymmetric tilt
    }).toDF("i", "k", "s")
    val got = Graft.clusterFromSimilarities(spark, triples)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // every point labeled; exemplars self-assigned; blocks stay together
    assert(got.map(_._1) == (1L to 5L))
    val byBlock = got.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    assert(byBlock.values.toSet == Set(Set(1L, 2L, 3L), Set(4L, 5L)))
    got.filter { case (id, ex) => id == ex }.foreach { case (id, ex) => assert(id == ex) }

    // the exemplars are pinned: one per block, 1 and 4
    assert(got.map(_._2).distinct.sorted == Seq(1L, 4L))

    // and the DISTRIBUTED regime (forced via localNodeThreshold = 0)
    // lands on the same exemplars as the in-process one.
    val dist = ap.AffinityPropagation.solveFromSimilarities(spark,
      triples.select(col("i"), col("k"), col("s")),
      maxIter = 60, localNodeThreshold = 0)
    val loc = ap.AffinityPropagation.solveFromSimilarities(spark,
      triples.select(col("i"), col("k"), col("s")), maxIter = 60)
    assert(loc.pinned.isEmpty && dist.exemplars == loc.exemplars)
  }

  test("diagonal sims rows are per-point preferences (FD07 s(k,k) convention)") {
    import spark.implicits._
    // two blocks {1,2,3} / {4,5}; preferences FORCE exemplars 2 and 4
    // (generous s(k,k) there, hostile everywhere else)
    val offd = for { i <- 1L to 5L; k <- 1L to 5L if i != k } yield {
      val sameBlock = (i <= 3) == (k <= 3)
      (i, k, if (sameBlock) -1.0 else -20.0)
    }
    val diag = Seq((2L, 2L, 0.0), (4L, 4L, 0.0),
      (1L, 1L, -100.0), (3L, 3L, -100.0), (5L, 5L, -100.0))
    val triples = (offd ++ diag).toDF("i", "k", "s")
    val got = Graft.clusterFromSimilarities(spark, triples)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 2L), (2L, 2L), (3L, 2L), (4L, 4L), (5L, 4L)))
    // the in-process solve of the same triples, every diagonal supplied,
    // lands on the same exemplars
    val st = ap.AffinityPropagation.solveFromSimilarities(spark, triples)
    assert(st.pinned.isEmpty && st.exemplars == Seq(2L, 4L))
  }

  test("profile matches profile_columns") {
    val facade = rows(Graft.profile(Tables.lineitem(spark, sf001),
      Seq("l_quantity", "l_extendedprice", "l_discount")).orderBy("col_name"))
    val key = rows(SparkEntry.queries("profile_columns")(spark, sf001))
    assert(facade == key)
  }

  test("connectedComponents labels edge endpoints missing from nodes") {
    // round-4 ADVICE: nodes {1,2}; edges reach 3 and 4, and 5-6 is a
    // component with NO endpoint in nodes at all — every id must still
    // come back labeled with its component min.
    import spark.implicits._
    val nodes = Seq(1L, 2L).toDF("id")
    val edges = Seq((1L, 3L), (3L, 4L), (5L, 6L)).toDF("id_a", "id_b")
    val got = Graft.connectedComponents(nodes, edges)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 1L), (2L, 2L), (3L, 1L), (4L, 1L), (5L, 5L), (6L, 5L)))
  }

  test("Ann.topkCosine rejects an index past the row cap") {
    val emb = Tables.embeddings(spark, sf001)
    val e = intercept[IllegalArgumentException] {
      functions.Ann.topkCosine(spark, emb, 5, maxIndexRows = 10)
    }
    assert(e.getMessage.contains("simsearch_ivf"))
    // and the guard passes when the index fits
    assert(functions.Ann.topkCosine(spark, emb.limit(8), 2, maxIndexRows = 10)
      .count() > 0)
  }

  test("Ann index replicates executor-side: 1-partition cached glom in the block manager") {
    // round-5 VERDICT #6: no index bytes through driver memory. The
    // mechanism is a 1-partition glommed RDD cached in executor storage
    // (a broadcast() join would NOT qualify — BroadcastExchangeExec
    // collects the relation to the driver first); assert it is what
    // actually materializes when the kernel runs.
    val before = spark.sparkContext.getPersistentRDDs.keySet
    functions.Ann.topkCosine(spark, Tables.embeddings(spark, sf001), 3).count()
    val added = spark.sparkContext.getPersistentRDDs.view
      .filterKeys(!before.contains(_)).values.toSeq
    assert(added.exists(_.partitions.length == 1),
      s"expected a new 1-partition cached index RDD, got ${added.map(_.partitions.length)}")
  }

  test("Ann index cache releases a second session's storage on close") {
    // round-10 ADVICE: a strong session key pinned one glommed index RDD
    // per dead session for the JVM's life in a long-lived multi-session
    // service. This Spark build pins ANY session that has executed a
    // query (see SessionResources), so the session-close lifecycle hook
    // must be EXPLICIT: SessionResources.release(s). The slot holds an
    // RDD id and adds no pin of our own on top.
    val s2: SparkSession = spark.newSession()
    functions.Ann.topkCosine(s2,
      Tables.embeddings(s2, sf001).limit(16), 2).count()
    assert(held(s2, "ann.lastIndex").nonEmpty,
      "fresh session's index cache entry missing")
    val rddId = lastRunIds(s2, "ann.lastIndex").head
    assert(spark.sparkContext.getPersistentRDDs.contains(rddId),
      "second session's index RDD is not in persistent storage")
    SessionResources.release(s2)
    assert(held(s2, "ann.lastIndex").isEmpty,
      "index cache entry survived SessionResources.release")
    val after = spark.sparkContext.getPersistentRDDs.get(rddId)
    assert(after.forall(r => !r.getStorageLevel.useMemory &&
        !r.getStorageLevel.useDisk),
      "second session's index RDD still pinned after SessionResources.release")
    // idempotent, and the main session's own caching is unaffected
    SessionResources.release(s2)
    functions.Ann.topkCosine(spark,
      Tables.embeddings(spark, sf001).limit(16), 2).count()
    assert(held(spark, "ann.lastIndex").nonEmpty)
  }

  test("mm decode stages are byte-exact on non-ASCII and empty text") {
    // round-4 ADVICE: the fixture is pure ASCII, so char-based slicing
    // never showed. Multi-byte text (2- and 3-byte UTF-8) and an empty
    // doc must still satisfy the generative formulas in BYTES.
    import spark.implicits._
    val docs = Seq(
      (1L, "héllo wörld ünïcode résumé naïve çédille"),
      (2L, "日本語のテキストです 中文文本 한국어"),
      (3L, ""),
      (4L, "plain ascii text for contrast")).toDF("doc_id", "text")
    val ppm = queries.TextOps.decodePpm(spark, docs).orderBy("doc_id").collect()
    ppm.foreach { r =>
      val (id, w, h, npix) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(w == id % 13 + 4 && h == id % 7 + 3, s"doc $id dims")
      assert(npix == w * h * 3, s"doc $id: n_pix $npix != ${w * h * 3}")
      assert(r.getString(4) == "ppm-p255")
    }
    val gft = queries.TextOps.decodeGft1(spark, docs).orderBy("doc_id").collect()
    val byteLens = docs.select(col("doc_id"), expr("octet_length(text)").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    gft.foreach { r =>
      val (id, nb, w, h) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nb == byteLens(id), s"doc $id: parsed n_bytes $nb != octet_length")
      assert(w == 64 + nb % 1856 && h == 64 + (nb * 7) % 1016, s"doc $id dims")
      assert(r.getString(4) == "rgb8")
    }
  }

  test("PNG decode reconstructs the exact generative pixel bytes; corruption fails loud") {
    // round-12 VERDICT #3 — the compressed-format decode: deflate →
    // inflate → unfilter must be the identity on the pixel payload,
    // byte-measured on non-ASCII and empty docs (the decodePpm
    // discipline), and a flipped payload byte must trip the chunk CRC,
    // never produce plausible pixels.
    import spark.implicits._
    val texts = Seq(
      (1L, "héllo wörld ünïcode résumé naïve çédille"),
      (2L, "日本語のテキストです 中文文本 한국어"),
      (3L, ""),
      (4L, "plain ascii text for contrast"))
    val docs = texts.toDF("doc_id", "text")
    val got = queries.TextOps.decodePng(spark, docs).orderBy("doc_id").collect()
    assert(got.length == 4)
    got.foreach { r =>
      val (id, w, h, npix, sum) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(w == id % 11 + 4 && h == id % 5 + 3, s"doc $id dims")
      assert(npix == w * h * 3, s"doc $id n_pix")
      assert(r.getString(5) == "png-rgb8")
      // driver-side generative expectation, byte-measured
      val bt = texts.find(_._1 == id).get._2 match { case "" => " "; case t => t }
      val b = bt.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val want = (0 until npix.toInt).map(i => (b(i % b.length) & 0xff).toLong).sum
      assert(sum == want, s"doc $id: px_sum $sum != generative $want")
    }
    // all five filter types really cycle (h up to 7 rows, (id+r) % 5)
    // and encode→parse is the identity on the pixel array
    val rnd = new scala.util.Random(99)
    val (w0, h0) = (9, 7)
    val px = Array.fill((w0 * h0 * 3))(rnd.nextInt(256).toByte)
    val payload = queries.MmCodec.encodePng(2L, w0, h0, px)
    val (pw, ph, back) = queries.MmCodec.parsePng(payload, 2L)
    assert(pw == w0 && ph == h0 && java.util.Arrays.equals(back, px),
      "encode→parse is not the identity")
    // flip one IDAT payload byte → CRC must fail
    val corrupt = payload.clone()
    corrupt(8 + 12 + 13 + 8 + 4) = (corrupt(8 + 12 + 13 + 8 + 4) ^ 0x40).toByte
    val e = intercept[IllegalArgumentException] {
      queries.MmCodec.parsePng(corrupt, 2L)
    }
    assert(e.getMessage.contains("CRC mismatch"), s"unexpected: ${e.getMessage}")
  }

  test("resize halves the decoded image on non-ASCII/empty docs; NN picks even pixels") {
    import spark.implicits._
    val texts = Seq(
      (1L, "héllo wörld ünïcode résumé naïve çédille"),
      (2L, "日本語のテキストです 中文文本 한국어"),
      (3L, ""),
      (4L, "plain ascii text for contrast"))
    val got = queries.TextOps.resizePng(spark, texts.toDF("doc_id", "text"))
      .orderBy("doc_id").collect()
    got.foreach { r =>
      val (id, ow, oh, npix, sum) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      val (w, h) = (id % 11 + 4, id % 5 + 3)
      assert(ow == (w + 1) / 2 && oh == (h + 1) / 2, s"doc $id out dims")
      assert(npix == ow * oh * 3, s"doc $id n_pix")
      // driver-side generative expectation, byte-measured: resized
      // pixel (x, y) is SOURCE pixel (2x, 2y)
      val bt = texts.find(_._1 == id).get._2 match { case "" => " "; case t => t }
      val b = bt.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var want = 0L
      for (y <- 0L until oh; x <- 0L until ow; c <- 0 until 3)
        want += b ((((2 * y * w + 2 * x) * 3 + c) % b.length).toInt) & 0xff
      assert(sum == want, s"doc $id: resized px_sum $sum != generative $want")
    }
  }

  test("wav energy sign-extends 16-bit samples (the branch ASCII payloads never hit)") {
    // craft a payload with a negative sample: 0xFF 0xFF = -1 → energy 1,
    // and 0x00 0x80 = -32768 → energy 32768² — an unsigned walk would
    // give 65535² and 32768² summed differently
    val header = java.nio.ByteBuffer.allocate(44)
    header.put("RIFF".getBytes); header.putInt(0) // size unchecked here
    header.put("WAVE".getBytes); header.put("fmt ".getBytes)
    header.position(36); header.put("data".getBytes)
    val b = new Array[Byte](48)
    System.arraycopy(header.array(), 0, b, 0, 44)
    b(44) = 0xFF.toByte; b(45) = 0xFF.toByte   // -1
    b(46) = 0x00.toByte; b(47) = 0x80.toByte   // -32768
    val (_, nVals, energy) = queries.TextOps.wavEnergyOf(7L, b)
    assert(nVals == 2L)
    assert(energy == 1L + 32768L * 32768L,
      s"sign extension broken: energy $energy")
  }

  test("JPEG decode: dims formula, bounded lossy error, determinism, corrupt markers fail loud") {
    // round-13 VERDICT #6 — the third real compressed format and the
    // first LOSSY one (the JDK's own baseline-JPEG codec). No SQL
    // oracle can re-derive lossy pixels, so this suite IS the key's
    // certificate: dims from the id formula, mean |decoded − source|
    // bounded (quality 0.95 on byte-valued text pixels), two runs
    // bit-identical, and a clipped/flipped marker fails before the
    // codec runs.
    import spark.implicits._
    val texts = Seq(
      (1L, "héllo wörld ünïcode résumé naïve çédille"),
      (2L, "日本語のテキストです 中文文本 한국어"),
      (3L, ""),
      (4L, "plain ascii text for contrast"))
    val docs = texts.toDF("doc_id", "text")
    val got = queries.TextOps.decodeJpeg(spark, docs).orderBy("doc_id").collect()
    assert(got.length == 4)
    got.foreach { r =>
      val (id, w, h, npix) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(w == id % 11 + 4 && h == id % 5 + 3, s"doc $id dims")
      assert(npix == w * h * 3, s"doc $id n_pix")
      assert(r.getString(5) == "jpeg-rgb8")
    }
    // decode determinism: the whole decoded relation, twice
    val again = queries.TextOps.decodeJpeg(spark, docs).orderBy("doc_id").collect()
    assert(got.map(_.toString).sameElements(again.map(_.toString)),
      "JPEG decode is not deterministic")
    // bounded reconstruction error on a driver round-trip: encode a
    // known pixel array, decode it back, mean abs error must be small
    // (lossy but faithful) and FAR below the ~47 of unrelated bytes
    val rnd = new scala.util.Random(7)
    val (w0, h0) = (14, 7)
    val px = Array.fill(w0 * h0 * 3)((32 + rnd.nextInt(95)).toByte) // printable range
    val payload = queries.MmCodec.encodeJpeg(5L, w0, h0, px)
    val (pw, ph, back) = queries.MmCodec.parseJpeg(payload, 5L)
    assert(pw == w0 && ph == h0, "round-trip dims")
    val meanErr = px.indices.map(i =>
      math.abs((px(i) & 0xff) - (back(i) & 0xff))).sum.toDouble / px.length
    // measured 17.8 on this JDK: random bytes are JPEG's worst case
    // (no spatial coherence + 4:2:0 chroma subsampling); two unrelated
    // printable-byte arrays differ by ~31.7 mean, so 22 certifies a
    // real decode with margin on both sides
    assert(meanErr <= 22.0,
      s"JPEG mean abs reconstruction error $meanErr > 22 — decode broken or quality wrong")
    assert(meanErr < 30.0, s"sanity: $meanErr not far below the unrelated-bytes mean")
    // corrupt SOI and truncated EOI both fail loud BEFORE the codec
    val noSoi = payload.clone(); noSoi(1) = 0x00.toByte
    val e1 = intercept[IllegalArgumentException] {
      queries.MmCodec.parseJpeg(noSoi, 5L)
    }
    assert(e1.getMessage.contains("SOI"), s"unexpected: ${e1.getMessage}")
    val e2 = intercept[IllegalArgumentException] {
      queries.MmCodec.parseJpeg(payload.dropRight(1), 5L)
    }
    assert(e2.getMessage.contains("EOI"), s"unexpected: ${e2.getMessage}")
  }

  test("filtered ANN pushes the predicate into candidate generation (no post-filter starvation)") {
    // round-16 VERDICT #3's pushdown proof, semantic form: two blobs
    // 100σ apart — every query in blob A has its ENTIRE unfiltered
    // neighborhood inside A, so any post-filter of a bounded shortlist
    // would return zero allowed rows for predicate "blob B". The
    // pre-filter path must still answer k rows per A-query, all from B:
    // that is only possible if disallowed ids left the candidate pool
    // BEFORE ranking (no full-corpus candidate scan survives).
    import spark.implicits._
    val rnd = new scala.util.Random(99)
    val a = (0L until 400L).map(i =>
      (i, (0 until 16).map(_ => rnd.nextGaussian()).toSeq, 0))
    val b = (400L until 480L).map(i =>
      (i, (0 until 16).map(_ => 100.0 + rnd.nextGaussian()).toSeq, 1))
    val df = (a ++ b).toDF("vec_id", "embedding", "label")
    // sel = 80/480 ≈ 0.17 → the facade's probe takes the PRE regime
    val res = Graft.similarTopKFiltered(spark, df, 5,
        predicate = col("label") === 1, centroids = 8, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byQ = res.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    (0L until 400L).foreach { q =>
      val got = byQ.getOrElse(q, Set.empty)
      assert(got.size == 5, s"query $q starved: ${got.size} rows (post-filter leak)")
      assert(got.forall(_ >= 400L), s"query $q returned a disallowed id: $got")
    }
    // determinism: the filtered search replays bit-identically
    val res2 = Graft.similarTopKFiltered(spark, df, 5,
        predicate = col("label") === 1, centroids = 8, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(res.sorted.toSeq == res2.sorted.toSeq, "filtered search must replay")
    // guard: an impossible predicate fails loud, not silently empty
    val boom = intercept[IllegalArgumentException] {
      Graft.similarTopKFiltered(spark, df, 5, predicate = col("label") === 7)
    }
    assert(boom.getMessage.contains("matches no rows"))
  }

  test("image phash: crafted gradients, banded join ≡ brute force, facade parity") {
    import spark.implicits._
    // crafted 9×8 image, one byte-triple per grid cell (no resampling
    // ambiguity): column brightness DESCENDS left→right, so every
    // adjacent-column gradient bit is 1 → each 16-bit band is 0xFFFF
    val desc = Array.tabulate(9 * 8 * 3)(i => ((8 - (i / 3) % 9) * 20).toByte)
    // ascending brightness → every bit 0
    val asc = Array.tabulate(9 * 8 * 3)(i => (((i / 3) % 9) * 20).toByte)
    val d = queries.TextOps.dhashOf(9, 8, desc)
    val a = queries.TextOps.dhashOf(9, 8, asc)
    assert(d.toSeq == Seq(65535L, 65535L, 65535L, 65535L), s"desc: ${d.toSeq}")
    assert(a.toSeq == Seq(0L, 0L, 0L, 0L), s"asc: ${a.toSeq}")
    // banded join finds exactly the brute-force hamming ≤ 3 pair set
    val ph = queries.TextOps.phashes(spark, Tables.documents(spark, sf001))
      .collect().map(r => (r.getLong(0), Seq(r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))))
    val brute = (for {
      (ia, ha) <- ph; (ib, hb) <- ph if ia < ib
      hd = ha.zip(hb).map { case (x, y) => java.lang.Long.bitCount(x ^ y) }.sum
      if hd <= 3
    } yield (ia, ib, hd.toLong)).toSet
    val banded = SparkEntry.queries("dedup_image_phash")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(banded == brute, s"banded ${banded.size} vs brute ${brute.size}")
    assert(brute.nonEmpty, "fixture should carry image near-dups")
    // facade over a real PNG binary column reproduces the fixture keys
    val payloads = queries.TextOps.pngFramed(
      Tables.documents(spark, sf001).select(col("doc_id"), col("text")))
    val facade = rows(Graft.imageNearDups(payloads, "doc_id", "payload")
      .orderBy("id_a", "id_b"))
    val key = rows(SparkEntry.queries("dedup_image_phash")(spark, sf001))
    assert(facade == key)
    // widening hamming past the 4-band pigeonhole radius fails loud
    val boom = intercept[IllegalArgumentException] {
      queries.TextOps.phashPairsFrom(
        queries.TextOps.phashes(spark, Tables.documents(spark, sf001)), 4)
    }
    assert(boom.getMessage.contains("pigeonhole"))
  }

  test("weightedQuartiles: mass moves the median where counts would not") {
    import spark.implicits._
    // unweighted median of {1, 2, 100} is 2; with mass 10 on the 100 the
    // half-mass point lands on 100. Equal masses reduce to the lower
    // median; a tie-run of equal values collapses through the RANGE frame.
    val df = Seq(("a", 1.0, 1L), ("a", 2.0, 1L), ("a", 100.0, 10L),
      ("b", 5.0, 3L), ("b", 7.0, 3L),
      ("c", 4.0, 2L), ("c", 4.0, 2L), ("c", 9.0, 1L)).toDF("g", "v", "m")
    val got = Graft.weightedQuartiles(df, "g", "v", "m")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got("a") == ((12L, 100L * 100, 100L * 100, 100L * 100)),
      s"mass must dominate count: $got")
    assert(got("b") == ((6L, 500L, 500L, 700L)), s"equal masses: $got")
    // c: cum(4.0)=4 of 5 → covers q1 (4·4≥5), median (2·4≥5), and q3
    // (4·4≥15): all three quartiles sit on the tie run at 4.0
    assert(got("c") == ((5L, 400L, 400L, 400L)), s"tie run: $got")
    // null value/mass rows are SKIPPED (the SQL-aggregate rule) — the
    // typed encoder would crash on a null primitive without the query-
    // layer filter (round-18 review: compute, never crash, on nullable
    // caller columns)
    val withNulls = Seq(("a", Some(5.0), Some(3L)), ("a", None, Some(9L)),
      ("a", Some(7.0), None)).toDF("g", "v", "m")
    val nn = Graft.weightedQuartiles(withNulls, "g", "v", "m")
      .collect().map(r => (r.getLong(1), r.getLong(3))).head
    assert(nn == ((3L, 500L)), s"null rows must be skipped, not crash: $nn")
    // fixture parity: facade ≡ the oracled key on renamed columns
    val facade = rows(Graft.weightedQuartiles(
      Tables.lineitem(spark, sf001).select(col("l_returnflag").as("flag"),
        col("l_extendedprice").as("price"), col("l_quantity").as("qty")),
      "flag", "price", "qty").orderBy("group"))
    val key = rows(SparkEntry.queries("agg_weighted_median")(spark, sf001))
    assert(facade == key)
    // the arbitrary-fraction facade at (0.25, 0.5, 0.75) reproduces the
    // quartile columns, and p=0.9 is a new, monotonically later value
    val gen = Graft.weightedQuantiles(
        Tables.lineitem(spark, sf001).select(col("l_returnflag").as("flag"),
          col("l_extendedprice").as("price"), col("l_quantity").as("qty")),
        "flag", "price", "qty", Seq(0.25, 0.5, 0.75, 0.9))
      .orderBy("group").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(gen.toSeq.map(t => Seq[Any](t._1, t._2, t._3, t._4, t._5)) == key.toSeq,
      "generalized facade diverged from the quartile key at the quartile fracs")
    gen.foreach { t =>
      assert(t._6 >= t._5, s"p90 must not precede p75: $t")
    }
  }

  test("incremental dedup ≡ batch pairs restricted to increment-touching endpoints") {
    import spark.implicits._
    val batch = SparkEntry.queries("dedup_jaccard")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => a % 5 == 0 || b % 5 == 0 }.toSet
    val inc = SparkEntry.queries("dedup_incremental")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(inc == batch, s"incremental ${inc.size} vs batch-filtered ${batch.size}")
    assert(batch.nonEmpty, "fixture should carry increment-touching pairs")
    // facade on renamed columns, explicit increment relation
    val incIds = Tables.documents(spark, sf001)
      .filter(col("doc_id") % 5 === 0).select(col("doc_id").as("new_id"))
    val facade = Graft.nearDupPairsIncremental(spark, myDocs, incIds,
        "document_id", "body", "new_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(facade == batch)
  }

  test("dbscan: blob cores, chain center core with borders, sparse noise") {
    import spark.implicits._
    // blob 1-3: identical vectors → each has 2 neighbors → all CORE,
    // one cluster labeled 1. Chain 10-11-12 at 18° steps (cos 18° ≈
    // .951 ≥ .9, cos 36° ≈ .809 < .9): only the center 11 has 2
    // neighbors → core alone in its cluster; 10 and 12 are BORDER
    // attached to 11. 20 is orthogonal to everything → NOISE.
    val c18 = (0.9510565f, 0.3090170f)
    val c36 = (0.8090170f, 0.5877853f)
    val vecs = Seq(
      (1L, Seq(0f, 0f, 1f)), (2L, Seq(0f, 0f, 1f)), (3L, Seq(0f, 0f, 1f)),
      (10L, Seq(1f, 0f, 0f)), (11L, Seq(c18._1, c18._2, 0f)),
      (12L, Seq(c36._1, c36._2, 0f)),
      (20L, Seq(0f, -1f, 0f))
    ).toDF("item", "vec")
    val got = Graft.dbscan(spark, vecs, "item", "vec",
        threshold = 0.9, minPts = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2))))
      .toMap
    assert(Seq(1L, 2L, 3L).forall(i => got(i) == ((1L, "core"))), s"$got")
    assert(got(11L) == ((11L, "core")), s"chain center: $got")
    assert(got(10L) == ((11L, "border")) && got(12L) == ((11L, "border")),
      s"chain ends: $got")
    assert(got(20L) == ((-1L, "noise")), s"sparse point: $got")
    // fixture parity: facade ≡ the oracled key
    val facade = rows(Graft.dbscan(spark,
      Tables.embeddings(spark, sf001).select(col("vec_id").as("item"),
        col("embedding").as("vec")), "item", "vec").orderBy("id"))
    val key = rows(SparkEntry.queries("cluster_dbscan")(spark, sf001))
    assert(facade == key)
  }

  test("semanticDedup: exact + near dupes cluster to one representative; opposites stay") {
    import spark.implicits._
    // ids 0-2: the same vector; id 3: a 0.99+-cosine neighbor; id 10:
    // orthogonal; id 11: the exact OPPOSITE (cos −1 — a similarity-vs-
    // distance sign bug would merge it)
    val base = Seq(1f, 0f, 0f, 0f)
    val near = Seq(0.995f, 0.0999f, 0f, 0f)
    val vecs = Seq(
      (0L, base), (1L, base), (2L, base), (3L, near),
      (10L, Seq(0f, 1f, 0f, 0f)), (11L, Seq(-1f, 0f, 0f, 0f))
    ).toDF("item", "vec")
    val got = Graft.semanticDedup(spark, vecs, "item", "vec", threshold = 0.95)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2))))
      .toMap
    assert(Seq(0L, 1L, 2L, 3L).forall(i => got(i)._1 == 0L),
      s"near-dup cluster broke: $got")
    assert(got(0L)._2 && !got(1L)._2 && !got(2L)._2 && !got(3L)._2,
      s"exactly the smallest id keeps: $got")
    assert(got(10L) == ((10L, true)) && got(11L) == ((11L, true)),
      s"orthogonal/opposite vectors must stay: $got")
    // fixture parity: the facade path reproduces the oracled key
    val facade = rows(Graft.semanticDedup(spark,
      Tables.embeddings(spark, sf001).select(col("vec_id").as("item"),
        col("embedding").as("vec")), "item", "vec").orderBy("id"))
    val key = rows(SparkEntry.queries("dedup_semantic")(spark, sf001))
    assert(facade == key)
  }

  test("driftPsi: identical groups score ~0, a shifted group crosses the 0.25 gate") {
    import spark.implicits._
    // g1 and g2 carry the SAME values 1..400 (they are most of the
    // population, so the global quartiles are theirs); g3 sits entirely
    // above the global q3 → all its mass lands in bucket 4 and PSI
    // must clear the conventional 0.25 "significant shift" gate.
    val rowsIn =
      (1 to 400).flatMap(i => Seq(("g1", i.toDouble), ("g2", i.toDouble))) ++
        (1 to 50).map(i => ("g3", 10000.0 + i))
    val got = Graft.driftPsi(rowsIn.toDF("src", "amount"), "src", "amount")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got("g1")._1 == 400L && got("g3")._1 == 50L, s"group sizes: $got")
    // identical-to-each-other groups score identically and near zero
    // (not exactly zero: both deviate slightly from the g3-tinted
    // global mix, and Laplace smoothing adds mass)
    assert(got("g1")._2 == got("g2")._2, s"equal groups must tie: $got")
    assert(got("g1")._2 < 0.05, s"undrifted group scored ${got("g1")._2}")
    assert(got("g3")._2 > 0.25, s"shifted group scored only ${got("g3")._2}")
    // facade parity with the oracled key on renamed fixture columns
    val facade = rows(Graft.driftPsi(
      Tables.events(spark, sf001).select(col("event_type").as("src"),
        col("value").as("amount")), "src", "amount").orderBy("group"))
    val key = rows(SparkEntry.queries("profile_drift_psi")(spark, sf001))
    assert(facade == key)
  }

  test("resampleForwardFill: grid covers the span, gaps carry the last value, last-in-bucket by time") {
    import spark.implicits._
    // key 1: events in hours 0 and 3 of 2024-01-01 — hours 1-2 must
    // materialize with n = 0 and the hour-0 value carried forward; hour
    // 3 holds two events and the LATER one (03:40, 2.00) must win the
    // fill even though the earlier one (03:20, 2.50) has the larger
    // value. key 2: a single event — a one-row grid, no fill needed.
    val df = Seq(
      (1L, "2024-01-01 00:10:00", 1.00),
      (1L, "2024-01-01 03:20:00", 2.50),
      (1L, "2024-01-01 03:40:00", 2.00),
      (2L, "2024-01-02 05:00:00", 9.99)).toDF("k", "ts", "v")
    val got = Graft.resampleForwardFill(df, "k", "ts", "v")
      .orderBy("group", "bucket")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    val h0 = 1704067200L / 3600 // 2024-01-01T00Z in epoch hours (UTC session)
    assert(got == Seq(
      (1L, h0, 1L, 100L),
      (1L, h0 + 1, 0L, 100L),
      (1L, h0 + 2, 0L, 100L),
      (1L, h0 + 3, 2L, 200L),
      (2L, h0 + 29, 1L, 999L)), s"resample grid diverged: $got")
    // facade parity with the oracled key's shape on the fixture (the
    // key itself tie-breaks by event_id; on distinct-microsecond data
    // the value tie-break is unreachable, so rows agree)
    val facade = Graft.resampleForwardFill(
        Tables.events(spark, sf001).select(col("user_id").as("k"),
          col("ts"), col("value")), "k", "ts", "value")
      .orderBy("group", "bucket")
      .collect().map(_.toSeq).toSeq
    val key = SparkEntry.queries("ts_resample")(spark, sf001)
      .collect().map(_.toSeq).toSeq
    assert(facade == key, "facade diverged from the oracled key")
  }

  test("golden records: mode-name survivorship, vote ties, singletons, facade = key") {
    import spark.implicits._
    // cluster A (ids 1-5, all within edit 3 of each other under block
    // "acme"): name votes acme corp ×2, acme co ×2, acme inc ×1 — the
    // 2-2 tie must break to the lexicographically smaller "acme co";
    // min id 1, max value 40.00; id 9 is a singleton cluster
    val recs = Seq(
      (1L, "acme corp", 10.0), (2L, "acme corp", 20.0),
      (3L, "acme co", 40.0), (4L, "acme co", 5.0), (5L, "acme inc", 7.5),
      (9L, "zenith gmbh", 99.99)
    ).toDF("rid", "rname", "price")
    val got = Graft.goldenRecords(recs, "rid", "rname", "price")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4), r.getLong(5))))
      .toMap
    assert(got(1L) == ((1L, 5L, "acme co", 2L, 4000L)), s"cluster A: ${got(1L)}")
    assert(got(9L) == ((9L, 1L, "zenith gmbh", 1L, 9999L)), s"singleton: ${got(9L)}")
    assert(got.size == 2, s"clusters: ${got.keySet}")
    // facade over renamed fixture columns ≡ the oracled key
    val facade = Graft.goldenRecords(
        Tables.part(spark, sf001).select(col("p_partkey").as("rid"),
          col("p_name").as("rname"), col("p_retailprice").as("price")),
        "rid", "rname", "price")
      .orderBy("component").collect().map(_.toSeq).toSeq
    val key = SparkEntry.queries("er_golden_record")(spark, sf001)
      .collect().map(_.toSeq).toSeq
    assert(facade == key, "facade diverged from the oracled key")
  }

  test("ANN append: corpus never rescanned, recall matches refit, drift + dup guards") {
    // round-17 VERDICT #3: the daily vector batch should extend the
    // cached index — encode ONLY the batch against the cached
    // centroids/codebooks — never refit the world. The corpus-side
    // zero-jobs pin is physical: the corpus parquet is DELETED after
    // the index materializes, so any append/search path that rescans
    // it fails with a missing-file error, deterministically.
    import spark.implicits._
    import graft.functions.Pq
    val all = Tables.embeddings(spark, sf001)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val dir = tempDir("graft-append") + "/emb"
    Tables.embeddings(spark, sf001).filter(col("vec_id") < 400)
      .write.parquet(dir)
    val idx = Pq.ivfPqIndexCached(spark.read.parquet(dir), "embedding",
      centroids = 16)
    assert(idx.homes.count() == 400 && idx.codes.count() == 400 * 8)
    // the point of no return: from here the corpus exists ONLY in the
    // index's persisted homes/codes
    deleteTree(dir)
    val batch = (400L to 499L).map(i => (i, all(i).toSeq)).toDF("vec_id", "embedding")
    val res = Pq.appendToIndex(idx, batch, "embedding")
    assert(!res.refitNeeded && res.index.nonEmpty,
      s"in-distribution batch refused: drift=${res.drift}")
    info(f"append drift = ${res.drift}%.4f")
    val ix2 = res.index.get
    assert(ix2.homes.count() == 500 && ix2.codes.count() == 500 * 8)
    // recall over corpus+batch vs exact, against the full-refit index
    val topk = 10
    val qIds = (0L until 500L by 17L).toSeq
    val queries = qIds.map(i => (i, all(i).toSeq)).toDF("vec_id", "embedding")
    def d2(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    def recallOf(got: Array[(Long, Long)]): Double = {
      val byQ = got.groupBy(_._1)
      val rs = qIds.map { q =>
        val exact = all.keys.filter(_ != q).toSeq
          .sortBy(x => (d2(all(q), all(x)), x)).take(topk).toSet
        exact.intersect(byQ.getOrElse(q, Array.empty).map(_._2).toSet)
          .size.toDouble / topk
      }
      rs.sum / rs.length
    }
    val gotAppend = Pq.ivfAdcTopk(queries, "embedding", ix2, topk,
        nprobe = 8, "vec_id", None, None)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val full = all.toSeq.map { case (i, v) => (i, v.toSeq) }
      .toDF("vec_id", "embedding")
    val gotRefit = Pq.ivfAdcTopk(full, "embedding",
        Pq.ivfPqIndexCached(full, "embedding", centroids = 16), topk,
        nprobe = 8, "vec_id", Some(qIds.toDF("id")), None)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val (rA, rF) = (recallOf(gotAppend), recallOf(gotRefit))
    info(f"recall@$topk append=$rA%.3f refit=$rF%.3f")
    assert(rA >= 0.45, s"appended-index recall $rA under the IVFADC floor")
    assert(rA >= rF - 0.1, s"append recall $rA fell more than 0.1 under refit $rF")
    assert(gotAppend.exists(_._2 >= 400L), "no appended id ever surfaced")
    // composes with the filtered search (simsearch_filtered's hook):
    // restrict candidates to the appended batch only
    val filtered = Pq.ivfAdcTopk(queries, "embedding", ix2, topk,
        nprobe = 8, "vec_id", None,
        Some((400L to 499L).toDF("id")))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(filtered.nonEmpty && filtered.forall(_._2 >= 400L),
      "allowedIds leaked a non-batch candidate through the appended index")
    // an EMPTY batch is a no-op append, never drift (round-18 review:
    // a quiet day must not demand the full-corpus refit)
    val emptyRes = Pq.appendToIndex(ix2,
      Seq.empty[(Long, Seq[Double])].toDF("vec_id", "embedding"), "embedding")
    assert(!emptyRes.refitNeeded && emptyRes.drift == 0.0 &&
      emptyRes.index.exists(_ eq ix2),
      s"empty batch must return the index unchanged: $emptyRes")
    // staleness guard: a shifted batch (×50 scale) must refuse
    val shifted = (600L to 699L)
      .map(i => (i, all(i - 600).map(_ * 50.0).toSeq)).toDF("vec_id", "embedding")
    val res2 = Pq.appendToIndex(ix2, shifted, "embedding")
    assert(res2.refitNeeded && res2.index.isEmpty,
      s"shifted batch accepted at drift=${res2.drift}")
    assert(res2.drift > 0.5, s"shifted drift only ${res2.drift}")
    // duplicate-id guard — against the index AND within the batch
    // itself (round-18 ADVICE #2: an id repeated in newVecs would land
    // twice in homes/codes and double its search candidacy)
    val boom = intercept[IllegalArgumentException] {
      Pq.appendToIndex(ix2, Seq((7L, all(7L).toSeq)).toDF("vec_id", "embedding"),
        "embedding")
    }
    assert(boom.getMessage.contains("already indexed"))
    val boomB = intercept[IllegalArgumentException] {
      Pq.appendToIndex(ix2,
        Seq((900L, all(7L).toSeq), (900L, all(8L).toSeq))
          .toDF("vec_id", "embedding"), "embedding")
    }
    assert(boomB.getMessage.contains("repeated within the batch"))
  }

  test("ANN index persistence: read-back serves searches with zero fit jobs; appends compose; vacuum bounds the store") {
    // round-18 VERDICT #4: the faiss write_index/read_index equivalent.
    // The no-refit/no-rescan pin is physical: the corpus parquet is
    // DELETED before readIndex, so any load path that refits (or
    // re-encodes the corpus) dies on a missing file.
    import spark.implicits._
    import graft.functions.Pq
    val all = Tables.embeddings(spark, sf001)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val corpusDir = tempDir("graft-persist") + "/emb"
    val idxDir = tempDir("graft-persist-idx")
    Tables.embeddings(spark, sf001).filter(col("vec_id") < 400)
      .write.parquet(corpusDir)
    val built = Pq.ivfPqIndexCached(spark.read.parquet(corpusDir), "embedding",
      centroids = 16)
    val queries = (0L until 400L by 13L).map(i => (i, all(i).toSeq))
      .toDF("vec_id", "embedding")
    def search(ix: Pq.IvfPqIndex): Seq[(Long, Long)] =
      Pq.ivfAdcTopk(queries, "embedding", ix, 5, nprobe = 8, "vec_id",
          None, None)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val wantBuilt = search(built)
    Pq.writeIndex(built, idxDir)
    // the point of no return: the corpus exists only in the store
    deleteTree(corpusDir)
    Pq.invalidateIndexCache(spark)
    assert(held(spark, "pq.index").isEmpty, "invalidateIndexCache left a session index")
    val loaded = Pq.readIndex(spark, idxDir)
    assert(search(loaded) == wantBuilt,
      "read-back index diverged from the in-session one")
    // and through a genuinely FRESH session (isolated state, conf, and
    // function registries — the cross-session claim, not just a cache
    // flush; the query workload rebuilds inside that session too)
    locally {
      val s2 = spark.newSession()
      val q2 = s2.createDataFrame(
        java.util.Arrays.asList(queries.collect(): _*), queries.schema)
      val got2 = Pq.ivfAdcTopk(q2, "embedding", Pq.readIndex(s2, idxDir),
          5, nprobe = 8, "vec_id", None, None)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      assert(got2 == wantBuilt, "fresh-session read-back diverged")
    }
    // load → append → persist the increment (the composition the API
    // exists for); a re-read serves generation + increment
    val batch = (400L to 449L).map(i => (i, all(i).toSeq))
      .toDF("vec_id", "embedding")
    val app = Pq.appendToIndex(loaded, batch, "embedding")
    assert(!app.refitNeeded && app.incHomes.nonEmpty && app.incCodes.nonEmpty)
    assert(Pq.writeIndexIncrement(app.incHomes.get, app.incCodes.get, idxDir, 0L))
    assert(!Pq.writeIndexIncrement(app.incHomes.get, app.incCodes.get, idxDir, 0L),
      "re-delivered increment id was not skipped")
    val loaded2 = Pq.readIndex(spark, idxDir)
    assert(loaded2.homes.count() == 450 && loaded2.codes.count() == 450 * 8)
    // captured BEFORE vacuum: the in-memory appended index lazily reads
    // generation 1, which the vacuum below legitimately retires
    val wantApp = search(app.index.get)
    assert(search(loaded2) == wantApp,
      "persisted-increment search diverged from the in-memory append")
    // writeIndex snapshots the appended state as generation 2; vacuum
    // then retires the covered increment and the superseded generation
    Pq.writeIndex(loaded2, idxDir)
    assert(Pq.vacuumIndex(spark, idxDir) == Seq(0L))
    val fs = new org.apache.hadoop.fs.Path(idxDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$idxDir/inc=0")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$idxDir/gen=1")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$idxDir/_commits/0")),
      "increment marker (the append high-water mark) was deleted")
    val loaded3 = Pq.readIndex(spark, idxDir)
    assert(loaded3.homes.count() == 450)
    assert(search(loaded3) == wantApp,
      "compacted generation diverged")
  }

  test("rotated + auto index persistence: every auto verdict round-trips with zero fit jobs; readIndex returns the store's own coding") {
    // round-19 VERDICT #2: writeIndex covered only the residual coding,
    // so the OPQ/rotated index fitIvfPqAuto picks on clustered corpora
    // refit from scratch every fresh session. Same physical pin as the
    // residual test above: the corpus parquet is DELETED before the
    // read-back, so any load path that refits or re-encodes dies on a
    // missing file. One reader serves every coding, so the read-back
    // must carry the store's own coding (a rotated store read as
    // residual would decode rotated codes as unrotated residuals) and
    // search bit-identically to the in-memory index.
    import spark.implicits._
    import graft.functions.Pq
    def search(q: org.apache.spark.sql.DataFrame, ix: Pq.IvfPqIndex) =
      Pq.ivfAdcTopk(q, "embedding", ix, 5, 8, "vec_id", Some(q.select("vec_id")))
        .collect().map(r => (r.getLong(0), r.getLong(1),
          java.lang.Double.doubleToRawLongBits(r.getDouble(2)), r.getInt(3)))
        .toSeq.sorted
    // the clustered fixture of PqSpec's auto-selection test (64 tight
    // 10σ-separated clusters): the chooser must go rotated
    val rnd = new scala.util.Random(777)
    val centers = Array.fill(64, 64)(rnd.nextGaussian() * 10.0)
    val clDir = tempDir("graft-rot-persist") + "/emb"
    (0 until 1000).map { i =>
      val c = centers(i % 64)
      (i.toLong, (0 until 64).map(j => c(j) + rnd.nextGaussian()).toSeq)
    }.toDF("vec_id", "embedding").write.parquet(clDir)
    val corpus = spark.read.parquet(clDir)
    val queries = corpus.filter(col("vec_id") % 97 === 0)
      .collect()
    val qdf = queries.map(r => (r.getLong(0), r.getSeq[Double](1)))
      .toSeq.toDF("vec_id", "embedding").localCheckpoint(true)
    val auto = Pq.fitIvfPqAuto(corpus, "embedding", k = 32, centroids = 64)
    val rot = auto.model.coding match {
      case r: Pq.Coding.Rotated => r
      case c => fail(s"clustered corpus must pick the rotated coding, got $c")
    }
    val stored = Pq.indexOf(corpus, "embedding", auto.model)
    val want = search(qdf, stored)
    assert(want.nonEmpty)
    val dir = tempDir("graft-rot-persist-idx")
    Pq.writeIndex(stored, dir)
    // the point of no return: the corpus exists only in the store
    deleteTree(clDir)
    Pq.invalidateIndexCache(spark)
    assert(held(spark, "pq.index").isEmpty, "invalidateIndexCache left a session index")
    val loaded = Pq.readIndex(spark, dir)
    loaded.model.coding match {
      case r: Pq.Coding.Rotated =>
        assert(r.basisPerm.sameElements(rot.basisPerm) &&
          r.pca.mean.sameElements(rot.pca.mean) &&
          r.pca.eigenvalues.sameElements(rot.pca.eigenvalues) &&
          r.pca.loadings.zip(rot.pca.loadings).forall(p => p._1.sameElements(p._2)),
          "read-back rotation differs from the written one")
      case c => fail(s"an opq store read back as $c")
    }
    assert(search(qdf, loaded) == want,
      "read-back rotated index diverged from the in-session one")
    // append + persisted increment on the rotated coding: batch-only
    // encode, the same increment/marker protocol, reads compose
    val rnd2 = new scala.util.Random(778)
    val batch = (2000L until 2080L).map { i =>
      val c = centers((i % 64).toInt)
      (i, (0 until 64).map(j => c(j) + rnd2.nextGaussian()).toSeq)
    }.toDF("vec_id", "embedding")
    val app = Pq.appendToIndex(loaded, batch, "embedding")
    assert(!app.refitNeeded && app.incHomes.nonEmpty,
      s"in-distribution rotated append refused (drift=${app.drift})")
    assert(Pq.writeIndexIncrement(app.incHomes.get, app.incCodes.get, dir, 0L))
    val reloaded = Pq.readIndex(spark, dir)
    assert(reloaded.homes.count() == 1080)
    assert(search(qdf, reloaded) == search(qdf, app.index.get),
      "persisted rotated increment diverged from the in-memory append")
    // the RAW coding (the chooser's isotropic pick) round-trips too —
    // every auto verdict has a persisted tier
    val isoDir = tempDir("graft-raw-persist") + "/emb"
    Tables.embeddings(spark, sf001).write.parquet(isoDir)
    val iso = spark.read.parquet(isoDir)
    val autoIso = Pq.fitIvfPqAuto(iso, "embedding", centroids = 16)
    assert(autoIso.model.coding == Pq.Coding.Raw,
      s"isotropic corpus must pick raw, got ${autoIso.model.coding}")
    val storedIso = Pq.indexOf(iso, "embedding", autoIso.model)
    val qIso = Tables.embeddings(spark, sf001)
      .filter(col("vec_id") % 53 === 0)
      .select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("embedding"))
      .localCheckpoint(true)
    val wantIso = search(qIso, storedIso)
    assert(wantIso.nonEmpty)
    val isoIdxDir = tempDir("graft-raw-persist-idx")
    Pq.writeIndex(storedIso, isoIdxDir)
    deleteTree(isoDir)
    val loadedIso = Pq.readIndex(spark, isoIdxDir)
    assert(loadedIso.model.coding == Pq.Coding.Raw,
      s"a rawpq store read back as ${loadedIso.model.coding}")
    assert(search(qIso, loadedIso) == wantIso,
      "read-back raw index diverged from the in-session one")
  }

  test("similarity-index facade: build+persist then serve from the store ≡ the live auto search, renamed columns") {
    // the train→write_index→read_index→search lifecycle on caller
    // DataFrames: the persisted answer must be row-equal to the live
    // similarTopKAuto composition (same deterministic centroid/codebook
    // recipes on both paths), through renamed columns
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val renamed = Tables.embeddings(spark, sf001)
      .select(col("vec_id").as("item"), col("embedding").as("vec"))
    val dir = tempDir("graft-facade-simidx")
    Graft.buildSimilarityIndex(spark, renamed, dir,
      idCol = "item", vecCol = "vec", centroids = 16)
    val qids = (0L until 500L by 31L).toDF("item")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
      df.collect().map(r => (r.getLong(0),
        r.getAs[Long]("k_id"), r.getAs[Long]("rnk"))).toSeq.sorted
    val got = rows(Graft.searchSimilarityIndex(spark, renamed, dir, k = 5,
      idCol = "item", vecCol = "vec", queryIds = Some(qids)))
    val want = rows(Graft.similarTopKAuto(spark, renamed, 5,
      idCol = "item", vecCol = "vec", centroids = 16,
      queryIds = Some(qids)))
    assert(got.nonEmpty && got == want,
      s"persisted-facade search diverged from the live auto search " +
        s"(${got.size} vs ${want.size} rows)")
  }
}
