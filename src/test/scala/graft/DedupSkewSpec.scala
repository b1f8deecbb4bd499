package graft

import graft.queries.Dedup
import org.apache.spark.sql.functions._

/** Round-9 VERDICT #4: the exact-Jaccard bucket-pair kernel is df² per
  * shingle — a stopword trigram with document frequency in the millions
  * would put one task on a df²-pair explode at 100 TB. The skew-safe
  * kernel caps bucket df and must still produce EXACTLY the plain
  * kernel's rows: candidate completeness comes from the hot-dominated
  * sweep (any pair sharing only above-cap shingles has both endpoints
  * with ≥ τ/(1+τ) of their shingles hot), value exactness from the
  * hot-intersection correction join. These tests force the decomposition
  * with tiny caps and compare byte-for-byte. */
class DedupSkewSpec extends SparkSuite {

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select("doc_a", "doc_b", "inter", "na", "nb", "jaccard")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
      .toSet

  test("capped kernel ≡ plain kernel on the fixture corpus with a forcing cap") {
    val sh = Dedup.hashedShinglePlan(spark, Tables.documents(spark, sf001))
    val plain = rows(Dedup.jaccardPairsHashedFrom(sh, 0.2))
    // dfCap = 2 makes every shingle shared by ≥3 docs hot — the
    // decomposition (cold + correction + sweep) must reproduce the plain
    // kernel exactly on a real corpus
    val hot = Dedup.hotShingleProbe(sh, dfCap = 2, maxHot = 1 << 20)
    assert(hot.nonEmpty, "forcing cap found no hot shingles — test is vacuous")
    val capped = rows(Dedup.jaccardPairsHashedFrom(sh, 0.2, hot, maxHd = 1 << 20))
    assert(capped == plain,
      s"capped kernel diverged: missing=${(plain diff capped).take(5)} " +
        s"extra=${(capped diff plain).take(5)}")
    assert(plain.nonEmpty)
  }

  test("capped incremental kernel ≡ plain incremental with a forcing cap") {
    // round-17 ADVICE #2: a hot shingle exploded the inc×corpus bucket
    // join with no guard. The ported decomposition (cold + hot
    // correction + hot-dominated sweep, increment-restricted) must
    // reproduce the uncapped incremental kernel exactly on a real
    // corpus under a cap that makes most shingles hot.
    val sh = Dedup.hashedShinglePlan(spark, Tables.documents(spark, sf001))
    val inc = sh.select("doc_id").distinct().filter(col("doc_id") % 5 === 0)
    def pairRows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_a", "doc_b", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val plain = pairRows(Dedup.jaccardPairsHashedFrom(sh, 0.2, inc = Some(inc)))
    val hot = Dedup.hotShingleProbe(sh, dfCap = 2, maxHot = 1 << 20)
    assert(hot.nonEmpty, "forcing cap found no hot shingles — test is vacuous")
    val capped = pairRows(
      Dedup.jaccardPairsHashedFrom(sh, 0.2, hot, Some(inc), maxHd = 1 << 20))
    assert(capped == plain,
      s"capped incremental diverged: missing=${(plain diff capped).take(5)} " +
        s"extra=${(capped diff plain).take(5)}")
    assert(plain.nonEmpty, "fixture increment produced no pairs — vacuous")
  }

  test("increment mode ≡ batch mode restricted to increment-touching pairs, uncapped and at a forcing cap") {
    // the one hashed kernel's two pair stages must agree: every pair
    // touching the increment, with the same inter/na/nb/jaccard, and
    // nothing else — without a cap and with dfCap = 2, where the
    // decomposition runs its cold / hot-correction / sweep stages in
    // increment mode
    val sh = Dedup.hashedShinglePlan(spark, Tables.documents(spark, sf001))
    val inc = sh.select("doc_id").distinct().filter(col("doc_id") % 5 === 0)
    val incIds = inc.collect().map(_.getLong(0)).toSet
    val want = rows(Dedup.jaccardPairsHashedFrom(sh, 0.2))
      .filter(p => incIds(p._1) || incIds(p._2))
    assert(want.nonEmpty, "fixture increment touches no pair — vacuous")
    def check(got: Set[(Long, Long, Long, Long, Long, Double)], mode: String): Unit =
      assert(got == want, s"$mode increment mode diverged from batch mode: " +
        s"missing=${(want diff got).take(5)} extra=${(got diff want).take(5)}")
    check(rows(Dedup.jaccardPairsHashedFrom(sh, 0.2, inc = Some(inc))), "uncapped")
    val hot = Dedup.hotShingleProbe(sh, dfCap = 2, maxHot = 1 << 20)
    assert(hot.nonEmpty, "forcing cap found no hot shingles — test is vacuous")
    check(rows(Dedup.jaccardPairsHashedFrom(sh, 0.2, hot, Some(inc),
      maxHd = 1 << 20)), "capped")
  }

  test("minhash mega-bucket engages chain edges: linear output, components unchanged") {
    // round-12 review: a duplicate mega-group shares every band bucket,
    // and uncapped within-bucket pair generation is quadratic in the
    // group size (~5e9 rows for a 100k-copy document). Above
    // BandBucketCap the kernel emits CHAIN edges (consecutive pairs
    // over the sorted members — round-12 ADVICE moved this off the
    // hub-star so one bad member can no longer sever the whole bucket
    // post-rerank) — linear, and component-equivalent for dedup. 20
    // identical docs with a forcing cap of 8: chain = 19 pairs
    // (i, i+1) vs 190 all-pairs uncapped; clustering groups all 20
    // either way.
    import spark.implicits._
    val text = (1 to 40).map(i => s"tok$i").mkString(" ")
    val docs = (0 until 20).map(i => (i.toLong, text))
      .toDF("doc_id", "text")
    val sig = graft.queries.Dedup.minhashSignatures(spark, docs)
    val capped = graft.queries.Dedup.minhashPairsFrom(sig, bucketCap = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(capped.length == 19, s"expected 19 chain edges, got ${capped.length}")
    assert(capped.toSet == (0L until 19L).map(i => (i, i + 1)).toSet,
      s"chain edges must be consecutive sorted pairs: ${capped.sorted.take(5).toSeq}")
    val uncapped = graft.queries.Dedup.minhashPairsFrom(sig)
      .count()
    assert(uncapped == 190L, s"uncapped all-pairs should be 190, got $uncapped")
    val comps = graft.queries.Dedup.connectedComponents(
        docs.select(col("doc_id").as("id")),
        graft.queries.Dedup.minhashPairsFrom(sig, bucketCap = 8)
          .select(col("doc_a").as("id_a"), col("doc_b").as("id_b")))
      .collect().map(r => r.getLong(1)).distinct
    assert(comps.toSeq == Seq(0L),
      s"chain edges must keep the mega-group one component: ${comps.toSeq}")
  }

  test("stopword-heavy corpus: hot buckets bypassed, hot-dominated pairs still found") {
    import spark.implicits._
    // 30 "content" docs carrying a shared stopword tail (df = 30 > cap),
    // among them three near-dup pairs; 4 stopword-ONLY docs (every
    // shingle hot — pairs among them are invisible to the cold stage and
    // exist only via the hot-dominated sweep).
    val stop = "of the and in on at of the and in"
    val docs = (
      (0 until 30).map { i =>
        val body =
          if (i < 2) s"quick brown fox jumps over lazy dog near river bank today $i"
          else if (i < 4) s"quick brown fox jumps over lazy dog near river bank tonight $i"
          else s"unique$i content$i words$i body$i text$i go$i here$i now$i"
        (i.toLong, s"$body $stop")
      } ++ (100 until 104).map(i => (i.toLong, stop))
    ).toDF("doc_id", "text")
    val sh = Dedup.hashedShinglePlan(spark, docs)
    val plain = rows(Dedup.jaccardPairsHashedFrom(sh, 0.2))
    val hot = Dedup.hotShingleProbe(sh, dfCap = 8, maxHot = 1 << 20)
    assert(hot.nonEmpty, "stopword shingles were not hot at cap 8")
    val capped = rows(Dedup.jaccardPairsHashedFrom(sh, 0.2, hot))
    assert(capped == plain,
      s"capped kernel diverged on the skew corpus: " +
        s"missing=${(plain diff capped).take(5)} extra=${(capped diff plain).take(5)}")
    // the stopword-only docs are identical → all 6 pairs must be present
    // (these are exactly the pairs only the hot-dominated sweep can see)
    val hdPairs = capped.filter(p => p._1 >= 100L)
    assert(hdPairs.size == 6,
      s"expected 6 stopword-only pairs from the hot-dominated sweep, got ${hdPairs.size}")
  }

  test("clean corpus: probe finds nothing and the plan is the plain kernel") {
    val sh = Dedup.hashedShinglePlan(spark, Tables.documents(spark, sf001))
    // at the production cap no fixture shingle is hot — the skew-safe
    // entry must degrade to zero overhead beyond the probe
    assert(Dedup.hotShingleProbe(sh, Dedup.HotShingleDfCap).isEmpty)
  }

  test("decontaminate pins no storage and earlier results stay readable") {
    // round-9 ADVICE flagged the probe+join double execution of the
    // eval gram plan; the round-10 review found the checkpoint fix made
    // EARLIER calls' lazy results unreadable (their storage was
    // released out from under them). The local-relation form has
    // neither failure mode: the bounded probe collect is the ONE
    // execution of the eval plan, the join side is immutable driver
    // data, and no cache/checkpoint storage exists to pin or release —
    // repeated calls leave the persistent-RDD set untouched and every
    // earlier result stays valid.
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf001)
    val train = docs.filter(col("doc_id") % 20 =!= 0)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val r1 = Dedup.decontaminate(spark, train,
      docs.filter(col("doc_id") % 20 === 0))
    assert(r1.count() > 0)
    val r2 = Dedup.decontaminate(spark, train,
      docs.filter(col("doc_id") % 20 === 1))
    assert(r2.count() > 0)
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before).isEmpty,
      "decontaminate pinned storage it has no release path for")
    // earlier result still readable after the later call
    assert(r1.count() > 0, "previous call's result became unreadable")
    // the broadcast side is a LOCAL relation — the eval plan is not in
    // the result's lineage at all (single-execution by construction)
    assert(r1.queryExecution.analyzed.collectLeaves()
        .exists(_.getClass.getSimpleName.startsWith("LocalRelation")),
      "broadcast side is not a local relation")
  }
}
