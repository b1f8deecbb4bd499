package graft

import org.apache.spark.sql.functions._

/** graft.functions.Pq — product quantization (SURVEY §2.M emb_pq,
  * D3-exempt): code validity + bit-determinism of the encode, a strict
  * reconstruction-gain bound (PQ must beat the mean-only quantizer),
  * ADC value correctness against driver arithmetic, and exhaustive-ADC
  * top-k recall against exact distances on the fixture table. */
class PqSpec extends SparkSuite {

  private lazy val emb = Tables.embeddings(spark, sf001)
    .select(col("vec_id"), col("embedding"))

  test("encode emits m in-range codes per vector, bit-stable across partitionings") {
    val model = graft.functions.Pq.fit(emb, "embedding")
    assert(model.m == 8 && model.sub == 8, s"unexpected shape m=${model.m} sub=${model.sub}")
    model.codebooks.foreach(cb => assert(cb.length == 256, s"codebook size ${cb.length}"))
    def run(parts: Int): Map[Long, String] =
      graft.functions.Pq.encode(emb.repartition(parts), "embedding", model)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val a = run(32)
    assert(a.size == 500, s"encoded rows ${a.size}")
    a.values.foreach { s =>
      val codes = s.split(",").map(_.toInt)
      assert(codes.length == 8 && codes.forall(c => c >= 0 && c < 256),
        s"bad code row: $s")
    }
    assert(run(3) == a, "encode differs across partitionings")
    // refit is deterministic too
    val model2 = graft.functions.Pq.fit(emb, "embedding")
    (0 until model.m).foreach { b =>
      model.codebooks(b).zip(model2.codebooks(b)).foreach { case (x, y) =>
        assert(x.sameElements(y), s"refit codebook drift in block $b")
      }
    }
  }

  test("PQ reconstruction beats the mean-only quantizer by at least 2x") {
    val model = graft.functions.Pq.fit(emb, "embedding")
    val rows = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val d = rows.values.head.length
    val mean = Array.tabulate(d)(i => rows.values.map(_(i)).sum / rows.size)
    val codes = graft.functions.Pq.encodeBlocks(emb, "embedding", model)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    var msePq = 0.0; var mseMean = 0.0
    rows.foreach { case (id, x) =>
      (0 until d).foreach { i =>
        val b = i / model.sub
        val rec = model.codebooks(b)(codes((id, b)).toInt)(i % model.sub)
        msePq += (x(i) - rec) * (x(i) - rec)
        mseMean += (x(i) - mean(i)) * (x(i) - mean(i))
      }
    }
    assert(msePq * 2.0 <= mseMean,
      s"PQ MSE $msePq not at least 2x below mean-only MSE $mseMean")
  }

  test("ADC values match driver arithmetic; exhaustive ADC recalls exact neighbors") {
    val model = graft.functions.Pq.fit(emb, "embedding")
    val rows = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val codes = graft.functions.Pq.encodeBlocks(emb, "embedding", model)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val topk = 10
    val adc = graft.functions.Pq.adcTopk(emb, emb, "embedding", model, topk)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))

    // (a) returned ADC values equal the driver-computed lookup sums
    def adcRef(q: Long, x: Long): Double = {
      val qv = rows(q)
      (0 until model.m).map { b =>
        val cv = model.codebooks(b)(codes((x, b)).toInt)
        (0 until model.sub).map { i =>
          val t = qv(b * model.sub + i) - cv(i); t * t
        }.sum
      }.sum
    }
    adc.take(200).foreach { case (q, x, v, _) =>
      val want = adcRef(q, x)
      assert(math.abs(v - want) <= 1e-9 * math.max(1.0, want),
        s"ADC($q,$x) = $v, driver says $want")
    }

    // (b) per-query rank order follows the ADC values
    adc.groupBy(_._1).foreach { case (q, rs) =>
      val byRank = rs.sortBy(_._4).map(_._3)
      assert(byRank.sameElements(byRank.sorted), s"query $q ADC rank disorder")
      assert(rs.length == topk, s"query $q returned ${rs.length} rows")
    }

    // (c) recall vs EXACT sqdist top-10 (self excluded): PQ at
    // 8 blocks × 256 codes on this table measures ~0.64 — pin a floor
    // with margin; the point is "quantized search finds real
    // neighbors", exactness lives in the rerank stage callers add.
    def d2(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val recalls = rows.keys.toSeq.sorted.take(100).map { q =>
      val exact = rows.keys.filter(_ != q).toSeq
        .sortBy(x => (d2(rows(q), rows(x)), x)).take(topk).toSet
      val got = adc.filter(_._1 == q).map(_._2).toSet
      exact.intersect(got).size.toDouble / topk
    }
    val meanRecall = recalls.sum / recalls.length
    assert(meanRecall >= 0.5,
      s"exhaustive-ADC mean recall@$topk $meanRecall < 0.5")
  }

  test("IVFADC composition: driver-exact ADC values, recall floor, determinism") {
    // round-11 VERDICT #3 — the composed production path
    // (Pq.ivfAdcTopk): IVF candidates restrict WHICH pairs are scored;
    // the scores themselves must equal the exhaustive kernel's (the
    // same per-query LUT arithmetic), ranks must follow them, and the
    // IVF recall trade must stay bounded (probe, round 12, c = 16 on
    // the isotropic fixture: 0.276 / 0.409 / 0.552 at nprobe 2/4/8 vs
    // 0.644 exhaustive — floors pinned with margin).
    val model = graft.functions.Pq.fit(emb, "embedding")
    val rows = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val codes = graft.functions.Pq.encodeBlocks(emb, "embedding", model)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val topk = 10
    def run(): Array[(Long, Long, Double, Int)] =
      graft.functions.Pq.ivfAdcTopk(emb, "embedding", model, topk,
          centroids = 16, nprobe = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val got = run()

    // (a) every returned ADC value equals the driver-computed LUT sum —
    // identical arithmetic to the exhaustive kernel
    def adcRef(q: Long, x: Long): Double = {
      val qv = rows(q)
      (0 until model.m).map { b =>
        val cv = model.codebooks(b)(codes((x, b)).toInt)
        (0 until model.sub).map { i =>
          val t = qv(b * model.sub + i) - cv(i); t * t
        }.sum
      }.sum
    }
    got.take(200).foreach { case (q, x, v, _) =>
      val want = adcRef(q, x)
      assert(math.abs(v - want) <= 1e-9 * math.max(1.0, want),
        s"IVFADC($q,$x) = $v, driver says $want")
    }

    // (b) per-query rank order follows the ADC values; ≤ topk rows,
    // no self-matches, no duplicates
    got.groupBy(_._1).foreach { case (q, rs) =>
      val byRank = rs.sortBy(_._4).map(_._3)
      assert(byRank.sameElements(byRank.sorted), s"query $q ADC rank disorder")
      assert(rs.length <= topk && rs.forall(_._2 != q) &&
        rs.map(_._2).distinct.length == rs.length,
        s"query $q returned malformed rows: ${rs.toSeq}")
    }

    // (c) recall vs EXACT sqdist top-10: the IVF bucket trade at
    // nprobe = 8 of c = 16 measured 0.552 on this table — floor 0.45
    def d2(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val byQ = got.groupBy(_._1)
    val recalls = rows.keys.toSeq.sorted.map { q =>
      val exact = rows.keys.filter(_ != q).toSeq
        .sortBy(x => (d2(rows(q), rows(x)), x)).take(topk).toSet
      val g = byQ.getOrElse(q, Array.empty).map(_._2).toSet
      exact.intersect(g).size.toDouble / topk
    }
    val meanRecall = recalls.sum / recalls.length
    assert(meanRecall >= 0.45,
      s"IVFADC mean recall@$topk $meanRecall < 0.45")

    // (d) bit-determinism of the whole composition
    assert(run().sameElements(got), "IVFADC result is not deterministic")
  }

  /** (i, k_id, adc bits, rnk) rows in (i, rnk) order — a bit-exact
    * comparison key for search results. */
  private def bits(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, Int)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)), r.getInt(3)))
      .sortBy(t => (t._1, t._4)).toSeq

  private def atShufflePartitions[T](n: Int)(f: => T): T = {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    try f finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("IVF kernel probing every cell returns the exhaustive ADC rows exactly") {
    // nprobe = c makes every pair a candidate, and the kernel's lookup
    // tables and block-ordered sums are the exhaustive relational
    // kernel's arithmetic — so adc bits and rnk must be adcTopk's.
    val model = graft.functions.Pq.fit(emb, "embedding")
    val ivf = bits(graft.functions.Pq.ivfAdcTopk(emb, "embedding", model, 10,
      centroids = 16, nprobe = 16))
    val exhaustive = bits(graft.functions.Pq.adcTopk(emb, emb, "embedding", model, 10))
    assert(ivf.length == 500 * 10, s"${ivf.length} rows")
    val same = ivf == exhaustive
    assert(same, s"first difference: ${ivf.zip(exhaustive).find(p => p._1 != p._2)}")
  }

  test("stored ivfpq / opq / rawpq searches are bit-identical at 1 and 4 shuffle partitions") {
    val P = graft.functions.Pq
    val root = tempDir("pq-width")
    val stores = Seq(
      P.ivfPqIndexCached(emb, "embedding", centroids = 16),
      P.indexOf(emb, "embedding", P.fitIvfPqRotated(emb, "embedding", centroids = 16)),
      P.indexOf(emb, "embedding", P.fitIvfPqAuto(emb, "embedding", centroids = 16).model))
    assert(stores.map(_.model.coding.getClass).distinct.length == 3,
      s"not one store per coding: ${stores.map(_.model.coding)}")
    stores.zipWithIndex.foreach { case (ix, n) =>
      val dir = s"$root/$n"
      P.writeIndex(ix, dir)
      val stored = P.readIndex(spark, dir)
      val coding = stored.model.coding
      assert(coding.getClass == ix.model.coding.getClass, s"$coding read back")
      def run(parts: Int) = atShufflePartitions(parts) {
        bits(P.ivfAdcTopk(emb, "embedding", stored, 10, 8, "vec_id", None))
      }
      val one = run(1)
      val four = run(4)
      assert(one.map(_._1).distinct.length == 500, s"$coding: queries missing")
      val same = one == four
      assert(same, s"$coding: rows differ between 1 and 4 partitions, first at " +
        s"${one.zip(four).find(p => p._1 != p._2)}")
    }
  }

  test("a stored code outside its codebook fails loud and names its id") {
    import spark.implicits._
    val ix = graft.functions.Pq.ivfPqIndexCached(emb, "embedding", centroids = 16)
    val victim = emb.select(col("vec_id").cast("long")).orderBy("vec_id").head().getLong(0)
    val patched = ix.copy(codes = ix.codes.withColumn("code",
      when(col("vec_id") === victim && col("b") === 3, lit(256L)).otherwise(col("code"))))
    val e = intercept[Exception] {
      graft.functions.Pq.ivfAdcTopk(emb, "embedding", patched, 5, 8, "vec_id",
        Some(Seq(victim).toDF("id"))).collect()
    }
    assert(e.getMessage.contains(s"code 256 outside block 3's 256-entry codebook for id $victim"),
      s"unexpected: ${e.getMessage}")
  }

  test("a stored-index workload search runs a fixed job budget at any topk") {
    // The search is two Catalyst inputs, planned as one query, and one
    // kernel job, whatever topk is. A per-pair relation coming back (a
    // candidate join, LUT rows, per-pair aggregates) adds jobs and
    // fails this pin.
    import spark.implicits._
    val P = graft.functions.Pq
    val root = tempDir("pq-budget")
    P.writeIndex(P.ivfPqIndexCached(emb, "embedding", centroids = 16), s"$root/index")
    emb.write.parquet(s"$root/corpus")
    emb.select("vec_id").orderBy("vec_id").limit(64).write.parquet(s"$root/queries")
    val corpus = spark.read.parquet(s"$root/corpus")
    val qids = spark.read.parquet(s"$root/queries")
    val idx = P.readIndex(spark, s"$root/index")
    def search(k: Int): Unit = {
      val rows = P.ivfAdcTopk(corpus, "embedding", idx, k, 8, "vec_id", Some(qids)).collect()
      assert(rows.map(_.getLong(0)).distinct.length == 64)
    }
    search(5)
    val at5 = actionsDuring(search(5))
    val at50 = actionsDuring(search(50))
    assert(at5 == at50, s"(SQL executions, jobs) at topk 5 $at5 != at topk 50 $at50")
    assert(at5 == ((1, 7)), s"search budget moved: (SQL executions, jobs) = $at5")
  }

  test("duplicate ids in the query workload do not scale ADC values") {
    // round-12 review: without the distinct, a workload id appearing k
    // times duplicated both its candidate pairs and its LUT rows — the
    // (i, b, code) join then produced k² block rows per pair and every
    // adc came out k²× the true distance, silently (ranks unchanged).
    import spark.implicits._
    val model = graft.functions.Pq.fit(emb, "embedding")
    def run(ids: Seq[Long]): Seq[(Long, Long, Double, Int)] =
      graft.functions.Pq.ivfAdcTopk(emb, "embedding", model, 5,
          centroids = 16, nprobe = 8, queryIds = Some(ids.toDF("id")))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .sortBy(t => (t._1, t._4)).toSeq
    val clean = run(Seq(7L, 11L))
    assert(clean.map(_._1).toSet == Set(7L, 11L) && clean.nonEmpty)
    assert(run(Seq(7L, 7L, 11L)) == clean,
      "a duplicated workload id changed the result")
    // a multi-column workload frame must fail loud, not silently run
    // whatever columns.head happens to be (round-12 ADVICE)
    val e = intercept[IllegalArgumentException] {
      graft.functions.Pq.ivfAdcTopk(emb, "embedding", model, 5,
        centroids = 16, nprobe = 8,
        queryIds = Some(Seq(("x", 7L)).toDF("junk", "id")))
    }
    assert(e.getMessage.contains("single id column"), s"unexpected: ${e.getMessage}")
  }

  test("exact re-rank of the IVFADC shortlist: true distances, recall recovery") {
    // The faiss refine stage (Pq.ivfAdcRerankTopk): quantization error
    // must vanish from values AND ordering — only candidate coverage
    // bounds recall. Measured (round-12 probe, c=16 nprobe=8):
    // ADC-only 0.552 → reranked 0.679 (shortlist 20) / 0.720 (50).
    val model = graft.functions.Pq.fit(emb, "embedding")
    val rows = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def d2(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val topk = 10
    def run(): Array[(Long, Long, Double, Int)] =
      graft.functions.Pq.ivfAdcRerankTopk(emb, "embedding", model, topk,
          shortlist = 50, centroids = 16, nprobe = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val got = run()
    // (a) returned distances are the TRUE sqdist, ranks follow them
    got.foreach { case (q, x, v, _) =>
      val want = d2(rows(q), rows(x))
      assert(math.abs(v - want) <= 1e-9 * math.max(1.0, want),
        s"rerank($q,$x) = $v, true sqdist $want")
    }
    got.groupBy(_._1).foreach { case (q, rs) =>
      val byRank = rs.sortBy(_._4).map(_._3)
      assert(byRank.sameElements(byRank.sorted), s"query $q rerank order broken")
      assert(rs.length <= topk && rs.forall(_._2 != q), s"query $q malformed rows")
    }
    // (b) recall beats ADC-only by a real margin (coverage is the same
    // shortlist; the gain is exactly the quantization-ranking recovery)
    def recall(pairs: Array[(Long, Long)]): Double = {
      val byQ = pairs.groupBy(_._1)
      val rs = rows.keys.toSeq.sorted.map { q =>
        val exact = rows.keys.filter(_ != q).toSeq
          .sortBy(x => (d2(rows(q), rows(x)), x)).take(topk).toSet
        exact.intersect(byQ.getOrElse(q, Array.empty).map(_._2).toSet).size.toDouble / topk
      }
      rs.sum / rs.length
    }
    val adcOnly = graft.functions.Pq.ivfAdcTopk(emb, "embedding", model, topk,
        centroids = 16, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val rAdc = recall(adcOnly)
    val rRerank = recall(got.map(t => (t._1, t._2)))
    assert(rRerank >= rAdc + 0.05 && rRerank >= 0.65,
      s"reranked recall $rRerank did not recover over ADC-only $rAdc")
    // (c) deterministic
    assert(run().sameElements(got), "reranked result is not deterministic")
  }

  test("residual IVFADC (IvfPqModel): driver-exact residual-LUT values, determinism") {
    // round-12 VERDICT #1 — codes quantize r = x − centroid(home(x)),
    // and every returned ADC value must equal the driver's residual-LUT
    // arithmetic: Σ_b ‖(q − cent(home(x)))_b − codebook_b[code_b(x)]‖².
    import org.apache.spark.sql.functions.transform
    val im = graft.functions.Pq.fitIvfPq(emb, "embedding", centroids = 16)
    val rows = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def d2(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val v = emb.select(col("vec_id"),
      transform(col("embedding"), _.cast("double")).as("v"))
    val codes = graft.functions.Pq.encodeBlocks(
        graft.functions.Pq.residuals(v, im.cents), "rv", im.pq)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    // driver home mirror: min (sqdist, c_id) — the assignments ranking
    val homes = rows.map { case (id, x) =>
      id -> im.cents.minBy { case (cid, cv) => (d2(x, cv.toArray), cid) }._1
    }
    val centMap = im.cents.toMap
    val topk = 10
    def run(): Array[(Long, Long, Double, Int)] =
      graft.functions.Pq.ivfAdcTopk(emb, "embedding", im, topk,
          nprobe = 8, idCol = "vec_id", queryIds = None)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val got = run()
    got.take(200).foreach { case (q, x, adc, _) =>
      val c = centMap(homes(x)).toArray
      val qr = rows(q).zip(c).map { case (a, b) => a - b }
      val want = (0 until im.pq.m).map { b =>
        val cb = im.pq.codebooks(b)(codes((x, b)).toInt)
        (0 until im.pq.sub).map { i =>
          val t = qr(b * im.pq.sub + i) - cb(i); t * t
        }.sum
      }.sum
      assert(math.abs(adc - want) <= 1e-9 * math.max(1.0, want),
        s"residual ADC($q,$x) = $adc, driver says $want")
    }
    got.groupBy(_._1).foreach { case (q, rs) =>
      val byRank = rs.sortBy(_._4).map(_._3)
      assert(byRank.sameElements(byRank.sorted), s"query $q ADC rank disorder")
      assert(rs.length <= topk && rs.forall(_._2 != q) &&
        rs.map(_._2).distinct.length == rs.length,
        s"query $q malformed rows")
    }
    // isotropic no-collapse floor (measured round 13: residual 0.516 vs
    // raw 0.552 at nprobe 8 — centroid subtraction removes nothing on
    // isotropic data, the same regime-dependence as the OPQ rotation;
    // the clustered-regime GAIN is pinned in the next test)
    val byQ = got.groupBy(_._1)
    val recalls = rows.keys.toSeq.sorted.map { q =>
      val exact = rows.keys.filter(_ != q).toSeq
        .sortBy(x => (d2(rows(q), rows(x)), x)).take(topk).toSet
      exact.intersect(byQ.getOrElse(q, Array.empty).map(_._2).toSet)
        .size.toDouble / topk
    }
    val meanRecall = recalls.sum / recalls.length
    assert(meanRecall >= 0.45,
      s"residual IVFADC isotropic recall@$topk $meanRecall < 0.45")
    assert(run().sameElements(got), "residual IVFADC is not deterministic")
    // ragged / null-element vectors fail LOUD in the residual relation
    // (round-13 review: zip_with would otherwise null-pad silently —
    // the exact hazard Pca.fit guards; exercised via residualsFrom so
    // the check is hit directly, not shadowed by vec_sqdist's own
    // assignment-time guard)
    import spark.implicits._
    val vr = Seq((0L, Seq(1.0, 2.0)), (1L, Seq(1.0, 2.0, 3.0)))
      .toDF("vec_id", "v")
    val homes2 = Seq((0L, 0L), (1L, 0L)).toDF("vec_id", "c_id")
    val e2 = intercept[Exception] {
      graft.functions.Pq.residualsFrom(vr, homes2,
        Seq((0L, Seq(0.0, 0.0, 0.0)))).collect()
    }
    assert(e2.getMessage.contains("ragged or null-element"),
      s"unexpected: ${e2.getMessage}")
  }

  test("input guards: wrong-dim vectors, null workload ids, ragged fit sample fail loud") {
    // round-13 review: slice CLIPS, so a too-long vector silently
    // encoded its first m·sub dims; a workload id casting to null
    // broadcast-joined nothing and returned an empty result; a ragged
    // fit sample zero-padded its tail blocks via copyOfRange.
    import spark.implicits._
    val model = graft.functions.Pq.fit(emb, "embedding")
    val tooLong = Seq((0L, (0 until 128).map(_.toDouble)))
      .toDF("vec_id", "embedding")
    val e1 = intercept[Exception] {
      graft.functions.Pq.encodeBlocks(tooLong, "embedding", model).collect()
    }
    assert(e1.getMessage.contains("model dims"), s"unexpected: ${e1.getMessage}")
    val e2 = intercept[Exception] {
      graft.functions.Pq.ivfAdcTopk(emb, "embedding", model, 5,
        centroids = 16, nprobe = 8,
        queryIds = Some(Seq(Option.empty[Long]).toDF("id"))).collect()
    }
    assert(e2.getMessage.contains("does not cast to long"),
      s"unexpected: ${e2.getMessage}")
    val ragged = (0 until 50).map(i =>
        (i.toLong, (0 until (if (i == 7) 32 else 64)).map(_.toDouble)))
      .toDF("vec_id", "embedding")
    val e3 = intercept[IllegalArgumentException] {
      graft.functions.Pq.fit(ragged, "embedding")
    }
    assert(e3.getMessage.contains("ragged sample"), s"unexpected: ${e3.getMessage}")
  }

  test("residual codes beat raw codes on clustered data at the same bit budget") {
    // The regime residual encoding exists for (Jégou 2011 §V): many
    // clusters vs limited per-block codebook capacity — raw PQ spends
    // codes on cluster OFFSETS, residual PQ spends them on the tight
    // within-bucket spread. Measured (round-13 probe, 64 clusters ×
    // 64-d, sep 10σ, k = 32, c = 64, nprobe = 8): raw 0.690 →
    // residual 0.784; floors pinned with margin.
    import spark.implicits._
    val rnd = new scala.util.Random(777)
    val centers = Array.fill(64, 64)(rnd.nextGaussian() * 10.0)
    val cl = (0 until 1000).map { i =>
      val c = centers(i % 64)
      (i.toLong, (0 until 64).map(j => c(j) + rnd.nextGaussian()).toSeq)
    }.toDF("vec_id", "embedding")
    val rows = cl.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def d2(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val topk = 10
    val exact = rows.keys.toSeq.sorted.map { q =>
      q -> rows.keys.filter(_ != q).toSeq
        .sortBy(x => (d2(rows(q), rows(x)), x)).take(topk).toSet
    }.toMap
    def recall(pairs: Array[(Long, Long)]): Double = {
      val byQ = pairs.groupBy(_._1)
      val rs = rows.keys.toSeq.sorted.map { q =>
        exact(q).intersect(byQ.getOrElse(q, Array.empty).map(_._2).toSet)
          .size.toDouble / topk
      }
      rs.sum / rs.length
    }
    val raw = graft.functions.Pq.fit(cl, "embedding", k = 32)
    val im = graft.functions.Pq.fitIvfPq(cl, "embedding", k = 32, centroids = 64)
    val rRaw = recall(graft.functions.Pq.ivfAdcTopk(cl, "embedding", raw, topk,
        centroids = 64, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))))
    val rRes = recall(graft.functions.Pq.ivfAdcTopk(cl, "embedding", im, topk,
        nprobe = 8, idCol = "vec_id", queryIds = None)
      .collect().map(r => (r.getLong(0), r.getLong(1))))
    assert(rRes >= rRaw + 0.04 && rRes >= 0.72,
      s"residual $rRes did not beat raw $rRaw on clustered data")
  }

  test("filtered ANN: recall floors vs the FILTERED brute force in both regimes") {
    // round-16 VERDICT #3: predicate + ANN in one query. The baseline
    // is the exact top-k among PREDICATE-PASSING rows only — the recall
    // target a filtered search answers for, not the unfiltered top-k.
    import spark.implicits._
    val rnd = new scala.util.Random(4242)
    val centers = Array.fill(16, 32)(rnd.nextGaussian() * 10.0)
    val cl = (0 until 800).map { i =>
      val c = centers(i % 16)
      (i.toLong, (0 until 32).map(j => c(j) + rnd.nextGaussian()).toSeq, i % 5)
    }
    val df = cl.toDF("vec_id", "embedding", "label")
    val vecs = cl.map { case (id, v, _) => id -> v.toArray }.toMap
    val lab = cl.map { case (id, _, l) => id -> l }.toMap
    def d2(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val topk = 5
    def filteredExact(pass: Int => Boolean): Map[Long, Set[Long]] =
      vecs.keys.toSeq.sorted.map { q =>
        q -> vecs.keys.filter(x => x != q && pass(lab(x))).toSeq
          .sortBy(x => (d2(vecs(q), vecs(x)), x)).take(topk).toSet
      }.toMap
    def recall(res: Array[(Long, Long)], exact: Map[Long, Set[Long]]): Double = {
      val byQ = res.groupBy(_._1)
      val rs = vecs.keys.toSeq.sorted.map { q =>
        exact(q).intersect(byQ.getOrElse(q, Array.empty).map(_._2).toSet)
          .size.toDouble / topk
      }
      rs.sum / rs.length
    }
    // PRE-FILTER regime: label = 0 passes 20% — every answer must pass
    val pre = Graft.similarTopKFiltered(spark, df, topk,
        predicate = col("label") === 0, centroids = 16, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pre.forall { case (_, kid) => lab(kid) == 0 },
      "pre-filter path returned a disallowed id")
    val rPre = recall(pre, filteredExact(_ == 0))
    assert(rPre >= 0.7, s"pre-filter recall $rPre vs filtered brute force")
    // POST-FILTER regime: label <> 0 passes 80%
    val post = Graft.similarTopKFiltered(spark, df, topk,
        predicate = col("label") =!= 0, centroids = 16, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(post.forall { case (_, kid) => lab(kid) != 0 },
      "post-filter path returned a disallowed id")
    val rPost = recall(post, filteredExact(_ != 0))
    assert(rPost >= 0.6, s"post-filter recall $rPost vs filtered brute force")
  }

  test("OPQ-lite rotation: big recall gain on correlated dims, no collapse on isotropic") {
    // round-11 VERDICT #4 — PQ in the eigenvalue-balanced PCA basis
    // (Ge et al. 2013's parametric baseline). The rotation is
    // orthogonal, so rotated ADC approximates ORIGINAL-space sqdist
    // and recall is measured against the same exact neighbors.
    // Measured (round-12 probe): correlated 0.839 → 0.984; isotropic
    // fixture 0.648 → 0.628 (rotation is information-free on isotropic
    // data — the codebooks just re-learn a rotated gaussian; the
    // unrotated path stays the oracled default for exactly that
    // reason).
    import spark.implicits._
    val topk = 10
    def meanRecall(emb: org.apache.spark.sql.DataFrame,
        got: Array[(Long, Long)]): Double = {
      val rows = emb.collect().map(r => r.getLong(0) ->
        r.getSeq[Any](1).map(x => x.asInstanceOf[Number].doubleValue).toArray).toMap
      def d2(a: Array[Double], b: Array[Double]): Double =
        a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
      val byQ = got.groupBy(_._1)
      val rs = rows.keys.toSeq.sorted.map { q =>
        val exact = rows.keys.filter(_ != q).toSeq
          .sortBy(x => (d2(rows(q), rows(x)), x)).take(topk).toSet
        exact.intersect(byQ.getOrElse(q, Array.empty).map(_._2).toSet).size.toDouble / topk
      }
      rs.sum / rs.length
    }
    def runBoth(e: org.apache.spark.sql.DataFrame, vc: String): (Double, Double) = {
      val plain = graft.functions.Pq.fit(e, vc)
      val rp = meanRecall(e.select(col("vec_id"), col(vc)),
        graft.functions.Pq.adcTopk(e, e, vc, plain, topk)
          .collect().map(r => (r.getLong(0), r.getLong(1))))
      val rm = graft.functions.Pq.fitRotated(e, vc)
      val rr = meanRecall(e.select(col("vec_id"), col(vc)),
        graft.functions.Pq.adcTopkRotated(e, e, vc, rm, topk)
          .collect().map(r => (r.getLong(0), r.getLong(1))))
      (rp, rr)
    }
    // correlated synthetic: 8 latent gaussians mixed into 64 dims —
    // strong cross-block correlation, the regime OPQ exists for
    val rnd = new scala.util.Random(4242)
    val mix = Array.fill(64, 8)(rnd.nextGaussian())
    val corr = (0 until 500).map { i =>
      val z = Array.fill(8)(rnd.nextGaussian() * 3.0)
      (i.toLong, (0 until 64).map(j =>
        (0 until 8).map(l => mix(j)(l) * z(l)).sum + rnd.nextGaussian() * 0.3).toSeq)
    }.toDF("vec_id", "v")
    val (plainCorr, rotCorr) = runBoth(corr, "v")
    assert(rotCorr >= plainCorr + 0.05,
      s"rotation did not beat plain PQ on correlated dims: $rotCorr vs $plainCorr")
    assert(rotCorr >= 0.9, s"rotated recall $rotCorr < 0.9 on correlated dims")
    // isotropic fixture: must stay in the same band (no collapse)
    val (plainIso, rotIso) = runBoth(emb, "embedding")
    assert(rotIso >= plainIso - 0.08 && rotIso >= 0.55,
      s"rotated recall $rotIso collapsed vs plain $plainIso on isotropic data")
    // the balanced permutation is a real permutation with balanced
    // per-block log-variance loads
    val rm = graft.functions.Pq.fitRotated(emb, "embedding")
    assert(rm.basisPerm.sorted.sameElements(0 until 64), "basisPerm not a permutation")
    val loads = rm.basisPerm.grouped(8).map(_.map(c =>
      math.log(math.max(rm.pca.eigenvalues(c), 1e-12))).sum).toSeq
    assert(loads.max - loads.min <= 1.0,
      s"per-block log-variance loads unbalanced: $loads")
    // the rotation COMPOSES with the IVFADC path: a rotated frame runs
    // the composed search under the same contract, and — the rotation
    // being orthogonal — its recall measures against the ORIGINAL
    // exact neighbors
    val rotated = graft.functions.Pq.rotate(emb, "embedding", rm.pca, rm.basisPerm)
    val composed = graft.functions.Pq.ivfAdcTopk(rotated, "rv", rm.pq, topk,
        centroids = 16, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val rComposed = meanRecall(emb.select(col("vec_id"), col("embedding")), composed)
    assert(rComposed >= 0.4,
      s"rotated IVFADC recall $rComposed < 0.4 — composition broken")
  }

  test("OPQ over residuals: beats residual-alone on the heavy-tailed fixture, recovers isotropic") {
    // round-13 VERDICT #3 (the faiss OPQ+IVFADC composition — the PQ
    // quantizes R·(r − μ_r), R learned on the RESIDUAL distribution)
    // + #5 (a heavy-tailed mixture fixture: cluster sizes ~ Zipf s=1
    // over 32 clusters, per-cluster σ varying 0.5..3 — a few giant
    // clusters and a long tail, closer to a real embedding corpus than
    // equal-size 10σ blobs). Measured (round-14 recall probe, c=16
    // nprobe=8): zipf raw 0.331 / residual 0.346 / opq+residual 0.369
    // — the composition beats BOTH parents where spread is
    // inhomogeneous; clustered 0.783/0.805/0.824 (same ordering);
    // isotropic 0.552/0.516/0.540 — the rotation recovers most of the
    // residual path's isotropic deficit but stays 0.012 under raw
    // (rotation is information-free on isotropic data; the refine
    // stage remains the honest isotropic lever, BENCH_NOTES §27).
    import spark.implicits._
    val topk = 10
    val rnd = new scala.util.Random(2026)
    val nC = 32
    val cents = Array.fill(nC, 64)(rnd.nextGaussian() * 10.0)
    val sigma = Array.tabulate(nC)(c => 0.5 + 2.5 * c / (nC - 1).toDouble)
    val weights = Array.tabulate(nC)(c => 1.0 / (c + 1))
    val wsum = weights.sum
    val cum = weights.scanLeft(0.0)(_ + _).tail.map(_ / wsum)
    val zdocs = (0 until 1500).map { i =>
      val u = rnd.nextDouble()
      val c = cum.indexWhere(u <= _)
      (i.toLong,
        (0 until 64).map(j => cents(c)(j) + rnd.nextGaussian() * sigma(c)).toSeq)
    }.toDF("vec_id", "embedding")
    val rows = zdocs.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def d2(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val exact = rows.keys.toSeq.sorted.map { q =>
      q -> rows.keys.filter(_ != q).toSeq
        .sortBy(x => (d2(rows(q), rows(x)), x)).take(topk).toSet
    }.toMap
    def recall(pairs: Array[(Long, Long)]): Double = {
      val byQ = pairs.groupBy(_._1)
      val rs = rows.keys.toSeq.sorted.map { q =>
        exact(q).intersect(byQ.getOrElse(q, Array.empty).map(_._2).toSet)
          .size.toDouble / topk
      }
      rs.sum / rs.length
    }
    val im = graft.functions.Pq.fitIvfPq(zdocs, "embedding", centroids = 16)
    val rim = graft.functions.Pq.fitIvfPqRotated(zdocs, "embedding", centroids = 16)
    val basisPerm = rim.coding.asInstanceOf[graft.functions.Pq.Coding.Rotated].basisPerm
    assert(basisPerm.sorted.sameElements(0 until 64),
      "rotated-residual basisPerm not a permutation")
    val rRes = recall(graft.functions.Pq.ivfAdcTopk(zdocs, "embedding", im, topk,
        nprobe = 8, idCol = "vec_id", queryIds = None)
      .collect().map(r => (r.getLong(0), r.getLong(1))))
    def runRot() = graft.functions.Pq.ivfAdcTopk(zdocs, "embedding", rim, topk,
        nprobe = 8, idCol = "vec_id", queryIds = None)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val gotRot = runRot()
    val rRot = recall(gotRot.map(p => (p._1, p._2)))
    // measured 0.369 vs 0.346 — pin the ordering with margin and a floor
    assert(rRot >= rRes + 0.01 && rRot >= 0.34,
      s"opq+residual $rRot did not beat residual-alone $rRes on the heavy-tailed fixture")
    assert(runRot().sameElements(gotRot), "rotated-residual IVFADC not deterministic")
    // isotropic no-collapse: the rotated index on the sf0.001 fixture
    // must land ABOVE the unrotated residual floor (measured 0.540 vs
    // residual 0.516 at the same c=16/nprobe=8)
    val rimIso = graft.functions.Pq.fitIvfPqRotated(emb, "embedding", centroids = 16)
    val isoRows = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val isoExact = isoRows.keys.toSeq.sorted.map { q =>
      q -> isoRows.keys.filter(_ != q).toSeq
        .sortBy(x => (d2(isoRows(q), isoRows(x)), x)).take(topk).toSet
    }.toMap
    val byQ = graft.functions.Pq.ivfAdcTopk(emb, "embedding", rimIso, topk,
        nprobe = 8, idCol = "vec_id", queryIds = None)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    val isoRecalls = isoRows.keys.toSeq.sorted.map { q =>
      isoExact(q).intersect(byQ.getOrElse(q, Array.empty).map(_._2).toSet)
        .size.toDouble / topk
    }
    val rIso = isoRecalls.sum / isoRecalls.length
    assert(rIso >= 0.50,
      s"opq+residual isotropic recall $rIso < 0.50 — rotation collapsed the residual index")
  }

  test("index auto-selection: raw on isotropic, rotated on clustered, recall ≥ the picked parent's floor") {
    // round-14 VERDICT #5 — the per-corpus chooser faiss users get for
    // free. Measured (round-14 recall probe): isotropic probe
    // explained=0.000 / CV=0.019 → raw (0.552, closing §28's 0.540
    // regression); clustered explained=0.978 → opq+residual (0.824);
    // zipf explained=0.193 / CV=0.903 → opq+residual (0.369). Auto
    // recall equals max(parents) on every fixture row. Here: the pick
    // itself on both regimes, the probe statistics landing on the
    // correct side of both thresholds, and recall floors with margin.
    import spark.implicits._
    val topk = 10
    val auIso = graft.functions.Pq.fitIvfPqAuto(emb, "embedding", centroids = 16)
    assert(auIso.model.coding == graft.functions.Pq.Coding.Raw,
      s"isotropic corpus must pick raw, got ${auIso.model.coding} " +
        s"(explained=${auIso.explained}, cv=${auIso.momentCv})")
    assert(auIso.explained < 0.15 && auIso.momentCv < 0.5,
      s"isotropic probe stats crossed a threshold: ${auIso.explained}/${auIso.momentCv}")
    def d2(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val isoRows = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val isoExact = isoRows.keys.toSeq.sorted.map { q =>
      q -> isoRows.keys.filter(_ != q).toSeq
        .sortBy(x => (d2(isoRows(q), isoRows(x)), x)).take(topk).toSet
    }.toMap
    val isoByQ = graft.functions.Pq.ivfAdcTopk(emb, "embedding", auIso.model, topk,
        8, "vec_id", None)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    val isoRecalls = isoRows.keys.toSeq.sorted.map { q =>
      isoExact(q).intersect(isoByQ.getOrElse(q, Array.empty).map(_._2).toSet)
        .size.toDouble / topk
    }
    val rAutoIso = isoRecalls.sum / isoRecalls.length
    assert(rAutoIso >= 0.50,
      s"auto-picked raw index isotropic recall $rAutoIso < 0.50 (measured 0.552)")
    // clustered regime: 64 tight 10σ-separated clusters (the residual
    // test's fixture) — the chooser must go rotated and keep the
    // residual path's recall there
    val rnd = new scala.util.Random(777)
    val centers = Array.fill(64, 64)(rnd.nextGaussian() * 10.0)
    val cl = (0 until 1000).map { i =>
      val c = centers(i % 64)
      (i.toLong, (0 until 64).map(j => c(j) + rnd.nextGaussian()).toSeq)
    }.toDF("vec_id", "embedding")
    val auCl = graft.functions.Pq.fitIvfPqAuto(cl, "embedding", k = 32, centroids = 64)
    assert(auCl.model.coding.isInstanceOf[graft.functions.Pq.Coding.Rotated],
      s"clustered corpus must pick opq+residual, got ${auCl.model.coding} " +
        s"(explained=${auCl.explained}, cv=${auCl.momentCv})")
    assert(auCl.explained >= 0.15,
      s"clustered explained variance ${auCl.explained} under the 0.15 threshold")
    val clRows = cl.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val clExact = clRows.keys.toSeq.sorted.map { q =>
      q -> clRows.keys.filter(_ != q).toSeq
        .sortBy(x => (d2(clRows(q), clRows(x)), x)).take(topk).toSet
    }.toMap
    val clByQ = graft.functions.Pq.ivfAdcTopk(cl, "embedding", auCl.model, topk,
        8, "vec_id", None)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    val clRecalls = clRows.keys.toSeq.sorted.map { q =>
      clExact(q).intersect(clByQ.getOrElse(q, Array.empty).map(_._2).toSet)
        .size.toDouble / topk
    }
    val rAutoCl = clRecalls.sum / clRecalls.length
    assert(rAutoCl >= 0.72,
      s"auto-picked rotated index clustered recall $rAutoCl < 0.72")
  }
}
