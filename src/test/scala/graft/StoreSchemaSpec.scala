package graft

import org.apache.spark.sql.functions._

/** Declared-schema pins: every store reader passes an EXPLICIT schema
  * (the corpus datasets, their sidecars and stats logs, the index's
  * homes/codes/moments and its generation model), killing the
  * per-relation footer-inference job a schema-less read runs, which
  * silently trusts the writers. This
  * suite keeps that trust honest — each declared schema must equal the
  * schema a freshly-written store INFERS, so any writer change that
  * would drift the layout fails here instead of surfacing as null
  * columns in production reads. Plus the generation-model cache pins:
  * a new generation reloads (never serves a stale model), an unknown
  * family tag fails loud through the cache, and a rotated store's
  * rotation is read once per generation; and the coding a store's meta
  * tag names (or its absence) is the coding readIndex returns. */
class StoreSchemaSpec extends SparkSuite {
  import graft.functions.Pq

  private def inferred(path: String) = spark.read.parquet(path).schema

  /** 64 rows of 16-dim vectors, element j of row i = `x(i, j)`. */
  private def vecsOf(x: (Int, Int) => Double) = {
    import spark.implicits._
    (0 until 64)
      .map(i => (i.toLong, Seq.tabulate(16)(j => x(i, j))))
      .toDF("vec_id", "embedding")
  }

  private def residualIndex(vecs: org.apache.spark.sql.DataFrame) =
    Pq.indexOf(vecs, "embedding", Pq.fitIvfPq(vecs, "embedding"))

  /** Search rows with the adc bits, in (i, rnk) order. */
  private def rows(vecs: org.apache.spark.sql.DataFrame, ix: Pq.IvfPqIndex) =
    Pq.ivfAdcTopk(vecs, "embedding", ix, 5, 8, "vec_id", None).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)), r.getInt(3)))
      .sortBy(t => (t._1, t._4)).toSeq

  /** Overwrite generation `g`'s meta row, `family` None dropping the
    * column (the shape of a store written before the tag existed). */
  private def rewriteMeta(dir: String, g: Long, pq: Pq.Model,
      family: Option[String]): Unit = {
    import spark.implicits._
    val meta = Seq((pq.m, pq.k, pq.sub, family.orNull)).toDF("m", "k", "sub", "family")
    (if (family.isEmpty) meta.drop("family") else meta)
      .write.mode("overwrite").parquet(s"$dir/gen=$g/meta")
  }

  test("lexical corpus store: declared schemas equal a fresh store's inferred schemas") {
    import spark.implicits._
    val t = tempDir("graft-schema-lex")
    val docs = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma epsilon"))
      .toDF("doc_id", "text")
    graft.streaming.Streams.initDedupCorpus(docs, t)
    val batch = Seq((10L, "zeta eta theta iota")).toDF("doc_id", "text")
    graft.streaming.Streams.applyDedupBatch(batch, 0L, t)
    assert(inferred(s"$t/inc=-1") === graft.streaming.Streams.lexDocsSchema)
    assert(inferred(s"$t/inc=0") === graft.streaming.Streams.lexDocsSchema)
    assert(inferred(s"$t/_shingles/inc=0") ===
      graft.streaming.Streams.shingleStoreSchema)
    assert(inferred(s"$t/_dfs/inc=0") === graft.streaming.Streams.dfStoreSchema)
    assert(inferred(s"$t/_dups/inc=0") === graft.streaming.Streams.dupsSchema)
  }

  test("semantic corpus store: declared schema equals the partitioned part's inferred shape (both element types)") {
    import spark.implicits._
    val t = tempDir("graft-schema-sem")
    // float input (the fixture type)
    val docsF = (0 until 40)
      .map(i => (i.toLong, Seq.tabulate(8)(j => (i * 8 + j).toFloat)))
      .toDF("doc_id", "embedding")
    graft.streaming.Streams.initSemanticDedupCorpus(docsF, t)
    val inf = inferred(s"$t/inc=-1")
    val decl = graft.streaming.Streams.semDocsSchema(
      docsF.schema("embedding").dataType)
    // partition-column types are discovery-dependent (int vs long) and
    // the reader casts both; compare data columns exactly and names
    // for the rest
    assert(inf.fieldNames.toSeq === decl.fieldNames.toSeq)
    assert(inf("doc_id") === decl("doc_id"))
    assert(inf("embedding").dataType === decl("embedding").dataType)
    val t2 = tempDir("graft-schema-sem-d")
    // double input (several suites feed doubles)
    val docsD = (0 until 40)
      .map(i => (i.toLong, Seq.tabulate(8)(j => (i * 8 + j).toDouble)))
      .toDF("doc_id", "embedding")
    graft.streaming.Streams.initSemanticDedupCorpus(docsD, t2)
    val infD = inferred(s"$t2/inc=-1")
    assert(infD("embedding").dataType ===
      graft.streaming.Streams.semDocsSchema(
        docsD.schema("embedding").dataType)("embedding").dataType)
    // the per-batch reader path round-trips rows exactly
    val back = graft.streaming.Streams.readSemanticVectors(spark, t2, None,
      Some(graft.streaming.Streams.semDocsSchema(
        docsD.schema("embedding").dataType)))
    assert(back.count() === 40)
    assert(back.schema("embedding").dataType ===
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType, containsNull = true))
  }

  test("semantic sink: a batch whose embedding type differs from the store's fails at batch start, naming both") {
    import spark.implicits._
    val t = tempDir("graft-schema-sem-mismatch")
    val docsD = (0 until 40)
      .map(i => (i.toLong, Seq.tabulate(8)(j => (i * 8 + j).toDouble)))
      .toDF("doc_id", "embedding")
    graft.streaming.Streams.initSemanticDedupCorpus(docsD, t)
    val batchF = (100 until 110)
      .map(i => (i.toLong, Seq.tabulate(8)(j => (i * 8 - j).toFloat)))
      .toDF("doc_id", "embedding")
    val e = intercept[IllegalArgumentException](
      graft.streaming.Streams.applySemanticDedupBatch(batchF, 0L, t))
    assert(e.getMessage.contains("array<float>") &&
      e.getMessage.contains("array<double>"), e.getMessage)
    val fs = MarkerStore.fs(spark, t)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$t/inc=0")),
      "the rejected batch wrote its increment")
    assert(!MarkerStore.committedIncs(spark, t).contains(0L))
    // the store's own type still lands
    val batchD = batchF.select(col("doc_id"),
      transform(col("embedding"), _.cast("double")).as("embedding"))
    assert(graft.streaming.Streams.applySemanticDedupBatch(batchD, 0L, t) >= 0)
  }

  test("index store: declared homes/codes/moment schemas equal a fresh store's inferred schemas") {
    val t = tempDir("graft-schema-ix")
    Pq.writeIndex(residualIndex(vecsOf((i, j) => (i + j).toDouble)), t)
    assert(inferred(s"$t/gen=1/homes") === Pq.homesSchema)
    assert(inferred(s"$t/gen=1/codes") === Pq.codesSchema)
    assert(inferred(s"$t/gen=1/moment") === Pq.momentSchema)
  }

  test("index store: declared meta/cents/codebooks/rot schemas equal a fresh store's inferred schemas") {
    val vecs = vecsOf((i, j) => (i + j).toDouble)
    val t = tempDir("graft-schema-ix-model")
    Pq.writeIndex(residualIndex(vecs), t)
    assert(inferred(s"$t/gen=1/meta") === Pq.metaSchema)
    assert(inferred(s"$t/gen=1/cents") === Pq.centsSchema)
    assert(inferred(s"$t/gen=1/codebooks") === Pq.codebooksSchema)
    val opq = tempDir("graft-schema-ix-rot")
    Pq.writeIndex(Pq.indexOf(vecs, "embedding", Pq.fitIvfPqRotated(vecs, "embedding")), opq)
    assert(inferred(s"$opq/gen=1/meta") === Pq.metaSchema)
    assert(inferred(s"$opq/gen=1/rot") === Pq.rotSchema)
  }

  test("sink stats logs: declared schemas equal a fresh store's inferred schemas, live and folded by compaction") {
    import spark.implicits._
    import graft.streaming.Streams
    val lex = tempDir("graft-schema-stats-lex")
    Streams.initDedupCorpus(
      Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma epsilon")).toDF("doc_id", "text"),
      lex)
    Streams.applyDedupBatch(Seq((10L, "zeta eta theta iota")).toDF("doc_id", "text"), 0L, lex)
    val sem = tempDir("graft-schema-stats-sem")
    Streams.initSemanticDedupCorpus((0 until 40)
      .map(i => (i.toLong, Seq.tabulate(8)(j => (i * 8 + j).toDouble)))
      .toDF("doc_id", "embedding"), sem)
    Streams.applySemanticDedupBatch((100 until 110)
      .map(i => (i.toLong, Seq.tabulate(8)(j => (i * 8 - j).toDouble)))
      .toDF("doc_id", "embedding"), 0L, sem)
    Seq((lex, Streams.lexStatField, () => Streams.vacuumDedupCorpus(spark, lex)),
        (sem, Streams.semStatField, () => Streams.vacuumSemanticCorpus(spark, sem)))
      .foreach { case (t, f, vacuum) =>
        val declared = Streams.statsSchema(f)
        assert(inferred(s"$t/_stats/0") === declared)
        vacuum()
        assert(inferred(s"$t/gen=1/stats") === declared)
      }
  }

  test("generation-model cache: a new generation reloads; an unknown family tag fails loud through the cache") {
    val t = tempDir("graft-schema-cache")
    try {
      Pq.writeIndex(residualIndex(vecsOf((i, j) => (i + j).toDouble)), t)
      val loadedA = Pq.readIndex(spark, t)
      // a SECOND generation with a shifted corpus: the reload must serve
      // gen 2's model, not gen 1's cached one
      val idxB = residualIndex(vecsOf((i, j) => 1000.0 + 3 * i - j))
      Pq.writeIndex(idxB, t)
      val loadedB = Pq.readIndex(spark, t)
      assert(loadedB.model.cents.sortBy(_._1).map(_._2.toSeq) ===
        idxB.model.cents.sortBy(_._1).map(_._2.toSeq))
      assert(loadedB.model.cents.sortBy(_._1).map(_._2.toSeq) !==
        loadedA.model.cents.sortBy(_._1).map(_._2.toSeq))
      // a third generation whose meta names a family no coding reads:
      // with gen 2's model cached, the read fails loud naming the tag,
      // and keeps failing (the failed load is not cached)
      Pq.writeIndex(idxB, t)
      rewriteMeta(t, 3L, idxB.model.pq, Some("pq9"))
      (1 to 2).foreach { _ =>
        val e = intercept[IllegalArgumentException](Pq.readIndex(spark, t))
        assert(e.getMessage.contains("'pq9'"), e.getMessage)
      }
    } finally Pq.loadedModels.release(spark)
  }

  test("index store: a meta without a family column reads as the residual coding") {
    val t = tempDir("graft-schema-prefamily")
    val vecs = vecsOf((i, j) => (i + j).toDouble)
    val ix = residualIndex(vecs)
    Pq.writeIndex(ix, t)
    rewriteMeta(t, 1L, ix.model.pq, None)
    assert(!inferred(s"$t/gen=1/meta").fieldNames.contains("family"))
    try {
      val loaded = Pq.readIndex(spark, t)
      assert(loaded.model.coding == Pq.Coding.Residual)
      assert(rows(vecs, loaded) == rows(vecs, ix),
        "the pre-family store's search diverged from the in-memory index")
    } finally Pq.loadedModels.release(spark)
  }

  test("generation-model cache: a second read of an opq store runs as many jobs as an ivfpq store's") {
    // the rotation is part of the cached generation model, so a second
    // read at the same generation reads nothing the residual store does
    // not; the first read of each loads its model
    val vecs = vecsOf((i, j) => (i + j).toDouble)
    val ivfpq = tempDir("graft-schema-ivfpq")
    val opq = tempDir("graft-schema-opq")
    Pq.writeIndex(residualIndex(vecs), ivfpq)
    Pq.writeIndex(Pq.indexOf(vecs, "embedding", Pq.fitIvfPqRotated(vecs, "embedding")), opq)
    Pq.loadedModels.release(spark)
    try {
      def secondRead(dir: String): (Int, Int) = {
        Pq.readIndex(spark, dir)
        actionsDuring { Pq.readIndex(spark, dir); () }
      }
      val residual = secondRead(ivfpq)
      val rotated = secondRead(opq)
      assert(rotated._2 == residual._2,
        s"second opq read ran ${rotated._2} jobs, the ivfpq read ${residual._2}")
    } finally Pq.loadedModels.release(spark)
  }
}
