package graft

import org.apache.spark.sql.functions._

/** Round-21 optimization pins: the store readers now pass EXPLICIT
  * schemas (killing the per-relation footer-inference job the ingest
  * sinks paid per micro-batch), which silently trusts the writers. This
  * suite keeps that trust honest — each declared schema must equal the
  * schema a freshly-written store INFERS, so any writer change that
  * would drift the layout fails here instead of surfacing as null
  * columns in production reads. Plus the generation-model cache pins:
  * a new generation reloads (never serves a stale model), and the
  * wrong-family guard still fires through the cache. */
class StoreSchemaSpec extends SparkSuite {
  import graft.functions.Pq

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def rm(dir: String): Unit =
    MarkerStore.fs(spark, dir).delete(new org.apache.hadoop.fs.Path(dir), true)

  private def inferred(path: String) = spark.read.parquet(path).schema

  test("lexical corpus store: declared schemas equal a fresh store's inferred schemas") {
    val t = tmp("graft-schema-lex")
    try {
      import spark.implicits._
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
    } finally rm(t)
  }

  test("semantic corpus store: declared schema equals the partitioned part's inferred shape (both element types)") {
    import spark.implicits._
    val t = tmp("graft-schema-sem")
    try {
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
    } finally rm(t)
    val t2 = tmp("graft-schema-sem-d")
    try {
      // double input (several suites feed doubles)
      val docsD = (0 until 40)
        .map(i => (i.toLong, Seq.tabulate(8)(j => (i * 8 + j).toDouble)))
        .toDF("doc_id", "embedding")
      graft.streaming.Streams.initSemanticDedupCorpus(docsD, t2)
      val inf = inferred(s"$t2/inc=-1")
      assert(inf("embedding").dataType ===
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
    } finally rm(t2)
  }

  test("semantic sink: a batch whose embedding type differs from the store's fails at batch start, naming both") {
    import spark.implicits._
    val t = tmp("graft-schema-sem-mismatch")
    try {
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
    } finally rm(t)
  }

  test("index store: declared homes/codes/moment schemas equal a fresh store's inferred schemas") {
    import spark.implicits._
    val t = tmp("graft-schema-ix")
    try {
      val vecs = (0 until 64)
        .map(i => (i.toLong, Seq.tabulate(16)(j => (i + j).toDouble)))
        .toDF("vec_id", "embedding")
      val model = Pq.fitIvfPq(vecs, "embedding")
      val v = vecs.select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("v"))
      val homes = Pq.homesOf(v, model.cents)
      val codes = Pq.encodeBlocks(
        Pq.residualsFrom(v, homes, model.cents), "rv", model.pq)
      Pq.writeIndex(Pq.IvfPqIndex(model, homes, codes), t)
      assert(inferred(s"$t/gen=1/homes") === Pq.homesSchema)
      assert(inferred(s"$t/gen=1/codes") === Pq.codesSchema)
      assert(inferred(s"$t/gen=1/moment") === Pq.momentSchema)
    } finally rm(t)
  }

  test("generation-model cache: a new generation reloads; the family guard fires through the cache") {
    import spark.implicits._
    val t = tmp("graft-schema-cache")
    try {
      val vecsA = (0 until 64)
        .map(i => (i.toLong, Seq.tabulate(16)(j => (i + j).toDouble)))
        .toDF("vec_id", "embedding")
      val idxA = {
        val model = Pq.fitIvfPq(vecsA, "embedding")
        val v = vecsA.select(col("vec_id"),
          transform(col("embedding"), _.cast("double")).as("v"))
        val homes = Pq.homesOf(v, model.cents)
        Pq.IvfPqIndex(model, homes,
          Pq.encodeBlocks(Pq.residualsFrom(v, homes, model.cents), "rv", model.pq))
      }
      Pq.writeIndex(idxA, t)
      val loadedA = Pq.readIndex(spark, t)
      // a SECOND generation with a shifted corpus: the reload must serve
      // gen 2's model, not gen 1's cached one
      val vecsB = (0 until 64)
        .map(i => (i.toLong, Seq.tabulate(16)(j => (1000.0 + 3 * i - j))))
        .toDF("vec_id", "embedding")
      val idxB = {
        val model = Pq.fitIvfPq(vecsB, "embedding")
        val v = vecsB.select(col("vec_id"),
          transform(col("embedding"), _.cast("double")).as("v"))
        val homes = Pq.homesOf(v, model.cents)
        Pq.IvfPqIndex(model, homes,
          Pq.encodeBlocks(Pq.residualsFrom(v, homes, model.cents), "rv", model.pq))
      }
      Pq.writeIndex(idxB, t)
      val loadedB = Pq.readIndex(spark, t)
      assert(loadedB.model.cents.sortBy(_._1).map(_._2.toSeq) ===
        idxB.model.cents.sortBy(_._1).map(_._2.toSeq))
      assert(loadedB.model.cents.sortBy(_._1).map(_._2.toSeq) !==
        loadedA.model.cents.sortBy(_._1).map(_._2.toSeq))
      // wrong-family read still fails loud with the model cached
      val e = intercept[IllegalArgumentException](Pq.readIndexRotated(spark, t))
      assert(e.getMessage.contains("family"))
    } finally {
      rm(t)
      Pq.invalidateLoadedModelCache(spark)
    }
  }
}
