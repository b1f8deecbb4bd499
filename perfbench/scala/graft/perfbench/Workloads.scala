package graft.perfbench

import java.io.File
import java.nio.file.{Files, Path}

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.ap.AffinityPropagation
import graft.functions.Pq
import graft.streaming.Streams

/** One benchmark workload: untimed set-up (repeatable), an untimed
  * warm-up, then timed steps in a closed loop until the deadline. A step
  * is one or more calls recorded on the [[Recorder]]; run-level checks
  * and facts land in `checks` / `facts`, and `ledger` holds the digests
  * that must also repeat across runs with the same seed. `data` is the
  * directory holding the fixture copy the inputs come from. */
abstract class Workload(val name: String, val seed: Long, val work: File, val data: String) {
  val checks = ArrayBuffer[Map[String, Any]]()
  val facts = LinkedHashMap[String, Any]()
  val ledger = LinkedHashMap[String, String]()

  /** Steps every run measures, however long they take, so that runs on a
    * faster or slower host still report medians over the same call mix. */
  def minSteps: Int = 1

  def setup(spark: SparkSession): Unit
  def warm(spark: SparkSession): Unit
  def step(spark: SparkSession, rec: Recorder, traced: String => Boolean): Unit
  def finish(spark: SparkSession): Unit = ()

  def check(what: String, ok: Boolean, detail: => String): Unit =
    checks += Map("name" -> what, "ok" -> ok, "detail" -> (if (ok) "" else detail))

  /** Mark a call failed when its output check does not hold. */
  def checkCall(c: Call, ok: Boolean, detail: => String): Unit =
    if (!ok) { c.ok = false; c.error = (c.error + " check: " + detail).trim.take(500) }

  /** A digest value that must repeat: the first sighting is kept, later
    * ones are compared against it. */
  def expectSame(c: Call, key: String, value: String): Unit = ledger.get(key) match {
    case None => ledger(key) = value
    case Some(v) => checkCall(c, v == value, s"$key digest $value != first $v")
  }

  protected def dir(parts: String*): String =
    parts.foldLeft(work)((f, p) => new File(f, p)).getAbsolutePath

  /** Write rows as parquet under the work directory and read them back,
    * so every workload input is a file scan as in production. */
  protected def landed(spark: SparkSession, rows: Seq[Row], schema: StructType,
      path: String): DataFrame = {
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(path)
    spark.read.schema(schema).parquet(path)
  }
}

object Workload {
  val VecSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))
  val DocVecSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))

  def vecRows(vs: Seq[(Long, Array[Float])]): Seq[Row] =
    vs.map { case (id, v) => Row(id, v.toSeq) }

  def digest(s: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(s.getBytes("UTF-8")).take(8).map(b => f"${b & 0xff}%02x").mkString
  }

  def deleteTree(path: String): Unit = {
    val p = new File(path).toPath
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
  }

  def copyTree(from: String, to: String): Unit = {
    deleteTree(to)
    val src = new File(from).toPath
    val dst = new File(to).toPath
    Files.walk(src).forEach { f =>
      val t = dst.resolve(src.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t) else Files.copy(f, t)
    }
  }

  /** (files, bytes) under a directory, checksum sidecars included — what
    * the store costs on disk. */
  def diskUsage(path: String): (Long, Long) = {
    var files = 0L
    var bytes = 0L
    Files.walk(new File(path).toPath).forEach { f =>
      if (Files.isRegularFile(f)) { files += 1; bytes += Files.size(f) }
    }
    (files, bytes)
  }

  def apply(name: String, seed: Long, work: File, data: String): Workload = name match {
    case "ap_n200_dense" => new ApDense(seed, work, data)
    case "vector_store" => new VectorStore(seed, work, data)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

import Workload._

/** Distributed dense AP (`AffinityPropagation.run`) on 200 points: one
  * partition, window pass form, driver planning dominant. The points are
  * the fixture's first 200 rows by vec_id, the set `graft.Bench` times as
  * `ap_dist_n200`; the seed relabels them with fresh ids and shuffles
  * their order. AP is permutation-invariant, so every seed solves the same
  * problem (46 iterations, 30 exemplars) under different ids and row
  * order. */
final class ApDense(seed: Long, work: File, data: String)
    extends Workload("ap_n200_dense", seed, work, data) {
  val N = 200
  /** Three solves, so one slow solve does not move the median; a solve
    * takes ~8 s. */
  override def minSteps: Int = 3
  private var emb: DataFrame = _
  private var reference: Seq[Long] = Nil

  def setup(spark: SparkSession): Unit = {
    val r = Inputs.rng(seed, 3)
    val vecs = Inputs.embeddings(spark, data).take(N).map(_._2)
    val rows = Inputs.shuffled(r, Inputs.distinctIds(r, N).toSeq.zip(vecs))
    emb = landed(spark, vecRows(rows), VecSchema, dir("inputs", "ap"))
    reference = AffinityPropagation.runLocal(spark, emb).exemplars
  }

  /** Half a solve (23 of its 46 iterations). The loop's driver code is
    * still being JIT-compiled for a few solves more; every run times the
    * same sequence of solves after it. */
  def warm(spark: SparkSession): Unit = AffinityPropagation.run(spark, emb, maxIter = 23)

  def step(spark: SparkSession, rec: Recorder, traced: String => Boolean): Unit = {
    val (c, res) = rec.call("solve", traced("solve")) { _ => AffinityPropagation.run(spark, emb) }
    res.foreach { r =>
      c.attrs ++= Seq("iterations" -> r.iterations, "converged" -> r.converged,
        "exemplars" -> r.exemplars.size, "points" -> N)
      checkCall(c, r.converged, s"not converged after ${r.iterations} iterations")
      checkCall(c, r.exemplars == reference,
        s"${r.exemplars.size} exemplars differ from runLocal's ${reference.size}")
      expectSame(c, "solve", digest(s"${r.iterations}|${r.converged}|${r.exemplars.mkString(",")}"))
    }
  }
}

/** The semantic ingest-dedup sink plus IVF-PQ search over the same live
  * index. The seed shuffles the fixture's 2000 vectors: the first 1000
  * seed the store (with its index fit) in set-up, the next ones form the
  * batches, and 64 seed-corpus ids are the queries. A step is one pass:
  * copy the pristine store to a live directory, then `BatchesPerPass`
  * times [batch commit, three top-5 searches], then one compaction, so
  * index increments pile up between compactions as in a serving store and
  * every pass must reproduce the first pass's kept counts and corpus. */
final class VectorStore(seed: Long, work: File, data: String)
    extends Workload("vector_store", seed, work, data) {
  val BatchesPerPass = 2
  val SeedVecs = 1000
  val BatchVecs = 125
  val Queries = 64
  val SearchesPerBatch = 3
  val TopK = 5
  val NProbe = 8
  /** Mean recall@5 over the queries reads 0.24–0.37 across seeds at this
    * index's settings; below the floor the search is returning wrong
    * neighbours, not trading a little recall for speed. */
  val RecallFloor = 0.1
  private var batches: IndexedSeq[DataFrame] = _
  private var qids: DataFrame = _
  private var queryIds: Set[Long] = Set.empty

  private def pristine: String = dir("stores", "pristine")
  private var live: String = _
  private var pass = 0
  private var docsOffered = 0L

  def setup(spark: SparkSession): Unit = {
    val r = Inputs.rng(seed, 2)
    val rows = Inputs.shuffled(r, Inputs.embeddings(spark, data).toSeq)
    val corpus = rows.take(SeedVecs).toSeq
    batches = rows.slice(SeedVecs, SeedVecs + BatchesPerPass * BatchVecs).toSeq
      .grouped(BatchVecs).zipWithIndex.map { case (b, i) =>
        landed(spark, vecRows(b), DocVecSchema, dir("inputs", s"b$i"))
      }.toIndexedSeq
    val picked = Inputs.shuffled(r, corpus.map(_._1)).take(Queries)
    queryIds = picked.toSet
    qids = landed(spark, picked.toSeq.map(Row(_)),
      StructType(Seq(StructField("vec_id", LongType))), dir("inputs", "queries"))
    deleteTree(pristine)
    Streams.initSemanticDedupCorpus(
      landed(spark, vecRows(corpus), DocVecSchema, dir("inputs", "seed")), pristine)
  }

  private def applyBatch(i: Int, target: String): Long =
    Streams.applySemanticDedupBatch(batches(i), i.toLong, target)

  private def topk(spark: SparkSession, target: String, idx: Pq.IvfPqIndex): DataFrame =
    Pq.ivfAdcTopk(Streams.readSemanticCorpus(spark, target), "embedding", idx, TopK,
      NProbe, "doc_id", Some(qids))

  /** One batch, a search and a compaction on a throwaway copy of the
    * store. */
  def warm(spark: SparkSession): Unit = {
    val t = dir("stores", "warm")
    copyTree(pristine, t)
    applyBatch(0, t)
    topk(spark, t, Pq.readIndex(spark, s"$t/_index")).collect()
    Streams.vacuumSemanticCorpus(spark, t)
    deleteTree(t)
  }

  def step(spark: SparkSession, rec: Recorder, traced: String => Boolean): Unit = {
    if (live != null) deleteTree(live)
    pass += 1
    live = dir("stores", s"live$pass")
    copyTree(pristine, live)
    docsOffered = SeedVecs.toLong
    (0 until BatchesPerPass).foreach { i =>
      val (c, res) = rec.call("batch", traced("batch")) { _ => applyBatch(i, live) }
      res.foreach { kept =>
        docsOffered += BatchVecs
        c.attrs ++= Seq("batch" -> i, "offered" -> BatchVecs, "kept" -> kept)
        checkCall(c, kept >= 0, s"batch $i skipped as already committed")
        expectSame(c, s"kept.$i", kept.toString)
      }
      if (!c.ok) return
      searches(spark, rec, traced, i)
    }
    rec.call("compact", traced("compact")) { c =>
      c.attrs("retired") = Streams.vacuumSemanticCorpus(spark, live).size
    }
    endPass(spark)
  }

  private def search(spark: SparkSession, rec: Recorder, c: Call): Array[Row] = {
    val idx = rec.span("read_index") { Pq.readIndex(spark, s"$live/_index") }
    val (gen, tail) = rec.span("resolve") { graft.MarkerStore.resolve(spark, s"$live/_index") }
    c.attrs("live_increments") = tail.size + gen.size
    rec.span("topk") { topk(spark, live, idx).select("i", "k_id", "rnk").collect() }
  }

  private def searches(spark: SparkSession, rec: Recorder, traced: String => Boolean,
      i: Int): Unit = {
    val exact = exactTopK(spark, live)
    (0 until SearchesPerBatch).foreach { _ =>
      val (c, res) = rec.call("search", traced("search"))(c => search(spark, rec, c))
      res.foreach { rows =>
        val byQuery = rows.groupBy(_.getLong(0))
        checkCall(c, byQuery.values.forall(_.length <= TopK),
          s"a query returned ${byQuery.values.map(_.length).max} rows")
        checkCall(c, byQuery.keySet.subsetOf(queryIds), "rows for ids outside the query set")
        val got = byQuery.map { case (q, rs) => q -> rs.sortBy(_.getInt(2)).map(_.getLong(1)).toSeq }
        val recall = queryIds.toSeq.map { q =>
          got.getOrElse(q, Nil).count(exact(q).contains).toDouble / TopK
        }.sum / queryIds.size
        checkCall(c, recall >= RecallFloor, f"recall@5 $recall%.3f is below $RecallFloor")
        c.attrs ++= Seq("queries" -> Queries, "rows" -> rows.length, "recall_at_5" -> recall)
        expectSame(c, s"search.$i",
          digest(got.toSeq.sortBy(_._1).map { case (q, ks) => s"$q:${ks.mkString(",")}" }.mkString(";")))
      }
    }
  }

  /** Exact top-5 (squared L2, self excluded) of every query over the live
    * corpus, on the driver — untimed. */
  private def exactTopK(spark: SparkSession, target: String): Map[Long, Set[Long]] = {
    val corpus = Streams.readSemanticCorpus(spark, target).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    val byId = corpus.toMap
    queryIds.toSeq.map { q =>
      val v = byId(q)
      q -> corpus.iterator.filter(_._1 != q).map { case (id, u) =>
        var s = 0.0
        var j = 0
        while (j < v.length) { val d = v(j) - u(j); s += d * d; j += 1 }
        (s, id)
      }.toSeq.sorted.take(TopK).map(_._2).toSet
    }.toMap
  }

  /** Untimed pass-end checks on the live store, after its compaction. */
  private def endPass(spark: SparkSession): Unit = {
    val ids = Streams.readSemanticCorpus(spark, live).select("doc_id").collect().map(_.getLong(0))
    check(s"pass$pass.ids_distinct", ids.distinct.length == ids.length,
      s"${ids.length - ids.distinct.length} duplicate corpus ids")
    val stats = Streams.readDedupStats(spark, live).count()
    check(s"pass$pass.stats_rows", stats == BatchesPerPass,
      s"_stats holds $stats rows for $BatchesPerPass committed batches")
    val d = digest(ids.sorted.mkString(","))
    ledger.get("corpus") match {
      case None => ledger("corpus") = d
      case Some(first) =>
        check(s"pass$pass.corpus", d == first, s"corpus digest $d != first pass $first")
    }
  }

  override def finish(spark: SparkSession): Unit = {
    val (files, bytes) = diskUsage(live)
    facts ++= Seq("store_files" -> files, "store_bytes" -> bytes,
      "store_docs_offered" -> docsOffered, "passes" -> pass)
  }
}
