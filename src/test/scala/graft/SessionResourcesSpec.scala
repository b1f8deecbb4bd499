package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The one per-session registry: a session's release frees everything
  * graft's calls left in it, a memo computes once under a race, and no
  * module grows its own session map back. */
class SessionResourcesSpec extends SparkSuite {

  test("release(s) frees every RDD the session-state calls persisted, only for s") {
    val vecs = Tables.embeddings(spark, sf001).filter(col("vec_id") < 200)
    val store = tempDir("graft-session-store")
    functions.Pq.writeIndex(functions.Pq.indexOf(vecs, "embedding",
      functions.Pq.fitIvfPq(vecs, "embedding", centroids = 4)), store)
    val baseHeld = SessionResources.held(spark)
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet

    val s2 = spark.newSession()
    import s2.implicits._
    val emb = Tables.embeddings(s2, sf001)
    // four loop partitions: a one-partition AP loop runs in-process and
    // leaves nothing in the session
    s2.conf.set("spark.graft.ap.loopPartitions", "4")
    try ap.AffinityPropagation.run(s2, emb.filter(col("vec_id") < 40),
      maxIter = 3, convergenceIter = 4)
    finally s2.conf.unset("spark.graft.ap.loopPartitions")
    queries.Dedup.componentsStars((1L to 6L).toDF("id"),
      Seq((1L, 2L), (3L, 4L)).toDF("u", "v")).collect()
    queries.Dedup.pagerankEdges(Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("u", "v"),
      iters = 3, checkpointEvery = 2).collect()
    functions.Ann.topkCosine(s2, emb.limit(16), 2).count()
    val ix = functions.Pq.ivfPqIndexCached(emb.filter(col("vec_id") < 200),
      "embedding", centroids = 4)
    ix.homes.count(); ix.codes.count()
    Tables.warm(s2, sf001, Seq("region" -> None))
    functions.Pq.readIndex(s2, store)
    // the local route's edge probe runs in a child session
    queries.Dedup.connectedComponents((1L to 4L).toDF("id"),
      Seq((1L, 2L)).toDF("id_a", "id_b")).collect()

    assert(SessionResources.held(s2).keySet == Set("ap.lastRun", "dedup.lastComponents",
      "dedup.lastPagerank", "ann.lastIndex", "pq.index", "tables.load",
      "tables.warmed", "pq.loadedModel", "checkpoints.children"))
    val added = sc.getPersistentRDDs.keySet -- before
    assert(added.nonEmpty, "the calls persisted nothing to release")

    SessionResources.release(s2)
    val still = sc.getPersistentRDDs.view.filterKeys(added).values
      .filter(r => r.getStorageLevel.useMemory || r.getStorageLevel.useDisk).map(_.id)
    assert(still.isEmpty, s"RDDs still persisted after release: $still")
    assert(SessionResources.held(s2).isEmpty, s"slots still hold ${SessionResources.held(s2)}")
    assert(SessionResources.held(spark) == baseHeld,
      "releasing the second session touched the base session's entries")
  }

  test("a memo computes at most once when two threads race its first use") {
    val memo = SessionResources.slot[String, Int]("test.race")
    val s2 = spark.newSession()
    val computed = new AtomicInteger
    val go = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val results = (1 to 2).map(_ => pool.submit(new Callable[Int] {
        def call(): Int = {
          go.await()
          memo(s2, "k") { computed.incrementAndGet(); Thread.sleep(300); 42 }
        }
      }))
      go.countDown()
      assert(results.map(_.get(60, TimeUnit.SECONDS)) == Seq(42, 42))
      assert(computed.get == 1, s"the memo computed ${computed.get} times")
    } finally {
      pool.shutdown()
      SessionResources.release(s2)
    }
  }

  test("src/main/scala declares java.util.WeakHashMap only in SessionResources.scala") {
    val decl = """(new|import)\s+java\.util\.WeakHashMap|new\s+WeakHashMap""".r
    val files = Files.walk(Paths.get("src/main/scala"))
    val offenders =
      try files.iterator.asScala
        .filter(p => p.toString.endsWith(".scala") &&
          p.getFileName.toString != "SessionResources.scala")
        .filter(p => decl.findFirstIn(Files.readString(p)).isDefined)
        .toList
      finally files.close()
    assert(offenders.isEmpty,
      s"per-module session maps belong in SessionResources slots: $offenders")
  }

  test("src/main/scala has no withAqeOff and sets session conf only in Checkpoints, Tables and Bench") {
    // Checkpoints syncs its child sessions; Tables sets the events read's
    // parquet type conf; Bench is the harness
    val files = Files.walk(Paths.get("src/main/scala"))
    val sources =
      try files.iterator.asScala.filter(_.toString.endsWith(".scala"))
        .map(p => p.getFileName.toString -> Files.readString(p)).toList
      finally files.close()
    assert(sources.size > 20, "the scan found no sources")
    assert(sources.filter(_._2.contains("withAqeOff")).isEmpty)
    val setters = sources.filter(f => """conf\.(set|unset)\b""".r.findFirstIn(f._2).isDefined)
    assert(setters.map(_._1).toSet == Set("Checkpoints.scala", "Tables.scala", "Bench.scala"),
      s"session conf changes belong in a child session (Checkpoints.inChild): ${setters.map(_._1)}")
  }
}
