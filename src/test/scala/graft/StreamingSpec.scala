package graft

import graft.streaming.Streams
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** SURVEY §5.2 item 6 — streaming replay: the §2.I shapes executed as
  * true micro-batch streams over an ordered file-source replay of the
  * events fixture, compared against their batch equivalents; plus the
  * late-data drop that only exists under streaming semantics. */
class StreamingSpec extends SparkSuite {

  /** Write events as `parts` ts-ordered parquet chunks; returns dir. */
  private def replayDir(parts: Int, lateTail: Boolean = false,
      sfDir: String = sf001): String = {
    val dir = tempDir("graft-replay")
    val ev = Tables.events(spark, sfDir).orderBy("ts").collect()
    val schema = Tables.events(spark, sfDir).schema
    val chunks = ev.grouped(math.ceil(ev.length.toDouble / parts).toInt).toSeq
    val ordered = if (lateTail) {
      // move the earliest chunk to the end — its rows arrive hours late
      chunks.tail :+ chunks.head
    } else chunks
    ordered.zipWithIndex.foreach { case (rows, idx) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.parquet(s"$dir/chunk_$idx")
      // register written files under one glob-able dir
    }
    // flatten: move part files up so the stream source sees them in order
    val flat = tempDir("graft-replay-flat")
    ordered.indices.foreach { idx =>
      val src = new java.io.File(s"$dir/chunk_$idx").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(f"$flat/chunk_$idx%03d.parquet")
      Files.copy(src.toPath, dst.toPath)
      dst.setLastModified(System.currentTimeMillis() + idx * 1000)
    }
    flat
  }

  private def runToCompletion(df: DataFrame, name: String, mode: String): DataFrame = {
    val q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }

  test("tumbling windows over an ordered replay match the batch result for closed windows") {
    val dir = replayDir(parts = 4)
    val got = runToCompletion(Streams.tumbling(Streams.eventsStream(spark, dir)),
      "t_tumbling", "append")
      .select(col("ws"), col("event_type"), col("n")).collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toMap2
    val batch = SparkEntry.queries("stream_tumbling")(spark, sf001)
      .select(col("ws"), col("event_type"), col("n")).collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toMap2
    assert(got.nonEmpty, "append mode emitted no closed windows")
    got.foreach { case (k, n) =>
      assert(batch(k) == n, s"window $k: stream=$n batch=${batch(k)}")
    }
  }

  test("streaming dedup emits one row per (user_id, event_type)") {
    val dir = replayDir(parts = 4)
    val got = runToCompletion(Streams.dedup(Streams.eventsStream(spark, dir)),
      "t_dedup", "append")
    val batch = SparkEntry.queries("stream_dedup")(spark, sf001)
    assert(got.select("user_id", "event_type").distinct().count() == got.count())
    assert(got.count() == batch.count())
  }

  test("late rows beyond the watermark are dropped") {
    val dir = replayDir(parts = 5, lateTail = true)
    val got = runToCompletion(Streams.tumbling(Streams.eventsStream(spark, dir)),
      "t_late", "append")
    val totalEmitted = got.agg(sum(col("n"))).head().getLong(0)
    val totalRows = Tables.events(spark, sf001).count()
    // the late chunk's rows fall into windows already closed when it
    // arrives, so they can never be counted
    assert(totalEmitted < totalRows,
      s"late rows were not dropped: emitted=$totalEmitted of $totalRows")
  }

  test("dedupWithinHorizon suppresses near duplicates but evicts state past the horizon") {
    // round-12: Streams.dedup is the exact entity-keyed form (state
    // bounded by key cardinality, never evicted); dedupWithinHorizon is
    // the unbounded-keyspace form whose state the watermark DOES evict.
    // Replay: key A at 10:00 (emit), A again at 10:05 (within horizon —
    // suppressed), key B at 13:00 then key C at 16:00 (emit; the C batch
    // exists because eviction — like late filtering — runs on the
    // PREVIOUS batch's watermark, so A's expired entry needs one more
    // watermark-advancing batch before it is actually removed), then A
    // again at 16:05 (state evicted — emits AGAIN).
    import java.sql.Timestamp
    def ev(id: Long, user: Long, tpe: String, t: String): org.apache.spark.sql.Row =
      org.apache.spark.sql.Row(id, Timestamp.valueOf(t), user, tpe, 1.0, "{}")
    val chunks = Seq(
      Seq(ev(1, 1L, "click", "2024-01-01 10:00:00")),
      Seq(ev(2, 1L, "click", "2024-01-01 10:05:00")),
      Seq(ev(3, 2L, "view", "2024-01-01 13:00:00")),
      Seq(ev(4, 3L, "view", "2024-01-01 16:00:00")),
      Seq(ev(5, 1L, "click", "2024-01-01 16:05:00")))
    val flat = tempDir("graft-dedup-horizon")
    chunks.zipWithIndex.foreach { case (rs, idx) =>
      val tmp = s"${tempDir("graft-dedup-chunk")}/out"
      spark.createDataFrame(java.util.Arrays.asList(rs: _*), Streams.eventsSchema)
        .coalesce(1).write.parquet(tmp)
      val src = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(f"$flat/chunk_$idx%03d.parquet")
      Files.copy(src.toPath, dst.toPath)
      dst.setLastModified(System.currentTimeMillis() + idx * 1000)
    }
    val got = runToCompletion(
        Streams.dedupWithinHorizon(Streams.eventsStream(spark, flat)),
        "t_dedup_horizon", "append")
      .orderBy("event_id").collect().map(_.getLong(0))
    assert(got.toSeq == Seq(1L, 3L, 4L, 5L),
      s"expected rows 1 (first), 3/4 (new keys), 5 (re-emitted after eviction); got ${got.toSeq}")
    // the exact global form on the SAME replay emits key A exactly once
    val exact = runToCompletion(
        Streams.dedup(Streams.eventsStream(spark, flat)),
        "t_dedup_exact", "append")
      .orderBy("event_id").collect().map(_.getLong(0))
    assert(exact.toSeq == Seq(1L, 3L, 4L),
      s"global dedup must emit each key once; got ${exact.toSeq}")
  }

  test("late row inside the watermark horizon is kept (negative control)") {
    // round-11 VERDICT #7: the drop test above only proves beyond-
    // watermark rows vanish; this pins the other half of the contract —
    // an out-of-order row whose window is still open MUST be
    // aggregated. Measured quirk this replay is built around (probe,
    // round 12): Spark filters late INPUT with the PREVIOUS batch's
    // watermark while EVICTING state with the current one — so a row
    // only drops once its window was already finalized a full batch
    // earlier. Hand-built replay (1-h windows, 10-min watermark):
    //   chunk 0: 10:05, 10:40    → window 10:00 has 2 rows
    //   chunk 1: 11:50           → eviction wm 11:40 after this batch
    //   chunk 2: 12:30           → window 10:00 EMITTED (n=2), evicted
    //   chunk 3: 10:35 (late-filter wm now 11:40 ≥ its window end →
    //            DROPPED — were it kept it would re-create 10:00 state
    //            and append a duplicate (10:00, n=1) row), and
    //            12:20 (out-of-order behind 12:30, window 12:00 open →
    //            KEPT)
    //   chunk 4: 13:30           → wm 13:20 closes window 12:00
    // Expected closed windows, exactly three: 10:00 → 2, 11:00 → 1,
    // 12:00 → 2 (12:30 + the kept 12:20); 13:00 never closes.
    import java.sql.Timestamp
    def ev(id: Long, t: String): org.apache.spark.sql.Row =
      org.apache.spark.sql.Row(id, Timestamp.valueOf(t), 1L, "click", 1.0, "{}")
    val chunks = Seq(
      Seq(ev(1, "2024-01-01 10:05:00"), ev(2, "2024-01-01 10:40:00")),
      Seq(ev(3, "2024-01-01 11:50:00")),
      Seq(ev(4, "2024-01-01 12:30:00")),
      Seq(ev(5, "2024-01-01 10:35:00"), ev(6, "2024-01-01 12:20:00")),
      Seq(ev(7, "2024-01-01 13:30:00")))
    val flat = tempDir("graft-late-keep")
    chunks.zipWithIndex.foreach { case (rs, idx) =>
      val tmp = s"${tempDir("graft-late-chunk")}/out"
      spark.createDataFrame(java.util.Arrays.asList(rs: _*), Streams.eventsSchema)
        .coalesce(1).write.parquet(tmp)
      val src = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(f"$flat/chunk_$idx%03d.parquet")
      Files.copy(src.toPath, dst.toPath)
      dst.setLastModified(System.currentTimeMillis() + idx * 1000)
    }
    val got = runToCompletion(Streams.tumbling(Streams.eventsStream(spark, flat)),
      "t_late_keep", "append")
      .orderBy("ws").collect().map(r => (r.getTimestamp(0), r.getLong(2)))
    assert(got.length == 3,
      s"expected exactly 3 closed windows (a 4th means the dropped row re-opened " +
        s"an evicted window), got ${got.toSeq}")
    assert(got.map(_._2).toSeq == Seq(2L, 1L, 2L),
      s"window counts ${got.map(_._2).toSeq} != Seq(2, 1, 2) — the beyond-watermark " +
        "10:35 row must be dropped and the in-horizon 12:20 row must be KEPT")
  }

  test("session windows over replay match batch sessions for closed sessions") {
    val dir = replayDir(parts = 4)
    val got = runToCompletion(Streams.sessions(Streams.eventsStream(spark, dir)),
      "t_sessions", "append")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1)) -> r.getLong(3)).toMap
    val batch = SparkEntry.queries("stream_session")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getTimestamp(1)) -> r.getLong(3)).toMap
    assert(got.nonEmpty, "no closed sessions emitted")
    got.foreach { case (k, n) =>
      assert(batch.get(k).contains(n), s"session $k: stream=$n batch=${batch.get(k)}")
    }
  }

  test("stream-static enrichment matches the batch join") {
    val dir = replayDir(parts = 3)
    val got = runToCompletion(
      Streams.enrich(Streams.eventsStream(spark, dir), Tables.customer(spark, sf001)),
      "t_enrich", "append")
      .select("event_id", "c_name").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val batch = SparkEntry.queries("stream_enrich")(spark, sf001)
      .select("event_id", "c_name").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == batch)
  }

  test("stream-stream interval join emits exactly batch pairs (closed horizon)") {
    val dir = replayDir(parts = 4)
    val got = runToCompletion(
      Streams.clickToPurchase(Streams.eventsStream(spark, dir)),
      "t_ssjoin", "append")
      .select("purchase_id", "click_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = SparkEntry.queries("stream_stream_join")(spark, sf001)
      .select("purchase_id", "click_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.nonEmpty, "stream-stream join emitted nothing")
    // EQUALITY, not coverage (round-10 VERDICT #7): this is an INNER
    // stream-stream join — matches are emitted the micro-batch both
    // sides have arrived in; append-mode withholding applies to outer
    // joins and aggregates, not here. The watermark only bounds state
    // EVICTION, and on the ts-ordered replay no click is evicted before
    // every purchase it could match has been processed (a qualifying
    // purchase has pts ≥ cts ≥ watermark-horizon by construction), so
    // after processAllAvailable the streamed pair set must be exactly
    // the batch pair set.
    assert(got == batch,
      s"streamed pairs != batch pairs: missing=${(batch -- got).take(5)} " +
        s"extra=${(got -- batch).take(5)} " +
        s"(${got.size} streamed vs ${batch.size} batch)")
  }

  test("sf0.1 replay: watermark state stays bounded through the full stream") {
    // round-9 VERDICT #7: the replay tests above run at fixture scale
    // (sf0.001, 1 k events); this one replays the full sf0.1 corpus
    // (100 k events, 30 days) in 60 half-day micro-batches and asserts
    // the STATE STORE stays bounded by the watermark horizon — the
    // property that makes the stream runnable on an unbounded 100 TB/day
    // feed. State is read from the engine's own progress metrics
    // (stateOperators.numRowsTotal), max over all micro-batches.
    val dir = replayDir(parts = 60, sfDir = "/root/testdata/sf0.1")
    def runWithState(df: DataFrame, name: String): (Long, Long) = {
      val q = df.writeStream.outputMode("append").format("memory")
        .queryName(name).start()
      q.processAllAvailable()
      val states = q.recentProgress.flatMap(_.stateOperators.map(_.numRowsTotal))
      q.stop()
      (if (states.isEmpty) 0L else states.max, spark.table(name).count())
    }
    // Stream-stream interval join: watermark 2 h + 1 h join range ⇒ live
    // state is ~(one micro-batch + 3 h horizon) of click/purchase rows,
    // never the whole stream.
    val (joinState, joinRows) =
      runWithState(Streams.clickToPurchase(Streams.eventsStream(spark, dir)),
        "t_state_join_sf01")
    val cpTotal = Tables.events(spark, "/root/testdata/sf0.1")
      .filter(col("event_type").isin("click", "purchase")).count()
    assert(joinRows > 0, "sf0.1 stream-stream join emitted nothing")
    assert(joinState > 0, "no state metrics recorded")
    assert(joinState <= cpTotal / 4,
      s"join state $joinState is not bounded: ${cpTotal} click/purchase rows " +
        "streamed — state should hold only the watermark horizon")
    assert(joinState <= 6000,
      s"join state $joinState exceeds the pinned ceiling (6000 rows ≈ " +
        "one half-day micro-batch + 3 h horizon of click/purchase rows)")
    // Tumbling aggregate: state is open windows × event types — hundreds
    // of windows over 30 days, but bounded eviction keeps live rows tiny.
    val (tumState, tumRows) =
      runWithState(Streams.tumbling(Streams.eventsStream(spark, dir)),
        "t_state_tum_sf01")
    assert(tumRows > 0 && tumState > 0)
    assert(tumState <= 1000,
      s"tumbling state $tumState exceeds the pinned ceiling (open windows " +
        "per type only; 30 days × 24 h × 5 types would be ~3600 if nothing evicted)")
  }

  test("stateful running count matches batch per-user totals") {
    val dir = replayDir(parts = 3)
    // transformWithState requires the RocksDB state store; scope the
    // provider switch to this query (runtime conf, read at query start).
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val got = try runToCompletion(
      Streams.runningCounts(spark, Streams.eventsStream(spark, dir)),
      "t_state", "update")
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    val finals = got.groupBy("user_id").agg(max(col("running_n")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = Tables.events(spark, sf001).groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(finals == batch)
  }

  test("evicting running count: idle-key state is cleared by the event-time timer and counts restart") {
    // Round-14 VERDICT #8 — the 100 TB stateful-stream concern is
    // unbounded per-key state. Controlled replay (gap = 60 min,
    // watermark delay = 10 min): user 1 is active at 10:00/10:01, then
    // idle while user 2's 14:0x events advance the watermark far past
    // user 1's 11:01 expiry (two extra advancing batches so the timer
    // fires under either watermark-propagation convention BEFORE user
    // 1 returns), then user 1 returns at 14:20 and must restart at 1.
    // User 2 is the negative control: never idle past the gap within
    // the run, so no tombstone and an unbroken 1,2,3.
    import java.sql.Timestamp
    def ev(id: Long, user: Long, t: String): org.apache.spark.sql.Row =
      org.apache.spark.sql.Row(id, Timestamp.valueOf(t), user, "click", 1.0, "{}")
    val chunks = Seq(
      Seq(ev(1, 1L, "2024-01-01 10:00:00"), ev(2, 1L, "2024-01-01 10:01:00")),
      Seq(ev(3, 2L, "2024-01-01 14:00:00")),
      Seq(ev(4, 2L, "2024-01-01 14:05:00")),
      Seq(ev(5, 2L, "2024-01-01 14:10:00")),
      Seq(ev(6, 1L, "2024-01-01 14:20:00")))
    val flat = tempDir("graft-evict")
    chunks.zipWithIndex.foreach { case (rs, idx) =>
      val tmp = s"${tempDir("graft-evict-chunk")}/out"
      spark.createDataFrame(java.util.Arrays.asList(rs: _*), Streams.eventsSchema)
        .coalesce(1).write.parquet(tmp)
      val src = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(f"$flat/chunk_$idx%03d.parquet")
      Files.copy(src.toPath, dst.toPath)
      dst.setLastModified(System.currentTimeMillis() + idx * 1000)
    }
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val got = try runToCompletion(
      Streams.runningCountsEvicting(spark,
        Streams.eventsStream(spark, flat), idleGapMinutes = 60),
      "t_evict", "update")
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    val rows = got.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val u1 = rows.filter(r => r._1 == 1L && r._2 >= 0).sortBy(_._2)
    assert(u1 == Seq((1L, 1L, 1L), (1L, 2L, 2L), (1L, 6L, 1L)),
      s"user 1 must count 1,2 then RESTART at 1 after eviction; got $u1")
    val tombs = rows.filter(_._2 == -1L)
    assert(tombs == Seq((1L, -1L, 2L)),
      s"exactly one eviction tombstone (user 1, final n=2) expected; got $tombs")
    val u2 = rows.filter(r => r._1 == 2L).sortBy(_._2)
    assert(u2 == Seq((2L, 3L, 1L), (2L, 4L, 2L), (2L, 5L, 3L)),
      s"user 2 (never idle past the gap) must stay unbroken; got $u2")
  }

  test("running count with processing-time TTL keeps state within the TTL horizon") {
    // The TTLConfig path (wall-clock expiry) — eviction TIMING is
    // nondeterministic by nature, so the deterministic assertion is
    // the other side of the contract: with a TTL far beyond the test's
    // wall clock, per-key state must survive the whole replay and the
    // counts must accumulate ACROSS micro-batches exactly like the
    // untimed form. Drained with Trigger.AvailableNow (not
    // processAllAvailable): a ProcessingTime-mode stateful query keeps
    // scheduling no-data maintenance batches at the default trigger —
    // TTL cleanup is wall-clock work with no data-completion point —
    // so "process everything then stop" must be the TRIGGER's contract,
    // not a wait on the sink. Tiny controlled chunks for the same
    // reason: per-batch RocksDB TTL bookkeeping is the cost driver,
    // and the semantics need only a handful of keys.
    import java.sql.Timestamp
    def ev(id: Long, user: Long, t: String): org.apache.spark.sql.Row =
      org.apache.spark.sql.Row(id, Timestamp.valueOf(t), user, "click", 1.0, "{}")
    val chunks = Seq(
      Seq(ev(1, 1L, "2024-01-01 10:00:00"), ev(2, 2L, "2024-01-01 10:01:00")),
      Seq(ev(3, 1L, "2024-01-01 11:00:00")),
      Seq(ev(4, 1L, "2024-01-01 12:00:00"), ev(5, 2L, "2024-01-01 12:01:00")))
    val flat = tempDir("graft-ttl")
    chunks.zipWithIndex.foreach { case (rs, idx) =>
      val tmp = s"${tempDir("graft-ttl-chunk")}/out"
      spark.createDataFrame(java.util.Arrays.asList(rs: _*), Streams.eventsSchema)
        .coalesce(1).write.parquet(tmp)
      val src = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(f"$flat/chunk_$idx%03d.parquet")
      Files.copy(src.toPath, dst.toPath)
      dst.setLastModified(System.currentTimeMillis() + idx * 1000)
    }
    // Measured hazard (this round): a TTL'd processor schedules a
    // no-data maintenance batch after EVERY batch — wall-clock TTL
    // work never reaches a data-completion point — so even
    // Trigger.AvailableNow never terminates (observed epoch 1193 on 5
    // rows before the 300 s timeout). noDataMicroBatches=false is the
    // knob: batches then run only for data, AvailableNow drains and
    // stops, and expired values are still filtered on read.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val ndKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prev = spark.conf.getOption(key)
    val prevNd = spark.conf.getOption(ndKey)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set(ndKey, "false")
    val got = try {
      val q = Streams.runningCounts(spark, Streams.eventsStream(spark, flat),
          ttl = Some(java.time.Duration.ofHours(24)))
        .writeStream.outputMode("update").format("memory").queryName("t_state_ttl")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(300000), "AvailableNow drain did not finish in 300 s")
      spark.table("t_state_ttl")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
      prevNd match {
        case Some(v) => spark.conf.set(ndKey, v)
        case None => spark.conf.unset(ndKey)
      }
    }
    val rows = got.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._2).toSeq
    assert(rows == Seq((1L, 1L, 1L), (2L, 2L, 1L), (1L, 3L, 2L),
        (1L, 4L, 3L), (2L, 5L, 2L)),
      s"TTL'd state must accumulate across batches within the horizon; got $rows")
  }

  test("foreachBatch sink: per-batch overwrite is idempotent under retry") {
    // The exactly-once sink recipe when the target is a plain file store:
    // each micro-batch writes mode=overwrite into its own batchId-keyed
    // directory, so a failure-retry of a batch REPLACES its own output
    // instead of appending duplicates. The stream writes the replay; then
    // batch 0 is re-run with its own content (simulated retry) and the
    // target must be byte-count identical; the union of batch dirs must
    // equal the source exactly.
    val dir = replayDir(parts = 4)
    val target = tempDir("graft-sink")
    def upsert(df: DataFrame, batchId: Long): Unit =
      df.write.mode("overwrite").parquet(s"$target/batch_id=$batchId")
    val q = Streams.eventsStream(spark, dir).writeStream
      .foreachBatch(upsert _)
      .option("checkpointLocation",
        tempDir("graft-sink-ckpt"))
      .start()
    q.processAllAvailable(); q.stop()
    val readAll = () => spark.read
      .option("basePath", target).parquet(s"$target/batch_id=*")
    val before = readAll().count()
    val beforeIds = readAll().select("event_id").collect().map(_.getLong(0)).sorted.toSeq
    // simulated retry of batch 0: re-write it with its own rows —
    // materialized first (a lazy plan would read the directory the
    // overwrite is deleting)
    val b0df = readAll().filter(col("batch_id") === 0).drop("batch_id")
    val b0 = spark.createDataFrame(
      java.util.Arrays.asList(b0df.collect(): _*), b0df.schema)
    upsert(b0, 0)
    assert(readAll().count() == before, "retry duplicated batch-0 rows")
    val src = Tables.events(spark, sf001)
    assert(before == src.count(), "sink row count != source")
    assert(beforeIds == src.select("event_id").collect().map(_.getLong(0)).sorted.toSeq,
      "sink event ids != source event ids")
  }

  test("streaming upsert sink: foreachBatch MERGE matches the oracled key; replays don't double-apply") {
    import graft.queries.StreamingBatch
    // seed the versioned target, stage the two change batches as two
    // ordered source files (one micro-batch each)
    val targetDir = tempDir("graft-upsert-target")
    Streams.initUpsertTarget(StreamingBatch.upsertTarget(spark, sf001), targetDir)
    val srcDir = tempDir("graft-upsert-src")
    val batches = Seq(StreamingBatch.upsertBatch1(spark, sf001),
      StreamingBatch.upsertBatch2(spark, sf001))
    batches.zipWithIndex.foreach { case (b, idx) =>
      val tmp = s"${tempDir("graft-upsert-chunk")}/out"
      b.coalesce(1).write.parquet(tmp)
      val src = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(f"$srcDir/chunk_$idx%03d.parquet")
      Files.copy(src.toPath, dst.toPath)
      dst.setLastModified(System.currentTimeMillis() + idx * 1000)
    }
    val changes = spark.readStream.schema(batches.head.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val q = Streams.upsertSink(changes, targetDir, "o_orderkey")
      .option("checkpointLocation",
        tempDir("graft-upsert-ckpt"))
      .start()
    q.processAllAvailable(); q.stop()
    def snapshot(): Seq[(Long, Long, Long)] =
      Streams.readUpsertTarget(spark, targetDir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
    val got = snapshot()
    val want = SparkEntry.queries("stream_upsert")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want, s"streamed upsert diverged from the oracled key " +
      s"(got ${got.size} rows, want ${want.size})")
    // layer 1 — the high-water mark: a re-delivered batchId skips
    assert(!Streams.applyUpsertBatch(batches.head, 0L, targetDir, "o_orderkey"),
      "replayed batchId 0 was not skipped by the high-water mark")
    assert(snapshot() == want, "skipped replay still changed the target")
    // layer 2 — merge idempotency through a simulated crash BETWEEN the
    // snapshot write and the marker commit: drop batch 1's marker and
    // re-apply the identical batch; the re-merge must land the same bytes
    val fs = new org.apache.hadoop.fs.Path(targetDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$targetDir/_commits/1"), false)
    assert(Streams.applyUpsertBatch(batches(1), 1L, targetDir, "o_orderkey"),
      "crash-retry did not re-apply")
    assert(snapshot() == want, "crash-retry re-apply changed the final state")
  }

  test("upsert vacuum: readers resolve committed bytes at every step; crash retries idempotently") {
    import graft.queries.StreamingBatch
    val targetDir = tempDir("graft-vacuum-target")
    Streams.initUpsertTarget(StreamingBatch.upsertTarget(spark, sf001), targetDir)
    val batches = Seq(StreamingBatch.upsertBatch1(spark, sf001),
      StreamingBatch.upsertBatch2(spark, sf001))
    assert(Streams.applyUpsertBatch(batches(0), 0L, targetDir, "o_orderkey"))
    assert(Streams.applyUpsertBatch(batches(1), 1L, targetDir, "o_orderkey"))
    def snapshot(): Seq[(Long, Long, Long)] =
      Streams.readUpsertTarget(spark, targetDir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
    val want = snapshot()
    val fs = new org.apache.hadoop.fs.Path(targetDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    def parquetFiles(dir: String): Int =
      if (!fs.exists(p(dir))) -1
      else fs.listStatus(p(dir)).count(f =>
        f.isFile && f.getPath.getName.endsWith(".parquet"))
    // crash #1 — a compacted generation fully written but NOT marked:
    // readers must keep resolving the old generation
    spark.read.parquet(s"$targetDir/snap=1").repartition(1)
      .write.mode("overwrite").parquet(s"$targetDir/snap=1g1")
    assert(snapshot() == want, "uncommitted generation leaked to a reader")
    // mid-vacuum — marker committed, old generation not yet deleted:
    // readers resolve the NEW generation, same rows
    fs.create(p(s"$targetDir/_compactions/1_1"), true).close()
    assert(snapshot() == want, "committed generation changed the rows")
    // vacuum retry completes: compaction skips (already 1 file), the
    // superseded original directory and pre-retention snapshots retire
    val dropped = Streams.vacuumUpsertTarget(spark, targetDir, retain = 2,
      targetBytesPerFile = Long.MaxValue)
    assert(dropped == Seq(-1L), s"retired ids: $dropped")
    assert(snapshot() == want, "vacuum changed the live rows")
    assert(!fs.exists(p(s"$targetDir/snap=-1")), "pre-retention snapshot survived")
    assert(!fs.exists(p(s"$targetDir/_commits/-1")), "retired marker survived")
    assert(!fs.exists(p(s"$targetDir/snap=1")), "superseded generation survived")
    assert(parquetFiles(s"$targetDir/snap=1g1") == 1, "live generation not compact")
    assert(fs.exists(p(s"$targetDir/snap=0")), "retained snapshot was deleted")
    // vacuum is idempotent at the fixpoint
    assert(Streams.vacuumUpsertTarget(spark, targetDir, retain = 2,
      targetBytesPerFile = Long.MaxValue).isEmpty, "second vacuum retired ids")
    assert(snapshot() == want, "idempotent vacuum changed rows")
    // the stream continues on top of the compacted generation: an
    // identical re-merge lands the same bytes as a fresh snapshot
    assert(Streams.applyUpsertBatch(batches(1), 2L, targetDir, "o_orderkey"))
    assert(snapshot() == want, "post-vacuum apply diverged")
    // the REAL compaction path: fragment the fresh snapshot to 4 files
    // (AQE coalesces the fixture-sized merge to one — craft the
    // small-files state vacuum exists to fix), then one vacuum rewrites
    // it to 1 file and retires everything before it
    val rows2 = spark.read.parquet(s"$targetDir/snap=2").localCheckpoint(true)
    rows2.repartition(4).write.mode("overwrite").parquet(s"$targetDir/snap=2")
    val pre = parquetFiles(s"$targetDir/snap=2")
    assert(pre > 1, s"fixture precondition: fresh snapshot has $pre file(s)")
    // an ORPHANED generation of a soon-retired id (written, never
    // marked — the crash-before-marker shape) must also retire: the
    // deletion enumerates generation DIRECTORIES from the filesystem,
    // not the markers (round-18 review: marker-driven deletion alone
    // leaked the orphan forever once its id was superseded)
    rows2.repartition(2).write.mode("overwrite").parquet(s"$targetDir/snap=0g7")
    val dropped2 = Streams.vacuumUpsertTarget(spark, targetDir, retain = 1,
      targetBytesPerFile = Long.MaxValue)
    assert(dropped2 == Seq(0L, 1L), s"retired ids: $dropped2")
    assert(!fs.exists(p(s"$targetDir/snap=0g7")),
      "orphaned (unmarked) generation of a retired id survived vacuum")
    assert(snapshot() == want, "compacting vacuum changed the rows")
    // ONE-CYCLE retention (round-18 ADVICE): the generation THIS call
    // superseded — the live id's original directory — survives until
    // the next vacuum, so a reader that resolved its path just before
    // the compaction marker landed keeps its files for a full cycle
    assert(fs.exists(p(s"$targetDir/snap=2")),
      "generation superseded by this call was deleted in the same call")
    assert(parquetFiles(s"$targetDir/snap=2g1") == 1,
      "compaction did not produce one file")
    assert(!fs.exists(p(s"$targetDir/snap=1g1")), "retired generation survived")
    assert(!fs.exists(p(s"$targetDir/_compactions/1_1")),
      "retired generation marker survived")
    // the NEXT vacuum retires it (deferred deletion completes the cycle)
    assert(Streams.vacuumUpsertTarget(spark, targetDir, retain = 1,
      targetBytesPerFile = Long.MaxValue).isEmpty)
    assert(!fs.exists(p(s"$targetDir/snap=2")),
      "superseded generation survived a second vacuum")
    assert(snapshot() == want, "deferred-retention vacuum changed the rows")
  }

  test("ingest-dedup sink: corpus dups dropped, one keep per new cluster, replay-safe") {
    import spark.implicits._
    // crafted corpus + two batches. Texts are 4-word streams → 3-word
    // shingles; "identical text" pairs at jaccard 1.0, disjoint texts
    // never pair at 0.2.
    val tA = "alpha beta gamma delta"
    val tB = "epsilon zeta eta theta"
    val tC = "iota kappa lambda mu"
    val tD = "nu xi omicron pi"
    val targetDir = tempDir("graft-ingest-dedup")
    Streams.initDedupCorpus(Seq((1L, tA), (2L, tB)).toDF("doc_id", "text"),
      targetDir)
    // batch 0: 10 dups corpus doc 1 (drop); 11 and 12 are a NEW dup
    // cluster (keep the min id 11); 13 is clean (keep)
    val b0 = Seq((10L, tA), (11L, tC), (12L, tC), (13L, tD))
      .toDF("doc_id", "text")
    assert(Streams.applyDedupBatch(b0, 0L, targetDir) == 2L,
      "batch 0 must keep exactly {11, 13}")
    def corpusIds(): Seq[Long] =
      Streams.readDedupCorpus(spark, targetDir)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(corpusIds() == Seq(1L, 2L, 11L, 13L), s"after b0: ${corpusIds()}")
    // batch 1: 20 dups doc 11 — which LANDED in batch 0, so it drops
    // (the accumulated corpus, not just the seed, is the dedup target);
    // 21 dups the DROPPED 12's text too (same cluster as 11 — drops);
    // 22 is clean
    val b1 = Seq((20L, tC), (21L, tC), (22L, "rho sigma tau upsilon"))
      .toDF("doc_id", "text")
    assert(Streams.applyDedupBatch(b1, 1L, targetDir) == 1L,
      "batch 1 must keep exactly {22}")
    assert(corpusIds() == Seq(1L, 2L, 11L, 13L, 22L), s"after b1: ${corpusIds()}")
    // observability sidecar ≡ independently recomputed values on this
    // crafted fixture. batch 0: 4 in, kept {11,13}, 10 dropped as a
    // corpus dup (pairs 1), 12 within-batch (non-min of cluster
    // {11,12}), pairs {10-1, 11-12}. batch 1: 3 in, kept {22}, 20 and
    // 21 corpus dups (11 landed), pairs {20-11, 21-11, 20-21}.
    val stats = Streams.readDedupStats(spark, targetDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
      .sortBy(_._1).toSeq
    assert(stats == Seq(
      (0L, 4L, 2L, 1L, 1L, 2L, 0L),
      (1L, 3L, 1L, 2L, 0L, 3L, 0L)),
      s"stats rows diverged from hand-derived values: $stats")
    // provenance sidecar: every dropped doc mapped to the landed doc it
    // duplicated — 10 lost to corpus doc 1; 12 lost within-batch to the
    // kept 11; 20 and 21 duplicated the (by then landed) 11
    val dups = Streams.readDedupAttribution(spark, targetDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dups == Map(10L -> 1L, 12L -> 11L, 20L -> 11L, 21L -> 11L),
      s"attribution diverged: $dups")
    // layer 1 — a re-delivered batchId skips without touching data
    assert(Streams.applyDedupBatch(b0, 0L, targetDir) == -1L,
      "replayed batchId 0 was not skipped")
    assert(corpusIds() == Seq(1L, 2L, 11L, 13L, 22L), "skip changed the corpus")
    // layer 2 — crash between increment write and marker: drop batch
    // 1's marker and re-apply; the increment rewrites byte-identically
    val fs = new org.apache.hadoop.fs.Path(targetDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$targetDir/_commits/1"), false)
    assert(corpusIds() == Seq(1L, 2L, 11L, 13L), "unmarked increment leaked")
    assert(Streams.applyDedupBatch(b1, 1L, targetDir) == 1L,
      "crash-retry did not re-apply")
    assert(corpusIds() == Seq(1L, 2L, 11L, 13L, 22L), "retry diverged")
    // id hygiene fails loud (corpus collision / within-batch repeat)
    val boomC = intercept[IllegalArgumentException] {
      Streams.applyDedupBatch(Seq((11L, tD)).toDF("doc_id", "text"), 2L, targetDir)
    }
    assert(boomC.getMessage.contains("already in the corpus"))
    val boomB = intercept[IllegalArgumentException] {
      Streams.applyDedupBatch(Seq((30L, tD), (30L, tD)).toDF("doc_id", "text"),
        2L, targetDir)
    }
    assert(boomB.getMessage.contains("repeated within the batch"))
    // REDACTION (GDPR delete): removing corpus doc 1 filters every live
    // dataset atomically behind the generation marker — its text may be
    // RE-INGESTED and must now be kept (the content owner is gone),
    // while dups of remaining docs still drop against the filtered
    // shingle store; attribution rows mentioning the id vanish
    assert(Streams.redactDedupCorpus(spark, targetDir,
      Seq(1L).toDF("id")) == 1L)
    assert(corpusIds() == Seq(2L, 11L, 13L, 22L), s"post-redact: ${corpusIds()}")
    assert(Streams.readDedupAttribution(spark, targetDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(12L -> 11L, 20L -> 11L, 21L -> 11L),
      "attribution rows mentioning the redacted id survived")
    assert(Streams.applyDedupBatch(
      Seq((60L, tA), (61L, tC)).toDF("doc_id", "text"), 2L, targetDir) == 1L,
      "must keep the re-ingested redacted content and drop the live dup")
    assert(corpusIds() == Seq(2L, 11L, 13L, 22L, 60L))
    // the REAL stream drives the same transactions through foreachBatch.
    // A target is bound to ONE checkpoint lineage (the high-water mark
    // encodes "batch N applied" — a fresh checkpoint restarting at
    // batchId 0 against a pre-advanced target correctly SKIPS, exactly
    // the Delta txn-appId semantics), so the stream gets its own
    // freshly-seeded target.
    val target2 = tempDir("graft-ingest-dedup2")
    Streams.initDedupCorpus(Seq((1L, tA), (2L, tB)).toDF("doc_id", "text"),
      target2)
    val streamDir = tempDir("graft-ingest-src")
    Seq(Seq((40L, tA), (41L, "phi chi psi omega")),
        Seq((42L, "phi chi psi omega"), (43L, tC)))
      .zipWithIndex.foreach { case (rows, idx) =>
        val tmp = s"${tempDir("graft-ingest-chunk")}/out"
        rows.toDF("doc_id", "text").coalesce(1).write.parquet(tmp)
        val src = new java.io.File(tmp).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dst = new java.io.File(f"$streamDir/chunk_$idx%03d.parquet")
        Files.copy(src.toPath, dst.toPath)
        dst.setLastModified(System.currentTimeMillis() + idx * 1000)
      }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val q = Streams.dedupIngestSink(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
          .parquet(streamDir), target2)
      .option("checkpointLocation",
        tempDir("graft-ingest-ckpt"))
      .start()
    q.processAllAvailable(); q.stop()
    // chunk 0: 40 dups corpus doc 1 (drop), 41 clean (keep);
    // chunk 1: 42 dups the LANDED 41 (drop), 43 clean (keep)
    val got2 = Streams.readDedupCorpus(spark, target2)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got2 == Seq(1L, 2L, 41L, 43L), s"streamed ingest: $got2")
  }

  test("ingest-dedup store: kept set ≡ the rescan form; history text never re-read; vacuum bounds the plan") {
    import graft.queries.Dedup
    import spark.implicits._
    val docs = Tables.documents(spark, sf001).select("doc_id", "text")
    // seed + 3 batches partitioned by doc_id — the fixture corpus has
    // genuine near-dup structure, so keeps/drops exercise every branch
    val seed = docs.filter(col("doc_id") % 4 === 0)
    val batches = (1 to 3).map(r => docs.filter(col("doc_id") % 4 === r))
    val targetDir = tempDir("graft-ingest-store")
    Streams.initDedupCorpus(seed, targetDir)
    // the RESCAN form — the round-18 body (full corpus∪batch
    // re-shingle + fresh df probe every batch) — is the oracle the
    // store-backed kernel must match byte-for-byte on kept sets
    def rescanKeeps(corpusDocs: DataFrame, batch: DataFrame): Set[Long] = {
      val all = corpusDocs.unionByName(batch)
      val sh = Dedup.hashedShinglePlan(spark, all)
      val pairs = Dedup.jaccardPairsHashedFrom(
          sh, 0.2, Dedup.hotShingleProbe(sh), Some(batch.select("doc_id")))
        .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"))
      val nodes = batch.select(col("doc_id").as("id"))
        .unionByName(pairs.select(col("id_a").as("id")))
        .unionByName(pairs.select(col("id_b").as("id")))
        .distinct()
      val comp = Dedup.connectedComponents(nodes, pairs, nodesComplete = true)
      val corpusComps = comp.join(
          corpusDocs.select(col("doc_id").as("id")), Seq("id"), "left_semi")
        .select(col("component")).distinct()
      comp.join(batch.select(col("doc_id").as("id")), Seq("id"), "left_semi")
        .join(corpusComps, Seq("component"), "left_anti")
        .groupBy("component").agg(min(col("id")).as("doc_id"))
        .select("doc_id").collect().map(_.getLong(0)).toSet
    }
    def corpusIds(): Set[Long] = Streams.readDedupCorpus(spark, targetDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    var rescanCorpus = seed
    var landed = corpusIds()
    batches.zipWithIndex.foreach { case (b, i) =>
      val want = rescanKeeps(rescanCorpus, b)
      val n = Streams.applyDedupBatch(b, i.toLong, targetDir)
      val got = corpusIds() -- landed
      assert(got == want,
        s"batch $i kept set diverged from the rescan form: " +
          s"extra=${(got -- want).toSeq.sorted.take(5)} " +
          s"missing=${(want -- got).toSeq.sorted.take(5)}")
      assert(n == want.size)
      landed = corpusIds()
      rescanCorpus = rescanCorpus.unionByName(
        b.join(want.toSeq.toDF("doc_id"), Seq("doc_id"), "left_semi"))
        .localCheckpoint(true)
    }
    // --- history text is never re-read: scramble every landed doc's
    // TEXT in place (ids preserved) and re-ingest an exact copy of a
    // landed document's original text. The store-backed kernel still
    // drops it (the pair formed against STORED shingles); a rescan of
    // the scrambled corpus would have found no shingles and kept it.
    val probeDoc = seed.orderBy("doc_id").limit(1).collect()(0)
    val fs = new org.apache.hadoop.fs.Path(targetDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    (Seq(-1L) ++ (0L to 2L)).foreach { id =>
      val dir = s"$targetDir/inc=$id"
      val ids = spark.read.parquet(dir).select("doc_id")
        .collect().map(_.getLong(0)).toSeq
      ids.map(i => (i, "zz")).toDF("doc_id", "text")
        .write.mode("overwrite").parquet(dir)
    }
    assert(Streams.applyDedupBatch(
        Seq((900001L, probeDoc.getString(1))).toDF("doc_id", "text"),
        3L, targetDir) == 0L,
      "a dup of landed content survived after the history text was " +
        "scrambled - the kernel re-read text instead of the shingle store")
    // --- vacuum: generation 1 compacts; one-cycle retention keeps the
    // increments this call covered; the SECOND vacuum retires them;
    // increment _commits markers (the high-water mark) never retire
    val before = corpusIds()
    assert(Streams.vacuumDedupCorpus(spark, targetDir).isEmpty,
      "first vacuum retired increments its own generation just covered")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$targetDir/gen=1/docs")))
    assert(corpusIds() == before, "vacuum changed the corpus")
    assert(Streams.vacuumDedupCorpus(spark, targetDir) ==
      Seq(-1L, 0L, 1L, 2L, 3L), "second vacuum must retire covered increments")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$targetDir/inc=-1")),
      "covered increment data survived the deferred retirement")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$targetDir/_commits/-1")),
      "increment marker (the high-water mark) was deleted")
    assert(corpusIds() == before, "retirement changed the corpus")
    assert(Streams.readDedupStats(spark, targetDir)
      .select("batch_id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(0L, 1L, 2L, 3L), "vacuum truncated the stats history")
    // the sink continues on top of the compacted generation: a stale
    // batchId still skips (markers survived), a fresh one applies and
    // pairs against the GENERATION's shingle store
    assert(Streams.applyDedupBatch(
      Seq((900002L, "qq")).toDF("doc_id", "text"), 3L, targetDir) == -1L)
    assert(Streams.applyDedupBatch(
        Seq((900002L, probeDoc.getString(1)), (900003L, "aa bb cc dd ee"))
          .toDF("doc_id", "text"), 4L, targetDir) == 1L,
      "post-vacuum batch must drop the landed dup and keep the clean doc")
    assert(corpusIds() == before + 900003L)
    // third vacuum compacts gen 2 over (gen 1 + inc 4); gen 1 survives
    // one cycle, then retires
    Streams.vacuumDedupCorpus(spark, targetDir)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$targetDir/gen=2/docs")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$targetDir/gen=1")),
      "the generation this call superseded must survive one cycle")
    assert(corpusIds() == before + 900003L)
    Streams.vacuumDedupCorpus(spark, targetDir)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$targetDir/gen=1")),
      "superseded generation survived a second vacuum")
    assert(corpusIds() == before + 900003L)
    assert(Streams.readDedupStats(spark, targetDir)
      .select("batch_id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(0L, 1L, 2L, 3L, 4L),
      "stats history lost across generation folds")
  }

  test("ingest-dedup store engages the hot-shingle cap from merged df partials") {
    import spark.implicits._
    // 1031 four-word docs sharing ONE trigram (the quick fox ·) — its
    // merged df (1 from the seed's stored partial + 1030 from the
    // batch) crosses the 1024 cap, so the probe must flag it from the
    // PARTIALS (no text recount) and the capped kernel's hot-dominated
    // sweep must still find every pair: each doc pair shares only the
    // hot shingle (jaccard 1/3 ≥ 0.2), so the whole batch is one
    // cluster around the seed and NOTHING lands. A fresh clean doc
    // then lands normally, and the stats row records the hot count.
    def mk(i: Long) = (i, s"the quick fox w$i")
    val target = tempDir("graft-ingest-hot")
    Streams.initDedupCorpus(Seq(mk(0)).toDF("doc_id", "text"), target)
    val batch = (1L to 1030L).map(mk).toDF("doc_id", "text")
    assert(Streams.applyDedupBatch(batch, 0L, target) == 0L,
      "a hot-only dup cluster leaked past the capped incremental kernel")
    def ids(): Set[Long] = Streams.readDedupCorpus(spark, target)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids() == Set(0L))
    val st = Streams.readDedupStats(spark, target)
      .filter(col("batch_id") === 0).collect()(0)
    assert(st.getAs[Long]("n_hot_shingles") == 1L,
      s"hot probe missed the above-cap shingle: $st")
    assert(st.getAs[Long]("n_dropped_corpus_dup") == 1030L)
    assert(Streams.applyDedupBatch(
      Seq((5000L, "zz yy xx ww vv")).toDF("doc_id", "text"), 1L, target) == 1L)
    assert(ids() == Set(0L, 5000L))
    // provenance: every dropped doc attributes to the seed
    val dups = Streams.readDedupAttribution(spark, target)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(dups.length == 1030 && dups.forall(_._2 == 0L),
      "hot-cluster drops must attribute to the seed")
  }

  /** One committed batch's (SQL executions, jobs) on a fresh target
    * seeded by `init`, then the three exit paths — commit, high-water
    * mark skip, id-hygiene rejection — each leaving the persistent-RDD
    * set as it found it. A rejected batch must not advance the marker. */
  private def pinBatch(prefix: String, init: String => Unit, batch: DataFrame,
      repeated: DataFrame, apply: (DataFrame, Long, String) => Long): ((Int, Int), Long) = {
    val target = tempDir(prefix)
    def persisted() = spark.sparkContext.getPersistentRDDs.keySet.toSet
    init(target)
    val before = persisted()
    var n = -2L
    val cost = actionsDuring { n = apply(batch, 0L, target) }
    assert(n >= 0, "the pinned batch did not commit")
    assert(persisted() == before, "a committed batch left a checkpoint pinned")
    assert(apply(batch, 0L, target) == -1L)
    assert(persisted() == before, "a high-water-mark skip left a checkpoint pinned")
    val e = intercept[IllegalArgumentException](apply(repeated, 1L, target))
    assert(e.getMessage.contains("repeated within the batch"))
    assert(!MarkerStore.committedIncs(spark, target).contains(1L),
      "a rejected batch advanced the marker")
    assert(persisted() == before, "a rejected batch left a checkpoint pinned")
    (cost, n)
  }

  test("lexical sink: a committed batch runs a fixed action budget; every exit path releases its checkpoints") {
    val docs = Tables.documents(spark, sf001).select("doc_id", "text")
    val one = docs.filter(col("doc_id") % 4 === 2).orderBy("doc_id").limit(1)
    val (cost, n) = pinBatch("graft-ingest-pin",
      Streams.initDedupCorpus(docs.filter(col("doc_id") % 4 === 0), _),
      docs.filter(col("doc_id") % 4 === 1), one.unionByName(one),
      Streams.applyDedupBatch(_, _, _))
    info(s"lexical batch: kept $n, (SQL executions, jobs) = $cost")
    assert(cost == ((14, 35)), s"lexical per-batch budget moved: $cost")
  }

  test("semantic sink: a committed batch runs a fixed action budget; every exit path releases its checkpoints") {
    val emb = Tables.embeddings(spark, sf001)
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val one = emb.filter(col("doc_id") % 3 === 2).orderBy("doc_id").limit(1)
    val (cost, n) = pinBatch("graft-sem-pin",
      Streams.initSemanticDedupCorpus(emb.filter(col("doc_id") % 3 === 0), _),
      emb.filter(col("doc_id") % 3 === 1), one.unionByName(one),
      Streams.applySemanticDedupBatch(_, _, _))
    info(s"semantic batch: kept $n, (SQL executions, jobs) = $cost")
    // the batch's cold index load reads meta, cents and codebooks under
    // declared schemas: one collect job each, no footer-inference job
    assert(cost == ((22, 44)), s"semantic per-batch budget moved: $cost")
  }

  test("stored search over a semantic store runs a fixed action budget at 1, 2 and 3 docs parts; a compaction runs a fixed budget") {
    // every docs part reads under the store's declared schema, so the
    // search's job count does not grow with the increment tail
    import spark.implicits._
    import graft.functions.Pq
    val emb = Tables.embeddings(spark, sf001)
      .select(col("vec_id").as("doc_id"), col("embedding"))
    val target = tempDir("graft-sem-search-pin")
    val indexDir = s"$target/_index"
    Streams.initSemanticDedupCorpus(emb.filter(col("doc_id") % 4 === 0), target)
    val qids = emb.filter(col("doc_id") % 4 === 0).select("doc_id").orderBy("doc_id")
      .limit(16).collect().map(_.getLong(0)).toSeq.toDF("vec_id")
    def searchCost(): (Int, Int) = {
      Pq.readIndex(spark, indexDir) // the generation model is cached
      actionsDuring {
        Pq.ivfAdcTopk(Streams.readSemanticCorpus(spark, target), "embedding",
          Pq.readIndex(spark, indexDir), 5, 8, "doc_id", Some(qids)).collect()
        ()
      }
    }
    val costs = Seq(searchCost()) ++ (1 to 2).map { i =>
      assert(Streams.applySemanticDedupBatch(
        emb.filter(col("doc_id") % 4 === i), i.toLong, target) >= 0)
      searchCost()
    }
    info(s"search (SQL executions, jobs) at 1, 2, 3 docs parts: $costs")
    assert(costs.distinct.size == 1, s"the search budget grows with the docs parts: $costs")
    assert(costs.head == ((1, 7)), s"stored search budget moved: ${costs.head}")
    val compact = actionsDuring { Streams.vacuumSemanticCorpus(spark, target); () }
    info(s"compaction (SQL executions, jobs) = $compact")
    assert(compact == ((12, 14)), s"compaction budget moved: $compact")
  }

  test("semantic ingest-dedup sink: IVF candidates + exact rerank, keep ≡ same-pair replay, recall floor, drift refit") {
    import spark.implicits._
    import graft.functions.Pq
    import graft.queries.Dedup
    // cast once so stored increments, batch frames, and driver-side
    // collects all carry double arrays
    val emb = Tables.embeddings(spark, sf001)
      .select(col("vec_id").as("doc_id"),
        transform(col("embedding"), _.cast("double")).as("embedding"))
    val seed = emb.filter(col("doc_id") % 3 === 0)
    val batches = (1 to 2).map(r => emb.filter(col("doc_id") % 3 === r))
    val target = tempDir("graft-sem-ingest")
    Streams.initSemanticDedupCorpus(seed, target)
    def corpusIds(): Set[Long] = Streams.readSemanticCorpus(spark, target)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    def indexSize(): Long =
      Pq.readIndex(spark, s"$target/_index").homes.count()
    var landed = corpusIds()
    assert(indexSize() == landed.size, "seed index must cover the seed")
    batches.zipWithIndex.foreach { case (bt, i) =>
      val corpus = Streams.readSemanticCorpus(spark, target)
      val idx = Pq.readIndex(spark, s"$target/_index")
      // the sink's own pair stage, replayed with an UNPRUNED (flat)
      // corpus reader: pins the keep rule and the transaction plumbing
      // independently of the writes, AND that the sink's partition-
      // pruned lookup changes nothing (pruning only drops files no
      // candidate lives in — kept sets must match below)
      val pairs = Streams.semanticBatchPairs(spark, idx,
          _ => corpus, bt, 0.4, 12)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // recall floor vs the EXACT batch-touching cosine ≥ 0.4 graph
      // (the dedup_embedding block-pair kernel); candidate pairs must
      // also be a SUBSET — the rerank is exact, so no false positives
      val bIds = bt.select("doc_id").collect().map(_.getLong(0)).toSet
      val exact = Dedup.embeddingPairsOf(spark,
          corpus.unionByName(bt)
            .select(col("doc_id").as("vec_id"), col("embedding")), 0.4)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .filter(p => bIds(p._1) || bIds(p._2)).toSet
      assert(pairs.subsetOf(exact),
        s"sink emitted pairs the exact graph rejects: ${(pairs -- exact).take(3)}")
      val recall =
        if (exact.isEmpty) 1.0 else pairs.intersect(exact).size.toDouble / exact.size
      info(f"batch $i: ${exact.size} exact pairs, candidate recall $recall%.3f")
      assert(recall >= 0.8, s"batch $i candidate recall $recall under the floor")
      // expected keep set: the shared D6 rule over the sink's own pairs
      val want = {
        val pdf = pairs.toSeq.toDF("id_a", "id_b")
        val comp = Dedup.connectedComponents(
          bt.select(col("doc_id").as("id"))
            .unionByName(pdf.select(col("id_a").as("id")))
            .unionByName(pdf.select(col("id_b").as("id"))).distinct(),
          pdf, nodesComplete = true)
        val corpusComps = comp.join(corpus.select(col("doc_id").as("id")),
          Seq("id"), "left_semi").select("component").distinct()
        comp.join(bt.select(col("doc_id").as("id")), Seq("id"), "left_semi")
          .join(corpusComps, Seq("component"), "left_anti")
          .groupBy("component").agg(min(col("id")).as("doc_id"))
          .select("doc_id").collect().map(_.getLong(0)).toSet
      }
      val n = Streams.applySemanticDedupBatch(bt, i.toLong, target,
        nprobe = 12)
      val got = corpusIds() -- landed
      assert(got == want, s"batch $i kept set diverged: " +
        s"extra=${(got -- want).take(3)} missing=${(want -- got).take(3)}")
      assert(n == want.size)
      landed = corpusIds()
      assert(indexSize() == landed.size,
        "index must cover exactly the landed corpus")
    }
    // exactly-once: stale id skips; crash between the index commit and
    // the outer marker retries cleanly (the index increment SKIPS, the
    // doc increment rewrites)
    assert(Streams.applySemanticDedupBatch(batches(1), 1L, target,
      nprobe = 12) == -1L)
    val fs = new org.apache.hadoop.fs.Path(target)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$target/_commits/1"), false)
    val before = landed
    val n1 = Streams.applySemanticDedupBatch(batches(1), 1L, target,
      nprobe = 12)
    assert(n1 >= 0 && corpusIds() == before, "crash retry diverged")
    assert(indexSize() == before.size, "crash retry duplicated index rows")
    // DRIFT path: negated ×50 vectors keep their pairwise cosines (so
    // some survive the dedup) but shift the residual moments ~2500× —
    // the sink must REFIT and persist the next index generation
    val gen0 = graft.MarkerStore.liveGen(spark, s"$target/_index").get._1
    val drifted = seed.collect().take(24)
      .map(r => (10000L + r.getLong(0),
        r.getSeq[Double](1).map(_ * -50.0)))
      .toSeq.toDF("doc_id", "embedding")
    val nd = Streams.applySemanticDedupBatch(drifted, 2L, target)
    assert(nd >= 1, "no drifted doc survived - the refit path never ran")
    val gen1 = graft.MarkerStore.liveGen(spark, s"$target/_index").get._1
    assert(gen1 > gen0, s"drift did not advance the index generation ($gen0)")
    assert(indexSize() == corpusIds().size,
      "refit index must cover exactly the landed corpus")
    // observability: per-batch stats rows balance (batch = kept + both
    // drop kinds) and the index decision is recorded — appended for the
    // in-distribution batches, refit for the drifted one
    val sstats = Streams.readDedupStats(spark, target)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getString(6)))
      .sortBy(_._1).toSeq
    sstats.foreach { case (id, nb, nk, ncd, nwb, _) =>
      assert(nb == nk + ncd + nwb, s"stats row $id does not balance")
    }
    // batch 0 appended; batch 1's row was REWRITTEN by the crash retry
    // above, whose index work correctly skipped; the drifted batch refit
    assert(sstats.map(_._6) == Seq("appended", "skipped", "refit"),
      s"index decisions: ${sstats.map(_._6)}")
    // provenance: exactly the dropped ids appear, each attributed to a
    // doc that actually landed
    val sdups = Streams.readDedupAttribution(spark, target)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val allIn = (batches.map(b => b.select("doc_id").collect()
      .map(_.getLong(0)).toSet) :+ drifted.select("doc_id").collect()
      .map(_.getLong(0)).toSet).reduce(_ ++ _)
    assert(sdups.keySet == allIn -- corpusIds(),
      "attribution keys must be exactly the dropped ingest ids")
    assert(sdups.values.toSet.subsetOf(corpusIds()),
      "an attribution points at a doc that never landed")
    // compaction: docs+dups+index fold into generations; corpus, index
    // and attribution all read back unchanged; the second vacuum
    // retires covered increments (one-cycle) while markers survive
    val beforeV = corpusIds()
    assert(Streams.vacuumSemanticCorpus(spark, target).isEmpty)
    assert(corpusIds() == beforeV && indexSize() == beforeV.size)
    val retiredV = Streams.vacuumSemanticCorpus(spark, target)
    assert(retiredV == Seq(-1L, 0L, 1L, 2L), s"retired: $retiredV")
    assert(corpusIds() == beforeV && indexSize() == beforeV.size,
      "compaction changed the corpus or the index")
    assert(Streams.readDedupAttribution(spark, target)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == sdups,
      "compaction changed the attribution log")
    val ifs = new org.apache.hadoop.fs.Path(target)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!ifs.exists(new org.apache.hadoop.fs.Path(s"$target/inc=-1")),
      "covered doc increment survived the deferred retirement")
    assert(ifs.exists(new org.apache.hadoop.fs.Path(s"$target/_commits/-1")),
      "increment marker (the high-water mark) was deleted")
    // the sink continues on top of the compacted state (embedding dim
    // taken from the fixture so the model guard passes)
    val dim = seed.limit(1).collect()(0).getSeq[Double](1).length
    assert(Streams.applySemanticDedupBatch(
      Seq((20000L, Seq.fill(dim)(0.5))).toDF("doc_id", "embedding"),
      3L, target, nprobe = 12) >= 0)
    assert(indexSize() == corpusIds().size,
      "post-compaction batch broke corpus/index parity")
    // REDACTION (GDPR delete) on the semantic target: a landed doc that
    // other docs were deduped AGAINST leaves the corpus, the index
    // (filtered homes/codes — no refit), and the provenance log in one
    // generation step; transactions continue cleanly afterwards
    val (dropped1, rep1) = sdups.head
    assert(Streams.redactSemanticCorpus(spark, target,
      Seq(rep1).toDF("id")) == 1L)
    assert(!corpusIds().contains(rep1), "redacted doc still in the corpus")
    assert(indexSize() == corpusIds().size,
      "redacted index must cover exactly the post-redaction corpus")
    assert(!Pq.readIndex(spark, s"$target/_index").homes
      .filter(col("vec_id") === rep1).limit(1).collect().nonEmpty,
      "redacted doc still serves as a search candidate (ghost)")
    assert(Streams.readDedupAttribution(spark, target).collect()
      .forall(r => r.getLong(0) != rep1 && r.getLong(1) != rep1),
      s"attribution rows mentioning redacted $rep1 survived (dropped $dropped1)")
    assert(Streams.applySemanticDedupBatch(
      Seq((30000L, Seq.fill(dim)(0.25))).toDF("doc_id", "embedding"),
      4L, target, nprobe = 12) >= 0)
    assert(indexSize() == corpusIds().size,
      "post-redaction batch broke corpus/index parity")
    // the REAL stream drives the same transactions through foreachBatch
    // on a freshly-seeded target (batchIds restart at 0 per checkpoint
    // lineage) — final corpus must equal the direct-path result after
    // the same two batches
    val target2 = tempDir("graft-sem-ingest2")
    Streams.initSemanticDedupCorpus(seed, target2)
    val streamDir = tempDir("graft-sem-src")
    batches.zipWithIndex.foreach { case (bt, idx) =>
      val tmp = s"${tempDir("graft-sem-chunk")}/out"
      bt.coalesce(1).write.parquet(tmp)
      val src = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(f"$streamDir/chunk_$idx%03d.parquet")
      Files.copy(src.toPath, dst.toPath)
      dst.setLastModified(System.currentTimeMillis() + idx * 1000)
    }
    val q = Streams.dedupIngestSinkSemantic(
        spark.readStream.schema(emb.schema)
          .option("maxFilesPerTrigger", "1").parquet(streamDir),
        target2, nprobe = 12)
      .option("checkpointLocation",
        tempDir("graft-sem-ckpt"))
      .start()
    q.processAllAvailable(); q.stop()
    val streamed = Streams.readSemanticCorpus(spark, target2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamed == before,
      s"streamed semantic corpus diverged from the direct path: " +
        s"extra=${(streamed -- before).take(3)} missing=${(before -- streamed).take(3)}")
  }

  test("semantic corpus layout: rerank lookup partition-prunes to probed cells; stale layouts read whole; compaction re-homes; fan-in bounded") {
    // round-19 VERDICT #1 (the round's one scale-grade weak): the
    // exact rerank's corpus-vector lookup must touch only
    // candidate-bearing files. The pin is the scan's own file listing
    // (FileSourceScanExec.selectedPartitions — what the executors will
    // actually read), plus the stale-layout and re-home halves of the
    // contract.
    import spark.implicits._
    import graft.functions.Pq
    val emb = Tables.embeddings(spark, sf001)
      .select(col("vec_id").as("doc_id"),
        transform(col("embedding"), _.cast("double")).as("embedding"))
    val seed = emb.filter(col("doc_id") % 3 === 0)
    val target = tempDir("graft-sem-layout")
    val indexDir = s"$target/_index"
    Streams.initSemanticDedupCorpus(seed, target)
    val ig = MarkerStore.liveGen(spark, indexDir).get._1
    val idx = Pq.readIndex(spark, indexDir)
    val allCells = idx.homes.select("c_id").distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(allCells.size >= 4, s"fixture precondition: cells $allCells")
    val probed = allCells.take(allCells.size / 2)
    def scannedFiles(df: DataFrame): Seq[String] =
      df.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.selectedPartitions.toPartitionArray
            .map(_.filePath.toString).toSeq
      }.flatten
    def cellOf(path: String): Option[Long] =
      "/c_id=(-?\\d+)/".r.findFirstMatchIn(path).map(_.group(1).toLong)
    val prunedCells = scannedFiles(
      Streams.readSemanticVectors(spark, target, Some((ig, probed))))
      .flatMap(cellOf).toSet
    assert(prunedCells == probed.toSet,
      s"pruned scan lists ${prunedCells.toSeq.sorted}, probed $probed")
    val flatCells = scannedFiles(
      Streams.readSemanticVectors(spark, target, None))
      .flatMap(cellOf).toSet
    assert(flatCells == allCells.toSet,
      "negative control: the unpruned reader must list every cell")
    // a STALE layout (written under a different index generation — the
    // refit aftermath) must read WHOLE under pruning: its c_id dirs
    // were assigned by retired centroids, so pruning them against the
    // live cells would lose candidates homed elsewhere. The increment
    // is real (indexed + committed) so the invariant holds for the
    // vacuum below.
    val extra = emb.filter(col("doc_id") % 3 === 1)
    val app = Pq.appendToIndex(idx, extra, "embedding", idCol = "doc_id",
      persist = false)
    assert(!app.refitNeeded && app.incHomes.nonEmpty)
    assert(Pq.writeIndexIncrement(app.incHomes.get, app.incCodes.get,
      indexDir, 0L))
    Streams.writeSemanticDocs(extra, app.incHomes.get, ig + 7,
      s"$target/inc=0")
    Seq.empty[(Long, Long)].toDF("doc_id", "dup_of")
      .write.parquet(s"$target/_dups/inc=0")
    MarkerStore.commitInc(spark, target, 0L)
    val extraCells = app.incHomes.get.select("c_id").distinct()
      .collect().map(_.getLong(0)).toSet
    val pruned2 = scannedFiles(
      Streams.readSemanticVectors(spark, target, Some((ig, probed))))
    val staleCells = pruned2.filter(_.contains("/inc=0/")).flatMap(cellOf).toSet
    assert(staleCells == extraCells,
      s"stale-layout part was pruned: read $staleCells of $extraCells")
    assert(pruned2.filterNot(_.contains("/inc=0/")).flatMap(cellOf).toSet ==
      probed.toSet, "current-layout part lost its pruning beside a stale one")
    // compaction RE-HOMES: the generation is laid out under the
    // current index generation, so the whole store prunes again
    assert(Streams.vacuumSemanticCorpus(spark, target).isEmpty)
    val igAfter = MarkerStore.liveGen(spark, indexDir).get._1
    val prunedGen = scannedFiles(
      Streams.readSemanticVectors(spark, target, Some((igAfter, probed))))
      .flatMap(cellOf).toSet
    assert(prunedGen.nonEmpty && prunedGen.subsetOf(probed.toSet),
      s"compacted generation did not re-home to a prunable layout: $prunedGen")
    // round-19 VERDICT task 4: read-plan fan-in bounded after vacuum —
    // one generation, no tail, on both the corpus and the index store
    def leafCount(df: DataFrame): Int =
      df.queryExecution.optimizedPlan.collectLeaves().length
    assert(leafCount(Streams.readSemanticCorpus(spark, target)) == 1,
      "corpus read plan fans past the compacted generation")
    assert(leafCount(Pq.readIndex(spark, indexDir).homes) == 1,
      "index read plan fans past the compacted generation")
  }

  test("semantic sink refit crash-retry: keep set recovered from the index; no second refit; corpus and index stay in lockstep") {
    // round-19 ADVICE #1: a crash between the refit's generation commit
    // and the outer marker used to replay candidate generation against
    // the NEW centroids — a different keep set, ghost vectors, a
    // permanently diverged store. The retry must derive survivors from
    // the index instead. Simulated crash is the WORST window: the index
    // committed (refit generation + empty increment), every corpus-side
    // write of the batch lost.
    import spark.implicits._
    import graft.functions.Pq
    val emb = Tables.embeddings(spark, sf001)
      .select(col("vec_id").as("doc_id"),
        transform(col("embedding"), _.cast("double")).as("embedding"))
    val seed = emb.filter(col("doc_id") % 3 === 0)
    val target = tempDir("graft-sem-refit")
    val indexDir = s"$target/_index"
    Streams.initSemanticDedupCorpus(seed, target)
    def corpusIds(): Set[Long] = Streams.readSemanticCorpus(spark, target)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val seedIds = corpusIds()
    // drifted batch (×-50): pairwise cosines within the batch are
    // preserved (some in-batch dups drop), residual moments shift
    // ~2500× (the refit trigger)
    val drifted = seed.orderBy("doc_id").limit(24).collect()
      .map(r => (10000L + r.getLong(0), r.getSeq[Double](1).map(_ * -50.0)))
      .toSeq.toDF("doc_id", "embedding")
    val n0 = Streams.applySemanticDedupBatch(drifted, 0L, target)
    assert(n0 >= 1, "the refit path never ran")
    val gen1 = MarkerStore.liveGen(spark, indexDir).get._1
    assert(Streams.readDedupStats(spark, target)
      .filter(col("batch_id") === 0).collect()(0)
      .getAs[String]("index_op") == "refit")
    // the refit advances the index high-water mark with an EMPTY
    // increment (the generation already holds the batch's vectors)
    assert(MarkerStore.committedIncs(spark, indexDir).contains(0L),
      "refit did not advance the index increment high-water mark")
    val after = corpusIds()
    // CRASH: outer marker AND every corpus-side write of the batch lost
    val fs = new org.apache.hadoop.fs.Path(target)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    fs.delete(p(s"$target/_commits/0"), false)
    fs.delete(p(s"$target/inc=0"), true)
    fs.delete(p(s"$target/_dups/inc=0"), true)
    fs.delete(p(s"$target/_stats/0"), true)
    assert(corpusIds() == seedIds, "crash state must hide the batch")
    val n1 = Streams.applySemanticDedupBatch(drifted, 0L, target)
    assert(n1 == n0, s"retry keep count diverged: $n1 vs $n0")
    assert(corpusIds() == after, "retry keep set diverged from the index's record")
    assert(MarkerStore.liveGen(spark, indexDir).get._1 == gen1,
      "the retry refit AGAIN instead of recovering from the index")
    assert(Pq.readIndex(spark, indexDir).homes.count() == corpusIds().size,
      "corpus and index diverged across the crash retry")
    assert(Streams.readDedupStats(spark, target)
      .filter(col("batch_id") === 0).collect()(0)
      .getAs[String]("index_op") == "skipped")
    // the stream continues on the recovered state: a re-ingest of a
    // landed doc's exact vector under a new id must drop against the
    // recovered corpus (same home cell ⇒ guaranteed candidate, cos = 1)
    val probe = Streams.readSemanticCorpus(spark, target)
      .orderBy("doc_id").limit(1).collect()(0)
    assert(Streams.applySemanticDedupBatch(
      Seq((777777L, probe.getSeq[Double](1))).toDF("doc_id", "embedding"),
      1L, target) == 0L,
      "a dup of recovered content leaked past the post-retry sink")
  }

  test("semantic sink drift test reads the moment sidecars, never the stored codes") {
    // round 20: the corpus side of appendToIndex's drift test used to
    // scan the stored codes per micro-batch (N·m rows at corpus
    // scale); the sink now merges the ≤ m·k-row moment sidecars
    // instead. The pin is behavioral: scramble the stored codes IN
    // PLACE to the per-block minimum-energy code (a scan-based corpus
    // moment collapses toward zero, which would force a refit on ANY
    // non-degenerate batch), then ingest an in-distribution batch —
    // the sink must still APPEND, because its decision never read the
    // codes.
    import spark.implicits._
    import graft.functions.Pq
    val emb = Tables.embeddings(spark, sf001)
      .select(col("vec_id").as("doc_id"),
        transform(col("embedding"), _.cast("double")).as("embedding"))
    val seed = emb.filter(col("doc_id") % 3 === 0)
    val target = tempDir("graft-sem-moment")
    val indexDir = s"$target/_index"
    Streams.initSemanticDedupCorpus(seed, target)
    val idx = Pq.readIndex(spark, indexDir)
    val pq = idx.model.pq
    val mSide = Pq.indexMoment(spark, indexDir, pq)
      .getOrElse(fail("persisted generation has no moment sidecar"))
    def energy(b: Int, c: Int): Double =
      pq.codebooks(b)(c).map(x => x * x).sum
    val minCode = (0 until pq.m)
      .map(b => b -> pq.codebooks(b).indices.minBy(energy(b, _)))
    val mGarbage = minCode.map { case (b, c) => energy(b, c) }.sum
    assert(mGarbage < 0.5 * mSide,
      s"fixture precondition: garbage moment $mGarbage vs sidecar $mSide — " +
        "the scramble must be distinguishable from the true moment")
    val ids = idx.homes.select("vec_id").collect().map(_.getLong(0)).toSeq
    minCode.flatMap { case (b, c) => ids.map(id => (id, b, c.toLong)) }
      .toDF("vec_id", "b", "code")
      .write.mode("overwrite").parquet(s"$indexDir/gen=1/codes")
    val batch = emb.filter(col("doc_id") % 3 === 1)
    assert(Streams.applySemanticDedupBatch(batch, 0L, target) >= 0)
    assert(Streams.readDedupStats(spark, target)
      .filter(col("batch_id") === 0).collect()(0)
      .getAs[String]("index_op") == "appended",
      "an in-distribution batch refit - the drift test read the " +
        "scrambled codes instead of the moment sidecars")
    assert(graft.MarkerStore.liveGen(spark, indexDir).get._1 == 1L,
      "the index minted a new generation on an in-distribution append")
  }

  test("sf0.1 semantic replay: kept ≡ the D6 rule over the sink's own pairs; drift-free appends never refit; an all-dup batch lands an empty increment that round-trips") {
    // round-19 VERDICT task 5 — the lexical sink's multi-batch replay
    // discipline at the larger fixture (2000 vectors): per batch the
    // kept set must equal the shared D6 keep rule applied to the
    // sink's own pair stage (replayed with a FLAT corpus reader, so
    // this also pins that partition pruning changes nothing), the
    // index generation count must stay put under same-distribution
    // appends, and an all-duplicate batch exercises the empty-increment
    // fallback end to end.
    import spark.implicits._
    import graft.functions.Pq
    import graft.queries.Dedup
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.1")
      .select(col("vec_id").as("doc_id"),
        transform(col("embedding"), _.cast("double")).as("embedding"))
    val seed = emb.filter(col("doc_id") % 4 === 0)
    val batches = (1 to 3).map(r => emb.filter(col("doc_id") % 4 === r))
    val target = tempDir("graft-sem-scale")
    val indexDir = s"$target/_index"
    Streams.initSemanticDedupCorpus(seed, target)
    val gen0 = MarkerStore.liveGen(spark, indexDir).get._1
    def corpusIds(): Set[Long] = Streams.readSemanticCorpus(spark, target)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    var landed = corpusIds()
    batches.zipWithIndex.foreach { case (bt, i) =>
      val corpus = Streams.readSemanticCorpus(spark, target)
      val idx = Pq.readIndex(spark, indexDir)
      val pairs = Streams.semanticBatchPairs(spark, idx, _ => corpus,
          bt, 0.4, 16)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = {
        val pdf = pairs.toSeq.toDF("id_a", "id_b")
        val comp = Dedup.connectedComponents(
          bt.select(col("doc_id").as("id"))
            .unionByName(pdf.select(col("id_a").as("id")))
            .unionByName(pdf.select(col("id_b").as("id"))).distinct(),
          pdf, nodesComplete = true)
        val corpusComps = comp.join(corpus.select(col("doc_id").as("id")),
          Seq("id"), "left_semi").select("component").distinct()
        comp.join(bt.select(col("doc_id").as("id")), Seq("id"), "left_semi")
          .join(corpusComps, Seq("component"), "left_anti")
          .groupBy("component").agg(min(col("id")).as("doc_id"))
          .select("doc_id").collect().map(_.getLong(0)).toSet
      }
      val n = Streams.applySemanticDedupBatch(bt, i.toLong, target)
      val got = corpusIds() -- landed
      assert(got == want, s"sf0.1 batch $i kept set diverged: " +
        s"extra=${(got -- want).take(3)} missing=${(want -- got).take(3)}")
      assert(n == want.size)
      landed = corpusIds()
    }
    assert(MarkerStore.liveGen(spark, indexDir).get._1 == gen0,
      "a drift-free same-distribution append refit the index")
    assert(Pq.readIndex(spark, indexDir).homes.count() == landed.size,
      "index does not cover exactly the landed corpus at sf0.1")
    // the all-dup batch: exact copies of landed docs under fresh ids —
    // identical vectors share their originals' home cells, so the
    // candidate is guaranteed and the exact rerank sees cos = 1;
    // nothing lands and the increment is EMPTY (the store's zero-row
    // fallback must keep every later read working)
    val copies = Streams.readSemanticCorpus(spark, target).limit(50)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("embedding"))
      .localCheckpoint(true)
    assert(Streams.applySemanticDedupBatch(copies, 3L, target) == 0L,
      "an exact duplicate survived the semantic sink at sf0.1")
    assert(corpusIds() == landed, "the empty increment changed the corpus")
    assert(Streams.vacuumSemanticCorpus(spark, target).isEmpty)
    assert(corpusIds() == landed, "vacuum over the empty increment diverged")
  }

  implicit class Map2[A, B, C](rows: Array[(A, B, C)]) {
    def toMap2: Map[(A, B), C] = rows.map(t => (t._1, t._2) -> t._3).toMap
  }
}
