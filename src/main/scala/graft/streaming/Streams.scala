package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
import org.apache.spark.sql.types._

/** SURVEY §2.I — true Structured Streaming execution of the engine's
  * stream operators. The same transforms back the batch-equivalent
  * queries in [[graft.queries.StreamingBatch]]; here they run over a
  * replayable file-source stream with watermarks and the state store
  * (exercised by the streaming test suite — D3, not the SQL oracle). */
object Streams {

  /** events schema after the nanos→micros conversion Tables.events does
    * for batch (a file-source stream needs an explicit schema). */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-source events stream over a directory of parquet chunks.
    * maxFilesPerTrigger=1 makes each chunk one micro-batch, so the
    * watermark advances between chunks — the replay harness for
    * late-data semantics. */
  def eventsStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(eventsSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)

  /** 1-hour tumbling count+sum per event_type with a 10-min watermark
    * (append mode ⇒ a window only emits once it's closed). */
  def tumbling(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      // sum_value via the Det cents encoding — the SAME aggregate as the
      // batch twin (StreamingBatch.hourlyAggPlan): a plain double sum()
      // is state-merge-order dependent in its final ulps, so replays of
      // identical data could emit different bits (round-12 review)
      .agg(count(lit(1)).as("n"), graft.Det.sumd2(col("value")).as("sum_value"))
      .select(col("w.start").as("ws"), col("event_type"), col("n"), col("sum_value"))

  /** Streaming dedup: first event per (user_id, event_type) — EXACT
    * global semantics (the batch twin stream_dedup's contract). State
    * discipline (round-12 review): with the event-time column absent
    * from the key subset, Spark never evicts dedup state by watermark —
    * state is bounded by the KEY CARDINALITY (|users|·|types| here),
    * not by the horizon. That is the right trade for entity-keyed
    * dedup; for an unbounded key space use [[dedupWithinHorizon]]. */
  def dedup(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicates(Seq("user_id", "event_type"))

  /** Horizon-bounded streaming dedup (`dropDuplicatesWithinWatermark`):
    * duplicates are suppressed only within the watermark horizon and
    * state IS evicted as the watermark advances — the form an
    * unbounded-cardinality key space (content digests, URLs) needs at
    * 100 TB/day, trading exactness across distant re-occurrences for
    * bounded state. */
  def dedupWithinHorizon(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark(Seq("user_id", "event_type"))

  /** Per-user session windows (30-minute gap). */
  def sessions(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("w.start").as("ws"), col("w.end").as("we"), col("n"))

  /** Stream-static enrichment: the events stream joined to a broadcast
    * static dimension (re-resolved per micro-batch — the standard dim
    * refresh semantics). */
  def enrich(events: DataFrame, customer: DataFrame): DataFrame =
    events.join(
        broadcast(customer.select(col("c_custkey"), col("c_name"))),
        col("user_id") === col("c_custkey"))
      .select(col("event_id"), col("user_id"), col("c_name"), col("value"))

  /** Stream-stream interval self-join: purchases matched to the same
    * user's clicks in the preceding hour. Watermarks on BOTH sides plus
    * the time-range condition let the state store evict clicks older
    * than (watermark − 1 h) — bounded state, the requirement for an
    * unbounded 100 TB/day stream. */
  def clickToPurchase(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("cts"))
      .withWatermark("cts", "2 hours")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("pts"))
      .withWatermark("pts", "2 hours")
    purchases.join(clicks,
        col("p_user") === col("c_user") &&
        col("cts") <= col("pts") &&
        col("cts") >= col("pts") - expr("INTERVAL 1 HOUR"))
      .select(col("purchase_id"), col("click_id"), col("p_user").as("user_id"))
  }

  /** Arbitrary stateful op: running per-user event count — each event
    * emits the user's count so far. Implemented on `transformWithState`
    * (the Spark 4-current arbitrary-state API; supersedes
    * flatMapGroupsWithState per SURVEY §7.4-5) with a ValueState[Long]
    * per user. Requires the RocksDB state store provider
    * (`spark.sql.streaming.stateStore.providerClass` — the API rejects
    * the default HDFS-backed store). */
  def runningCounts(spark: SparkSession, events: DataFrame,
      ttl: Option[java.time.Duration] = None): DataFrame = {
    import spark.implicits._
    // State TTL is a PROCESSING-TIME contract in the transformWithState
    // API (TTLConfig expiry is wall-clock since last update), so the
    // time mode follows the ttl option; the un-TTL'd form keeps
    // TimeMode.None exactly as before. Operational note (measured): a
    // TTL'd processor schedules a no-data maintenance batch after every
    // batch — its cleanup has no data-completion point — so a drain
    // trigger (AvailableNow) never terminates unless
    // spark.sql.streaming.noDataMicroBatches.enabled=false; for
    // DATA-DRIVEN deterministic eviction use [[runningCountsEvicting]].
    val mode = if (ttl.isDefined) TimeMode.ProcessingTime() else TimeMode.None()
    events
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .transformWithState(
        new RunningCountProcessor(ttl.map(TTLConfig(_)).getOrElse(TTLConfig.NONE)),
        mode, OutputMode.Update())
      .toDF("user_id", "event_id", "running_n")
  }

  /** Running per-user count with IDLE-KEY STATE EVICTION — the 100 TB
    * stateful-stream concern is unbounded per-key state (every user
    * ever seen holds a state-store row forever under
    * [[runningCounts]]). This variant registers an EVENT-TIME timer at
    * (last event ts + idleGap) per key; when the watermark passes it,
    * the key's state is cleared and a tombstone row
    * `(user_id, -1, final_n)` is emitted, so eviction is observable
    * and a returning user restarts from 1. Event-time timers (not the
    * TTLConfig wall clock) make eviction DATA-DRIVEN: deterministic
    * under replay and independent of executor wall-clock — the form a
    * reprocessing-safe pipeline needs. State per key: one Long count +
    * one Long timer bookkeeping row, bounded by the ACTIVE key set. */
  def runningCountsEvicting(spark: SparkSession, events: DataFrame,
      idleGapMinutes: Int = 60, watermarkDelay: String = "10 minutes"): DataFrame = {
    import spark.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .select(col("user_id"), unix_millis(col("ts")).as("ms"), col("event_id"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new EvictingCountProcessor(idleGapMinutes * 60000L),
        TimeMode.EventTime(), OutputMode.Update())
      .toDF("user_id", "event_id", "running_n")
  }

  // ---- streaming upsert sink (round-16 VERDICT #6) ---------------------

  /** STREAMING UPSERT SINK — the foreachBatch + MERGE composition every
    * lakehouse CDC pipeline runs: each micro-batch of change rows
    * ([[graft.Graft.merge]]'s contract — key, op ∈ U/I/D, full target
    * payload) merges into a VERSIONED parquet target and commits a new
    * snapshot. Exactly-once under micro-batch re-delivery holds through
    * TWO independent layers:
    *
    *  1. a batchId HIGH-WATER MARK (the Delta transaction-id
    *     discipline): `_commits/<id>` markers record applied batches; a
    *     replayed or stale id SKIPS without touching data;
    *  2. the merge itself is IDEMPOTENT for identical re-delivery
    *     (U/I set values, D deletes — re-applying the same change-set
    *     is a no-op), so even a crash BETWEEN the snapshot write and
    *     the marker commit re-applies harmlessly on restart (the
    *     snapshot directory is overwritten, then the marker lands).
    *
    * Each apply reads the last committed snapshot, merges one shuffle
    * on the key, writes `snap=<batchId>`, then commits the marker —
    * no driver-resident state, snapshots are immutable once committed.
    * Superseded snapshots accumulate until [[vacuumUpsertTarget]]
    * retires them (offline, exactly as Delta's VACUUM/OPTIMIZE). Seed
    * the target first with [[initUpsertTarget]]; read it with
    * [[readUpsertTarget]]. */
  def upsertSink(changes: DataFrame, targetDir: String, keyCol: String,
      opCol: String = "op"): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    changes.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        applyUpsertBatch(batch.toDF(), batchId, targetDir, keyCol, opCol); ()
    }

  /** One upsert transaction (the [[upsertSink]] body, callable directly
    * for batch backfills and the replay suite): skip if `batchId` is at
    * or below the high-water mark, else merge into the last committed
    * snapshot, write `snap=<batchId>` (overwrite — a crashed retry
    * rewrites the same bytes), and commit the marker LAST. Returns true
    * when the batch applied, false when the mark skipped it. */
  def applyUpsertBatch(batch: DataFrame, batchId: Long, targetDir: String,
      keyCol: String, opCol: String = "op"): Boolean = {
    val spark = batch.sparkSession
    val committed = committedIds(spark, targetDir)
    require(committed.nonEmpty,
      s"upsert target $targetDir is not initialized - call initUpsertTarget first")
    if (batchId <= committed.max) false
    else {
      val target = spark.read.parquet(
        snapshotPath(spark, targetDir, committed.max))
      graft.Graft.merge(target, batch, keyCol, opCol)
        .write.mode("overwrite").parquet(s"$targetDir/snap=$batchId")
      commitMarker(spark, targetDir, batchId)
      true
    }
  }

  /** Seed the versioned upsert target: the initial relation becomes
    * snapshot −1 (streaming batchIds start at 0). */
  def initUpsertTarget(initial: DataFrame, targetDir: String): Unit = {
    initial.write.mode("overwrite").parquet(s"$targetDir/snap=-1")
    commitMarker(initial.sparkSession, targetDir, -1L)
  }

  /** The last committed snapshot of an upsert target (its latest
    * committed compaction generation, when one exists). */
  def readUpsertTarget(spark: SparkSession, targetDir: String): DataFrame = {
    val ids = committedIds(spark, targetDir)
    require(ids.nonEmpty, s"upsert target $targetDir has no committed snapshot")
    spark.read.parquet(snapshotPath(spark, targetDir, ids.max))
  }

  /** VACUUM + small-file COMPACTION for a versioned upsert target — the
    * offline maintenance [[applyUpsertBatch]]'s scaladoc defers (Delta's
    * OPTIMIZE + VACUUM pair, composed on this target's marker protocol):
    *
    *  1. COMPACT the live snapshot when it holds more files than its
    *     byte size warrants at `targetBytesPerFile` (the
    *     pipeline_compact_exec sizing rule): rewrite it — same rows,
    *     `ceil(bytes/target)` files — into the next GENERATION directory
    *     `snap=<id>g<n>`, and commit the `_compactions/<id>_<n>` marker
    *     ONLY after the write completes. Readers resolve through the
    *     marker ([[snapshotPath]]), so a reader at ANY point sees a
    *     fully-written snapshot: the old generation until the marker
    *     lands, the new one after. A crash before the marker leaves an
    *     orphan directory the retry overwrites; the already-compacted
    *     retry SKIPS (file count ≤ target) and proceeds to deletion.
    *  2. RETIRE superseded snapshots — every committed id before the
    *     `retain` newest — and stale generations of the live id. The
    *     marker scan happened ONCE up front; per id the data directories
    *     are deleted FIRST and the marker LAST, so a crash mid-delete
    *     leaves a marker whose retry re-enters the same deletion (an
    *     orphaned data directory can never outlive its marker unseen).
    *
    * As in Delta, vacuum races a CONCURRENT reader that resolved its
    * path before the vacuum started (retention windows are the
    * production mitigation); a reader that resolves after any single
    * step always lands on committed bytes. The live id's generations
    * get ONE-CYCLE retention (round-18 ADVICE): a generation superseded
    * by THIS call's compaction survives until the NEXT vacuum, so a
    * reader that resolved its path just before the new marker landed
    * keeps its files for a full cycle — only generations that were
    * already superseded at entry retire now. Returns the retired
    * snapshot ids. */
  def vacuumUpsertTarget(spark: SparkSession, targetDir: String,
      retain: Int = 2, targetBytesPerFile: Long = 128L * 1024 * 1024): Seq[Long] = {
    require(retain >= 1, s"vacuumUpsertTarget: retain $retain < 1")
    require(targetBytesPerFile > 0,
      s"vacuumUpsertTarget: targetBytesPerFile $targetBytesPerFile <= 0")
    val fs = fsOf(spark, targetDir)
    def path(s: String) = new org.apache.hadoop.fs.Path(s)
    val ids = committedIds(spark, targetDir).sorted
    require(ids.nonEmpty, s"upsert target $targetDir has no committed snapshot")
    val live = ids.max
    // -- 1. compact the live snapshot into the next generation
    val gen0 = generationOf(spark, targetDir, live)
    val liveDir = snapshotPath(spark, targetDir, live)
    val dataFiles = fs.listStatus(path(liveDir))
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    val want = math.max(1L, (dataFiles.map(_.getLen).sum +
      targetBytesPerFile - 1) / targetBytesPerFile).toInt
    if (dataFiles.length > want) {
      val dst = s"$targetDir/snap=${live}g${gen0 + 1}"
      spark.read.parquet(liveDir).repartition(want)
        .write.mode("overwrite").parquet(dst)
      val out = fs.create(
        path(s"$targetDir/_compactions/${live}_${gen0 + 1}"), true)
      out.close()
    }
    // -- 2. retire superseded snapshots (data first, marker last).
    // Generation DIRECTORIES are enumerated from the filesystem, not
    // the markers: a crash between a compaction write and its marker
    // leaves an UNMARKED generation dir, and once its id is superseded
    // no retry ever overwrites it — marker-driven deletion alone would
    // leak it forever (round-18 review).
    val dropped = ids.dropRight(retain)
    if (dropped.nonEmpty) {
      val genDirs = fs.listStatus(path(targetDir)).toSeq.map(_.getPath)
        .filter(_.getName.matches("snap=-?\\d+g\\d+"))
        .groupBy(d => d.getName.stripPrefix("snap=").takeWhile(c =>
          c.isDigit || c == '-').toLong)
      dropped.foreach { id =>
        fs.delete(path(s"$targetDir/snap=$id"), true)
        genDirs.getOrElse(id, Seq.empty).foreach(fs.delete(_, true))
        generationsOf(spark, targetDir, id).foreach { g =>
          fs.delete(path(s"$targetDir/_compactions/${id}_$g"), false)
        }
        fs.delete(path(s"$targetDir/_commits/$id"), false)
      }
    }
    // -- 3. stale generations of the live id, ONE-CYCLE retention: only
    // generations superseded BEFORE this call — i.e. below gen0, the
    // live generation at ENTRY — retire now (data first, markers last).
    // A generation this call's own compaction superseded stays until
    // the next vacuum, so a reader that resolved just before the new
    // marker keeps its files for a full cycle (round-18 ADVICE: the
    // prior form deleted gen0 in the same call that committed gen0+1).
    if (gen0 > 0) {
      fs.delete(path(s"$targetDir/snap=$live"), true)
      generationsOf(spark, targetDir, live).filter(_ < gen0).foreach { g =>
        fs.delete(path(s"$targetDir/snap=${live}g$g"), true)
        fs.delete(path(s"$targetDir/_compactions/${live}_$g"), false)
      }
    }
    dropped
  }

  // ---- streaming ingest-dedup sink (round 18; store-backed round 19) --

  /** STREAMING INGEST-DEDUP SINK — the production seat of the
    * incremental near-dup kernel ("dedup today's crawl against the
    * corpus BEFORE it lands", the loop every continuously-crawling
    * training pipeline runs): each micro-batch of (doc_id, text) rows
    * is near-dup-checked against the accumulated corpus plus itself,
    * survivors append as an immutable `inc=<batchId>` directory, and
    * the corpus is the union of the live compaction generation plus
    * committed tail increments — APPEND-ONLY; history is never
    * rewritten and never re-paired.
    *
    * Per-batch cost (round-19 — the round-18 form re-shingled the whole
    * corpus every batch): the BATCH alone pays the explode+hash+distinct
    * shingle pipeline; the corpus side of the incremental pair kernel
    * reads the MATERIALIZED per-increment shingle store
    * (`_shingles/...` — pre-hashed 8-byte rows written once when each
    * survivor landed), and the hot-shingle probe merges the
    * per-increment df PARTIALS (`_dfs/...`) instead of recounting text.
    * What remains per batch: the O(|inc|·df) bucket join (its corpus
    * side a column-pruned scan of stored longs — at 100 TB, shingle
    * longs, not text), one merged-df aggregate over the compacted
    * partial counts, and the survivor/store/stats writes. Read-plan
    * fan-in is bounded by [[vacuumDedupCorpus]]'s generation discipline.
    *
    * Keep rule, deterministic (D6): connected components over the
    * batch-touching Jaccard ≥ `threshold` pair graph; a batch doc is
    * DROPPED when its component contains any corpus doc (it duplicates
    * landed content) or any smaller batch doc_id (one representative
    * per new cluster — the component minimum). Transitive chains
    * resolve the components way, not the greedy-pair way, so the kept
    * set is independent of pair enumeration order.
    *
    * Exactly-once under micro-batch re-delivery: the same two layers as
    * [[upsertSink]] — the `_commits/<batchId>` high-water mark skips
    * stale ids without touching data, and a crash between the increment
    * write and the marker re-applies idempotently (every store
    * directory of the increment is overwritten with identical content,
    * then the marker lands LAST). A target is therefore bound to ONE
    * checkpoint lineage: a fresh checkpoint restarts batchIds at 0,
    * which a pre-advanced target correctly skips (the Delta txn-appId
    * semantics) — resume the existing checkpoint, or seed a new target.
    * Seed with [[initDedupCorpus]]; read with [[readDedupCorpus]];
    * per-batch observability rows land in `_stats` ([[readDedupStats]]);
    * compact with [[vacuumDedupCorpus]]. */
  def dedupIngestSink(docs: DataFrame, targetDir: String,
      threshold: Double = 0.2): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        applyDedupBatch(batch.toDF(), batchId, targetDir, threshold); ()
    }

  /** One ingest-dedup transaction (the [[dedupIngestSink]] body,
    * callable directly for backfills and the replay suite). Returns the
    * number of batch docs kept, or -1 when the high-water mark skipped
    * a re-delivered id. */
  def applyDedupBatch(batch: DataFrame, batchId: Long, targetDir: String,
      threshold: Double = 0.2): Long =
    applyIngestBatch(batch, batchId,
      new LexicalStore(batch.sparkSession, targetDir, threshold))

  /** The one ingest-dedup transaction both sinks run; an [[IngestStore]]
    * value supplies what differs between them. Steps, in order:
    *
    *  1. the high-water check: a `batchId` at or below the mark skips
    *     without touching data;
    *  2. FRONT OVERLAP (§2.6, round 22): the id-hygiene probe beside
    *     the store's batch-bounded front work, every action
    *     [[graft.Checkpoints.bounded]]. On a bad batch that work is
    *     wasted and released; the error still precedes every write;
    *  3. the store's candidate pairs, eager-checkpointed — they feed
    *     the components and the stats row;
    *  4. the shared D6 keep rule ([[dedupKeepParts]]), then the store's
    *     keep decision (the semantic replay rule);
    *  5. BACK OVERLAP: the store lands the survivors beside the
    *     bounded `_dups` provenance sidecar write (no dependency between
    *     them once the keep relations are checkpointed);
    *  6. ONE bounded stats action ([[statCounts]]: every input is
    *     batch-bounded or the written increment), then the store's
    *     after-landing step and its last `_stats` column;
    *  7. the `_stats` row, then the `_commits/<batchId>` marker LAST.
    *
    * Every checkpoint the transaction takes is pinned in ONE
    * [[graft.Checkpoints.Scope]], freed on every exit path: a failure
    * at any step frees exactly what already landed. */
  private def applyIngestBatch(batch: DataFrame, batchId: Long,
      store: IngestStore): Long = {
    val spark = batch.sparkSession
    val t = store.targetDir
    val committed = committedIds(spark, t)
    require(committed.nonEmpty,
      s"${store.label} $t is not initialized - call ${store.seedCall} first")
    if (batchId <= committed.max) return -1L
    val b = batch.select(col("doc_id").cast("long").as("doc_id"),
      col(store.payload))
    val bIds = b.select("doc_id")
    graft.Checkpoints.scoped { s =>
      val corpusIds = store.open(b, batchId).select("doc_id")
      // id hygiene, ONE bounded probe (the hierFlatten union-probe
      // discipline): a batch id already in the corpus — or repeated
      // within the batch — would merge two documents into one phantom
      // doc and silently corrupt every pair downstream. The corpus side
      // reads doc_id ONLY (column-pruned — ~8 bytes/doc at 100 TB) and
      // STREAMS through a broadcast semi-join against the batch ids;
      // ONE global-aggregate job — min(struct) names a deterministic
      // offender. Checked against the COMMITTED corpus: a semantic
      // crash retry finds its batch in the index, not the corpus.
      val front = inParallel((() => graft.Checkpoints.bounded(corpusIds
          .join(broadcast(bIds), Seq("doc_id"), "left_semi")
          .select(col("doc_id"), lit("already in the corpus").as("kind"))
          .unionByName(b.groupBy("doc_id").agg(count(lit(1)).as("c"))
            .filter(col("c") > 1)
            .select(col("doc_id"), lit("repeated within the batch").as("kind")))
          .agg(min(struct(col("doc_id"), col("kind"))).as("w")))(_.head())) +:
        store.front(b, s))
      val bad = front.head.asInstanceOf[org.apache.spark.sql.Row]
      if (!bad.isNullAt(0)) {
        val r = bad.getStruct(0)
        throw new IllegalArgumentException(
          s"${store.sink}: doc_id ${r.get(0)} is ${r.getString(1)} - " +
            "ingest ids must be globally unique")
      }
      val pairs = s.pin(store.pairs(b))
      val (keepDerived, comp, compCorpus) =
        dedupKeepParts(bIds, corpusIds, pairs, s)
      val keep = store.keep(bIds, keepDerived, s)
      inParallel(Seq(
        // keep is checkpointed (no size stats for AQE) and batch-bounded:
        // broadcast it so the survivor projection never shuffles the batch
        () => store.land(b.join(broadcast(keep), Seq("doc_id"), "left_semi"),
          batchId),
        // dedup PROVENANCE (round 19): every dropped batch doc mapped to
        // the landed/kept document it duplicated; component-sized work,
        // no corpus scan; coalesce(1) keeps the sidecar a single file, so
        // adaptive file sizing has nothing to size
        () => graft.Checkpoints.bounded(dupAttribution(bIds, compCorpus, keep, comp)
          .coalesce(1))(_.write.mode("overwrite").parquet(s"$t/_dups/inc=$batchId"))))
      // counts from the WRITTEN increment (store ≡ docs even across a
      // crash retry); the kept count also gates the store's final step
      val landed = store.landed(batchId)
      val Seq(nBatch, n, nCorpusDup, nPairs) = statCounts(Seq(b, landed,
        comp.join(bIds.select(col("doc_id").as("id")), Seq("id"), "left_semi")
          .join(compCorpus.select(col("component")), Seq("component"), "left_semi"),
        pairs))
      val last = store.finish(landed, n, batchId)
      spark.createDataFrame(java.util.List.of(org.apache.spark.sql.Row(batchId,
          nBatch, n, nCorpusDup, nBatch - n - nCorpusDup, nPairs, last)),
          StructType(statCounters.map(StructField(_, LongType, nullable = false)) :+
            store.statField))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$t/_stats/$batchId")
      commitMarker(spark, t, batchId)
      n
    }
  }

  /** What one ingest sink does differently inside [[applyIngestBatch]].
    * A fresh value per call: the transaction calls the hooks in
    * declaration order, and they may keep per-batch state for the later
    * ones. The last `_stats` column (`statField`) is a constant of the
    * store. */
  private abstract class IngestStore(val targetDir: String, val sink: String,
      val label: String, val seedCall: String, val payload: String,
      val statField: StructField) {
    /** Driver-side setup after the high-water check; the corpus (doc_id, …). */
    def open(b: DataFrame, batchId: Long): DataFrame
    /** Batch-bounded front-overlap work beside the id-hygiene probe,
      * its actions [[graft.Checkpoints.bounded]]; its checkpoints pin in
      * the transaction's scope `s`. */
    def front(b: DataFrame, s: graft.Checkpoints.Scope): Seq[() => Unit]
    /** Batch-touching candidate pairs (id_a, id_b). */
    def pairs(b: DataFrame): DataFrame
    /** The keep set to land, given the D6 rule's. */
    def keep(bIds: DataFrame, derived: DataFrame,
        s: graft.Checkpoints.Scope): DataFrame = derived
    /** Write the survivors' docs increment and the store's derived data. */
    def land(survivors: DataFrame, batchId: Long): Unit
    /** The written docs increment. */
    def landed(batchId: Long): DataFrame
    /** Work after the counts; returns the last `_stats` column's value. */
    def finish(landed: DataFrame, n: Long, batchId: Long): Any
    /** The per-increment datasets a vacuum compacts, after any store
      * step that must run first. */
    def vacuumDatasets(): Seq[CorpusDataset]
    /** The live datasets a redaction of `del` rewrites, after any store
      * step that must run first. */
    def redactDatasets(del: DataFrame): Seq[RedactDataset]
  }

  /** The lexical store: batch shingles checkpointed in the front
    * overlap (the transaction's only text explode — the pair kernel
    * reads them on both bucket-join sides, plus the df probe); corpus
    * shingles and df partials come from the materialized stores, so
    * history text is never decoded. Its landing writes run adaptive: the
    * shingle/df store writes shuffle, and adaptive coalescing sizes
    * their files. */
  private final class LexicalStore(spark: SparkSession, targetDir: String,
      threshold: Double = 0.2) extends IngestStore(targetDir, "applyDedupBatch",
        "dedup corpus", "initDedupCorpus", "text", lexStatField) {
    private var shB: DataFrame = _
    private var hot: Seq[Long] = Nil
    def open(b: DataFrame, batchId: Long): DataFrame =
      readDedupCorpus(spark, targetDir)
    def front(b: DataFrame, s: graft.Checkpoints.Scope): Seq[() => Unit] =
      Seq(() => shB = graft.Checkpoints.bounded(
        graft.queries.Dedup.hashedShinglePlan(spark, b))(s.pin))
    def pairs(b: DataFrame): DataFrame = {
      // hot-shingle probe from MERGED df partials: per-increment counts
      // plus the batch's own sum to exactly the df of a full recount,
      // because every increment's shingle rows are distinct per doc
      val dfAll = readDfStore(spark, targetDir)
        .unionByName(shB.groupBy("shingle").agg(count(lit(1)).as("df")))
        .groupBy("shingle").agg(sum(col("df")).as("df"))
      hot = hotFromDfs(dfAll)
      graft.queries.Dedup.jaccardPairsHashedFrom(
          readShingleStore(spark, targetDir).unionByName(shB), threshold, hot,
          Some(b.select("doc_id")))
        .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"))
    }
    def land(survivors: DataFrame, batchId: Long): Unit = {
      // the shingle and df stores derive from the WRITTEN docs, so they
      // equal the docs exactly, even across a crash retry
      survivors.write.mode("overwrite").parquet(s"$targetDir/inc=$batchId")
      val sh = s"$targetDir/_shingles/inc=$batchId"
      graft.queries.Dedup.hashedShinglePlan(spark, landed(batchId))
        .write.mode("overwrite").parquet(sh)
      spark.read.schema(shingleStoreSchema).parquet(sh)
        .groupBy("shingle").agg(count(lit(1)).as("df"))
        .write.mode("overwrite").parquet(s"$targetDir/_dfs/inc=$batchId")
    }
    def landed(batchId: Long): DataFrame =
      spark.read.schema(lexDocsSchema).parquet(s"$targetDir/inc=$batchId")
    def finish(landed: DataFrame, n: Long, batchId: Long): Any = hot.length.toLong

    def vacuumDatasets(): Seq[CorpusDataset] = Seq(
      CorpusDataset("docs", id => s"$targetDir/inc=$id", lexDocsSchema),
      CorpusDataset("shingles", id => s"$targetDir/_shingles/inc=$id",
        shingleStoreSchema),
      // df partials MERGE on compaction: one row per shingle
      CorpusDataset("dfs", id => s"$targetDir/_dfs/inc=$id", dfStoreSchema,
        compact = df => df.groupBy("shingle").agg(sum(col("df")).as("df"))),
      CorpusDataset("dups", id => s"$targetDir/_dups/inc=$id", dupsSchema))

    /** Documents and stored shingle rows drop the ids; the df partials
      * are NOT filtered but RECOUNT from the filtered shingle store (a
      * decrement of the old partials would drift under retries; the
      * recount is exact, one pass over stored longs, no text). */
    def redactDatasets(del: DataFrame): Seq[RedactDataset] = {
      def keepDoc(df: DataFrame): DataFrame = df.join(del, Seq("doc_id"), "left_anti")
      Seq(
        RedactDataset("docs", () => readDedupCorpus(spark, targetDir), keepDoc),
        RedactDataset("shingles", () => readShingleStore(spark, targetDir), keepDoc),
        RedactDataset("dfs", () => readShingleStore(spark, targetDir),
          df => keepDoc(df).groupBy("shingle").agg(count(lit(1)).as("df"))),
        dupsRedaction(spark, targetDir, del))
    }
  }

  /** (dropped doc_id → dup_of) for one batch: the smallest
    * corpus-or-kept member of the dropped doc's component — every
    * dropped doc has one (a drop implies a corpus member in the
    * component, or a smaller KEPT batch doc), and the pick is
    * deterministic (D6). The corpus side of the canon relation comes
    * from the checkpointed `compCorpus` (comp ⋉ corpus ids — the same
    * rows a semi-join against the corpus would produce, round 22), so
    * provenance never re-scans the corpus. */
  private def dupAttribution(bIds: DataFrame, compCorpus: DataFrame,
      keep: DataFrame, comp: DataFrame): DataFrame = {
    // every relation here is batch-graph-bounded and checkpointed — no
    // broadcast hints: the sidecar write runs bounded, where the shuffle
    // joins fold into ONE job (a hint would add a collect job per side
    // instead)
    val canon = compCorpus.select(col("id"), col("component"))
      .unionByName(comp.join(keep.select(col("doc_id").as("id")),
        Seq("id"), "left_semi"))
      .groupBy("component").agg(min(col("id")).as("dup_of"))
    comp.join(bIds.select(col("doc_id").as("id")), Seq("id"), "left_semi")
      .join(keep.select(col("doc_id").as("id")), Seq("id"), "left_anti")
      .join(canon, "component")
      .select(col("id").as("doc_id"), col("dup_of"))
  }

  /** Row counts of several relations in ONE action (round 22): a union
    * of tagged global count aggregates, collected once — each count is
    * the same `count(lit(1))` a separate `.count()` runs, so values are
    * identical; the fold replaces one job dispatch (plus AQE stage
    * jobs) PER relation with one execution for the lot. Used for the
    * sinks' per-batch stats rows, at ONE serial call site in
    * [[applyIngestBatch]], after the back overlap has joined. The action
    * runs [[graft.Checkpoints.bounded]]: every input is batch-bounded or
    * the written increment — one job. */
  private def statCounts(dfs: Seq[DataFrame]): Seq[Long] = {
    val tagged = dfs.zipWithIndex.map { case (df, i) =>
      df.agg(count(lit(1)).as("v")).select(lit(i).as("i"), col("v"))
    }.reduce(_ unionByName _)
    val byI = graft.Checkpoints.bounded(tagged)(_.collect())
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    dfs.indices.map(i => byI(i))
  }

  /** Run INDEPENDENT actions of one sink transaction concurrently —
    * guide §2.6 ("Spark's scheduler happily runs several jobs at once
    * inside one application; actions are only sequential because your
    * driver code calls them sequentially"): each micro-batch
    * transaction is a serial chain of small jobs whose wall time is
    * dispatch + planning, so overlapping the branches that share no
    * data dependency removes their serial latency at ANY scale (at
    * cluster scale the second branch additionally back-fills executors
    * idled by the first's task tail). Rules at the call sites:
    *
    *  - FRESH threads per call (not a pool): SparkContext's
    *    local properties (job description/group — the probe and UI
    *    attribution) are an InheritableThreadLocal, inherited at
    *    thread CREATION, so fresh threads carry the caller's labels
    *    where pooled threads would carry stale ones;
    *  - the first failure rethrows UNWRAPPED (the transaction's
    *    declared errors keep their types), after every branch has
    *    finished — no branch's job outlives the transaction boundary.
    */
  private def inParallel(thunks: Seq[() => Any]): Seq[Any] = {
    if (thunks.sizeIs <= 1) return thunks.map(_())
    val results = new Array[Any](thunks.size)
    val firstErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val threads = thunks.zipWithIndex.map { case (t, i) =>
      new Thread(
        () => try results(i) = t()
        catch { case e: Throwable => firstErr.compareAndSet(null, e); () },
        s"graft-sink-overlap-$i")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val e = firstErr.get()
    if (e != null) throw e
    results.toIndexedSeq
  }

  /** The empty attribution relation (the seed increment's sidecar). */
  private def emptyDups(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Long)].toDF("doc_id", "dup_of")
  }

  /** Accumulated dedup provenance: (doc_id, dup_of) for every doc ever
    * DROPPED by this target's ingest, mapped to the landed document it
    * duplicated. Works on both the lexical and semantic targets. ROW
    * ORDER IS UNSPECIFIED (a union of per-increment parquet parts —
    * an operational surface, not an oracled key); sort before any
    * order-sensitive comparison. */
  def readDedupAttribution(spark: SparkSession, targetDir: String): DataFrame =
    readCorpusStore(spark, targetDir, "dups", id => s"$targetDir/_dups/inc=$id",
      dupsSchema)

  /** Seed the append-only dedup corpus: the initial kept relation
    * becomes increment −1 (streaming batchIds start at 0), with its
    * shingle-store and df-partial directories written like any other
    * increment's. */
  def initDedupCorpus(initial: DataFrame, targetDir: String): Unit = {
    val spark = initial.sparkSession
    initial.select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .write.mode("overwrite").parquet(s"$targetDir/inc=-1")
    val landed = spark.read.schema(lexDocsSchema).parquet(s"$targetDir/inc=-1")
    graft.queries.Dedup.hashedShinglePlan(spark, landed)
      .write.mode("overwrite").parquet(s"$targetDir/_shingles/inc=-1")
    spark.read.schema(shingleStoreSchema).parquet(s"$targetDir/_shingles/inc=-1")
      .groupBy("shingle").agg(count(lit(1)).as("df"))
      .write.mode("overwrite").parquet(s"$targetDir/_dfs/inc=-1")
    emptyDups(spark).write.mode("overwrite").parquet(s"$targetDir/_dups/inc=-1")
    commitMarker(spark, targetDir, -1L)
  }

  /** The accumulated dedup corpus: the live compaction generation (when
    * one exists) plus every committed tail increment — plan fan-in
    * bounded by (1 + tail) at any lifetime batch count (an unmarked
    * crash orphan is invisible, exactly as in the upsert target). */
  def readDedupCorpus(spark: SparkSession, targetDir: String): DataFrame =
    readCorpusStore(spark, targetDir, "docs", id => s"$targetDir/inc=$id",
      lexDocsSchema)

  /** Per-batch ingest stats rows — the sink's operational surface:
    * batch size, kept/dropped breakdown, plus the pair/hot-shingle
    * counts (lexical) or the index decision (semantic). The log
    * SURVIVES compaction: vacuum folds covered batches' rows into
    * `gen=<g>/stats` before retiring their `_stats/<batchId>` files,
    * so history is complete at any lifetime batch count. ROW ORDER IS
    * UNSPECIFIED (a union of parquet parts — operational surface, not
    * an oracled key); sort by batch_id before any order-sensitive
    * comparison. */
  def readDedupStats(spark: SparkSession, targetDir: String): DataFrame = {
    val parts = statsParts(spark, targetDir)
    require(parts.nonEmpty, s"dedup corpus $targetDir has no committed stats")
    spark.read.parquet(parts: _*)
  }

  /** Existing stats paths: the live generation's compacted log (if it
    * has one) plus committed tail batches' sidecars (the seed increment
    * writes none, so presence is checked per path). */
  private def statsParts(spark: SparkSession, targetDir: String): Seq[String] = {
    val fs = fsOf(spark, targetDir)
    def exists(p: String) = fs.exists(new org.apache.hadoop.fs.Path(p))
    val (gen, tail) = graft.MarkerStore.resolve(spark, targetDir)
    gen.map(g => s"$targetDir/gen=${g._1}/stats").filter(exists).toSeq ++
      tail.map(id => s"$targetDir/_stats/$id").filter(exists)
  }

  // Explicit schemas of the corpus-store datasets — exactly what the
  // writers land. Every store read passes one (the sinks' batches, the
  // stored search's corpus, vacuum, redaction and their stats folds): a
  // parquet read without a user schema pays one footer-inference job
  // per relation build, per part on the per-part reads; the parts are
  // homogeneous by the store invariant — StoreSchemaSpec pins each
  // schema against a freshly-written store, so a writer change fails
  // loud, which keeps the ADVICE-r20 "silent schema drift" concern at
  // the same risk level as the inferred multi-path read it replaces).
  private[graft] val lexDocsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))
  private[graft] val shingleStoreSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("shingle", LongType),
    StructField("n", LongType)))
  private[graft] val dfStoreSchema: StructType = StructType(Seq(
    StructField("shingle", LongType), StructField("df", LongType)))
  private[graft] val dupsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("dup_of", LongType)))
  /** The `_stats` row's counters, then one column of the sink's own:
    * the lexical sink's hot-shingle count, the semantic sink's index op. */
  private val statCounters = Seq("batch_id", "n_batch", "n_kept",
    "n_dropped_corpus_dup", "n_dropped_within_batch", "n_pairs")
  private[graft] val lexStatField = StructField("n_hot_shingles", LongType, nullable = false)
  private[graft] val semStatField = StructField("index_op", StringType)
  /** A `_stats` log as it reads back (every parquet column surfaces
    * nullable). */
  private[graft] def statsSchema(statField: StructField): StructType =
    StructType(statCounters.map(StructField(_, LongType)) :+
      statField.copy(nullable = true))
  /** Semantic docs parts: (doc_id, embedding) data columns plus the
    * home-cell layout's partition columns. The embedding ELEMENT type
    * is the caller's (float for the fixture tables, double in several
    * suites), so every reader takes it from one stored part's footer
    * ([[storedEmbeddingType]], a driver read, no job); the per-batch
    * path also rejects a batch of another type. One schema covers EVERY
    * part shape: partitioned parts bind ig/c_id from the directory
    * layout; flat parts (the zero-row fallbacks — writeSemanticDocs
    * only ever writes flat when empty) surface them as null data
    * columns, which the prune filter then touches zero rows through. */
  private[graft] def semDocsSchema(embType: org.apache.spark.sql.types.DataType): StructType = {
    // parquet storage is element-nullable regardless of the writing
    // frame's containsNull — declare what the FILES say
    val stored = embType match {
      case ArrayType(e, _) => ArrayType(e, containsNull = true)
      case t => t
    }
    StructType(Seq(
      StructField("doc_id", LongType),
      StructField("embedding", stored),
      StructField("ig", LongType), StructField("c_id", LongType)))
  }

  /** Corpus-side hashed shingle rows (doc_id, shingle, n) from the
    * materialized store. */
  private def readShingleStore(spark: SparkSession, targetDir: String): DataFrame =
    readCorpusStore(spark, targetDir, "shingles",
      id => s"$targetDir/_shingles/inc=$id", shingleStoreSchema)

  /** Corpus-side shingle-df PARTIAL counts (shingle, df) — one relation
    * per increment plus one per generation; consumers merge by sum. */
  private def readDfStore(spark: SparkSession, targetDir: String): DataFrame =
    readCorpusStore(spark, targetDir, "dfs", id => s"$targetDir/_dfs/inc=$id",
      dfStoreSchema)

  /** Committed part directories of one corpus dataset: `gen=<g>/<name>`
    * (live generation, if any) plus `incPath(id)` for every committed
    * increment above its cover. */
  private def storeParts(spark: SparkSession, targetDir: String,
      name: String, incPath: Long => String): Seq[String] = {
    val (gen, tail) = graft.MarkerStore.resolve(spark, targetDir)
    val parts = gen.map(g => s"$targetDir/gen=${g._1}/$name").toSeq ++
      tail.map(incPath)
    require(parts.nonEmpty,
      s"dedup corpus $targetDir has no committed increment")
    parts
  }

  /** Generation-aware read of one corpus dataset as ONE multi-path
    * parquet relation under its declared schema — a single file
    * listing for the whole store, so the read plan stays ONE leaf (and the
    * per-batch job count stays flat) at any tail length. Requires
    * every part to share one schema and flat layout — the invariant of
    * the lexical store and the sidecars; the semantic DOCS store,
    * whose parts carry heterogeneous partition columns (home-cell
    * layout, refit-stale generations, empty fallbacks), goes through
    * [[readCorpusStoreParts]] instead. (Round 20: the per-part
    * union-of-reads form cost one schema-inference job per committed
    * increment per store per batch — measured 68–77 jobs/batch at 4
    * increments, growing +3 per increment.) */
  private def readCorpusStore(spark: SparkSession, targetDir: String,
      name: String, incPath: Long => String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(storeParts(spark, targetDir, name, incPath): _*)

  /** Per-part read of one corpus dataset, each part under the declared
    * `schema` (no footer-inference job, so the read costs no job at any
    * tail length): `project` runs on EACH part before the union — the
    * hook partitioned layouts use to prune and to drop their partition
    * columns (partitioned and flat parts cannot share one relation's
    * partition discovery, so each part is its own leaf). */
  private def readCorpusStoreParts(spark: SparkSession, targetDir: String,
      name: String, incPath: Long => String,
      project: DataFrame => DataFrame, schema: StructType): DataFrame =
    storeParts(spark, targetDir, name, incPath)
      .map(p => project(spark.read.schema(schema).parquet(p))).reduce(_.unionByName(_))

  // ---- SEMANTIC streaming ingest-dedup sink (round 19) -----------------

  /** SEMANTIC ingest-dedup sink — the SemDeDup-online loop (Abbas et
    * al. 2023 composed with this round's persisted ANN index): each
    * micro-batch of (doc_id, embedding) rows is near-dup-checked
    * against the accumulated corpus by EMBEDDING similarity —
    * candidates from IVF cell CO-MEMBERSHIP against the persisted
    * index (the batch assigns to `nprobe` cells vs the CACHED
    * centroids; corpus side comes from the index's stored homes — no
    * corpus encode, no all-pairs), exact cosine reranks the candidate
    * pairs at `threshold`, and the lexical sink's D6 keep rule picks
    * one representative per new cluster. Survivors append as
    * `inc=<batchId>` (doc_id, embedding) and their encoded rows extend
    * the index via [[graft.functions.Pq.appendToIndex]] +
    * [[graft.functions.Pq.writeIndexIncrement]] — batch-only encode,
    * zero corpus rescans. When the batch DRIFTS past appendToIndex's
    * quantized-moment bound, the sink refits over the full corpus and
    * [[graft.functions.Pq.writeIndex]]es the next index generation (the
    * declared full-rebuild path — drift means yesterday's codebooks no
    * longer describe the data).
    *
    * Exactly-once: the `_commits/<batchId>` high-water mark as in
    * [[dedupIngestSink]]; the index store keeps its OWN increment marks
    * under `_index`. A crash between the index commit and the outer
    * marker is detected AT ENTRY (round-19 ADVICE #1): the retry checks
    * the index's increment marks AND probes the batch ids against the
    * stored homes BEFORE any candidate work, and when the index already
    * owns the batch it derives the survivor set FROM the index (homes ∩
    * batch — the authoritative record of the original keep decision)
    * instead of re-running candidate generation. That matters on the
    * REFIT path, where the crash leaves NEW centroids behind: a
    * recompute against them could pick a different keep set and
    * permanently diverge corpus from index. The refit itself commits an
    * EMPTY index increment for the batch right after the generation
    * marker (the generation already holds the batch's vectors), so the
    * high-water mark advances on that path too.
    *
    * Per-batch cost: batch assignment O(|inc|·c·d), candidate join
    * bounded by cell co-membership, exact rerank only on candidates.
    * The rerank's corpus-vector lookup is HOME-CELL PARTITION-PRUNED
    * (round-19 VERDICT #1): doc increments are written under
    * `ig=<indexGen>/c_id=<homeCell>` subdirectories, and the lookup
    * filters to the batch's bounded probed-cell list, so the scan
    * touches only candidate-bearing files — parts whose layout a later
    * refit made stale (`ig` ≠ the live index generation) read whole
    * until compaction re-homes them. `nprobe` defaults HIGHER than the
    * ranked top-k searches (16 vs 8): near-dup candidate generation is
    * graded on pair-graph RECALL, and with centroid count √N-scaled, 16
    * probes stay a vanishing fraction of cells at corpus scale (at the
    * 16-cell fixture they are exhaustive — the suite pins the
    * non-trivial 12/16 point instead). Doc increments are
    * generation-compacted by [[vacuumSemanticCorpus]] (which also
    * re-homes the layout under the current index generation), exactly
    * like the lexical store. Seed with [[initSemanticDedupCorpus]];
    * read docs with [[readSemanticCorpus]]. */
  def dedupIngestSinkSemantic(docs: DataFrame, targetDir: String,
      threshold: Double = 0.4, nprobe: Int = 16): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        applySemanticDedupBatch(batch.toDF(), batchId, targetDir, threshold,
          nprobe); ()
    }

  /** One semantic ingest-dedup transaction (the
    * [[dedupIngestSinkSemantic]] body). Returns kept count, or -1 on a
    * high-water-mark skip.
    *
    * Replay contract (round-19 ADVICE #1): when the INDEX already owns
    * this batch (committed increment mark, or any batch id present in
    * the stored homes — index mutations are marker-atomic, so one
    * landed id means the whole batch landed), the keep set is derived
    * from the index and candidate generation is NOT re-run for the
    * decision. The provenance/stats sidecars are then rebuilt from the
    * pair graph against the CURRENT index — after an append-path crash
    * that graph is bit-identical to the original attempt's; after a
    * refit-path crash it is best-effort (the pre-refit candidate graph
    * is gone with the old centroids), while the keep set — the datum
    * corpus/index consistency rests on — is exact.
    *
    * The batch's embedding type must be the store's (read from one
    * stored part's footer at batch start): a mismatch fails before any
    * write, naming both types. */
  def applySemanticDedupBatch(batch: DataFrame, batchId: Long,
      targetDir: String, threshold: Double = 0.4, nprobe: Int = 16): Long =
    applyIngestBatch(batch, batchId,
      new SemanticStore(batch.sparkSession, targetDir, threshold, nprobe))

  /** The semantic store. Front overlap: the replay homes probe and the
    * ONE batch×centroid assignment checkpoint of the transaction (the
    * pair stage consumes it twice, the probed-cell list collects it, the
    * fresh path's survivor homes are its crnk = 1 rows). Its landing
    * write runs bounded: the layout write is EXCHANGE-FREE (both its
    * joins broadcast, partitionBy sorts within tasks), so adaptive
    * coalescing has nothing to coalesce. After the counts, the index
    * append (or the drift refit) runs serially. */
  private final class SemanticStore(spark: SparkSession, targetDir: String,
      threshold: Double = 0.4, nprobe: Int = 16) extends IngestStore(targetDir,
        "applySemanticDedupBatch", "semantic dedup corpus",
        "initSemanticDedupCorpus", "embedding", semStatField) {
    import graft.functions.Pq
    private val indexDir = s"$targetDir/_index"
    private var docSchema: StructType = _
    private var corpus: DataFrame = _
    private var idx: Pq.IvfPqIndex = _
    private var liveIg = 0L
    private var indexHasBatch = false
    private var assigned: DataFrame = _
    private var survHomes: DataFrame = _

    def open(b: DataFrame, batchId: Long): DataFrame = {
      // explicit docs-store schema for every read of the transaction
      // (round 21: inference costs one footer job per part per batch),
      // its element type the STORE's — a batch of another type fails
      // here, before any write, instead of at a later parquet scan
      val stored = storedEmbeddingType(spark, targetDir)
      val batchType = b.schema("embedding").dataType
      def elem(t: DataType) = t match { case ArrayType(e, _) => e; case o => o }
      require(elem(batchType) == elem(stored),
        s"$sink: the batch's embedding type ${batchType.catalogString} differs " +
          s"from the store's ${stored.catalogString} at $targetDir")
      docSchema = semDocsSchema(stored)
      corpus = readSemanticVectors(spark, targetDir, None, Some(docSchema))
      idx = Pq.readIndex(spark, indexDir)
      liveIg = graft.MarkerStore.liveGen(spark, indexDir).get._1
      // driver-side replay mark (FS read, no jobs): a marked replay
      // skips the homes probe outright
      indexHasBatch =
        graft.MarkerStore.committedIncs(spark, indexDir).contains(batchId)
      // expression registration on the MAIN thread, before any overlap
      // branch touches the function registry
      graft.functions.VectorExprs.register(spark)
      corpus
    }

    def front(b: DataFrame, s: graft.Checkpoints.Scope): Seq[() => Unit] = Seq(
      // replay detection (the replay contract above): homes side
      // streams, batch ids broadcast, ONE count job — the no-replay hot
      // path must scan every homes partition to find nothing either way
      () => indexHasBatch = indexHasBatch ||
        graft.Checkpoints.bounded(idx.homes.select("vec_id")
          .join(broadcast(b.select(col("doc_id").as("vec_id"))),
            Seq("vec_id"), "left_semi")
          .agg(count(lit(1))))(_.head()).getLong(0) > 0,
      () => assigned = graft.Checkpoints.bounded(graft.functions.Ivf.assignments(
        b.select(col("doc_id").as("vec_id"),
          transform(col("embedding"), _.cast("double")).as("v")),
        idx.model.cents, nprobe,
        (a, b2) => call_function("vec_sqdist", a, b2)))(s.pin))

    def pairs(b: DataFrame): DataFrame =
      semanticBatchPairs(spark, idx,
        cells => readSemanticVectors(spark, targetDir, Some((liveIg, cells)),
          Some(docSchema)),
        b, threshold, nprobe, Some(assigned))

    /** On a replay the index's homes are the authoritative record of the
      * original keep decision (a recompute against a post-refit index
      * could differ and diverge corpus from index forever), and the
      * stored homes are the survivors' homes. On the fresh path the
      * homes are the crnk = 1 rows of the ONE checkpointed assignment,
      * restricted to the kept ids (bit-identical to a dedicated homes
      * pass — [[graft.functions.Pq.homesOf]]'s contract), checkpointed
      * so the layout write and the index append read the same rows. */
    override def keep(bIds: DataFrame, derived: DataFrame,
        s: graft.Checkpoints.Scope): DataFrame =
      if (indexHasBatch) {
        survHomes = idx.homes.join(bIds.select(col("doc_id").as("vec_id")),
          Seq("vec_id"), "left_semi")
        bIds.join(idx.homes.select(col("vec_id").as("doc_id")),
          Seq("doc_id"), "left_semi")
      } else {
        survHomes = graft.Checkpoints.bounded(assigned.filter(col("crnk") === 1)
          .select(col("vec_id"), col("c_id"))
          .join(broadcast(derived.select(col("doc_id").as("vec_id"))),
            Seq("vec_id"), "left_semi"))(s.pin)
        derived
      }

    def land(survivors: DataFrame, batchId: Long): Unit =
      graft.Checkpoints.bounded(spark)(in => writeSemanticDocs(in(survivors),
        in(survHomes), liveIg, s"$targetDir/inc=$batchId", broadcastHomes = true))

    def landed(batchId: Long): DataFrame = spark.read.schema(docSchema)
      .parquet(s"$targetDir/inc=$batchId").select("doc_id", "embedding")

    /** The index op. The kept count gates the append, so appendToIndex
      * skips its own emptiness/duplicate probes (skipChecks): the
      * transaction already proved the batch ids distinct, absent from
      * the corpus and (fresh path) absent from the index. */
    def finish(landed: DataFrame, n: Long, batchId: Long): Any =
      if (indexHasBatch) {
        // backfill the high-water mark a refit-path crash may have lost
        // (gen marker landed, increment marker did not): the generation
        // holds the rows, the increment is empty bookkeeping
        if (!graft.MarkerStore.committedIncs(spark, indexDir).contains(batchId))
          Pq.writeIndexIncrement(emptyHomes(spark), emptyCodes(spark),
            indexDir, batchId)
        "skipped"
      } else if (n == 0) "empty"
      else {
        // persist=true + explicit unpersist below (round 21: the encode
        // runs ONCE, at the drift moment, and the write reads the
        // persisted blocks); precomputedHomes: no second assignment
        // pass. corpusMoment from the persisted MOMENT SIDECARS (round
        // 20): the drift test merges ≤ m·k count rows per store part
        // instead of scanning the stored codes — this transaction never
        // reads the codes relation at all, which the suite pins by
        // scrambling the stored codes in place.
        val app = Pq.appendToIndex(idx, landed, "embedding",
          idCol = "doc_id", persist = true,
          corpusMoment = Pq.indexMoment(spark, indexDir, idx.model.pq),
          precomputedHomes = Some(survHomes), skipChecks = true)
        try {
          if (app.refitNeeded) {
            // distribution shift: full refit over corpus + survivors as
            // the next index generation, then an EMPTY increment for
            // batchId advances the index high-water mark (the generation
            // already holds the batch's vectors), so a crash retry
            // detects ownership from the marker alone
            val all = corpus.unionByName(landed)
            Pq.writeIndex(Pq.indexOf(all, "embedding",
              Pq.fitIvfPq(all, "embedding", idCol = "doc_id"), "doc_id"), indexDir)
            Pq.writeIndexIncrement(emptyHomes(spark), emptyCodes(spark),
              indexDir, batchId)
            "refit"
          } else if (app.incHomes.nonEmpty) {
            Pq.writeIndexIncrement(app.incHomes.get, app.incCodes.get,
              indexDir, batchId)
            "appended"
          } else "empty"
        } finally {
          // the increment's MEMORY_ONLY blocks are dead once written
          app.incHomes.foreach(_.unpersist(false))
          app.incCodes.foreach(_.unpersist(false))
        }
      }

    /** The index joins the compaction: a drift-free run never writes an
      * index generation on its own, so without this the `_index` read
      * plan grows one increment per batch. The vacuum snapshots the
      * CURRENT index as the next generation
      * ([[graft.functions.Pq.writeIndex]] — a bounded N·(m+2) write) and
      * retires what was superseded AT ENTRY — the pre-call live
      * generation's cover, passed as vacuumIndex's `asOf` (round-19
      * ADVICE #2: retiring against the just-written snapshot would be
      * zero-cycle — a reader that resolved moments before the new
      * marker would lose its files mid-scan; what THIS call superseded
      * retires on the NEXT vacuum, the corpus store's own one-cycle
      * rule). The compacted docs generation is RE-HOMED: rows re-join
      * the live index's homes and the layout is written under the
      * current index generation, so increments a refit left stale
      * become prunable again. */
    def vacuumDatasets(): Seq[CorpusDataset] = {
      val preGen = graft.MarkerStore.liveGen(spark, indexDir)
      // snapshot only when appended increments exist above the live
      // generation's cover — an idle vacuum must not mint identical
      // generations forever
      if (graft.MarkerStore.resolve(spark, indexDir)._2.nonEmpty)
        Pq.writeIndex(Pq.readIndex(spark, indexDir), indexDir)
      Pq.vacuumIndex(spark, indexDir, preGen)
      val homes = Pq.readIndex(spark, indexDir).homes
      val ig = graft.MarkerStore.liveGen(spark, indexDir).get._1
      Seq(
        CorpusDataset("docs", id => s"$targetDir/inc=$id",
          semDocsSchema(storedEmbeddingType(spark, targetDir)),
          project = df => df.select("doc_id", "embedding"),
          write = (df, dst) => writeSemanticDocs(df, homes, ig, dst)),
        CorpusDataset("dups", id => s"$targetDir/_dups/inc=$id", dupsSchema))
    }

    /** The INDEX redacts FIRST, without a refit — homes and codes are
      * per-vector rows, so the filtered index is exact — snapshotted as
      * the next index generation ([[graft.functions.Pq.writeIndex]]): a
      * crash between the two stores then leaves redacted docs invisible
      * to search (no ghosts — the direction a deletion request cares
      * about) while the corpus side completes on retry (both steps are
      * idempotent filters; the retry's extra generation is harmless).
      * The index vacuum runs against the generation live at ENTRY,
      * never the one this call just wrote. The redacted docs generation
      * is written home-cell partitioned against the redacted index (the
      * homes join doubles as the filter check — a doc without a
      * post-redaction home fails loud). */
    def redactDatasets(del: DataFrame): Seq[RedactDataset] = {
      val preGen = graft.MarkerStore.liveGen(spark, indexDir)
      val live = Pq.readIndex(spark, indexDir)
      val delVec = del.select(col("doc_id").as("vec_id"))
      Pq.writeIndex(Pq.IvfPqIndex(live.model,
        live.homes.join(delVec, Seq("vec_id"), "left_anti"),
        live.codes.join(delVec, Seq("vec_id"), "left_anti")), indexDir)
      Pq.vacuumIndex(spark, indexDir, preGen)
      val homes = Pq.readIndex(spark, indexDir).homes
      val ig = graft.MarkerStore.liveGen(spark, indexDir).get._1
      Seq(
        RedactDataset("docs", () => readSemanticCorpus(spark, targetDir),
          df => df.join(del, Seq("doc_id"), "left_anti"),
          (df, dst) => writeSemanticDocs(df, homes, ig, dst)),
        dupsRedaction(spark, targetDir, del))
    }
  }

  /** Empty index-increment relations (the refit path's bookkeeping
    * increment — schema-compatible with homes/codes unions). */
  private def emptyHomes(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Long)].toDF("vec_id", "c_id")
  }

  private def emptyCodes(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Int, Long)].toDF("vec_id", "b", "code")
  }

  /** Candidate generation + exact rerank for one semantic batch —
    * split out so the suite can pin its recall against the exact
    * block-pair graph. `corpusVecsFor(cells)`: (doc_id, embedding) for
    * the corpus, restricted (where the store's layout allows — see
    * [[readSemanticVectors]]) to docs homed in the given cells. The
    * exact rerank only ever looks up CANDIDATE vectors, and every
    * corpus candidate is homed in a probed cell by construction (it
    * entered through the homes co-membership join), so the restriction
    * is pure partition pruning — same pairs, candidate-bearing files
    * only. Returns batch-touching (id_a, id_b) pairs with
    * cos ≥ threshold.
    *
    * `assignedOpt` (round 22): the caller's MATERIALIZED nprobe
    * assignment of the batch against idx's centroids — the sink
    * checkpoints it once and shares it across this pair stage, the
    * probed-cell collect, and the survivor home derivation
    * (crnk = 1 of the same pass — bit-identical to a dedicated
    * homes pass per [[graft.functions.Pq.homesOf]]'s contract);
    * the un-shared form re-ran the batch×centroid distance stage
    * 3–4 times per micro-batch. None (the suites' path) computes it
    * inline, exactly as before. */
  private[graft] def semanticBatchPairs(spark: SparkSession,
      idx: graft.functions.Pq.IvfPqIndex,
      corpusVecsFor: Seq[Long] => DataFrame,
      bVecs: DataFrame, threshold: Double, nprobe: Int,
      assignedOpt: Option[DataFrame] = None): DataFrame = {
    import graft.functions.Ivf
    graft.functions.VectorExprs.register(spark)
    val vB = bVecs.select(col("doc_id").as("vec_id"),
      transform(col("embedding"), _.cast("double")).as("v"))
    val assigned = assignedOpt.getOrElse(
      Ivf.assignments(vB, idx.model.cents, nprobe,
        (a, b) => call_function("vec_sqdist", a, b)))
    // the batch's probed-cell list — bounded by the centroid count
    // (≤ c driver rows), the partition-prune key for the corpus-side
    // vector lookup below; a batch-bounded action
    val cells = graft.Checkpoints.bounded(assigned.select("c_id").distinct())(_.collect())
      .map(_.getLong(0)).toSeq
    val batchHomes = assigned.filter(col("crnk") === 1)
      .select(col("vec_id"), col("c_id"))
    val allHomes = idx.homes.select("vec_id", "c_id").unionByName(batchHomes)
    val candIds = assigned.select(col("vec_id").as("i"), col("c_id"))
      .join(allHomes, "c_id")
      .filter(col("i") =!= col("vec_id"))
      .select(least(col("i"), col("vec_id")).as("id_a"),
        greatest(col("i"), col("vec_id")).as("id_b"))
      .distinct()
    val allVecs = corpusVecsFor(cells)
      .unionByName(bVecs.select("doc_id", "embedding"))
    val n = graft.queries.Dedup.normed(spark,
      allVecs.select(col("doc_id").as("vec_id"), col("embedding")))
    candIds
      .join(n.select(col("vec_id").as("id_a"), col("v").as("va"),
        col("nrm").as("na")), "id_a")
      .join(n.select(col("vec_id").as("id_b"), col("v").as("vb"),
        col("nrm").as("nb")), "id_b")
      .withColumn("cos", graft.queries.Dedup.cosine("va", "vb", "na", "nb"))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b")
  }

  /** Seed the semantic corpus: the initial kept relation becomes
    * increment −1 (home-cell partitioned under its index generation)
    * and its fitted index the first persisted generation. */
  def initSemanticDedupCorpus(initial: DataFrame, targetDir: String): Unit = {
    import graft.functions.Pq
    val spark = initial.sparkSession
    val indexDir = s"$targetDir/_index"
    val docs = initial.select(col("doc_id").cast("long").as("doc_id"),
        col("embedding"))
      .localCheckpoint(true)
    try {
      val idx = Pq.indexOf(docs, "embedding",
        Pq.fitIvfPq(docs, "embedding", idCol = "doc_id"), "doc_id")
      Pq.writeIndex(idx, indexDir)
      writeSemanticDocs(docs, idx.homes,
        graft.MarkerStore.liveGen(spark, indexDir).get._1,
        s"$targetDir/inc=-1")
      emptyDups(spark).write.mode("overwrite").parquet(s"$targetDir/_dups/inc=-1")
      commitMarker(spark, targetDir, -1L)
    } finally graft.Checkpoints.release(docs)
  }

  /** The accumulated semantic corpus: the live compaction generation
    * (when one exists) plus committed tail (doc_id, embedding)
    * increments — the layout's partition columns are dropped. Every
    * part reads under [[semDocsSchema]], so the read runs no job. */
  def readSemanticCorpus(spark: SparkSession, targetDir: String): DataFrame =
    readSemanticVectors(spark, targetDir, None)

  /** The semantic (doc_id, embedding) relation, optionally
    * PARTITION-PRUNED to probed home cells: parts are laid out as
    * `ig=<indexGen>/c_id=<homeCell>` subdirectories, so with
    * `prune = Some((liveIndexGen, cells))` a part whose layout is
    * CURRENT (ig == liveIndexGen) scans only the probed cells' files —
    * the filter touches only partition columns and resolves at
    * file-listing time. Parts a later refit made stale (ig differs:
    * their c_id was assigned by retired centroids) and pre-layout empty
    * fallbacks (no partition columns) read whole — pruning them against
    * the CURRENT index's cells would lose candidates homed elsewhere.
    * Compaction re-homes stale layouts ([[vacuumSemanticCorpus]]), so
    * the unpruned tail is bounded by the vacuum cadence. `schema` is
    * the store's [[semDocsSchema]] when the caller already has it,
    * else it is read from a stored footer. */
  private[graft] def readSemanticVectors(spark: SparkSession,
      targetDir: String, prune: Option[(Long, Seq[Long])],
      schema: Option[StructType] = None): DataFrame =
    readCorpusStoreParts(spark, targetDir, "docs", id => s"$targetDir/inc=$id",
      df => {
        // ig/c_id surface on EVERY part: partitioned parts bind them
        // from the layout (the prune below resolves at file-listing
        // time); flat parts — always the zero-row fallback — read them
        // as null data columns, which the filter touches zero rows
        // through (isNull keeps them read-whole)
        val pruned = prune match {
          case Some((ig, cells)) =>
            df.filter(col("ig").isNull ||
              col("ig").cast("long") =!= lit(ig) ||
              col("c_id").cast("long").isInCollection(cells))
          case None => df
        }
        pruned.select("doc_id", "embedding")
      }, schema.getOrElse(semDocsSchema(storedEmbeddingType(spark, targetDir))))

  /** Write one semantic docs dataset HOME-CELL PARTITIONED:
    * `ig=<indexGen>/c_id=<homeCell>` subdirectories, where `ig` is the
    * index generation whose centroids assigned the cells — readers can
    * then tell a current (prunable) layout from one a later refit made
    * stale ([[readSemanticVectors]]). Every doc must have a home in
    * `homes` — a missing one fails loud inside the write expression
    * (a silent inner-join drop would lose documents). A zero-row
    * partitioned write leaves no schema-bearing file at all, which
    * would break every later read of the store — the empty case falls
    * back to a plain schema-only parquet write (no partition columns;
    * readers treat such parts as unprunable, which is free at zero
    * rows). */
  private[graft] def writeSemanticDocs(docs: DataFrame, homes: DataFrame,
      ig: Long, dir: String, broadcastHomes: Boolean = false): Unit = {
    val spark = docs.sparkSession
    // broadcastHomes: the per-batch sink path passes true — its homes
    // relation is batch-bounded and checkpoint-backed (no size stats,
    // so AQE would sort-merge); the vacuum/redaction generation writes
    // keep the default (their homes side is corpus-sized)
    val homesRel = homes.select(col("vec_id").as("doc_id"), col("c_id"))
    docs.select("doc_id", "embedding")
      .join(if (broadcastHomes) broadcast(homesRel) else homesRel,
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("embedding"),
        when(assert_true(col("c_id").isNotNull,
          concat(lit("writeSemanticDocs: doc "), col("doc_id").cast("string"),
            lit(" has no home cell in the index"))).isNull,
          col("c_id")).as("c_id"),
        lit(ig).as("ig"))
      .write.mode("overwrite").partitionBy("ig", "c_id").parquet(dir)
    if (firstParquetFile(spark, dir).isEmpty)
      docs.select("doc_id", "embedding").limit(0)
        .write.mode("overwrite").parquet(dir)
  }

  /** The first .parquet data file under `dir` (recursive, driver-side). */
  private def firstParquetFile(spark: SparkSession,
      dir: String): Option[org.apache.hadoop.fs.Path] = {
    val it = fsOf(spark, dir).listFiles(new org.apache.hadoop.fs.Path(dir), true)
    var found: Option[org.apache.hadoop.fs.Path] = None
    while (found.isEmpty && it.hasNext)
      found = Some(it.next().getPath).filter(_.getName.endsWith(".parquet"))
    found
  }

  /** A semantic store's embedding type, read on the driver from the
    * footer of one stored docs part (no Spark job — a schema-inferring
    * read would run one). Every part has a parquet file: an empty one
    * is written flat, schema only ([[writeSemanticDocs]]). */
  private def storedEmbeddingType(spark: SparkSession, targetDir: String): DataType = {
    val file = storeParts(spark, targetDir, "docs", id => s"$targetDir/inc=$id")
      .iterator.flatMap(firstParquetFile(spark, _)).next()
    val conf = spark.sparkContext.hadoopConfiguration
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
    try new org.apache.spark.sql.execution.datasources.parquet
      .ParquetToSparkSchemaConverter().convert(
        reader.getFooter.getFileMetaData.getSchema)("embedding").dataType
    finally reader.close()
  }

  /** The ingest sinks' shared D6 keep rule over a batch-touching pair
    * graph: connected components over the pairs — nodes are the pair
    * endpoints plus the batch (an isolated batch doc must survive);
    * corpus docs appear only when a batch doc pairs them. A batch doc
    * is kept iff its component contains NO corpus doc and it is the
    * component's smallest batch id. Returns (keep ids, the component
    * relation, the corpus-touching component ids) so callers can also
    * derive the drop breakdown for their stats row.
    *
    * `comp`, `keep` and `compCorpus` come back EAGER-CHECKPOINTED,
    * each pinned in the caller's scope `s` as it lands
    * (round-21 measurement: each sink transaction consumes them from
    * 3–4 separate actions — survivor write, provenance write,
    * drop-count stat — and the un-checkpointed subtrees re-executed
    * per action, ~35 of the lexical batch's 68 jobs; all three
    * relations are batch-graph-sized, so the pinned storage is tiny).
    * `compCorpus` — the comp rows whose id is a corpus doc — is the ONE
    * subtree that scans the corpus doc_id column (round 22): consumers
    * derive the corpus-touching component set and the canon relation
    * from it without touching the corpus again. */
  private def dedupKeepParts(bIds: DataFrame, corpusIds: DataFrame,
      pairs: DataFrame, s: graft.Checkpoints.Scope): (DataFrame, DataFrame, DataFrame) = {
    val spark = bIds.sparkSession
    val nodes = bIds.select(col("doc_id").as("id"))
      .unionByName(pairs.select(col("id_a").as("id")))
      .unionByName(pairs.select(col("id_b").as("id")))
      .distinct()
    // batch-graph-bounded materializations: the checkpoint actions run
    // bounded (one job each instead of 2–4 stage jobs; the compCorpus
    // plan's corpus side is a single column-pruned id scan whose join
    // is batch-bounded). The components call runs whole in the bounded
    // child, so its edge probe plans non-adaptive too
    val comp = graft.Checkpoints.bounded(spark) { in =>
      s.pin(graft.queries.Dedup.connectedComponents(in(nodes), in(pairs),
        nodesComplete = true))
    }
    // corpus ids are UNIQUE (the sinks' id-hygiene invariant), so the
    // inner join against the broadcast batch-graph side returns exactly
    // the semi-join's rows — with the corpus id scan STREAMING through
    // a broadcast hash join instead of being shuffled (the semi form
    // could only broadcast its corpus side)
    val compCorpus = graft.Checkpoints.bounded(corpusIds.select(col("doc_id").as("id"))
      .join(broadcast(comp), "id")
      .select(col("id"), col("component")))(s.pin)
    // anti-join right sides need no distinct (multiplicity is ignored);
    // run bounded, the shuffle joins fold into the checkpoint's one job
    val keep = graft.Checkpoints.bounded(comp
      .join(bIds.select(col("doc_id").as("id")), Seq("id"), "left_semi")
      .join(compCorpus.select(col("component")), Seq("component"), "left_anti")
      .groupBy("component").agg(min(col("id")).as("doc_id"))
      .select("doc_id"))(s.pin)
    (keep, comp, compCorpus)
  }

  /** Bounded hot-shingle probe over a MERGED df relation — the same
    * answer as [[graft.queries.Dedup.hotShingleProbe]] on the full
    * shingle relation (df sums of per-doc-distinct partials ≡ row
    * counts), without re-deriving a single shingle from text. */
  private def hotFromDfs(dfAll: DataFrame,
      dfCap: Int = graft.queries.Dedup.HotShingleDfCap,
      maxHot: Int = 1 << 16): Seq[Long] = {
    val hot = dfAll.filter(col("df") > dfCap).select("shingle")
      .limit(maxHot + 1).collect()
    require(hot.length <= maxHot,
      s"more than $maxHot shingles exceed document frequency $dfCap — this " +
        "is not an outlier vocabulary; raise dfCap or maxHot")
    hot.map(_.getLong(0)).toSeq
  }

  /** COMPACTION + RETIREMENT for the ingest-dedup corpus (round-18
    * VERDICT #2 — [[vacuumUpsertTarget]]'s generation discipline ported
    * to the append-only store): without it, [[readDedupCorpus]] and the
    * per-batch store reads union one directory per committed increment,
    * a plan that grows with lifetime batch count.
    *
    *  1. COMPACT: when tail increments exist above the live
    *     generation's cover, write generation g+1 — docs and shingles
    *     re-unioned, df partials MERGED to one row per shingle — under
    *     `gen=<g+1>/{docs,shingles,dfs}`, and commit the
    *     `_gens/<g+1>_<maxInc>` marker LAST. Readers resolve through
    *     the marker, so every point-in-time read lands on committed
    *     bytes; a crash before the marker leaves an orphan directory
    *     the retry overwrites.
    *  2. RETIRE, full ONE-CYCLE retention (stronger than the upsert
    *     twin's live-id rule): only data a reader could NOT have
    *     resolved since the PREVIOUS vacuum retires — increment data
    *     directories at or below the PRE-vacuum live generation's
    *     cover, generation directories below the pre-vacuum live
    *     generation, and unmarked orphan generation directories below
    *     the new live (never reader-visible). Everything this call's
    *     own marker superseded survives until the NEXT vacuum.
    *     Increment `_commits` markers are NEVER deleted — they are the
    *     sink's exactly-once high-water mark.
    *
    * Returns the increment ids whose data directories were retired. */
  def vacuumDedupCorpus(spark: SparkSession, targetDir: String): Seq[Long] =
    vacuumCorpus(spark, new LexicalStore(spark, targetDir))

  /** [[vacuumDedupCorpus]] for the semantic target: the same generation
    * discipline over its docs and provenance sidecars, after the index
    * store's own compaction (`SemanticStore.vacuumDatasets`). Returns the
    * retired corpus increment ids. */
  def vacuumSemanticCorpus(spark: SparkSession, targetDir: String): Seq[Long] =
    vacuumCorpus(spark, new SemanticStore(spark, targetDir))

  /** One per-increment dataset of a versioned corpus store, as the
    * vacuum core sees it: every part reads under the declared `schema`,
    * `project` normalizes each part before the union (partitioned
    * layouts drop/prune their partition columns here), `compact`
    * transforms the unioned relation (e.g. the df-partial merge),
    * `write` lands the generation dataset (the semantic docs override
    * writes home-cell partitioned). */
  private final case class CorpusDataset(
      name: String,
      incPath: Long => String,
      schema: StructType,
      project: DataFrame => DataFrame = identity,
      compact: DataFrame => DataFrame = identity,
      write: (DataFrame, String) => Unit =
        (df, dst) => df.write.mode("overwrite").parquet(dst))

  /** REDACTION (the GDPR / right-to-be-forgotten delete) for the
    * lexical ingest-dedup corpus: remove `ids` from every live dataset
    * by writing the next GENERATION with them filtered out
    * (`LexicalStore.redactDatasets`), and the provenance log drops every
    * row that mentions a redacted id on either side. The generation
    * marker commits LAST, so readers see pre- or post-redaction state
    * atomically, and a re-ingest of a redacted document is KEPT (its
    * content owner is gone — the exact contract a deletion request
    * implies). PHYSICAL bytes of the pre-redaction state follow the
    * vacuum's one-cycle retention: run [[vacuumDedupCorpus]] twice after
    * redacting to retire them from disk (the Delta DELETE-then-VACUUM
    * discipline). Returns the number of documents actually removed. */
  def redactDedupCorpus(spark: SparkSession, targetDir: String,
      ids: DataFrame): Long =
    redactCorpus(spark, new LexicalStore(spark, targetDir), ids)

  /** [[redactDedupCorpus]] for the SEMANTIC target: documents and
    * provenance redact through the same generation write, after the
    * INDEX drops the ids (`SemanticStore.redactDatasets`). Retention:
    * search-visible state flips at each marker, and PHYSICAL
    * pre-redaction bytes — index and corpus alike — follow the
    * one-cycle rule: two [[vacuumSemanticCorpus]] calls retire them
    * from disk. */
  def redactSemanticCorpus(spark: SparkSession, targetDir: String,
      ids: DataFrame): Long =
    redactCorpus(spark, new SemanticStore(spark, targetDir), ids)

  /** The provenance log's redaction, both stores: every row that
    * mentions a redacted id on either side drops. */
  private def dupsRedaction(spark: SparkSession, targetDir: String,
      del: DataFrame): RedactDataset =
    RedactDataset("dups", () => readDedupAttribution(spark, targetDir), df =>
      df.join(del, Seq("doc_id"), "left_anti")
        .join(del.select(col("doc_id").as("dup_of")), Seq("dup_of"), "left_anti")
        .select("doc_id", "dup_of"))

  /** Single-column long-castable id normalization for the redaction
    * entries (the workloadIds contract: loud on nulls, duplicates
    * collapse). */
  private def normalizeRedactIds(ids: DataFrame): DataFrame = {
    require(ids.columns.length == 1,
      s"redact: ids must be a single column, got (${ids.columns.mkString(", ")})")
    val c = col(ids.columns.head)
    ids.select(
        when(assert_true(c.cast("long").isNotNull,
          concat(lit("redact: id does not cast to long: "),
            coalesce(c.cast("string"), lit("null")))).isNull,
          c.cast("long")).as("doc_id"))
      .distinct()
  }

  /** One live dataset of a corpus store, as the redaction core sees
    * it: reader of the CURRENT live state, the redaction filter, and
    * the generation writer (the semantic docs override writes
    * home-cell partitioned). */
  private final case class RedactDataset(
      name: String,
      reader: () => DataFrame,
      filter: DataFrame => DataFrame,
      write: (DataFrame, String) => Unit =
        (df, dst) => df.write.mode("overwrite").parquet(dst))

  /** The redaction core: write generation g+1 with each of the
    * store's datasets filtered from the CURRENT live state, covering
    * every committed increment; marker LAST. Old bytes retire through
    * the regular vacuum's one-cycle rule. Returns removed-document
    * count. */
  private def redactCorpus(spark: SparkSession, store: IngestStore,
      ids: DataFrame): Long = graft.Checkpoints.scoped { s =>
    val t = store.targetDir
    val del = s.pin(normalizeRedactIds(ids))
    val (gen0, _) = graft.MarkerStore.resolve(spark, t)
    val committed = committedIds(spark, t)
    require(committed.nonEmpty, s"dedup corpus $t has no committed increment")
    val datasets = store.redactDatasets(del)
    val removed = datasets.head.reader()
      .join(del, Seq("doc_id"), "left_semi").count()
    val g = gen0.map(_._1).getOrElse(0L) + 1
    datasets.foreach(ds => ds.write(ds.filter(ds.reader()), s"$t/gen=$g/${ds.name}"))
    // the operational log carries forward unredacted — its rows are
    // per-batch aggregates with no document content or ids
    foldStats(spark, t, store.statField, g)
    graft.MarkerStore.commitGen(spark, t, g, committed.max)
    removed
  }

  /** Fold the live `_stats` log (the store's last column `statField`)
    * into generation `g`'s `stats`, when there is one. */
  private def foldStats(spark: SparkSession, targetDir: String,
      statField: StructField, g: Long): Unit = {
    val ps = statsParts(spark, targetDir)
    if (ps.nonEmpty)
      spark.read.schema(statsSchema(statField)).parquet(ps: _*)
        .write.mode("overwrite").parquet(s"$targetDir/gen=$g/stats")
  }

  /** The generation compact + one-cycle retire core of both corpus
    * vacuums, over the store's per-increment datasets (generation name,
    * increment path, compaction transform — identity, or a merge like
    * the df-partial sum). Protocol per the [[vacuumDedupCorpus]]
    * scaladoc: compact marker LAST, retire only what the PRE-vacuum live
    * generation covered, increment `_commits` markers never retire. */
  private def vacuumCorpus(spark: SparkSession, store: IngestStore): Seq[Long] = {
    val datasets = store.vacuumDatasets()
    val targetDir = store.targetDir
    val fs = fsOf(spark, targetDir)
    def path(s: String) = new org.apache.hadoop.fs.Path(s)
    val (gen0, tail) = graft.MarkerStore.resolve(spark, targetDir)
    require(gen0.nonEmpty || tail.nonEmpty,
      s"dedup corpus $targetDir has no committed increment")
    // -- 1. compact live state into the next generation (marker last)
    val newGen: Option[Long] =
      if (tail.isEmpty) None
      else {
        val g = gen0.map(_._1).getOrElse(0L) + 1
        datasets.foreach { ds =>
          ds.write(
            ds.compact(readCorpusStoreParts(spark, targetDir, ds.name,
              ds.incPath, ds.project, ds.schema)),
            s"$targetDir/gen=$g/${ds.name}")
        }
        // the operational log folds forward too (its per-batch files
        // retire below; without this the history would truncate)
        foldStats(spark, targetDir, store.statField, g)
        graft.MarkerStore.commitGen(spark, targetDir, g, tail.max)
        Some(g)
      }
    // -- 2. retire with one-cycle retention: increments covered by the
    // PRE-vacuum live generation (a reader since the last vacuum could
    // only have resolved those through that generation), generations
    // below it, and unmarked orphans (never visible). Data first;
    // generation markers last; increment markers never.
    val retired = gen0 match {
      case None => Seq.empty[Long]
      case Some((liveG, covered)) =>
        val coveredIds = committedIds(spark, targetDir)
          .filter(_ <= covered).sorted
        // the RETURN names ids whose docs directory was still present;
        // the deletes below run over EVERY covered id unconditionally
        // (missing paths are no-ops) — gating the sidecar deletes on
        // the docs directory would leak them forever after a crash
        // that removed docs first (round-19 ADVICE #3). Cost: one
        // driver delete call per lifetime increment per dataset —
        // same order as the committedIds listing itself.
        val incs = coveredIds
          .filter(id => fs.exists(path(datasets.head.incPath(id))))
        coveredIds.foreach { id =>
          datasets.foreach(ds => fs.delete(path(ds.incPath(id)), true))
          fs.delete(path(s"$targetDir/_stats/$id"), true)
        }
        val committedG = graft.MarkerStore.committedGens(spark, targetDir)
          .map(_._1).toSet
        val newLive = newGen.getOrElse(liveG)
        fs.listStatus(path(targetDir)).toSeq.map(_.getPath)
          .filter(_.getName.matches("gen=\\d+"))
          .map(d => d.getName.stripPrefix("gen=").toLong)
          .filter(g => g < liveG || (g < newLive && !committedG.contains(g)))
          .foreach { g =>
            fs.delete(path(s"$targetDir/gen=$g"), true)
            graft.MarkerStore.committedGens(spark, targetDir)
              .filter(_._1 == g)
              .foreach { case (gg, cc) =>
                fs.delete(path(s"$targetDir/_gens/${gg}_$cc"), false)
              }
          }
        incs
    }
    retired
  }

  /** Resolve a snapshot id to its directory: the highest committed
    * compaction generation when one exists, else the original
    * `snap=<id>` the upsert wrote. */
  private def snapshotPath(spark: SparkSession, targetDir: String,
      id: Long): String = {
    val g = generationOf(spark, targetDir, id)
    if (g == 0) s"$targetDir/snap=$id" else s"$targetDir/snap=${id}g$g"
  }

  /** Highest committed compaction generation of a snapshot (0 = the
    * original upsert-written directory). */
  private def generationOf(spark: SparkSession, targetDir: String,
      id: Long): Long =
    generationsOf(spark, targetDir, id).foldLeft(0L)(math.max)

  private def generationsOf(spark: SparkSession, targetDir: String,
      id: Long): Seq[Long] = {
    val fs = fsOf(spark, targetDir)
    val dir = new org.apache.hadoop.fs.Path(s"$targetDir/_compactions")
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(_.startsWith(s"${id}_"))
      .map(_.stripPrefix(s"${id}_").toLong)
  }

  private def commitMarker(spark: SparkSession, targetDir: String,
      batchId: Long): Unit =
    graft.MarkerStore.commitInc(spark, targetDir, batchId)

  private def committedIds(spark: SparkSession, targetDir: String): Seq[Long] =
    graft.MarkerStore.committedIncs(spark, targetDir)

  private def fsOf(spark: SparkSession, dir: String) =
    graft.MarkerStore.fs(spark, dir)
}

/** Per-user running count as a [[StatefulProcessor]]: one ValueState[Long]
  * holds the count-so-far; each input batch's rows are processed in
  * (ts, event_id) order — the SAME order the batch cross-check
  * (stream_stateful's window) uses; sorting by event_id alone diverged
  * whenever arrival ids ran against event time (round-12 review). The
  * equivalence claim is scoped to ts-ordered replays: a row arriving in
  * a LATER batch than its timestamp peers still counts late (arbitrary
  * state has no watermark reordering). */
class RunningCountProcessor(ttl: TTLConfig = TTLConfig.NONE)
    extends StatefulProcessor[Long, (Long, Long, Long), (Long, Long, Long)] {
  @transient private var count: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    count = getHandle.getValueState[Long]("count", Encoders.scalaLong, ttl)

  override def handleInputRows(
      userId: Long,
      rows: Iterator[(Long, Long, Long)],
      timerValues: TimerValues): Iterator[(Long, Long, Long)] = {
    var n = if (count.exists()) count.get() else 0L
    val out = rows.toSeq.sortBy(r => (r._2, r._3)).map { case (_, _, eventId) =>
      n += 1
      (userId, eventId, n)
    }
    count.update(n)
    out.iterator
  }
}

/** [[Streams.runningCountsEvicting]]'s processor: per-key running count
  * whose state is cleared by an event-time timer once the key has been
  * idle past the gap. Two state rows per key — the count and the
  * currently-registered timer's expiry (kept so a new event can
  * `deleteTimer` the stale registration before arming the next one;
  * otherwise an old timer would fire mid-activity and wipe a live
  * count). Expired-timer handling emits the observable tombstone
  * `(key, -1, final_n)` and clears BOTH rows — the state store holds
  * nothing for idle keys, which is the whole point at 100 TB/day. Spark
  * processes a batch's input rows before its expired timers, so the
  * "watermark passed the expiry" decision never races a same-batch
  * event: the event re-arms the timer first and the stale expiry is
  * deleted. */
class EvictingCountProcessor(idleGapMs: Long)
    extends StatefulProcessor[Long, (Long, Long, Long), (Long, Long, Long)] {
  @transient private var count: ValueState[Long] = _
  @transient private var armed: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    count = getHandle.getValueState[Long]("count", Encoders.scalaLong, TTLConfig.NONE)
    armed = getHandle.getValueState[Long]("armed", Encoders.scalaLong, TTLConfig.NONE)
  }

  override def handleInputRows(
      userId: Long,
      rows: Iterator[(Long, Long, Long)],
      timerValues: TimerValues): Iterator[(Long, Long, Long)] = {
    var n = if (count.exists()) count.get() else 0L
    var maxMs = Long.MinValue
    val out = rows.toSeq.sortBy(r => (r._2, r._3)).map { case (_, ms, eventId) =>
      n += 1
      if (ms > maxMs) maxMs = ms
      (userId, eventId, n)
    }
    count.update(n)
    if (maxMs != Long.MinValue) {
      val expiry = maxMs + idleGapMs
      if (armed.exists()) getHandle.deleteTimer(armed.get())
      getHandle.registerTimer(expiry)
      armed.update(expiry)
    }
    out.iterator
  }

  override def handleExpiredTimer(
      userId: Long,
      timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[(Long, Long, Long)] = {
    val finalN = if (count.exists()) count.get() else 0L
    count.clear()
    armed.clear()
    Iterator.single((userId, -1L, finalN))
  }
}
