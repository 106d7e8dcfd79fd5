package graft.streaming

import graft.operators.Upsert
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Structured Streaming runtime for the reference's stream semantics
  * (SURVEY §2.10). The aggregation bodies are plain DataFrame
  * transforms, so the SAME function runs in batch (pinned by the
  * DuckDB-oracle queries in `graft.queries.StreamQueries`) and in a
  * `readStream` pipeline (exercised by `StreamsSpec` with
  * MemoryStream):
  *
  *   - tumbling/sliding/session event-time windows (+ watermark helper)
  *   - ST4 stateful dedup: streaming `dropDuplicates` per key
  *   - ST5 stale-entity timeout (`/root/reference/db/postgres_store.py:58-68`,
  *     10-min default of `worker_daemon.py:18`): event-time state
  *     timeout via `flatMapGroupsWithState`
  *   - ST6/ST8 late/duplicate handling: `foreachBatch` + `Upsert.merge`
  *     into a parquet target — re-delivery of the same batch is a no-op
  *
  * Scale: windowed aggs and dropDuplicates shuffle once on their state
  * key and keep bounded state under the watermark; the merge sink
  * rewrites only the target (at 100 TB: partition-overwrite of changed
  * site partitions, per SURVEY T1).
  */
object Streams {

  /** Event-time watermark; call before any append-mode windowed agg. */
  def withWatermark(events: DataFrame, delay: String = "30 minutes"): DataFrame =
    events.withWatermark("ts", delay)

  /** Tumbling 10-minute windows per event_type (batch- and stream-safe). */
  def tumblingAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "10 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
      .select(unix_timestamp(col("w.start")).as("win_start"),
        col("event_type"), col("n"), col("total"))

  /** Sliding windows, 10 minutes long every 5 minutes. */
  def slidingAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
      .select(unix_timestamp(col("w.start")).as("win_start"), col("n"),
        col("total"))

  /** Session windows with a 30-minute inactivity gap, per user. */
  def sessionAgg(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
      .select(col("user_id"), unix_timestamp(col("w.start")).as("session_start"),
        col("n"), col("total"))

  /** Stream-stream inner join with bounded state: correlate two
    * event-time streams on `key` within `within` of each other. Both
    * sides carry watermarks and the join condition carries the
    * two-sided time-range predicate, so Spark can evict state older
    * than the watermark + range — without it a stream-stream join
    * buffers forever. Column layout: left (key, ts, ...), right
    * (key, rts, ...); batch frames join identically (shared body).
    */
  def streamStreamJoin(left: DataFrame, right: DataFrame, key: String,
      within: String, watermarkDelay: String = "10 minutes"): DataFrame = {
    val l = left.withWatermark("ts", watermarkDelay)
    val r = right.withWatermark("rts", watermarkDelay)
    l.join(r, l(key) === r(key) &&
        col("rts") >= col("ts") &&
        col("rts") <= col("ts") + expr(s"INTERVAL $within"))
      .drop(r(key))
  }

  /** ST4: keep the first arrival per key. In streaming this is the
    * state-store dedup (`visited_pages` semantics,
    * `/root/reference/crawler/crawler_core.py:66-68`); pair with a
    * watermark + ts key for bounded state when keys are unbounded.
    */
  def dedupFirstPerKey(events: DataFrame, keys: Seq[String]): DataFrame =
    events.dropDuplicates(keys)

  /** ST4 at unbounded key cardinality: watermark-BOUNDED streaming
    * dedup. `dropDuplicates` keeps every key ever seen — at 100 TB of
    * crawl/event traffic that state store only grows. This variant
    * keeps a key's state only while it can still collide under the
    * `delay` watermark on `tsCol`; duplicates farther apart than the
    * watermark pass through (the at-least-once downstream merge
    * absorbs them — the same contract as the near-dup ingest gate).
    * Input must be a streaming frame with an event-time `tsCol`.
    */
  def dedupWithinWatermark(events: DataFrame, keys: Seq[String],
      tsCol: String, delay: String): DataFrame =
    events.withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(keys)

  // ---- ST5: stale-entity timeout ------------------------------------------

  /** One job-queue heartbeat (status poll row). */
  final case class Heartbeat(job_id: String, ts: java.sql.Timestamp, status: String)

  /** A job status transition emitted by the sweep. */
  final case class JobTransition(job_id: String, status: String, error: String)

  /** Internal sweep state (public: Catalyst codegen instantiates it). */
  final case class LastSeen(tsMillis: Long, status: String)

  /** Jobs with no heartbeat for `staleMinutes` of event time are failed
    * with the reference's sentinel error. Terminal heartbeats
    * (DONE/FAILED) emit immediately and clear state; live jobs only
    * (re)arm their timeout. Input must carry a watermark on `ts`.
    */
  def staleJobSweep(heartbeats: Dataset[Heartbeat],
      staleMinutes: Int): Dataset[JobTransition] = {
    import heartbeats.sparkSession.implicits._
    heartbeats
      .groupByKey(_.job_id)
      .flatMapGroupsWithState[LastSeen, JobTransition](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (jobId, events, state: GroupState[LastSeen]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator(JobTransition(jobId, "FAILED", "stale job timeout"))
          } else {
            val latest = events.maxBy(_.ts.getTime)
            if (latest.status == "DONE" || latest.status == "FAILED") {
              state.remove()
              Iterator(JobTransition(jobId, latest.status, null))
            } else {
              state.update(LastSeen(latest.ts.getTime, latest.status))
              state.setTimeoutTimestamp(
                latest.ts.getTime + staleMinutes * 60000L)
              Iterator.empty
            }
          }
      }
  }

  // ---- streaming z-score anomaly gate --------------------------------------

  /** One spend observation (integer cents). */
  final case class Spend(event_id: Long, user_id: Long,
      ts: java.sql.Timestamp, cents: Long)

  /** A flagged anomaly: the spend deviated from the user's trailing
    * baseline of `n` prior events.
    */
  final case class SpendAnomaly(event_id: Long, cents: Long, n: Long)

  /** Per-user trailing spend window (most recent last, bounded).
    * Public: Catalyst codegen instantiates it.
    */
  final case class SpendHistory(recent: List[Long])

  /** Streaming face of `win_rolling_zscore_outliers`: flag events
    * whose spend deviates > 1.5 sigma from the SAME user's trailing
    * `window` events (current row excluded from its own baseline),
    * with the identical cross-multiplied integer z-test
    * `4(nx - s)^2 > 9(n*ss - s^2)` — per-key state is the bounded
    * trailing cents list (O(window) longs per live user), so state
    * never grows with stream length.
    *
    * Events within a micro-batch are processed in (ts, event_id)
    * order; across batches arrival order stands in for event order —
    * on in-order delivery (the parity spec's setup) the stream output
    * EQUALS the batch window query's. True late data would need a
    * watermarked buffer-and-sort front like ST4's.
    */
  def zscoreGate(spends: Dataset[Spend], window: Int,
      minN: Int): Dataset[SpendAnomaly] = {
    require(window >= minN && minN >= 2,
      s"need window >= minN >= 2, got window=$window minN=$minN")
    import spends.sparkSession.implicits._
    spends
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SpendHistory, SpendAnomaly](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_, events, state: GroupState[SpendHistory]) =>
          var hist = state.getOption.map(_.recent).getOrElse(Nil)
          val out = events.toSeq
            .sortBy(e => (e.ts.getTime, e.event_id))
            .flatMap { e =>
              val w = hist
              val n = w.size.toLong
              val flagged = if (n >= minN) {
                val s = w.sum
                val ss = w.map(c => c * c).sum
                val d = n * e.cents - s
                if (4 * d * d > 9 * (n * ss - s * s))
                  Some(SpendAnomaly(e.event_id, e.cents, n))
                else None
              } else None
              hist = (hist :+ e.cents).takeRight(window)
              flagged
            }
          state.update(SpendHistory(hist))
          out.iterator
      }
  }

  // ---- ST6/ST8: merge sink -------------------------------------------------

  /** foreachBatch sink MERGE-ing every micro-batch into a parquet target
    * (rows carry `key` + `content_hash`). The merge is idempotent, so
    * at-least-once delivery (late/duplicate batches) converges — the
    * reference's hash-compare upsert
    * (`/root/reference/storage/filesystem_store.py:95-128`).
    *
    * Plain parquet can't be read and overwritten in one job, so each
    * batch writes a fresh state dir and swaps a `_current` pointer —
    * the stand-in for a transactional format's atomic commit. All
    * pointer/state plumbing goes through the Hadoop `FileSystem` API
    * (like `Store`/`Search`/`Similarity`), so the store runs against
    * HDFS/object storage on a real cluster, not just the local disk.
    */
  def mergeSink(stream: DataFrame, targetDir: String, key: String,
      checkpointDir: String): StreamingQuery =
    stream.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        mergeBatch(batch, targetDir, key, batchId)
      }
      .start()

  /** One micro-batch of the merge sink (also the batch/ST8 restart
    * path). Holds the store's writer lease for the read-merge-swap —
    * the pointer swap itself is atomic, but two uncoordinated writers
    * would each merge onto the same base state and the last pointer
    * win would silently drop the other's rows (same reasoning as the
    * generational stores' lease, `sources.Commits`).
    */
  def mergeBatch(batch: DataFrame, targetDir: String, key: String,
      batchId: Long, heldLocks: Set[String] = Set.empty): Unit =
   graft.sources.Commits.withWriterLockUnless(batch.sparkSession, targetDir,
       heldLocks) {
    val spark = batch.sparkSession
    val state = s"state_$batchId"
    // Redelivery after a COMPLETED commit: `_current` already points at
    // this batch's state, so re-merging would read and overwrite the
    // same files (Spark rejects that plan). The state is final — the
    // replayed batch carries the same rows — so keep it as-is.
    if (currentStateName(targetDir).contains(state)) return
    val merged = readState(spark, targetDir) match {
      case Some(target) => Upsert.merge(target, batch, key)
      case None => batch
    }
    merged.write.mode("overwrite").parquet(stateDirPath(targetDir, state))
    writePointer(targetDir, state)
   }

  // ---- near-dup-suppressing ingest sink -----------------------------------

  /** Continuous document ingest with near-dup suppression — the
    * streaming face of [[graft.operators.Dedup.lshIncrementalCandidates]]:
    * each micro-batch MinHash-signs its docs and screens them against
    * the STANDING store's persisted signature index; a batch doc whose
    * verified Jaccard against any stored doc (or a lower-id doc in the
    * same batch) reaches `minJaccard` is dropped, and survivors append
    * their rows AND their signatures/bands to the store. Docs too short
    * to shingle fall back to exact content-hash dedup. Re-delivery of a
    * batch finds every doc Jaccard-1.0 against its stored self and
    * inserts nothing, so at-least-once delivery converges.
    *
    * At 100 TB the store never recomputes signatures: the band index
    * grows append-only next to the docs, and each batch pays only its
    * own signing plus a band-bucket join against the index.
    */
  /** The full production ingest gate: benchmark DECONTAMINATION, then
    * near-dup suppression, then insert — each micro-batch screens
    * against the standing benchmark shingle index (built once per
    * benchmark release by `Corpus.buildBenchmarkIndex`; broadcast, so
    * the batch never shuffles for it) before the LSH near-dup gate.
    * A missing index dir means "no benchmark yet" and skips the screen.
    * Returns the number of docs inserted.
    */
  def decontamNeardupIngestBatch(batch: DataFrame, storeDir: String,
      benchIndexDir: String, idCol: String, textCol: String,
      minJaccard: Double = 0.9, shingleN: Int = 3,
      minOverlap: Int = 5): Long = {
    val spark = batch.sparkSession
    val p = new org.apache.hadoop.fs.Path(benchIndexDir)
    val clean =
      if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
        graft.operators.Corpus.decontaminateAgainstIndex(batch,
          spark.read.parquet(benchIndexDir), idCol, textCol, shingleN,
          minOverlap)
      else batch
    neardupIngestBatch(clean, storeDir, idCol, textCol, minJaccard)
  }

  /** Streaming face of [[decontamNeardupIngestBatch]]. */
  def decontamNeardupIngestSink(stream: DataFrame, storeDir: String,
      benchIndexDir: String, idCol: String, textCol: String,
      checkpointDir: String, minJaccard: Double = 0.9,
      shingleN: Int = 3, minOverlap: Int = 5): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        decontamNeardupIngestBatch(batch, storeDir, benchIndexDir, idCol,
          textCol, minJaccard, shingleN, minOverlap): Unit
      }
      .start()

  def neardupIngestSink(stream: DataFrame, storeDir: String, idCol: String,
      textCol: String, checkpointDir: String,
      minJaccard: Double = 0.9): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        neardupIngestBatch(batch, storeDir, idCol, textCol, minJaccard): Unit
      }
      .start()

  /** Continuous embedding ingest into the standing ANN store
    * ([[graft.operators.Similarity.annStoreAppend]]): each (id, vec)
    * micro-batch is signed once (hyperplane bucket + int8
    * quantization) and appended insert-if-absent; queries run against
    * the store at any time via `Similarity.annStoreTopK` without
    * re-signing anything. At-least-once re-delivery converges.
    */
  def annIngestSink(stream: DataFrame, storeDir: String, planes: Int,
      dims: Int, checkpointDir: String): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.operators.Similarity.annStoreAppend(batch, storeDir, planes,
          dims): Unit
      }
      .start()

  /** Streaming PQ-store ingest — the quantized twin of
    * [[annIngestSink]]: each micro-batch of (id, vec) embeddings is
    * encoded with the store's train-once codebook and appended
    * vec-hash-gated ([[graft.operators.Similarity.pqStoreAppend]]),
    * so at-least-once re-delivery converges and ADC probes run
    * against the store at any time. The store must have been built
    * ([[graft.operators.Similarity.pqStoreBuild]]) before the stream
    * starts — append refuses an unbuilt store loudly.
    */
  def pqIngestSink(stream: DataFrame, storeDir: String,
      checkpointDir: String): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.operators.Similarity.pqStoreAppend(batch, storeDir): Unit
      }
      .start()

  /** Streaming INVERTED-INDEX ingest — the search twin of
    * [[annIngestSink]]: each micro-batch of (id, text) docs is
    * tokenized once and appended insert-if-absent to the standing
    * postings store ([[graft.operators.Search.indexAppend]]); BM25
    * queries run against the store at any time without re-tokenizing
    * anything. At-least-once re-delivery converges.
    */
  def indexIngestSink(stream: DataFrame, idCol: String, textCol: String,
      indexDir: String, checkpointDir: String): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.operators.Search.indexAppend(batch, idCol, textCol,
          indexDir): Unit
      }
      .start()

  /** One micro-batch of the standing CHUNK STORE ingest (also the
    * batch restart path) — the doc→passage step
    * ([[graft.operators.Corpus.chunkSlidingWindows]]) run continuously,
    * so an embedding/retrieval pipeline downstream reads current
    * passages at any time without re-chunking anything. Layout mirrors
    * the inverted index's generational store:
    *
    *   - `dir/chunks`: (doc_id, chunk_seq, n_tokens, chunk_text, batch)
    *   - `dir/docs`:   (doc_id, content_hash, batch) — the
    *     membership/version table; a doc's CURRENT generation is its
    *     max committed batch
    *   - `dir/_commits` + `_lock`: marker-LAST commit and writer lease
    *     ([[graft.sources.Commits]]).
    *
    * Idempotency under at-least-once delivery: docs whose (id,
    * content-hash) already sit at the current generation are skipped,
    * so a redelivered batch appends nothing; CHANGED text gets a new
    * generation whose chunks replace the old ones at read time
    * ([[chunkStoreRead]] resolves each doc to its max committed batch
    * — superseded chunks stay on disk until a vacuum but never
    * surface). Chunks are written before docs rows: a crash between
    * the appends leaves chunk orphans under an uncommitted batch id
    * that readers never see and whose burned attempt marker keeps the
    * id from being reused. A doc chunking to NOTHING (whitespace-only
    * text) still records its docs row, so its redelivery is a no-op
    * too. Returns docs (re)chunked.
    */
  def chunkIngestBatch(batch: DataFrame, storeDir: String, idCol: String,
      textCol: String, window: Int, overlap: Int,
      heldLocks: Set[String] = Set.empty): Long =
   graft.sources.Commits.withWriterLockUnless(batch.sparkSession, storeDir,
       heldLocks) {
    val spark = batch.sparkSession
    val chunksDir = s"$storeDir/chunks"
    val docsDir = s"$storeDir/docs"
    val hashed = Upsert.onePerKeyByContentHashed(batch, idCol, textCol)
      .withColumnRenamed("content_hash", "__ch")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val committed = graft.sources.Commits.committed(spark, storeDir)
    // Membership resolve plan picked by batch-vs-store size, like
    // Search.indexAppend: scoped to the batch's ids (semi-join before
    // the per-doc aggregate) for micro-batches — an unscoped aggregate
    // costs the store's full membership per micro-batch — and the
    // store-wide aggregate for backfill-sized batches, where the id
    // semi-join stops broadcasting (Commits.scopeMutationResolve).
    val fresh = (if (committed.isEmpty) hashed
    else {
      val docs = graft.sources.Commits
        .readCommittedBatches(spark, docsDir, committed)
        .getOrElse(throw new IllegalStateException(
          s"committed chunk store at $storeDir has no readable docs"))
      val scoped = graft.sources.Commits.scopeMutationResolve(
        hashed.count(),
        graft.sources.Commits.committedRowCount(spark, docsDir, committed))
      val prev =
        (if (scoped)
          docs.join(hashed.select(col(idCol).as("doc_id")), Seq("doc_id"),
            "left_semi")
         else docs)
        .groupBy(col("doc_id"))
        .agg(max_by(col("content_hash"), col("batch")).as("__prev"))
        .select(col("doc_id").as(idCol), col("__prev"))
      hashed.join(prev, Seq(idCol), "left")
        .filter(col("__prev").isNull || col("__prev") =!= col("__ch"))
        .drop("__prev")
    }).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // THREE actions folded into two CONCURRENT ones (guide §1.2 +
      // §2.6): the gating fresh-doc count used to run as its own job
      // before two sequential writes of the same persisted frame; now
      // it rides the docs write as an Observation while the chunks
      // write (independent subdir, same generation commit) overlaps
      // it. n == 0 leaves two empty UNCOMMITTED dirs and a burned
      // batch id — invisible to readers (committed-marker filtered),
      // swept like any crash orphan — while the commit marker still
      // only appears for n > 0, exactly as before.
      val batchId = graft.sources.Commits.allocateBatchId(spark,
        storeDir, Seq(docsDir, chunksDir))
      val obs = org.apache.spark.sql.Observation()
      graft.Par.run(Seq[() => Unit](
        () => graft.Prof("chunkIngest.chunksWrite")(
          graft.operators.Corpus.chunkSlidingWindows(fresh, idCol, textCol,
            window, overlap)
            .withColumnRenamed(idCol, "doc_id")
            .withColumn("batch", lit(batchId))
            .write.parquet(s"$chunksDir/b$batchId")),
        () => graft.Prof("chunkIngest.docsWrite")(
          fresh.select(col(idCol).as("doc_id"),
              col("__ch").as("content_hash"))
            .withColumn("batch", lit(batchId))
            .observe(obs, count(lit(1)).as("n"))
            .write.parquet(s"$docsDir/b$batchId")))): Unit
      val n = obs.get("n").asInstanceOf[Long]
      if (n > 0) graft.sources.Commits.commit(spark, storeDir, batchId)
      n
    } finally { fresh.unpersist(); hashed.unpersist(); () }
   }

  /** Tombstone marker in the chunk store's membership table — same
    * convention as the inverted index's docs table (real content
    * hashes are 64-hex sha256, no collision possible).
    */
  private val ChunkTombstone = "__tombstone__"

  /** DELETE docs from the standing chunk store — the takedown side the
    * passage surface needs just like the index and the ANN store: each
    * currently-live requested id gets a chunk-free docs row carrying
    * the tombstone marker; on commit its passages stop surfacing from
    * [[chunkStoreRead]] (generation resolution — the chunks stay on
    * disk until a vacuum reclaims them). Idempotent, and a later
    * [[chunkIngestBatch]] of the id re-chunks it (a tombstone never
    * equals a content hash, so redelivered text reads as changed).
    * Returns docs tombstoned.
    */
  def chunkStoreDelete(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, ids: DataFrame,
      heldLocks: Set[String] = Set.empty): Long =
   graft.sources.Commits.withWriterLockUnless(spark, storeDir, heldLocks) {
    val committed = graft.sources.Commits.committed(spark, storeDir)
    if (committed.isEmpty) return 0L
    val docs = graft.sources.Commits
      .readCommittedBatches(spark, s"$storeDir/docs", committed)
      .getOrElse(return 0L)
    // Scoped resolve for normal takedowns, store-wide aggregate +
    // post-filter for corpus-sized ones (Commits.scopeMutationResolve).
    val idsF = ids.select(col(ids.columns.head).as("doc_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val scoped = graft.sources.Commits.scopeMutationResolve(idsF.count(),
      graft.sources.Commits.committedRowCount(spark, s"$storeDir/docs",
        committed))
    val victims =
      (if (scoped) docs.join(idsF, Seq("doc_id"), "left_semi") else docs)
      .groupBy(col("doc_id"))
      .agg(max_by(col("content_hash"), col("batch")).as("__cur"))
      .transform(df =>
        if (scoped) df else df.join(idsF, Seq("doc_id"), "left_semi"))
      .filter(col("__cur") =!= ChunkTombstone)
      .select(col("doc_id"), lit(ChunkTombstone).as("content_hash"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = victims.count()
      if (n > 0) {
        val batchId = graft.sources.Commits.allocateBatchId(spark,
          storeDir, Seq(s"$storeDir/docs", s"$storeDir/chunks"))
        victims.withColumn("batch", lit(batchId))
          .write.parquet(s"$storeDir/docs/b$batchId")
        graft.sources.Commits.commit(spark, storeDir, batchId)
      }
      n
    } finally { victims.unpersist(); idsF.unpersist(); () }
   }

  /** INCREMENTAL chunk-store vacuum — the passage-store member of the
    * same family as `Search.indexVacuumIncremental` /
    * `Similarity.annStoreVacuumIncremental`: batches whose dead-row
    * fraction (superseded generations + rows of tombstoned docs)
    * reaches `minDeadFraction` rewrite their survivors — live current
    * docs WITH their chunks, plus tombstones whose doc still has rows
    * in an unselected batch — into one fresh committed batch; markers
    * drop, directories delete, orphans sweep. Same crash-window
    * convergence argument as the twins. Returns batches reclaimed.
    */
  def chunkStoreVacuum(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, minDeadFraction: Double = 0.0): Int =
   graft.sources.Commits.withWriterLock(spark, storeDir) {
    val fs = new org.apache.hadoop.fs.Path(storeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val committed = graft.sources.Commits.committed(spark, storeDir)
    // One flat-batch read per table per pass (see Commits.flatBatchIds).
    val flatIds = Seq("chunks", "docs").map(t =>
      t -> graft.sources.Commits.flatBatchIds(spark, s"$storeDir/$t")).toMap
    Seq("chunks", "docs").foreach { t =>
      graft.sources.Commits
        .sweepOrphanBatchDirs(spark, s"$storeDir/$t", committed)
      graft.sources.Commits
        .sweepFlatFiles(spark, s"$storeDir/$t", committed, flatIds(t))
    }
    graft.sources.Commits.pruneAttemptMarkers(spark, storeDir)
    if (committed.isEmpty) return 0
    val docs = graft.sources.Commits
      .readCommittedBatches(spark, s"$storeDir/docs", committed)
      .getOrElse(return 0)
    val cur = docs.groupBy(col("doc_id"))
      .agg(max(col("batch")).as("__cur_batch"),
        max_by(col("content_hash"), col("batch")).as("__cur_hash"))
    val marked = docs.join(cur, Seq("doc_id"))
      .withColumn("__dead", col("batch") < col("__cur_batch") ||
        col("__cur_hash") === ChunkTombstone)
    val selected = marked.groupBy(col("batch"))
      .agg(count(lit(1)).as("__total"),
        sum(when(col("__dead"), 1L).otherwise(0L)).as("__dead_rows"))
      .collect()
      .filter { r =>
        val dead = r.getAs[Long]("__dead_rows")
        dead > 0 &&
          dead.toDouble / r.getAs[Long]("__total") >= minDeadFraction
      }
      .map(_.getAs[Long]("batch")).toSeq.sorted
    // Legacy flat-layout batches are forced into the rewrite — the
    // only path that reclaims their bytes (Commits.committedFlatBatches).
    val withFlat = (selected ++ flatIds.values.flatten.toSeq
      .filter(committed.contains))
      .distinct.sorted
    if (withFlat.isEmpty) return 0
    chunkRewriteAndCommit(spark, storeDir, committed, withFlat)
    dropChunkBatches(spark, fs, storeDir, withFlat)
    Seq("chunks", "docs").foreach(t => graft.sources.Commits
      .sweepFlatFiles(spark, s"$storeDir/$t",
        graft.sources.Commits.committed(spark, storeDir), flatIds(t)))
    withFlat.size
   }

  /** COMPACT the chunk store's committed-batch count down to
    * `maxBatches` — same fold-the-smallest policy and survivor rewrite
    * as `Search.indexCompactBatches`. Returns batches folded.
    */
  def chunkStoreCompactBatches(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, maxBatches: Int = 16): Int =
   graft.sources.Commits.withWriterLock(spark, storeDir) {
    val fs = new org.apache.hadoop.fs.Path(storeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val committed = graft.sources.Commits.committed(spark, storeDir)
    // One flat-batch read per table per pass (see Commits.flatBatchIds).
    val flatIds = Seq("chunks", "docs").map(t =>
      t -> graft.sources.Commits.flatBatchIds(spark, s"$storeDir/$t")).toMap
    Seq("chunks", "docs").foreach { t =>
      graft.sources.Commits
        .sweepOrphanBatchDirs(spark, s"$storeDir/$t", committed)
      graft.sources.Commits
        .sweepFlatFiles(spark, s"$storeDir/$t", committed, flatIds(t))
    }
    graft.sources.Commits.pruneAttemptMarkers(spark, storeDir)
    if (committed.isEmpty) return 0
    val docs = graft.sources.Commits
      .readCommittedBatches(spark, s"$storeDir/docs", committed)
      .getOrElse(return 0)
    val selected = (graft.sources.Commits
      .compactionSelection(docs, committed, maxBatches)
      ++ flatIds.values.flatten.toSeq.filter(committed.contains))
      .distinct.sorted
    if (selected.isEmpty) return 0
    chunkRewriteAndCommit(spark, storeDir, committed, selected)
    dropChunkBatches(spark, fs, storeDir, selected)
    Seq("chunks", "docs").foreach(t => graft.sources.Commits
      .sweepFlatFiles(spark, s"$storeDir/$t",
        graft.sources.Commits.committed(spark, storeDir), flatIds(t)))
    selected.size
   }

  /** Survivor rewrite shared by [[chunkStoreVacuum]] and
    * [[chunkStoreCompactBatches]]: the selected batches' live current
    * docs move WITH their chunks into one fresh committed batch,
    * tombstones carry while an older generation survives outside the
    * selection, dead rows drop.
    */
  private def chunkRewriteAndCommit(
      spark: org.apache.spark.sql.SparkSession, storeDir: String,
      committed: Seq[Long], selected: Seq[Long]): Unit = {
    val docs = graft.sources.Commits
      .readCommittedBatches(spark, s"$storeDir/docs", committed).get
    val cur = docs.groupBy(col("doc_id"))
      .agg(max(col("batch")).as("__cur_batch"),
        max_by(col("content_hash"), col("batch")).as("__cur_hash"))
    val inSelected = col("batch").isin(selected: _*)
    val currentInSelected = docs.join(cur, Seq("doc_id"))
      .filter(inSelected && col("batch") === col("__cur_batch"))
    val live = currentInSelected
      .filter(col("__cur_hash") =!= ChunkTombstone)
    val tomb = currentInSelected
      .filter(col("__cur_hash") === ChunkTombstone)
      .join(docs.filter(!col("batch").isin(selected: _*))
        .select(col("doc_id")), Seq("doc_id"), "left_semi")
    val survivors = live.unionByName(tomb)
      .select(col("doc_id"), col("content_hash"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (survivors.count() > 0) {
        val batchId = graft.sources.Commits.allocateBatchId(spark,
          storeDir, Seq(s"$storeDir/docs", s"$storeDir/chunks"))
        graft.sources.Commits
          .readCommittedBatches(spark, s"$storeDir/chunks", selected)
          .foreach(_.join(live.select(col("doc_id"), col("batch")),
              Seq("doc_id", "batch"))
            .withColumn("batch", lit(batchId))
            .write.parquet(s"$storeDir/chunks/b$batchId"))
        survivors.withColumn("batch", lit(batchId))
          .write.parquet(s"$storeDir/docs/b$batchId")
        graft.sources.Commits.commit(spark, storeDir, batchId)
      }
    } finally { survivors.unpersist(); () }
  }

  private def dropChunkBatches(spark: org.apache.spark.sql.SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, storeDir: String,
      selected: Seq[Long]): Unit = {
    selected.foreach(b =>
      graft.sources.Commits.uncommit(spark, storeDir, b))
    for (t <- Seq("chunks", "docs"); b <- selected)
      fs.delete(new org.apache.hadoop.fs.Path(s"$storeDir/$t/b$b"),
        true): Unit
  }

  /** Streaming face of [[chunkIngestBatch]]. */
  def chunkIngestSink(stream: DataFrame, storeDir: String, idCol: String,
      textCol: String, window: Int, overlap: Int,
      checkpointDir: String): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        chunkIngestBatch(batch, storeDir, idCol, textCol, window,
          overlap): Unit
      }
      .start()

  /** CURRENT committed chunks of a chunk store: every doc resolved to
    * its max committed generation — superseded generations' chunks
    * stay invisible. None when nothing is committed. One hash join on
    * (doc_id, batch) against the per-doc version table; the chunks
    * scan only reads committed batches.
    */
  def chunkStoreRead(spark: org.apache.spark.sql.SparkSession,
      storeDir: String): Option[DataFrame] = {
    val committed = graft.sources.Commits.committed(spark, storeDir)
    if (committed.isEmpty) None
    else for {
      docs <- graft.sources.Commits
        .readCommittedBatches(spark, s"$storeDir/docs", committed)
      chunks <- graft.sources.Commits
        .readCommittedBatches(spark, s"$storeDir/chunks", committed)
    } yield {
      // Tombstoned docs (chunkStoreDelete) resolve to the marker and
      // drop out here — their superseded chunks never surface.
      val cur = docs.groupBy(col("doc_id"))
        .agg(max(col("batch")).as("batch"),
          max_by(col("content_hash"), col("batch")).as("__cur_hash"))
        .filter(col("__cur_hash") =!= ChunkTombstone)
        .select(col("doc_id"), col("batch"))
      chunks.join(cur, Seq("doc_id", "batch"), "left_semi")
        .select(col("doc_id"), col("chunk_seq"), col("n_tokens"),
          col("chunk_text"))
    }
  }

  /** Chunk-vector ids pack (doc_id, chunk_seq) into one long:
    * `doc_id * ChunkVecSeqLimit + chunk_seq`. 100k chunks per doc is
    * the ceiling (a doc would need ~5M tokens at the default window to
    * hit it — the guard below raises loudly rather than aliasing two
    * passages into one id).
    */
  val ChunkVecSeqLimit: Long = 100000L

  /** Packed chunk-vector id, with the loud range guards the packing
    * needs (negative doc ids or a runaway chunk_seq would alias). */
  private def chunkVecIdExpr: Column =
    when(col("doc_id") < 0 || col("chunk_seq") >= ChunkVecSeqLimit,
      raise_error(concat(lit("chunkVecId: doc_id "),
        col("doc_id").cast("string"), lit(" chunk_seq "),
        col("chunk_seq").cast("string"),
        lit(s" out of range [0, *) x [0, $ChunkVecSeqLimit)"))))
      .otherwise(col("doc_id") * ChunkVecSeqLimit + col("chunk_seq"))

  /** Deterministic passage featurization shared by the chunk-vector
    * ingest and [[passageTopK]]: tokenize, one stable hash per token,
    * signed bag-of-words projection to `dims` exact-integer doubles
    * ([[graft.functions.VectorFunctions.signedBowVector]]) — the
    * embed-the-chunks step of a RAG ingest, as the deterministic
    * featurizer both engines reproduce bit-identically. A deployment
    * with a real embedding model swaps this projection for the model
    * call; every store/probe mechanic downstream is unchanged.
    */
  private def passageVecExpr(text: Column, dims: Int): Column =
    graft.functions.VectorFunctions.signedBowVector(
      graft.functions.VectorFunctions.tokenSignHashes(
        graft.functions.TextFunctions.tokens(text)), dims)

  /** CHUNK-VECTOR ingest — the embedding side of the passage surface:
    * after [[chunkIngestBatch]] committed a delivery's re-chunking,
    * this advances a standing PQ store KEYED BY PACKED CHUNK ID
    * (doc_id × 100k + chunk_seq) to match it:
    *
    *   1. the delivered ids' CURRENT chunks read back from the chunk
    *      store's committed state (crash-convergent, like the gated
    *      fan-out's feed read-back — a redelivery re-derives the same
    *      vectors and the hash-gated append no-ops);
    *   2. each chunk featurizes ([[passageVecExpr]]) and upserts into
    *      the PQ store ([[graft.operators.Similarity.pqStoreAppend]],
    *      vec-hash-gated: unchanged passages skip);
    *   3. chunk ids of these docs that no longer exist — the doc
    *      re-chunked shorter, or chunked to nothing — TOMBSTONE
    *      ([[graft.operators.Similarity.pqStoreDelete]]), so a stale
    *      passage can never surface from a probe.
    *
    * The first delivery with >= `codes` chunk vectors against an
    * uncommitted store trains the codebook (same deferral contract as
    * the doc-PQ surface: vector-poor deliveries return 0 instead of
    * poison-pilling; deferred chunks are NOT lost — the chunk store
    * holds their text, so any later delivery of the doc, or an offline
    * build from [[chunkStoreRead]], backfills them). Returns chunk
    * vectors encoded.
    */
  def chunkVectorIngestBatch(spark: org.apache.spark.sql.SparkSession,
      chunkDir: String, vecDir: String, deliveredIds: DataFrame,
      dims: Int, m: Int = 4, codes: Int = 8, cells: Int = 16,
      trainPerMille: Int = 1000,
      heldLocks: Set[String] = Set.empty): Long = {
    require(dims % m == 0,
      s"chunk-vector surface needs dims divisible by m, got dims=$dims m=$m")
    val idCol = deliveredIds.columns.head
    val ids = deliveredIds.select(col(idCol).as("doc_id"))
      .dropDuplicates("doc_id")
    chunkStoreRead(spark, chunkDir) match {
      case None => 0L
      case Some(chunks) =>
        // Featurize ONCE and persist the narrow (id, 16 doubles) frame:
        // the PQ build/append downstream scans its input several times
        // (dims gate, Lloyd training passes, encode, write) and each
        // lazy re-evaluation would re-run the per-token md5 featurize —
        // the dominant cost of this surface, measured ~2× of the whole
        // ingest before the pin.
        val vecs = chunks
          .join(broadcast(ids), Seq("doc_id"), "left_semi")
          .select(chunkVecIdExpr.as("id"),
            passageVecExpr(col("chunk_text"), dims).as("vec"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
        if (graft.sources.Commits.committed(spark, vecDir).isEmpty) {
          // Deferral needs enough seeds for BOTH Lloyd trainings: the
          // per-subspace codebooks (codes) and the coarse quantizer
          // (cells) — either one short would poison-pill the batch.
          // Under sampled training the seeds must come from the SAMPLE
          // (pqStoreBuild trains on it). The trainer's own seed
          // collect IS the deferral probe: an undersized delivery
          // raises UndersizedTrainingSet BEFORE any store side effect
          // and the batch returns 0 exactly as before — one job
          // cheaper per first-wave build than the separate
          // dedup+limit+count probe this branch used to run, and the
          // deferral condition is now the build's own by construction.
          try graft.Prof("ckvec.pqBuild")(
            graft.operators.Similarity.pqStoreBuild(vecs, vecDir,
              m = m, subDims = dims / m, codes = codes, iters = 2,
              cells = cells, trainPerMille = trainPerMille,
              heldLocks = heldLocks))
          catch {
            case _: graft.operators.Similarity.UndersizedTrainingSet => 0L
          }
        } else {
          // ONE-COMMIT sync (guide §1.2/§2.4): the hash-gated upsert
          // of the delivered docs' current passages AND the tombstones
          // for their vanished passages (live store ids whose packed
          // doc part is in the batch but whose chunk no longer exists)
          // used to run as pqStoreDelete + pqStoreAppend — two commits
          // and three currency resolves of the same committed state
          // per micro-batch. pqStoreSync folds them into one read +
          // one generation, scoped to the delivered doc ids; strictly
          // more atomic (no window between the vanish and the
          // re-encode), same converged state, same encoded-count
          // return.
          graft.Prof("ckvec.sync")(
            graft.operators.Similarity.pqStoreSync(vecs, vecDir, ids,
              id => call_function("div", id, lit(ChunkVecSeqLimit)),
              heldLocks))
        }
        } finally { vecs.unpersist(); () }
    }
  }

  /** PASSAGE-LEVEL retrieval — the chunk store's read consumer: the
    * query text featurizes exactly like the ingested passages
    * ([[passageVecExpr]]), the chunk-vector PQ store's (optionally
    * cell-routed) ADC probe ranks the top `kPassages` passages, and
    * the packed ids decode back to (doc_id, chunk_seq) for DOC-LEVEL
    * aggregation: per doc the best (minimum rounded ADC d2, lowest
    * chunk_seq on ties) passage wins, docs rank by that best distance.
    * Output (doc_id, best_seq, best_d2, n_passages, rnk <= kDocs) —
    * "which documents contain the closest passages, and where".
    *
    * 100 TB shape: the probe reads ~nprobe/cells of the code rows via
    * the broadcast cell hash-join (floats never load), and everything
    * after it operates on the kPassages-row top list — the doc
    * aggregation and final window are constant-size whatever the
    * corpus.
    */
  def passageTopK(spark: org.apache.spark.sql.SparkSession,
      vecDir: String, queryText: String, dims: Int, kPassages: Int,
      kDocs: Int, nprobe: Int = 0): DataFrame = {
    require(kPassages > 0 && kDocs > 0,
      s"need kPassages > 0 and kDocs > 0, got $kPassages/$kDocs")
    val q = spark.range(1).select(lit(-1L).as("id"),
      passageVecExpr(lit(queryText), dims).as("vec"))
    val hits = graft.operators.Similarity
      .pqStoreTopK(spark, vecDir, q, kPassages, nprobe)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("best_d2"), col("doc_id"))
    hits
      .select(expr(s"cid div ${ChunkVecSeqLimit}").as("doc_id"),
        (col("cid") % ChunkVecSeqLimit).as("chunk_seq"),
        col("approx_d2"))
      .groupBy(col("doc_id"))
      .agg(min(col("approx_d2")).as("best_d2"),
        min(struct(col("approx_d2"), col("chunk_seq")))
          .getField("chunk_seq").as("best_seq"),
        count(lit(1)).as("n_passages"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= kDocs)
      .select(col("doc_id"), col("best_seq"), col("best_d2"),
        col("n_passages"), col("rnk"))
  }

  /** PASSAGE recall@k — the retrieval-quality gate for the SAMPLED
    * passage codebook ([[chunkVectorIngestBatch]]'s `trainPerMille`):
    * per query, how many of the chunk-vector store's ADC top-`k`
    * passages are true top-`k` by EXACT squared-L2 through the same
    * chunk featurization. Queries are the corpus's own leading
    * passages (chunk 0 of the `nQueryDocs` lowest doc ids, self
    * excluded on both sides), so a training-sample change that
    * degrades passage retrieval flips an exact-integer row — the
    * passage twin of `sim_pq_recall_at_k`, which gates only the
    * full-trained doc-PQ store. The probe is UNROUTED (`nprobe = 0`)
    * by design: a recall audit measures codebook quality, not cell
    * routing. Corpus-sized exact scan is inherent to the audit (the
    * true top-k needs every chunk scored once); at 100 TB this runs
    * on a sampled audit slice, not per serving query.
    */
  def passageRecallAtK(spark: org.apache.spark.sql.SparkSession,
      chunkDir: String, vecDir: String, dims: Int, nQueryDocs: Int,
      k: Int): DataFrame = {
    require(nQueryDocs > 0 && k > 0,
      s"need nQueryDocs > 0 and k > 0, got $nQueryDocs/$k")
    val chunks = chunkStoreRead(spark, chunkDir).getOrElse(sys.error(
      s"$chunkDir has no committed chunks - the recall audit " +
        "re-featurizes the corpus from the chunk store"))
    // Featurize ONCE and persist: the frame feeds the query slice,
    // the ADC probe's query vectors, and the exact scan — each lazy
    // re-evaluation would re-run the per-token md5 featurize.
    val cv = chunks
      .select(chunkVecIdExpr.as("id"),
        passageVecExpr(col("chunk_text"), dims).as("vec"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val qs = cv.filter(col("id") % ChunkVecSeqLimit === 0 &&
        col("id") < nQueryDocs * ChunkVecSeqLimit)
      val adc = graft.operators.Similarity
        .pqStoreTopK(spark, vecDir, qs, k, nprobe = 0)
        .select(col("qid"), col("cid"))
      val q = qs.select(col("id").as("qid"),
        graft.functions.VectorFunctions.toDoubleArray(col("vec"))
          .as("qv"))
      val d2 = {
        val dot = graft.functions.VectorFunctions.dot _
        dot(col("qv"), col("qv")) + dot(col("cv"), col("cv")) -
          lit(2.0) * dot(col("qv"), col("cv"))
      }
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("d2"), col("cid"))
      val exact = cv
        .select(col("id").as("cid"),
          graft.functions.VectorFunctions.toDoubleArray(col("vec"))
            .as("cv"))
        .crossJoin(broadcast(q))
        .filter(col("cid") =!= col("qid"))
        .select(col("qid"), col("cid"), round(d2, 4).as("d2"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= k)
        .select(col("qid"), col("cid"))
      val hits = adc.join(exact, Seq("qid", "cid"))
        .groupBy(col("qid")).agg(count(lit(1)).as("__h"))
      // Materialize before unpersist: the caller gets a frame whose
      // lineage no longer needs the persisted featurization.
      val out = q.select(col("qid"))
        .join(hits, Seq("qid"), "left")
        .select(col("qid"), coalesce(col("__h"), lit(0L)).as("n_hit"))
      graft.Checkpoints.pinned(out)
    } finally { cv.unpersist(); () }
  }

  /** PASSAGE-LEVEL exact rerank — [[passageTopK]] with the production
    * two-stage shape: the routed ADC probe nominates `kCand` candidate
    * passages from code ids alone, ONLY those candidates' chunk text
    * loads from the chunk store and re-featurizes (the deterministic
    * stand-in for "load the candidate floats" — candidate-sized, never
    * a corpus featurize), the exact squared-L2 re-ranks them (rounded
    * to 4 and ranked on the rounded value like every store probe), and
    * the doc fold runs on the EXACT distances. Output like
    * [[passageTopK]] but `best_d2` is exact.
    */
  def passageRerankTopK(spark: org.apache.spark.sql.SparkSession,
      chunkDir: String, vecDir: String, queryText: String, dims: Int,
      kCand: Int, kPassages: Int, kDocs: Int,
      nprobe: Int = 0): DataFrame = {
    require(kCand >= kPassages && kPassages > 0 && kDocs > 0,
      s"need kCand >= kPassages > 0 and kDocs > 0, " +
        s"got $kCand/$kPassages/$kDocs")
    val q = spark.range(1).select(lit(-1L).as("id"),
      passageVecExpr(lit(queryText), dims).as("vec"))
    val cand = graft.operators.Similarity
      .pqStoreTopK(spark, vecDir, q, kCand, nprobe)
      .select(col("qid"), col("cid"))
    val chunks = chunkStoreRead(spark, chunkDir).getOrElse(sys.error(
      s"$chunkDir has no committed chunks - passage rerank reads the " +
        "candidates' text from the chunk store"))
    // Candidate-sized featurize: prune to the kCand chunk ids FIRST,
    // then featurize only those (the join is on the packed id, the
    // projection computing the vector sits above it).
    val cv = chunks.select(chunkVecIdExpr.as("cid"), col("chunk_text"))
      .join(broadcast(cand.select(col("cid"))), Seq("cid"), "left_semi")
      .select(col("cid"),
        passageVecExpr(col("chunk_text"), dims).as("cv"))
    // The query vector is derivable at PLAN time (literal text,
    // deterministic featurizer) — ride it as a typed literal; a
    // one-row joined frame would fold its constant key into a
    // nested-loop join.
    val qv = typedLit(graft.functions.VectorFunctions
      .signedBowVectorLocal(queryText, dims))
    val d2 = graft.functions.VectorFunctions.dot(qv, qv) +
      graft.functions.VectorFunctions.dot(col("cv"), col("cv")) -
      lit(2.0) * graft.functions.VectorFunctions.dot(qv, col("cv"))
    val exact = cand.select(col("cid")).join(cv, Seq("cid"))
      .select(col("cid"), round(d2, 4).as("d2"))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("d2"), col("cid"))))
      .filter(col("rnk") <= kPassages)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("best_d2"), col("doc_id"))
    exact
      .select(expr(s"cid div ${ChunkVecSeqLimit}").as("doc_id"),
        (col("cid") % ChunkVecSeqLimit).as("chunk_seq"), col("d2"))
      .groupBy(col("doc_id"))
      .agg(min(col("d2")).as("best_d2"),
        min(struct(col("d2"), col("chunk_seq")))
          .getField("chunk_seq").as("best_seq"),
        count(lit(1)).as("n_passages"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= kDocs)
      .select(col("doc_id"), col("best_seq"), col("best_d2"),
        col("n_passages"), col("rnk"))
  }

  /** PASSAGE-LEVEL learned rerank — a deterministic stand-in for the
    * learned (cross-encoder) second stage of a production retrieval
    * stack, with the same two-stage candidate shape as
    * [[passageRerankTopK]]: the routed ADC probe nominates `kCand`
    * candidate passages, and a linear model re-scores them from two
    * cheap features — x1 = the ADC approximate distance (4-dp
    * fixed-point) and x2 = the passage's query-term occurrence count —
    * DISTILLED from the exact distance as teacher: the candidates'
    * even-`chunk_seq` half trains ordinary least squares
    * `y ~ w1*x1 + w2*x2` (y = exact squared-L2, candidate-sized to
    * compute, exactly like the rerank join), every candidate then
    * ranks by the fitted score. The solve is CLOSED FORM on the 2x2
    * normal equations, carried entirely in exact DECIMAL(38,0) integer
    * algebra — candidates rank by `sign(det) * (n1*x1 + n2*x2)` where
    * n1 = s22*b1 - s12*b2 and n2 = s11*b2 - s12*b1, which orders
    * identically to the least-squares prediction without ever
    * dividing by det (no float crosses the ranking), and a degenerate
    * train set (det = 0, e.g. constant features) falls back to the
    * ADC order. Scale shape: the feature/teacher computation is
    * candidate-sized (kCand rows), the normal-equation aggregate is
    * ONE row broadcast back over the candidates — nothing scales with
    * the corpus beyond the ADC probe itself.
    *
    * Output (doc_id, best_seq, best_rank, n_passages, rnk): the top
    * `kPassages` by learned score fold to docs by their best (lowest)
    * learned rank; docs rank by that best rank.
    */
  def passageLearnedRerankTopK(spark: org.apache.spark.sql.SparkSession,
      chunkDir: String, vecDir: String, queryText: String, dims: Int,
      kCand: Int, kPassages: Int, kDocs: Int,
      nprobe: Int = 0): DataFrame = {
    require(kCand >= kPassages && kPassages > 0 && kDocs > 0,
      s"need kCand >= kPassages > 0 and kDocs > 0, " +
        s"got $kCand/$kPassages/$kDocs")
    val q = spark.range(1).select(lit(-1L).as("id"),
      passageVecExpr(lit(queryText), dims).as("vec"))
    val cand = graft.operators.Similarity
      .pqStoreTopK(spark, vecDir, q, kCand, nprobe)
      .select(col("cid"), col("approx_d2"))
    val chunks = chunkStoreRead(spark, chunkDir).getOrElse(sys.error(
      s"$chunkDir has no committed chunks - learned rerank reads the " +
        "candidates' text from the chunk store"))
    val qTermsLit = typedLit(
      queryText.trim.split("\\s+").toSeq.filter(_.nonEmpty).distinct)
    val cv = chunks.select(chunkVecIdExpr.as("cid"), col("chunk_text"))
      .join(broadcast(cand.select(col("cid"))), Seq("cid"), "left_semi")
      .select(col("cid"),
        passageVecExpr(col("chunk_text"), dims).as("cv"),
        size(filter(graft.functions.TextFunctions.tokens(col("chunk_text")),
          t => array_contains(qTermsLit, t))).cast("long").as("x2"))
    val qv = typedLit(graft.functions.VectorFunctions
      .signedBowVectorLocal(queryText, dims))
    val d2 = graft.functions.VectorFunctions.dot(qv, qv) +
      graft.functions.VectorFunctions.dot(col("cv"), col("cv")) -
      lit(2.0) * graft.functions.VectorFunctions.dot(qv, col("cv"))
    val dec = "DECIMAL(38,0)"
    // Pin the kCand-row feature frame: it feeds BOTH the train
    // aggregate and the scoring join, and its lineage holds the whole
    // ADC probe + candidate featurize — without the checkpoint that
    // subtree re-executes once per consumer (measured ~2.9 s vs ~1.7 s
    // for the exact-rerank sibling's single-consumer probe).
    val ftr = graft.Checkpoints.pinned(cand.join(cv, Seq("cid"))
      .select(col("cid"),
        round(col("approx_d2") * 10000, 0).cast("long").as("x1"),
        col("x2"),
        round(round(d2, 4) * 10000, 0).cast("long").as("y")))
    // One-row normal-equation aggregate over the train half (even
    // chunk_seq), broadcast back over the kCand candidates — the
    // accepted one-row-stats crossJoin shape.
    val nrm = ftr.filter(col("cid") % 2 === 0)
      .agg(
        coalesce(sum(expr(s"CAST(x1 AS $dec) * x1")), lit(0)).as("s11"),
        coalesce(sum(expr(s"CAST(x1 AS $dec) * x2")), lit(0)).as("s12"),
        coalesce(sum(expr(s"CAST(x2 AS $dec) * x2")), lit(0)).as("s22"),
        coalesce(sum(expr(s"CAST(x1 AS $dec) * y")), lit(0)).as("b1"),
        coalesce(sum(expr(s"CAST(x2 AS $dec) * y")), lit(0)).as("b2"))
      .select(
        expr("s11*s22 - s12*s12").as("det"),
        expr("s22*b1 - s12*b2").as("n1"),
        expr("s11*b2 - s12*b1").as("n2"))
    val scored = ftr.crossJoin(broadcast(nrm))
      .select(col("cid"),
        expr(s"""CASE WHEN det = 0 THEN CAST(x1 AS $dec)
                 WHEN det < 0 THEN -(n1*x1 + n2*x2)
                 ELSE n1*x1 + n2*x2 END""").as("s"))
      .withColumn("lrnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("s"), col("cid"))))
      .filter(col("lrnk") <= kPassages)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("best_rank"), col("doc_id"))
    scored
      .select(expr(s"cid div ${ChunkVecSeqLimit}").as("doc_id"),
        (col("cid") % ChunkVecSeqLimit).as("chunk_seq"), col("lrnk"))
      .groupBy(col("doc_id"))
      .agg(min(col("lrnk")).cast("long").as("best_rank"),
        min(struct(col("lrnk"), col("chunk_seq")))
          .getField("chunk_seq").as("best_seq"),
        count(lit(1)).as("n_passages"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= kDocs)
      .select(col("doc_id"), col("best_seq"), col("best_rank"),
        col("n_passages"), col("rnk"))
  }

  /** PASSAGE-LEVEL hybrid retrieval — BM25's doc-level lexical ranks
    * fused (the shared RRF tail,
    * [[graft.operators.Search.rrfFuseWithBm25]]) with [[passageTopK]]'s
    * doc ranks, where each doc's dense rank comes from its BEST
    * passage: the retrieval shape for long documents, where a doc's
    * relevance lives in one passage that whole-doc embedding evidence
    * averages away. Both fusion inputs stay top-`kEach` lists; the
    * dense side reads only ~nprobe/cells of the chunk-vector store's
    * code rows.
    */
  def hybridTopKPassage(spark: org.apache.spark.sql.SparkSession,
      indexDir: String, vecDir: String, queryTerms: Seq[String],
      queryText: String, dims: Int, k: Int, kEach: Int = 20,
      rrfK: Int = 60, kPassages: Int = 50, nprobe: Int = 0): DataFrame = {
    val dense = passageTopK(spark, vecDir, queryText, dims, kPassages,
        kDocs = kEach, nprobe = nprobe)
      .select(col("doc_id"), col("rnk").as("r_ann"))
    graft.operators.Search.rrfFuseWithBm25(spark, indexDir, queryTerms,
      dense, k, kEach, rrfK)
  }

  /** Column names [[substringIngestBatch]] owns in the stored docs
    * table; same-named delivered columns are dropped before the join
    * back (see the ingest's scaladoc).
    */
  private val SubstringReservedCols: Seq[String] = Seq("content_hash",
    "batch", "clean_text", "n_tokens", "n_dup_grams", "n_removed")

  /** SUBSTRING-DEDUP-GATED ingest into a composed standing store: the
    * batch is screened for duplicated >= k-token spans against the
    * store's accumulated gram counts PLUS the batch's own
    * ([[graft.operators.Corpus.exactSubstringDedupAgainst]] — store
    * side semi-join-scoped to the batch's grams, so the screen costs
    * O(batch) against any store size), exact re-deliveries and
    * in-batch exact copies are dropped by ORIGINAL-content hash (the
    * screen's output changes as the store grows, so redelivery
    * identity must key on the text as delivered, not as cleaned), and
    * the survivors land as one committed generation holding BOTH their
    * cleaned documents and the cleaned text's gram counts — one
    * ledger, marker LAST, so docs and counts appear together or not
    * at all (a crash between the table writes leaves an invisible
    * orphan; redelivery converges under a fresh burned id).
    *
    * Counts append from the survivors' AS-DELIVERED text, not the
    * cleaned text: a span that first became duplicated WITHIN one
    * batch is removed from every survivor, so cleaned-text counts
    * would store zero occurrences and the span would sail through the
    * next wave — as-delivered counts keep every span's store total at
    * its true survivor-occurrence count, so once a span reaches 2 it
    * screens out forever. Fully-covered documents (clean_text empty —
    * 100 % duplicated content) are DROPPED, not inserted: they are
    * duplicates by definition, and redelivery converges because they
    * re-screen against the same counts. Returns docs inserted.
    *
    * RESERVED column names: `content_hash`, `batch`, and the screen's
    * outputs (`clean_text`, `n_tokens`, `n_dup_grams`, `n_removed`)
    * are engine-owned in the stored docs. A delivered batch that
    * already carries any of them is stripped of those columns up
    * front — they would otherwise collide ambiguously in the join
    * back — so metadata under these names does NOT ride along.
    */
  def substringIngestBatch(batch: DataFrame, storeDir: String,
      idCol: String, textCol: String, k: Int = 8): Long =
   graft.sources.Commits.withWriterLock(batch.sparkSession, storeDir) {
    import graft.operators.Corpus
    val spark = batch.sparkSession
    // The store's span length is pinned at first write: a caller
    // disagreeing on k would screen against a disjoint gram-hash space
    // and silently insert near-everything (Corpus.requireGramK).
    Corpus.requireGramK(spark, storeDir, k, pin = true)
    val docsDir = s"$storeDir/docs"
    val gramsDir = s"$storeDir/grams"
    val live = substringLiveBatches(spark, storeDir)
    val storeDocs = graft.sources.Commits
      .readCommittedBatches(spark, docsDir, live)
    val storeGrams = graft.sources.Commits
      .readCommittedBatches(spark, gramsDir, live)
    val reserved = SubstringReservedCols.filter(c =>
      c != idCol && c != textCol)
    // The strip must not be silent: a producer delivering genuine
    // metadata under a reserved name loses it, and the scaladoc alone
    // won't reach whoever wired that producer. One warning per batch
    // naming exactly the columns dropped.
    val collisions = batch.columns.filter(reserved.contains)
    if (collisions.nonEmpty)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        "substringIngestBatch: delivered batch carries engine-reserved " +
          s"column(s) ${collisions.mkString(", ")} - dropping them " +
          "before ingest; rename producer-side metadata to keep it")
    val hashed = Upsert.onePerKeyByContentHashed(
      batch.drop(reserved: _*), idCol, textCol)
    // Exact screens on the AS-DELIVERED text: vs the store, then
    // lowest-id-wins within the batch.
    val vsStore = storeDocs match {
      case Some(d) => hashed.join(d.select(col("content_hash")),
        Seq("content_hash"), "left_anti")
      case None => hashed
    }
    val wExact = org.apache.spark.sql.expressions.Window
      .partitionBy(col("content_hash")).orderBy(col(idCol))
    val novel = vsStore.withColumn("__rn",
        org.apache.spark.sql.functions.row_number().over(wExact))
      .filter(col("__rn") === 1).drop("__rn")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val screened = Corpus.exactSubstringDedupAgainst(novel, idCol, textCol,
      k, storeGrams)
      .filter(col("clean_text") =!= "")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = screened.count()
    if (n > 0) {
      val batchId = graft.sources.Commits.allocateBatchId(spark, storeDir,
        Seq(docsDir, gramsDir))
      // Docs keep EVERY delivered column (provenance/metadata ride
      // along); the text column is replaced by its cleaned value.
      // Two INDEPENDENT per-batch-dir writes off the persisted frames
      // — overlapped (guide §2.6); a crash leaving either subset is
      // uncommitted and invisible, exactly as sequentially.
      graft.Par.run(Seq[() => Unit](
        () => novel.drop(textCol).join(screened, Seq(idCol))
          .withColumn("batch", lit(batchId))
          .write.mode("errorifexists").parquet(s"$docsDir/b$batchId"),
        () => Corpus.gramCounts(
            novel.join(screened.select(col(idCol)), Seq(idCol),
              "left_semi"),
            idCol, textCol, k)
          .withColumn("batch", lit(batchId))
          .write.mode("errorifexists")
          .parquet(s"$gramsDir/b$batchId"))): Unit
      graft.sources.Commits.commit(spark, storeDir, batchId)
    }
    screened.unpersist()
    novel.unpersist()
    n
   }

  /** Streaming face of [[substringIngestBatch]]. */
  def substringIngestSink(stream: DataFrame, storeDir: String,
      idCol: String, textCol: String, checkpointDir: String,
      k: Int = 8): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        substringIngestBatch(batch, storeDir, idCol, textCol, k): Unit
      }
      .start()

  /** The substring store's LIVE generations: committed minus the
    * sources of committed folds (the docs table's `_folds` markers are
    * authoritative for both tables — counts are additive, so folded
    * sources must die to readers the instant the fold commits; see
    * `Commits.writeFoldMarker`).
    */
  private def substringLiveBatches(
      spark: org.apache.spark.sql.SparkSession, storeDir: String): Seq[Long] = {
    val committed = graft.sources.Commits.committed(spark, storeDir)
    val superseded = graft.sources.Commits
      .foldedSources(spark, s"$storeDir/docs", committed)
    committed.filterNot(superseded.contains)
  }

  /** The substring store's committed cleaned documents (all delivered
    * columns, text replaced by clean_text, plus the dedup stats).
    */
  def substringStoreRead(spark: org.apache.spark.sql.SparkSession,
      storeDir: String): Option[DataFrame] =
    graft.sources.Commits.readCommittedBatches(spark, s"$storeDir/docs",
      substringLiveBatches(spark, storeDir))

  /** COMPACT the substring store's generation count down to
    * `maxBatches`: the smallest generations (by docs rows, ties on id)
    * fold — docs rows moved verbatim, gram counts sum-merged — into
    * one fresh committed generation whose docs-table `_folds` marker
    * names its sources, then the sources uncommit and both tables'
    * directories delete. Also the store's hygiene pass: completes a
    * crashed predecessor's cleanup, sweeps orphan batch dirs in both
    * tables, and prunes spent attempt markers. Fold cost follows the
    * folded generations, never the store. Returns generations folded.
    */
  def substringStoreCompact(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, maxBatches: Int = 16): Int =
   graft.sources.Commits.withWriterLock(spark, storeDir) {
    val docsDir = s"$storeDir/docs"
    val gramsDir = s"$storeDir/grams"
    val fs = new org.apache.hadoop.fs.Path(storeDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val committedAll = graft.sources.Commits.committed(spark, storeDir)
    // Crashed-predecessor repair: committed folds whose sources are
    // still committed -> finish uncommitting and deleting them.
    val stale = graft.sources.Commits
      .foldedSources(spark, docsDir, committedAll)
      .intersect(committedAll.toSet)
    stale.foreach { b =>
      graft.sources.Commits.uncommit(spark, storeDir, b)
      Seq(docsDir, gramsDir).foreach(t =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$t/b$b"), true): Unit)
    }
    val committed = graft.sources.Commits.committed(spark, storeDir)
    Seq(docsDir, gramsDir).foreach(t => graft.sources.Commits
      .sweepOrphanBatchDirs(spark, t, committed))
    graft.sources.Commits.pruneAttemptMarkers(spark, storeDir)
    if (committed.size <= maxBatches) return 0
    // A prior fold's directory holds rows that KEEP their original
    // batch values (recency — see below), so both the size accounting
    // and the row movement must key on the DIRECTORY a row lives in,
    // never the batch column: column-keyed selection would see a fold
    // dir as empty, pick it first, move none of its rows, and delete
    // it — silent data loss on the second fold.
    val byDir = committed.flatMap(b =>
      graft.sources.Commits.readCommittedBatches(spark, docsDir, Seq(b))
        .map(_.withColumn("__dir", lit(b))))
    if (byDir.isEmpty) return 0
    val docs = byDir.reduce(_.unionByName(_))
    val selected = graft.sources.Commits.compactionSelection(
      docs.withColumn("batch", col("__dir")), committed, maxBatches)
    if (selected.isEmpty) return 0
    val id = graft.sources.Commits.allocateBatchId(spark, storeDir,
      Seq(docsDir, gramsDir))
    // Docs keep their ORIGINAL batch values through the fold: the
    // column is the per-id recency order the read-back's max_by
    // resolves generations with, and rewriting it to the fold's id
    // would promote an old generation past a newer one sitting in an
    // unselected batch. The fold's identity lives in the DIRECTORY
    // (b<id> + the ledger), not the rows.
    docs.filter(col("__dir").isin(selected: _*)).drop("__dir")
      .write.mode("errorifexists").parquet(s"$docsDir/b$id")
    graft.sources.Commits
      .readCommittedBatches(spark, gramsDir, selected) match {
      case Some(g) => g.groupBy(col("gh"))
        .agg(org.apache.spark.sql.functions.sum(col("df")).as("df"))
        .withColumn("batch", lit(id))
        .write.mode("errorifexists").parquet(s"$gramsDir/b$id")
      case None =>
        // The grams-side fold found NO data for the selected
        // generations. Legitimate only when every selected gram dir is
        // truly empty/absent (all-short-doc generations append no
        // grams); anything else — a dir that lists data files the
        // reader didn't surface — means an unreadable/corrupt grams
        // table, and folding on would silently zero accumulated counts
        // and weaken every future screen. Verify per-dir and abort the
        // fold (pre-marker, pre-commit: the orphan fold dir is swept by
        // the next pass) rather than destroy state.
        val withData = selected.filter { b =>
          val p = new org.apache.hadoop.fs.Path(s"$gramsDir/b$b")
          fs.exists(p) && fs.listStatus(p).exists { s =>
            val n = s.getPath.getName
            s.isFile && !n.startsWith("_") && !n.startsWith(".")
          }
        }
        if (withData.nonEmpty)
          throw new IllegalStateException(
            s"substringStoreCompact: gram generations $withData under " +
              s"$gramsDir hold data files the committed-batch reader " +
              "could not surface; refusing to fold (would drop " +
              "accumulated gram counts)")
    }
    graft.sources.Commits.writeFoldMarker(spark, docsDir, id, selected)
    // Commit point: the fold is live, its sources dead to readers,
    // however far the cleanup below gets.
    graft.sources.Commits.commit(spark, storeDir, id)
    selected.foreach { b =>
      graft.sources.Commits.uncommit(spark, storeDir, b)
      Seq(docsDir, gramsDir).foreach(t =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$t/b$b"), true): Unit)
    }
    selected.size
   }

  /** `f` over `df` persisted for the call's duration. */
  private def withPersisted[T](df: DataFrame)(f: DataFrame => T): T = {
    val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try f(p) finally { p.unpersist(); () }
  }

  /** The delivery ledger's marker file, kept in the first store dir of a
    * composed ingest's chain.
    */
  private val DeliveredMarker = "_delivered"

  /** DELIVERY LEDGER of the composed ingest entry points: run `apply`
    * over the persisted batch unless this exact delivery is the last
    * one `ledgerDir` recorded as fully applied, in which case return
    * `noop` — no lease, no gate, no sink, nothing written.
    *
    * The fingerprint is one Spark job over the persisted batch (which
    * the full path reuses): the batch id, the row count, and the exact
    * sums of two row hashes over every delivered column (64-bit
    * `xxhash64` and 32-bit murmur3 `hash`, summed as unbounded
    * integers, so row order and partitioning do not matter), plus the
    * batch schema and `surfaces`, the arguments choosing which stores
    * and gates the delivery feeds (a replay onto a different set of
    * surfaces is a different delivery). A batch whose columns cannot be
    * hashed (map types) has no fingerprint and always takes the full
    * path.
    *
    * The marker is overwritten (temp write + rename) only after every
    * surface returned. A crash or a refused lease anywhere before that
    * leaves the previous marker, so a redelivery takes the full path
    * and converges as the idempotent sinks always did; a lost marker
    * likewise only costs one full path.
    */
  private def deliverOnce[T](batch: DataFrame, batchId: Long,
      ledgerDir: String, surfaces: Seq[Any], noop: T)(
      apply: DataFrame => T): T =
    withPersisted(batch) { shared =>
      val fp = graft.Prof("fanout.ledger")(
        deliveryFingerprint(shared, batchId, surfaces))
      if (fp.isDefined &&
          graft.sources.StatePointer.readFile(ledgerDir, DeliveredMarker) == fp)
        noop
      else {
        val r = apply(shared)
        // A unique temp name: two writers finishing at once each rename
        // their own file, and the marker ends as one of them.
        fp.foreach(graft.sources.StatePointer.writeFile(ledgerDir,
          DeliveredMarker, _,
          s"$DeliveredMarker.${java.util.UUID.randomUUID()}.tmp"))
        r
      }
    }

  /** The ledger's fingerprint of one delivery (see [[deliverOnce]]). */
  private def deliveryFingerprint(shared: DataFrame, batchId: Long,
      surfaces: Seq[Any]): Option[String] = {
    val hashed =
      try Some(shared.select(xxhash64(col("*")), hash(col("*")).cast("long")))
      catch { case _: org.apache.spark.sql.AnalysisException => None }
    hashed.map { h =>
      // Per-partition partial sums, combined on the driver: one job, no
      // shuffle.
      val parts = h.mapPartitions { rows =>
        var n = 0L
        var a, b = BigInt(0)
        rows.foreach { r => n += 1; a += r.getLong(0); b += r.getLong(1) }
        Iterator((n, a.toString, b.toString))
      }(org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.STRING)).collect()
      s"batch=$batchId rows=${parts.map(_._1).sum} " +
        s"xxhash64=${parts.map(p => BigInt(p._2)).sum} " +
        s"hash=${parts.map(p => BigInt(p._3)).sum} " +
        s"schema=${shared.schema.catalogString} " +
        s"surfaces=${surfaces.mkString(",")}\n"
    }
  }

  /** COMPOSED store fan-out — one crawled/extracted document batch
    * advances ALL the standing stores in a single pass, the way the
    * reference's ingest worker composes its store write
    * (`/root/reference/workers/raw_to_postgres.py:5-30`), extended to
    * the three read surfaces a training-data platform serves:
    *
    *   1. content-hash MERGE store ([[mergeBatch]]) — the document of
    *      record (id, text, content_hash);
    *   2. standing INVERTED INDEX
    *      ([[graft.operators.Search.indexAppend]]) — BM25 retrieval,
    *      changed-content upsert;
    *   3. standing ANN store
    *      ([[graft.operators.Similarity.annStoreAppend]]) — embedding
    *      search, when the batch carries `vecCol`;
    *   4. standing PQ store
    *      ([[graft.operators.Similarity.pqStoreAppend]]) — quantized
    *      retrieval, when the batch carries `vecCol` AND `pqDir` is
    *      set. The first delivery carrying at least `pqCodes` distinct
    *      embedding ids against an uncommitted store TRAINS the
    *      codebook ([[graft.operators.Similarity.pqStoreBuild]],
    *      train-once, m = `pqM` subspaces over the same `dims` as the
    *      ANN store, `pqCodes` codes each) — deliver a representative
    *      batch first or pre-build the store offline; vector-poor
    *      deliveries before that DEFER training (the PQ surface stays
    *      unbuilt rather than poison-pilling the batch); every later
    *      delivery encodes with the pinned codebook. A crash between the codebook write
    *      and its generation commit redelivers into the build path,
    *      which overwrites the codebook and converges;
    *   5. standing CHUNK store ([[chunkIngestBatch]]) — the passage
    *      surface, when `chunkDir` is set: the same text every other
    *      sink serves, re-chunked only on changed content. The
    *      takedown twin already leaves this store
    *      ([[fanoutDeleteBatch]]'s `chunkDir`); this closes the
    *      asymmetry where a takedown left the passage surface but
    *      ingest never advanced it;
    *   6. standing CHUNK-VECTOR PQ store
    *      ([[chunkVectorIngestBatch]]) — passage RETRIEVAL, when BOTH
    *      `chunkDir` and `chunkVecDir` are set: the committed chunks
    *      featurize and upsert under packed (doc, seq) ids, vanished
    *      passages tombstone, and [[passageTopK]] serves
    *      passage-level search over the result. Same train-deferral
    *      contract as the doc-PQ surface.
    *
    * The batch is persisted ONCE: the crawl/extract lineage upstream is
    * computed a single time and all sinks read the materialized
    * rows (shared scan, five writes). There is no cross-store
    * transaction — each sink is individually idempotent (hash-compare
    * merge, generation-committed index, insert-if-absent ANN,
    * vec-hash-gated PQ, content-hash-gated chunks and chunk vectors),
    * so an at-least-once redelivery after a mid-fanout crash converges
    * every store, matching the standalone sinks' contract.
    *
    * DELIVERY CONTRACT (shared by the three composed ingest entry
    * points, each applying the ledger once at its outermost call):
    * redelivering the last fully-applied delivery — same batch id, same
    * rows — is a no-op. It costs one fingerprint job, takes no lease,
    * runs no gate or sink, writes nothing, and returns all-zero counts.
    * The ledger's `_delivered` marker lives in the chain's first store
    * dir (`storeDir` here, `gramStoreDir` for
    * [[fanoutIngestBatchGated]], `neardupDir` for
    * [[fanoutIngestBatchNeardupGated]]). The semantics are
    * exactly-once-equivalent: a takedown ([[fanoutDeleteBatch]]) issued
    * after the first delivery stays in force when the delivery
    * replays, where the full path would re-merge, re-index and
    * re-insert the doc on the sinks. Anything else takes the full path:
    * a re-offer of the same rows under a new batch id (it goes through
    * the gates as usual), the same batch id with different rows, an
    * older delivery than the last one recorded, or a marker lost to a
    * crash after the last surface (only the cost of one full path,
    * which converges as before). Returns (docs indexed, vectors
    * inserted, PQ rows encoded, docs chunked, chunk vectors encoded).
    */
  def fanoutIngestBatch(batch: DataFrame, batchId: Long, storeDir: String,
      indexDir: String, annDir: String, idCol: String, textCol: String,
      vecCol: Option[String] = None, planes: Int = 16,
      dims: Int = 8, pqDir: Option[String] = None, pqM: Int = 4,
      pqCodes: Int = 8, chunkDir: Option[String] = None,
      chunkWindow: Int = 64, chunkOverlap: Int = 16,
      chunkVecDir: Option[String] = None, chunkVecDims: Int = 16,
      chunkVecM: Int = 4, chunkVecCodes: Int = 8,
      chunkVecCells: Int = 16,
      chunkVecTrainPerMille: Int = 1000): (Long, Long, Long, Long, Long) =
    deliverOnce(batch, batchId, storeDir,
      Seq(storeDir, indexDir, annDir, vecCol, pqDir, chunkDir, chunkVecDir),
      (0L, 0L, 0L, 0L, 0L))(
      fanoutApply(_, batchId, storeDir, indexDir, annDir, idCol, textCol,
        vecCol, planes, dims, pqDir, pqM, pqCodes, chunkDir, chunkWindow,
        chunkOverlap, chunkVecDir, chunkVecDims, chunkVecM, chunkVecCodes,
        chunkVecCells, chunkVecTrainPerMille))

  /** [[fanoutIngestBatch]]'s composition over an already-persisted
    * batch, without the delivery ledger: the gated forms feed their
    * read-back through this directly, so one delivery checks and
    * records the ledger once, at its outermost entry point.
    */
  private def fanoutApply(shared: DataFrame, batchId: Long,
      storeDir: String, indexDir: String, annDir: String, idCol: String,
      textCol: String, vecCol: Option[String], planes: Int, dims: Int,
      pqDir: Option[String], pqM: Int, pqCodes: Int,
      chunkDir: Option[String], chunkWindow: Int, chunkOverlap: Int,
      chunkVecDir: Option[String], chunkVecDims: Int, chunkVecM: Int,
      chunkVecCodes: Int, chunkVecCells: Int,
      chunkVecTrainPerMille: Int): (Long, Long, Long, Long, Long) = {
    require(chunkVecDir.isEmpty || chunkDir.nonEmpty,
      "chunkVecDir needs chunkDir: the chunk-vector surface featurizes " +
        "the committed chunk store's passages")
    val spark = shared.sparkSession
    // Rows whose vector is missing advance the doc/index surfaces but
    // not the embedding stores (a null vec would bucket/encode to
    // garbage) — the embedding can arrive in a later delivery;
    // insert-if-absent takes it then.
    def vecsOf(v: String) = shared.filter(col(v).isNotNull)
      .select(col(idCol).as("id"), col(v).as("vec"))
    // The surfaces are INDEPENDENT stores — own directory, own
    // writer lease, idempotent sink — and the composition's
    // convergence argument never assumed an ordering among them (a
    // crash mid-fan-out already leaves an arbitrary completed
    // subset; redelivery catches the rest up). Only the
    // chunk-VECTOR surface chains: it featurizes the chunk store's
    // COMMITTED state, so it runs after the chunk mutation inside
    // the same track. Running the five tracks concurrently
    // (graft.Par, guide §2.6) lets one surface's tasks back-fill
    // the cores another's action tail leaves idle — at micro-batch
    // scale the composed sink's cost is ~40 fixed per-action
    // overheads end to end, not data volume.
    //
    // Every surface lease is acquired UPFRONT, in the sequential
    // composition's order, before any surface mutates: a competing
    // writer anywhere in the set refuses the whole wave as a clean
    // no-op (CrossJvmFanoutSpec pins that a refusal must not leave
    // later surfaces advanced past the refused one — upfront
    // acquisition strengthens the old committed-prefix outcome to
    // nothing-committed, which redelivery converges identically),
    // and the tracks then mutate concurrently with their leases
    // pre-held (withWriterLockUnless).
    val toHold: Seq[String] =
      Seq(storeDir, indexDir) ++
        (if (vecCol.isDefined) Seq(annDir) else Nil) ++
        (if (vecCol.isDefined) pqDir.toSeq else Nil) ++
        chunkDir.toSeq ++
        (if (chunkDir.isDefined) chunkVecDir.toSeq else Nil)
    graft.sources.Commits.withWriterLocks(spark, toHold) { hl =>
      val mergeT = () => {
        graft.Prof("fanout.merge")(mergeBatch(
          shared.select(col(idCol), col(textCol),
            graft.functions.HashFunctions.contentHash(col(textCol))
              .as("content_hash")),
          storeDir, idCol, batchId, hl))
        0L
      }
      val idxT = () => graft.Prof("fanout.index")(
        graft.operators.Search.indexAppend(
          shared.select(col(idCol), col(textCol)), idCol, textCol,
          indexDir, hl))
      val annT = () => vecCol.fold(0L)(v =>
        graft.Prof("fanout.ann")(
          graft.operators.Similarity.annStoreAppend(vecsOf(v), annDir,
            planes, dims, hl)))
      val pqT = () => (pqDir, vecCol) match {
        case (Some(pd), Some(v)) => graft.Prof("fanout.pq") {
          require(dims % pqM == 0,
            s"fan-out PQ surface needs dims divisible by pqM, " +
              s"got dims=$dims pqM=$pqM")
          if (graft.sources.Commits.committed(spark, pd).isEmpty) {
            // Codebook training needs at least pqCodes distinct seed
            // vectors. A vector-poor first delivery must NOT become a
            // poison pill — under a streaming sink the failed batch
            // would redeliver and fail forever — so training DEFERS to
            // the first delivery carrying >= pqCodes embedding ids;
            // until then the batch advances the other surfaces and the
            // PQ surface stays unbuilt (its vectors are safe in the
            // ANN store and can be backfilled by an offline
            // pqStoreBuild, or arrive again on a redelivery). The
            // trainer's own seed collect IS the deferral probe: an
            // undersized delivery raises UndersizedTrainingSet before
            // any store side effect, one job cheaper than the
            // pre-count probe this branch used to run.
            try graft.operators.Similarity.pqStoreBuild(vecsOf(v), pd,
              m = pqM, subDims = dims / pqM, codes = pqCodes, iters = 2,
              heldLocks = hl)
            catch {
              case _: graft.operators.Similarity.UndersizedTrainingSet =>
                0L
            }
          } else graft.operators.Similarity.pqStoreAppend(vecsOf(v), pd,
            hl)
        }
        case _ => 0L
      }
      val chunkTrackT = () => chunkDir.fold((0L, 0L)) { d =>
        val nChunk = graft.Prof("fanout.chunks")(
          chunkIngestBatch(shared.select(col(idCol), col(textCol)), d,
            idCol, textCol, chunkWindow, chunkOverlap, hl))
        val nCkVec = chunkVecDir.fold(0L)(vd =>
          graft.Prof("fanout.ckvec")(
            chunkVectorIngestBatch(spark, d, vd,
              shared.select(col(idCol)), chunkVecDims, chunkVecM,
              chunkVecCodes, chunkVecCells, chunkVecTrainPerMille, hl)))
        (nChunk, nCkVec)
      }
      val rs = graft.Par.run(Seq[() => Any](mergeT, idxT, annT, pqT,
        chunkTrackT))
      val (nIdx, nAnn, nPq) = (rs(1).asInstanceOf[Long],
        rs(2).asInstanceOf[Long], rs(3).asInstanceOf[Long])
      val (nChunk, nCkVec) = rs(4).asInstanceOf[(Long, Long)]
      (nIdx, nAnn, nPq, nChunk, nCkVec)
    }
  }

  /** SPAN-GATED composed fan-out — [[fanoutIngestBatch]] with the
    * substring-dedup screen composed IN FRONT, so one delivered batch
    * advances all FOUR standing surfaces on one cadence — the gram
    * store (span screen state), the content-hash merge store, the
    * inverted index, and the ANN store — plus the standing PQ store
    * when `pqDir` is set and the chunk (passage) store when `chunkDir`
    * is set, SIX surfaces total — the way the reference worker
    * advances every sink from one batch
    * (`/root/reference/workers/raw_to_postgres.py:5-30`), instead of
    * the span-gated store committing on its own schedule next to the
    * other three.
    *
    *   1. The batch runs [[substringIngestBatch]]: exact re-deliveries
    *      and in-batch copies drop by original-content hash, surviving
    *      docs lose every >= `k`-token span already duplicated in the
    *      store or the batch, fully-covered docs drop, and the
    *      survivors' cleaned docs + gram counts commit as ONE
    *      generation of the gram store.
    *   2. The downstream feed is read back FROM the gate's committed
    *      state — the cleaned text of every store doc whose id the
    *      batch delivered, latest generation per id — and fanned into
    *      the merge store, index, and ANN store ([[fanoutIngestBatch]];
    *      vectors join back from the delivered batch by id).
    *
    * Reading the feed back from committed state (not from the screen's
    * in-flight output) is what makes the composition converge with NO
    * cross-store transaction: a crash after the gate's commit but
    * before the sink appends redelivers the batch, the gate drops
    * every doc as an exact redelivery (inserting nothing), and the
    * read-back still yields the full survivor set for the batch's ids
    * — so the idempotent sinks (hash-compare merge, changed-content
    * index upsert, insert-if-absent ANN) catch up to exactly the state
    * a crash-free run reaches. Docs the gate dropped (exact dups of
    * OTHER ids, 100 %-duplicated content) never reach the sinks — by
    * design, that is the gate's job. Downstream text is the CLEANED
    * text as committed at the doc's own ingest time: later batches
    * growing the gram counts never retro-edit what the sinks hold.
    *
    * The id read-back joins the gram store's docs table semi-joined on
    * the batch's ids — O(store scan) per batch like the merge/index
    * sinks' own current-state reads, with the batch side broadcast.
    *
    * Delivery contract as in [[fanoutIngestBatch]], with the
    * `_delivered` marker in `gramStoreDir`: a replay of the last
    * fully-applied (batch id, rows) is a no-op that skips the gate's
    * read-back entirely; a re-offer under a new batch id still goes
    * through the gate. Returns (docs the gate inserted, docs indexed,
    * vectors inserted, PQ rows encoded, docs chunked, chunk vectors
    * encoded).
    */
  def fanoutIngestBatchGated(batch: DataFrame, batchId: Long,
      storeDir: String, indexDir: String, annDir: String,
      gramStoreDir: String, idCol: String, textCol: String,
      vecCol: Option[String] = None, planes: Int = 16, dims: Int = 8,
      k: Int = 8, pqDir: Option[String] = None, pqM: Int = 4,
      pqCodes: Int = 8, chunkDir: Option[String] = None,
      chunkWindow: Int = 64, chunkOverlap: Int = 16,
      chunkVecDir: Option[String] = None, chunkVecDims: Int = 16,
      chunkVecM: Int = 4, chunkVecCodes: Int = 8,
      chunkVecCells: Int = 16, chunkVecTrainPerMille: Int = 1000):
      (Long, Long, Long, Long, Long, Long) =
    deliverOnce(batch, batchId, gramStoreDir,
      Seq(gramStoreDir, k, storeDir, indexDir, annDir, vecCol, pqDir,
        chunkDir, chunkVecDir),
      (0L, 0L, 0L, 0L, 0L, 0L))(
      gatedApply(_, batchId, storeDir, indexDir, annDir, gramStoreDir,
        idCol, textCol, vecCol, planes, dims, k, pqDir, pqM, pqCodes,
        chunkDir, chunkWindow, chunkOverlap, chunkVecDir, chunkVecDims,
        chunkVecM, chunkVecCodes, chunkVecCells, chunkVecTrainPerMille))

  /** [[fanoutIngestBatchGated]]'s composition over an already-persisted
    * batch, without the delivery ledger (see [[fanoutApply]]).
    */
  private def gatedApply(shared: DataFrame, batchId: Long,
      storeDir: String, indexDir: String, annDir: String,
      gramStoreDir: String, idCol: String, textCol: String,
      vecCol: Option[String], planes: Int, dims: Int, k: Int,
      pqDir: Option[String], pqM: Int, pqCodes: Int,
      chunkDir: Option[String], chunkWindow: Int, chunkOverlap: Int,
      chunkVecDir: Option[String], chunkVecDims: Int, chunkVecM: Int,
      chunkVecCodes: Int, chunkVecCells: Int, chunkVecTrainPerMille: Int):
      (Long, Long, Long, Long, Long, Long) = {
    val spark = shared.sparkSession
    // Delivered metadata rides into the gram store's docs like any
    // substringIngestBatch call — but the vector column stays out
    // (the ANN store is its home; duplicating embeddings into the
    // screen state would double the biggest column for no reader).
    val nGate = graft.Prof("fanout.spanGate")(substringIngestBatch(
      vecCol.fold(shared)(v => shared.drop(v)),
      gramStoreDir, idCol, textCol, k))
    val ids = shared.select(col(idCol)).dropDuplicates(idCol)
    substringStoreRead(spark, gramStoreDir) match {
      case None => (nGate, 0L, 0L, 0L, 0L, 0L)
      case Some(docs) =>
        val cleaned = docs.join(broadcast(ids), Seq(idCol), "left_semi")
          .groupBy(col(idCol))
          .agg(max_by(col("clean_text"), col("batch")).as(textCol))
        // An ALL-DUPLICATE delivery (the common case a dedup gate
        // exists for) must not touch the sinks: without this check
        // the empty feed would still merge into the doc store, which
        // rewrites the full state per mergeBatch's contract. The
        // emptiness probe is a limit-1 job against the id-pruned
        // store read — O(small) either way.
        if (nGate == 0 &&
            graft.Prof("fanout.emptyProbe")(cleaned.isEmpty))
          (0L, 0L, 0L, 0L, 0L, 0L)
        else {
          // The vector rides from the SAME delivered row whose text
          // won the deterministic same-id resolution — not an
          // arbitrary dropDuplicates pick that could pair doc A's
          // text with doc A's other delivery's embedding.
          val feed = vecCol.fold(cleaned)(v => cleaned.join(
            Upsert.onePerKeyByContent(
              shared.select(col(idCol), col(textCol), col(v)),
              idCol, textCol).select(col(idCol), col(v)),
            Seq(idCol), "left"))
          val (nIdx, nAnn, nPq, nChunk, nCkVec) = withPersisted(feed)(
            fanoutApply(_, batchId, storeDir, indexDir, annDir, idCol,
              textCol, vecCol, planes, dims, pqDir, pqM, pqCodes, chunkDir,
              chunkWindow, chunkOverlap, chunkVecDir, chunkVecDims,
              chunkVecM, chunkVecCodes, chunkVecCells,
              chunkVecTrainPerMille))
          (nGate, nIdx, nAnn, nPq, nChunk, nCkVec)
        }
    }
  }

  /** Streaming face of [[fanoutIngestBatchGated]]. */
  def fanoutIngestGatedSink(stream: DataFrame, storeDir: String,
      indexDir: String, annDir: String, gramStoreDir: String,
      idCol: String, textCol: String, checkpointDir: String,
      vecCol: Option[String] = None, planes: Int = 16, dims: Int = 8,
      k: Int = 8, pqDir: Option[String] = None, pqM: Int = 4,
      pqCodes: Int = 8, chunkDir: Option[String] = None,
      chunkWindow: Int = 64, chunkOverlap: Int = 16,
      chunkVecDir: Option[String] = None, chunkVecDims: Int = 16,
      chunkVecM: Int = 4, chunkVecCodes: Int = 8,
      chunkVecCells: Int = 16): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        fanoutIngestBatchGated(batch, batchId, storeDir, indexDir, annDir,
          gramStoreDir, idCol, textCol, vecCol, planes, dims, k, pqDir,
          pqM, pqCodes, chunkDir, chunkWindow, chunkOverlap,
          chunkVecDir, chunkVecDims, chunkVecM, chunkVecCodes,
          chunkVecCells): Unit
      }
      .start()

  /** The near-dup store's committed documents (the delivered columns
    * plus `content_hash` and `batch`) — the read face the fully-gated
    * fan-out's read-back uses. None while nothing is committed.
    */
  def neardupStoreRead(spark: org.apache.spark.sql.SparkSession,
      storeDir: String): Option[DataFrame] = {
    val committed = graft.sources.Commits.committed(spark, storeDir)
    val p = new org.apache.hadoop.fs.Path(s"$storeDir/docs")
    val there = p
      .getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    if (committed.isEmpty || !there) None
    else Some(spark.read.parquet(s"$storeDir/docs")
      .filter(col("batch").isin(committed: _*)))
  }

  /** FULLY-GATED composed fan-out — the NEAR-DUP screen composed in
    * front of [[fanoutIngestBatchGated]], so one delivered batch
    * advances all FIVE standing surfaces on one cadence: the near-dup
    * store (MinHash/LSH gate state), the gram store (span screen
    * state), the content-hash merge store, the inverted index, and the
    * ANN store — plus the standing PQ store when `pqDir` is set and
    * the chunk (passage) store when `chunkDir` is set, SEVEN surfaces
    * total. This is the full training-data ingestion pipeline as
    * one call: exact dedup, near-duplicate dedup, duplicated-span
    * removal, then the read surfaces.
    *
    *   1. The batch runs [[neardupIngestBatch]]: exact re-deliveries
    *      and in-batch copies drop by content hash, docs whose
    *      MinHash/LSH near-duplicate (Jaccard >= `minJaccard`) already
    *      sits in the store or lower in the batch drop, and the
    *      survivors commit as ONE generation of the near-dup store
    *      (docs + shingle signatures + band keys).
    *   2. The downstream feed is read back FROM the gate's committed
    *      state — the stored text of every near-dup-store doc whose id
    *      the batch delivered, latest generation per id — and flows
    *      into the span-gated fan-out ([[fanoutIngestBatchGated]]:
    *      substring screen -> gram store -> merge store + index + ANN;
    *      vectors join back from the delivered batch by id, riding the
    *      same row whose text won the deterministic same-id
    *      resolution).
    *
    * Same convergence argument as the span-gated form, one gate
    * deeper: there is NO cross-store transaction — a crash between the
    * near-dup commit and the downstream advance redelivers the batch,
    * the near-dup gate drops every doc as an exact redelivery
    * (inserting nothing), and the read-back still yields the committed
    * survivor set for the batch's ids, so the span gate and the
    * idempotent sinks catch up to exactly the state a crash-free run
    * reaches. Docs the near-dup gate dropped never reach the span gate
    * or the sinks — by design. The vector column stays out of BOTH
    * gate stores (the ANN store is its home).
    *
    * Delivery contract as in [[fanoutIngestBatch]], with the
    * `_delivered` marker in `neardupDir`: a replay of the last
    * fully-applied (batch id, rows) is a no-op — one fingerprint job
    * instead of re-deriving "nothing changed" on all eight surfaces —
    * and a takedown issued since stays in force on every sink (the
    * gates keep the doc either way); a re-offer under a new batch id
    * still goes through both gates.
    *
    * Returns (docs the near-dup gate inserted, docs the span gate
    * inserted, docs indexed, vectors inserted, PQ rows encoded, docs
    * chunked, chunk vectors encoded).
    */
  def fanoutIngestBatchNeardupGated(batch: DataFrame, batchId: Long,
      storeDir: String, indexDir: String, annDir: String,
      gramStoreDir: String, neardupDir: String, idCol: String,
      textCol: String, vecCol: Option[String] = None, planes: Int = 16,
      dims: Int = 8, k: Int = 8, minJaccard: Double = 0.9,
      pqDir: Option[String] = None, pqM: Int = 4,
      pqCodes: Int = 8, chunkDir: Option[String] = None,
      chunkWindow: Int = 64, chunkOverlap: Int = 16,
      chunkVecDir: Option[String] = None, chunkVecDims: Int = 16,
      chunkVecTrainPerMille: Int = 1000):
      (Long, Long, Long, Long, Long, Long, Long) =
    deliverOnce(batch, batchId, neardupDir,
      Seq(neardupDir, minJaccard, gramStoreDir, k, storeDir, indexDir,
        annDir, vecCol, pqDir, chunkDir, chunkVecDir),
      (0L, 0L, 0L, 0L, 0L, 0L, 0L)) { shared =>
      val spark = shared.sparkSession
      val nNear = graft.Prof("fanout.neardupGate")(neardupIngestBatch(
        vecCol.fold(shared)(v => shared.drop(v)),
        neardupDir, idCol, textCol, minJaccard))
      val ids = shared.select(col(idCol)).dropDuplicates(idCol)
      neardupStoreRead(spark, neardupDir) match {
        case None => (nNear, 0L, 0L, 0L, 0L, 0L, 0L)
        case Some(docs) =>
          val passed = docs.join(broadcast(ids), Seq(idCol), "left_semi")
            .groupBy(col(idCol))
            .agg(max_by(col(textCol), col("batch")).as(textCol))
          // An all-duplicate delivery whose ids were never admitted
          // must not touch the downstream stores at all (same guard as
          // the span-gated layer, one gate earlier).
          if (nNear == 0 && passed.isEmpty) (0L, 0L, 0L, 0L, 0L, 0L, 0L)
          else {
            val feed = vecCol.fold(passed)(v => passed.join(
              Upsert.onePerKeyByContent(
                shared.select(col(idCol), col(textCol), col(v)),
                idCol, textCol).select(col(idCol), col(v)),
              Seq(idCol), "left"))
            // The chunk-vector codebook shape is not exposed here: it
            // takes fanoutIngestBatchGated's defaults (m 4, 8 codes,
            // 16 cells).
            val (nGate, nIdx, nAnn, nPq, nChunk, nCkVec) =
              withPersisted(feed)(gatedApply(_, batchId, storeDir,
                indexDir, annDir, gramStoreDir, idCol, textCol, vecCol,
                planes, dims, k, pqDir, pqM, pqCodes, chunkDir,
                chunkWindow, chunkOverlap, chunkVecDir, chunkVecDims,
                chunkVecM = 4, chunkVecCodes = 8, chunkVecCells = 16,
                chunkVecTrainPerMille = chunkVecTrainPerMille))
            (nNear, nGate, nIdx, nAnn, nPq, nChunk, nCkVec)
          }
      }
    }

  /** Streaming face of [[fanoutIngestBatchNeardupGated]]. */
  def fanoutIngestNeardupGatedSink(stream: DataFrame, storeDir: String,
      indexDir: String, annDir: String, gramStoreDir: String,
      neardupDir: String, idCol: String, textCol: String,
      checkpointDir: String, vecCol: Option[String] = None,
      planes: Int = 16, dims: Int = 8, k: Int = 8,
      minJaccard: Double = 0.9, pqDir: Option[String] = None,
      pqM: Int = 4, pqCodes: Int = 8, chunkDir: Option[String] = None,
      chunkWindow: Int = 64, chunkOverlap: Int = 16,
      chunkVecDir: Option[String] = None,
      chunkVecDims: Int = 16): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        fanoutIngestBatchNeardupGated(batch, batchId, storeDir, indexDir,
          annDir, gramStoreDir, neardupDir, idCol, textCol, vecCol,
          planes, dims, k, minJaccard, pqDir, pqM, pqCodes, chunkDir,
          chunkWindow, chunkOverlap, chunkVecDir, chunkVecDims): Unit
      }
      .start()

  /** TAKEDOWN fan-out — the delete twin of [[fanoutIngestBatch]]: one
    * id batch leaves ALL the standing stores together — the merge
    * store's state is rewritten minus the victims (same
    * pointer-swapped state dir as [[mergeBatch]], so the removal
    * commits atomically), and the inverted index and ANN store get
    * tombstone generations ([[graft.operators.Search.indexDelete]],
    * [[graft.operators.Similarity.annStoreDelete]], and — when the
    * pipeline runs a PQ store — [[graft.operators.Similarity
    * .pqStoreDelete]]: a takedown that left quantized codes
    * probe-visible would not be a takedown), plus the chunk and
    * chunk-vector stores when `chunkDir` / `chunkVecDir` are set.
    *
    * Like the ingest fan-out, every surface's writer lease is acquired
    * upfront, in the order above, and the surface deletes then run
    * concurrently ([[graft.Par]]). A competing writer on any surface
    * refuses the whole takedown before anything commits (no partial
    * takedown); a crash mid-fan-out leaves a completed subset, and
    * since each store's delete is idempotent the redelivery converges.
    * A takedown is not undone by replaying the last fully-applied
    * ingest delivery (see [[fanoutIngestBatch]]'s delivery contract).
    * Returns (store, index, ann, chunk, pq, chunk-vector) deletion
    * counts.
    */
  def fanoutDeleteBatch(ids: DataFrame, batchId: Long, storeDir: String,
      indexDir: String, annDir: String,
      idCol: String = "doc_id",
      chunkDir: Option[String] = None,
      pqDir: Option[String] = None,
      chunkVecDir: Option[String] = None):
      (Long, Long, Long, Long, Long, Long) = {
    val spark = ids.sparkSession
    withPersisted(ids.select(col(ids.columns.head).as(idCol))
        .dropDuplicates(idCol)) { victims =>
      val asIds = victims.select(col(idCol).as("id"))
      // Same shape as the ingest fan-out: every lease upfront in the
      // sequential order (a competing writer on any surface refuses the
      // whole takedown before anything commits), then the independent
      // surface deletes run concurrently with their leases pre-held.
      graft.sources.Commits.withWriterLocks(spark,
          Seq(storeDir, indexDir, annDir) ++ chunkDir ++ pqDir ++
            chunkVecDir) { hl =>
        val storeT = () => graft.Prof("fanout.delete.merge") {
          readState(spark, storeDir) match {
            case Some(st) =>
              val n = st.join(victims, Seq(idCol), "left_semi").count()
              if (n > 0) {
                // `state_del_<b>` keeps the takedown's provenance
                // visible in the layout; [[vacuum]] reclaims these like
                // any other state (recency is creation order, not a name
                // parse) and [[rollbackToState]] can target them by name.
                val state = s"state_del_$batchId"
                st.join(victims, Seq(idCol), "left_anti")
                  .write.mode("overwrite")
                  .parquet(stateDirPath(storeDir, state))
                writePointer(storeDir, state)
              }
              n
            case None => 0L
          }
        }
        val idxT = () => graft.Prof("fanout.delete.index")(
          graft.operators.Search.indexDelete(spark, indexDir, victims, hl))
        val annT = () => graft.Prof("fanout.delete.ann")(
          graft.operators.Similarity.annStoreDelete(spark, annDir, asIds,
            hl))
        // A takedown that leaves the doc's PASSAGES readable is not a
        // takedown: the chunk store leaves with the other surfaces when
        // the pipeline runs one. Its count rides in the result so
        // callers can verify the passage surface's takedown propagated
        // (0 when no chunk store is attached).
        val chunkT = () => chunkDir.fold(0L)(d =>
          graft.Prof("fanout.delete.chunks")(
            chunkStoreDelete(spark, d, victims, hl)))
        val pqT = () => pqDir.fold(0L)(d =>
          graft.Prof("fanout.delete.pq")(
            graft.operators.Similarity.pqStoreDelete(spark, d, asIds, hl)))
        // The chunk-VECTOR surface holds packed (doc, seq) ids — every
        // live passage id whose packed doc part is a victim tombstones,
        // so a taken-down doc's passages stop being RETRIEVABLE in the
        // same composed batch they stop being readable (chunk store).
        val ckVecT = () => chunkVecDir
          .filter(d => graft.sources.Commits.committed(spark, d).nonEmpty)
          .fold(0L) { d =>
            graft.Prof("fanout.delete.ckvec") {
              val stale = graft.operators.Similarity.pqStoreLiveIds(spark, d)
                .withColumn(idCol, expr(s"id div ${ChunkVecSeqLimit}"))
                .join(victims, Seq(idCol), "left_semi")
                .select(col("id"))
              graft.operators.Similarity.pqStoreDelete(spark, d, stale, hl)
            }
          }
        val Seq(nStore, nIdx, nAnn, nChunk, nPq, nCkVec) =
          graft.Par.run(Seq(storeT, idxT, annT, chunkT, pqT, ckVecT))
        (nStore, nIdx, nAnn, nChunk, nPq, nCkVec)
      }
    }
  }

  /** Composed MAINTENANCE pass — the offline twin of the ingest and
    * takedown fan-outs, one call a platform cron can own: compact the
    * inverted index and the ANN store to their live state
    * (crash-repairing vacuums, writer-lease held) and bound the merge
    * store's snapshot history to `keepStates`. When the read side
    * serves from the compacted snapshot layouts, pass `postingsTable`
    * / `annPartDir` and the pass REFRESHES them right after the
    * vacuums — snapshot staleness becomes "at most one maintenance
    * interval", owned by the same cron instead of a second one.
    * Returns the merge-store state ids deleted.
    */
  def fanoutVacuum(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, indexDir: String, annDir: String,
      keepStates: Int = 3, postingsTable: Option[String] = None,
      annPartDir: Option[String] = None,
      incremental: Boolean = false,
      chunkDir: Option[String] = None,
      maxBatches: Option[Int] = None,
      minDeadFraction: Double = 0.25,
      pqDir: Option[String] = None,
      chunkVecDir: Option[String] = None): Seq[Long] = {
    // The chunk-vector surface is a PQ-family store: it takes exactly
    // the doc-PQ store's maintenance (vacuum/compaction), on the same
    // cadence.
    val pqFamily = (pqDir.toSeq ++ chunkVecDir.toSeq)
      .filter(d => graft.sources.Commits.committed(spark, d).nonEmpty)
    // incremental=true is the ROUTINE cadence at scale: reclaim only
    // the batches the interval's mutations dirtied
    // (Search.indexVacuumIncremental) instead of rewriting the full
    // live state — keep the full compaction for occasional offline
    // ledger resets. `minDeadFraction` guards the cadence's whole
    // point: at threshold 0 a single dead row inside the store's big
    // compacted batch would select it for a full rewrite every
    // interval — the default 0.25 leaves lightly-dirty bulk batches
    // alone (their dead tail is bounded by the SAME threshold) and
    // reclaims the mutation waves, which go mostly-dead quickly.
    if (incremental) {
      graft.operators.Search
        .indexVacuumIncremental(spark, indexDir, minDeadFraction): Unit
      graft.operators.Similarity
        .annStoreVacuumIncremental(spark, annDir, minDeadFraction): Unit
      pqFamily.foreach(d => graft.operators.Similarity
        .pqStoreVacuumIncremental(spark, d, minDeadFraction): Unit)
    } else {
      graft.operators.Search.indexVacuum(spark, indexDir)
      graft.operators.Similarity.annStoreVacuum(spark, annDir)
      pqFamily.foreach(d =>
        graft.operators.Similarity.pqStoreVacuum(spark, d))
    }
    // The chunk store's only vacuum is the incremental form; on the
    // non-incremental pass run it at threshold 0 (its full reclaim).
    chunkDir.foreach(d => chunkStoreVacuum(spark, d,
      if (incremental) minDeadFraction else 0.0): Unit)
    // Bound the committed-batch count the micro-batch cadence grows —
    // only meaningful on the incremental path (the full vacuums reset
    // to one batch anyway).
    maxBatches.filter(_ => incremental).foreach { m =>
      graft.operators.Search.indexCompactBatches(spark, indexDir, m): Unit
      graft.operators.Similarity
        .annStoreCompactBatches(spark, annDir, m): Unit
      chunkDir.foreach(d =>
        chunkStoreCompactBatches(spark, d, m): Unit)
      pqFamily.foreach(d => graft.operators.Similarity
        .pqStoreCompactBatches(spark, d, m): Unit)
    }
    postingsTable.foreach(t =>
      graft.operators.Search.bucketPostings(spark, indexDir, t))
    annPartDir.foreach(d =>
      graft.operators.Similarity.annStorePartition(spark, annDir, d))
    vacuum(storeDir, keepStates)
  }

  /** Streaming face of [[fanoutDeleteBatch]] — the takedown queue as a
    * stream of ids: each micro-batch of doc ids leaves the merge
    * store, the inverted index, and the ANN store together. Each
    * store's delete is idempotent, so the sink converges under
    * at-least-once delivery like its ingest twin.
    */
  def fanoutDeleteSink(stream: DataFrame, storeDir: String,
      indexDir: String, annDir: String, checkpointDir: String,
      idCol: String = "doc_id",
      chunkDir: Option[String] = None,
      pqDir: Option[String] = None,
      chunkVecDir: Option[String] = None): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        fanoutDeleteBatch(batch, batchId, storeDir, indexDir, annDir,
          idCol, chunkDir, pqDir, chunkVecDir): Unit
      }
      .start()

  /** Streaming face of [[fanoutIngestBatch]]. */
  def fanoutIngestSink(stream: DataFrame, storeDir: String, indexDir: String,
      annDir: String, idCol: String, textCol: String,
      checkpointDir: String, vecCol: Option[String] = None,
      planes: Int = 16, dims: Int = 8, pqDir: Option[String] = None,
      pqM: Int = 4, pqCodes: Int = 8, chunkDir: Option[String] = None,
      chunkWindow: Int = 64, chunkOverlap: Int = 16,
      chunkVecDir: Option[String] = None, chunkVecDims: Int = 16,
      chunkVecM: Int = 4, chunkVecCodes: Int = 8,
      chunkVecCells: Int = 16): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        fanoutIngestBatch(batch, batchId, storeDir, indexDir, annDir,
          idCol, textCol, vecCol, planes, dims, pqDir, pqM, pqCodes,
          chunkDir, chunkWindow, chunkOverlap, chunkVecDir, chunkVecDims,
          chunkVecM, chunkVecCodes, chunkVecCells): Unit
      }
      .start()

  /** ONE-SHOT band-table migration for a near-dup store written before
    * the long-key band format: rewrites `storeDir/bands` from the
    * legacy exploded md5-string rows (doc_id, band, band_key STRING)
    * to the compact [[graft.operators.Dedup.lshBandKeys]] form
    * (doc_id, band_keys ARRAY<LONG>, batch) that every candidate path
    * now requires — the exchange-based fallbacks that could probe the
    * legacy format are retired ([[graft.operators.Dedup.LegacyBandMsg]]).
    *
    * The compact rows are RECOMPUTED from the store's own committed
    * shingle arrays (`hs`), not converted from the legacy strings: the
    * two key spaces are different truncations of the same md5 chain,
    * so recomputation from the source of truth is both simpler and
    * provably the same keys a fresh ingest would produce. Uncommitted
    * orphan rows (crashed batches) are NOT migrated — they were
    * invisible before and stay invisible; the batch column rides over
    * from `hs` so committed-set filtering keeps working unchanged.
    *
    * Crash safety, under the store's writer lease: the compact table
    * is fully written to a sibling scratch dir first, then swapped in
    * by two renames (`bands`→`bands_old`, scratch→`bands`) with
    * `bands_old` deleted last. Every crash point is repaired at the
    * next call's entry: a leftover scratch dir is discarded, and a
    * missing `bands` with `bands_old` present rolls back — the store
    * is never left without a readable band table for longer than the
    * two-rename window, which (like an [[graft.operators.Similarity
    * .annStorePartition]] refresh) unlocked readers should not
    * straddle. Returns the number of docs whose bands were rewritten;
    * 0 when the table is already compact (or empty) — safe to call
    * idempotently from a maintenance pass.
    */
  def neardupBandMigrate(spark: org.apache.spark.sql.SparkSession,
      storeDir: String): Long =
   graft.sources.Commits.withWriterLock(spark, storeDir) {
    import graft.operators.Dedup
    val bandsDir = s"$storeDir/bands"
    val hsDir = s"$storeDir/hs"
    val bands = new org.apache.hadoop.fs.Path(bandsDir)
    val old = new org.apache.hadoop.fs.Path(s"$storeDir/bands_old")
    val tmp = new org.apache.hadoop.fs.Path(s"$storeDir/bands_migrate")
    val fs = bands.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Repair a crashed prior migration, in rollback order: restore a
    // renamed-away bands dir first, drop a superseded bands_old, then
    // discard any scratch — converges from every crash point.
    if (!fs.exists(bands) && fs.exists(old)) {
      // A failed rollback would leave the store with NO readable band
      // table while the legacy check below reads "nothing to migrate" —
      // a silent success-as-noop. Mirror the forward renames: loud.
      if (!fs.rename(old, bands))
        throw new java.io.IOException(
          s"could not roll back $old to $bands after a crashed migration")
    }
    if (fs.exists(bands) && fs.exists(old)) fs.delete(old, true): Unit
    if (fs.exists(tmp)) fs.delete(tmp, true): Unit
    val committed = graft.sources.Commits.committed(spark, storeDir)
    // The 0-return states are NOT all "already compact", and an
    // existing-but-file-less bands dir would throw from schema
    // inference: distinguish them before touching parquet. A store with
    // committed batches whose band table is absent or empty is
    // suspicious (wrong dir, or a store that never banded) — warn so
    // the noop is visible; committed-empty stores return 0 quietly
    // (any band rows are uncommitted orphans, invisible by contract).
    val bandsHasData = fs.exists(bands) && fs.listStatus(bands).exists { st =>
      val nm = st.getPath.getName
      st.isFile && !nm.startsWith("_") && !nm.startsWith(".")
    }
    if (committed.isEmpty) 0L
    else if (!bandsHasData) {
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"neardupBandMigrate: band table at $bandsDir is " +
          (if (fs.exists(bands)) "present but holds no data files"
           else "absent") +
          " while the store has committed batches - nothing to " +
          "migrate (this is NOT an already-compact table)")
      0L
    }
    else if (spark.read.parquet(bandsDir).columns.contains("band_keys")) 0L
    else {
      val hs = spark.read.parquet(hsDir)
        .filter(col("batch").isin(committed: _*))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val compact = Dedup.lshBandKeys(
          Dedup.minhashSignatures(hs.select(col("doc_id"), col("hs")), 128),
          128, 16)
        .join(hs.select(col("doc_id"), col("batch")), Seq("doc_id"))
      compact.write.mode("overwrite").parquet(tmp.toString)
      val n = spark.read.parquet(tmp.toString).count()
      hs.unpersist()
      if (!fs.rename(bands, old))
        throw new java.io.IOException(s"could not rename $bands aside")
      if (!fs.rename(tmp, bands))
        throw new java.io.IOException(s"could not swap $tmp into place")
      fs.delete(old, true): Unit
      n
    }
   }

  /** One micro-batch of the near-dup ingest (also the batch restart
    * path). Returns the number of docs actually inserted.
    *
    * In-batch policy (pinned, see NeardupIngestSpec chain test): a doc
    * is dropped iff some LOWER-ID doc in the batch or the store is its
    * near-dup — greedy, not transitive. In a chain A~B~C (A not ~ C),
    * both B and C are dropped even though B, C's only witness, is
    * itself dropped. This is the deliberate ingest-gate reading: each
    * dropped doc had a direct near-duplicate with a smaller id at
    * decision time, the rule needs no connected-components pass inside
    * the hot ingest path, and it is stable under batch re-delivery
    * (the surviving set never depends on iteration order).
    *
    * Crash atomicity matches the generational stores: a batch appends
    * docs, signatures, and band-index rows tagged with one batch id
    * and creates the `Commits` marker LAST. All three gate reads see
    * COMMITTED batches only, so a crash anywhere between the appends
    * leaves orphans no screen trusts — without this, docs that landed
    * without their signatures were a permanent LSH blind spot, and
    * orphan signatures could drop a redelivered batch against its own
    * crashed remains. The id allocator burns every attempted id via
    * the ledger's attempt markers (legacy fallback: max(batch) across
    * all three tables); the writer lease serializes concurrent
    * writers.
    */
  def neardupIngestBatch(batch: DataFrame, storeDir: String, idCol: String,
      textCol: String, minJaccard: Double = 0.9): Long =
   graft.sources.Commits.withWriterLock(batch.sparkSession, storeDir) {
    import graft.operators.Dedup
    val spark = batch.sparkSession
    val docsDir = s"$storeDir/docs"
    val hsDir = s"$storeDir/hs"
    val bandsDir = s"$storeDir/bands"
    val committed = graft.sources.Commits.committed(spark, storeDir)
    def readCommitted(p: String): Option[DataFrame] = {
      val path = new org.apache.hadoop.fs.Path(p)
      val there = path
        .getFileSystem(spark.sparkContext.hadoopConfiguration).exists(path)
      if (committed.isEmpty || !there) None
      else Some(spark.read.parquet(p)
        .filter(col("batch").isin(committed: _*)))
    }
    val hashed = Upsert.onePerKeyByContentHashed(batch, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val batchHs = Dedup.hashedShingleArrays(hashed, idCol, textCol, 3)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // The standing band table must be in the compact long-key form
    // (Dedup.lshBandKeys — 16 longs/doc, and the witness-deduped
    // candidate joins need the carried array): the legacy md5-string
    // probe fallbacks are retired, and a mixed-key-space join would
    // silently drop every store candidate, so a pre-migration store
    // fails LOUDLY here instead.
    val storeBandRows = readCommitted(bandsDir)
    storeBandRows.foreach(df => require(
      df.columns.contains("band_keys"), s"$bandsDir: " + Dedup.LegacyBandMsg))
    val sigs = Dedup.minhashSignatures(batchHs, 128)
    // Compact keys persisted: the candidate paths read them four ways
    // (explode sides + witness joins) and the store write reuses them.
    val batchKeys = Dedup.lshBandKeys(sigs, 128, 16)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // Near-dups vs the standing index (batch side = b), then vs
    // lower-id docs in the same batch (drop the higher id of a pair —
    // the ingest-gate reading of "keep the canonical representative").
    // Bands are COMPACT on disk, so the FromKeys candidate paths
    // explode narrow rows straight off the scan and never ship key
    // arrays through the bucket join.
    val vsStore = storeBandRows match {
      case Some(storeRows) =>
        val cand =
          Dedup.lshIncrementalCandidatesFromKeys(storeRows, batchKeys)
        Dedup.jaccard(cand,
          readCommitted(hsDir).get.select(col("doc_id"), col("hs"))
            .unionByName(batchHs))
          .filter(col("jaccard") >= minJaccard).select(col("b").as(idCol))
      case None => batchHs.select(col("doc_id").as(idCol)).limit(0)
    }
    val inBatchCand = Dedup.lshCandidatePairsFromKeys(batchKeys)
    val inBatch = Dedup.jaccard(inBatchCand, batchHs)
      .filter(col("jaccard") >= minJaccard).select(col("b").as(idCol))
    // Exact-hash fallback covers the docs with no shingles.
    val exactDup = readCommitted(docsDir) match {
      case Some(docs) =>
        hashed.join(docs.select("content_hash"), Seq("content_hash"),
          "left_semi").select(col(idCol))
      case None => hashed.limit(0).select(col(idCol))
    }
    val wExact = org.apache.spark.sql.expressions.Window
      .partitionBy(col("content_hash")).orderBy(col(idCol))
    val exactInBatch = hashed
      .withColumn("__rn", row_number().over(wExact))
      .filter(col("__rn") > 1).select(col(idCol))

    val dropIds = vsStore.unionByName(inBatch).unionByName(exactDup)
      .unionByName(exactInBatch).distinct()
    val survivors = hashed.join(dropIds, Seq(idCol), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = survivors.count()
    if (n > 0) {
      val batchId = graft.sources.Commits.allocateBatchId(spark, storeDir,
        Seq(docsDir, hsDir, bandsDir))
      // Three INDEPENDENT appends (own directory each, all reading the
      // persisted survivor/shingle/key frames) — overlapped (guide
      // §2.6). Any partial subset a crash leaves is uncommitted and
      // invisible (every reader filters rows by the committed batch
      // list), exactly as under the old sequential order.
      graft.Par.run(Seq[() => Unit](
        () => survivors.withColumn("batch", lit(batchId))
          .write.mode("append").parquet(docsDir),
        () => batchHs.join(survivors.select(col(idCol).as("doc_id")),
            Seq("doc_id"), "left_semi")
          .withColumn("batch", lit(batchId))
          .write.mode("append").parquet(hsDir),
        () => batchKeys
          .join(survivors.select(col(idCol).as("doc_id")),
            Seq("doc_id"), "left_semi").withColumn("batch", lit(batchId))
          .write.mode("append").parquet(bandsDir))): Unit
      graft.sources.Commits.commit(spark, storeDir, batchId)
    }
    survivors.unpersist()
    batchKeys.unpersist()
    batchHs.unpersist()
    hashed.unpersist()
    n
   }

  /** S16/ST6 over a relational target: each micro-batch inserts only
    * rows whose `content_hash` is absent from the table (the reference's
    * streaming page store — `ON CONFLICT (content_hash) DO NOTHING`,
    * `/root/reference/db/postgres_store.py:84-103`). Dedup is ALWAYS on
    * `content_hash`; `tieBreakCol` only picks the deterministic winner
    * when one batch carries several rows with the same hash (lowest
    * value wins). Duplicate batch delivery classifies all-absent-nothing
    * and inserts zero rows, so at-least-once delivery converges.
    */
  def jdbcInsertIfAbsentSink(stream: DataFrame, url: String, table: String,
      tieBreakCol: String, checkpointDir: String,
      options: Map[String, String] = Map.empty): StreamingQuery =
    stream.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        jdbcInsertIfAbsentBatch(batch, url, table, tieBreakCol, options)
      }
      .start()

  /** One micro-batch of the JDBC insert-if-absent sink (also the batch
    * restart path). On the very first batch the table does not exist
    * yet — the reference ensures its schema at startup
    * (`/root/reference/db/postgres_store.py`); table absence is probed
    * via JDBC METADATA (not a failed read), degrades to an empty
    * target, and the JDBC writer creates the table. Any other failure
    * — network blip, auth, DB restart — propagates and lets the
    * streaming query restart: silently treating an EXISTING table as
    * empty would re-append the whole batch and permanently duplicate
    * rows in a sink whose contract is content-hash dedup under
    * at-least-once delivery (the reference is safe only because ON
    * CONFLICT DO NOTHING dedups at the DB; this driver-side dedup has
    * no such backstop).
    */
  def jdbcInsertIfAbsentBatch(batch: DataFrame, url: String, table: String,
      tieBreakCol: String, options: Map[String, String] = Map.empty): Unit = {
    val target =
      if (graft.sources.Store.jdbcTableExists(url, table, options))
        graft.sources.Store.readJdbc(batch.sparkSession, url, table, options)
      else batch.limit(0)
    val fresh = Upsert.insertIfAbsent(target, batch, tieBreakCol)
      .select(batch.columns.map(col): _*)
    graft.sources.Store.writeJdbc(fresh, url, table, options)
  }

  // ---- pointer-swap state-store plumbing (Hadoop FileSystem) ---------------
  //
  // All pointer/state plumbing is the shared `sources.StatePointer`
  // (also used by the url frontier), so the merge store, its
  // rollback/vacuum, and the takedown fan-out run against whatever
  // filesystem the cluster mounts, not just local disk.

  private def fsFor(p: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.FileSystem =
    graft.sources.StatePointer.fsFor(p)

  private def stateDirPath(targetDir: String, state: String): String =
    graft.sources.StatePointer.stateDirPath(targetDir, state)

  /** Name of the state dir `_current` points at, if the pointer exists. */
  def currentStateName(targetDir: String): Option[String] =
    graft.sources.StatePointer.currentStateName(targetDir)

  private def writePointer(targetDir: String, state: String): Unit =
    graft.sources.StatePointer.writePointer(targetDir, state)

  /** The current merged state under a mergeSink target, if any. */
  def readState(spark: org.apache.spark.sql.SparkSession,
      targetDir: String): Option[DataFrame] =
    currentStateName(targetDir)
      .map(name => spark.read.parquet(stateDirPath(targetDir, name)))

  /** Roll a versioned state store (merge sink / CMS sink) back to
    * `batchId`: repoint `_current` at `state_<batchId>`. Later states
    * stay on disk for audit; a stream resumed from an earlier
    * checkpoint simply overwrites them batch by batch. This is the
    * bad-batch recovery lever the versioned layout exists for —
    * rollback is a one-line pointer move, not a data rewrite.
    */
  def rollbackTo(targetDir: String, batchId: Long): Unit =
    rollbackToState(targetDir, s"state_$batchId")

  /** General form of [[rollbackTo]] addressing a state dir by NAME —
    * the takedown fan-out's `state_del_<b>` states have no numeric
    * `state_<k>` alias, so this is how a store is pinned back to (or
    * audited at) the post-takedown snapshot.
    */
  def rollbackToState(targetDir: String, state: String): Unit =
   graft.sources.Commits.withWriterLock(
       org.apache.spark.sql.SparkSession.active, targetDir) {
    val p = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(targetDir), state)
    val fs = fsFor(p)
    require(fs.exists(p) && fs.getFileStatus(p).isDirectory,
      s"no $state under $targetDir")
    writePointer(targetDir, state)
   }

  /** VACUUM a versioned state store: delete every state dir except the
    * `keep` most recent AND the one `_current` points at (audit /
    * rollback headroom stays bounded instead of growing one full state
    * copy per batch forever). Recency is CREATION order (modification
    * time, name tie-break), so takedown states (`state_del_<b>`) age
    * out exactly like merge states instead of accumulating forever.
    * Never touches `_current` or newer states a rollback might
    * re-advance to; returns the deleted states' batch ids.
    */
  def vacuum(targetDir: String, keep: Int): Seq[Long] =
   graft.sources.Commits.withWriterLock(
       org.apache.spark.sql.SparkSession.active, targetDir) {
    graft.sources.StatePointer.vacuum(targetDir, keep)
      .map(_.stripPrefix("state_").stripPrefix("del_").stripPrefix("v")
        .toLongOption.getOrElse(-1L))
   }

  // ---- standing count-min sketch ingest -----------------------------------

  /** Continuous STANDING COUNT-MIN SKETCH over a stream's items — the
    * streaming face of [[graft.operators.Sketch]]: each micro-batch
    * folds its item counts into the persisted depth x width bucket
    * table, so heavy-hitter estimates are queryable at any time from a
    * table whose size never grows with the vocabulary.
    *
    * Idempotency is stricter than the merge sink's: bucket addition is
    * NOT idempotent per row, so a replayed batch must re-merge onto its
    * PREDECESSOR state, not whatever `_current` points at. Each batch
    * writes `state_<batchId>` built from the largest `state_<k>` with
    * k < batchId; re-delivery of batch N rebuilds the identical
    * `state_N` from `state_N-1` and repoints, converging under
    * at-least-once delivery.
    */
  def cmsIngestSink(stream: DataFrame, itemCol: String, depth: Int,
      width: Int, targetDir: String,
      checkpointDir: String): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        cmsIngestBatch(batch, itemCol, depth, width, targetDir, batchId)
      }
      .start()

  /** One micro-batch of the sketch ingest (also the restart path).
    * Writer-lease-held like [[mergeBatch]]: bucket addition is not
    * idempotent, so an uncoordinated second writer is the one failure
    * the replay contract cannot converge away.
    */
  def cmsIngestBatch(batch: DataFrame, itemCol: String, depth: Int,
      width: Int, targetDir: String, batchId: Long): Unit =
   graft.sources.Commits.withWriterLock(batch.sparkSession, targetDir) {
    val spark = batch.sparkSession
    val delta = graft.operators.Sketch.cmsBuckets(batch, itemCol, depth,
      width)
    val root = new org.apache.hadoop.fs.Path(targetDir)
    val fs = fsFor(root)
    fs.mkdirs(root)
    // Predecessor = largest NUMERIC state below this batch id (the
    // bucket-add replay contract); takedown-style named states never
    // appear in a CMS store and would not parse anyway.
    val prev = fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("state_"))
      .flatMap(_.getPath.getName.stripPrefix("state_").toLongOption)
      .filter(_ < batchId)
      .sorted.lastOption
      .map(k => spark.read.parquet(stateDirPath(targetDir, s"state_$k")))
    val merged = prev match {
      case Some(cur) => cur.unionByName(delta)
        .groupBy(col("d"), col("b")).agg(sum(col("s")).as("s"))
      case None => delta
    }
    merged.write.mode("overwrite")
      .parquet(stateDirPath(targetDir, s"state_$batchId"))
    writePointer(targetDir, s"state_$batchId")
   }
}
