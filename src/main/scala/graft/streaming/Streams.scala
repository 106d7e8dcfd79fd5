package graft.streaming

import graft.operators.Upsert
import graft.sources.{GenTable, ParquetRead, StatePointer}
import graft.sources.GenTable.Tombstone
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
  *   - ST6/ST8 late/duplicate handling: `foreachBatch` + a hash-gated
  *     merge store — re-delivery of the same batch is a no-op
  *
  * Scale: windowed aggs and dropDuplicates shuffle once on their state
  * key and keep bounded state under the watermark; the merge sink
  * writes only a batch's changed rows.
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

  /** foreachBatch sink MERGE-ing every micro-batch into the merge store
    * (rows carry `key` + `content_hash`): the reference's per-key
    * change-detect upsert on the stored hash
    * (the reference's `db/postgres_store.py:126-182`). Each batch writes
    * only its new and changed rows, so at-least-once delivery
    * (late/duplicate batches) converges and costs what it delivers.
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
    * path), under the store's writer lease: one row per key (lowest
    * hash wins, as the other ingest paths resolve), the hash gate
    * against each key's current row ([[GenTable.changed]]), and ONE
    * generation of the rows that passed — none when nothing changed.
    * A key whose current row is a tombstone passes and resurrects.
    * Marks the store as delivery `state_<batchId>` for [[rollbackTo]].
    */
  def mergeBatch(batch: DataFrame, targetDir: String, key: String,
      batchId: Long, heldLocks: Set[String] = Set.empty): Unit =
   graft.sources.Commits.withWriterLockUnless(batch.sparkSession, targetDir,
       heldLocks) {
    val spark = batch.sparkSession
    val rows = Upsert.onePerKeyByHash(batch, key)
    val store = mergeStore(rows.schema)
    val fresh = store.changed(spark, targetDir,
      graft.sources.Commits.committed(spark, targetDir), rows, key,
      "content_hash")
    store.commitGeneration(spark, targetDir)(
      store.writeMembershipCounted(fresh, targetDir, _)): Unit
    store.markDelivery(spark, targetDir, s"state_$batchId")
   }

  /** The merge store's lifecycle descriptor ([[GenTable]]) over its
    * columns `schema`, key first: the store dir is the membership
    * table, gated on `content_hash`; a tombstone nulls every other
    * column and carries the marker hash.
    */
  private def mergeStore(schema: org.apache.spark.sql.types.StructType) =
    new GenTable(schema.head.name, col("content_hash") === Tombstone,
      schema.tail.map(f => (if (f.name == "content_hash") lit(Tombstone)
        else lit(null)).cast(f.dataType).as(f.name)),
      "content_hash", GenTable.Table(""))

  /** The descriptor of the merge store at `dir`, read from its committed
    * columns; None when nothing is committed. Package-private for the
    * specs.
    */
  private[graft] def mergeStoreAt(spark: org.apache.spark.sql.SparkSession,
      dir: String): Option[GenTable] =
    graft.sources.Commits.readCommittedBatches(spark, dir,
        graft.sources.Commits.committed(spark, dir))
      .map(df => mergeStore(df.drop("batch").schema))

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
          ParquetRead(spark, benchIndexDir), idCol, textCol, shingleN,
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
    // Hash gate through the shared currency resolve, like
    // Search.indexAppend ([[GenTable.currency]]).
    graft.Cache.using(Upsert.gateRows(batch, idCol, textCol)) { hashed =>
      graft.Cache.using(ChunkStore.changed(spark, storeDir,
          graft.sources.Commits.committed(spark, storeDir), hashed, idCol,
          "__ch")) { fresh =>
        // THREE actions folded into two CONCURRENT ones (guide §1.2 +
        // §2.6): the gating fresh-doc count used to run as its own job
        // before two sequential writes of the same persisted frame; now
        // it rides the docs write as an Observation while the chunks
        // write (independent subdir, same generation commit) overlaps
        // it. n == 0 leaves two empty UNCOMMITTED dirs and a burned
        // batch id — invisible to readers (committed-marker filtered),
        // swept like any crash orphan — while the commit marker still
        // only appears for n > 0, exactly as before.
        ChunkStore.commitGeneration(spark, storeDir) { batchId =>
          val obs = org.apache.spark.sql.Observation()
          graft.Par.run(Seq[() => Unit](
            () => graft.Prof("chunkIngest.chunksWrite")(
              graft.operators.Corpus.chunkSlidingWindows(fresh, idCol,
                textCol, window, overlap)
                .withColumnRenamed(idCol, "doc_id")
                .withColumn("batch", lit(batchId))
                .write.parquet(s"$chunksDir/b$batchId")),
            () => graft.Prof("chunkIngest.docsWrite")(
              fresh.select(col(idCol).as("doc_id"),
                  col("__ch").as("content_hash"))
                .withColumn("batch", lit(batchId))
                .observe(obs, count(lit(1)).as("n"))
                .write.parquet(s"$docsDir/b$batchId")))): Unit
          obs.get("n").asInstanceOf[Long]
        }
      }
    }
   }

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
    ChunkStore.delete(spark, storeDir, ids, heldLocks)

  /** The chunk store's lifecycle descriptor ([[GenTable]]):
    * membership `docs` gated on `content_hash`, tombstone = the marker
    * hash; dependent `chunks`. Package-private for the specs' crash
    * hooks.
    */
  private[graft] val ChunkStore = new GenTable("doc_id",
    col("content_hash") === Tombstone,
    Seq(lit(Tombstone).as("content_hash")), "content_hash",
    GenTable.Table("docs"), Seq(GenTable.Table("chunks")))

  /** INCREMENTAL chunk-store vacuum ([[GenTable.vacuumIncremental]]):
    * batches whose dead-row fraction (superseded generations + rows of
    * tombstoned docs) reaches `minDeadFraction` rewrite their survivors
    * — live current docs WITH their chunks, plus tombstones whose doc
    * still has rows in an unselected batch — into one fresh committed
    * batch. Returns batches reclaimed.
    */
  def chunkStoreVacuum(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, minDeadFraction: Double = 0.0): Int =
    ChunkStore.vacuumIncremental(spark, storeDir, minDeadFraction)

  /** COMPACT the chunk store's committed-batch count down to
    * `maxBatches` ([[GenTable.compactBatches]]). Returns batches folded.
    */
  def chunkStoreCompactBatches(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, maxBatches: Int = 16): Int =
    ChunkStore.compactBatches(spark, storeDir, maxBatches)

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
    * (doc_id, batch) against the docs table's
    * [[graft.sources.GenTable.current]] view (the chunk-vector ingest,
    * a mutation, reads it uncached).
    */
  def chunkStoreRead(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, cached: Boolean = true): Option[DataFrame] =
    for {
      docs <- ChunkStore.current(spark, storeDir, cached)
      chunks <- graft.sources.Commits.readCommittedBatches(spark,
        s"$storeDir/chunks", graft.sources.Commits.committed(spark, storeDir))
    } yield
      chunks.join(docs.filter(!col(graft.sources.GenTable.CurTomb))
          .select(col("doc_id"), col("batch")), Seq("doc_id", "batch"),
          "left_semi")
        .select(col("doc_id"), col("chunk_seq"), col("n_tokens"),
          col("chunk_text"))

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
    chunkStoreRead(spark, chunkDir, cached = false) match {
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
    val live = SubstringStore.live(spark, storeDir)
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
      val batchId = graft.sources.Commits.allocateBatchId(spark, storeDir)
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

  /** The substring store: the cleaned docs, moved verbatim by a fold
    * (their `batch` values are the read-back's recency order), and the
    * gram counts, summed per gram ([[graft.sources.AdditiveStore]]; the
    * docs table holds the `_folds` markers). */
  private[graft] val SubstringStore = new graft.sources.AdditiveStore(Seq(
    graft.sources.AdditiveStore.Table("docs", (rows, _) => rows),
    graft.operators.Corpus.gramTable("grams")))

  /** The substring store's live cleaned documents (all delivered
    * columns, text replaced by clean_text, plus the dedup stats).
    */
  def substringStoreRead(spark: org.apache.spark.sql.SparkSession,
      storeDir: String): Option[DataFrame] =
    SubstringStore.read(spark, storeDir)

  /** FOLD the substring store's generation count down to `maxBatches`
    * ([[graft.sources.AdditiveStore.fold]]; generations are sized by
    * docs rows). Returns generations folded.
    */
  def substringStoreCompact(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, maxBatches: Int = 16): Int =
    SubstringStore.fold(spark, storeDir, maxBatches)

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
    graft.Cache.using(batch) { shared =>
      val fp = graft.Prof("fanout.ledger")(
        deliveryFingerprint(shared, batchId, surfaces))
      if (fp.isDefined &&
          StatePointer.readFile(ledgerDir, DeliveredMarker) == fp)
        noop
      else {
        val r = apply(shared)
        // A unique temp name: two writers finishing at once each rename
        // their own file, and the marker ends as one of them.
        fp.foreach(StatePointer.writeFile(ledgerDir,
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
    *      record (id, text, content_hash), one generation of the
    *      wave's new and changed docs;
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
      val docs = shared.select(col(idCol), col(textCol))
      val idxT = () => graft.Prof("fanout.index")(
        graft.operators.Search.indexAppend(docs, idCol, textCol,
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
          chunkIngestBatch(docs, d, idCol, textCol, chunkWindow,
            chunkOverlap, hl))
        val nCkVec = chunkVecDir.fold(0L)(vd =>
          graft.Prof("fanout.ckvec")(
            chunkVectorIngestBatch(spark, d, vd,
              shared.select(col(idCol)), chunkVecDims, chunkVecM,
              chunkVecCodes, chunkVecCells, chunkVecTrainPerMille, hl)))
        (nChunk, nCkVec)
      }
      // The index and chunk gates hash the same rows: one copy,
      // persisted before the tracks start, serves both.
      val rs = graft.Cache.using(Upsert.gateRows(docs, idCol, textCol))(_ =>
        graft.Par.run(Seq[() => Any](mergeT, idxT, annT, pqT, chunkTrackT)))
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
        // the empty feed would still run every sink's gate and burn
        // a batch id per store. The emptiness probe is a limit-1 job
        // against the id-pruned store read — O(small) either way.
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
          val (nIdx, nAnn, nPq, nChunk, nCkVec) = graft.Cache.using(feed)(
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
      storeDir: String): Option[DataFrame] =
    graft.sources.Commits.readCommittedBatches(spark, s"$storeDir/docs",
      graft.sources.Commits.committed(spark, storeDir))

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
              graft.Cache.using(feed)(gatedApply(_, batchId, storeDir,
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
    * id batch leaves ALL the standing stores together: the merge
    * store ([[GenTable.delete]], marked as delivery `state_del_<b>` for
    * [[rollbackToState]]), the inverted index and the ANN store get
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
    *
    * The two GATE stores are left as they are, by design: the near-dup
    * store and the substring store are screening state no probe reads.
    * Their signatures and gram counts stay so that a re-offer is still
    * screened, and their `docs` keep the doc's text, because the gated
    * fan-out reads its downstream feed back from that text: a re-offer
    * under a new batch id is dropped by the exact-hash gate and
    * resurrected on the read surfaces from the stored text. A taken-down
    * doc's text therefore stays on disk in both gate stores.
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
    graft.Cache.using(ids.select(col(ids.columns.head).as(idCol))
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
          mergeStoreAt(spark, storeDir).fold(0L) { t =>
            val n = t.delete(spark, storeDir, victims, hl)
            t.markDelivery(spark, storeDir, s"state_del_$batchId")
            n
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
    * takedown fan-outs, one call a platform cron can own: vacuum (and,
    * on the incremental cadence, compact) every generational store the
    * fan-out writes — the merge store, the inverted index, the ANN
    * store and, when given, the PQ, chunk-vector and chunk stores —
    * through their shared [[graft.sources.GenTable]] maintenance
    * (orphan-sweeping, under each store's own writer lease). Pass
    * `postingsTable` / `annPartDir` and the pass REFRESHES those
    * snapshot layouts right after their store's vacuum — snapshot
    * staleness becomes "at most one maintenance interval", owned by the
    * same cron.
    *
    * Like the fan-outs, each store is one [[graft.Par]] track running
    * its steps in sequence; track order is index, ANN, PQ,
    * chunk-vector, chunks, merge store. Maintenance changes no answer,
    * so a lease refused on one store stops only its track: every track
    * finishes, then the first failure in track order is rethrown.
    */
  def fanoutVacuum(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, indexDir: String, annDir: String,
      postingsTable: Option[String] = None,
      annPartDir: Option[String] = None,
      incremental: Boolean = false,
      chunkDir: Option[String] = None,
      maxBatches: Option[Int] = None,
      minDeadFraction: Double = 0.25,
      pqDir: Option[String] = None,
      chunkVecDir: Option[String] = None): Unit = {
    import graft.operators.{Search, Similarity}
    // incremental=true is the ROUTINE cadence at scale: reclaim only
    // the batches the interval's mutations dirtied, at a dead fraction
    // of at least `minDeadFraction` (at 0, one dead row in a store's big
    // compacted batch would rewrite it every interval), and bound the
    // batch count (`maxBatches`); the full pass leaves one batch.
    val compactTo = maxBatches.filter(_ => incremental)
    // One GenTable store's steps: its vacuum, then the batch bound.
    def pass(t: graft.sources.GenTable, dir: String): Unit = {
      if (incremental) t.vacuumIncremental(spark, dir, minDeadFraction): Unit
      else t.vacuumFull(spark, dir)
      compactTo.foreach(t.compactBatches(spark, dir, _): Unit)
    }
    val idxT = () => {
      pass(Search.IndexStore, indexDir)
      postingsTable.foreach(Search.bucketPostings(spark, indexDir, _))
    }
    val annT = () => {
      pass(Similarity.AnnStore, annDir)
      annPartDir.foreach(Similarity.annStorePartition(spark, annDir, _))
    }
    // The chunk-vector surface is a PQ-family store: it takes exactly
    // the doc-PQ store's maintenance, once either has a committed build.
    val pqTs = (pqDir.toSeq ++ chunkVecDir.toSeq).map(d => () =>
      if (graft.sources.Commits.committed(spark, d).nonEmpty)
        pass(Similarity.PqStore, d))
    val chunkTs = chunkDir.toSeq.map(d => () => pass(ChunkStore, d))
    val mergeT = () =>
      mergeStoreAt(spark, storeDir).foreach(pass(_, storeDir))
    graft.Par.run(Seq(idxT, annT) ++ pqTs ++ chunkTs :+ mergeT): Unit
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
    * Crash atomicity matches the generational stores: a batch writes
    * its docs, signatures and band-index rows as `b<id>` dirs of the
    * `docs`, `hs` and `bands` tables and creates the `Commits` marker
    * LAST. All three gate reads list COMMITTED dirs only, so a crash
    * anywhere between the writes leaves orphans no screen reads — without this, docs that landed
    * without their signatures were a permanent LSH blind spot, and
    * orphan signatures could drop a redelivered batch against its own
    * crashed remains. The id allocator burns every attempted id via
    * the ledger's attempt markers; the writer lease serializes
    * concurrent writers.
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
    def readCommitted(p: String): Option[DataFrame] =
      graft.sources.Commits.readCommittedBatches(spark, p, committed)
    val hashed = Upsert.onePerKeyByContentHashed(batch, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val batchHs = Dedup.hashedShingleArrays(hashed, idCol, textCol, 3)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // The standing band table must be in the compact long-key form
    // (Dedup.lshBandKeys — 16 longs/doc, and the witness-deduped
    // candidate joins need the carried array): a mixed-key-space join
    // would silently drop every store candidate, so a band table in
    // the legacy md5-string form fails LOUDLY here instead.
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
      val batchId = graft.sources.Commits.allocateBatchId(spark, storeDir)
      // Three INDEPENDENT `b<id>` dir writes, all reading the persisted
      // survivor/shingle/key frames — overlapped (guide §2.6). Any
      // partial subset a crash leaves is an uncommitted dir no reader
      // lists.
      graft.Par.run(Seq[() => Unit](
        () => survivors.withColumn("batch", lit(batchId))
          .write.parquet(s"$docsDir/b$batchId"),
        () => batchHs.join(survivors.select(col(idCol).as("doc_id")),
            Seq("doc_id"), "left_semi")
          .withColumn("batch", lit(batchId))
          .write.parquet(s"$hsDir/b$batchId"),
        () => batchKeys
          .join(survivors.select(col(idCol).as("doc_id")),
            Seq("doc_id"), "left_semi").withColumn("batch", lit(batchId))
          .write.parquet(s"$bandsDir/b$batchId"))): Unit
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
  // The CMS sink keeps its state behind the shared `sources.StatePointer`
  // (also used by the url frontier): a fixed-size bucket table, rewritten
  // whole per batch. The merge store is a `GenTable` store; the readers
  // and rollback below serve both layouts, told apart by `_current`.

  /** The current state under a CMS target, or the merge store's live
    * rows (each key's current row, the caller's columns, no `batch`),
    * if any.
    */
  def readState(spark: org.apache.spark.sql.SparkSession,
      targetDir: String): Option[DataFrame] =
    StatePointer.currentStateName(targetDir) match {
      case Some(name) =>
        Some(ParquetRead(spark, StatePointer.stateDirPath(targetDir, name)))
      case None =>
        mergeStoreAt(spark, targetDir).flatMap(_.live(spark, targetDir))
    }

  /** Roll a versioned store (merge sink / CMS sink) back to how it read
    * right after batch `batchId`. Later states stay reachable, so it
    * may roll forward again. This is the bad-batch recovery lever.
    */
  def rollbackTo(targetDir: String, batchId: Long): Unit =
    rollbackToState(targetDir, s"state_$batchId")

  /** General form of [[rollbackTo]] addressing a delivery by NAME — the
    * takedown fan-out's `state_del_<b>` has no numeric alias. A CMS
    * store repoints `_current` at the state dir; the merge store commits
    * one compensating generation ([[GenTable.rollbackTo]]). Throws
    * IllegalArgumentException when the target no longer exists.
    */
  def rollbackToState(targetDir: String, state: String): Unit = {
    val spark = org.apache.spark.sql.SparkSession.active
    if (StatePointer.currentStateName(targetDir).isEmpty)
      mergeStoreAt(spark, targetDir).getOrElse(throw
        new IllegalArgumentException(s"no $state under $targetDir"))
        .rollbackTo(spark, targetDir, state)
    else graft.sources.Commits.withWriterLock(spark, targetDir) {
      require(StatePointer.exists(StatePointer.stateDirPath(targetDir,
        state)), s"no $state under $targetDir")
      StatePointer.writePointer(targetDir, state)
    }
  }

  /** VACUUM a CMS state store: delete every state dir except the `keep`
    * most recent AND the one `_current` points at, so rollback headroom
    * stays bounded. Returns the deleted states' batch ids. The merge
    * store's history is bounded by [[fanoutVacuum]] instead.
    */
  def vacuum(targetDir: String, keep: Int): Seq[Long] =
   graft.sources.Commits.withWriterLock(
       org.apache.spark.sql.SparkSession.active, targetDir) {
    StatePointer.vacuum(targetDir, keep)
      .map(_.stripPrefix("state_").toLongOption.getOrElse(-1L))
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
    val fs = StatePointer.fsFor(root)
    fs.mkdirs(root)
    // Predecessor = largest state below this batch id (the bucket-add
    // replay contract).
    val prev = fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("state_"))
      .flatMap(_.getPath.getName.stripPrefix("state_").toLongOption)
      .filter(_ < batchId)
      .sorted.lastOption
      .map(k => ParquetRead(spark,
        StatePointer.stateDirPath(targetDir, s"state_$k")))
    val merged = prev match {
      case Some(cur) => cur.unionByName(delta)
        .groupBy(col("d"), col("b")).agg(sum(col("s")).as("s"))
      case None => delta
    }
    merged.write.mode("overwrite")
      .parquet(StatePointer.stateDirPath(targetDir, s"state_$batchId"))
    StatePointer.writePointer(targetDir, s"state_$batchId")
   }
}
