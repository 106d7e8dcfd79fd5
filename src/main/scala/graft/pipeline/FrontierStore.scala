package graft.pipeline

import graft.sources.ParquetRead
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The persistent url frontier — the reference's `url_frontier` table
  * (`/root/reference/db/schema.sql:30-46`: state enum
  * queued|processing|done|failed, retry_count, last_error, locked_at,
  * UNIQUE(job_id, url, kind)) re-expressed as a versioned parquet
  * state table.
  *
  * Layout: each update writes a full new `state_v<N>` snapshot and
  * flips the `_current` pointer file — the same crash-safe pattern as
  * the `Streams` CMS sink, through the same shared Hadoop-FS plumbing
  * (`sources.StatePointer`, rename-committed pointer), so the frontier
  * runs on HDFS/object storage like every other store (readers always
  * see a complete snapshot; a crash mid-write leaves the pointer on
  * the previous version). At
  * crawl scale the frontier is O(urls), orders of magnitude smaller
  * than the fetched corpus, so full-snapshot rewrites are the right
  * tradeoff for atomicity; a 100 TB multi-tenant frontier would swap
  * this for `Store.mergeIntoBucketed` keyed on (job_id, url, kind)
  * with no API change.
  *
  * Unlike the purely-operational crawl checkpoints, this table is a
  * QUERYABLE monitoring surface: retry counts, stale locks and failure
  * reasons per job — what a crawl operator actually watches — and the
  * restart path (`resumable` / `requeue`) derives from it, so a crawl
  * can resume even when the streaming checkpoint directory is lost.
  * Timestamps are epoch millis (LongType), stamped by the caller for
  * determinism.
  */
object FrontierStore {

  val Queued = "queued"
  val Processing = "processing"
  val Done = "done"
  val Failed = "failed"

  val Schema: StructType = StructType(Seq(
    StructField("job_id", StringType), StructField("kind", StringType),
    StructField("url", StringType), StructField("domain", StringType),
    StructField("depth", IntegerType), StructField("state", StringType),
    StructField("retry_count", IntegerType),
    StructField("last_error", StringType),
    StructField("locked_at_ms", LongType),
    StructField("updated_at_ms", LongType)))

  /** The current frontier snapshot, empty if never written. */
  def read(spark: SparkSession, dir: String): DataFrame =
    graft.sources.StatePointer.currentStateName(dir) match {
      case Some(name) => ParquetRead(spark,
        graft.sources.StatePointer.stateDirPath(dir, name))
      case None => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Schema)
    }

  private def write(state: DataFrame, dir: String): Unit = {
    val version = graft.sources.StatePointer.currentStateName(dir)
      .map(_.stripPrefix("state_v").toLong + 1).getOrElse(0L)
    val name = s"state_v$version"
    state.write.mode("overwrite")
      .parquet(graft.sources.StatePointer.stateDirPath(dir, name))
    graft.sources.StatePointer.writePointer(dir, name)
  }

  /** Insert `rows` (url, domain, depth) as `queued` — urls the frontier
    * already tracks for this (job, kind) keep their existing row
    * (including `done`: a finished url is never re-queued by a
    * re-delivered enqueue, the UNIQUE(job_id, url, kind) reading).
    */
  def enqueue(dir: String, jobId: String, kind: String, rows: DataFrame,
      nowMs: Long): Unit =
   graft.sources.Commits.withWriterLock(rows.sparkSession, dir) {
    val spark = rows.sparkSession
    val target = read(spark, dir)
    val fresh = rows
      .select(col("url"), col("domain"), col("depth").cast("int"))
      .groupBy(col("url"))
      .agg(first(col("domain")).as("domain"), min(col("depth")).as("depth"))
      .withColumn("job_id", lit(jobId))
      .withColumn("kind", lit(kind))
      .join(target.filter(col("job_id") === jobId && col("kind") === kind),
        Seq("url"), "left_anti")
      .select(col("job_id"), col("kind"), col("url"), col("domain"),
        col("depth"), lit(Queued).as("state"), lit(0).as("retry_count"),
        lit(null).cast("string").as("last_error"),
        lit(null).cast("long").as("locked_at_ms"),
        lit(nowMs).as("updated_at_ms"))
    write(target.unionByName(fresh), dir)
   }

  /** Transition the given urls of (job, kind) to `state`:
    * `processing` stamps `locked_at_ms`, `failed` increments
    * `retry_count` and records `error`, `done`/`queued` clear the
    * lock. Unknown urls are ignored (no upsert — enqueue first).
    */
  def mark(dir: String, jobId: String, kind: String, urls: DataFrame,
      state: String, nowMs: Long, error: String = null): Unit =
   graft.sources.Commits.withWriterLock(urls.sparkSession, dir) {
    require(Seq(Queued, Processing, Done, Failed).contains(state),
      s"unknown frontier state: $state")
    val spark = urls.sparkSession
    val target = read(spark, dir)
    val hits = urls.select(col("url")).distinct()
      .withColumn("__hit", lit(true))
    val cond = col("__hit") && col("job_id") === jobId &&
      col("kind") === kind
    val merged = target.join(hits, Seq("url"), "left")
      .withColumn("retry_count",
        when(cond && lit(state == Failed), col("retry_count") + 1)
          .otherwise(col("retry_count")))
      .withColumn("last_error",
        when(cond && lit(state == Failed), lit(error))
          .when(cond, lit(null).cast("string"))
          .otherwise(col("last_error")))
      .withColumn("locked_at_ms",
        when(cond && lit(state == Processing), lit(nowMs))
          .when(cond, lit(null).cast("long"))
          .otherwise(col("locked_at_ms")))
      .withColumn("updated_at_ms",
        when(cond, lit(nowMs)).otherwise(col("updated_at_ms")))
      .withColumn("state", when(cond, lit(state)).otherwise(col("state")))
      .drop("__hit")
    write(merged, dir)
   }

  /** Bound the frontier's disk growth: every update writes a full
    * snapshot, so a long crawl accumulates one frontier copy per
    * enqueue/mark. Keeps the `keep` most recent versions plus the one
    * `_current` points at; returns the deleted version numbers.
    */
  def vacuum(dir: String, keep: Int): Seq[Long] =
   graft.sources.Commits.withWriterLock(
       org.apache.spark.sql.SparkSession.active, dir) {
    graft.sources.StatePointer.vacuum(dir, keep)
      .map(_.stripPrefix("state_v").toLongOption.getOrElse(-1L))
   }

  /** The (url, depth) slice a restarted crawl must re-process:
    * still-`queued` rows, `processing` rows whose lock is older than
    * `staleLockMs` (the holder died mid-fetch), and `failed` rows with
    * `retry_count < maxRetries`.
    */
  def resumable(spark: SparkSession, dir: String, jobId: String,
      kind: String, nowMs: Long, staleLockMs: Long,
      maxRetries: Int): DataFrame =
    read(spark, dir)
      .filter(col("job_id") === jobId && col("kind") === kind)
      .filter(col("state") === Queued ||
        (col("state") === Processing &&
          col("locked_at_ms") < nowMs - staleLockMs) ||
        (col("state") === Failed && col("retry_count") < maxRetries))
      .select(col("url"), col("depth"))

  /** Crash-resume: flip every `resumable` row back to `queued` and
    * return the (url, depth) frame the caller re-feeds into the crawl
    * (for StreamingCrawl: append it to the frontier JSON dir and the
    * restarted stream picks it up). Returns the requeued slice,
    * materialized BEFORE the state flip so it reflects the pre-resume
    * frontier. Composed of a lock-free read plus the locked [[mark]]
    * (the lease is not reentrant); a competing writer between the two
    * can only re-mark rows this slice already carries — the slice
    * itself stays consistent because it was materialized first.
    */
  def requeue(spark: SparkSession, dir: String, jobId: String,
      kind: String, nowMs: Long, staleLockMs: Long,
      maxRetries: Int): DataFrame = {
    val slice = resumable(spark, dir, jobId, kind, nowMs, staleLockMs,
      maxRetries).cache()
    slice.count(): Unit
    mark(dir, jobId, kind, slice.select("url"), Queued, nowMs)
    slice
  }
}
