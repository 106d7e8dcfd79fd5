package graft.pipeline

import graft.functions.{HashFunctions, UrlFunctions}
import graft.sources.ParquetRead
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** ST2 — the frontier as a STREAM: the crawl loop re-expressed as a
  * self-feeding Structured Streaming pipeline, the engine's analog of
  * the reference's asyncio frontier queue + worker fan-out
  * (`/root/reference/crawler/crawler_core.py:149-271`).
  *
  *   - the frontier is a JSON-lines directory consumed by a file-source
  *     stream; each micro-batch is one crawl round (`Crawl.round`);
  *   - discovered page links are appended BACK into the frontier
  *     directory, which the source picks up as the next trigger — the
  *     queue feeds itself until no new links appear (the
  *     `queue.join()` completion of `crawler_core.py:271`);
  *   - visited/processed-file state lives in parquet directories,
  *     anti-joined per batch (J1-J3) — bounded, replayable, no driver
  *     collections;
  *   - pages/files append to parquet sinks; checkpointing makes the
  *     whole loop restartable mid-crawl (ST8).
  *
  * Like the reference's FIFO queue, ordering is approximately-BFS: a
  * url reached by two paths keeps its first-arrival depth.
  */
object StreamingCrawl {

  final case class Dirs(frontier: String, pages: String, files: String,
      state: String, checkpoint: String)

  val FrontierSchema: StructType = StructType(Seq(
    StructField("url", StringType), StructField("depth", IntegerType)))

  /** The job id stamped into the persistent url_frontier table (one
    * streaming crawl = one job; a multi-job deployment passes its own).
    */
  val DefaultJobId = "job-0"

  /** The persistent frontier table under a crawl's state dir. */
  def frontierTableDir(dirs: Dirs): String = s"${dirs.state}/url_frontier"

  /** Enqueue seed urls (defragmented, depth 0) — into the streaming
    * source AND the persistent url_frontier table (as `queued`).
    */
  def seed(spark: SparkSession, dirs: Dirs, urls: Seq[String],
      jobId: String = DefaultJobId): Unit = {
    import spark.implicits._
    val seeds = urls.toDF("raw")
      .select(UrlFunctions.defragment(col("raw")).as("url"),
        lit(0).as("depth"))
      .distinct()
    FrontierStore.enqueue(frontierTableDir(dirs), jobId, "page",
      seeds.withColumn("domain", UrlFunctions.domain(col("url"))),
      System.currentTimeMillis())
    seeds.write.mode("append").json(dirs.frontier)
  }

  /** Crash-resume from the persistent frontier: urls left `queued`,
    * locked `processing` longer than `staleLockMs` (the previous run
    * died mid-batch), or `failed` with retries left are flipped back
    * to `queued` and re-fed into the streaming source. Call before
    * `start` when restarting a crawl whose previous run may have died
    * — works even when the streaming checkpoint dir is lost, because
    * the frontier table, not the checkpoint, is the source of truth
    * for per-url progress. Returns the number of urls requeued.
    */
  def resume(spark: SparkSession, dirs: Dirs,
      jobId: String = DefaultJobId, staleLockMs: Long = 10 * 60 * 1000L,
      maxRetries: Int = 3): Long = {
    val slice = FrontierStore.requeue(spark, frontierTableDir(dirs),
      jobId, "page", System.currentTimeMillis(), staleLockMs, maxRetries)
    val n = slice.count()
    if (n > 0) {
      // Un-claim: processBatch marks a url visited BEFORE fetching
      // (claim-before-expand), so a crashed/failed url is still in the
      // visited set and the restarted stream's anti-join would skip
      // it. Rewrite visited minus the requeued slice (staged through a
      // tmp dir — parquet cannot overwrite a directory it is reading).
      val visitedDir = s"${dirs.state}/visited"
      if (graft.sources.StatePointer.exists(visitedDir)) {
        val tmp = s"${visitedDir}__resume_tmp"
        ParquetRead(spark, visitedDir)
          .join(slice.select("url"), Seq("url"), "left_anti")
          .write.mode("overwrite").parquet(tmp)
        ParquetRead(spark, tmp)
          .write.mode("overwrite").parquet(visitedDir)
        val tp = new org.apache.hadoop.fs.Path(tmp)
        tp.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(tp, true): Unit
      }
      slice.write.mode("append").json(dirs.frontier)
    }
    slice.unpersist()
    n
  }

  private def state(spark: SparkSession, path: String): DataFrame =
    if (graft.sources.StatePointer.exists(path)) ParquetRead(spark, path)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("url", StringType))))

  def start(spark: SparkSession, fetcher: Fetcher, dirs: Dirs,
      cfg: CrawlConfig): StreamingQuery = {
    Crawl.ensureCheckpointDir(spark)
    spark.readStream.schema(FrontierSchema).json(dirs.frontier)
      .writeStream
      .option("checkpointLocation", dirs.checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        processBatch(spark, fetcher, dirs, cfg, batch)
      }
      .start()
  }

  /** One micro-batch = one crawl round over the not-yet-visited slice
    * of the incoming frontier rows.
    */
  private def processBatch(spark: SparkSession, fetcher: Fetcher,
      dirs: Dirs, cfg: CrawlConfig, batch: DataFrame): Unit = {
    val visited = state(spark, s"${dirs.state}/visited")
    // Pinned (base-dir) checkpoint: this runs on the streaming
    // micro-batch thread, possibly concurrent with a Rotating loop —
    // never checkpoint into a directory that could be rotated away.
    val frontier = graft.Checkpoints.pinned(batch
      .filter(col("depth") <= cfg.depthCap)
      .groupBy(col("url")).agg(min(col("depth")).as("depth"))
      .join(visited, Seq("url"), "left_anti"))
    if (!frontier.isEmpty) {
      // Claim before expanding: later batches must not re-crawl.
      frontier.select("url").write.mode("append")
        .parquet(s"${dirs.state}/visited")
      // Mirror the claim into the persistent frontier: links arriving
      // from self-feed are enqueued here (seeds already are — enqueue
      // keeps existing rows), then the whole slice locks `processing`.
      val ftDir = frontierTableDir(dirs)
      val nowMs = System.currentTimeMillis()
      FrontierStore.enqueue(ftDir, DefaultJobId, "page",
        frontier.withColumn("domain", UrlFunctions.domain(col("url"))),
        nowMs)
      FrontierStore.mark(ftDir, DefaultJobId, "page",
        frontier.select("url"), FrontierStore.Processing, nowMs)

      val out = Crawl.round(fetcher, frontier,
        state(spark, s"${dirs.state}/visited_files"), cfg)
      out.pages
        .withColumn("content_hash", HashFunctions.contentHash(col("text")))
        .write.mode("append").parquet(dirs.pages)
      if (!out.files.isEmpty) {
        out.files
          .withColumn("content_hash", HashFunctions.contentHash(col("text")))
          .write.mode("append").parquet(dirs.files)
        out.files.select("url").write.mode("append")
          .parquet(s"${dirs.state}/visited_files")
      }

      // Frontier outcomes: a claimed url that produced a page is
      // `done`; one that produced nothing (fetch miss or out of crawl
      // scope) is `failed` with its retry count bumped — the row the
      // resume path retries and the operator's monitoring surface.
      // (out.pages is already checkpoint-backed by Crawl.round — no
      // re-fetch on reuse.)
      val fetched = out.pages.select("url")
      val missed = frontier.select("url")
        .join(fetched, Seq("url"), "left_anti")
      val doneMs = System.currentTimeMillis()
      FrontierStore.mark(ftDir, DefaultJobId, "page", fetched,
        FrontierStore.Done, doneMs)
      FrontierStore.mark(ftDir, DefaultJobId, "page", missed,
        FrontierStore.Failed, doneMs, error = "no page fetched")

      // Self-feed: new links become the next trigger's input.
      val next = out.pageLinks
        .filter(col("depth") <= cfg.depthCap)
        .groupBy(col("url")).agg(min(col("depth")).as("depth"))
        .join(state(spark, s"${dirs.state}/visited"), Seq("url"), "left_anti")
      if (!cfg.singlePage && !next.isEmpty)
        next.write.mode("append").json(dirs.frontier)
    }
  }
}
