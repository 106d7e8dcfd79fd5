package graft

import graft.sources.ParquetRead
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One session-scoped reliable-checkpoint directory, shared by every
  * iterative operator (BFS frontier, crawl rounds, connected
  * components). Created lazily on first use, removed at JVM exit —
  * previously each call created its own `graft-ckpt` temp dir and never
  * deleted it, so checkpoint files accumulated across an 85-query
  * Verify/Bench session. On a cluster, set `spark.checkpoint.dir` (or
  * call `sc.setCheckpointDir`) to durable storage BEFORE first use and
  * this helper leaves it untouched.
  */
object Checkpoints {

  def ensure(spark: SparkSession): Unit = synchronized {
    val sc = spark.sparkContext
    if (sc.getCheckpointDir.isEmpty) {
      val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toFile
      sc.setCheckpointDir(dir.toString)
      Runtime.getRuntime.addShutdownHook(new Thread(() => delete(dir)))
    }
  }

  /** Eager reliable checkpoint under the session's BASE checkpoint dir:
    * for frames that must outlive an iterative loop — fetched content,
    * edge relations. `Rotating` never touches the global checkpoint dir
    * (it materializes into its own per-instance directories), so this
    * needs no lock: the RDD checkpoint always lands under the base dir,
    * which nothing ever deletes before JVM exit.
    */
  def pinned(df: DataFrame): DataFrame = {
    ensure(df.sparkSession)
    df.checkpoint(true)
  }

  private def delete(f: java.io.File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(delete)
    f.delete(): Unit
  }

  /** Accumulating per-loop materializer for iterative loops whose
    * cumulative state is a UNION OF DELTAS (BFS visited/enqueued sets,
    * a crawl's processed-file set): each call writes one parquet dir
    * under the session base checkpoint dir and returns a frame reading
    * back from it. Later rounds keep the cumulative set as a LAZY
    * union over these already-materialized deltas — so a k-round loop
    * writes each url/node exactly once (O(total state) bytes), where
    * re-checkpointing the growing union every round writes
    * O(state × rounds). Files live for the loop's (and result's)
    * lifetime; the session shutdown hook (or the cluster operator's
    * checkpoint-dir policy) reclaims them. Use `Rotating` instead when
    * each round REWRITES the full state (e.g. label tables).
    */
  final class Accumulating(spark: SparkSession) {
    Checkpoints.ensure(spark)
    private val root = s"${spark.sparkContext.getCheckpointDir.get}/acc-" +
      java.util.UUID.randomUUID().toString.take(8)
    private var n = 0

    /** Eagerly materialize `df` and return a frame reading back from
      * its files (lineage ends there). Files are never deleted by this
      * class — later rounds may keep referencing them.
      */
    def checkpoint(df: DataFrame): DataFrame = {
      val path = s"$root/f$n"
      n += 1
      df.write.mode("overwrite").parquet(path)
      ParquetRead(df.sparkSession, path)
    }

    /** `checkpoint` plus the frame's row count, observed as a metric on
      * the materializing write itself — iterative loops whose row count
      * is the exit test (BFS frontier, crawl rounds) get it for free
      * instead of paying a separate count job per round.
      */
    def checkpointCounted(df: DataFrame): (DataFrame, Long) = {
      val obs = org.apache.spark.sql.Observation(s"ckpt-n$n")
      val out = checkpoint(df.observe(obs,
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("rows")))
      (out, obs.get("rows").asInstanceOf[Long])
    }
  }

  /** Round-rotating checkpoints for iterative driver loops.
    *
    * Reliable checkpoints normally live until JVM exit, so a
    * long-running BFS/components job accumulates one generation of
    * state files per round — a real disk-growth risk for exactly the
    * 100 TB iterative jobs this engine targets. A `Rotating` instance
    * checkpoints each round into its own subdirectory and deletes a
    * round's directory as soon as it is two generations old: round i
    * reads only round i-1's materialized files, so everything from
    * round i-2 and earlier is provably unreferenced.
    *
    * Protocol: `checkpoint(df)` (eager) any number of times per round;
    * `advance()` at the START of each loop body; `close()` after the
    * loop (deletes all but the final round, whose frames the caller
    * returns; that last directory is removed by the session shutdown
    * hook, or by the cluster operator's checkpoint-dir policy).
    *
    * Static frames read on EVERY round (e.g. the edge relation) must
    * be checkpointed with `Checkpoints.pinned` under the base
    * directory, never through the rotator.
    *
    * Materialization is a parquet write + read-back into the round's
    * directory — eager, lineage-truncating, and entirely per-instance:
    * the GLOBAL `sc.setCheckpointDir` is never touched, so concurrent
    * loops (parallel test suites, a streaming micro-batch thread
    * checkpointing mid-round) need no lock and can never land files in
    * a directory another rotator is about to delete.
    *
    * Deletion goes through the Hadoop FileSystem of the checkpoint
    * path, so rotation works unchanged when the checkpoint dir is
    * HDFS/S3 on a cluster.
    */
  final class Rotating(spark: SparkSession) {
    Checkpoints.ensure(spark)
    private val sc = spark.sparkContext
    private val base = sc.getCheckpointDir.get
    private val root =
      s"$base/rot-${java.util.UUID.randomUUID().toString.take(8)}"
    private var round = 0
    private var cur = s"$root/r0"
    private var prev: Option[String] = None
    private var n = 0

    /** Eagerly materialize `df` into the current round's directory and
      * return a frame reading back from it (lineage ends at the files).
      */
    def checkpoint(df: DataFrame): DataFrame = {
      val path = s"$cur/f$n"
      n += 1
      df.write.mode("overwrite").parquet(path)
      ParquetRead(df.sparkSession, path)
    }

    /** Start a new round: files two rounds back are now unreferenced
      * and deleted.
      */
    def advance(): Unit = {
      prev.foreach(deletePath)
      prev = Some(cur)
      round += 1
      cur = s"$root/r$round"
    }

    /** After the loop: drop every rotated directory except the current
      * round's (the caller still holds its frames).
      */
    def close(): Unit = {
      prev.foreach(deletePath)
      prev = None
    }

    private def deletePath(p: String): Unit = {
      val path = new org.apache.hadoop.fs.Path(p)
      val fs = path.getFileSystem(sc.hadoopConfiguration)
      fs.delete(path, true): Unit
    }
  }
}
