package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, max, max_by, sum,
  when}
import org.apache.spark.storage.StorageLevel

/** The generational-store lifecycle, written once for every store
  * that keeps its rows in per-batch `b<id>` directories under a
  * [[Commits]] ledger: the inverted index (`Search`), the chunk store
  * (`Streams`), and the ANN and PQ stores (`Similarity`; the
  * chunk-vector store is a PQ store).
  *
  * A store is described by its KEY column, a TOMBSTONE predicate over a
  * membership row, the non-key columns of the TOMBSTONE ROW a delete
  * writes, the GATE-HASH column whose equality makes a redelivered row
  * a no-op, its MEMBERSHIP table (one row per key per generation; a
  * key's current generation is its max committed batch) and its
  * DEPENDENT tables (postings, chunks): rows keyed by (key, batch),
  * live exactly when their membership row is. Each [[GenTable.Table]]
  * names its live directory relative to the store (empty when the
  * table is the store dir itself) and its staged directory under
  * `_vacuum`, which the swap installs as the table's `b0`.
  *
  * The WRITE half, each under the store's writer lease:
  *   - [[currency]]: the per-key currency resolve (key, current batch,
  *     current hash, current-is-tombstone) of a mutation's ids, with
  *     the scoped/unscoped plan choice ([[Commits
  *     .scopeMutationResolve]]); [[changed]] is the hash gate the
  *     stores' appends run through it;
  *   - [[delete]]: one tombstone generation for the currently-live
  *     requested keys;
  *   - [[commitGeneration]]: allocate a batch id above every id ever
  *     attempted, write the generation, commit it when it holds rows.
  *
  * Commit order: the allocation records the id's attempt marker
  * BEFORE any data write, the store writes its generation (dependent
  * tables before membership), and the commit marker lands LAST. A
  * crash before the marker leaves rows under an uncommitted id —
  * invisible to readers, never reused (the attempt marker burns it),
  * swept by the next maintenance pass. A delete writes only membership
  * rows, so a crash anywhere in it leaves the store reading as it did.
  *
  * The MAINTENANCE half, also under the lease:
  *   - [[vacuumIncremental]]: rewrite only the batches whose dead-row
  *     fraction reaches a threshold (dead = superseded by a later
  *     generation, or any row of a key whose current row is a
  *     tombstone); clean batches' files stay untouched, so the cost
  *     scales with the dead data, not the corpus;
  *   - [[compactBatches]]: fold the smallest batches so the committed
  *     batch count comes down to a bound (the micro-batch cadence grows
  *     it; directory listings and file handles pay for it at scale);
  *   - [[vacuumFull]]: stage the live state as batch 0 and swap it in
  *     (offline ledger reset). [[swapIn]] stages a full rewrite the
  *     store computed itself (the PQ reroute).
  *
  * Both incremental operations rewrite the selected batches' survivors
  * — live current generations, plus tombstones whose key still has rows
  * in an UNSELECTED batch (dropping one would resurrect the older
  * generation) — as one fresh generation through [[commitGeneration]],
  * then reclaim the selected batches. After the commit the reclaimed
  * batches are merely superseded (max-batch resolution ignores them;
  * carried tombstones agree). Markers go before directories, so a crash
  * inside the reclaim leaves invisible orphans. Every state is readable
  * and the next pass converges.
  *
  * The staged vacuum writes the stage COMPLETE (tables plus a staged
  * `_commits/b0`) before touching the live store, then drops the live
  * ledger FIRST: "staged ledger present, live ledger missing" means
  * exactly "swap in progress", readers fail loudly instead of reading
  * half-swapped tables, and [[repairCrashedSwap]] finishes the swap.
  * Every maintenance entry point repairs BEFORE its orphan sweep — in
  * that window the committed set reads empty, and an unguarded sweep
  * would delete the just-renamed `b0` dirs, the only copy. A stage
  * whose swap never started (live ledger intact) may be stale (appends
  * can land after the crash) and is discarded, never installed.
  */
final class GenTable(private[graft] val key: String,
    private[graft] val isTombstone: Column,
    private[graft] val tombstone: Seq[Column], hash: String,
    membership: GenTable.Table, dependents: Seq[GenTable.Table] = Nil,
    stagedExtras: Seq[String] = Nil) {
  import GenTable.{CurBatch, CurHash, CurTomb, Table}

  /** Write, sweep, reclaim and swap order: dependents before
    * membership (the crash contract above). */
  private[graft] val tables = dependents :+ membership

  private def liveDir(dir: String, t: Table): String =
    if (t.live.isEmpty) dir else s"$dir/${t.live}"

  private def stage(dir: String): String = s"$dir/${GenTable.StageDir}"

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def readMembership(spark: SparkSession, dir: String,
      committed: Seq[Long]): Option[DataFrame] =
    Commits.readCommittedBatches(spark, liveDir(dir, membership), committed)

  /** Per-key currency of membership `rows`: (key, [[GenTable.CurBatch]],
    * [[GenTable.CurHash]], [[GenTable.CurTomb]]). Skinny columns only —
    * vectors and text never shuffle — and a caller's projection prunes
    * the aggregates it does not read.
    */
  private def currencyOf(rows: DataFrame): DataFrame =
    rows.groupBy(col(key)).agg(max(col("batch")).as(CurBatch),
      max_by(col(hash), col("batch")).as(CurHash),
      max_by(isTombstone, col("batch")).as(CurTomb))

  /** The current committed generation of each key in `ids` (one
    * column, the key under any name), as [[currencyOf]]'s row; keys
    * with no committed row are absent. None when nothing is committed.
    * The plan is [[Commits.scopeMutationResolve]]'s choice: SCOPED (the
    * membership scan semi-joined against the ids BELOW the aggregate,
    * so only the batch's overlap shuffles — an unscoped resolve is
    * store-linear per mutation, SCALE.md) for micro-batches, the
    * store-wide aggregate post-filtered for batches near the store's
    * size, where the id set stops broadcasting.
    */
  private[graft] def currency(spark: SparkSession, dir: String,
      committed: Seq[Long], ids: DataFrame): Option[DataFrame] =
    if (committed.isEmpty) None
    else currency(spark, dir, committed, ids,
      Commits.scopeMutationResolve(ids.count(), Commits.committedRowCount(
        spark, liveDir(dir, membership), committed)))

  /** [[currency]] with the plan choice given: the specs pin the scoped
    * plan's shape and run both plans on one store. */
  private[graft] def currency(spark: SparkSession, dir: String,
      committed: Seq[Long], ids: DataFrame,
      scoped: Boolean): Option[DataFrame] = {
    val keys = ids.select(col(ids.columns.head).as(key))
    readMembership(spark, dir, committed).map(rows =>
      if (scoped) currencyOf(rows.join(keys, Seq(key), "left_semi"))
      else currencyOf(rows).join(keys, Seq(key), "left_semi"))
  }

  /** The hash gate of an upsert: the rows of `batch` (keyed by `idCol`)
    * whose `hashCol` differs from their key's current hash, or whose
    * key has no committed row. An unchanged redelivery passes nothing;
    * a key whose current row is a tombstone passes (a tombstone's hash
    * never equals a real one) and resurrects.
    */
  private[graft] def changed(spark: SparkSession, dir: String,
      committed: Seq[Long], batch: DataFrame, idCol: String,
      hashCol: String): DataFrame =
    currency(spark, dir, committed, batch.select(col(idCol))) match {
      case None => batch
      case Some(cur) => batch
        .join(cur.select(col(key).as(idCol), col(CurHash)), Seq(idCol),
          "left")
        .filter(col(CurHash).isNull || col(CurHash) =!= col(hashCol))
        .drop(CurHash)
    }

  /** One generation: allocate its batch id from the ledger (and, on a
    * ledger with no attempt recorded yet, from every table's live dir),
    * run `write` — which writes the generation's rows under that id and
    * returns their count — and commit the id when the count is
    * positive. Returns the count.
    */
  private[graft] def commitGeneration(spark: SparkSession, dir: String)(
      write: Long => Long): Long = {
    val batchId = Commits.allocateBatchId(spark, dir,
      tables.map(liveDir(dir, _)))
    val n = write(batchId)
    if (n > 0) Commits.commit(spark, dir, batchId)
    n
  }

  /** `rows` (no `batch` column) written as batch `batchId` of the
    * membership table. */
  private[graft] def writeMembership(rows: DataFrame, dir: String,
      batchId: Long): Unit =
    rows.withColumn("batch", lit(batchId))
      .write.parquet(s"${liveDir(dir, membership)}/b$batchId")

  /** DELETE keys: one tombstone generation — a membership row of
    * [[tombstone]] values, no dependent rows — for each requested key
    * (the first column of `ids`) whose current generation is live.
    * Absent and already-deleted keys are skipped, so a repeat is a
    * no-op that allocates nothing; a later append of the key
    * resurrects it. Returns keys tombstoned.
    */
  def delete(spark: SparkSession, dir: String, ids: DataFrame,
      heldLocks: Set[String]): Long =
   Commits.withWriterLockUnless(spark, dir, heldLocks) {
    val keys = ids.select(col(ids.columns.head).as(key))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val victims = currency(spark, dir, Commits.committed(spark, dir),
          keys).getOrElse(return 0L)
        .filter(!col(CurTomb))
        .select(col(key) +: tombstone: _*)
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val n = victims.count()
        if (n > 0) commitGeneration(spark, dir) { b =>
          writeMembership(victims, dir, b)
          n
        }
        n
      } finally { victims.unpersist(); () }
    } finally { keys.unpersist(); () }
   }

  /** INCREMENTAL vacuum: reclaim the committed batches whose dead-row
    * fraction is at least `minDeadFraction`. Returns batches reclaimed.
    */
  def vacuumIncremental(spark: SparkSession, dir: String,
      minDeadFraction: Double): Int =
    maintain(spark, dir)(dirtyBatches(spark, dir, _, minDeadFraction))

  /** COMPACT the committed-batch count down to `maxBatches`
    * ([[Commits.compactionSelection]]: the smallest batches fold into
    * one). Returns batches folded (0 when already within bound).
    */
  def compactBatches(spark: SparkSession, dir: String,
      maxBatches: Int): Int =
    maintain(spark, dir)(committed => readMembership(spark, dir, committed)
      .fold(Seq.empty[Long])(
        Commits.compactionSelection(_, committed, maxBatches)))

  /** One incremental pass: repair, sweep, select, rewrite, reclaim. */
  private def maintain(spark: SparkSession, dir: String)(
      select: Seq[Long] => Seq[Long]): Int =
   Commits.withWriterLock(spark, dir) {
    repairCrashedSwap(spark, dir): Unit
    val committed = Commits.committed(spark, dir)
    tables.foreach(t =>
      Commits.sweepOrphanBatchDirs(spark, liveDir(dir, t), committed))
    Commits.pruneAttemptMarkers(spark, dir)
    if (committed.isEmpty) return 0
    val selected = select(committed).sorted
    if (selected.isEmpty) return 0
    rewriteAndCommit(spark, dir, committed, selected)
    reclaim(spark, dir, selected)
    selected.size
   }

  /** `rows` joined with its key's currency: [[GenTable.CurBatch]] and
    * [[GenTable.CurTomb]]. */
  private def withCurrency(rows: DataFrame): DataFrame =
    rows.join(currencyOf(rows).select(col(key), col(CurBatch),
      col(CurTomb)), Seq(key))

  /** The committed batches whose dead-row fraction reaches the
    * threshold. Driver-side result bounded by the batch COUNT, never by
    * rows. Package-private so specs can replay a pass step by step.
    */
  private[graft] def dirtyBatches(spark: SparkSession, dir: String,
      committed: Seq[Long], minDeadFraction: Double): Seq[Long] = {
    val rows = readMembership(spark, dir, committed)
      .getOrElse(return Seq.empty)
    withCurrency(rows)
      .withColumn("__dead",
        col("batch") < col(CurBatch) || col(CurTomb))
      .groupBy(col("batch"))
      .agg(count(lit(1)).as("__total"),
        sum(when(col("__dead"), 1L).otherwise(0L)).as("__dead_rows"))
      .collect()
      .filter { r =>
        val dead = r.getAs[Long]("__dead_rows")
        dead > 0 &&
          dead.toDouble / r.getAs[Long]("__total") >= minDeadFraction
      }
      .map(_.getAs[Long]("batch")).toSeq.sorted
  }

  /** Rewrite the `selected` batches' survivors as one fresh batch and
    * COMMIT it. Package-private so specs can simulate a crash exactly
    * here: new batch committed, reclaimed markers still present.
    */
  private[graft] def rewriteAndCommit(spark: SparkSession, dir: String,
      committed: Seq[Long], selected: Seq[Long]): Unit = {
    val rows = readMembership(spark, dir, committed).get
    val inSelected = col("batch").isin(selected: _*)
    val current = withCurrency(rows)
      .filter(inSelected && col("batch") === col(CurBatch))
    val live = current.filter(!col(CurTomb))
    val tomb = current.filter(col(CurTomb))
      .join(rows.filter(!inSelected).select(col(key)), Seq(key),
        "left_semi")
    val survivors = live.unionByName(tomb)
      .select(rows.columns.filter(_ != "batch").map(col).toSeq: _*)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val n = survivors.count()
      if (n > 0) commitGeneration(spark, dir) { b =>
        rewriteDependents(spark, dir, selected,
          live.select(col(key), col("batch")), b,
          t => s"${liveDir(dir, t)}/b$b")
        writeMembership(survivors, dir, b)
        n
      }
    } finally { survivors.unpersist(); () }
  }

  /** Each dependent table's rows in `batches` whose (key, batch) pair
    * is in `keys`, rewritten as batch `batchId` to `out(table)`. */
  private def rewriteDependents(spark: SparkSession, dir: String,
      batches: Seq[Long], keys: DataFrame, batchId: Long,
      out: Table => String): Unit =
    dependents.foreach(t =>
      Commits.readCommittedBatches(spark, liveDir(dir, t), batches)
        .foreach(d => t.write(d.join(keys, Seq(key, "batch"))
          .withColumn("batch", lit(batchId)))
          .write.parquet(out(t))))

  /** Remove the reclaimed batches' commit markers, then their
    * directories (marker first: a dir without a marker is an invisible
    * orphan; a marker without a dir would be a readable missing batch).
    */
  private def reclaim(spark: SparkSession, dir: String,
      selected: Seq[Long]): Unit = {
    selected.foreach(Commits.uncommit(spark, dir, _))
    val fs = fsOf(spark, dir)
    for (t <- tables; b <- selected)
      fs.delete(new Path(s"${liveDir(dir, t)}/b$b"), true): Unit
  }

  /** FULL vacuum: the store's live state rewritten as batch 0 through
    * the staged swap. `live` is the store's current non-tombstone
    * membership rows (with their `batch`, which keys the dependent
    * rejoin); None when nothing is committed. A crashed swap found on
    * entry is completed instead, and the call returns.
    */
  def vacuumFull(spark: SparkSession, dir: String)(
      live: => Option[DataFrame]): Unit =
    Commits.withWriterLock(spark, dir) {
      if (!repairCrashedSwap(spark, dir)) live.foreach(swapIn(spark, dir, _))
    }

  /** Stage `live` as batch 0 — dependent rows rejoined on the live
    * (key, batch) pairs, then the membership rows — plus the `extras`
    * (each named in `stagedExtras`), commit the staged ledger, and swap.
    * Caller holds the writer lease and has run [[repairCrashedSwap]].
    */
  private[graft] def swapIn(spark: SparkSession, dir: String,
      live: DataFrame, extras: Seq[(String, DataFrame)] = Nil): Unit = {
    require(extras.forall(e => stagedExtras.contains(e._1)),
      s"unstaged extras ${extras.map(_._1)}; the swap moves $stagedExtras")
    val fs = fsOf(spark, dir)
    val st = stage(dir)
    // A leftover stage is incomplete (crash mid-stage-write) or was
    // never swapped in (live ledger intact): discard it.
    fs.delete(new Path(st), true)
    if (dependents.nonEmpty)
      rewriteDependents(spark, dir, Commits.committed(spark, dir),
        live.select(col(key), col("batch")), 0L, t => s"$st/${t.staged}")
    live.withColumn("batch", lit(0L))
      .write.parquet(s"$st/${membership.staged}")
    extras.foreach { case (name, df) => df.write.parquet(s"$st/$name") }
    Commits.commit(spark, st, 0L)
    Commits.clear(spark, dir)
    swapFromStage(fs, dir)
  }

  /** Detect-and-repair the staged swap's crash window (staged ledger
    * present, live ledger missing): finish the swap. Returns true when
    * a repair ran.
    */
  private[graft] def repairCrashedSwap(spark: SparkSession,
      dir: String): Boolean = {
    val fs = fsOf(spark, dir)
    if (fs.exists(new Path(s"${stage(dir)}/_commits/b0")) &&
        !fs.exists(new Path(s"$dir/_commits"))) {
      swapFromStage(fs, dir)
      true
    } else false
  }

  /** Install the stage: each table's staged dir replaces every
    * non-hidden entry of the live table as its `b0`, then the
    * staged extras and the staged ledger move in. Safe to re-run after
    * a crash at any step, with no manifest: a staged piece still
    * present means the live copy is stale and is replaced; a staged
    * piece already gone was moved by the crashed predecessor, so the
    * live `b0` holds the only copy and stays.
    */
  private def swapFromStage(fs: FileSystem, dir: String): Unit = {
    val st = stage(dir)
    tables.foreach { t =>
      val staged = new Path(s"$st/${t.staged}")
      val live = new Path(liveDir(dir, t))
      val stagedPresent = fs.exists(staged)
      if (fs.exists(live))
        fs.listStatus(live).filter { s =>
          val n = s.getPath.getName
          !n.startsWith("_") && !n.startsWith(".") &&
            (stagedPresent || n != "b0")
        }.foreach(s => fs.delete(s.getPath, true))
      if (stagedPresent) {
        fs.mkdirs(live)
        fs.rename(staged, new Path(live, "b0")): Unit
      }
    }
    (stagedExtras :+ "_commits").foreach { name =>
      val src = new Path(s"$st/$name")
      if (fs.exists(src)) {
        fs.delete(new Path(s"$dir/$name"), true)
        fs.rename(src, new Path(s"$dir/$name")): Unit
      }
    }
    fs.delete(new Path(st), true): Unit
  }
}

object GenTable {

  /** One table of a generational store: `live` is its directory under
    * the store (empty: the store dir itself), `staged` its batch-0
    * directory under the `_vacuum` stage, and `write` the layout
    * transform applied to every rewrite of it (the postings keep their
    * term clustering).
    */
  final case class Table(live: String, staged: String,
      write: DataFrame => DataFrame = identity)

  /** The full vacuum's stage directory under a store. */
  val StageDir = "_vacuum"

  /** Column names of [[GenTable.currency]]'s per-key row: the key's
    * current batch, its gate hash there, and whether it is a tombstone.
    */
  val CurBatch = "__cur_batch"
  val CurHash = "__cur_hash"
  val CurTomb = "__cur_tomb"

  /** Tombstone marker in a membership table's `content_hash` column
    * (the inverted index, the chunk store) — real hashes are 64-hex
    * sha256, so no collision is possible.
    */
  val Tombstone = "__tombstone__"
}
