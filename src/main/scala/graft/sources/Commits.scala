package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, max}

/** Commit-marker ledger shared by the GENERATIONAL parquet stores (the
  * inverted index, the ANN store): an append writes its parquet slices
  * tagged with a fresh batch id and then creates the empty marker file
  * `<dir>/_commits/b<batch>` as its LAST step — the linearization
  * point. Readers only ever see committed batches, so a crash between
  * the slice writes and the marker leaves orphan rows that are
  * invisible forever; the next delivery allocates a fresh id above
  * every id ever ATTEMPTED (recorded as an `a<batch>` marker before
  * the batch's first data write — see [[allocateBatchId]]), so
  * at-least-once redelivery can never double a row under an id a
  * reader will trust. The legacy allocator [[nextBatchId]] scanned
  * max(batch) over the raw parquet instead; it remains only as the
  * one-time fallback for stores that predate attempt markers.
  *
  * SINGLE WRITER ENFORCED by [[withWriterLock]]: the ledger's id
  * allocation is read-then-write, so two concurrent appends could
  * allocate the same batch id and double rows under one committed
  * marker. The pointer-swap state stores (`Streams` merge/CMS, the
  * url frontier) hold the same lease around their read-merge-swap:
  * their pointer write is atomic, but uncoordinated writers merging
  * onto the same base state would silently lose the losing writer's
  * rows. The reference gets this safety from Postgres
  * (`/root/reference/db/postgres_store.py:126-182` `ON CONFLICT`
  * upserts, `:26-43` `FOR UPDATE SKIP LOCKED` claims); the parquet
  * stores get it from a create-exclusive `_lock` marker — a second
  * writer fails loudly instead of corrupting, and a crashed writer's
  * stale lock is overridden after a TTL.
  *
  * `_commits` and `_lock` are underscore-prefixed, so Spark's parquet
  * reader ignores them — the ledger can live INSIDE a parquet
  * directory (the ANN store) or beside table subdirectories (the
  * inverted index).
  */
object Commits {

  /** Batch ids whose commit marker exists (the readable generations). */
  def committed(spark: SparkSession, dir: String): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/_commits")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .map(_.getPath.getName).filter(_.startsWith("b"))
      .map(_.drop(1).toLong)
  }

  /** Create the marker — the append's atomic commit point. Also
    * records the batch's attempt marker (idempotent): build/vacuum
    * paths commit fixed ids without going through [[allocateBatchId]],
    * and a committed id must count as attempted so the allocator's
    * listing-only fast path stays armed after them.
    */
  def commit(spark: SparkSession, dir: String, batch: Long): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/_commits/b$batch")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(p.getParent)
    fs.create(new org.apache.hadoop.fs.Path(s"$dir/_commits/a$batch"), true)
      .close()
    fs.create(p, true).close()
  }

  /** The `b<id>` batch subdirectories present under a generational
    * store table — one filesystem listing, no data touched. Each batch
    * in its own subdirectory is the layout contract all three standing
    * stores share (inverted index, ANN store, chunk store): committed
    * reads become an explicit path list (file-level selection,
    * stronger than any pushed batch filter) and the incremental
    * vacuums reclaim a dirty batch by deleting its directory without
    * rewriting clean neighbors.
    */
  def batchDirs(fs: org.apache.hadoop.fs.FileSystem,
      table: org.apache.hadoop.fs.Path): Map[Long, org.apache.hadoop.fs.Path] =
    if (!fs.exists(table)) Map.empty
    else fs.listStatus(table).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("b") &&
        s.getPath.getName.drop(1).forall(_.isDigit))
      .map(s => s.getPath.getName.drop(1).toLong -> s.getPath)
      .toMap

  /** Read the COMMITTED generations of the per-batch-directory table
    * at `tableDir`: the committed ids' subdirectories that hold data
    * files (a rewrite whose join produced zero rows leaves a file-less
    * dir that would break schema inference), plus — for legacy
    * flat-file stores or a mid-migration mix — the dir's own top-level
    * files, batch-filtered. None when nothing readable exists.
    */
  def readCommittedBatches(spark: SparkSession, tableDir: String,
      committed: Seq[Long]): Option[
      org.apache.spark.sql.DataFrame] = {
    val base = new org.apache.hadoop.fs.Path(tableDir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Same visibility predicate for both checks: a batch dir holding
    // only hidden files ("."-prefixed checksums, "_"-prefixed markers)
    // must be skipped like an empty one, not passed to the parquet
    // reader to fail schema inference.
    def isData(s: org.apache.hadoop.fs.FileStatus): Boolean = {
      val n = s.getPath.getName
      s.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    val present = batchDirs(fs, base)
    val dirPaths = committed.filter(b => present.contains(b) &&
        fs.listStatus(present(b)).exists(isData))
      .map(b => s"$tableDir/b$b")
    val hasFlat = fs.exists(base) && fs.listStatus(base).exists(isData)
    if (hasFlat)
      Some(spark.read.parquet((dirPaths :+ tableDir): _*)
        .filter(col("batch").isin(committed: _*)))
    else if (dirPaths.nonEmpty) Some(spark.read.parquet(dirPaths: _*))
    else None
  }

  /** Total bytes of the table's visible data files (flat layout plus
    * committed `b<id>` dirs) — a LISTING-ONLY size signal for probe
    * routing and maintenance cadence decisions. Deliberately no scan:
    * stats that open files (row counts, live-vs-dead splits) belong to
    * the per-store `*Stats` ops; this one must stay cheap enough to
    * run in front of every probe.
    *
    * Two deliberate imprecisions, both acceptable for a ROUTING
    * signal and not for accounting: (1) the figure counts superseded
    * and tombstone generations — dead bytes a vacuum would reclaim —
    * so a routing warning can fire on a store whose LIVE data is
    * small; that warning's remedy (run the maintenance pass) is the
    * same thing that shrinks the figure, so it self-corrects.
    * (2) a batch dir vacuumed/compacted away between the commit-set
    * read and its listing counts as 0 bytes rather than crashing the
    * probe — the listing holds no lock by design.
    */
  def committedDataBytes(spark: SparkSession, tableDir: String): Long = {
    val base = new org.apache.hadoop.fs.Path(tableDir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) return 0L
    def isData(s: org.apache.hadoop.fs.FileStatus): Boolean = {
      val n = s.getPath.getName
      s.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    // Unlocked listing racing a concurrent vacuum/compact: a dir (or
    // the flat base) present a moment ago may be gone by listStatus
    // time. Treat a vanished path as 0 bytes.
    def safeBytes(d: org.apache.hadoop.fs.Path): Long =
      try fs.listStatus(d).filter(isData).map(_.getLen).sum
      catch { case _: java.io.FileNotFoundException => 0L }
    val present = batchDirs(fs, base)
    val inBatches = committed(spark, tableDir)
      .flatMap(present.get)
      .map(safeBytes)
    inBatches.sum + safeBytes(base)
  }

  /** Row count of the committed generations of the per-batch table at
    * `tableDir` — a zero-column parquet count: Spark prunes the scan's
    * required schema to nothing and the row counts come from the file
    * FOOTERS, so the cost is proportional to the store's FILE count
    * (bounded by compaction), not its rows. The store-size signal for
    * [[scopeMutationResolve]].
    */
  def committedRowCount(spark: SparkSession, tableDir: String,
      committed: Seq[Long]): Long =
    readCommittedBatches(spark, tableDir, committed)
      .map(_.count()).getOrElse(0L)

  /** Below this batch size a mutation NEVER counts the store: the id
    * set broadcasts for sure (≲2 MB of longs, far under the 10 MB
    * broadcast threshold), so the scoped semi-join is always the right
    * plan and the micro-batch hot path pays zero extra jobs for the
    * decision.
    */
  val ScopedResolveFloor: Long = 1L << 18

  /** Plan choice for a mutation's membership/currency resolve against
    * a generational store. The SCOPED resolve (store scan semi-joined
    * against the batch's ids BEFORE the per-id aggregate) is flat for
    * micro-batches — only the batch's overlap shuffles, and AQE
    * broadcasts the id set. But when the batch approaches the store
    * (the re-embed-everything-on-a-new-model backfill), the id set
    * stops being broadcastable and the semi-join degrades to a
    * corpus-sized shuffle JOIN — strictly worse than the store-wide
    * aggregate it was scoped to avoid (measured: a store-sized upsert
    * at 1000x paid ~4x over the unscoped aggregate, SCALE.md). So:
    * scoped below the floor unconditionally (no store count spent),
    * else scoped only while the batch is under a quarter of the
    * store's rows — past that the overlap is the store and the
    * aggregate-everything plan is the cheaper one. `storeRows` is
    * by-name: the floor short-circuits it, so small batches never pay
    * the (footer-only) store count.
    */
  def scopeMutationResolve(batchRows: Long, storeRows: => Long): Boolean =
    batchRows <= ScopedResolveFloor || batchRows * 4L < storeRows

  /** Batches to fold together so the committed count comes down to
    * `maxBatches`: the SMALLEST by membership-row count (ties on id),
    * `count - maxBatches + 1` of them — they rewrite into one fresh
    * batch, so the store lands at exactly `maxBatches` committed
    * batches. Empty when already within bound. This is the
    * generational stores' answer to micro-batch accumulation: the
    * incremental vacuums keep DEAD data bounded without full rewrites,
    * and compaction keeps the BATCH COUNT (directory listings, open
    * file handles, per-batch planning overhead at 100 TB) bounded the
    * same way — move the smallest batches' survivors, never the bulk.
    * Driver-side result bounded by the batch count, never rows.
    */
  def compactionSelection(membership: org.apache.spark.sql.DataFrame,
      committed: Seq[Long], maxBatches: Int): Seq[Long] = {
    require(maxBatches >= 1, s"maxBatches must be >= 1, got $maxBatches")
    if (committed.size <= maxBatches) return Seq.empty
    val sizes = membership.groupBy(col("batch"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("__rows"))
      .collect()
      .map(r => r.getAs[Long]("batch") -> r.getAs[Long]("__rows"))
      .toMap
    committed.sortBy(b => (sizes.getOrElse(b, 0L), b))
      .take(committed.size - maxBatches + 1)
  }

  /** Delete every batch subdirectory of `tableDir` whose id is not in
    * `committed` — the incremental vacuums' orphan sweep (crashed
    * appends' invisible leftovers, or a predecessor's half-finished
    * reclaim). Caller holds the writer lease.
    */
  def sweepOrphanBatchDirs(spark: SparkSession, tableDir: String,
      committed: Seq[Long]): Unit = {
    val base = new org.apache.hadoop.fs.Path(tableDir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    for ((id, path) <- batchDirs(fs, base) if !committed.contains(id))
      fs.delete(path, true): Unit
  }

  /** `tableDir`'s legacy top-level data files — the pre-`b<id>` flat
    * append layout, where every batch's rows share one pool of files
    * distinguished only by the `batch` column.
    */
  private def flatDataFiles(fs: org.apache.hadoop.fs.FileSystem,
      base: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] =
    if (!fs.exists(base)) Seq.empty
    else fs.listStatus(base).toSeq.filter { s =>
      val n = s.getPath.getName
      s.isFile && !n.startsWith("_") && !n.startsWith(".")
    }.map(_.getPath)

  /** The batches among `committed` whose rows live in `tableDir`'s
    * legacy flat files. The incremental vacuums and compactions FORCE
    * these into their rewrite selection: a flat batch's files mix
    * batches, so reclaiming it can only drop its commit marker — the
    * bytes would stay on disk forever, invisible but unreclaimable —
    * unless its survivors are first rewritten into a fresh `b<id>`
    * batch and the flat files then swept by [[sweepFlatFiles]]. One
    * listing when the layout is already per-batch; a skinny
    * batch-column scan of just the flat files otherwise.
    */
  def committedFlatBatches(spark: SparkSession, tableDir: String,
      committed: Seq[Long]): Seq[Long] =
    flatBatchIds(spark, tableDir).filter(committed.contains)

  /** ALL batch ids with rows in `tableDir`'s legacy flat files —
    * committed or not. One skinny batch-column scan of just the flat
    * files; no Spark job at all (one listing) when nothing flat exists,
    * which is every mutation of a store born in the per-batch layout.
    * A maintenance pass reads this ONCE per table and reuses it for the
    * repair sweep, the forced-rewrite selection, and the final sweep
    * (the [[sweepFlatFiles]] overload): the flat FILES never change
    * within a pass — rewrites land in fresh `b<id>` dirs — only the
    * committed set does.
    */
  def flatBatchIds(spark: SparkSession, tableDir: String): Seq[Long] = {
    val base = new org.apache.hadoop.fs.Path(tableDir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = flatDataFiles(fs, base)
    if (files.isEmpty) Seq.empty
    else spark.read.parquet(files.map(_.toString): _*)
      .select(col("batch")).distinct().collect()
      .map(_.getLong(0)).sorted.toSeq
  }

  /** Delete `tableDir`'s legacy flat files once NO committed batch
    * still has rows in them — the migration's final step (after the
    * forced rewrite uncommitted the flat batches), and the repair for
    * a crash between that uncommit and this delete. One listing, then
    * a no-op, when nothing flat exists; refuses (no-op) while any
    * flat row is still committed-readable.
    */
  def sweepFlatFiles(spark: SparkSession, tableDir: String,
      committed: Seq[Long]): Unit =
    sweepFlatFiles(spark, tableDir, committed,
      flatBatchIds(spark, tableDir))

  /** [[sweepFlatFiles]] with the flat batch ids pre-read by
    * [[flatBatchIds]] — a maintenance pass scans the flat batch column
    * once per table instead of once per sweep (up to three scans per
    * table per migration pass otherwise).
    */
  def sweepFlatFiles(spark: SparkSession, tableDir: String,
      committed: Seq[Long], flatIds: Seq[Long]): Unit = {
    val base = new org.apache.hadoop.fs.Path(tableDir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = flatDataFiles(fs, base)
    if (files.nonEmpty && !flatIds.exists(committed.contains))
      files.foreach(f => fs.delete(f, false): Unit)
  }

  /** INVERSE of the flat-layout migration — rewrite a per-batch table
    * dir back into the legacy pre-`b<id>` flat append layout: every
    * batch dir's data files move up to the table root (batch-prefixed
    * so names cannot collide) and the dirs are dropped. A FIXTURE for
    * migration specs and the bench's migration build (no production
    * path ever un-migrates); lives here so the test suite and the
    * bench queries share one copy of the layout rules.
    *
    * DESTRUCTIVE (renames data files, deletes `b<id>` dirs), so it
    * takes the writer lease on `table` itself — running it against a
    * dir a concurrent writer is appending to would corrupt the layout.
    * Stores whose lease lives on a PARENT dir (multi-table stores like
    * the substring store) must hold that parent lease around the call;
    * the table-level lease here is re-entrant-safe because it is a
    * distinct lock file.
    */
  def rewindToFlatLayout(spark: SparkSession, table: String): Unit =
   withWriterLock(spark, table) {
    val base = new org.apache.hadoop.fs.Path(table)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (d <- fs.listStatus(base)
        if d.isDirectory && d.getPath.getName.startsWith("b") &&
          d.getPath.getName.drop(1).forall(_.isDigit)) {
      for (f <- fs.listStatus(d.getPath) if f.isFile) {
        val n = f.getPath.getName
        if (!n.startsWith("_") && !n.startsWith("."))
          fs.rename(f.getPath, new org.apache.hadoop.fs.Path(base,
            s"${d.getPath.getName}-$n")): Unit
      }
      fs.delete(d.getPath, true): Unit
    }
   }

  /** Record inside fold-batch `batch`'s directory the generation ids
    * it SUPERSEDES (`<tableDir>/b<batch>/_folds`) — the additive-store
    * compaction contract: stores whose generations SUM on read (gram
    * frequencies; unlike the max-batch-resolved stores) cannot commit
    * a fold while its sources are visible, or the crash window between
    * the fold's commit and the sources' uncommit doubles every folded
    * value. Readers subtract [[foldedSources]] from the committed set,
    * making every crash state answer-correct. MUST be written before
    * the fold's commit marker.
    */
  def writeFoldMarker(spark: SparkSession, tableDir: String, batch: Long,
      sources: Seq[Long]): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$tableDir/b$batch/_folds")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(sources.sorted.mkString(",").getBytes("UTF-8"))
    finally out.close()
  }

  /** Generation ids superseded by the COMMITTED folds among
    * `committed` — one listing + one tiny marker read per fold.
    */
  def foldedSources(spark: SparkSession, tableDir: String,
      committed: Seq[Long]): Set[Long] = {
    val base = new org.apache.hadoop.fs.Path(tableDir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    committed.flatMap { b =>
      val m = new org.apache.hadoop.fs.Path(s"$tableDir/b$b/_folds")
      if (!fs.exists(m)) Seq.empty
      else {
        val in = fs.open(m)
        val txt = try {
          val buf = new java.io.ByteArrayOutputStream()
          org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
          new String(buf.toByteArray, "UTF-8")
        } finally in.close()
        txt.split(",").toSeq.filter(_.nonEmpty).map(_.toLong)
      }
    }.toSet
  }

  /** Remove ONE batch's commit marker — the incremental vacuum's
    * reclaim step (its attempt marker stays, so the id is never
    * reallocated). The batch's rows become invisible the moment the
    * marker is gone; its directories are deleted after.
    */
  def uncommit(spark: SparkSession, dir: String, batch: Long): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/_commits/b$batch")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(p, false)
    ()
  }

  /** Drop the whole ledger (vacuum/rebuild resets to batch 0). */
  def clear(spark: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/_commits")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    ()
  }

  /** Next unused batch id: max `batch` present in the parquet data at
    * `dataPath` — orphans from crashed appends included, that is the
    * point — plus one; 0 for a store that does not exist yet or holds
    * zero rows (a build from an empty frame still writes the table).
    */
  def nextBatchId(spark: SparkSession, dataPath: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dataPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // "Does not exist yet" includes a directory holding only metadata
    // (`_lock`/`_commits`) — acquiring the writer lease creates the
    // store dir before the first parquet write lands in it.
    val hasData = fs.exists(p) && fs.listStatus(p).exists { s =>
      val n = s.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    if (!hasData) 0L
    else {
      // recursiveFileLookup: table layouts that keep each batch in its
      // own `b<id>` subdirectory (the inverted index) scan the same as
      // flat stores (the ANN dir), orphans included — which is the
      // point of this fallback.
      val row = spark.read.option("recursiveFileLookup", "true")
        .parquet(dataPath).agg(max(col("batch"))).head()
      (if (row.isNullAt(0)) -1L else row.getLong(0)) + 1L
    }
  }

  /** Batch ids ever ATTEMPTED: the `a<batch>` markers recorded at
    * allocation time, committed or not.
    */
  def attempted(spark: SparkSession, dir: String): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/_commits")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .map(_.getPath.getName).filter(_.startsWith("a"))
      .map(_.drop(1).toLong)
  }

  /** Durably record that `batch` was allocated (`_commits/a<batch>`) —
    * MUST precede the batch's first data write (call sites hold the
    * writer lease, so the create cannot race another allocator).
    */
  def recordAttempt(spark: SparkSession, dir: String, batch: Long): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/_commits/a$batch")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(p.getParent)
    fs.create(p, true).close()
  }

  /** Allocate and durably record the next batch id for the store whose
    * ledger lives at `storeDir` and whose data tables live under
    * `dataPaths` — from one LISTING of the ledger dir (committed `b<N>`
    * ∪ attempted `a<N>`), no data scan. [[nextBatchId]]'s max(batch)
    * over the raw parquet launches a Spark job reading the batch column
    * of the whole store per mutation — linear in store size, a full
    * column scan at 100 TB — where the listing is one metadata op
    * regardless of scale. Crash safety is unchanged from the data-scan
    * allocator: the attempt marker lands BEFORE any data write, so a
    * crash at any later point burns the id (orphan rows stay invisible
    * to readers, vacuum drops them, and the staged-ledger swap clears
    * the spent markers) — the postings-only-orphan window stays closed
    * without reading the postings. A store with NO attempt markers yet
    * (pre-marker data, or a ledger freshly reset by build/vacuum) may
    * hold marker-less orphans the ledger cannot see, so that first
    * allocation also consults the data scan and takes the max of both;
    * it then records a marker, making every later call listing-only.
    * [[commit]] records the attempt marker alongside the commit marker,
    * so build/vacuum paths that commit batch 0 directly re-arm the
    * fast path immediately.
    */
  def allocateBatchId(spark: SparkSession, storeDir: String,
      dataPaths: Seq[String]): Long = {
    val attempts = attempted(spark, storeDir)
    val committedIds = committed(spark, storeDir)
    val id =
      if (attempts.nonEmpty) (attempts ++ committedIds).max + 1L
      else {
        // No allocation was ever RECORDED here (pre-marker store, or a
        // ledger reset by an old-code vacuum): the data may hold
        // marker-less orphans from an old-code crash that the ledger
        // cannot see, so take the max over the ledger AND a one-time
        // data scan. This allocation records a marker, so every later
        // call is listing-only.
        val fromLedger = committedIds.maxOption.map(_ + 1L).getOrElse(0L)
        val fromData = dataPaths.map(nextBatchId(spark, _))
          .maxOption.getOrElse(0L)
        math.max(fromLedger, fromData)
      }
    recordAttempt(spark, storeDir, id)
    id
  }

  /** Prune spent attempt markers, keeping only the LARGEST `a<id>` —
    * the allocator takes max(attempted ∪ committed) + 1, so every
    * marker below the max is dead weight, and under an
    * incremental-only maintenance cadence (which never resets the
    * ledger the way the full vacuums do) one marker per mutation would
    * otherwise grow the ledger LISTING — the op on every mutation
    * path — without bound. Caller holds the writer lease. A crash
    * mid-prune leaves some stale markers: harmless, next prune gets
    * them.
    */
  def pruneAttemptMarkers(spark: SparkSession, dir: String): Unit = {
    val ids = attempted(spark, dir)
    if (ids.size <= 1) return
    val keep = ids.max
    val fs = new org.apache.hadoop.fs.Path(s"$dir/_commits")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    ids.filter(_ != keep).foreach { id =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_commits/a$id"),
        false): Unit
    }
  }

  /** Default stale-lock TTL: generously above any single append/vacuum
    * (minutes at 100 TB), far below "operator went home".
    */
  val DefaultLockTtlMs: Long = 30 * 60 * 1000L

  /** Acquire the store's writer lease: create `<dir>/_lock` with
    * create-exclusive semantics (atomic on HDFS and local FS — the
    * create FAILS if the file exists, there is no check-then-create
    * window). If a lock is already held, throws — unless its
    * modification time is older than `staleTtlMs` (a crashed writer),
    * in which case the stale lock is broken and taken over.
    *
    * KNOWN LIMIT of filesystem leases: breaking a stale lock is
    * delete-then-create, not compare-and-swap, so two writers arriving
    * at the same expired lock can both break it and both proceed — the
    * same window every FS-marker lease has (object stores offer no
    * fencing token). It needs two writers racing within one create's
    * latency AFTER a third writer already sat dead for the whole TTL;
    * the TTL is sized so that takeover is a rare operator-visible
    * event, not a steady-state path. True fencing needs a coordination
    * service, which this engine deliberately does not require.
    */
  def acquireWriterLock(spark: SparkSession, dir: String,
      staleTtlMs: Long = DefaultLockTtlMs): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/_lock")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(p.getParent)
    def tryCreate(): Boolean =
      try {
        val out = fs.create(p, false) // overwrite=false: create-exclusive
        try out.write(
          s"pid=${ProcessHandle.current().pid()} ts=${System.currentTimeMillis()}"
            .getBytes("UTF-8"))
        finally out.close()
        true
      } catch { case _: java.io.IOException => false }
    if (!tryCreate()) {
      val age = try {
        System.currentTimeMillis() - fs.getFileStatus(p).getModificationTime
      } catch {
        // Holder released between our create and stat: retry below.
        case _: java.io.FileNotFoundException => Long.MaxValue
      }
      if (age > staleTtlMs) fs.delete(p, false): Unit
      if (!tryCreate())
        throw new IllegalStateException(
          s"another writer holds $dir/_lock (age ${age / 1000}s, " +
            s"ttl ${staleTtlMs / 1000}s); concurrent writes to a " +
            "generational store would double rows under one batch id")
    }
  }

  /** Record beside a compacted SNAPSHOT layout (the bucketed postings
    * table, the partitioned ANN dir) the committed-batch set it
    * resolved, so [[snapshotFresh]] can answer "is the probe layout
    * stale?" from two listings — an operational check for the
    * maintenance cron, not something an operator has to remember.
    * `batches` is the set captured WHEN the snapshot resolved
    * generations (not re-read at marker time, which could claim
    * batches the snapshot never saw).
    */
  def writeSnapshotMarker(spark: SparkSession, snapshotDir: String,
      batches: Seq[Long]): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$snapshotDir/_snapshot")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(batches.sorted.mkString(",").getBytes("UTF-8"))
    finally out.close()
  }

  /** Is the snapshot layout at `snapshotDir` current w.r.t. the store
    * at `storeDir`? True iff its marker records exactly the store's
    * committed-batch set. Every append/delete/vacuum changes that set,
    * so any mutation after the snapshot reads as stale; the one alias
    * (a vacuum-then-appends sequence recreating a previously-recorded
    * set) is unobservable when refresh follows vacuum in the same
    * maintenance pass, the `Streams.fanoutVacuum` order.
    */
  def snapshotFresh(spark: SparkSession, snapshotDir: String,
      storeDir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$snapshotDir/_snapshot")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && {
      val in = fs.open(p)
      val recorded = try {
        val buf = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
        new String(buf.toByteArray, "UTF-8")
      } finally in.close()
      recorded == committed(spark, storeDir).sorted.mkString(",")
    }
  }

  /** Release the writer lease (no-op if absent). */
  def releaseWriterLock(spark: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/_lock")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(p, false): Unit
  }

  /** Run `f` under the store's writer lease. */
  def withWriterLock[T](spark: SparkSession, dir: String,
      staleTtlMs: Long = DefaultLockTtlMs)(f: => T): T = {
    acquireWriterLock(spark, dir, staleTtlMs)
    try f finally releaseWriterLock(spark, dir)
  }

  /** [[withWriterLock]], unless `held` names this dir — for mutations
    * running inside a COMPOSITION that already acquired every surface
    * lease upfront (the fan-out sinks: all leases taken in the
    * sequential order BEFORE any surface mutates, so a refusal
    * anywhere is a complete no-op, then the tracks run concurrently
    * with their leases pre-held). The composition owns acquisition
    * AND release; this variant must not re-acquire (the exclusive
    * create would refuse our own lease) nor release early (another
    * track may still be writing under the composition's hold). With
    * the default empty set it is exactly [[withWriterLock]].
    */
  def withWriterLockUnless[T](spark: SparkSession, dir: String,
      held: Set[String])(f: => T): T =
    if (held.contains(dir)) f else withWriterLock(spark, dir)(f)

  /** Acquire the leases of `dirs` in order, run `f` with the set held
    * (to pass on as `heldLocks`), then release them in reverse order —
    * also when an acquisition is refused part-way, so a composition
    * refused on any of its stores mutates none of them.
    */
  def withWriterLocks[T](spark: SparkSession, dirs: Seq[String])(
      f: Set[String] => T): T = {
    val held = scala.collection.mutable.ListBuffer[String]()
    try {
      dirs.foreach { dir =>
        acquireWriterLock(spark, dir)
        held += dir
      }
      f(held.toSet)
    } finally held.reverseIterator.foreach(releaseWriterLock(spark, _))
  }
}
