package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Commit-marker ledger shared by every parquet store that keeps one
  * `b<id>` dir per generation: the GENERATIONAL stores (the merge store,
  * the inverted index, the chunk store, the ANN store and the PQ
  * stores; their lifecycle is [[GenTable]]), the ADDITIVE gram stores
  * (the gram index and the substring store; [[AdditiveStore]]) and the
  * near-dup gate's docs, signatures and bands: an append writes
  * its parquet slices tagged with a fresh batch id and then creates the
  * empty marker file `<dir>/_commits/b<batch>` as its LAST step — the
  * linearization point. Readers only ever see committed batches, so a crash between
  * the slice writes and the marker leaves orphan rows that are
  * invisible forever; the next delivery allocates a fresh id above
  * every id ever ATTEMPTED (recorded as an `a<batch>` marker before
  * the batch's first data write — see [[allocateBatchId]]), so
  * at-least-once redelivery can never double a row under an id a
  * reader will trust.
  *
  * SINGLE WRITER ENFORCED by [[withWriterLock]]: the ledger's id
  * allocation is read-then-write, so two concurrent appends could
  * allocate the same batch id and double rows under one committed
  * marker. The pointer-swap state stores (the `Streams` CMS sink, the
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

  /** Batch ids whose commit marker exists, ascending. */
  def committed(spark: SparkSession, dir: String): Seq[Long] =
    committedStamped(spark, dir).map(_._1)

  /** [[committed]], each id with its marker's modification time: the
    * name of a committed set ([[GenTable.current]]). */
  def committedStamped(spark: SparkSession, dir: String): Seq[(Long, Long)] = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/_commits")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(_.getPath.getName.startsWith("b"))
      .map(s => s.getPath.getName.drop(1).toLong -> s.getModificationTime)
      .sorted
  }

  /** Create the marker — the append's atomic commit point. Also
    * records the batch's attempt marker (idempotent), so a committed id
    * still counts as attempted after a reclaim removes its commit marker.
    */
  def commit(spark: SparkSession, dir: String, batch: Long): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/_commits/b$batch")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(p.getParent)
    fs.create(new org.apache.hadoop.fs.Path(s"$dir/_commits/a$batch"), true)
      .close()
    fs.create(p, true).close()
    GenTable.forget(dir)
  }

  /** The `b<id>` batch subdirectories present under a generational
    * store table — one filesystem listing, no data touched. Each batch
    * in its own subdirectory is the layout contract the standing stores
    * share (inverted index, chunk store, ANN and PQ stores): committed
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

  /** A data file of a batch dir: hidden files ("."-prefixed checksums,
    * "_"-prefixed markers) are not, so a dir holding only those is
    * skipped like an empty one instead of failing schema inference. */
  private def isData(s: org.apache.hadoop.fs.FileStatus): Boolean = {
    val n = s.getPath.getName
    s.isFile && !n.startsWith("_") && !n.startsWith(".")
  }

  /** Does batch dir `d` exist and hold a data file? */
  private[sources] def holdsData(fs: org.apache.hadoop.fs.FileSystem,
      d: org.apache.hadoop.fs.Path): Boolean =
    fs.exists(d) && fs.listStatus(d).exists(isData)

  /** Read the COMMITTED generations of the per-batch-directory table
    * at `tableDir`: the committed ids' subdirectories that hold data
    * files (a rewrite whose join produced zero rows leaves a file-less
    * dir that would break schema inference). Files at the table root
    * are not store data and are never read. None when nothing
    * readable exists. Plans without a Spark job: the per-batch
    * listings feed [[ParquetRead]].
    */
  def readCommittedBatches(spark: SparkSession, tableDir: String,
      committed: Seq[Long]): Option[
      org.apache.spark.sql.DataFrame] = {
    val base = new org.apache.hadoop.fs.Path(tableDir)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val present = batchDirs(fs, base)
    val listed = committed.flatMap(b => present.get(b).map(d =>
        s"$tableDir/b$b" -> fs.listStatus(d).toSeq))
      .filter(_._2.exists(isData))
    if (listed.isEmpty) None
    else Some(ParquetRead(spark, listed.map(_._1),
      listed = Some(listed.flatMap(_._2))))
  }

  /** Total bytes of the visible data files in the table's committed
    * `b<id>` dirs — a LISTING-ONLY size signal for probe
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
    // Unlocked listing racing a concurrent vacuum/compact: a dir
    // present a moment ago may be gone by listStatus time. Treat a
    // vanished dir as 0 bytes.
    def safeBytes(d: org.apache.hadoop.fs.Path): Long =
      try fs.listStatus(d).filter(isData).map(_.getLen).sum
      catch { case _: java.io.FileNotFoundException => 0L }
    val present = batchDirs(fs, base)
    committed(spark, tableDir).flatMap(present.get).map(safeBytes).sum
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

  /** Remove ONE batch's commit marker — the incremental vacuum's
    * reclaim step (its attempt marker stays, so the id is never
    * reallocated). The batch's rows become invisible the moment the
    * marker is gone; its directories are deleted after.
    */
  def uncommit(spark: SparkSession, dir: String, batch: Long): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/_commits/b$batch")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(p, false)
    GenTable.forget(dir)
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

  /** Allocate and durably record the next batch id of the store whose
    * ledger lives at `storeDir`: max(committed `b<N>` ∪ attempted
    * `a<N>`) + 1, from one listing of the ledger dir, whatever the
    * store's size. Every writer allocates before its first data write,
    * so a crash at any later point burns the id: its orphan rows stay
    * invisible and the maintenance sweep drops them.
    */
  def allocateBatchId(spark: SparkSession, storeDir: String): Long = {
    val id = (attempted(spark, storeDir) ++ committed(spark, storeDir))
      .maxOption.fold(0L)(_ + 1L)
    recordAttempt(spark, storeDir, id)
    id
  }

  /** Prune spent attempt markers, keeping only the LARGEST `a<id>`:
    * the allocator takes max(attempted ∪ committed) + 1, so the others
    * would only grow the ledger LISTING every mutation pays. Caller
    * holds the writer lease; a crash mid-prune leaves stale markers
    * that the next prune gets.
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
    * committed-batch set. Every append, delete, vacuum and rebuild
    * commits an id above every id ever attempted, so any mutation after
    * the snapshot reads as stale.
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
      recorded == committed(spark, storeDir).mkString(",")
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
