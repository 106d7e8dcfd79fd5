package graft.sources

import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{array_remove, col, collect_list,
  count, explode, lit, max, max_by, sort_array, struct, sum, when}
import org.apache.spark.storage.StorageLevel

/** The generational-store lifecycle, written once for every store
  * that keeps its rows in per-batch `b<id>` directories under a
  * [[Commits]] ledger: the inverted index (`Search`), the merge and
  * chunk stores (`Streams`), and the ANN and PQ stores (`Similarity`;
  * the chunk-vector store is a PQ store). The gram stores, whose
  * generations sum on read, share [[AdditiveStore]] instead; the
  * near-dup gate's store keeps the same `b<id>` layout and ledger and
  * has no maintenance.
  *
  * A store is described by its KEY column, a TOMBSTONE predicate over a
  * membership row, the non-key columns of the TOMBSTONE ROW a delete
  * writes, the GATE-HASH column whose equality makes a redelivered row
  * a no-op, its MEMBERSHIP table (one row per key per generation; a
  * key's current generation is its max committed batch), its
  * DEPENDENT tables (postings, chunks): rows keyed by (key, batch),
  * live exactly when their membership row is, and its CARRIED tables
  * (the PQ store's coarse centroids): per-generation `b<id>` dirs
  * outside the key space. Each [[GenTable.Table]] names its directory
  * relative to the store (empty when the table is the store dir
  * itself); a carried table is named by its directory alone.
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
  *     attempted, write the generation, commit it when it holds rows
  *     (or always: a rebuild, a reroute, rules 1 and 4 below);
  *   - [[rollbackTo]]: one compensating generation back to how the
  *     store read at a [[markDelivery]] marker (its ledger id). A
  *     reclaim first drops the markers at or above its oldest batch.
  *
  * Commit order: the allocation records the id's attempt marker
  * BEFORE any data write, the store writes its generation (carried and
  * dependent tables before membership), and the commit marker lands
  * LAST. A crash before the marker leaves rows under an uncommitted id
  * — invisible to readers, never reused (the attempt marker burns it),
  * swept by the next maintenance pass. A delete writes only membership
  * rows, so a crash anywhere in it leaves the store reading as it did.
  *
  * The MAINTENANCE half, also under the lease, is one pass — sweep,
  * select, rewrite, reclaim — with three selections:
  *   - [[vacuumIncremental]]: the batches whose dead-row fraction
  *     reaches a threshold (dead = superseded by a later generation, or
  *     any row of a key whose current row is a tombstone); clean
  *     batches' files stay untouched, so the cost scales with the dead
  *     data, not the corpus;
  *   - [[compactBatches]]: the smallest batches, so the committed batch
  *     count comes down to a bound (the micro-batch cadence grows it;
  *     directory listings and file handles pay for it at scale);
  *   - [[vacuumFull]]: every committed batch, leaving one batch with
  *     one row per live key and no tombstone.
  * [[replaceAll]] commits a rewrite the store computed itself (the PQ
  * reroute) as one generation and reclaims every batch before it.
  *
  * The READ half, [[current]] and [[memo]], resolves once per
  * committed set what every probe of that set would recompute.
  *
  * A pass rewrites the selected batches' survivors — live current
  * generations, plus tombstones whose key still has rows in an
  * UNSELECTED batch (dropping one would resurrect the older
  * generation) — as one fresh generation through [[commitGeneration]],
  * then reclaims the selected batches. After the commit the reclaimed
  * batches are merely superseded (max-batch resolution ignores them;
  * carried tombstones agree). Markers go in ascending id order (an
  * uncarried tombstone outlives its key's older rows), then directories:
  * a crash inside the reclaim leaves invisible orphans and revives no
  * row. Every state is readable and the next pass converges. Its rules:
  *   1. EMPTY STORES STAY BUILT: a pass whose selection covers every
  *      committed batch commits its generation even when no row
  *      survives, so a store with every key deleted reads as empty,
  *      not as unbuilt.
  *   2. A carried table lives per generation: the writer that produces
  *      one (a PQ build or reroute) writes it under its own generation,
  *      before the commit marker.
  *   3. ONE READER RULE: the current carried dir is the one at the
  *      largest committed id that has one ([[carriedDir]]).
  *   4. CARRY FORWARD: a pass that reclaims the batch holding a current
  *      carried dir first copies it under its own new generation, and
  *      commits that generation even with zero rows.
  *   5. Uncommitted carried dirs go in the same orphan sweep as the
  *      other tables.
  */
final class GenTable(private[graft] val key: String,
    private[graft] val isTombstone: Column,
    private[graft] val tombstone: Seq[Column], hash: String,
    membership: GenTable.Table, dependents: Seq[GenTable.Table] = Nil,
    carried: Seq[String] = Nil) {
  import GenTable.{AsOf, CurBatch, CurHash, CurTomb, Table}

  /** Write, sweep and reclaim order: dependents before membership (the
    * crash contract above). */
  private[graft] val tables = dependents :+ membership

  private def liveDir(dir: String, t: Table): String =
    if (t.live.isEmpty) dir else s"$dir/${t.live}"

  /** Every per-batch directory root of the store: carried, dependent,
    * then membership tables. */
  private def batchRoots(dir: String): Seq[String] =
    carried.map(c => s"$dir/$c") ++ tables.map(liveDir(dir, _))

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

  /** Each key's newest row among membership `rows` (batch included),
    * followed by the `extra` columns computed on it: one aggregate, no
    * join back. */
  private def newest(rows: DataFrame, extra: Column*): DataFrame =
    rows.groupBy(col(key))
      .agg(max_by(struct(rows.columns.map(col).toSeq ++ extra: _*),
        col("batch")).as("__r"))
      .select(col("__r.*"))

  /** Each key's newest committed membership row: every column its
    * writer wrote, `batch`, and [[GenTable.CurTomb]]. None when nothing
    * is committed. CACHED (probes): one view per committed set,
    * persisted `MEMORY_AND_DISK` on first use and reused until the
    * `_commits` listing (ids with their markers' modification times)
    * changes, so a commit from any process, or a store rebuilt at the
    * same path, reads as a new set. UNCACHED (maintenance, a mutation's
    * reads: they must not hold a view of the set they replace): the
    * same rows by a plan no view matches.
    */
  private[graft] def current(spark: SparkSession, dir: String,
      cached: Boolean = true): Option[DataFrame] =
    if (cached) view(spark, dir).flatMap(_.rows)
    else readMembership(spark, dir, Commits.committed(spark, dir))
      .map(newest(_).withColumn(CurTomb, isTombstone))

  /** `f` evaluated once per committed set of `dir`, like [[current]]. */
  private[graft] def memo[T](spark: SparkSession, dir: String,
      name: String)(f: => T): T =
    view(spark, dir).fold(f)(_.memo(name, f))

  private def view(spark: SparkSession, dir: String): Option[GenTable.View] =
    GenTable.view(spark, dir)(readMembership(spark, dir, _).map(rows =>
      newest(rows, isTombstone.as(CurTomb))
        .persist(StorageLevel.MEMORY_AND_DISK)))

  /** Each live key's current committed row, with every column its
    * writer wrote and no `batch`. None when nothing is committed. */
  private[graft] def live(spark: SparkSession, dir: String): Option[DataFrame] =
    current(spark, dir).map(_.filter(!col(CurTomb)).drop("batch", CurTomb))

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

  /** One generation: allocate its batch id from the ledger, run
    * `write` — which writes the generation's rows under that id and
    * returns their count — and commit the id when the count is
    * positive, or `always`. Returns the count.
    */
  private[graft] def commitGeneration(spark: SparkSession, dir: String,
      always: Boolean = false)(write: Long => Long): Long = {
    val batchId = Commits.allocateBatchId(spark, dir)
    val n = write(batchId)
    if (n > 0 || always) Commits.commit(spark, dir, batchId)
    n
  }

  /** The current dir of carried table `name` and its batch id: the
    * `b<id>` dir at the largest `committed` id that has one. */
  private[graft] def carriedDir(spark: SparkSession, dir: String,
      committed: Seq[Long], name: String): Option[(Long, String)] =
    Commits.batchDirs(fsOf(spark, dir), new Path(s"$dir/$name")).keys
      .filter(committed.contains).maxOption.map(b => b -> s"$dir/$name/b$b")

  /** `rows` (no `batch` column) written as batch `batchId` of the
    * membership table. */
  private[graft] def writeMembership(rows: DataFrame, dir: String,
      batchId: Long): Unit =
    rows.withColumn("batch", lit(batchId))
      .write.parquet(s"${liveDir(dir, membership)}/b$batchId")

  /** [[writeMembership]] returning the rows written, counted by the
    * write itself (an Observation: no extra job). */
  private[graft] def writeMembershipCounted(rows: DataFrame, dir: String,
      batchId: Long): Long = {
    val obs = org.apache.spark.sql.Observation()
    writeMembership(rows.observe(obs, count(lit(1)).as("n")), dir, batchId)
    obs.get("n").asInstanceOf[Long]
  }

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

  /** FULL vacuum: every committed batch rewritten as one generation —
    * one row per live key, no tombstone. */
  def vacuumFull(spark: SparkSession, dir: String): Unit =
    maintain(spark, dir)(identity): Unit

  /** One maintenance pass: sweep, select, rewrite, reclaim. */
  private def maintain(spark: SparkSession, dir: String)(
      select: Seq[Long] => Seq[Long]): Int =
   Commits.withWriterLock(spark, dir) {
    val committed = Commits.committed(spark, dir)
    batchRoots(dir).foreach(
      Commits.sweepOrphanBatchDirs(spark, _, committed))
    Commits.pruneAttemptMarkers(spark, dir)
    if (committed.isEmpty) return 0
    val selected = select(committed).sorted
    if (selected.isEmpty) return 0
    rewriteAndCommit(spark, dir, committed, selected)
    reclaim(spark, dir, selected)
    selected.size
   }

  /** The committed batches whose dead-row fraction reaches the
    * threshold. Dead: a superseded row, or any row of a key whose
    * current row is a tombstone, except that tombstone while its key
    * keeps a row in an unselected batch (the rewrite would only carry
    * it). Driver-side result bounded by the batch COUNT, never by rows.
    * Package-private so specs can replay a pass step by step.
    */
  private[graft] def dirtyBatches(spark: SparkSession, dir: String,
      committed: Seq[Long], minDeadFraction: Double): Seq[Long] = {
    val rows = readMembership(spark, dir, committed)
      .getOrElse(return Seq.empty)
    // One aggregate per key carries its batches along: no join back; a
    // current tombstone row is grouped by the key's other batches.
    val tomb = col("batch") === col(CurBatch) && col(CurTomb)
    val counts = rows.groupBy(col(key))
      .agg(collect_list(col("batch")).as("__batches"),
        max(col("batch")).as(CurBatch),
        max_by(isTombstone, col("batch")).as(CurTomb))
      .select(explode(col("__batches")).as("batch"), col("__batches"),
        col(CurBatch), col(CurTomb))
      .select(col("batch"), when(tomb, sort_array(array_remove(
          col("__batches"), col(CurBatch)))).as("__others"),
        (col("batch") < col(CurBatch) || col(CurTomb)).as("__dead"))
      .groupBy(col("batch"), col("__others"))
      .agg(count(lit(1)).as("__n"),
        sum(when(col("__dead"), 1L).otherwise(0L)).as("__dead_rows"))
      .collect()
      .map(r => (r.getLong(0), Option(r.getSeq[Long](1)).map(_.toSet),
        r.getLong(2), r.getLong(3)))
    val total = counts.groupMapReduce(_._1)(_._3)(_ + _)
    def select(s: Set[Long]): Set[Long] = counts
      .filter { case (_, others, _, _) => others.forall(_.subsetOf(s)) }
      .groupMapReduce(_._1)(_._4)(_ + _)
      .collect { case (b, dead) if dead > 0 &&
        dead.toDouble / total(b) >= minDeadFraction => b }.toSet
    // Monotone: iterate down from every batch to the largest fixpoint.
    Iterator.iterate(committed.toSet)(select)
      .sliding(2).collectFirst { case Seq(a, b) if a == b => a }.get
      .toSeq.sorted
  }

  /** Rewrite the `selected` batches' survivors as one fresh batch and
    * COMMIT it when the write counted a row — or always when the
    * selection covers every committed batch (rule 1) or a carried dir
    * moves into it (rule 4); an empty uncommitted rewrite is an orphan
    * the next sweep drops.
    * Package-private so specs can simulate a crash exactly here: new
    * batch committed, reclaimed markers still present.
    */
  private[graft] def rewriteAndCommit(spark: SparkSession, dir: String,
      committed: Seq[Long], selected: Seq[Long]): Unit = {
    val rows = readMembership(spark, dir, committed).get
    val all = rows.columns.map(col).toSeq
    val inSelected = col("batch").isin(selected: _*)
    val whole = committed.forall(selected.contains)
    // Persisted with their batch (the dependents join on it). A whole
    // pass keeps no tombstone: each key's newest row, one aggregate.
    val survivors = (if (whole) newest(rows).filter(!isTombstone)
      else {
        val current = rows.join(currencyOf(rows).select(col(key),
            col(CurBatch), col(CurTomb)), Seq(key))
          .filter(inSelected && col("batch") === col(CurBatch))
        current.filter(!col(CurTomb)).unionByName(current
          .filter(col(CurTomb)).join(rows.filter(!inSelected)
            .select(col(key)), Seq(key), "left_semi"))
      }).select(all: _*).persist(StorageLevel.MEMORY_AND_DISK)
    val carry = carried.flatMap(c => carriedDir(spark, dir, committed, c)
      .filter(d => selected.contains(d._1)).map(d => c -> d._2))
    val keepBuilt = carry.nonEmpty || whole
    try {
      commitGeneration(spark, dir, always = keepBuilt) { b =>
        val fs = fsOf(spark, dir)
        carry.foreach { case (c, src) =>
          FileUtil.copy(fs, new Path(src), fs, new Path(s"$dir/$c/b$b"),
            false, spark.sparkContext.hadoopConfiguration)
        }
        rewriteDependents(spark, dir, selected,
          survivors.filter(!isTombstone).select(col(key), col("batch")), b)
        writeMembershipCounted(survivors.drop("batch"), dir, b)
      }: Unit
    } finally { survivors.unpersist(); () }
  }

  /** Each dependent table's rows in `batches` whose (key, batch) pair
    * is in `keys`, rewritten as batch `batchId`. */
  private def rewriteDependents(spark: SparkSession, dir: String,
      batches: Seq[Long], keys: DataFrame, batchId: Long): Unit =
    dependents.foreach(t =>
      Commits.readCommittedBatches(spark, liveDir(dir, t), batches)
        .foreach(d => t.write(d.join(keys, Seq(key, "batch"))
          .withColumn("batch", lit(batchId)))
          .write.parquet(s"${liveDir(dir, t)}/b$batchId")))

  /** Remove the reclaimed batches' commit markers, oldest first, then
    * their directories (marker first: a dir without a marker is an
    * invisible orphan; a marker without a dir, a readable missing batch).
    */
  private def reclaim(spark: SparkSession, dir: String,
      selected: Seq[Long]): Unit = {
    selected.minOption.foreach(dropDeliveries(spark, dir, _))
    selected.sorted.foreach(Commits.uncommit(spark, dir, _))
    val fs = fsOf(spark, dir)
    for (root <- batchRoots(dir); b <- selected)
      fs.delete(new Path(s"$root/b$b"), true): Unit
  }

  /** Record that the store, as it reads now, is delivery `name`'s
    * result: `_asof/<name>` holds the largest committed id. Caller holds
    * the writer lease. */
  private[graft] def markDelivery(spark: SparkSession, dir: String,
      name: String): Unit =
    StatePointer.writeFile(s"$dir/$AsOf", name,
      Commits.committed(spark, dir).maxOption.getOrElse(-1L).toString,
      s"$name.tmp")

  /** Drop every delivery marker at or above ledger id `from` (or
    * unreadable): a reclaim from `from` up removes rows their as-of
    * views read. Runs before the reclaim's first uncommit, so a crash
    * leaves no marker over a partial view. */
  private def dropDeliveries(spark: SparkSession, dir: String,
      from: Long): Unit = {
    val fs = fsOf(spark, dir)
    val root = new Path(s"$dir/$AsOf")
    if (fs.exists(root)) fs.listStatus(root).foreach { m =>
      if (StatePointer.readFile(root.toString, m.getPath.getName)
          .flatMap(_.toLongOption).forall(_ >= from))
        fs.delete(m.getPath, false): Unit
    }
  }

  /** ROLL BACK to delivery `name` ([[markDelivery]]): one compensating
    * generation that restores, for every key whose current hash differs
    * from its hash as of the marked ledger id, that row — or a tombstone
    * when the key was absent then. Later markers stay valid, so the
    * store may roll forward again. Throws IllegalArgumentException when
    * no marker `name` exists.
    */
  private[graft] def rollbackTo(spark: SparkSession, dir: String,
      name: String): Unit = Commits.withWriterLock(spark, dir) {
    val asOf = StatePointer.readFile(s"$dir/$AsOf", name)
      .flatMap(_.toLongOption)
      .getOrElse(throw new IllegalArgumentException(s"no $name under $dir"))
    readMembership(spark, dir, Commits.committed(spark, dir)).foreach { rows =>
      val past = newest(rows.filter(col("batch") <= asOf)).drop("batch")
      val now = currencyOf(rows).select(col(key), col(CurHash), col(CurTomb))
      val restore = past.join(now, Seq(key), "left")
        .filter(col(CurHash).isNull || col(CurHash) =!= col(hash))
        .select(past.columns.map(col).toSeq: _*)
      val bury = now.filter(!col(CurTomb)).join(past, Seq(key), "left_anti")
        .select(col(key) +: tombstone: _*)
      commitGeneration(spark, dir) { b =>
        writeMembershipCounted(restore.unionByName(bury), dir, b)
      }: Unit
    }
  }

  /** Replace the whole store: one generation that `write` produces —
    * every live key, and every carried table it keeps — committed even
    * with zero rows, then every batch committed before it reclaimed.
    * In the window between the two, max-batch currency already answers
    * from the new generation. Caller holds the writer lease.
    */
  private[graft] def replaceAll(spark: SparkSession, dir: String)(
      write: Long => Unit): Unit = {
    val committed = Commits.committed(spark, dir)
    commitGeneration(spark, dir, always = true) { b => write(b); 0L }: Unit
    reclaim(spark, dir, committed)
  }
}

object GenTable {

  /** One table of a generational store: `live` is its directory under
    * the store (empty: the store dir itself), and `write` the layout
    * transform applied to every rewrite of it (the postings keep their
    * term clustering).
    */
  final case class Table(live: String,
      write: DataFrame => DataFrame = identity)

  /** Column names of [[GenTable.currency]]'s per-key row: the key's
    * current batch, its gate hash there, and whether it is a tombstone.
    */
  val CurBatch = "__cur_batch"
  val CurHash = "__cur_hash"
  val CurTomb = "__cur_tomb"

  /** Store dirs whose [[GenTable.current]] view stays persisted. */
  val MaxViews = 16

  /** A committed set (its `ledger`), its view and its memoized values. */
  private final class View(val spark: SparkSession,
      val ledger: Seq[(Long, Long)], val rows: Option[DataFrame]) {
    private val memos = scala.collection.concurrent.TrieMap.empty[String, Any]
    def memo[T](name: String, f: => T): T =
      memos.getOrElseUpdate(name, f).asInstanceOf[T]
    def release(): Unit = rows.foreach(_.unpersist(blocking = false))
  }

  /** The views by store dir (normalized), least recently used first. */
  private val views = new java.util.LinkedHashMap[String, View](MaxViews,
      0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[String, View]): Boolean =
      size > MaxViews && { e.getValue.release(); true }
  }

  /** The view of `dir`'s committed set: the held one while the ledger
    * listing is unchanged, else one `build` makes from the committed
    * ids. None when nothing is committed. */
  private def view(spark: SparkSession, dir: String)(
      build: Seq[Long] => Option[DataFrame]): Option[View] = {
    val ledger = Commits.committedStamped(spark, dir)
    views.synchronized {
      Option(views.get(new Path(dir).toString))
        .filter(v => (v.spark eq spark) && v.ledger == ledger)
        .orElse {
          forget(dir)
          Option.when(ledger.nonEmpty) {
            val v = new View(spark, ledger, build(ledger.map(_._1)))
            views.put(new Path(dir).toString, v)
            v
          }
        }
    }
  }

  /** Drop `dir`'s view: its committed set changed ([[Commits.commit]],
    * [[Commits.uncommit]]). */
  private[sources] def forget(dir: String): Unit =
    views.synchronized(
      Option(views.remove(new Path(dir).toString)).foreach(_.release()))

  /** Tombstone marker in a membership table's `content_hash` column
    * (the inverted index, the chunk store) — real hashes are 64-hex
    * sha256, so no collision is possible.
    */
  val Tombstone = "__tombstone__"

  /** The store-relative dir of the delivery markers
    * ([[GenTable.markDelivery]]). */
  private val AsOf = "_asof"
}
