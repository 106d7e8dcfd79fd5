package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit

/** The lifecycle of an ADDITIVE store, written once: a store whose
  * generations SUM on read (gram counts) instead of resolving each key
  * to its newest row as a [[GenTable]] store does. The gram index
  * (`Corpus.GramStore`) and the substring store's docs + grams
  * (`Streams.SubstringStore`) are additive stores. Each table keeps one
  * `b<id>` dir per generation under the one [[Commits]] ledger at the
  * store dir; each [[AdditiveStore.Table]] names its dir relative to the
  * store (empty: the store dir itself) and its `merge`, which turns the
  * rows of the generations a [[fold]] selects into the fold's rows.
  *
  * A fold cannot commit while its sources are visible: the window
  * between its commit and their uncommit would double every folded
  * value. So the fold records the ids it supersedes in a `_folds`
  * marker inside its first-table dir, before its commit marker, and
  * [[live]] subtracts them from the committed set. Every crash state
  * reads correctly: fold uncommitted, an invisible orphan; fold
  * committed with its sources still committed, the sources excluded by
  * the marker; sources gone, the marker inert.
  */
final class AdditiveStore(tables: Seq[AdditiveStore.Table]) {
  import AdditiveStore.{foldedSources, writeFoldMarker}

  private def roots(dir: String): Seq[String] =
    tables.map(t => if (t.dir.isEmpty) dir else s"$dir/${t.dir}")

  /** The live generations: committed minus the sources of committed
    * folds. */
  def live(spark: SparkSession, dir: String): Seq[Long] = {
    val committed = Commits.committed(spark, dir)
    val folded = foldedSources(spark, roots(dir).head, committed)
    committed.filterNot(folded.contains)
  }

  /** The first table's live rows; None when none is readable. */
  def read(spark: SparkSession, dir: String): Option[DataFrame] =
    Commits.readCommittedBatches(spark, roots(dir).head, live(spark, dir))

  /** FOLD the generation count down to `maxBatches`: the smallest
    * generations by first-table rows (ties on id) become one fresh
    * committed generation, then the sources uncommit and their dirs are
    * deleted. Also the store's hygiene pass: it finishes a crashed
    * predecessor's cleanup, sweeps orphan batch dirs and prunes spent
    * attempt markers. Fold cost follows the folded generations, never
    * the store. Returns generations folded.
    */
  def fold(spark: SparkSession, dir: String, maxBatches: Int): Int =
   Commits.withWriterLock(spark, dir) {
    val rs = roots(dir)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def drop(batches: Seq[Long]): Unit = {
      batches.foreach(Commits.uncommit(spark, dir, _))
      for (root <- rs; b <- batches)
        fs.delete(new Path(s"$root/b$b"), true): Unit
    }
    // A committed fold whose sources are still committed: a crashed
    // predecessor's cleanup, finished here.
    val before = Commits.committed(spark, dir)
    drop(foldedSources(spark, rs.head, before).filter(before.contains).toSeq)
    val committed = Commits.committed(spark, dir)
    rs.foreach(Commits.sweepOrphanBatchDirs(spark, _, committed))
    Commits.pruneAttemptMarkers(spark, dir)
    if (committed.size <= maxBatches) return 0
    // A moved table's rows keep their original `batch` (recency), so
    // sizes key on the DIRECTORY a row lives in: keyed on the column, a
    // prior fold's dir would read as empty, be selected first, move
    // none of its rows and be deleted.
    val sizes = committed.flatMap(b => Commits.readCommittedBatches(spark,
      rs.head, Seq(b)).map(_.select(lit(b).as("batch"))))
    if (sizes.isEmpty) return 0
    val selected = Commits.compactionSelection(
      sizes.reduce(_.unionByName(_)), committed, maxBatches)
    val id = Commits.allocateBatchId(spark, dir)
    tables.zip(rs).foreach { case (t, root) =>
      Commits.readCommittedBatches(spark, root, selected) match {
        case Some(rows) => t.merge(rows, id).write.parquet(s"$root/b$id")
        case None =>
          // Legitimate only when no selected dir holds data: folding on
          // past a dir the reader could not surface would drop its rows
          // (for gram counts, weaken every later screen). Refused before
          // the commit: the fold dir is an orphan the next pass sweeps.
          val unread = selected.filter(b => Commits.holdsData(fs,
            new Path(s"$root/b$b")))
          if (unread.nonEmpty) throw new IllegalStateException(
            s"generations $unread under $root hold data files the " +
              "committed-batch reader could not surface; refusing to fold")
      }
    }
    writeFoldMarker(spark, rs.head, id, selected)
    // Commit point: the fold is live and its sources dead to readers,
    // however far the cleanup below gets.
    Commits.commit(spark, dir, id)
    drop(selected)
    selected.size
   }
}

object AdditiveStore {

  /** One table of an additive store: `dir` relative to the store, and
    * `merge(rows, foldId)`, the fold's rows from the folded ones. */
  final case class Table(dir: String, merge: (DataFrame, Long) => DataFrame)

  /** Record inside fold `batch`'s dir the ids it supersedes
    * (`<tableDir>/b<batch>/_folds`). Written before the fold's commit
    * marker. */
  private def writeFoldMarker(spark: SparkSession, tableDir: String,
      batch: Long, sources: Seq[Long]): Unit = {
    val p = new Path(s"$tableDir/b$batch/_folds")
    val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(p, true)
    try out.write(sources.sorted.mkString(",").getBytes("UTF-8"))
    finally out.close()
  }

  /** Ids superseded by the committed folds among `committed`: one
    * listing and one tiny marker read per fold. */
  private def foldedSources(spark: SparkSession, tableDir: String,
      committed: Seq[Long]): Set[Long] = {
    val fs = new Path(tableDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    committed.flatMap { b =>
      val m = new Path(s"$tableDir/b$b/_folds")
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
}
