package graft.sources

import graft.SparkSpec
import graft.operators.{Search, Similarity}
import graft.streaming.Streams
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Conformance of the shared lifecycle core: the same cases run
  * against all four generational stores — the inverted index, the
  * chunk store, the ANN store and the PQ store. Each store is built to
  * the same shape (a bulk batch, a re-delivered change, a takedown and
  * two micro-appends: five committed batches, dead rows in two of
  * them). The maintenance cases assert that the store's own read
  * surface answers exactly as before maintenance; the write-half cases
  * drive each store's public append and delete.
  */
class GenTableSpec extends SparkSpec {
  import spark.implicits._

  /** One store under test: its descriptor, a builder to the common
    * shape, a canonical (sorted) live read, its live ids, and its
    * public delete and append of one id of the bulk batch (the row the
    * build appended for it).
    */
  private case class StoreCase(name: String, table: GenTable,
      build: String => Unit, read: String => Seq[String],
      liveIds: String => Set[Long], delete: (String, Long) => Long,
      append: (String, Long) => Long)

  private def ids(df: DataFrame): Set[Long] =
    df.collect().map(_.getLong(0)).toSet

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private val text = Seq(
    (1L, "spark engine spark spark"),
    (2L, "spark engine vector"),
    (3L, "engine row scan filter merge sort"),
    (4L, "vector vector index"),
    (5L, "a long document about spark and many other words"))
    .toDF("doc_id", "text")
  private def micro(i: Int): DataFrame =
    Seq((100L + i, s"micro doc $i spark vector")).toDF("doc_id", "text")
  private val changed =
    Seq((4L, "vector vector index updated")).toDF("doc_id", "text")

  private def vecs(ids: Seq[Long], dims: Int): DataFrame =
    ids.map(i => (i, Seq.tabulate(dims)(d =>
      math.cos(i * 0.7 + d * 1.3).toFloat))).toDF("id", "vec")

  private val stores = Seq(
    StoreCase("index", Search.IndexStore,
      dir => {
        Search.buildIndex(text, "doc_id", "text", dir)
        Search.indexAppend(changed, "doc_id", "text", dir)
        Search.indexDelete(spark, dir, Seq(3L).toDF("doc_id"))
        (1 to 2).foreach(i =>
          Search.indexAppend(micro(i), "doc_id", "text", dir))
      },
      dir => sorted(Search.bm25FromIndexTopK(spark, dir,
        Seq("spark", "vector", "engine"), 20)),
      dir => ids(Search.indexLiveDocs(spark, dir).get.select("doc_id")),
      (dir, id) => Search.indexDelete(spark, dir, Seq(id).toDF("doc_id")),
      (dir, id) => Search.indexAppend(text.filter(col("doc_id") === id),
        "doc_id", "text", dir)),
    StoreCase("chunk", Streams.ChunkStore,
      dir => {
        def ingest(df: DataFrame): Unit =
          Streams.chunkIngestBatch(df, dir, "doc_id", "text", 3, 1): Unit
        ingest(text)
        ingest(changed)
        Streams.chunkStoreDelete(spark, dir, Seq(3L).toDF("doc_id"))
        (1 to 2).foreach(i => ingest(micro(i)))
      },
      dir => sorted(Streams.chunkStoreRead(spark, dir).get),
      dir => ids(Streams.chunkStoreRead(spark, dir).get.select("doc_id")),
      (dir, id) =>
        Streams.chunkStoreDelete(spark, dir, Seq(id).toDF("doc_id")),
      (dir, id) => Streams.chunkIngestBatch(
        text.filter(col("doc_id") === id), dir, "doc_id", "text", 3, 1)),
    StoreCase("ann", Similarity.AnnStore,
      dir => {
        Similarity.annStoreAppend(vecs(0L until 12L, 2), dir, 4, 2)
        Similarity.annStoreAppend(vecs(Seq(4L), 2)
          .withColumn("vec", array(lit(0.3f), lit(-0.9f))), dir, 4, 2)
        Similarity.annStoreDelete(spark, dir, Seq(3L).toDF("id"))
        (1 to 2).foreach(i =>
          Similarity.annStoreAppend(vecs(Seq(100L + i), 2), dir, 4, 2))
      },
      dir => sorted(Similarity.annStoreTopK(spark, dir,
        vecs(0L until 4L, 2), planes = 4, dims = 2, k = 4)
        .select("qid", "cid", "score", "rnk")),
      dir => ids(Similarity.annStoreLiveIds(spark, dir)),
      (dir, id) => Similarity.annStoreDelete(spark, dir, Seq(id).toDF("id")),
      (dir, id) => Similarity.annStoreAppend(vecs(Seq(id), 2), dir, 4, 2)),
    StoreCase("pq", Similarity.PqStore,
      dir => {
        Similarity.pqStoreBuild(vecs(0L until 12L, 4), dir, m = 2,
          subDims = 2, codes = 2, iters = 2)
        Similarity.pqStoreAppend(vecs(Seq(4L), 4)
          .withColumn("vec", array(Seq.fill(4)(lit(0.5f)): _*)), dir)
        Similarity.pqStoreDelete(spark, dir, Seq(3L).toDF("id"))
        (1 to 2).foreach(i =>
          Similarity.pqStoreAppend(vecs(Seq(100L + i), 4), dir))
      },
      dir => sorted(Similarity.pqStoreTopK(spark, dir,
        vecs(0L until 4L, 4), k = 4).select("qid", "cid", "rnk")),
      dir => ids(Similarity.pqStoreLiveIds(spark, dir)),
      (dir, id) => Similarity.pqStoreDelete(spark, dir, Seq(id).toDF("id")),
      (dir, id) => Similarity.pqStoreAppend(vecs(Seq(id), 4), dir)))

  private def freshDir(s: StoreCase, tag: String): String =
    java.nio.file.Files.createTempDirectory(s"gen-$tag-${s.name}")
      .toString + "/store"

  private def fs(dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def tableDir(dir: String, t: GenTable.Table): String =
    if (t.live.isEmpty) dir else s"$dir/${t.live}"

  private def batchDirs(dir: String, t: GenTable.Table): Set[Long] =
    Commits.batchDirs(fs(dir), new Path(tableDir(dir, t))).keySet

  /** A copy of the store at `dir`, for a pass that must not touch it. */
  private def copyOf(s: StoreCase, dir: String, tag: String): String = {
    val copy = freshDir(s, tag)
    FileUtil.copy(fs(dir), new Path(dir), fs(copy), new Path(copy), false,
      spark.sparkContext.hadoopConfiguration)
    copy
  }

  /** Every row on disk, committed or not, of each of the store's
    * tables, without its batch id: what a pass left physically live. */
  private def onDisk(s: StoreCase, dir: String): Seq[Seq[String]] =
    s.table.tables.map(t => sorted(spark.read
      .option("recursiveFileLookup", "true").parquet(tableDir(dir, t))
      .drop("batch")))

  /** Every committed key appears exactly once: the store converged. */
  private def assertConverged(s: StoreCase, dir: String): Unit = {
    val rows = Commits.readCommittedBatches(spark,
      tableDir(dir, s.table.tables.last), Commits.committed(spark, dir)).get
    assert(rows.count() == rows.select(s.table.key).distinct().count(),
      s"${s.name}: superseded generations survived the pass")
  }

  stores.foreach { s =>
    test(s"${s.name}: a crash after the rewrite commits keeps reads " +
        "unchanged, and the next pass converges") {
      val dir = freshDir(s, "crash")
      s.build(dir)
      val want = s.read(dir)
      val committed = Commits.committed(spark, dir)
      val dirty = s.table.dirtyBatches(spark, dir, committed, 0.0)
      assert(dirty.nonEmpty, s"${s.name}: the build left no dead rows")
      // Crash point: rewrite committed, reclaimed markers still there.
      s.table.rewriteAndCommit(spark, dir, committed, dirty)
      assert(Commits.committed(spark, dir).size == committed.size + 1)
      assert(s.read(dir) == want,
        s"${s.name}: duplicate generations changed answers")
      assert(s.table.vacuumIncremental(spark, dir, 0.0) >= dirty.size)
      assert(s.read(dir) == want)
      assertConverged(s, dir)
    }

    test(s"${s.name}: a takedown's tombstone batch is not rewritten " +
        "while its key's older row sits in a batch the pass leaves alone") {
      val dir = freshDir(s, "tombonly")
      s.build(dir)
      // A tombstone-only generation for id 1, whose live row is in the
      // bulk batch b0.
      assert(s.delete(dir, 1L) == 1L)
      val want = s.read(dir)
      val live = s.liveIds(dir)
      val committed = Commits.committed(spark, dir)
      val attempted = Commits.attempted(spark, dir).max
      // b0 is under the threshold, so both takedowns' tombstones are
      // live: nothing is dirty, nothing is written or reclaimed.
      assert(s.table.dirtyBatches(spark, dir, committed, 0.9).isEmpty)
      assert(s.table.vacuumIncremental(spark, dir, 0.9) == 0)
      assert(Commits.committed(spark, dir) == committed)
      assert(Commits.attempted(spark, dir).max == attempted,
        s"${s.name}: the pass wrote a generation")
      assert(s.read(dir) == want && s.liveIds(dir) == live)
      // With b0 selected the tombstones go with it, in one pass.
      assert(s.table.dirtyBatches(spark, dir, committed, 0.0)
        .contains(committed.min))
      s.table.vacuumIncremental(spark, dir, 0.0): Unit
      assert(s.read(dir) == want && s.liveIds(dir) == live)
      assertConverged(s, dir)
      val rows = Commits.readCommittedBatches(spark,
        tableDir(dir, s.table.tables.last), Commits.committed(spark, dir)).get
      assert(rows.filter(s.table.isTombstone).isEmpty,
        s"${s.name}: a tombstone outlived its key's older rows")
    }

    test(s"${s.name}: the incremental pass sweeps an orphan batch dir " +
        "from a crashed append") {
      val dir = freshDir(s, "orphan")
      s.build(dir)
      val want = s.read(dir)
      // Crashed append: id allocated, slices written, never committed.
      val orphan = Commits.allocateBatchId(spark, dir)
      for (t <- s.table.tables) {
        val src = new Path(s"${tableDir(dir, t)}/b0")
        if (fs(dir).exists(src))
          FileUtil.copy(fs(dir), src, fs(dir),
            new Path(s"${tableDir(dir, t)}/b$orphan"), false,
            spark.sparkContext.hadoopConfiguration)
      }
      assert(s.table.tables.exists(batchDirs(dir, _).contains(orphan)))
      assert(s.read(dir) == want, "an uncommitted dir became visible")
      s.table.vacuumIncremental(spark, dir, 0.5): Unit
      assert(s.table.tables.forall(!batchDirs(dir, _).contains(orphan)),
        s"${s.name}: orphan batch dir survived the sweep")
      assert(s.read(dir) == want)
    }

    test(s"${s.name}: deleting every key leaves an empty but built " +
        "store after an incremental pass, a full vacuum or a compaction") {
      val dir = freshDir(s, "empty")
      s.build(dir)
      val all = s.liveIds(dir)
      // The core delete the stores' public deletes delegate to.
      assert(s.table.delete(spark, dir, all.toSeq.toDF("k"), Set.empty) ==
        all.size)
      val passes = Seq[(String, String => Any)](
        "vacuumIncremental" -> (d => s.table.vacuumIncremental(spark, d, 0.0)),
        "vacuumFull" -> (d => s.table.vacuumFull(spark, d)),
        "compactBatches" -> (d => s.table.compactBatches(spark, d, 1)))
      for ((pass, run) <- passes) {
        val d = copyOf(s, dir, s"empty-$pass")
        run(d)
        assert(Commits.committed(spark, d).size == 1,
          s"${s.name}/$pass: the pass left no single committed batch")
        assert(s.read(d).isEmpty && s.liveIds(d).isEmpty,
          s"${s.name}/$pass: an all-deleted store read non-empty")
        assert(s.append(d, 1L) == 1L)
        assert(s.liveIds(d) == Set(1L), s"${s.name}/$pass: append lost")
      }
    }

    test(s"${s.name}: vacuumFull leaves the answers and the on-disk rows " +
        "of an incremental pass followed by a compaction to one") {
      val dir = freshDir(s, "full")
      s.build(dir)
      val want = s.read(dir)
      val passes = copyOf(s, dir, "passes")
      s.table.vacuumFull(spark, dir)
      s.table.vacuumIncremental(spark, passes, 0.0): Unit
      s.table.compactBatches(spark, passes, 1): Unit
      assert(s.read(dir) == want && s.read(passes) == want)
      assert(s.liveIds(dir) == s.liveIds(passes))
      assert(Commits.committed(spark, dir).size == 1 &&
        Commits.committed(spark, passes).size == 1)
      assert(onDisk(s, dir) == onDisk(s, passes),
        s"${s.name}: the full vacuum left other rows on disk")
    }

    test(s"${s.name}: a data file at the table root is not store data; " +
        "maintenance neither reads, rewrites nor deletes it") {
      val dir = freshDir(s, "root")
      s.build(dir)
      val want = s.read(dir)
      val live = s.liveIds(dir)
      val committed = Commits.committed(spark, dir)
      val root = tableDir(dir, s.table.tables.last)
      // A non-hidden parquet file at the membership root: id 1's row
      // under a fresh key, tagged with a committed batch id.
      val scratch = s"$dir-stray"
      Commits.readCommittedBatches(spark, root, committed).get
        .filter(col(s.table.key) === 1L).limit(1)
        .withColumn(s.table.key, lit(777L))
        .withColumn("batch", lit(committed.max))
        .coalesce(1).write.parquet(scratch)
      val part = fs(dir).listStatus(new Path(scratch))
        .find(_.getPath.getName.endsWith(".parquet")).get.getPath
      val stray = new Path(root, "stray.parquet")
      assert(fs(dir).rename(part, stray))
      val before = fs(dir).getFileStatus(stray)
      def unchanged(): Unit = {
        assert(rootFiles(root) == Seq("stray.parquet"),
          s"${s.name}: the root file was deleted or joined")
        val now = fs(dir).getFileStatus(stray)
        assert(now.getLen == before.getLen &&
          now.getModificationTime == before.getModificationTime,
          s"${s.name}: the root file was rewritten")
        assert(s.liveIds(dir) == live, s"${s.name}: the root file was read")
        assert(s.read(dir) == want)
      }
      unchanged()
      val dirty = s.table.dirtyBatches(spark, dir, committed, 0.0)
      assert(s.table.vacuumIncremental(spark, dir, 0.0) == dirty.size,
        s"${s.name}: the root file's batch was forced into the rewrite")
      unchanged()
      assert(s.table.compactBatches(spark, dir, 1) > 0)
      assert(Commits.committed(spark, dir).size == 1)
      unchanged()
    }

    test(s"${s.name}: compactBatches(n) leaves exactly n committed " +
        "batches and unchanged reads") {
      val dir = freshDir(s, "compact")
      s.build(dir)
      val want = s.read(dir)
      assert(Commits.committed(spark, dir).size == 5)
      assert(s.table.compactBatches(spark, dir, 3) == 3)
      assert(Commits.committed(spark, dir).size == 3)
      assert(s.read(dir) == want)
      assert(s.table.compactBatches(spark, dir, 3) == 0, "not idempotent")
      assert(s.table.compactBatches(spark, dir, 1) == 3)
      assert(Commits.committed(spark, dir).size == 1)
      assert(s.read(dir) == want)
    }

    test(s"${s.name}: a delete tombstones a live id once, a repeat or an " +
        "absent id is a no-op, and a re-append resurrects it") {
      val dir = freshDir(s, "delete")
      s.build(dir)
      assert(s.liveIds(dir).contains(1L))
      val before = Commits.committed(spark, dir)
      assert(s.delete(dir, 1L) == 1L)
      assert(!s.liveIds(dir).contains(1L), s"${s.name}: id 1 still live")
      val afterDelete = Commits.committed(spark, dir)
      assert(afterDelete.size == before.size + 1)
      assert(s.delete(dir, 1L) == 0L, s"${s.name}: repeat delete wrote")
      assert(Commits.committed(spark, dir) == afterDelete)
      assert(s.delete(dir, 999L) == 0L, s"${s.name}: absent id deleted")
      assert(Commits.committed(spark, dir) == afterDelete)
      assert(s.append(dir, 1L) == 1L)
      assert(s.liveIds(dir).contains(1L), s"${s.name}: no resurrection")
    }

    test(s"${s.name}: an unchanged redelivery commits nothing") {
      val dir = freshDir(s, "redeliver")
      s.build(dir)
      val before = Commits.committed(spark, dir)
      val want = s.read(dir)
      assert(s.append(dir, 2L) == 0L, s"${s.name}: redelivery wrote")
      assert(Commits.committed(spark, dir) == before)
      assert(s.read(dir) == want)
    }

    test(s"${s.name}: the scoped and unscoped currency resolves give " +
        "identical rows") {
      val dir = freshDir(s, "resolve")
      s.build(dir)
      val committed = Commits.committed(spark, dir)
      // Live, re-delivered-changed, tombstoned, micro-appended, absent.
      val probe = Seq(1L, 3L, 4L, 101L, 999L).toDF("k")
      def resolve(scoped: Boolean): Seq[String] =
        sorted(s.table.currency(spark, dir, committed, probe, scoped).get)
      val scoped = resolve(scoped = true)
      assert(scoped.size == 4, s"${s.name}: $scoped")
      assert(scoped == resolve(scoped = false))
      // The tombstoned key resolves as one, the live ones do not.
      val tomb = s.table.currency(spark, dir, committed, probe, true).get
        .filter(col(GenTable.CurTomb)).select(s.table.key)
      assert(ids(tomb) == Set(3L), s"${s.name}: tombstone flag")
    }
  }
}
