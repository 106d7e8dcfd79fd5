package graft.sources

import graft.SparkSpec
import graft.operators.{Search, Similarity}
import graft.streaming.Streams
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The read half of the generational stores ([[GenTable.current]]):
  * probes resolve each store's live rows once per committed set. A
  * repeat probe reuses the view; every change of the set — a write of
  * this process, maintenance, a rollback, a rebuild of the dir behind
  * this process's back — is seen by the next probe, which must answer
  * exactly what a cold probe of the same store answers.
  */
class LiveViewSpec extends SparkSpec {
  import spark.implicits._

  private val Dims = 8

  private val text = Seq(
    (1L, "spark engine spark spark vector index"),
    (2L, "spark engine vector store probe"),
    (3L, "engine row scan filter merge sort"),
    (4L, "vector vector index search engine"),
    (5L, "a long document about spark and many other words"),
    (6L, "quick brown fox jumps over the lazy dog"))
    .toDF("doc_id", "text")

  private def vecs(ids: Seq[Long]): DataFrame =
    ids.map(i => (i, Seq.tabulate(Dims)(d =>
      math.cos(i * 0.7 + d * 1.3).toFloat))).toDF("id", "vec")

  /** Vector queries reaching every id the cases write. */
  private val queries = vecs((1L to 12L) ++ Seq(40L, 50L, 51L))

  private def fresh(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"liveview-$tag").toString

  private def fs(dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  /** One store: its descriptor, a builder (several batches, a
    * tombstone), a probe, an append and a delete of one key. */
  private case class Store(name: String, table: GenTable,
      build: String => Unit, probe: String => DataFrame,
      append: (String, Long) => Unit, delete: (String, Long) => Unit)

  private val index = Store("index", Search.IndexStore,
    dir => {
      Search.buildIndex(text, "doc_id", "text", dir)
      Search.indexAppend(Seq((4L, "vector index changed")).toDF("doc_id",
        "text"), "doc_id", "text", dir)
      Search.indexDelete(spark, dir, Seq(3L).toDF("doc_id"))
    },
    dir => Search.bm25FromIndexTopK(spark, dir, Seq("spark", "vector"), 10),
    (dir, id) => Search.indexAppend(Seq((id, s"spark vector doc $id"))
      .toDF("doc_id", "text"), "doc_id", "text", dir),
    (dir, id) => Search.indexDelete(spark, dir, Seq(id).toDF("doc_id")))

  private val ann = Store("ann", Similarity.AnnStore,
    dir => {
      Similarity.annStoreAppend(vecs(1L to 12L), dir, 2, Dims)
      Similarity.annStoreAppend(vecs(Seq(40L)), dir, 2, Dims)
      Similarity.annStoreDelete(spark, dir, Seq(3L).toDF("id"))
    },
    dir => Similarity.annStoreTopK(spark, dir, queries, 2, Dims, 20),
    (dir, id) => Similarity.annStoreAppend(vecs(Seq(id)), dir, 2, Dims),
    (dir, id) => Similarity.annStoreDelete(spark, dir, Seq(id).toDF("id")))

  private val pq = Store("pq", Similarity.PqStore,
    dir => {
      Similarity.pqStoreBuild(vecs(1L to 12L), dir, m = 2, subDims = 4,
        codes = 2, iters = 2, cells = 2)
      Similarity.pqStoreAppend(vecs(Seq(40L)), dir)
      Similarity.pqStoreDelete(spark, dir, Seq(3L).toDF("id"))
    },
    dir => Similarity.pqStoreTopK(spark, dir, queries, 20, nprobe = 2),
    (dir, id) => Similarity.pqStoreAppend(vecs(Seq(id)), dir),
    (dir, id) => Similarity.pqStoreDelete(spark, dir, Seq(id).toDF("id")))

  private val chunks = Store("chunks", Streams.ChunkStore,
    dir => {
      Streams.chunkIngestBatch(text, dir, "doc_id", "text", 3, 1)
      Streams.chunkIngestBatch(Seq((4L, "vector index changed")).toDF(
        "doc_id", "text"), dir, "doc_id", "text", 3, 1)
      Streams.chunkStoreDelete(spark, dir, Seq(3L).toDF("doc_id"))
    },
    dir => Streams.chunkStoreRead(spark, dir).get
      .orderBy("doc_id", "chunk_seq"),
    (dir, id) => Streams.chunkIngestBatch(Seq((id, s"chunk doc $id here"))
      .toDF("doc_id", "text"), dir, "doc_id", "text", 3, 1),
    (dir, id) =>
      Streams.chunkStoreDelete(spark, dir, Seq(id).toDF("doc_id")))

  private val stores = Seq(index, ann, pq, chunks)

  /** The probe's answer from a copy of the store at a fresh path: a
    * store no view has seen. */
  private def cold(s: Store, dir: String): Seq[String] = {
    val copy = fresh(s"cold-${s.name}") + "/store"
    FileUtil.copy(fs(dir), new Path(dir), fs(copy), new Path(copy), false,
      spark.sparkContext.hadoopConfiguration)
    rows(s.probe(copy))
  }

  stores.foreach { s =>
    test(s"${s.name}: a second probe of an unchanged set answers the same " +
        "with fewer jobs") {
      val dir = fresh(s.name) + "/store"
      s.build(dir)
      var first = Seq.empty[String]
      var second = Seq.empty[String]
      val firstJobs = jobsOf { first = rows(s.probe(dir)) }
      val secondJobs = jobsOf { second = rows(s.probe(dir)) }
      assert(first.nonEmpty && second == first)
      assert(secondJobs < firstJobs,
        s"${s.name}: warm probe ran $secondJobs jobs, cold $firstJobs")
      assert(second == cold(s, dir))
    }

    test(s"${s.name}: after every kind of write and maintenance the next " +
        "probe equals a cold probe") {
      val dir = fresh(s.name) + "/store"
      s.build(dir)
      s.table.markDelivery(spark, dir, "built")
      val steps = Seq[(String, () => Any)](
        "append" -> (() => s.append(dir, 50L)),
        "delete" -> (() => s.delete(dir, 1L))) ++
        // A rollback restores membership rows only: a store with
        // dependent tables (postings, chunks) has no rollback. It runs
        // before maintenance, whose reclaim drops the marker.
        (if (s.table.tables.size > 1) Nil
        else Seq[(String, () => Any)]("rollbackTo" -> (() =>
          s.table.rollbackTo(spark, dir, "built")))) ++
        Seq[(String, () => Any)](
          "vacuumIncremental" -> (() =>
            s.table.vacuumIncremental(spark, dir, 0.0)),
          "append again" -> (() => s.append(dir, 51L)),
          "compactBatches" -> (() => s.table.compactBatches(spark, dir, 1)),
          "delete again" -> (() => s.delete(dir, 2L)),
          "vacuumFull" -> (() => s.table.vacuumFull(spark, dir))) ++
        (if (s eq pq) Seq[(String, () => Any)]("pqStoreReroute" -> (() =>
          Similarity.pqStoreReroute(spark, dir, cells = 3)))
        else Nil)
      var before = rows(s.probe(dir))
      for ((step, run) <- steps) {
        rows(s.probe(dir)): Unit // the view is warm
        run()
        val now = rows(s.probe(dir))
        assert(now == cold(s, dir), s"${s.name}: stale probe after $step")
        if (step != "vacuumIncremental" && step != "compactBatches" &&
            step != "vacuumFull" && step != "pqStoreReroute")
          assert(now != before, s"${s.name}: $step changed nothing")
        before = now
      }
    }

    test(s"${s.name}: a store deleted and rebuilt at the same path with " +
        "the same batch ids reads the new rows") {
      val dir = fresh(s.name) + "/store"
      s.build(dir)
      val old = rows(s.probe(dir))
      // Another writer's rebuild: same ops, another key deleted, landed
      // under this path without a commit from this process.
      val other = fresh(s"${s.name}-rebuilt") + "/store"
      s.build(other)
      s.delete(other, 2L)
      val want = rows(s.probe(other))
      assert(want != old)
      s.delete(dir, 1L)
      assert(Commits.committed(spark, dir) == Commits.committed(spark, other))
      rows(s.probe(dir)): Unit // the view of the old store is warm
      fs(dir).delete(new Path(dir), true)
      FileUtil.copy(fs(other), new Path(other), fs(dir), new Path(dir),
        false, spark.sparkContext.hadoopConfiguration)
      assert(rows(s.probe(dir)) == want,
        s"${s.name}: the probe read the replaced store's view")
    }
  }

  test("views are bounded: the least recently used store's view is " +
      "unpersisted past the bound") {
    val dirs = (0 to GenTable.MaxViews).map(i => fresh(s"lru$i") + "/store")
    dirs.foreach(Similarity.annStoreAppend(vecs(1L to 4L), _, 2, Dims))
    def persisted(d: String): Boolean =
      Similarity.AnnStore.current(spark, d).get.storageLevel.useMemory
    val first = Similarity.AnnStore.current(spark, dirs.head).get
    assert(first.storageLevel.useMemory)
    // MaxViews more stores read after it: it is the least recent.
    dirs.tail.foreach(d => rows(ann.probe(d)))
    assert(!first.storageLevel.useMemory,
      "the evicted view is still persisted")
    assert(persisted(dirs.last))
  }

  // ---- warm probe job counts --------------------------------------------

  /** The six probe kinds of a fan-out read over one store family: a
    * bulk batch, a changed doc, a takedown. */
  private lazy val family: Map[String, () => DataFrame] = {
    val root = fresh("family")
    val (ix, an, p, ch, ck) = (s"$root/index", s"$root/ann", s"$root/pq",
      s"$root/chunks", s"$root/ckvec")
    index.build(ix)
    ann.build(an)
    pq.build(p)
    chunks.build(ch)
    Streams.chunkVectorIngestBatch(spark, ch, ck, text.select("doc_id"),
      dims = Dims, m = 2, codes = 2, cells = 2)
    Streams.chunkVectorIngestBatch(spark, ch, ck, Seq(4L).toDF("doc_id"),
      dims = Dims, m = 2, codes = 2, cells = 2)
    val q = vecs(Seq(100L))
    Map(
      "bm25" -> (() => Search.bm25FromIndexTopK(spark, ix,
        Seq("spark", "vector"), 5)),
      "phrase" -> (() => Search.phraseFromIndexTopK(spark, ix,
        Seq("spark", "engine"), 5)),
      "hybrid" -> (() => Search.hybridTopK(spark, ix, an,
        Seq("spark", "vector"), q, 2, Dims, 5)),
      "ann" -> (() => Similarity.annStoreTopK(spark, an, q, 2, Dims, 5)),
      "pq_rerank" -> (() => Similarity.pqStoreRerankTopK(spark, p, q,
        vecs(1L to 40L), 8, 4)),
      "passage" -> (() => Streams.passageTopK(spark, ck, "spark engine",
        Dims, 4, 3, nprobe = 1)))
  }

  /** Spark jobs of a warm probe of each kind (local[4]). A per-probe
    * currency aggregate, codebook or coarse read, or stats aggregate
    * adds at least one. */
  private val warmJobs = Map("bm25" -> 6, "phrase" -> 4, "hybrid" -> 11,
    "ann" -> 4, "pq_rerank" -> 7, "passage" -> 3)

  warmJobs.toSeq.sortBy(_._1).foreach { case (kind, pin) =>
    test(s"a warm $kind probe runs at most $pin jobs") {
      val probe = family(kind)
      val cold = rows(probe())
      var warm = Seq.empty[String]
      val jobs = jobsOf { warm = rows(probe()) }
      assert(warm == cold && warm.nonEmpty)
      assert(jobs <= pin, s"warm $kind probe ran $jobs jobs (pin $pin)")
    }
  }
}
