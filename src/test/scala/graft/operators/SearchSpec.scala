package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** BM25 keyword search: score shape, matching semantics, determinism,
  * and the zero-shuffle plan contract.
  */
class SearchSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "spark engine spark spark"),          // high tf for 'spark'
    (2L, "spark engine"),                      // short doc, one hit
    (3L, "engine row scan filter merge sort"), // no query term
    (4L, "vector vector index"),               // rare term
    (5L, "a long document about nothing in particular with many words " +
      "padding padding padding padding padding spark"))
    .toDF("doc_id", "text")

  test("bm25 ranks rare-term and high-tf docs above dilute matches") {
    val r = Search.bm25TopK(docs, "doc_id", "text",
      Seq("spark", "vector"), k = 10)
      .select("doc_id", "n_matched", "score_1e6")
      .as[(Long, Int, Long)].collect()
    val byId = r.map(x => x._1 -> x).toMap
    // Doc 3 has no query term: absent.
    assert(!byId.contains(3L))
    assert(r.map(_._1).toSet == Set(1L, 2L, 4L, 5L))
    // 'vector' appears in 1/5 docs vs 'spark' in 3/5: doc 4 out-scores
    // the single-hit 'spark' docs.
    assert(byId(4L)._3 > byId(2L)._3)
    // tf saturation still orders doc 1 (tf=3) above doc 2 (tf=1).
    assert(byId(1L)._3 > byId(2L)._3)
    // The long dilute doc scores below the short doc for the same term.
    assert(byId(5L)._3 < byId(2L)._3)
    // Results arrive sorted by (score desc, id).
    assert(r.map(_._3).toSeq == r.map(_._3).sortBy(-_).toSeq)
  }

  test("bm25 n_matched counts distinct matched terms") {
    val both = Seq((1L, "spark vector"), (2L, "spark spark"), (3L, "x"))
      .toDF("doc_id", "text")
    val r = Search.bm25TopK(both, "doc_id", "text",
      Seq("spark", "vector"), k = 10)
      .select("doc_id", "n_matched").as[(Long, Int)].collect().toMap
    assert(r == Map(1L -> 2, 2L -> 1))
  }

  test("bm25 plan has no hash-exchange (in-row tf + broadcast stats)") {
    val plan = Search.bm25TopK(docs, "doc_id", "text",
      Seq("spark"), k = 5).queryExecution.executedPlan.toString
    assert(!plan.contains("hashpartitioning"),
      s"expected no hash exchange in:\n$plan")
  }

  test("bm25 is deterministic across runs and partitionings") {
    val a = Search.bm25TopK(docs, "doc_id", "text", Seq("spark"), k = 5)
      .collect().toSeq
    val b = Search.bm25TopK(docs.repartition(7), "doc_id", "text",
      Seq("spark"), k = 5).collect().toSeq
    assert(a == b)
  }

  test("backfill-sized index append flips to the unscoped resolve and " +
      "converges identically") {
    import graft.sources.Commits
    // Batch just over the scoped-resolve floor vs a much smaller
    // store: the membership resolve takes the store-wide aggregate.
    // Semantics must match the scoped path exactly: unchanged docs
    // skip, changed re-generate, redelivery converges, and the probe
    // matches an index built fresh at the final state.
    val dir = java.nio.file.Files.createTempDirectory("bm25-backfill")
      .toString + "/index"
    val nBatch = Commits.ScopedResolveFloor + 8
    def text(gen: String) = concat(lit("w"), col("id") % 7,
      lit(s" spark $gen t"), col("id") % 1000)
    Search.buildIndex(
      spark.range(0, 50000).select(col("id").as("doc_id"),
        text("x").as("text")), "doc_id", "text", dir)
    assert(!Commits.scopeMutationResolve(nBatch,
      Commits.committedRowCount(spark, s"$dir/docs",
        Commits.committed(spark, dir))),
      "test premise: this batch/store ratio must take the unscoped path")
    val backfill = spark.range(0, nBatch).select(col("id").as("doc_id"),
      when(col("id") < 25000, text("x")).otherwise(text("y")).as("text"))
    assert(Search.indexAppend(backfill, "doc_id", "text", dir)
      == nBatch - 25000)
    assert(Search.indexAppend(backfill, "doc_id", "text", dir) == 0L)
    val fresh = java.nio.file.Files.createTempDirectory("bm25-backfill-f")
      .toString + "/index"
    Search.buildIndex(backfill, "doc_id", "text", fresh)
    val terms = Seq("spark", "t13")
    assert(Search.bm25FromIndexTopK(spark, dir, terms, k = 10)
      .collect().toSeq ==
      Search.bm25FromIndexTopK(spark, fresh, terms, k = 10)
        .collect().toSeq,
      "backfilled index probes differently from a fresh build")
  }

  test("a warm index probe reads the persisted view across a vacuum") {
    val dir = java.nio.file.Files.createTempDirectory("bm25-fresh")
      .toString + "/index"
    Search.buildIndex(docs, "doc_id", "text", dir)
    Search.indexAppend(Seq((100L, "spark vector extra doc"))
      .toDF("doc_id", "text"), "doc_id", "text", dir)
    def probe() = Search.bm25FromIndexTopK(spark, dir,
      Seq("spark", "vector"), k = 10)
    // After the first probe of a committed set the membership resolve
    // is persisted: a probe scans it instead of aggregating again.
    def plan() = probe().queryExecution.executedPlan.toString()
    val want = probe().collect().toSeq
    assert(plan().contains("InMemoryTableScan"),
      "warm probe re-resolved the membership table")
    Search.indexVacuum(spark, dir)
    assert(probe().collect().toSeq == want)
    assert(plan().contains("InMemoryTableScan"),
      "warm probe after the vacuum re-resolved the membership table")
  }

  test("index answer is bit-identical to the scan answer") {
    val dir = java.nio.file.Files.createTempDirectory("bm25-idx")
      .toString + "/index"
    Search.buildIndex(docs, "doc_id", "text", dir)
    val terms = Seq("spark", "vector")
    val scan = Search.bm25TopK(docs, "doc_id", "text", terms, k = 10)
      .collect().toSeq
    val idx = Search.bm25FromIndexTopK(spark, dir, terms, k = 10)
      .collect().toSeq
    assert(idx == scan)
    // The probe plan filters postings, never rescans text: postings
    // for absent terms yield an empty result, not an error.
    assert(Search.bm25FromIndexTopK(spark, dir, Seq("absent-term"), 5)
      .collect().isEmpty)
  }

  test("phraseTopK counts overlapping in-order occurrences, skips short docs") {
    val ds = Seq(
      (1L, "a b a b a"),   // "a b" at 1 and 3 -> tf 2
      (2L, "b a"),         // reversed -> 0
      (3L, "a"),           // shorter than the phrase -> 0 (guard path)
      (4L, "x a b y"),     // tf 1
      (5L, ""))            // empty -> 0
      .toDF("doc_id", "text")
    val got = Search.phraseTopK(ds, "doc_id", "text", Seq("a", "b"), k = 10)
      .as[(Long, Int)].collect().toSeq
    assert(got == Seq((1L, 2), (4L, 1)))
    // Three-term phrase: "a b a" appears at 1 and 3 in doc 1.
    val tri = Search.phraseTopK(ds, "doc_id", "text", Seq("a", "b", "a"), 10)
      .as[(Long, Int)].collect().toSeq
    assert(tri == Seq((1L, 2)))
  }

  test("indexAppend is insert-if-absent and converges to the batch build") {
    val dir = java.nio.file.Files.createTempDirectory("bm25-inc")
      .toString + "/index"
    val (d1, d2) = (docs.filter(col("doc_id") <= 3),
      docs.filter(col("doc_id") > 3))
    assert(Search.indexAppend(d1, "doc_id", "text", dir) == 3L)
    assert(Search.indexAppend(d1, "doc_id", "text", dir) == 0L)  // re-delivery
    assert(Search.indexAppend(d2, "doc_id", "text", dir) == 2L)
    assert(Search.indexAppend(docs, "doc_id", "text", dir) == 0L)
    val full = java.nio.file.Files.createTempDirectory("bm25-full")
      .toString + "/index"
    Search.buildIndex(docs, "doc_id", "text", full)
    val terms = Seq("spark", "vector")
    assert(Search.bm25FromIndexTopK(spark, dir, terms, 10).collect().toSeq
      == Search.bm25FromIndexTopK(spark, full, terms, 10).collect().toSeq)
  }

  test("phrase answer from the positional index matches the scan kernel") {
    val ds = Seq(
      (1L, "a b a b a"),   // "a b" at 0 and 2 -> tf 2; "a b a" -> tf 2
      (2L, "b a"),         // reversed -> 0
      (4L, "x a b y"),     // tf 1
      (5L, "a a a b"))     // "a b" once; "a a" twice (overlap)
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("phr-idx")
      .toString + "/index"
    Search.buildIndex(ds, "doc_id", "text", dir)
    for (ph <- Seq(Seq("a", "b"), Seq("a", "b", "a"), Seq("a", "a"))) {
      val scan = Search.phraseTopK(ds, "doc_id", "text", ph, k = 10)
        .collect().toSeq
      val idx = Search.phraseFromIndexTopK(spark, dir, ph, k = 10)
        .collect().toSeq
      assert(idx == scan, s"phrase $ph: index $idx vs scan $scan")
    }
    // Changed-content upsert reflects in phrase answers too.
    Search.indexAppend(Seq((1L, "c c c")).toDF("doc_id", "text"),
      "doc_id", "text", dir)
    val after = Search.phraseFromIndexTopK(spark, dir, Seq("a", "b"), 10)
      .as[(Long, Int)].collect().toSeq
    assert(after == Seq((4L, 1), (5L, 1)))
  }

  test("indexAppend upserts changed content; stale postings stop scoring") {
    val dir = java.nio.file.Files.createTempDirectory("bm25-up")
      .toString + "/index"
    // v1: doc 4 has different text (contains 'spark', not 'vector').
    val v1 = docs.withColumn("text",
      when(col("doc_id") === 4L, lit("spark draft placeholder"))
        .otherwise(col("text")))
    Search.buildIndex(v1, "doc_id", "text", dir)
    // Re-delivering v1 is a no-op (same content hashes).
    assert(Search.indexAppend(v1, "doc_id", "text", dir) == 0L)
    // Delivering the real corpus updates exactly doc 4.
    assert(Search.indexAppend(docs, "doc_id", "text", dir) == 1L)
    assert(Search.indexAppend(docs, "doc_id", "text", dir) == 0L)
    val terms = Seq("spark", "vector")
    val scan = Search.bm25TopK(docs, "doc_id", "text", terms, k = 10)
      .collect().toSeq
    val idx = Search.bm25FromIndexTopK(spark, dir, terms, k = 10)
      .collect().toSeq
    assert(idx == scan,
      "index after changed-content upsert must match the scan over the " +
        "final corpus")
    // The superseded generation's postings are physically present but
    // invisible: doc 4's old 'draft' term never matches.
    assert(Search.bm25FromIndexTopK(spark, dir, Seq("draft"), 5)
      .collect().isEmpty)
    // Vacuum rewrites the live state only — answers unchanged, the
    // docs table shrinks to one row per doc.
    Search.indexVacuum(spark, dir)
    assert(Search.bm25FromIndexTopK(spark, dir, terms, k = 10)
      .collect().toSeq == scan)
    val docRows = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$dir/docs")
    assert(docRows.count() == docRows.select("doc_id").distinct().count())
    assert(Search.bm25FromIndexTopK(spark, dir, Seq("draft"), 5)
      .collect().isEmpty)
    // Appends keep working after a vacuum.
    val extra = Seq((9L, "vector spark extra")).toDF("doc_id", "text")
    assert(Search.indexAppend(extra, "doc_id", "text", dir) == 1L)
    assert(Search.bm25FromIndexTopK(spark, dir, terms, 10)
      .collect().toSeq ==
        Search.bm25TopK(docs.unionByName(extra), "doc_id", "text", terms, 10)
          .collect().toSeq)
  }

  test("moreLikeThisTopK ranks by shared vocabulary, excludes the query doc") {
    val dir = java.nio.file.Files.createTempDirectory("mlt")
      .toString + "/index"
    Search.buildIndex(docs, "doc_id", "text", dir)
    // Query = doc 1 ("spark engine spark spark"): doc 2 shares both
    // terms, doc 5 shares only 'spark', docs 3/4 share less/none.
    val got = Search.moreLikeThisTopK(spark, dir,
      docs.filter(col("doc_id") === 1L).select("doc_id", "text"), k = 10)
      .select("doc_id", "n_matched", "score_1e6")
      .as[(Long, Int, Long)].collect().toSeq
    assert(!got.exists(_._1 == 1L), "query doc must not match itself")
    assert(got.head._1 == 2L, s"doc 2 shares the full vocab: $got")
    assert(got.map(_._1).contains(5L))
    // Deterministic across partitionings.
    val again = Search.moreLikeThisTopK(spark, dir,
      docs.repartition(7).filter(col("doc_id") === 1L)
        .select("doc_id", "text"), k = 10)
      .select("doc_id", "n_matched", "score_1e6")
      .as[(Long, Int, Long)].collect().toSeq
    assert(again == got)
    // maxTerms caps the query vocabulary: with one term kept ('spark',
    // tf 3 beats 'engine' tf 1), matches count at most one term.
    val capped = Search.moreLikeThisTopK(spark, dir,
      docs.filter(col("doc_id") === 1L).select("doc_id", "text"),
      k = 10, maxTerms = 1)
      .select("n_matched").as[Int].collect().toSeq
    assert(capped.nonEmpty && capped.forall(_ == 1))
  }

  test("a postings-only orphan from a crashed append never doubles tf/df") {
    val dir = java.nio.file.Files.createTempDirectory("bm25-crash")
      .toString + "/index"
    val (d1, d2) = (docs.filter(col("doc_id") <= 3),
      docs.filter(col("doc_id") > 3))
    Search.buildIndex(d1, "doc_id", "text", dir) // batch 0 committed
    // Simulated crash: an append of d2 that died BETWEEN its two slice
    // writes — the attempt marker and the postings slice for batch 1
    // are on disk, the docs slice and the commit marker are not (the
    // real append records the attempt before its first data write).
    graft.sources.Commits.recordAttempt(spark, dir, 1L)
    Search.writePostingsSlice(d2, "doc_id", "text", dir, 1L)
    // The at-least-once redelivery of the same batch must allocate a
    // FRESH id (the attempt marker burns id 1 even though the docs
    // table still tops out at 0), append under it, and commit.
    assert(Search.indexAppend(d2, "doc_id", "text", dir) == 2L)
    // No (term, doc_id) appears twice within any committed batch...
    val committed = graft.sources.Commits.committed(spark, dir)
    assert(committed.sorted == Seq(0L, 2L),
      s"orphan batch id 1 must be skipped, got $committed")
    val dupes = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$dir/postings")
      .filter(col("batch").isin(committed: _*))
      .groupBy("term", "doc_id", "batch").count().filter(col("count") > 1)
    assert(dupes.isEmpty, "committed postings doubled under one batch")
    // ...and the index answer equals the scan answer (tf/df intact).
    val terms = Seq("spark", "vector")
    assert(Search.bm25FromIndexTopK(spark, dir, terms, 10).collect().toSeq
      == Search.bm25TopK(docs, "doc_id", "text", terms, 10)
        .collect().toSeq)
  }

  test("a rebuild crashed before its commit leaves a marker-less b0 " +
      "orphan; the next append allocates above it") {
    val dir = java.nio.file.Files.createTempDirectory("bm25-rebuild-crash")
      .toString + "/index"
    // Simulated crash inside buildIndex: its allocation recorded the a0
    // attempt marker and postings/b0 is written, but docs/b0 and the
    // commit marker are not. The attempt marker alone burns id 0.
    graft.sources.Commits.recordAttempt(spark, dir, 0L)
    Search.writePostingsSlice(docs.filter(col("doc_id") <= 3),
      "doc_id", "text", dir, 0L)
    assert(graft.sources.Commits.attempted(spark, dir) == Seq(0L))
    assert(graft.sources.Commits.committed(spark, dir).isEmpty)
    val appended = docs.filter(col("doc_id") > 3)
    assert(Search.indexAppend(appended, "doc_id", "text", dir) == 2L)
    assert(graft.sources.Commits.committed(spark, dir) == Seq(1L),
      "the append must allocate id 1, not collide with the b0 orphan")
    assert(Search.indexLiveDocs(spark, dir).get.select("doc_id")
      .as[Long].collect().toSet == Set(4L, 5L))
    val terms = Seq("spark", "vector")
    assert(Search.bm25FromIndexTopK(spark, dir, terms, 10).collect().toSeq
      == Search.bm25TopK(appended, "doc_id", "text", terms, 10)
        .collect().toSeq)
  }

  test("writer lease: a second writer fails loudly; stale locks break") {
    import graft.sources.Commits
    val dir = java.nio.file.Files.createTempDirectory("bm25-lock")
      .toString + "/index"
    Search.buildIndex(docs, "doc_id", "text", dir)
    // Another writer holds the lease (acquired out-of-band, as a
    // concurrent process would): every mutation must throw, and the
    // store must be untouched.
    Commits.acquireWriterLock(spark, dir)
    val before = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$dir/docs").count()
    val extra = Seq((9L, "vector spark extra")).toDF("doc_id", "text")
    intercept[IllegalStateException] {
      Search.indexAppend(extra, "doc_id", "text", dir)
    }
    intercept[IllegalStateException] {
      Search.indexDelete(spark, dir, Seq(1L).toDF("doc_id"))
    }
    intercept[IllegalStateException] { Search.indexVacuum(spark, dir) }
    intercept[IllegalStateException] {
      Search.indexVacuumIncremental(spark, dir)
    }
    intercept[IllegalStateException] {
      Search.bucketPostings(spark, dir, "graft_lease_spec_postings")
    }
    assert(spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$dir/docs").count() == before)
    // Released → the same mutation succeeds.
    Commits.releaseWriterLock(spark, dir)
    assert(Search.indexAppend(extra, "doc_id", "text", dir) == 1L)
    // A crashed writer's stale lock (older than the TTL) is broken.
    Commits.acquireWriterLock(spark, dir)
    val lock = new org.apache.hadoop.fs.Path(s"$dir/_lock")
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = System.currentTimeMillis() - 60 * 60 * 1000L
    fs.setTimes(lock, old, old)
    assert(Search.indexDelete(spark, dir, Seq(9L).toDF("doc_id")) == 1L)
  }

  test("indexStats reports the store's live/superseded/tombstone shape") {
    val dir = java.nio.file.Files.createTempDirectory("bm25-stats")
      .toString + "/index"
    Search.buildIndex(docs, "doc_id", "text", dir)                 // b0
    Search.indexAppend(
      Seq((4L, "vector vector index updated")).toDF("doc_id", "text"),
      "doc_id", "text", dir)                                       // b1
    Search.indexDelete(spark, dir, Seq(1L).toDF("doc_id"))         // b2
    val s1 = Search.indexStats(spark, dir).collect().head
    assert(s1.getAs[Int]("committed_batches") == 3)
    assert(s1.getAs[Long]("live_docs") == 4L)
    assert(s1.getAs[Long]("tombstoned_docs") == 1L)
    assert(s1.getAs[Long]("superseded_doc_rows") == 2L) // old docs 1, 4
    assert(s1.getAs[Long]("postings_rows_live") <
      s1.getAs[Long]("postings_rows_total"))
    // Vacuum collapses everything the stats flagged as reclaimable.
    Search.indexVacuum(spark, dir)
    val s2 = Search.indexStats(spark, dir).collect().head
    assert(s2.getAs[Int]("committed_batches") == 1)
    assert(s2.getAs[Long]("live_docs") == 4L)
    assert(s2.getAs[Long]("tombstoned_docs") == 0L)
    assert(s2.getAs[Long]("superseded_doc_rows") == 0L)
    assert(s2.getAs[Long]("postings_rows_live") ==
      s2.getAs[Long]("postings_rows_total"))
  }

  test("bucketed postings probe is bit-identical to the sorted layout") {
    val dir = java.nio.file.Files.createTempDirectory("bm25-bk")
      .toString + "/index"
    Search.buildIndex(docs, "doc_id", "text", dir)
    // Mutate through the full write triangle so bucketing proves it
    // resolves generations: update doc 4, delete doc 3.
    Search.indexAppend(
      Seq((4L, "vector vector index updated")).toDF("doc_id", "text"),
      "doc_id", "text", dir)
    Search.indexDelete(spark, dir, Seq(3L).toDF("doc_id"))
    Search.bucketPostings(spark, dir, "graft_postings_bucketed_spec",
      numBuckets = 4)
    val terms = Seq("spark", "vector")
    val sorted = Search.bm25FromIndexTopK(spark, dir, terms, 10)
      .collect().toSeq
    val bucketed = Search.bm25FromBucketedIndexTopK(spark, dir,
      "graft_postings_bucketed_spec", terms, 10).collect().toSeq
    assert(bucketed == sorted)
    // The positions column rides along: phrase probes answer from the
    // same bucketed table, identically to the sorted layout.
    for (ph <- Seq(Seq("vector", "vector"), Seq("spark", "engine"))) {
      assert(Search.phraseFromBucketedIndexTopK(spark,
        "graft_postings_bucketed_spec", ph, 10).collect().toSeq
        == Search.phraseFromIndexTopK(spark, dir, ph, 10)
          .collect().toSeq, s"phrase $ph diverged on the bucketed layout")
    }
    // Layout: the pre-shuffle on the bucket function means ONE data
    // file per bucket, not one per (task x bucket) — the property that
    // keeps the compacted table listable at 100 TB.
    val files = new java.io.File(s"$dir/postings_bucketed").listFiles()
      .map(_.getName).filter(n => n.endsWith(".parquet"))
    assert(files.length <= 4, s"expected <= 4 bucket files, got: " +
      files.mkString(", "))
    // Staleness marker: fresh now, stale after the next mutation,
    // fresh again after a rebuild.
    val snap = s"$dir/postings_bucketed"
    assert(graft.sources.Commits.snapshotFresh(spark, snap, dir))
    Search.indexAppend(Seq((7L, "brand new doc")).toDF("doc_id", "text"),
      "doc_id", "text", dir)
    assert(!graft.sources.Commits.snapshotFresh(spark, snap, dir))
    Search.bucketPostings(spark, dir, "graft_postings_bucketed_spec",
      numBuckets = 4)
    assert(graft.sources.Commits.snapshotFresh(spark, snap, dir))
  }

  test("a rebuild never recommits a set a bucketed snapshot recorded") {
    val dir = java.nio.file.Files.createTempDirectory("bm25-rebuild-alias")
      .toString + "/index"
    val snap = s"$dir/postings_bucketed"
    Search.buildIndex(docs, "doc_id", "text", dir)
    Search.bucketPostings(spark, dir, "graft_postings_rebuild_alias_spec",
      numBuckets = 2)
    assert(graft.sources.Commits.snapshotFresh(spark, snap, dir))
    Search.buildIndex(docs.filter(col("doc_id") =!= 1L), "doc_id", "text",
      dir)
    assert(!graft.sources.Commits.snapshotFresh(spark, snap, dir),
      "the rebuild recommitted the set the snapshot recorded")
  }

  test("a rebuild crashed inside its uncommits revives no deleted doc") {
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("bm25-rebuild-crash")
      .toString + "/index"
    Search.buildIndex(docs, "doc_id", "text", dir)
    Seq(1L, 3L, 4L).foreach(i =>
      Search.indexDelete(spark, dir, Seq(i).toDF("doc_id")): Unit)
    def live() = Search.indexLiveDocs(spark, dir).get.select("doc_id")
      .as[Long].collect().toSet
    val want = live()
    // The build's marker made a non-empty directory: its uncommit fails.
    // Oldest first, that is the rebuild's first step, so every tombstone
    // stays committed above its doc's live row.
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val built = new Path(s"$dir/_commits/b${
      graft.sources.Commits.committed(spark, dir).min}")
    fs.delete(built, false)
    fs.mkdirs(new Path(built, "x"))
    val e = intercept[java.io.IOException] {
      Search.buildIndex(docs, "doc_id", "text", dir)
    }
    assert(e.getMessage.contains("not empty"), e.getMessage)
    assert(live() == want, "a crashed rebuild revived a deleted doc")
  }

  test("moreLikeThisTopK works on non-numeric doc ids") {
    val sdocs = Seq(("alpha", "spark engine spark"),
      ("beta", "spark engine"), ("gamma", "row scan"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("mlt-str")
      .toString + "/index"
    Search.buildIndex(sdocs, "doc_id", "text", dir)
    val got = Search.moreLikeThisTopK(spark, dir,
      sdocs.filter(col("doc_id") === "alpha").select("doc_id", "text"),
      k = 10).select("doc_id").as[String].collect().toSeq
    assert(got == Seq("beta"),
      s"string-id MLT must match doc beta and exclude alpha: $got")
  }

  test("indexDelete tombstones docs out of scoring; re-append resurrects") {
    val dir = java.nio.file.Files.createTempDirectory("bm25-del")
      .toString + "/index"
    Search.buildIndex(docs, "doc_id", "text", dir)
    val terms = Seq("spark", "vector")
    // Delete docs 1 and 4 (an absent id is a no-op)...
    val ids = Seq(1L, 4L, 999L).toDF("doc_id")
    assert(Search.indexDelete(spark, dir, ids) == 2L)
    // ...idempotently.
    assert(Search.indexDelete(spark, dir, ids) == 0L)
    val remaining = docs.filter(!col("doc_id").isin(1L, 4L))
    assert(Search.bm25FromIndexTopK(spark, dir, terms, 10).collect().toSeq
      == Search.bm25TopK(remaining, "doc_id", "text", terms, 10)
        .collect().toSeq,
      "deleted docs must leave scoring AND the corpus statistics")
    // Re-appending doc 1 resurrects it with its text.
    assert(Search.indexAppend(docs.filter(col("doc_id") === 1L),
      "doc_id", "text", dir) == 1L)
    assert(Search.bm25FromIndexTopK(spark, dir, terms, 10).collect().toSeq
      == Search.bm25TopK(docs.filter(col("doc_id") =!= 4L),
        "doc_id", "text", terms, 10).collect().toSeq)
    // Vacuum physically drops the tombstoned doc and keeps answers.
    Search.indexVacuum(spark, dir)
    assert(!spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$dir/docs").select("doc_id")
      .as[Long].collect().contains(4L))
    assert(Search.bm25FromIndexTopK(spark, dir, terms, 10).collect().toSeq
      == Search.bm25TopK(docs.filter(col("doc_id") =!= 4L),
        "doc_id", "text", terms, 10).collect().toSeq)
  }

  test("mutation currency resolve semi-joins BELOW the per-doc aggregate") {
    // The 1000x rehearsal caught the unscoped shape: a per-id aggregate
    // over the store's whole membership table serving a 500-row batch
    // (store-linear mutations). Pin the fix: the batch-id semi-join
    // must sit UNDER the aggregate in the resolve plan, so only the
    // batch's overlap is aggregated.
    val dir = java.nio.file.Files.createTempDirectory("scoped")
      .toString + "/index"
    Search.buildIndex(Seq((1L, "a b"), (2L, "c d"), (3L, "e f"))
      .toDF("doc_id", "text"), "doc_id", "text", dir)
    val plan = Search.IndexStore.currency(spark, dir,
        graft.sources.Commits.committed(spark, dir), Seq(2L).toDF("doc_id"),
        scoped = true)
      .get.queryExecution.executedPlan.toString()
    // String max_by plans sort-based aggregation; long-only plans hash.
    val aggAt = "(Hash|Sort|ObjectHash)Aggregate".r.findFirstMatchIn(plan)
      .map(_.start).getOrElse(-1)
    val semiAt = plan.indexOf("LeftSemi")
    assert(aggAt >= 0 && semiAt >= 0,
      s"resolve plan lost its aggregate or semi-join:\n$plan")
    // Parents print above children: the semi-join below the aggregate
    // appears LATER in the tree dump.
    assert(semiAt > aggAt,
      s"batch-id semi-join no longer under the aggregate:\n$plan")
  }

  private def batchDirs(dir: String, table: String): Map[Long, Long] = {
    // name -> modification time, for asserting clean batches untouched
    val p = new org.apache.hadoop.fs.Path(s"$dir/$table")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Map.empty
    else fs.listStatus(p).filter(_.getPath.getName.startsWith("b"))
      .map(s => s.getPath.getName.drop(1).toLong -> s.getModificationTime)
      .toMap
  }

  test("incremental vacuum reclaims dirty batches, leaves clean ones " +
      "byte-untouched") {
    val dir = java.nio.file.Files.createTempDirectory("bm25-ivac")
      .toString + "/index"
    Search.buildIndex(docs, "doc_id", "text", dir)                  // b0
    Search.indexAppend(
      Seq((4L, "vector vector index updated")).toDF("doc_id", "text"),
      "doc_id", "text", dir)                                        // b1
    Search.indexDelete(spark, dir, Seq(3L).toDF("doc_id"))          // b2
    val terms = Seq("spark", "vector")
    val want = Search.bm25FromIndexTopK(spark, dir, terms, 10)
      .collect().toSeq
    // b0 holds doc 4's superseded row and tombstoned doc 3's row;
    // b2 is the tombstone itself; b1 (doc 4's live generation) is clean.
    val cleanBefore = batchDirs(dir, "postings")(1L)
    assert(Search.indexVacuumIncremental(spark, dir) == 2)
    assert(Search.bm25FromIndexTopK(spark, dir, terms, 10)
      .collect().toSeq == want)
    // The clean batch's files were not rewritten.
    assert(batchDirs(dir, "postings")(1L) == cleanBefore,
      "clean batch was rewritten by an incremental vacuum")
    // Doc 3 is fully gone (its tombstone had no surviving older
    // generation to suppress), docs are single-generation again.
    val docRows = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$dir/docs")
    assert(docRows.count() == docRows.select("doc_id").distinct().count())
    assert(!docRows.select("doc_id").as[Long].collect().contains(3L))
    // Nothing dirty remains: a second pass is a no-op.
    assert(Search.indexVacuumIncremental(spark, dir) == 0)
    // The store keeps serving mutations afterwards.
    assert(Search.indexAppend(
      Seq((9L, "vector spark extra")).toDF("doc_id", "text"),
      "doc_id", "text", dir) == 1L)
  }

  test("incremental vacuum carries a tombstone whose older generation " +
      "survives in an unselected batch") {
    val dir = java.nio.file.Files.createTempDirectory("bm25-ivac2")
      .toString + "/index"
    Search.buildIndex(docs, "doc_id", "text", dir)                  // b0
    Search.indexDelete(spark, dir, Seq(1L).toDF("doc_id"))          // b1
    val terms = Seq("spark", "vector")
    val want = Search.bm25FromIndexTopK(spark, dir, terms, 10)
      .collect().toSeq
    assert(!want.exists(_.getLong(0) == 1L))
    // b0 is 1/5 dead (doc 1's old row), under the threshold. Dropping
    // b1's tombstone would resurrect doc 1 out of b0, so it is live
    // while b0 stays: the pass selects nothing and rewrites nothing
    // (selecting b1 would only copy the tombstone under a new id).
    assert(Search.indexVacuumIncremental(spark, dir,
      minDeadFraction = 0.5) == 0)
    assert(Search.bm25FromIndexTopK(spark, dir, terms, 10)
      .collect().toSeq == want, "carried tombstone stopped suppressing")
    // A full-threshold pass then reclaims b0 AND the carried tombstone
    // together: doc 1 disappears physically, answers unchanged.
    assert(Search.indexVacuumIncremental(spark, dir) == 2)
    val docRows = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$dir/docs")
    assert(!docRows.select("doc_id").as[Long].collect().contains(1L))
    assert(Search.bm25FromIndexTopK(spark, dir, terms, 10)
      .collect().toSeq == want)
  }

  test("a crash between the vacuum rewrite commit and the reclaim " +
      "stays correct and converges") {
    val dir = java.nio.file.Files.createTempDirectory("bm25-ivac3")
      .toString + "/index"
    Search.buildIndex(docs, "doc_id", "text", dir)                  // b0
    Search.indexAppend(
      Seq((4L, "vector vector index updated")).toDF("doc_id", "text"),
      "doc_id", "text", dir)                                        // b1
    Search.indexDelete(spark, dir, Seq(3L).toDF("doc_id"))          // b2
    val terms = Seq("spark", "vector")
    val want = Search.bm25FromIndexTopK(spark, dir, terms, 10)
      .collect().toSeq
    // Crash point: the rewrite batch is COMMITTED but the reclaimed
    // batches' markers are still present — both generations visible.
    val committed = graft.sources.Commits.committed(spark, dir)
    val selected = Search.IndexStore.dirtyBatches(spark, dir, committed, 0.0)
    Search.IndexStore.rewriteAndCommit(spark, dir, committed, selected)
    assert(Search.bm25FromIndexTopK(spark, dir, terms, 10)
      .collect().toSeq == want,
      "duplicate generations across the crash window changed answers")
    // The next incremental vacuum reclaims the now-all-dead originals.
    assert(Search.indexVacuumIncremental(spark, dir) >= 2)
    assert(Search.bm25FromIndexTopK(spark, dir, terms, 10)
      .collect().toSeq == want)
    val docRows = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$dir/docs")
    assert(docRows.count() == docRows.select("doc_id").distinct().count())
  }

  test("indexCompactBatches folds the smallest batches, keeps answers, " +
      "carries tombstones") {
    val dir = java.nio.file.Files.createTempDirectory("bm25-cpt")
      .toString + "/index"
    Search.buildIndex(docs, "doc_id", "text", dir)                // b0 (big)
    // Five micro-appends + one takedown: 7 committed batches.
    (1 to 5).foreach { i =>
      Search.indexAppend(
        Seq((100L + i, s"micro doc $i spark vector")).toDF("doc_id", "text"),
        "doc_id", "text", dir)
    }
    Search.indexDelete(spark, dir, Seq(2L).toDF("doc_id"))
    assert(graft.sources.Commits.committed(spark, dir).size == 7)
    val terms = Seq("spark", "vector")
    val want = Search.bm25FromIndexTopK(spark, dir, terms, 10)
      .collect().toSeq
    assert(!want.exists(_.getLong(0) == 2L))
    // Fold down to 3 batches: the 5 smallest (the micro-appends and
    // the tombstone batch) rewrite into one; b0 — the biggest — keeps
    // its files, so doc 2's tombstone MUST carry or it resurrects.
    assert(Search.indexCompactBatches(spark, dir, maxBatches = 3) == 5)
    assert(graft.sources.Commits.committed(spark, dir).size == 3)
    assert(Search.bm25FromIndexTopK(spark, dir, terms, 10)
      .collect().toSeq == want,
      "compaction changed answers (or dropped a carried tombstone)")
    // Within bound now: a second call is a no-op.
    assert(Search.indexCompactBatches(spark, dir, maxBatches = 3) == 0)
    // Spent attempt markers were pruned: the ledger listing stays
    // bounded under incremental-only maintenance (only the max spent
    // marker survives, plus any the pass itself allocated).
    assert(graft.sources.Commits.attempted(spark, dir).size <= 2,
      "attempt markers accumulated past the prune bound")
    // Mutations keep working; the folded micro docs are still there.
    assert(Search.bm25FromIndexTopK(spark, dir, Seq("micro"), 10)
      .collect().length == 5)
    assert(Search.indexAppend(
      Seq((200L, "spark post compact")).toDF("doc_id", "text"),
      "doc_id", "text", dir) == 1L)
  }

  test("incremental vacuum sweeps orphan batch dirs from crashed appends") {
    val dir = java.nio.file.Files.createTempDirectory("bm25-ivac4")
      .toString + "/index"
    Search.buildIndex(docs, "doc_id", "text", dir)                  // b0
    // Crashed append: attempt recorded, postings written, no commit.
    graft.sources.Commits.recordAttempt(spark, dir, 1L)
    Search.writePostingsSlice(
      Seq((9L, "spark orphan")).toDF("doc_id", "text"),
      "doc_id", "text", dir, 1L)
    assert(batchDirs(dir, "postings").contains(1L))
    // Nothing is dirty, but the sweep still reclaims the orphan.
    assert(Search.indexVacuumIncremental(spark, dir) == 0)
    assert(!batchDirs(dir, "postings").contains(1L),
      "orphan batch dir survived the vacuum sweep")
  }

  test("snippetTopK picks the densest window and breaks ties earliest") {
    val corpus = Seq(
      // Hits at positions 1, 13, 14: the 12-token window from 13
      // covers two hits, any earlier start covers one.
      (1L, "spark a b c d e f g h i j k spark vector"),
      // Hits at 1, 3, 5 with window 3: starts 1 and 3 both cover two
      // hits -> the earlier start wins.
      (2L, "spark x spark y spark"),
      (3L, "nothing relevant here"))
      .toDF("doc_id", "text")
    val terms = Seq("spark", "vector")
    val got = Search.snippetTopK(corpus, "doc_id", "text", terms, k = 10,
        window = 12)
      .select("doc_id", "start_pos", "n_hits", "snippet")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got.keySet == Set(1L, 2L))
    assert(got(1L) == ((13L, 2L, "spark vector")))
    // Whole doc 2 fits in one 12-token window starting at its first hit.
    assert(got(2L) == ((1L, 3L, "spark x spark y spark")))

    val tight = Search.snippetTopK(corpus, "doc_id", "text", terms,
        k = 10, window = 3)
      .select("doc_id", "start_pos", "n_hits", "snippet")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(tight(2L) == ((1L, 2L, "spark x spark")))
  }

  test("rm3TopK recalls a doc holding only expansion terms, ranks the " +
      "feedback doc first, and excludes terms past the fbTerms cap") {
    val dir = java.nio.file.Files
      .createTempDirectory("rm3").toString + "/index"
    // Doc 1 is the only 'spark' match -> the sole feedback doc. Its
    // heaviest non-query terms are alpha (tf 2) then beta (tf 1);
    // fbTerms=2 admits exactly those, so 'gamma' never expands and
    // doc 4 stays invisible. Doc 2 has NO query term but both
    // expansion terms: plain BM25 cannot return it, RM3 must.
    val corpus = Seq(
      (1L, "spark alpha alpha beta gamma"),
      (2L, "alpha beta noise"),
      (3L, "unrelated words entirely"),
      (4L, "gamma gamma gamma"))
      .toDF("doc_id", "text")
    Search.buildIndex(corpus, "doc_id", "text", dir)
    assert(!Search.bm25FromIndexTopK(spark, dir, Seq("spark"), 10)
      .collect().exists(_.getLong(0) == 2L))
    val got = Search.rm3TopK(spark, dir, Seq("spark"), k = 10,
      fbDocs = 1, fbTerms = 2)
      .select("doc_id", "n_matched", "score_1e6")
      .as[(Long, Int, Long)].collect().toSeq
    assert(got.map(_._1) == Seq(1L, 2L),
      s"expected docs 1 then 2, got $got")
    val byId = got.map(x => x._1 -> x).toMap
    // Doc 1 matches spark+alpha+beta, doc 2 only the two expansions.
    assert(byId(1L)._2 == 3 && byId(2L)._2 == 2)
  }

  test("fuzzyTermTopK: exact match ranks first, distance-1 forms by " +
      "frequency, distance-2 transpositions rejected") {
    val docs = Seq(
      (1L, "spark spark spark sport sport spork sprak stark"),
      (2L, "spark sport"))
      .toDF("doc_id", "text")
    // Query 'spork': spark (lev 1, cf 4), sport (lev 1, cf 3),
    // spork itself (lev 0), stark (lev 2 -> out), sprak (lev 2 -> out
    // even though it shares the deletion key 'sprk' with nothing of
    // spork... it does NOT share one; stark shares 'stark'->? no).
    val got = Search.fuzzyTermTopK(docs, "doc_id", "text", "spork", 10)
      .as[(String, Long, Long)].collect().toSeq
    assert(got.head == (("spork", 1L, 0L)), s"got $got")
    assert(got.tail.map(_._1) == Seq("spark", "sport"), s"got $got")
    assert(got.tail.map(_._3).forall(_ == 1L))
  }

  test("queryLikelihoodTopK ranks by smoothed LM score and skips " +
      "corpus-absent terms") {
    val docs = Seq(
      (1L, "q q pad"),
      (2L, "q pad pad"),
      (3L, "pad pad pad"))
      .toDF("doc_id", "text")
    val got = Search.queryLikelihoodTopK(docs, "doc_id", "text",
        Seq("q", "ghost"), k = 10, mu = 10.0)
      .as[(Long, Int, Long)].collect().toSeq
    // Doc 3 matches nothing -> excluded; tf 2 outranks tf 1 at equal
    // dl; 'ghost' (cf = 0) contributes exactly 0 to every score.
    assert(got.map(_._1) == Seq(1L, 2L), s"got $got")
    assert(got.forall(_._2 == 1))
    // cf('q') = 3 occurrences across the corpus, |C| = 9 tokens.
    val expected = (tf: Int) =>
      math.round(math.log((tf + 10.0 * 3.0 / 9.0) / (3 + 10.0)) * 1e6)
    assert(got.map(_._3) == Seq(expected(2), expected(1)), s"got $got")
  }

  test("evalNdcg: perfect BM25 ordering scores 1000 milli, a length-" +
      "normalization inversion scores below") {
    // Term 'q': doc 1 has the highest relevance (tf 3) but is LONG, so
    // BM25's length normalization ranks the short tf-1 doc 2 first —
    // the ranking diverges from the ideal and NDCG drops below 1.
    // Term 'z': short docs, tf order = rank order -> NDCG exactly 1.
    val filler = (1 to 297).map(i => s"f$i").mkString(" ")
    val docs = Seq(
      (1L, s"q q q $filler"),
      (2L, "q tiny"),
      (3L, "z z z pad"),
      (4L, "z pad2"))
      .toDF("doc_id", "text")
    val got = Search.evalNdcg(docs, "doc_id", "text", Seq("q", "z"),
        k = 10, maxRel = 3)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got("z")._3 == 1000L, s"got $got")
    assert(got("q")._3 < 1000L && got("q")._3 > 0L, s"got $got")
    // DCG never exceeds IDCG; both positive when any doc matches.
    assert(got.values.forall(v => v._1 > 0 && v._1 <= v._2))
    // A term matching nothing emits no row.
    val none = Search.evalNdcg(docs, "doc_id", "text",
      Seq("absent"), k = 10).collect()
    assert(none.isEmpty)
  }

  test("evalMrr: first-relevant rank, recall, empty-qrel term omitted") {
    import spark.implicits._
    // Equal dl (3 tokens) so BM25 ranks purely by tf, ties on doc_id.
    // qrelMod=3 -> relevant to 'a' are term-bearing ids 3 and 6.
    val docs = Seq(
      (1L, "a a a"), (2L, "a a x"), (3L, "a x x"), (6L, "a x x"),
      (5L, "z y x"))
      .toDF("doc_id", "text")
    val got = Search.evalMrr(docs, "doc_id", "text", Seq("a", "z"),
        k = 10, qrelMod = 3)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // Ranking for 'a': 1,2,3,6 -> first relevant at rank 3, both
    // relevant inside k.
    // 'z' matches only doc 5 (not ≡ 0 mod 3) -> empty qrel, no row.
    assert(got == Map("a" -> ((2L, 333333L, 1000L))), s"got $got")
  }
}
