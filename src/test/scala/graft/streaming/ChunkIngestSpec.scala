package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming chunk-store ingest: micro-batches of docs land as
  * committed chunk generations; redelivery appends nothing; changed
  * content re-chunks and the read face resolves to the latest
  * generation.
  */
class ChunkIngestSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("chunkIngestBatch is idempotent and versions changed docs") {
    val dir = tmp("chunkstore") + "/store"
    val docs = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")),   // 3 chunks @ w4 s3
      (2L, "a b c"),                                    // 1 chunk
      (3L, "   "))                                      // chunks to nothing
      .toDF("doc_id", "text")
    val n1 = Streams.chunkIngestBatch(docs, dir, "doc_id", "text",
      window = 4, overlap = 1)
    assert(n1 == 3, s"first delivery must chunk all docs, got $n1")
    // Redelivery of the identical batch appends nothing — including
    // doc 3, whose empty chunking still recorded a docs row.
    val n2 = Streams.chunkIngestBatch(docs, dir, "doc_id", "text",
      window = 4, overlap = 1)
    assert(n2 == 0, s"redelivery must be a no-op, got $n2")
    val cur = Streams.chunkStoreRead(spark, dir).get
      .orderBy("doc_id", "chunk_seq")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(cur == Seq(
      (1L, 0L, 4L, "t1 t2 t3 t4"),
      (1L, 1L, 4L, "t4 t5 t6 t7"),
      (1L, 2L, 4L, "t7 t8 t9 t10"),
      (2L, 0L, 3L, "a b c")))
    // Changed content: doc 2 grows a token -> ONE doc re-chunks, and
    // the read face serves only its new generation.
    val changed = Seq((2L, "a b c d e")).toDF("doc_id", "text")
    val n3 = Streams.chunkIngestBatch(changed, dir, "doc_id", "text",
      window = 4, overlap = 1)
    assert(n3 == 1)
    val after = Streams.chunkStoreRead(spark, dir).get
      .filter(col("doc_id") === 2L).orderBy("chunk_seq")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(after == Seq((2L, 0L, 4L, "a b c d"), (2L, 1L, 2L, "d e")))
    // The superseded generation is still on disk but never surfaces.
    val rawChunks = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$dir/chunks")
      .filter(col("doc_id") === 2L).count()
    assert(rawChunks == 3, "old generation should remain on disk")
  }

  test("chunkIngestSink feeds the store through foreachBatch") {
    val dir = tmp("chunksink") + "/store"
    val ckpt = tmp("chunksink-ckpt")
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val q = Streams.chunkIngestSink(in.toDF().toDF("doc_id", "text"),
      dir, "doc_id", "text", window = 4, overlap = 1, ckpt)
    in.addData((1L, "w x y z p q"), (2L, "solo"))
    in.addData((1L, "w x y z p q"))            // redelivered doc
    try q.processAllAvailable() finally q.stop()
    val got = Streams.chunkStoreRead(spark, dir).get
      .orderBy("doc_id", "chunk_seq")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(got == Seq(
      (1L, 0L, 4L, "w x y z"),
      (1L, 1L, 3L, "z p q"),
      (2L, 0L, 1L, "solo")))
    // Exactly one generation per doc despite the duplicate delivery.
    val gens = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$dir/docs").groupBy("doc_id")
      .count().as[(Long, Long)].collect().toMap
    assert(gens == Map(1L -> 1L, 2L -> 1L))
  }

  test("a crash between chunk and docs writes stays invisible and converges") {
    val dir = tmp("chunkcrash") + "/store"
    val docs = Seq((1L, "a b c d e f")).toDF("doc_id", "text")
    Streams.chunkIngestBatch(docs, dir, "doc_id", "text", 4, 1)
    // Simulate the crash window: chunks of a NEW batch id written,
    // docs row + commit marker never landed.
    val orphanId = graft.sources.Commits.allocateBatchId(spark, dir)
    Seq((9L, 0L, 2L, "zz zz", orphanId))
      .toDF("doc_id", "chunk_seq", "n_tokens", "chunk_text", "batch")
      .write.parquet(s"$dir/chunks/b$orphanId")
    // Readers never see the orphan.
    val ids = Streams.chunkStoreRead(spark, dir).get
      .select("doc_id").distinct().as[Long].collect().toSeq
    assert(ids == Seq(1L))
    // The retry allocates a FRESH id above the orphan's burned one and
    // lands normally.
    val n = Streams.chunkIngestBatch(
      Seq((9L, "zz yy xx")).toDF("doc_id", "text"), dir, "doc_id", "text",
      4, 1)
    assert(n == 1)
    val batches = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$dir/chunks")
      .filter(col("doc_id") === 9L).select("batch").distinct()
      .as[Long].collect().toSeq.sorted
    assert(batches.size == 2 && batches.last > orphanId,
      s"retry must burn the orphan id, got $batches (orphan $orphanId)")
    val got = Streams.chunkStoreRead(spark, dir).get
      .filter(col("doc_id") === 9L).select("chunk_text")
      .as[String].collect().toSeq
    assert(got == Seq("zz yy xx"))
  }

  test("chunkStoreDelete tombstones a doc's passages; re-ingest " +
      "resurrects; vacuum reclaims") {
    val dir = tmp("chunkdel") + "/store"
    val docs = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")),
      (2L, "a b c"),
      (3L, "p q r s t"))
      .toDF("doc_id", "text")
    Streams.chunkIngestBatch(docs, dir, "doc_id", "text", 4, 1)  // b0
    // Takedown doc 1: its passages leave the read face at once.
    assert(Streams.chunkStoreDelete(spark, dir,
      Seq(1L).toDF("doc_id")) == 1L)                             // b1
    assert(Streams.chunkStoreDelete(spark, dir,
      Seq(1L).toDF("doc_id")) == 0L, "delete must be idempotent")
    val afterDel = Streams.chunkStoreRead(spark, dir).get
      .select("doc_id").distinct().as[Long].collect().toSeq.sorted
    assert(afterDel == Seq(2L, 3L))
    // Update doc 2 (b2 supersedes its b0 generation).
    Streams.chunkIngestBatch(Seq((2L, "a b c d e")).toDF("doc_id", "text"),
      dir, "doc_id", "text", 4, 1)                               // b2
    val want = Streams.chunkStoreRead(spark, dir).get
      .orderBy("doc_id", "chunk_seq")
      .as[(Long, Long, Long, String)].collect().toSeq
    // Vacuum reclaims: b0 (doc1 dead via tombstone, doc2 superseded),
    // b1 (tombstone, carried? doc1 has rows ONLY in b0 — also selected
    // — so it drops entirely). Read face unchanged, doc 1 physically
    // gone, single generation per doc.
    assert(Streams.chunkStoreVacuum(spark, dir) >= 2)
    assert(Streams.chunkStoreRead(spark, dir).get
      .orderBy("doc_id", "chunk_seq")
      .as[(Long, Long, Long, String)].collect().toSeq == want)
    val docRows = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$dir/docs")
    assert(docRows.count() == docRows.select("doc_id").distinct().count())
    assert(!docRows.select("doc_id").as[Long].collect().contains(1L))
    // Second pass: nothing dirty.
    assert(Streams.chunkStoreVacuum(spark, dir) == 0)
    // Re-ingest of the deleted id resurrects it.
    assert(Streams.chunkIngestBatch(
      Seq((1L, "back again ok")).toDF("doc_id", "text"),
      dir, "doc_id", "text", 4, 1) == 1L)
    assert(Streams.chunkStoreRead(spark, dir).get
      .filter(col("doc_id") === 1L).select("chunk_text")
      .as[String].collect().toSeq == Seq("back again ok"))
  }

  test("chunkStoreCompactBatches folds micro-batches, read face " +
      "unchanged") {
    val dir = tmp("chunkcpt") + "/store"
    Streams.chunkIngestBatch(
      (1L to 8L).map(i => (i, s"d$i w x y z")).toDF("doc_id", "text"),
      dir, "doc_id", "text", 4, 1)                               // b0
    (1 to 4).foreach { i =>
      Streams.chunkIngestBatch(
        Seq((100L + i, s"micro $i a b")).toDF("doc_id", "text"),
        dir, "doc_id", "text", 4, 1)
    }
    Streams.chunkStoreDelete(spark, dir, Seq(3L).toDF("doc_id"))
    assert(graft.sources.Commits.committed(spark, dir).size == 6)
    val want = Streams.chunkStoreRead(spark, dir).get
      .orderBy("doc_id", "chunk_seq")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(Streams.chunkStoreCompactBatches(spark, dir,
      maxBatches = 2) == 5)
    assert(graft.sources.Commits.committed(spark, dir).size == 2)
    assert(Streams.chunkStoreRead(spark, dir).get
      .orderBy("doc_id", "chunk_seq")
      .as[(Long, Long, Long, String)].collect().toSeq == want)
    assert(Streams.chunkStoreCompactBatches(spark, dir,
      maxBatches = 2) == 0)
  }

  test("a thresholded chunk vacuum carries a tombstone whose older " +
      "generation survives") {
    val dir = tmp("chunkcarry") + "/store"
    val docs = (1L to 5L).map(i => (i, s"d$i w x y z"))
      .toDF("doc_id", "text")
    Streams.chunkIngestBatch(docs, dir, "doc_id", "text", 4, 1)  // b0
    Streams.chunkStoreDelete(spark, dir, Seq(1L).toDF("doc_id")) // b1
    val want = Streams.chunkStoreRead(spark, dir).get
      .select("doc_id").distinct().as[Long].collect().toSeq.sorted
    assert(want == Seq(2L, 3L, 4L, 5L))
    // b0 is 1/5 dead, under the threshold: b1's tombstone is live while
    // b0 stays (dropping it would resurrect doc 1 out of b0), so the
    // pass selects nothing and rewrites nothing.
    assert(Streams.chunkStoreVacuum(spark, dir,
      minDeadFraction = 0.5) == 0)
    assert(Streams.chunkStoreRead(spark, dir).get
      .select("doc_id").distinct().as[Long].collect().toSeq.sorted
      == want, "carried chunk tombstone stopped suppressing")
    // Full-threshold pass reclaims the rest; doc 1 gone physically.
    assert(Streams.chunkStoreVacuum(spark, dir) == 2)
    val docRows = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$dir/docs")
    assert(!docRows.select("doc_id").as[Long].collect().contains(1L))
  }
}
