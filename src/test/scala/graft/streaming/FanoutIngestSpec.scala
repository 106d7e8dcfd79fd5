package graft.streaming

import graft.SparkSpec
import graft.operators.{Search, Similarity}
import graft.sources.Commits
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Composed ingest: one stream fans each micro-batch into the merge
  * store, the standing inverted index, and the standing ANN store —
  * after the run every store answers from the same corpus state,
  * including a changed-content upsert and a redelivered batch.
  */
class FanoutIngestSpec extends SparkSpec {
  import spark.implicits._

  test("fanoutIngestSink advances all five standing stores together") {
    val root = java.nio.file.Files.createTempDirectory("fanout").toString
    val (storeDir, indexDir, annDir, pqDir, ckpt) = (s"$root/store",
      s"$root/index", s"$root/ann", s"$root/pq", s"$root/ckpt")
    val chunkDir = s"$root/chunks"
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Long, String, Seq[Float])]
    val q = Streams.fanoutIngestSink(
      in.toDF().toDF("doc_id", "text", "vec"),
      storeDir, indexDir, annDir, "doc_id", "text", ckpt,
      vecCol = Some("vec"), planes = 4, dims = 3,
      pqDir = Some(pqDir), pqM = 3, pqCodes = 2,
      chunkDir = Some(chunkDir), chunkWindow = 4, chunkOverlap = 1)
    try {
      in.addData(
        (1L, "spark engine spark", Seq(1.0f, 0.0f, 0.0f)),
        (2L, "vector draft placeholder", Seq(0.0f, 1.0f, 0.0f)))
      q.processAllAvailable()
      in.addData(
        (1L, "spark engine spark", Seq(1.0f, 0.0f, 0.0f)),  // redelivered
        (2L, "vector index merge", Seq(0.0f, 1.0f, 0.0f)),  // changed text
        (3L, "stream merge sort", Seq(0.0f, 0.0f, 1.0f)))   // new
      q.processAllAvailable()
    } finally q.stop()

    val finalCorpus = Seq(
      (1L, "spark engine spark"),
      (2L, "vector index merge"),
      (3L, "stream merge sort")).toDF("doc_id", "text")

    // 1. Merge store: one row per doc, doc 2 carries the UPDATED text.
    val state = Streams.readState(spark, storeDir).get
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(state == finalCorpus.as[(Long, String)].collect().toMap)

    // 2. Inverted index: bit-identical to the scan-path BM25 over the
    // final corpus — doc 2's superseded postings must not score.
    val terms = Seq("spark", "vector", "merge")
    assert(Search.bm25FromIndexTopK(spark, indexDir, terms, 10)
      .collect().toSeq ==
      Search.bm25TopK(finalCorpus, "doc_id", "text", terms, 10)
        .collect().toSeq)
    assert(Search.bm25FromIndexTopK(spark, indexDir, Seq("draft"), 5)
      .collect().isEmpty)

    // 3. ANN store: probing near each doc's vector surfaces that doc
    // (query ids are fresh — the store excludes same-id self matches).
    val queries = Seq(
      (101L, Seq(0.9f, 0.1f, 0.0f)),
      (103L, Seq(0.0f, 0.1f, 0.9f))).toDF("id", "vec")
    val top = Similarity.annStoreTopK(spark, annDir, queries,
      planes = 4, dims = 3, k = 1)
      .select("qid", "cid").as[(Long, Long)].collect().toMap
    assert(top == Map(101L -> 1L, 103L -> 3L))

    // 4. PQ store: codebook trained once on the first batch, every
    // current vector encoded and live.
    assert(Similarity.pqStoreLiveIds(spark, pqDir)
      .as[Long].collect().toSet == Set(1L, 2L, 3L))

    // 5. Chunk store: passages of the CURRENT text (doc 2 re-chunked
    // on its changed-content upsert).
    assert(Streams.chunkStoreRead(spark, chunkDir).get
      .select("doc_id", "chunk_text").as[(Long, String)].collect().toMap
      == Map(1L -> "spark engine spark", 2L -> "vector index merge",
        3L -> "stream merge sort"))

    // TAKEDOWN: doc 2 leaves all five stores in one composed call,
    // idempotently.
    val gone = Streams.fanoutDeleteBatch(Seq(2L).toDF("doc_id"), 99L,
      storeDir, indexDir, annDir, pqDir = Some(pqDir),
      chunkDir = Some(chunkDir))
    assert(gone == ((1L, 1L, 1L, 1L, 1L, 0L)),
      s"unexpected delete counts: $gone")
    assert(Streams.fanoutDeleteBatch(Seq(2L).toDF("doc_id"), 100L,
      storeDir, indexDir, annDir, pqDir = Some(pqDir),
      chunkDir = Some(chunkDir))
      == ((0L, 0L, 0L, 0L, 0L, 0L)))
    assert(Streams.chunkStoreRead(spark, chunkDir).get
      .select("doc_id").distinct().as[Long].collect().toSet
      == Set(1L, 3L),
      "taken-down doc's passages must leave the chunk store too")
    assert(Similarity.pqStoreLiveIds(spark, pqDir)
      .as[Long].collect().toSet == Set(1L, 3L),
      "taken-down doc's quantized codes must leave the PQ store too")
    assert(Streams.readState(spark, storeDir).get
      .select("doc_id").as[Long].collect().toSet == Set(1L, 3L))
    assert(Search.bm25FromIndexTopK(spark, indexDir, terms, 10)
      .collect().toSeq ==
      Search.bm25TopK(finalCorpus.filter($"doc_id" =!= 2L),
        "doc_id", "text", terms, 10).collect().toSeq)
    val probe2 = Similarity.annStoreTopK(spark, annDir,
      Seq((102L, Seq(0.1f, 0.9f, 0.0f))).toDF("id", "vec"),
      planes = 4, dims = 3, k = 1)
      .select("cid").as[Long].collect().toSeq
    assert(!probe2.contains(2L), s"deleted vector still matching: $probe2")
  }

  test("fanoutIngestBatchGated advances all six stores on one cadence") {
    val root = java.nio.file.Files.createTempDirectory("fanout-gate").toString
    val (storeDir, indexDir, annDir, gramDir, pqDir) = (s"$root/store",
      s"$root/index", s"$root/ann", s"$root/gram", s"$root/pq")
    val chunkDir = s"$root/chunks"
    def gated(batch: org.apache.spark.sql.DataFrame, id: Long) =
      Streams.fanoutIngestBatchGated(batch, id, storeDir, indexDir, annDir,
        gramDir, "doc_id", "text", vecCol = Some("vec"),
        planes = 4, dims = 3, k = 3, pqDir = Some(pqDir), pqM = 3,
        pqCodes = 2, chunkDir = Some(chunkDir), chunkWindow = 4,
        chunkOverlap = 1)

    // Wave 1: docs 1 and 2 share two 3-grams (both lose tokens 0..3),
    // doc 3 is untouched.
    val wave1 = Seq(
      (1L, "alpha beta gamma delta epsilon", Seq(1.0f, 0.0f, 0.0f)),
      (2L, "alpha beta gamma delta zeta eta", Seq(0.0f, 1.0f, 0.0f)),
      (3L, "unique words only here nothing shared", Seq(0.0f, 0.0f, 1.0f)))
      .toDF("doc_id", "text", "vec")
    assert(gated(wave1, 0L) == ((3L, 3L, 3L, 3L, 3L, 0L)))

    // Wave 2: 1 is an exact redelivery (gate drop, sinks no-op), 4 is
    // an exact copy of doc 3 under a new id (drops EVERYWHERE), 5
    // repeats doc 3's text plus a fresh tail (spans removed, tail
    // survives), 6 is 100 % covered by a stored span (drops everywhere).
    val wave2 = Seq(
      (1L, "alpha beta gamma delta epsilon", Seq(1.0f, 0.0f, 0.0f)),
      (4L, "unique words only here nothing shared", Seq(0.5f, 0.5f, 0.0f)),
      (5L, "unique words only here nothing shared fresh tail",
        Seq(0.0f, 0.5f, 0.5f)),
      (6L, "unique words only", Seq(0.5f, 0.0f, 0.5f)))
      .toDF("doc_id", "text", "vec")
    assert(gated(wave2, 1L) == ((1L, 1L, 1L, 1L, 1L, 0L)))

    val expected = Map(
      1L -> "epsilon",
      2L -> "zeta eta",
      3L -> "unique words only here nothing shared",
      5L -> "fresh tail")

    // Merge store holds exactly the gate's survivors with CLEANED text.
    assert(Streams.readState(spark, storeDir).get
      .select("doc_id", "text").as[(Long, String)].collect().toMap
      == expected)
    // Index answers == scan-path BM25 over the cleaned corpus; the
    // gate-dropped docs' ids never score.
    val cleanCorpus = expected.toSeq.toDF("doc_id", "text")
    val terms = Seq("epsilon", "fresh", "unique", "zeta")
    assert(Search.bm25FromIndexTopK(spark, indexDir, terms, 10)
      .collect().toSeq ==
      Search.bm25TopK(cleanCorpus, "doc_id", "text", terms, 10)
        .collect().toSeq)
    // ANN: each survivor's own vector surfaces it; the dropped ids are
    // not probeable.
    val probeAll = Similarity.annStoreTopK(spark, annDir,
      Seq((101L, Seq(1.0f, 0.0f, 0.0f)), (103L, Seq(0.0f, 0.0f, 1.0f)),
        (105L, Seq(0.0f, 0.5f, 0.5f)))
        .toDF("id", "vec"), planes = 4, dims = 3, k = 10)
      .select("cid").as[Long].collect().toSet
    assert(probeAll.contains(1L) && probeAll.contains(3L) &&
      probeAll.contains(5L), s"survivor vectors missing: $probeAll")
    assert(!probeAll.contains(4L) && !probeAll.contains(6L),
      s"gate-dropped ids reached the ANN store: $probeAll")

    // CRASH between the gate's commit and the sink appends: the gate
    // alone ingests wave 3 (doc 7 survives, doc 8 is an exact dup of
    // doc 1), then the gated fan-out REDELIVERS the same batch — the
    // gate inserts nothing, but the committed survivor still reaches
    // every sink.
    val wave3 = Seq(
      (7L, "totally different content seven", Seq(1.0f, 1.0f, 0.0f)),
      (8L, "alpha beta gamma delta epsilon", Seq(1.0f, 0.0f, 1.0f)))
      .toDF("doc_id", "text", "vec")
    assert(Streams.substringIngestBatch(wave3.drop("vec"), gramDir,
      "doc_id", "text", k = 3) == 1L)
    assert(gated(wave3, 2L) == ((0L, 1L, 1L, 1L, 1L, 0L)))
    assert(Streams.readState(spark, storeDir).get
      .filter($"doc_id" === 7L).select("text").as[String].collect().toSeq
      == Seq("totally different content seven"))
    assert(Search.bm25FromIndexTopK(spark, indexDir, Seq("seven"), 5)
      .select("doc_id").as[Long].collect().toSeq == Seq(7L))

    // Full redelivery of wave 2 converges as a complete no-op.
    assert(gated(wave2, 1L) == ((0L, 0L, 0L, 0L, 0L, 0L)))
    assert(Streams.readState(spark, storeDir).get.count() == 5)

    // An ALL-DUPLICATE delivery under fresh ids (the common case a
    // dedup gate exists for) must not touch the sinks at all — in
    // particular it must not commit a merge-store generation.
    val before = Commits.committed(spark, storeDir)
    val allDup = Seq(
      (40L, "alpha beta gamma delta epsilon", Seq(0.2f, 0.2f, 0.2f)),
      (41L, "unique words only here nothing shared", Seq(0.3f, 0.3f, 0.3f)))
      .toDF("doc_id", "text", "vec")
    assert(gated(allDup, 7L) == ((0L, 0L, 0L, 0L, 0L, 0L)))
    assert(Commits.committed(spark, storeDir) == before,
      "all-duplicate batch committed a merge-store generation")
    assert(Streams.readState(spark, storeDir).get.count() == 5)
    // PQ store membership tracks the other surfaces exactly.
    assert(Similarity.pqStoreLiveIds(spark, pqDir)
      .as[Long].collect().toSet == Set(1L, 2L, 3L, 5L, 7L),
      "PQ store membership diverged from the composed cadence")
    // Chunk store serves the CLEANED text's passages (doc 5 keeps
    // only its post-span-screen tail).
    assert(Streams.chunkStoreRead(spark, chunkDir).get
      .select("doc_id").distinct().as[Long].collect().toSet
      == Set(1L, 2L, 3L, 5L, 7L))
    assert(Streams.chunkStoreRead(spark, chunkDir).get
      .filter($"doc_id" === 5L).select("chunk_text").as[String]
      .collect().toSeq == Seq("fresh tail"))
  }

  test("fanoutIngestBatchNeardupGated advances all seven stores on one " +
      "cadence") {
    val root = java.nio.file.Files.createTempDirectory("fanout-nd").toString
    val (storeDir, indexDir, annDir, gramDir, ndDir) = (s"$root/store",
      s"$root/index", s"$root/ann", s"$root/gram", s"$root/nd")
    val pqDir = s"$root/pq"
    val chunkDir = s"$root/chunks"
    def gated(batch: org.apache.spark.sql.DataFrame, id: Long) =
      Streams.fanoutIngestBatchNeardupGated(batch, id, storeDir, indexDir,
        annDir, gramDir, ndDir, "doc_id", "text", vecCol = Some("vec"),
        planes = 4, dims = 3, k = 3, pqDir = Some(pqDir), pqM = 3,
        pqCodes = 2, chunkDir = Some(chunkDir), chunkWindow = 4,
        chunkOverlap = 1)
    // An 80-token doc and near-duplicates differing in ONE token:
    // 3-shingle Jaccard ~0.95, far above the 0.9 gate.
    val t80 = (0 until 80).map(i => s"tok$i").mkString(" ")
    def nearOf(at: Int, repl: String) =
      (0 until 80).map(i => if (i == at) repl else s"tok$i").mkString(" ")

    // Wave 1: all three pass the near-dup gate (2 and 3 overlap on a
    // few shingles only), then 2 and 3 lose their shared leading span
    // at the substring gate.
    val wave1 = Seq(
      (1L, t80, Seq(1.0f, 0.0f, 0.0f)),
      (2L, "alpha beta gamma delta epsilon", Seq(0.0f, 1.0f, 0.0f)),
      (3L, "alpha beta gamma delta zeta eta", Seq(0.0f, 0.0f, 1.0f)))
      .toDF("doc_id", "text", "vec")
    assert(gated(wave1, 0L) == ((3L, 3L, 3L, 3L, 3L, 3L, 0L)))

    // Wave 2: 11 is a near-dup of stored doc 1 (drops at the LSH gate),
    // 12 is an exact copy of doc 2's ORIGINAL text under a new id
    // (drops at the exact screen — the gate stores as-delivered text,
    // not cleaned), 2 is an exact redelivery (gate drop; its read-back
    // row no-ops downstream), 13 is fresh and untouched, 14 passes the
    // near-dup gate (low Jaccard) but loses the stored leading span.
    val wave2 = Seq(
      (11L, nearOf(79, "changed"), Seq(0.9f, 0.1f, 0.0f)),
      (12L, "alpha beta gamma delta epsilon", Seq(0.1f, 0.9f, 0.0f)),
      (2L, "alpha beta gamma delta epsilon", Seq(0.0f, 1.0f, 0.0f)),
      (13L, "unique words only here nothing shared", Seq(0.5f, 0.5f, 0.0f)),
      (14L, "alpha beta gamma delta completely novel ending follows",
        Seq(0.0f, 0.5f, 0.5f)))
      .toDF("doc_id", "text", "vec")
    assert(gated(wave2, 1L) == ((2L, 2L, 2L, 2L, 2L, 2L, 0L)))

    val expected = Map(
      1L -> t80,
      2L -> "epsilon",
      3L -> "zeta eta",
      13L -> "unique words only here nothing shared",
      14L -> "completely novel ending follows")
    assert(Streams.readState(spark, storeDir).get
      .select("doc_id", "text").as[(Long, String)].collect().toMap
      == expected)
    // The near-dup store admitted exactly the gate survivors.
    assert(Streams.neardupStoreRead(spark, ndDir).get
      .select("doc_id").as[Long].collect().toSet
      == Set(1L, 2L, 3L, 13L, 14L))
    // Index == scan-path BM25 over the cleaned survivor corpus; ANN
    // holds the survivors' vectors and none of the dropped ids.
    val cleanCorpus = expected.toSeq.toDF("doc_id", "text")
    val terms = Seq("epsilon", "unique", "novel", "tok5")
    assert(Search.bm25FromIndexTopK(spark, indexDir, terms, 10)
      .collect().toSeq ==
      Search.bm25TopK(cleanCorpus, "doc_id", "text", terms, 10)
        .collect().toSeq)
    val probed = Similarity.annStoreTopK(spark, annDir,
      Seq((101L, Seq(0.9f, 0.1f, 0.0f)), (104L, Seq(0.0f, 0.5f, 0.5f)))
        .toDF("id", "vec"), planes = 4, dims = 3, k = 10)
      .select("cid").as[Long].collect().toSet
    assert(!probed.contains(11L) && !probed.contains(12L),
      s"near-dup-gate-dropped ids reached the ANN store: $probed")

    // CRASH between the near-dup gate's commit and the downstream
    // advance: the gate alone ingests wave 3 (21 survives, 22 is a
    // near-dup of doc 1), then the composed call REDELIVERS the batch —
    // the gate inserts nothing, but the committed survivor still
    // reaches the span gate and every sink.
    val wave3 = Seq(
      (21L, "entirely fresh twenty one content", Seq(1.0f, 1.0f, 0.0f)),
      (22L, nearOf(40, "other"), Seq(1.0f, 0.0f, 1.0f)))
      .toDF("doc_id", "text", "vec")
    assert(Streams.neardupIngestBatch(wave3.drop("vec"), ndDir,
      "doc_id", "text") == 1L)
    assert(gated(wave3, 2L) == ((0L, 1L, 1L, 1L, 1L, 1L, 0L)))
    assert(Streams.readState(spark, storeDir).get
      .filter($"doc_id" === 21L).select("text").as[String].collect().toSeq
      == Seq("entirely fresh twenty one content"))

    // Full redelivery of wave 2 converges as a complete no-op.
    assert(gated(wave2, 1L) == ((0L, 0L, 0L, 0L, 0L, 0L, 0L)))

    // An all-duplicate delivery under fresh ids must not touch the
    // downstream stores at all — no merge-store generation, no new
    // near-dup generation beyond the gate's own screen reads.
    val before = Commits.committed(spark, storeDir)
    val allDup = Seq(
      (40L, t80, Seq(0.2f, 0.2f, 0.2f)),
      (41L, nearOf(10, "swapped"), Seq(0.3f, 0.3f, 0.3f)))
      .toDF("doc_id", "text", "vec")
    assert(gated(allDup, 7L) == ((0L, 0L, 0L, 0L, 0L, 0L, 0L)))
    assert(Commits.committed(spark, storeDir) == before,
      "all-duplicate batch committed a merge-store generation")
    assert(Streams.neardupStoreRead(spark, ndDir).get
      .select("doc_id").as[Long].collect().toSet
      == Set(1L, 2L, 3L, 13L, 14L, 21L))
    // PQ and chunk store memberships track the other surfaces exactly.
    assert(Similarity.pqStoreLiveIds(spark, pqDir)
      .as[Long].collect().toSet == Set(1L, 2L, 3L, 13L, 14L, 21L),
      "PQ store membership diverged from the composed cadence")
    assert(Streams.chunkStoreRead(spark, chunkDir).get
      .select("doc_id").distinct().as[Long].collect().toSet
      == Set(1L, 2L, 3L, 13L, 14L, 21L),
      "chunk store membership diverged from the composed cadence")
  }

  test("fanoutIngestNeardupGatedSink streams the fully-gated fan-out") {
    val root = java.nio.file.Files.createTempDirectory("fanout-nds").toString
    implicit val sc = spark.sqlContext
    val long = (0 until 60).map(i => s"word$i").mkString(" ")
    val in = MemoryStream[(Long, String)]
    val q = Streams.fanoutIngestNeardupGatedSink(
      in.toDF().toDF("doc_id", "text"),
      s"$root/store", s"$root/index", s"$root/ann", s"$root/gram",
      s"$root/nd", "doc_id", "text", s"$root/ckpt", k = 3)
    try {
      in.addData((1L, long), (2L, "one two three four five"))
      q.processAllAvailable()
      // Batch 2: 3 is a near-duplicate of 1 (one token changed — LSH
      // gate drop), 4 repeats doc 2's opening span + its own tail
      // (span gate cleans it).
      in.addData(
        (3L, (0 until 60).map(i => if (i == 59) "flip" else s"word$i")
          .mkString(" ")),
        (4L, "one two three four five six seven"))
      q.processAllAvailable()
    } finally q.stop()
    assert(Streams.readState(spark, s"$root/store").get
      .select("doc_id", "text").as[(Long, String)].collect().toMap
      == Map(1L -> long, 2L -> "one two three four five",
        4L -> "six seven"))
  }

  test("fanoutIngestGatedSink streams the gated fan-out incl. the " +
      "chunk-vector passage surface") {
    val root = java.nio.file.Files.createTempDirectory("fanout-gs").toString
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val q = Streams.fanoutIngestGatedSink(in.toDF().toDF("doc_id", "text"),
      s"$root/store", s"$root/index", s"$root/ann", s"$root/gram",
      "doc_id", "text", s"$root/ckpt", k = 3,
      chunkDir = Some(s"$root/chunks"), chunkWindow = 4, chunkOverlap = 1,
      chunkVecDir = Some(s"$root/ckvec"), chunkVecDims = 16,
      chunkVecM = 4, chunkVecCodes = 2, chunkVecCells = 2)
    try {
      in.addData((1L, "one two three four five"))
      q.processAllAvailable()
      // Batch 2: doc 2 repeats doc 1's opening span + its own tail.
      in.addData((2L, "one two three four five six seven"),
        (1L, "one two three four five"))
      q.processAllAvailable()
    } finally q.stop()
    assert(Streams.readState(spark, s"$root/store").get
      .select("doc_id", "text").as[(Long, String)].collect().toMap
      == Map(1L -> "one two three four five", 2L -> "six seven"))
    // The passage surface streamed along: doc 1's two windows trained
    // the codebook on batch 1, doc 2's CLEANED text ("six seven")
    // encoded one passage on batch 2, and passage retrieval serves
    // both docs from the standing store.
    assert(Similarity.pqStoreLiveIds(spark, s"$root/ckvec")
      .as[Long].collect().toSet == Set(100000L, 100001L, 200000L),
      "streamed chunk-vector membership diverged")
    val docs = Streams.passageTopK(spark, s"$root/ckvec", "six seven",
        dims = 16, kPassages = 10, kDocs = 5, nprobe = 2)
      .select("doc_id").as[Long].collect().toSet
    assert(docs == Set(1L, 2L), s"passage retrieval must serve: $docs")
  }

  test("fanoutDeleteSink streams takedowns across all three stores") {
    val root = java.nio.file.Files.createTempDirectory("fanout-del").toString
    val (storeDir, indexDir, annDir) =
      (s"$root/store", s"$root/index", s"$root/ann")
    implicit val sc = spark.sqlContext
    // Seed the stores through the batch fan-out.
    Streams.fanoutIngestBatch(
      Seq((1L, "spark engine", Seq(1.0f, 0.0f)),
        (2L, "vector merge", Seq(0.0f, 1.0f)),
        (3L, "stream sort", Seq(1.0f, 1.0f)))
        .toDF("doc_id", "text", "vec"),
      0L, storeDir, indexDir, annDir, "doc_id", "text",
      vecCol = Some("vec"), planes = 2, dims = 2)
    // ...and the passage surface: the chunk store leaves with them.
    val chunkDir = s"$root/chunks"
    Streams.chunkIngestBatch(
      Seq((1L, "spark engine"), (2L, "vector merge"), (3L, "stream sort"))
        .toDF("doc_id", "text"),
      chunkDir, "doc_id", "text", window = 4, overlap = 1)
    // Stream two takedown batches (the second redelivers id 2).
    val in = MemoryStream[Long]
    val q = Streams.fanoutDeleteSink(in.toDF().toDF("doc_id"), storeDir,
      indexDir, annDir, s"$root/ckpt", chunkDir = Some(chunkDir))
    try {
      in.addData(2L)
      q.processAllAvailable()
      in.addData(2L, 3L)
      q.processAllAvailable()
    } finally q.stop()
    assert(Streams.readState(spark, storeDir).get
      .select("doc_id").as[Long].collect().toSet == Set(1L))
    assert(Streams.chunkStoreRead(spark, chunkDir).get
      .select("doc_id").distinct().as[Long].collect().toSeq == Seq(1L),
      "taken-down docs' passages must leave the chunk store too")
    assert(Search.bm25FromIndexTopK(spark, indexDir,
      Seq("spark", "vector", "stream"), 10)
      .select("doc_id").as[Long].collect().toSeq == Seq(1L))
    val probe = Similarity.annStoreTopK(spark, annDir,
      Seq((101L, Seq(0.9f, 0.8f))).toDF("id", "vec"),
      planes = 2, dims = 2, k = 3)
      .select("cid").as[Long].collect().toSet
    assert(probe == Set(1L), s"only doc 1 may remain probeable: $probe")
    // ROUTINE maintenance first — the incremental cadence: dirty-batch
    // vacuums plus batch-count compaction across all three stores, one
    // call. Answers must be unchanged on every surface.
    Streams.fanoutVacuum(spark, storeDir, indexDir, annDir,
      incremental = true, chunkDir = Some(chunkDir),
      maxBatches = Some(2))
    assert(Search.bm25FromIndexTopK(spark, indexDir,
      Seq("spark", "vector", "stream"), 10)
      .select("doc_id").as[Long].collect().toSeq == Seq(1L))
    assert(Similarity.annStoreTopK(spark, annDir,
      Seq((101L, Seq(0.9f, 0.8f))).toDF("id", "vec"),
      planes = 2, dims = 2, k = 3)
      .select("cid").as[Long].collect().toSet == Set(1L))
    assert(Streams.chunkStoreRead(spark, chunkDir).get
      .select("doc_id").distinct().as[Long].collect().toSeq == Seq(1L))
    assert(graft.sources.Commits.committed(spark, indexDir).size <= 2)
    assert(graft.sources.Commits.committed(spark, annDir).size <= 2)
    assert(graft.sources.Commits.committed(spark, chunkDir).size <= 2)
    // Composed maintenance: both standing stores compact to one
    // committed batch with zero reclaimable rows, the snapshot probe
    // layouts are refreshed in the same pass, and the merge store
    // folds to one generation like the others.
    val annPart = s"$root/ann-part"
    Streams.fanoutVacuum(spark, storeDir, indexDir, annDir,
      postingsTable = Some("graft_fanout_vac_postings"),
      annPartDir = Some(annPart), chunkDir = Some(chunkDir))
    // Refreshed snapshots answer identically to the live stores.
    assert(Search.bm25FromBucketedIndexTopK(spark, indexDir,
      "graft_fanout_vac_postings", Seq("spark", "vector", "stream"), 10)
      .collect().toSeq ==
      Search.bm25FromIndexTopK(spark, indexDir,
        Seq("spark", "vector", "stream"), 10).collect().toSeq)
    assert(Similarity.annStorePartitionedTopK(spark, annPart,
      Seq((101L, Seq(0.9f, 0.8f))).toDF("id", "vec"),
      planes = 2, dims = 2, k = 3)
      .select("cid").as[Long].collect().toSet == Set(1L))
    val is = Search.indexStats(spark, indexDir).collect().head
    assert(is.getAs[Int]("committed_batches") == 1)
    assert(is.getAs[Long]("tombstoned_docs") == 0L)
    assert(is.getAs[Long]("superseded_doc_rows") == 0L)
    val as = Similarity.annStoreStats(spark, annDir).collect().head
    assert(as.getAs[Int]("committed_batches") == 1)
    assert(as.getAs[Long]("superseded_rows") == 0L)
    assert(Streams.readState(spark, storeDir).get
      .select("doc_id").as[Long].collect().toSet == Set(1L))
    // Chunk store reclaimed too: answers unchanged, one generation per
    // doc, the taken-down ids physically gone.
    assert(Streams.chunkStoreRead(spark, chunkDir).get
      .select("doc_id").distinct().as[Long].collect().toSeq == Seq(1L))
    val chunkDocs = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$chunkDir/docs")
    assert(chunkDocs.count() ==
      chunkDocs.select("doc_id").distinct().count())
    assert(chunkDocs.select("doc_id").as[Long].collect().toSet == Set(1L))
  }

  test("fanoutIngestBatch defers PQ codebook training on vector-poor " +
      "deliveries instead of poison-pilling the batch") {
    val root = java.nio.file.Files.createTempDirectory("fanout-pqd").toString
    val (storeDir, indexDir, annDir, pqDir) =
      (s"$root/store", s"$root/index", s"$root/ann", s"$root/pq")
    def deliver(batchId: Long, rows: Seq[(Long, String, Seq[Float])]) =
      Streams.fanoutIngestBatch(rows.toDF("doc_id", "text", "vec"),
        batchId, storeDir, indexDir, annDir, "doc_id", "text",
        vecCol = Some("vec"), planes = 2, dims = 2,
        pqDir = Some(pqDir), pqM = 2, pqCodes = 2)
    // Delivery 1 carries NO vectors — before the deferral this crashed
    // the whole batch inside lloydCentroids (a streaming sink would
    // redeliver and fail forever). It must advance the doc/index
    // surfaces and leave the PQ store unbuilt.
    val r1 = deliver(0L, Seq((1L, "spark engine", null)))
    assert(r1 == ((1L, 0L, 0L, 0L, 0L)), s"got $r1")
    assert(graft.sources.Commits.committed(spark, pqDir).isEmpty,
      "a vector-less delivery must not commit a PQ build")
    // Delivery 2 carries ONE embedding id — still under pqCodes=2,
    // still deferred (a 1-vector Lloyd seed set would also throw).
    val r2 = deliver(1L, Seq((2L, "vector merge", Seq(0.0f, 1.0f))))
    assert(r2 == ((1L, 1L, 0L, 0L, 0L)), s"got $r2")
    assert(graft.sources.Commits.committed(spark, pqDir).isEmpty)
    // Delivery 3 carries two distinct embedding ids — trains the
    // codebook and encodes both.
    val r3 = deliver(2L, Seq(
      (3L, "stream sort", Seq(1.0f, 1.0f)),
      (4L, "merge spark", Seq(1.0f, 0.0f))))
    assert(r3 == ((2L, 2L, 2L, 0L, 0L)), s"got $r3")
    assert(graft.sources.Commits.committed(spark, pqDir).nonEmpty)
    val hits = Similarity.pqStoreTopK(spark, pqDir,
        Seq((101L, Seq(0.9f, 0.9f))).toDF("id", "vec"), k = 2)
      .select("cid").as[Long].collect().toSet
    assert(hits == Set(3L, 4L), s"trained store must answer: $hits")
  }

  test("chunk-vector surface: fan-out encodes passages, re-chunking " +
      "tombstones vanished ones, passageTopK retrieves, takedown leaves") {
    val root = java.nio.file.Files.createTempDirectory("fanout-ckv").toString
    val (storeDir, indexDir, annDir, chunkDir, vecDir) = (s"$root/store",
      s"$root/index", s"$root/ann", s"$root/chunks", s"$root/ckvec")
    def deliver(batchId: Long, rows: Seq[(Long, String)]) =
      Streams.fanoutIngestBatch(rows.toDF("doc_id", "text"), batchId,
        storeDir, indexDir, annDir, "doc_id", "text",
        chunkDir = Some(chunkDir), chunkWindow = 4, chunkOverlap = 1,
        chunkVecDir = Some(vecDir), chunkVecDims = 16, chunkVecM = 4,
        chunkVecCodes = 3, chunkVecCells = 2)
    // Doc 1 chunks to 2 passages (6 tokens, window 4 stride 3),
    // doc 2 to one — 3 chunk vectors train and encode. codes = 3 makes
    // every distinct subspace slice its own singleton Lloyd cluster,
    // so reconstructions are EXACT and ADC distances equal true d2 —
    // which lets the retrieval assertion below pin an exact zero.
    val r1 = deliver(0L, Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three")))
    assert(r1 == ((2L, 0L, 0L, 2L, 3L)), s"got $r1")
    assert(Similarity.pqStoreLiveIds(spark, vecDir)
      .as[Long].collect().toSet == Set(100000L, 100001L, 200000L))
    // Retrieval: a query repeating doc 1's first window's tokens has
    // the IDENTICAL signed-BoW vector — its passage ranks first at
    // exact distance 0, and the doc fold reports where.
    val hit = Streams.passageTopK(spark, vecDir,
        "alpha beta gamma delta", dims = 16, kPassages = 10, kDocs = 5,
        nprobe = 2)
      .select("doc_id", "best_seq", "best_d2", "rnk")
      .as[(Long, Long, Double, Int)].collect().toSeq.sortBy(_._4)
    assert(hit.head == ((1L, 0L, 0.0, 1)), s"got $hit")
    // The exact rerank re-featurizes only the nominated candidates'
    // chunk text and must agree here (singleton Lloyd clusters make
    // ADC exact): same winner, exact zero distance.
    val rr = Streams.passageRerankTopK(spark, chunkDir, vecDir,
        "alpha beta gamma delta", dims = 16, kCand = 3, kPassages = 3,
        kDocs = 3, nprobe = 2)
      .select("doc_id", "best_seq", "best_d2", "rnk")
      .as[(Long, Long, Double, Int)].collect().toSeq.sortBy(_._4)
    assert(rr.head == ((1L, 0L, 0.0, 1)), s"got $rr")
    // Doc 1 re-chunks SHORTER: its surviving passage re-encodes, the
    // vanished seq-1 passage tombstones — a stale passage can never
    // surface again.
    val r2 = deliver(1L, Seq((1L, "alpha beta gamma")))
    assert(r2 == ((1L, 0L, 0L, 1L, 1L)), s"got $r2")
    assert(Similarity.pqStoreLiveIds(spark, vecDir)
      .as[Long].collect().toSet == Set(100000L, 200000L),
      "vanished passage must tombstone")
    // Redelivery converges: same chunks, same vectors, nothing stale.
    val r3 = deliver(2L, Seq((1L, "alpha beta gamma")))
    assert(r3 == ((0L, 0L, 0L, 0L, 0L)), s"got $r3")
    // Takedown: doc 2's passages leave the retrieval surface in the
    // same composed batch as every other store.
    val gone = Streams.fanoutDeleteBatch(Seq(2L).toDF("doc_id"), 99L,
      storeDir, indexDir, annDir, chunkDir = Some(chunkDir),
      chunkVecDir = Some(vecDir))
    assert(gone == ((1L, 1L, 0L, 1L, 0L, 1L)), s"got $gone")
    assert(Similarity.pqStoreLiveIds(spark, vecDir)
      .as[Long].collect().toSet == Set(100000L))
  }

  // ---- delivery ledger ---------------------------------------------------

  /** The eight surfaces of the fully gated fan-out under one root. */
  private final class Family(val root: String) {
    val Seq(store, index, ann, gram, nd, pq, chunks, ckvec) =
      Seq("store", "index", "ann", "gram", "nd", "pq", "chunks", "ckvec")
        .map(n => s"$root/$n")
    def deliver(batch: org.apache.spark.sql.DataFrame, id: Long) =
      Streams.fanoutIngestBatchNeardupGated(batch, id, store, index, ann,
        gram, nd, "doc_id", "text", vecCol = Some("vec"), planes = 4,
        dims = 3, k = 3, pqDir = Some(pq), pqM = 3, pqCodes = 2,
        chunkDir = Some(chunks), chunkWindow = 4, chunkOverlap = 1,
        chunkVecDir = Some(ckvec))
    def takedown(ids: Seq[Long], id: Long) =
      Streams.fanoutDeleteBatch(ids.toDF("doc_id"), id, store, index, ann,
        chunkDir = Some(chunks), pqDir = Some(pq), chunkVecDir = Some(ckvec))
    /** Live doc ids per surface. */
    def live: Map[String, Set[Long]] = {
      def ids(df: org.apache.spark.sql.DataFrame) =
        df.distinct().as[Long].collect().toSet
      Map(
        "merge" -> ids(Streams.readState(spark, store).get.select("doc_id")),
        "index" -> ids(Search.indexLiveDocs(spark, index).get
          .select("doc_id")),
        "ann" -> ids(Similarity.annStoreLiveIds(spark, ann)),
        "pq" -> ids(Similarity.pqStoreLiveIds(spark, pq)),
        "chunks" -> ids(Streams.chunkStoreRead(spark, chunks).get
          .select("doc_id")),
        "ckvec" -> ids(Similarity.pqStoreLiveIds(spark, ckvec)
          .select(expr(s"id div ${Streams.ChunkVecSeqLimit}"))))
    }
    /** Committed generations of every generational surface. */
    def generations: Map[String, Seq[Long]] =
      Seq(store, index, ann, gram, nd, pq, chunks, ckvec)
        .map(d => d -> Commits.committed(spark, d).sorted).toMap
    /** Every file under the root, with its size and modification time. */
    def files: Map[String, (Long, Long)] = {
      import scala.jdk.CollectionConverters._
      val base = java.nio.file.Paths.get(root)
      val walk = java.nio.file.Files.walk(base)
      try walk.iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(p => base.relativize(p).toString ->
          ((java.nio.file.Files.size(p),
            java.nio.file.Files.getLastModifiedTime(p).toMillis)))
        .toMap
      finally walk.close()
    }
  }

  private def family(name: String) =
    new Family(java.nio.file.Files.createTempDirectory(name).toString)

  /** Six docs of ten tokens no other doc shares: all pass both gates,
    * and their 18 passages train the chunk-vector codebook.
    */
  private def wave = (1L to 6L).map { i =>
    (i, (0 until 10).map(j => s"d${i}w$j").mkString(" "),
      Seq(i.toFloat, (i % 3).toFloat, 1.0f))
  }.toDF("doc_id", "text", "vec")

  private val NoOp = (0L, 0L, 0L, 0L, 0L, 0L, 0L)

  test("a fully-applied redelivery runs one Spark job and writes nothing") {
    val f = family("ledger-noop")
    assert(f.deliver(wave, 1L) == ((6L, 6L, 6L, 6L, 6L, 6L, 18L)))
    val before = f.files
    var again: Any = null
    assert(jobsOf { again = f.deliver(wave, 1L) } == 1)
    assert(again == NoOp)
    // No surface gained a file, a generation or a state pointer.
    assert(f.files == before)
  }

  test("the same batch id with different rows takes the full path") {
    val f = family("ledger-rows")
    assert(f.deliver(wave, 1L)._1 == 6L)
    val changed = wave.withColumn("text",
      when($"doc_id" === 3L, lit("fresh words nobody delivered before"))
        .otherwise($"text"))
    // Only doc 3 changed, and only its text: its vector is already on the
    // ANN and PQ stores.
    assert(f.deliver(changed, 1L) == ((1L, 1L, 1L, 0L, 0L, 1L, 2L)))
    assert(Search.bm25FromIndexTopK(spark, f.index, Seq("nobody"), 5)
      .select("doc_id").as[Long].collect().toSeq == Seq(3L))
    assert(Streams.chunkStoreRead(spark, f.chunks).get
      .filter($"doc_id" === 3L).select("chunk_text").as[String]
      .collect().toSet == Set("fresh words nobody delivered",
        "delivered before"))
  }

  test("a takedown issued after a delivery stays in force when the " +
      "delivery replays") {
    val f = family("ledger-takedown")
    f.deliver(wave, 1L)
    assert(f.takedown(Seq(2L), 2L) == ((1L, 1L, 1L, 1L, 1L, 3L)))
    // Before the ledger, this replay re-merged, re-indexed and
    // re-inserted doc 2 on every sink (the gates had kept it).
    assert(f.deliver(wave, 1L) == NoOp)
    val all = (1L to 6L).toSet
    f.live.foreach { case (surface, ids) =>
      assert(ids == all - 2L, s"doc 2 is back on $surface")
    }
  }

  test("a lost delivery marker costs the full path, which converges " +
      "without adding rows") {
    val f = family("ledger-lost")
    f.deliver(wave, 1L)
    // A crash after the last surface but before the marker write.
    val marker = new java.io.File(s"${f.nd}/_delivered")
    assert(marker.delete())
    val (live, generations) = (f.live, f.generations)
    val rows = Streams.readState(spark, f.store).get.count()
    // The full path: both gates drop the exact redelivery, the
    // read-back feeds every sink, and each sink's idempotence keeps it
    // at the state it had.
    assert(f.deliver(wave, 1L) == NoOp)
    assert(f.live == live)
    assert(f.generations == generations)
    assert(Streams.readState(spark, f.store).get.count() == rows)
    assert(marker.exists(), "the full path records the delivery again")
  }

  // ---- composed maintenance ----------------------------------------------

  /** Wave 2 rewrites docs 1-3: new text, new vectors. */
  private def rewave = (1L to 3L).map { i =>
    (i, (0 until 10).map(j => s"r${i}w$j").mkString(" "),
      Seq(i.toFloat, (i % 3 + 2).toFloat, 3.0f))
  }.toDF("doc_id", "text", "vec")

  /** Two waves, a takedown of doc 4 and a redelivery of wave 2. */
  private def churn(f: Family): Unit = {
    f.deliver(wave, 1L)
    f.deliver(rewave, 2L)
    f.takedown(Seq(4L), 3L)
    f.deliver(rewave, 2L): Unit
  }

  /** Each GenTable store of a family with its descriptor. */
  private def genTables(f: Family) = Seq(f.index -> Search.IndexStore,
    f.ann -> Similarity.AnnStore, f.pq -> Similarity.PqStore,
    f.chunks -> Streams.ChunkStore, f.ckvec -> Similarity.PqStore,
    f.store -> Streams.mergeStoreAt(spark, f.store).get)

  /** The BM25, ANN, PQ-rerank and passage answers of a family. */
  private def answers(f: Family): Seq[Seq[org.apache.spark.sql.Row]] = {
    val q = Seq((101L, Seq(1.0f, 2.0f, 3.0f)), (102L, Seq(5.0f, 2.0f, 1.0f)))
      .toDF("id", "vec")
    val vecs = wave.filter($"doc_id" > 4L).union(rewave)
      .select($"doc_id".as("id"), $"vec")
    Seq(Search.bm25FromIndexTopK(spark, f.index,
        Seq("d1w0", "r2w3", "d4w1", "d5w5", "d6w2"), 10),
      Similarity.annStoreTopK(spark, f.ann, q, planes = 4, dims = 3, k = 3),
      Similarity.pqStoreRerankTopK(spark, f.pq, q, vecs, kCand = 4, k = 3),
      Streams.passageTopK(spark, f.ckvec, "r1w0 r1w1 r1w2 d5w3",
        dims = 16, kPassages = 10, kDocs = 5))
      .map(_.collect().toSeq.sortBy(_.toString))
  }

  /** The passes of `fanoutVacuum` one store at a time, in the order the
    * composed pass ran them before its stores became concurrent tracks.
    */
  private def sequentialVacuum(f: Family, incremental: Boolean,
      maxBatches: Option[Int], postingsTable: Option[String],
      annPartDir: Option[String]): Unit = {
    val pqFamily = Seq(f.pq, f.ckvec)
    val merge = Streams.mergeStoreAt(spark, f.store).get
    if (incremental) {
      Search.indexVacuumIncremental(spark, f.index, 0.25)
      Similarity.annStoreVacuumIncremental(spark, f.ann, 0.25)
      pqFamily.foreach(Similarity.pqStoreVacuumIncremental(spark, _, 0.25))
      Streams.chunkStoreVacuum(spark, f.chunks, 0.25)
      merge.vacuumIncremental(spark, f.store, 0.25)
    } else {
      Search.indexVacuum(spark, f.index)
      Similarity.annStoreVacuum(spark, f.ann)
      pqFamily.foreach(Similarity.pqStoreVacuum(spark, _))
      Streams.ChunkStore.vacuumFull(spark, f.chunks)
      merge.vacuumFull(spark, f.store)
    }
    maxBatches.filter(_ => incremental).foreach { m =>
      Search.indexCompactBatches(spark, f.index, m)
      Similarity.annStoreCompactBatches(spark, f.ann, m)
      Streams.chunkStoreCompactBatches(spark, f.chunks, m)
      pqFamily.foreach(Similarity.pqStoreCompactBatches(spark, _, m))
      merge.compactBatches(spark, f.store, m)
    }
    postingsTable.foreach(Search.bucketPostings(spark, f.index, _))
    annPartDir.foreach(Similarity.annStorePartition(spark, f.ann, _))
  }

  /** Churn two identical families, maintain one through `fanoutVacuum`
    * and the other store by store: they must end in the same state.
    */
  private def assertSameAsSequential(name: String, incremental: Boolean,
      maxBatches: Option[Int], snapshots: Boolean): (Family, Family) = {
    val (conc, seq) = (family(s"$name-conc"), family(s"$name-seq"))
    Seq(conc, seq).foreach(churn)
    genTables(conc).foreach { case (dir, t) =>
      val committed = Commits.committed(spark, dir)
      assert(committed.size > 2, s"$dir: ${committed.sorted}")
      assert(t.dirtyBatches(spark, dir, committed, 0.25).nonEmpty,
        s"$dir has no dirty batch")
    }
    val rel = (f: Family) => f.generations.map { case (d, ids) =>
      d.stripPrefix(f.root) -> ids }
    val (before, churned) = (answers(conc), rel(conc))
    assert(answers(seq) == before)
    def snap(f: Family, tag: String) = if (snapshots)
      (Some(s"graft_${name.replace('-', '_')}_$tag"),
        Some(s"${f.root}/ann-part")) else (None, None)
    val (concPost, concPart) = snap(conc, "conc")
    val (seqPost, seqPart) = snap(seq, "seq")
    Streams.fanoutVacuum(spark, conc.store, conc.index,
      conc.ann, postingsTable = concPost,
      annPartDir = concPart, incremental = incremental,
      chunkDir = Some(conc.chunks), maxBatches = maxBatches,
      pqDir = Some(conc.pq), chunkVecDir = Some(conc.ckvec))
    sequentialVacuum(seq, incremental, maxBatches, seqPost, seqPart)
    assert(rel(conc) == rel(seq))
    assert(rel(conc) != churned, "the pass committed nothing")
    assert(conc.live == seq.live)
    assert(conc.live("index") == Set(1L, 2L, 3L, 5L, 6L))
    assert(answers(conc) == answers(seq))
    assert(answers(conc) == before, "maintenance changed an answer")
    (conc, seq)
  }

  test("fanoutVacuum's concurrent tracks end where the store-by-store " +
      "incremental pass ends") {
    val (conc, _) = assertSameAsSequential("maint-incr", incremental = true,
      maxBatches = Some(2), snapshots = false)
    genTables(conc).foreach { case (dir, _) =>
      assert(Commits.committed(spark, dir).size <= 2, dir)
    }
  }

  test("fanoutVacuum's full pass refreshes each snapshot after its own " +
      "store's vacuum") {
    val (conc, seq) = assertSameAsSequential("maint-full",
      incremental = false, maxBatches = None, snapshots = true)
    // A full pass folds every batch, clean ones included.
    genTables(conc).foreach { case (dir, _) =>
      assert(Commits.committed(spark, dir).size == 1, dir)
    }
    Seq(conc, seq).foreach { f =>
      assert(Commits.snapshotFresh(spark, s"${f.index}/postings_bucketed",
        f.index), s"${f.root}: postings snapshot is stale")
      assert(Commits.snapshotFresh(spark, s"${f.root}/ann-part", f.ann),
        s"${f.root}: ANN partition snapshot is stale")
    }
  }

  test("a lease refused on one store leaves the other tracks' " +
      "maintenance done") {
    val f = family("maint-lease")
    churn(f)
    def vacuum() = Streams.fanoutVacuum(spark, f.store, f.index, f.ann,
      incremental = true, chunkDir = Some(f.chunks),
      maxBatches = Some(2), pqDir = Some(f.pq), chunkVecDir = Some(f.ckvec))
    val annBefore = Commits.committed(spark, f.ann).sorted
    assert(annBefore.size > 2)
    assert(Commits.committed(spark, f.store).size > 2)
    Commits.acquireWriterLock(spark, f.ann)
    val refused = try intercept[IllegalStateException](vacuum())
    finally Commits.releaseWriterLock(spark, f.ann)
    assert(refused.getMessage.contains("ann/_lock"), refused.getMessage)
    assert(Commits.committed(spark, f.ann).sorted == annBefore)
    Seq(f.index, f.chunks, f.pq, f.ckvec, f.store).foreach { d =>
      assert(Commits.committed(spark, d).size <= 2, s"$d was not compacted")
    }
    vacuum(): Unit
    assert(Commits.committed(spark, f.ann).size <= 2)
  }
}
