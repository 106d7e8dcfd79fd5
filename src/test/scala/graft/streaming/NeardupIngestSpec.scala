package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The near-dup-suppressing ingest: novel docs append, near-dups and
  * exact re-deliveries are dropped against the standing signature
  * index, shingle-less docs fall back to exact-hash dedup, and the
  * whole sink converges under at-least-once delivery.
  */
class NeardupIngestSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog " +
    "while seven wizards brew strong potions at midnight"

  private def storeIds(dir: String): Set[Long] =
    Streams.neardupStoreRead(spark, dir).get.select("doc_id")
      .as[Long].collect().toSet

  test("neardupIngestBatch suppresses near-dups, exact dups, and re-delivery") {
    val dir = java.nio.file.Files.createTempDirectory("nd-ingest").toString
    val b1 = Seq(
      (1L, base),
      (2L, "completely different text about distributed query engines " +
        "and columnar storage formats for analytical workloads at scale"),
      (3L, "hi"))                                  // too short to shingle
      .toDF("doc_id", "text")
    assert(Streams.neardupIngestBatch(b1, dir, "doc_id", "text", 0.8) == 3)
    assert(storeIds(dir) == Set(1L, 2L, 3L))

    val b2 = Seq(
      (4L, base.replaceFirst("\\S+", "zzz")),      // near-dup of stored 1
      (5L, "an entirely novel document mentioning streaming watermarks " +
        "checkpoint rotation and stateful aggregation semantics"),
      (2L, b1.filter($"doc_id" === 2L).select("text").as[String].head()),
      (6L, "hi"))                                  // exact dup of stored 3
      .toDF("doc_id", "text")
    assert(Streams.neardupIngestBatch(b2, dir, "doc_id", "text", 0.8) == 1)
    assert(storeIds(dir) == Set(1L, 2L, 3L, 5L))

    // Full re-delivery of batch 2: everything matches its stored self
    // (or a stored near-dup) -> zero inserts.
    assert(Streams.neardupIngestBatch(b2, dir, "doc_id", "text", 0.8) == 0)
    assert(storeIds(dir) == Set(1L, 2L, 3L, 5L))
  }

  test("legacy md5 band store: ingest refuses loudly") {
    import graft.operators.{Dedup, Upsert}
    import org.apache.spark.sql.functions.lit
    val dir = java.nio.file.Files.createTempDirectory("nd-legacy").toString
    // A store whose band table is in the legacy exploded md5-string
    // form: docs + hs as today, bands as (doc_id, band, band_key
    // STRING) rows with no carried band_keys array.
    val b1 = Seq(
      (1L, base),
      (2L, "completely different text about distributed query engines " +
        "and columnar storage formats for analytical workloads at scale"))
      .toDF("doc_id", "text")
    val hashed = Upsert.withContentHash(b1, "text")
    hashed.withColumn("batch", lit(0L)).write.parquet(s"$dir/docs/b0")
    Dedup.hashedShingleArrays(hashed, "doc_id", "text", 3)
      .withColumn("batch", lit(0L)).write.parquet(s"$dir/hs/b0")
    Seq((1L, 0, "9e107d9d372bb6826bd81d3542a419d6", 0L),
      (2L, 0, "e4d909c290d0fb1ca068ffaddf22cbd0", 0L))
      .toDF("doc_id", "band", "band_key", "batch")
      .write.parquet(s"$dir/bands/b0")
    graft.sources.Commits.commit(spark, dir, 0L)

    // Ingest against it must fail loudly, not silently miss every store
    // candidate through a mixed-key-space join.
    val b2 = Seq(
      (4L, base.replaceFirst("\\S+", "zzz")),
      (5L, "an entirely novel document mentioning streaming watermarks " +
        "checkpoint rotation and stateful aggregation semantics"))
      .toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Streams.neardupIngestBatch(b2, dir, "doc_id", "text", 0.8)
    }
    assert(e.getMessage.contains(Dedup.LegacyBandMsg))
  }

  test("within one batch the lower id wins for near- and exact dups") {
    val dir = java.nio.file.Files.createTempDirectory("nd-ingest").toString
    val b = Seq(
      (11L, base),
      (12L, base.replaceFirst("\\S+", "zzz")),     // near-dup of 11
      (13L, "ok"), (14L, "ok"))                    // exact dup, no shingles
      .toDF("doc_id", "text")
    assert(Streams.neardupIngestBatch(b, dir, "doc_id", "text", 0.8) == 2)
    assert(storeIds(dir) == Set(11L, 13L))
  }

  test("in-batch chains drop every doc with a lower-id witness (greedy)") {
    // The pinned policy: a doc is dropped iff SOME lower-id doc in the
    // batch (or the store) is its near-dup — even when that witness is
    // itself dropped. Chain A~B~C with A !~ C: B falls to A, C falls
    // to B although B does not survive, so only A is inserted. (The
    // clustering alternative — one survivor per connected component —
    // yields the same set here; the greedy reading is pinned because
    // it never needs a transitive closure inside the ingest gate.)
    //
    // 122 distinct tokens -> 120 3-shingles; one changed token flips 3
    // shingles. J(A,B) = J(B,C) = 117/123 = 0.951 >= 0.93;
    // J(A,C) = 114/126 = 0.905 < 0.93.
    val toks = (0 until 122).map(i => s"tok$i")
    val a = toks.mkString(" ")
    val b = toks.updated(60, "zzz").mkString(" ")
    val c = toks.updated(30, "yyy").updated(60, "zzz").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("nd-ingest").toString
    val batch = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    assert(Streams.neardupIngestBatch(
      batch, dir, "doc_id", "text", minJaccard = 0.93) == 1)
    assert(storeIds(dir) == Set(1L))
  }

  test("decontamination screens batches before the near-dup gate") {
    val toks = (0 until 40).map(i => s"bench$i")
    val benchText = toks.mkString(" ")
    val store = java.nio.file.Files.createTempDirectory("nd-ingest").toString
    val benchDir = java.nio.file.Files.createTempDirectory("nd-bench")
      .toString + "/idx"
    graft.operators.Corpus.buildBenchmarkIndex(
      Seq((900L, benchText)).toDF("doc_id", "text"), "doc_id", "text",
      n = 3, benchDir)

    val b1 = Seq(
      (1L, benchText),                              // contaminated -> out
      (2L, base),                                   // clean -> in
      (3L, toks.take(6).mkString(" ") +             // 4 shared < 5 -> in
        " unrelated tail words here"))
      .toDF("doc_id", "text")
    assert(Streams.decontamNeardupIngestBatch(
      b1, store, benchDir, "doc_id", "text", minJaccard = 0.8) == 2)
    assert(storeIds(store) == Set(2L, 3L))

    // The near-dup gate still applies AFTER the screen.
    val b2 = Seq(
      (4L, base.replaceFirst("\\S+", "zzz")),       // near-dup of stored 2
      (5L, "genuinely novel content on bucketed standing merges and " +
        "watermarked session windows in the pipeline"))
      .toDF("doc_id", "text")
    assert(Streams.decontamNeardupIngestBatch(
      b2, store, benchDir, "doc_id", "text", minJaccard = 0.8) == 1)
    assert(storeIds(store) == Set(2L, 3L, 5L))

    // Without an index dir the screen is skipped (no benchmark yet).
    assert(Streams.decontamNeardupIngestBatch(
      Seq((6L, benchText)).toDF("doc_id", "text"), store,
      benchDir + "_missing", "doc_id", "text", minJaccard = 0.8) == 1)
    assert(storeIds(store) == Set(2L, 3L, 5L, 6L))
  }

  test("a crashed partial append is invisible; redelivery converges whole") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("nd-crash").toString
    val b1 = Seq((1L, base)).toDF("doc_id", "text")
    assert(Streams.neardupIngestBatch(b1, dir, "doc_id", "text", 0.8) == 1)
    // Simulated crash: a second batch's attempt marker and DOCS rows
    // landed (no signatures, no commit marker). Before the marker
    // contract these rows made their docs a permanent LSH blind spot
    // AND exact-hash-blocked their own redelivery without ever
    // indexing their signatures.
    val b2 = Seq(
      (5L, "an entirely novel document mentioning streaming watermarks " +
        "checkpoint rotation and stateful aggregation semantics"))
      .toDF("doc_id", "text")
    graft.sources.Commits.recordAttempt(spark, dir, 1L)
    graft.operators.Upsert.withContentHash(b2, "text")
      .withColumn("batch", lit(1L))
      .write.parquet(s"$dir/docs/b1")
    // Redelivery must re-screen from scratch (the orphan is invisible),
    // insert under a FRESH id, and commit docs + signatures together.
    assert(Streams.neardupIngestBatch(b2, dir, "doc_id", "text", 0.8) == 1)
    val committed = graft.sources.Commits.committed(spark, dir).sorted
    assert(committed == Seq(0L, 2L), s"orphan id 1 must be skipped: $committed")
    assert(storeIds(dir) == Set(1L, 5L))
    // The doc's signatures exist under the committed batch, so the LSH
    // gate now sees it: a near-dup of doc 5 is dropped.
    val nd = Seq((6L, ("an entirely novel document mentioning streaming " +
      "watermarks checkpoint rotation and stateful aggregation semantics")
      .replaceFirst("\\S+", "zzz"))).toDF("doc_id", "text")
    assert(Streams.neardupIngestBatch(nd, dir, "doc_id", "text", 0.8) == 0)
  }

  test("an uncommitted docs dir holding a non-parquet file breaks " +
      "neither the gate nor the read") {
    val dir = java.nio.file.Files.createTempDirectory("nd-junk").toString
    assert(Streams.neardupIngestBatch(Seq((1L, base)).toDF("doc_id", "text"),
      dir, "doc_id", "text", 0.8) == 1)
    // A crashed writer's dir: its id attempted, never committed, and a
    // file in it that no parquet reader could open.
    val rows = Streams.neardupStoreRead(spark, dir).get.count()
    graft.sources.Commits.recordAttempt(spark, dir, 1L)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir,
      "docs", "b1"))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "docs", "b1",
      "part-00000.parquet"), "not parquet".getBytes("UTF-8"))
    assert(Streams.neardupStoreRead(spark, dir).get.count() == rows)
    val near = base.replaceFirst("\\S+", "zzz")
    assert(Streams.neardupIngestBatch(Seq((2L, near), (3L, "fresh text " +
      "about parquet footers listing only committed dirs for readers"))
      .toDF("doc_id", "text"), dir, "doc_id", "text", 0.8) == 1)
    assert(storeIds(dir) == Set(1L, 3L))
    assert(graft.sources.Commits.committed(spark, dir) == Seq(0L, 2L))
  }

  test("batch banding plans the transform-wrapped explode (no bare posexplode)") {
    // neardupIngestBatch bands fresh batch signatures through
    // lshBandsFromKeys(lshBandKeys(sigs)); with a bare
    // posexplode(band_keys) generator, whole-stage codegen re-evaluates
    // the unmaterialized band-key projection (16 md5s over the native
    // minhash signature) per OUTPUT row — the 27× BENCH_r11 regression.
    // Pin the exact shape the ingest path builds, timing-insensitively.
    import graft.operators.Dedup
    val docs = Seq((1L, base)).toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(
      Dedup.hashedShingleArrays(docs, "doc_id", "text", 3), 128)
    val plan = Dedup.lshBandsFromKeys(Dedup.lshBandKeys(sigs, 128, 16))
      .queryExecution.executedPlan.toString()
    assert(!plan.contains("posexplode"),
      "batch banding regressed to a bare posexplode over the band-key " +
        "projection (per-output-row re-evaluation in codegen)")
    assert(plan.contains("explode(transform("),
      s"batch banding lost its transform-wrapped explode generator")
  }

  test("neardupIngestSink drives batches through foreachBatch") {
    val dir = java.nio.file.Files.createTempDirectory("nd-ingest").toString
    val ckpt = java.nio.file.Files.createTempDirectory("nd-ckpt").toString
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val q = Streams.neardupIngestSink(
      in.toDF().toDF("doc_id", "text"), dir, "doc_id", "text", ckpt, minJaccard = 0.8)
    in.addData((21L, base))
    in.addData((22L, base.replaceFirst("\\S+", "qqq")),
      (23L, "fresh streaming content with session windows and salted " +
        "joins feeding the training data pipeline downstream"))
    try q.processAllAvailable() finally q.stop()
    assert(storeIds(dir) == Set(21L, 23L))
  }
}
