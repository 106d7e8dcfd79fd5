package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The substring-dedup-gated ingest: duplicated >= k-token spans are
  * removed against the store's accumulated gram counts plus the
  * batch's own, exact re-deliveries no-op by as-delivered content
  * hash, and cleaned docs + AS-DELIVERED-text gram counts land as one
  * committed generation (delivered counts, not cleaned — see the
  * ingest's scaladoc: cleaned counts would zero in-batch-duplicated
  * spans and let them sail through the next wave).
  */
class SubstringIngestSpec extends SparkSpec {
  import spark.implicits._

  private val span = "sa sb sc sd se sf sg sh"

  private def stored(dir: String): Map[Long, (Long, String)] =
    Streams.substringStoreRead(spark, dir).get
      .select("doc_id", "n_removed", "clean_text")
      .as[(Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap

  test("spans dedup across waves; exact redelivery no-ops; counts come " +
      "from as-delivered text") {
    val dir = java.nio.file.Files
      .createTempDirectory("ss-ingest").toString + "/st"
    val b1 = Seq(
      (1L, s"$span first wave body"),
      (2L, "wholly unrelated opening text with enough distinct tokens"))
      .toDF("doc_id", "text")
    assert(Streams.substringIngestBatch(b1, dir, "doc_id", "text") == 2)
    // Wave 1 saw each span once: nothing removed.
    assert(stored(dir)(1L) == ((0L, s"$span first wave body")))

    val b2 = Seq(
      (11L, s"$span second wave tail"),          // span now duplicated
      (12L, s"$span first wave body"),           // exact copy of doc 1
      (13L, "novel second wave document with its own words entirely"))
      .toDF("doc_id", "text")
    assert(Streams.substringIngestBatch(b2, dir, "doc_id", "text") == 2)
    val s2 = stored(dir)
    assert(s2(11L) == ((8L, "second wave tail")))
    assert(!s2.contains(12L), "exact copy must be dropped, not re-cleaned")
    assert(s2(13L)._1 == 0L)

    // Full redelivery of wave 2: every survivor's AS-DELIVERED hash is
    // stored, so nothing inserts — even though re-screening would now
    // clean doc 13 differently than wave 2 did... it wouldn't, but doc
    // 11's original text WOULD re-screen; the hash gate must fire first.
    assert(Streams.substringIngestBatch(b2, dir, "doc_id", "text") == 0)

    // Wave 3 repeats doc 11's REMOVED span: counts append from the
    // as-delivered text, so the span still screens out.
    val b3 = Seq((21L, s"$span third wave words")).toDF("doc_id", "text")
    assert(Streams.substringIngestBatch(b3, dir, "doc_id", "text") == 1)
    assert(stored(dir)(21L) == ((8L, "third wave words")))
  }

  test("the store pins its span length k; a mismatched caller is refused") {
    val dir = java.nio.file.Files
      .createTempDirectory("ss-kpin").toString + "/st"
    val b = Seq((1L, s"$span enough body tokens here")).toDF("doc_id", "text")
    assert(Streams.substringIngestBatch(b, dir, "doc_id", "text", k = 8) == 1)
    // A k=4 screen against k=8 counts hashes a DISJOINT gram space —
    // it would silently match nothing and insert near-everything, so
    // the mismatch must throw, not weaken.
    val e = intercept[IllegalArgumentException] {
      Streams.substringIngestBatch(
        Seq((2L, "second delivery with different words")).toDF("doc_id", "text"),
        dir, "doc_id", "text", k = 4)
    }
    assert(e.getMessage.contains("k=8") && e.getMessage.contains("k=4"))
    // The matching k keeps working, and the same pin guards the
    // standalone gram store's write and incremental-screen paths.
    assert(Streams.substringIngestBatch(
      Seq((3L, "third delivery of wholly novel running words"))
        .toDF("doc_id", "text"), dir, "doc_id", "text", k = 8) == 1)
    val gdir = java.nio.file.Files
      .createTempDirectory("gram-kpin").toString + "/st"
    assert(graft.operators.Corpus.gramIndexAppend(b, "doc_id", "text", 8,
      gdir) > 0)
    intercept[IllegalArgumentException] {
      graft.operators.Corpus.gramIndexAppend(b, "doc_id", "text", 6, gdir)
    }
    intercept[IllegalArgumentException] {
      graft.operators.Corpus.exactSubstringDedupIncremental(b, "doc_id",
        "text", 6, gdir)
    }
    assert(graft.operators.Corpus.exactSubstringDedupIncremental(b,
      "doc_id", "text", 8, gdir).count() == 1)
  }

  test("a same-id double delivery resolves deterministically, not " +
      "arbitrarily") {
    // Two rows share id 1 with different texts: the winner must be the
    // lower-content-hash text on EVERY replay — an arbitrary
    // dropDuplicates pick would break the hash-keyed redelivery
    // convergence the whole ingest family relies on.
    val a = "first candidate body with plenty of distinct running words"
    val b = "second candidate body carrying wholly different tokens here"
    val expected = Seq(a, b).minBy(t =>
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(t.trim.replaceAll("\\s+", " ").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString)
    val dir = java.nio.file.Files
      .createTempDirectory("ss-det").toString + "/st"
    val batch = Seq((1L, a), (1L, b)).toDF("doc_id", "text")
    assert(Streams.substringIngestBatch(batch, dir, "doc_id", "text") == 1)
    assert(stored(dir)(1L)._2 == expected)
    // Replay with the rows' order flipped: same winner, zero inserts.
    assert(Streams.substringIngestBatch(
      Seq((1L, b), (1L, a)).toDF("doc_id", "text"),
      dir, "doc_id", "text") == 0)
    assert(stored(dir)(1L)._2 == expected)
  }

  test("a span duplicated only WITHIN one wave still gates the next wave") {
    // The cleaned-text-counting trap: the span is removed from every
    // wave-A survivor, so counting cleaned text would store zero
    // occurrences and wave B's single copy would pass. As-delivered
    // counts keep the store total at 2.
    val dir = java.nio.file.Files
      .createTempDirectory("ss-ingest").toString + "/st"
    val bA = Seq(
      (51L, s"prefix one $span alpha ending"),
      (52L, s"different lead $span omega closing"))
      .toDF("doc_id", "text")
    assert(Streams.substringIngestBatch(bA, dir, "doc_id", "text") == 2)
    assert(stored(dir)(51L)._1 == 8L && stored(dir)(52L)._1 == 8L)
    val bB = Seq((61L, s"$span later lone occurrence")).toDF("doc_id", "text")
    assert(Streams.substringIngestBatch(bB, dir, "doc_id", "text") == 1)
    assert(stored(dir)(61L) == ((8L, "later lone occurrence")),
      "an in-batch-duplicated span must stay duplicated for later waves")
  }

  test("a fully-covered document is dropped, not stored empty") {
    val dir = java.nio.file.Files
      .createTempDirectory("ss-ingest").toString + "/st"
    assert(Streams.substringIngestBatch(
      Seq((71L, s"$span solo body here")).toDF("doc_id", "text"),
      dir, "doc_id", "text") == 1)
    // The whole doc is one already-stored span (not an exact content
    // match — different id, same text would be; this is the span
    // ALONE): everything it says is duplicated, so it must not insert.
    assert(Streams.substringIngestBatch(
      Seq((72L, span)).toDF("doc_id", "text"),
      dir, "doc_id", "text") == 0)
    assert(!stored(dir).contains(72L))
    // And it converges: redelivery is still a no-op.
    assert(Streams.substringIngestBatch(
      Seq((72L, span)).toDF("doc_id", "text"),
      dir, "doc_id", "text") == 0)
  }

  test("within one batch exact copies keep the lowest id and spans gate " +
      "on combined in-batch counts") {
    val dir = java.nio.file.Files
      .createTempDirectory("ss-ingest").toString + "/st"
    val b = Seq(
      (31L, s"shared opener $span goes on"),
      (32L, s"another doc also carrying $span inside"),
      (33L, s"shared opener $span goes on"))        // exact copy of 31
      .toDF("doc_id", "text")
    assert(Streams.substringIngestBatch(b, dir, "doc_id", "text") == 2)
    val s = stored(dir)
    assert(s.keySet == Set(31L, 32L))
    // The span occurred in both survivors -> removed from both.
    assert(s(31L) == ((8L, "shared opener goes on")))
    assert(s(32L) == ((8L, "another doc also carrying inside")))
  }

  test("delivered metadata rides into the store; compaction folds " +
      "generations with answers invariant") {
    val dir = java.nio.file.Files
      .createTempDirectory("ss-compact").toString + "/st"
    // Six one-doc waves carrying a provenance column; the span recurs
    // in waves 0 and 3 (wave 3's copy is screened out).
    val texts = Seq(
      s"$span opening words", "second wave body with its own eight tokens",
      "third wave stretches to enough distinct tokens easily",
      s"repeat lead $span trailing", "fifth wave padded novel words here too",
      "sixth wave also novel stuff padded to length")
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(Streams.substringIngestBatch(
        Seq((i.toLong, t, s"src$i")).toDF("doc_id", "text", "source"),
        dir, "doc_id", "text") == 1)
    }
    def snapshot(): Map[Long, (String, Long, String)] =
      Streams.substringStoreRead(spark, dir).get
        .select("doc_id", "source", "n_removed", "clean_text")
        .as[(Long, String, Long, String)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val before = snapshot()
    assert(before(0L) == (("src0", 0L, s"$span opening words")))
    assert(before(3L) == (("src3", 8L, "repeat lead trailing")),
      "wave-3 span must screen out and keep its provenance column")
    val folded = Streams.substringStoreCompact(spark, dir, maxBatches = 2)
    assert(folded == 5, s"6 generations at maxBatches=2 must fold 5: $folded")
    assert(snapshot() == before, "compaction changed the store's answers")
    // The accumulated counts survive the fold: a new wave's copy of
    // the span still screens out.
    assert(Streams.substringIngestBatch(
      Seq((100L, s"$span post compact tail", "srcX"))
        .toDF("doc_id", "text", "source"),
      dir, "doc_id", "text") == 1)
    assert(snapshot()(100L) == (("srcX", 8L, "post compact tail")))
  }

  test("substringIngestSink drives batches through foreachBatch") {
    val dir = java.nio.file.Files
      .createTempDirectory("ss-ingest").toString + "/st"
    val ckpt = java.nio.file.Files
      .createTempDirectory("ss-ckpt").toString
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val q = Streams.substringIngestSink(
      in.toDF().toDF("doc_id", "text"), dir, "doc_id", "text", ckpt)
    try {
      // Two separate micro-batches: the second wave's span must dedup
      // against the FIRST wave's stored counts, not in-batch.
      in.addData((41L, s"$span streaming first"))
      q.processAllAvailable()
      in.addData((42L, s"$span streaming second body"))
      q.processAllAvailable()
    } finally q.stop()
    val s = stored(dir)
    assert(s(41L)._1 == 0L, "first occurrence must keep its span")
    // The duplicated run is 9 tokens: both docs continue the span with
    // "streaming", so its gram extends the coverage by one token.
    assert(s(42L) == ((9L, "second body")))
  }
}
