package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Corpus-construction operators: decontamination overlap gating,
  * hash-threshold stratified sampling, concat-and-chunk packing.
  */
class CorpusSpec extends SparkSpec {
  import spark.implicits._

  test("decontaminate drops only docs reaching the overlap threshold") {
    val toks = (0 until 30).map(i => s"w$i")
    val benchText = toks.mkString(" ")                 // 28 shingles
    val docs = Seq(
      (1L, benchText),                                 // exact copy -> out
      (2L, toks.take(9).mkString(" ")),                // 7 shared -> out
      (3L, toks.take(6).mkString(" ") + " x y z"),     // 4 shared -> kept
      (4L, "totally unrelated content about query engines and storage"),
      (5L, "hi"))                                      // no shingles -> kept
      .toDF("doc_id", "text")
    val bench = Seq((100L, benchText)).toDF("doc_id", "text")
    val kept = Corpus.decontaminate(docs, bench, "doc_id", "text",
      n = 3, minOverlap = 5).select("doc_id").as[Long].collect().toSet
    assert(kept == Set(3L, 4L, 5L))
  }

  test("stratifiedSample is an exact hash-threshold filter") {
    val df = (0 until 400).map(i => (i.toLong, s"s${i % 4}"))
      .toDF("doc_id", "stratum")
    val rates = Map("s0" -> 0, "s1" -> 250, "s2" -> 1000)
    val kept = Corpus.stratifiedSample(df, "doc_id", "stratum", rates)
      .select("doc_id", "stratum").as[(Long, String)].collect().toSet
    // Everything claims to pass the threshold, under the exact hash.
    val hashes = df
      .select(col("doc_id"), col("stratum"),
        Corpus.sampleHash(col("doc_id")).as("h"))
      .as[(Long, String, Long)].collect()
    val want = hashes.collect {
      case (id, s, h) if h < rates.getOrElse(s, 0) => (id, s)
    }.toSet
    assert(kept == want)
    assert(!kept.exists(_._2 == "s0"))                  // rate 0 -> none
    assert(kept.count(_._2 == "s2") == 100)             // rate 1000 -> all
    val s1 = kept.count(_._2 == "s1")
    assert(s1 > 0 && s1 < 100)                          // strictly partial
    // Determinism: the same call yields the same set.
    val again = Corpus.stratifiedSample(df, "doc_id", "stratum", rates)
      .select("doc_id", "stratum").as[(Long, String)].collect().toSet
    assert(again == kept)
  }

  test("boilerplateRatio counts corpus-common shingles per doc") {
    val template = "copyright footer nav menu home"      // 3 shingles
    val docs = Seq(
      (1L, template + " alpha beta gamma"),
      (2L, template + " delta epsilon zeta"),
      (3L, template + " eta theta iota"),
      (4L, "entirely organic prose with no shared trigrams at all"),
      (5L, "xy"))                                        // no shingles
      .toDF("doc_id", "text")
    val got = Corpus.boilerplateRatio(docs, "doc_id", "text", 3, minDf = 3)
      .select("doc_id", "n_shingles", "n_common", "boilerplate_ratio")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // Docs 1-3 share the template's 3 shingles (df=3 >= 3); their
    // bridge + organic shingles are unique (df=1).
    assert(got(1L) == ((6L, 3L, 0.5)))
    assert(got(4L) == ((7L, 0L, 0.0)))                   // coalesce path
    assert(!got.contains(5L))                            // no signal
  }

  test("packSequencesDistributed equals the window version exactly") {
    val rnd = new scala.util.Random(3)
    val rows = (0 until 3000).map { i =>
      (i.toLong, s"s${i % 3}", (1 + rnd.nextInt(400)).toLong)
    }
    val df = rows.toDF("doc_id", "stratum", "n_tokens")
    val want = Corpus.packSequences(df, "doc_id", "stratum", "n_tokens", 512)
      .select("doc_id", "chunk_id", "chunk_offset")
      .as[(Long, Long, Long)].collect().toSet
    // 7 partitions force every stratum to span several partitions and
    // every partition to straddle stratum boundaries.
    val got = Corpus.packSequencesDistributed(df, "doc_id", "stratum",
      "n_tokens", 512, numPartitions = 7)
      .select("doc_id", "chunk_id", "chunk_offset")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == want)
    assert(got.size == 3000)
  }

  test("mixtureBudgetTakeDistributed equals the window version exactly") {
    val rnd = new scala.util.Random(5)
    val rows = (0 until 3000).map { i =>
      // Zero-heavy token mix, one unweighted stratum ("s3") in frame.
      (i.toLong, s"s${i % 4}",
        Seq(0L, 0L, 1L, 9L, 50L, 400L)(rnd.nextInt(6)))
    }
    val df = rows.toDF("doc_id", "stratum", "n_tokens")
    val weights = Map("s0" -> 500, "s1" -> 300, "s2" -> 100, "zz" -> 50)
    val total = rows.map(_._3).sum / 2
    def cols(d: org.apache.spark.sql.DataFrame) =
      d.select("doc_id", "stratum", "n_tokens", "cum_tokens")
        .as[(Long, String, Long, Long)].collect().toSet
    val want = cols(Corpus.mixtureBudgetTake(df, "doc_id", "stratum",
      "n_tokens", weights, total))
    // 7 partitions force strata to span partitions and partitions to
    // straddle stratum boundaries — the shapes the two-pass engine
    // must keep exact.
    val got = cols(Corpus.mixtureBudgetTakeDistributed(df, "doc_id",
      "stratum", "n_tokens", weights, total, numPartitions = 7))
    assert(got == want)
    assert(want.nonEmpty && !want.exists(_._2 == "s3"),
      "unweighted stratum leaked into the take")
  }

  test("packSequences chunks the per-stratum token stream") {
    val df = Seq(
      (1L, "a", 100L), (2L, "a", 100L), (3L, "a", 100L), (4L, "a", 10L),
      (10L, "b", 300L), (11L, "b", 1L))
      .toDF("doc_id", "stratum", "n_tokens")
    val got = Corpus.packSequences(df, "doc_id", "stratum", "n_tokens",
      budget = 256)
      .select("doc_id", "chunk_id", "chunk_offset")
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // Stream a: cum-exclusive 0, 100, 200, 300 -> chunks 0,0,0,1.
    assert(got(1L) == ((0L, 0L)))
    assert(got(2L) == ((0L, 100L)))
    assert(got(3L) == ((0L, 200L)))    // straddles into chunk 1
    assert(got(4L) == ((1L, 44L)))     // 300 = 256 + 44
    // Stream b starts fresh.
    assert(got(10L) == ((0L, 0L)))
    assert(got(11L) == ((1L, 44L)))    // 300 = 256 + 44
  }

  test("dedupParagraphs keeps first occurrence corpus-wide, drops empty docs") {
    val units = Seq(
      (1L, 1, "alpha"), (1L, 2, "beta"),
      (2L, 1, "beta"), (2L, 2, "gamma"),   // beta already seen in doc 1
      (3L, 1, "alpha"), (3L, 2, "beta"))   // fully duplicated -> dropped
      .toDF("doc_id", "pos", "line")
    val got = Corpus.dedupParagraphs(units, "doc_id", "pos", "line")
      .select("doc_id", "n_kept", "n_dropped", "new_text")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == Map(
      1L -> ((2L, 0L, "alpha\nbeta")),
      2L -> ((1L, 1L, "gamma"))))
    // Within one doc the repeated unit also dedups (first position wins).
    val self = Seq((7L, 1, "x"), (7L, 2, "y"), (7L, 3, "x"))
      .toDF("doc_id", "pos", "line")
    val g2 = Corpus.dedupParagraphs(self, "doc_id", "pos", "line")
      .select("n_kept", "new_text").as[(Long, String)].collect().head
    assert(g2 == ((2L, "x\ny")))
  }

  test("exactSubstringDedup removes duplicated >=k spans, keeps unique text") {
    val boiler = "tok1 tok2 tok3 tok4 tok5 tok6 tok7 tok8" // exactly k=8 tokens
    val docs = Seq(
      (1L, s"$boiler alpha beta gamma delta"),
      (2L, s"$boiler epsilon zeta eta theta"),
      (3L, "completely different words that never repeat anywhere at all"),
      (4L, "short doc"), // < k tokens: no grams, untouched
      (5L, s"inner repeat $boiler then again $boiler closing words"))
      .toDF("doc_id", "text")
    val got = Corpus.exactSubstringDedup(docs, "doc_id", "text", 8)
      .select("doc_id", "n_tokens", "n_dup_grams", "n_removed", "clean_text")
      .as[(Long, Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // Docs 1/2: only gram position 0 is the shared boilerplate (the
    // boundary grams mixing its tail with each doc's own words are
    // unique), so exactly tokens 0..7 go and the document text stays.
    assert(got(1L) == ((12L, 1L, 8L, "alpha beta gamma delta")))
    assert(got(2L) == ((12L, 1L, 8L, "epsilon zeta eta theta")))
    // No duplicated grams anywhere: untouched.
    assert(got(3L) == ((9L, 0L, 0L,
      "completely different words that never repeat anywhere at all")))
    assert(got(4L) == ((2L, 0L, 0L, "short doc")))
    // Within-doc repeat: both occurrences of the span are removed
    // (positions 2 and 12, covering tokens 2..9 and 12..19).
    assert(got(5L) == ((22L, 2L, 16L,
      "inner repeat then again closing words")))
  }

  test("exactSubstringDedupKeepBest leaves each span's best carrier intact") {
    val boiler = "tok1 tok2 tok3 tok4 tok5 tok6 tok7 tok8"
    val span2 = "za zb zc zd ze zf zg zh"
    val docs = Seq(
      (1L, s"$boiler alpha beta gamma delta", 5.0),
      (2L, s"$boiler epsilon zeta eta theta", 9.0),   // best carrier
      (3L, "completely different words that never repeat anywhere at all", 2.0),
      (5L, s"inner repeat $boiler then again $boiler closing words", 1.0),
      (6L, s"$span2 six body words here", 3.0),       // quality tie:
      (7L, s"$span2 seven other words too", 3.0))     //  lowest id wins
      .toDF("doc_id", "text", "quality")
    val got = Corpus.exactSubstringDedupKeepBest(docs, "doc_id", "text",
      "quality", 8)
      .select("doc_id", "n_tokens", "n_dup_grams", "n_removed", "clean_text")
      .as[(Long, Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // The highest-quality carrier KEEPS the boilerplate; every other
    // carrier loses every occurrence of it.
    assert(got(2L) == ((12L, 0L, 0L, s"$boiler epsilon zeta eta theta")))
    assert(got(1L) == ((12L, 1L, 8L, "alpha beta gamma delta")))
    assert(got(5L) == ((22L, 2L, 16L,
      "inner repeat then again closing words")))
    assert(got(3L)._2 == 0L)
    // Equal quality: the tie breaks to the lowest id, deterministically.
    assert(got(6L) == ((12L, 0L, 0L, s"$span2 six body words here")))
    assert(got(7L) == ((12L, 1L, 8L, "seven other words too")))
  }

  test("keepBest never removes more than plain dedup; a strictly-best " +
      "doc is untouched (property)") {
    import org.scalacheck.{Gen, rng}
    // A 5-word vocabulary forces heavy 3-gram collisions.
    val docGen = Gen.listOfN(40, for {
      n <- Gen.choose(3, 18)
      toks <- Gen.listOfN(n, Gen.oneOf("wa", "wb", "wc", "wd", "we"))
      q <- Gen.choose(0, 5)
    } yield (toks.mkString(" "), q.toDouble))
    val base = docGen.pureApply(Gen.Parameters.default, rng.Seed(23L))
      .zipWithIndex.map { case ((t, q), i) => (i.toLong, t, q) }
    // One strictly-best doc (unique max quality): it wins every gram it
    // carries, so keepBest must leave it byte-identical.
    val rows = base :+ ((1000L, base.head._2, 99.0))
    val docs = rows.toDF("doc_id", "text", "quality")
    val plain = Corpus.exactSubstringDedup(docs.drop("quality"),
      "doc_id", "text", 3)
      .select("doc_id", "n_removed").as[(Long, Long)].collect().toMap
    val kb = Corpus.exactSubstringDedupKeepBest(docs, "doc_id", "text",
      "quality", 3)
      .select("doc_id", "n_removed", "clean_text")
      .as[(Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    rows.foreach { case (i, _, _) =>
      assert(kb(i)._1 <= plain(i),
        s"doc $i: keepBest removed ${kb(i)._1} > plain ${plain(i)}")
    }
    assert(kb(1000L) == ((0L, base.head._2)),
      "the strictly-best doc must keep every span intact")
  }

  test("incremental substring dedup accumulates gram counts across waves") {
    val dir = java.nio.file.Files
      .createTempDirectory("gram-store").toString + "/st"
    val boiler = "tok1 tok2 tok3 tok4 tok5 tok6 tok7 tok8"
    def screen(b: org.apache.spark.sql.DataFrame) =
      Corpus.exactSubstringDedupIncremental(b, "doc_id", "text", 8, dir)
        .select("doc_id", "n_removed", "clean_text")
        .as[(Long, Long, String)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
    // Wave 1: empty store, span appears once -> in-batch count 1, kept.
    val b1 = Seq((1L, s"$boiler alpha beta gamma delta"))
      .toDF("doc_id", "text")
    assert(screen(b1)(1L) == ((0L, s"$boiler alpha beta gamma delta")))
    assert(Corpus.gramIndexAppend(b1, "doc_id", "text", 8, dir) > 0)
    // Wave 2: the stored span re-appears (store 1 + batch 1 = 2) ->
    // removed; novel text passes.
    val novel = "wholly novel words never seen in any earlier wave"
    val b2 = Seq((11L, s"$boiler epsilon zeta eta theta"), (12L, novel))
      .toDF("doc_id", "text")
    val s2 = screen(b2)
    assert(s2(11L) == ((8L, "epsilon zeta eta theta")))
    assert(s2(12L) == ((0L, novel)))
    assert(Corpus.gramIndexAppend(b2, "doc_id", "text", 8, dir) > 0)
    // Wave 3: doc 12's once-stored text re-appears -> its 9-token span
    // (grams at positions 0 and 1) goes; the fresh tail stays.
    val b3 = Seq((21L, s"$novel plus tail")).toDF("doc_id", "text")
    assert(screen(b3)(21L) == ((9L, "plus tail")))
    // Within one wave, an in-batch repeat of a NEVER-STORED span gates
    // purely on batch counts.
    val span = "aa bb cc dd ee ff gg hh"
    val b4 = Seq((31L, s"fresh span $span one more"),
      (32L, s"other words $span")).toDF("doc_id", "text")
    val s4 = screen(b4)
    assert(s4(31L) == ((8L, "fresh span one more")))
    assert(s4(32L) == ((8L, "other words")))
  }

  test("repetitionSignals: hand-computed fractions") {
    // doc 1: units aa, aa, bbbb -> n=3, distinct=2, chars 2+2+4=8,
    // dup chars 4, top unit chars max(4, 4)=4.
    val units = Seq((1L, "aa"), (1L, "aa"), (1L, "bbbb"))
      .toDF("doc_id", "line")
    val got = Corpus.repetitionSignals(units, "doc_id", "line")
      .select("n_units", "n_distinct", "dup_unit_frac", "dup_char_frac",
        "top_unit_char_frac")
      .as[(Long, Long, Double, Double, Double)].collect().head
    assert(got._1 == 3L && got._2 == 2L)
    assert(got._3 == 0.3333)           // 1 - 2/3
    assert(got._4 == 0.5)              // 4 / 8
    assert(got._5 == 0.5)              // max(2*2, 1*4) / 8
  }

  test("assignSplit: stable bands, exhaustive, and growth-invariant") {
    val df = (0 until 500).map(_.toLong).toDF("doc_id")
    val splits = Seq("train" -> 900, "val" -> 50, "test" -> 50)
    val got = Corpus.assignSplit(df, "doc_id", splits)
      .select(col("doc_id"), col("split"), Corpus.sampleHash(col("doc_id")).as("h"))
      .as[(Long, String, Long)].collect()
    // Split is exactly the hash band.
    got.foreach { case (id, s, h) =>
      val want = if (h < 900) "train" else if (h < 950) "val" else "test"
      assert(s == want, s"doc $id: h=$h got $s")
    }
    assert(got.map(_._2).toSet == Set("train", "val", "test"))
    // Growth invariance: the same doc keeps its split in a larger corpus.
    val grown = Corpus.assignSplit(
      (0 until 2000).map(_.toLong).toDF("doc_id"), "doc_id", splits)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    got.foreach { case (id, s, _) => assert(grown(id) == s) }
    // Widths must sum to 1000.
    intercept[IllegalArgumentException] {
      Corpus.assignSplit(df, "doc_id", Seq("a" -> 500, "b" -> 400))
    }
  }

  test("datasheet: hand-computed per-source summary") {
    val docs = Seq(
      (1L, "the of and to in is a b", "en", "web"),   // 8 toks, q computable
      (2L, "the of and to in is a b", "en", "web"),   // exact dup of 1
      (3L, "x y", "de", "web"),
      (4L, "hello world", "en", "books"))
      .toDF("doc_id", "text", "lang", "source")
    val got = Corpus.datasheet(docs, "source", "text", "lang")
      .orderBy("source")
      .select("source", "n_docs", "n_langs", "total_chars", "total_tokens",
        "dup_rate", "avg_quality")
      .as[(String, Long, Long, Long, Long, Double, Double)].collect()
    val web = got.find(_._1 == "web").get
    assert(web._2 == 3L && web._3 == 2L)               // 3 docs, en+de
    assert(web._4 == (23L * 2 + 3L))                   // chars
    assert(web._5 == 8L + 8L + 2L)                     // tokens
    assert(web._6 == 0.3333)                           // 1 - 2/3 distinct
    val books = got.find(_._1 == "books").get
    assert(books._2 == 1L && books._6 == 0.0)
    // avg_quality of a single doc equals its qualityScore.
    val q = docs.filter(col("doc_id") === 4L)
      .select(graft.functions.TextFunctions.qualityScore(col("text")))
      .as[Double].collect().head
    assert(math.abs(books._7 - q) < 1e-4)
  }

  test("contaminationReport counts exactly the overlaps decontaminate gates on") {
    val toks = (0 until 30).map(i => s"w$i")
    val benchText = toks.mkString(" ")
    val docs = Seq(
      (1L, benchText),                                 // 28 overlaps
      (2L, toks.take(9).mkString(" ")),                // 7 overlaps
      (3L, toks.take(6).mkString(" ") + " x y z"),     // 4 — below gate
      (4L, "totally unrelated content about query engines and storage"))
      .toDF("doc_id", "text")
    val bench = Dedup.shingles(Seq((100L, benchText)).toDF("doc_id", "text"),
      "doc_id", "text", 3).select(col("bh")).distinct()
    val got = Corpus.contaminationReport(docs, bench, "doc_id", "text",
      n = 3, minOverlap = 5)
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 28L), (2L, 7L)))
    // The report's doc set IS decontaminate's drop set.
    val kept = Corpus.decontaminateAgainstIndex(docs, bench, "doc_id",
      "text", n = 3, minOverlap = 5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(3L, 4L))
  }

  test("chunkSlidingWindows: strided windows, trailing partial kept") {
    val text10 = (1 to 10).map(i => s"t$i").mkString(" ")
    val docs = Seq(
      (1L, text10),          // 10 tokens, window 4 stride 3 -> 3 chunks
      (2L, "a b c"),         // at window size -> 1 chunk
      (3L, "only"),          // 1 token -> 1 chunk
      (4L, "   "))           // no tokens -> no chunks
      .toDF("doc_id", "text")
    val got = Corpus.chunkSlidingWindows(docs, "doc_id", "text",
      window = 4, overlap = 1)
      .orderBy("doc_id", "chunk_seq")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(got == Seq(
      (1L, 0L, 4L, "t1 t2 t3 t4"),
      (1L, 1L, 4L, "t4 t5 t6 t7"),
      (1L, 2L, 4L, "t7 t8 t9 t10"),
      (2L, 0L, 3L, "a b c"),
      (3L, 0L, 1L, "only")))
    // Exact-cover case: 10 tokens, window 4, stride 2 -> 4 chunks, the
    // last ending exactly at the final token (no empty trailing chunk).
    val even = Corpus.chunkSlidingWindows(docs.filter(col("doc_id") === 1),
      "doc_id", "text", window = 4, overlap = 2)
      .as[(Long, Long, Long, String)].collect()
    assert(even.length == 4 && even.forall(_._3 == 4L))
  }

  test("chunkSlidingWindows agrees with the canonical tokenizer (property)") {
    // Deterministic scalacheck texts over a whitespace-adversarial
    // alphabet: runs of spaces, tabs, NBSP and newlines interleaved with
    // letters. The CANONICAL tokenizer (TextFunctions.tokens) splits on
    // single ' ' after space-trim — tabs/NBSP/newlines are NOT
    // separators and must ride INSIDE tokens, which is exactly what a
    // naive \\s+ oracle would get wrong.
    import org.scalacheck.{Gen, rng}
    val gen = Gen.listOfN(80, Gen.stringOfN(40,
      Gen.oneOf(('a' to 'd') ++ Seq(' ', ' ', ' ', '\t', ' ', '\n'))))
    val texts = gen.pureApply(Gen.Parameters.default, rng.Seed(7L))
    // Scala-side mirror of filter(split(trim(text), " "), _ != "").
    def canonToks(t: String): Seq[String] =
      t.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
        .split(" ", -1).toSeq.filter(_.nonEmpty)
    for ((window, overlap) <- Seq((4, 0), (4, 1), (5, 3), (1, 0), (7, 6))) {
      val stride = window - overlap
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = Corpus.chunkSlidingWindows(docs, "doc_id", "text",
        window, overlap)
        .select("doc_id", "chunk_seq", "n_tokens", "chunk_text")
        .as[(Long, Long, Long, String)].collect()
        .groupBy(_._1).view.mapValues(_.sortBy(_._2).toSeq).toMap
      texts.zipWithIndex.foreach { case (t, i) =>
        val toks = canonToks(t)
        val chunks = got.getOrElse(i.toLong, Seq.empty)
        if (toks.isEmpty) assert(chunks.isEmpty, s"doc $i: empty doc chunked")
        else {
          val want = (0 until (
            if (toks.size <= window) 1
            else 1 + (toks.size - window + stride - 1) / stride))
            .map(c => toks.slice(c * stride, c * stride + window))
          assert(chunks.size == want.size,
            s"doc $i w=$window o=$overlap: ${chunks.size} chunks, " +
              s"want ${want.size} (n=${toks.size})")
          chunks.zip(want).foreach { case ((_, seq, n, text), w) =>
            assert(n == w.size && text == w.mkString(" "),
              s"doc $i chunk $seq w=$window o=$overlap mismatch")
          }
          // Trailing window non-empty and the cover is exact: the last
          // chunk ends at the final token.
          assert(chunks.last._3 > 0)
          assert((chunks.size - 1) * stride + chunks.last._3 == toks.size)
        }
      }
    }
  }

  test("mixtureBudgetTake matches a per-stratum running-sum oracle (property)") {
    import org.scalacheck.{Gen, rng}
    val gen = Gen.listOfN(300, for {
      s <- Gen.oneOf("a", "b", "c", "d", "ghost")
      n <- Gen.oneOf(0L, 0L, 1L, 7L, 40L, 400L)   // zero-heavy mix
    } yield (s, n))
    val rows = gen.pureApply(Gen.Parameters.default, rng.Seed(11L))
      .zipWithIndex.map { case ((s, n), i) => (i.toLong, s, n) }
    val docs = rows.toDF("doc_id", "stratum", "n_tokens")
    // Weights SUM OVER 1000 (1550‰) — each stratum's budget is
    // independent, so an over-subscribed mix is legal and just means
    // the take can exceed totalTokens; "missing" names a stratum absent
    // from the frame; "d" is in the frame but unweighted.
    val weights = Map("a" -> 700, "b" -> 500, "c" -> 300,
      "z" -> 0, "missing" -> 50)
    val total = 1000L
    val got = Corpus.mixtureBudgetTake(docs, "doc_id", "stratum",
      "n_tokens", weights, total)
      .select("doc_id", "cum_tokens").as[(Long, Long)].collect().toMap
    val want = rows.groupBy(_._2).flatMap { case (s, docsOfS) =>
      val budget = weights.get(s).map(w => total * w / 1000L).getOrElse(0L)
      var cum = 0L
      docsOfS.sortBy(_._1).flatMap { case (id, _, n) =>
        cum += n
        if (budget > 0 && cum <= budget) Some(id -> cum) else None
      }
    }
    assert(got == want)
    assert(!got.keySet.exists(id => rows(id.toInt)._2 == "d"),
      "unweighted stratum took docs")
    assert(!got.keySet.exists(id => rows(id.toInt)._2 == "ghost"),
      "stratum absent from the weights took docs")
  }

  test("mixtureBudgetTake pins the zero-weight/zero-token guard") {
    // A zero-token doc in a zero-weight (or unweighted) stratum has
    // running sum 0; a bare cum <= budget comparison would admit it.
    // The budget > 0 guard at the filter must evict it — pinned here so
    // a refactor that drops the guard fails fast.
    val docs = Seq((1L, "w", 0L), (2L, "u", 0L), (3L, "w", 1L))
      .toDF("doc_id", "stratum", "n_tokens")
    val got = Corpus.mixtureBudgetTake(docs, "doc_id", "stratum",
      "n_tokens", Map("w" -> 0), totalTokens = 100L)
      .select("doc_id").as[Long].collect()
    assert(got.isEmpty, s"zero-weight strata must take nothing, got " +
      got.mkString(","))
    // And the inverse: weighted stratum keeps its zero-token doc (it
    // consumes nothing and sits within budget).
    val kept = Corpus.mixtureBudgetTake(docs, "doc_id", "stratum",
      "n_tokens", Map("w" -> 100, "u" -> 100), totalTokens = 100L)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 3L))
  }

  test("mixtureBudgetTake fills per-stratum budgets in id order") {
    val docs = Seq(
      (1L, "a", 40L), (2L, "a", 40L), (3L, "a", 40L),  // budget 100: 1,2
      (4L, "b", 100L), (5L, "b", 1L),                  // budget 100: 4
      (6L, "c", 5L),                                   // no weight: none
      (7L, "c", 0L),   // zero-token doc in an unweighted stratum: its
                       // running sum is 0, but budget 0 must still
                       // evict it — unweighted strata take NOTHING
      (8L, "z", 0L))   // same via an explicit weight of 0
      .toDF("doc_id", "stratum", "n_tokens")
    val got = Corpus.mixtureBudgetTake(docs, "doc_id", "stratum",
      "n_tokens", Map("a" -> 100, "b" -> 100, "z" -> 0),
      totalTokens = 1000L)
      .select("doc_id", "cum_tokens").orderBy("doc_id")
      .as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 40L), (2L, 80L), (4L, 100L)))
  }

  test("deterministicShuffle is a partitioning-independent permutation " +
      "keyed by the portable hash") {
    val ids = (1L to 500L).toDF("doc_id")
    val got = Corpus.deterministicShuffle(ids, "doc_id", "epoch1")
      .as[(Long, Long, Long)].collect().toSeq
    // Positions are exactly 0..n-1 and each id appears once.
    assert(got.map(_._3).sorted == (0L until 500L))
    assert(got.map(_._1).toSet.size == 500)
    // Position order IS (shuffle_key, id) order — the oracle's
    // row_number contract.
    val byPos = got.sortBy(_._3)
    assert(byPos == byPos.sortBy(t => (t._2, t._1)))
    // The key matches the driver-side twin of stableHash64.
    val k7 = graft.functions.HashFunctions.stableHash64Local("epoch1:7")
    assert(got.find(_._1 == 7L).get._2 == k7)
    // Partitioning-independent: a different input layout and explicit
    // partition count give the identical permutation.
    val again = Corpus.deterministicShuffle(ids.repartition(13), "doc_id",
      "epoch1", numPartitions = 5)
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._3)
    assert(again == byPos)
    // A different seed is a genuinely different epoch order.
    val epoch2 = Corpus.deterministicShuffle(ids, "doc_id", "epoch2")
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._3)
    assert(epoch2.map(_._1) != byPos.map(_._1))
  }

  test("deterministicShuffle invariants over arbitrary corpora and " +
      "partitionings (property)") {
    // Deterministic scalacheck corpora (sign-mixed ids, including the
    // extremes a naive hash-to-string path could mangle) crossed with
    // arbitrary input partitionings and output partition counts: the
    // (id -> pos) map must be IDENTICAL across all of them, positions
    // must be exactly 0..n-1, the published shuffle_key must ORDER the
    // permutation, and a new seed must be a genuinely new permutation.
    import org.scalacheck.{Gen, rng}
    val idGen = Gen.listOfN(400, Gen.frequency(
      8 -> Gen.chooseNum(-1000000000000L, 1000000000000L),
      1 -> Gen.oneOf(0L, 1L, -1L, Long.MaxValue, Long.MinValue + 1)))
    for (caseSeed <- Seq(3L, 5L, 9L)) {
      val ids = idGen.pureApply(Gen.Parameters.default,
        rng.Seed(caseSeed)).distinct
      val parts = Gen.chooseNum(1, 17).pureApply(Gen.Parameters.default,
        rng.Seed(caseSeed + 100))
      val df = ids.toDF("doc_id")
      def run(inParts: Int, outParts: Int, seed: String) =
        Corpus.deterministicShuffle(df.repartition(inParts), "doc_id",
          seed, outParts)
          .select("doc_id", "shuffle_key", "pos")
          .as[(Long, Long, Long)].collect().toSeq
      val a = run(3, parts, "epoch1")
      assert(a.map(_._3).sorted == (0L until ids.size.toLong),
        s"case $caseSeed: positions are not exactly 0..n-1")
      // pos is the rank of (shuffle_key, id) — the published key
      // really is the sort key any engine could reproduce.
      assert(a.sortBy(t => (t._2, t._1)).map(_._3)
          == (0L until ids.size.toLong),
        s"case $caseSeed: pos does not rank (shuffle_key, id)")
      val aMap = a.map(t => t._1 -> t._3).toMap
      // Invariant to input partitioning AND output partition count.
      assert(run(7, parts, "epoch1").map(t => t._1 -> t._3).toMap == aMap,
        s"case $caseSeed: input partitioning changed the permutation")
      assert(run(5, parts / 2 + 1, "epoch1")
          .map(t => t._1 -> t._3).toMap == aMap,
        s"case $caseSeed: output partition count changed the permutation")
      // A different seed permutes differently (collision odds ~ 0).
      val b = run(3, parts, "epoch2")
      assert(b.map(_._3).sorted == (0L until ids.size.toLong))
      assert(b.map(t => t._1 -> t._3).toMap != aMap,
        s"case $caseSeed: seed change did not change the permutation")
    }
  }

  test("importanceTopK ranks target-like docs above raw-like, skips " +
      "empty docs") {
    // Self-checking fixture: the two tokens must land in different
    // hash buckets for the weights to separate.
    val B = 1024
    assert(graft.functions.HashFunctions.stableHash64Local("alpha") % B !=
      graft.functions.HashFunctions.stableHash64Local("omega") % B)
    val docs = Seq(
      (1L, "alpha alpha alpha"),   // the target slice
      (2L, "alpha omega"),
      (3L, "omega omega omega omega"),
      (4L, ""))
      .toDF("doc_id", "text")
    val got = Corpus.importanceTopK(docs, "doc_id", "text",
        isTarget = col("doc_id") === 1L, buckets = B, k = 10)
      .as[(Long, Long, Long)].collect().toSeq
    // Empty doc 4 is unscored; ranking follows target-likeness.
    assert(got.map(_._1) == Seq(1L, 2L, 3L), s"got $got")
    assert(got.map(x => x._1 -> x._2).toMap ==
      Map(1L -> 3L, 2L -> 2L, 3L -> 4L))
    // Scores strictly separate the three mixes (no bucket collision).
    assert(got.map(_._3).distinct.size == 3 &&
      got.map(_._3) == got.map(_._3).sortBy(-_))
  }

  test("temperatureSample flattens the mix: bigger strata get lower " +
      "rates, rates cap at 1000") {
    val docs = ((1L to 400L).map(i => (i, "big")) ++
      (1001L to 1025L).map(i => (i, "small"))).toDF("doc_id", "source")
    val kept = Corpus.temperatureSample(docs, "doc_id", "source",
      budgetDocs = 100)
    val rates = kept.select(col("source"), col("rate_pm")).distinct()
      .as[(String, Long)].collect().toMap
    // sqrt weights: w_big = 20000, w_small = 5000, tot = 25000.
    // t_big = 100*20000/25000 = 80 -> rate 80*1000/400 = 200 pm.
    // t_small = 100*5000/25000 = 20 -> 20*1000/25 = 800 pm.
    assert(rates == Map("big" -> 200L, "small" -> 800L), s"got $rates")
    // Per-doc rate = n^-0.5 shape: small docs 4x likelier than big.
    // Kept set is the deterministic hash threshold — a pure subset.
    val ids = kept.select(col("doc_id")).as[Long].collect().toSet
    assert(ids.subsetOf(((1L to 400L) ++ (1001L to 1025L)).toSet))
    // A stratum bigger than the whole budget still caps at 1000 pm.
    val tiny = Seq((1L, "only")).toDF("doc_id", "source")
    val r = Corpus.temperatureSample(tiny, "doc_id", "source", 50)
      .select(col("rate_pm")).as[Long].head()
    assert(r == 1000L)
  }

  test("unimaxAllocate waterfill: caps honored, allocations sum " +
      "exactly to the budget, remainder spread deterministically") {
    val sizes = Seq(("a", 100L), ("b", 1000L), ("c", 1000L), ("d", 5000L))
      .toDF("source", "n_tokens")
    // epochCap 2: caps 200, 2000, 2000, 10000. budget 5003:
    // a capped (200*4=800 <= 5003). remaining 4803 over 3: level 1601
    // rem 0... recompute: (5003-200)/3 = 1601 since caps b,c=2000 >
    // 1601 they are NOT capped. alloc = 200 + 1601*3 + rem 0 = 5003.
    val got = Corpus.unimaxAllocate(sizes, "source", "n_tokens",
        budget = 5003L, epochCap = 2)
      .select(col("source"), col("alloc")).as[(String, Long)]
      .collect().toMap
    assert(got("a") == 200L)
    assert(got.values.sum == 5003L, s"got $got")
    // Remainder goes to the first uncapped sources in (cap, name)
    // order: 5005 -> level 1601 rem 2 -> b and c get 1602, d 1601.
    val got2 = Corpus.unimaxAllocate(sizes, "source", "n_tokens",
        budget = 5005L, epochCap = 2)
      .select(col("source"), col("alloc")).as[(String, Long)]
      .collect().toMap
    assert(got2 == Map("a" -> 200L, "b" -> 1602L, "c" -> 1602L,
      "d" -> 1601L), s"got $got2")
    // Budget above total capacity: everything capped at epochCap.
    val got3 = Corpus.unimaxAllocate(sizes, "source", "n_tokens",
        budget = 1000000L, epochCap = 2)
      .select(col("source"), col("alloc")).as[(String, Long)]
      .collect().toMap
    assert(got3 == Map("a" -> 200L, "b" -> 2000L, "c" -> 2000L,
      "d" -> 10000L))
  }

  test("lengthBucketBatches: batches never exceed batchSize, pad " +
      "waste is max-padding exact") {
    // 10 docs of 5 tokens + 3 docs of 70 tokens, width 32, batch 4.
    val t = ((1L to 10L).map(i => (i, 5L)) ++
      (21L to 23L).map(i => (i, 70L))).toDF("doc_id", "n_tokens")
    val got = Corpus.lengthBucketBatches(t, "doc_id", "n_tokens",
        bucketWidth = 32, batchSize = 4)
      .orderBy(col("bucket"), col("batch_id"))
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    // bucket 0: 10 docs -> batches of 4,4,2; bucket 2: 3 docs.
    assert(got.map(r => (r._1, r._2, r._3)) ==
      Seq((0L, 0L, 4L), (0L, 1L, 4L), (0L, 2L, 2L), (2L, 0L, 3L)),
      s"got $got")
    // Uniform lengths inside a bucket -> zero padding waste.
    assert(got.forall(_._6 == 0L))
    // Mixed lengths pad up to the batch max.
    val mixed = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF(
      "doc_id", "n_tokens")
    val m = Corpus.lengthBucketBatches(mixed, "doc_id", "n_tokens",
        bucketWidth = 32, batchSize = 8)
      .as[(Long, Long, Long, Long, Long, Long)].collect().head
    assert(m._4 == 30L && m._5 == 60L && m._6 == 30L * 3 - 60L)
  }

  test("madOutliers pins median/MAD fences and flags only the tails") {
    // median 10, deviations (0,1,1,2,2) -> MAD ~ interpolated 1.0;
    // fences 7..13; outliers: 100 high, -50 low.
    val v = Seq(8L, 9L, 10L, 11L, 12L, 100L, -50L).toDF("cents")
    val got = Corpus.madOutliers(v, "cents", k = 3.0)
      .as[(Double, Double, Double, Double, Long, Long)].collect().head
    assert(got._1 == 10.0, s"median got $got")
    assert(got._5 == 1L && got._6 == 1L, s"outlier counts got $got")
    assert(got._3 < 8.0 && got._4 > 12.0, s"fences got $got")
  }

  test("snapshotDiff reports added/removed/common with exact deltas") {
    val before = Seq(("a", 10L, 100L), ("b", 5L, 50L), ("gone", 2L, 20L))
      .toDF("source", "n_docs", "total_tokens")
    val after = Seq(("a", 12L, 130L), ("b", 5L, 50L), ("new", 3L, 30L))
      .toDF("source", "n_docs", "total_tokens")
    val got = Corpus.snapshotDiff(before, after, "source",
        Seq("n_docs", "total_tokens"))
      .as[(String, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == Map(
      "a" -> (("common", 2L, 30L)),
      "b" -> (("common", 0L, 0L)),
      "gone" -> (("removed", -2L, -20L)),
      "new" -> (("added", 3L, 30L))), s"got $got")
  }

  test("curriculumPhases orders best-first globally and cuts exact " +
      "token-budget phases, invariant to partitioning") {
    val rows = Seq(
      (1L, 900L, 30L), (2L, 500L, 40L), (3L, 900L, 50L), (4L, 100L, 60L))
      .toDF("doc_id", "q", "n_tok")
    def run(parts: Int) = Corpus.curriculumPhases(
        rows.repartition(parts), "doc_id", "q", "n_tok",
        phaseBudget = 60, numPartitions = parts)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._4, r._5))).toMap
    val got = run(3)
    // Order: (900,1) (900,3) (500,2) (100,4); exclusive cums 0,30,80,120.
    assert(got == Map(1L -> ((0L, 0L)), 3L -> ((30L, 0L)),
      2L -> ((80L, 1L)), 4L -> ((120L, 2L))), s"got $got")
    assert(run(7) == got && run(1) == got)
  }

  test("distributionDrift: identical strata -> 0, disjoint -> 1e6, " +
      "and the statistic is symmetric-exact") {
    val rows = ((1L to 50L).map(v => ("a", v)) ++
      (1L to 50L).map(v => ("b", v)) ++            // identical to a
      (101L to 150L).map(v => ("c", v))            // disjoint support
      ).toDF("source", "v")
    val got = Corpus.distributionDrift(rows, "source", "v")
      .as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got(("a", "b")) == 0L)
    assert(got(("a", "c")) == 1000000L && got(("b", "c")) == 1000000L)
    // Half-shifted: b' = a shifted by half the support -> KS = 0.5.
    val half = ((1L to 100L).map(v => ("a", v)) ++
      (51L to 150L).map(v => ("b", v))).toDF("source", "v")
    val ks = Corpus.distributionDrift(half, "source", "v")
      .as[(String, String, Long)].collect().head._3
    assert(ks == 500000L, s"got $ks")
  }

  test("globalOrderedRank equals the unpartitioned window exactly " +
      "(rank, exclusive running sum, totals), ties included") {
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(11)
    // Heavy ties on the first key so the tie-break column decides the
    // order; values span negatives.
    val rows = (0 until 2500).map { i =>
      (i.toLong, (rnd.nextInt(40) - 20).toLong)
    }
    val df = rows.toDF("id", "v")
    val wOrd = Window.orderBy(col("v").desc, col("id"))
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, -1)
    val want = df
      .withColumn("rn", row_number().over(wOrd).cast("long"))
      .withColumn("cum", coalesce(sum(col("v")).over(wCum), lit(0L)))
      .select("id", "rn", "cum")
      .as[(Long, Long, Long)].collect().toSet
    // 7 partitions force rank ranges to span partitions.
    val (got, n, tot) = Corpus.globalOrderedRank(df,
      Seq(col("v").desc, col("id")), rnCol = "rn",
      sumCol = Some("v"), numPartitions = 7)
    assert(got.select("id", "rn", "__cum")
      .as[(Long, Long, Long)].collect().toSet == want)
    assert(n == 2500L)
    assert(tot == rows.map(_._2).sum)
    // Rank-only variant (no sum column) and a single-row frame.
    val (one, n1, s1) = Corpus.globalOrderedRank(
      Seq((7L, 3L)).toDF("id", "v"), Seq(col("v")), rnCol = "rn")
    assert(one.select("id", "rn").as[(Long, Long)].collect().toSeq
      == Seq((7L, 1L)))
    assert(n1 == 1L && s1 == 0L)
    // Empty frame: no rows, zero totals.
    val (empty, n0, s0) = Corpus.globalOrderedRank(
      df.filter(col("id") < 0), Seq(col("v")), rnCol = "rn",
      sumCol = Some("v"))
    assert(empty.count() == 0L && n0 == 0L && s0 == 0L)
  }
}
