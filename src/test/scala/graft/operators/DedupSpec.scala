package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  /** Band rows in the legacy md5-string form: (doc_id, band, band_key
    * STRING), no carried `band_keys` array. The two docs share a key. */
  private def legacyBands(a: Long, b: Long): org.apache.spark.sql.DataFrame =
    Seq((a, 0, "5d41402abc4b2a76b9719d911017c592"),
      (b, 0, "5d41402abc4b2a76b9719d911017c592"))
      .toDF("doc_id", "band", "band_key")

  private val docs = Seq(
    (1L, "a b c d"),
    (2L, "a b c e"),
    (3L, "a b c d"),      // exact dupe of 1
    (4L, "x y z w q"))
    .toDF("doc_id", "text")

  test("exactByContent collapses identical normalized text") {
    val got = Dedup.exactByContent(docs, "doc_id", "text")
      .select("canonical_id", "n_copies").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L), (2L, 1L), (4L, 1L)))
  }

  test("shingleArrays builds distinct word 3-grams, drops short docs") {
    val arr = Dedup.shingleArrays(Seq((1L, "a b c d"), (2L, "a b"))
      .toDF("doc_id", "text"), "doc_id", "text", 3)
      .as[(Long, Seq[String])].collect().toMap
    assert(arr == Map(1L -> Seq("a b c", "b c d")))
  }

  test("jaccard computes exact overlap on candidate pairs") {
    // doc1 {a b c, b c d}, doc2 {a b c, b c e}: inter 1, union 3.
    val hsArr = Dedup.hashedShingleArrays(docs, "doc_id", "text", 3)
    val pairs = Seq((1L, 2L)).toDF("a", "b")
    val j = Dedup.jaccard(pairs, hsArr)
      .select("n_inter", "n_a", "n_b", "jaccard")
      .as[(Int, Int, Int, Double)].head()
    assert(j == ((1, 2, 2, 1.0 / 3.0)))
  }

  test("minhash+LSH finds exact dupes as candidates deterministically") {
    val hsArr = Dedup.hashedShingleArrays(docs, "doc_id", "text", 3)
    val cand = Dedup.lshCandidatePairs(
      Dedup.lshBands(Dedup.minhashSignatures(hsArr, 8), 8, 4))
      .as[(Long, Long)].collect().toSet
    // identical docs share every band; (1,2) shares most shingles too
    assert(cand.contains((1L, 3L)))
    assert(!cand.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("lshIncrementalCandidates pairs batch only against the store") {
    val hsArr = Dedup.hashedShingleArrays(docs, "doc_id", "text", 3)
    val store = hsArr.filter($"doc_id" <= 2)   // docs 1, 2
    val batch = hsArr.filter($"doc_id" > 2)    // doc 3 = copy of 1, doc 4
    def bands(df: org.apache.spark.sql.DataFrame) =
      Dedup.lshBands(Dedup.minhashSignatures(df, 8), 8, 4)
    val cand = Dedup.lshIncrementalCandidates(bands(store), bands(batch))
      .as[(Long, Long)].collect().toSet
    // The batch's exact copy of store doc 1 must surface as (1, 3).
    assert(cand.contains((1L, 3L)))
    // Never store×store or batch×batch: a is a store id, b a batch id.
    assert(cand.forall { case (a, b) => a <= 2 && b > 2 })
  }

  test("witnessed LSH candidates: exactly one emission per pair; legacy rejected") {
    // A corpus with heavy mutual overlap so pairs agree in MANY bands
    // (exact copies agree in all): the witness filter must still emit
    // each pair exactly once. Legacy md5-string banded input (no
    // band_keys) is REJECTED with LegacyBandMsg.
    val corpus = ((1L to 12L).map(i => (i, "w0 w1 w2 w3 w4 w5 w6 w7 w8")) ++
      (13L to 18L).map(i => (i, s"zz$i w1 w2 w3 w4 w5 w6 w7 w8")) ++
      Seq((19L, "totally unrelated text about something else entirely here")))
      .toDF("doc_id", "text")
    val hs = Dedup.hashedShingleArrays(corpus, "doc_id", "text", 3)
    val sigs = Dedup.minhashSignatures(hs, 16).persist()
    val witnessed = Dedup.lshCandidatePairs(Dedup.lshBands(sigs, 16, 4))
      .as[(Long, Long)].collect().toSeq
    assert(witnessed.size == witnessed.toSet.size,
      "witness filter let a duplicate emission through")
    // The exact-copy clique must be fully present: 12*11/2 pairs.
    assert(witnessed.count { case (a, b) => a <= 12 && b <= 12 } == 66)
    intercept[IllegalArgumentException] {
      Dedup.lshCandidatePairs(legacyBands(1L, 2L))
    }
    sigs.unpersist(); ()
  }

  test("witnessed incremental LSH: exactly-once; legacy and mixed rejected") {
    val corpus = ((1L to 6L).map(i => (i, "w0 w1 w2 w3 w4 w5 w6 w7 w8")) ++
      (7L to 9L).map(i => (i, s"zz$i w1 w2 w3 w4 w5 w6 w7 w8")))
      .toDF("doc_id", "text")
    val hs = Dedup.hashedShingleArrays(corpus, "doc_id", "text", 3)
    val store = Dedup.minhashSignatures(hs.filter($"doc_id" <= 4), 16)
      .persist()
    val batch = Dedup.minhashSignatures(hs.filter($"doc_id" > 4), 16)
      .persist()
    val witnessed = Dedup.lshIncrementalCandidates(
      Dedup.lshBands(store, 16, 4), Dedup.lshBands(batch, 16, 4))
      .as[(Long, Long)].collect().toSeq
    assert(witnessed.size == witnessed.toSet.size)
    // Exact copies 1-4 (store) x 5-6 (batch) all surface.
    assert(witnessed.toSet.intersect(
      (for (a <- 1L to 4L; b <- 5L to 6L) yield (a, b)).toSet).size == 8)
    // The md5-string probe paths are retired: legacy on either or both
    // sides (a mixed join would be silently empty) rejects loud.
    intercept[IllegalArgumentException] {
      Dedup.lshIncrementalCandidates(legacyBands(1L, 2L), legacyBands(5L, 6L))
    }
    intercept[IllegalArgumentException] {
      Dedup.lshIncrementalCandidates(
        legacyBands(1L, 2L), Dedup.lshBands(batch, 16, 4))
    }
    store.unpersist(); batch.unpersist(); ()
  }

  test("FromKeys candidate paths: exactly-once and identical sets to the " +
      "banded-frame witness path") {
    // The compact-keys candidate functions (narrow bucket join + keys
    // joined back onto the emission stream for the witness) must
    // produce the SAME pair set, exactly once per pair, as the
    // array-carrying witness path.
    val corpus = ((1L to 12L).map(i => (i, "w0 w1 w2 w3 w4 w5 w6 w7 w8")) ++
      (13L to 18L).map(i => (i, s"zz$i w1 w2 w3 w4 w5 w6 w7 w8")) ++
      Seq((19L, "totally unrelated text about something else entirely here")))
      .toDF("doc_id", "text")
    val hs = Dedup.hashedShingleArrays(corpus, "doc_id", "text", 3)
    val sigs = Dedup.minhashSignatures(hs, 16).persist()
    val keys = Dedup.lshBandKeys(sigs, 16, 4).persist()
    val fromKeys = Dedup.lshCandidatePairsFromKeys(keys)
      .as[(Long, Long)].collect().toSeq
    val banded = Dedup.lshCandidatePairs(Dedup.lshBands(sigs, 16, 4))
      .as[(Long, Long)].collect().toSeq
    assert(fromKeys.size == fromKeys.toSet.size,
      "FromKeys witness let a duplicate emission through")
    assert(fromKeys.toSet == banded.toSet,
      "FromKeys pair set differs from the banded-frame witness path")
    // Incremental variant against a store/batch split of the same corpus.
    val storeK = Dedup.lshBandKeys(
      Dedup.minhashSignatures(hs.filter($"doc_id" <= 9), 16), 16, 4)
      .persist()
    val batchK = Dedup.lshBandKeys(
      Dedup.minhashSignatures(hs.filter($"doc_id" > 9), 16), 16, 4)
      .persist()
    val incrK = Dedup.lshIncrementalCandidatesFromKeys(storeK, batchK)
      .as[(Long, Long)].collect().toSeq
    val incrB = Dedup.lshIncrementalCandidates(
      Dedup.lshBandsFromKeys(storeK), Dedup.lshBandsFromKeys(batchK))
      .as[(Long, Long)].collect().toSeq
    assert(incrK.size == incrK.toSet.size)
    assert(incrK.toSet == incrB.toSet)
    assert(incrK.nonEmpty && incrK.forall { case (a, b) => a <= 9 && b > 9 })
    Seq(keys, storeK, batchK).foreach(_.unpersist())
    sigs.unpersist(); ()
  }

  test("simhash: identical docs hash identically, disjoint docs differ") {
    val sims = Dedup.simhash(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(sims(1L) == sims(3L))
    assert(sims(1L) != sims(4L))
    val pairs = Dedup.simhashPairs(Dedup.simhash(docs, "doc_id", "text"), 8)
      .select("a", "b", "hamming").as[(Long, Long, Int)].collect()
    assert(pairs.exists(p => p._1 == 1L && p._2 == 3L && p._3 == 0))
  }

  test("connectedComponents labels clusters with their min doc id") {
    // {1,2,3} chained + {5,6}; 9 isolated (no pair -> no row).
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b")
    val got = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
    // A longer chain still converges within the iteration budget.
    val chain = (1L until 9L).map(i => (i, i + 1)).toDF("a", "b")
    val labels = Dedup.connectedComponents(chain)
      .as[(Long, Long)].collect().toMap
    assert(labels.values.toSet == Set(1L) && labels.size == 9)
  }

  test("connectedComponents converges in O(log n) rounds on a deep chain") {
    // 100-node chain: plain min-propagation needs 99 rounds; the
    // pointer-jumping variant must fully converge within 7 (6 working
    // rounds + 1 stability check).
    val chain = (1L until 100L).map(i => (i, i + 1)).toDF("a", "b")
    val labels = Dedup.connectedComponents(chain, maxIter = 7)
      .as[(Long, Long)].collect().toMap
    assert(labels.size == 100)
    assert(labels.values.toSet == Set(1L),
      s"chain not converged: ${labels.values.toSet}")
  }

  test("connectedComponents matches union-find on random graphs") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val n = 60
      val edges = (1 to 70)
        .map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int =
        if (parent(x) == x) x
        else { parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        // Root stays the component minimum, so find() = canonical id.
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val want = nodes.map(v => v -> find(v.toInt).toLong).toMap
      val got = Dedup.connectedComponents(edges.toDF("a", "b"))
        .as[(Long, Long)].collect().toMap
      assert(got == want, s"trial $trial differs from union-find")
    }
  }

  test("shingleBlockedPairs respects the document-frequency cap") {
    val sh = Dedup.shingles(docs, "doc_id", "text", 3)
    val all = Dedup.shingleBlockedPairs(sh, 20).as[(Long, Long)].collect().toSet
    assert(all == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    // df cap 2: "a b c" occurs in 3 docs -> blocked from pairing; only
    // the pairs sharing a df<=2 shingle ("b c d" in docs 1,3) survive.
    val capped = Dedup.shingleBlockedPairs(sh, 2).as[(Long, Long)].collect().toSet
    assert(capped == Set((1L, 3L)))
  }

  test("blockedJaccard (witness dedup) matches the distinct path exactly") {
    val hsArr = Dedup.hashedShingleArrays(docs, "doc_id", "text", 3)
    val sh = Dedup.shingles(docs, "doc_id", "text", 3)
    // maxDf=2 exercises the rare/hot split: "a b c" (df 3) is hot, and
    // for pair (1,3) it may hash below the rare witness "b c d" —
    // min-over-the-FULL-intersection would drop the pair entirely.
    for (maxDf <- Seq(20, 2)) {
      val want = Dedup.jaccard(Dedup.shingleBlockedPairs(sh, maxDf), hsArr)
        .select("a", "b", "n_inter", "n_a", "n_b")
        .as[(Long, Long, Int, Int, Int)].collect().toSeq.sorted
      val got = Dedup.blockedJaccard(hsArr, maxDf)
        .select("a", "b", "n_inter", "n_a", "n_b")
        .as[(Long, Long, Int, Int, Int)].collect().toSeq.sorted
      assert(got == want, s"maxDf=$maxDf witnessed path diverged")
      // ONE row per pair: the witness must dedup multi-shingle sharers
      // (docs 1,3 share both shingles at maxDf=20) without a distinct.
      assert(got.map(t => (t._1, t._2)).distinct.size == got.size)
    }
  }

  test("keepBestPerCluster keeps the top-scoring member, passes singletons") {
    // Clusters from components: {1,2,3} (component 1) and {10,11}
    // (component 10); doc 20 is unclustered.
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val clusters = Dedup.connectedComponents(pairs)
    val scores = Seq(
      (1L, 0.3), (2L, 0.9), (3L, 0.9),   // tie at 0.9 -> lower id 2 wins
      (10L, 0.5), (11L, 0.8),
      (20L, 0.1))
      .toDF("doc_id", "quality")
    val kept = Dedup.keepBestPerCluster(scores, "doc_id", "quality", clusters)
      .select("doc_id", "component", "quality")
      .as[(Long, Long, Double)].collect().toSeq.sorted
    assert(kept == Seq((2L, 1L, 0.9), (11L, 10L, 0.8), (20L, 20L, 0.1)))
  }

  test("semDedup drops lower-id-shadowed near-dups within clusters only") {
    // The two lowest ids (= the k-means seeds) point along orthogonal
    // directions, so Lloyd converges immediately: x-scaled copies
    // cluster with seed 1, y-scaled copies with seed 2. Scaled copies
    // have pairwise cosine 1.0; greedy keep-lowest-id leaves one
    // representative per direction.
    val vecs = Seq(
      (1L, Seq(1.0, 0.0)),
      (2L, Seq(0.0, 1.0)),
      (3L, Seq(2.0, 0.0)),
      (4L, Seq(0.0, 2.0)),
      (5L, Seq(3.0, 0.0)))
      .toDF("id", "vec")
    val got = Dedup.semDedup(vecs, k = 2, iters = 2, minCosine = 0.999)
      .as[(Long, Long)].collect().toMap
    // Cluster ids are the kmeans seed ids (the 2 lowest vector ids).
    assert(got == Map(1L -> 1L, 2L -> 2L))
  }

  test("semDedup keeps dissimilar members of the same cluster") {
    // One cluster (k=1): orthogonal vectors share the cluster but have
    // cosine 0, so nothing drops.
    val vecs = Seq(
      (5L, Seq(1.0, 0.0)),
      (6L, Seq(0.0, 1.0)))
      .toDF("id", "vec")
    val got = Dedup.semDedup(vecs, k = 1, iters = 1, minCosine = 0.999)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(5L -> 5L, 6L -> 5L))
  }

  test("crossSourceOverlap: identical sources hit 1000 milli on both " +
      "estimator and exact, disjoint hit 0 exact") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, base, "s1"),
      (2L, base, "s2"),                                   // s2 == s1
      (3L, "one two three four five six seven eight", "s3"))
      .toDF("doc_id", "text", "source")
    val got = Dedup.crossSourceOverlap(docs, "text", "source",
        n = 3, numHashes = 32)
      .as[(String, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(got.size == 3)                       // all pairs, even empty
    assert(got(("s1", "s2")) == (1000L, 1000L)) // identical sets
    assert(got(("s1", "s3"))._2 == 0L)          // exact: disjoint
    assert(got(("s2", "s3"))._2 == 0L)
  }

  test("contrastivePairs picks best positive / hardest negative per " +
      "anchor and requires both") {
    val pos = Seq((1L, 2L, 0.9), (1L, 3L, 0.95), (4L, 5L, 0.7))
      .toDF("a", "b", "jaccard")
    val neg = Seq((1L, 7L, 0.1), (1L, 8L, 0.05), (9L, 2L, 0.15))
      .toDF("a", "b", "jaccard")
    val got = Dedup.contrastivePairs(pos, neg)
      .as[(Long, Long, Double, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // Anchor 1: best positive 3 (0.95), hardest negative 8 (0.05).
    assert(got(1L) == ((3L, 0.95, 8L, 0.05)), s"got $got")
    // Anchor 2 is positive-side of (1,2) and negative-side of (9,2):
    // both directions count — it anchors with pos 1, neg 9.
    assert(got(2L) == ((1L, 0.9, 9L, 0.15)))
    // Anchors 3/4/5 (no negative) and 7/8/9 (no positive) emit
    // nothing: a triple needs BOTH sides.
    assert(got.keySet == Set(1L, 2L), s"got ${got.keySet}")
  }
}
