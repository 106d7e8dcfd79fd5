package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val vecs = Seq(
    (1L, Seq(1.0f, 0.0f)),
    (2L, Seq(0.0f, 1.0f)),
    (3L, Seq(0.6f, 0.8f)),
    (4L, Seq(-1.0f, 0.0f)))
    .toDF("id", "vec")

  test("bruteForceTopK ranks by exact cosine with id tie-break") {
    val got = Similarity.bruteForceTopK(vecs.filter(col("id") === 1), vecs, 3)
      .select("cid", "score", "rnk").as[(Long, Double, Int)].collect().toSeq
    // cos(1,3)=0.6, cos(1,2)=0.0, cos(1,4)=-1.0
    assert(got == Seq((3L, 0.6, 1), (2L, 0.0, 2), (4L, -1.0, 3)))
  }

  test("partition-local pruning returns the same rows as a global window") {
    val many = spark.range(100).select(col("id"),
      array((col("id") % 7).cast("float"), lit(1.0f),
        (col("id") % 13).cast("float")).as("vec"))
    val q = many.filter(col("id") < 3)
    val got = Similarity.bruteForceTopK(q, many, 5)
      .select("qid", "cid", "rnk").as[(Long, Long, Int)].collect().toSet
    // Naive global ranking for comparison.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("score").desc, col("cid"))
    val qq = q.select(col("id").as("qid"),
      graft.functions.VectorFunctions.toDoubleArray(col("vec")).as("qv"))
    val want = many.select(col("id").as("cid"),
      graft.functions.VectorFunctions.toDoubleArray(col("vec")).as("cv"))
      .join(qq, col("cid") =!= col("qid"))
      .select(col("qid"), col("cid"),
        round(graft.functions.VectorFunctions.cosine(col("qv"), col("cv")), 6)
          .as("score"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select("qid", "cid", "rnk").as[(Long, Long, Int)].collect().toSet
    assert(got == want)
  }

  test("hyperplaneBuckets: equal vectors share buckets, deterministic") {
    val dup = Seq((1L, Seq(1.0f, 2.0f, 4.0f)), (2L, Seq(1.0f, 2.0f, 4.0f)),
      (3L, Seq(-1.0f, -2.0f, -4.0f))).toDF("id", "vec")
    val b = Similarity.hyperplaneBuckets(dup, planes = 4, dims = 3)
      .as[(Long, Long)].collect().toMap
    assert(b.values.forall(v => v >= 0 && v < 16))
    assert(b(1L) == b(2L))
    // No +/-1 combination of (1,2,4) sums to zero, so the sign-flipped
    // vector lands in the exact complement bucket.
    assert(b(3L) == (~b(1L) & 0xfL))
    val again = Similarity.hyperplaneBuckets(dup, planes = 4, dims = 3)
      .as[(Long, Long)].collect().toMap
    assert(again == b)
  }

  test("hyperplaneWeightArray matches the seeded md5 derivation") {
    val w = Similarity.hyperplaneWeightArray(0, 4)
    val expected = (1 to 4).map(i =>
      if (graft.functions.HashFunctions.stableHash64Local(s"hp:0:$i") % 2 == 1)
        1.0 else -1.0)
    assert(w == expected)
    assert(w.forall(x => x == 1.0 || x == -1.0))
  }

  test("kmeansAssign: seeds from k lowest ids, converged toy clusters") {
    // Two tight groups around (0,0) and (10,10); seeds 0 and 1 start
    // one in each group, so two Lloyd rounds settle exactly.
    val pts = Seq(
      (0L, Seq(0.0f, 0.1f)), (1L, Seq(10.0f, 10.0f)),
      (2L, Seq(0.1f, 0.0f)), (3L, Seq(10.1f, 9.9f)),
      (4L, Seq(0.0f, 0.0f)), (5L, Seq(9.9f, 10.1f)))
      .toDF("id", "vec")
    val got = Similarity.kmeansAssign(pts, k = 2, iters = 2)
      .select("id", "cluster_id").as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 0L, 2L -> 0L, 4L -> 0L,
      1L -> 1L, 3L -> 1L, 5L -> 1L))
    // d2 is non-negative-ish and small inside tight clusters.
    val d2s = Similarity.kmeansAssign(pts, k = 2, iters = 2)
      .select("d2").as[Double].collect()
    assert(d2s.forall(_ < 0.1))
  }

  test("kmeansAssign: sparse ids seed from the k lowest; short corpus " +
      "fails loudly") {
    // Ids nowhere near dense 0-based (hash-id corpora): the old
    // `id < k` seed filter would silently train ZERO clusters here;
    // the shared ORDER BY id LIMIT k rule seeds the two lowest ids
    // (100 and 200) — one in each toy group.
    val pts = Seq(
      (100L, Seq(0.0f, 0.1f)), (200L, Seq(10.0f, 10.0f)),
      (300L, Seq(0.1f, 0.0f)), (400L, Seq(10.1f, 9.9f)))
      .toDF("id", "vec")
    val got = Similarity.kmeansAssign(pts, k = 2, iters = 2)
      .select("id", "cluster_id").as[(Long, Long)].collect().toMap
    assert(got == Map(100L -> 100L, 300L -> 100L,
      200L -> 200L, 400L -> 200L), s"got $got")
    // Fewer vectors than k must fail LOUDLY instead of silently
    // under-clustering.
    val e = intercept[IllegalArgumentException] {
      Similarity.kmeansAssign(pts.filter(col("id") === 100L),
        k = 2, iters = 2)
    }
    assert(e.getMessage.contains("cannot seed"), s"got ${e.getMessage}")
  }

  test("pqTopK: per-subspace codes, ADC ordering, self excluded") {
    // m=2 subspaces x 2 dims, 2 codes each (seeds 0,1). Vector 4 sits
    // in the near cluster on subspace 0 but the far cluster on
    // subspace 1, so ADC must rank it between the same-cluster doc 0
    // (both subspaces near) and docs 1/3 (both far) — exactly the
    // per-subspace decomposition a whole-vector quantizer can't see.
    val pts = Seq(
      (0L, Seq(0.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Seq(10.0f, 10.0f, 10.0f, 10.0f)),
      (2L, Seq(0.1f, 0.0f, 0.0f, 0.1f)),
      (3L, Seq(10.0f, 10.1f, 9.9f, 10.0f)),
      (4L, Seq(0.0f, 0.1f, 10.0f, 10.0f)))
      .toDF("id", "vec")
    val got = Similarity.pqTopK(pts,
        Seq(2L).toDF("id"), m = 2, subDims = 2, codes = 2, iters = 2, k = 4)
      .select("qid", "cid", "rnk").as[(Long, Long, Int)].collect().toSeq
      .sortBy(_._3)
    assert(got.map(_._1).forall(_ == 2L) && !got.map(_._2).contains(2L),
      s"self-match or wrong qid in $got")
    assert(got.map(_._2) == Seq(0L, 4L, 1L, 3L) ||
      got.map(_._2) == Seq(0L, 4L, 3L, 1L),
      s"ADC ordering broken: $got")
  }

  test("ivfPqTopK with nprobe = all cells equals the unrouted PQ") {
    // Routing that probes every cell prunes nothing, so IVF+PQ must
    // reduce exactly to pqTopK — pinning that the coarse layer only
    // FILTERS candidates and never perturbs the ADC scores.
    val pts = Seq(
      (0L, Seq(0.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Seq(10.0f, 10.0f, 10.0f, 10.0f)),
      (2L, Seq(0.1f, 0.0f, 0.0f, 0.1f)),
      (3L, Seq(10.0f, 10.1f, 9.9f, 10.0f)),
      (4L, Seq(0.0f, 0.1f, 10.0f, 10.0f)))
      .toDF("id", "vec")
    val cents = pts.filter(col("id") < 2)
      .select(col("id").as("cid"), col("vec").as("cvec"))
    val q = Seq(2L).toDF("id")
    val routed = Similarity.ivfPqTopK(pts, cents, q, nprobe = 2,
        m = 2, subDims = 2, codes = 2, iters = 2, k = 4)
      .collect().toSet
    val unrouted = Similarity.pqTopK(pts, q,
        m = 2, subDims = 2, codes = 2, iters = 2, k = 4)
      .collect().toSet
    assert(routed == unrouted, s"routed=$routed unrouted=$unrouted")
  }

  test("pq store: train-once build, hash-gated upsert, current-gen probe") {
    val dir = java.nio.file.Files
      .createTempDirectory("pq-store").toString + "/store"
    val pts = Seq(
      (0L, Seq(0.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Seq(10.0f, 10.0f, 10.0f, 10.0f)),
      (2L, Seq(0.1f, 0.0f, 0.0f, 0.1f)),
      (3L, Seq(10.0f, 10.1f, 9.9f, 10.0f)),
      (4L, Seq(0.0f, 0.1f, 10.0f, 10.0f)))
      .toDF("id", "vec")
    assert(Similarity.pqStoreBuild(pts, dir, m = 2, subDims = 2,
      codes = 2, iters = 2) == 5)
    // Build is train-once: a second build must refuse.
    intercept[IllegalArgumentException] {
      Similarity.pqStoreBuild(pts, dir, m = 2, subDims = 2, codes = 2,
        iters = 2)
    }
    // Re-embed id 1 next to id 0: supersedes; identical redelivery
    // appends nothing.
    val re = Seq((1L, Seq(0.1f, 0.0f, 0.0f, 0.1f))).toDF("id", "vec")
    assert(Similarity.pqStoreAppend(re, dir) == 1)
    assert(Similarity.pqStoreAppend(re, dir) == 0)
    // Probe with id 2's vector: id 1 now shares id 0/2's codes in both
    // subspaces, so its ADC distance TIES id 0's and the cid
    // tie-break orders 0 before 1; id 4 (one far subspace) beats
    // id 3 (two far subspaces).
    val q = Seq((2L, Seq(0.1f, 0.0f, 0.0f, 0.1f))).toDF("id", "vec")
    val got = Similarity.pqStoreTopK(spark, dir, q, k = 4)
      .select("cid", "rnk").as[(Long, Int)].collect().toSeq.sortBy(_._2)
    assert(got.map(_._1) == Seq(0L, 1L, 4L, 3L), s"got $got")
  }

  /** 4-dim two-cluster corpus shared by the PQ store lifecycle tests. */
  private def pqPts = Seq(
    (0L, Seq(0.0f, 0.0f, 0.0f, 0.0f)),
    (1L, Seq(10.0f, 10.0f, 10.0f, 10.0f)),
    (2L, Seq(0.1f, 0.0f, 0.0f, 0.1f)),
    (3L, Seq(10.0f, 10.1f, 9.9f, 10.0f)),
    (4L, Seq(0.0f, 0.1f, 10.0f, 10.0f)))
    .toDF("id", "vec")

  test("pq store delete: tombstoned ids leave the probe, idempotent, " +
      "resurrected by a later append") {
    val dir = java.nio.file.Files
      .createTempDirectory("pq-del").toString + "/store"
    Similarity.pqStoreBuild(pqPts, dir, m = 2, subDims = 2, codes = 2,
      iters = 2)
    val q = Seq((2L, Seq(0.1f, 0.0f, 0.0f, 0.1f))).toDF("id", "vec")
    def cids() = Similarity.pqStoreTopK(spark, dir, q, k = 5)
      .select("cid").as[Long].collect().toSet
    assert(cids() == Set(0L, 1L, 3L, 4L))
    // Tombstone id 0: gone from the probe and from the live surface.
    assert(Similarity.pqStoreDelete(spark, dir, Seq(0L).toDF("id")) == 1)
    assert(cids() == Set(1L, 3L, 4L))
    assert(Similarity.pqStoreLiveIds(spark, dir)
      .as[Long].collect().toSet == Set(1L, 2L, 3L, 4L))
    // Idempotent: a redelivered takedown tombstones nothing new.
    assert(Similarity.pqStoreDelete(spark, dir, Seq(0L).toDF("id")) == 0)
    // Resurrect: a later append with a real vector supersedes the
    // tombstone (its hash never equals the tombstone's 0).
    assert(Similarity.pqStoreAppend(
      Seq((0L, Seq(0.0f, 0.0f, 0.0f, 0.0f))).toDF("id", "vec"), dir) == 1)
    assert(cids() == Set(0L, 1L, 3L, 4L))
  }

  test("pqStoreSync: one commit = hash-gated upsert + scoped vanish " +
      "tombstones; equals delete-then-append; redelivery no-ops") {
    import org.apache.spark.sql.functions.{col, lit, call_function}
    // Pack ids like the passage surface: doc = id div 10.
    val keyOf = (c: org.apache.spark.sql.Column) =>
      call_function("div", c, lit(10L))
    def state(dir: String) = Similarity.pqStoreLiveIds(spark, dir)
      .as[Long].collect().toSet
    // Store A: the fused sync. Store B: the old delete+append pair.
    val dirA = java.nio.file.Files
      .createTempDirectory("pq-sync-a").toString + "/store"
    val dirB = java.nio.file.Files
      .createTempDirectory("pq-sync-b").toString + "/store"
    // ids 10,11 = doc 1; 20,21 = doc 2; 30 = doc 3.
    val base = Seq(
      (10L, Seq(0.0f, 0.0f, 0.0f, 0.0f)),
      (11L, Seq(0.1f, 0.0f, 0.0f, 0.1f)),
      (20L, Seq(10.0f, 10.0f, 10.0f, 10.0f)),
      (21L, Seq(10.0f, 10.1f, 9.9f, 10.0f)),
      (30L, Seq(0.0f, 0.1f, 10.0f, 10.0f)))
      .toDF("id", "vec")
    Seq(dirA, dirB).foreach(d => Similarity.pqStoreBuild(base, d,
      m = 2, subDims = 2, codes = 2, iters = 2): Unit)
    // Delivery for docs 1 and 2: doc 1 re-chunked shorter (11 vanishes,
    // 10 re-embeds), doc 2 unchanged redelivery (both hash-gate out),
    // doc 3 NOT delivered (its ids must stay untouched).
    val wave = Seq(
      (10L, Seq(5.0f, 0.0f, 0.0f, 5.0f)),
      (20L, Seq(10.0f, 10.0f, 10.0f, 10.0f)),
      (21L, Seq(10.0f, 10.1f, 9.9f, 10.0f)))
      .toDF("id", "vec")
    val docs = Seq(1L, 2L).toDF("doc_id")
    // Fused path on A.
    assert(Similarity.pqStoreSync(wave, dirA, docs, keyOf) == 1L)
    // Old pair on B.
    val staleB = Similarity.pqStoreLiveIds(spark, dirB)
      .withColumn("doc_id", call_function("div", col("id"), lit(10L)))
      .join(docs, Seq("doc_id"), "left_semi")
      .join(wave.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"))
    Similarity.pqStoreDelete(spark, dirB, staleB): Unit
    Similarity.pqStoreAppend(wave, dirB): Unit
    assert(state(dirA) == state(dirB))
    assert(state(dirA) == Set(10L, 20L, 21L, 30L))
    // Converged probe surfaces agree row-for-row.
    val q = Seq((99L, Seq(5.0f, 0.0f, 0.0f, 5.0f))).toDF("id", "vec")
    assert(Similarity.pqStoreTopK(spark, dirA, q, k = 5).collect().toSeq
      == Similarity.pqStoreTopK(spark, dirB, q, k = 5).collect().toSeq)
    // Redelivery of the same wave is a complete no-op (encodes 0,
    // tombstones nothing: 11 is already dead, hashes all match).
    assert(Similarity.pqStoreSync(wave, dirA, docs, keyOf) == 0L)
    assert(state(dirA) == Set(10L, 20L, 21L, 30L))
    // Resurrect through the sync: doc 1 redelivers id 11.
    val back = Seq(
      (10L, Seq(5.0f, 0.0f, 0.0f, 5.0f)),
      (11L, Seq(0.1f, 0.0f, 0.0f, 0.1f)))
      .toDF("id", "vec")
    assert(Similarity.pqStoreSync(back, dirA,
      Seq(1L).toDF("doc_id"), keyOf) == 1L)
    assert(state(dirA) == Set(10L, 11L, 20L, 21L, 30L))
  }

  test("incremental PQ vacuum reclaims dirty batches, carries " +
      "tombstones, and converges across the crash window") {
    import graft.sources.Commits
    val dir = java.nio.file.Files
      .createTempDirectory("pq-ivac").toString + "/store"
    Similarity.pqStoreBuild(pqPts, dir, m = 2, subDims = 2, codes = 2,
      iters = 2)                                                   // b0
    Similarity.pqStoreAppend(
      Seq((1L, Seq(0.1f, 0.0f, 0.0f, 0.1f))).toDF("id", "vec"), dir) // b1
    assert(Similarity.pqStoreDelete(spark, dir,
      Seq(4L).toDF("id")) == 1)                                    // b2
    val q = Seq((2L, Seq(0.1f, 0.0f, 0.0f, 0.1f))).toDF("id", "vec")
    def rows() = Similarity.pqStoreTopK(spark, dir, q, k = 5)
      .select("cid", "approx_d2", "rnk")
      .as[(Long, Double, Int)].collect().toSeq.sorted
    val want = rows()
    assert(!want.map(_._1).contains(4L))
    // b0 is 2/5 dead, under the threshold: id 4's tombstone in b2 is
    // live while its b0 row survives in an unselected batch, so the
    // pass selects nothing (rewriting b2 would only copy the tombstone).
    assert(Similarity.pqStoreVacuumIncremental(spark, dir,
      minDeadFraction = 0.5) == 0)
    assert(rows() == want, "carried PQ tombstone stopped suppressing")
    // Crash window: rewrite committed, reclaimed markers still there.
    Similarity.PqStore.rewriteAndCommit(spark, dir,
      Commits.committed(spark, dir), Seq(0L))
    assert(rows() == want,
      "duplicate generations across the crash window changed answers")
    // Full-threshold pass converges: only live current rows remain,
    // id 4 physically gone, answers unchanged.
    assert(Similarity.pqStoreVacuumIncremental(spark, dir) >= 1)
    assert(rows() == want)
    val store = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$dir/rows")
    assert(store.count() == store.select("id").distinct().count())
    assert(!store.select("id").as[Long].collect().contains(4L))
    // Mutations keep working afterwards.
    assert(Similarity.pqStoreAppend(
      Seq((9L, Seq(1.0f, 1.0f, 1.0f, 1.0f))).toDF("id", "vec"), dir) == 1)
  }

  test("a warm PQ probe reads its view; a vacuum drops tombstones") {
    val dir = java.nio.file.Files
      .createTempDirectory("pq-vac").toString + "/store"
    Similarity.pqStoreBuild(pqPts, dir, m = 2, subDims = 2, codes = 2,
      iters = 2)
    Similarity.pqStoreAppend(
      Seq((1L, Seq(0.1f, 0.0f, 0.0f, 0.1f))).toDF("id", "vec"), dir)
    Similarity.pqStoreDelete(spark, dir, Seq(4L).toDF("id")): Unit
    val q = Seq((2L, Seq(0.1f, 0.0f, 0.0f, 0.1f))).toDF("id", "vec")
    def probe() = Similarity.pqStoreTopK(spark, dir, q, k = 5)
    def rows() = probe().select("cid", "approx_d2", "rnk")
      .as[(Long, Double, Int)].collect().toSeq.sorted
    // A warm probe scans the persisted currency resolve.
    def warm() = probe().queryExecution.executedPlan.toString()
      .contains("InMemoryTableScan")
    val want = rows()
    assert(warm(), "warm PQ probe re-resolved currency")
    Similarity.pqStoreVacuum(spark, dir)
    assert(rows() == want)
    assert(warm(), "warm PQ probe after the vacuum re-resolved currency")
    val store = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$dir/rows")
    assert(store.count() == store.select("id").distinct().count())
    assert(!store.select("id").as[Long].collect().contains(4L))
  }

  test("pqStoreCompactBatches folds micro-batches without changing " +
      "answers") {
    import graft.sources.Commits
    val dir = java.nio.file.Files
      .createTempDirectory("pq-compact").toString + "/store"
    Similarity.pqStoreBuild(pqPts, dir, m = 2, subDims = 2, codes = 2,
      iters = 2)
    // Three micro-appends (new ids), then a delete.
    (5 to 7).foreach { i =>
      Similarity.pqStoreAppend(
        Seq((i.toLong, Seq(10.0f + i, 10.0f, 10.0f, 10.0f)))
          .toDF("id", "vec"), dir): Unit
    }
    Similarity.pqStoreDelete(spark, dir, Seq(3L).toDF("id")): Unit
    val q = Seq((2L, Seq(0.1f, 0.0f, 0.0f, 0.1f))).toDF("id", "vec")
    def rows() = Similarity.pqStoreTopK(spark, dir, q, k = 7)
      .select("cid", "rnk").as[(Long, Int)].collect().toSeq.sorted
    val want = rows()
    assert(Commits.committed(spark, dir).size == 5)
    assert(Similarity.pqStoreCompactBatches(spark, dir, maxBatches = 2) == 4)
    assert(Commits.committed(spark, dir).size == 2)
    assert(rows() == want)
  }

  test("routed PQ store probe with nprobe = cells equals the unrouted " +
      "scan; nprobe = 1 scores only the query's own cell") {
    val dir = java.nio.file.Files
      .createTempDirectory("pq-routed").toString + "/store"
    Similarity.pqStoreBuild(pqPts, dir, m = 2, subDims = 2, codes = 2,
      iters = 2, cells = 2)
    val q = Seq((2L, Seq(0.1f, 0.0f, 0.0f, 0.1f)),
      (3L, Seq(10.0f, 10.1f, 9.9f, 10.0f))).toDF("id", "vec")
    val unrouted = Similarity.pqStoreTopK(spark, dir, q, k = 4)
      .collect().toSet
    val full = Similarity.pqStoreTopK(spark, dir, q, k = 4, nprobe = 2)
      .collect().toSet
    assert(full == unrouted, s"nprobe=cells must reduce to the full scan")
    // nprobe=1: each query scores only its own cell's residents — the
    // near query keeps its near-cluster neighbors (0 and 1 after the
    // coarse split seeded at ids 0/1), never the far cluster's.
    val one = Similarity.pqStoreTopK(spark, dir, q, k = 4, nprobe = 1)
      .select("qid", "cid").as[(Long, Long)].collect().toSet
    assert(one.nonEmpty && one.subsetOf(
      unrouted.map(r => (r.getLong(0), r.getLong(1)))),
      s"routed candidates $one must be a subset of the full scan's")
    // A store built WITHOUT cells refuses a routed probe loudly.
    val flat = java.nio.file.Files
      .createTempDirectory("pq-flat").toString + "/store"
    Similarity.pqStoreBuild(pqPts, flat, m = 2, subDims = 2, codes = 2,
      iters = 2)
    val e = intercept[RuntimeException] {
      Similarity.pqStoreTopK(spark, flat, q, k = 2, nprobe = 1).collect()
    }
    assert(e.getMessage.contains("coarse"))
  }

  test("pqStoreBuild trains on a deterministic sample yet encodes " +
      "every vector; an undersized sample fails loudly") {
    val dir = java.nio.file.Files
      .createTempDirectory("pq-sample").toString + "/store"
    val many = (0 until 60).map { i =>
      (i.toLong, Seq((i % 7).toFloat, (i % 5).toFloat,
        (i % 3).toFloat, (i % 11).toFloat))
    }.toDF("id", "vec")
    // Half-rate sample still trains a full 4-code book and every
    // vector is encoded and committed.
    assert(Similarity.pqStoreBuild(many, dir, m = 2, subDims = 2,
      codes = 4, iters = 2, trainPerMille = 500) == 60)
    assert(Similarity.pqStoreLiveIds(spark, dir).count() == 60)
    val q = Seq((0L, Seq(0.0f, 0.0f, 0.0f, 0.0f))).toDF("id", "vec")
    assert(Similarity.pqStoreTopK(spark, dir, q, k = 3).count() == 3)
    // A sample too small to seed the codebook must refuse the build
    // instead of persisting a degenerate codebook.
    val tiny = java.nio.file.Files
      .createTempDirectory("pq-tiny").toString + "/store"
    val e = intercept[IllegalArgumentException] {
      Similarity.pqStoreBuild(many, tiny, m = 2, subDims = 2,
        codes = 50, iters = 2, trainPerMille = 10)
    }
    assert(e.getMessage.contains("seed"))
  }

  test("PQ dimension gate fails loudly instead of encoding garbage") {
    val dir = java.nio.file.Files
      .createTempDirectory("pq-dims").toString + "/store"
    Similarity.pqStoreBuild(pqPts, dir, m = 2, subDims = 2, codes = 2,
      iters = 2)
    // A 3-dim vector against the 4-dim store: append must raise, not
    // null-pad into garbage codes.
    val bad = Seq((8L, Seq(1.0f, 2.0f, 3.0f))).toDF("id", "vec")
    val e = intercept[Throwable] {
      Similarity.pqStoreAppend(bad, dir)
    }
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: chain(x.getCause))
    assert(chain(e).exists(m =>
      m != null && m.contains("expected 4")), s"got $e")
    // Probe side guards the query vectors the same way.
    val e2 = intercept[Throwable] {
      Similarity.pqStoreTopK(spark, dir,
        Seq((0L, Seq(1.0f, 2.0f, 3.0f))).toDF("id", "vec"), k = 2)
        .collect()
    }
    assert(chain(e2).exists(m => m != null && m.contains("expected 4")))
  }

  test("pqStoreReroute grows the coarse routing from code " +
      "reconstructions; ADC answers unchanged; crashed swap repaired") {
    import org.apache.hadoop.fs.Path
    import graft.sources.Commits
    val dir = java.nio.file.Files
      .createTempDirectory("pq-reroute").toString + "/store"
    // UNROUTED build + a takedown: the reroute is also the upgrade
    // path to a routed store, and must fold tombstones away.
    Similarity.pqStoreBuild(pqPts, dir, m = 2, subDims = 2, codes = 2,
      iters = 2)
    Similarity.pqStoreDelete(spark, dir, Seq(3L).toDF("id")): Unit
    val q = Seq((2L, Seq(0.1f, 0.0f, 0.0f, 0.1f))).toDF("id", "vec")
    def rows(nprobe: Int) =
      Similarity.pqStoreTopK(spark, dir, q, k = 5, nprobe = nprobe)
        .select("cid", "approx_d2", "rnk")
        .as[(Long, Double, Int)].collect().toSeq.sorted
    val want = rows(0)
    intercept[RuntimeException] { rows(1) }  // unrouted: no coarse yet
    val built = Commits.committed(spark, dir)
    Similarity.pqStoreReroute(spark, dir, cells = 2)
    // Routing only prunes, never perturbs: the unrouted scan is
    // IDENTICAL post-reroute, and probing every cell reduces to it.
    assert(rows(0) == want, "reroute changed ADC answers")
    assert(rows(2) == want, "nprobe=cells must reduce to the full scan")
    val rerouted = Commits.committed(spark, dir)
    assert(rerouted.size == 1 && rerouted.head > built.max,
      "reroute must land as one batch above every id committed before")
    assert(!spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$dir/rows").select("id")
      .as[Long].collect().contains(3L), "reroute carried a tombstone")
    // Two crash points of a SECOND reroute, to one cell (every query
    // then routes to it, so nprobe = 1 equals the full scan). Its
    // generation is taken from a real reroute of a copy of the store.
    val routed = rows(1)
    assert(routed != want, "two cells must prune the nprobe = 1 probe")
    val fs = new Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val conf = spark.sparkContext.hadoopConfiguration
    val copy = java.nio.file.Files
      .createTempDirectory("pq-reroute-copy").toString + "/store"
    org.apache.hadoop.fs.FileUtil.copy(fs, new Path(dir), fs,
      new Path(copy), false, conf)
    Similarity.pqStoreReroute(spark, copy, cells = 1)
    val next = Commits.committed(spark, copy).max
    val written = Seq(s"rows/b$next", s"coarse/b$next")
    // Crash after the rows and the coarse are written, before the
    // commit: probes answer as before the reroute...
    Commits.recordAttempt(spark, dir, next)
    written.foreach(d => org.apache.hadoop.fs.FileUtil.copy(fs,
      new Path(s"$copy/$d"), fs, new Path(s"$dir/$d"), false, conf))
    assert(rows(0) == want && rows(1) == routed,
      "an uncommitted reroute changed answers")
    // ...and the next pass sweeps both orphans.
    assert(Similarity.pqStoreVacuumIncremental(spark, dir) == 0)
    assert(written.forall(d => !fs.exists(new Path(s"$dir/$d"))),
      "the crashed reroute's rows or coarse survived the sweep")
    assert(rows(0) == want && rows(1) == routed)
    // Crash after the commit, before the reclaim: probes answer as
    // after the reroute.
    written.foreach(d => org.apache.hadoop.fs.FileUtil.copy(fs,
      new Path(s"$copy/$d"), fs, new Path(s"$dir/$d"), false, conf))
    Commits.commit(spark, dir, next)
    assert(Commits.committed(spark, dir).sorted == rerouted :+ next)
    assert(rows(0) == want, "reroute changed ADC answers")
    assert(rows(1) == want, "committed reroute did not route to one cell")
  }

  test("a reroute crashed inside its reclaim revives no deleted id") {
    import org.apache.hadoop.fs.Path
    import graft.sources.Commits
    val dir = java.nio.file.Files
      .createTempDirectory("pq-reroute-reclaim").toString + "/store"
    // The build holds every id's live row; each delete then commits its
    // own tombstone generation above it.
    Similarity.pqStoreBuild(pqPts, dir, m = 2, subDims = 2, codes = 2,
      iters = 2)
    Seq(1L, 3L, 4L).foreach(i =>
      Similarity.pqStoreDelete(spark, dir, Seq(i).toDF("id")): Unit)
    val q = Seq((9L, Seq(0.1f, 0.0f, 0.0f, 0.1f))).toDF("id", "vec")
    def rows() = Similarity.pqStoreTopK(spark, dir, q, k = 5, nprobe = 0)
      .select("cid", "approx_d2").as[(Long, Double)].collect().toSeq.sorted
    val want = rows()
    assert(want.map(_._1) == Seq(0L, 2L))
    // Crash the reclaim at the build's marker, made a non-empty
    // directory so its uncommit fails. Oldest first, that is the
    // reclaim's first step: every tombstone stays committed above its
    // id's live row, and the rerouted generation answers the rest.
    val fs = new Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = Commits.committed(spark, dir)
    val built = new Path(s"$dir/_commits/b${old.min}")
    fs.delete(built, false)
    fs.mkdirs(new Path(built, "x"))
    val e = intercept[java.io.IOException] {
      Similarity.pqStoreReroute(spark, dir, cells = 2)
    }
    assert(e.getMessage.contains("not empty"), e.getMessage)
    assert(rows() == want, "a crashed reclaim revived a deleted id")
    val next = Commits.committed(spark, dir)
    assert(next.max > old.max && next.size == old.size + 1)
    // Once the marker is removable, the next pass folds the leftovers.
    fs.delete(built, true)
    fs.create(built).close()
    assert(Similarity.pqStoreVacuumIncremental(spark, dir) == old.size)
    assert(Commits.committed(spark, dir) == Seq(next.max))
    assert(rows() == want)
  }

  test("a pass that reclaims the rerouted batch carries its coarse " +
      "forward; routed answers unchanged") {
    import graft.sources.Commits
    val dir = java.nio.file.Files
      .createTempDirectory("pq-carry").toString + "/store"
    Similarity.pqStoreBuild(pqPts, dir, m = 2, subDims = 2, codes = 2,
      iters = 2)
    Similarity.pqStoreReroute(spark, dir, cells = 2)
    val rerouted = Commits.committed(spark, dir)
    // Re-embed EVERY id: the reroute's batch holds no live row, so the
    // incremental pass rewrites zero rows and must still commit.
    Similarity.pqStoreAppend(pqPts.withColumn("vec",
      transform(col("vec"), x => x * lit(1.01f))), dir)
    val q = Seq((2L, Seq(0.1f, 0.0f, 0.0f, 0.1f)),
      (3L, Seq(10.0f, 10.1f, 9.9f, 10.0f))).toDF("id", "vec")
    def rows(nprobe: Int) =
      Similarity.pqStoreTopK(spark, dir, q, k = 4, nprobe = nprobe)
        .collect().map(_.toString).toSeq.sorted
    val want = Seq(1, 2).map(rows)
    def coarseAtNewest(): Unit = {
      val committed = Commits.committed(spark, dir)
      assert(Similarity.PqStore.carriedDir(spark, dir, committed, "coarse")
        .map(_._1).contains(committed.max),
        "the coarse did not move into the pass's generation")
    }
    assert(Similarity.pqStoreVacuumIncremental(spark, dir) == 1)
    assert(Commits.committed(spark, dir).forall(!rerouted.contains(_)))
    coarseAtNewest()
    assert(Seq(1, 2).map(rows) == want, "incremental pass lost the coarse")
    assert(Similarity.pqStoreCompactBatches(spark, dir, maxBatches = 1) == 2)
    coarseAtNewest()
    assert(Seq(1, 2).map(rows) == want, "compaction lost the coarse")
  }

  test("pqStoreStats reports live/superseded/tombstone shape") {
    val dir = java.nio.file.Files
      .createTempDirectory("pq-stats").toString + "/store"
    Similarity.pqStoreBuild(pqPts, dir, m = 2, subDims = 2, codes = 2,
      iters = 2)                                                     // b0
    Similarity.pqStoreAppend(
      Seq((1L, Seq(0.1f, 0.0f, 0.0f, 0.1f))).toDF("id", "vec"), dir) // b1
    Similarity.pqStoreDelete(spark, dir, Seq(4L).toDF("id")): Unit   // b2
    val got = Similarity.pqStoreStats(spark, dir)
      .as[(Int, Long, Long, Long, Long, Boolean, Long)].collect().head
    // 3 batches; ids 0-3 live (1 re-embedded), 4 tombstoned; dead
    // tail = id 1's and id 4's superseded build rows; unrouted store
    // has exactly one (sentinel) cell; 4 live rows per cell is far
    // under the default threshold, so no reroute advised.
    assert(got == ((3, 4L, 1L, 2L, 1L, false, 0L)), s"got $got")
    // A cell-routed store reports its occupied coarse cells.
    val routed = java.nio.file.Files
      .createTempDirectory("pq-stats-r").toString + "/store"
    Similarity.pqStoreBuild(pqPts, routed, m = 2, subDims = 2, codes = 2,
      iters = 2, cells = 2)
    val cells = Similarity.pqStoreStats(spark, routed)
      .select("occupied_cells").as[Long].collect().head
    assert(cells == 2L, s"two tight clusters must occupy 2 cells: $cells")
    // REROUTE ADVISORY flips exactly at the threshold: the unrouted
    // store holds 4 live rows in its one sentinel cell — at
    // maxRowsPerCell = 4 (live == threshold × cells) nothing is
    // advised; at 3 (live > threshold × cells) the advisory flips and
    // targets ceil(4 / (3 × 0.5)) = 3 cells, sized for 2× headroom so
    // the next ingest wave does not immediately re-advise.
    def advice(thr: Long) = Similarity
      .pqStoreStats(spark, dir, maxRowsPerCell = thr)
      .select("reroute_advised", "advised_cells")
      .as[(Boolean, Long)].collect().head
    assert(advice(4L) == ((false, 0L)), s"at threshold: ${advice(4L)}")
    assert(advice(3L) == ((true, 3L)), s"over threshold: ${advice(3L)}")
    // Routed store: 5 live rows over 2 cells — flips only when
    // live > threshold × 2.
    def adviceR(thr: Long) = Similarity
      .pqStoreStats(spark, routed, maxRowsPerCell = thr)
      .select("reroute_advised").as[Boolean].collect().head
    assert(adviceR(3L) === false, "5 <= 3x2 must not advise")
    assert(adviceR(2L) === true, "5 > 2x2 must advise")
  }

  test("pqStoreRerankTopK: store candidates, exact final order") {
    val dir = java.nio.file.Files
      .createTempDirectory("pq-rerank").toString + "/store"
    Similarity.pqStoreBuild(pqPts, dir, m = 2, subDims = 2, codes = 2,
      iters = 2)
    val q = Seq((2L, Seq(0.1f, 0.0f, 0.0f, 0.1f))).toDF("id", "vec")
    val got = Similarity.pqStoreRerankTopK(spark, dir, q, pqPts,
        kCand = 4, k = 3)
      .select("cid", "d2", "rnk").as[(Long, Double, Int)]
      .collect().toSeq.sortBy(_._3)
    // Exact d2 from id 2: id 0 at 0.02, id 4 at ~198, id 1/3 ~392 —
    // rerank must order by TRUE distance (ADC ties 0 and the
    // re-embedded ids; exact never does).
    assert(got.map(_._1) == Seq(0L, 4L, 1L), s"got $got")
    assert(got.head._2 == 0.02, s"exact d2 expected, got ${got.head}")
    // Routed candidate nomination with nprobe = cells reduces exactly
    // to the unrouted rerank — the routing only prunes, the exact
    // rerank never changes.
    val routedDir = java.nio.file.Files
      .createTempDirectory("pq-rerank-r").toString + "/store"
    Similarity.pqStoreBuild(pqPts, routedDir, m = 2, subDims = 2,
      codes = 2, iters = 2, cells = 2)
    assert(
      Similarity.pqStoreRerankTopK(spark, routedDir, q, pqPts,
        kCand = 4, k = 3, nprobe = 2).collect().toSet ==
      Similarity.pqStoreRerankTopK(spark, routedDir, q, pqPts,
        kCand = 4, k = 3).collect().toSet)
    // vecs-side hygiene: duplicate ids must not occupy multiple ranks
    // (the candidate join would emit one row per copy) ...
    val dedup = Similarity.pqStoreRerankTopK(spark, dir, q,
        pqPts.unionByName(pqPts), kCand = 4, k = 3)
      .select("cid", "rnk").as[(Long, Int)].collect().toSeq.sortBy(_._2)
    assert(dedup.map(_._1) == Seq(0L, 4L, 1L),
      s"duplicate vecs ids corrupted the rank list: $dedup")
    // ... and a wrong-dims candidate vector raises instead of zipping
    // to a NULL d2 that ASC NULLS FIRST would silently rank FIRST.
    val badVecs = pqPts.filter(col("id") =!= 1L)
      .unionByName(Seq((1L, Seq(1.0f, 2.0f, 3.0f))).toDF("id", "vec"))
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: chain(x.getCause))
    val e = intercept[Throwable] {
      Similarity.pqStoreRerankTopK(spark, dir, q, badVecs,
        kCand = 4, k = 3).collect()
    }
    assert(chain(e).exists(m =>
      m != null && m.contains("pqStoreRerankTopK")), s"got $e")
  }

  test("centroidOutliers: farthest members per group, exact centroid") {
    // Group 0 centered at (1,1) with one far point; group 1 tight.
    val pts = Seq(
      (0L, Seq(0.0f, 0.0f), 0), (1L, Seq(2.0f, 2.0f), 0),
      (2L, Seq(1.0f, 1.0f), 0), (3L, Seq(9.0f, 1.0f), 0),
      (10L, Seq(5.0f, 5.0f), 1), (11L, Seq(5.0f, 5.2f), 1))
      .toDF("id", "vec", "label")
    val got = Similarity.centroidOutliers(pts, "label", topK = 2)
      .select("grp", "id", "rnk").as[(Long, Long, Int)].collect().toSet
    // Group 0 centroid = (3, 1): farthest are id 3 (d2=36) then id 0
    // (d2=10); ties elsewhere. Group 1 centroid (5, 5.1): both at
    // d2=0.01, tie broken by id.
    assert(got == Set((0L, 3L, 1), (0L, 0L, 2), (1L, 10L, 1), (1L, 11L, 2)))
    // Exactness: repartitioning must not change a single value.
    val a = Similarity.centroidOutliers(pts, "label", topK = 2)
      .orderBy("grp", "rnk").collect().toSeq
    val b = Similarity.centroidOutliers(pts.repartition(5), "label", topK = 2)
      .orderBy("grp", "rnk").collect().toSeq
    assert(a == b)
  }

  test("centroidOutliers rejects group keys beyond the driver bound") {
    // A doc-level key (every row its own group) must fail the
    // maxGroups pre-check instead of collecting group-by-dims state.
    val pts = (0 until 100)
      .map(i => (i.toLong, Seq(i.toFloat, 1.0f), i))
      .toDF("id", "vec", "label")
    val e = intercept[IllegalArgumentException] {
      Similarity.centroidOutliers(pts, "label", topK = 1, maxGroups = 10)
    }
    assert(e.getMessage.contains("maxGroups"))
  }

  test("partitioned ANN layout: pruned probe matches the standing store") {
    val dir = java.nio.file.Files.createTempDirectory("ann-part")
      .toString + "/idx"
    val part = java.nio.file.Files.createTempDirectory("ann-part-p")
      .toString + "/part"
    val vecs = (0 until 40).map { i =>
      (i.toLong, Seq(math.cos(i * 0.37).toFloat, math.sin(i * 0.59).toFloat,
        ((i % 9) - 4).toFloat / 4f))
    }.toDF("id", "vec")
    Similarity.annStoreAppend(vecs, dir, planes = 4, dims = 3)
    Similarity.annStorePartition(spark, dir, part)
    val queries = vecs.filter(col("id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "cid", "score", "rnk")
        .as[(Long, Long, Double, Int)].collect().toSeq.sorted
    val fromStore = rows(Similarity.annStoreTopK(spark, dir, queries,
      planes = 4, dims = 3, k = 3))
    val probed = Similarity.annStorePartitionedTopK(spark, part, queries,
      planes = 4, dims = 3, k = 3)
    assert(rows(probed) == fromStore)
    // The layout's point: the scan must carry a dynamic partition
    // pruning filter fed by the broadcast query buckets. Audit the
    // static plan (AQE wraps the executed plan in a placeholder until
    // runtime), with the queries read from parquet — over a local
    // in-memory relation the selective filter constant-folds away and
    // Spark rightly skips DPP (nothing to prune a scan against).
    val qPath = java.nio.file.Files.createTempDirectory("ann-part-q")
      .toString + "/q"
    vecs.filter(col("id") < 5).write.parquet(qPath)
    val old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = Similarity.annStorePartitionedTopK(spark, part,
        spark.read.parquet(qPath).filter(col("id") < 5),
        planes = 4, dims = 3, k = 3).queryExecution.executedPlan.toString
      assert(plan.contains("dynamicpruning"),
        s"no dynamic partition pruning in:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", old)
    // Layout: the bucket-aligned pre-shuffle means each bucket dir
    // holds ONE data file, not one per writing task.
    for (d <- new java.io.File(part).listFiles()
        if d.isDirectory && d.getName.startsWith("bucket=")) {
      val n = d.listFiles().count(_.getName.endsWith(".parquet"))
      assert(n == 1, s"${d.getName}: expected 1 data file, got $n")
    }
    // Rebuild after a delete: the tombstoned id leaves the layout, and
    // the staleness marker flips across the mutation.
    assert(graft.sources.Commits.snapshotFresh(spark, part, dir))
    Similarity.annStoreDelete(spark, dir, Seq(3L).toDF("id"))
    assert(!graft.sources.Commits.snapshotFresh(spark, part, dir))
    Similarity.annStorePartition(spark, dir, part)
    assert(graft.sources.Commits.snapshotFresh(spark, part, dir))
    val after = rows(Similarity.annStorePartitionedTopK(spark, part,
      queries, planes = 4, dims = 3, k = 3))
    assert(after == rows(Similarity.annStoreTopK(spark, dir, queries,
      planes = 4, dims = 3, k = 3)))
    assert(!after.exists(_._2 == 3L))
  }

  /** The files a frame's plan scans, read below any persisted view it
    * reuses (`Dataset.inputFiles` stops at a cached relation). */
  private def scannedFiles(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.inputFiles.toSeq
          case _ => Nil
        }
    }.flatten.distinct

  test("annStoreTopKAuto routes by snapshot freshness, not caller choice") {
    val dir = java.nio.file.Files.createTempDirectory("ann-auto")
      .toString + "/idx"
    val part = java.nio.file.Files.createTempDirectory("ann-auto-p")
      .toString + "/part"
    val vecs = (0 until 40).map { i =>
      (i.toLong, Seq(math.cos(i * 0.37).toFloat, math.sin(i * 0.59).toFloat,
        ((i % 9) - 4).toFloat / 4f))
    }.toDF("id", "vec")
    Similarity.annStoreAppend(vecs, dir, planes = 4, dims = 3)
    Similarity.annStorePartition(spark, dir, part)
    val queries = vecs.filter(col("id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "cid", "score", "rnk")
        .as[(Long, Long, Double, Int)].collect().toSeq.sorted
    // Fresh snapshot -> the auto probe must READ the partitioned
    // layout (the scanned files, not a plan string).
    val auto1 = Similarity.annStoreTopKAuto(spark, dir, queries,
      planes = 4, dims = 3, k = 3, partDir = Some(part))
    assert(scannedFiles(auto1).nonEmpty &&
      scannedFiles(auto1).forall(_.contains("/part")),
      s"expected all reads under $part, got ${scannedFiles(auto1).toSeq}")
    assert(rows(auto1) == rows(Similarity.annStoreTopK(spark, dir, queries,
      planes = 4, dims = 3, k = 3)))
    // Mutation staled the snapshot -> the auto probe must fall back to
    // the always-fresh generational store and see the takedown NOW,
    // not at next partition rebuild.
    Similarity.annStoreDelete(spark, dir, Seq(3L).toDF("id"))
    val auto2 = Similarity.annStoreTopKAuto(spark, dir, queries,
      planes = 4, dims = 3, k = 3, partDir = Some(part))
    assert(scannedFiles(auto2).nonEmpty &&
      scannedFiles(auto2).forall(_.contains("/idx")),
      s"expected all reads under $dir, got ${scannedFiles(auto2).toSeq}")
    val got = rows(auto2)
    assert(!got.exists(_._2 == 3L))
    assert(got == rows(Similarity.annStoreTopK(spark, dir, queries,
      planes = 4, dims = 3, k = 3)))
    // No partDir at all -> plain store probe, same results.
    assert(rows(Similarity.annStoreTopKAuto(spark, dir, queries,
      planes = 4, dims = 3, k = 3)) == got)
  }

  test("annStoreTopKAuto under append+repartition churn: the documented " +
      "caller retry converges") {
    val dir = java.nio.file.Files.createTempDirectory("ann-churn")
      .toString + "/idx"
    val part = java.nio.file.Files.createTempDirectory("ann-churn-p")
      .toString + "/part"
    val vecs = (0 until 40).map { i =>
      (i.toLong, Seq(math.cos(i * 0.37).toFloat, math.sin(i * 0.59).toFloat,
        ((i % 9) - 4).toFloat / 4f))
    }.toDF("id", "vec")
    Similarity.annStoreAppend(vecs, dir, planes = 4, dims = 3)
    Similarity.annStorePartition(spark, dir, part)
    val queries = vecs.filter(col("id") < 3)
    // A writer thread churns the store the way maintenance does: append
    // a batch, refresh the partitioned layout, repeat — every refresh
    // opens the snapshot-vs-dir races the auto probe documents.
    @volatile var churnErr: Option[Throwable] = None
    val churner = new Thread(() => try {
      for (i <- 0 until 5) {
        Similarity.annStoreAppend(
          Seq((100L + i, Seq(math.cos(i * 1.1).toFloat,
            math.sin(i * 0.9).toFloat, 0.1f * i))).toDF("id", "vec"),
          dir, planes = 4, dims = 3)
        Similarity.annStorePartition(spark, dir, part)
      }
    } catch { case t: Throwable => churnErr = Some(t) })
    // The probe side follows the method's contract verbatim: an
    // action-time failure mid-refresh is the caller's to retry, and the
    // retry re-routes through the snapshot check. Bounded retries must
    // converge on every probe.
    def probeOnce(): Set[(Long, Long)] = {
      var attempt = 0
      while (true) {
        try return Similarity.annStoreTopKAuto(spark, dir, queries,
          planes = 4, dims = 3, k = 3, partDir = Some(part))
          .select("qid", "cid").as[(Long, Long)].collect().toSet
        catch { case e: Exception =>
          attempt += 1
          if (attempt >= 5) throw e
        }
      }
      Set.empty
    }
    churner.start()
    var n = 0
    while (churner.isAlive && n < 200) { probeOnce(); n += 1 }
    churner.join()
    assert(churnErr.isEmpty, s"churn thread failed: $churnErr")
    assert(n > 0, "no probe overlapped the churn window")
    // Settled: the auto probe answers exactly the generational truth.
    assert(probeOnce() == Similarity.annStoreTopK(spark, dir, queries,
      planes = 4, dims = 3, k = 3)
      .select("qid", "cid").as[(Long, Long)].collect().toSet)
  }

  test("annStoreTopKAuto falls back when the partitioned layout " +
      "vanishes right after the snapshot check") {
    val dir = java.nio.file.Files.createTempDirectory("ann-vanish")
      .toString + "/idx"
    val part = java.nio.file.Files.createTempDirectory("ann-vanish-p")
      .toString + "/part"
    val vecs = (0 until 20).map { i =>
      (i.toLong, Seq(math.cos(i * 0.7).toFloat, math.sin(i * 1.3).toFloat,
        ((i % 5) - 2).toFloat / 2f))
    }.toDF("id", "vec")
    Similarity.annStoreAppend(vecs, dir, planes = 4, dims = 3)
    Similarity.annStorePartition(spark, dir, part)
    // Seen through `vanish://`, the layout is deleted the moment its
    // `_snapshot` marker is opened: the snapshot check passes, then the
    // partitioned read finds the dir gone, as under a refresh.
    spark.sparkContext.hadoopConfiguration.set("fs.vanish.impl",
      classOf[VanishOnSnapshotFs].getName)
    spark.sparkContext.hadoopConfiguration
      .setBoolean("fs.vanish.impl.disable.cache", true)
    val queries = vecs.filter(col("id") < 3)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "cid", "score", "rnk")
        .as[(Long, Long, Double, Int)].collect().toSeq.sorted
    val auto = Similarity.annStoreTopKAuto(spark, dir, queries,
      planes = 4, dims = 3, k = 3, partDir = Some(s"vanish://$part"))
    assert(!new java.io.File(part).exists)
    assert(scannedFiles(auto).nonEmpty &&
      scannedFiles(auto).forall(_.contains("/idx")),
      s"expected all reads under $dir, got ${scannedFiles(auto).toSeq}")
    assert(rows(auto) == rows(Similarity.annStoreTopK(spark, dir, queries,
      planes = 4, dims = 3, k = 3)))
  }

  test("annStoreTopKAuto surfaces genuine layout drift instead of " +
      "silently routing generational") {
    val dir = java.nio.file.Files.createTempDirectory("ann-drift")
      .toString + "/idx"
    val part = java.nio.file.Files.createTempDirectory("ann-drift-p")
      .toString + "/part"
    val vecs = (0 until 20).map { i =>
      (i.toLong, Seq(math.cos(i * 0.7).toFloat, math.sin(i * 1.3).toFloat,
        ((i % 5) - 2).toFloat / 2f))
    }.toDF("id", "vec")
    Similarity.annStoreAppend(vecs, dir, planes = 4, dims = 3)
    Similarity.annStorePartition(spark, dir, part)
    // Corrupt the layout while the snapshot marker stays FRESH: drop
    // every bucket partition and append one with a schema missing the
    // quantized vector — the shape of real drift, not a vanished dir.
    val fs = new org.apache.hadoop.fs.Path(part)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(new org.apache.hadoop.fs.Path(part))
      .filter(_.getPath.getName.startsWith("bucket="))
      .foreach(s => fs.delete(s.getPath, true))
    Seq((1L, 7)).toDF("id", "bucket")
      .write.mode("append").partitionBy("bucket").parquet(part)
    assert(graft.sources.Commits.snapshotFresh(spark, part, dir))
    // The probe must fail loudly (after its one completed-refresh
    // retry) — a silent generational fallback here would mask a broken
    // layout forever behind a misleading staleness warning.
    intercept[org.apache.spark.sql.AnalysisException] {
      Similarity.annStoreTopKAuto(spark, dir, vecs.filter(col("id") < 3),
        planes = 4, dims = 3, k = 3, partDir = Some(part)).collect()
    }
  }

  test("annStoreStats reports live/superseded/tombstone shape") {
    val dir = java.nio.file.Files.createTempDirectory("ann-stats")
      .toString + "/idx"
    val vecs = (0 until 20).map { i =>
      (i.toLong, Seq(math.cos(i * 0.7).toFloat, math.sin(i * 1.3).toFloat))
    }.toDF("id", "vec")
    Similarity.annStoreAppend(vecs, dir, planes = 4, dims = 2)      // b0
    Similarity.annStoreDelete(spark, dir, Seq(7L).toDF("id"))       // b1
    Similarity.annStoreAppend(                                      // b2
      Seq((3L, Seq(0.5f, -0.5f))).toDF("id", "vec"), dir, 4, 2)
    val s = Similarity.annStoreStats(spark, dir).collect().head
    assert(s.getAs[Int]("committed_batches") == 3)
    assert(s.getAs[Long]("live_ids") == 19L)
    assert(s.getAs[Long]("tombstoned_ids") == 1L)
    assert(s.getAs[Long]("superseded_rows") == 2L) // old rows of 7 and 3
    assert(s.getAs[Long]("occupied_buckets") >= 1L)
    Similarity.annStoreVacuum(spark, dir)
    val v = Similarity.annStoreStats(spark, dir).collect().head
    assert(v.getAs[Int]("committed_batches") == 1)
    assert(v.getAs[Long]("live_ids") == 19L)
    assert(v.getAs[Long]("tombstoned_ids") == 0L)
    assert(v.getAs[Long]("superseded_rows") == 0L)
  }

  test("a full ANN vacuum never revives a set a partitioned snapshot " +
      "recorded; the auto probe answers as the store") {
    import graft.sources.Commits
    val root = java.nio.file.Files.createTempDirectory("ann-alias").toString
    val (dir, part) = (s"$root/idx", s"$root/part")
    val vecs = (0 until 8).map { i =>
      (i.toLong, Seq(math.cos(i * 0.7).toFloat, math.sin(i * 1.3).toFloat))
    }
    Similarity.annStoreAppend(vecs.toDF("id", "vec"), dir, 4, 2)
    Similarity.annStorePartition(spark, dir, part)
    assert(Commits.snapshotFresh(spark, part, dir))
    // Id 50 is a scaled copy of id 4: same bucket, same cosine.
    val v4 = vecs(4)._2
    Similarity.annStoreAppend(Seq((50L, v4.map(_ * 1.5f))).toDF("id", "vec"),
      dir, 4, 2)
    Similarity.annStoreVacuum(spark, dir)
    assert(!Commits.snapshotFresh(spark, part, dir),
      "the vacuum revived the committed set the snapshot recorded")
    val q = Seq((999L, v4.map(_ * 2.0f))).toDF("id", "vec")
    def got(df: DataFrame) = df.select("cid", "score", "rnk")
      .as[(Long, Double, Int)].collect().toSeq.sorted
    val store = got(Similarity.annStoreTopK(spark, dir, q, 4, 2, k = 3))
    assert(store.map(_._1).contains(50L))
    assert(got(Similarity.annStoreTopKAuto(spark, dir, q, 4, 2, k = 3,
      partDir = Some(part))) == store)
  }

  test("incremental ANN vacuum reclaims dirty batches, carries " +
      "tombstones, and converges across the crash window") {
    import org.apache.hadoop.fs.Path
    import graft.sources.Commits
    val dir = java.nio.file.Files.createTempDirectory("ann-ivac")
      .toString + "/idx"
    val vecs = (0 until 20).map { i =>
      (i.toLong, Seq(math.cos(i * 0.7).toFloat, math.sin(i * 1.3).toFloat))
    }.toDF("id", "vec")
    Similarity.annStoreAppend(vecs, dir, planes = 4, dims = 2)   // b0
    // Re-embed ids 0-4 (b1 supersedes their b0 rows), delete id 7 (b2).
    val reemb = vecs.filter(col("id") < 5)
      .withColumn("vec", transform(col("vec"), x => x * lit(0.5f)))
    Similarity.annStoreAppend(reemb, dir, planes = 4, dims = 2)  // b1
    Similarity.annStoreDelete(spark, dir, Seq(7L).toDF("id"))    // b2
    val queries = vecs.filter(col("id") < 3)
    def rows() = Similarity.annStoreTopK(spark, dir, queries,
      planes = 4, dims = 2, k = 3)
      .select("qid", "cid", "score", "rnk")
      .as[(Long, Long, Double, Int)].collect().toSeq.sorted
    val want = rows()
    // b0 is 6/20 dead, under the threshold: id 7's tombstone in b2 is
    // live while its b0 row survives in an unselected batch, so the
    // pass selects nothing (rewriting b2 would only copy the tombstone).
    assert(Similarity.annStoreVacuumIncremental(spark, dir,
      minDeadFraction = 0.5) == 0)
    assert(rows() == want, "carried ANN tombstone stopped suppressing")
    // Crash window: rewrite committed, reclaimed markers still there.
    val committed = Commits.committed(spark, dir)
    Similarity.AnnStore.rewriteAndCommit(spark, dir, committed,
      Seq(0L))
    assert(rows() == want,
      "duplicate generations across the crash window changed answers")
    // Full-threshold pass converges: only live current rows remain,
    // id 7 is physically gone, answers unchanged.
    assert(Similarity.annStoreVacuumIncremental(spark, dir) >= 1)
    assert(rows() == want)
    val store = spark.read.option("recursiveFileLookup", "true").parquet(dir)
    assert(store.count() == store.select("id").distinct().count())
    assert(!store.select("id").as[Long].collect().contains(7L))
    // Mutations keep working afterwards.
    assert(Similarity.annStoreAppend(
      Seq((99L, Seq(0.3f, 0.4f))).toDF("id", "vec"), dir, 4, 2) == 1L)
  }

  test("a warm ANN probe reads the persisted view across a vacuum") {
    val dir = java.nio.file.Files.createTempDirectory("ann-fresh")
      .toString + "/idx"
    val vecs = (0 until 30).map { i =>
      (i.toLong, Seq(math.cos(i * 0.7).toFloat, math.sin(i * 1.3).toFloat))
    }.toDF("id", "vec")
    Similarity.annStoreAppend(vecs, dir, planes = 4, dims = 2)
    Similarity.annStoreAppend(
      Seq((3L, Seq(0.5f, -0.5f))).toDF("id", "vec"), dir, 4, 2)
    val queries = vecs.filter(col("id") < 3)
    def probe() = Similarity.annStoreTopK(spark, dir, queries,
      planes = 4, dims = 2, k = 3)
    def plan() = probe().queryExecution.executedPlan.toString()
    // The currency resolve — the plain probe's fastest-growing term
    // across store decades — runs once per committed set: a warm probe
    // scans its persisted result, before and after a vacuum.
    val want = probe().select("qid", "cid", "score", "rnk")
      .as[(Long, Long, Double, Int)].collect().toSeq.sorted
    assert(plan().contains("InMemoryTableScan"),
      "warm probe re-resolved currency")
    Similarity.annStoreVacuum(spark, dir)
    probe().collect(): Unit
    assert(plan().contains("InMemoryTableScan"),
      "warm probe after the vacuum re-resolved currency")
    assert(probe().select("qid", "cid", "score", "rnk")
      .as[(Long, Long, Double, Int)].collect().toSeq.sorted == want)
  }

  test("backfill-sized append flips to the unscoped resolve and " +
      "converges identically") {
    import graft.sources.Commits
    // A batch just over the scoped-resolve floor against a store a
    // fraction of its size: scopeMutationResolve picks the store-wide
    // aggregate (batch * 4 >= store rows). The semantics must be
    // indistinguishable from the scoped path: unchanged vectors skip,
    // changed get a new generation, redelivery converges to zero, and
    // probes match a store built fresh at the final state.
    val dir = java.nio.file.Files.createTempDirectory("ann-backfill")
      .toString + "/idx"
    val nBatch = Commits.ScopedResolveFloor + 8   // 262152
    val nStore = 50000L
    def v0(id: org.apache.spark.sql.Column) = array(
      (id % 97).cast("float"), ((id * 17) % 89).cast("float"))
    // Initial store: ids [0, 50000) at generation v0.
    Similarity.annStoreAppend(
      spark.range(0, nStore).select(col("id"), v0(col("id")).as("vec")),
      dir, planes = 4, dims = 2)
    assert(!Commits.scopeMutationResolve(nBatch,
      Commits.committedRowCount(spark, dir, Commits.committed(spark, dir))),
      "test premise: this batch/store ratio must take the unscoped path")
    // Backfill: ids [0, 262152) — first 25k unchanged, the rest at a
    // new generation (re-embedded overlap + fresh tail).
    val backfill = spark.range(0, nBatch).select(col("id"),
      when(col("id") < 25000, v0(col("id")))
        .otherwise(array((col("id") % 97 + 1).cast("float"),
          ((col("id") * 17) % 89).cast("float"))).as("vec"))
    assert(Similarity.annStoreAppend(backfill, dir, 4, 2) == nBatch - 25000)
    // Redelivery of the whole backfill: everything unchanged now.
    assert(Similarity.annStoreAppend(backfill, dir, 4, 2) == 0L)
    // Probe parity with a store built fresh at the final state.
    val fresh = java.nio.file.Files.createTempDirectory("ann-backfill-f")
      .toString + "/idx"
    Similarity.annStoreAppend(backfill, fresh, 4, 2)
    val queries = backfill.filter(col("id").isin(3L, 30000L, 100000L))
    def rows(d: String) = Similarity.annStoreTopK(spark, d, queries,
      planes = 4, dims = 2, k = 5)
      .select("qid", "cid", "score", "rnk")
      .as[(Long, Long, Double, Int)].collect().toSeq.sorted
    assert(rows(dir) == rows(fresh),
      "backfilled store probes differently from a fresh build")
  }

  test("annStoreCompactBatches folds micro-batches without changing " +
      "answers") {
    import graft.sources.Commits
    val dir = java.nio.file.Files.createTempDirectory("ann-cpt")
      .toString + "/idx"
    val vecs = (0 until 20).map { i =>
      (i.toLong, Seq(math.cos(i * 0.7).toFloat, math.sin(i * 1.3).toFloat))
    }.toDF("id", "vec")
    Similarity.annStoreAppend(vecs, dir, planes = 4, dims = 2)   // b0 (big)
    (1 to 4).foreach { i =>
      Similarity.annStoreAppend(
        Seq((100L + i, Seq(0.1f * i, 0.2f * i))).toDF("id", "vec"),
        dir, planes = 4, dims = 2)
    }
    Similarity.annStoreDelete(spark, dir, Seq(7L).toDF("id"))
    assert(Commits.committed(spark, dir).size == 6)
    val queries = vecs.filter(col("id") < 3)
    def rows() = Similarity.annStoreTopK(spark, dir, queries,
      planes = 4, dims = 2, k = 3)
      .select("qid", "cid", "score", "rnk")
      .as[(Long, Long, Double, Int)].collect().toSeq.sorted
    val want = rows()
    assert(Similarity.annStoreCompactBatches(spark, dir,
      maxBatches = 2) == 5)
    assert(Commits.committed(spark, dir).size == 2)
    assert(rows() == want,
      "ANN compaction changed answers (or dropped a carried tombstone)")
    assert(Similarity.annStoreCompactBatches(spark, dir,
      maxBatches = 2) == 0)
  }

  test("ANN store writer lease: a concurrent second writer fails loudly") {
    import graft.sources.Commits
    val dir = java.nio.file.Files.createTempDirectory("ann-lock")
      .toString + "/idx"
    val vecs = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)))
      .toDF("id", "vec")
    assert(Similarity.annStoreAppend(vecs, dir, planes = 4, dims = 2) == 2L)
    Commits.acquireWriterLock(spark, dir)
    intercept[IllegalStateException] {
      Similarity.annStoreAppend(
        Seq((3L, Seq(1.0f, 1.0f))).toDF("id", "vec"), dir, 4, 2)
    }
    intercept[IllegalStateException] {
      Similarity.annStoreDelete(spark, dir, Seq(1L).toDF("id"))
    }
    intercept[IllegalStateException] {
      Similarity.annStorePartition(spark, dir,
        java.nio.file.Files.createTempDirectory("ann-lock-p").toString
          + "/part")
    }
    intercept[IllegalStateException] {
      Similarity.annStoreVacuumIncremental(spark, dir)
    }
    Commits.releaseWriterLock(spark, dir)
    assert(Similarity.annStoreAppend(
      Seq((3L, Seq(1.0f, 1.0f))).toDF("id", "vec"), dir, 4, 2) == 1L)
  }

  test("ANN mutation currency resolve semi-joins BELOW the aggregate") {
    // Same pin as SearchSpec's: the scoped resolve must aggregate only
    // the batch's overlap (semi-join under the per-id aggregate), not
    // the store's whole membership — the store-linear shape the 1000x
    // rehearsal caught.
    val dir = java.nio.file.Files.createTempDirectory("ann-scoped")
      .toString + "/idx"
    Similarity.annStoreAppend(
      Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)))
        .toDF("id", "vec"), dir, planes = 4, dims = 2)
    val committed = graft.sources.Commits.committed(spark, dir)
    val plan = Similarity.AnnStore.currency(spark, dir, committed,
      Seq(2L).toDF("id"), scoped = true)
      .get.queryExecution.executedPlan.toString()
    val aggAt = "(Hash|Sort|ObjectHash)Aggregate".r.findFirstMatchIn(plan)
      .map(_.start).getOrElse(-1)
    val semiAt = plan.indexOf("LeftSemi")
    assert(aggAt >= 0 && semiAt >= 0,
      s"resolve plan lost its aggregate or semi-join:\n$plan")
    assert(semiAt > aggAt,
      s"batch-id semi-join no longer under the aggregate:\n$plan")
  }
}

/** Local filesystem under the `vanish` scheme that deletes a dir as soon
  * as its `_snapshot` marker is opened (the open stream still reads).
  */
class VanishOnSnapshotFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("vanish:///")
  override def open(f: org.apache.hadoop.fs.Path,
      bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    val in = super.open(f, bufferSize)
    if (f.getName == "_snapshot") delete(f.getParent, true)
    in
  }
}
