package graft.queries

import graft.QueryDef.PresentOps
import graft.{BenchPhases, QueryDef, Tables}
import graft.functions.TextFunctions
import graft.operators.{Dedup, Search, Similarity, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** North-star LLM-pipeline operators (BASELINE.json): deduplication
  * (exact / MinHash+LSH / shingle-blocked Jaccard / SimHash), embedding
  * similarity search (brute-force + hyperplane LSH), and text analysis
  * (token stats, quality score, language-ID, winnowing fingerprints).
  *
  * Every query here has a FULL DuckDB oracle — the MinHash/SimHash/LSH
  * pipelines are deterministic (md5-derived seeded hashes), so even the
  * approximate algorithms are bit-reproducible in SQL.
  *
  * Near-dup queries run over `documents` plus derived near-duplicates
  * (first token replaced) / exact duplicates, guaranteeing the dedup
  * logic is actually exercised (the raw corpus has no dupes).
  */
object LlmQueries {

  /** Session-scoped root for the standing-store queries' scratch
    * stores. Each query reuses ONE fixed subdir per name — wiped
    * before reuse — so repeated bench/verify passes stop leaking a
    * full store copy to /tmp per execution, and the whole root goes
    * away on JVM exit.
    */
  private lazy val storeRoot: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory("graft-stores")
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRec(p.toFile)))
    p
  }

  private def deleteRec(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRec)
    f.delete(): Unit
  }

  private def storeDir(name: String): String = {
    val d = storeRoot.resolve(name)
    deleteRec(d.toFile)
    d.toString
  }

  /** Stable (un-wiped) path for `name`'s store: the bench probe phase
    * re-reads the store its build phase created.
    */
  private def storePath(name: String): String =
    storeRoot.resolve(name).toString

  private def embOf(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))

  // ---- build/probe phases of the standing-store lifecycle queries.
  // Each QueryDef below composes its build + probe (what Verify and the
  // correctness gate run); Bench additionally times them separately
  // through [[benchPhases]] so probes are measured warm.

  private def annUpsertBuild(s: SparkSession, d: String): Unit = {
    val emb = embOf(s, d)
    val dir = storeDir("ann-up") + "/idx"
    val stale = emb.withColumn("vec",
      when(col("id") % 5 === 0, transform(col("vec"), x => -x))
        .otherwise(col("vec")))
    Similarity.annStoreAppend(stale, dir, planes = 8, dims = 64)
    val updated = Similarity.annStoreAppend(emb, dir, planes = 8, dims = 64)
    val noop = Similarity.annStoreAppend(emb, dir, planes = 8, dims = 64)
    require(updated > 0 && noop == 0,
      s"ANN upsert semantics broken: updated=$updated redelivery=$noop")
  }

  private def annUpsertProbe(s: SparkSession, d: String): DataFrame =
    annProbe("ann-up")(s, d)

  private def pqStoreUpBuild(s: SparkSession, d: String): Unit = {
    val emb = embOf(s, d)
    val dir = storeDir("pq-up") + "/store"
    Similarity.pqStoreBuild(emb, dir, m = 4, subDims = 16, codes = 8,
      iters = 2)
    val re = emb.filter(col("id") % 7 === 0)
      .select(col("id"), transform(col("vec"), x => -x).as("vec"))
    val updated = Similarity.pqStoreAppend(re, dir)
    val noop = Similarity.pqStoreAppend(re, dir)
    require(updated > 0 && noop == 0,
      s"PQ upsert semantics broken: updated=$updated redelivery=$noop")
  }

  private def pqStoreUpProbe(s: SparkSession, d: String): DataFrame = {
    val emb = embOf(s, d)
    // Queries carry the CURRENT vectors (re-embedded ids negated).
    val queries = emb.filter(col("id") < 10)
      .select(col("id"),
        when(col("id") % 7 === 0, transform(col("vec"), x => -x))
          .otherwise(col("vec")).as("vec"))
    Similarity.pqStoreTopK(s, storePath("pq-up") + "/store", queries, k = 5)
      .presentSorted(col("qid"), col("rnk"))
  }

  private def pqTakedownBuild(s: SparkSession, d: String): Unit = {
    val emb = embOf(s, d)
    val dir = storeDir("pq-td") + "/store"
    Similarity.pqStoreBuild(emb, dir, m = 4, subDims = 16, codes = 8,
      iters = 2)
    val victims = emb.filter(col("id") % 5 === 0).select(col("id"))
    val n = Similarity.pqStoreDelete(s, dir, victims)
    val redo = Similarity.pqStoreDelete(s, dir, victims)
    require(n > 0 && redo == 0,
      s"PQ takedown semantics broken: deleted=$n redelivery=$redo")
    // Routine maintenance leaves the tombstone wave in place: the
    // victims' build-generation rows live in the unselected bulk batch,
    // so the tombstones are live and the probe must keep excluding them.
    require(Similarity.pqStoreVacuumIncremental(s, dir,
      minDeadFraction = 0.5) == 0, "the live tombstone wave was rewritten")
  }

  private def pqTakedownProbe(s: SparkSession, d: String): DataFrame = {
    val emb = embOf(s, d)
    // Queries carry their own vectors, so tombstoned ids may still ASK
    // — they just can't be FOUND (the oracle's encoding CTE excludes
    // them, so a probe that leaked a tombstoned id cannot pass).
    Similarity.pqStoreTopK(s, storePath("pq-td") + "/store",
        emb.filter(col("id") < 10), k = 5)
      .presentSorted(col("qid"), col("rnk"))
  }

  private def ivfPqStoreBuild(s: SparkSession, d: String): Unit = {
    val dir = storeDir("ivfpq-st") + "/store"
    Similarity.pqStoreBuild(embOf(s, d), dir, m = 4, subDims = 16,
      codes = 8, iters = 2, cells = 16): Unit
  }

  private def ivfPqStoreProbe(s: SparkSession, d: String): DataFrame = {
    val emb = embOf(s, d)
    Similarity.pqStoreTopK(s, storePath("ivfpq-st") + "/store",
        emb.filter(col("id") < 10), k = 5, nprobe = 2)
      .presentSorted(col("qid"), col("rnk"))
  }

  private def pqRerankBuild(s: SparkSession, d: String): Unit = {
    Similarity.pqStoreBuild(embOf(s, d), storeDir("pq-rr") + "/store",
      m = 4, subDims = 16, codes = 8, iters = 2): Unit
  }

  private def pqRerankProbe(s: SparkSession, d: String): DataFrame = {
    val emb = embOf(s, d)
    Similarity.pqStoreRerankTopK(s, storePath("pq-rr") + "/store",
        emb.filter(col("id") < 10), emb, kCand = 20, k = 5)
      .presentSorted(col("qid"), col("rnk"))
  }

  /** Standing-ANN-store probe against `name`'s store (single-bucket or
    * multi-probe) — the shared read side of the sim_ann_* splits.
    */
  private def annProbe(name: String, multiprobe: Boolean = false)(
      s: SparkSession, d: String): DataFrame = {
    val q = embOf(s, d).filter(col("id") < 10)
    val dir = storePath(name) + "/idx"
    val hits =
      if (multiprobe)
        Similarity.annStoreTopKProbed(s, dir, q, planes = 8, dims = 64, k = 3)
      else Similarity.annStoreTopK(s, dir, q, planes = 8, dims = 64, k = 3)
    hits.select(col("qid"), col("cid"), col("score"), col("rnk"))
      .presentSorted(col("qid"), col("rnk"))
  }

  private def annBuild(name: String)(s: SparkSession, d: String): Unit = {
    Similarity.annStoreAppend(embOf(s, d), storeDir(name) + "/idx",
      planes = 8, dims = 64): Unit
  }

  /** Build for sim_ann_auto_stale_reroute: store + partitioned layout
    * (snapshot FRESH), then a takedown tombstones every 7th id — the
    * snapshot goes stale while the partitioned layout still CONTAINS
    * the victims. The auto probe must notice and re-route to the
    * always-fresh generational store: a probe that kept reading the
    * layout would return tombstoned ids and fail the oracle, so the
    * correctness gate itself distinguishes the routes.
    */
  private def annAutoStaleBuild(s: SparkSession, d: String): Unit = {
    val dir = storeDir("ann-as") + "/idx"
    val part = storeDir("ann-as-p") + "/part"
    Similarity.annStoreAppend(embOf(s, d), dir, planes = 8, dims = 64)
    Similarity.annStorePartition(s, dir, part)
    require(graft.sources.Commits.snapshotFresh(s, part, dir),
      "partitioned ANN snapshot not fresh right after its build")
    val n = Similarity.annStoreDelete(s, dir,
      embOf(s, d).filter(col("id") % 7 === 0).select(col("id")))
    require(n > 0 && !graft.sources.Commits.snapshotFresh(s, part, dir),
      s"takedown must stale the snapshot: deleted=$n")
  }

  private def annAutoStaleProbe(s: SparkSession, d: String): DataFrame =
    Similarity.annStoreTopKAuto(s, storePath("ann-as") + "/idx",
      embOf(s, d).filter(col("id") < 10), planes = 8, dims = 64, k = 3,
      partDir = Some(storePath("ann-as-p") + "/part"))
      .select(col("qid"), col("cid"), col("score"), col("rnk"))
      .presentSorted(col("qid"), col("rnk"))

  private def idxBuild(name: String)(s: SparkSession, d: String): Unit =
    Search.buildIndex(Tables.documents(s, d), "doc_id", "text",
      storeDir(name) + "/index")

  private def bm25IdxProbe(name: String)(s: SparkSession, d: String): DataFrame =
    Search.bm25FromIndexTopK(s, storePath(name) + "/index",
      Seq("spark", "vector", "stream", "merge"), k = 10)

  private def rm3Probe(s: SparkSession, d: String): DataFrame =
    Search.rm3TopK(s, storePath("bm25-rm3") + "/index",
      Seq("spark", "vector", "stream", "merge"), k = 10)

  private def bm25DeleteBuild(s: SparkSession, d: String): Unit = {
    idxBuild("bm25-del")(s, d)
    val dir = storePath("bm25-del") + "/index"
    val victims = Tables.documents(s, d).filter(col("doc_id") % 11 === 0)
      .select(col("doc_id"))
    val deleted = Search.indexDelete(s, dir, victims)
    val again = Search.indexDelete(s, dir, victims)
    require(deleted > 0 && again == 0,
      s"delete semantics broken: deleted=$deleted redelivery=$again")
  }

  private def bm25VacuumBuild(s: SparkSession, d: String): Unit = {
    val dir = storeDir("bm25-vac") + "/index"
    val base = Tables.documents(s, d)
    val stale = base.withColumn("text",
      when(col("doc_id") % 7 === 0,
        concat(lit("stale draft spark spark vector "), col("text")))
        .otherwise(col("text")))
    Search.buildIndex(stale, "doc_id", "text", dir)
    Search.indexAppend(base, "doc_id", "text", dir): Unit
    Search.indexDelete(s, dir,
      base.filter(col("doc_id") % 11 === 0).select(col("doc_id"))): Unit
    // Threshold 0.5 keeps the big batches whose dead fraction is ~0.23,
    // so the tombstones stay live in place; the compaction then folds
    // the tombstone batch with the small upsert batch and CARRIES them
    // (deleted docs' older generations survive in the unselected build
    // batch and must stay suppressed) — the oracle hash-checks that
    // subtle half of the vacuum contract after the whole cadence.
    Search.indexVacuumIncremental(s, dir, minDeadFraction = 0.5): Unit
    Search.indexCompactBatches(s, dir, maxBatches = 2): Unit
  }

  /** Standing gram-frequency store (incremental substring dedup): the
    * build ingests the base corpus's per-gram counts; the probe screens
    * a mutant wave (16-token prefixes copied from stored docs + a fresh
    * tail) against the store — prefix spans must go, tails must stay.
    */
  private def gramStoreBuild(s: SparkSession, d: String): Unit =
    graft.operators.Corpus.gramIndexAppend(Tables.documents(s, d),
      "doc_id", "text", 8, storeDir("gramdf") + "/st"): Unit

  private def gramStoreProbe(s: SparkSession, d: String): DataFrame = {
    import graft.functions.TextFunctions
    val docs = Tables.documents(s, d)
    val batch = docs.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat(concat_ws(" ", slice(TextFunctions.tokens(col("text")), 1, 16)),
          lit(" fresh tail mutant "), col("doc_id")).as("text"))
    graft.operators.Corpus.exactSubstringDedupIncremental(
      batch, "doc_id", "text", 8, storePath("gramdf") + "/st")
      .select(col("doc_id"), col("n_tokens"), col("n_dup_grams"),
        col("n_removed"), md5(col("clean_text")).as("clean_md5"))
      .presentSorted(col("doc_id"))
  }

  /** Deterministic per-doc embedding for the gated fan-out fixture
    * (the documents table has no vector column; what matters here is
    * ANN membership, not geometry).
    */
  private def fanoutVec: org.apache.spark.sql.Column =
    transform(sequence(lit(0), lit(7)),
      i => ((col("doc_id") * (i + lit(3))) % 11).cast("float"))

  /** Build of pl_fanout_gated_roundtrip: two waves through
    * [[graft.streaming.Streams.fanoutIngestBatchGated]] — the whole
    * base corpus, then a mutant wave (16-token prefixes of stored docs
    * + fresh tails, spans must go) mixed with exact re-deliveries
    * (must no-op) — then the full second wave REDELIVERED, which must
    * converge to a complete no-op on all four stores.
    */
  private def fanoutGatedBuild(s: SparkSession, d: String): Unit = {
    import graft.functions.TextFunctions
    val root = storeDir("fanout-gated")
    val (st, ix, an, gr, pq, ck) = (s"$root/store", s"$root/index",
      s"$root/ann", s"$root/gram", s"$root/pq", s"$root/chunks")
    def gated(batch: org.apache.spark.sql.DataFrame, id: Long) =
      graft.streaming.Streams.fanoutIngestBatchGated(batch, id, st, ix,
        an, gr, "doc_id", "text", Some("vec"), planes = 8, dims = 8,
        pqDir = Some(pq), chunkDir = Some(ck),
        chunkVecDir = Some(s"$root/ckvec"),
        chunkVecTrainPerMille = PassageTrainPerMille)
    val wave1 = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), fanoutVec.as("vec"))
    val (g1, i1, a1, p1, c1, v1) = gated(wave1, 0L)
    require(g1 > 0 && g1 == i1 && g1 == a1 && g1 == p1 && g1 == c1 &&
      v1 >= c1,
      s"wave-1 fan-out diverged across stores: gate=$g1 idx=$i1 " +
        s"ann=$a1 pq=$p1 chunks=$c1 ckvec=$v1")
    val docs = Tables.documents(s, d)
    val wave2 = docs.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat(concat_ws(" ", slice(TextFunctions.tokens(col("text")), 1, 16)),
          lit(" fresh tail mutant "), col("doc_id")).as("text"))
      .unionByName(docs.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("text"), fanoutVec.as("vec"))
    gated(wave2, 1L)
    val again = gated(wave2, 1L)
    require(again == ((0L, 0L, 0L, 0L, 0L, 0L)),
      s"wave-2 redelivery must no-op on every store, got $again")
  }

  /** Probe of pl_fanout_gated_roundtrip: the gram store's committed
    * survivors (per-doc span stats + cleaned-text md5) CROSS-CHECKED
    * against the other three surfaces the same batches advanced —
    * merge-store text equals the cleaned text, index and ANN hold the
    * id live. The oracle pins the flags as literal TRUE, so any store
    * the composed cadence let drift mismatches here.
    */
  private def fanoutGatedProbe(s: SparkSession, d: String): DataFrame = {
    val root = storePath("fanout-gated")
    val store = graft.streaming.Streams
      .substringStoreRead(s, s"$root/gram").get
      .select(col("doc_id"), col("n_tokens"), col("n_dup_grams"),
        col("n_removed"), md5(col("clean_text")).as("clean_md5"))
    val merge = graft.streaming.Streams.readState(s, s"$root/store").get
      .select(col("doc_id"), md5(col("text")).as("__merge_md5"))
    val idx = Search.indexLiveDocs(s, s"$root/index").get
      .select(col("doc_id"), lit(true).as("__in_idx"))
    val ann = Similarity.annStoreLiveIds(s, s"$root/ann")
      .select(col("id").as("doc_id"), lit(true).as("__in_ann"))
    val pq = Similarity.pqStoreLiveIds(s, s"$root/pq")
      .select(col("id").as("doc_id"), lit(true).as("__in_pq"))
    val ck = graft.streaming.Streams.chunkStoreRead(s, s"$root/chunks")
      .get.select(col("doc_id")).dropDuplicates("doc_id")
      .withColumn("__in_ck", lit(true))
    val ckv = Similarity.pqStoreLiveIds(s, s"$root/ckvec")
      .select(expr(
        s"id div ${graft.streaming.Streams.ChunkVecSeqLimit}")
        .as("doc_id"))
      .dropDuplicates("doc_id")
      .withColumn("__in_ckv", lit(true))
    store.join(merge, Seq("doc_id"), "left")
      .join(idx, Seq("doc_id"), "left")
      .join(ann, Seq("doc_id"), "left")
      .join(pq, Seq("doc_id"), "left")
      .join(ck, Seq("doc_id"), "left")
      .join(ckv, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("n_dup_grams"),
        col("n_removed"), col("clean_md5"),
        (col("__merge_md5") === col("clean_md5")).as("merge_ok"),
        coalesce(col("__in_idx"), lit(false)).as("in_index"),
        coalesce(col("__in_ann"), lit(false)).as("in_ann"),
        coalesce(col("__in_pq"), lit(false)).as("in_pq"),
        coalesce(col("__in_ck"), lit(false)).as("in_chunks"),
        coalesce(col("__in_ckv"), lit(false)).as("in_chunk_vecs"))
      .presentSorted(col("doc_id"))
  }

  /** Build of pl_fanout_neardup_gated_roundtrip: two waves through
    * [[graft.streaming.Streams.fanoutIngestBatchNeardupGated]] — the
    * whole base corpus, then a mutant wave of zzz-first-token near-dups
    * (mostly dropped at the LSH gate; short docs whose Jaccard falls
    * under 0.9 pass and get span-screened instead) and 16-token-prefix
    * fresh-tail mutants (pass the near-dup gate, lose their stored
    * spans) — then the full second wave REDELIVERED, which must
    * converge to a complete no-op on all five stores.
    */
  private def fanoutNdGatedBuild(s: SparkSession, d: String): Unit = {
    import graft.functions.TextFunctions
    val root = storeDir("fanout-ndgated")
    val (st, ix, an, gr, nd) = (s"$root/store", s"$root/index",
      s"$root/ann", s"$root/gram", s"$root/nd")
    def gated(batch: org.apache.spark.sql.DataFrame, id: Long) =
      graft.streaming.Streams.fanoutIngestBatchNeardupGated(batch, id,
        st, ix, an, gr, nd, "doc_id", "text", Some("vec"),
        planes = 8, dims = 8, pqDir = Some(s"$root/pq"),
        chunkDir = Some(s"$root/chunks"),
        chunkVecDir = Some(s"$root/ckvec"),
        chunkVecTrainPerMille = PassageTrainPerMille)
    // Half the corpus: the composition's lifecycle (two waves +
    // redelivery through TWO gates and five stores) prices at the
    // span-gated sibling's level instead of doubling it, with
    // identical semantics exercised.
    val docs = Tables.documents(s, d).filter(col("doc_id") % 2 === 0)
    val wave1 = docs.select(col("doc_id"), col("text"), fanoutVec.as("vec"))
    val (n1, g1, i1, a1, p1, c1, v1) = gated(wave1, 0L)
    require(n1 > 0 && n1 >= g1 && g1 == i1 && g1 == a1 && g1 == p1 &&
      g1 == c1 && v1 >= c1,
      s"wave-1 fan-out diverged across stores: nd=$n1 gate=$g1 idx=$i1 " +
        s"ann=$a1 pq=$p1 chunks=$c1 ckvec=$v1")
    val wave2 = docs.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"),
        regexp_replace(col("text"), "^\\S+", "zzz").as("text"))
      .unionByName(docs.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 2000000).as("doc_id"),
          concat(concat_ws(" ",
              slice(TextFunctions.tokens(col("text")), 1, 16)),
            lit(" fresh tail mutant "), col("doc_id")).as("text")))
      .select(col("doc_id"), col("text"), fanoutVec.as("vec"))
    gated(wave2, 1L)
    val again = gated(wave2, 1L)
    require(again == ((0L, 0L, 0L, 0L, 0L, 0L, 0L)),
      s"wave-2 redelivery must no-op on every store, got $again")
  }

  /** Probe of pl_fanout_neardup_gated_roundtrip: the gram store's
    * committed survivors cross-checked against the other FOUR surfaces
    * the same batches advanced — merge-store text equals the cleaned
    * text, index and ANN hold the id live, and the near-dup store
    * admitted the id. All four flags pin as literal TRUE in the oracle.
    */
  private def fanoutNdGatedProbe(s: SparkSession, d: String): DataFrame = {
    val root = storePath("fanout-ndgated")
    val store = graft.streaming.Streams
      .substringStoreRead(s, s"$root/gram").get
      .select(col("doc_id"), col("n_tokens"), col("n_dup_grams"),
        col("n_removed"), md5(col("clean_text")).as("clean_md5"))
    val merge = graft.streaming.Streams.readState(s, s"$root/store").get
      .select(col("doc_id"), md5(col("text")).as("__merge_md5"))
    val idx = Search.indexLiveDocs(s, s"$root/index").get
      .select(col("doc_id"), lit(true).as("__in_idx"))
    val ann = Similarity.annStoreLiveIds(s, s"$root/ann")
      .select(col("id").as("doc_id"), lit(true).as("__in_ann"))
    val nd = graft.streaming.Streams.neardupStoreRead(s, s"$root/nd").get
      .select(col("doc_id")).dropDuplicates("doc_id")
      .withColumn("__in_nd", lit(true))
    val pq = Similarity.pqStoreLiveIds(s, s"$root/pq")
      .select(col("id").as("doc_id"), lit(true).as("__in_pq"))
    val ck = graft.streaming.Streams.chunkStoreRead(s, s"$root/chunks")
      .get.select(col("doc_id")).dropDuplicates("doc_id")
      .withColumn("__in_ck", lit(true))
    val ckv = Similarity.pqStoreLiveIds(s, s"$root/ckvec")
      .select(expr(
        s"id div ${graft.streaming.Streams.ChunkVecSeqLimit}")
        .as("doc_id"))
      .dropDuplicates("doc_id")
      .withColumn("__in_ckv", lit(true))
    store.join(merge, Seq("doc_id"), "left")
      .join(idx, Seq("doc_id"), "left")
      .join(ann, Seq("doc_id"), "left")
      .join(nd, Seq("doc_id"), "left")
      .join(pq, Seq("doc_id"), "left")
      .join(ck, Seq("doc_id"), "left")
      .join(ckv, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("n_dup_grams"),
        col("n_removed"), col("clean_md5"),
        (col("__merge_md5") === col("clean_md5")).as("merge_ok"),
        coalesce(col("__in_idx"), lit(false)).as("in_index"),
        coalesce(col("__in_ann"), lit(false)).as("in_ann"),
        coalesce(col("__in_nd"), lit(false)).as("in_nd"),
        coalesce(col("__in_pq"), lit(false)).as("in_pq"),
        coalesce(col("__in_ck"), lit(false)).as("in_chunks"),
        coalesce(col("__in_ckv"), lit(false)).as("in_chunk_vecs"))
      .presentSorted(col("doc_id"))
  }

  private def chunkTakedownBuild(s: SparkSession, d: String): Unit = {
    val dir = storeDir("chunk-del") + "/store"
    val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val stale = base.withColumn("text",
      when(col("doc_id") % 7 === 0,
        concat(lit("stale draft chunk "), col("text")))
        .otherwise(col("text")))
    graft.streaming.Streams.chunkIngestBatch(stale, dir, "doc_id", "text",
      window = 32, overlap = 8)
    graft.streaming.Streams.chunkIngestBatch(base, dir,
      "doc_id", "text", window = 32, overlap = 8): Unit
    val deleted = graft.streaming.Streams.chunkStoreDelete(s, dir,
      base.filter(col("doc_id") % 11 === 0).select(col("doc_id")))
    val again = graft.streaming.Streams.chunkStoreDelete(s, dir,
      base.filter(col("doc_id") % 11 === 0).select(col("doc_id")))
    require(deleted > 0 && again == 0,
      s"chunk takedown semantics broken: deleted=$deleted again=$again")
    // Threshold 0.5 keeps the ~23%-dead bulk batches, and the folding
    // compaction carries the takedown's tombstones — oracle-checks the
    // carried-tombstone suppression path (see bm25VacuumBuild).
    graft.streaming.Streams.chunkStoreVacuum(s, dir,
      minDeadFraction = 0.5): Unit
    graft.streaming.Streams.chunkStoreCompactBatches(s, dir,
      maxBatches = 2): Unit
  }

  private def chunkTakedownProbe(s: SparkSession, d: String): DataFrame =
    graft.streaming.Streams
      .chunkStoreRead(s, storePath("chunk-del") + "/store")
      .get.presentSorted(col("doc_id"), col("chunk_seq"))

  private def chunkStoreBuild(s: SparkSession, d: String): Unit = {
    val dir = storeDir("chunk-rt") + "/store"
    val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
    // Generation 1: a seventh of the docs carry a stale draft prefix;
    // generation 2 re-chunks exactly those (changed content hash);
    // generation 3 redelivers generation 2 and must append NOTHING —
    // the at-least-once convergence contract of the ingest family.
    val stale = base.withColumn("text",
      when(col("doc_id") % 7 === 0,
        concat(lit("stale draft chunk "), col("text")))
        .otherwise(col("text")))
    graft.streaming.Streams.chunkIngestBatch(stale, dir, "doc_id", "text",
      window = 32, overlap = 8)
    val updated = graft.streaming.Streams.chunkIngestBatch(base, dir,
      "doc_id", "text", window = 32, overlap = 8)
    val noop = graft.streaming.Streams.chunkIngestBatch(base, dir,
      "doc_id", "text", window = 32, overlap = 8)
    require(updated > 0 && noop == 0,
      s"chunk upsert semantics broken: updated=$updated redelivery=$noop")
  }

  private def chunkStoreProbe(s: SparkSession, d: String): DataFrame =
    graft.streaming.Streams.chunkStoreRead(s, storePath("chunk-rt") + "/store")
      .getOrElse(sys.error("chunk store has no committed batches"))
      .presentSorted(col("doc_id"), col("chunk_seq"))

  private def mltProbe(s: SparkSession, d: String): DataFrame =
    Search.moreLikeThisTopK(s, storePath("mlt") + "/index",
      Tables.documents(s, d).filter(col("doc_id") === 42L)
        .select(col("doc_id"), col("text")),
      k = 10)

  private val PassageQueryText = "spark vector stream merge pipeline"

  /** Stable-hash sampling rate (per mille) for the passage surfaces'
    * codebook training — the Lloyd passes run on a quarter of the
    * chunk vectors while every chunk still encodes and commits. At
    * 100 TB the training passes are the build's dominant term, so the
    * bench prices the configuration a deployment would actually run;
    * the oracles' `tr` CTE re-derives the identical sample
    * (stableHash64 == the md5-prefix BIGINT convention).
    */
  private val PassageTrainPerMille = 250

  /** Build of search_passage_topk: chunk store + chunk-vector PQ store
    * through the full lifecycle — base build (trains the codebook on
    * the base corpus's passages), a stale-draft re-chunking upsert
    * (every 7th doc's passages re-encode; the longer draft's extra
    * passage ids appear), the return to base (re-encode again, the
    * draft-only passage ids TOMBSTONE as vanished), then a redelivery
    * that must no-op. Final live state = exactly the base corpus's
    * passages under the base-trained codebook, which is what the
    * oracle re-derives.
    */
  private def passageBuild(s: SparkSession, d: String): Unit = {
    val root = storeDir("passage")
    val (ck, vec) = (s"$root/chunks", s"$root/vec")
    val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val stale = base.withColumn("text",
      when(col("doc_id") % 7 === 0,
        concat(lit("stale draft chunk "), col("text")))
        .otherwise(col("text")))
    // Like the fan-out in production, each vector-ingest wave passes
    // the DELIVERED batch's ids, not the corpus: the draft waves only
    // deliver the %7 docs, so only their passages featurize+re-encode.
    def vecIngest(ids: org.apache.spark.sql.DataFrame) =
      graft.streaming.Streams.chunkVectorIngestBatch(
        s, ck, vec, ids, dims = 16, m = 4, codes = 8, cells = 8,
        trainPerMille = PassageTrainPerMille)
    val allIds = base.select(col("doc_id"))
    val draftIds = base.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id"))
    graft.streaming.Streams.chunkIngestBatch(base, ck, "doc_id", "text",
      window = 32, overlap = 8)
    require(vecIngest(allIds) > 0,
      "base passage encode must train and insert")
    graft.streaming.Streams.chunkIngestBatch(stale, ck, "doc_id", "text",
      window = 32, overlap = 8)
    require(vecIngest(draftIds) > 0, "stale-draft re-chunk must re-encode")
    graft.streaming.Streams.chunkIngestBatch(base, ck, "doc_id", "text",
      window = 32, overlap = 8)
    require(vecIngest(draftIds) > 0, "return-to-base re-chunk must re-encode")
    val again = vecIngest(draftIds)
    require(again == 0,
      s"chunk-vector redelivery must no-op, encoded $again")
  }

  private def passageProbe(s: SparkSession, d: String): DataFrame =
    graft.streaming.Streams.passageTopK(s,
        storePath("passage") + "/vec", PassageQueryText, dims = 16,
        kPassages = 50, kDocs = 10, nprobe = 2)
      .presentSorted(col("rnk"))

  /** Build of search_passage_rerank_topk: one clean generation (base
    * corpus chunks + their vectors) in its own store — the lifecycle
    * churn is search_passage_topk's job; the rerank query prices the
    * two-stage probe.
    */
  private def passageRerankBuild(s: SparkSession, d: String): Unit = {
    val root = storeDir("passage-rr")
    val (ck, vec) = (s"$root/chunks", s"$root/vec")
    val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
    graft.streaming.Streams.chunkIngestBatch(base, ck, "doc_id", "text",
      window = 32, overlap = 8)
    require(graft.streaming.Streams.chunkVectorIngestBatch(s, ck, vec,
      base.select(col("doc_id")), dims = 16, m = 4, codes = 8,
      cells = 8, trainPerMille = PassageTrainPerMille) > 0,
      "passage-rerank chunk-vector build must insert")
  }

  private def passageRerankProbe(s: SparkSession, d: String): DataFrame =
    graft.streaming.Streams.passageRerankTopK(s,
        storePath("passage-rr") + "/chunks",
        storePath("passage-rr") + "/vec", PassageQueryText, dims = 16,
        kCand = 100, kPassages = 50, kDocs = 10, nprobe = 2)
      .presentSorted(col("rnk"))

  /** Build of search_passage_learned_rerank: same one-clean-generation
    * shape as the exact-rerank sibling, own store.
    */
  private def passageLearnedBuild(s: SparkSession, d: String): Unit = {
    val root = storeDir("passage-lr")
    val (ck, vec) = (s"$root/chunks", s"$root/vec")
    val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
    graft.streaming.Streams.chunkIngestBatch(base, ck, "doc_id", "text",
      window = 32, overlap = 8)
    require(graft.streaming.Streams.chunkVectorIngestBatch(s, ck, vec,
      base.select(col("doc_id")), dims = 16, m = 4, codes = 8,
      cells = 8, trainPerMille = PassageTrainPerMille) > 0,
      "passage-learned chunk-vector build must insert")
  }

  /** Build of search_passage_recall_at_k: one clean generation in its
    * own store — the SAMPLED codebook under audit is exactly the
    * configuration the other passage builds run.
    */
  private def passageRecallBuild(s: SparkSession, d: String): Unit = {
    val root = storeDir("passage-rc")
    val (ck, vec) = (s"$root/chunks", s"$root/vec")
    val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
    graft.streaming.Streams.chunkIngestBatch(base, ck, "doc_id", "text",
      window = 32, overlap = 8)
    require(graft.streaming.Streams.chunkVectorIngestBatch(s, ck, vec,
      base.select(col("doc_id")), dims = 16, m = 4, codes = 8,
      cells = 8, trainPerMille = PassageTrainPerMille) > 0,
      "passage-recall chunk-vector build must insert")
  }

  private def passageRecallProbe(s: SparkSession, d: String): DataFrame =
    graft.streaming.Streams.passageRecallAtK(s,
        storePath("passage-rc") + "/chunks",
        storePath("passage-rc") + "/vec", dims = 16, nQueryDocs = 10,
        k = 5)
      .presentSorted(col("qid"))

  private def passageLearnedProbe(s: SparkSession, d: String): DataFrame =
    graft.streaming.Streams.passageLearnedRerankTopK(s,
        storePath("passage-lr") + "/chunks",
        storePath("passage-lr") + "/vec", PassageQueryText, dims = 16,
        kCand = 100, kPassages = 50, kDocs = 10, nprobe = 2)
      .presentSorted(col("rnk"))

  private val PhraseTerms = Seq("table", "hash")

  private def bm25BucketedBuild(s: SparkSession, d: String): Unit = {
    idxBuild("bm25-bk")(s, d)
    Search.bucketPostings(s, storePath("bm25-bk") + "/index",
      "graft_postings_bucketed")
  }

  private def bm25BucketedProbe(s: SparkSession, d: String): DataFrame =
    Search.bm25FromBucketedIndexTopK(s, storePath("bm25-bk") + "/index",
      "graft_postings_bucketed",
      Seq("spark", "vector", "stream", "merge"), k = 10)

  private def phraseBucketedBuild(s: SparkSession, d: String): Unit = {
    idxBuild("phr-bk")(s, d)
    Search.bucketPostings(s, storePath("phr-bk") + "/index",
      "graft_postings_bucketed_phr")
  }

  private def phraseBucketedProbe(s: SparkSession, d: String): DataFrame =
    Search.phraseFromBucketedIndexTopK(s, "graft_postings_bucketed_phr",
      PhraseTerms, k = 10)

  private def phraseIdxProbe(s: SparkSession, d: String): DataFrame =
    Search.phraseFromIndexTopK(s, storePath("phr") + "/index",
      PhraseTerms, k = 10)

  private def annPartBuild(s: SparkSession, d: String): Unit = {
    val dir = storeDir("ann-part") + "/idx"
    val part = storeDir("ann-part-p") + "/part"
    Similarity.annStoreAppend(embOf(s, d), dir, planes = 8, dims = 64)
    Similarity.annStorePartition(s, dir, part)
  }

  private def annPartProbe(s: SparkSession, d: String): DataFrame =
    Similarity.annStorePartitionedTopK(s, storePath("ann-part-p") + "/part",
      embOf(s, d).filter(col("id") < 10), planes = 8, dims = 64, k = 3)
      .select(col("qid"), col("cid"), col("score"), col("rnk"))
      .presentSorted(col("qid"), col("rnk"))

  private def bm25UpsertBuild(s: SparkSession, d: String): Unit = {
    val dir = storeDir("bm25-up") + "/index"
    val base = Tables.documents(s, d)
    val stale = base.withColumn("text",
      when(col("doc_id") % 7 === 0,
        concat(lit("stale draft spark spark vector "), col("text")))
        .otherwise(col("text")))
    Search.buildIndex(stale, "doc_id", "text", dir)
    val updated = Search.indexAppend(base, "doc_id", "text", dir)
    val noop = Search.indexAppend(base, "doc_id", "text", dir)
    require(updated > 0 && noop == 0,
      s"upsert semantics broken: updated=$updated redelivery=$noop")
  }

  private def bm25UpsertProbe(s: SparkSession, d: String): DataFrame =
    Search.bm25FromIndexTopK(s, storePath("bm25-up") + "/index",
      Seq("spark", "vector", "stream", "merge"), k = 10)

  /** The hybrid builds assemble INDEPENDENT standing stores (inverted
    * index vs embedding store, own dirs, own leases) — overlapped
    * (graft.Par, guide §2.6) so the composed build costs the longer
    * store, not the sum; final committed state is identical.
    */
  private def hybridBuild(idxName: String, annName: String)(
      s: SparkSession, d: String): Unit =
    graft.Par.run2(
      idxBuild(idxName)(s, d),
      Similarity.annStoreAppend(embOf(s, d), storeDir(annName) + "/ann",
        planes = 8, dims = 64)): Unit

  private def hybridProbe(idxName: String, annName: String,
      multiprobe: Boolean)(s: SparkSession, d: String): DataFrame =
    Search.hybridTopK(s, storePath(idxName) + "/index",
      storePath(annName) + "/ann",
      Seq("spark", "vector", "stream", "merge"),
      embOf(s, d).filter(col("id") === 5L), planes = 8, dims = 64, k = 10,
      multiprobe = multiprobe)

  /** Build for search_hybrid_rrf_auto: the standing index + ANN store
    * as [[hybridBuild]], PLUS the partitioned ANN layout a maintenance
    * pass would refresh — snapshot freshness is asserted so the probe
    * verifiably exercises [[graft.operators.Similarity.annStoreTopKAuto]]'s
    * partitioned route (PlanRegressionSpec additionally pins the DPP
    * plan shape), not a silent generational fallback.
    */
  private def hybridAutoBuild(s: SparkSession, d: String): Unit =
    // Index track ∥ ann-chain track (append -> partitioned layout —
    // the partition step DEPENDS on the append, so it stays chained
    // inside its track).
    graft.Par.run2(
      idxBuild("hyb-au-i")(s, d),
      {
        Similarity.annStoreAppend(embOf(s, d),
          storeDir("hyb-au-a") + "/ann", planes = 8, dims = 64): Unit
        val part = storeDir("hyb-au-p") + "/part"
        Similarity.annStorePartition(s, storePath("hyb-au-a") + "/ann",
          part)
        require(graft.sources.Commits.snapshotFresh(s, part,
          storePath("hyb-au-a") + "/ann"),
          "partitioned ANN snapshot not fresh right after its build")
      }): Unit

  private def hybridAutoProbe(s: SparkSession, d: String): DataFrame =
    Search.hybridTopK(s, storePath("hyb-au-i") + "/index",
      storePath("hyb-au-a") + "/ann",
      Seq("spark", "vector", "stream", "merge"),
      embOf(s, d).filter(col("id") === 5L), planes = 8, dims = 64, k = 10,
      annPartDir = Some(storePath("hyb-au-p") + "/part"))

  /** Bench-only build/probe splits (see [[graft.BenchPhases]]) for the
    * standing-store lifecycle heavyweights — the queries whose bench
    * cost was dominated by rebuilding their store every pass (r8
    * measured pass-1/min spreads up to 5.8× on exactly these five).
    */
  val benchPhases: Map[String, BenchPhases] = Map(
    "sim_ann_upsert_topk" -> BenchPhases(annUpsertBuild, annUpsertProbe),
    "sim_ann_partitioned_topk" -> BenchPhases(annPartBuild, annPartProbe),
    "sim_ann_auto_stale_reroute" -> BenchPhases(annAutoStaleBuild,
      annAutoStaleProbe),
    "search_bm25_index_upsert" -> BenchPhases(bm25UpsertBuild, bm25UpsertProbe),
    "search_hybrid_rrf" -> BenchPhases(
      hybridBuild("hyb-i", "hyb-a"),
      hybridProbe("hyb-i", "hyb-a", multiprobe = false)),
    "search_hybrid_rrf_multiprobe" -> BenchPhases(
      hybridBuild("hyb-mp-i", "hyb-mp-a"),
      hybridProbe("hyb-mp-i", "hyb-mp-a", multiprobe = true)),
    "search_hybrid_rrf_auto" -> BenchPhases(hybridAutoBuild,
      hybridAutoProbe),
    "sim_ann_store_roundtrip" -> BenchPhases(annBuild("ann-rt"),
      annProbe("ann-rt")),
    "sim_ann_multiprobe" -> BenchPhases(annBuild("ann-mp"),
      annProbe("ann-mp", multiprobe = true)),
    "search_bm25_index_topk" -> BenchPhases(idxBuild("bm25"),
      bm25IdxProbe("bm25")),
    "search_rm3_expansion" -> BenchPhases(idxBuild("bm25-rm3"),
      rm3Probe),
    "search_bm25_index_delete" -> BenchPhases(bm25DeleteBuild,
      bm25IdxProbe("bm25-del")),
    "search_bm25_index_vacuum" -> BenchPhases(bm25VacuumBuild,
      bm25IdxProbe("bm25-vac")),
    "search_more_like_this" -> BenchPhases(idxBuild("mlt"), mltProbe),
    "search_phrase_index_topk" -> BenchPhases(idxBuild("phr"),
      phraseIdxProbe),
    "search_bm25_index_bucketed" -> BenchPhases(bm25BucketedBuild,
      bm25BucketedProbe),
    "search_phrase_index_bucketed" -> BenchPhases(phraseBucketedBuild,
      phraseBucketedProbe),
    "pl_chunk_store_roundtrip" -> BenchPhases(chunkStoreBuild,
      chunkStoreProbe),
    "pl_chunk_store_takedown" -> BenchPhases(chunkTakedownBuild,
      chunkTakedownProbe),
    "pl_substring_dedup_incremental" -> BenchPhases(gramStoreBuild,
      gramStoreProbe),
    "pl_fanout_gated_roundtrip" -> BenchPhases(fanoutGatedBuild,
      fanoutGatedProbe),
    "pl_fanout_neardup_gated_roundtrip" -> BenchPhases(fanoutNdGatedBuild,
      fanoutNdGatedProbe),
    "sim_pq_store_upsert_topk" -> BenchPhases(pqStoreUpBuild,
      pqStoreUpProbe),
    "sim_pq_store_takedown" -> BenchPhases(pqTakedownBuild,
      pqTakedownProbe),
    "sim_ivfpq_store_topk" -> BenchPhases(ivfPqStoreBuild,
      ivfPqStoreProbe),
    "sim_pq_rerank_topk" -> BenchPhases(pqRerankBuild, pqRerankProbe),
    "search_hybrid_rrf_pq" -> BenchPhases(hybridPqBuild, hybridPqProbe),
    "search_hybrid_rrf_pq_rerank" -> BenchPhases(hybridPqRerankBuild,
      hybridPqRerankProbe),
    "sim_pq_reroute_topk" -> BenchPhases(pqRerouteBuild, pqRerouteProbe),
    "search_passage_topk" -> BenchPhases(passageBuild, passageProbe),
    "sim_pq_store_stats" -> BenchPhases(pqStatsBuild, pqStatsProbe),
    "search_hybrid_passage_rrf" -> BenchPhases(hybridPassageBuild,
      hybridPassageProbe),
    "search_passage_rerank_topk" -> BenchPhases(passageRerankBuild,
      passageRerankProbe),
    "search_passage_learned_rerank" -> BenchPhases(passageLearnedBuild,
      passageLearnedProbe),
    "search_passage_recall_at_k" -> BenchPhases(passageRecallBuild,
      passageRecallProbe),
  )

  /** docs ∪ near-dup mutants (first token -> 'zzz', id + 1000000). */
  private def nearDupCorpus(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text")).unionByName(
      docs.select((col("doc_id") + 1000000).as("doc_id"),
        regexp_replace(col("text"), "^\\S+", "zzz").as("text")))

  /** `corpus`'s hashed 3-shingle arrays, persisted: signatures and the
    * Jaccard verification both read them, and they are an order of
    * magnitude smaller than the text. The near-dup queries build the
    * same plan and share one cache entry ([[graft.Cache]]). */
  private def nearDupShingles(corpus: DataFrame): DataFrame =
    graft.Cache.persist(
      Dedup.hashedShingleArrays(corpus, "doc_id", "text", 3))

  /** The shingles' compact LSH band keys (128 MinHashes, 16 bands),
    * persisted likewise: four readers (two explode sides, two witness
    * joins), 16 longs per doc — see lshCandidatePairsFromKeys. */
  private def nearDupKeys(hsArr: DataFrame): DataFrame =
    graft.Cache.persist(
      Dedup.lshBandKeys(Dedup.minhashSignatures(hsArr, 128), 128, 16))

  /** Near-dup corpus with hashed shingle sets: `hset` = (doc_id, bh)
    * where bh is the 60-bit md5-derived shingle hash — the same hashed
    * shingling the Spark side runs.
    */
  private val NearDupCte =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id,
      |         regexp_replace(text, '^[^ \t\n\x0b\f\r]+', 'zzz') AS text FROM documents),
      |toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split(trim(text, ' '), ' '), x -> x <> '') AS l
      |  FROM corpus),
      |shset AS (
      |  SELECT DISTINCT doc_id, sh FROM (
      |    SELECT doc_id, unnest(list_transform(range(1, len(l) - 1),
      |      i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS sh
      |    FROM toks)),
      |hset AS (
      |  SELECT DISTINCT doc_id,
      |    ('0x' || substr(md5(sh), 1, 15))::BIGINT AS bh
      |  FROM shset)
      |""".stripMargin

  private val JaccardTail =
    """sizes AS (SELECT doc_id, count(*) AS n_sh FROM hset GROUP BY doc_id),
      |inter AS (
      |  SELECT c.a, c.b, count(*) AS n_inter
      |  FROM cand c
      |  JOIN hset sa ON sa.doc_id = c.a
      |  JOIN hset sb ON sb.doc_id = c.b AND sb.bh = sa.bh
      |  GROUP BY c.a, c.b)
      |SELECT i.a, i.b,
      |  round(n_inter / (za.n_sh + zb.n_sh - n_inter), 4) AS jaccard
      |FROM inter i
      |JOIN sizes za ON za.doc_id = i.a
      |JOIN sizes zb ON zb.doc_id = i.b
      |WHERE n_inter / (za.n_sh + zb.n_sh - n_inter) >= 0.5
      |ORDER BY a, b""".stripMargin

  /** Oracle for the index-backed BM25 queries: the SCAN-path BM25 over
    * the documents table — the standing index's answer must be
    * bit-identical to it, both on a fresh build (search_bm25_index_topk)
    * and after changed-content upserts (search_bm25_index_upsert).
    */
  private val Bm25IndexSql =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(string_split(trim(text, ' '), ' '), x -> x <> '') AS l
      |  FROM documents),
      |p AS (
      |  SELECT doc_id, len(l) AS dl,
      |    len(list_filter(l, x -> x = 'spark'))  AS tf0,
      |    len(list_filter(l, x -> x = 'vector')) AS tf1,
      |    len(list_filter(l, x -> x = 'stream')) AS tf2,
      |    len(list_filter(l, x -> x = 'merge'))  AS tf3
      |  FROM t),
      |g AS (
      |  SELECT count(*) AS n, sum(dl) AS sumdl,
      |    sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
      |    sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
      |    sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2,
      |    sum(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS df3
      |  FROM p),
      |s AS (
      |  SELECT doc_id,
      |    (CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) + (CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)
      |      + (CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) + (CASE WHEN tf3 > 0 THEN 1 ELSE 0 END)
      |      AS n_matched,
      |    (CASE WHEN tf0 > 0 THEN round(
      |        ln(1.0 + (n::DOUBLE - df0::DOUBLE + 0.5) / (df0::DOUBLE + 0.5))
      |          * tf0::DOUBLE * 2.2
      |          / (tf0::DOUBLE + 1.2 * (1.0 - 0.75 + 0.75 * dl::DOUBLE
      |              / (sumdl::DOUBLE / n::DOUBLE))) * 1e6)::BIGINT ELSE 0 END)
      |    + (CASE WHEN tf1 > 0 THEN round(
      |        ln(1.0 + (n::DOUBLE - df1::DOUBLE + 0.5) / (df1::DOUBLE + 0.5))
      |          * tf1::DOUBLE * 2.2
      |          / (tf1::DOUBLE + 1.2 * (1.0 - 0.75 + 0.75 * dl::DOUBLE
      |              / (sumdl::DOUBLE / n::DOUBLE))) * 1e6)::BIGINT ELSE 0 END)
      |    + (CASE WHEN tf2 > 0 THEN round(
      |        ln(1.0 + (n::DOUBLE - df2::DOUBLE + 0.5) / (df2::DOUBLE + 0.5))
      |          * tf2::DOUBLE * 2.2
      |          / (tf2::DOUBLE + 1.2 * (1.0 - 0.75 + 0.75 * dl::DOUBLE
      |              / (sumdl::DOUBLE / n::DOUBLE))) * 1e6)::BIGINT ELSE 0 END)
      |    + (CASE WHEN tf3 > 0 THEN round(
      |        ln(1.0 + (n::DOUBLE - df3::DOUBLE + 0.5) / (df3::DOUBLE + 0.5))
      |          * tf3::DOUBLE * 2.2
      |          / (tf3::DOUBLE + 1.2 * (1.0 - 0.75 + 0.75 * dl::DOUBLE
      |              / (sumdl::DOUBLE / n::DOUBLE))) * 1e6)::BIGINT ELSE 0 END)
      |      AS score_1e6
      |  FROM p, g)
      |SELECT doc_id, n_matched, score_1e6 FROM s
      |WHERE n_matched > 0
      |ORDER BY score_1e6 DESC, doc_id LIMIT 10""".stripMargin

  /** Oracle for the RM3 expansion query: both BM25 stages in the
    * exploded (doc, term) shape — per-hit contributions rounded to
    * micro-units exactly like [[Bm25IndexSql]] (same left-to-right
    * float expression), stage-1 top-5 docs nominate the 8 heaviest
    * non-query terms (total tf desc, term tie-break), and stage 2
    * re-scores with original terms at weight 1.0 and expansion terms
    * at 0.5.
    */
  private val Rm3Sql =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(string_split(trim(text, ' '), ' '), x -> x <> '') AS l
      |  FROM documents),
      |d AS (SELECT doc_id, len(l) AS dl FROM t),
      |u AS (SELECT doc_id, unnest(l) AS term FROM t),
      |tfs AS (SELECT doc_id, term, count(*) AS tf FROM u GROUP BY doc_id, term),
      |g AS (SELECT count(*) AS n, sum(dl) AS sumdl FROM d),
      |q0 AS (SELECT unnest(['spark','vector','stream','merge']) AS term),
      |dfs AS (SELECT term, count(*) AS df FROM tfs GROUP BY term),
      |s1 AS (
      |  SELECT tfs.doc_id,
      |    sum(round(ln(1.0 + (g.n::DOUBLE - dfs.df::DOUBLE + 0.5)
      |        / (dfs.df::DOUBLE + 0.5))
      |      * tfs.tf::DOUBLE * 2.2
      |      / (tfs.tf::DOUBLE + 1.2 * (1.0 - 0.75 + 0.75 * d.dl::DOUBLE
      |          / (g.sumdl::DOUBLE / g.n::DOUBLE))) * 1e6)::BIGINT) AS score
      |  FROM tfs
      |  JOIN q0 USING (term)
      |  JOIN dfs ON dfs.term = tfs.term
      |  JOIN d ON d.doc_id = tfs.doc_id, g
      |  GROUP BY tfs.doc_id),
      |fb AS (SELECT doc_id FROM s1 ORDER BY score DESC, doc_id LIMIT 5),
      |expt AS (
      |  SELECT term, 0.5 AS qw FROM (
      |    SELECT tfs.term, sum(tfs.tf) AS w
      |    FROM tfs JOIN fb USING (doc_id)
      |    WHERE tfs.term NOT IN (SELECT term FROM q0)
      |    GROUP BY tfs.term)
      |  ORDER BY w DESC, term LIMIT 8),
      |qt AS (SELECT term, 1.0 AS qw FROM q0
      |       UNION ALL SELECT term, qw FROM expt),
      |s2 AS (
      |  SELECT tfs.doc_id, count(*)::INT AS n_matched,
      |    sum(round(qt.qw * ln(1.0 + (g.n::DOUBLE - dfs.df::DOUBLE + 0.5)
      |        / (dfs.df::DOUBLE + 0.5))
      |      * tfs.tf::DOUBLE * 2.2
      |      / (tfs.tf::DOUBLE + 1.2 * (1.0 - 0.75 + 0.75 * d.dl::DOUBLE
      |          / (g.sumdl::DOUBLE / g.n::DOUBLE))) * 1e6)::BIGINT)::BIGINT
      |      AS score_1e6
      |  FROM tfs
      |  JOIN qt ON qt.term = tfs.term
      |  JOIN dfs ON dfs.term = tfs.term
      |  JOIN d ON d.doc_id = tfs.doc_id, g
      |  GROUP BY tfs.doc_id)
      |SELECT doc_id, n_matched, score_1e6 FROM s2
      |ORDER BY score_1e6 DESC, doc_id LIMIT 10""".stripMargin

  /** Oracle for the snippet query: [[Bm25IndexSql]]'s CTE chain for
    * the top-10, then per-doc hit positions via DuckDB's 1-based
    * indexed list lambda (matching the Spark side's `transform` with
    * `i + 1`) and the best window via a lexicographic list_sort over
    * [-hits, pos] pairs — the same argmax the engine runs as an
    * array_sort over (negn, p) structs.
    */
  private lazy val SnippetSql: String = {
    val bmChain = Bm25IndexSql.substring(0,
      Bm25IndexSql.lastIndexOf("SELECT doc_id, n_matched"))
    bmChain +
      """,top AS (SELECT doc_id, score_1e6 FROM s
        |       WHERE n_matched > 0
        |       ORDER BY score_1e6 DESC, doc_id LIMIT 10),
        |ps AS (
        |  SELECT top.doc_id, top.score_1e6, t.l,
        |    list_filter(list_transform(t.l, (x, i) ->
        |      CASE WHEN x IN ('spark','vector','stream','merge')
        |           THEN i ELSE 0 END), p -> p > 0) AS pos
        |  FROM top JOIN t USING (doc_id)),
        |b AS (
        |  SELECT doc_id, score_1e6, l, pos,
        |    list_sort(list_transform(pos, p ->
        |      [-len(list_filter(pos, q -> q >= p AND q < p + 12)), p]))[1]
        |      AS best
        |  FROM ps)
        |SELECT doc_id, score_1e6,
        |  best[2]::BIGINT AS start_pos,
        |  (-best[1])::BIGINT AS n_hits,
        |  array_to_string(l[best[2]:best[2] + 11], ' ') AS snippet
        |FROM b ORDER BY score_1e6 DESC, doc_id""".stripMargin
  }

  /** Oracle for the ANN-store queries: exact-query vs dequantized-
    * candidate cosine over the embeddings table, bucket-pruned with the
    * same seeded hyperplanes — the store must match it on a fresh build
    * (sim_ann_store_roundtrip) and after re-embedding upserts
    * (sim_ann_upsert_topk).
    */
  private val AnnRoundtripSql =
    """WITH w AS (
      |  SELECT p.plane, dd.dim,
      |    CASE WHEN ('0x'||substr(md5('hp:'||p.plane||':'||dd.dim),1,15))::BIGINT
      |              % 2 = 1 THEN 1.0 ELSE -1.0 END AS w
      |  FROM (SELECT unnest(range(0, 8)) AS plane) p,
      |       (SELECT unnest(range(1, 65)) AS dim) dd),
      |comps AS (
      |  SELECT vec_id AS id, generate_subscripts(embedding, 1) AS dim,
      |         unnest(embedding::DOUBLE[]) AS x
      |  FROM embeddings),
      |proj AS (
      |  SELECT c.id, w.plane, sum(c.x * w.w) AS proj
      |  FROM comps c JOIN w ON w.dim = c.dim GROUP BY c.id, w.plane),
      |buckets AS (
      |  SELECT id, sum(CASE WHEN proj > 0 THEN 1::BIGINT << plane
      |                      ELSE 0::BIGINT END) AS bucket
      |  FROM proj GROUP BY id),
      |vs AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
      |dq AS (SELECT id,
      |         CASE WHEN scale = 0 THEN list_transform(v, x -> 0.0)
      |              ELSE list_transform(v, x -> round(x / scale) * scale)
      |         END AS v
      |       FROM (SELECT id, v,
      |               list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
      |             FROM vs)),
      |q AS (SELECT b.id AS qid, vs.v AS qv, b.bucket
      |      FROM buckets b JOIN vs ON vs.id = b.id WHERE b.id < 10),
      |c AS (SELECT b.id AS cid, dq.v AS cv, b.bucket
      |      FROM buckets b JOIN dq ON dq.id = b.id),
      |scores AS (
      |  SELECT qid, cid,
      |    round(list_inner_product(qv, cv) /
      |      (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(cv, cv))),
      |      6) AS score
      |  FROM q JOIN c ON c.bucket = q.bucket AND cid <> qid),
      |r AS (SELECT qid, cid, score,
      |        row_number() OVER (PARTITION BY qid
      |                           ORDER BY score DESC, cid) AS rnk
      |      FROM scores)
      |SELECT qid, cid, score, rnk FROM r WHERE rnk <= 3
      |ORDER BY qid, rnk""".stripMargin

  /** [[AnnRoundtripSql]] with the takedown victims (id % 7 = 0) gone
    * from the CANDIDATE side only — queries still come from the full
    * embeddings table. This is the generational store's live answer
    * after sim_ann_auto_stale_reroute's takedown; the stale partitioned
    * layout would answer differently (it still holds the victims).
    */
  private val AnnAutoStaleSql = AnnRoundtripSql.replace(
    "FROM buckets b JOIN dq ON dq.id = b.id),",
    "FROM buckets b JOIN dq ON dq.id = b.id WHERE b.id % 7 <> 0),")

  /** Oracle for the hybrid RRF query: the BM25 chain's CTEs (t..s) and
    * the ANN chain's CTEs (w..r) spliced into one statement — the
    * SAME SQL the two standing-store oracles use, so the fusion's
    * inputs are already proven — with top-20 rank lists fused by
    * `round(1e6/(60+rank))` micro-units (missing side contributes 0).
    */
  private lazy val HybridRrfSql: String = {
    val bmChain = Bm25IndexSql.substring(0,
      Bm25IndexSql.lastIndexOf("SELECT doc_id, n_matched"))
    val annChain0 = AnnRoundtripSql
      .replace("WITH w AS (", ",w AS (")
      .replace("WHERE b.id < 10", "WHERE b.id = 5")
    val annChain = annChain0.substring(0,
      annChain0.lastIndexOf("SELECT qid, cid, score, rnk"))
    bmChain + annChain + RrfFusionTail
  }

  /** RRF fusion tail shared by the hybrid oracles: top-20 rank lists
    * from the BM25 chain's `s` and the ANN chain's `r`, fused by
    * `round(1e6/(60+rank))` micro-units (missing side contributes 0).
    */
  private val RrfFusionTail =
    """,bmtop AS (
      |  SELECT doc_id,
      |    row_number() OVER (ORDER BY score_1e6 DESC, doc_id) AS r_bm25
      |  FROM s WHERE n_matched > 0
      |  ORDER BY score_1e6 DESC, doc_id LIMIT 20),
      |anntop AS (SELECT cid, rnk FROM r WHERE rnk <= 20),
      |f AS (
      |  SELECT coalesce(b.doc_id, a.cid) AS doc_id,
      |    coalesce(round(1e6 / (60 + b.r_bm25))::BIGINT, 0) +
      |    coalesce(round(1e6 / (60 + a.rnk))::BIGINT, 0) AS rrf_1e6
      |  FROM bmtop b FULL OUTER JOIN anntop a ON a.cid = b.doc_id)
      |SELECT doc_id, rrf_1e6 FROM f
      |ORDER BY rrf_1e6 DESC, doc_id LIMIT 10""".stripMargin

  /** [[HybridRrfSql]] with the dense side replaced by the ROUTED
    * standing-PQ-store chain ([[IvfPqStoreSql]] with query id 5 only):
    * the oracle for hybrid fusion where the embedding evidence is the
    * cell-routed ADC probe — coarse Lloyd round, query routing, and
    * per-subspace codebook chains all re-derived, then the same RRF
    * fusion over the rank lists.
    */
  private lazy val HybridRrfPqSql: String = {
    val bmChain = Bm25IndexSql.substring(0,
      Bm25IndexSql.lastIndexOf("SELECT doc_id, n_matched"))
    val pqChain0 = IvfPqStoreSql
      .replace("WITH e AS (", ",e AS (")
      .replace("WHERE rn <= 2 AND id < 10", "WHERE rn <= 2 AND id = 5")
    val pqChain = pqChain0.substring(0,
      pqChain0.lastIndexOf("SELECT qid, cid, approx_d2, rnk"))
    bmChain + pqChain +
      RrfFusionTail.replace("FROM r WHERE rnk", "FROM rk WHERE rnk")
  }

  private def hybridPqBuild(s: SparkSession, d: String): Unit =
    graft.Par.run2(
      idxBuild("hyb-pq-i")(s, d),
      Similarity.pqStoreBuild(embOf(s, d), storeDir("hyb-pq-p") + "/store",
        m = 4, subDims = 16, codes = 8, iters = 2, cells = 16)): Unit

  private def hybridPqProbe(s: SparkSession, d: String): DataFrame =
    Search.hybridTopKPq(s, storePath("hyb-pq-i") + "/index",
      storePath("hyb-pq-p") + "/store",
      Seq("spark", "vector", "stream", "merge"),
      embOf(s, d).filter(col("id") === 5L), k = 10, nprobe = 2)

  /** [[HybridRrfPqSql]] with the dense list EXACT-RERANKED before the
    * fusion: the routed ADC chain's `rk` ranking becomes the kCand=20
    * candidate nomination, the exact squared-L2 re-scores only those
    * candidates (rounded to 4 like every store probe, ranked on the
    * rounded value), and the RRF tail fuses the rerank's top-20 ranks
    * — the oracle for the production coarse-route → ADC shortlist →
    * exact rerank → fuse stack.
    */
  private lazy val HybridRrfPqRerankSql: String = {
    val bmChain = Bm25IndexSql.substring(0,
      Bm25IndexSql.lastIndexOf("SELECT doc_id, n_matched"))
    val pqChain0 = IvfPqStoreSql
      .replace("WITH e AS (", ",e AS (")
      .replace("WHERE rn <= 2 AND id < 10", "WHERE rn <= 2 AND id = 5")
    val pqChain = pqChain0.substring(0,
      pqChain0.lastIndexOf("SELECT qid, cid, approx_d2, rnk"))
    val rerank =
      """,adcc AS (SELECT qid, cid FROM rk WHERE rnk <= 20),
        |exd AS (
        |  SELECT a.qid, a.cid,
        |    round(list_inner_product(q.v,q.v) + list_inner_product(x.v,x.v)
        |      - 2*list_inner_product(q.v,x.v), 4) AS d2
        |  FROM adcc a JOIN e q ON q.id = a.qid JOIN e x ON x.id = a.cid),
        |rr AS (SELECT qid, cid,
        |         row_number() OVER (PARTITION BY qid
        |           ORDER BY d2, cid) AS rnk
        |       FROM exd)""".stripMargin
    bmChain + pqChain + rerank +
      RrfFusionTail.replace("FROM r WHERE rnk", "FROM rr WHERE rnk")
  }

  private def hybridPqRerankBuild(s: SparkSession, d: String): Unit =
    graft.Par.run2(
      idxBuild("hyb-pqr-i")(s, d),
      Similarity.pqStoreBuild(embOf(s, d),
        storeDir("hyb-pqr-p") + "/store",
        m = 4, subDims = 16, codes = 8, iters = 2, cells = 16)): Unit

  private def hybridPqRerankProbe(s: SparkSession, d: String): DataFrame =
    Search.hybridTopKPqRerank(s, storePath("hyb-pqr-i") + "/index",
      storePath("hyb-pqr-p") + "/store",
      Seq("spark", "vector", "stream", "merge"),
      embOf(s, d).filter(col("id") === 5L), embOf(s, d),
      kCand = 20, k = 10, kEach = 20, nprobe = 2)

  /** [[HybridRrfSql]] with the ANN side replaced by the MULTI-PROBE
    * chain — the oracle for hybrid fusion with the recall lever on.
    */
  private lazy val HybridRrfMultiprobeSql: String = {
    val bmChain = Bm25IndexSql.substring(0,
      Bm25IndexSql.lastIndexOf("SELECT doc_id, n_matched"))
    val annChain0 = AnnMultiprobeSql
      .replace("WITH w AS (", ",w AS (")
      .replace("WHERE id < 10", "WHERE id = 5")
    val annChain = annChain0.substring(0,
      annChain0.lastIndexOf("SELECT qid, cid, score, rnk"))
    bmChain + annChain + RrfFusionTail
  }

  /** Oracle for the MULTI-PROBE ANN queries: like [[AnnRoundtripSql]]
    * but each query also probes the planes one-flip buckets, candidate
    * pairs deduped before scoring — the exact mirror of
    * `Similarity.annStoreTopKProbed`.
    */
  private val AnnMultiprobeSql =
    """WITH w AS (
        |  SELECT p.plane, dd.dim,
        |    CASE WHEN ('0x'||substr(md5('hp:'||p.plane||':'||dd.dim),1,15))::BIGINT
        |              % 2 = 1 THEN 1.0 ELSE -1.0 END AS w
        |  FROM (SELECT unnest(range(0, 8)) AS plane) p,
        |       (SELECT unnest(range(1, 65)) AS dim) dd),
        |comps AS (
        |  SELECT vec_id AS id, generate_subscripts(embedding, 1) AS dim,
        |         unnest(embedding::DOUBLE[]) AS x
        |  FROM embeddings),
        |proj AS (
        |  SELECT c.id, w.plane, sum(c.x * w.w) AS proj
        |  FROM comps c JOIN w ON w.dim = c.dim GROUP BY c.id, w.plane),
        |buckets AS (
        |  SELECT id, sum(CASE WHEN proj > 0 THEN 1::BIGINT << plane
        |                      ELSE 0::BIGINT END) AS bucket
        |  FROM proj GROUP BY id),
        |vs AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
        |dq AS (SELECT id,
        |         CASE WHEN scale = 0 THEN list_transform(v, x -> 0.0)
        |              ELSE list_transform(v, x -> round(x / scale) * scale)
        |         END AS v
        |       FROM (SELECT id, v,
        |               list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
        |             FROM vs)),
        |qb AS (SELECT id AS qid, bucket FROM buckets WHERE id < 10),
        |probed AS (
        |  SELECT qid, bucket FROM qb
        |  UNION ALL
        |  SELECT qid, xor(bucket, 1::BIGINT << p.plane) AS bucket
        |  FROM qb, (SELECT unnest(range(0, 8)) AS plane) p),
        |cands AS (
        |  SELECT DISTINCT q.qid, b.id AS cid
        |  FROM probed q JOIN buckets b ON b.bucket = q.bucket
        |  WHERE b.id <> q.qid),
        |scores AS (
        |  SELECT qid, cid,
        |    round(list_inner_product(a.v, b.v) /
        |      (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))),
        |      6) AS score
        |  FROM cands JOIN vs a ON a.id = qid JOIN dq b ON b.id = cid),
        |r AS (SELECT qid, cid, score,
        |        row_number() OVER (PARTITION BY qid
        |                           ORDER BY score DESC, cid) AS rnk
        |      FROM scores)
        |SELECT qid, cid, score, rnk FROM r WHERE rnk <= 3
        |ORDER BY qid, rnk""".stripMargin

  /** sq-L2 between two SQL list expressions, same inner-product
    * identity and association as `Similarity`'s d2 columns. */
  private def sqlD2(a: String, b: String) =
    s"list_inner_product($a,$a) + list_inner_product($b,$b)" +
      s" - 2*list_inner_product($a,$b)"

  /** Per-subspace PQ codebook chain for subspace `j` over dims
    * [lo, hi]: k-means CTEs over the TRAINING corpus `e` (seed ->
    * assign -> means -> final codebook c{j}1) and the encoding a{j}
    * (argmin code per vector) over `encFrom` — `e` for the one-shot
    * PQ oracles, the store's CURRENT generation for the standing-store
    * oracle whose codebook is pinned to the build corpus. Shared by
    * the PQ/IVF+PQ/store oracles, which differ only in how the
    * per-subspace distances p{j} are joined.
    */
  private def pqChainSql(j: Int, lo: Int, hi: Int, codes: Int,
      encFrom: String = "e", trainFrom: String = "e"): String = {
    val encCte =
      if (encFrom == "e") ""
      else s"$encFrom$j AS (SELECT id, v[$lo:$hi] AS v FROM $encFrom),\n"
    // Sampled training (trainFrom != "e", e.g. the passage oracles'
    // `tr` CTE): the codebook's seed/assign/means CTEs read the slice
    // of the TRAINING sample while the encoding a$j still covers every
    // vector — mirroring pqStoreBuild's trainPerMille contract.
    val trainCte =
      if (trainFrom == "e") ""
      else s"t$j AS (SELECT id, v[$lo:$hi] AS v FROM $trainFrom),\n"
    val trainRel = if (trainFrom == "e") s"e$j" else s"t$j"
    s"""e$j AS (SELECT id, v[$lo:$hi] AS v FROM e),
       |$trainCte""".stripMargin +
    s"""c${j}0 AS (SELECT id AS cid, v FROM $trainRel ORDER BY id LIMIT $codes),
       |d${j}1 AS (
       |  SELECT e.id, c.cid,
       |    row_number() OVER (PARTITION BY e.id
       |      ORDER BY ${sqlD2("e.v", "c.v")}, c.cid) AS rn
       |  FROM $trainRel e, c${j}0 c),
       |m$j AS (
       |  SELECT a.cid, u.dim, avg(u.x) AS x
       |  FROM (SELECT id, cid FROM d${j}1 WHERE rn = 1) a
       |  JOIN (SELECT id, generate_subscripts(v, 1) AS dim, unnest(v) AS x
       |        FROM $trainRel) u USING (id)
       |  GROUP BY a.cid, u.dim),
       |c${j}1 AS (SELECT cid, list(x ORDER BY dim) AS v FROM m$j GROUP BY cid),
       |$encCte""".stripMargin +
      s"""a$j AS (
         |  SELECT id, cid AS code FROM (
         |    SELECT e.id, c.cid,
         |      row_number() OVER (PARTITION BY e.id
         |        ORDER BY ${sqlD2("e.v", "c.v")}, c.cid) AS rn
         |    FROM $encFrom$j e, c${j}1 c) t WHERE rn = 1)""".stripMargin
  }

  /** Left-assoc ADC total + per-query rank + top-k tail shared by the
    * PQ oracles (splices after the p0..p{m-1} CTEs; the self-exclusion
    * lives in the p/cand CTEs' construction or here via qid <> cid).
    */
  private def pqTotalSql(topk: Int): String =
    s"""tot AS (
       |  SELECT p0.qid, p0.cid,
       |    round(((p0.d2 + p1.d2) + p2.d2) + p3.d2, 4) AS approx_d2
       |  FROM p0 JOIN p1 USING (qid, cid) JOIN p2 USING (qid, cid)
       |    JOIN p3 USING (qid, cid)
       |  WHERE p0.qid <> p0.cid),
       |rk AS (SELECT qid, cid, approx_d2,
       |         row_number() OVER (PARTITION BY qid
       |           ORDER BY approx_d2, cid) AS rnk
       |       FROM tot)
       |SELECT qid, cid, approx_d2, rnk FROM rk WHERE rnk <= $topk
       |ORDER BY qid, rnk""".stripMargin

  /** Generated oracle for sim_pq_adc_topk: per subspace j, the k-means
    * CTE chain (seed -> assign -> means -> final codebook c{j}1), the
    * corpus encoding a{j} (argmin code per vector), and the per-
    * subspace query-to-code d2 p{j}; the total ADC distance sums
    * p0..p3 in explicit left-to-right order so the double fold matches
    * the Spark side bit-for-bit.
    */
  private lazy val PqAdcTopkSql: String = {
    val (m, sub, codes, nq, topk) = (4, 16, 8, 10, 5)
    val per = (0 until m).map { j =>
      val (lo, hi) = (j * sub + 1, (j + 1) * sub)
      pqChainSql(j, lo, hi, codes) + ",\n" +
        s"""p$j AS (
           |  SELECT q.id AS qid, a.id AS cid, ${sqlD2("q.v", "c.v")} AS d2
           |  FROM (SELECT id, v[$lo:$hi] AS v FROM e WHERE id < $nq) q
           |  CROSS JOIN a$j a JOIN c${j}1 c ON c.cid = a.code)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
       |$per,
       |""".stripMargin + pqTotalSql(topk)
  }

  /** Generated oracle for sim_ivfpq_topk: the IVF coarse routing
    * (corpus to its nearest seed cell, queries to their nprobe
    * nearest) builds the candidate set, then the shared per-subspace
    * PQ chains score ONLY the candidates — p{j} joins `cand` instead
    * of cross-joining the corpus.
    */
  private lazy val IvfPqTopkSql: String = {
    val (m, sub, codes, nq, topk) = (4, 16, 8, 10, 5)
    val (ncells, nprobe) = (16, 2)
    val per = (0 until m).map { j =>
      val (lo, hi) = (j * sub + 1, (j + 1) * sub)
      pqChainSql(j, lo, hi, codes) + ",\n" +
        s"""p$j AS (
           |  SELECT cd.qid, cd.cid, ${sqlD2("qe.v", "cb.v")} AS d2
           |  FROM cand cd
           |  JOIN a$j a ON a.id = cd.cid
           |  JOIN c${j}1 cb ON cb.cid = a.code
           |  JOIN e$j qe ON qe.id = cd.qid)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
       |cc AS (SELECT id AS ccid, v FROM e WHERE id < $ncells),
       |cr AS (
       |  SELECT e.id, c.ccid,
       |    row_number() OVER (PARTITION BY e.id
       |      ORDER BY ${sqlD2("e.v", "c.v")}, c.ccid) AS rn
       |  FROM e, cc c),
       |cells AS (SELECT id, ccid AS cell FROM cr WHERE rn = 1),
       |probes AS (SELECT id AS qid, ccid AS cell FROM cr
       |           WHERE rn <= $nprobe AND id < $nq),
       |cand AS (
       |  SELECT p.qid, c.id AS cid FROM probes p JOIN cells c USING (cell)
       |  WHERE c.id <> p.qid),
       |$per,
       |""".stripMargin + pqTotalSql(topk)
  }

  /** Generated oracle for sim_pq_recall_at_k: the ADC top-5 (the
    * PqAdcTopkSql chain) intersected per query with the EXACT squared-
    * L2 top-5 — the quantization-quality gate a production deployment
    * runs before trusting a codebook. n_hit is an exact integer, so
    * the compare is order-free.
    */
  private lazy val PqRecallSql: String = {
    val (m, sub, codes, nq, topk) = (4, 16, 8, 10, 5)
    val per = (0 until m).map { j =>
      val (lo, hi) = (j * sub + 1, (j + 1) * sub)
      pqChainSql(j, lo, hi, codes) + ",\n" +
        s"""p$j AS (
           |  SELECT q.id AS qid, a.id AS cid, ${sqlD2("q.v", "c.v")} AS d2
           |  FROM (SELECT id, v[$lo:$hi] AS v FROM e WHERE id < $nq) q
           |  CROSS JOIN a$j a JOIN c${j}1 c ON c.cid = a.code)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
       |$per,
       |tot AS (
       |  SELECT p0.qid, p0.cid,
       |    round(((p0.d2 + p1.d2) + p2.d2) + p3.d2, 4) AS approx_d2
       |  FROM p0 JOIN p1 USING (qid, cid) JOIN p2 USING (qid, cid)
       |    JOIN p3 USING (qid, cid)
       |  WHERE p0.qid <> p0.cid),
       |adc AS (SELECT qid, cid FROM (
       |    SELECT qid, cid, row_number() OVER (PARTITION BY qid
       |      ORDER BY approx_d2, cid) AS rnk FROM tot) t WHERE rnk <= $topk),
       |ex AS (
       |  SELECT q.id AS qid, x.id AS cid,
       |    round(${sqlD2("q.v", "x.v")}, 4) AS d2
       |  FROM (SELECT id, v FROM e WHERE id < $nq) q CROSS JOIN e x
       |  WHERE x.id <> q.id),
       |exact AS (SELECT qid, cid FROM (
       |    SELECT qid, cid, row_number() OVER (PARTITION BY qid
       |      ORDER BY d2, cid) AS rnk FROM ex) t WHERE rnk <= $topk),
       |hits AS (
       |  SELECT a.qid, count(*) AS n_hit
       |  FROM adc a JOIN exact x USING (qid, cid) GROUP BY a.qid)
       |SELECT qs.qid, coalesce(h.n_hit, 0)::BIGINT AS n_hit
       |FROM (SELECT id AS qid FROM e WHERE id < $nq) qs
       |LEFT JOIN hits h USING (qid)
       |ORDER BY qid""".stripMargin
  }

  /** Generated oracle for sim_pq_store_upsert_topk: codebooks train on
    * the BUILD corpus `e` (the standing store's train-once contract),
    * but the encoding and the queries run over `cur` — the store's
    * current generation after the re-embedding upsert (every id % 7
    * vector negated; negation is exact in both engines' floats).
    */
  private lazy val PqStoreUpsertSql: String = {
    val (m, sub, codes, nq, topk) = (4, 16, 8, 10, 5)
    val per = (0 until m).map { j =>
      val (lo, hi) = (j * sub + 1, (j + 1) * sub)
      pqChainSql(j, lo, hi, codes, encFrom = "cur") + ",\n" +
        s"""p$j AS (
           |  SELECT q.id AS qid, a.id AS cid, ${sqlD2("q.v", "c.v")} AS d2
           |  FROM (SELECT id, v[$lo:$hi] AS v FROM cur WHERE id < $nq) q
           |  CROSS JOIN a$j a JOIN c${j}1 c ON c.cid = a.code)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
       |cur AS (
       |  SELECT id, CASE WHEN id % 7 = 0 THEN list_transform(v, x -> -x)
       |                  ELSE v END AS v
       |  FROM e),
       |$per,
       |""".stripMargin + pqTotalSql(topk)
  }

  /** Generated oracle for sim_pq_store_takedown: codebooks train on the
    * BUILD corpus `e`, but the encoding runs over `cur` — the store's
    * LIVE membership after the takedown (every id % 5 tombstoned, then
    * an incremental vacuum reclaims the tombstone wave carrying the
    * markers). The oracle EXCLUDES the tombstoned ids from the scored
    * side, so a probe that leaks a taken-down vector cannot pass —
    * the same trick as sim_ann_auto_stale_reroute. Queries keep their
    * own vectors (tombstoned ids may still ask, never be found).
    */
  private lazy val PqStoreTakedownSql: String = {
    val (m, sub, codes, nq, topk) = (4, 16, 8, 10, 5)
    val per = (0 until m).map { j =>
      val (lo, hi) = (j * sub + 1, (j + 1) * sub)
      pqChainSql(j, lo, hi, codes, encFrom = "cur") + ",\n" +
        s"""p$j AS (
           |  SELECT q.id AS qid, a.id AS cid, ${sqlD2("q.v", "c.v")} AS d2
           |  FROM (SELECT id, v[$lo:$hi] AS v FROM e WHERE id < $nq) q
           |  CROSS JOIN a$j a JOIN c${j}1 c ON c.cid = a.code)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
       |cur AS (SELECT id, v FROM e WHERE id % 5 <> 0),
       |$per,
       |""".stripMargin + pqTotalSql(topk)
  }

  /** Generated oracle for sim_ivfpq_store_topk: the standing store's
    * train-once COARSE quantizer is a real one-round Lloyd over the
    * full vectors (seed cc0 = the `cells` lowest ids, assign, per-dim
    * means -> cc1), the corpus routes to its nearest trained cell,
    * each query to its `nprobe` nearest, and the shared per-subspace
    * PQ chains ADC-score only the candidate pairs — the routed probe
    * must be bit-identical to this full re-derivation.
    */
  private lazy val IvfPqStoreSql: String = {
    val (m, sub, codes, nq, topk) = (4, 16, 8, 10, 5)
    val (ncells, nprobe) = (16, 2)
    val per = (0 until m).map { j =>
      val (lo, hi) = (j * sub + 1, (j + 1) * sub)
      pqChainSql(j, lo, hi, codes) + ",\n" +
        s"""p$j AS (
           |  SELECT cd.qid, cd.cid, ${sqlD2("qe.v", "cb.v")} AS d2
           |  FROM cand cd
           |  JOIN a$j a ON a.id = cd.cid
           |  JOIN c${j}1 cb ON cb.cid = a.code
           |  JOIN e$j qe ON qe.id = cd.qid)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
       |cc0 AS (SELECT id AS ccid, v FROM e ORDER BY id LIMIT $ncells),
       |cd1 AS (
       |  SELECT e.id, c.ccid,
       |    row_number() OVER (PARTITION BY e.id
       |      ORDER BY ${sqlD2("e.v", "c.v")}, c.ccid) AS rn
       |  FROM e, cc0 c),
       |cm AS (
       |  SELECT a.ccid, u.dim, avg(u.x) AS x
       |  FROM (SELECT id, ccid FROM cd1 WHERE rn = 1) a
       |  JOIN (SELECT id, generate_subscripts(v, 1) AS dim, unnest(v) AS x
       |        FROM e) u USING (id)
       |  GROUP BY a.ccid, u.dim),
       |cc1 AS (SELECT ccid, list(x ORDER BY dim) AS v FROM cm GROUP BY ccid),
       |cr AS (
       |  SELECT e.id, c.ccid,
       |    row_number() OVER (PARTITION BY e.id
       |      ORDER BY ${sqlD2("e.v", "c.v")}, c.ccid) AS rn
       |  FROM e, cc1 c),
       |cells AS (SELECT id, ccid AS cell FROM cr WHERE rn = 1),
       |probes AS (SELECT id AS qid, ccid AS cell FROM cr
       |           WHERE rn <= $nprobe AND id < $nq),
       |cand AS (
       |  SELECT p.qid, c.id AS cid FROM probes p JOIN cells c USING (cell)
       |  WHERE c.id <> p.qid),
       |$per,
       |""".stripMargin + pqTotalSql(topk)
  }

  /** Generated oracle for sim_pq_rerank_topk: the ADC chain nominates
    * the kCand=20 candidates per query (code ids only), then the final
    * order is the EXACT squared-L2 over just those candidates — the
    * production retrieval shape where the approximation decides who is
    * scored, never the final ranking.
    */
  private lazy val PqRerankSql: String = {
    val (m, sub, codes, nq, kcand, topk) = (4, 16, 8, 10, 20, 5)
    val per = (0 until m).map { j =>
      val (lo, hi) = (j * sub + 1, (j + 1) * sub)
      pqChainSql(j, lo, hi, codes) + ",\n" +
        s"""p$j AS (
           |  SELECT q.id AS qid, a.id AS cid, ${sqlD2("q.v", "c.v")} AS d2
           |  FROM (SELECT id, v[$lo:$hi] AS v FROM e WHERE id < $nq) q
           |  CROSS JOIN a$j a JOIN c${j}1 c ON c.cid = a.code)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
       |$per,
       |tot AS (
       |  SELECT p0.qid, p0.cid,
       |    round(((p0.d2 + p1.d2) + p2.d2) + p3.d2, 4) AS approx_d2
       |  FROM p0 JOIN p1 USING (qid, cid) JOIN p2 USING (qid, cid)
       |    JOIN p3 USING (qid, cid)
       |  WHERE p0.qid <> p0.cid),
       |adcc AS (SELECT qid, cid FROM (
       |    SELECT qid, cid, row_number() OVER (PARTITION BY qid
       |      ORDER BY approx_d2, cid) AS rnk FROM tot) t
       |  WHERE rnk <= $kcand),
       |ex AS (
       |  SELECT a.qid, a.cid, round(${sqlD2("q.v", "x.v")}, 4) AS d2
       |  FROM adcc a JOIN e q ON q.id = a.qid JOIN e x ON x.id = a.cid)
       |SELECT qid, cid, d2, rnk FROM (
       |  SELECT qid, cid, d2, row_number() OVER (PARTITION BY qid
       |    ORDER BY d2, cid) AS rnk FROM ex) t
       |WHERE rnk <= $topk
       |ORDER BY qid, rnk""".stripMargin
  }

  /** Generated oracle for search_passage_topk — the full passage
    * retrieval re-derivation: chunk the documents (window 32, stride
    * 24, the pl_chunk_store chain), featurize every chunk AND the
    * literal query with the signed bag-of-words projection (one
    * md5-derived 60-bit hash per token, dimension d sums ±1 by bit d —
    * exact integer sums, order-free), pack ids as doc*100000+seq,
    * train the 8-cell coarse quantizer and the 4×(4-dim, 8-code)
    * subspace codebooks on the chunk vectors, route the query to its
    * 2 nearest cells, ADC-score only those cells' chunks, take the
    * top-50 passages (rounded d2, cid tie-break), and aggregate to
    * docs: best passage (min d2, lowest seq on ties) ranks the doc.
    */
  private lazy val PassageTopkSql: String = passageOracleSql(None)

  /** [[PassageTopkSql]] with the final order EXACT: the ADC chain's
    * `rk` ranking nominates kCand=100 candidate passages, the exact
    * squared-L2 over the featurized chunk vectors (`e` — the oracle
    * already holds the floats) re-ranks them, and the doc fold runs on
    * the exact distances.
    */
  private lazy val PassageRerankSql: String = passageOracleSql(Some(100))

  /** [[PassageRerankSql]] with the rerank LEARNED: the exact d2 trains
    * a closed-form 2-feature least squares on the even-cid candidate
    * half (x1 = 4-dp fixed-point ADC distance, x2 = query-term
    * occurrence count in the passage window), and every candidate
    * ranks by the fitted score in exact HUGEINT integer algebra —
    * `sign(det) * (n1*x1 + n2*x2)` orders like the prediction without
    * a division, so no float crosses the ranking. Mirrors
    * [[graft.streaming.Streams.passageLearnedRerankTopK]]'s
    * DECIMAL(38,0) algebra value-for-value.
    */
  private lazy val PassageLearnedSql: String =
    passageOracleSql(Some(100), learned = true)

  private def passageOracleSql(rerankKCand: Option[Int],
      learned: Boolean = false): String = {
    val (m, sub, codes, cells, nprobe, kp, kd) = (4, 4, 8, 8, 2, 50, 10)
    val per = (0 until m).map { j =>
      val (lo, hi) = (j * sub + 1, (j + 1) * sub)
      pqChainSql(j, lo, hi, codes, trainFrom = "tr") + ",\n" +
        s"""p$j AS (
           |  SELECT cd.cid, ${sqlD2("q.v", "cb.v")} AS d2
           |  FROM cand cd
           |  JOIN a$j a ON a.id = cd.cid
           |  JOIN c${j}1 cb ON cb.cid = a.code,
           |  (SELECT v[$lo:$hi] AS v FROM qv) q)""".stripMargin
    }.mkString(",\n")
    // The doc fold reads `fold` = the kept passage list: the routed ADC
    // ranking directly, or (rerank form) the exact re-ranking of its
    // top-kCand nomination — both carry (cid, best-metric AS approx_d2,
    // rnk) so the fold below is shared verbatim.
    val fold = (rerankKCand, learned) match {
      case (None, _) =>
        s"""foldsrc AS (SELECT cid, approx_d2, rnk FROM rk),"""
      case (Some(kc), false) =>
        s"""adcc AS (SELECT cid FROM rk WHERE rnk <= $kc),
           |exd AS (
           |  SELECT a.cid,
           |    round(list_inner_product(q.v,q.v) + list_inner_product(x.v,x.v)
           |      - 2*list_inner_product(q.v,x.v), 4) AS d2
           |  FROM adcc a JOIN e x ON x.id = a.cid, qv q),
           |foldsrc AS (SELECT cid, d2 AS approx_d2,
           |         row_number() OVER (ORDER BY d2, cid) AS rnk
           |       FROM exd),""".stripMargin
      case (Some(kc), true) =>
        val qlist = PassageQueryText.trim.split("\\s+")
          .filter(_.nonEmpty).distinct
          .map(t => s"'$t'").mkString("[", ",", "]")
        s"""adcc AS (SELECT cid, approx_d2 FROM rk WHERE rnk <= $kc),
           |exd AS (
           |  SELECT a.cid, a.approx_d2,
           |    round(list_inner_product(q.v,q.v) + list_inner_product(x.v,x.v)
           |      - 2*list_inner_product(q.v,x.v), 4) AS d2
           |  FROM adcc a JOIN e x ON x.id = a.cid, qv q),
           |ov AS (
           |  SELECT doc_id * 100000 + seq AS id,
           |    len(list_filter(list_slice(l, seq*24 + 1, seq*24 + 32),
           |      t -> list_contains($qlist, t)))::BIGINT AS x2
           |  FROM ch),
           |ftr AS (
           |  SELECT f.cid,
           |    CAST(round(f.approx_d2 * 10000) AS BIGINT) AS x1,
           |    o.x2,
           |    CAST(round(f.d2 * 10000) AS BIGINT) AS y
           |  FROM exd f JOIN ov o ON o.id = f.cid),
           |nrm AS (
           |  SELECT coalesce(sum(CAST(x1 AS HUGEINT) * x1), 0) AS s11,
           |         coalesce(sum(CAST(x1 AS HUGEINT) * x2), 0) AS s12,
           |         coalesce(sum(CAST(x2 AS HUGEINT) * x2), 0) AS s22,
           |         coalesce(sum(CAST(x1 AS HUGEINT) * y), 0)  AS b1,
           |         coalesce(sum(CAST(x2 AS HUGEINT) * y), 0)  AS b2
           |  FROM ftr WHERE cid % 2 = 0),
           |wts AS (
           |  SELECT s11*s22 - s12*s12 AS det,
           |         s22*b1 - s12*b2 AS n1,
           |         s11*b2 - s12*b1 AS n2
           |  FROM nrm),
           |sc AS (
           |  SELECT f.cid,
           |    CASE WHEN w.det = 0 THEN CAST(f.x1 AS HUGEINT)
           |         WHEN w.det < 0 THEN -(w.n1*f.x1 + w.n2*f.x2)
           |         ELSE w.n1*f.x1 + w.n2*f.x2 END AS s
           |  FROM ftr f, wts w),
           |foldsrc AS (
           |  SELECT cid, CAST(rnk AS DOUBLE) AS approx_d2, rnk FROM (
           |    SELECT cid, row_number() OVER (ORDER BY s, cid) AS rnk
           |    FROM sc)),""".stripMargin
    }
    s"""WITH t AS (
       |  SELECT doc_id,
       |    list_filter(string_split(trim(text, ' '), ' '), x -> x <> '') AS l
       |  FROM documents),
       |tn AS (SELECT doc_id, l, len(l) AS n FROM t WHERE len(l) > 0),
       |tc AS (
       |  SELECT doc_id, l,
       |    CASE WHEN n <= 32 THEN 1 ELSE 1 + (n - 32 + 23) // 24 END AS nc
       |  FROM tn),
       |ch AS (SELECT doc_id, unnest(range(nc)) AS seq, l FROM tc),
       |ctk AS (
       |  SELECT doc_id, seq,
       |    unnest(list_slice(l, seq*24 + 1, seq*24 + 32)) AS tok
       |  FROM ch),
       |th AS (
       |  SELECT doc_id, seq,
       |    ('0x' || substr(md5('cv:' || tok), 1, 15))::BIGINT AS h
       |  FROM ctk),
       |feat AS (
       |  SELECT doc_id, seq, dd.d AS dim,
       |    sum(CASE WHEN ((h >> dd.d) & 1) = 1 THEN 1 ELSE -1 END)::DOUBLE
       |      AS x
       |  FROM th, (SELECT unnest(range(0, 16)) AS d) dd
       |  GROUP BY doc_id, seq, dd.d),
       |e AS (
       |  SELECT doc_id * 100000 + seq AS id, list(x ORDER BY dim) AS v
       |  FROM feat GROUP BY doc_id, seq),
       |qtk AS (SELECT unnest(list_filter(
       |    string_split(trim('$PassageQueryText', ' '), ' '), x -> x <> ''))
       |    AS tok),
       |qth AS (SELECT ('0x' || substr(md5('cv:' || tok), 1, 15))::BIGINT
       |          AS h
       |        FROM qtk),
       |qfeat AS (
       |  SELECT dd.d AS dim,
       |    sum(CASE WHEN ((h >> dd.d) & 1) = 1 THEN 1 ELSE -1 END)::DOUBLE
       |      AS x
       |  FROM qth, (SELECT unnest(range(0, 16)) AS d) dd GROUP BY dd.d),
       |qv AS (SELECT list(x ORDER BY dim) AS v FROM qfeat),
       |tr AS (SELECT id, v FROM e
       |       WHERE ('0x' || substr(md5(id::VARCHAR), 1, 15))::BIGINT
       |             % 1000 < $PassageTrainPerMille),
       |cc0 AS (SELECT id AS ccid, v FROM tr ORDER BY id LIMIT $cells),
       |cd1 AS (
       |  SELECT e.id, c.ccid,
       |    row_number() OVER (PARTITION BY e.id
       |      ORDER BY ${sqlD2("e.v", "c.v")}, c.ccid) AS rn
       |  FROM tr e, cc0 c),
       |cm AS (
       |  SELECT a.ccid, u.dim, avg(u.x) AS x
       |  FROM (SELECT id, ccid FROM cd1 WHERE rn = 1) a
       |  JOIN (SELECT id, generate_subscripts(v, 1) AS dim, unnest(v) AS x
       |        FROM tr) u USING (id)
       |  GROUP BY a.ccid, u.dim),
       |cc1 AS (SELECT ccid, list(x ORDER BY dim) AS v FROM cm GROUP BY ccid),
       |cr AS (
       |  SELECT e.id, c.ccid,
       |    row_number() OVER (PARTITION BY e.id
       |      ORDER BY ${sqlD2("e.v", "c.v")}, c.ccid) AS rn
       |  FROM e, cc1 c),
       |cells AS (SELECT id, ccid AS cell FROM cr WHERE rn = 1),
       |qr AS (
       |  SELECT c.ccid,
       |    row_number() OVER (ORDER BY ${sqlD2("q.v", "c.v")}, c.ccid) AS rn
       |  FROM qv q, cc1 c),
       |probes AS (SELECT ccid AS cell FROM qr WHERE rn <= $nprobe),
       |cand AS (SELECT c.id AS cid FROM probes p JOIN cells c USING (cell)),
       |$per,
       |tot AS (
       |  SELECT p0.cid,
       |    round(((p0.d2 + p1.d2) + p2.d2) + p3.d2, 4) AS approx_d2
       |  FROM p0 JOIN p1 USING (cid) JOIN p2 USING (cid)
       |    JOIN p3 USING (cid)),
       |rk AS (SELECT cid, approx_d2,
       |         row_number() OVER (ORDER BY approx_d2, cid) AS rnk
       |       FROM tot),
       |$fold
       |da AS (SELECT cid // 100000 AS doc_id, cid % 100000 AS chunk_seq,
       |         approx_d2
       |       FROM foldsrc WHERE rnk <= $kp),
       |db AS (
       |  SELECT doc_id, min(approx_d2) AS best_d2,
       |    count(*)::BIGINT AS n_passages
       |  FROM da GROUP BY doc_id),
       |bs AS (
       |  SELECT doc_id, chunk_seq AS best_seq FROM (
       |    SELECT doc_id, chunk_seq,
       |      row_number() OVER (PARTITION BY doc_id
       |        ORDER BY approx_d2, chunk_seq) AS rn
       |    FROM da) WHERE rn = 1),
       |fin AS (
       |  SELECT db.doc_id, bs.best_seq, db.best_d2, db.n_passages,
       |    row_number() OVER (ORDER BY db.best_d2, db.doc_id) AS rnk
       |  FROM db JOIN bs USING (doc_id))
       |SELECT doc_id, best_seq, ${
         if (learned) "CAST(best_d2 AS BIGINT) AS best_rank"
         else "best_d2"
       }, n_passages, rnk
       |FROM fin WHERE rnk <= $kd ORDER BY rnk""".stripMargin
  }

  /** Generated oracle for search_passage_recall_at_k: the chunk-vector
    * store's ADC top-5 under the SAMPLED (250 per-mille) passage
    * codebook, intersected per query with the EXACT squared-L2 top-5
    * through the same chunk featurization — the retrieval-quality gate
    * for sampled passage training (`sim_pq_recall_at_k` covers only
    * the full-trained doc-PQ store; until this row a sampling change
    * that degraded passage recall could not flip anything). Queries
    * are the corpus's own leading passages (chunk 0 of the 10 lowest
    * doc ids, self excluded both sides); n_hit is an exact integer, so
    * the compare is order-free.
    */
  private lazy val PassageRecallSql: String = {
    val (m, sub, codes, nq, topk) = (4, 4, 8, 10, 5)
    val per = (0 until m).map { j =>
      val (lo, hi) = (j * sub + 1, (j + 1) * sub)
      pqChainSql(j, lo, hi, codes, trainFrom = "tr") + ",\n" +
        s"""p$j AS (
           |  SELECT q.id AS qid, a.id AS cid, ${sqlD2("q.v", "c.v")} AS d2
           |  FROM (SELECT id, v[$lo:$hi] AS v FROM qs) q
           |  CROSS JOIN a$j a JOIN c${j}1 c ON c.cid = a.code)""".stripMargin
    }.mkString(",\n")
    s"""WITH t AS (
       |  SELECT doc_id,
       |    list_filter(string_split(trim(text, ' '), ' '), x -> x <> '') AS l
       |  FROM documents),
       |tn AS (SELECT doc_id, l, len(l) AS n FROM t WHERE len(l) > 0),
       |tc AS (
       |  SELECT doc_id, l,
       |    CASE WHEN n <= 32 THEN 1 ELSE 1 + (n - 32 + 23) // 24 END AS nc
       |  FROM tn),
       |ch AS (SELECT doc_id, unnest(range(nc)) AS seq, l FROM tc),
       |ctk AS (
       |  SELECT doc_id, seq,
       |    unnest(list_slice(l, seq*24 + 1, seq*24 + 32)) AS tok
       |  FROM ch),
       |th AS (
       |  SELECT doc_id, seq,
       |    ('0x' || substr(md5('cv:' || tok), 1, 15))::BIGINT AS h
       |  FROM ctk),
       |feat AS (
       |  SELECT doc_id, seq, dd.d AS dim,
       |    sum(CASE WHEN ((h >> dd.d) & 1) = 1 THEN 1 ELSE -1 END)::DOUBLE
       |      AS x
       |  FROM th, (SELECT unnest(range(0, 16)) AS d) dd
       |  GROUP BY doc_id, seq, dd.d),
       |e AS (
       |  SELECT doc_id * 100000 + seq AS id, list(x ORDER BY dim) AS v
       |  FROM feat GROUP BY doc_id, seq),
       |tr AS (SELECT id, v FROM e
       |       WHERE ('0x' || substr(md5(id::VARCHAR), 1, 15))::BIGINT
       |             % 1000 < $PassageTrainPerMille),
       |qs AS (SELECT id, v FROM e
       |       WHERE id % 100000 = 0 AND id < ${nq * 100000L}),
       |$per,
       |tot AS (
       |  SELECT p0.qid, p0.cid,
       |    round(((p0.d2 + p1.d2) + p2.d2) + p3.d2, 4) AS approx_d2
       |  FROM p0 JOIN p1 USING (qid, cid) JOIN p2 USING (qid, cid)
       |    JOIN p3 USING (qid, cid)
       |  WHERE p0.qid <> p0.cid),
       |adc AS (SELECT qid, cid FROM (
       |    SELECT qid, cid, row_number() OVER (PARTITION BY qid
       |      ORDER BY approx_d2, cid) AS rnk FROM tot) t WHERE rnk <= $topk),
       |ex AS (
       |  SELECT q.id AS qid, x.id AS cid,
       |    round(${sqlD2("q.v", "x.v")}, 4) AS d2
       |  FROM qs q CROSS JOIN e x WHERE x.id <> q.id),
       |exact AS (SELECT qid, cid FROM (
       |    SELECT qid, cid, row_number() OVER (PARTITION BY qid
       |      ORDER BY d2, cid) AS rnk FROM ex) t WHERE rnk <= $topk),
       |hits AS (
       |  SELECT a.qid, count(*) AS n_hit
       |  FROM adc a JOIN exact x USING (qid, cid) GROUP BY a.qid)
       |SELECT qs.id AS qid, coalesce(h.n_hit, 0)::BIGINT AS n_hit
       |FROM qs LEFT JOIN hits h ON h.qid = qs.id
       |ORDER BY qid""".stripMargin
  }

  /** Generated oracle for sim_pq_store_stats: the store lifecycle is
    * build(cells=16) -> re-embed every 7th id (negated vector, routed
    * to its NEW cell at append) -> tombstone every 5th id, and the
    * stats row is then fully derivable: 3 committed batches,
    * live = N - |%5|, tombstoned = |%5|, superseded = |%7| + |%5|
    * (each mutated id's older generations), occupied_cells =
    * count(distinct cell) over the LIVE rows' current vectors routed
    * against the one-round Lloyd coarse (negated where re-embedded),
    * and the REROUTE ADVISORY at maxRowsPerCell=3 / hysteresis=0.5:
    * advised exactly when live > 3 x occupied, target
    * ceil(live / 1.5).
    */
  private lazy val PqStoreStatsSql: String = {
    val cells = 16
    s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
       |cc0 AS (SELECT id AS ccid, v FROM e ORDER BY id LIMIT $cells),
       |cd1 AS (
       |  SELECT e.id, c.ccid,
       |    row_number() OVER (PARTITION BY e.id
       |      ORDER BY ${sqlD2("e.v", "c.v")}, c.ccid) AS rn
       |  FROM e, cc0 c),
       |cm AS (
       |  SELECT a.ccid, u.dim, avg(u.x) AS x
       |  FROM (SELECT id, ccid FROM cd1 WHERE rn = 1) a
       |  JOIN (SELECT id, generate_subscripts(v, 1) AS dim, unnest(v) AS x
       |        FROM e) u USING (id)
       |  GROUP BY a.ccid, u.dim),
       |cc1 AS (SELECT ccid, list(x ORDER BY dim) AS v FROM cm GROUP BY ccid),
       |cur AS (
       |  SELECT id, CASE WHEN id % 7 = 0 THEN list_transform(v, x -> -x)
       |                  ELSE v END AS v
       |  FROM e WHERE id % 5 <> 0),
       |crc AS (
       |  SELECT c.id, cc.ccid,
       |    row_number() OVER (PARTITION BY c.id
       |      ORDER BY ${sqlD2("c.v", "cc.v")}, cc.ccid) AS rn
       |  FROM cur c, cc1 cc),
       |lv AS (SELECT id, ccid AS cell FROM crc WHERE rn = 1),
       |agg AS (
       |  SELECT count(*) AS live_ids,
       |    (SELECT count(*) FROM e WHERE id % 5 = 0) AS tombstoned_ids,
       |    (SELECT count(*) FROM e WHERE id % 7 = 0)
       |      + (SELECT count(*) FROM e WHERE id % 5 = 0) AS superseded_rows,
       |    count(DISTINCT cell) AS occupied_cells
       |  FROM lv)
       |SELECT 3 AS committed_batches, live_ids::BIGINT AS live_ids,
       |  tombstoned_ids::BIGINT AS tombstoned_ids,
       |  superseded_rows::BIGINT AS superseded_rows,
       |  occupied_cells::BIGINT AS occupied_cells,
       |  live_ids > 3 * occupied_cells AS reroute_advised,
       |  CASE WHEN live_ids > 3 * occupied_cells
       |       THEN ceil(live_ids / 1.5)::BIGINT ELSE 0 END AS advised_cells
       |FROM agg""".stripMargin
  }

  private def pqStatsBuild(s: SparkSession, d: String): Unit = {
    val dir = storeDir("pq-st-q") + "/store"
    val emb = embOf(s, d)
    Similarity.pqStoreBuild(emb, dir, m = 4, subDims = 16, codes = 8,
      iters = 2, cells = 16)
    Similarity.pqStoreAppend(emb.filter(col("id") % 7 === 0)
      .select(col("id"), transform(col("vec"), x => -x).as("vec")), dir)
    Similarity.pqStoreDelete(s, dir,
      emb.filter(col("id") % 5 === 0).select(col("id"))): Unit
  }

  private def pqStatsProbe(s: SparkSession, d: String): DataFrame =
    Similarity.pqStoreStats(s, storePath("pq-st-q") + "/store",
      maxRowsPerCell = 3, hysteresis = 0.5)

  /** Oracle for the PASSAGE-LEVEL hybrid: the BM25 chain's CTEs spliced
    * with the passage chain's (their tokenized-documents CTE `t` is
    * textually identical, so the passage chain drops its copy), the
    * passage doc ranking `fin` standing in as the fusion's dense list,
    * under the shared RRF tail.
    */
  private lazy val HybridPassageRrfSql: String = {
    val bmChain = Bm25IndexSql.substring(0,
      Bm25IndexSql.lastIndexOf("SELECT doc_id, n_matched"))
    val p0 = PassageTopkSql
    val tnAt = p0.indexOf("tn AS")
    require(tnAt > 0 && p0.substring(0, tnAt).contains("FROM documents)"),
      "passage oracle prologue changed - re-check the hybrid splice")
    val pChain0 = "," + p0.substring(tnAt)
    val pChain = pChain0.substring(0,
      pChain0.lastIndexOf("SELECT doc_id, best_seq"))
    bmChain + pChain + RrfFusionTail.replace(
      "anntop AS (SELECT cid, rnk FROM r WHERE rnk <= 20)",
      "anntop AS (SELECT doc_id AS cid, rnk FROM fin WHERE rnk <= 20)")
  }

  private def hybridPassageBuild(s: SparkSession, d: String): Unit =
    // Index track ∥ passage track (chunk store -> chunk-vector store,
    // chained inside its track: the vectors featurize the chunk
    // store's committed state).
    graft.Par.run2(
      idxBuild("hyb-ps-i")(s, d),
      {
        val root = storeDir("hyb-ps-c")
        val (ck, vec) = (s"$root/chunks", s"$root/vec")
        val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
        graft.streaming.Streams.chunkIngestBatch(base, ck, "doc_id",
          "text", window = 32, overlap = 8): Unit
        require(graft.streaming.Streams.chunkVectorIngestBatch(s, ck, vec,
          base.select(col("doc_id")), dims = 16, m = 4, codes = 8,
          cells = 8, trainPerMille = PassageTrainPerMille) > 0,
          "passage-hybrid chunk-vector build must insert")
      }): Unit

  private def hybridPassageProbe(s: SparkSession, d: String): DataFrame =
    graft.streaming.Streams.hybridTopKPassage(s,
      storePath("hyb-ps-i") + "/index", storePath("hyb-ps-c") + "/vec",
      Seq("spark", "vector", "stream", "merge"), PassageQueryText,
      dims = 16, k = 10, kEach = 20, nprobe = 2)

  /** Generated oracle for sim_pq_reroute_topk: the store builds
    * UNROUTED (per-subspace chains over `e`), then the reroute trains
    * the coarse quantizer on the code RECONSTRUCTIONS (each id's
    * per-subspace centroids concatenated — `recon`), stamps every live
    * row's cell from its reconstruction, and the probe routes each
    * query by its REAL vector to its nprobe nearest reconstruction-
    * trained cells. The ADC scores themselves still come from the
    * untouched subspace codebooks — routing from quantized data prunes
    * candidates, never perturbs distances.
    */
  private lazy val PqRerouteSql: String = {
    val (m, sub, codes, nq, topk) = (4, 16, 8, 10, 5)
    val (ncells, nprobe) = (16, 2)
    val per = (0 until m).map { j =>
      val (lo, hi) = (j * sub + 1, (j + 1) * sub)
      pqChainSql(j, lo, hi, codes) + ",\n" +
        s"""p$j AS (
           |  SELECT cd.qid, cd.cid, ${sqlD2("qe.v", "cb.v")} AS d2
           |  FROM cand cd
           |  JOIN a$j a ON a.id = cd.cid
           |  JOIN c${j}1 cb ON cb.cid = a.code
           |  JOIN e$j qe ON qe.id = cd.qid)""".stripMargin
    }.mkString(",\n")
    val reconJoins = (1 until m).map(j =>
      s"  JOIN a$j ON a$j.id = a0.id JOIN c${j}1 r$j ON r$j.cid = a$j.code")
      .mkString("\n")
    val reconCat = (1 until m).map(j => s"r$j.v").mkString(" || ")
    s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
       |$per,
       |recon AS (
       |  SELECT a0.id, r0.v || $reconCat AS v
       |  FROM a0 JOIN c01 r0 ON r0.cid = a0.code
       |$reconJoins),
       |cc0 AS (SELECT id AS ccid, v FROM recon ORDER BY id LIMIT $ncells),
       |cd1 AS (
       |  SELECT r.id, c.ccid,
       |    row_number() OVER (PARTITION BY r.id
       |      ORDER BY ${sqlD2("r.v", "c.v")}, c.ccid) AS rn
       |  FROM recon r, cc0 c),
       |cm AS (
       |  SELECT a.ccid, u.dim, avg(u.x) AS x
       |  FROM (SELECT id, ccid FROM cd1 WHERE rn = 1) a
       |  JOIN (SELECT id, generate_subscripts(v, 1) AS dim, unnest(v) AS x
       |        FROM recon) u USING (id)
       |  GROUP BY a.ccid, u.dim),
       |cc1 AS (SELECT ccid, list(x ORDER BY dim) AS v FROM cm GROUP BY ccid),
       |cells AS (
       |  SELECT id, ccid AS cell FROM (
       |    SELECT r.id, c.ccid,
       |      row_number() OVER (PARTITION BY r.id
       |        ORDER BY ${sqlD2("r.v", "c.v")}, c.ccid) AS rn
       |    FROM recon r, cc1 c) t WHERE rn = 1),
       |probes AS (
       |  SELECT qid, ccid AS cell FROM (
       |    SELECT e.id AS qid, c.ccid,
       |      row_number() OVER (PARTITION BY e.id
       |        ORDER BY ${sqlD2("e.v", "c.v")}, c.ccid) AS rn
       |    FROM e, cc1 c WHERE e.id < $nq) t WHERE rn <= $nprobe),
       |cand AS (
       |  SELECT p.qid, c.id AS cid FROM probes p JOIN cells c USING (cell)
       |  WHERE c.id <> p.qid),
       |""".stripMargin + pqTotalSql(topk)
  }

  private def pqRerouteBuild(s: SparkSession, d: String): Unit = {
    val dir = storeDir("pq-rr2") + "/store"
    Similarity.pqStoreBuild(embOf(s, d), dir, m = 4, subDims = 16,
      codes = 8, iters = 2)
    Similarity.pqStoreReroute(s, dir, cells = 16)
  }

  private def pqRerouteProbe(s: SparkSession, d: String): DataFrame =
    Similarity.pqStoreTopK(s, storePath("pq-rr2") + "/store",
        embOf(s, d).filter(col("id") < 10), k = 5, nprobe = 2)
      .presentSorted(col("qid"), col("rnk"))

  /** Verified-pair -> transitive-component chain shared by the cluster
    * oracles: Jaccard-verified pairs from `cand`/`hset`, symmetric edge
    * closure by recursive reachability, `comp` = (node, component =
    * min reachable id). Spliced after [[MinhashCandPrefix]] (with its
    * WITH turned RECURSIVE).
    */
  private val ClusterCompChain =
    """sizes AS (SELECT doc_id, count(*) AS n_sh FROM hset GROUP BY doc_id),
      |inter AS (
      |  SELECT c.a, c.b, count(*) AS n_inter
      |  FROM cand c
      |  JOIN hset sa ON sa.doc_id = c.a
      |  JOIN hset sb ON sb.doc_id = c.b AND sb.bh = sa.bh
      |  GROUP BY c.a, c.b),
      |pairs AS (
      |  SELECT i.a, i.b FROM inter i
      |  JOIN sizes za ON za.doc_id = i.a
      |  JOIN sizes zb ON zb.doc_id = i.b
      |  WHERE n_inter / (za.n_sh + zb.n_sh - n_inter) >= 0.5),
      |edges AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
      |nodes AS (SELECT DISTINCT a AS node FROM edges),
      |reach AS (
      |  SELECT node, node AS r FROM nodes
      |  UNION
      |  SELECT reach.node, e.b AS r FROM reach JOIN edges e ON e.a = reach.r),
      |comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node)
      |""".stripMargin

  /** Generated oracle prefix shared by the MinHash queries: signatures
    * from the SAME universal-hash coefficients as the Spark side, LSH
    * banding, and the `cand` candidate-pair CTE.
    */
  private lazy val MinhashCandPrefix: String = {
    val p = Dedup.MinhashPrime
    val (k, bands, rows) = (128, 16, 8)
    val sigCols = Dedup.minhashCoeffs(k).zipWithIndex.map {
      case ((a, b), i) => s"    min((bh * $a + $b) % $p) AS mh$i"
    }.mkString(",\n")
    // Same 60-bit md5 truncation as Dedup.lshBandKeys — the candidate
    // sets must be BIT-identical, including on a (negligible but
    // possible) truncated-key collision.
    val bandSelects = (0 until bands).map { b =>
      val cols = (0 until rows).map(r => s"mh${b * rows + r}")
        .mkString(" || '_' || ")
      s"  SELECT doc_id, $b AS band, " +
        s"('0x' || substr(md5($cols), 1, 15))::BIGINT AS band_key FROM sig"
    }.mkString("\n  UNION ALL\n")
    NearDupCte +
      s""", bhset AS (
         |  SELECT doc_id, bh % $p AS bh FROM hset),
         |sig AS (
         |  SELECT doc_id,
         |$sigCols
         |  FROM bhset GROUP BY doc_id),
         |bands AS (
         |$bandSelects),
         |cand AS (
         |  SELECT DISTINCT xa.doc_id AS a, xb.doc_id AS b
         |  FROM bands xa JOIN bands xb
         |    ON xa.band = xb.band AND xa.band_key = xb.band_key
         |   AND xa.doc_id < xb.doc_id),
         |""".stripMargin
  }

  /** Oracle for txt_bpe_merges: `BpeRounds` unrolled merge rounds.
    * Each round: adjacent-pair counts over the word-type vocabulary
    * (weighted by word frequency), argmax (count desc, pair asc),
    * then the TRUE left-to-right greedy merge via `list_reduce` with
    * the same last-symbol-suffix sentinel the Spark fold uses. Rounds
    * after an empty argmax stay empty (early stop on both sides).
    */
  /** Misspellings probed by search_fuzzy_term — one per high-frequency
    * corpus token (substitution, deletion, insertion, substitution).
    */
  private val FuzzyTypos = Seq("spork", "strean", "mergs", "vectr")

  private val BpeRounds = 6

  /** The shared learn-chain CTEs (word-type vocab `w`, symbolized
    * `v0`, then per round: pair counts `pN`, argmax `bN`, merged vocab
    * `vN` carrying the word through). Single stripMargin at the end:
    * per-round fragments keep their margin pipes so SQL `||`
    * concatenations never collide with the margin stripping.
    */
  private lazy val BpeChainSql: String = {
    val roundCtes = (1 to BpeRounds).map { r =>
      val prev = s"v${r - 1}"
      s"""|p$r AS (
          |  SELECT (q.p).x AS x, (q.p).y AS y, sum(q.wn)::BIGINT AS n FROM (
          |    SELECT unnest(list_transform(range(1, len(syms)),
          |      i -> {'x': syms[i], 'y': syms[i + 1]})) AS p, wn
          |    FROM $prev WHERE len(syms) >= 2) q
          |  GROUP BY (q.p).x, (q.p).y),
          |b$r AS (
          |  SELECT CAST($r AS BIGINT) AS round, x, y, n FROM p$r
          |  ORDER BY n DESC, x, y LIMIT 1),
          |v$r AS (
          |  SELECT w, list_filter(string_split(substr(
          |      list_reduce(list_prepend('', syms),
          |        (acc, z) -> CASE
          |          WHEN z = b.y AND ends_with(acc, ' ' || b.x)
          |          THEN left(acc, length(acc) - length(b.x) - 1) || ' ' || b.x || b.y
          |          ELSE acc || ' ' || z END),
          |      2, 100000000), ' '), s -> s <> '') AS syms, wn
          |  FROM $prev, b$r b)"""
    }.mkString(",\n")
    s"""WITH w AS (
       |  SELECT w, count(*) AS wn FROM (
       |    SELECT unnest(list_filter(string_split(trim(text, ' '), ' '),
       |      x -> x <> '')) AS w
       |    FROM documents) t
       |  GROUP BY w),
       |v0 AS (
       |  SELECT w, list_filter(string_split(w, ''), s -> s <> '') AS syms,
       |    wn
       |  FROM w),
       $roundCtes""".stripMargin
  }

  private lazy val BpeMergesSql: String = {
    val union = (1 to BpeRounds).map(r => s"SELECT * FROM b$r")
      .mkString("\n  UNION ALL ")
    BpeChainSql +
      s"""
         |SELECT round, x AS sym_a, y AS sym_b, n FROM (
         |  $union) m
         |ORDER BY round""".stripMargin
  }

  /** Oracle for txt_bpe_encode_stats: the learn chain's final vocab
    * encodes the corpus; fertility per source in exact integers. The
    * sf0.01 fixture never early-stops inside $BpeRounds rounds, so
    * v$BpeRounds is the fully-merged vocabulary.
    */
  private lazy val BpeEncodeStatsSql: String =
    BpeChainSql +
      s""",
         |enc AS (SELECT w, len(syms)::BIGINT AS nsym FROM v$BpeRounds),
         |tok AS (
         |  SELECT source AS s,
         |    unnest(list_filter(string_split(trim(text, ' '), ' '),
         |      x -> x <> '')) AS w
         |  FROM documents),
         |sw AS (SELECT s, w, count(*) AS wn FROM tok GROUP BY s, w),
         |agg AS (
         |  SELECT s AS source, sum(wn)::BIGINT AS n_words,
         |    sum(wn * nsym)::BIGINT AS n_bpe_tokens
         |  FROM sw JOIN enc USING (w) GROUP BY s)
         |SELECT source, n_words, n_bpe_tokens,
         |  n_bpe_tokens * 1000 // n_words AS fertility_milli
         |FROM agg ORDER BY source""".stripMargin

  /** Oracle for dd_cross_source_overlap: per-SOURCE shingle sets, the
    * same universal-hash MinHash family (coefficients inlined from
    * [[Dedup.minhashCoeffs]]), estimated vs exact Jaccard per source
    * pair in integer milli units.
    */
  private lazy val CrossSourceOverlapSql: String = {
    val p = Dedup.MinhashPrime
    val k = 128
    val sigCols = Dedup.minhashCoeffs(k).zipWithIndex.map {
      case ((a, b), i) => s"    min((mm * $a + $b) % $p) AS mh$i"
    }.mkString(",\n")
    // Balanced parenthesized groups: a flat 128-term `+` chain binds
    // as 128-deep recursion in DuckDB (binder limit 128).
    val caseTerms = (0 until k).map(i =>
      s"(CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END)").grouped(16)
      .map(g => "(" + g.mkString(" + ") + ")").mkString("\n      + ")
    s"""WITH toks AS (
       |  SELECT source, list_filter(string_split(trim(text, ' '), ' '),
       |    x -> x <> '') AS l
       |  FROM documents),
       |sh AS (
       |  SELECT DISTINCT source AS s,
       |    ('0x' || substr(md5(sh), 1, 15))::BIGINT AS bh
       |  FROM (
       |    SELECT source, unnest(list_transform(range(1, len(l) - 1),
       |      i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS sh
       |    FROM toks)),
       |m AS (SELECT s, bh, bh % $p AS mm FROM sh),
       |sig AS (
       |  SELECT s,
       |$sigCols
       |  FROM m GROUP BY s),
       |sizes AS (SELECT s, count(*) AS n FROM sh GROUP BY s),
       |est AS (
       |  SELECT a.s AS src_a, b.s AS src_b,
       |    ($caseTerms) AS mtch
       |  FROM sig a JOIN sig b ON a.s < b.s),
       |cmn AS (
       |  SELECT xa.s AS src_a, xb.s AS src_b, count(*) AS cm
       |  FROM sh xa JOIN sh xb ON xa.bh = xb.bh AND xa.s < xb.s
       |  GROUP BY xa.s, xb.s)
       |SELECT e.src_a, e.src_b,
       |  (e.mtch * 1000) // $k AS est_jaccard_milli,
       |  coalesce(c.cm, 0) * 1000 // (za.n + zb.n - coalesce(c.cm, 0))
       |    AS jaccard_milli
       |FROM est e
       |JOIN sizes za ON za.s = e.src_a
       |JOIN sizes zb ON zb.s = e.src_b
       |LEFT JOIN cmn c ON c.src_a = e.src_a AND c.src_b = e.src_b
       |ORDER BY e.src_a, e.src_b""".stripMargin
  }

  /** Oracle for dd_contrastive_pairs: the LSH-verified near-dup pairs
    * (positives, Jaccard >= 0.5) and the df-capped shingle-block
    * candidates' dissimilar tail (hard negatives, Jaccard < 0.2),
    * folded to one best-positive + best-negative triple per anchor.
    */
  private lazy val ContrastivePairsSql: String =
    MinhashCandPrefix +
      """sizes AS (SELECT doc_id, count(*) AS n_sh FROM hset GROUP BY doc_id),
        |inter AS (
        |  SELECT c.a, c.b, count(*) AS n_inter FROM cand c
        |  JOIN hset sa ON sa.doc_id = c.a
        |  JOIN hset sb ON sb.doc_id = c.b AND sb.bh = sa.bh
        |  GROUP BY c.a, c.b),
        |pos AS (
        |  SELECT i.a, i.b, n_inter / (za.n_sh + zb.n_sh - n_inter) AS j
        |  FROM inter i
        |  JOIN sizes za ON za.doc_id = i.a
        |  JOIN sizes zb ON zb.doc_id = i.b
        |  WHERE n_inter / (za.n_sh + zb.n_sh - n_inter) >= 0.5),
        |rare AS (SELECT bh FROM hset GROUP BY bh HAVING count(*) <= 20),
        |bl AS (SELECT s.doc_id, s.bh FROM hset s JOIN rare r ON r.bh = s.bh),
        |bcand AS (
        |  SELECT DISTINCT xa.doc_id AS a, xb.doc_id AS b
        |  FROM bl xa JOIN bl xb ON xa.bh = xb.bh AND xa.doc_id < xb.doc_id),
        |binter AS (
        |  SELECT c.a, c.b, count(*) AS n_inter FROM bcand c
        |  JOIN hset sa ON sa.doc_id = c.a
        |  JOIN hset sb ON sb.doc_id = c.b AND sb.bh = sa.bh
        |  GROUP BY c.a, c.b),
        |negs AS (
        |  SELECT i.a, i.b, n_inter / (za.n_sh + zb.n_sh - n_inter) AS j
        |  FROM binter i
        |  JOIN sizes za ON za.doc_id = i.a
        |  JOIN sizes zb ON zb.doc_id = i.b
        |  WHERE n_inter / (za.n_sh + zb.n_sh - n_inter) < 0.2),
        |psym AS (SELECT a AS anchor, b AS cand, j FROM pos
        |  UNION ALL SELECT b AS anchor, a AS cand, j FROM pos),
        |nsym AS (SELECT a AS anchor, b AS cand, j FROM negs
        |  UNION ALL SELECT b AS anchor, a AS cand, j FROM negs),
        |bp AS (
        |  SELECT anchor, cand AS pos_id, round(j, 4) AS pos_jaccard,
        |    row_number() OVER (PARTITION BY anchor
        |                       ORDER BY j DESC, cand) AS rn
        |  FROM psym),
        |bn AS (
        |  SELECT anchor, cand AS neg_id, round(j, 4) AS neg_jaccard,
        |    row_number() OVER (PARTITION BY anchor
        |                       ORDER BY j ASC, cand) AS rn
        |  FROM nsym)
        |SELECT p.anchor, p.pos_id, p.pos_jaccard, n.neg_id, n.neg_jaccard
        |FROM bp p JOIN bn n ON n.anchor = p.anchor
        |WHERE p.rn = 1 AND n.rn = 1
        |ORDER BY p.anchor""".stripMargin

  /** Oracle for the FULLY-gated fan-out: the generated MinHash/LSH
    * chain ([[MinhashCandPrefix]] with its corpus spliced to the
    * two-wave mutant corpus) feeding the near-dup gate's drop logic,
    * then the substring-gate chain of pl_fanout_gated_roundtrip with
    * its wave inputs replaced by the near-dup survivors. Gate
    * semantics modeled exactly: wave-1 drops = in-batch banded pairs
    * with Jaccard >= 0.9 (higher id loses, greedy — a drop needs no
    * surviving witness) plus in-batch exact copies (min id keeps);
    * wave-2 drops additionally include banded near-dups of a COMMITTED
    * wave-1 survivor and exact copies of stored text. The substring
    * screen then sees only near-dup survivors, and its store counts
    * are the span-gate survivors' as-delivered grams (survivor-only),
    * exactly as the sibling oracle pins.
    */
  private lazy val FanoutNdGatedSql: String = {
    val corpusCte =
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id,
        |         regexp_replace(text, '^[^ \t\n\x0b\f\r]+', 'zzz') AS text
        |  FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000 AS doc_id,
        |    array_to_string(
        |      list_filter(string_split(trim(text, ' '), ' '), x -> x <> '')[1:16], ' ')
        |    || ' fresh tail mutant ' || doc_id AS text
        |  FROM documents WHERE doc_id % 6 = 0),""".stripMargin
    val origCorpus =
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id,
        |         regexp_replace(text, '^[^ \t\n\x0b\f\r]+', 'zzz') AS text FROM documents),""".stripMargin
    val prefix = MinhashCandPrefix.replace(origCorpus, corpusCte)
    require(prefix != MinhashCandPrefix,
      "fully-gated oracle: corpus splice did not take")
    prefix +
      """sizes AS (SELECT doc_id, count(*) AS n_sh FROM hset GROUP BY doc_id),
        |inter AS (
        |  SELECT c.a, c.b, count(*) AS n_inter FROM cand c
        |  JOIN hset sa ON sa.doc_id = c.a
        |  JOIN hset sb ON sb.doc_id = c.b AND sb.bh = sa.bh
        |  GROUP BY c.a, c.b),
        |ndp AS (
        |  SELECT i.a, i.b FROM inter i
        |  JOIN sizes za ON za.doc_id = i.a
        |  JOIN sizes zb ON zb.doc_id = i.b
        |  WHERE n_inter / (za.n_sh + zb.n_sh - n_inter) >= 0.9),
        |nd1drop AS (
        |  SELECT DISTINCT b AS doc_id FROM ndp
        |  WHERE a < 1000000 AND b < 1000000
        |  UNION
        |  SELECT doc_id FROM (
        |    SELECT doc_id,
        |      row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |    FROM corpus WHERE doc_id < 1000000) WHERE rn > 1),
        |ndsurv1 AS (
        |  SELECT doc_id, text FROM corpus
        |  WHERE doc_id < 1000000
        |    AND doc_id NOT IN (SELECT doc_id FROM nd1drop)),
        |nd2drop AS (
        |  SELECT DISTINCT b AS doc_id FROM ndp
        |  WHERE b >= 1000000
        |    AND (a >= 1000000 OR a IN (SELECT doc_id FROM ndsurv1))
        |  UNION
        |  SELECT c.doc_id FROM corpus c
        |  WHERE c.doc_id >= 1000000
        |    AND c.text IN (SELECT text FROM ndsurv1)
        |  UNION
        |  SELECT doc_id FROM (
        |    SELECT doc_id,
        |      row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |    FROM corpus WHERE doc_id >= 1000000) WHERE rn > 1),
        |ndsurv2 AS (
        |  SELECT doc_id, text FROM corpus
        |  WHERE doc_id >= 1000000
        |    AND doc_id NOT IN (SELECT doc_id FROM nd2drop)),
        |w1n AS (SELECT min(doc_id) AS doc_id, text FROM ndsurv1 GROUP BY text),
        |w1t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(trim(text, ' '), ' '), x -> x <> '') AS l
        |  FROM w1n),
        |w1g AS (
        |  SELECT doc_id,
        |    unnest(range(1, len(l) - 6)) - 1 AS pos,
        |    unnest(list_transform(range(1, len(l) - 6),
        |      i -> ('0x' || substr(md5(l[i] || ' ' || l[i+1] || ' ' || l[i+2]
        |        || ' ' || l[i+3] || ' ' || l[i+4] || ' ' || l[i+5] || ' '
        |        || l[i+6] || ' ' || l[i+7]), 1, 15))::BIGINT)) AS gh
        |  FROM w1t),
        |w1dup AS (SELECT gh FROM w1g GROUP BY gh HAVING count(*) >= 2),
        |w1dpos AS (
        |  SELECT g.doc_id, list_sort(list(g.pos)) AS dup_pos
        |  FROM w1g g JOIN w1dup USING (gh) GROUP BY g.doc_id),
        |w1cov AS (
        |  SELECT doc_id,
        |    list_distinct(flatten(list_transform(dup_pos,
        |      p -> range(p, p + 8)))) AS covered,
        |    len(dup_pos) AS n_dup_grams
        |  FROM w1dpos),
        |w1out AS (
        |  SELECT t.doc_id, len(t.l)::BIGINT AS n_tokens,
        |    coalesce(c.n_dup_grams, 0)::BIGINT AS n_dup_grams,
        |    coalesce(len(c.covered), 0)::BIGINT AS n_removed,
        |    CASE WHEN c.doc_id IS NULL THEN array_to_string(t.l, ' ')
        |      ELSE coalesce(array_to_string(list_filter(t.l,
        |        (x, i) -> NOT list_contains(c.covered, i - 1)), ' '), '')
        |    END AS clean
        |  FROM w1t t LEFT JOIN w1cov c ON c.doc_id = t.doc_id),
        |w1surv AS (SELECT * FROM w1out WHERE clean <> ''),
        |sg AS (
        |  SELECT g.gh, count(*) AS df FROM w1g g
        |  JOIN w1surv s ON s.doc_id = g.doc_id GROUP BY g.gh),
        |stext AS (
        |  SELECT n.text FROM w1surv s JOIN w1n n ON n.doc_id = s.doc_id),
        |w2n AS (
        |  SELECT min(doc_id) AS doc_id, text FROM ndsurv2
        |  WHERE text NOT IN (SELECT text FROM stext) GROUP BY text),
        |w2t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(trim(text, ' '), ' '), x -> x <> '') AS l
        |  FROM w2n),
        |w2g AS (
        |  SELECT doc_id,
        |    unnest(range(1, len(l) - 6)) - 1 AS pos,
        |    unnest(list_transform(range(1, len(l) - 6),
        |      i -> ('0x' || substr(md5(l[i] || ' ' || l[i+1] || ' ' || l[i+2]
        |        || ' ' || l[i+3] || ' ' || l[i+4] || ' ' || l[i+5] || ' '
        |        || l[i+6] || ' ' || l[i+7]), 1, 15))::BIGINT)) AS gh
        |  FROM w2t),
        |w2cnt AS (SELECT gh, count(*) AS bdf FROM w2g GROUP BY gh),
        |w2dup AS (
        |  SELECT c.gh FROM w2cnt c LEFT JOIN sg ON sg.gh = c.gh
        |  WHERE c.bdf + coalesce(sg.df, 0) >= 2),
        |w2dpos AS (
        |  SELECT g.doc_id, list_sort(list(g.pos)) AS dup_pos
        |  FROM w2g g JOIN w2dup USING (gh) GROUP BY g.doc_id),
        |w2cov AS (
        |  SELECT doc_id,
        |    list_distinct(flatten(list_transform(dup_pos,
        |      p -> range(p, p + 8)))) AS covered,
        |    len(dup_pos) AS n_dup_grams
        |  FROM w2dpos),
        |w2out AS (
        |  SELECT t.doc_id, len(t.l)::BIGINT AS n_tokens,
        |    coalesce(c.n_dup_grams, 0)::BIGINT AS n_dup_grams,
        |    coalesce(len(c.covered), 0)::BIGINT AS n_removed,
        |    CASE WHEN c.doc_id IS NULL THEN array_to_string(t.l, ' ')
        |      ELSE coalesce(array_to_string(list_filter(t.l,
        |        (x, i) -> NOT list_contains(c.covered, i - 1)), ' '), '')
        |    END AS clean
        |  FROM w2t t LEFT JOIN w2cov c ON c.doc_id = t.doc_id),
        |w2surv AS (SELECT * FROM w2out WHERE clean <> '')
        |SELECT doc_id, n_tokens, n_dup_grams, n_removed,
        |  md5(clean) AS clean_md5,
        |  TRUE AS merge_ok, TRUE AS in_index, TRUE AS in_ann,
        |  TRUE AS in_nd, TRUE AS in_pq, TRUE AS in_chunks,
        |  TRUE AS in_chunk_vecs
        |FROM (SELECT * FROM w1surv UNION ALL SELECT * FROM w2surv)
        |ORDER BY doc_id""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(

    // Exact dedup (hash-groupBy): corpus ∪ identical copies -> every
    // content hash must collapse to one canonical row with 2 copies.
    QueryDef(
      "dd_exact_content_dedup",
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000, text FROM documents),
        |hashed AS (
        |  SELECT doc_id,
        |    sha256(trim(regexp_replace(regexp_replace(text, e'\r\n|\r', e'\n', 'g'),
        |      '[ \t\n\x0b\f\r]+', ' ', 'g'), ' ')) AS content_hash
        |  FROM corpus)
        |SELECT content_hash, min(doc_id) AS canonical_id, count(*) AS n_copies
        |FROM hashed GROUP BY content_hash ORDER BY canonical_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val corpus = docs.select(col("doc_id"), col("text")).unionByName(
        docs.select((col("doc_id") + 2000000).as("doc_id"), col("text")))
      Dedup.exactByContent(corpus, "doc_id", "text")
        .select(col("content_hash"), col("canonical_id"), col("n_copies"))
        .presentSorted(col("canonical_id"))
    },

    // MinHash(128, universal-hash family) + LSH(16 bands x 8 rows)
    // candidate generation, then exact Jaccard >= 0.5 verification —
    // the scale path for near-dup dedup at production constants. The
    // oracle SQL is generated from the SAME (a_i, b_i) coefficients the
    // Spark side uses.
    QueryDef(
      "dd_minhash_lsh_pairs",
      MinhashCandPrefix + JaccardTail) { (s, d) =>
      val hsArr = nearDupShingles(nearDupCorpus(Tables.documents(s, d)))
      val cand = Dedup.lshCandidatePairsFromKeys(nearDupKeys(hsArr))
      Dedup.jaccard(cand, hsArr)
        .filter(col("jaccard") >= 0.5)
        .select(col("a"), col("b"), round(col("jaccard"), 4).as("jaccard"))
        .presentSorted(col("a"), col("b"))
    },

    // INCREMENTAL dedup: a new ingest batch (the mutants) against the
    // standing store (the originals) — batch signatures join the
    // store's precomputed band table; store×store and batch×batch pairs
    // are never generated. The oracle reuses the full-corpus candidate
    // CTE and restricts to cross pairs (store ids < 1000000 <= batch
    // ids), which is the same set.
    QueryDef(
      "dd_incremental_lsh",
      MinhashCandPrefix + JaccardTail.replace("WHERE n_inter",
        "WHERE i.a < 1000000 AND i.b >= 1000000\n  AND n_inter")) { (s, d) =>
      val docs = Tables.documents(s, d)
      val store = docs.select(col("doc_id"), col("text"))
      val batch = docs.select((col("doc_id") + 1000000).as("doc_id"),
        regexp_replace(col("text"), "^\\S+", "zzz").as("text"))
      val storeHs = Dedup.hashedShingleArrays(store, "doc_id", "text", 3)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val batchHs = Dedup.hashedShingleArrays(batch, "doc_id", "text", 3)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      def keysOf(hs: DataFrame) = Dedup.lshBandKeys(
        Dedup.minhashSignatures(hs, 128), 128, 16)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val cand = Dedup.lshIncrementalCandidatesFromKeys(
        keysOf(storeHs), keysOf(batchHs))
      Dedup.jaccard(cand, storeHs.unionByName(batchHs))
        .filter(col("jaccard") >= 0.5)
        .select(col("a"), col("b"), round(col("jaccard"), 4).as("jaccard"))
        .presentSorted(col("a"), col("b"))
    },

    // Near-dup CLUSTERING: MinHash pairs -> connected components ->
    // one canonical representative (min doc id) per cluster — the step
    // that actually drops duplicates in a training-data pipeline. The
    // oracle computes components with a recursive transitive closure.
    QueryDef(
      "dd_neardup_clusters",
      MinhashCandPrefix.replaceFirst("WITH ", "WITH RECURSIVE ") +
        ClusterCompChain +
        """SELECT component AS canonical_id, count(*) AS n_members
          |FROM comp GROUP BY component ORDER BY canonical_id""".stripMargin) { (s, d) =>
      val hsArr = nearDupShingles(nearDupCorpus(Tables.documents(s, d)))
      val cand = Dedup.lshCandidatePairsFromKeys(nearDupKeys(hsArr))
      val pairs = Dedup.jaccard(cand, hsArr)
        .filter(col("jaccard") >= 0.5)
        .select(col("a"), col("b"))
      Dedup.connectedComponents(pairs)
        .groupBy(col("component"))
        .agg(count(lit(1)).as("n_members"))
        .select(col("component").as("canonical_id"), col("n_members"))
        .presentSorted(col("canonical_id"))
    },

    // KEEP-BEST-PER-CLUSTER: the canonical-representative policy a
    // production dedup wants — each near-dup cluster keeps its
    // highest-QUALITY member (id tie-break), not an arbitrary min-id
    // copy; unclustered docs pass through. Composes the cluster chain
    // with the quality score; the oracle splices the recursive
    // component chain with the quality CTE and an argmax window.
    QueryDef(
      "dd_keep_best_per_cluster",
      MinhashCandPrefix.replaceFirst("WITH ", "WITH RECURSIVE ") +
        ClusterCompChain +
        """,q AS (
          |  SELECT doc_id,
          |    round(least(1.0, len(l) / 32.0) * 0.4
          |      + (len(list_distinct(l)) * 1.0 / len(l)) * 0.4
          |      + least(1.0, len(list_filter(l,
          |          x -> x IN ('the','a','of','and','to','in','is'))) * 8.0
          |          / len(l)) * 0.2, 4) AS quality
          |  FROM toks),
          |clustered AS (
          |  SELECT q.doc_id, comp.component, q.quality,
          |    row_number() OVER (PARTITION BY comp.component
          |                       ORDER BY q.quality DESC, q.doc_id) AS rn
          |  FROM q JOIN comp ON comp.node = q.doc_id),
          |kept AS (
          |  SELECT doc_id, component AS cluster_id, quality
          |  FROM clustered WHERE rn = 1
          |  UNION ALL
          |  SELECT q.doc_id, q.doc_id AS cluster_id, q.quality
          |  FROM q
          |  WHERE NOT EXISTS (SELECT 1 FROM comp WHERE comp.node = q.doc_id))
          |SELECT doc_id, cluster_id, quality FROM kept
          |ORDER BY doc_id""".stripMargin) { (s, d) =>
      import graft.functions.TextFunctions
      val corpus = nearDupCorpus(Tables.documents(s, d))
      val hsArr = nearDupShingles(corpus)
      val cand = Dedup.lshCandidatePairsFromKeys(nearDupKeys(hsArr))
      val pairs = Dedup.jaccard(cand, hsArr)
        .filter(col("jaccard") >= 0.5)
        .select(col("a"), col("b"))
      val clusters = Dedup.connectedComponents(pairs)
      val scores = corpus.select(col("doc_id"),
        TextFunctions.qualityScore(col("text")).as("quality"))
      Dedup.keepBestPerCluster(scores, "doc_id", "quality", clusters)
        .select(col("doc_id"), col("component").as("cluster_id"),
          col("quality"))
        .presentSorted(col("doc_id"))
    },

    // END-TO-END CORPUS BUILD — the north-star pipeline as ONE oracle
    // query: near-dup corpus -> MinHash/LSH candidates -> Jaccard-
    // verified clusters -> keep-best-per-cluster (quality argmax) ->
    // quality gate (>= 0.5) -> deterministic train/val/test split ->
    // train decontaminated against val+test (3-gram, >= 5 distinct
    // overlaps) -> per-split manifest (docs, whitespace tokens, exact
    // integer quality sum). Every stage is an already-oracled operator
    // (dd_keep_best_per_cluster, txt_quality_score,
    // pl_split_decontaminate); this row pins their COMPOSITION — one
    // declarative plan, so Catalyst shares the shingle scan between the
    // dedup and decontamination stages instead of re-reading the
    // corpus per stage the way a stage-per-job pipeline would.
    QueryDef(
      "pl_corpus_build_e2e",
      MinhashCandPrefix.replaceFirst("WITH ", "WITH RECURSIVE ") +
        ClusterCompChain +
        """,q AS (
          |  SELECT doc_id,
          |    round(least(1.0, len(l) / 32.0) * 0.4
          |      + (len(list_distinct(l)) * 1.0 / len(l)) * 0.4
          |      + least(1.0, len(list_filter(l,
          |          x -> x IN ('the','a','of','and','to','in','is'))) * 8.0
          |          / len(l)) * 0.2, 4) AS quality
          |  FROM toks),
          |clustered AS (
          |  SELECT q.doc_id, q.quality,
          |    row_number() OVER (PARTITION BY comp.component
          |                       ORDER BY q.quality DESC, q.doc_id) AS rn
          |  FROM q JOIN comp ON comp.node = q.doc_id),
          |kept AS (
          |  SELECT doc_id, quality FROM clustered WHERE rn = 1
          |  UNION ALL
          |  SELECT q.doc_id, q.quality FROM q
          |  WHERE NOT EXISTS (SELECT 1 FROM comp WHERE comp.node = q.doc_id)),
          |sp AS (
          |  SELECT doc_id, quality,
          |    CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
          |           % 1000 < 900 THEN 'train'
          |         WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
          |           % 1000 < 950 THEN 'val'
          |         ELSE 'test' END AS split
          |  FROM kept WHERE quality >= 0.5),
          |bsh AS (
          |  SELECT DISTINCT h.bh FROM hset h
          |  JOIN sp ON sp.doc_id = h.doc_id WHERE sp.split <> 'train'),
          |contaminated AS (
          |  SELECT h.doc_id FROM hset h
          |  JOIN sp ON sp.doc_id = h.doc_id AND sp.split = 'train'
          |  JOIN bsh b ON b.bh = h.bh
          |  GROUP BY h.doc_id HAVING count(*) >= 5),
          |fin AS (
          |  SELECT sp.doc_id, sp.split, sp.quality FROM sp
          |  WHERE sp.split <> 'train'
          |     OR sp.doc_id NOT IN (SELECT doc_id FROM contaminated))
          |SELECT f.split, count(*) AS n_docs,
          |  sum(len(t.l))::BIGINT AS n_tokens,
          |  sum(round(f.quality * 10000)::BIGINT)::BIGINT AS sum_quality_e4
          |FROM fin f JOIN toks t ON t.doc_id = f.doc_id
          |GROUP BY f.split ORDER BY f.split""".stripMargin) { (s, d) =>
      import graft.operators.Corpus
      val corpus = nearDupCorpus(Tables.documents(s, d))
      val hsArr = nearDupShingles(corpus)
      val cand = Dedup.lshCandidatePairsFromKeys(nearDupKeys(hsArr))
      val pairs = Dedup.jaccard(cand, hsArr)
        .filter(col("jaccard") >= 0.5)
        .select(col("a"), col("b"))
      val clusters = Dedup.connectedComponents(pairs)
      val scores = corpus.select(col("doc_id"),
        TextFunctions.qualityScore(col("text")).as("quality"))
      val sp = Corpus.assignSplit(
        Dedup.keepBestPerCluster(scores, "doc_id", "quality", clusters)
          .filter(col("quality") >= 0.5)
          .select(col("doc_id"), col("quality"))
          .join(corpus, Seq("doc_id")),
        "doc_id", Seq("train" -> 900, "val" -> 50, "test" -> 50))
      val nonTrain = sp.filter(col("split") =!= "train")
      // Held-out side is a fixed fraction of the deduped corpus — no
      // forced broadcast (see Corpus.decontaminate's scale note).
      Corpus.decontaminate(sp.filter(col("split") === "train"), nonTrain,
          "doc_id", "text", n = 3, minOverlap = 5,
          broadcastIndex = false)
        .unionByName(nonTrain)
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(TextFunctions.tokens(col("text")))).cast("long")
            .as("n_tokens"),
          sum(round(col("quality") * 10000).cast("long"))
            .as("sum_quality_e4"))
        .presentSorted(col("split"))
    },

    // Exact-recall variant: hashed-shingle blocking (df cap 20) +
    // Jaccard >= 0.5.
    QueryDef(
      "dd_jaccard_blocked_pairs",
      NearDupCte +
        """, rare AS (SELECT bh FROM hset GROUP BY bh HAVING count(*) <= 20),
          |bl AS (SELECT s.doc_id, s.bh FROM hset s JOIN rare r ON r.bh = s.bh),
          |cand AS (
          |  SELECT DISTINCT xa.doc_id AS a, xb.doc_id AS b
          |  FROM bl xa JOIN bl xb ON xa.bh = xb.bh AND xa.doc_id < xb.doc_id),
          |""".stripMargin + JaccardTail) { (s, d) =>
      val hsArr = nearDupShingles(nearDupCorpus(Tables.documents(s, d)))
      // Fused witness-dedup pipeline: no candidate-pair distinct()
      // exchange, no driver state (see Dedup.blockedJaccard scaladoc).
      // Deterministic output order comes from repartition(1) + local
      // sort, NOT orderBy: range-partition sampling re-executes an
      // exchange-free child pipeline end-to-end (measured +3 s here —
      // the sort's input is 600 rows).
      Dedup.blockedJaccard(hsArr, 20)
        .filter(col("jaccard") >= 0.5)
        .select(col("a"), col("b"), round(col("jaccard"), 4).as("jaccard"))
        .repartition(1).sortWithinPartitions(col("a"), col("b"))
    },

    // BLOCKED RECORD LINKAGE (Linkage.blockedNamePairs): fuzzy
    // entity-name duplicates — rows collapse to DISTINCT names first
    // (candidate generation is sized by the entity vocabulary, not the
    // fact table), candidates pair only within the SECOND-token
    // blocking key (split_part(name, ' ', 2) both sides; single-token
    // names degrade to the '' block like DuckDB, via try_element_at +
    // coalesce on the Spark side), and the exact codegen'd levenshtein
    // verifies survivors (same overgenerate-then-verify contract as
    // the LSH joins).
    QueryDef(
      "dd_record_linkage_blocked",
      """WITH names AS (
        |  SELECT p_name AS name, split_part(p_name, ' ', 2) AS blk,
        |    count(*) AS n_rows
        |  FROM part GROUP BY 1, 2)
        |SELECT a.name AS name_a, b.name AS name_b,
        |  levenshtein(a.name, b.name)::BIGINT AS lev,
        |  a.n_rows AS rows_a, b.n_rows AS rows_b
        |FROM names a JOIN names b ON b.blk = a.blk AND a.name < b.name
        |WHERE levenshtein(a.name, b.name) <= 3
        |ORDER BY name_a, name_b""".stripMargin) { (s, d) =>
      graft.operators.Linkage.blockedNamePairs(Tables.part(s, d),
          "p_name", n => coalesce(try_element_at(split(n, " "), lit(2)), lit("")), maxLev = 3)
        .presentSorted(col("name_a"), col("name_b"))
    },

    // GRADED record linkage (Linkage.blockedNameSimPairs): the same
    // blocked candidates scored by the codegen'd native Jaro-Winkler
    // expression — transposition-tolerant, prefix-weighted, the
    // scorer where edit distance is too coarse. Gate on the
    // 4dp-ROUNDED score so the threshold decision is
    // engine-independent; oracle uses DuckDB's own
    // jaro_winkler_similarity (parity verified over all 2016 name
    // pairs + the classic vectors).
    QueryDef(
      "dd_jaro_winkler_pairs",
      """WITH names AS (
        |  SELECT p_name AS name, split_part(p_name, ' ', 2) AS blk,
        |    count(*) AS n_rows
        |  FROM part GROUP BY 1, 2)
        |SELECT a.name AS name_a, b.name AS name_b,
        |  round(jaro_winkler_similarity(a.name, b.name), 4) AS jw,
        |  a.n_rows AS rows_a, b.n_rows AS rows_b
        |FROM names a JOIN names b ON b.blk = a.blk AND a.name < b.name
        |WHERE round(jaro_winkler_similarity(a.name, b.name), 4) >= 0.84
        |ORDER BY name_a, name_b""".stripMargin) { (s, d) =>
      graft.operators.Linkage.blockedNameSimPairs(Tables.part(s, d),
          "p_name", n => coalesce(try_element_at(split(n, " "), lit(2)), lit("")), minJw = 0.84)
        .presentSorted(col("name_a"), col("name_b"))
    },

    // ENTITY CLUSTERS from the linkage pairs: transitive closure of
    // the fuzzy-match relation via the pointer-jumping
    // connectedComponents loop (min NAME as the canonical entity),
    // rolled up with the collapsed per-name row counts — "how many
    // rows does each real-world entity own". The oracle replays the
    // closure as the recursive min-reachability chain.
    QueryDef(
      "dd_linkage_clusters",
      """WITH RECURSIVE names AS (
        |  SELECT p_name AS name, split_part(p_name, ' ', 2) AS blk,
        |    count(*)::BIGINT AS n_rows
        |  FROM part GROUP BY 1, 2),
        |p0 AS (
        |  SELECT a.name AS a, b.name AS b
        |  FROM names a JOIN names b ON b.blk = a.blk AND a.name < b.name
        |  WHERE levenshtein(a.name, b.name) <= 3),
        |edges AS (SELECT a, b FROM p0 UNION SELECT b AS a, a AS b FROM p0),
        |nodes AS (SELECT DISTINCT a AS node FROM edges),
        |reach AS (
        |  SELECT node, node AS r FROM nodes
        |  UNION
        |  SELECT reach.node, e.b AS r FROM reach JOIN edges e ON e.a = reach.r),
        |comp AS (SELECT node, min(r) AS entity FROM reach GROUP BY node)
        |SELECT c.entity, count(*)::BIGINT AS n_names,
        |  sum(n.n_rows)::BIGINT AS n_rows
        |FROM comp c JOIN names n ON n.name = c.node
        |GROUP BY c.entity ORDER BY c.entity""".stripMargin) { (s, d) =>
      val part = Tables.part(s, d)
      val pairs = graft.operators.Linkage.blockedNamePairs(part,
          "p_name", n => coalesce(try_element_at(split(n, " "), lit(2)), lit("")), maxLev = 3)
        .select(col("name_a").as("a"), col("name_b").as("b"))
      val counts = part.groupBy(col("p_name").as("name"))
        .agg(count(lit(1)).as("n_rows"))
      Dedup.connectedComponents(pairs)
        .select(col("doc_id").as("name"), col("component").as("entity"))
        .join(counts, Seq("name"))
        .groupBy(col("entity"))
        .agg(count(lit(1)).as("n_names"), sum(col("n_rows")).as("n_rows"))
        .presentSorted(col("entity"))
    },

    // ASYMMETRIC CONTAINMENT pairs: |A∩B|/|A| per direction in exact
    // milli over the SAME df-capped shingle blocks — the
    // quote/subset detector Jaccard misses (a short doc fully quoted
    // inside a long one has high containment but low Jaccard).
    // Reuses the fused witness-dedup pipeline; only the projection
    // and gate differ from dd_jaccard_blocked_pairs.
    QueryDef(
      "dd_containment_pairs",
      NearDupCte +
        """, rare AS (SELECT bh FROM hset GROUP BY bh HAVING count(*) <= 20),
          |bl AS (SELECT s.doc_id, s.bh FROM hset s JOIN rare r ON r.bh = s.bh),
          |cand AS (
          |  SELECT DISTINCT xa.doc_id AS a, xb.doc_id AS b
          |  FROM bl xa JOIN bl xb ON xa.bh = xb.bh AND xa.doc_id < xb.doc_id),
          |sizes AS (SELECT doc_id, count(*) AS n_sh FROM hset GROUP BY doc_id),
          |inter AS (
          |  SELECT c.a, c.b, count(*)::BIGINT AS n_inter
          |  FROM cand c
          |  JOIN hset sa ON sa.doc_id = c.a
          |  JOIN hset sb ON sb.doc_id = c.b AND sb.bh = sa.bh
          |  GROUP BY c.a, c.b)
          |SELECT i.a, i.b, n_inter,
          |  (n_inter * 1000) // za.n_sh AS cont_a_milli,
          |  (n_inter * 1000) // zb.n_sh AS cont_b_milli
          |FROM inter i
          |JOIN sizes za ON za.doc_id = i.a
          |JOIN sizes zb ON zb.doc_id = i.b
          |WHERE greatest((n_inter * 1000) // za.n_sh,
          |               (n_inter * 1000) // zb.n_sh) >= 700
          |ORDER BY a, b""".stripMargin) { (s, d) =>
      val hsArr = nearDupShingles(nearDupCorpus(Tables.documents(s, d)))
      Dedup.blockedJaccard(hsArr, 20)
        .select(col("a"), col("b"), col("n_inter"),
          expr("n_inter * 1000 div n_a").as("cont_a_milli"),
          expr("n_inter * 1000 div n_b").as("cont_b_milli"))
        .filter(greatest(col("cont_a_milli"), col("cont_b_milli")) >= 700)
        .repartition(1).sortWithinPartitions(col("a"), col("b"))
    },

    // LSH CANDIDATE-RECALL EVALUATION: how many true near-dup pairs
    // (the df-capped blocked-exact baseline, Jaccard >= 0.5) does the
    // 16-band MinHash candidate generation actually surface — the
    // quality gate on the dedup family's own approximation, the twin
    // of sim_pq_recall_at_k for the pair side. One row: truth size,
    // LSH-verified size, overlap, recall in exact milli.
    QueryDef(
      "dd_lsh_recall_eval",
      MinhashCandPrefix +
        """sizes AS (SELECT doc_id, count(*) AS n_sh FROM hset GROUP BY doc_id),
          |inter AS (
          |  SELECT c.a, c.b, count(*) AS n_inter FROM cand c
          |  JOIN hset sa ON sa.doc_id = c.a
          |  JOIN hset sb ON sb.doc_id = c.b AND sb.bh = sa.bh
          |  GROUP BY c.a, c.b),
          |lsh AS (
          |  SELECT i.a, i.b FROM inter i
          |  JOIN sizes za ON za.doc_id = i.a
          |  JOIN sizes zb ON zb.doc_id = i.b
          |  WHERE n_inter / (za.n_sh + zb.n_sh - n_inter) >= 0.5),
          |rare AS (SELECT bh FROM hset GROUP BY bh HAVING count(*) <= 20),
          |bl AS (SELECT s.doc_id, s.bh FROM hset s JOIN rare r ON r.bh = s.bh),
          |bcand AS (
          |  SELECT DISTINCT xa.doc_id AS a, xb.doc_id AS b
          |  FROM bl xa JOIN bl xb ON xa.bh = xb.bh AND xa.doc_id < xb.doc_id),
          |binter AS (
          |  SELECT c.a, c.b, count(*) AS n_inter FROM bcand c
          |  JOIN hset sa ON sa.doc_id = c.a
          |  JOIN hset sb ON sb.doc_id = c.b AND sb.bh = sa.bh
          |  GROUP BY c.a, c.b),
          |truth AS (
          |  SELECT i.a, i.b FROM binter i
          |  JOIN sizes za ON za.doc_id = i.a
          |  JOIN sizes zb ON zb.doc_id = i.b
          |  WHERE n_inter / (za.n_sh + zb.n_sh - n_inter) >= 0.5),
          |tc AS (SELECT count(*)::BIGINT AS n_truth FROM truth),
          |lc AS (SELECT count(*)::BIGINT AS n_lsh FROM lsh),
          |cc AS (SELECT count(*)::BIGINT AS n_common
          |       FROM truth t JOIN lsh l ON l.a = t.a AND l.b = t.b)
          |SELECT n_truth, n_lsh, n_common,
          |  CASE WHEN n_truth = 0 THEN 0
          |    ELSE n_common * 1000 // n_truth END AS recall_milli
          |FROM tc, lc, cc""".stripMargin) { (s, d) =>
      val hsArr = nearDupShingles(nearDupCorpus(Tables.documents(s, d)))
      val lshPairs = Dedup.jaccard(
        Dedup.lshCandidatePairsFromKeys(
          Dedup.lshBandKeys(Dedup.minhashSignatures(hsArr, 128), 128, 16)),
        hsArr)
        .filter(col("jaccard") >= 0.5)
        .select(col("a"), col("b"))
      val truth = Dedup.blockedJaccard(hsArr, 20)
        .filter(col("jaccard") >= 0.5)
        .select(col("a"), col("b"))
      val tc = truth.agg(count(lit(1)).as("n_truth"))
      val lc = lshPairs.agg(count(lit(1)).as("n_lsh"))
      val cc = truth.join(lshPairs, Seq("a", "b"))
        .agg(count(lit(1)).as("n_common"))
      tc.crossJoin(broadcast(lc)).crossJoin(broadcast(cc))
        .select(col("n_truth"), col("n_lsh"), col("n_common"),
          when(col("n_truth") === 0, 0L)
            .otherwise(expr("n_common * 1000 div n_truth"))
            .as("recall_milli"))
    },

    // CROSS-SOURCE OVERLAP MATRIX: MinHash-estimated vs exact Jaccard
    // between every source pair's shingle sets — the corpus-level
    // diversity/contamination audit, and an estimator self-check at
    // the dedup family's own constants (128 universal hashes).
    QueryDef(
      "dd_cross_source_overlap",
      CrossSourceOverlapSql) { (s, d) =>
      Dedup.crossSourceOverlap(Tables.documents(s, d), "text", "source",
          n = 3, numHashes = 128)
        .presentSorted(col("src_a"), col("src_b"))
    },

    // CONTRASTIVE PAIR MINING: (anchor, best positive, hardest
    // negative) triples for embedding-model training — positives from
    // the LSH-verified near-dups (>= 0.5), hard negatives from the
    // df-capped shingle blocks' dissimilar tail (< 0.2: shares a rare
    // shingle, verified dissimilar). One argmax/argmin window per
    // anchor over the already-blocked candidate sets.
    QueryDef(
      "dd_contrastive_pairs",
      ContrastivePairsSql) { (s, d) =>
      val hsArr = nearDupShingles(nearDupCorpus(Tables.documents(s, d)))
      val keys = nearDupKeys(hsArr)
      val pos = Dedup.jaccard(Dedup.lshCandidatePairsFromKeys(keys), hsArr)
        .filter(col("jaccard") >= 0.5)
        .select(col("a"), col("b"), col("jaccard"))
      val neg = Dedup.blockedJaccard(hsArr, 20)
        .filter(col("jaccard") < 0.2)
        .select(col("a"), col("b"), col("jaccard"))
      Dedup.contrastivePairs(pos, neg)
        .presentSorted(col("anchor"))
    },

    // SimHash near-dup: 60-bit frequency-weighted simhash, FOUR 15-bit
    // band blocks (any-band match -> candidate), Hamming <= 8.
    QueryDef(
      "dd_simhash_pairs",
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id,
        |         regexp_replace(text, '^[^ \t\n\x0b\f\r]+', 'zzz') AS text FROM documents),
        |toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split(trim(text, ' '), ' '),
        |    x -> x <> '')) AS tok
        |  FROM corpus),
        |th AS (
        |  SELECT doc_id, ('0x'||substr(md5(tok),1,15))::BIGINT AS th FROM toks),
        |bits AS (
        |  SELECT doc_id, b.b,
        |    sum(CASE WHEN (th >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS s
        |  FROM th, (SELECT unnest(range(0, 60)) AS b) b
        |  GROUP BY doc_id, b.b),
        |sims AS (
        |  SELECT doc_id,
        |    sum(CASE WHEN s > 0 THEN 1::BIGINT << b ELSE 0::BIGINT END) AS simhash
        |  FROM bits GROUP BY doc_id),
        |bands AS (
        |  SELECT doc_id, simhash, bb.b AS b,
        |    (simhash >> (bb.b * 15)) & 32767 AS bv
        |  FROM sims, (SELECT unnest(range(0, 4)) AS b) bb)
        |SELECT DISTINCT xa.doc_id AS a, xb.doc_id AS b,
        |  bit_count(xor(xa.simhash, xb.simhash)) AS hamming
        |FROM bands xa JOIN bands xb
        |  ON xa.b = xb.b AND xa.bv = xb.bv AND xa.doc_id < xb.doc_id
        |WHERE bit_count(xor(xa.simhash, xb.simhash)) <= 8
        |ORDER BY a, b""".stripMargin) { (s, d) =>
      val corpus = nearDupCorpus(Tables.documents(s, d))
      Dedup.simhashPairs(Dedup.simhash(corpus, "doc_id", "text"), 8, bands = 4)
        .presentSorted(col("a"), col("b"))
    },

    // Brute-force cosine top-5 (exact baseline; queries broadcast).
    QueryDef(
      "sim_cosine_topk_brute",
      """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
        |           FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings),
        |scores AS (
        |  SELECT qid, cid,
        |    round(list_inner_product(qv, cv) /
        |      (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(cv, cv))),
        |      6) AS score
        |  FROM q, c WHERE cid <> qid),
        |r AS (SELECT qid, cid, score,
        |        row_number() OVER (PARTITION BY qid
        |                           ORDER BY score DESC, cid) AS rnk
        |      FROM scores)
        |SELECT qid, cid, score, rnk FROM r WHERE rnk <= 5
        |ORDER BY qid, rnk""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.bruteForceTopK(emb.filter(col("id") < 10), emb, 5)
        .select(col("qid"), col("cid"), col("score"), col("rnk"))
        .presentSorted(col("qid"), col("rnk"))
    },

    // Hyperplane-LSH top-3 within bucket (the ANN scale path).
    QueryDef(
      "sim_lsh_bucket_topk",
      """WITH w AS (
        |  SELECT p.plane, dd.dim,
        |    CASE WHEN ('0x'||substr(md5('hp:'||p.plane||':'||dd.dim),1,15))::BIGINT
        |              % 2 = 1 THEN 1.0 ELSE -1.0 END AS w
        |  FROM (SELECT unnest(range(0, 8)) AS plane) p,
        |       (SELECT unnest(range(1, 65)) AS dim) dd),
        |comps AS (
        |  SELECT vec_id AS id, generate_subscripts(embedding, 1) AS dim,
        |         unnest(embedding::DOUBLE[]) AS x
        |  FROM embeddings),
        |proj AS (
        |  SELECT c.id, w.plane, sum(c.x * w.w) AS proj
        |  FROM comps c JOIN w ON w.dim = c.dim GROUP BY c.id, w.plane),
        |buckets AS (
        |  SELECT id, sum(CASE WHEN proj > 0 THEN 1::BIGINT << plane
        |                      ELSE 0::BIGINT END) AS bucket
        |  FROM proj GROUP BY id),
        |vs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |cands AS (
        |  SELECT q.id AS qid, c.id AS cid
        |  FROM buckets q JOIN buckets c ON c.bucket = q.bucket AND c.id <> q.id
        |  WHERE q.id < 10),
        |scores AS (
        |  SELECT qid, cid,
        |    round(list_inner_product(a.v, b.v) /
        |      (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))),
        |      6) AS score
        |  FROM cands JOIN vs a ON a.vec_id = qid JOIN vs b ON b.vec_id = cid),
        |r AS (SELECT qid, cid, score,
        |        row_number() OVER (PARTITION BY qid
        |                           ORDER BY score DESC, cid) AS rnk
        |      FROM scores)
        |SELECT qid, cid, score, rnk FROM r WHERE rnk <= 3
        |ORDER BY qid, rnk""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.lshTopK(emb, emb.filter(col("id") < 10).select(col("id")),
        planes = 8, dims = 64, k = 3)
        .select(col("qid"), col("cid"), col("score"), col("rnk"))
        .presentSorted(col("qid"), col("rnk"))
    },

    // Top-k over INT8-QUANTIZED embeddings: per-vector symmetric
    // quantization (round(x/scale), scale = max|x|/127), ranking on the
    // reconstructed vectors — the 4x-memory ANN path at 100 TB. The
    // oracle replicates the quantize->dequantize arithmetic, so the
    // approximation itself is bit-reproducible.
    QueryDef(
      "sim_int8_topk",
      """WITH vs AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
        |sc AS (SELECT id, v,
        |         list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
        |       FROM vs),
        |dq AS (SELECT id,
        |         CASE WHEN scale = 0 THEN list_transform(v, x -> 0.0)
        |              ELSE list_transform(v, x -> round(x / scale) * scale)
        |         END AS v
        |       FROM sc),
        |q AS (SELECT id AS qid, v AS qv FROM dq WHERE id < 10),
        |c AS (SELECT id AS cid, v AS cv FROM dq),
        |scores AS (
        |  SELECT qid, cid,
        |    round(list_inner_product(qv, cv) /
        |      (sqrt(list_inner_product(qv, qv)) * sqrt(list_inner_product(cv, cv))),
        |      6) AS score
        |  FROM q, c WHERE cid <> qid),
        |r AS (SELECT qid, cid, score,
        |        row_number() OVER (PARTITION BY qid
        |                           ORDER BY score DESC, cid) AS rnk
        |      FROM scores)
        |SELECT qid, cid, score, rnk FROM r WHERE rnk <= 3
        |ORDER BY qid, rnk""".stripMargin) { (s, d) =>
      import graft.functions.VectorFunctions._
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id").as("id"),
          toDoubleArray(col("embedding")).as("v"))
        .withColumn("scale", int8Scale(col("v")))
      val deq = emb.select(col("id"),
        dequantizeInt8(quantizeInt8(col("v"), col("scale")), col("scale"))
          .as("vec"))
      Similarity.bruteForceTopK(deq.filter(col("id") < 10), deq, 3)
        .select(col("qid"), col("cid"), col("score"), col("rnk"))
        .presentSorted(col("qid"), col("rnk"))
    },

    // STANDING ANN STORE roundtrip: embeddings append to a temp store
    // (int8-quantized + bucketed, insert-if-absent), then queries run
    // against it bucket-pruned. The oracle recomputes the whole path:
    // exact-vector buckets gate the candidates, scores are cosine of
    // the EXACT query vector against the DEQUANTIZED stored candidate.
    QueryDef(
      "sim_ann_store_roundtrip",
      AnnRoundtripSql) { (s, d) =>
      annBuild("ann-rt")(s, d)
      annProbe("ann-rt")(s, d)
    },

    // RE-EMBEDDING UPSERT into the standing ANN store (the vector twin
    // of search_bm25_index_upsert): the store is first built with every
    // 5th embedding NEGATED (stale model output), then the true
    // embeddings are delivered twice — first delivery updates exactly
    // the stale ids (new generation, old row invisible even though it
    // sits in a different bucket), second is a no-op. The oracle is the
    // exact ANN answer over the FINAL embeddings.
    QueryDef(
      "sim_ann_upsert_topk",
      AnnRoundtripSql) { (s, d) =>
      annUpsertBuild(s, d)
      annUpsertProbe(s, d)
    },

    // BUCKET-PARTITIONED ANN layout (the vector twin of the bucketed
    // postings): the store's live rows compacted one-directory-per-
    // bucket, probed through a broadcast join that dynamically prunes
    // the partitions (plan pinned) — at scale the scan reads only the
    // probed buckets' directories. Same oracle as the standing store:
    // answers must be hash-identical.
    QueryDef(
      "sim_ann_partitioned_topk",
      AnnRoundtripSql) { (s, d) =>
      annPartBuild(s, d)
      annPartProbe(s, d)
    },

    // AUTO-ROUTED probe across a STALE snapshot (the freshness twin of
    // search_hybrid_rrf_auto's partitioned route): a takedown after the
    // layout refresh stales the snapshot, so annStoreTopKAuto must
    // abandon the partitioned layout — which still holds the victims —
    // and answer from the always-fresh generational store. The oracle
    // is the exact ANN answer WITHOUT the tombstoned ids: a probe that
    // read the stale layout could not match it.
    QueryDef(
      "sim_ann_auto_stale_reroute",
      AnnAutoStaleSql) { (s, d) =>
      annAutoStaleBuild(s, d)
      annAutoStaleProbe(s, d)
    },

    // MULTI-PROBE ANN: each query also probes the planes buckets one
    // hyperplane-flip away, recovering neighbors that fell across a
    // single hyperplane. The oracle unions the probe buckets, dedupes
    // candidate pairs, and scores the same exact-vs-dequantized cosine.
    QueryDef(
      "sim_ann_multiprobe",
      AnnMultiprobeSql) { (s, d) =>
      annBuild("ann-mp")(s, d)
      annProbe("ann-mp", multiprobe = true)(s, d)
    },

    // Embedding-cosine near-dup pairs: hyperplane-LSH buckets generate
    // candidates (scaled copies keep every projection sign, so they
    // land in their original's bucket), exact cosine >= 0.999 verifies.
    QueryDef(
      "dd_embedding_near_dup",
      """WITH corpus AS (
        |  SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000,
        |         list_transform(embedding::DOUBLE[], x -> x * 1.001)
        |  FROM embeddings),
        |w AS (
        |  SELECT p.plane, dd.dim,
        |    CASE WHEN ('0x'||substr(md5('hp:'||p.plane||':'||dd.dim),1,15))::BIGINT
        |              % 2 = 1 THEN 1.0 ELSE -1.0 END AS w
        |  FROM (SELECT unnest(range(0, 8)) AS plane) p,
        |       (SELECT unnest(range(1, 65)) AS dim) dd),
        |comps AS (
        |  SELECT id, generate_subscripts(v, 1) AS dim, unnest(v) AS x
        |  FROM corpus),
        |proj AS (
        |  SELECT c.id, w.plane, sum(c.x * w.w) AS proj
        |  FROM comps c JOIN w ON w.dim = c.dim GROUP BY c.id, w.plane),
        |buckets AS (
        |  SELECT id, sum(CASE WHEN proj > 0 THEN 1::BIGINT << plane
        |                      ELSE 0::BIGINT END) AS bucket
        |  FROM proj GROUP BY id)
        |SELECT xa.id AS a, xb.id AS b,
        |  round(list_inner_product(va.v, vb.v) /
        |    (sqrt(list_inner_product(va.v, va.v))
        |     * sqrt(list_inner_product(vb.v, vb.v))), 6) AS cosine
        |FROM buckets xa
        |JOIN buckets xb ON xb.bucket = xa.bucket AND xa.id < xb.id
        |JOIN corpus va ON va.id = xa.id
        |JOIN corpus vb ON vb.id = xb.id
        |WHERE list_inner_product(va.v, vb.v) /
        |    (sqrt(list_inner_product(va.v, va.v))
        |     * sqrt(list_inner_product(vb.v, vb.v))) >= 0.999
        |ORDER BY a, b""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id").as("id"),
          graft.functions.VectorFunctions.toDoubleArray(col("embedding"))
            .as("vec"))
      val corpus = emb.unionByName(emb.select((col("id") + 100000).as("id"),
        transform(col("vec"), x => x * 1.001).as("vec")))
      Similarity.cosineNearDupPairs(corpus, planes = 8, dims = 64,
        minCosine = 0.999)
        .presentSorted(col("a"), col("b"))
    },

    // SEMANTIC dedup (SemDeDup): k-means clusters the embedding space
    // (the pinned Lloyd algebra — lowest-id seeds, inner-product-
    // identity d2, (d2, cid) tie-break), then drops any vector whose
    // cluster holds a LOWER-id vector with cosine >= 0.999. Scaled
    // copies (x * 1.001) embed at cosine 1.0 next to their originals,
    // so the survivors are exactly the lowest-id representative of each
    // semantic group. The pair join is cluster-keyed — never all-pairs;
    // k = 32 keeps the per-cluster quadratic term bounded (SemDeDup
    // trains k ~ N/1000 at scale, and k = 4 over the sf0.1 corpus put
    // every cluster's half-million pairs on one shuffle task), and the
    // Lloyd passes train on the 500-per-mille stable-hash sample (the
    // `tr` CTE) while the final assignment still covers every vector.
    QueryDef(
      "dd_semdedup",
      """WITH e AS (
        |  SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000,
        |         list_transform(embedding::DOUBLE[], x -> x * 1.001)
        |  FROM embeddings),
        |tr AS (SELECT id, v FROM e
        |       WHERE ('0x' || substr(md5(id::VARCHAR), 1, 15))::BIGINT
        |             % 1000 < 500),
        |c0 AS (SELECT id AS cid, v FROM tr ORDER BY id LIMIT 32),
        |d1 AS (
        |  SELECT e.id, c.cid,
        |    row_number() OVER (PARTITION BY e.id
        |      ORDER BY list_inner_product(e.v, e.v) + list_inner_product(c.v, c.v)
        |        - 2 * list_inner_product(e.v, c.v), c.cid) AS rn
        |  FROM tr e, c0 c),
        |m1 AS (
        |  SELECT a.cid, u.dim, avg(u.x) AS x
        |  FROM (SELECT id, cid FROM d1 WHERE rn = 1) a
        |  JOIN (SELECT id, generate_subscripts(v, 1) AS dim, unnest(v) AS x
        |        FROM tr) u USING (id)
        |  GROUP BY a.cid, u.dim),
        |c1 AS (SELECT cid, list(x ORDER BY dim) AS v FROM m1 GROUP BY cid),
        |d2i AS (
        |  SELECT e.id, c.cid,
        |    row_number() OVER (PARTITION BY e.id
        |      ORDER BY list_inner_product(e.v, e.v) + list_inner_product(c.v, c.v)
        |        - 2 * list_inner_product(e.v, c.v), c.cid) AS rn
        |  FROM e, c1 c),
        |asg AS (SELECT id, cid AS cluster_id FROM d2i WHERE rn = 1),
        |drops AS (
        |  SELECT DISTINCT xb.id AS id
        |  FROM asg xa
        |  JOIN asg xb ON xb.cluster_id = xa.cluster_id AND xa.id < xb.id
        |  JOIN e va ON va.id = xa.id
        |  JOIN e vb ON vb.id = xb.id
        |  WHERE round(list_inner_product(va.v, vb.v) /
        |      (sqrt(list_inner_product(va.v, va.v))
        |       * sqrt(list_inner_product(vb.v, vb.v))), 6) >= 0.999)
        |SELECT id, cluster_id FROM asg
        |WHERE id NOT IN (SELECT id FROM drops)
        |ORDER BY id""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id").as("id"),
          graft.functions.VectorFunctions.toDoubleArray(col("embedding"))
            .as("vec"))
      val corpus = emb.unionByName(emb.select((col("id") + 100000).as("id"),
        transform(col("vec"), x => x * 1.001).as("vec")))
      graft.operators.Dedup.semDedup(corpus, k = 32, iters = 2,
          minCosine = 0.999, trainPerMille = 500)
        .presentSorted(col("id"))
    },

    // IVF-style ANN: coarse-quantize to the 16 deterministic centroid
    // cells, probe the 2 nearest cells per query, exact cosine top-3
    // within the probed cells.
    QueryDef(
      "sim_ivf_topk",
      """WITH vs AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
        |cents AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
        |          FROM embeddings WHERE vec_id < 16),
        |d AS (
        |  SELECT vs.id, vs.v, c.cid,
        |    list_inner_product(vs.v, vs.v) + list_inner_product(c.cv, c.cv)
        |    - 2.0 * list_inner_product(vs.v, c.cv) AS d2
        |  FROM vs, cents c),
        |r AS (
        |  SELECT id, v, cid,
        |    row_number() OVER (PARTITION BY id ORDER BY d2, cid) AS crnk
        |  FROM d),
        |cells AS (SELECT id AS cid2, cid AS cell, v AS cv2 FROM r WHERE crnk = 1),
        |probes AS (SELECT id AS qid, cid AS cell, v AS qv
        |           FROM r WHERE crnk <= 2 AND id < 10),
        |scores AS (
        |  SELECT qid, cid2 AS cid,
        |    round(list_inner_product(qv, cv2) /
        |      (sqrt(list_inner_product(qv, qv))
        |       * sqrt(list_inner_product(cv2, cv2))), 6) AS score
        |  FROM cells JOIN probes USING (cell) WHERE cid2 <> qid),
        |rk AS (SELECT qid, cid, score,
        |         row_number() OVER (PARTITION BY qid
        |                            ORDER BY score DESC, cid) AS rnk
        |       FROM scores)
        |SELECT qid, cid, score, rnk FROM rk WHERE rnk <= 3
        |ORDER BY qid, rnk""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val cents = Tables.embeddings(s, d).filter(col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      Similarity.ivfTopK(emb, cents,
        emb.filter(col("id") < 10).select(col("id")), nprobe = 2, k = 3)
        .select(col("qid"), col("cid"), col("score"), col("rnk"))
        .presentSorted(col("qid"), col("rnk"))
    },

    // The canonical TRAINING-DATA FILTER a corpus user actually runs,
    // composed from the pipeline's own stages: exact dedup (lowest id
    // canonical) -> quality gate -> English-only -> token-range gate.
    // One shuffle (the dedup window); every gate is a codegen'd
    // builtin over the token array.
    QueryDef(
      "pl_training_data_filter",
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 2000000, text FROM documents),
        |hashed AS (
        |  SELECT doc_id, text,
        |    sha256(trim(regexp_replace(regexp_replace(text, e'\r\n|\r', e'\n', 'g'),
        |      '[ \t\n\x0b\f\r]+', ' ', 'g'), ' ')) AS content_hash
        |  FROM corpus),
        |canon AS (
        |  SELECT doc_id, text FROM (
        |    SELECT doc_id, text,
        |      row_number() OVER (PARTITION BY content_hash
        |                         ORDER BY doc_id) AS rn
        |    FROM hashed) WHERE rn = 1),
        |t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(trim(text, ' '), ' '), x -> x <> '') AS l
        |  FROM canon),
        |m AS (
        |  SELECT doc_id, len(l) AS n_tokens,
        |    round(least(1.0, len(l) / 32.0) * 0.4
        |      + (len(list_distinct(l)) * 1.0 / len(l)) * 0.4
        |      + least(1.0, len(list_filter(l,
        |          x -> x IN ('the','a','of','and','to','in','is'))) * 8.0
        |          / len(l)) * 0.2, 4) AS quality,
        |    len(list_filter(l, x -> x IN ('the','a','of','and','to','in','is'))) AS en,
        |    len(list_filter(l, x -> x IN ('der','die','das','und','ist','ein'))) AS de,
        |    len(list_filter(l, x -> x IN ('le','la','les','et','est','un'))) AS fr,
        |    len(list_filter(l, x -> x IN ('el','la','los','y','es','un'))) AS es
        |  FROM t)
        |SELECT doc_id, n_tokens, quality FROM m
        |WHERE quality >= 0.5 AND n_tokens BETWEEN 8 AND 1000
        |  AND en + de + fr + es > 0
        |  AND en >= de AND en >= fr AND en >= es
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val corpus = docs.select(col("doc_id"), col("text")).unionByName(
        docs.select((col("doc_id") + 2000000).as("doc_id"), col("text")))
      // Lowest-id-per-hash as a hash AGGREGATE, not a window: min_by
      // gets a map-side partial combine (the duplicates collapse
      // before the shuffle, halving its bytes here and cutting it by
      // the dup factor at scale) and skips the window's per-partition
      // sort entirely.
      graft.operators.Upsert.withContentHash(corpus, "text")
        .groupBy(col("content_hash"))
        .agg(min_by(struct(col("doc_id"), col("text")), col("doc_id"))
          .as("__c"))
        .select(col("__c.doc_id").as("doc_id"), col("__c.text").as("text"))
        // Tokenize ONCE per row, then derive all three metrics from the
        // array — the inlined forms would re-run split+filter ~7x/row.
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          size(col("toks")).as("n_tokens"),
          TextFunctions.qualityScoreOf(col("toks")).as("quality"),
          TextFunctions.langIdOf(col("toks")).as("lang"))
        .filter(col("quality") >= 0.5 &&
          col("n_tokens").between(8, 1000) && col("lang") === "en")
        .select(col("doc_id"), col("n_tokens"), col("quality"))
        .presentSorted(col("doc_id"))
    },

    // Benchmark DECONTAMINATION: docs sharing >= 5 distinct hashed
    // 3-shingles with the benchmark slice (every 37th doc stands in
    // for an eval set) are dropped — benchmark members remove
    // themselves via full self-overlap. The benchmark shingle index
    // broadcasts; the corpus never shuffles except the per-doc overlap
    // count over the (tiny) hit set.
    QueryDef(
      "pl_decontaminate",
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split(trim(text, ' '), ' '), x -> x <> '') AS l
        |  FROM documents),
        |dsh AS (
        |  SELECT DISTINCT doc_id,
        |    ('0x' || substr(md5(sh), 1, 15))::BIGINT AS bh FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(l) - 1),
        |      i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS sh
        |    FROM toks)),
        |bsh AS (SELECT DISTINCT bh FROM dsh WHERE doc_id % 37 = 0),
        |contaminated AS (
        |  SELECT d.doc_id FROM dsh d JOIN bsh b USING (bh)
        |  GROUP BY d.doc_id HAVING count(*) >= 5)
        |SELECT doc_id FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      graft.operators.Corpus.decontaminate(docs,
        docs.filter(col("doc_id") % 37 === 0), "doc_id", "text",
        n = 3, minOverlap = 5)
        .select(col("doc_id"))
        .presentSorted(col("doc_id"))
    },

    // CONTAMINATION REPORT — the audit twin of pl_decontaminate: per
    // contaminated doc, its distinct-shingle overlap count with the
    // benchmark set (review the would-be drops before running the
    // pass). Same broadcast-semi-join shape; same fixture benchmark.
    QueryDef(
      "pl_contamination_report",
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split(trim(text, ' '), ' '), x -> x <> '') AS l
        |  FROM documents),
        |dsh AS (
        |  SELECT DISTINCT doc_id,
        |    ('0x' || substr(md5(sh), 1, 15))::BIGINT AS bh FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(l) - 1),
        |      i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS sh
        |    FROM toks)),
        |bsh AS (SELECT DISTINCT bh FROM dsh WHERE doc_id % 37 = 0)
        |SELECT d.doc_id, count(*)::BIGINT AS n_overlap
        |FROM dsh d JOIN bsh b USING (bh)
        |GROUP BY d.doc_id HAVING count(*) >= 5
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      graft.operators.Corpus.contaminationReport(docs,
        graft.operators.Dedup.shingles(
          docs.filter(col("doc_id") % 37 === 0), "doc_id", "text", 3)
          .select(col("bh")).distinct(),
        "doc_id", "text", n = 3, minOverlap = 5)
        .presentSorted(col("doc_id"))
    },

    // DSIR-style IMPORTANCE-weighted selection (Corpus.importanceTopK):
    // every token hashes to one of 1024 features; each bucket's weight
    // is the add-one-smoothed log-likelihood ratio of the target slice
    // (every 37th doc, the eval-slice convention) vs the raw corpus,
    // rounded to integer micro-units; a doc scores the exact BIGINT sum
    // of its tokens' bucket weights and the top 100 are kept. The
    // weight table is 1024 rows (driver-bounded, codebook-style) and
    // ships as one map literal, so the scoring pass is a per-row fold.
    QueryDef(
      "pl_importance_resample",
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(trim(text, ' '), ' '), x -> x <> '') AS l
        |  FROM documents),
        |f AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(tok), 1, 15))::BIGINT % 1024 AS b
        |  FROM (SELECT doc_id, unnest(l) AS tok FROM t)),
        |cnts AS (
        |  SELECT b, count(*) AS rc,
        |    sum(CASE WHEN doc_id % 37 = 0 THEN 1 ELSE 0 END) AS tc
        |  FROM f GROUP BY b),
        |tot AS (SELECT sum(rc) AS rtot, sum(tc) AS ttot FROM cnts),
        |w AS (
        |  SELECT b,
        |    round((ln((tc + 1)::DOUBLE / (tot.ttot + 1024)::DOUBLE)
        |         - ln((rc + 1)::DOUBLE / (tot.rtot + 1024)::DOUBLE))
        |      * 1e6)::BIGINT AS w
        |  FROM cnts, tot),
        |s AS (
        |  SELECT f.doc_id, count(*)::BIGINT AS n_tokens,
        |    sum(w.w)::BIGINT AS score_1e6
        |  FROM f JOIN w USING (b) GROUP BY f.doc_id)
        |SELECT doc_id, n_tokens, score_1e6 FROM s
        |ORDER BY score_1e6 DESC, doc_id LIMIT 100""".stripMargin) { (s, d) =>
      graft.operators.Corpus.importanceTopK(Tables.documents(s, d),
          "doc_id", "text", isTarget = col("doc_id") % 37 === 0,
          buckets = 1024, k = 100)
        .presentSorted(col("score_1e6").desc, col("doc_id"))
    },

    // BOILERPLATE RATIO (RefinedWeb/C4-style template-text signal):
    // fraction of each doc's distinct shingles whose corpus document
    // frequency reaches 5 — the quality-gate input for dropping
    // navigation/template-heavy pages.
    QueryDef(
      "pl_boilerplate_ratio",
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split(trim(text, ' '), ' '), x -> x <> '') AS l
        |  FROM documents),
        |dsh AS (
        |  SELECT DISTINCT doc_id,
        |    ('0x' || substr(md5(sh), 1, 15))::BIGINT AS bh FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(l) - 1),
        |      i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS sh
        |    FROM toks)),
        |common AS (SELECT bh FROM dsh GROUP BY bh HAVING count(*) >= 5),
        |tot AS (SELECT doc_id, count(*) AS n_shingles FROM dsh GROUP BY doc_id),
        |com AS (
        |  SELECT d.doc_id, count(*) AS n_common
        |  FROM dsh d JOIN common USING (bh) GROUP BY d.doc_id)
        |SELECT t.doc_id, t.n_shingles,
        |  coalesce(c.n_common, 0) AS n_common,
        |  round(coalesce(c.n_common, 0) * 1.0 / t.n_shingles, 4)
        |    AS boilerplate_ratio
        |FROM tot t LEFT JOIN com c USING (doc_id)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      graft.operators.Corpus.boilerplateRatio(
        Tables.documents(s, d), "doc_id", "text", n = 3, minDf = 5)
        .presentSorted(col("doc_id"))
    },

    // PII scrubbing: synthetic emails/phones injected per doc_id, then
    // redacted by the codegen'd scrub pass; the oracle re-runs the same
    // regexes under RE2. Counts audit the redaction.
    QueryDef(
      "txt_pii_scrub",
      """WITH t AS (
        |  SELECT doc_id, text ||
        |    CASE doc_id % 3
        |      WHEN 0 THEN ' contact user' || doc_id || '@example.com now'
        |      WHEN 1 THEN ' call 555-867-5309 today'
        |      ELSE '' END AS text2
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(text2,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
        |  len(regexp_extract_all(text2, '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS n_phone,
        |  strlen(regexp_replace(regexp_replace(text2,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')) AS scrubbed_len
        |FROM t ORDER BY doc_id""".stripMargin) { (s, d) =>
      val injected = Tables.documents(s, d)
        .select(col("doc_id"), concat(col("text"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" contact user"), col("doc_id"),
              lit("@example.com now")))
            .when(col("doc_id") % 3 === 1, lit(" call 555-867-5309 today"))
            .otherwise(lit(""))).as("text2"))
      injected.select(col("doc_id"),
        TextFunctions.emailCount(col("text2")).as("n_email"),
        TextFunctions.phoneCount(col("text2")).as("n_phone"),
        length(TextFunctions.scrubPii(col("text2"))).as("scrubbed_len"))
        .presentSorted(col("doc_id"))
    },

    // Deterministic STRATIFIED SAMPLING to a target source mix:
    // hash-threshold filter (no rand(), no shuffle — pushes to the
    // scan), per-mille rate derived per source. The oracle applies the
    // identical stableHash64 primitive.
    QueryDef(
      "pl_stratified_sample",
      """SELECT doc_id, source FROM documents
        |WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 1000
        |      < 100 + 40 * (substr(source, 4)::INT % 5)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val rates = (0 until 20).map(i => s"src$i" -> (100 + 40 * (i % 5))).toMap
      graft.operators.Corpus.stratifiedSample(
        Tables.documents(s, d), "doc_id", "source", rates)
        .select(col("doc_id"), col("source"))
        .presentSorted(col("doc_id"))
    },

    // DETERMINISTIC CORPUS SHUFFLE: the global training order — every
    // doc's epoch position from the portable seeded 60-bit hash
    // (stableHash64, bit-identical in DuckDB), positions assigned by
    // one range exchange + the two-pass distributed count (no global
    // window). Same seed, same corpus, any partitioning → identical
    // permutation; the oracle recomputes it with row_number.
    QueryDef(
      "pl_corpus_shuffle",
      """WITH k AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5('shuf42:' || doc_id), 1, 15))::BIGINT
        |      AS shuffle_key
        |  FROM documents)
        |SELECT doc_id, shuffle_key,
        |  row_number() OVER (ORDER BY shuffle_key, doc_id) - 1 AS pos
        |FROM k ORDER BY pos""".stripMargin) { (s, d) =>
      graft.operators.Corpus.deterministicShuffle(
        Tables.documents(s, d).select(col("doc_id")), "doc_id", "shuf42")
        .presentSorted(col("pos"))
    },

    // Concatenate-and-chunk SEQUENCE PACKING: per source, docs in id
    // order fill 256-token chunks; each doc gets the chunk its first
    // token lands in plus its offset. Exact window-prefix-sum parity
    // with the oracle.
    QueryDef(
      "pl_pack_sequences",
      """WITH t AS (
        |  SELECT doc_id, source,
        |    len(list_filter(string_split(trim(text, ' '), ' '), x -> x <> ''))::BIGINT
        |      AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_tokens,
        |    coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |  FROM t)
        |SELECT doc_id, source, n_tokens, (cum // 256)::BIGINT AS chunk_id,
        |  (cum % 256)::BIGINT AS chunk_offset
        |FROM c ORDER BY source, doc_id""".stripMargin) { (s, d) =>
      val t = Tables.documents(s, d).select(col("doc_id"), col("source"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
      graft.operators.Corpus.packSequences(t, "doc_id", "source",
        "n_tokens", budget = 256)
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("chunk_id"), col("chunk_offset"))
        .presentSorted(col("source"), col("doc_id"))
    },

    // Same packing on the TWO-PASS distributed prefix sum (the
    // giant-stratum scale path — no one-reducer-per-source window);
    // output identical, same oracle.
    QueryDef(
      "pl_pack_sequences_dist",
      """WITH t AS (
        |  SELECT doc_id, source,
        |    len(list_filter(string_split(trim(text, ' '), ' '), x -> x <> ''))::BIGINT
        |      AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_tokens,
        |    coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |  FROM t)
        |SELECT doc_id, source, n_tokens, (cum // 256)::BIGINT AS chunk_id,
        |  (cum % 256)::BIGINT AS chunk_offset
        |FROM c ORDER BY source, doc_id""".stripMargin) { (s, d) =>
      val t = Tables.documents(s, d).select(col("doc_id"), col("source"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
      graft.operators.Corpus.packSequencesDistributed(t, "doc_id",
        "source", "n_tokens", budget = 256)
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("chunk_id"), col("chunk_offset"))
        .presentSorted(col("source"), col("doc_id"))
    },

    // Sliding-window CHUNKING with overlap (window 32, stride 24 —
    // the doc→passage step of embedding/retrieval pipelines, window
    // sized so the fixture's ~54-token docs produce multi-chunk
    // output): every doc becomes ceil-strided windows over its
    // whitespace tokens, trailing partial window kept. Pure narrow
    // projection — no shuffle; the oracle mirrors the arithmetic
    // chunk count and 1-based slices exactly.
    QueryDef(
      "pl_chunk_sliding_windows",
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(trim(text, ' '), ' '), x -> x <> '') AS l
        |  FROM documents),
        |n AS (SELECT doc_id, l, len(l) AS n FROM t WHERE len(l) > 0),
        |c AS (
        |  SELECT doc_id, l,
        |    CASE WHEN n <= 32 THEN 1
        |         ELSE 1 + (n - 32 + 23) // 24 END AS nc
        |  FROM n),
        |e AS (SELECT doc_id, l, unnest(range(nc)) AS i FROM c)
        |SELECT doc_id, i::BIGINT AS chunk_seq,
        |  len(list_slice(l, i*24 + 1, i*24 + 32))::BIGINT AS n_tokens,
        |  array_to_string(list_slice(l, i*24 + 1, i*24 + 32), ' ')
        |    AS chunk_text
        |FROM e ORDER BY doc_id, chunk_seq""".stripMargin) { (s, d) =>
      graft.operators.Corpus.chunkSlidingWindows(
        Tables.documents(s, d), "doc_id", "text",
        window = 32, overlap = 8)
        .presentSorted(col("doc_id"), col("chunk_seq"))
    },

    // Standing CHUNK STORE lifecycle (streaming chunk ingest, batch
    // face): generation 1 chunks a stale draft of a seventh of the
    // docs, generation 2 re-chunks exactly those (changed content),
    // generation 3 redelivers and appends nothing. The read face must
    // resolve every doc to its latest generation — so the final state
    // IS the plain chunking of the true documents, and the oracle is
    // the same SQL as pl_chunk_sliding_windows.
    QueryDef(
      "pl_chunk_store_roundtrip",
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(trim(text, ' '), ' '), x -> x <> '') AS l
        |  FROM documents),
        |n AS (SELECT doc_id, l, len(l) AS n FROM t WHERE len(l) > 0),
        |c AS (
        |  SELECT doc_id, l,
        |    CASE WHEN n <= 32 THEN 1
        |         ELSE 1 + (n - 32 + 23) // 24 END AS nc
        |  FROM n),
        |e AS (SELECT doc_id, l, unnest(range(nc)) AS i FROM c)
        |SELECT doc_id, i::BIGINT AS chunk_seq,
        |  len(list_slice(l, i*24 + 1, i*24 + 32))::BIGINT AS n_tokens,
        |  array_to_string(list_slice(l, i*24 + 1, i*24 + 32), ' ')
        |    AS chunk_text
        |FROM e ORDER BY doc_id, chunk_seq""".stripMargin) { (s, d) =>
      chunkStoreBuild(s, d)
      chunkStoreProbe(s, d)
    },

    // CHUNK-STORE TAKEDOWN + INCREMENTAL VACUUM: the passage surface's
    // compliance path — after tombstoning every 11th doc and reclaiming
    // the dirty generations (stale-draft supersessions + the takedown
    // wave), the read face must equal the plain chunking of the
    // remaining corpus. The composed fan-out delete drives exactly
    // this store (Streams.fanoutDeleteBatch chunkDir).
    QueryDef(
      "pl_chunk_store_takedown",
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(trim(text, ' '), ' '), x -> x <> '') AS l
        |  FROM documents WHERE doc_id % 11 <> 0),
        |n AS (SELECT doc_id, l, len(l) AS n FROM t WHERE len(l) > 0),
        |c AS (
        |  SELECT doc_id, l,
        |    CASE WHEN n <= 32 THEN 1
        |         ELSE 1 + (n - 32 + 23) // 24 END AS nc
        |  FROM n),
        |e AS (SELECT doc_id, l, unnest(range(nc)) AS i FROM c)
        |SELECT doc_id, i::BIGINT AS chunk_seq,
        |  len(list_slice(l, i*24 + 1, i*24 + 32))::BIGINT AS n_tokens,
        |  array_to_string(list_slice(l, i*24 + 1, i*24 + 32), ' ')
        |    AS chunk_text
        |FROM e ORDER BY doc_id, chunk_seq""".stripMargin) { (s, d) =>
      chunkTakedownBuild(s, d)
      chunkTakedownProbe(s, d)
    },

    // MIXTURE-WEIGHTED BUDGET TAKE: fill each source's share of a
    // 500k-token training mix (per-mille weights) with its docs in id
    // order — the mixture-composition step after dedup/filtering.
    // Single hash-exchange running sum; integer-exact budgets.
    QueryDef(
      "pl_mixture_budget_take",
      """WITH t AS (
        |  SELECT doc_id, source,
        |    len(list_filter(string_split(trim(text, ' '), ' '), x -> x <> ''))::BIGINT
        |      AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_tokens
        |  FROM t)
        |SELECT doc_id, source, n_tokens, cum_tokens FROM c
        |WHERE cum_tokens <=
        |  (500000 * (50 + 30 * (substr(source, 4)::INT % 4))) // 1000
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val weights =
        (0 until 20).map(i => s"src$i" -> (50 + 30 * (i % 4))).toMap
      val t = Tables.documents(s, d).select(col("doc_id"), col("source"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
      graft.operators.Corpus.mixtureBudgetTake(t, "doc_id", "source",
        "n_tokens", weights, totalTokens = 500000L)
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("cum_tokens"))
        .presentSorted(col("doc_id"))
    },

    // Same mixture take on the TWO-PASS distributed prefix sum (the
    // few-giant-strata scale path: per-partition sums + broadcast
    // offsets instead of one reducer per stratum) — output identical
    // to the windowed take, same oracle.
    QueryDef(
      "pl_mixture_budget_take_dist",
      """WITH t AS (
        |  SELECT doc_id, source,
        |    len(list_filter(string_split(trim(text, ' '), ' '), x -> x <> ''))::BIGINT
        |      AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_tokens
        |  FROM t)
        |SELECT doc_id, source, n_tokens, cum_tokens FROM c
        |WHERE cum_tokens <=
        |  (500000 * (50 + 30 * (substr(source, 4)::INT % 4))) // 1000
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val weights =
        (0 until 20).map(i => s"src$i" -> (50 + 30 * (i % 4))).toMap
      val t = Tables.documents(s, d).select(col("doc_id"), col("source"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
      graft.operators.Corpus.mixtureBudgetTakeDistributed(t, "doc_id",
        "source", "n_tokens", weights, totalTokens = 500000L)
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("cum_tokens"))
        .presentSorted(col("doc_id"))
    },

    // Token statistics: whitespace + BPE-ish counts.
    QueryDef(
      "txt_token_stats",
      """SELECT doc_id,
        |  len(list_filter(string_split(trim(text, ' '), ' '), x -> x <> '')) AS n_ws,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 \t\n\x0b\f\r]')) AS n_bpeish
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).as("n_ws"),
          TextFunctions.bpeishTokenCount(col("text")).as("n_bpeish"))
        .presentSorted(col("doc_id"))
    },

    // Heuristic quality score.
    QueryDef(
      "txt_quality_score",
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(trim(text, ' '), ' '), x -> x <> '') AS l
        |  FROM documents)
        |SELECT doc_id,
        |  round(least(1.0, len(l) / 32.0) * 0.4
        |    + (len(list_distinct(l)) * 1.0 / len(l)) * 0.4
        |    + least(1.0, len(list_filter(l,
        |        x -> x IN ('the','a','of','and','to','in','is'))) * 8.0 / len(l))
        |      * 0.2, 4) AS quality
        |FROM t ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          TextFunctions.qualityScoreOf(col("toks")).as("quality"))
        .presentSorted(col("doc_id"))
    },

    // Marker-stopword language-ID.
    QueryDef(
      "txt_lang_id",
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(trim(text, ' '), ' '), x -> x <> '') AS l
        |  FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    len(list_filter(l, x -> x IN ('the','a','of','and','to','in','is'))) AS en,
        |    len(list_filter(l, x -> x IN ('der','die','das','und','ist','ein'))) AS de,
        |    len(list_filter(l, x -> x IN ('le','la','les','et','est','un'))) AS fr,
        |    len(list_filter(l, x -> x IN ('el','la','los','y','es','un'))) AS es
        |  FROM t)
        |SELECT doc_id, CASE
        |  WHEN en + de + fr + es = 0 THEN 'und'
        |  WHEN en >= de AND en >= fr AND en >= es THEN 'en'
        |  WHEN de >= fr AND de >= es THEN 'de'
        |  WHEN fr >= es THEN 'fr' ELSE 'es' END AS lang_pred
        |FROM h ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
        .select(col("doc_id"),
          TextFunctions.langIdOf(col("toks")).as("lang_pred"))
        .presentSorted(col("doc_id"))
    },

    // Hashing-trick bag-of-words (TextAnalysis.hashingVectorize):
    // token counts folded into a FIXED 16-bucket space via the pinned
    // portable md5 hash — the dictionary-free featurization for linear
    // quality/importance models; sparse (doc_id, bucket, cnt) rows,
    // one explode + map-side-combined aggregate.
    QueryDef(
      "txt_hashing_vectorizer",
      """WITH t AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split(trim(text, ' '), ' '), x -> x <> ''))
        |      AS tok
        |  FROM documents)
        |SELECT doc_id,
        |  (('0x' || substr(md5('hv:' || tok), 1, 15))::BIGINT % 16)
        |    AS bucket,
        |  count(*)::BIGINT AS cnt
        |FROM t GROUP BY 1, 2 ORDER BY doc_id, bucket""".stripMargin) { (s, d) =>
      graft.operators.TextAnalysis.hashingVectorize(
          Tables.documents(s, d), "doc_id", "text", buckets = 16)
        .presentSorted(col("doc_id"), col("bucket"))
    },

    // PMI COLLOCATIONS: the corpus's strongest two-word units by
    // pointwise mutual information — the phrase-mining signal behind
    // tokenizer vocab decisions and stop-phrase lists. Unigram counts
    // derive from the SAME bigram frame (w1 position), pmi pinned as
    // one per-row rounded ln over exact integer counts, count floor
    // prunes the unstable tail.
    QueryDef(
      "txt_collocation_pmi",
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(trim(text, ' '), ' '), x -> x <> '') AS l
        |  FROM documents),
        |bg AS (
        |  SELECT unnest(list_transform(range(1, len(l)), i -> l[i])) AS w1,
        |         unnest(list_transform(range(1, len(l)), i -> l[i+1])) AS w2
        |  FROM t),
        |bc AS (SELECT w1, w2, count(*)::BIGINT AS n_ab FROM bg GROUP BY 1, 2),
        |uc AS (SELECT w1 AS w, count(*)::BIGINT AS n_w FROM bg GROUP BY 1),
        |tot AS (SELECT count(*)::BIGINT AS n FROM bg)
        |SELECT b.w1, b.w2, b.n_ab,
        |  round(ln((b.n_ab::DOUBLE * t.n::DOUBLE)
        |    / (ua.n_w::DOUBLE * ub.n_w::DOUBLE)) * 1e6)::BIGINT AS pmi_micro
        |FROM bc b JOIN uc ua ON ua.w = b.w1 JOIN uc ub ON ub.w = b.w2, tot t
        |WHERE b.n_ab >= 25
        |ORDER BY pmi_micro DESC, b.w1, b.w2 LIMIT 20""".stripMargin) { (s, d) =>
      val bg = Tables.documents(s, d)
        .select(explode(graft.functions.NativeHashExprs
          .stringShingles(col("text"), 2)).as("bg"))
        .select(substring_index(col("bg"), " ", 1).as("w1"),
          substring_index(col("bg"), " ", -1).as("w2"))
      val bc = bg.groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= 25)
      val uc = bg.groupBy(col("w1").as("w")).agg(count(lit(1)).as("n_w"))
      val tot = bg.agg(count(lit(1)).as("n"))
      bc
        .join(uc.select(col("w").as("w1"), col("n_w").as("__na")), Seq("w1"))
        .join(uc.select(col("w").as("w2"), col("n_w").as("__nb")), Seq("w2"))
        .crossJoin(broadcast(tot)) // one-row bigram-total frame
        .select(col("w1"), col("w2"), col("n_ab"),
          round(log((col("n_ab").cast("double") * col("n").cast("double")) /
            (col("__na").cast("double") * col("__nb").cast("double"))) *
            lit(1e6)).cast("long").as("pmi_micro"))
        .orderBy(col("pmi_micro").desc, col("w1"), col("w2"))
        .limit(20)
    },

    // Per-doc TF-IDF top terms: the classic lightweight keyword
    // extraction — idf pinned as a per-TERM rounded micro integer
    // (one ln per distinct term, no float sums), score = tf ×
    // idf_micro exact, top-3 per doc with term tie-break. One
    // explode, one df aggregate (broadcast back), one df-bounded
    // rank window.
    QueryDef(
      "txt_tfidf_top_terms",
      """WITH t AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split(trim(text, ' '), ' '), x -> x <> ''))
        |      AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
        |       FROM t GROUP BY 1, 2),
        |dfreq AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*)::BIGINT AS n FROM documents),
        |sc AS (
        |  SELECT tf.doc_id, tf.term,
        |    tf.tf * round(ln(n.n::DOUBLE / dfreq.df::DOUBLE) * 1e6)::BIGINT
        |      AS tfidf_micro
        |  FROM tf JOIN dfreq ON dfreq.term = tf.term, n),
        |r AS (
        |  SELECT doc_id, term, tfidf_micro,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY tfidf_micro DESC, term) AS rnk
        |  FROM sc)
        |SELECT doc_id, rnk, term, tfidf_micro FROM r WHERE rnk <= 3
        |ORDER BY doc_id, rnk""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val tf = docs
        .select(col("doc_id"),
          explode(filter(split(trim(col("text")), " +"), x => x =!= ""))
            .as("term"))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"))
        .orderBy(col("tfidf_micro").desc, col("term"))
      tf.join(dfreq, Seq("term"))
        .crossJoin(broadcast(n)) // one-row corpus-count frame
        .select(col("doc_id"), col("term"),
          (col("tf") * round(log(col("n").cast("double") /
            col("df").cast("double")) * lit(1e6)).cast("long"))
            .as("tfidf_micro"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("doc_id"), col("rnk"), col("term"), col("tfidf_micro"))
        .presentSorted(col("doc_id"), col("rnk"))
    },

    // Chi-square term selection (TextAnalysis.chi2Terms): the top-20
    // terms most associated with the quality label — the vocabulary-
    // selection step in front of the NB classifier. Integer 2x2
    // contingency cells from ONE presence aggregate, pinned-order
    // double division rounded to 4dp BEFORE ranking (the
    // round-then-rank convention), df >= 10 prunes the hapax tail.
    QueryDef(
      "txt_chi2_terms",
      """WITH t AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_filter(string_split(trim(text, ' '), ' '), x -> x <> ''))
        |      AS term
        |  FROM documents),
        |lab AS (SELECT doc_id, (n_chars >= 200) AS good FROM documents),
        |g AS (SELECT sum(CASE WHEN good THEN 1 ELSE 0 END)::BIGINT AS ng,
        |             sum(CASE WHEN good THEN 0 ELSE 1 END)::BIGINT AS nb
        |      FROM lab),
        |tc AS (
        |  SELECT term,
        |    sum(CASE WHEN lab.good THEN 1 ELSE 0 END)::BIGINT AS a,
        |    sum(CASE WHEN lab.good THEN 0 ELSE 1 END)::BIGINT AS b
        |  FROM t JOIN lab ON lab.doc_id = t.doc_id
        |  GROUP BY term HAVING count(*) >= 10),
        |x AS (
        |  SELECT term, a, b, g.ng - a AS c, g.nb - b AS d,
        |    g.ng + g.nb AS n
        |  FROM tc, g)
        |SELECT term, a, b,
        |  CASE WHEN (a+b) = 0 OR (c+d) = 0 OR (a+c) = 0 OR (b+d) = 0
        |    THEN 0.0
        |    ELSE round( (n::DOUBLE * ((a*d - b*c)::DOUBLE * (a*d - b*c)::DOUBLE))
        |      / (((a+b)::DOUBLE) * ((c+d)::DOUBLE) * ((a+c)::DOUBLE)
        |         * ((b+d)::DOUBLE)), 4) END AS chi2
        |FROM x
        |ORDER BY chi2 DESC, term LIMIT 20""".stripMargin) { (s, d) =>
      graft.operators.TextAnalysis.chi2Terms(Tables.documents(s, d),
          "doc_id", "text", col("n_chars") >= 200, minDf = 10L, k = 20)
    },

    // Winnowing fingerprints (rolling min-hash over shingle windows).
    QueryDef(
      "txt_winnow_fingerprints",
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(trim(text, ' '), ' '), x -> x <> '') AS l
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(l) - 1),
        |      i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS sh,
        |    generate_subscripts(list_transform(range(1, len(l) - 1),
        |      i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]), 1) AS pos
        |  FROM t),
        |wm AS (
        |  SELECT doc_id,
        |    min(('0x'||substr(md5('0:'||sh),1,15))::BIGINT)
        |      OVER (PARTITION BY doc_id ORDER BY pos
        |            ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp
        |  FROM sh),
        |d AS (SELECT DISTINCT doc_id, fp FROM wm)
        |SELECT doc_id, count(*) AS n_fp, min(fp) AS min_fp, max(fp) AS max_fp
        |FROM d GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      TextAnalysis.fingerprints(Tables.documents(s, d), "doc_id", "text")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_fp"), min(col("fp")).as("min_fp"),
          max(col("fp")).as("max_fp"))
        .presentSorted(col("doc_id"))
    },

    // PARAGRAPH-level exact dedup (Corpus.dedupParagraphs, the CCNet
    // shape): corpus = documents plus prefix-24-token mutants with a
    // unique tail — across the corpus only the FIRST occurrence of
    // every 8-word chunk survives (ordered by doc id, position), docs
    // are reassembled from surviving chunks, empty docs dropped. The
    // mutants must lose their copied prefix chunks but keep the unique
    // tail.
    QueryDef(
      "pl_paragraph_dedup",
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |    array_to_string(
        |      list_filter(string_split(trim(text, ' '), ' '), x -> x <> '')[1:24], ' ')
        |    || ' unique tail for mutant ' || doc_id
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split(trim(text, ' '), ' '), x -> x <> '') AS l
        |  FROM corpus),
        |lines AS (
        |  SELECT doc_id,
        |    list_transform(range(1, cast(ceil(len(l) / 8.0) AS INT) + 1),
        |      i -> array_to_string(l[((i-1)*8+1):least(i*8, len(l))], ' ')) AS ls
        |  FROM toks),
        |u AS (
        |  SELECT doc_id, generate_subscripts(ls, 1) AS pos, unnest(ls) AS line
        |  FROM lines),
        |ranked AS (
        |  SELECT doc_id, pos, line,
        |    row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
        |  FROM u),
        |kept AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |    md5(string_agg(line, chr(10) ORDER BY pos)) AS new_md5
        |  FROM ranked WHERE rn = 1 GROUP BY doc_id),
        |tot AS (SELECT doc_id, count(*) AS n_total FROM u GROUP BY doc_id)
        |SELECT t.doc_id, coalesce(k.n_kept, 0)::BIGINT AS n_kept,
        |  (t.n_total - coalesce(k.n_kept, 0))::BIGINT AS n_dropped, k.new_md5
        |FROM tot t JOIN kept k ON k.doc_id = t.doc_id
        |ORDER BY t.doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val toks = TextFunctions.tokens(col("text"))
      val corpus = docs.select(col("doc_id"), col("text")).unionByName(
        docs.select((col("doc_id") + 1000000).as("doc_id"),
          concat(concat_ws(" ", slice(toks, 1, 24)),
            lit(" unique tail for mutant "), col("doc_id")).as("text")))
      val units = corpus
        .withColumn("toks", toks)
        .withColumn("n_lines", ceil(size(col("toks")) / lit(8.0)).cast("int"))
        .withColumn("ls",
          transform(sequence(lit(1), col("n_lines")),
            i => concat_ws(" ", slice(col("toks"), (i - lit(1)) * 8 + 1, lit(8)))))
        .select(col("doc_id"), posexplode(col("ls")).as(Seq("pos0", "line")))
        .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("line"))
      graft.operators.Corpus.dedupParagraphs(units, "doc_id", "pos", "line")
        .select(col("doc_id"), col("n_kept"), col("n_dropped"),
          md5(col("new_text")).as("new_md5"))
        .presentSorted(col("doc_id"))
    },

    // EXACT SUBSTRING-SPAN dedup (Corpus.exactSubstringDedup, the
    // suffix-array-approximating k-gram form used for LLM corpora):
    // a third of the docs carry a shared 10-token boilerplate prefix,
    // whose three fully-interior 8-grams go corpus-duplicated — so
    // exactly tokens 0..9 are removed from every carrying doc (the
    // boundary grams mixing boilerplate tail with each doc's own
    // opening are unique and keep the document text intact), plus any
    // 8-gram spans the fixture corpus genuinely repeats.
    QueryDef(
      "pl_exact_substring_dedup",
      """WITH corpus AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN
        |      'shared boilerplate header tokens inserted before every third document here' || ' ' || text
        |    ELSE text END AS text
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split(trim(text, ' '), ' '), x -> x <> '') AS l
        |  FROM corpus),
        |grams AS (
        |  SELECT doc_id,
        |    unnest(range(1, len(l) - 6)) - 1 AS pos,
        |    unnest(list_transform(range(1, len(l) - 6),
        |      i -> ('0x' || substr(md5(l[i] || ' ' || l[i+1] || ' ' || l[i+2]
        |        || ' ' || l[i+3] || ' ' || l[i+4] || ' ' || l[i+5] || ' '
        |        || l[i+6] || ' ' || l[i+7]), 1, 15))::BIGINT)) AS gh
        |  FROM toks),
        |dup AS (SELECT gh FROM grams GROUP BY gh HAVING count(*) >= 2),
        |dpos AS (
        |  SELECT g.doc_id, list_sort(list(g.pos)) AS dup_pos
        |  FROM grams g JOIN dup USING (gh) GROUP BY g.doc_id),
        |cov AS (
        |  SELECT doc_id,
        |    list_distinct(flatten(list_transform(dup_pos,
        |      p -> range(p, p + 8)))) AS covered,
        |    len(dup_pos) AS n_dup_grams
        |  FROM dpos)
        |SELECT t.doc_id, len(t.l)::BIGINT AS n_tokens,
        |  coalesce(c.n_dup_grams, 0)::BIGINT AS n_dup_grams,
        |  coalesce(len(c.covered), 0)::BIGINT AS n_removed,
        |  md5(CASE WHEN c.doc_id IS NULL THEN array_to_string(t.l, ' ')
        |    ELSE coalesce(array_to_string(list_filter(t.l,
        |      (x, i) -> NOT list_contains(c.covered, i - 1)), ' '), '')
        |  END) AS clean_md5
        |FROM toks t LEFT JOIN cov c ON c.doc_id = t.doc_id
        |ORDER BY t.doc_id""".stripMargin) { (s, d) =>
      val corpus = Tables.documents(s, d)
        .select(col("doc_id"),
          when(col("doc_id") % 3 === 0,
            concat(lit("shared boilerplate header tokens inserted " +
              "before every third document here "), col("text")))
            .otherwise(col("text")).as("text"))
      graft.operators.Corpus.exactSubstringDedup(corpus, "doc_id", "text", 8)
        .select(col("doc_id"), col("n_tokens"), col("n_dup_grams"),
          col("n_removed"), md5(col("clean_text")).as("clean_md5"))
        .presentSorted(col("doc_id"))
    },

    // INCREMENTAL substring dedup against the standing gram-frequency
    // store (Corpus.exactSubstringDedupIncremental): the base corpus's
    // per-gram counts are ingested once, then a mutant wave (16-token
    // prefixes copied from stored docs + fresh tails) screens against
    // store + in-batch counts — a gram is duplicated iff its combined
    // count reaches 2, which for the batch rows is exactly the
    // full-union computation the oracle runs (forward-only: stored
    // docs are not retro-cleaned, so only batch rows are output).
    // QUALITY-RANKED span survivorship (Corpus.exactSubstringDedupKeepBest):
    // same boilerplate-prefix fixture as pl_exact_substring_dedup, but
    // each corpus-duplicated 8-gram keeps ONE home — its longest
    // carrier (quality = token count; ties to the lowest id) keeps the
    // span, every other carrier loses it — so exactly one intact copy
    // of repeated boilerplate survives instead of none. The oracle
    // resolves the same per-gram argmax with a window over distinct
    // carriers.
    QueryDef(
      "pl_substring_keep_best_span",
      """WITH corpus AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN
        |      'shared boilerplate header tokens inserted before every third document here' || ' ' || text
        |    ELSE text END AS text
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split(trim(text, ' '), ' '), x -> x <> '') AS l
        |  FROM corpus),
        |q AS (SELECT doc_id, len(l) AS q FROM toks),
        |grams AS (
        |  SELECT doc_id,
        |    unnest(range(1, len(l) - 6)) - 1 AS pos,
        |    unnest(list_transform(range(1, len(l) - 6),
        |      i -> ('0x' || substr(md5(l[i] || ' ' || l[i+1] || ' ' || l[i+2]
        |        || ' ' || l[i+3] || ' ' || l[i+4] || ' ' || l[i+5] || ' '
        |        || l[i+6] || ' ' || l[i+7]), 1, 15))::BIGINT)) AS gh
        |  FROM toks),
        |dupg AS (SELECT gh FROM grams GROUP BY gh HAVING count(*) >= 2),
        |carriers AS (
        |  SELECT DISTINCT g.gh, g.doc_id FROM grams g JOIN dupg USING (gh)),
        |win AS (
        |  SELECT gh, doc_id AS win_id FROM (
        |    SELECT c.gh, c.doc_id,
        |      row_number() OVER (PARTITION BY c.gh
        |                         ORDER BY q.q DESC, c.doc_id) AS rn
        |    FROM carriers c JOIN q USING (doc_id)) WHERE rn = 1),
        |loserpos AS (
        |  SELECT g.doc_id, list_sort(list(g.pos)) AS dup_pos,
        |    count(*) AS n_dup
        |  FROM grams g JOIN win w ON w.gh = g.gh AND w.win_id <> g.doc_id
        |  GROUP BY g.doc_id),
        |cov AS (
        |  SELECT doc_id,
        |    list_distinct(flatten(list_transform(dup_pos,
        |      p -> range(p, p + 8)))) AS covered,
        |    n_dup FROM loserpos)
        |SELECT t.doc_id, len(t.l)::BIGINT AS n_tokens,
        |  coalesce(c.n_dup, 0)::BIGINT AS n_dup_grams,
        |  coalesce(len(c.covered), 0)::BIGINT AS n_removed,
        |  md5(CASE WHEN c.doc_id IS NULL THEN array_to_string(t.l, ' ')
        |    ELSE coalesce(array_to_string(list_filter(t.l,
        |      (x, i) -> NOT list_contains(c.covered, i - 1)), ' '), '')
        |  END) AS clean_md5
        |FROM toks t LEFT JOIN cov c ON c.doc_id = t.doc_id
        |ORDER BY t.doc_id""".stripMargin) { (s, d) =>
      import graft.functions.TextFunctions
      val corpus = Tables.documents(s, d)
        .select(col("doc_id"),
          when(col("doc_id") % 3 === 0,
            concat(lit("shared boilerplate header tokens inserted " +
              "before every third document here "), col("text")))
            .otherwise(col("text")).as("text"))
        .withColumn("quality", size(TextFunctions.tokens(col("text"))))
      graft.operators.Corpus.exactSubstringDedupKeepBest(corpus,
        "doc_id", "text", "quality", 8)
        .select(col("doc_id"), col("n_tokens"), col("n_dup_grams"),
          col("n_removed"), md5(col("clean_text")).as("clean_md5"))
        .presentSorted(col("doc_id"))
    },

    // SPAN-GATED composed fan-out (Streams.fanoutIngestBatchGated):
    // one delivered batch advances gram store + merge store + inverted
    // index + ANN store on ONE cadence. The oracle models the gate's
    // exact two-wave semantics — wave-1 exact dedup (lowest id per
    // text), in-batch span screen, then SURVIVOR-ONLY store gram
    // counts (a fully-covered doc is dropped AND leaves no counts —
    // the one semantic no other substring oracle pins), then wave-2
    // novel docs (text not already stored) screened against store
    // counts + in-batch counts, with exact re-deliveries dropped and a
    // full wave-2 redelivery required to no-op in the build. The
    // consistency flags are literal TRUE on the oracle side: the
    // engine probe computes them from the other three stores, so any
    // surface the composed cadence let drift mismatches loudly.
    QueryDef(
      "pl_fanout_gated_roundtrip",
      """WITH
        |w1n AS (
        |  SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text),
        |w1t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(trim(text, ' '), ' '), x -> x <> '') AS l
        |  FROM w1n),
        |w1g AS (
        |  SELECT doc_id,
        |    unnest(range(1, len(l) - 6)) - 1 AS pos,
        |    unnest(list_transform(range(1, len(l) - 6),
        |      i -> ('0x' || substr(md5(l[i] || ' ' || l[i+1] || ' ' || l[i+2]
        |        || ' ' || l[i+3] || ' ' || l[i+4] || ' ' || l[i+5] || ' '
        |        || l[i+6] || ' ' || l[i+7]), 1, 15))::BIGINT)) AS gh
        |  FROM w1t),
        |w1dup AS (SELECT gh FROM w1g GROUP BY gh HAVING count(*) >= 2),
        |w1dpos AS (
        |  SELECT g.doc_id, list_sort(list(g.pos)) AS dup_pos
        |  FROM w1g g JOIN w1dup USING (gh) GROUP BY g.doc_id),
        |w1cov AS (
        |  SELECT doc_id,
        |    list_distinct(flatten(list_transform(dup_pos,
        |      p -> range(p, p + 8)))) AS covered,
        |    len(dup_pos) AS n_dup_grams
        |  FROM w1dpos),
        |w1out AS (
        |  SELECT t.doc_id, len(t.l)::BIGINT AS n_tokens,
        |    coalesce(c.n_dup_grams, 0)::BIGINT AS n_dup_grams,
        |    coalesce(len(c.covered), 0)::BIGINT AS n_removed,
        |    CASE WHEN c.doc_id IS NULL THEN array_to_string(t.l, ' ')
        |      ELSE coalesce(array_to_string(list_filter(t.l,
        |        (x, i) -> NOT list_contains(c.covered, i - 1)), ' '), '')
        |    END AS clean
        |  FROM w1t t LEFT JOIN w1cov c ON c.doc_id = t.doc_id),
        |w1surv AS (SELECT * FROM w1out WHERE clean <> ''),
        |sg AS (
        |  SELECT g.gh, count(*) AS df FROM w1g g
        |  JOIN w1surv s ON s.doc_id = g.doc_id GROUP BY g.gh),
        |stext AS (
        |  SELECT n.text FROM w1surv s JOIN w1n n ON n.doc_id = s.doc_id),
        |w2b AS (
        |  SELECT doc_id + 1000000 AS doc_id,
        |    array_to_string(
        |      list_filter(string_split(trim(text, ' '), ' '), x -> x <> '')[1:16], ' ')
        |    || ' fresh tail mutant ' || doc_id AS text
        |  FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0),
        |w2n AS (
        |  SELECT min(doc_id) AS doc_id, text FROM w2b
        |  WHERE text NOT IN (SELECT text FROM stext) GROUP BY text),
        |w2t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(trim(text, ' '), ' '), x -> x <> '') AS l
        |  FROM w2n),
        |w2g AS (
        |  SELECT doc_id,
        |    unnest(range(1, len(l) - 6)) - 1 AS pos,
        |    unnest(list_transform(range(1, len(l) - 6),
        |      i -> ('0x' || substr(md5(l[i] || ' ' || l[i+1] || ' ' || l[i+2]
        |        || ' ' || l[i+3] || ' ' || l[i+4] || ' ' || l[i+5] || ' '
        |        || l[i+6] || ' ' || l[i+7]), 1, 15))::BIGINT)) AS gh
        |  FROM w2t),
        |w2cnt AS (SELECT gh, count(*) AS bdf FROM w2g GROUP BY gh),
        |w2dup AS (
        |  SELECT c.gh FROM w2cnt c LEFT JOIN sg ON sg.gh = c.gh
        |  WHERE c.bdf + coalesce(sg.df, 0) >= 2),
        |w2dpos AS (
        |  SELECT g.doc_id, list_sort(list(g.pos)) AS dup_pos
        |  FROM w2g g JOIN w2dup USING (gh) GROUP BY g.doc_id),
        |w2cov AS (
        |  SELECT doc_id,
        |    list_distinct(flatten(list_transform(dup_pos,
        |      p -> range(p, p + 8)))) AS covered,
        |    len(dup_pos) AS n_dup_grams
        |  FROM w2dpos),
        |w2out AS (
        |  SELECT t.doc_id, len(t.l)::BIGINT AS n_tokens,
        |    coalesce(c.n_dup_grams, 0)::BIGINT AS n_dup_grams,
        |    coalesce(len(c.covered), 0)::BIGINT AS n_removed,
        |    CASE WHEN c.doc_id IS NULL THEN array_to_string(t.l, ' ')
        |      ELSE coalesce(array_to_string(list_filter(t.l,
        |        (x, i) -> NOT list_contains(c.covered, i - 1)), ' '), '')
        |    END AS clean
        |  FROM w2t t LEFT JOIN w2cov c ON c.doc_id = t.doc_id),
        |w2surv AS (SELECT * FROM w2out WHERE clean <> '')
        |SELECT doc_id, n_tokens, n_dup_grams, n_removed,
        |  md5(clean) AS clean_md5,
        |  TRUE AS merge_ok, TRUE AS in_index, TRUE AS in_ann,
        |  TRUE AS in_pq, TRUE AS in_chunks, TRUE AS in_chunk_vecs
        |FROM (SELECT * FROM w1surv UNION ALL SELECT * FROM w2surv)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      fanoutGatedBuild(s, d)
      fanoutGatedProbe(s, d)
    },

    // FULLY-gated composed fan-out
    // (Streams.fanoutIngestBatchNeardupGated): the MinHash/LSH
    // near-dup gate composed in front of the span-gated fan-out, so
    // one delivered batch advances all FIVE standing surfaces on one
    // cadence — near-dup store, gram store, merge store, inverted
    // index, ANN store. The oracle chains the dd_* queries' generated
    // signature/banding CTEs (greedy higher-id drops at Jaccard >=
    // 0.9, exact copies dropped by text) into the sibling's two-wave
    // substring chain, its wave inputs replaced by the near-dup
    // survivors. A full wave-2 redelivery must no-op in the build; the
    // four consistency flags are literal TRUE on the oracle side.
    QueryDef(
      "pl_fanout_neardup_gated_roundtrip",
      FanoutNdGatedSql) { (s, d) =>
      fanoutNdGatedBuild(s, d)
      fanoutNdGatedProbe(s, d)
    },

    QueryDef(
      "pl_substring_dedup_incremental",
      """WITH batch AS (
        |  SELECT doc_id + 1000000 AS doc_id,
        |    array_to_string(
        |      list_filter(string_split(trim(text, ' '), ' '), x -> x <> '')[1:16], ' ')
        |    || ' fresh tail mutant ' || doc_id AS text
        |  FROM documents WHERE doc_id % 5 = 0),
        |corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id, text FROM batch),
        |toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split(trim(text, ' '), ' '), x -> x <> '') AS l
        |  FROM corpus),
        |grams AS (
        |  SELECT doc_id,
        |    unnest(range(1, len(l) - 6)) - 1 AS pos,
        |    unnest(list_transform(range(1, len(l) - 6),
        |      i -> ('0x' || substr(md5(l[i] || ' ' || l[i+1] || ' ' || l[i+2]
        |        || ' ' || l[i+3] || ' ' || l[i+4] || ' ' || l[i+5] || ' '
        |        || l[i+6] || ' ' || l[i+7]), 1, 15))::BIGINT)) AS gh
        |  FROM toks),
        |dup AS (SELECT gh FROM grams GROUP BY gh HAVING count(*) >= 2),
        |dpos AS (
        |  SELECT g.doc_id, list_sort(list(g.pos)) AS dup_pos
        |  FROM grams g JOIN dup USING (gh) GROUP BY g.doc_id),
        |cov AS (
        |  SELECT doc_id,
        |    list_distinct(flatten(list_transform(dup_pos,
        |      p -> range(p, p + 8)))) AS covered,
        |    len(dup_pos) AS n_dup_grams
        |  FROM dpos)
        |SELECT t.doc_id, len(t.l)::BIGINT AS n_tokens,
        |  coalesce(c.n_dup_grams, 0)::BIGINT AS n_dup_grams,
        |  coalesce(len(c.covered), 0)::BIGINT AS n_removed,
        |  md5(CASE WHEN c.doc_id IS NULL THEN array_to_string(t.l, ' ')
        |    ELSE coalesce(array_to_string(list_filter(t.l,
        |      (x, i) -> NOT list_contains(c.covered, i - 1)), ' '), '')
        |  END) AS clean_md5
        |FROM toks t LEFT JOIN cov c ON c.doc_id = t.doc_id
        |WHERE t.doc_id >= 1000000
        |ORDER BY t.doc_id""".stripMargin) { (s, d) =>
      gramStoreBuild(s, d)
      gramStoreProbe(s, d)
    },

    // Gopher-style repetition signals (Corpus.repetitionSignals): lines
    // = 8-word chunks with the first two chunks re-appended (so every
    // doc carries real duplicate units); per doc the duplicate-unit
    // fraction, duplicated-character fraction, and the top unit's
    // character share — the listing/template-spam gates.
    QueryDef(
      "txt_repetition_signals",
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split(trim(text, ' '), ' '), x -> x <> '') AS l
        |  FROM documents),
        |lines0 AS (
        |  SELECT doc_id,
        |    list_transform(range(1, cast(ceil(len(l) / 8.0) AS INT) + 1),
        |      i -> array_to_string(l[((i-1)*8+1):least(i*8, len(l))], ' ')) AS ls
        |  FROM toks),
        |lines AS (SELECT doc_id, list_concat(ls, ls[1:2]) AS ls FROM lines0),
        |u AS (SELECT doc_id, unnest(ls) AS line FROM lines),
        |pu AS (
        |  SELECT doc_id, line, count(*) AS cnt,
        |    count(*) * strlen(line) AS chars
        |  FROM u GROUP BY doc_id, line)
        |SELECT doc_id, sum(cnt)::BIGINT AS n_units,
        |  count(*)::BIGINT AS n_distinct,
        |  round(1.0 - count(*)::DOUBLE / sum(cnt), 4) AS dup_unit_frac,
        |  round(sum(CASE WHEN cnt > 1 THEN chars ELSE 0 END)::DOUBLE
        |    / sum(chars), 4) AS dup_char_frac,
        |  round(max(chars)::DOUBLE / sum(chars), 4) AS top_unit_char_frac
        |FROM pu GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val toks = TextFunctions.tokens(col("text"))
      val units = Tables.documents(s, d)
        .withColumn("toks", toks)
        .withColumn("n_lines", ceil(size(col("toks")) / lit(8.0)).cast("int"))
        .withColumn("ls0",
          transform(sequence(lit(1), col("n_lines")),
            i => concat_ws(" ", slice(col("toks"), (i - lit(1)) * 8 + 1, lit(8)))))
        .withColumn("ls", concat(col("ls0"), slice(col("ls0"), 1, 2)))
        .select(col("doc_id"), explode(col("ls")).as("line"))
      graft.operators.Corpus.repetitionSignals(units, "doc_id", "line")
        .presentSorted(col("doc_id"))
    },

    // K-means semantic clustering (Similarity.kmeansAssign): two Lloyd
    // rounds from deterministic seeds (the 4 lowest-id vectors —
    // ORDER BY id LIMIT 4, same rule as every Lloyd codebook, cluster
    // id = seed id), distances via the inner-product identity so both
    // engines evaluate the same float expression; per-cluster size and
    // mean squared distance. The oracle unrolls both rounds as CTEs.
    QueryDef(
      "sim_kmeans_clusters",
      """WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
        |c0 AS (SELECT id AS cid, v FROM e ORDER BY id LIMIT 4),
        |d1 AS (
        |  SELECT e.id, c.cid,
        |    list_inner_product(e.v, e.v) + list_inner_product(c.v, c.v)
        |      - 2 * list_inner_product(e.v, c.v) AS d2,
        |    row_number() OVER (PARTITION BY e.id
        |      ORDER BY list_inner_product(e.v, e.v) + list_inner_product(c.v, c.v)
        |        - 2 * list_inner_product(e.v, c.v), c.cid) AS rn
        |  FROM e, c0 c),
        |m1 AS (
        |  SELECT a.cid, u.dim, avg(u.x) AS x
        |  FROM (SELECT id, cid FROM d1 WHERE rn = 1) a
        |  JOIN (SELECT id, generate_subscripts(v, 1) AS dim, unnest(v) AS x
        |        FROM e) u USING (id)
        |  GROUP BY a.cid, u.dim),
        |c1 AS (SELECT cid, list(x ORDER BY dim) AS v FROM m1 GROUP BY cid),
        |d2i AS (
        |  SELECT e.id, c.cid,
        |    list_inner_product(e.v, e.v) + list_inner_product(c.v, c.v)
        |      - 2 * list_inner_product(e.v, c.v) AS d2,
        |    row_number() OVER (PARTITION BY e.id
        |      ORDER BY list_inner_product(e.v, e.v) + list_inner_product(c.v, c.v)
        |        - 2 * list_inner_product(e.v, c.v), c.cid) AS rn
        |  FROM e, c1 c)
        |SELECT cid AS cluster_id, count(*)::BIGINT AS n_members,
        |  round(avg(d2), 4) AS avg_d2
        |FROM d2i WHERE rn = 1 GROUP BY cid ORDER BY cluster_id""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.kmeansAssign(emb, k = 4, iters = 2)
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_members"), round(avg(col("d2")), 4).as("avg_d2"))
        .presentSorted(col("cluster_id"))
    },

    // PRODUCT-QUANTIZED ANN (Similarity.pqTopK): 4 subspaces x 16 dims,
    // 8-code Lloyd codebook per subspace (2 iterations, lowest-id
    // seeds), corpus encoded to 4 code ids/vector, queries scored by
    // asymmetric distance — the memory lever past int8 (the scored
    // corpus side is m bytes/vector, never the floats). The oracle
    // re-trains every codebook in SQL (the k-means CTE chain per
    // subspace), re-encodes, and sums the per-subspace d2 in the same
    // left-to-right fold order.
    QueryDef("sim_pq_adc_topk", PqAdcTopkSql) { (s, d) =>
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.pqTopK(emb, emb.filter(col("id") < 10).select(col("id")),
          m = 4, subDims = 16, codes = 8, iters = 2, k = 5)
        .presentSorted(col("qid"), col("rnk"))
    },

    // IVF + PQ (Similarity.ivfPqTopK) — the composed scale
    // architecture: the 16-cell coarse quantizer routes the corpus to
    // one cell and each query to its 2 nearest, PRUNING the candidate
    // set, then the PQ codebooks ADC-score only the candidates — a
    // broadcast HASH join on the cell id over (cell, 4 codes)/vector,
    // no cross join and no floats on the scored side.
    QueryDef("sim_ivfpq_topk", IvfPqTopkSql) { (s, d) =>
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val cents = Tables.embeddings(s, d).filter(col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      Similarity.ivfPqTopK(emb, cents,
          emb.filter(col("id") < 10).select(col("id")), nprobe = 2,
          m = 4, subDims = 16, codes = 8, iters = 2, k = 5)
        .presentSorted(col("qid"), col("rnk"))
    },

    // PQ RECALL@5 against exact squared-L2 neighbors — the
    // quantization-quality gate: per query, how many of the ADC top-5
    // are true top-5. n_hit is an exact integer; a codebook change
    // that degrades recall flips this row, not just a latency curve.
    QueryDef("sim_pq_recall_at_k", PqRecallSql) { (s, d) =>
      val emb = Tables.embeddings(s, d)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val qids = emb.filter(col("id") < 10).select(col("id"))
      val adc = Similarity.pqTopK(emb, qids,
          m = 4, subDims = 16, codes = 8, iters = 2, k = 5)
        .select(col("qid"), col("cid"))
      val q = emb.filter(col("id") < 10)
        .select(col("id").as("qid"),
          graft.functions.VectorFunctions.toDoubleArray(col("vec"))
            .as("qv"))
      val d2 = {
        val dot = graft.functions.VectorFunctions.dot _
        dot(col("qv"), col("qv")) + dot(col("cv"), col("cv")) -
          lit(2.0) * dot(col("qv"), col("cv"))
      }
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("d2"), col("cid"))
      val exact = emb
        .select(col("id").as("cid"),
          graft.functions.VectorFunctions.toDoubleArray(col("vec"))
            .as("cv"))
        .crossJoin(broadcast(q))
        .filter(col("cid") =!= col("qid"))
        .select(col("qid"), col("cid"), round(d2, 4).as("d2"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .select(col("qid"), col("cid"))
      val hits = adc.join(exact, Seq("qid", "cid"))
        .groupBy(col("qid")).agg(count(lit(1)).as("__h"))
      qids.select(col("id").as("qid"))
        .join(hits, Seq("qid"), "left")
        .select(col("qid"), coalesce(col("__h"), lit(0L)).as("n_hit"))
        .presentSorted(col("qid"))
    },

    // STANDING PQ store lifecycle (Similarity.pqStoreBuild/Append/
    // TopK): codebooks train ONCE on the build corpus and become store
    // metadata; a re-embedding batch (every 7th vector negated)
    // supersedes via vec-hash currency, an unchanged redelivery
    // appends nothing, and the probe ADC-scores the CURRENT generation
    // from code ids alone — train-once, encode-forever, the standing
    // face of sim_pq_adc_topk. The oracle trains on the build corpus
    // but encodes and queries the post-upsert state.
    QueryDef("sim_pq_store_upsert_topk", PqStoreUpsertSql) { (s, d) =>
      pqStoreUpBuild(s, d)
      pqStoreUpProbe(s, d)
    },

    // PQ store TAKEDOWN (Similarity.pqStoreDelete + incremental
    // vacuum): every id % 5 tombstoned (idempotent — a redelivered
    // takedown writes nothing), the all-dead tombstone wave reclaimed
    // with the markers CARRIED, and the probe serving only the live
    // membership. The oracle encodes only the surviving ids, so a
    // probe that leaks a taken-down vector cannot pass — the
    // store-family contract that a takedown leaves EVERY read surface,
    // extended to the sixth (PQ) surface.
    QueryDef("sim_pq_store_takedown", PqStoreTakedownSql) { (s, d) =>
      pqTakedownBuild(s, d)
      pqTakedownProbe(s, d)
    },

    // IVF-ROUTED standing PQ store (pqStoreBuild cells=16 ->
    // pqStoreTopK nprobe=2): the train-once coarse quantizer is store
    // metadata like the subspace codebooks, every code row carries its
    // cell id, and the probe routes each query to its 2 nearest cells
    // — a broadcast HASH join on the cell id over ~nprobe/cells of the
    // committed code rows, replacing the unrouted probe's full ADC
    // scan. At 100 TB this is the store's hot-path plan; the oracle
    // re-derives the coarse Lloyd round, the routing, and the ADC
    // scores bit-for-bit.
    QueryDef("sim_ivfpq_store_topk", IvfPqStoreSql) { (s, d) =>
      ivfPqStoreBuild(s, d)
      ivfPqStoreProbe(s, d)
    },

    // PQ candidates -> EXACT rerank (Similarity.pqStoreRerankTopK):
    // the standing store's ADC probe nominates 20 candidates per query
    // from code ids alone, then ONLY those candidates' float vectors
    // load for the exact squared-L2 top-5 — production retrieval's
    // two-stage shape (approximation picks WHO is scored, exact
    // distance picks the ORDER). ADC ties (same-code vectors) that the
    // quantizer cannot separate come back exact here.
    QueryDef("sim_pq_rerank_topk", PqRerankSql) { (s, d) =>
      pqRerankBuild(s, d)
      pqRerankProbe(s, d)
    },

    // PQ store COARSE REROUTE (Similarity.pqStoreReroute): an UNROUTED
    // store is upgraded in place — the coarse quantizer trains on the
    // code RECONSTRUCTIONS (the floats never existed in the store),
    // every live row is re-stamped, and the routed probe then serves
    // nprobe=2 of the 16 new cells. This is how cells grow with the
    // corpus at 100 TB without re-reading it; the oracle re-derives
    // the reconstruction k-means, the stamps, the real-vector query
    // routing, and the untouched ADC scores bit-for-bit.
    QueryDef("sim_pq_reroute_topk", PqRerouteSql) { (s, d) =>
      pqRerouteBuild(s, d)
      pqRerouteProbe(s, d)
    },

    // PQ store STATS + REROUTE ADVISORY (Similarity.pqStoreStats): the
    // operational read a maintenance cron consumes, oracle-derived
    // from the store's full lifecycle — build(cells=16), re-embed
    // every 7th id (negated, re-routed at append), tombstone every
    // 5th — so live/tombstoned/superseded counts, occupied cells
    // (routing re-derived in SQL, negated where re-embedded), and the
    // advisory's exact flip (live > 3 x occupied at maxRowsPerCell=3)
    // plus its hysteresis-sized target ceil(live/1.5) all face the
    // oracle as one row.
    QueryDef(
      "sim_pq_store_stats",
      PqStoreStatsSql) { (s, d) =>
      pqStatsBuild(s, d)
      pqStatsProbe(s, d)
    },

    // PASSAGE-LEVEL hybrid retrieval (Streams.hybridTopKPassage): BM25
    // doc ranks fused with each doc's BEST-passage dense rank — the
    // long-document retrieval shape where whole-doc embedding evidence
    // averages the relevant passage away. The oracle splices the BM25
    // chain with the full passage re-derivation (chunk, featurize,
    // train, route, rank, doc-fold) and fuses under the shared RRF
    // tail.
    QueryDef(
      "search_hybrid_passage_rrf",
      HybridPassageRrfSql) { (s, d) =>
      hybridPassageBuild(s, d)
      hybridPassageProbe(s, d)
    },

    // PASSAGE-LEVEL retrieval (Streams.passageTopK) — the chunk
    // store's read consumer: documents chunk into passages, every
    // passage embeds (deterministic signed-BoW featurization) into a
    // standing IVF-routed PQ store keyed by packed (doc, seq) ids
    // through the FULL lifecycle (base build trains the codebook, a
    // stale-draft re-chunk re-encodes, the return to base tombstones
    // the draft-only passages, a redelivery no-ops), then a text query
    // routes to its 2 nearest of 8 cells, ADC-ranks the top-50
    // passages, and doc-level aggregation surfaces which documents
    // hold the closest passages and where. The oracle re-derives
    // chunking, featurization, both quantizer trainings, routing, and
    // the doc fold from the raw documents table.
    QueryDef(
      "search_passage_topk",
      PassageTopkSql) { (s, d) =>
      passageBuild(s, d)
      passageProbe(s, d)
    },

    // PASSAGE-LEVEL exact rerank (Streams.passageRerankTopK): the
    // routed ADC probe nominates 100 candidate passages from code ids,
    // only those candidates' chunk text loads and re-featurizes
    // (candidate-sized — the stand-in for loading candidate floats),
    // the exact squared-L2 re-ranks the top 50, and the doc fold runs
    // on EXACT distances — the passage stack's production two-stage
    // shape, sharing the standing stores search_passage_topk built.
    QueryDef(
      "search_passage_rerank_topk",
      PassageRerankSql) { (s, d) =>
      passageRerankBuild(s, d)
      passageRerankProbe(s, d)
    },

    // PASSAGE-LEVEL learned rerank (Streams.passageLearnedRerankTopK):
    // the deterministic stand-in for a learned second-stage scorer —
    // the ADC probe nominates 100 candidates, the even-cid half trains
    // a closed-form 2-feature least squares (x1 = fixed-point ADC
    // distance, x2 = query-term occurrences in the passage) against
    // the exact distance as teacher, and all candidates rank by the
    // fitted score carried in exact DECIMAL(38,0)/HUGEINT algebra
    // (sign(det)-adjusted numerators - no division, no float in the
    // ranking). Feature/teacher work is candidate-sized; the normal
    // equations are ONE broadcast row - nothing new scales with the
    // corpus.
    QueryDef(
      "search_passage_learned_rerank",
      PassageLearnedSql) { (s, d) =>
      passageLearnedBuild(s, d)
      passageLearnedProbe(s, d)
    },

    // PASSAGE recall@5 (Streams.passageRecallAtK) — the retrieval-
    // quality gate for the SAMPLED (250 per-mille) passage codebook:
    // per leading-passage query, how many of the chunk-vector store's
    // unrouted ADC top-5 are true top-5 by exact squared-L2 through
    // the same featurization. A trainer or sample-derivation
    // regression that degrades passage retrieval flips an exact-
    // integer row here; sim_pq_recall_at_k only covers the
    // full-trained doc-PQ store.
    QueryDef(
      "search_passage_recall_at_k",
      PassageRecallSql) { (s, d) =>
      passageRecallBuild(s, d)
      passageRecallProbe(s, d)
    },

    // BM25 keyword search (operators.Search.bm25TopK): ranked retrieval
    // over the corpus for a literal 4-term query — per-doc tf computed
    // IN-ROW over the token array (no explode/shuffle), corpus stats
    // (N, avgdl, per-term df) one broadcast single-row aggregate, top-k
    // via TakeOrderedAndProject. Scores are exact BIGINT micro-unit
    // sums, so the hash compare is order-free.
    QueryDef(
      "search_bm25_topk",
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(trim(text, ' '), ' '), x -> x <> '') AS l
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, len(l) AS dl,
        |    len(list_filter(l, x -> x = 'spark'))  AS tf0,
        |    len(list_filter(l, x -> x = 'vector')) AS tf1,
        |    len(list_filter(l, x -> x = 'stream')) AS tf2,
        |    len(list_filter(l, x -> x = 'merge'))  AS tf3
        |  FROM t),
        |g AS (
        |  SELECT count(*) AS n, sum(dl) AS sumdl,
        |    sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
        |    sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
        |    sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2,
        |    sum(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS df3
        |  FROM p),
        |s AS (
        |  SELECT doc_id,
        |    (CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) + (CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)
        |      + (CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) + (CASE WHEN tf3 > 0 THEN 1 ELSE 0 END)
        |      AS n_matched,
        |    (CASE WHEN tf0 > 0 THEN round(
        |        ln(1.0 + (n::DOUBLE - df0::DOUBLE + 0.5) / (df0::DOUBLE + 0.5))
        |          * tf0::DOUBLE * 2.2
        |          / (tf0::DOUBLE + 1.2 * (1.0 - 0.75 + 0.75 * dl::DOUBLE
        |              / (sumdl::DOUBLE / n::DOUBLE))) * 1e6)::BIGINT ELSE 0 END)
        |    + (CASE WHEN tf1 > 0 THEN round(
        |        ln(1.0 + (n::DOUBLE - df1::DOUBLE + 0.5) / (df1::DOUBLE + 0.5))
        |          * tf1::DOUBLE * 2.2
        |          / (tf1::DOUBLE + 1.2 * (1.0 - 0.75 + 0.75 * dl::DOUBLE
        |              / (sumdl::DOUBLE / n::DOUBLE))) * 1e6)::BIGINT ELSE 0 END)
        |    + (CASE WHEN tf2 > 0 THEN round(
        |        ln(1.0 + (n::DOUBLE - df2::DOUBLE + 0.5) / (df2::DOUBLE + 0.5))
        |          * tf2::DOUBLE * 2.2
        |          / (tf2::DOUBLE + 1.2 * (1.0 - 0.75 + 0.75 * dl::DOUBLE
        |              / (sumdl::DOUBLE / n::DOUBLE))) * 1e6)::BIGINT ELSE 0 END)
        |    + (CASE WHEN tf3 > 0 THEN round(
        |        ln(1.0 + (n::DOUBLE - df3::DOUBLE + 0.5) / (df3::DOUBLE + 0.5))
        |          * tf3::DOUBLE * 2.2
        |          / (tf3::DOUBLE + 1.2 * (1.0 - 0.75 + 0.75 * dl::DOUBLE
        |              / (sumdl::DOUBLE / n::DOUBLE))) * 1e6)::BIGINT ELSE 0 END)
        |      AS score_1e6
        |  FROM p, g)
        |SELECT doc_id, n_matched, score_1e6 FROM s
        |WHERE n_matched > 0
        |ORDER BY score_1e6 DESC, doc_id LIMIT 10""".stripMargin) { (s, d) =>
      graft.operators.Search.bm25TopK(Tables.documents(s, d),
        "doc_id", "text", Seq("spark", "vector", "stream", "merge"), k = 10)
    },

    // SYMSPELL fuzzy term lookup: correction candidates for the typo
    // 'spork' via delete-1 neighborhood keys (equality probe, never a
    // vocab-wide edit-distance scan), verified with exact levenshtein
    // <= 1, ranked (distance, corpus frequency desc, term).
    QueryDef(
      "search_fuzzy_term", {
        val typos = FuzzyTypos
        val perTypo = typos.map { q =>
          val dels = graft.operators.Search.deletionKeys(q)
            .map(s => s"'$s'").mkString(", ")
          s"""|SELECT '$q' AS query_term, term, cf,
              |  levenshtein(term, '$q')::BIGINT AS lev
              |FROM (
              |  SELECT DISTINCT term, cf FROM dk
              |  WHERE dk IN ($dels)) c$q
              |WHERE levenshtein(term, '$q') <= 1
              |QUALIFY row_number() OVER (
              |  ORDER BY levenshtein(term, '$q'), cf DESC, term) <= 10"""
        }.mkString("\nUNION ALL\n")
        s"""WITH v AS (
           |  SELECT w AS term, count(*) AS cf FROM (
           |    SELECT unnest(list_filter(string_split(trim(text, ' '), ' '),
           |      x -> x <> '')) AS w
           |    FROM documents) t
           |  GROUP BY w),
           |dk AS (
           |  SELECT term, cf, unnest(list_distinct(list_append(
           |    list_transform(range(1, strlen(term) + 1),
           |      i -> substr(term, 1, i - 1) || substr(term, i + 1, 1000000)),
           |    term))) AS dk
           |  FROM v)
           $perTypo
           |ORDER BY query_term, lev, cf DESC, term""".stripMargin
      }) { (s, d) =>
      val docs = Tables.documents(s, d)
      FuzzyTypos.map { q =>
        graft.operators.Search.fuzzyTermTopK(docs, "doc_id", "text",
            query = q, k = 10)
          .select(lit(q).as("query_term"), col("term"), col("cf"),
            col("lev"))
      }.reduce(_ unionByName _)
        .presentSorted(col("query_term"), col("lev"),
          col("cf").desc, col("term"))
    },

    // BOOLEAN retrieval: (spark AND vector) AND NOT merge, ranked by
    // summed tf — the filter-language face of the search family
    // (alerts, compliance scans, corpus carves run boolean, not
    // ranked-only). One scan of in-row tf counts + TakeOrdered; the
    // NOT term is a predicate, not an anti-join.
    QueryDef(
      "search_boolean_topk",
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(trim(text, ' '), ' '), x -> x <> '') AS l
        |  FROM documents),
        |p AS (
        |  SELECT doc_id,
        |    len(list_filter(l, x -> x = 'spark'))  AS tf_a,
        |    len(list_filter(l, x -> x = 'vector')) AS tf_b,
        |    len(list_filter(l, x -> x = 'merge'))  AS tf_n
        |  FROM t)
        |SELECT doc_id, tf_a, tf_b, (tf_a + tf_b)::BIGINT AS score
        |FROM p WHERE tf_a > 0 AND tf_b > 0 AND tf_n = 0
        |ORDER BY score DESC, doc_id LIMIT 15""".stripMargin) { (s, d) =>
      val toks = filter(split(trim(col("text")), " +"), x => x =!= "")
      def tf(t: String) = size(filter(col("__l"), x => x === lit(t)))
      Tables.documents(s, d)
        .select(col("doc_id"), toks.as("__l"))
        .select(col("doc_id"), tf("spark").as("tf_a"),
          tf("vector").as("tf_b"), tf("merge").as("tf_n"))
        .filter(col("tf_a") > 0 && col("tf_b") > 0 && col("tf_n") === 0)
        .select(col("doc_id"), col("tf_a"), col("tf_b"),
          (col("tf_a") + col("tf_b")).cast("long").as("score"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(15)
    },

    // QUERY-LIKELIHOOD top-10 (Dirichlet-smoothed LM, mu=2000): the
    // classic second ranking model next to BM25 — matched docs score
    // on ALL query terms (smoothing defines tf=0), per-term micro-nat
    // contributions summed as exact integers.
    QueryDef(
      "search_qld_topk",
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(trim(text, ' '), ' '), x -> x <> '') AS l
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, len(l) AS dl,
        |    len(list_filter(l, x -> x = 'spark'))  AS tf0,
        |    len(list_filter(l, x -> x = 'vector')) AS tf1,
        |    len(list_filter(l, x -> x = 'stream')) AS tf2,
        |    len(list_filter(l, x -> x = 'merge'))  AS tf3
        |  FROM t),
        |g AS (
        |  SELECT sum(dl) AS ctot, sum(tf0) AS cf0, sum(tf1) AS cf1,
        |    sum(tf2) AS cf2, sum(tf3) AS cf3
        |  FROM p),
        |s AS (
        |  SELECT doc_id,
        |    (CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) + (CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)
        |      + (CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) + (CASE WHEN tf3 > 0 THEN 1 ELSE 0 END)
        |      AS n_matched,
        |    (CASE WHEN cf0 > 0 THEN round(ln((tf0::DOUBLE + 2000.0 * cf0::DOUBLE
        |        / ctot::DOUBLE) / (dl::DOUBLE + 2000.0)) * 1e6)::BIGINT ELSE 0 END)
        |    + (CASE WHEN cf1 > 0 THEN round(ln((tf1::DOUBLE + 2000.0 * cf1::DOUBLE
        |        / ctot::DOUBLE) / (dl::DOUBLE + 2000.0)) * 1e6)::BIGINT ELSE 0 END)
        |    + (CASE WHEN cf2 > 0 THEN round(ln((tf2::DOUBLE + 2000.0 * cf2::DOUBLE
        |        / ctot::DOUBLE) / (dl::DOUBLE + 2000.0)) * 1e6)::BIGINT ELSE 0 END)
        |    + (CASE WHEN cf3 > 0 THEN round(ln((tf3::DOUBLE + 2000.0 * cf3::DOUBLE
        |        / ctot::DOUBLE) / (dl::DOUBLE + 2000.0)) * 1e6)::BIGINT ELSE 0 END)
        |      AS score_1e6
        |  FROM p, g)
        |SELECT doc_id, n_matched, score_1e6 FROM s
        |WHERE n_matched > 0
        |ORDER BY score_1e6 DESC, doc_id LIMIT 10""".stripMargin) { (s, d) =>
      graft.operators.Search.queryLikelihoodTopK(Tables.documents(s, d),
        "doc_id", "text", Seq("spark", "vector", "stream", "merge"),
        k = 10, mu = 2000.0)
    },

    // Distributed BPE MERGE LEARNING: 6 merge rounds over the word-type
    // vocabulary — argmax pair per round (count desc, pair asc), true
    // left-to-right greedy application via an in-row string fold that
    // list_reduce reproduces exactly. The learned merge table is the
    // tokenizer-training artifact (txt_vocab_export's sibling).
    QueryDef(
      "txt_bpe_merges",
      BpeMergesSql) { (s, d) =>
      graft.operators.TextAnalysis.bpeMerges(
          Tables.documents(s, d), "text", rounds = 6)
        .presentSorted(col("round"))
    },

    // FLESCH READING EASE in exact milli units: the regex-heuristic
    // readability gate (sentence runs, vowel-group syllables), the
    // classic complement to the stopword/entropy quality signals.
    QueryDef(
      "txt_readability",
      """WITH p AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split(trim(text, ' '), ' '), x -> x <> ''))::BIGINT
        |      AS n_words,
        |    greatest(1, len(regexp_extract_all(text, '[.!?]+')))::BIGINT
        |      AS n_sentences,
        |    greatest(1, len(regexp_extract_all(lower(text), '[aeiouy]+')))::BIGINT
        |      AS n_syllables
        |  FROM documents)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  round((206.835
        |    - 1.015 * n_words::DOUBLE / n_sentences::DOUBLE
        |    - 84.6 * n_syllables::DOUBLE / n_words::DOUBLE) * 1000)::BIGINT
        |    AS flesch_milli
        |FROM p WHERE n_words > 0
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      graft.operators.TextAnalysis.readability(
          Tables.documents(s, d), "doc_id", "text")
        .presentSorted(col("doc_id"))
    },

    // BORDA-COUNT quality fusion: per-source top-3 docs by the summed
    // ranks of three independent quality signals (heuristic score,
    // char entropy, mean unigram log-prob) — rank-space fusion makes
    // the heterogeneous signals commensurable, the corpus-curation
    // sibling of retrieval's RRF.
    QueryDef(
      "pl_quality_borda",
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(trim(text, ' '), ' '), x -> x <> '') AS l
        |  FROM documents),
        |q AS (
        |  SELECT doc_id,
        |    round(least(1.0, len(l) / 32.0) * 0.4
        |      + (len(list_distinct(l)) * 1.0 / len(l)) * 0.4
        |      + least(1.0, len(list_filter(l,
        |          x -> x IN ('the','a','of','and','to','in','is'))) * 8.0
        |          / len(l)) * 0.2, 4) AS q
        |  FROM t WHERE len(l) > 0),
        |ch AS (
        |  SELECT doc_id, unnest(string_split(text, '')) AS ch
        |  FROM documents),
        |cnt AS (
        |  SELECT doc_id, ch, count(*) AS c FROM ch
        |  WHERE ch <> '' GROUP BY doc_id, ch),
        |et AS (
        |  SELECT doc_id, c, sum(c) OVER (PARTITION BY doc_id) AS n
        |  FROM cnt),
        |ent AS (
        |  SELECT doc_id,
        |    sum(round(-(c::DOUBLE / n::DOUBLE)
        |      * ln(c::DOUBLE / n::DOUBLE) * 1e6)::BIGINT)::BIGINT AS ent
        |  FROM et GROUP BY doc_id),
        |tk AS (SELECT doc_id, unnest(l) AS token FROM t),
        |v AS (SELECT token, count(*) AS n_t FROM tk GROUP BY token),
        |g AS (SELECT sum(n_t)::BIGINT AS tot FROM v),
        |lp0 AS (
        |  SELECT doc_id,
        |    round(ln(n_t::DOUBLE / tot::DOUBLE) * 1e6)::BIGINT AS term
        |  FROM tk JOIN v USING (token), g),
        |lp AS (
        |  SELECT doc_id, count(*) AS n_tokens, sum(term)::BIGINT AS s
        |  FROM lp0 GROUP BY doc_id),
        |sig AS (
        |  SELECT d.source, d.doc_id, q.q, e.ent,
        |    (lp.s + 20000000 * lp.n_tokens) // lp.n_tokens AS alp
        |  FROM documents d
        |  JOIN q ON q.doc_id = d.doc_id
        |  JOIN ent e ON e.doc_id = d.doc_id
        |  JOIN lp ON lp.doc_id = d.doc_id),
        |r AS (
        |  SELECT source, doc_id,
        |    (row_number() OVER (PARTITION BY source ORDER BY q DESC, doc_id)
        |     + row_number() OVER (PARTITION BY source ORDER BY ent DESC, doc_id)
        |     + row_number() OVER (PARTITION BY source ORDER BY alp DESC, doc_id)
        |    )::BIGINT AS borda
        |  FROM sig),
        |f AS (
        |  SELECT source, doc_id, borda,
        |    row_number() OVER (PARTITION BY source
        |                       ORDER BY borda, doc_id) AS rn
        |  FROM r)
        |SELECT source, doc_id, borda FROM f WHERE rn <= 3
        |ORDER BY source, doc_id""".stripMargin) { (s, d) =>
      graft.operators.TextAnalysis.qualityBorda(
          Tables.documents(s, d), "doc_id", "text", "source", topK = 3)
        .presentSorted(col("source"), col("doc_id"))
    },

    // BPE ENCODE + FERTILITY: the learned merge table applied back to
    // the corpus (chained in-row folds over the Heaps'-bounded vocab),
    // per-source tokens-per-word in exact milli units — the
    // compression number a tokenizer is judged by, per source.
    QueryDef(
      "txt_bpe_encode_stats",
      BpeEncodeStatsSql) { (s, d) =>
      graft.operators.TextAnalysis.bpeEncodeStats(
          Tables.documents(s, d), "text", "source", rounds = 6)
        .presentSorted(col("source"))
    },

    // NDCG@10 retrieval EVALUATION: the engine's own BM25 ranking
    // scored against text-derived graded relevance (rel = min(3, tf))
    // per single-term query — exact integer micro/milli units, ties
    // broken on doc_id in both rankings. The quality gate a scoring
    // regression flips even when the top-10 stays plausible.
    QueryDef(
      "search_eval_ndcg",
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(trim(text, ' '), ' '), x -> x <> '') AS l
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, len(l) AS dl,
        |    len(list_filter(l, x -> x = 'spark'))  AS tf0,
        |    len(list_filter(l, x -> x = 'vector')) AS tf1,
        |    len(list_filter(l, x -> x = 'stream')) AS tf2,
        |    len(list_filter(l, x -> x = 'merge'))  AS tf3
        |  FROM t),
        |g AS (
        |  SELECT count(*) AS n, sum(dl) AS sumdl,
        |    sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
        |    sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
        |    sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2,
        |    sum(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS df3
        |  FROM p),
        |s AS (
        |  SELECT doc_id, 'spark' AS term, tf0 AS tf, dl, g.df0 AS df,
        |    g.n, g.sumdl FROM p, g WHERE tf0 > 0
        |  UNION ALL
        |  SELECT doc_id, 'vector', tf1, dl, g.df1, g.n, g.sumdl
        |  FROM p, g WHERE tf1 > 0
        |  UNION ALL
        |  SELECT doc_id, 'stream', tf2, dl, g.df2, g.n, g.sumdl
        |  FROM p, g WHERE tf2 > 0
        |  UNION ALL
        |  SELECT doc_id, 'merge', tf3, dl, g.df3, g.n, g.sumdl
        |  FROM p, g WHERE tf3 > 0),
        |sc AS (
        |  SELECT doc_id, term, least(3, tf)::BIGINT AS rel,
        |    round(ln(1.0 + (n::DOUBLE - df::DOUBLE + 0.5) / (df::DOUBLE + 0.5))
        |      * tf::DOUBLE * 2.2
        |      / (tf::DOUBLE + 1.2 * (1.0 - 0.75 + 0.75 * dl::DOUBLE
        |          / (sumdl::DOUBLE / n::DOUBLE))) * 1e6)::BIGINT AS score
        |  FROM s),
        |r AS (
        |  SELECT term, rel,
        |    row_number() OVER (PARTITION BY term
        |                       ORDER BY score DESC, doc_id) AS rs,
        |    row_number() OVER (PARTITION BY term
        |                       ORDER BY rel DESC, doc_id) AS ri
        |  FROM sc),
        |f AS (
        |  SELECT term,
        |    sum(CASE WHEN rs <= 10
        |        THEN round(rel * 1e6 * ln(2) / ln(rs + 1))::BIGINT
        |        ELSE 0 END)::BIGINT AS dcg_micro,
        |    sum(CASE WHEN ri <= 10
        |        THEN round(rel * 1e6 * ln(2) / ln(ri + 1))::BIGINT
        |        ELSE 0 END)::BIGINT AS idcg_micro
        |  FROM r GROUP BY term)
        |SELECT term, dcg_micro, idcg_micro,
        |  dcg_micro * 1000 // idcg_micro AS ndcg_milli
        |FROM f ORDER BY term""".stripMargin) { (s, d) =>
      graft.operators.Search.evalNdcg(Tables.documents(s, d),
          "doc_id", "text", Seq("spark", "vector", "stream", "merge"),
          k = 10, maxRel = 3)
        .presentSorted(col("term"))
    },

    // MRR@10 + recall@10 (Search.evalMrr) against an
    // engine-independent pseudo-qrel (term-bearing docs with
    // doc_id % 7 == 0): NDCG grades the whole ordering,
    // MRR grades time-to-first-answer, recall grades qrel-pool
    // coverage — the other two rows of the standard retrieval eval
    // triple, on the same pinned BM25 micro-unit chain.
    QueryDef(
      "search_eval_mrr",
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(trim(text, ' '), ' '), x -> x <> '') AS l
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, len(l) AS dl,
        |    len(list_filter(l, x -> x = 'spark'))  AS tf0,
        |    len(list_filter(l, x -> x = 'vector')) AS tf1,
        |    len(list_filter(l, x -> x = 'stream')) AS tf2,
        |    len(list_filter(l, x -> x = 'merge'))  AS tf3
        |  FROM t),
        |g AS (
        |  SELECT count(*) AS n, sum(dl) AS sumdl,
        |    sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
        |    sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
        |    sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2,
        |    sum(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS df3
        |  FROM p),
        |s AS (
        |  SELECT doc_id, 'spark' AS term, tf0 AS tf, dl, g.df0 AS df,
        |    g.n, g.sumdl FROM p, g WHERE tf0 > 0
        |  UNION ALL
        |  SELECT doc_id, 'vector', tf1, dl, g.df1, g.n, g.sumdl
        |  FROM p, g WHERE tf1 > 0
        |  UNION ALL
        |  SELECT doc_id, 'stream', tf2, dl, g.df2, g.n, g.sumdl
        |  FROM p, g WHERE tf2 > 0
        |  UNION ALL
        |  SELECT doc_id, 'merge', tf3, dl, g.df3, g.n, g.sumdl
        |  FROM p, g WHERE tf3 > 0),
        |sc AS (
        |  SELECT doc_id, term,
        |    CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END AS rel,
        |    round(ln(1.0 + (n::DOUBLE - df::DOUBLE + 0.5) / (df::DOUBLE + 0.5))
        |      * tf::DOUBLE * 2.2
        |      / (tf::DOUBLE + 1.2 * (1.0 - 0.75 + 0.75 * dl::DOUBLE
        |          / (sumdl::DOUBLE / n::DOUBLE))) * 1e6)::BIGINT AS score
        |  FROM s),
        |r AS (
        |  SELECT term, rel,
        |    row_number() OVER (PARTITION BY term
        |                       ORDER BY score DESC, doc_id) AS rs
        |  FROM sc),
        |f AS (
        |  SELECT term,
        |    min(CASE WHEN rel = 1 AND rs <= 10 THEN rs END) AS fr,
        |    sum(CASE WHEN rel = 1 AND rs <= 10 THEN 1 ELSE 0 END)::BIGINT
        |      AS hit_k,
        |    sum(rel)::BIGINT AS n_rel
        |  FROM r GROUP BY term)
        |SELECT term, n_rel,
        |  coalesce(1000000 // fr, 0)::BIGINT AS mrr_micro,
        |  (hit_k * 1000) // n_rel AS recall_milli
        |FROM f WHERE n_rel > 0 ORDER BY term""".stripMargin) { (s, d) =>
      graft.operators.Search.evalMrr(Tables.documents(s, d),
          "doc_id", "text", Seq("spark", "vector", "stream", "merge"),
          k = 10, qrelMod = 7)
        .presentSorted(col("term"))
    },

    // RANKER AGREEMENT: Kendall tau between the BM25 and
    // query-likelihood top-20 lists for the same query — the
    // swap-a-ranker regression gate (a formula change that reorders
    // results flips tau even when both lists stay plausible).
    // Concordant/discordant pair counts over the COMMON docs' rank
    // pairs (<= k^2/2 pairs by construction, corpus-independent),
    // tau-a in exact milli. Oracle splices both pinned score chains
    // over one shared stats frame.
    QueryDef(
      "search_eval_rank_corr",
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(trim(text, ' '), ' '), x -> x <> '') AS l
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, len(l) AS dl,
        |    len(list_filter(l, x -> x = 'spark'))  AS tf0,
        |    len(list_filter(l, x -> x = 'vector')) AS tf1,
        |    len(list_filter(l, x -> x = 'stream')) AS tf2,
        |    len(list_filter(l, x -> x = 'merge'))  AS tf3
        |  FROM t),
        |g AS (
        |  SELECT count(*) AS n, sum(dl) AS sumdl,
        |    sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
        |    sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
        |    sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2,
        |    sum(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS df3,
        |    sum(tf0) AS cf0, sum(tf1) AS cf1, sum(tf2) AS cf2,
        |    sum(tf3) AS cf3, sum(dl) AS ctot
        |  FROM p),
        |s AS (
        |  SELECT doc_id,
        |    (CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) + (CASE WHEN tf1 > 0 THEN 1 ELSE 0 END)
        |      + (CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) + (CASE WHEN tf3 > 0 THEN 1 ELSE 0 END)
        |      AS n_matched,
        |    (CASE WHEN tf0 > 0 THEN round(
        |        ln(1.0 + (n::DOUBLE - df0::DOUBLE + 0.5) / (df0::DOUBLE + 0.5))
        |          * tf0::DOUBLE * 2.2
        |          / (tf0::DOUBLE + 1.2 * (1.0 - 0.75 + 0.75 * dl::DOUBLE
        |              / (sumdl::DOUBLE / n::DOUBLE))) * 1e6)::BIGINT ELSE 0 END)
        |    + (CASE WHEN tf1 > 0 THEN round(
        |        ln(1.0 + (n::DOUBLE - df1::DOUBLE + 0.5) / (df1::DOUBLE + 0.5))
        |          * tf1::DOUBLE * 2.2
        |          / (tf1::DOUBLE + 1.2 * (1.0 - 0.75 + 0.75 * dl::DOUBLE
        |              / (sumdl::DOUBLE / n::DOUBLE))) * 1e6)::BIGINT ELSE 0 END)
        |    + (CASE WHEN tf2 > 0 THEN round(
        |        ln(1.0 + (n::DOUBLE - df2::DOUBLE + 0.5) / (df2::DOUBLE + 0.5))
        |          * tf2::DOUBLE * 2.2
        |          / (tf2::DOUBLE + 1.2 * (1.0 - 0.75 + 0.75 * dl::DOUBLE
        |              / (sumdl::DOUBLE / n::DOUBLE))) * 1e6)::BIGINT ELSE 0 END)
        |    + (CASE WHEN tf3 > 0 THEN round(
        |        ln(1.0 + (n::DOUBLE - df3::DOUBLE + 0.5) / (df3::DOUBLE + 0.5))
        |          * tf3::DOUBLE * 2.2
        |          / (tf3::DOUBLE + 1.2 * (1.0 - 0.75 + 0.75 * dl::DOUBLE
        |              / (sumdl::DOUBLE / n::DOUBLE))) * 1e6)::BIGINT ELSE 0 END)
        |      AS sa,
        |    (CASE WHEN cf0 > 0 THEN round(ln((tf0::DOUBLE + 2000.0 * cf0::DOUBLE
        |        / ctot::DOUBLE) / (dl::DOUBLE + 2000.0)) * 1e6)::BIGINT ELSE 0 END)
        |    + (CASE WHEN cf1 > 0 THEN round(ln((tf1::DOUBLE + 2000.0 * cf1::DOUBLE
        |        / ctot::DOUBLE) / (dl::DOUBLE + 2000.0)) * 1e6)::BIGINT ELSE 0 END)
        |    + (CASE WHEN cf2 > 0 THEN round(ln((tf2::DOUBLE + 2000.0 * cf2::DOUBLE
        |        / ctot::DOUBLE) / (dl::DOUBLE + 2000.0)) * 1e6)::BIGINT ELSE 0 END)
        |    + (CASE WHEN cf3 > 0 THEN round(ln((tf3::DOUBLE + 2000.0 * cf3::DOUBLE
        |        / ctot::DOUBLE) / (dl::DOUBLE + 2000.0)) * 1e6)::BIGINT ELSE 0 END)
        |      AS sb
        |  FROM p, g),
        |m AS (SELECT * FROM s WHERE n_matched > 0),
        |ra AS (SELECT doc_id, row_number() OVER (ORDER BY sa DESC, doc_id)
        |       AS ra FROM m),
        |rb AS (SELECT doc_id, row_number() OVER (ORDER BY sb DESC, doc_id)
        |       AS rb FROM m),
        |c AS (SELECT ra.doc_id, ra.ra, rb.rb
        |      FROM ra JOIN rb ON rb.doc_id = ra.doc_id
        |      WHERE ra.ra <= 20 AND rb.rb <= 20),
        |pr AS (
        |  SELECT
        |    sum(CASE WHEN (y.ra - x.ra) * (y.rb - x.rb) > 0
        |        THEN 1 ELSE 0 END)::BIGINT AS concordant,
        |    sum(CASE WHEN (y.ra - x.ra) * (y.rb - x.rb) < 0
        |        THEN 1 ELSE 0 END)::BIGINT AS discordant,
        |    count(*)::BIGINT AS npairs
        |  FROM c x JOIN c y ON x.doc_id < y.doc_id),
        |nn AS (SELECT count(*)::BIGINT AS n_common FROM c)
        |SELECT n_common, concordant, discordant,
        |  CASE WHEN npairs = 0 THEN 0
        |    ELSE (concordant - discordant) * 1000 // npairs END AS tau_milli
        |FROM pr, nn""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val terms = Seq("spark", "vector", "stream", "merge")
      val wA = org.apache.spark.sql.expressions.Window
        .orderBy(col("sa").desc, col("doc_id"))
      val wB = org.apache.spark.sql.expressions.Window
        .orderBy(col("sb").desc, col("doc_id"))
      val a = graft.operators.Search.bm25TopK(docs, "doc_id", "text",
          terms, k = 20)
        .select(col("doc_id"), col("score_1e6").as("sa"))
        .withColumn("ra", row_number().over(wA))
      val b = graft.operators.Search.queryLikelihoodTopK(docs, "doc_id",
          "text", terms, k = 20, mu = 2000.0)
        .select(col("doc_id"), col("score_1e6").as("sb"))
        .withColumn("rb", row_number().over(wB))
      val c = a.join(b, Seq("doc_id"))
        .select(col("doc_id"), col("ra"), col("rb"))
      val x = c.select(col("doc_id").as("xid"), col("ra").as("xa"),
        col("rb").as("xb"))
      val y = c.select(col("doc_id").as("yid"), col("ra").as("ya"),
        col("rb").as("yb"))
      val pr = x.join(y, col("xid") < col("yid")) // <= k^2/2 pairs
        .agg(
          sum(when((col("ya") - col("xa")) * (col("yb") - col("xb")) > 0,
            1L).otherwise(0L)).as("concordant"),
          sum(when((col("ya") - col("xa")) * (col("yb") - col("xb")) < 0,
            1L).otherwise(0L)).as("discordant"),
          count(lit(1)).as("npairs"))
      val nn = c.agg(count(lit(1)).as("n_common"))
      pr.crossJoin(broadcast(nn))
        .select(col("n_common"), col("concordant"), col("discordant"),
          when(col("npairs") === 0, 0L)
            .otherwise(expr("(concordant - discordant) * 1000 div npairs"))
            .as("tau_milli"))
    },

    // BM25 answered FROM the standing inverted index (Search.buildIndex
    // + bm25FromIndexTopK): postings carry (term, doc_id, tf, dl)
    // denormalized, laid out term-sorted so the query-term predicate
    // prunes row groups; scoring never touches document text. Same
    // oracle as search_bm25_topk — the index answer must be
    // bit-identical to the scan answer.
    QueryDef(
      "search_bm25_index_topk",
      Bm25IndexSql) { (s, d) =>
      idxBuild("bm25")(s, d)
      bm25IdxProbe("bm25")(s, d)
    },

    // RM3 pseudo-relevance-feedback expansion (Search.rm3TopK): the
    // BM25 top-5 feedback docs nominate the 8 heaviest non-query terms
    // from their postings, and the corpus re-ranks under the expanded
    // weighted query (originals 1.0, expansion 0.5) — two index-served
    // stages, both on the shared micro-unit contribution algebra, all
    // in-plan (the feedback set and expansion vocabulary broadcast;
    // nothing collects to the driver).
    QueryDef(
      "search_rm3_expansion",
      Rm3Sql) { (s, d) =>
      idxBuild("bm25-rm3")(s, d)
      rm3Probe(s, d)
    },

    // SNIPPET extraction (Search.snippetTopK): for each BM25 top-10
    // doc, the 12-token window with the most query-term hits (ties ->
    // earliest start) plus the window text — all in-row (indexed
    // transform/filter for hit positions, array_sort argmax, slice),
    // one broadcast-filtered scan to cut the snippets. The oracle
    // splices the pinned BM25 chain and re-derives the argmax with
    // DuckDB's 1-based list lambdas.
    QueryDef(
      "search_snippet_topk",
      SnippetSql) { (s, d) =>
      graft.operators.Search.snippetTopK(Tables.documents(s, d),
          "doc_id", "text", Seq("spark", "vector", "stream", "merge"),
          k = 10, window = 12)
        .presentSorted(col("score_1e6").desc, col("doc_id"))
    },

    // HYBRID retrieval: Reciprocal-Rank Fusion of the BM25 index top-20
    // and the ANN store top-20 (query = embedding id 5) — lexical and
    // embedding evidence fused without score calibration, micro-unit
    // exact. The oracle splices the two standing oracles' CTE chains
    // and fuses their rank lists with the same formula.
    QueryDef(
      "search_hybrid_rrf",
      HybridRrfSql) { (s, d) =>
      hybridBuild("hyb-i", "hyb-a")(s, d)
      hybridProbe("hyb-i", "hyb-a", multiprobe = false)(s, d)
    },

    // HYBRID retrieval with the MULTI-PROBE recall lever on the vector
    // side: same RRF fusion, but the ANN list probes the planes+1
    // one-flip buckets (Similarity.annStoreTopKProbed), so a neighbor
    // across one hyperplane still contributes embedding evidence.
    // Oracle = the multiprobe ANN chain spliced with the BM25 chain,
    // fused with the same formula.
    QueryDef(
      "search_hybrid_rrf_multiprobe",
      HybridRrfMultiprobeSql) { (s, d) =>
      hybridBuild("hyb-mp-i", "hyb-mp-a")(s, d)
      hybridProbe("hyb-mp-i", "hyb-mp-a", multiprobe = true)(s, d)
    },

    // HYBRID retrieval through the ROUTE-AWARE ANN probe
    // (Similarity.annStoreTopKAuto): the build refreshes a partitioned
    // ANN layout and asserts its snapshot current, so the fusion's
    // vector side verifiably takes the bucket-pruned partitioned route
    // (PlanRegressionSpec pins the DPP plan shape) — the production
    // read path where maintenance owns layout refresh and every probe
    // self-routes from two file listings. Answers are identical to
    // search_hybrid_rrf by the auto probe's contract, so the SAME
    // spliced oracle pins them.
    QueryDef(
      "search_hybrid_rrf_auto",
      HybridRrfSql) { (s, d) =>
      hybridAutoBuild(s, d)
      hybridAutoProbe(s, d)
    },

    // HYBRID retrieval with the dense side on the STANDING PQ STORE:
    // same RRF fusion, but the embedding evidence is the cell-ROUTED
    // ADC probe (Search.hybridTopKPq — store built with cells=16,
    // probed at nprobe=2), so BOTH fusion inputs are pruned
    // standing-store reads: term-pruned postings on the lexical side,
    // cell-pruned code ids on the dense side, floats never loaded —
    // the 100 TB hybrid plan. The oracle splices the BM25 chain with
    // the routed PQ store chain (coarse Lloyd round + routing +
    // per-subspace codebooks, query id 5) and fuses with the same
    // formula.
    QueryDef(
      "search_hybrid_rrf_pq",
      HybridRrfPqSql) { (s, d) =>
      hybridPqBuild(s, d)
      hybridPqProbe(s, d)
    },

    // PRODUCTION hybrid retrieval — BM25 fused with the PQ store's
    // ADC→EXACT-RERANK list (Search.hybridTopKPqRerank): the routed
    // ADC probe (cells=16, nprobe=2) nominates 20 candidates per query
    // from code ids alone, only those 20 float vectors load for the
    // exact squared-L2 rerank, and THAT exact-ordered top-20 fuses
    // with the BM25 ranks — coarse route → ADC shortlist → exact
    // rerank → fuse, every join candidate-sized. The oracle extends
    // the routed-PQ hybrid chain with the exact-rerank CTEs before the
    // shared RRF tail.
    QueryDef(
      "search_hybrid_rrf_pq_rerank",
      HybridRrfPqRerankSql) { (s, d) =>
      hybridPqRerankBuild(s, d)
      hybridPqRerankProbe(s, d)
    },

    // BM25 probe over the TERM-BUCKETED postings layout — the 100-TB
    // probe path the index scaladoc promises: bucketPostings resolves
    // generations once and lays postings out hash(term)-bucketed, so
    // the probe reads selected buckets with NO shuffle exchange on the
    // postings side (PlanRegressionSpec pins the plan shape). Same
    // oracle as the sorted layout — answers must be hash-identical.
    QueryDef(
      "search_bm25_index_bucketed",
      Bm25IndexSql) { (s, d) =>
      bm25BucketedBuild(s, d)
      bm25BucketedProbe(s, d)
    },

    // MORE-LIKE-THIS: BM25 where the query is doc 42's whole
    // vocabulary (top-64 terms by tf, term tie-break) answered from
    // the standing index — the query-by-document retrieval surface
    // ("find docs like this one"). Per-(doc, term) contributions carry
    // the query tf and round to micro-units; the oracle mirrors the
    // exact formula term-for-term.
    QueryDef(
      "search_more_like_this",
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(trim(text, ' '), ' '), x -> x <> '') AS l
        |  FROM documents),
        |qc AS (
        |  SELECT term, count(*) AS qtf FROM (
        |    SELECT unnest(l) AS term FROM t WHERE doc_id = 42)
        |  GROUP BY term),
        |qtop AS (
        |  SELECT term, qtf FROM (
        |    SELECT term, qtf,
        |      row_number() OVER (ORDER BY qtf DESC, term) AS rn
        |    FROM qc) WHERE rn <= 64),
        |pc AS (
        |  SELECT doc_id, term, count(*) AS tf, min(dl) AS dl FROM (
        |    SELECT doc_id, len(l) AS dl, unnest(l) AS term FROM t)
        |  GROUP BY doc_id, term),
        |g AS (SELECT count(*) AS n, sum(len(l)) AS sumdl FROM t),
        |df AS (
        |  SELECT term, count(*) AS df FROM pc
        |  JOIN qtop USING (term) GROUP BY term),
        |s AS (
        |  SELECT pc.doc_id,
        |    count(*)::INT AS n_matched,
        |    sum(round(qtop.qtf::DOUBLE *
        |      ln(1.0 + (g.n::DOUBLE - df.df::DOUBLE + 0.5)
        |        / (df.df::DOUBLE + 0.5)) *
        |      pc.tf::DOUBLE * 2.2 /
        |      (pc.tf::DOUBLE + 1.2 * (1.0 - 0.75 + 0.75 * pc.dl::DOUBLE
        |        / (g.sumdl::DOUBLE / g.n::DOUBLE))) * 1e6)::BIGINT)::BIGINT
        |      AS score_1e6
        |  FROM pc JOIN qtop USING (term) JOIN df USING (term), g
        |  WHERE pc.doc_id <> 42
        |  GROUP BY pc.doc_id)
        |SELECT doc_id, n_matched, score_1e6 FROM s
        |ORDER BY score_1e6 DESC, doc_id LIMIT 10""".stripMargin) { (s, d) =>
      idxBuild("mlt")(s, d)
      mltProbe(s, d)
    },

    // TOMBSTONE DELETES from the standing index: after deleting every
    // 11th doc the index must answer exactly the scan-path BM25 over
    // the remaining corpus — the deleted docs leave both scoring and
    // the corpus statistics (N, avgdl, df), not just the hit list.
    QueryDef(
      "search_bm25_index_delete",
      Bm25IndexSql.replace("FROM documents)",
        "FROM documents WHERE doc_id % 11 <> 0)")) { (s, d) =>
      bm25DeleteBuild(s, d)
      bm25IdxProbe("bm25-del")(s, d)
    },

    // INCREMENTAL VACUUM over the full write triangle: stale build,
    // changed-content upsert (superseded generations), tombstone
    // deletes — then Search.indexVacuumIncremental reclaims exactly
    // the dirty batches (clean batch files untouched, no full live-
    // state rewrite) and the probe must STILL be hash-identical to
    // the scan-path BM25 over the final corpus. This is the routine
    // maintenance path at scale: vacuum cost follows the DEAD data,
    // not the corpus (SCALE.md measures the full rewrite at 95x for
    // 1000x data; the incremental pass only touches mutated batches).
    QueryDef(
      "search_bm25_index_vacuum",
      Bm25IndexSql.replace("FROM documents)",
        "FROM documents WHERE doc_id % 11 <> 0)")) { (s, d) =>
      bm25VacuumBuild(s, d)
      bm25IdxProbe("bm25-vac")(s, d)
    },

    // CHANGED-CONTENT UPSERT into the standing index (the reference's
    // ON CONFLICT ... DO UPDATE write semantic): the index is first
    // built from a STALE corpus (every 7th doc's text prefixed with
    // draft boilerplate), then the true corpus is delivered twice.
    // The first delivery must update exactly the stale docs (new
    // generation, old postings invisible); the second must be a no-op
    // (content hashes unchanged). The oracle is the scan-path BM25
    // over the FINAL corpus — hash-identity proves superseded postings
    // stopped scoring.
    QueryDef(
      "search_bm25_index_upsert",
      Bm25IndexSql) { (s, d) =>
      bm25UpsertBuild(s, d)
      bm25UpsertProbe(s, d)
    },

    // Training-data filter v2 — the composed gate using this round's
    // NEW signals alongside the heuristic quality score: character
    // entropy (spam/base64 gate), length-normalized unigram
    // log-probability (LM gate, compared as an exact integer product
    // sum_lp >= threshold * n — no division anywhere), and the v1
    // quality threshold. Each signal is its own operator; the filter
    // is one three-way join on doc_id.
    QueryDef(
      "pl_training_data_filter_v2",
      """WITH ch AS (
        |  SELECT doc_id, unnest(string_split(text, '')) AS ch
        |  FROM documents),
        |cnt AS (
        |  SELECT doc_id, ch, count(*) AS c FROM ch
        |  WHERE ch <> '' GROUP BY doc_id, ch),
        |tt AS (
        |  SELECT doc_id, c, sum(c) OVER (PARTITION BY doc_id) AS n
        |  FROM cnt),
        |ent AS (
        |  SELECT doc_id,
        |    sum(round(-(c::DOUBLE / n::DOUBLE)
        |      * ln(c::DOUBLE / n::DOUBLE) * 1e6)::BIGINT)::BIGINT AS entropy_unats
        |  FROM tt GROUP BY doc_id),
        |tk AS (
        |  SELECT doc_id, unnest(list_filter(string_split(trim(text, ' '), ' '),
        |    x -> x <> '')) AS token
        |  FROM documents),
        |v AS (SELECT token, count(*) AS n_t FROM tk GROUP BY token),
        |g AS (SELECT sum(n_t)::BIGINT AS tot FROM v),
        |lp AS (
        |  SELECT doc_id, count(*) AS n_tokens,
        |    sum(round(ln(n_t::DOUBLE / tot::DOUBLE) * 1e6)::BIGINT)::BIGINT
        |      AS sum_logp_unats
        |  FROM tk JOIN v USING (token), g GROUP BY doc_id),
        |q AS (
        |  SELECT doc_id,
        |    round(least(1.0, len(l) / 32.0) * 0.4
        |      + (len(list_distinct(l)) * 1.0 / len(l)) * 0.4
        |      + least(1.0, len(list_filter(l,
        |          x -> x IN ('the','a','of','and','to','in','is'))) * 8.0
        |          / len(l)) * 0.2, 4) AS quality
        |  FROM (SELECT doc_id,
        |          list_filter(string_split(trim(text, ' '), ' '), x -> x <> '') AS l
        |        FROM documents))
        |SELECT e.doc_id, e.entropy_unats, lp.n_tokens, lp.sum_logp_unats,
        |  q.quality
        |FROM ent e JOIN lp USING (doc_id) JOIN q USING (doc_id)
        |WHERE e.entropy_unats >= 2800000
        |  AND lp.sum_logp_unats >= -3410000 * lp.n_tokens
        |  AND q.quality >= 0.5
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val ent = TextAnalysis.charEntropy(docs, "doc_id", "text")
        .select(col("doc_id"), col("entropy_unats"))
      val lp = TextAnalysis.unigramLogprob(docs, "doc_id", "text")
      val q = docs.select(col("doc_id"),
        TextFunctions.qualityScore(col("text")).as("quality"))
      ent.join(lp, Seq("doc_id")).join(q, Seq("doc_id"))
        .filter(col("entropy_unats") >= 2800000L &&
          col("sum_logp_unats") >= lit(-3410000L) * col("n_tokens") &&
          col("quality") >= 0.5)
        .select(col("doc_id"), col("entropy_unats"), col("n_tokens"),
          col("sum_logp_unats"), col("quality"))
        .presentSorted(col("doc_id"))
    },

    // Unigram log-probability (TextAnalysis.unigramLogprob): the cheap
    // LM quality gate — per-doc sum of ln p(token) under the corpus's
    // own unigram distribution, integer micro-nats (exact sum).
    QueryDef(
      "txt_unigram_logprob",
      """WITH t AS (
        |  SELECT doc_id, unnest(list_filter(string_split(trim(text, ' '), ' '),
        |    x -> x <> '')) AS token
        |  FROM documents),
        |v AS (SELECT token, count(*) AS n_t FROM t GROUP BY token),
        |g AS (SELECT sum(n_t)::BIGINT AS tot FROM v),
        |s AS (
        |  SELECT doc_id,
        |    round(ln(n_t::DOUBLE / tot::DOUBLE) * 1e6)::BIGINT AS term
        |  FROM t JOIN v USING (token), g)
        |SELECT doc_id, count(*) AS n_tokens,
        |  sum(term)::BIGINT AS sum_logp_unats
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      TextAnalysis.unigramLogprob(Tables.documents(s, d), "doc_id", "text")
        .presentSorted(col("doc_id"))
    },

    // Bigram conditional log-probability (TextAnalysis.bigramLogprob):
    // the sharper LM gate — ln p(w|prev) = ln(c(prev w)/c(prev)),
    // catching token-salad text whose unigram stats look fine. Exact
    // micro-nat BIGINT sums.
    QueryDef(
      "txt_bigram_logprob",
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(trim(text, ' '), ' '), x -> x <> '') AS l
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(l)),
        |    i -> l[i] || ' ' || l[i+1])) AS bg
        |  FROM t),
        |tk AS (SELECT unnest(l) AS token FROM t),
        |c2 AS (SELECT bg, count(*) AS c2 FROM bg GROUP BY bg),
        |c1 AS (SELECT token, count(*) AS c1 FROM tk GROUP BY token),
        |s AS (
        |  SELECT doc_id,
        |    round(ln(c2.c2::DOUBLE / c1.c1::DOUBLE) * 1e6)::BIGINT AS term
        |  FROM bg JOIN c2 USING (bg)
        |  JOIN c1 ON split_part(bg.bg, ' ', 1) = c1.token)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  sum(term)::BIGINT AS sum_logp_unats
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      TextAnalysis.bigramLogprob(Tables.documents(s, d), "doc_id", "text")
        .presentSorted(col("doc_id"))
    },

    // VOCABULARY EXPORT — the tokenizer-training precursor: every
    // distinct whitespace token with its corpus frequency and a dense
    // frequency-ranked id (count desc, token asc — fully stable).
    // Vocabulary is small relative to its corpus (Heaps' law) but
    // still millions of rows at 100 TB, so the rank comes from the
    // two-pass distributed prefix sum (Corpus.globalOrderedRank)
    // instead of an unpartitioned window's single-task WindowExec
    // (guide §2); the heavy lifting stays the map-side-combined token
    // count.
    QueryDef(
      "txt_vocab_export",
      """WITH t AS (
        |  SELECT unnest(list_filter(string_split(trim(text, ' '), ' '),
        |    x -> x <> '')) AS token
        |  FROM documents),
        |g AS (SELECT token, count(*) AS n FROM t GROUP BY token)
        |SELECT row_number() OVER (ORDER BY n DESC, token)::BIGINT AS token_id,
        |  token, n
        |FROM g ORDER BY token_id""".stripMargin) { (s, d) =>
      val g = Tables.documents(s, d)
        .select(explode(TextFunctions.tokens(col("text"))).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n"))
      val (ranked, _, _) = graft.operators.Corpus.globalOrderedRank(
        g, Seq(col("n").desc, col("token")), rnCol = "token_id")
      ranked
        .select(col("token_id"), col("token"), col("n"))
        .presentSorted(col("token_id"))
    },

    // Exact-phrase search (Search.phraseTopK): occurrence-ranked docs
    // for a literal 2-token phrase, matched positionally IN-ROW over
    // the token array — one scan + TakeOrderedAndProject, no explode.
    QueryDef(
      "search_phrase_topk",
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(trim(text, ' '), ' '), x -> x <> '') AS l
        |  FROM documents),
        |p AS (
        |  SELECT doc_id,
        |    len(list_filter(range(1, len(l)),
        |      i -> l[i] = 'table' AND l[i+1] = 'hash')) AS tf_phrase
        |  FROM t)
        |SELECT doc_id, tf_phrase FROM p WHERE tf_phrase > 0
        |ORDER BY tf_phrase DESC, doc_id LIMIT 10""".stripMargin) { (s, d) =>
      graft.operators.Search.phraseTopK(Tables.documents(s, d),
        "doc_id", "text", Seq("table", "hash"), k = 10)
    },

    // The same phrase query answered FROM the standing index's
    // POSITIONAL postings (pruned term scan + per-doc sorted
    // position-list adjacency fold) — never touches document text,
    // bit-identical to the scan kernel; same oracle.
    QueryDef(
      "search_phrase_index_topk",
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(trim(text, ' '), ' '), x -> x <> '') AS l
        |  FROM documents),
        |p AS (
        |  SELECT doc_id,
        |    len(list_filter(range(1, len(l)),
        |      i -> l[i] = 'table' AND l[i+1] = 'hash')) AS tf_phrase
        |  FROM t)
        |SELECT doc_id, tf_phrase FROM p WHERE tf_phrase > 0
        |ORDER BY tf_phrase DESC, doc_id LIMIT 10""".stripMargin) { (s, d) =>
      idxBuild("phr")(s, d)
      phraseIdxProbe(s, d)
    },

    // The same phrase query over the TERM-BUCKETED layout: positions
    // ride into the bucketed table, so the bucket-pruned exchange-free
    // read serves phrase probes too. Same oracle; hash-identical.
    QueryDef(
      "search_phrase_index_bucketed",
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split(trim(text, ' '), ' '), x -> x <> '') AS l
        |  FROM documents),
        |p AS (
        |  SELECT doc_id,
        |    len(list_filter(range(1, len(l)),
        |      i -> l[i] = 'table' AND l[i+1] = 'hash')) AS tf_phrase
        |  FROM t)
        |SELECT doc_id, tf_phrase FROM p WHERE tf_phrase > 0
        |ORDER BY tf_phrase DESC, doc_id LIMIT 10""".stripMargin) { (s, d) =>
      phraseBucketedBuild(s, d)
      phraseBucketedProbe(s, d)
    },

    // Character entropy (TextAnalysis.charEntropy): the low-entropy
    // quality gate (base64/spam/binary-leak detector). Per-(doc, char)
    // terms are rounded to integer micro-nats and summed as BIGINT —
    // exact under any aggregation order.
    QueryDef(
      "txt_char_entropy",
      """WITH ch AS (
        |  SELECT doc_id, unnest(string_split(text, '')) AS ch
        |  FROM documents),
        |cnt AS (
        |  SELECT doc_id, ch, count(*) AS c FROM ch
        |  WHERE ch <> '' GROUP BY doc_id, ch),
        |t AS (
        |  SELECT doc_id, c,
        |    sum(c) OVER (PARTITION BY doc_id) AS n
        |  FROM cnt)
        |SELECT doc_id, max(n)::BIGINT AS n_chars,
        |  count(*) AS n_distinct_chars,
        |  sum(round(-(c::DOUBLE / n::DOUBLE)
        |    * ln(c::DOUBLE / n::DOUBLE) * 1e6)::BIGINT)::BIGINT AS entropy_unats
        |FROM t GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      TextAnalysis.charEntropy(Tables.documents(s, d), "doc_id", "text")
        .presentSorted(col("doc_id"))
    },

    // SPLIT DECONTAMINATION (assignSplit ∘ decontaminate): the composed
    // pipeline real corpus builds run — drop from train every doc
    // sharing >= 5 hashed 3-shingles with the held-out (val/test)
    // bands. The held-out shingle index broadcasts; train never
    // shuffles except the per-doc overlap count over the hit set.
    QueryDef(
      "pl_split_decontaminate",
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split(trim(text, ' '), ' '), x -> x <> '') AS l
        |  FROM documents),
        |dsh AS (
        |  SELECT DISTINCT doc_id,
        |    ('0x' || substr(md5(sh), 1, 15))::BIGINT AS bh FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(l) - 1),
        |      i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS sh
        |    FROM toks)),
        |sp AS (
        |  SELECT doc_id,
        |    CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 1000 < 900
        |           THEN 'train'
        |         WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 1000 < 950
        |           THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents),
        |bsh AS (
        |  SELECT DISTINCT bh FROM dsh JOIN sp USING (doc_id)
        |  WHERE split <> 'train'),
        |contaminated AS (
        |  SELECT d.doc_id FROM dsh d JOIN bsh b USING (bh)
        |  GROUP BY d.doc_id HAVING count(*) >= 5)
        |SELECT doc_id FROM sp
        |WHERE split = 'train'
        |  AND doc_id NOT IN (SELECT doc_id FROM contaminated)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      import graft.operators.Corpus
      val sp = Corpus.assignSplit(Tables.documents(s, d), "doc_id",
        Seq("train" -> 900, "val" -> 50, "test" -> 50))
      // The held-out side is 10% of the corpus, not a KB-MB benchmark:
      // no forced broadcast (AQE still picks one at this scale).
      Corpus.decontaminate(
          sp.filter(col("split") === "train"),
          sp.filter(col("split") =!= "train"),
          "doc_id", "text", n = 3, minOverlap = 5,
          broadcastIndex = false)
        .select(col("doc_id"))
        .presentSorted(col("doc_id"))
    },

    // Top n-grams per source (corpus inspection): the most frequent
    // 3-shingles in each source — one explode + count + per-source
    // top-3 window.
    QueryDef(
      "txt_top_ngrams_per_source",
      """WITH toks AS (
        |  SELECT source,
        |    list_filter(string_split(trim(text, ' '), ' '), x -> x <> '') AS l
        |  FROM documents),
        |sh AS (
        |  SELECT source, unnest(list_transform(range(1, len(l) - 1),
        |    i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2])) AS sh
        |  FROM toks),
        |g AS (SELECT source, sh, count(*) AS n FROM sh GROUP BY source, sh),
        |r AS (SELECT source, sh, n,
        |        row_number() OVER (PARTITION BY source
        |                           ORDER BY n DESC, sh) AS rnk
        |      FROM g)
        |SELECT source, sh, n, rnk FROM r WHERE rnk <= 3
        |ORDER BY source, rnk""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("source"))
        .orderBy(col("n").desc, col("sh"))
      Tables.documents(s, d)
        .select(col("source"),
          explode(graft.functions.NativeHashExprs
            .stringShingles(col("text"), 3)).as("sh"))
        .groupBy(col("source"), col("sh"))
        .agg(count(lit(1)).as("n"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .presentSorted(col("source"), col("rnk"))
    },

    // Per-label semantic outliers (Similarity.centroidOutliers): exact
    // integer-micro centroids per label, in-row d2 against a broadcast
    // map literal, top-3 farthest members per label.
    QueryDef(
      "sim_centroid_outliers",
      """WITH e AS (
        |  SELECT vec_id AS id, label AS grp, embedding::DOUBLE[] AS v
        |  FROM embeddings),
        |dims AS (
        |  SELECT id, grp, generate_subscripts(v, 1) AS dim, unnest(v) AS x
        |  FROM e),
        |m AS (
        |  SELECT grp, dim, sum(round(x * 1e6)::BIGINT)::BIGINT AS sm,
        |    count(*) AS n
        |  FROM dims GROUP BY grp, dim),
        |c AS (
        |  SELECT grp, list(sm::DOUBLE / n::DOUBLE / 1e6 ORDER BY dim) AS cv
        |  FROM m GROUP BY grp),
        |sc AS (
        |  SELECT e.id, e.grp,
        |    round(list_inner_product(e.v, e.v) + list_inner_product(c.cv, c.cv)
        |      - 2 * list_inner_product(e.v, c.cv), 6) AS d2
        |  FROM e JOIN c USING (grp)),
        |r AS (SELECT grp, id, d2,
        |        row_number() OVER (PARTITION BY grp
        |                           ORDER BY d2 DESC, id) AS rnk
        |      FROM sc)
        |SELECT grp, id, d2, rnk FROM r WHERE rnk <= 3
        |ORDER BY grp, rnk""".stripMargin) { (s, d) =>
      Similarity.centroidOutliers(
          Tables.embeddings(s, d)
            .select(col("vec_id").as("id"), col("embedding").as("vec"),
              col("label")),
          "label", topK = 3)
        .presentSorted(col("grp"), col("rnk"))
    }
  )
}
