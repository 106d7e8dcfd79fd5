package perfbench

import scala.collection.mutable

import graft.operators.{Search, Similarity}
import graft.streaming.Streams
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The standing LLM-data stores one fan-out feeds, and the calls the
  * fan-out workloads time: ingest, takedown, maintenance and the six
  * probe kinds. Every optional surface of the fully gated fan-out is
  * on: merge store, inverted index, ANN, gram (span gate), near-dup,
  * PQ, chunk and chunk-vector stores.
  */
final class Stores(ctx: Ctx, name: String) {
  private val spark = ctx.spark
  private val t = ctx.tracer
  private val root = ctx.dir(name)
  val merge = s"$root/merge"
  val index = s"$root/index"
  val ann = s"$root/ann"
  val gram = s"$root/gram"
  val neardup = s"$root/neardup"
  val pq = s"$root/pq"
  val chunks = s"$root/chunks"
  val ckvec = s"$root/ckvec"
  val surfaces: Seq[(String, String)] = Seq("merge" -> merge, "index" -> index,
    "ann" -> ann, "gram" -> gram, "neardup" -> neardup, "pq" -> pq,
    "chunks" -> chunks, "ckvec" -> ckvec)
  private val writeDirs = surfaces.map(_._2)

  val Planes = 4
  val Dims = Gen.VecDims
  val CkDims = 16
  val K = 10
  val RecallQueries = 20

  /** Every doc vector offered so far (latest per id): the floats the
    * PQ rerank loads for its candidates.
    */
  private var vecs: DataFrame = null

  /** Load a generated wave file as the delivered batch (cached, so the
    * ingest timing starts at the program's first action).
    */
  def loadDocs(file: java.nio.file.Path): DataFrame = {
    val df = Stores.read(spark, file)
    val v = df.select(col("doc_id").as("id"), col("vec"))
    vecs = (if (vecs == null) v else vecs.join(v, Seq("id"), "left_anti").unionByName(v))
      .localCheckpoint()
    df
  }

  def loadIds(file: java.nio.file.Path): DataFrame = {
    val df = spark.read.schema(StructType(Seq(StructField("doc_id", LongType))))
      .json(file.toString).cache()
    df.count()
    df
  }

  /** One delivery through the fully gated fan-out; returns its seven
    * counts (near-dup admitted, span admitted, indexed, ANN, PQ,
    * chunked, chunk vectors).
    */
  def ingest(batch: DataFrame, batchId: Long, offered: Long): Seq[Long] =
    t.layer[Seq[Long]]("streaming.fanout_ingest", c => Seq("offered" -> offered.toDouble,
        "neardup_admitted" -> c(0).toDouble, "span_admitted" -> c(1).toDouble)) {
      Layers.writes(t, writeDirs) {
        Streams.fanoutIngestBatchNeardupGated(batch, batchId, merge, index, ann, gram,
          neardup, "doc_id", "text", vecCol = Some("vec"), planes = Planes, dims = Dims,
          pqDir = Some(pq), chunkDir = Some(chunks), chunkWindow = 32, chunkOverlap = 8,
          chunkVecDir = Some(ckvec), chunkVecDims = CkDims).productIterator
          .map(_.asInstanceOf[Long]).toSeq
      }
    }

  def delete(ids: DataFrame, batchId: Long): Seq[Long] =
    t.layer[Seq[Long]]("streaming.fanout_delete") {
      Layers.writes(t, writeDirs) {
        Streams.fanoutDeleteBatch(ids, batchId, merge, index, ann, chunkDir = Some(chunks),
          pqDir = Some(pq), chunkVecDir = Some(ckvec)).productIterator
          .map(_.asInstanceOf[Long]).toSeq
      }
    }

  /** The routine maintenance pass: incremental vacuums of the dirty
    * batches, compaction to at most four batches per store.
    */
  def vacuum(): Unit =
    t.layer[Unit]("streaming.fanout_vacuum") {
      Layers.writes(t, writeDirs) {
        Streams.fanoutVacuum(spark, merge, index, ann, incremental = true,
          chunkDir = Some(chunks), maxBatches = Some(4), pqDir = Some(pq),
          chunkVecDir = Some(ckvec)): Unit
      }
    }

  private def qvec(p: Gen.Probe): DataFrame = {
    import spark.implicits._
    Seq((-1L, p.vec)).toDF("id", "vec")
  }

  /** Run one probe; returns its answer rows in rank order. */
  def probe(p: Gen.Probe): Seq[Row] = {
    def run(span: String)(df: => DataFrame) = t.layer[Seq[Row]](span)(df.collect().toSeq)
    p.kind match {
      case "bm25" => run("operators.search.bm25_topk")(
        Search.bm25FromIndexTopK(spark, index, p.terms, K))
      case "phrase" => run("operators.search.phrase_topk")(
        Search.phraseFromIndexTopK(spark, index, p.terms, K))
      case "hybrid" => run("operators.search.hybrid_topk")(
        Search.hybridTopK(spark, index, ann, p.terms, qvec(p), Planes, Dims, K))
      case "ann" => run("operators.similarity.ann_topk")(
        Similarity.annStoreTopK(spark, ann, qvec(p), Planes, Dims, K).orderBy("rnk"))
      case "pq_rerank" => run("operators.similarity.pq_rerank_topk")(
        Similarity.pqStoreRerankTopK(spark, pq, qvec(p), vecs, 4 * K, K).orderBy("rnk"))
      case "passage" => run("streaming.passage_topk")(
        Streams.passageTopK(spark, ckvec, p.terms.mkString(" "), CkDims, 2 * K, K,
          nprobe = 4).orderBy("rnk"))
    }
  }

  // ---- checks (outside the measured time) ------------------------------

  def liveDocs: DataFrame = Streams.readState(spark, merge).get.select("doc_id", "text")

  /** Every live doc of the merge store is live on every other surface. */
  def surfacesAgree(): Seq[(String, Boolean)] = {
    def set(df: DataFrame) = df.distinct().collect().map(_.getLong(0)).toSet
    val live = set(liveDocs.select("doc_id"))
    val chunked = set(Streams.chunkStoreRead(spark, chunks).get.select("doc_id"))
    Seq(
      "index" -> set(Search.indexLiveDocs(spark, index).get.select("doc_id")),
      "ann" -> set(Similarity.annStoreLiveIds(spark, ann)),
      "pq" -> set(Similarity.pqStoreLiveIds(spark, pq)),
      "chunks" -> chunked,
      "ckvec" -> set(Similarity.pqStoreLiveIds(spark, ckvec)
        .select(expr(s"id div ${Streams.ChunkVecSeqLimit}"))))
      .map { case (s, ids) => (s"live docs == $s live docs (${live.size} docs)", ids == live) }
  }

  /** A BM25 or phrase answer from the index equals the scan over the
    * live docs, row for row.
    */
  def exactCheck(p: Gen.Probe, got: Seq[Row]): Boolean = {
    val ref = p.kind match {
      case "bm25" => Search.bm25TopK(liveDocs, "doc_id", "text", p.terms, K)
      case "phrase" => Search.phraseTopK(liveDocs, "doc_id", "text", p.terms, K)
    }
    ref.collect().toSeq == got
  }

  /** Mean recall@K over `RecallQueries` seeded query vectors of the ANN
    * store and the PQ rerank against the exact cosine top-K (vectors are
    * unit length, so cosine and L2 rank alike), and of the passage store
    * against its exact audit.
    */
  def recalls(seed: Long): Map[String, Double] = {
    import spark.implicits._
    val q = (0 until RecallQueries).map(i => (-1L - i, Gen.queryVec(seed, i))).toDF("id", "vec")
    val corpus = vecs.join(liveDocs.select(col("doc_id").as("id")), Seq("id"), "left_semi")
    def top(df: DataFrame): Map[Long, Set[Long]] = df.select("qid", "cid").collect()
      .groupBy(_.getLong(0)).map { case (k, rs) => k -> rs.map(_.getLong(1)).toSet }
    val exact = top(Similarity.bruteForceTopK(q, corpus, K))
    def recall(got: Map[Long, Set[Long]]) = exact.map { case (k, e) =>
      got.getOrElse(k, Set.empty).count(e.contains).toDouble / e.size }.sum / exact.size
    val passage = Streams.passageRecallAtK(spark, chunks, ckvec, CkDims, RecallQueries, K)
      .agg(sum("n_hit"), count(lit(1))).collect().head
    Map(
      "ann" -> recall(top(Similarity.annStoreTopK(spark, ann, q, Planes, Dims, K))),
      "pq_rerank" -> recall(top(Similarity.pqStoreRerankTopK(spark, pq, q, vecs, 4 * K, K))),
      "passage" -> passage.getLong(0).toDouble / (passage.getLong(1) * K))
  }
}

object Stores {
  private val docSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("vec", ArrayType(FloatType))))

  /** A generated docs file, cached and counted. */
  def read(spark: org.apache.spark.sql.SparkSession, file: java.nio.file.Path): DataFrame = {
    val df = spark.read.schema(docSchema).json(file.toString).cache()
    df.count()
    df
  }
}

/** Recall@K floors the probes must meet, per kind. */
object Floors {
  val Recall: Map[String, Double] = Map("ann" -> 0.15, "pq_rerank" -> 0.8, "passage" -> 0.15)
}

/** fanout_churn: writes beside reads on the standing LLM-data stores.
  * The bulk operation is one wave through the fully gated fan-out with
  * every surface on. Each cycle then sends a small wave mixing new
  * docs, changed docs, near-dups, exact redeliveries and takedowns, and
  * delivers it again (the update: `fanoutIngestBatchNeardupGated`,
  * `fanoutDeleteBatch`, then the redelivery), and runs probe sets over
  * the stores (the reads: one read is one probe of each kind). An
  * incremental `fanoutVacuum` ends the run (the maintenance). Small
  * waves are bound by fixed per-action cost (jobs, commits, listings),
  * and generations pile up until the vacuum, so probe cost depends on
  * store history.
  */
object FanoutChurn {
  /** Setups per run; the reported setup time is their median. */
  val Setups = 5
  /** Reads per cycle. One read is a probe set, one probe of each kind,
    * so every kind's time moves the read's time.
    */
  val ProbeSets = 3

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val setupS = (0 until Setups).map { i =>
      Main.timed {
        val c = new Gen.Corpus(ctx.seed)
        val f = ctx.work.resolve(s"corpus/setup-$i.jsonl")
        Gen.writeDocs(c.bulk, f)
        Stores.read(spark, f).unpersist()
      }._1
    }
    val corpus = new Gen.Corpus(ctx.seed)
    val bulkFile = ctx.work.resolve("corpus/bulk.jsonl")
    Gen.writeDocs(corpus.bulk, bulkFile)
    val st = new Stores(ctx, "churn")
    val sets = (0 until ProbeSets * Gen.ProbeKinds.size).map(Gen.probe(ctx.seed, corpus.bulk, _))
      .grouped(Gen.ProbeKinds.size).toVector
    val ops = mutable.ArrayBuffer[Op]()
    val checks = mutable.ArrayBuffer[(String, Boolean)]()
    val gauges = mutable.ArrayBuffer[Map[String, Double]]()

    val bulk = st.loadDocs(bulkFile)
    Main.op(ctx, ops, "bulk")(st.ingest(bulk, 0L, Gen.BulkDocs))(_.forall(_ > 0))
    bulk.unpersist()

    var wave: DataFrame = null
    var victims: DataFrame = null
    var offered = 0
    var last = Seq.empty[(Gen.Probe, Seq[Row])]
    Main.loop(ctx, ctx.seconds) { i =>
      val (docs, ids) = corpus.wave(i + 1)
      val wf = ctx.work.resolve(s"corpus/wave-${i + 1}.jsonl")
      val df = ctx.work.resolve(s"corpus/del-${i + 1}.jsonl")
      Gen.writeDocs(docs, wf)
      Gen.writeIds(ids, df)
      wave = st.loadDocs(wf)
      victims = st.loadIds(df)
      offered = docs.size
    } { i =>
      Main.op(ctx, ops, "update") {
        st.ingest(wave, i + 1L, offered)
        st.delete(victims, i + 1L)
        // At-least-once delivery: the same wave again must be a no-op
        // on every surface.
        st.ingest(wave, i + 1L, offered)
      }(_.forall(_ == 0L))
      gauges += Layers.storeGaugeMap(ctx, st.surfaces)
      last = sets.zipWithIndex.flatMap { case (set, j) =>
        // A traced run traces every other probe set, alternating by
        // cycle, so traced and untraced reads have the same mix.
        Main.op(ctx, ops, "read", traced = (i + j) % 2 == 0)(set.map(p => p -> st.probe(p)))()
          .getOrElse(Seq.empty)
      }
      wave.unpersist()
      victims.unpersist()
    }
    Main.op(ctx, ops, "maintenance")(st.vacuum())()

    // Checks: every live doc is on every surface, and the last cycle's
    // probe answers (taken before the vacuum) still hold: BM25 and
    // phrase equal the scan over the live docs, recall stays above its
    // floor.
    checks ++= st.surfacesAgree()
    last.filter(p => p._1.kind == "bm25" || p._1.kind == "phrase").foreach { case (p, got) =>
      checks += ((s"${p.kind} [${p.terms.mkString(" ")}] == scan over live docs", st.exactCheck(p, got)))
    }
    val recalls = st.recalls(ctx.seed)
    recalls.foreach { case (k, r) =>
      checks += ((f"$k recall@${st.K} $r%.3f >= ${Floors.Recall(k)}", r >= Floors.Recall(k)))
    }

    val liveBytes = st.liveDocs.select(sum(octet_length(col("text")))).collect().head.getLong(0)
    val storeBytes = st.surfaces.map { case (_, d) => Layers.dirBytes(d) }.sum
    def secs(k: String) = ops.filter(_.kind == k).map(_.seconds).toSeq
    val (pTail, pTailV) = Stats.tail(secs("read"))
    Outcome(ops.toSeq, setupS, Gen.BulkDocs, storeBytes.toDouble / liveBytes,
      named = Seq(
        ("bulk_ingest_docs_per_s", Gen.BulkDocs / secs("bulk").head, "1/s", "higher"),
        ("wave_s_p50", Stats.median(secs("update")), "s", "lower"),
        (s"wave_s_tail_p${Stats.tailPct(secs("update").size)}", Stats.tail(secs("update"))._2, "s", "lower"),
        ("probe_set_s_p50", Stats.median(secs("read")), "s", "lower"),
        (s"probe_set_s_tail_p$pTail", pTailV, "s", "lower"),
        ("probes_per_s", secs("read").size * Gen.ProbeKinds.size / secs("read").sum, "1/s", "higher")) ++
        recalls.toSeq.sorted.map { case (k, r) => (s"recall_$k", r, "frac", "higher") },
      checks = checks.toSeq,
      gauges = gauges.lastOption.getOrElse(Map.empty))
  }
}
