package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run: one set per layer-call span, the
  * useful-work ratios, the store gauges and the session counters.
  */
object Layers {

  /** The layer-call spans, named `<module>.<call>` after the module of
    * the public function the span wraps.
    */
  val Spans: Seq[String] = Seq("pipeline.crawl_run", "sources.store_merge",
    "sources.store_read", "sources.store_compact", "streaming.fanout_ingest", "streaming.fanout_delete", "streaming.fanout_vacuum",
    "streaming.passage_topk", "operators.search.bm25_topk", "operators.search.phrase_topk",
    "operators.search.hybrid_topk", "operators.similarity.ann_topk",
    "operators.similarity.pq_rerank_topk")

  /** Spans that mutate store dirs; they also report listing deltas. */
  val WriteSpans: Seq[String] = Seq("sources.store_merge", "sources.store_compact",
    "streaming.fanout_ingest",
    "streaming.fanout_delete", "streaming.fanout_vacuum")

  val SpanMetrics: Seq[(String, String)] = Seq("wall_s" -> "s", "driver_s" -> "s",
    "jobs" -> "count", "tasks" -> "count", "shuffle_bytes" -> "B", "input_bytes" -> "B")
  val WriteMetrics: Seq[(String, String)] = Seq("files_written" -> "count",
    "bytes_written" -> "B", "commits" -> "count")

  val Ratios: Seq[(String, String, String)] = Seq(
    ("pipeline.crawl_run.kept_ratio", "kept_docs", "linked_urls"),
    ("sources.store_merge.insert_ratio", "inserted", "offered"),
    ("streaming.fanout_ingest.neardup_admit_ratio", "neardup_admitted", "offered"),
    ("streaming.fanout_ingest.span_admit_ratio", "span_admitted", "neardup_admitted"))

  val Surfaces: Seq[String] = Seq("merge", "index", "ann", "gram", "neardup", "pq",
    "chunks", "ckvec")

  val Session: Seq[(String, String)] = Seq("jvm.gc_ms" -> "ms", "jvm.jit_ms" -> "ms",
    "spark.codegen_compiles" -> "count")

  /** Every per-layer metric name with its unit, in report order. */
  val All: Seq[(String, String)] =
    Spans.flatMap(s => SpanMetrics.map { case (m, u) => s"$s.$m" -> u }) ++
      WriteSpans.flatMap(s => WriteMetrics.map { case (m, u) => s"$s.$m" -> u }) ++
      Ratios.map(r => r._1 -> "ratio") ++
      Seq("store.raw.bytes" -> "B") ++
      Surfaces.flatMap(s => Seq(s"store.$s.committed_batches" -> "count", s"store.$s.bytes" -> "B")) ++
      Session ++
      Seq("trace.overhead_frac" -> "frac", "trace.layer_frac" -> "frac")

  // ---- store listings ---------------------------------------------------

  private def files(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }
  }

  def snapshot(dirs: Seq[String]): Map[Path, (Long, Long)] =
    dirs.flatMap(files).flatMap { f =>
      try Some(f -> ((Files.size(f), Files.getLastModifiedTime(f).toMillis)))
      catch { case _: java.io.IOException => None }
    }.toMap

  def dirBytes(dir: String): Long = snapshot(Seq(dir)).valuesIterator.map(_._1).sum

  /** Run a store write; when tracing, annotate the innermost span with
    * the files and bytes it wrote and the commits it made, from
    * before/after listings of `dirs`. A commit is a new `_commits/b<id>`
    * marker or a rewritten `_current` state pointer.
    */
  def writes[T](t: Tracer, dirs: Seq[String])(f: => T): T =
    if (!t.on) f
    else {
      val before = snapshot(dirs)
      val r = f
      val changed = snapshot(dirs).filter { case (p, v) => !before.get(p).contains(v) }
      val commits = changed.keys.count { p =>
        val n = p.getFileName.toString
        n == "_current" || (n.matches("b\\d+") && p.getParent.getFileName.toString == "_commits")
      }
      t.annotate("files_written" -> changed.size.toDouble,
        "bytes_written" -> changed.valuesIterator.map(_._1).sum.toDouble,
        "commits" -> commits.toDouble)
      r
    }

  /** committed_batches and bytes of each store surface. */
  def storeGaugeMap(ctx: Ctx, surfaces: Seq[(String, String)]): Map[String, Double] =
    surfaces.flatMap { case (name, dir) =>
      val batches =
        if (name == "merge") {
          val p = Paths.get(dir)
          if (!Files.exists(p)) 0
          else Files.list(p).iterator().asScala.count(_.getFileName.toString.startsWith("state_"))
        } else graft.sources.Commits.committed(ctx.spark, dir).size
      Seq(s"store.$name.committed_batches" -> batches.toDouble,
        s"store.$name.bytes" -> dirBytes(dir).toDouble)
    }.toMap

  // ---- the traced run's report --------------------------------------------

  private def gcMs(): Double = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble
  private def jitMs(): Double = Option(java.lang.management.ManagementFactory
    .getCompilationMXBean).map(_.getTotalCompilationTime.toDouble).getOrElse(0.0)
  private def codegenCompiles(): Double =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble

  /** Per-layer metrics from the recorded spans; also writes the spans
    * as JSONL and prints the self-time table to stderr.
    */
  def metrics(ctx: Ctx, o: Outcome): Seq[(String, (Double, String))] = {
    val t = ctx.tracer
    t.drain()
    val spans = t.closed
    t.writeJsonl(ctx.traceFile)
    val self = Trace.selfTimes(spans)
    val kids = spans.groupBy(_.parent)
    def jobsUnder(s: Span): Seq[Span] =
      kids.getOrElse(s.id, Nil).flatMap(c => if (c.kind == "job") Seq(c) else jobsUnder(c))
    val layers = spans.filter(_.kind == "layer").groupBy(_.name)
    val m = scala.collection.mutable.LinkedHashMap[String, Double]()
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    Spans.foreach { name =>
      val calls = layers.getOrElse(name, Nil)
      def per(f: Span => Double) = med(calls.map(f))
      m(s"$name.wall_s") = per(_.durUs / 1e6)
      m(s"$name.driver_s") = per(s => (s.durUs - Trace.covered(
        jobsUnder(s).map(j => (j.startUs, j.endUs)), s.startUs, s.endUs)) / 1e6)
      m(s"$name.jobs") = per(s => jobsUnder(s).size.toDouble)
      Seq("tasks", "shuffle_bytes", "input_bytes").foreach { k =>
        m(s"$name.$k") = per(s => jobsUnder(s).map(_.attrs.getOrElse(k, 0.0)).sum)
      }
      if (WriteSpans.contains(name)) WriteMetrics.foreach { case (k, _) =>
        m(s"$name.$k") = per(_.attrs.getOrElse(k, 0.0))
      }
    }
    Ratios.foreach { case (n, num, den) =>
      val calls = layers.getOrElse(n.split('.').dropRight(1).mkString("."), Nil)
      val d = calls.map(_.attrs.getOrElse(den, 0.0)).sum
      m(n) = if (d == 0) 0.0 else calls.map(_.attrs.getOrElse(num, 0.0)).sum / d
    }
    All.foreach { case (n, _) =>
      if (n.startsWith("store.")) m(n) = o.gauges.getOrElse(n, 0.0)
    }
    m("jvm.gc_ms") = gcMs()
    m("jvm.jit_ms") = jitMs()
    m("spark.codegen_compiles") = codegenCompiles()

    // Tracing overhead: traced against untraced reads of this run.
    val (tr, un) = o.ops.filter(_.kind == "read").partition(_.traced)
    m("trace.overhead_frac") =
      if (tr.isEmpty || un.isEmpty) 0.0
      else Stats.median(tr.map(_.seconds)) / Stats.median(un.map(_.seconds)) - 1.0
    val roots = spans.filter(_.kind == "root")
    val rootUs = roots.map(_.durUs).sum.toDouble
    val top = spans.filter(s => s.kind == "layer" && roots.exists(_.id == s.parent))
    m("trace.layer_frac") = if (rootUs == 0) 0.0 else top.map(_.durUs).sum / rootUs

    // Self-time table: the benchmark's own code between layer calls
    // (root self time, and jobs it submits itself), then per layer its
    // driver-side self time and the time its Spark jobs cover. The rows
    // add up to the traced wall time.
    val glueJobs = roots.map(r => r.durUs - self(r.id) -
      top.filter(_.parent == r.id).map(_.durUs).sum).sum / 1e6
    val rows = Seq("(bench glue)" -> ((roots.map(r => self(r.id)).sum / 1e6, glueJobs))) ++
      top.groupBy(_.name).toSeq.map { case (n, ss) =>
        n -> ((ss.map(s => self(s.id)).sum / 1e6, ss.map(s => (s.durUs - self(s.id)) / 1e6).sum))
      }
    System.err.println(f"[perfbench] traced wall ${rootUs / 1e6}%.3f s = " +
      f"${rows.map(r => r._2._1 + r._2._2).sum}%.3f s of self + job time:")
    rows.sortBy(r => -(r._2._1 + r._2._2)).foreach { case (n, (d, j)) =>
      System.err.println(f"[perfbench]   $n%-40s driver $d%8.3f s  jobs $j%8.3f s")
    }
    All.map { case (n, u) => n -> ((m.getOrElse(n, 0.0), u)) }
  }
}
