package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One measured operation: its kind (bulk, update, read or
  * maintenance), wall seconds, whether it and the checks on its output
  * passed, and whether it ran traced.
  */
final case class Op(kind: String, seconds: Double, ok: Boolean, traced: Boolean)

/** What a workload hands back: its operations, its setup times, the
  * docs of its one bulk load, the named metrics it reports beside the
  * gated ones, its output checks, and its store gauges.
  */
final case class Outcome(ops: Seq[Op], setupS: Seq[Double], bulkDocs: Long,
    bytesPerLiveByte: Double, named: Seq[(String, Double, String, String)],
    checks: Seq[(String, Boolean)], gauges: Map[String, Double])

final class Ctx(val spark: SparkSession, val tracer: Tracer, val workload: String,
    val seed: Long, val seconds: Double, val work: Path, val traced: Boolean) {
  /** Where a traced run writes its spans; kept after the run. */
  def traceFile: Path = work.getParent.getParent.resolve(s"traces/$workload-seed$seed.jsonl")
  def dir(name: String): String = work.resolve(name).toString
}

/** Benchmark entry point: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir>`. Generates the workload's inputs from
  * the seed under `--work`, runs one closed loop (one outstanding
  * operation) against the program's public module functions for about
  * `--seconds`, checks every output, and prints the metrics. The last
  * stdout line is the JSON result; it is printed only when the run
  * completed, so a crash exits non-zero with no result.
  */
object Main {
  val Workloads = Seq("crawl_ingest", "fanout_churn")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val workload = arg("workload")
    require(Workloads.contains(workload), s"--workload must be one of ${Workloads.mkString(", ")}")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val traced = arg("trace") == "1"
    val work = Paths.get(arg("work")).toAbsolutePath
    Files.createDirectories(work)

    val cpus = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    // graft.Bench's engine settings, except its 30 s periodic cleaner GC:
    // that forces a full collection at a random point of a run this
    // short (Spark's default interval, 30 min, never fires in one).
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(work.resolve("checkpoints").toString)
    val tracer = new Tracer(spark.sparkContext)
    if (traced) spark.sparkContext.addSparkListener(tracer)
    val ctx = new Ctx(spark, tracer, workload, seed, seconds, work, traced)
    note(f"session ${(System.nanoTime() - t0) / 1e9}%.2f s")
    try {
      val out = workload match {
        case "crawl_ingest" => CrawlIngest.run(ctx)
        case "fanout_churn" => FanoutChurn.run(ctx)
      }
      note(f"workload done ${(System.nanoTime() - t0) / 1e9}%.2f s")
      report(ctx, workload, out)
    } finally spark.stop()
  }

  private def j(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else BigDecimal(d).bigDecimal.toPlainString

  /** The gated end-to-end metrics: (name, value, unit). Each workload
    * fills them from its own operations (see `perfbench/README.md`).
    */
  def endToEnd(o: Outcome): Seq[(String, Double, String)] = {
    def secs(kind: String) = o.ops.filter(_.kind == kind).map(_.seconds)
    val reads = secs("read")
    require(reads.nonEmpty && secs("update").nonEmpty && secs("bulk").size == 1 &&
      secs("maintenance").nonEmpty, "a run must complete every operation kind")
    Seq(
      ("setup_s", Stats.median(o.setupS), "s"),
      ("bulk_docs_per_s", o.bulkDocs / secs("bulk").head, "1/s"),
      ("update_s_p50", Stats.median(secs("update")), "s"),
      ("read_s_p50", Stats.median(reads), "s"),
      ("maintenance_s", Stats.median(secs("maintenance")), "s"),
      ("bytes_per_live_byte", o.bytesPerLiveByte, "ratio"))
  }

  private def report(ctx: Ctx, workload: String, o: Outcome): Unit = {
    note("ops: " + o.ops.map(op => f"${op.kind}%s=${op.seconds}%.3f").mkString(" "))
    val failedChecks = o.checks.filterNot(_._2)
    failedChecks.foreach { case (c, _) => note(s"CHECK FAILED: $c") }
    val attempted = o.ops.size + o.checks.size
    val failed = o.ops.count(!_.ok) + failedChecks.size
    val e2e = endToEnd(o)
    val reads = o.ops.count(_.kind == "read")
    // Every metric the run measured, by name, unit and direction; the
    // gated ones are repeated on the last line.
    val all = e2e.map { case (n, v, u) =>
        (n, v, u, if (u == "1/s") "higher" else "lower") } ++ o.named ++ Seq(
      ("error_frac", failed.toDouble / attempted, "frac", "lower"),
      ("peak_rss_mb", peakRssMb(), "MB", "lower"))
    val allJson = all.map { case (n, v, u, b) =>
      s""""$n":{"value":${j(v)},"unit":"$u","better":"$b"}""" }.mkString(",")
    println(s"""{"workload":"$workload","seed":${ctx.seed},""" +
      s""""read_tail_pct":${j(Stats.tailPct(reads))},"read_samples":$reads,""" +
      s""""updates":${o.ops.count(_.kind == "update")},"checks":${o.checks.size},""" +
      s""""failed_checks":${failedChecks.size},"metrics_all":{$allJson}}""")
    val metrics =
      if (!ctx.traced) e2e.map { case (n, v, u) => n -> ((v, u)) }
      else Layers.metrics(ctx, o)
    val mJson = metrics.map { case (n, (v, u)) =>
      s""""$n":{"value":${j(v)},"unit":"$u"}""" }.mkString(",")
    println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":{$mJson}}""")
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val f = Paths.get("/proc/self/status")
    if (!Files.exists(f)) Double.NaN
    else {
      import scala.jdk.CollectionConverters._
      Files.readAllLines(f).asScala.find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    }
  }

  /** Closed loop: runs cycle i = 0, 1, ... until `seconds` of cycle
    * time have passed; a traced run makes at least two cycles, so it has
    * traced and untraced reads to compare. `prep(i)` runs before cycle
    * i, outside the measured time.
    */
  def loop(ctx: Ctx, seconds: Double)(prep: Int => Unit)(cycle: Int => Unit): Unit = {
    var spent = 0.0
    var i = 0
    while (spent < seconds || (ctx.traced && i < 2)) {
      prep(i)
      spent += timed(cycle(i))._1
      i += 1
    }
  }

  /** Time one operation and record it. A failure is recorded and
    * reported; the run goes on.
    */
  def op[T](ctx: Ctx, ops: mutable.Buffer[Op], kind: String, traced: Boolean = true)(
      f: => T)(ok: T => Boolean = (_: T) => true): Option[T] = {
    val on = ctx.traced && traced
    ctx.tracer.on = on
    val t0 = System.nanoTime()
    val r = try Right(ctx.tracer.root(kind)(f)) catch { case e: Exception => Left(e) }
    val dt = (System.nanoTime() - t0) / 1e9
    ctx.tracer.on = false
    r match {
      case Right(v) =>
        val good = ok(v)
        if (!good) note(s"$kind failed its check")
        ops += Op(kind, dt, good, on); Some(v)
      case Left(e) =>
        note(s"$kind failed: $e\n  at " + e.getStackTrace.take(8).mkString("\n  at "))
        ops += Op(kind, dt, ok = false, on); None
    }
  }

  /** Wall seconds of `f`, with its result. */
  def timed[T](f: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = f
    ((System.nanoTime() - t0) / 1e9, r)
  }

  def note(msg: String): Unit = System.err.println(s"[perfbench] $msg")
}
