package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One span: a layer call, a Spark job, or the root of a trace (one
  * crawl pass, wave or probe). Times are microseconds on the epoch
  * clock, the clock Spark stamps job events with.
  */
final case class Span(id: Long, trace: Long, parent: Long, name: String,
    kind: String, startUs: Long, var endUs: Long = -1L,
    attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty) {
  def durUs: Long = endUs - startUs
}

object Trace {
  /** Local property carrying the active span id into every job the
    * span submits. Spark copies local properties into threads the
    * program starts inside the span, so jobs from its own worker
    * threads are attributed too.
    */
  val SpanProp = "perfbench.span"

  /** Length of the union of `[s, e)` intervals clipped to `[lo, hi)`. */
  def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val cs = ivs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    cs.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of every span: its duration minus the part of it that
    * its children cover (overlapping children counted once).
    */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cs = kids.getOrElse(s.id, Nil).map(c => (c.startUs, c.endUs))
      s.id -> (s.durUs - covered(cs, s.startUs, s.endUs))
    }.toMap
  }
}

/** In-memory span recorder plus the `SparkListener` that turns every
  * job into a child span of the span that submitted it, with the job's
  * task count and input/shuffle bytes. Spans are written as JSONL when
  * the run ends. With `on = false` every call is a plain pass-through
  * and no job is recorded.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  @volatile var on = false

  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def nowUs(): Long = baseUs + (System.nanoTime() - baseNs) / 1000L

  private var nextId = 1L
  private var traceId = 0L
  private var stack: List[Span] = Nil
  val spans = mutable.ArrayBuffer[Span]()

  // Listener state (listener-bus thread).
  private val jobSpan = mutable.Map[Int, Span]()
  private val stageJob = mutable.Map[Int, Int]()
  private var started = 0
  private var ended = 0

  private def open(name: String, kind: String): Span = synchronized {
    val p = stack.headOption
    val s = Span(nextId, p.fold(traceId)(_.trace), p.fold(0L)(_.id), name,
      kind, nowUs())
    nextId += 1
    spans += s
    s
  }

  private def run[T](s: Span)(f: => T): T = {
    val prev = sc.getLocalProperty(Trace.SpanProp)
    stack = s :: stack
    sc.setLocalProperty(Trace.SpanProp, s.id.toString)
    try f
    finally {
      s.endUs = nowUs()
      stack = stack.tail
      sc.setLocalProperty(Trace.SpanProp, prev)
    }
  }

  /** A new trace rooted at `name`. */
  def root[T](name: String)(f: => T): T =
    if (!on) f
    else {
      synchronized { traceId += 1 }
      run(open(name, "root"))(f)
    }

  /** A layer-call span under the innermost open span. `attrs` fills
    * the span's attributes from the call's result after it returns.
    */
  def layer[T](name: String, attrs: T => Seq[(String, Double)] = (_: T) => Nil)(f: => T): T =
    if (!on) f
    else {
      val s = open(name, "layer")
      val r = run(s)(f)
      attrs(r).foreach { case (k, v) => s.attrs(k) = v }
      r
    }

  /** Attach attributes to the innermost open span. */
  def annotate(kv: (String, Double)*): Unit =
    stack.headOption.foreach(s => kv.foreach { case (k, v) => s.attrs(k) = v })

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    started += 1
    val parent = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Trace.SpanProp))).map(_.toLong)
    parent.flatMap(id => spans.reverseIterator.find(_.id == id)).foreach { p =>
      val s = Span(nextId, p.trace, p.id, "spark.job", "job", e.time * 1000L)
      nextId += 1
      s.attrs("tasks") = 0; s.attrs("input_bytes") = 0; s.attrs("shuffle_bytes") = 0
      spans += s
      jobSpan(e.jobId) = s
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.remove(e.stageInfo.stageId).flatMap(jobSpan.get).foreach { s =>
      val m = e.stageInfo.taskMetrics
      s.attrs("tasks") += e.stageInfo.numTasks
      if (m != null) {
        s.attrs("input_bytes") += m.inputMetrics.bytesRead
        s.attrs("shuffle_bytes") += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    ended += 1
    jobSpan.remove(e.jobId).foreach(_.endUs = e.time * 1000L)
  }

  /** Wait (bounded) until the listener has seen the end of every job it
    * saw start, so the recorded spans are complete.
    */
  def drain(timeoutMs: Long = 10000L): Unit = {
    val until = System.currentTimeMillis() + timeoutMs
    while (synchronized(started != ended || jobSpan.nonEmpty) &&
        System.currentTimeMillis() < until) Thread.sleep(20)
    Thread.sleep(50)
  }

  /** Closed spans (a job whose end event never arrived is dropped). */
  def closed: Seq[Span] = synchronized(spans.filter(_.endUs >= 0).toList)

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val all = closed
    val self = Trace.selfTimes(all)
    val lines = all.map { s =>
      val as = s.attrs.map { case (k, v) => s""""$k":${num(v)}""" }.mkString(",")
      s"""{"id":${s.id},"trace":${s.trace},"parent":${s.parent},"name":"${s.name}",""" +
        s""""kind":"${s.kind}","start_us":${s.startUs},"end_us":${s.endUs},""" +
        s""""self_us":${self(s.id)},"attrs":{$as}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path,
      (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }

  private def num(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString
}
