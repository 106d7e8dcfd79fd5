package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  private def span(id: Long, parent: Long, s: Long, e: Long, kind: String = "layer") =
    Span(id, 1L, parent, s"s$id", kind, s, e)

  test("covered counts overlapping intervals once and clips to the window") {
    assert(Trace.covered(Seq((0L, 10L), (5L, 15L)), 0L, 100L) == 15L)
    assert(Trace.covered(Seq((0L, 10L), (20L, 30L)), 0L, 100L) == 20L)
    assert(Trace.covered(Seq((0L, 10L), (2L, 4L)), 0L, 100L) == 10L)
    assert(Trace.covered(Seq((-5L, 5L), (95L, 120L)), 0L, 100L) == 10L)
    assert(Trace.covered(Nil, 0L, 100L) == 0L)
  }

  test("self time subtracts the union of direct children only") {
    val spans = Seq(
      span(1, 0, 0, 100, "root"),
      span(2, 1, 10, 50),
      // Overlaps span 2: together they cover 10..60.
      span(3, 1, 40, 60),
      // Nested under 2; it must not be subtracted from the root again.
      span(4, 2, 20, 30, "job"),
      span(5, 2, 25, 45, "job"))
    val self = Trace.selfTimes(spans)
    assert(self(1) == 100 - 50)
    assert(self(2) == 40 - 25)
    assert(self(3) == 20)
    assert(self(4) == 10 && self(5) == 20)
  }

  test("the listener attributes each job to the span that submitted it") {
    val spark = SparkSession.builder().master("local[2]").appName("trace-spec")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      val t = new Tracer(spark.sparkContext)
      spark.sparkContext.addSparkListener(t)
      t.on = true
      t.root("r") {
        t.layer[Long]("a")(spark.range(10).count())
        t.layer[Unit]("b") {
          spark.range(5).collect()
          // A job from a thread started inside the span (the way the
          // program runs concurrent store writes) is the span's too.
          val th = new Thread(() => { spark.range(3).count(); () })
          th.start(); th.join()
        }
      }
      // Outside any span: not recorded.
      t.on = false
      spark.range(7).count()
      t.drain()
      val spans = t.closed
      val byName = spans.filter(_.kind != "job").map(s => s.name -> s).toMap
      val jobs = spans.filter(_.kind == "job")
      def jobsOf(n: String) = jobs.filter(_.parent == byName(n).id)
      assert(jobsOf("a").nonEmpty && jobsOf("b").size >= 2)
      assert(jobsOf("r").isEmpty)
      assert(jobs.size == jobsOf("a").size + jobsOf("b").size)
      assert(jobs.forall(j => j.trace == byName("r").trace && j.endUs >= j.startUs))
      assert(jobsOf("a").map(_.attrs("tasks")).sum > 0)
    } finally spark.stop()
  }
}
