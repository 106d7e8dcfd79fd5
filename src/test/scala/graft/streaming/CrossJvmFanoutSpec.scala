package graft.streaming

import graft.SparkSpec
import graft.operators.{Search, Similarity}
import graft.sources.Commits
import org.apache.spark.sql.functions._

/** Two-writer semantics of the COMPOSED fan-out across real process
  * boundaries (r18 verdict item 5): CrossJvmLockSpec pins the lease on
  * single stores, but [[Streams.fanoutIngestBatchNeardupGated]]
  * composes six lease-held mutations — so the cross-JVM contract to
  * pin is (a) a concurrent second fan-out writer refuses CLEANLY when
  * it hits a held component store mid-composition, after its earlier
  * surfaces already committed, leaving no stuck lease anywhere, and
  * (b) redelivering the aborted batch after release converges to
  * exactly the state a crash-free run reaches (the same no-cross-store
  * -transaction story as the in-process crash-window tests, now with
  * the crash induced by a REAL competing process).
  */
class CrossJvmFanoutSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._
  import spark.implicits._

  private def fork(main: String, args: Seq[String]): Process = {
    val javaBin = sys.props("java.home") + "/bin/java"
    val raw = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toList
    val opens = raw.zipWithIndex.flatMap {
      case (a, i) if a == "--add-opens" && i + 1 < raw.size =>
        Seq(a, raw(i + 1))
      case (a, _) if a.startsWith("--add-opens=") => Seq(a)
      case _ => Seq.empty
    }
    val cmd = Seq(javaBin) ++ opens ++ Seq("-Xmx2g", main) ++ args
    val pb = new ProcessBuilder(cmd.asJava)
    pb.environment().put("CLASSPATH", sys.props("java.class.path"))
    pb.redirectErrorStream(true)
    pb.start()
  }

  private final class Output(p: Process) {
    private val lines =
      new java.util.concurrent.ConcurrentLinkedQueue[String]()
    private val t = new Thread(() => {
      val r = new java.io.BufferedReader(
        new java.io.InputStreamReader(p.getInputStream))
      var l = r.readLine()
      while (l != null) { lines.add(l); l = r.readLine() }
    })
    t.setDaemon(true); t.start()
    def all: Seq[String] = lines.asScala.toSeq
    /** After process exit the daemon reader may still be draining
      * buffered stdout; join it (EOF ends the loop) before asserting
      * on [[all]], or a line arriving milliseconds after exit is
      * missed (flaky false failure).
      */
    def drain(): Unit = t.join(10000)
    def awaitLine(prefix: String, timeoutMs: Long): Boolean = {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (System.currentTimeMillis() < deadline) {
        if (all.exists(_.startsWith(prefix))) return true
        if (!p.isAlive) {
          drain()
          return all.exists(_.startsWith(prefix))
        }
        Thread.sleep(100)
      }
      false
    }
  }

  private def waitBounded(p: Process, out: Output,
      timeoutMs: Long = 180000): Int = {
    if (!p.waitFor(timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS)) {
      p.destroyForcibly(): Unit
      fail(s"child JVM did not exit within ${timeoutMs / 1000}s; " +
        s"output so far:\n${out.all.mkString("\n")}")
    }
    out.drain()
    p.exitValue()
  }

  private def lockExists(dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/_lock")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Wave A — span/shingle-disjoint from [[FanoutRaceChild.waveB]]. */
  private def waveA = Seq(
    (1L, "alpha beta gamma delta epsilon", Seq(1.0f, 0.0f, 0.0f)),
    (2L, "winter storms cover northern peaks", Seq(0.0f, 1.0f, 0.0f)))
    .toDF("doc_id", "text", "vec")

  private def gated(root: String, batch: org.apache.spark.sql.DataFrame,
      id: Long) =
    Streams.fanoutIngestBatchNeardupGated(batch, id, s"$root/store",
      s"$root/index", s"$root/ann", s"$root/gram", s"$root/nd",
      "doc_id", "text", vecCol = Some("vec"), planes = 4, dims = 3,
      k = 3, pqDir = Some(s"$root/pq"), pqM = 3, pqCodes = 2)

  test("a second JVM's composed fan-out refuses cleanly " +
    "mid-composition and the aborted batch converges on redelivery") {
    val root = java.nio.file.Files
      .createTempDirectory("xjvm-fanout").toString

    // Base state: wave A lands cleanly through all six surfaces.
    assert(gated(root, waveA, 0L) == ((2L, 2L, 2L, 2L, 2L, 0L, 0L)))
    val delivered = graft.sources.StatePointer
      .readFile(s"$root/nd", "_delivered")
    assert(delivered.nonEmpty, "wave A's delivery was not recorded")

    // Hold the MERGE store's lease — surface 3 of the child's chain —
    // so the child commits its near-dup and gram-store generations
    // first and is refused mid-composition.
    Commits.acquireWriterLock(spark, s"$root/store")
    val childStateOk =
      try {
        val p = fork("graft.streaming.FanoutRaceChild",
          Seq(root, "1"))
        val out = new Output(p)
        assert(waitBounded(p, out) == 2,
          s"child fan-out should be refused at the held merge store; " +
            s"output:\n${out.all.mkString("\n")}")
        assert(out.all.exists(_.startsWith("REFUSED")),
          s"expected a REFUSED line:\n${out.all.mkString("\n")}")

        // Mid-composition is real: the child's two gate surfaces DID
        // commit before the refusal...
        assert(Streams.neardupStoreRead(spark, s"$root/nd").get
          .select("doc_id").as[Long].collect().toSet
          == Set(1L, 2L, 5L, 6L, 7L),
          "child's near-dup generation should have committed")
        assert(Streams.substringStoreRead(spark, s"$root/gram").get
          .select("doc_id").distinct().as[Long].collect().toSet
          == Set(1L, 2L, 5L, 6L, 7L),
          "child's gram-store generation should have committed")
        // ...while the held store and everything after it stayed put.
        assert(Streams.readState(spark, s"$root/store").get
          .select("doc_id").as[Long].collect().toSet == Set(1L, 2L),
          "held merge store must not advance")
        assert(Similarity.pqStoreLiveIds(spark, s"$root/pq")
          .as[Long].collect().toSet == Set(1L, 2L),
          "surfaces after the held store must not advance")

        // The aborted child left no lease stuck on ANY component store
        // (withWriterLock releases on the abort path); the only _lock
        // is the one THIS test still holds.
        Seq("nd", "gram", "index", "ann", "pq").foreach { s =>
          assert(!lockExists(s"$root/$s"),
            s"stuck lease on $s after the child abort")
        }
        assert(lockExists(s"$root/store"), "parent lease disappeared")
        // The refused batch was never fully applied, so the ledger still
        // records wave A and a redelivery takes the full path.
        assert(graft.sources.StatePointer
          .readFile(s"$root/nd", "_delivered") == delivered,
          "the refused batch left a _delivered record")
        true
      } finally Commits.releaseWriterLock(spark, s"$root/store")
    assert(childStateOk)

    // Redelivery after release: the gates drop the exact redeliveries
    // (insert 0) but the committed survivors still feed every
    // downstream surface — the batch converges to a crash-free run.
    val counts = gated(root, FanoutRaceChild.waveB(spark), 1L)
    assert(counts == ((0L, 0L, 3L, 3L, 3L, 0L, 0L)),
      s"redelivery should catch the sinks up, got $counts")

    val full = Map(
      1L -> "alpha beta gamma delta epsilon",
      2L -> "winter storms cover northern peaks",
      5L -> "quick brown fox jumps high",
      6L -> "lazy dog sleeps under porch",
      7L -> "river bends around granite cliffs")
    assert(Streams.readState(spark, s"$root/store").get
      .select("doc_id", "text").as[(Long, String)].collect().toMap
      == full)
    val corpus = full.toSeq.toDF("doc_id", "text")
    val terms = Seq("alpha", "fox", "river", "peaks")
    assert(Search.bm25FromIndexTopK(spark, s"$root/index", terms, 10)
      .collect().toSeq ==
      Search.bm25TopK(corpus, "doc_id", "text", terms, 10)
        .collect().toSeq,
      "index after redelivery must equal the scan path on the full corpus")
    assert(Similarity.pqStoreLiveIds(spark, s"$root/pq")
      .as[Long].collect().toSet == Set(1L, 2L, 5L, 6L, 7L))
    val probe = Similarity.annStoreTopK(spark, s"$root/ann",
      Seq((101L, Seq(0.9f, 0.1f, 0.0f))).toDF("id", "vec"),
      planes = 4, dims = 3, k = 1)
      .select("cid").as[Long].collect().toSeq
    assert(probe == Seq(5L), s"ANN should surface doc 5, got $probe")

    // A second attempt of the SAME batch is now a complete no-op.
    assert(gated(root, FanoutRaceChild.waveB(spark), 1L)
      == ((0L, 0L, 0L, 0L, 0L, 0L, 0L)))
  }

  test("a commit from a second JVM is seen by the next probe of a warm " +
    "store") {
    val root = java.nio.file.Files
      .createTempDirectory("xjvm-fanout-view").toString
    assert(gated(root, waveA, 0L) == ((2L, 2L, 2L, 2L, 2L, 0L, 0L)))
    val terms = Seq("alpha", "fox", "river", "peaks")
    def live() = (
      Search.indexLiveDocs(spark, s"$root/index").get.select("doc_id")
        .as[Long].collect().toSet,
      Similarity.annStoreLiveIds(spark, s"$root/ann").as[Long].collect()
        .toSet,
      Similarity.pqStoreLiveIds(spark, s"$root/pq").as[Long].collect().toSet)
    def bm25() = Search.bm25FromIndexTopK(spark, s"$root/index", terms, 10)
      .collect().toSeq
    // Probe twice: the views of this committed set are warm.
    assert(live() == ((Set(1L, 2L), Set(1L, 2L), Set(1L, 2L))))
    assert(live() == ((Set(1L, 2L), Set(1L, 2L), Set(1L, 2L))))
    bm25(): Unit
    val p = fork("graft.streaming.FanoutRaceChild", Seq(root, "1"))
    val out = new Output(p)
    assert(waitBounded(p, out) == 0,
      s"child fan-out should land; output:\n${out.all.mkString("\n")}")
    val all = Set(1L, 2L, 5L, 6L, 7L)
    assert(live() == ((all, all, all)), "a probe missed the child's commit")
    val corpus = Streams.readState(spark, s"$root/store").get
      .select("doc_id", "text")
    assert(corpus.count() == 5)
    assert(bm25() == Search.bm25TopK(corpus, "doc_id", "text", terms, 10)
      .collect().toSeq)
  }

  test("a composed fan-out refuses cleanly when another JVM holds the " +
    "FIRST surface, advancing nothing") {
    val root = java.nio.file.Files
      .createTempDirectory("xjvm-fanout-f").toString
    assert(gated(root, waveA, 0L) == ((2L, 2L, 2L, 2L, 2L, 0L, 0L)))

    // A real second JVM holds the near-dup store (the chain's FIRST
    // surface) long enough for our composed call to hit it.
    val p = fork("graft.sources.LockRaceChild",
      Seq(s"$root/nd", Commits.DefaultLockTtlMs.toString, "20000"))
    val out = new Output(p)
    assert(out.awaitLine("HELD", timeoutMs = 120000),
      s"child never acquired; output:\n${out.all.mkString("\n")}")
    intercept[IllegalStateException] {
      gated(root, FanoutRaceChild.waveB(spark), 1L)
    }
    // First-surface refusal = a clean atomic no-op: nothing advanced.
    assert(Streams.substringStoreRead(spark, s"$root/gram").get
      .select("doc_id").distinct().as[Long].collect().toSet
      == Set(1L, 2L))
    assert(Streams.readState(spark, s"$root/store").get
      .select("doc_id").as[Long].collect().toSet == Set(1L, 2L))
    assert(waitBounded(p, out) == 0,
      s"holder should release cleanly; output:\n${out.all.mkString("\n")}")
    // And with the holder gone the same batch lands whole.
    assert(gated(root, FanoutRaceChild.waveB(spark), 1L)
      == ((3L, 3L, 3L, 3L, 3L, 0L, 0L)))
  }

  test("a takedown refused on another JVM's ANN lease commits nothing") {
    val root = java.nio.file.Files
      .createTempDirectory("xjvm-fanout-del").toString
    assert(gated(root, waveA, 0L) == ((2L, 2L, 2L, 2L, 2L, 0L, 0L)))
    def takedown() = Streams.fanoutDeleteBatch(Seq(1L).toDF("doc_id"), 1L,
      s"$root/store", s"$root/index", s"$root/ann",
      pqDir = Some(s"$root/pq"))
    val stored = Commits.committed(spark, s"$root/store")
    val indexed = Commits.committed(spark, s"$root/index")

    // A real second JVM holds the ANN store, the third of the
    // takedown's surfaces, while our takedown runs.
    val p = fork("graft.sources.LockRaceChild",
      Seq(s"$root/ann", Commits.DefaultLockTtlMs.toString, "20000"))
    val out = new Output(p)
    assert(out.awaitLine("HELD", timeoutMs = 120000),
      s"child never acquired; output:\n${out.all.mkString("\n")}")
    intercept[IllegalStateException](takedown())
    // The leases are taken before any surface mutates: the merge store
    // and the index, whose leases came first, are unchanged, and no
    // lease of ours is left behind.
    assert(Commits.committed(spark, s"$root/store") == stored)
    assert(Streams.readState(spark, s"$root/store").get
      .select("doc_id").as[Long].collect().toSet == Set(1L, 2L))
    assert(Commits.committed(spark, s"$root/index") == indexed)
    assert(Search.indexLiveDocs(spark, s"$root/index").get
      .select("doc_id").as[Long].collect().toSet == Set(1L, 2L))
    Seq("store", "index", "pq").foreach { s =>
      assert(!lockExists(s"$root/$s"), s"stuck lease on $s")
    }
    assert(waitBounded(p, out) == 0,
      s"holder should release cleanly; output:\n${out.all.mkString("\n")}")
    // With the holder gone the same takedown lands on every surface.
    assert(takedown() == ((1L, 1L, 1L, 0L, 1L, 0L)))
  }
}
