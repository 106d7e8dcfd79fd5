package graft.sources

import graft.SparkSpec

/** Writer-lease semantics across REAL process boundaries: the
  * in-process specs (SearchSpec / SimilaritySpec) cover the
  * single-JVM contract, but create-exclusive atomicity, refusal of a
  * lease held by another PROCESS, takeover after process death, and
  * ledger id continuity across JVMs can only be pinned by actually
  * forking a second JVM ([[LockRaceChild]]).
  */
class CrossJvmLockSpec extends SparkSpec {
  import scala.jdk.CollectionConverters._

  private def tmp(): String = java.nio.file.Files
    .createTempDirectory("xjvm-lock").toString + "/store"

  /** Fork [[LockRaceChild]] with this JVM's --add-opens set (Spark on
    * JDK 17+) and classpath (via CLASSPATH to dodge arg-length
    * limits). stderr folds into stdout.
    */
  private def fork(dir: String, ttlMs: Long, holdMs: Long): Process = {
    val javaBin = sys.props("java.home") + "/bin/java"
    val raw = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toList
    val opens = raw.zipWithIndex.flatMap {
      case (a, i) if a == "--add-opens" && i + 1 < raw.size =>
        Seq(a, raw(i + 1))
      case (a, _) if a.startsWith("--add-opens=") => Seq(a)
      case _ => Seq.empty
    }
    val cmd = Seq(javaBin) ++ opens ++ Seq("-Xmx2g",
      "graft.sources.LockRaceChild", dir, ttlMs.toString, holdMs.toString)
    val pb = new ProcessBuilder(cmd.asJava)
    pb.environment().put("CLASSPATH", sys.props("java.class.path"))
    pb.redirectErrorStream(true)
    pb.start()
  }

  /** Drain the child's stdout on a daemon thread (prevents pipe-buffer
    * deadlock), exposing the lines seen so far.
    */
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
    def awaitLine(prefix: String, timeoutMs: Long): Boolean = {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (System.currentTimeMillis() < deadline) {
        if (all.exists(_.startsWith(prefix))) return true
        if (!p.isAlive && !all.exists(_.startsWith(prefix))) return false
        Thread.sleep(100)
      }
      false
    }
  }

  /** `waitFor` with a bound: a wedged child JVM (e.g. a Spark startup
    * hang) must fail the test, not block the whole suite forever.
    */
  private def waitBounded(p: Process, out: Output,
      timeoutMs: Long = 180000): Int = {
    if (!p.waitFor(timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS)) {
      p.destroyForcibly(): Unit
      fail(s"child JVM did not exit within ${timeoutMs / 1000}s; " +
        s"output so far:\n${out.all.mkString("\n")}")
    }
    p.exitValue()
  }

  test("a second real JVM is refused while this JVM holds the lease") {
    val dir = tmp()
    Commits.acquireWriterLock(spark, dir)
    try {
      val p = fork(dir, ttlMs = Commits.DefaultLockTtlMs, holdMs = 0)
      val out = new Output(p)
      assert(waitBounded(p, out) == 2,
        s"child should be refused; output:\n${out.all.mkString("\n")}")
      assert(!out.all.exists(_.startsWith("HELD")))
    } finally Commits.releaseWriterLock(spark, dir)
    // The lease is still OURS after the refused child exits.
    val lock = new org.apache.hadoop.fs.Path(s"$dir/_lock")
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(lock), "release after the race should have cleared")
  }

  test("this JVM is refused while a second JVM holds; ledger ids stay " +
      "continuous across processes") {
    val dir = tmp()
    val p = fork(dir, ttlMs = Commits.DefaultLockTtlMs, holdMs = 8000)
    val out = new Output(p)
    assert(out.awaitLine("HELD", timeoutMs = 120000),
      s"child never acquired; output:\n${out.all.mkString("\n")}")
    // While the child holds the lease, this JVM's writer path throws.
    intercept[IllegalStateException] {
      Commits.withWriterLock(spark, dir) {
        fail("entered a critical section another process holds")
      }
    }
    assert(waitBounded(p, out) == 0,
      s"child should release cleanly; output:\n${out.all.mkString("\n")}")
    // The child allocated a batch id under its lease; ours continues
    // the same sequence — one ledger, no double id across JVMs.
    val childId = out.all.find(_.startsWith("ALLOC "))
      .map(_.drop(6).trim.toLong)
      .getOrElse(fail(s"no ALLOC line:\n${out.all.mkString("\n")}"))
    val mine = Commits.withWriterLock(spark, dir) {
      Commits.allocateBatchId(spark, dir)
    }
    assert(mine == childId + 1,
      s"expected ${childId + 1} after the child's $childId, got $mine")
  }

  test("a dead process's stale lease is taken over by a second JVM") {
    val dir = tmp()
    val lock = new org.apache.hadoop.fs.Path(s"$dir/_lock")
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // A writer that died holding the lease: the lock file exists and
    // its mtime is far beyond the TTL.
    fs.mkdirs(lock.getParent)
    fs.create(lock, false).close()
    val old = System.currentTimeMillis() - 2 * 60 * 60 * 1000L
    fs.setTimes(lock, old, old)
    val p = fork(dir, ttlMs = 1000, holdMs = 0)
    val out = new Output(p)
    assert(waitBounded(p, out) == 0,
      s"child should break the stale lease; output:\n" +
        out.all.mkString("\n"))
    assert(out.all.exists(_.startsWith("HELD")))
    assert(!fs.exists(lock), "taken-over lease should be released")
  }
}
