package graft.sources

/** Forked by CrossJvmLockSpec: a REAL second JVM exercising the writer
  * lease against a store directory also touched by the parent test JVM
  * — the in-process lease specs can't see create-exclusive semantics
  * across process boundaries or takeover after process death; this
  * can.
  *
  * Protocol: args = (dir, staleTtlMs, holdMs). On acquiring the lease
  * the child prints `HELD`, allocates one ledger batch id (printing
  * `ALLOC <id>` — lets the parent pin cross-JVM id continuity), sleeps
  * `holdMs`, releases, and exits 0. A refused lease exits 2.
  */
object LockRaceChild {
  def main(args: Array[String]): Unit = {
    val Array(dir, ttl, hold) = args
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[1]")
      .appName("graft-lock-race-child")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val code =
      try {
        Commits.withWriterLock(spark, dir, ttl.toLong) {
          println("HELD")
          Console.flush()
          val id = Commits.allocateBatchId(spark, dir)
          println(s"ALLOC $id")
          Console.flush()
          Thread.sleep(hold.toLong)
        }
        0
      } catch { case _: IllegalStateException => 2 }
    spark.stop()
    sys.exit(code)
  }
}
