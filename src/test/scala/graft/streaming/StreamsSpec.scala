package graft.streaming

import graft.SparkSpec
import graft.functions.HashFunctions
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Top-level so Catalyst can build an Encoder without an outer scope. */
case class Ev(ts: Timestamp, event_type: String, user_id: Long, value: Double)

/** Drives the Structured Streaming runtime end-to-end with MemoryStream:
  * windowed aggs (batch/stream parity), stateful dedup (ST4), the
  * event-time stale-job sweep (ST5), and the idempotent merge sink
  * (ST6/ST8).
  */
class StreamsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(minutes: Int): Timestamp =
    new Timestamp(1700000000000L + minutes * 60000L)

  private val events = Seq(
    Ev(ts(1), "view", 1L, 1.0), Ev(ts(2), "view", 1L, 2.0),
    Ev(ts(3), "click", 2L, 3.0), Ev(ts(14), "view", 1L, 4.0),
    Ev(ts(55), "view", 2L, 5.0), Ev(ts(56), "click", 1L, 6.0))

  test("stream-stream join correlates within the bound, evicts beyond") {
    implicit val sc = spark.sqlContext
    val clicks = MemoryStream[(String, Timestamp)]
    val buys = MemoryStream[(String, Timestamp)]
    val joined = Streams.streamStreamJoin(
      clicks.toDF().toDF("user", "ts"),
      buys.toDF().toDF("user", "rts"), "user", within = "5 minutes")
    val q = joined.writeStream.format("memory").queryName("ssj_t")
      .outputMode("append").start()
    try {
      clicks.addData(("u1", ts(0)), ("u2", ts(0)), ("u4", ts(10)))
      buys.addData(("u1", ts(3)),    // within 5 min -> joins
        ("u2", ts(20)),              // beyond the range -> dropped
        ("u3", ts(1)),               // no matching click
        ("u4", ts(9)))               // purchase BEFORE click -> dropped
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("ssj_t").select("user").as[String].collect().toSeq
    assert(got == Seq("u1"))
    // Batch parity: the same body over batch frames gives the same pairs.
    val batch = Streams.streamStreamJoin(
      Seq(("u1", ts(0)), ("u2", ts(0)), ("u4", ts(10))).toDF("user", "ts"),
      Seq(("u1", ts(3)), ("u2", ts(20)), ("u3", ts(1)), ("u4", ts(9)))
        .toDF("user", "rts"), "user", within = "5 minutes")
      .select("user").as[String].collect().toSeq
    assert(batch == Seq("u1"))
  }

  test("windowed aggs: streaming (complete mode) equals batch") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Ev]
    in.addData(events.take(3))
    in.addData(events.drop(3))
    val q = Streams.tumblingAgg(in.toDF())
      .writeStream.format("memory").queryName("tumbling_t")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("tumbling_t")
      .select("win_start", "event_type", "n", "total")
      .as[(Long, String, Long, Double)].collect().toSet
    val want = Streams.tumblingAgg(events.toDF())
      .as[(Long, String, Long, Double)].collect().toSet
    assert(got == want && got.nonEmpty)
  }

  test("sliding and session aggs run on a stream") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Ev]
    in.addData(events)
    val q = Streams.sessionAgg(Streams.withWatermark(in.toDF(), "0 seconds"))
      .writeStream.format("memory").queryName("session_t")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    // Watermark advances at end of batch; sessions closed before it are
    // emitted on the next (possibly empty) trigger. Events at minutes
    // 1-14 sit >30min before the minute-55/56 events -> one closed
    // session per user from the first burst.
    val got = spark.table("session_t")
      .select("user_id", "n", "total").as[(Long, Long, Double)].collect().toSet
    assert(got == Set((1L, 3L, 7.0), (2L, 1L, 3.0)))

    val in2 = MemoryStream[Ev]
    in2.addData(events)
    val q2 = Streams.slidingAgg(in2.toDF())
      .writeStream.format("memory").queryName("sliding_t")
      .outputMode("complete").start()
    try q2.processAllAvailable() finally q2.stop()
    val slid = spark.table("sliding_t").as[(Long, Long, Double)].collect()
    val want = Streams.slidingAgg(events.toDF())
      .as[(Long, Long, Double)].collect()
    assert(slid.toSet == want.toSet)
  }

  test("ST4: streaming dropDuplicates keeps the first arrival per key") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Ev]
    in.addData(Ev(ts(1), "view", 1L, 1.0), Ev(ts(2), "view", 1L, 99.0))
    in.addData(Ev(ts(3), "view", 1L, 98.0), Ev(ts(4), "click", 1L, 2.0))
    val q = Streams.dedupFirstPerKey(in.toDF(), Seq("user_id", "event_type"))
      .writeStream.format("memory").queryName("dedup_t")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("dedup_t")
      .select("user_id", "event_type", "value")
      .as[(Long, String, Double)].collect().toSet
    assert(got == Set((1L, "view", 1.0), (1L, "click", 2.0)))
  }

  test("ST4 bounded: watermark dedup drops near dups, expires old state") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = Streams.dedupWithinWatermark(in.toDF(),
      Seq("user_id", "event_type"), "ts", "5 minutes")
      .writeStream.format("memory").queryName("dedup_wm_t")
      .outputMode("append").start()
    try {
      // Batch 1: dup inside the watermark window -> one survivor.
      in.addData(Ev(ts(1), "view", 1L, 1.0), Ev(ts(2), "view", 1L, 99.0))
      q.processAllAvailable()
      // Advance event time far past the watermark, then repeat the key:
      // its state has expired, so the repeat is emitted again (the
      // bounded-state contract — downstream merge absorbs it).
      in.addData(Ev(ts(60), "tick", 9L, 0.0))
      q.processAllAvailable()
      in.addData(Ev(ts(61), "view", 1L, 7.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("dedup_wm_t")
      .select("user_id", "event_type", "value")
      .as[(Long, String, Double)].collect().toSeq
      .filter(r => r._2 == "view")
    assert(got.toSet == Set((1L, "view", 1.0), (1L, "view", 7.0)))
  }

  test("zscoreGate: trailing-window outlier flags, state across " +
      "batches, parity with the batch window query") {
    implicit val sc = spark.sqlContext
    val spends = Seq(
      Streams.Spend(1L, 1L, ts(1), 100L), Streams.Spend(2L, 1L, ts(2), 110L),
      Streams.Spend(3L, 1L, ts(3), 90L), Streams.Spend(4L, 1L, ts(4), 105L),
      Streams.Spend(5L, 1L, ts(5), 500L), Streams.Spend(6L, 1L, ts(6), 95L),
      // user 2 never reaches minN prior events -> no flags.
      Streams.Spend(7L, 2L, ts(1), 10L), Streams.Spend(8L, 2L, ts(2), 9999L))
    val in = MemoryStream[Streams.Spend]
    val q = Streams.zscoreGate(in.toDS(), window = 4, minN = 3)
      .writeStream.format("memory").queryName("zs_t")
      .outputMode("append").start()
    try {
      in.addData(spends.take(3))      // history accrues across batches
      q.processAllAvailable()
      in.addData(spends.drop(3))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("zs_t")
      .as[(Long, Long, Long)].collect().toSet
    // Only the 500-cent spike flags: baseline [100,110,90,105], n=4,
    // 4*(4*500-405)^2 = 10,176,100 > 9*(4*41225-405^2) = 7,875.
    // The 95 after it does NOT (the spike inflated the variance).
    assert(got == Set((5L, 500L, 4L)), s"got $got")
    // Batch parity: the identical rows through the window-query form.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(-4, -1)
    val batch = spends.toDF()
      .select(col("event_id"), col("cents"),
        count(lit(1)).over(w).as("n"),
        sum(col("cents")).over(w).as("s"),
        sum(col("cents") * col("cents")).over(w).as("ss"))
      .filter(col("n") >= 3 && expr(
        "4 * (n * cents - s) * (n * cents - s) > 9 * (n * ss - s * s)"))
      .select(col("event_id"), col("cents"), col("n"))
      .as[(Long, Long, Long)].collect().toSet
    assert(batch == got, s"stream $got != batch $batch")
  }

  test("ST5: stale jobs fail after the event-time timeout") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[Streams.Heartbeat]
    val swept = Streams.staleJobSweep(
      Streams.withWatermark(in.toDF(), "0 seconds").as[Streams.Heartbeat],
      staleMinutes = 10)
    val q = swept.writeStream.format("memory").queryName("sweep_t")
      .outputMode("append").start()
    try {
      // Batch 1: two RUNNING jobs, one job that completes.
      in.addData(
        Streams.Heartbeat("a", ts(0), "RUNNING"),
        Streams.Heartbeat("b", ts(0), "RUNNING"),
        Streams.Heartbeat("c", ts(1), "DONE"))
      q.processAllAvailable()
      // Batch 2: b heartbeats again at +20min -> watermark passes a's
      // +10min timeout; a must fail stale, b stays armed.
      in.addData(Streams.Heartbeat("b", ts(20), "RUNNING"))
      q.processAllAvailable()
      val got = spark.table("sweep_t")
        .select("job_id", "status", "error")
        .as[(String, String, String)].collect().toSet
      assert(got.contains(("c", "DONE", null)))
      assert(got.contains(("a", "FAILED", "stale job timeout")))
      assert(!got.exists(_._1 == "b"))
    } finally q.stop()
  }

  test("standing CMS ingest: totals exact, replay re-merges onto predecessor") {
    implicit val sc = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-cms").toString
    val cp = java.nio.file.Files.createTempDirectory("graft-cms-cp").toString
    val in = MemoryStream[String]
    val q = Streams.cmsIngestSink(in.toDF().toDF("tok"), "tok",
      depth = 4, width = 256, dir, cp)
    try {
      in.addData("a", "b", "a")
      q.processAllAvailable()
      in.addData("a", "c")
      q.processAllAvailable()
    } finally q.stop()
    def estimates(): Map[String, Long] = {
      val buckets = Streams.readState(spark, dir).get
      graft.operators.Sketch.cmsEstimate(
        Seq("a", "b", "c").toDF("tok"), buckets, "tok", 4, 256)
        .as[(String, Long)].collect().toMap
    }
    // 37-token-free vocabulary in 4x256 buckets: estimates are exact.
    assert(estimates() == Map("a" -> 3L, "b" -> 1L, "c" -> 1L))
    // Re-deliver batch 1 (the "a","c" batch): state_1 must rebuild from
    // state_0, not double-count on top of itself.
    Streams.cmsIngestBatch(Seq("a", "c").toDF("tok"), "tok", 4, 256,
      dir, batchId = 1L)
    assert(estimates() == Map("a" -> 3L, "b" -> 1L, "c" -> 1L))
    // Bad-batch recovery: roll back to state_0 — estimates revert to
    // batch 0 alone; rolling forward again restores the full view.
    Streams.rollbackTo(dir, 0L)
    assert(estimates() == Map("a" -> 2L, "b" -> 1L, "c" -> 0L))
    Streams.rollbackTo(dir, 1L)
    assert(estimates() == Map("a" -> 3L, "b" -> 1L, "c" -> 1L))
    // Vacuum: add a third state, keep the last 2 - state_0 goes,
    // current state and estimates are untouched.
    Streams.cmsIngestBatch(Seq("b").toDF("tok"), "tok", 4, 256,
      dir, batchId = 2L)
    assert(Streams.vacuum(dir, keep = 2) == Seq(0L))
    assert(!new java.io.File(dir, "state_0").exists)
    assert(estimates() == Map("a" -> 3L, "b" -> 2L, "c" -> 1L))
    // The pointed-at state survives even when older than the keep set.
    Streams.rollbackTo(dir, 1L)
    assert(Streams.vacuum(dir, keep = 1) == Seq.empty)
    assert(new java.io.File(dir, "state_1").exists)
    assert(estimates() == Map("a" -> 3L, "b" -> 1L, "c" -> 1L))
  }

  test("ST6/ST8: merge sink converges and re-delivery is a no-op") {
    implicit val sc = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-merge").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    case class Doc(doc_id: Long, text: String)
    def hashed(rows: Seq[(Long, String)]) =
      rows.toDF("doc_id", "text")
        .withColumn("content_hash", HashFunctions.contentHash(col("text")))
    val in = MemoryStream[(Long, String)]
    val stream = in.toDF().toDF("doc_id", "text")
      .withColumn("content_hash", HashFunctions.contentHash(col("text")))
    val q = Streams.mergeSink(stream, dir, "doc_id", ckpt)
    try {
      in.addData(1L -> "one", 2L -> "two")
      q.processAllAvailable()
      in.addData(2L -> "two v2", 3L -> "three")   // update + insert
      q.processAllAvailable()
      in.addData(2L -> "two v2", 3L -> "three")   // duplicate delivery
      q.processAllAvailable()
      val got = Streams.readState(spark, dir).get
        .select("doc_id", "text").as[(Long, String)].collect().toMap
      assert(got == Map(1L -> "one", 2L -> "two v2", 3L -> "three"))
      // ST8 restart path: merging the same batch once more changes nothing.
      val committed = graft.sources.Commits.committed(spark, dir)
      Streams.mergeBatch(hashed(Seq(2L -> "two v2", 3L -> "three")),
        dir, "doc_id", batchId = 99L)
      val again = Streams.readState(spark, dir).get
        .select("doc_id", "text").as[(Long, String)].collect().toMap
      assert(again == got)
      // Redelivery of the LAST batch (crash after its commit, before the
      // checkpoint advanced): every row is already current, so neither
      // delivery of batch 99 commits a generation.
      assert(graft.sources.Commits.committed(spark, dir) == committed)
      Streams.mergeBatch(hashed(Seq(2L -> "two v2", 3L -> "three")),
        dir, "doc_id", batchId = 99L)
      assert(graft.sources.Commits.committed(spark, dir) == committed)
      assert(Streams.readState(spark, dir).get
        .select("doc_id", "text").as[(Long, String)].collect().toMap == got)
    } finally q.stop()
  }

  test("state store runs through an explicit file:/// URI (Hadoop FS path)") {
    // The pointer-swap family must work against a filesystem addressed
    // by URI, the way a cluster addresses object storage — no
    // local-path java.io assumptions anywhere in the chain.
    val dir = "file://" +
      java.nio.file.Files.createTempDirectory("graft-uri").toString + "/store"
    def hashed(rows: Seq[(Long, String)]) =
      rows.toDF("doc_id", "text")
        .withColumn("content_hash", HashFunctions.contentHash(col("text")))
    Streams.mergeBatch(hashed(Seq(1L -> "one", 2L -> "two")), dir,
      "doc_id", 0L)
    Streams.mergeBatch(hashed(Seq(2L -> "two v2")), dir, "doc_id", 1L)
    assert(Streams.readState(spark, dir).get
      .select("doc_id", "text").as[(Long, String)].collect().toMap
      == Map(1L -> "one", 2L -> "two v2"))
    Streams.rollbackTo(dir, 0L)
    assert(Streams.readState(spark, dir).get
      .select("text").as[String].collect().toSet == Set("one", "two"))
    Streams.rollbackTo(dir, 1L)
    // Maintenance over the URI store: the full pass folds every
    // generation, rollbacks included, into one.
    Streams.mergeBatch(hashed(Seq(3L -> "three")), dir, "doc_id", 2L)
    Streams.mergeStoreAt(spark, dir).get.vacuumFull(spark, dir)
    assert(graft.sources.Commits.committed(spark, dir).size == 1)
    assert(Streams.readState(spark, dir).get.count() == 3)
  }

  test("vacuum reclaims takedown states; rollbackToState targets them") {
    val dir = java.nio.file.Files.createTempDirectory("graft-del")
      .toString + "/store"
    def hashed(rows: Seq[(Long, String)]) =
      rows.toDF("doc_id", "text")
        .withColumn("content_hash", HashFunctions.contentHash(col("text")))
    val (idx, ann) = (
      java.nio.file.Files.createTempDirectory("graft-del-i").toString + "/i",
      java.nio.file.Files.createTempDirectory("graft-del-a").toString + "/a")
    Streams.mergeBatch(hashed(Seq(1L -> "one", 2L -> "two")), dir,
      "doc_id", 0L)
    // The takedown commits one tombstone generation, marked as delivery
    // state_del_7.
    val (nStore, _, _, _, _, _) = Streams.fanoutDeleteBatch(Seq(2L).toDF("doc_id"),
      7L, dir, idx, ann)
    assert(nStore == 1L)
    assert(graft.sources.Commits.committed(spark, dir).size == 2)
    def ids() = Streams.readState(spark, dir).get
      .select("doc_id").as[Long].collect().toSet
    Streams.rollbackTo(dir, 0L)
    assert(ids() == Set(1L, 2L))
    Streams.rollbackToState(dir, "state_del_7")
    assert(ids() == Set(1L))
    // A maintenance pass reclaims the dirty generations and drops the
    // markers whose as-of view they held.
    Streams.mergeStoreAt(spark, dir).get.vacuumIncremental(spark, dir, 0.25)
    assert(graft.sources.Commits.committed(spark, dir).size == 1)
    intercept[IllegalArgumentException] {
      Streams.rollbackToState(dir, "state_del_7")
    }
    // Later merges advance past the takedown...
    Streams.mergeBatch(hashed(Seq(3L -> "three")), dir, "doc_id", 1L)
    Streams.mergeBatch(hashed(Seq(4L -> "four")), dir, "doc_id", 2L)
    assert(Streams.readState(spark, dir).get
      .select("doc_id").as[Long].collect().toSet == Set(1L, 3L, 4L))
    // rollbackToState can pin the store to a surviving named state.
    Streams.mergeBatch(hashed(Seq(5L -> "five")), dir, "doc_id", 3L)
    Streams.rollbackToState(dir, "state_2")
    assert(Streams.readState(spark, dir).get
      .select("doc_id").as[Long].collect().toSet == Set(1L, 3L, 4L))
    intercept[IllegalArgumentException] {
      Streams.rollbackToState(dir, "state_del_99")
    }
  }

  test("pointer-store mutations hold the writer lease") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lease")
      .toString + "/store"
    def hashed(rows: Seq[(Long, String)]) =
      rows.toDF("doc_id", "text")
        .withColumn("content_hash", HashFunctions.contentHash(col("text")))
    Streams.mergeBatch(hashed(Seq(1L -> "one")), dir, "doc_id", 0L)
    // A held lock rejects every mutator — merge, rollback, maintenance —
    // instead of letting a second writer merge onto the same base
    // state and win the pointer race.
    graft.sources.Commits.acquireWriterLock(spark, dir)
    try {
      intercept[IllegalStateException] {
        Streams.mergeBatch(hashed(Seq(2L -> "two")), dir, "doc_id", 1L)
      }
      intercept[IllegalStateException] { Streams.rollbackTo(dir, 0L) }
      intercept[IllegalStateException] {
        Streams.mergeStoreAt(spark, dir).get.vacuumFull(spark, dir)
      }
    } finally graft.sources.Commits.releaseWriterLock(spark, dir)
    // Released: the same merge lands and reads ignore the lease file.
    Streams.mergeBatch(hashed(Seq(2L -> "two")), dir, "doc_id", 1L)
    assert(Streams.readState(spark, dir).get.count() == 2)
  }
}
