package graft

import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.storage.StorageLevel

/** A plan is persisted once: the first persister owns its cache entry,
  * and no path persists an equal plan again, which Spark answers with
  * the warning "Asked to cache already cached data" (or "Data has
  * already been cached" when two threads race).
  */
class CacheSpec extends SparkSpec {
  import spark.implicits._

  /** CacheManager's repeat-persist warnings logged while `f` runs. */
  private def repeatPersists(f: => Unit): Seq[String] = {
    spark.range(1).count() // logging is configured with the session
    val ctx = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[LoggerContext]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val app = new AbstractAppender("repeat-persists", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val m = e.getMessage.getFormattedMessage
        if (m.contains("already cached") || m.contains("already been cached"))
          seen.add(m)
      }
    }
    app.start()
    ctx.getConfiguration.getRootLogger.addAppender(app, null, null)
    ctx.updateLoggers()
    try f finally {
      ctx.getConfiguration.getRootLogger.removeAppender(app.getName)
      ctx.updateLoggers()
      app.stop()
    }
    seen.toArray.toSeq.map(_.toString)
  }

  test("the scanner sees a repeat persist") {
    val df = Seq(1L, 2L).toDF("x").filter($"x" > 0L)
    try assert(repeatPersists {
      df.persist(StorageLevel.MEMORY_AND_DISK)
      df.persist(StorageLevel.MEMORY_AND_DISK): Unit
    }.nonEmpty)
    finally { df.unpersist(); () }
  }

  test("Cache.using leaves an entry it does not own persisted") {
    def plan = spark.range(5).toDF().filter($"id" > 1L)
    val owner = Cache.persist(plan)
    try {
      assert(repeatPersists {
        assert(Cache.using(plan)(_.count()) == 3L)
        Cache.persist(plan): Unit
      }.isEmpty)
      assert(owner.storageLevel != StorageLevel.NONE)
    } finally { owner.unpersist(); () }
    assert(Cache.using(plan)(_.count()) == 3L)
    assert(plan.storageLevel == StorageLevel.NONE, "an owned entry is dropped")
  }

  test("the near-dup queries share one persisted shingle set") {
    val qs = Seq("dd_minhash_lsh_pairs", "dd_neardup_clusters",
      "dd_contrastive_pairs")
    assert(repeatPersists(qs.foreach(q =>
      SparkEntry.queries(q)(spark, "/root/testdata/sf0.001"): Unit)).isEmpty)
  }

  test("a fan-out wave persists each plan once, first wave included") {
    val root = java.nio.file.Files.createTempDirectory("cache-fanout")
      .toString
    def wave(b: Long, texts: Seq[(Long, String)]) =
      streaming.Streams.fanoutIngestBatch(texts.toDF("doc_id", "text"), b,
        s"$root/store", s"$root/index", s"$root/ann", "doc_id", "text",
        chunkDir = Some(s"$root/chunks"), chunkWindow = 3, chunkOverlap = 1)
    assert(repeatPersists {
      wave(0L, Seq(1L -> "spark engine scans rows", 2L -> "vector index"))
      wave(1L, Seq(2L -> "vector index rebuilt", 3L -> "a third doc"))
      ()
    }.isEmpty)
  }
}
