package perfbench

import scala.collection.mutable

import graft.pipeline.{Crawl, CrawlConfig, LocalFetcher}
import graft.functions.UrlFunctions
import graft.operators.Upsert
import graft.sources.Store
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** crawl_ingest: the reference system's own surface. A seeded site is
  * crawled (`Crawl.run` over a `LocalFetcher`), pages and files become
  * `PageRecord`/`FileRecord` rows, and a content-hash insert-if-absent
  * (`Upsert.insertIfAbsent`, then `Store.mergeInto` keyed on the hash)
  * lands them in the site-partitioned raw-documents store. The bulk
  * operation is the first crawl into the empty store; each cycle then
  * twice recrawls a new version of the site in which a small share of
  * pages changed (the updates), each time followed by look-ups of
  * records of crawled urls in the store (the reads); a small-file
  * compaction of the store ends the run (the maintenance). No LLM store
  * is touched, so this is the no-change control for fan-out and probe
  * work.
  */
object CrawlIngest {

  private val cfg = CrawlConfig(rootDomain = Gen.Host, maxDepth = Gen.MaxDepth,
    allowedFileExtensions = UrlFunctions.DocExtensions :+ ".pptx")

  private val siteSchema = StructType(Seq(StructField("url", StringType),
    StructField("content_type", StringType), StructField("payload", StringType)))

  /** Setups per run; the reported setup time is their median. */
  val Setups = 5
  /** Recrawls per cycle, each followed by its record look-ups. A
    * cycle is longer than a run's measured seconds, so a run makes one
    * cycle however fast the host is that minute.
    */
  val Recrawls = 2
  val Lookups = 16
  /** Rows per file the closing compaction packs, and its passes. */
  val CompactRows = 64
  val Compactions = 7

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val t = ctx.tracer
    val store = ctx.dir("raw_docs")
    def stored = java.nio.file.Files.exists(java.nio.file.Paths.get(store))

    /** Write version `v` of the site and load it as the fetcher's
      * (url, payload, content_type) frame.
      */
    def load(v: Int, tag: String): (Gen.Site, DataFrame) = {
      val site = Gen.site(ctx.seed, v)
      val f = ctx.work.resolve(s"site/$tag.jsonl")
      Gen.writeSite(site, f)
      val df = spark.read.schema(siteSchema).json(f.toString)
        .select(col("url"), unbase64(col("payload")).as("payload"), col("content_type"))
        .cache()
      df.count()
      (site, df)
    }

    val setupS = (0 until Setups).map { i =>
      val (s, (_, df)) = Main.timed(load(0, s"setup-$i"))
      df.unpersist()
      s
    }
    val ops = mutable.ArrayBuffer[Op]()
    val checks = mutable.ArrayBuffer[(String, Boolean)]()
    val crawled = mutable.ArrayBuffer[DataFrame]()
    val inserted = mutable.ArrayBuffer[Long]()

    /** Crawl -> records -> insert-if-absent. Returns the docs crawled. */
    def pass(v: Int, site: Gen.Site, df: DataFrame): Long = {
      // Store.mergeInto merges on a key other than content_hash; keying
      // on a copy of the hash makes the merge insert-if-absent.
      def rows(df: DataFrame, id: String, kind: String, size: Column) =
        df.select(col(id).as("doc_id"), col("url"), col("domain").as("site"),
          lit(kind).as("kind"), col("content_hash"), size.cast("long").as("size"),
          col("content_hash").as("content_key"))
      // Crawl.run's result frames read the pinned round outputs; building
      // and counting the records keeps the crawl's remaining jobs inside
      // its span.
      val (recs, nDocs) = t.layer[(DataFrame, Long)]("pipeline.crawl_run") {
        val r = Crawl.run(spark, new LocalFetcher(df), Seq(s"${Gen.Root}/p/0.html"), cfg)
        val recs = rows(Crawl.toPageRecords(r.pages, s"job-v$v", ctx.dir("text")),
            "page_id", "page", col("text_len"))
          .unionByName(rows(Crawl.toFileRecords(r.files, s"job-v$v", ctx.dir("text")),
            "file_id", "file", col("size_bytes")))
          .cache()
        val n = recs.count()
        t.annotate("kept_docs" -> n.toDouble, "linked_urls" -> site.linked.toDouble)
        (recs, n)
      }
      val fresh = t.layer[Long]("sources.store_merge", n =>
          Seq("offered" -> nDocs.toDouble, "inserted" -> n.toDouble)) {
        Layers.writes(t, Seq(store)) {
          val target =
            if (stored) Store.read(spark, store)
            else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], recs.schema)
          val add = Upsert.insertIfAbsent(target, recs, "url").cache()
          val n = add.count()
          if (!stored) Store.writePartitioned(add, store, "site")
          else if (n > 0) Store.mergeInto(spark, store, add, "content_key", "site")
          add.unpersist()
          n
        }
      }
      crawled += recs
      inserted += fresh
      nDocs
    }

    /** The crawl fetched exactly the generator's reachable set and the
      * sink inserted exactly the new distinct texts.
      */
    def check(v: Int, site: Gen.Site, nDocs: Long, expectFresh: Int): Boolean = {
      val urls = crawled.last.select("url").collect().map(_.getString(0)).toSet
      val okUrls = urls == site.reachable && nDocs == site.reachable.size
      val okFresh = inserted.last == expectFresh
      checks += ((s"v$v crawled urls == generator reachable set", okUrls))
      checks += ((s"v$v inserted rows == new distinct content hashes", okFresh))
      okUrls && okFresh
    }

    val (site0, df0) = load(0, "v0")
    val n0 = Main.op(ctx, ops, "bulk")(pass(0, site0, df0))(n =>
      check(0, site0, n, site0.kept.size)).getOrElse(0L)
    df0.unpersist()

    val urls = site0.kept.toVector.sorted
    var cur = Seq.empty[(Int, Gen.Site, DataFrame)]
    Main.loop(ctx, ctx.seconds) { i =>
      cur = (1 to Recrawls).map { k =>
        val v = i * Recrawls + k
        val (site, df) = load(v, s"v$v")
        (v, site, df)
      }
    } { i =>
      for ((v, site, df) <- cur) {
        Main.op(ctx, ops, "update")(pass(v, site, df))(n =>
          check(v, site, n, site.changedReachable))
        df.unpersist()
        val r = Gen.stream(ctx.seed, s"lookups-$v")
        for (j <- 0 until Lookups) {
          val u = urls(r.nextInt(urls.size))
          // A traced run traces every other read, alternating by cycle,
          // so traced and untraced reads have the same mix.
          Main.op(ctx, ops, "read", traced = (i + j) % 2 == 0) {
            t.layer[Array[Row]]("sources.store_read")(Store.read(spark, store)
              .filter(col("url") === u).select("doc_id", "content_hash").collect())
          }(_.nonEmpty)
        }
      }
    }

    // The compaction is a short pass; it runs several times (each one
    // rewrites the whole store) and the median is reported.
    for (_ <- 0 until Compactions) Main.op(ctx, ops, "maintenance") {
      t.layer[Unit]("sources.store_compact") {
        Layers.writes(t, Seq(store))(Store.compact(spark, store, "site", CompactRows))
      }
    }()

    // Store-wide checks: one row per distinct content hash crawled, and
    // the compaction's file count follows from the row count.
    val storeHashes = Store.read(spark, store).select("content_hash")
    val allHashes = crawled.map(_.select("content_hash")).reduce(_ unionByName _).distinct()
    val nStore = storeHashes.count()
    checks += (("store rows == distinct content hashes crawled",
      nStore == storeHashes.distinct().count() && nStore == allHashes.count() &&
        storeHashes.exceptAll(allHashes).isEmpty))
    checks += ((s"compacted store holds ceil(rows / $CompactRows) files",
      Store.filesPerPartition(spark, store).map(_._2).sum ==
        (nStore + CompactRows - 1) / CompactRows))
    crawled.foreach(_.unpersist())

    // The store holds records, not text: `size` is the UTF-8 length of
    // each stored doc's extracted text.
    val liveBytes = Store.read(spark, store).agg(sum("size")).collect().head.getLong(0)
    val storeBytes = Layers.dirBytes(store)
    def secs(k: String) = ops.filter(_.kind == k).map(_.seconds).toSeq
    Outcome(ops.toSeq, setupS, n0, storeBytes.toDouble / liveBytes,
      named = Seq(
        ("crawl_docs_per_s", n0 / ops.head.seconds, "1/s", "higher"),
        ("recrawl_s", Stats.median(secs("update")), "s", "lower"),
        ("lookups_per_s", secs("read").size / secs("read").sum, "1/s", "higher")),
      checks = checks.toSeq,
      gauges = Map("store.raw.bytes" -> storeBytes.toDouble))
  }
}
