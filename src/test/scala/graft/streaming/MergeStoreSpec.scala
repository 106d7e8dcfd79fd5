package graft.streaming

import graft.SparkSpec
import graft.functions.HashFunctions
import graft.sources.{Commits, GenTable}
import org.apache.spark.sql.functions._

/** The merge store's generational lifecycle: a wave commits only its
  * new and changed rows, a crash before the commit marker stays
  * invisible and converges, and a takedown tombstones only live ids.
  */
class MergeStoreSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String) =
    java.nio.file.Files.createTempDirectory(name).toString + "/store"

  private def hashed(rows: Seq[(Long, String)]) =
    rows.toDF("doc_id", "text")
      .withColumn("content_hash", HashFunctions.contentHash(col("text")))

  private def state(dir: String): Map[Long, String] =
    Streams.readState(spark, dir).get.select("doc_id", "text")
      .as[(Long, String)].collect().toMap

  /** The rows committed under batch `b`, without the batch column. */
  private def generation(dir: String, b: Long) =
    spark.read.parquet(s"$dir/b$b").drop("batch")
      .select("doc_id", "text").as[(Long, String)].collect().toSet

  test("a wave's generation holds exactly its changed rows; a " +
      "redelivery commits nothing") {
    val dir = tmp("merge-wave")
    Streams.mergeBatch(hashed(Seq(1L -> "one", 2L -> "two", 3L -> "three")),
      dir, "doc_id", 0L)
    val first = Commits.committed(spark, dir)
    assert(first == Seq(0L))
    // Doc 1 unchanged, doc 2 changed, doc 4 new and delivered twice
    // (one row per key: the lowest hash wins).
    val wave = Seq(1L -> "one", 2L -> "two v2", 4L -> "four",
      4L -> "four again")
    Streams.mergeBatch(hashed(wave), dir, "doc_id", 1L)
    val added = Commits.committed(spark, dir).diff(first)
    assert(added.size == 1)
    val four = Seq("four", "four again").minBy(t =>
      Seq(t).toDF("t").select(HashFunctions.contentHash(col("t")))
        .as[String].head())
    assert(generation(dir, added.head) == Set(2L -> "two v2", 4L -> four))
    val expected = Map(1L -> "one", 2L -> "two v2", 3L -> "three",
      4L -> four)
    assert(state(dir) == expected)
    assert(Streams.readState(spark, dir).get.columns.toSeq ==
      Seq("doc_id", "text", "content_hash"))
    // Redelivery: every row is current, so no generation commits.
    val committed = Commits.committed(spark, dir)
    Streams.mergeBatch(hashed(wave), dir, "doc_id", 1L)
    assert(Commits.committed(spark, dir) == committed)
    assert(state(dir) == expected)
  }

  test("a crash before the commit marker stays invisible; redelivery " +
      "converges and the next pass sweeps the orphan") {
    val dir = tmp("merge-crash")
    Streams.mergeBatch(hashed(Seq(1L -> "one", 2L -> "two")), dir,
      "doc_id", 0L)
    val wave = hashed(Seq(2L -> "two v2", 3L -> "three"))
    // The crash window: the generation is written under an allocated
    // id, the commit marker never lands.
    val orphan = Commits.allocateBatchId(spark, dir)
    wave.withColumn("batch", lit(orphan)).write.parquet(s"$dir/b$orphan")
    assert(state(dir) == Map(1L -> "one", 2L -> "two"))
    Streams.mergeBatch(wave, dir, "doc_id", 1L)
    assert(!Commits.committed(spark, dir).contains(orphan))
    val converged = Map(1L -> "one", 2L -> "two v2", 3L -> "three")
    assert(state(dir) == converged)
    Streams.mergeStoreAt(spark, dir).get.vacuumIncremental(spark, dir, 0.25)
    assert(!new java.io.File(s"$dir/b$orphan").exists,
      "the pass left the orphan generation")
    assert(state(dir) == converged)
  }

  test("a takedown tombstones only live ids, a repeat allocates nothing, " +
      "and a re-offer resurrects the doc") {
    val root = java.nio.file.Files.createTempDirectory("merge-del").toString
    val (dir, idx, ann) = (s"$root/store", s"$root/index", s"$root/ann")
    Streams.mergeBatch(hashed(Seq(1L -> "one", 2L -> "two")), dir,
      "doc_id", 0L)
    def takedown(id: Long) = Streams.fanoutDeleteBatch(
      Seq(2L, 9L).toDF("doc_id"), id, dir, idx, ann)._1
    assert(takedown(5L) == 1L)
    val tomb = Commits.committed(spark, dir).max
    val rows = spark.read.parquet(s"$dir/b$tomb")
    assert(rows.select("doc_id", "content_hash").as[(Long, String)]
      .collect().toSeq == Seq(2L -> GenTable.Tombstone))
    assert(rows.filter(col("text").isNotNull).isEmpty)
    assert(state(dir) == Map(1L -> "one"))
    // Doc 2 is already tombstoned and doc 9 never existed.
    val attempted = Commits.attempted(spark, dir).max
    assert(takedown(6L) == 0L)
    assert(Commits.attempted(spark, dir).max == attempted)
    // The same text offered again passes the gate: a tombstone's hash
    // never equals a real one.
    Streams.mergeBatch(hashed(Seq(2L -> "two")), dir, "doc_id", 1L)
    assert(state(dir) == Map(1L -> "one", 2L -> "two"))
  }
}
