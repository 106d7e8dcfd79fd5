package graft.sources

import graft.SparkSpec

/** Ledger-level contract of the batch-id allocator (the store-level
  * crash/orphan behaviors are covered in SearchSpec / SimilaritySpec /
  * NeardupIngestSpec; this pins the allocator itself).
  */
class CommitsSpec extends SparkSpec {

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("commits-spec").toString + "/st"

  test("scopeMutationResolve: scoped under the floor without counting, " +
      "crossover at a quarter of the store") {
    // Under the floor the store count must NEVER be evaluated — the
    // micro-batch hot path pays zero extra jobs for the decision.
    def boom: Long = throw new IllegalStateException("store counted")
    assert(Commits.scopeMutationResolve(1L, boom))
    assert(Commits.scopeMutationResolve(Commits.ScopedResolveFloor, boom))
    // Above the floor: scoped only while batch < store / 4.
    val floor = Commits.ScopedResolveFloor
    assert(Commits.scopeMutationResolve(floor + 1, (floor + 1) * 4 + 1))
    assert(!Commits.scopeMutationResolve(floor + 1, (floor + 1) * 4))
    assert(!Commits.scopeMutationResolve(5_000_000L, 5_000_000L))
    assert(Commits.scopeMutationResolve(500_000L, 5_000_000L))
  }

  test("allocation is listing-only: ids burn without any data write") {
    val dir = tmp()
    // Fresh store: first id is 0, recorded as an attempt marker.
    assert(Commits.allocateBatchId(spark, dir) == 0L)
    assert(Commits.attempted(spark, dir) == Seq(0L))
    // Nothing committed, NO data ever written — the next allocation
    // must still skip id 0 (a crash between allocation and data write
    // burns the id; reuse would double rows under a later commit).
    assert(Commits.allocateBatchId(spark, dir) == 1L)
    // Committing advances the floor the same way.
    Commits.commit(spark, dir, 1L)
    assert(Commits.allocateBatchId(spark, dir) == 2L)
    assert(Commits.committed(spark, dir) == Seq(1L))
    assert(Commits.attempted(spark, dir).sorted == Seq(0L, 1L, 2L))
  }

  test("committed lists ids in ascending order, whatever the listing " +
      "order, each stamped with its marker's modification time") {
    val dir = tmp()
    // Listed by name these come back b1, b10, b2, b33 (or in any order
    // the filesystem likes); the ledger is ordered by id.
    Seq(10L, 2L, 33L, 1L).foreach(Commits.commit(spark, dir, _))
    assert(Commits.committed(spark, dir) == Seq(1L, 2L, 10L, 33L))
    val stamped = Commits.committedStamped(spark, dir)
    assert(stamped.map(_._1) == Seq(1L, 2L, 10L, 33L))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    stamped.foreach { case (b, t) =>
      assert(t == fs.getFileStatus(
        new org.apache.hadoop.fs.Path(s"$dir/_commits/b$b"))
        .getModificationTime)
    }
    Commits.uncommit(spark, dir, 2L)
    assert(Commits.committed(spark, dir) == Seq(1L, 10L, 33L))
  }

  test("commit records the attempt marker too, re-arming the fast path") {
    val dir = tmp()
    // A commit records its id as attempted too, so the ledger listing
    // alone keeps every committed id from being reallocated.
    Commits.commit(spark, dir, 0L)
    assert(Commits.attempted(spark, dir) == Seq(0L))
    assert(Commits.allocateBatchId(spark, dir) == 1L)
  }

  test("a committed b<id> dir holding only hidden files reads as empty, " +
      "not as a schema-inference failure") {
    import spark.implicits._
    val dir = tmp()
    // b0 holds real data; b1 is a committed batch whose dir holds ONLY
    // hidden files (a stray .crc checksum — e.g. data files deleted by
    // a half-finished external cleanup). Passing the .crc-only dir to
    // the parquet reader would fail schema inference and take the
    // whole store read down with it.
    Seq((1L, 0L)).toDF("id", "batch").write.parquet(s"$dir/b0")
    val crcOnly = new org.apache.hadoop.fs.Path(s"$dir/b1/.f1.parquet.crc")
    val fs = crcOnly.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(crcOnly.getParent)
    fs.create(crcOnly, true).close()
    Seq(0L, 1L).foreach(Commits.commit(spark, dir, _))
    val committed = Commits.committed(spark, dir).sorted
    val read = Commits.readCommittedBatches(spark, dir, committed).get
      .select("id").as[Long].collect().toSeq
    assert(read == Seq(1L), s"expected only b0's row, got $read")
    // With NO readable batch at all, the read is None — not a throw.
    assert(Commits.readCommittedBatches(spark, dir, Seq(1L)).isEmpty)
  }

  test("committedDataBytes: listing-only, counts committed dirs, " +
      "skips uncommitted dirs, root files and hidden files") {
    import spark.implicits._
    val dir = tmp()
    assert(Commits.committedDataBytes(spark, dir) == 0L)
    Seq((1L, 0L)).toDF("id", "batch").write.parquet(s"$dir/b0")
    Seq((2L, 1L)).toDF("id", "batch").write.parquet(s"$dir/b1")
    Commits.commit(spark, dir, 0L) // b1 stays an uncommitted orphan
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def bytesUnder(p: String): Long =
      fs.listStatus(new org.apache.hadoop.fs.Path(p)).filter { s =>
        val n = s.getPath.getName
        s.isFile && !n.startsWith("_") && !n.startsWith(".")
      }.map(_.getLen).sum
    assert(Commits.committedDataBytes(spark, dir) == bytesUnder(s"$dir/b0"))
    Commits.commit(spark, dir, 1L)
    assert(Commits.committedDataBytes(spark, dir)
      == bytesUnder(s"$dir/b0") + bytesUnder(s"$dir/b1"))
    // Data files at the table root are not store data: they do not
    // count.
    Seq((3L, 2L)).toDF("id", "batch")
      .write.mode("append").parquet(dir)
    assert(bytesUnder(dir) > 0L)
    assert(Commits.committedDataBytes(spark, dir)
      == bytesUnder(s"$dir/b0") + bytesUnder(s"$dir/b1"))
  }
}
