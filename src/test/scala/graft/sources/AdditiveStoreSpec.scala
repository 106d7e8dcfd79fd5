package graft.sources

import graft.SparkSpec
import graft.operators.Corpus
import graft.streaming.Streams
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Conformance of the additive-store fold: the same cases run against
  * the gram index and the substring store. Each store takes the same
  * six one-generation waves: doc 1 alone (the smallest generation),
  * then doc 1 changed among two more docs (the largest), then docs
  * whose span recurs across waves. The answers compared are the live
  * gram totals, a span screen against them and, for the substring
  * store, every live docs row with its `batch` and each doc's newest
  * text.
  */
class AdditiveStoreSpec extends SparkSpec {
  import spark.implicits._

  /** One store under test: its public wave ingest (returns what it
    * appended), its public fold, its live gram rows and live docs (the
    * gram index has none), and its table roots, the fold's marker
    * table first. */
  private case class StoreCase(name: String,
      ingest: (String, Seq[(Long, String)]) => Long,
      fold: (String, Int) => Int, grams: String => Option[DataFrame],
      docs: String => Option[DataFrame], roots: String => Seq[String])

  private val stores = Seq(
    StoreCase("gram index",
      (dir, rows) => Corpus.gramIndexAppend(rows.toDF("doc_id", "text"),
        "doc_id", "text", 8, dir),
      (dir, n) => Corpus.gramIndexCompact(spark, dir, n),
      dir => Corpus.readGramStore(spark, dir), _ => None, dir => Seq(dir)),
    StoreCase("substring store",
      (dir, rows) => Streams.substringIngestBatch(
        rows.toDF("doc_id", "text"), dir, "doc_id", "text"),
      (dir, n) => Streams.substringStoreCompact(spark, dir, n),
      dir => Commits.readCommittedBatches(spark, s"$dir/grams",
        Streams.SubstringStore.live(spark, dir)),
      dir => Streams.substringStoreRead(spark, dir),
      dir => Seq(s"$dir/docs", s"$dir/grams")))

  private val span = "fa fb fc fd fe ff fg fh"
  private val waves = Seq(
    Seq(1L -> "first version with eight distinct tokens padding words"),
    Seq(1L -> "completely changed second version still unique here now",
      2L -> "filler beta carries its own novel running words",
      3L -> "filler gamma also unique sufficiently long body text"),
    Seq(4L -> "filler delta with wholly distinct token stream here",
      5L -> "filler epsilon again different from everything else entirely"),
    Seq(6L -> s"$span opening words"),
    Seq(7L -> s"repeat lead $span trailing"),
    Seq(8L -> "sixth wave also novel stuff padded out to enough tokens"))
  private val lateWave =
    Seq(4L -> "filler delta rewritten with another distinct token stream",
      9L -> "late wave zeta brings further fresh running words")

  private def build(s: StoreCase): String = {
    val dir = java.nio.file.Files.createTempDirectory("additive")
      .toString + "/st"
    waves.foreach(w => assert(s.ingest(dir, w) > 0))
    assert(Commits.committed(spark, dir).size == waves.size)
    dir
  }

  private def answers(s: StoreCase, dir: String): Seq[String] = {
    val grams = s.grams(dir)
    val totals = grams.toSeq.flatMap(_.groupBy("gh").agg(sum("df"))
      .collect().map(_.toString))
    val screen = Corpus.exactSubstringDedupAgainst(
        Seq((100L, s"$span probe tail")).toDF("doc_id", "text"),
        "doc_id", "text", 8, grams)
      .select("n_removed", "clean_text").collect().map(_.toString)
    val docs = s.docs(dir).toSeq.flatMap { d =>
      d.select("doc_id", "batch", "clean_text").collect().map(_.toString) ++
        d.groupBy("doc_id").agg(max_by($"clean_text", $"batch"))
          .collect().map("newest " + _)
    }
    (totals ++ screen ++ docs).sorted
  }

  private def fs(dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Copy batch `from`'s dir to `to` in every table, with a `_folds`
    * marker naming `from` in the marker table: a fold of `from` as the
    * fold writes it up to its commit marker. */
  private def handFold(s: StoreCase, dir: String, from: Long,
      to: Long): Unit = {
    s.roots(dir).foreach(r => FileUtil.copy(fs(dir), new Path(s"$r/b$from"),
      fs(dir), new Path(s"$r/b$to"), false,
      spark.sparkContext.hadoopConfiguration))
    val out = fs(dir).create(new Path(s"${s.roots(dir).head}/b$to/_folds"))
    try out.write(from.toString.getBytes("UTF-8")) finally out.close()
  }

  stores.foreach { s =>
    test(s"${s.name}: answers are unchanged after a fold") {
      val dir = build(s)
      val before = answers(s, dir)
      assert(before.contains("[8,probe tail]"),
        "the probe span must screen against the stored copies")
      assert(s.fold(dir, 2) == 5, "6 generations at maxBatches 2 fold 5")
      assert(Commits.committed(spark, dir).size == 2)
      assert(answers(s, dir) == before)
      assert(s.fold(dir, 2) == 0, "a store within bound folds nothing")
    }

    test(s"${s.name}: a second fold over a store that already holds a " +
        "fold dir loses no rows and flips no recency") {
      val dir = build(s)
      assert(s.fold(dir, 2) == 5)
      assert(s.ingest(dir, lateWave) > 0)
      val before = answers(s, dir)
      // The fold dir's rows keep their batch values: selection must
      // size it by its directory, or it would read as empty, be picked
      // first, move nothing and be deleted.
      assert(s.fold(dir, 1) == 3)
      assert(Commits.committed(spark, dir).size == 1)
      assert(answers(s, dir) == before)
      s.docs(dir).foreach(d => assert(d.groupBy("doc_id")
        .agg(max_by($"clean_text", $"batch")).as[(Long, String)].collect()
        .toMap.view.filterKeys(Set(1L, 4L)).toMap == Map(
          1L -> "completely changed second version still unique here now",
          4L -> "filler delta rewritten with another distinct token stream")))
    }

    test(s"${s.name}: a fold committed while its sources are still " +
        "committed counts each gram once; the next pass finishes the " +
        "cleanup") {
      val dir = build(s)
      val before = answers(s, dir)
      val victim = Commits.committed(spark, dir).head
      val foldId = Commits.allocateBatchId(spark, dir)
      handFold(s, dir, victim, foldId)
      Commits.commit(spark, dir, foldId)
      assert(Commits.committed(spark, dir).contains(victim))
      assert(answers(s, dir) == before)
      assert(s.fold(dir, 16) == 0)
      assert(!Commits.committed(spark, dir).contains(victim))
      s.roots(dir).foreach(r =>
        assert(!fs(dir).exists(new Path(s"$r/b$victim"))))
      assert(answers(s, dir) == before)
    }

    test(s"${s.name}: an orphan fold dir is swept") {
      val dir = build(s)
      val before = answers(s, dir)
      val orphan = Commits.allocateBatchId(spark, dir)
      handFold(s, dir, Commits.committed(spark, dir).head, orphan)
      assert(answers(s, dir) == before, "an uncommitted fold is invisible")
      assert(s.fold(dir, 16) == 0)
      s.roots(dir).foreach(r =>
        assert(!fs(dir).exists(new Path(s"$r/b$orphan"))))
      assert(answers(s, dir) == before)
    }
  }
}
