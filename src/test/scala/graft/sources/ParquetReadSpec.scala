package graft.sources

import graft.{Checkpoints, SparkSpec}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.types.StringType

/** Store reads plan without Spark jobs: [[ParquetRead]] takes the
  * schema from one footer on the driver, and that schema is the one
  * Spark's own inference job would have produced.
  */
class ParquetReadSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString

  /** The frame `plan` returns, and the Spark jobs planning it started. */
  private def planned(plan: => DataFrame): (DataFrame, Int) = {
    var df: DataFrame = null
    val jobs = jobsOf { df = plan }
    (df, jobs)
  }

  test("a multi-batch committed table plans with no job and Spark's " +
      "schema") {
    val dir = tmp("pr-commits")
    val table = s"$dir/rows"
    for (b <- 0L to 2L) {
      Seq((b, s"v$b", b * 1.5)).toDF("id", "v", "w")
        .withColumn("batch", org.apache.spark.sql.functions.lit(b))
        .write.parquet(s"$table/b$b")
      Commits.commit(spark, dir, b)
    }
    val committed = Commits.committed(spark, dir)
    val (df, jobs) = planned(
      Commits.readCommittedBatches(spark, table, committed).get)
    assert(jobs == 0)
    assert(df.schema ==
      spark.read.parquet((0 to 2).map(b => s"$table/b$b"): _*).schema)
    assert(df.select("id").as[Long].collect().sorted.toSeq ==
      Seq(0L, 1L, 2L))
  }

  test("a site-partitioned Store.read keeps the partition column last " +
      "with Spark's type") {
    val path = s"${tmp("pr-store")}/docs"
    Store.writePartitioned(Seq((1L, "a.com", "x"), (2L, "b.org", "y"),
      (3L, "a.com", "z")).toDF("doc_id", "site_key", "text"), path,
      "site_key")
    val (df, jobs) = planned(Store.read(spark, path))
    assert(jobs == 0)
    val inferred = spark.read.parquet(path).schema
    assert(df.schema == inferred)
    assert(df.schema.last.name == "site_key")
    assert(df.schema.last.dataType == StringType)
    assert(df.filter($"site_key" === "a.com").count() == 2L)
  }

  test("a numeric partition column keeps its inferred type") {
    val path = s"${tmp("pr-bucket")}/part"
    Seq((1L, 3), (2L, 7)).toDF("id", "bucket")
      .write.partitionBy("bucket").parquet(path)
    val (df, jobs) = planned(ParquetRead(spark, path))
    assert(jobs == 0)
    assert(df.schema == spark.read.parquet(path).schema)
  }

  test("an Accumulating read-back plans with no job") {
    val acc = new Checkpoints.Accumulating(spark)
    val src = Seq(("u1", 1), ("u2", 2)).toDF("url", "depth")
    var back: DataFrame = null
    // The materializing write runs jobs; only the read-back must not.
    val total = jobsOf { back = acc.checkpoint(src) }
    val writeOnly = jobsOf {
      src.write.mode("overwrite").parquet(s"${tmp("pr-acc")}/f")
    }
    assert(total == writeOnly)
    assert(back.schema.map(f => f.name -> f.dataType) ==
      src.schema.map(f => f.name -> f.dataType))
    assert(back.count() == 2L)
  }

  test("when files carry different schemas, the first file by path " +
      "decides, as in Spark") {
    val dir = tmp("pr-mixed")
    val path = s"$dir/t"
    val narrow = s"$dir/narrow"
    val wide = s"$dir/wide"
    Seq(1L).toDF("a").coalesce(1).write.parquet(narrow)
    Seq((2L, "x")).toDF("a", "b").coalesce(1).write.parquet(wide)
    val fs = new Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFile(d: String): Path =
      fs.listStatus(new Path(d)).map(_.getPath)
        .find(_.getName.endsWith(".parquet")).get
    fs.mkdirs(new Path(path))
    // Wide first by name, then narrow first.
    fs.rename(dataFile(wide), new Path(s"$path/part-0.parquet"))
    fs.rename(dataFile(narrow), new Path(s"$path/part-1.parquet"))
    val (wideFirst, jobs) = planned(ParquetRead(spark, path))
    assert(jobs == 0)
    assert(wideFirst.schema == spark.read.parquet(path).schema)
    assert(wideFirst.columns.toSeq == Seq("a", "b"))
    fs.rename(new Path(s"$path/part-0.parquet"),
      new Path(s"$path/part-2.parquet"))
    val narrowFirst = ParquetRead(spark, path)
    assert(narrowFirst.schema == spark.read.parquet(path).schema)
    assert(narrowFirst.columns.toSeq == Seq("a"))
  }

  test("a recursiveFileLookup stats read plans with no job") {
    val dir = s"${tmp("pr-recursive")}/rows"
    Seq((1L, 0L)).toDF("id", "batch").write.parquet(s"$dir/b0")
    Seq((2L, 1L), (3L, 1L)).toDF("id", "batch")
      .write.parquet(s"$dir/b1")
    val (df, jobs) = planned(
      ParquetRead(spark, Seq(dir), recursiveFileLookup = true))
    assert(jobs == 0)
    assert(df.schema == spark.read.option("recursiveFileLookup", "true")
      .parquet(dir).schema)
    assert(df.count() == 3L)
  }

  test("a missing dir still raises PATH_NOT_FOUND") {
    val missing = s"${tmp("pr-missing")}/nothing-here"
    val e = intercept[AnalysisException](Store.read(spark, missing))
    assert(e.getCondition == "PATH_NOT_FOUND")
  }

  test("a dir holding only hidden files raises Spark's own exception") {
    val dir = s"${tmp("pr-hidden")}/t"
    val fs = new Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(dir))
    fs.create(new Path(s"$dir/_SUCCESS")).close()
    fs.create(new Path(s"$dir/.part-0.parquet.crc")).close()
    val ours = intercept[AnalysisException](ParquetRead(spark, dir))
    val theirs = intercept[AnalysisException](spark.read.parquet(dir))
    assert(ours.getCondition == theirs.getCondition)
    assert(ours.getMessage == theirs.getMessage)
  }
}
