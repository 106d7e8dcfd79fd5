package graft.sources

import org.scalatest.funsuite.AnyFunSuite

/** Guard: every parquet read in `src/main` plans through [[ParquetRead]]
  * (or passes its own schema). A schema-less `spark.read.parquet(...)`
  * or `format("parquet").load(...)` brings back the schema-inference
  * job on every call. Exempt: the helper itself, and
  * `Store.readEvolved`, whose `mergeSchema` read needs every footer.
  */
class SchemaLessReadGuardSpec extends AnyFunSuite {

  /** 1-based line numbers of schema-less parquet reads in `src`. */
  private def schemaLessReads(src: String,
      allowMergeSchema: Boolean = false): Seq[Int] = {
    // Blank out comments, keeping offsets (and so line numbers).
    val code = "(?s)/\\*.*?\\*/|//[^\n]*".r.replaceAllIn(src,
      m => java.util.regex.Matcher.quoteReplacement(
        m.matched.map(c => if (c == '\n') '\n' else ' ')))
    val chainStart = "\\b(read|write|readStream|writeStream)\\b".r
    "\\.(parquet|load)\\(".r.findAllMatchIn(code).toSeq.flatMap { m =>
      val before = code.substring(0, m.start)
      chainStart.findAllMatchIn(before).toSeq.lastOption
        .filter(_.matched == "read")
        .map(r => code.substring(r.start, m.start))
        .filter { chain =>
          val parquet = m.group(1) == "parquet" ||
            chain.contains("format(\"parquet\")")
          parquet && !chain.contains(".schema(") &&
            !(allowMergeSchema && chain.contains("\"mergeSchema\""))
        }
        .map(_ => before.count(_ == '\n') + 1)
    }
  }

  test("the scanner flags schema-less reads and nothing else") {
    val src =
      """val a = spark.read.parquet(p)
        |val b = spark.read.schema(s).parquet(p)
        |df.write.mode("overwrite")
        |  .parquet(p)
        |val c = df.sparkSession.read
        |  .option("recursiveFileLookup", "true")
        |  .parquet(p)
        |// spark.read.parquet(p) in a comment
        |val d = spark.read.format("parquet").load(p)
        |val e = spark.read.format("json").load(p)
        |ParquetRead(spark, p).write.parquet(q)
        |val f = spark.read.option("mergeSchema", "true").parquet(p)
        |""".stripMargin
    assert(schemaLessReads(src) == Seq(1, 7, 9, 12))
    assert(schemaLessReads(src, allowMergeSchema = true) == Seq(1, 7, 9))
  }

  test("src/main has no schema-less parquet read outside ParquetRead " +
      "and Store.readEvolved") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root: $root")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Seq.empty
    val found = walk(root)
      .filterNot(_.getPath.endsWith("graft/sources/ParquetRead.scala"))
      .flatMap { f =>
        val src = new String(java.nio.file.Files.readAllBytes(f.toPath),
          "UTF-8")
        val isStore = f.getPath.endsWith("graft/sources/Store.scala")
        schemaLessReads(src, allowMergeSchema = isStore)
          .map(l => s"${f.getPath}:$l")
      }
    assert(found.isEmpty, "schema-less parquet reads (route them " +
      s"through graft.sources.ParquetRead): ${found.mkString(", ")}")
  }
}
