package graft.sources

import org.scalatest.funsuite.AnyFunSuite

/** Guard: no store stages a `_vacuum` copy. Every store write —
  * append, delete, incremental pass, full vacuum, PQ reroute — commits
  * one generation under the [[Commits]] ledger ([[GenTable]]); code
  * that spells a `_vacuum` path has grown a staged swap back.
  */
class StagingPathGuardSpec extends AnyFunSuite {

  /** 1-based line numbers in `src` of code (not comments) that spells a
    * `_vacuum` path segment: `/_vacuum` inside a string, or the bare
    * `"_vacuum"` literal.
    */
  private def stagingPaths(src: String): Seq[Int] = {
    // Blank out comments, keeping offsets (and so line numbers).
    val code = "(?s)/\\*.*?\\*/|//[^\n]*".r.replaceAllIn(src,
      m => java.util.regex.Matcher.quoteReplacement(
        m.matched.map(c => if (c == '\n') '\n' else ' ')))
    "/_vacuum\\b|\"_vacuum\"".r.findAllMatchIn(code).toSeq
      .map(m => code.substring(0, m.start).count(_ == '\n') + 1)
      .distinct
  }

  test("the scanner flags staging paths in code and nothing else") {
    val src =
      """val stage = s"$dir/_vacuum"
        |fs.exists(new Path(s"$storeDir/_vacuum/_commits/b0"))
        |// s"$dir/_vacuum" in a comment
        |/** the `_vacuum` stage, s"$dir/_vacuum/b0" */
        |Seq("postings", "docs", "_commits", "_vacuum")
        |timed(r, "bm25_vacuum") { vacuum(dir) }
        |Seq("postings", GenTable.StageDir)
        |""".stripMargin
    assert(stagingPaths(src) == Seq(1, 2, 5))
  }

  test("src/main builds no _vacuum path") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root: $root")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Seq.empty
    val found = walk(root).flatMap { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath),
        "UTF-8")
      stagingPaths(src).map(l => s"${f.getPath}:$l")
    }
    assert(found.isEmpty, s"_vacuum paths built: ${found.mkString(", ")}")
  }
}
