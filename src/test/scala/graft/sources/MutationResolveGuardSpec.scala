package graft.sources

import org.scalatest.funsuite.AnyFunSuite

/** Guards over `src/main`: a store lifecycle step is written once.
  * A mutation's currency resolve lives in [[GenTable.currency]], which
  * owns the scoped/unscoped plan choice ([[Commits
  * .scopeMutationResolve]]); the additive stores' fold markers are read
  * and written only by [[AdditiveStore]]; and no store under
  * `graft/streaming` or `graft/operators` appends flat files at a table
  * root. A file that calls these outside their home has grown its own
  * copy back.
  */
class MutationResolveGuardSpec extends AnyFunSuite {

  /** 1-based line numbers in `src` of code (not comments) matching
    * `pattern`. */
  private def calls(src: String, pattern: String): Seq[Int] = {
    // Blank out comments, keeping offsets (and so line numbers).
    val code = "(?s)/\\*.*?\\*/|//[^\n]*".r.replaceAllIn(src,
      m => java.util.regex.Matcher.quoteReplacement(
        m.matched.map(c => if (c == '\n') '\n' else ' ')))
    pattern.r.findAllMatchIn(code).toSeq
      .map(m => code.substring(0, m.start).count(_ == '\n') + 1)
      .distinct
  }

  private val resolve = "\\bscopeMutationResolve\\s*\\("

  /** `file:line` of every match of `pattern` in the `src/main` files
    * whose path ends with none of `allowed` and contains one of `under`.
    */
  private def found(pattern: String, allowed: Seq[String],
      under: Seq[String] = Seq("")): Seq[String] = {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root: $root")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Seq.empty
    walk(root)
      .filter(f => under.exists(f.getPath.contains))
      .filterNot(f => allowed.exists(f.getPath.endsWith))
      .flatMap { f =>
        val src = new String(java.nio.file.Files.readAllBytes(f.toPath),
          "UTF-8")
        calls(src, pattern).map(l => s"${f.getPath}:$l")
      }
  }

  test("the scanner flags plan-choice calls in code and nothing else") {
    val src =
      """val scoped = Commits.scopeMutationResolve(n, rows)
        |if (graft.sources.Commits.scopeMutationResolve (
        |// Commits.scopeMutationResolve(n, rows) in a comment
        |/** ([[Commits.scopeMutationResolve]]) and scopeMutationResolve( */
        |Store.currency(spark, dir, committed, ids)
        |val scopeMutationResolveFloor = 1
        |""".stripMargin
    assert(calls(src, resolve) == Seq(1, 2))
  }

  test("src/main calls scopeMutationResolve only in GenTable and Commits") {
    val hits = found(resolve, Seq("graft/sources/GenTable.scala",
      "graft/sources/Commits.scala"))
    assert(hits.isEmpty, "currency resolves written outside " +
      s"graft.sources.GenTable: ${hits.mkString(", ")}")
  }

  test("src/main reads and writes fold markers only in AdditiveStore") {
    val hits = found("\\b(writeFoldMarker|foldedSources)\\s*\\(",
      Seq("graft/sources/AdditiveStore.scala"))
    assert(hits.isEmpty, "a fold written outside " +
      s"graft.sources.AdditiveStore: ${hits.mkString(", ")}")
  }

  test("no store under graft/streaming or graft/operators appends flat " +
      "files") {
    val hits = found("mode\\(\\s*\"append\"\\s*\\)\\s*\\.parquet\\(", Nil,
      Seq("graft/streaming/", "graft/operators/"))
    assert(hits.isEmpty, s"flat-layout store writes: ${hits.mkString(", ")}")
  }
}
