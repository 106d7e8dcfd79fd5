package graft.sources

import org.scalatest.funsuite.AnyFunSuite

/** Guard: a mutation's currency resolve is written once, in
  * [[GenTable.currency]], which owns the scoped/unscoped plan choice
  * ([[Commits.scopeMutationResolve]]). A store that calls the plan
  * choice itself has grown its own copy of the resolve back.
  */
class MutationResolveGuardSpec extends AnyFunSuite {

  /** 1-based line numbers in `src` of code (not comments) that calls
    * `scopeMutationResolve(`. */
  private def resolveCalls(src: String): Seq[Int] = {
    // Blank out comments, keeping offsets (and so line numbers).
    val code = "(?s)/\\*.*?\\*/|//[^\n]*".r.replaceAllIn(src,
      m => java.util.regex.Matcher.quoteReplacement(
        m.matched.map(c => if (c == '\n') '\n' else ' ')))
    "\\bscopeMutationResolve\\s*\\(".r.findAllMatchIn(code).toSeq
      .map(m => code.substring(0, m.start).count(_ == '\n') + 1)
      .distinct
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
    assert(resolveCalls(src) == Seq(1, 2))
  }

  test("src/main calls scopeMutationResolve only in GenTable and Commits") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root: $root")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Seq.empty
    val allowed = Seq("graft/sources/GenTable.scala",
      "graft/sources/Commits.scala")
    val found = walk(root)
      .filterNot(f => allowed.exists(f.getPath.endsWith))
      .flatMap { f =>
        val src = new String(java.nio.file.Files.readAllBytes(f.toPath),
          "UTF-8")
        resolveCalls(src).map(l => s"${f.getPath}:$l")
      }
    assert(found.isEmpty, "currency resolves written outside " +
      s"graft.sources.GenTable: ${found.mkString(", ")}")
  }
}
