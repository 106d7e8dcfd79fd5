package perfbench

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  /** Every input file a run generates, for the first three small waves. */
  private def generate(seed: Long): Path = {
    val dir = Files.createTempDirectory("perfbench-gen")
    Gen.writeSite(Gen.site(seed, 0), dir.resolve("site-v0.jsonl"))
    Gen.writeSite(Gen.site(seed, 1), dir.resolve("site-v1.jsonl"))
    val c = new Gen.Corpus(seed)
    Gen.writeDocs(c.bulk, dir.resolve("bulk.jsonl"))
    for (n <- 1 to 3) {
      val (docs, ids) = c.wave(n)
      Gen.writeDocs(docs, dir.resolve(s"wave-$n.jsonl"))
      Gen.writeIds(ids, dir.resolve(s"del-$n.jsonl"))
    }
    dir
  }

  private def contents(dir: Path): Map[String, Seq[Byte]] = {
    import scala.jdk.CollectionConverters._
    Files.list(dir).iterator().asScala.map(f =>
      f.getFileName.toString -> Files.readAllBytes(f).toSeq).toMap
  }

  test("the same seed gives byte-identical inputs") {
    val a = contents(generate(7))
    assert(a.size == 9)
    assert(a == contents(generate(7)))
  }

  test("the same seed gives the same probe mix and recall queries") {
    val docs = new Gen.Corpus(7).bulk
    val again = new Gen.Corpus(7).bulk
    assert((0 until 60).map(Gen.probe(7, docs, _)) == (0 until 60).map(Gen.probe(7, again, _)))
    assert((0 until 20).map(Gen.queryVec(7, _)) == (0 until 20).map(Gen.queryVec(7, _)))
    assert(Gen.probe(7, docs, 0) != Gen.probe(8, docs, 0))
  }

  test("another seed gives other inputs") {
    val a = contents(generate(7))
    val b = contents(generate(8))
    assert(a.keySet == b.keySet)
    assert(a.keys.forall(k => a(k) != b(k)))
  }

  test("the site's reachable set is served and stays within the depth cap") {
    val s = Gen.site(3, 0)
    assert(s.reachable.forall(s.served.contains))
    assert(s.reachable.size < s.served.size, "some pages sit below the depth cap")
    assert(s.reachable.exists(_.endsWith(".pptx")) && s.reachable.exists(_.endsWith(".pdf")))
    assert(s.kept.size < s.reachable.size, "mirrors share their original's text")
    assert(s.kept.subsetOf(s.reachable))
    val v1 = Gen.site(3, 1)
    assert(v1.reachable == s.reachable && v1.changedReachable > 0)
  }

  test("waves take down only docs offered before them") {
    val c = new Gen.Corpus(5)
    var offered = c.bulk.map(_.id).toSet
    for (n <- 1 to 5) {
      val (docs, ids) = c.wave(n)
      assert(ids.forall(offered.contains))
      assert(docs.map(_.id).distinct.size == docs.size)
      assert(ids.toSet.intersect(docs.map(_.id).toSet).isEmpty)
      offered ++= docs.map(_.id)
    }
  }
}
