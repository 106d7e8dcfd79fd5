package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.{Base64, SplittableRandom}

import graft.sources.DocBuild

/** Seeded input generator. Everything a workload feeds the program is
  * built here from the seed and written to files; the program only ever
  * sees those files. The same seed always gives byte-identical files
  * (`GenSpec` pins that), so two commits benchmarked on one seed see
  * the same inputs.
  *
  * The input sizes and shares are fixed constants, listed in
  * `perfbench/README.md`; only the seed varies between runs.
  */
object Gen {

  // ---- shared text model -------------------------------------------

  /** Vocabulary size and Zipf exponent of every generated text. Zipf
    * gives both popular terms with long postings lists and rare terms
    * with short ones, which is what probe cost depends on.
    */
  val VocabSize = 3000
  val ZipfS = 1.07

  /** The word of Zipf rank `r` (0 = most frequent): a unique lowercase
    * syllable string, so tokenization is plain whitespace splitting.
    */
  def word(r: Int): String = {
    val cons = "bdfgklmnprstvz"; val vows = "aeiou"
    val sb = new StringBuilder
    var x = r
    do {
      sb.append(cons.charAt(x % cons.length)); x /= cons.length
      sb.append(vows.charAt(x % vows.length)); x /= vows.length
    } while (x > 0)
    sb.toString
  }

  private lazy val zipfCdf: Array[Double] = {
    val w = Array.tabulate(VocabSize)(r => 1.0 / math.pow(r + 1, ZipfS))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }

  def zipfRank(rng: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(zipfCdf, rng.nextDouble())
    math.min(if (i >= 0) i else -i - 1, VocabSize - 1)
  }

  def words(rng: SplittableRandom, n: Int): Vector[String] =
    Vector.fill(n)(word(zipfRank(rng)))

  /** Seeded Fisher-Yates shuffle. */
  def shuffle[A](rng: SplittableRandom, xs: Vector[A]): Vector[A] = {
    val a = xs.toArray[Any]
    for (i <- a.length - 1 to 1 by -1) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toVector.asInstanceOf[Vector[A]]
  }

  /** A sub-stream of the seed: independent, reproducible, and stable
    * when other streams change how much they draw.
    */
  def stream(seed: Long, name: String): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + name.hashCode.toLong)

  // ---- crawl_ingest: the site --------------------------------------

  val Host = "docs.bench.example"
  val Root = s"https://$Host"
  /** Crawl depth cap; tree pages below it exist but are unreachable. */
  val MaxDepth = 3
  val SitePages = 150
  val SiteFanout = 4
  /** Share of extra pages that are byte-identical mirrors of another
    * page (same text, so the content-hash sink keeps one).
    */
  val MirrorShare = 0.10
  val SiteFiles = 40
  /** Share of pages changed between two crawls of the site. */
  val ChangedShare = 0.05
  val FileExts = Vector(".pdf", ".docx", ".pptx", ".xlsx", ".txt")

  final case class Site(
      /** url -> (payload, content type); the pages and files served. */
      served: Map[String, (Array[Byte], String)],
      /** Every url the crawl must fetch: pages within the depth cap and
        * the files they link to.
        */
      reachable: Set[String],
      /** Reachable pages whose text differs from the base version. */
      changedReachable: Int,
      /** Distinct urls linked from the fetched pages, plus the seed: the
        * base of the crawl's kept-docs ratio.
        */
      linked: Int,
      /** Urls whose record an insert-if-absent crawl of this version
        * into an empty store keeps: per distinct text, the lowest url.
        */
      kept: Set[String])

  private def pageUrl(i: Int) = s"$Root/p/$i.html"
  private def fileUrl(j: Int) = s"$Root/f/$j${FileExts(j % FileExts.size)}"

  /** Version `v` of the seeded site. Version 0 is the base; version
    * v > 0 rewrites the body of a `ChangedShare` sample of the tree
    * pages (drawn from the seed and v) and keeps every other byte.
    */
  def site(seed: Long, v: Int): Site = {
    val rng = stream(seed, "site")
    val nMirrors = math.round(SitePages * MirrorShare).toInt
    val parent = (i: Int) => (i - 1) / SiteFanout
    // Links: the tree, one back-link per page, offsite and blocked
    // links the crawl must drop, mirrors hung under random pages, and
    // files under random pages.
    val lb = Array.fill(SitePages)(Vector.newBuilder[String])
    for (i <- 1 until SitePages) {
      lb(parent(i)) += pageUrl(i)
      lb(i) += pageUrl(rng.nextInt(i))
      if (rng.nextInt(10) == 0) lb(i) += s"https://elsewhere.example/$i.html"
      if (rng.nextInt(10) == 0) lb(i) += s"$Root/img/$i.png"
    }
    val mirrorOf = Vector.tabulate(nMirrors)(_ => rng.nextInt(SitePages))
    for (m <- 0 until nMirrors)
      lb(rng.nextInt(SitePages)) += pageUrl(SitePages + m)
    for (j <- 0 until SiteFiles) lb(rng.nextInt(SitePages)) += fileUrl(j)
    // A mirror serves its original's html, links included.
    val links: Int => Vector[String] = {
      val ls = lb.map(_.result())
      i => ls(if (i >= SitePages) mirrorOf(i - SitePages) else i)
    }
    val bodies = Vector.tabulate(SitePages)(_ => words(rng, 30 + rng.nextInt(50)))
    val fileLines = Vector.tabulate(SiteFiles)(j =>
      Vector.tabulate(3 + rng.nextInt(4))(l =>
        (s"file$j line$l" +: words(rng, 6 + rng.nextInt(8))).mkString(" ")))

    val vr = stream(seed, s"site-v$v")
    val changed: Set[Int] =
      if (v == 0) Set.empty
      else Iterator.continually(vr.nextInt(SitePages))
        .distinct.take(math.max(1, (SitePages * ChangedShare).toInt)).toSet
    def html(i: Int, ver: Int): String = {
      val body = if (ver == 0) bodies(i) else words(stream(seed, s"p$i-v$ver"), 40)
      val as = links(i).map(u => s"""<a href="$u">link</a>""").mkString(" ")
      s"<html><head><title>page $i v$ver</title></head><body><h1>page $i v$ver</h1>" +
        s"<p>${body.mkString(" ")}</p>$as</body></html>"
    }
    val pageHtml = (0 until SitePages).map(i =>
      i -> html(i, if (changed(i)) v else 0)).toMap
    val mirrorHtml = (0 until nMirrors).map(m =>
      (SitePages + m) -> html(mirrorOf(m), 0)).toMap
    val allHtml = pageHtml ++ mirrorHtml

    val htmlType = "text/html; charset=utf-8"
    val served: Map[String, (Array[Byte], String)] =
      allHtml.map { case (i, h) => pageUrl(i) -> ((h.getBytes(UTF_8), htmlType)) } ++
        (0 until SiteFiles).map { j =>
          val ls = fileLines(j)
          fileUrl(j) -> (FileExts(j % FileExts.size) match {
            case ".pdf" => (DocBuild.pdfBytes(ls, flate = j % 2 == 0), "application/pdf")
            case ".docx" => (stableZip(DocBuild.docxBytes(ls)), "application/vnd.openxmlformats")
            case ".pptx" => (stableZip(DocBuild.pptxBytes(ls)), "application/vnd.openxmlformats")
            case ".xlsx" => (stableZip(DocBuild.xlsxBytes(ls)), "application/vnd.openxmlformats")
            case _ => (ls.mkString("\n").getBytes(UTF_8), "text/plain")
          })
        }

    // BFS with the crawl's depth cap over the generated link graph.
    val idOf = allHtml.keys.map(i => pageUrl(i) -> i).toMap
    var depth = Map(pageUrl(0) -> 0)
    var frontier = Vector(pageUrl(0))
    var files = Set.empty[String]
    var linked = Set(pageUrl(0))
    var d = 0
    while (frontier.nonEmpty) {
      val outs = frontier.flatMap(u => links(idOf(u)))
      linked ++= outs
      files ++= outs.filter(_.contains("/f/"))
      val next = outs.filter(u => idOf.contains(u) && !depth.contains(u)).distinct
      d += 1
      if (d <= MaxDepth) { next.foreach(u => depth += u -> d); frontier = next }
      else frontier = Vector.empty
    }
    val pages = depth.keySet
    // A mirror's text equals its original's base text; everything else
    // is unique by construction (the page number is in the title).
    val textKey = pages.toSeq.map { u =>
      val i = idOf(u)
      u -> (if (i >= SitePages) (mirrorOf(i - SitePages), 0) else (i, if (changed(i)) v else 0))
    }
    val kept = textKey.groupBy(_._2).values.map(_.map(_._1).min).toSet ++ files
    Site(served, pages ++ files,
      pages.count(u => idOf(u) < SitePages && changed(idOf(u))), linked.size, kept)
  }

  /** DocBuild's zip containers stamp entries with the wall clock; pin
    * the DOS time/date fields of every local and central header so the
    * payload bytes depend on the seed alone.
    */
  def stableZip(zip: Array[Byte]): Array[Byte] = {
    val b = zip.clone()
    def sig(i: Int, c: Int, d: Int) =
      b(i) == 'P' && b(i + 1) == 'K' && b(i + 2) == c && b(i + 3) == d
    def pin(at: Int): Unit = {
      b(at) = 0; b(at + 1) = 0; b(at + 2) = 0x21; b(at + 3) = 0
    }
    var i = 0
    while (i + 16 <= b.length) {
      if (sig(i, 3, 4)) pin(i + 10)
      else if (sig(i, 1, 2)) pin(i + 12)
      i += 1
    }
    b
  }

  def writeSite(s: Site, path: Path): Unit =
    writeLines(path, s.served.toSeq.sortBy(_._1).map { case (u, (p, t)) =>
      s"""{"url":${q(u)},"content_type":${q(t)},"payload":"${Base64.getEncoder.encodeToString(p)}"}"""
    })

  // ---- fanout_churn: the corpus -------------------------------------

  val BulkDocs = 240
  val WaveDeletes = 3
  val VecDims = 8
  val Clusters = 12
  /** Shares of the bulk wave that copy an earlier doc exactly (new id),
    * nearly (one token changed), or share a 12-token span with it.
    */
  val ExactDupShare = 0.05
  val NearDupShare = 0.10
  val SpanShare = 0.10
  /** Small-wave mix, docs per wave: new docs, changed live docs,
    * near-dups of live docs (new id), exact redeliveries (same id and
    * text), exact dups of a live doc under a new id.
    */
  val WaveMix = Vector("new" -> 8, "changed" -> 3, "neardup" -> 2, "redeliver" -> 2,
    "exactdup" -> 1)

  final case class Doc(id: Long, text: String, vec: Vector[Float])

  private def unit(v: Array[Double]): Vector[Float] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat).toVector
  }

  private def centers(seed: Long): Vector[Array[Double]] = {
    val r = stream(seed, "centers")
    Vector.fill(Clusters)(Array.fill(VecDims)(r.nextDouble() * 2 - 1))
  }

  private def vecNear(rng: SplittableRandom, c: Array[Double]): Vector[Float] =
    unit(c.map(x => x + (rng.nextDouble() * 2 - 1) * 0.35))

  /** The corpus as one bulk wave followed by an unbounded sequence of
    * small waves. Deterministic in the seed: wave n is the same whatever
    * the number of waves a run reaches.
    */
  final class Corpus(seed: Long) {
    private val cs = centers(seed)
    private val rng = stream(seed, "corpus")
    private var nextId = 1L
    // Offered docs that a later wave may copy, change or take down.
    private val live = scala.collection.mutable.LinkedHashMap[Long, Doc]()

    private def fresh(r: SplittableRandom): Doc = {
      val d = Doc(nextId, words(r, 40 + r.nextInt(60)).mkString(" "),
        vecNear(r, cs(r.nextInt(Clusters))))
      nextId += 1
      d
    }
    private def pick(r: SplittableRandom): Doc =
      live.valuesIterator.drop(r.nextInt(live.size)).next()
    /** `k` distinct live docs. */
    private def picks(r: SplittableRandom, k: Int): Vector[Doc] =
      shuffle(r, live.values.toVector).take(k)
    private def nearOf(r: SplittableRandom, d: Doc): String = {
      val t = d.text.split(" ")
      t(t.length - 1 - r.nextInt(2)) = word(VocabSize - 1 - r.nextInt(50))
      t.mkString(" ")
    }
    private def withSpanOf(r: SplittableRandom, d: Doc): String = {
      val t = d.text.split(" ")
      val at = r.nextInt(t.length - 12)
      (words(r, 20) ++ t.slice(at, at + 12) ++ words(r, 20)).mkString(" ")
    }
    private def newId(): Long = { nextId += 1; nextId - 1 }

    /** The bulk wave: exact counts of each kind (from the shares), in a
      * seeded order after ten fresh docs to copy from.
      */
    val bulk: Vector[Doc] = {
      def n(share: Double) = math.round(BulkDocs * share).toInt
      val kinds = shuffle(rng, Vector.fill(n(ExactDupShare))("exact") ++
        Vector.fill(n(NearDupShare))("near") ++ Vector.fill(n(SpanShare))("span") ++
        Vector.fill(BulkDocs - 10 - n(ExactDupShare) - n(NearDupShare) - n(SpanShare))("fresh"))
      (Vector.fill(10)("fresh") ++ kinds).map { k =>
        val d =
          if (k == "fresh") fresh(rng)
          else {
            val src = pick(rng)
            val text = k match {
              case "exact" => src.text
              case "near" => nearOf(rng, src)
              case _ => withSpanOf(rng, src)
            }
            Doc(newId(), text, vecNear(rng, cs(rng.nextInt(Clusters))))
          }
        live(d.id) = d
        d
      }
    }

    /** Docs to ingest and ids to take down in small wave `n` (n >= 1);
      * waves must be drawn in order.
      */
    def wave(n: Int): (Vector[Doc], Vector[Long]) = {
      val r = stream(seed, s"wave-$n")
      // Takedowns come from docs offered before this wave, so the
      // wave's own docs stay live and a redelivery of it is a no-op.
      val victims = picks(r, WaveDeletes).map(_.id)
      victims.foreach(live.remove)
      val kinds = WaveMix.flatMap { case (k, c) => Vector.fill(c)(k) }
      val olds = picks(r, kinds.count(k => k != "new" && k != "neardup")).iterator
      val docs = kinds.map {
        case "new" => fresh(r)
        case "changed" => olds.next().copy(text = words(r, 40 + r.nextInt(60)).mkString(" "))
        case "neardup" => val d = pick(r); Doc(newId(), nearOf(r, d), d.vec)
        case "redeliver" => olds.next()
        case _ => val d = olds.next(); Doc(newId(), d.text, d.vec)
      }
      val uniq = docs.sortBy(_.id)
      uniq.foreach(d => live(d.id) = d)
      (uniq, victims)
    }
  }

  def writeDocs(docs: Seq[Doc], path: Path): Unit =
    writeLines(path, docs.map(d =>
      s"""{"doc_id":${d.id},"text":${q(d.text)},"vec":[${d.vec.map(fmt).mkString(",")}]}"""))

  def writeIds(ids: Seq[Long], path: Path): Unit =
    writeLines(path, ids.map(i => s"""{"doc_id":$i}"""))

  // ---- probes ---------------------------------------------------------

  val ProbeKinds = Vector("bm25", "phrase", "hybrid", "ann", "pq_rerank", "passage")

  final case class Probe(kind: String, terms: Vector[String], vec: Vector[Float])

  /** Probe `i` of the seeded mix over `docs`: the kind cycles so every
    * stretch of the mix has the same composition; terms mix popular
    * (Zipf rank < 30) and rare words, phrases and passages are spans
    * of offered docs, vectors sit near a cluster center.
    */
  def probe(seed: Long, docs: IndexedSeq[Doc], i: Int): Probe = {
    val r = stream(seed, s"probe-$i")
    val kind = ProbeKinds(i % ProbeKinds.size)
    def span(n: Int) = {
      val t = docs(r.nextInt(docs.size)).text.split(" ")
      val at = r.nextInt(t.length - n)
      t.slice(at, at + n).toVector
    }
    def terms = Vector(word(r.nextInt(30)), word(100 + r.nextInt(200)),
      word(1000 + r.nextInt(VocabSize - 1000)))
    val vec = vecNear(r, centers(seed)(r.nextInt(Clusters)))
    kind match {
      case "bm25" | "hybrid" => Probe(kind, terms, vec)
      case "phrase" => Probe(kind, span(2), vec)
      case "passage" => Probe(kind, span(6), vec)
      case _ => Probe(kind, Vector.empty, vec)
    }
  }

  /** Query vector `i` of the recall check. */
  def queryVec(seed: Long, i: Int): Vector[Float] = {
    val r = stream(seed, s"qvec-$i")
    vecNear(r, centers(seed)(r.nextInt(Clusters)))
  }

  // ---- file helpers -------------------------------------------------------

  private def fmt(f: Float): String = java.lang.Float.toString(f)

  private def q(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  private def writeLines(path: Path, lines: Seq[String]): Unit = {
    Files.createDirectories(path.getParent)
    Files.write(path, (lines.mkString("\n") + "\n").getBytes(UTF_8))
  }
}
