package graft

import org.scalatest.funsuite.AnyFunSuite
import org.w3c.dom.Element
import graft.pdf.OfftryckDoc
import graft.pdf.OfftryckDoc.Source
import graft.parse.{LawRef, OfftryckParser, PdfReader}

/** Golden parity for the Författningskommentar pass: the full chain
  * (intermediate → FSM → find_primary_law → CommentaryFinder KDE
  * thresholds → commentary FSM markup) compared against the
  * forfattningskommentar divs in the reference's own parsed prop
  * fixtures — every kommentar anchor (kommentarTill), label, and the
  * acttext/comment classification of every paragraph. The named-law
  * dictionary is read from the reference's own extra/sfs.ttl, exactly
  * the commondata LNMediaWiki/SFS feed the reference parses with. */
class OfftryckCommentarySpec extends AnyFunSuite {

  private val root = "/root/reference/test/files/repo"

  // ---------------------------------------------------- commondata dict
  private lazy val (namedLaws, abbrevs): (Map[String, String],
      Map[String, String]) = {
    val ttl = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(
        "/root/reference/lagen/nu/res/extra/sfs.ttl")), "UTF-8")
    val triples = TtlTestReader.parse(ttl)
    def idOf(subj: String): Option[String] = {
      val tail = subj.split("/").last
      if (tail.matches("\\d{4}:.+")) Some(tail) else None
    }
    val labels = triples.collect {
      case t if t.pred == "http://www.w3.org/2000/01/rdf-schema#label" &&
          idOf(t.subj).isDefined =>
        LawRef.normalizeLawName(t.obj) -> idOf(t.subj).get
    }.toMap
    val alts = triples.collect {
      case t if t.pred == "http://purl.org/dc/terms/alternate" &&
          idOf(t.subj).isDefined =>
        t.obj -> idOf(t.subj).get
    }.toMap
    (labels, alts)
  }

  private def lawConf = LawRef.Conf(base = "https://lagen.nu/",
    baseLaw = None, namedLaws = namedLaws, abbrevs = abbrevs)

  // ------------------------------------------------------- fixture load
  private def readBz2(path: java.nio.file.Path): String = {
    val in = new org.apache.commons.compress.compressors.bzip2
      .BZip2CompressorInputStream(
        java.nio.file.Files.newInputStream(path))
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  private def readOpt(p: String): Option[String] = {
    val path = java.nio.file.Paths.get(p)
    if (java.nio.file.Files.exists(path))
      Some(new String(java.nio.file.Files.readAllBytes(path), "UTF-8"))
    else None
  }

  private def load(repo: String, ydir: String, num: String)
      : (Source, String) = {
    val idir = s"$root/$repo/intermediate/$ydir/$num"
    val golden = readOpt(s"$root/$repo/parsed/$ydir/$num.xhtml").get
    val dir = java.nio.file.Paths.get(idir)
    val files = java.nio.file.Files.list(dir).iterator()
    var xmlBz2: Option[java.nio.file.Path] = None
    var hocrBz2: Option[java.nio.file.Path] = None
    while (files.hasNext) {
      val f = files.next()
      val n = f.getFileName.toString
      if (n.endsWith(".xml.bz2")) xmlBz2 = Some(f)
      else if (n.endsWith(".hocr.html.bz2")) hocrBz2 = Some(f)
    }
    val basefile = s"${ydir.replaceFirst("-", "/")}:$num"
    val (content, hocr, srcName, fontinfo) = (xmlBz2, hocrBz2) match {
      case (Some(x), _) =>
        val stem = x.getFileName.toString.stripSuffix(".xml.bz2")
        val fi = readOpt(s"$idir/$stem.xml.fontinfo")
          .map(PdfReader.parseFontinfo).getOrElse(Map.empty[String, String])
        val pdfName = if (repo == "propriksdagen") "index.pdf"
                      else s"$stem.pdf"
        (readBz2(x), false, pdfName, fi)
      case (None, Some(h)) => (readBz2(h), true, "index.pdf",
        Map.empty[String, String])
      case _ => fail(s"no intermediate for $ydir/$num")
    }
    (Source(content, hocr, fontinfo, basefile, s"Prop. $basefile",
      s"https://lagen.nu/prop/$basefile", srcName,
      metricsJson = readOpt(s"$idir/index.metrics.json"),
      pagemappingJson = readOpt(s"$idir/index.pagemapping.json"),
      decoder20Key = if (basefile == "1997/98:44")
        Some("Datalagskommittén") else None,
      commentary = Some(lawConf)), golden)
  }

  // --------------------------------------- golden commentary extraction
  private def dom(xml: String): org.w3c.dom.Document = {
    val f = javax.xml.parsers.DocumentBuilderFactory.newInstance()
    f.setFeature(
      "http://apache.org/xml/features/nonvalidating/load-external-dtd",
      false)
    f.newDocumentBuilder().parse(new org.xml.sax.InputSource(
      new java.io.StringReader(xml)))
  }

  private def childElems(e: Element): Vector[Element] = {
    val kids = e.getChildNodes
    (0 until kids.getLength).map(kids.item).collect {
      case el: Element => el
    }.toVector
  }

  private val chapterTitles = Set("Författningskommentar",
    "Författningskommentarer", "Specialmotivering")

  /** Text content minus the pretty-printer's indentation: a
    * whitespace-only text node containing a newline is a tidy_xhtml
    * artifact, not document text. */
  private def realText(n: org.w3c.dom.Node): String = n match {
    case e: Element =>
      val kids = e.getChildNodes
      (0 until kids.getLength).map(k => realText(kids.item(k))).mkString
    case t if t.getNodeType == org.w3c.dom.Node.TEXT_NODE =>
      val v = t.getNodeValue
      if (v.contains("\n") && v.trim.isEmpty) "" else v
    case _ => ""
  }

  /** Rows (depth, kind, key, text) inside the kommentar chapter of a
    * parsed golden. */
  private def goldenRows(xml: String): Vector[(Int, String, String, String)] = {
    val d = dom(xml)
    val out = Vector.newBuilder[(Int, String, String, String)]
    // tidy_xhtml reformatting makes inter-element whitespace ambiguous
    // (a real separating space and pretty-print indentation both
    // serialize as newline+indent) — p-row text compares WITHOUT
    // whitespace; spacing fidelity is pinned byte-level in PdfReaderSpec
    def norm(s: String) = s.replaceAll("\\s+", "")
    def walkContent(e: Element, depth: Int): Unit = e.getTagName match {
      case "p" =>
        out += ((depth, "p", "-", norm(realText(e))))
      case "ul" =>
        out += ((depth, "p", "-", norm(realText(e))))
      case "span" if e.getAttribute("class") == "sidbrytning" =>
        out += ((depth, "sid", "-",
          e.getAttribute("id").stripPrefix("sid")))
      case "div" if e.getAttribute("class") == "forfattningskommentar" =>
        val kids = childElems(e)
        val target = kids.find(k => k.getTagName == "span" &&
          k.getAttribute("rel") == "rinfoex:kommentarTill")
          .map(_.getAttribute("href")).getOrElse("-")
        val label = kids.find(k => k.getTagName == "span" &&
          k.getAttribute("property") == "rdfs:label")
          .map(_.getAttribute("content")).getOrElse("")
        out += ((depth, "kommentar", target, label))
        // anchored comments wrap their paragraphs in an inner div
        val inner = kids.filter(k => k.getTagName == "div" &&
          k.getAttribute("class").isEmpty)
        val content = if (inner.nonEmpty) inner.flatMap(childElems)
                      else kids.filterNot(k => k.getTagName == "span" &&
                        k.getAttribute("class") != "sidbrytning")
        content.foreach(walkContent(_, depth + 1))
      case "div" => // nested subsection inside the chapter
        out += ((depth, "section", "-", e.getAttribute("content")))
        childElems(e).foreach(walkContent(_, depth + 1))
      case _ => childElems(e).foreach(walkContent(_, depth))
    }
    def findChapter(e: Element): Unit = {
      if (e.getTagName == "div" && e.getAttribute("class") == "section" &&
          chapterTitles.contains(e.getAttribute("content"))) {
        childElems(e).foreach(walkContent(_, 0))
      } else childElems(e).foreach(findChapter)
    }
    findChapter(d.getDocumentElement)
    out.result()
  }

  /** The same rows from the engine's parsed tree. */
  private def mineRows(body: graft.parse.TreeNode)
      : Vector[(Int, String, String, String)] = {
    val chapter = body.children.find(n => n.tag == "Avsnitt" &&
      n.attr("title").exists(chapterTitles.contains))
      .getOrElse(fail("no kommentar chapter in parsed body"))
    OfftryckDoc.structure(
      body.copy(children = Vector(chapter)), withParagraphs = true)
      .drop(1) // the chapter's own row
      .map { r =>
        val depth = r.depth - 1
        r.kind match {
          case "kommentar" =>
            // un-anchored comments render without the rdfs:label span
            // (Forfattningskommentar.as_xhtml gates both on comment_on)
            (depth, "kommentar", r.frag,
              if (r.frag == "-") "" else r.title)
          case "p" => (depth, "p", "-",
            r.title.replaceAll("\\s+", "")) // see goldenRows norm
          case "sid" => (depth, "sid", "-", r.title)
          // the golden extractor labels every nested structural div
          // "section" regardless of its class
          case "section" | "unorderedsection" | "pseudosection" =>
            (depth, "section", "-", r.title)
          case k => (depth, k, r.frag, r.title)
        }
      }
  }

  private def diffReport(got: Vector[(Int, String, String, String)],
                         want: Vector[(Int, String, String, String)])
      : String = {
    val sb = new StringBuilder
    var shown = 0
    var i = 0
    val n = math.max(got.length, want.length)
    while (i < n && shown < 16) {
      val g = got.lift(i).map(_.toString).getOrElse("<missing>")
      val w = want.lift(i).map(_.toString).getOrElse("<missing>")
      if (g != w) {
        sb.append(s"[$i] got:  ${g.take(160)}\n[$i] want: ${w.take(160)}\n")
        shown += 1
      }
      i += 1
    }
    sb.toString
  }

  private def check(repo: String, ydir: String, num: String): Unit = {
    assume(new java.io.File(root).isDirectory)
    val (src, golden) = load(repo, ydir, num)
    val body = OfftryckDoc.parse(src)
    val got = mineRows(body)
    val want = goldenRows(golden)
    assert(want.exists(_._2 == "kommentar"),
      "golden extraction found no kommentar rows — extractor broken")
    assert(got == want,
      s"\ncommentary mismatch $ydir/$num " +
      s"(got ${got.length} rows, want ${want.length}):\n" +
      diffReport(got, want))
  }

  test("prop 2017/18:86 kommentar markup golden") {
    check("propregeringen", "2017-18", "86")
  }

  test("prop 2005/06:173 kommentar markup golden") {
    check("propregeringen", "2005-06", "173")
  }

  test("prop 2005/06:180 kommentar markup golden") {
    check("propregeringen", "2005-06", "180")
  }

  test("prop 1998/99:130 kommentar markup golden (85 kommentarer)") {
    check("propregeringen", "1998-99", "130")
  }

  test("prop 1997/98:44 kommentar markup golden (temp_sfs_uri law)") {
    check("propregeringen", "1997-98", "44")
  }

  test("prop 2013/14:34 kommentar markup golden") {
    check("propregeringen", "2013-14", "34")
  }

  test("prop 2016/17:14 kommentar markup golden (riksdagen)") {
    check("propriksdagen", "2016-17", "14")
  }
}
