package graft

import org.scalatest.funsuite.AnyFunSuite
import org.w3c.dom.{Element, Node}
import graft.pdf.OfftryckDoc
import graft.pdf.OfftryckDoc.Source
import graft.parse.PdfReader

/** Golden parity for the offtryck STRUCTURE parser against the
  * reference's own parsed proposition fixtures: the full chain
  * intermediate pdf2xml/hOCR → PdfReader → PropAnalyzer → pagination →
  * offtryck FSM, compared skeleton-for-skeleton (structural divs,
  * titles, minted fragments, pagebreak placement) with
  * test/files/repo/prop{regeringen,riksdagen}/parsed/<basefile>.xhtml —
  * the exact artifacts the reference's own RepoTester parse_test
  * asserts against (ferenda/testutil.py:670-723). Reference-link
  * markup (refparser <a>) and Forfattningskommentar wrappers are
  * post-FSM visitor passes; the extractor flattens/ignores them, so the
  * comparison isolates exactly the FSM + segmentation + pagination. */
class OfftryckStructureSpec extends AnyFunSuite {

  private val root = "/root/reference/test/files/repo"

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

  /** Assemble a Source from a fixture directory. `preset` picks the
    * doctype (proposition/sou/ds/dir — the identifier prefix, URI
    * space and analyzer follow it). */
  private def load(repo: String, ydir: String, num: String,
                   preset: String = "proposition")
      : Option[(Source, String)] = {
    val idir = s"$root/$repo/intermediate/$ydir/$num"
    val dir = java.nio.file.Paths.get(idir)
    if (!java.nio.file.Files.exists(dir)) return None
    val golden = readOpt(s"$root/$repo/parsed/$ydir/$num.xhtml")
      .getOrElse(return None)
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
    val (prefix, space) = preset match {
      case "sou" => ("SOU ", "sou")
      case "ds" => ("Ds ", "ds")
      case "dir" => ("Dir. ", "dir")
      case _ => ("Prop. ", "prop")
    }
    val identifier = s"$prefix$basefile"
    val baseuri = s"https://lagen.nu/$space/$basefile"
    val (content, hocr, srcName, fontinfo) = (xmlBz2, hocrBz2) match {
      case (Some(x), _) =>
        val stem = x.getFileName.toString.stripSuffix(".xml.bz2")
        val fi = readOpt(s"$idir/$stem.xml.fontinfo")
          .map(PdfReader.parseFontinfo).getOrElse(Map.empty[String, String])
        val pdfName = if (repo == "propriksdagen" || repo == "soukb")
          "index.pdf" else s"$stem.pdf"
        (readBz2(x), false, pdfName, fi)
      case (None, Some(h)) => (readBz2(h), true, "index.pdf",
        Map.empty[String, String])
      case _ => return None
    }
    Some((Source(content, hocr, fontinfo, basefile, identifier, baseuri,
      srcName,
      metricsJson = readOpt(s"$idir/index.metrics.json"),
      pagemappingJson = readOpt(s"$idir/index.pagemapping.json"),
      decoder20Key = if (basefile == "1997/98:44")
        Some("Datalagskommittén") else None,
      preset = preset), golden))
  }

  // ------------------------------------------- golden skeleton extractor
  private def dom(xml: String): org.w3c.dom.Document = {
    val f = javax.xml.parsers.DocumentBuilderFactory.newInstance()
    f.setNamespaceAware(false)
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

  private def textOf(e: Element): String = e.getTextContent

  /** Extract the same skeleton [[OfftryckDoc.skeleton]] emits from a
    * reference parsed-XHTML golden. */
  private def goldenSkeleton(xml: String): Vector[String] = {
    val d = dom(xml)
    val out = Vector.newBuilder[String]
    def frag(e: Element): String = {
      val about = e.getAttribute("about")
      if (about.isEmpty) "-" else "#" + about.split("#").last
    }
    def walk(e: Element, depth: Int): Unit = {
      val pad = "  " * depth
      val cls = e.getAttribute("class")
      (e.getTagName, cls) match {
        case ("div", "frontmatter") =>
          out += s"${pad}frontmatter"
          childElems(e).foreach(walk(_, depth + 1))
        case ("h1", "prophuvudrubrik") =>
          out += s"${pad}prophuvudrubrik '${textOf(e)}'"
        case ("h1", "proprubrik") =>
          out += s"${pad}proprubrik '${textOf(e)}'"
        case ("div", "preamblesection") =>
          out += s"${pad}preamblesection ${frag(e)} " +
            s"'${e.getAttribute("content")}'"
          childElems(e).foreach(walk(_, depth + 1))
        case ("div", "section") =>
          out += s"${pad}section ${frag(e)} '${e.getAttribute("content")}'"
          childElems(e).foreach(walk(_, depth + 1))
        case ("div", "pseudosection") =>
          out += s"${pad}pseudosection '${e.getAttribute("content")}'"
          childElems(e).foreach(walk(_, depth + 1))
        case ("div", "unorderedsection") =>
          out += s"${pad}unorderedsection ${frag(e)} " +
            s"'${e.getAttribute("content")}'"
          childElems(e).foreach(walk(_, depth + 1))
        case ("div", "protokollsutdrag") =>
          out += s"${pad}protokollsutdrag ${frag(e)} " +
            s"'${e.getAttribute("content")}'"
          childElems(e).foreach(walk(_, depth + 1))
        case ("div", "appendix") =>
          out += s"${pad}appendix ${frag(e)} '${e.getAttribute("content")}'"
          childElems(e).foreach(walk(_, depth + 1))
        case ("div", "verbatim") =>
          out += s"${pad}verbatim"
          childElems(e).foreach(walk(_, depth + 1))
        case ("span", "sidbrytning") =>
          out += s"${pad}sid ${e.getAttribute("id").stripPrefix("sid")}"
        case ("div", "forfattningskommentar") =>
          // post-FSM visitor wrapper: flatten — children stay at the
          // section's depth in the pre-visitor tree
          childElems(e).foreach(walk(_, depth))
        case ("head", _) => ()
        case _ =>
          // textboxes (p), kommentar inner divs, spans: recurse — a
          // sidbrytning may hide inside
          childElems(e).foreach(walk(_, depth))
      }
    }
    val body = d.getDocumentElement
    childElems(body).filter(_.getTagName == "body")
      .foreach(b => childElems(b).foreach(walk(_, 0)))
    out.result()
  }

  private def diffReport(got: Vector[String], want: Vector[String])
      : String = {
    val sb = new StringBuilder
    val n = math.max(got.length, want.length)
    var shown = 0
    var i = 0
    while (i < n && shown < 24) {
      val g = got.lift(i).getOrElse("<missing>")
      val w = want.lift(i).getOrElse("<missing>")
      if (g != w) { sb.append(s"[$i] got:  $g\n[$i] want: $w\n"); shown += 1 }
      i += 1
    }
    sb.toString
  }

  private def check(repo: String, ydir: String, num: String,
                    preset: String = "proposition"): Unit = {
    assume(new java.io.File(root).isDirectory)
    val (src, golden) = load(repo, ydir, num, preset).getOrElse(
      fail(s"fixture $repo/$ydir/$num not loadable"))
    val body = OfftryckDoc.parse(src)
    val got = OfftryckDoc.skeleton(body)
    val want = goldenSkeleton(golden)
    assert(want.nonEmpty, s"golden skeleton for $ydir/$num is empty — " +
      "the extractor must be broken, every fixture has structure")
    if (sys.env.contains("GRAFT_DUMP_SKELETON"))
      println(s"== $repo $ydir/$num (${want.length} lines)\n" +
        want.mkString("\n"))
    assert(got == want,
      s"\nskeleton mismatch for $repo $ydir/$num " +
      s"(got ${got.length} lines, want ${want.length}):\n" +
      diffReport(got, want))
  }

  test("prop 2017/18:86 (digital, cached metrics+pagemapping)") {
    check("propregeringen", "2017-18", "86")
  }

  test("prop 1997/98:44 (OffsetDecoder20 legacy encoding)") {
    check("propregeringen", "1997-98", "44")
  }

  test("prop 1998/99:130 (kommentar chapter slice)") {
    check("propregeringen", "1998-99", "130")
  }

  test("prop 1999/2000:17 (protokollsutdrag structure)") {
    check("propregeringen", "1999-2000", "17")
  }

  test("prop 2005/06:173 (appendices)") {
    check("propregeringen", "2005-06", "173")
  }

  test("prop 2005/06:180") {
    check("propregeringen", "2005-06", "180")
  }

  test("prop 2008/09:140 (preamble slice)") {
    check("propregeringen", "2008-09", "140")
  }

  test("prop 2008/09:5 (frontmatter)") {
    check("propregeringen", "2008-09", "5")
  }

  test("prop 2012/13:182") {
    check("propregeringen", "2012-13", "182")
  }

  test("prop 2012/13:187") {
    check("propregeringen", "2012-13", "187")
  }

  test("prop 2013/14:167 (verbatim eudok segment)") {
    check("propregeringen", "2013-14", "167")
  }

  test("prop 2013/14:34 (appendices + unorderedsection)") {
    check("propregeringen", "2013-14", "34")
  }

  test("prop 2013/14:51") {
    check("propregeringen", "2013-14", "51")
  }

  test("prop 2016/17:14 (riksdagen xml)") {
    check("propriksdagen", "2016-17", "14")
  }

  test("prop 1987/88:155 (scanned hOCR, protokollsutdrag era)") {
    check("propriksdagen", "1987-88", "155")
  }

  test("prop 1991/92:167 (scanned hOCR)") {
    check("propriksdagen", "1991-92", "167")
  }

  test("prop 1992/93:30 (scanned hOCR, cached pagemapping)") {
    check("propriksdagen", "1992-93", "30")
  }

  test("dir 2014:158 (kommittédirektiv, DirAnalyzer)") {
    check("dirregeringen", "2014", "158", preset = "dir")
  }

  test("ds 2016:46 (DsAnalyzer frontmatter segmentation)") {
    check("dsregeringen", "2016", "46", preset = "ds")
  }

  test("sou 2013:75 (SOUAnalyzer)") {
    check("souregeringen", "2013", "75", preset = "sou")
  }

  test("sou 2017:66 (SOUAnalyzer)") {
    check("souregeringen", "2017", "66", preset = "sou")
  }

  test("sou 1972:47 (scanned KB hOCR, cover pagination)") {
    check("soukb", "1972", "47", preset = "sou")
  }
}
