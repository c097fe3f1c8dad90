package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.parse.PdfReader
import graft.pdf.PdfAnalyzer

/** PdfAnalyzer vs the reference's OWN testPDFAnalyze.py (every
  * expected value below is verbatim from its assertions), over its own
  * lipsum.xml intermediate (test/files/pdfanalyze/). */
class PdfAnalyzerSpec extends AnyFunSuite {

  private lazy val pdf = PdfReader.parseXml(new String(
    Fixtures.bytes(java.nio.file.Paths.get(
      "/root/reference/test/files/pdfanalyze/lipsum.xml")), "UTF-8"))
  private def analyzer = new PdfAnalyzer(pdf)

  test("documents (test_documents)") {
    assert(analyzer.documents == Seq((0, 3, "main")))
  }

  test("vertical counters (test_vcounters)") {
    val v = analyzer.countVerticalMargins(0, 3)
    assert(v.keySet == Set("bottommargin", "topmargin", "pageheight"))
    assert(v("pageheight").keys.max == 1262)
    assert(v("bottommargin")(76) == 22) // charcount from 2 pages
    assert(v("topmargin")(1167) == 3) // pagenumbers on 3 pages
  }

  test("horizontal counters (test_hcounters)") {
    val a = analyzer
    val h = a.countHorizontalMargins(0, 3)
    assert(h.keySet == Set("leftmargin", "rightmargin", "leftmargin_even",
      "rightmargin_even", "pagewidth"))
    // 775, 778 are pagenumbers on pages 1 + 3
    assert(h("leftmargin").keySet == Set(135, 775, 778))
    assert(h("leftmargin_even").keys.toSeq == Seq(108))
    // most_common(1)[0][0]
    assert(a.findmargin(h("rightmargin"), a.Floor, quantize = false) == 784)
  }

  test("style counters (test_stylecounters)") {
    val c = analyzer.countStyles(1, 2)
    assert(c.toMap == Map(
      ("Comic Sans MS", 14) -> 5922L,
      ("Cambria,Bold", 14) -> 133L,
      ("Cambria,Bold", 17) -> 128L,
      ("Cambria,Bold", 19) -> 61L))
  }

  test("horizontal margin analysis (test_analyze_hmargins)") {
    val a = analyzer
    val h = a.analyzeHorizontalMargins(a.countHorizontalMargins(0, 3))
    assert(h == Map("leftmargin" -> 135, "leftmargin_even" -> 108,
      "pagewidth" -> 892, "rightmargin" -> 780, "rightmargin_even" -> 760))
  }

  test("vertical margin analysis (test_analyze_vmargins)") {
    val a = analyzer
    val v = a.countVerticalMargins(0, 3)
    // the wordy header is considered part of the main text at the
    // default threshold — the reference's own comment
    assert(a.analyzeVerticalMargins(v) ==
      Map("bottommargin" -> 1149, "pageheight" -> 1262, "topmargin" -> 53))
    a.headerSignificanceThreshold = 0.004
    assert(a.analyzeVerticalMargins(v) ==
      Map("bottommargin" -> 1149, "pageheight" -> 1262, "topmargin" -> 107))
  }

  test("style analysis (test_analyze_styles)") {
    val a = analyzer
    val s = a.analyzeStyles(a.countStyles(1, 3))
    assert(s == Map(
      "default" -> (("Comic Sans MS", 14)),
      "h1" -> (("Cambria,Bold", 19)),
      "h2" -> (("Cambria,Bold", 17)),
      "h3" -> (("Cambria,Bold", 14))))
  }

  test("full metrics (test_margins)") {
    val (ints, styles, scanned) = analyzer.metrics(startpage = 1)
    assert(ints == Map("bottommargin" -> 1149, "topmargin" -> 53,
      "leftmargin" -> 135, "leftmargin_even" -> 108,
      "pageheight" -> 1262, "pagewidth" -> 892,
      "rightmargin" -> 780, "rightmargin_even" -> 760))
    assert(styles == Map(
      "default" -> (("Comic Sans MS", 14)),
      "h1" -> (("Cambria,Bold", 19)),
      "h2" -> (("Cambria,Bold", 17)),
      "h3" -> (("Cambria,Bold", 14))))
    assert(!scanned)
  }

  test("subdocument metrics drop odd-page margins (test_margins_subdocument)") {
    // a single even page: no odd-page left/right margins can exist
    val (ints, styles, _) = analyzer.metrics(startpage = 1, pagecount0 = 1)
    assert(ints == Map("bottommargin" -> 1149, "topmargin" -> 53,
      "leftmargin_even" -> 108, "pageheight" -> 1262, "pagewidth" -> 892,
      "rightmargin_even" -> 760))
    assert(styles == Map(
      "default" -> (("Comic Sans MS", 14)),
      "h1" -> (("Cambria,Bold", 19)),
      "h2" -> (("Cambria,Bold", 17)),
      "h3" -> (("Cambria,Bold", 14))))
  }

  test("pagination: printed page numbers recovered from box stream") {
    val a = analyzer
    val mapping = a.paginate("lipsum.pdf").toMap
    // lipsum pages carry printed numbers matching their physical order
    assert(mapping.size == 3)
    assert(mapping.values.forall(_.isLeft))
  }
}
