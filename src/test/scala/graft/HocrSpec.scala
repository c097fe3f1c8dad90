package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.parse.PdfReader

/** PdfReader.parseHocr vs the reference's OWN canned hOCR fixtures and
  * its own assertions (testPDFReader.py test_ocr + test_fallback_ocr,
  * lines 160-218 — the suite runs from these canned intermediates
  * whenever tesseract is absent, exactly as we do). */
class HocrSpec extends AnyFunSuite {

  private def readFixture(name: String): String =
    new String(Fixtures.bytes(java.nio.file.Paths.get(
      s"/root/reference/test/files/pdfreader/intermediate/$name")), "UTF-8")

  private def normalizeSpace(s: String): String =
    s.split("\\s+").filter(_.nonEmpty).mkString(" ")

  test("scanned.hocr.html: the reference's test_ocr assertions") {
    val pdf = PdfReader.parseHocr(readFixture("scanned.hocr.html"))
    assert(pdf.pages.length == 2)

    // first element of the first textbox of the first page, scaled by
    // the pixel/point factor
    val el = pdf.pages(0).boxes(0).els(0)
    assert(el.text == "Regeringens ")
    assert(el.geom.get.top == 47)
    assert(el.geom.get.left == 38)
    assert(el.geom.get.height == 21)
    assert(el.geom.get.width == 118)

    // the fifth textbox (mostly normal text, with OCR errors kept)
    assert(normalizeSpace(pdf.pages(0).boxes(5).text) ==
      "Regeringen föreslår riksdagen att anta de förslag som har " +
        "tagits. upp i")
  }

  test("scanned-ecma-99.hocr.html: the test_fallback_ocr assertions") {
    val pdf = PdfReader.parseHocr(readFixture("scanned-ecma-99.hocr.html"))
    assert(pdf.pages.length == 2)
    assert(normalizeSpace(pdf.pages(0).boxes(1).text) ==
      "EUROPEAN COMPUTER MANUFACTURERS ASSOCIATION")
  }

  test("hOCR invariants: confidence bounds, par ids, synthetic fonts") {
    for (name <- Seq("scanned.hocr.html", "scanned-ecma-99.hocr.html")) {
      val pdf = PdfReader.parseHocr(readFixture(name))
      val boxes = pdf.pages.flatMap(_.boxes)
      assert(boxes.nonEmpty)
      boxes.foreach { b =>
        val c = b.confidence.getOrElse(fail(s"$name: box without confidence"))
        assert(c >= 0 && c <= 100)
        assert(b.parid.exists(_.startsWith("par_")),
          s"$name: line outside an ocr_par")
      }
      assert(pdf.fontspec.values.forall(_.family == "unknown"))
      // fontspec sizes are deduplicated line-average word heights
      assert(pdf.fontspec.values.map(_.size).toSet.size == pdf.fontspec.size)
    }
  }
}
