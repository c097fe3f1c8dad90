package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.parse.WordReader

/** WordReader vs the reference's own fixtures
  * (test/files/wordreader, driven like testWordReader.py's test_docx /
  * test_mislabeled; the antiword-dependent .doc cases are out of scope
  * — wordreader.py:80-111 shells out to a binary this sandbox lacks). */
class WordReaderSpec extends AnyFunSuite {

  private def readBytes(name: String): Array[Byte] =
    Fixtures.bytes(java.nio.file.Paths.get(
      s"/root/reference/test/files/wordreader/$name"))

  test("docx → simplified OOXML intermediate (test_docx)") {
    val (filetype, xml) = WordReader.read(readBytes("sample.docx"),
      "sample.docx")
    assert(filetype == "docx")
    // root element resolves in the OOXML namespace
    val doc = javax.xml.parsers.DocumentBuilderFactory.newInstance()
    doc.setNamespaceAware(true)
    val root = doc.newDocumentBuilder().parse(
      new java.io.ByteArrayInputStream(xml.getBytes("UTF-8")))
      .getDocumentElement
    assert(root.getNamespaceURI == WordReader.OoxmlNs)
    assert(root.getLocalName == "document")
    // the fixture's body text survives simplification + run merging
    assert(WordReader.text(xml)
      .contains("simple document in OOXML (.docx) format"))
    // simplification drops every attribute and non-keep-set tag
    assert(!xml.contains("w:sectPr") && !xml.contains("w:spacing"))
    assert(!xml.contains("w:rsidR"))
  }

  test("zip-signature sniffing overrides the suffix (test_mislabeled)") {
    val (filetype, xml) = WordReader.read(readBytes("mislabeled.doc"),
      "mislabeled.doc")
    assert(filetype == "docx")
    assert(WordReader.text(xml).nonEmpty)
  }

  test("adjacent same-format runs merge (_merge_ooxml)") {
    val src = s"""<w:document xmlns:w="${WordReader.OoxmlNs}"><w:body>
      <w:p>
        <w:r><w:t>Avgörand</w:t></w:r>
        <w:r><w:t>a</w:t></w:r>
        <w:r><w:t>tum</w:t></w:r>
        <w:r><w:rPr><w:b/></w:rPr><w:t>bold</w:t></w:r>
        <w:r><w:rPr><w:b/></w:rPr><w:t>ed</w:t></w:r>
      </w:p></w:body></w:document>"""
    val out = WordReader.mergeOoxml(WordReader.simplifyOoxml(src))
    assert(out.contains("<w:t>Avgörandatum</w:t>"))
    assert(out.contains("<w:t>bolded</w:t>"))
    // exactly two runs survive: the merged plain one, the merged bold one
    assert("<w:r>".r.findAllIn(out).length == 2)
  }

  test("legacy binary .doc is rejected with a clear error") {
    val bytes = readBytes("sample.doc")
    val e = intercept[UnsupportedOperationException] {
      WordReader.read(bytes, "sample.doc")
    }
    assert(e.getMessage.contains("antiword"))
  }
}
