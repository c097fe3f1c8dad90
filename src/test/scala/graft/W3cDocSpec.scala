package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.model.{SourceFile, Triple}
import graft.parse.W3cDoc

/** W3C family vs the reference's own fixtures
  * (test/files/repo/w3c/{downloaded,distilled,parsed}, driven like the
  * RepoTester distill_test/parse_test): the full distilled graph —
  * document metadata, issued date from the "W3C Recommendation" header,
  * every #PS/#S DocumentPart with title and chapter — must match the
  * reference's own .ttl byte-for-value, and the section nesting must
  * match the parsed .xhtml. */
class W3cDocSpec extends AnyFunSuite {

  private val root = "/root/reference/test/files/repo/w3c"
  private val conf = W3cDoc.Conf(
    baseUri = "http://localhost:8000/res/w3c/",
    publisher = "http://localhost:8000/ext/w3c")

  private def read(p: String): String = {
    assume(new java.io.File(root).isDirectory)
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(p)), "UTF-8")
  }

  /** Strip graph + the engine-name prov triple for the compare. */
  private def key(t: Triple): (String, String, String, Boolean,
      Option[String], Option[String]) =
    (t.subj, t.pred, t.obj, t.objIsLiteral, t.objDatatype, t.objLang)

  private val provPred = graft.model.Vocab.PROV + "wasGeneratedBy"

  private def checkTtl(basefile: String): Unit = {
    val src = SourceFile("w3c", s"w3c/$basefile.html", "c0", "en",
      read(s"$root/downloaded/$basefile.html"))
    val parsed = W3cDoc.parse(src, conf)
    val got = parsed.triples.filterNot(_.pred == provPred).map(key).toSet
    val want = TtlTestReader.parse(read(s"$root/distilled/$basefile.ttl"))
      .filterNot(_.pred == provPred).map(key)
    val missing = want -- got
    val invented = got -- want
    assert(missing.isEmpty && invented.isEmpty,
      s"\n$basefile missing (${missing.size}):\n" +
      missing.toVector.sortBy(_.toString).take(12).mkString("\n") +
      s"\ninvented (${invented.size}):\n" +
      invented.toVector.sortBy(_.toString).take(12).mkString("\n"))
  }

  test("page-visibility: distilled graph parity with the reference") {
    checkTtl("page-visibility")
  }

  test("xslt: distilled graph parity with the reference") {
    checkTtl("xslt")
  }

  test("structure nesting: sections nest by ordinal depth") {
    val src = SourceFile("w3c", "w3c/xslt.html", "c0", "en",
      read(s"$root/downloaded/xslt.html"))
    val parsed = W3cDoc.parse(src, conf)
    val xml = parsed.bodyXml
    // the parsed golden nests #S2.1 (subsection) inside #S2 (section)
    assert(xml.contains("Subsection"))
    val secIdx = xml.indexOf("""<Section ordinal="2"""")
    val subIdx = xml.indexOf("""<Subsection ordinal="2.1"""")
    assert(secIdx >= 0 && subIdx > secIdx)
  }
}
