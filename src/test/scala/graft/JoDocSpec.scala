package graft

import org.scalatest.funsuite.AnyFunSuite
import org.w3c.dom.Element
import graft.model.{SourceFile, Triple}
import graft.parse.JoDoc

/** JO decision family vs the reference's own fixtures
  * (test/files/repo/jo): the distilled graph — in-document title,
  * decision date with the issued fallback, split diarienummer values,
  * #US DocumentParts — must match the reference's .ttl, and the body
  * must recover the same abstract/section/blockquote skeleton as the
  * parsed .xhtml. */
class JoDocSpec extends AnyFunSuite {

  private val root = "/root/reference/test/files/repo/jo"
  private val conf = JoDoc.Conf(baseUri = "https://lagen.nu/avg/jo/")

  private def readBz2(p: String): String = {
    val in = new org.apache.commons.compress.compressors.bzip2
      .BZip2CompressorInputStream(java.nio.file.Files.newInputStream(
        java.nio.file.Paths.get(p)))
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  private def read(p: String): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(p)), "UTF-8")

  private def key(t: Triple) =
    (t.subj, t.pred, t.obj, t.objIsLiteral, t.objDatatype, t.objLang)

  private val provPred = graft.model.Vocab.PROV + "wasGeneratedBy"

  private def check(ydir: String, num: String): Unit = {
    assume(new java.io.File(root).isDirectory)
    val src = SourceFile("jo", s"jo/$ydir/$num.jo", "c0", "sv",
      readBz2(s"$root/intermediate/$ydir/$num/index.xml.bz2"))
    val parsed = JoDoc.parse(src, conf)
    val got = parsed.triples.filterNot(_.pred == provPred).map(key).toSet
    val want = TtlTestReader.parse(read(s"$root/distilled/$ydir/$num.ttl"))
      .filterNot(_.pred == provPred).map(key)
    val missing = want -- got
    val invented = got -- want
    assert(missing.isEmpty && invented.isEmpty,
      s"\n$ydir/$num missing (${missing.size}):\n" +
      missing.toVector.sortBy(_.toString).take(10).mkString("\n") +
      s"\ninvented (${invented.size}):\n" +
      invented.toVector.sortBy(_.toString).take(10).mkString("\n"))
    // body skeleton vs the parsed golden: abstract presence + section
    // titles + blockquote count
    val d = javax.xml.parsers.DocumentBuilderFactory.newInstance()
      .newDocumentBuilder().parse(new org.xml.sax.InputSource(
        new java.io.StringReader(read(s"$root/parsed/$ydir/$num.xhtml"))))
    def divs(cls: String): Vector[Element] = {
      val all = d.getElementsByTagName("div")
      (0 until all.getLength).map(all.item(_).asInstanceOf[Element])
        .filter(_.getAttribute("class") == cls).toVector
    }
    val wantSections = divs("unorderedsection").map(_.getAttribute("content"))
    val mine = graft.parse.TreeNode.fromXml(parsed.bodyXml)
    def collect(n: graft.parse.TreeNode, tag: String)
        : Vector[graft.parse.TreeNode] =
      (if (n.tag == tag) Vector(n) else Vector.empty) ++
        n.children.flatMap(collect(_, tag))
    assert(collect(mine, "UnorderedSection").flatMap(_.attr("title")) ==
      wantSections)
    assert(collect(mine, "Abstract").length == divs("beslutikorthet").length)
    val wantBq = d.getElementsByTagName("blockquote").getLength
    assert(collect(mine, "Blockquote").length == wantBq,
      s"blockquotes: got ${collect(mine, "Blockquote").length}, " +
      s"want $wantBq")
  }

  test("JO 6356-2012: distilled-graph parity + body skeleton") {
    check("2012", "6356")
  }

  test("JO 1000-2004: distilled-graph parity + body skeleton") {
    check("2004", "1000")
  }
}
