package graft

import org.scalatest.funsuite.AnyFunSuite
import org.w3c.dom.Element
import graft.model.Triple
import graft.parse.DirTripsDoc

/** DirTrips family vs the reference's own fixtures
  * (test/files/repo/dirtrips): distilled-graph parity (Trips
  * plain-text extraction, title/identifier split, Departement/Beslut
  * key-values, org URIs) and body-skeleton parity (unordered section
  * titles, numbered sections, dash lists) with the parsed goldens. */
class DirTripsDocSpec extends AnyFunSuite {

  private val root = "/root/reference/test/files/repo/dirtrips"
  private val conf = DirTripsDoc.Conf(
    baseUri = "https://lagen.nu/dir/",
    orgBase = "https://lagen.nu/org/2008/")

  private def read(p: String): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(p)), "UTF-8")

  private def key(t: Triple) =
    (t.subj, t.pred, t.obj, t.objIsLiteral, t.objDatatype, t.objLang)

  private val provGen = graft.model.Vocab.PROV + "wasGeneratedBy"

  private def check(ydir: String, num: String): Unit = {
    assume(new java.io.File(root).isDirectory)
    val basefile = s"$ydir:$num"
    val parsed = DirTripsDoc.parse(
      read(s"$root/downloaded/$ydir/$num.html"), basefile, conf)
    val ttlPath = java.nio.file.Paths.get(
      s"$root/distilled/$ydir/$num.ttl")
    if (java.nio.file.Files.exists(ttlPath)) {
      val got = parsed.triples.filterNot(_.pred == provGen).map(key).toSet
      val want = TtlTestReader.parse(read(ttlPath.toString))
        .filterNot(_.pred == provGen).map(key)
      val missing = want -- got
      val invented = got -- want
      assert(missing.isEmpty && invented.isEmpty,
        s"\n$basefile missing (${missing.size}):\n" +
        missing.toVector.sortBy(_.toString).take(10).mkString("\n") +
        s"\ninvented (${invented.size}):\n" +
        invented.toVector.sortBy(_.toString).take(10).mkString("\n"))
    }
    // body skeleton: the unordered-section titles in document order
    val d = javax.xml.parsers.DocumentBuilderFactory.newInstance()
      .newDocumentBuilder().parse(new org.xml.sax.InputSource(
        new java.io.StringReader(read(s"$root/parsed/$ydir/$num.xhtml"))))
    val all = d.getElementsByTagName("div")
    val wantSections = (0 until all.getLength)
      .map(all.item(_).asInstanceOf[Element])
      .filter(e => e.getAttribute("class") == "unorderedsection")
      .map(_.getAttribute("content")).toVector
    val mine = graft.parse.TreeNode.fromXml(parsed.bodyXml)
    def collect(n: graft.parse.TreeNode, tag: String)
        : Vector[graft.parse.TreeNode] =
      (if (n.tag == tag) Vector(n) else Vector.empty) ++
        n.children.flatMap(collect(_, tag))
    assert(collect(mine, "UnorderedSection").flatMap(_.attr("title")) ==
      wantSections)
    val wantUl = d.getElementsByTagName("ul").getLength
    assert(collect(mine, "Strecksatslista").length == wantUl,
      s"dash lists: got ${collect(mine, "Strecksatslista").length}, " +
      s"want $wantUl")
  }

  test("dir 2005:96: distilled-graph + skeleton parity") {
    check("2005", "96")
  }

  test("dir 1994:103: distilled-graph + skeleton parity") {
    check("1994", "103")
  }

  test("dir 1987:42: distilled-graph + skeleton parity") {
    check("1987", "42")
  }
}
