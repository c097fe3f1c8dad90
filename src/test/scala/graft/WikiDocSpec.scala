package graft

import org.scalatest.funsuite.AnyFunSuite
import org.w3c.dom.Element
import graft.model.SourceFile
import graft.parse.{LawRef, WikiDoc}

/** Wiki keyword-description family vs the reference's own mediawiki
  * fixtures (test/files/repo/mediawiki): body rendering (paragraphs,
  * bold, keyword links, statute citations), subject lifting, and
  * the head metadata — compared canonically against the parsed
  * .xhtml goldens the reference's RepoTester asserts. */
class WikiDocSpec extends AnyFunSuite {

  private val root = "/root/reference/test/files/repo/mediawiki"
  private val conf = WikiDoc.Conf(
    keywordBase = "https://lagen.nu/begrepp/",
    lawConf = LawRef.Conf(base = "https://lagen.nu/", baseLaw = None,
      abbrevs = Map("TF" -> "1949:105")))

  private def read(p: String): String =
    // fixture filenames are NFD-decomposed on disk (the reference's
    // pathfrag_to_basefile NFC-normalizes them back on read)
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      java.text.Normalizer.normalize(p,
        java.text.Normalizer.Form.NFD))), "UTF-8")

  private def dom(xml: String): org.w3c.dom.Document = {
    val f = javax.xml.parsers.DocumentBuilderFactory.newInstance()
    f.newDocumentBuilder().parse(new org.xml.sax.InputSource(
      new java.io.StringReader(xml)))
  }

  /** Canonical body rendering shared by both sides: tags + attrs +
    * text, whitespace preserved. */
  private def canonDom(e: Element): String = {
    val sb = new StringBuilder
    def walk(n: org.w3c.dom.Node): Unit = n match {
      case el: Element =>
        sb.append("<").append(el.getTagName)
        if (el.hasAttribute("href"))
          sb.append(" href=").append(el.getAttribute("href"))
        sb.append(">")
        val kids = el.getChildNodes
        (0 until kids.getLength).foreach(i => walk(kids.item(i)))
        sb.append("</").append(el.getTagName).append(">")
      case t if t.getNodeType == org.w3c.dom.Node.TEXT_NODE =>
        sb.append(t.getNodeValue)
      case _ => ()
    }
    walk(e)
    sb.toString
  }

  private def canonTree(n: graft.parse.TreeNode): String = n match {
    case graft.parse.TreeNode("str", _, Some(t), _) => t
    case _ =>
      val href = n.attr("href").map(h => s" href=$h").getOrElse("")
      s"<${n.tag}$href>${n.children.map(canonTree).mkString}</${n.tag}>"
  }

  private def check(fixture: String, basefile: String): Unit = {
    assume(new java.io.File(root).isDirectory)
    val src = SourceFile("wiki", s"wiki/$fixture", "c0", "sv",
      read(s"$root/downloaded/$fixture"))
    val parsed = WikiDoc.parse(src, conf)
    val goldenXml = read(s"$root/parsed/$basefile.xhtml")
    val d = dom(goldenXml)
    // uri
    val head = d.getElementsByTagName("head").item(0)
      .asInstanceOf[Element]
    assert(parsed.uri == head.getAttribute("about"))
    // title
    val title = d.getElementsByTagName("title").item(0).getTextContent
    assert(parsed.title == title)
    // subjects
    val links = d.getElementsByTagName("link")
    val wantSubjects = (0 until links.getLength).map(links.item(_)
      .asInstanceOf[Element])
      .filter(_.getAttribute("rel") == "dcterms:subject")
      .map(_.getAttribute("href")).toSet
    val gotSubjects = parsed.triples.filter(
      _.pred == graft.model.Vocab.dcterms("subject")).map(_.obj).toSet
    assert(gotSubjects == wantSubjects)
    // body: the golden's <body><div> vs the rendered div, canonically
    val body = d.getElementsByTagName("body").item(0)
      .asInstanceOf[Element]
    val goldenDiv = {
      val kids = body.getChildNodes
      (0 until kids.getLength).map(kids.item)
        .collectFirst { case e: Element => e }.get
    }
    val want = canonDom(goldenDiv).replaceAll(">\\s+<", "><").trim
    val wikitext = parsed.bodyXml
    val mine = graft.parse.TreeNode.fromXml(wikitext)
    val got = canonTree(mine).replaceAll(">\\s+<", "><").trim
    assert(got == want, s"\n got: $got\nwant: $want")
  }

  test("Allmän domstol: bold + keyword links + category lift") {
    check("Allmän_domstol.xml", "Allmän_domstol")
  }

  test("Anskaffarfrihet: statute citation (TF kortlagrum) linked") {
    check("Anskaffarfrihet.xml", "Anskaffarfrihet")
  }

  test("Kategori page: keyword uri with Kategori: prefix") {
    check("Kategori/Allmän_förvaltningsrätt.xml",
      "Kategori/Allmän_förvaltningsrätt")
  }
}
