package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.parse.PdfReader
import graft.parse.PdfReader._

/** PdfReader vs the REFERENCE'S OWN test suite: every input fragment
  * and every `want` serialization below is verbatim from
  * testPDFReader.py (XMLRead + parts of Read), driven over the same
  * pdf2xml page template its _parse_xml helper builds; the sample-file
  * test reads the reference's own intermediate artifact
  * (test/files/pdfreader/intermediate/sample.xml). */
class PdfReaderSpec extends AnyFunSuite {

  private def parseFrag(frag: String): PdfDoc =
    PdfReader.parseXml(s"""<?xml version="1.0" encoding="UTF-8"?>
<!DOCTYPE pdf2xml SYSTEM "pdf2xml.dtd">
<pdf2xml producer="poppler" version="0.24.3">
<page number="1" position="absolute" top="0" left="0" height="750" width="500">
$frag
</page>
</pdf2xml>""")

  test("grandchildren: nested b-in-i with tail (test_grandchildren)") {
    val pdf = parseFrag("""
<fontspec id="12" size="11" family="TimesNewRomanPS-BoldItalicMT" color="#000000"/>
<text top="270" left="278" width="450" height="12" font="12">
   <i><b>52 par</b> Sanktionsavgiften ska </i>
</text>
""")
    val box = pdf.pages(0).boxes(0)
    assert(box.els.length == 2)
    assert(box.els(0).tag.contains("ib"))
    assert(box.els(0).text == "52 par")
    assert(box.els(1).tag.contains("i"))
    assert(box.els(1).text == " Sanktionsavgiften ska ")
  }

  test("whitespace normalization (test_whitespace_normalization)") {
    val pdf = parseFrag("""
<fontspec id="0" size="21" family="CCQUSK+Calibri-Bold" color="#345a8a"/>
<text top="146" left="135" width="155" height="29" font="0"><b>Document	  title	  </b></text>""")
    assert(pdf.pages(0).boxes(0).text == "Document title ")
  }

  test("multiple textelements keep tag runs (test_multiple_textelements)") {
    val pdf = parseFrag("""
<fontspec id="1" size="5" family="X" color="#00000"/>
<text top="0" left="0" width="23" height="13" font="1"><b>foo</b> <b>bar</b></text>
""")
    assert(pdf.pages(0).boxes(0).text == "foo bar")
    assert((pdf.pages(0).boxes(0).els(0) + pdf.pages(0).boxes(0).els(1)) ==
      TextEl("foo bar", Some("b")))
    val want = """<Textbox bottom="13" fontid="1" height="13" left="0" lineheight="0" lines="0" right="23" top="0" width="23">
  <Textelement tag="b">foo </Textelement>
  <Textelement tag="b">bar</Textelement>
</Textbox>
"""
    assert(PdfReader.serializeBox(pdf.pages(0).boxes(0)) == want)

    val pdf2 = parseFrag("""
<fontspec id="0" size="5" family="X" color="#00000"/>
<text top="374" left="508" width="211" height="14" font="0">näringsidkaren <i>en</i> <i>varning. En var-</i></text>
""")
    val want2 = """<Textbox bottom="388" fontid="0" height="14" left="508" lineheight="0" lines="0" right="719" top="374" width="211">
  <Textelement>näringsidkaren </Textelement>
  <Textelement tag="i">en </Textelement>
  <Textelement tag="i">varning. En var-</Textelement>
</Textbox>
"""
    assert(PdfReader.serializeBox(pdf2.pages(0).boxes(0)) == want2)
  }

  test("inline footnote marker merges as superscript (test_footnote)") {
    val pdf = parseFrag("""
<fontspec id="7" size="14" family="TROYEM+OriginalGaramondBT-Roman" color="#000000"/>
<fontspec id="15" size="7" family="TROYEM+OriginalGaramondBT-Roman" color="#000000"/>
<text top="830" left="85" width="241" height="20" font="7">bindande verkan för det allmänna.</text>
<text top="829" left="327" width="5" height="12" font="15">7</text>
<text top="830" left="332" width="227" height="20" font="7">Bestämmelsen kan således inte </text>""")
    val want = """<Page height="750" number="1" width="500">
  <Textbox bottom="850" fontid="7" height="21" left="85" lineheight="0" lines="0" right="559" top="829" width="474">
    <Textelement>bindande verkan för det allmänna.</Textelement>
    <Textelement tag="sup">7</Textelement>
    <Textelement>Bestämmelsen kan således inte </Textelement>
  </Textbox>
</Page>
"""
    assert(PdfReader.serializePage(pdf.pages(0)) == want)
  }

  test("footnote marker at line end (test_footnote_lineending)") {
    val pdf = parseFrag("""
<fontspec id="0" size="13" family="GGKKGC+TimesNewRomanPSMT" color="#000000"/>
<fontspec id="4" size="13" family="GGKKID+TimesNewRomanPS-ItalicMT" color="#000000"/>
<fontspec id="7" size="7" family="GGKKGC+TimesNewRomanPSMT" color="#000000"/>
<text top="161" left="291" width="401" height="17" font="0">Härigenom föreskrivs i fråga om mervärdesskattelagen (1994:200)</text>
<text top="159" left="692" width="5" height="11" font="7">7</text>
<text top="161" left="697" width="4" height="17" font="0"> </text>
<text top="178" left="291" width="249" height="17" font="4"><i>dels</i> att 1 kap. 12 § ska upphöra att gälla, </text>
""")
    val want = """<Page height="750" number="1" width="500">
  <Textbox bottom="178" fontid="0" height="19" left="291" lineheight="0" lines="0" right="697" top="159" width="406">
    <Textelement>Härigenom föreskrivs i fråga om mervärdesskattelagen (1994:200)</Textelement>
    <Textelement tag="sup">7</Textelement>
  </Textbox>
  <Textbox bottom="195" fontid="4" height="17" left="291" lineheight="0" lines="0" right="540" top="178" width="249">
    <Textelement tag="i">dels</Textelement>
    <Textelement> att 1 kap. 12 § ska upphöra att gälla, </Textelement>
  </Textbox>
</Page>
"""
    assert(PdfReader.serializePage(pdf.pages(0)) == want)
  }

  test("linked footnote marker (test_linked_footnote)") {
    val pdf = parseFrag("""
<fontspec id="7" size="14" family="TROYEM+OriginalGaramondBT-Roman" color="#000000"/>
<fontspec id="15" size="7" family="TROYEM+OriginalGaramondBT-Roman" color="#000000"/>
<text top="830" left="85" width="241" height="20" font="7">bindande verkan för det allmänna.</text>
<text top="829" left="327" width="5" height="12" font="15"><a href="unik-kunskap-genom-registerforskning-sou-201445.html#120">7</a></text>
<text top="830" left="332" width="227" height="20" font="7"><a href="unik-kunskap-genom-registerforskning-sou-201445.html#120"> </a>Bestämmelsen kan således inte </text>
""")
    val want = """<Page height="750" number="1" width="500">
  <Textbox bottom="850" fontid="7" height="21" left="85" lineheight="0" lines="0" right="559" top="829" width="474">
    <Textelement>bindande verkan för det allmänna.</Textelement>
    <LinkedTextelement tag="s" uri="unik-kunskap-genom-registerforskning-sou-201445.html#120">7</LinkedTextelement>
    <LinkedTextelement uri="unik-kunskap-genom-registerforskning-sou-201445.html#120"> </LinkedTextelement>
    <Textelement>Bestämmelsen kan således inte </Textelement>
  </Textbox>
</Page>
"""
    assert(PdfReader.serializePage(pdf.pages(0)) == want)
  }

  test("footer footnote opens a new box (test_footnote_footer)") {
    val pdf = parseFrag("""
<fontspec id="7" size="14" family="TROYEM+OriginalGaramondBT-Roman" color="#000000"/>
<fontspec id="15" size="7" family="TROYEM+OriginalGaramondBT-Roman" color="#000000"/>
<fontspec id="16" size="10" family="TROYEM+OriginalGaramondBT-Roman" color="#000000"/>
<fontspec id="17" size="5" family="TROYEM+OriginalGaramondBT-Roman" color="#000000"/>
<text top="849" left="85" width="472" height="20" font="7">ligga till grund för några individuella rättigheter. I 2 kap. 4 och 5 §§ </text>
<text top="891" left="85" width="4" height="9" font="17">7</text>
<text top="891" left="89" width="258" height="15" font="16"> Prop. 1975/76:209 s. 128, prop. 2009/10:80 s. 173. </text>
""")
    val want = """<Page height="750" number="1" width="500">
  <Textbox bottom="869" fontid="7" height="20" left="85" lineheight="0" lines="0" right="557" top="849" width="472">
    <Textelement>ligga till grund för några individuella rättigheter. I 2 kap. 4 och 5 §§ </Textelement>
  </Textbox>
  <Textbox bottom="906" fontid="16" height="15" left="85" lineheight="0" lines="0" right="347" top="891" width="262">
    <Textelement tag="sup">7</Textelement>
    <Textelement> Prop. 1975/76:209 s. 128, prop. 2009/10:80 s. 173. </Textelement>
  </Textbox>
</Page>
"""
    assert(PdfReader.serializePage(pdf.pages(0)) == want)
  }

  test("links: uri-carrying elements (test_links)") {
    val pdf = parseFrag("""
<fontspec id="6" size="14" family="CNMEID+TradeGothic,Bold" color="#000000"/>
<fontspec id="8" size="14" family="CNMEIF+OrigGarmndBT" color="#000000"/>
<text top="310" left="81" width="10" height="20" font="6"><a href="nya-avfallsregler-ds-200937.html#7"><b>1</b></a></text>
<text top="384" left="81" width="21" height="20" font="8"><a href="nya-avfallsregler-ds-200937.html#9">2.1</a></text>
""")
    val page = pdf.pages(0)
    assert(page.boxes(0).els(0).linked)
    assert(page.boxes(0).els(0).text == "1")
    assert(page.boxes(0).els(0).tag.contains("b"))
    assert(page.boxes(0).els(0).uri.contains(
      "nya-avfallsregler-ds-200937.html#7"))
    assert(page.boxes(1).els(0).linked)
    assert(page.boxes(1).els(0).text == "2.1")
    assert(page.boxes(1).els(0).tag.isEmpty)
    assert(page.boxes(1).els(0).uri.contains(
      "nya-avfallsregler-ds-200937.html#9"))
  }

  test("comments tolerated (test_comment)") {
    val pdf = parseFrag("""
<fontspec id="1" size="11" family="TimesNewRomanPS" color="#000000"/>
<text top="270" left="278" width="450" height="12" font="1">First line</text>
<!-- comments like this won't appear in real pdf2xml output, but might appear
     in test cases -->
<text top="290" left="278" width="450" height="12" font="1">Second line</text>
""")
    val want = """<Page height="750" number="1" width="500">
  <Textbox bottom="282" fontid="1" height="12" left="278" lineheight="0" lines="0" right="728" top="270" width="450">
    <Textelement>First line</Textelement>
  </Textbox>
  <Textbox bottom="302" fontid="1" height="12" left="278" lineheight="0" lines="0" right="728" top="290" width="450">
    <Textelement>Second line</Textelement>
  </Textbox>
</Page>
"""
    assert(PdfReader.serializePage(pdf.pages(0)) == want)
  }

  test("empty tagged box is kept empty (test_empty)") {
    val pdf = parseFrag("""
<fontspec id="3" size="11" family="TimesNewRomanPS" color="#000000"/>
<text top="686" left="148" width="4" height="18" font="3">
  <b> </b>
</text>
""")
    val want = """<Page height="750" number="1" width="500">
  <Textbox bottom="704" fontid="3" height="18" left="148" lineheight="0" lines="0" right="152" top="686" width="4" />
</Page>
"""
    assert(PdfReader.serializePage(pdf.pages(0)) == want)
  }

  test("trailing whitespace-only tag folds in (test_ending_whitespace_tag)") {
    val pdf = parseFrag("""
<fontspec id="3" size="11" family="TimesNewRomanPS" color="#000000"/>
<text top="686" left="148" width="4" height="18" font="3">Something<i> </i></text>
""")
    val want = """<Page height="750" number="1" width="500">
  <Textbox bottom="704" fontid="3" height="18" left="148" lineheight="0" lines="0" right="152" top="686" width="4">
    <Textelement>Something </Textelement>
  </Textbox>
</Page>
"""
    assert(PdfReader.serializePage(pdf.pages(0)) == want)

    val pdf2 = parseFrag("""
<fontspec id="3" size="11" family="TimesNewRomanPS" color="#000000"/>
<text top="686" left="148" width="4" height="18" font="3">Something<i> </i></text>
<text top="706" left="148" width="4" height="18" font="3">Else</text>
""")
    val glued = pdf2.pages(0).boxes(0) + pdf2.pages(0).boxes(1)
    assert(PdfReader.asXhtml(glued) == "<p>Something Else</p>")
  }

  test("middle whitespace-only tag (test_middle_whitespace_tag)") {
    val pdf = parseFrag("""
<fontspec id="3" size="11" family="TimesNewRomanPS" color="#000000"/>
<text top="686" left="148" width="4" height="18" font="3"><b>Verksamhetsregion<i> </i></b><b>Lund </b></text>
""")
    val want = """<Page height="750" number="1" width="500">
  <Textbox bottom="704" fontid="3" height="18" left="148" lineheight="0" lines="0" right="152" top="686" width="4">
    <Textelement tag="b">Verksamhetsregion </Textelement>
    <Textelement tag="b">Lund </Textelement>
  </Textbox>
</Page>
"""
    assert(PdfReader.serializePage(pdf.pages(0)) == want)
  }

  test("empty italic after footnote glues following box " +
       "(test_after_footnote_tag)") {
    val pdf = parseFrag("""
	<fontspec id="0" size="12" family="Times New Roman" color="#000000"/>
	<fontspec id="4" size="12" family="Times New Roman,Italic" color="#000000"/>
	<fontspec id="9" size="7" family="Times New Roman" color="#000000"/>
<text top="63" left="283" width="37" height="13" font="0">20 a §</text>
<text top="60" left="320" width="5" height="9" font="9">4</text>
<text top="442" left="304" width="4" height="13" font="4"><i> </i></text>
<text top="460" left="306" width="41" height="13" font="4"><i>20 b § </i></text>
""")
    val want = """<Page height="750" number="1" width="500">
  <Textbox bottom="76" fontid="0" height="16" left="283" lineheight="0" lines="0" right="325" top="60" width="42">
    <Textelement>20 a §</Textelement>
    <Textelement tag="sup">4</Textelement>
  </Textbox>
  <Textbox bottom="473" fontid="4" height="31" left="304" lineheight="0" lines="0" right="347" top="442" width="43">
    <Textelement tag="i">20 b § </Textelement>
  </Textbox>
</Page>
"""
    assert(PdfReader.serializePage(pdf.pages(0)) == want)
  }

  test("space insertion across glued lines (test_space_insertion)") {
    val pdf = parseFrag("""
	<fontspec id="10" size="7" family="Times New Roman" color="#000000"/>
<text top="699" left="327" width="226" height="20" font="10"><i>Myndig-</i></text>
<text top="720" left="327" width="230" height="20" font="10"><i>heten ska </i>lämna<i> </i></text>
<text top="740" left="327" width="230" height="20" font="10"><i>enligt</i>  23 a §.</text>
""")
    val combined = pdf.pages(0).boxes(0) + pdf.pages(0).boxes(1) +
      pdf.pages(0).boxes(2)
    val want = """<Textbox bottom="760" fontid="10" height="61" left="327" lineheight="0" lines="0" right="557" top="699" width="230">
  <Textelement tag="i">Myndigheten ska </Textelement>
  <Textelement>lämna </Textelement>
  <Textelement tag="i">enligt</Textelement>
  <Textelement> 23 a §.</Textelement>
</Textbox>
"""
    assert(PdfReader.serializeBox(combined) == want)
    assert(PdfReader.asXhtml(combined) ==
      "<p><i>Myndigheten ska </i>lämna <i>enligt</i> 23 a §.</p>")
  }

  test("space insertion with malformed markup (test_space_insertion_2)") {
    val pdf = parseFrag("""
<fontspec id="4" size="7" family="Times New Roman" color="#000000"/>
<text top="828" left="86" width="552" height="17" font="4"><i>balansräkning</i> samt</text>
<text top="851" left="86" width="552" height="17" font="4"><i>specifikationer.  </i>Vidare</i></text>
""")
    val combined = pdf.pages(0).boxes(0) + pdf.pages(0).boxes(1)
    assert(PdfReader.asXhtml(combined) ==
      "<p><i>balansräkning</i> samt <i>specifikationer. </i>Vidare</p>")
  }

  test("space insertion mid-word italics (test_space_insertion_3)") {
    val pdf = parseFrag("""
<fontspec id="0" size="7" family="Times New Roman" color="#000000"/>
<text top="1134" left="86" width="552" height="17" font="0">begreppet  <i>närings</i>verksamhet i</text>
<text top="1157" left="86" width="78" height="17" font="0">2 kap. 6 §.</text>
""")
    val combined = pdf.pages(0).boxes(0) + pdf.pages(0).boxes(1)
    assert(PdfReader.asXhtml(combined) ==
      "<p>begreppet <i>närings</i>verksamhet i 2 kap. 6 §.</p>")
  }

  test("space insertion all-ws italic run (test_space_insertion_4)") {
    val pdf = parseFrag("""
<fontspec id="0" size="7" family="Times New Roman" color="#000000"/>
<text top="896" left="86" width="552" height="17" font="0"><i>sidoordnad bokföring</i>,<i>  </i>samt</text>
""")
    assert(PdfReader.asXhtml(pdf.pages(0).boxes(0)) ==
      "<p><i>sidoordnad bokföring</i>, samt</p>")
  }

  // ----------------------------------------------------- encoded fonts
  private def readIntermediate(name: String): (String, Map[String, String]) = {
    val dir = "/root/reference/test/files/pdfreader/intermediate"
    val xml = new String(Fixtures.bytes(
      java.nio.file.Paths.get(s"$dir/$name.xml")), "UTF-8")
    val fiPath = java.nio.file.Paths.get(s"$dir/$name.xml.fontinfo")
    val fi =
      if (java.nio.file.Files.exists(fiPath))
        PdfReader.parseFontinfo(
          new String(java.nio.file.Files.readAllBytes(fiPath), "UTF-8"))
      else Map.empty[String, String]
    (xml, fi)
  }

  test("0x1d offset decoding (test_1d_encoding)") {
    val (xml, fi) = readIntermediate("custom-encoding")
    val pdf = PdfReader.parseXml(xml, fi,
      new graft.parse.PdfDecoders.OffsetDecoder1d)
    val tbs = pdf.textboxes()
    assert(tbs(5).text == "Göran Persson")
    assert(tbs(6).text == "Bosse Ringholm")
    assert(tbs(7).text == "(Finansdepartementet)")
  }

  test("0x20 offset decoding with bold heuristics (test_20_encoding)") {
    val (xml, fi) = readIntermediate("prop_1997_98_44")
    val pdf = PdfReader.parseXml(xml, fi,
      new graft.parse.PdfDecoders.OffsetDecoder20(
        Some("Datalagskommittén")))
    val page = pdf.pages(0)
    def fam(b: PdfReader.Textbox) = pdf.fontOf(b).family
    assert(page.boxes(0).text == "Personuppgiftslag") // unencoded
    assert(page.boxes(1).text == "Laila Freivalds")
    assert(page.boxes(2).text == "Pierre Schori")
    // footnote glueing
    assert(page.boxes(3).text == "Härigenom föreskrivs1 följande.")
    assert(page.boxes(3).width == 241)
    assert(page.boxes(3).right == 326)
    assert(page.boxes(3).els(0).text == "Härigenom föreskrivs")
    assert(page.boxes(3).els(1) ==
      PdfReader.TextEl("1", Some("sup")))
    assert(page.boxes(3).els(2).text == " följande.")
    assert(page.boxes(4).text == "Allmänna bestämmelser")
    assert(fam(page.boxes(4)) == "Times.New.Roman.Fet0100") // stays
    assert(page.boxes(4).els(0).tag.isEmpty)
    assert(page.boxes(5).text == "Syftet med lagen")
    assert(fam(page.boxes(5)) == "Times-Roman") // re-typed to default
    assert(page.boxes(5).els(0).tag.contains("i"))
    assert(page.boxes(6).text ==
      "1 § Syftet med denna lag är att skydda människor mot att " +
      "deras personli-")
    assert(fam(page.boxes(6)) == "Times-Roman")
    assert(page.boxes(6).els(0).text == "1 §")
    assert(page.boxes(6).els(0).tag.contains("b"))
    assert(page.boxes(6).els(1).tag.isEmpty)
    assert(page.boxes(8).text ==
      "Personuppgiftsansvarig Den som ensam eller tillsammans med andra")
    assert(page.boxes(8).els(0).text == "Personuppgiftsansvarig ")
    assert(page.boxes(8).els(0).tag.contains("i"))
    assert(page.boxes(8).els(1).tag.isEmpty)
    assert(page.boxes(14).text ==
      "Regeringens bedömning: En lagstiftning som reglerar själva hante-")
    assert(fam(page.boxes(14)) == "Times-Roman")
    assert(page.boxes(14).els(0).text == "Regeringens bedömning:")
    assert(page.boxes(14).els(0).tag.contains("b"))
    assert(page.boxes(14).els(1).tag.isEmpty)
    assert(page.boxes(16).text ==
      "Datalagskommitténs bedömning överensstämmer med regeringens.")
    assert(fam(page.boxes(16)) == "Times-Roman")
    assert(page.boxes(16).els(0).text == "Datalagskommitténs bedömning")
    assert(page.boxes(16).els(0).tag.contains("b"))
    assert(page.boxes(16).els(1).tag.isEmpty)
    assert(page.boxes(36).text ==
      "Remissinstanserna: Kammarrätten i Göteborg anser att den " +
      "registre-")
    assert(fam(page.boxes(36)) == "Times-Roman")
    assert(page.boxes(36).els(0).text == "Remissinstanserna:")
    assert(page.boxes(36).els(0).tag.contains("b"))
    assert(page.boxes(36).els(1).tag.isEmpty)
    assert(page.boxes(36).els(2).text == "Kammarrätten i Göteborg ")
    assert(page.boxes(36).els(2).tag.contains("i"))
    assert(page.boxes(36).els(3).tag.isEmpty)
    // ")" encoded as TAB
    assert(page.boxes(39).els(0).text ==
      "Landsorganisationen i Sverige (LO)")
    assert(page.boxes(39).els(0).tag.contains("i"))
  }

  test("per-font offset auto-detection (test_autodetect_encoding)") {
    val (xml, fi) = readIntermediate("multiple-encodings")
    val pdf = PdfReader.parseXml(xml, fi,
      new graft.parse.PdfDecoders.DetectingDecoder)
    val page = pdf.pages(0)
    assert(page.boxes(0).text ==
      "Detta är helt vanlig icke-kodad text på svenska.")
    assert(page.boxes(1).text ==
      "mellan Konungariket Sveriges regering och Konungariket Danmarks")
    assert(page.boxes(2).text ==
      "Skälen för regeringens bedömning och förslag")
  }

  // --------------------------------------------------- sample artifact
  test("the reference's own sample.xml intermediate (test_basic)") {
    val xml = new String(Fixtures.bytes(
      java.nio.file.Paths.get(
        "/root/reference/test/files/pdfreader/intermediate/sample.xml")),
      "UTF-8")
    val pdf = PdfReader.parseXml(xml)
    assert(!pdf.isEmpty)
    assert(pdf.pages.length == 1)
    assert(pdf.pages(0).boxes(0).text == "Document title ")
    // an uncropped doc has nine nonempty textboxes
    assert(pdf.pages(0).boundingbox().length == 9)
    // a smaller bounding box yields just the bottom one
    val boxes = pdf.pages(0).boundingbox(190, 130, 230, 460)
    assert(boxes.length == 1)
    val box = boxes(0)
    assert(box.text == "This is a simple document in PDF format. ")
    val font = pdf.fontOf(box)
    assert(font.color == "#000000")
    assert(font.size == 16)
    assert(font.id == 1)
    assert(font.family == "Cambria")
    // four text elements with the expected tag sequence
    assert(box.els.length == 4)
    assert(box.els.map(_.tag) ==
      Vector(None, Some("i"), Some("ib"), None))
  }
}
