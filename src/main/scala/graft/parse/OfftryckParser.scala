package graft.parse

import java.util.regex.Pattern
import graft.parse.PdfReader.{FontSpec, Textbox}

/** Structure parser for Swedish government "offtryck" documents
  * (propositioner, SOU, Ds, kommittédirektiv) — the FSM that turns a
  * stream of glued PDF textboxes + page objects into a section tree.
  *
  * Port of the reference's `offtryck_parser`
  * (/root/reference/ferenda/sources/legal/se/offtryck.py:1479-2326):
  * the same recognizers (is_pagebreak / is_appendix / is_nonessential /
  * is_section .. is_paragraph), the same constructors, and the same
  * transition table, expressed as a [[FsmParser.Config]] over
  * [[OfftryckParser.OTok]] tokens. Element classes map to [[TreeNode]]
  * tags named after the reference's element classes
  * (ferenda/sources/legal/se/elements.py:457-680).
  *
  * One instance per document inside a Dataset map stage — pure JVM,
  * no Spark types, embarrassingly parallel.
  */
object OfftryckParser {

  /** The token stream: a page break marker or a (glued) textbox —
    * pdfreader.textboxes(pageobjects=True) interleaving. `number` is the
    * PRINTED page label assigned by pagination (may be a roman
    * numeral, hence a string). */
  sealed trait OTok
  final case class PageTok(number: String, width: Int, height: Int,
                           src: String) extends OTok
  final case class BoxTok(box: Textbox) extends OTok

  final case class Style(family: String, size: Int)

  /** offtryck.py:1485-1506 defaultmetrics, layered under the analyzer's
    * computed/cached metrics (metrics.json fields). */
  final case class Metrics(
      leftmargin: Int = 172,
      rightmargin: Int = 619,
      leftmarginEven: Int = 278,
      rightmarginEven: Int = 725,
      topmargin: Int = 100,
      bottommargin: Int = 800,
      pageheight: Int = 1000,
      pagewidth: Int = 700,
      h1: Style = Style("TimesNewRomanPS-BoldMT", 20),
      h2: Style = Style("TimesNewRomanPS-BoldMT", 17),
      h3: Style = Style("TimesNewRomanPS-BoldMT", 15),
      default: Style = Style("TimesNewRomanPSMT", 13),
      footnoteref: Option[Style] = None,
      scannedSource: Boolean = false)

  object Metrics {
    /** Build from the analyzer's flat maps (or a parsed metrics.json). */
    def fromMaps(ints: Map[String, Int], styles: Map[String, (String, Int)],
                 scanned: Boolean): Metrics = {
      val d = Metrics()
      def style(k: String, dflt: Style) =
        styles.get(k).map { case (f, s) => Style(f, s) }.getOrElse(dflt)
      Metrics(
        leftmargin = ints.getOrElse("leftmargin", d.leftmargin),
        rightmargin = ints.getOrElse("rightmargin", d.rightmargin),
        leftmarginEven = ints.getOrElse("leftmargin_even", d.leftmarginEven),
        rightmarginEven =
          ints.getOrElse("rightmargin_even", d.rightmarginEven),
        topmargin = ints.getOrElse("topmargin", d.topmargin),
        bottommargin = ints.getOrElse("bottommargin", d.bottommargin),
        pageheight = ints.getOrElse("pageheight", d.pageheight),
        pagewidth = ints.getOrElse("pagewidth", d.pagewidth),
        h1 = style("h1", d.h1), h2 = style("h2", d.h2),
        h3 = style("h3", d.h3), default = style("default", d.default),
        footnoteref = styles.get("footnoteref").map {
          case (f, s) => Style(f, s) },
        scannedSource = scanned)
    }
  }

  /** Python str.strip()/split() treat ALL unicode whitespace as blank
    * (incl. U+00A0/U+2009/U+202F which Java's trim/\s do not). */
  private val WsRe = "[\\s\\u0085\\u00A0\\u1680\\u2000-\\u200A\\u2028\\u2029\\u202F\\u205F\\u3000]+"
  def pyStrip(s: String): String =
    s.replaceAll(s"^$WsRe|$WsRe$$", "")
  def normalizeSpace(s: String): String =
    s.split(WsRe).filter(_.nonEmpty).mkString(" ")

  def boxText(tok: OTok): String = tok match {
    case BoxTok(b) => b.text
    case _: PageTok => ""
  }

  /** Textbox → TreeNode("Textbox"), element runs kept as tagged
    * children so downstream passes (commentary detection) can see
    * bold/italic runs the way the reference sees box[0].tag; font size,
    * line count and line height ride along for the linespacing-based
    * acttext/comment classification (pdfreader.py:1450-1456). */
  def boxNode(b: Textbox, fontspec: Map[Int, FontSpec]): TreeNode =
    TreeNode("Textbox",
      attrs = Vector("top" -> b.top.toString, "left" -> b.left.toString,
        "width" -> b.width.toString, "height" -> b.height.toString,
        "fontid" -> b.fontid.toString,
        "size" -> fontspec.get(b.fontid).map(_.size).getOrElse(0).toString,
        "lines" -> b.lines.toString,
        "lineheight" -> b.lineheight.toString),
      children = b.els.map(el => el.tag match {
        case Some(t) => TreeNode(t, text = Some(el.text))
        case None => TreeNode.str(el.text)
      }))

  /** Textbox.linespacing (pdfreader.py:1450-1456): undefined (None)
    * for single-line boxes. */
  def linespacingOf(n: TreeNode): Option[Double] = {
    val lines = n.attr("lines").flatMap(_.toIntOption).getOrElse(0)
    if (lines <= 1) return None
    val height = n.attr("height").flatMap(_.toIntOption).getOrElse(0)
    val lineheight =
      n.attr("lineheight").flatMap(_.toDoubleOption).getOrElse(0.0)
    val size = n.attr("size").flatMap(_.toIntOption).getOrElse(0)
    if (size == 0) None
    else Some(((height - lineheight) / (lines - 1)) / size)
  }
}

final class OfftryckParser(
    basefile: String,
    metrics: OfftryckParser.Metrics,
    preset: String,
    identifier: String,
    fontspec: Map[Int, FontSpec],
    initialPageno: Int = 0,
    parseconfig: String = "default") {

  import OfftryckParser._
  import FsmParser.{Config, Constructor, Recognizer, Transition}

  type P = FsmParser[OTok]

  // ------------------------------------------------------ mutable state
  // (offtryck.py:1510-1521 defaultstate — one parser instance per
  // document segment, like the reference's closure state)
  private var pageno: Int = initialPageno
  private var page: PageTok = _
  private var appendixno: Option[Int] = None
  private var appendixstarted = false
  private val sectioncache = scala.collection.mutable.Map.empty[String, String]
  private var inForfattningsforslag = false

  /** "Kungl. Maj:ts proposition nr N år YYYY" margin header of really
    * old props (offtryck.py:2320-2324). */
  private val currentLongIdentifier: Option[String] =
    if (identifier.startsWith("Prop.") && basefile < "1972") {
      val Array(year, number) = basefile.split(":")
      Some(s"Kungl. Maj:ts proposition nr $number år $year")
    } else None

  private def font(b: Textbox): FontSpec = fontspec(b.fontid)
  private def peekBox(p: P, n: Int = 1): Option[Textbox] =
    p.reader.peekOpt(n).collect { case BoxTok(b) => b }

  private def metricsLeftmargin: Int =
    if (pageno % 2 == 0) metrics.leftmarginEven else metrics.leftmargin
  private def metricsRightmargin: Int =
    if (pageno % 2 == 0) metrics.rightmarginEven else metrics.rightmargin

  /** offtryck.py:2222-2229 sizematch. */
  private def sizematch(want: Int, got: Int, tolerateLessOcr: Int = 1,
                        tolerateMoreOcr: Int = 1): Boolean =
    if (metrics.scannedSource) want + tolerateMoreOcr <= got + tolerateLessOcr
    else want == got

  // --------------------------------------------------------- recognizers
  private def isPagebreak(p: P): Boolean =
    p.reader.peekOpt().exists(_.isInstanceOf[PageTok])

  /** is_nonessential (offtryck.py:1531-1624): page numbers, margin
    * identifiers, printer's instructions. */
  private def isNonessential(p: P): Boolean =
    nonessential(p, peekBox(p).getOrElse(return false))

  private def nonessential(p: P, chunk: Textbox): Boolean = {
    val strchunk = pyStrip(chunk.text)
    if (chunk.top > metrics.bottommargin ||
        chunk.bottom < metrics.topmargin) return true
    if (metrics.scannedSource) {
      if (chunk.top > metrics.pageheight * 0.8 &&
          Pattern.compile(
            "\\d+ rik(sdagen|xdzguøn|xtltrguwi) [\\d\\./ :'I\\\\]+(saml|smul|su/nl)\\. (nr|iVI') [\\[/]?\\d",
            Pattern.CASE_INSENSITIVE | Pattern.UNICODE_CASE)
            .matcher(strchunk).lookingAt()) return true
      // difflib.get_close_matches default cutoff is 0.6
      if (currentLongIdentifier.exists(longid =>
            chunk.bottom < metrics.pageheight * 0.2 &&
            graft.kg.EntityDict.ratio(strchunk, longid) >= 0.6))
        return true
    }
    val digitmatch: String => Boolean =
      if (metrics.scannedSource) s => {
        val t = s.replace("l", "1"); t.nonEmpty && t.forall(_.isDigit) }
      else s => s.nonEmpty && s.forall(_.isDigit)

    if ((chunk.right < metricsLeftmargin ||
         chunk.left > metricsRightmargin) && digitmatch(strchunk))
      return true

    val tolerance = if (metrics.scannedSource) 2 else 0
    val textmatch: (String, String) => Boolean =
      if (metrics.scannedSource)
        (a, b) => graft.kg.EntityDict.ratio(a, b) >= 0.6
      else (a, b) => a.startsWith(b)

    if (font(chunk).size <= metrics.default.size + tolerance &&
        (chunk.right < metricsLeftmargin ||
         chunk.left > metricsRightmargin) &&
        textmatch(strchunk, identifier)) return true
    // first page of a prop: identifier in the right margin, larger font
    if (pageno == 1 && chunk.left > metricsRightmargin &&
        textmatch(strchunk, identifier)) return true
    // direktiv first page: starts slightly before the right margin
    if (chunk.left + 20 > metricsRightmargin && strchunk == identifier)
      return true
    false
  }

  /** is_protokollsutdrag (offtryck.py:1626-1632). */
  private def isProtokollsutdrag(p: P): Boolean = {
    val chunk = peekBox(p).getOrElse(return false)
    font(chunk).size > metrics.default.size &&
      chunk.top < metrics.pageheight / 5 && {
        val s = pyStrip(chunk.text)
        s.endsWith("departementet") || s.startsWith("Lagrådet")
      } &&
      p.reader.peekOpt(2).exists(t =>
        boxText(t).startsWith("Utdrag ur protokoll vid"))
  }

  private def isProphuvudrubrik(p: P): Boolean = {
    if (pageno != 1) return false
    val chunk = peekBox(p).getOrElse(return false)
    font(chunk).size >= metrics.h1.size &&
      Pattern.compile("Regeringens proposition \\d{4}(|/\\d{2,4}):\\d+")
        .matcher(pyStrip(chunk.text)).lookingAt()
  }

  private def isProprubrik(p: P): Boolean = {
    if (pageno != 1) return false
    val chunk = peekBox(p).getOrElse(return false)
    chunk.top < page.height / 4 &&
      font(chunk).size > metrics.default.size &&
      !Pattern.compile(
        "(Prop. \\d{4}(|/\\d{2,4}):\\d+|Propositionens huvudsakliga innehåll)")
        .matcher(pyStrip(chunk.text)).lookingAt()
  }

  private val preambleHeadings = Vector(
    "Propositionens huvudsakliga innehåll", "Innehållsförteckning",
    "Till statsrådet", "Innehåll", "Sammanfattning",
    "Propositionens lagförslag", "Författningsförslag", "Referenser",
    "Förkortningar", "Förslag till riksdagsbeslut")

  private def isPreamblesection(p: P): Boolean = {
    val chunk = peekBox(p).getOrElse(return false)
    val txt = pyStrip(chunk.text)
    if (font(chunk).size <= metrics.default.size) return false
    if (txt.contains("....")) return false // probably a line in a TOC
    preambleHeadings.exists(txt.startsWith) || txt.endsWith("departementet")
  }

  private def isSection(p: P): Boolean = {
    val (ordinal, headingtype, title) = analyzeSectionstart(peekBox(p))
    if (inForfattningsforslag && ordinal.isDefined &&
        Pattern.compile("Förslag(|et) [tl]ill").matcher(title).lookingAt())
      return false
    if (title.contains("....")) return false
    if (Pattern.compile("\\d+$").matcher(title).find() &&
        p.reader.peekOpt(2).exists(t => boxText(t).contains("....")))
      return false
    ordinal.exists(o => headingtype == "h1" && !o.contains("."))
  }

  private def isSubsection(p: P): Boolean = {
    val (ordinal, headingtype, title) = analyzeSectionstart(peekBox(p))
    if (title.contains("....")) return false
    ordinal.exists(o => headingtype == "h2" && o.count(_ == '.') == 1)
  }

  private def isSubsubsection(p: P): Boolean = {
    val (ordinal, headingtype, title) = analyzeSectionstart(peekBox(p))
    if (title.contains("....")) return false
    ordinal.exists(o => headingtype == "h3" && o.count(_ == '.') == 2)
  }

  private def isUnorderedsection(p: P): Boolean = {
    // frontpage textboxes of a proposition are set in section type but
    // are not unorderedsections (offtryck.py:1734-1743)
    if (preset == "proposition") return false
    val chunk = peekBox(p).getOrElse(return false)
    font(chunk).size == metrics.h1.size &&
      font(chunk).family == metrics.h1.family
  }

  private def isUnorderedsubsection(p: P): Boolean = {
    val chunk = peekBox(p).getOrElse(return false)
    // "5 c §" headers inside författningskommentar are not subsections
    if (Pattern.compile("\\.?[l\\d]\\s*(|\\w )§$")
        .matcher(pyStrip(chunk.text)).matches()) return false
    sizematch(metrics.h2.size, font(chunk).size,
      tolerateLessOcr = 0, tolerateMoreOcr = 1) &&
      font(chunk).family == metrics.h2.family
  }

  private def isForfattningsforslag(p: P): Boolean = {
    val (ordinal, _, title) = analyzeSectionstart(peekBox(p))
    inForfattningsforslag && ordinal.isDefined &&
      title.startsWith("Förslag till")
  }

  private def isBulletlist(p: P): Boolean =
    peekBox(p).exists(b =>
      b.text.startsWith("•") || b.text.startsWith("") ||
      b.text.startsWith("−"))

  // ------------------------------------------------------- is_appendix
  /** is_appendix_header (offtryck.py:1766-1777): Some(n) for
    * "Bilaga n", Some(1) for "Bilagor" (Python True == 1 in the
    * state.appendixno comparison), None otherwise. */
  private def appendixHeader(tok: Option[OTok]): Option[Int] = {
    val chunk = tok.collect { case BoxTok(b) => b }.getOrElse(return None)
    val txt = pyStrip(chunk.text)
    if (font(chunk).size == metrics.h1.size) {
      if (txt.startsWith("Bilaga "))
        txt.split("[ :]")(1).toIntOption // non-numeric → not a header
      else if (txt.startsWith("Bilagor")) Some(1)
      else None
    } else None
  }

  /** is_implicit_appendix (offtryck.py:1779-1800). */
  private def implicitAppendix(chunk: Textbox): Boolean = {
    if (chunk.bottom > page.height * 0.15) return false
    val tolerance = if (metrics.scannedSource) 2 else 0
    if (math.abs(font(chunk).size - metrics.h1.size) <= tolerance) {
      val txt = pyStrip(chunk.text)
      Set("Promemorians lagförslag", "Lagrådsremissens lagförslag",
        "Lagrådets yttrande", "Lagrådet").contains(txt) ||
        txt.startsWith("Förteckning över remissinstanser")
    } else false
  }

  /** is_mashed_header (offtryck.py:1799-1824) — scanned sources where a
    * heading and the margin "Bilaga n" label mash together. */
  private def mashedHeader(chunk: Textbox): Option[Int] = {
    if (math.abs(font(chunk).size - metrics.default.size) <= 1) return None
    if (chunk.bottom > page.height * 0.15) return None
    val txtchunk = pyStrip(chunk.text)
    val m = Pattern.compile("Bilaga (\\d+)").matcher(txtchunk)
    if (m.find() && (m.end == txtchunk.length ||
        metricsLeftmargin > chunk.left || metricsRightmargin < chunk.right))
      Some(m.group(1).toInt)
    else None
  }

  private def isAppendix(p: P): Boolean = {
    val chunk = peekBox(p).getOrElse(return false)
    val txtchunk = normalizeSpace(chunk.text)
    val maxlen = if (metrics.scannedSource) 270 else 100
    if (txtchunk.length > maxlen) return false
    if (txtchunk.contains("..")) return false // TOC reference

    var isHeader: Option[Int] = None
    if (!appendixstarted) {
      isHeader = appendixHeader(Some(BoxTok(chunk)))
      if (isHeader.isEmpty && implicitAppendix(chunk)) isHeader = Some(1)
      // NB: implicit-appendix returns plain True in the reference —
      // Python True == 1, so Some(1) replicates the state comparison
      if (isHeader.isEmpty && metrics.scannedSource)
        isHeader = mashedHeader(chunk)
    }

    if (isHeader.isEmpty) {
      val tolerance = if (metrics.scannedSource) 2 else 0
      if (metrics.default.size + tolerance < font(chunk).size) return false
      val placement: Textbox => Boolean =
        if (identifier.startsWith("Prop.") && "Prop. 1987/88:69" > identifier)
          c => c.bottom < metrics.pageheight / 5
        else if (identifier.startsWith("Ds") || identifier.startsWith("SOU"))
          c => c.bottom <= metrics.topmargin
        else
          c => c.right < metricsLeftmargin || c.left > metricsRightmargin
      if (placement(chunk)) {
        val m = Pattern.compile("Bilaga( \\d+| I| l|$)(?!(\\d| *till))")
          .matcher(txtchunk)
        if (m.find()) {
          val ordinal =
            if (m.group(1) == null || m.group(1).isEmpty) 1
            else pyStrip(m.group(1)) match {
              case "I" | "l" => 1 // OCR mistake
              case n => n.toInt
            }
          if (appendixno.contains(ordinal)) {
            // one more page of the appendix being processed
            appendixstarted = true
          } else {
            // keep reading: a proper appendix heading follows?
            val two = p.reader.peekOpt(2)
            val three = p.reader.peekOpt(3)
            if (two.isEmpty || three.isEmpty) return true // short appendix
            if (appendixHeader(two).isDefined ||
                appendixHeader(three).isDefined) {
              appendixno = Some(ordinal)
              return false
            } else return true
          }
        }
      }
      false
    } else {
      if (appendixno == isHeader) { appendixstarted = true; false }
      else true
    }
  }

  private def isParagraph(p: P): Boolean = true

  // --------------------------------------------- analyze_sectionstart
  private val ReSectionstart =
    Pattern.compile("^(\\d[\\.\\d]*) +([A-ZÅÄÖ].*)$")

  /** (ordinal, headingtype, title) if a section heading, else
    * (None, null, chunkText) — offtryck.py:2139-2205. The third slot is
    * the raw (unstripped) chunk text, matching the reference's habit of
    * returning the chunk itself. */
  private def analyzeSectionstart(chunkOpt: Option[Textbox])
      : (Option[String], String, String) = {
    val chunk = chunkOpt.getOrElse(return (None, null, ""))
    val raw = chunk.text
    var strchunk = pyStrip(raw)
    if (metrics.scannedSource) {
      if (strchunk.startsWith("l ")) strchunk = "1" + strchunk.substring(1)
      strchunk = strchunk.replaceAll("(\\d+)\\.\\s+(\\d+)", "$1.$2")
      strchunk = strchunk.replaceFirst("^(\\d+) (\\d+)(?= +[A-ZÅÄÖ])", "$1$2")
    }
    val m = ReSectionstart.matcher(strchunk)
    if (!m.matches()) return (None, null, raw)

    val ordinal = m.group(1).replaceAll("\\.+$", "")
    val title = pyStrip(m.group(2))
    val headingtype = "h" + (ordinal.count(_ == '.') + 1)

    var minSize = metrics.default.size
    if (headingtype == "h3" ||
        (identifier.startsWith("Prop.") && "Prop. 1987/88:1" > identifier))
      minSize -= 1
    if (font(chunk).size <= minSize) return (None, null, raw)

    if ((strchunk.endsWith(".") &&
         !(strchunk.endsWith("m.m.") || strchunk.endsWith("m. m.") ||
           strchunk.endsWith("m.fl.") || strchunk.endsWith("m. fl."))) ||
        strchunk.endsWith(",") || strchunk.endsWith(" och") ||
        strchunk.endsWith(" eller") || strchunk.endsWith(":") ||
        strchunk.endsWith("-")) return (None, null, raw)

    if (title.length > 200) return (None, null, raw)
    (Some(ordinal), headingtype, normalizeSpace(title))
  }

  // -------------------------------------------------------- constructors
  private def nextBox(p: P): Textbox = p.reader.next() match {
    case BoxTok(b) => b
    case t => throw new IllegalStateException(s"expected textbox, got $t")
  }

  private val makeBody = Constructor[OTok]("make_body", pushesState = true,
    p => Some(p.makeChildren(TreeNode("Body"))))

  private val makeProtokollsutdrag = Constructor[OTok](
    "make_protokollsutdrag", pushesState = true, p => {
      val title = pyStrip(nextBox(p).text)
      Some(p.makeChildren(
        TreeNode("Protokollsutdrag", Vector("title" -> title))))
    })

  private val makeFrontmatter = Constructor[OTok]("make_frontmatter",
    pushesState = true,
    p => Some(p.makeChildren(TreeNode("FrontmatterSection"))))

  private val makeProphuvudrubrik = Constructor[OTok](
    "make_prophuvudrubrik", pushesState = false,
    p => Some(TreeNode("PropHuvudrubrik",
      text = Some(pyStrip(nextBox(p).text)))))

  private val makeProprubrik = Constructor[OTok]("make_proprubrik",
    pushesState = false, p => {
      var s = pyStrip(nextBox(p).text)
      // offtryck_gluefunc often glues the heading and the margin
      // identifier; fix here (offtryck.py:1940-1947)
      if (s.endsWith(identifier))
        s = pyStrip(s.substring(0, s.length - identifier.length))
      Some(TreeNode("PropRubrik", text = Some(s)))
    })

  private val makeParagraph = Constructor[OTok]("make_paragraph",
    pushesState = false, p => Some(boxNode(nextBox(p), fontspec)))

  private val makePreamblesection = Constructor[OTok](
    "make_preamblesection", pushesState = true, p => {
      val title = pyStrip(nextBox(p).text)
      val s = TreeNode("PreambleSection", Vector("title" -> title))
      if (title.startsWith("Författningsförslag") ||
          title.startsWith("Propositionens lagförslag"))
        inForfattningsforslag = true
      if (title == "Innehållsförteckning" || title == "Innehåll") {
        p.makeChildren(s) // consume and throw away the TOC
        None
      } else {
        val ps = p.makeChildren(s)
        inForfattningsforslag = false
        Some(ps)
      }
    })

  private val makeUnorderedsection = Constructor[OTok](
    "make_unorderedsection", pushesState = true, p => Some(p.makeChildren(
      TreeNode("UnorderedSection",
        Vector("title" -> pyStrip(nextBox(p).text))))))

  private val makeUnorderedsubsection = Constructor[OTok](
    "make_unorderedsubsection", pushesState = true, p => Some(p.makeChildren(
      TreeNode("UnorderedSection",
        Vector("title" -> pyStrip(nextBox(p).text))))))

  private def listitemOf(chunk: Textbox): TreeNode = {
    val s0 = chunk.text
    val s = if (s0.contains(" ")) s0.split(" ", 2)(1) else s0.substring(1)
    TreeNode("ListItem",
      attrs = Vector("top" -> chunk.top.toString,
        "left" -> chunk.left.toString,
        "bottom" -> chunk.bottom.toString,
        "size" -> font(chunk).size.toString),
      text = Some(s))
  }

  private val makeListitem = Constructor[OTok]("make_listitem",
    pushesState = false, p => Some(listitemOf(nextBox(p))))

  private val makeBulletlist = Constructor[OTok]("make_bulletlist",
    pushesState = true, p => {
      val li = listitemOf(nextBox(p))
      val ul = p.makeChildren(
        TreeNode("UnorderedList", children = Vector(li)))
      // the reference recomputes the list's extent + font from its
      // items (offtryck.py:1990-1999) — the commentary pass reads them
      def ints(k: String) = ul.children.flatMap(_.attr(k))
        .flatMap(_.toIntOption)
      val attrs = Vector(
        "top" -> ints("top").minOption.getOrElse(0).toString,
        "bottom" -> ints("bottom").maxOption.getOrElse(0).toString,
        "size" -> ul.children.headOption.flatMap(_.attr("size"))
          .getOrElse("0"))
      Some(ul.copy(attrs = attrs))
    })

  private val makeAppendix = Constructor[OTok]("make_appendix",
    pushesState = true, p => {
      // offtryck.py:2013-2070
      var done = false
      var title: Option[String] = None
      var chunk: Option[OTok] = Some(p.reader.next())
      var strchunk = boxText(chunk.get)
      if (appendixno.exists(_ > 1) && strchunk.startsWith("Bilaga ll-"))
        strchunk = strchunk.replace("Bilaga ll-", "Bilaga 4")
      val m = Pattern.compile("Bilaga( \\d+| I| l|$)").matcher(strchunk)
      if (m.find() && m.group(1) != null && m.group(1).nonEmpty) {
        appendixno = Some(pyStrip(m.group(1)) match {
          case "I" | "l" => 1
          case n => n.toInt
        })
        if (metrics.scannedSource && m.start > 0) {
          val t = normalizeSpace(strchunk.substring(0, m.start))
          if (!(t.length < 20 && t.toLowerCase.startsWith("prop.")))
            title = Some(t)
        }
        chunk = None // don't spill this chunk
      } else {
        appendixno = Some(appendixno.map(_ + 1).getOrElse(1))
      }

      val spill = Vector.newBuilder[TreeNode]
      if (title.isEmpty) {
        try {
          while (!done) {
            chunk match {
              case Some(_: PageTok) => title = Some(""); done = true
              case Some(BoxTok(b))
                  if font(b).size >= metrics.h2.size =>
                title = Some(normalizeSpace(b.text)); chunk = None
                done = true
              case _ => ()
            }
            if (!done) {
              chunk.collect { case BoxTok(b) if !nonessential(p, b) =>
                spill += boxNode(b, fontspec) }
              chunk = Some(p.reader.next())
            }
          }
        } catch { case _: NoSuchElementException =>
          if (title.isEmpty) title = Some(""); done = true }
        chunk.collect { case BoxTok(b) => spill += boxNode(b, fontspec) }
      }
      val s = TreeNode("Appendix",
        Vector("title" -> title.getOrElse(""),
          "ordinal" -> appendixno.get.toString),
        children = spill.result())
      Some(p.makeChildren(s))
    })

  private val makeSection = Constructor[OTok]("make_section",
    pushesState = true, p => {
      val chunk = nextBox(p)
      var (ordinal, _, title0) = analyzeSectionstart(Some(chunk))
      var title = title0
      ordinal.foreach { o =>
        def short(x: String) = if (x.length < 50) x else x.take(50) + "..."
        if (sectioncache.contains(o)) {
          // duplicate ordinal → pseudosection (offtryck.py:2086-2095)
          title = normalizeSpace(chunk.text)
          ordinal = None
        } else sectioncache(o) = s"'${short(title)}' at p $pageno"
      }
      val s = ordinal match {
        case Some(o) =>
          TreeNode("Avsnitt", Vector("ordinal" -> o, "title" -> title))
        case None => TreeNode("PseudoSection", Vector("title" -> title))
      }
      Some(p.makeChildren(s))
    })

  private val makeForfattningsforslag = Constructor[OTok](
    "make_forfattningsforslag", pushesState = true, p => {
      val chunk = nextBox(p)
      val (ordinal, _, title) = analyzeSectionstart(Some(chunk))
      val attrs = ordinal.map("ordinal" -> _).toVector :+ ("title" -> title)
      Some(p.makeChildren(TreeNode("Forfattningsforslag", attrs)))
    })

  private val skipNonessential = Constructor[OTok]("skip_nonessential",
    pushesState = false, p => { p.reader.next(); None })

  private val skipPagebreak = Constructor[OTok]("skip_pagebreak",
    pushesState = false, p => {
      page = p.reader.next().asInstanceOf[PageTok]
      pageno = page.number.toIntOption.getOrElse(0) // roman front matter
      appendixstarted = false
      Some(TreeNode("Sidbrytning", Vector(
        "ordinal" -> page.number, "width" -> page.width.toString,
        "height" -> page.height.toString, "src" -> page.src)))
    })

  // ------------------------------------------------------ configuration
  /** The recognizer list with preset/parseconfig adjustments
    * (offtryck.py:2231-2253). */
  private val recognizers: Vector[Recognizer[OTok]] = {
    var names = Vector("is_pagebreak", "is_appendix", "is_nonessential",
      "is_section", "is_subsection", "is_subsubsection",
      "is_preamblesection", "is_forfattningsforslag",
      "is_unorderedsection", "is_unorderedsubsection", "is_bulletlist",
      "is_paragraph")
    if (parseconfig == "noappendix") names = names.filterNot(_ == "is_appendix")
    else if (parseconfig == "simple") names = Vector("is_pagebreak", "is_paragraph")
    if (preset == "proposition") {
      names = "is_prophuvudrubrik" +: "is_proprubrik" +: names
      names = (names.take(5) :+ "is_protokollsutdrag") ++ names.drop(5)
    }
    val impl = Map[String, P => Boolean](
      "is_pagebreak" -> isPagebreak, "is_appendix" -> isAppendix,
      "is_nonessential" -> isNonessential, "is_section" -> isSection,
      "is_subsection" -> isSubsection,
      "is_subsubsection" -> isSubsubsection,
      "is_preamblesection" -> isPreamblesection,
      "is_forfattningsforslag" -> isForfattningsforslag,
      "is_unorderedsection" -> isUnorderedsection,
      "is_unorderedsubsection" -> isUnorderedsubsection,
      "is_bulletlist" -> isBulletlist, "is_paragraph" -> isParagraph,
      "is_prophuvudrubrik" -> isProphuvudrubrik,
      "is_proprubrik" -> isProprubrik,
      "is_protokollsutdrag" -> isProtokollsutdrag)
    names.map(n => Recognizer[OTok](n, impl(n)))
  }

  /** The transition table (offtryck.py:2255-2312), expanded. */
  private val transitions: Map[(String, String), Transition[OTok]] = {
    val commonstates = Vector("body", "frontmatter", "preamblesection",
      "forfattningsforslag", "protokollsutdrag", "section", "subsection",
      "unorderedsection", "unorderedsubsection", "subsubsection",
      "appendix")
    val t = Map.newBuilder[(String, String), Transition[OTok]]
    def add(states: Seq[String], rec: String, ctor: Option[Constructor[OTok]],
            ns: Option[String]): Unit =
      states.foreach(s => t += ((s, rec) -> Transition[OTok](ctor, ns)))
    val F = None // the reference's `False` constructor: return to parent

    add(commonstates, "is_nonessential", Some(skipNonessential), None)
    add(commonstates, "is_pagebreak", Some(skipPagebreak), None)
    add(commonstates, "is_paragraph", Some(makeParagraph), None)
    add(commonstates, "is_bulletlist", Some(makeBulletlist), Some("bulletlist"))
    add(Seq("bulletlist"), "is_paragraph", F, None)
    add(Seq("bulletlist"), "is_bulletlist", Some(makeListitem), None)
    add(Seq("body"), "is_appendix", Some(makeAppendix), Some("appendix"))
    add(Seq("body"), "is_preamblesection", Some(makePreamblesection),
      Some("preamblesection"))
    add(Seq("body"), "is_prophuvudrubrik", Some(makeFrontmatter),
      Some("frontmatter"))
    add(Seq("body"), "is_protokollsutdrag", Some(makeProtokollsutdrag),
      Some("protokollsutdrag"))
    add(Seq("body"), "is_section", Some(makeSection), Some("section"))
    add(Seq("body"), "is_unorderedsection", Some(makeUnorderedsection),
      Some("unorderedsection"))
    add(Seq("frontmatter"), "is_prophuvudrubrik",
      Some(makeProphuvudrubrik), None)
    add(Seq("frontmatter"), "is_proprubrik", Some(makeProprubrik), None)
    add(Seq("frontmatter"), "is_preamblesection", F, None)

    add(Seq("preamblesection"), "is_preamblesection", F, None)
    add(Seq("preamblesection"), "is_forfattningsforslag",
      Some(makeForfattningsforslag), Some("forfattningsforslag"))
    add(Seq("preamblesection"), "is_section", F, None)
    add(Seq("preamblesection"), "is_appendix", F, None)

    add(Seq("forfattningsforslag"), "is_forfattningsforslag", F, None)
    add(Seq("forfattningsforslag"), "is_section", F, None)
    add(Seq("forfattningsforslag"), "is_preamblesection", F, None)

    add(Seq("protokollsutdrag"), "is_protokollsutdrag", F, None)
    add(Seq("protokollsutdrag"), "is_appendix", F, None)
    add(Seq("protokollsutdrag"), "is_section", Some(makeSection),
      Some("section"))

    add(Seq("section"), "is_section", F, None)
    add(Seq("section"), "is_subsection", Some(makeSection),
      Some("subsection"))
    add(Seq("section"), "is_unorderedsection", Some(makeUnorderedsection),
      Some("unorderedsection"))
    add(Seq("section"), "is_unorderedsubsection",
      Some(makeUnorderedsection), Some("unorderedsubsection"))
    add(Seq("subsection"), "is_section", F, None)
    add(Seq("subsection"), "is_subsection", F, None)
    add(Seq("subsection"), "is_subsubsection", Some(makeSection),
      Some("subsubsection"))
    add(Seq("subsubsection"), "is_section", F, None)
    add(Seq("subsubsection"), "is_subsection", F, None)
    add(Seq("subsubsection"), "is_subsubsection", F, None)
    add(Seq("unorderedsection"), "is_appendix", F, None)
    add(Seq("unorderedsection"), "is_preamblesection", F, None)
    add(Seq("unorderedsection"), "is_section", F, None)
    add(Seq("unorderedsection"), "is_unorderedsection", F, None)
    add(Seq("unorderedsection"), "is_unorderedsubsection",
      Some(makeUnorderedsubsection), Some("unorderedsubsection"))
    add(Seq("unorderedsubsection"), "is_appendix", F, None)
    add(Seq("unorderedsubsection"), "is_preamblesection", F, None)
    add(Seq("unorderedsubsection"), "is_section", F, None)
    add(Seq("unorderedsubsection"), "is_unorderedsection", F, None)
    add(Seq("unorderedsubsection"), "is_unorderedsubsection", F, None)
    add(Seq("subsubsection", "subsection", "section", "appendix"),
      "is_preamblesection", F, None)
    add(Seq("subsubsection", "subsection", "section"),
      "is_protokollsutdrag", F, None)
    add(Seq("appendix", "subsubsection", "subsection", "section"),
      "is_appendix", F, None)
    t.result()
  }

  def config: Config[OTok] =
    Config(recognizers, transitions, "body", makeBody)

  def parse(tokens: Iterator[OTok]): TreeNode =
    new FsmParser[OTok](config, tokens).parse()
}
