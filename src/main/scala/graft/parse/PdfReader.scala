package graft.parse

import org.w3c.dom.{Element, Node}
import scala.collection.mutable

/** PDF text extraction over the `pdftohtml -xml` INTERMEDIATE format —
  * the reference's PDFReader (/root/reference/ferenda/pdfreader.py),
  * re-expressed over the same pdf2xml artifact. The reference shells
  * out to poppler's pdftohtml once and caches the XML; every structural
  * semantic lives in its XML parse (its own test suite pre-seeds the
  * intermediate files and never invokes poppler — testPDFReader.py:37),
  * which is what this port covers:
  *
  *  - one Textbox per <text> line, built from mixed-content
  *    b/i/a runs (_parse_xml_make_textelement, pdfreader.py:814-905):
  *    tag composition ("b"+"i" → "bi"), links as uri-carrying
  *    elements, the whitespace-normalization rules (normspace), the
  *    tail-whitespace absorption rule, and the last-child
  *    whitespace-only retention rule;
  *  - whitespace-only run merging into the preceding compatible
  *    element (pdfreader.py:791-807);
  *  - footnote detection (digit-only first element with a smaller
  *    same-family font next to the preceding/following box,
  *    pdfreader.py:717-776): inline markers merge with the current
  *    box as superscript ("sup"/"…s" tags), footer markers open a new
  *    box sized from the following element, and after_footnote
  *    continuation boxes glue on (pdfreader.py:691-706);
  *  - Textbox concatenation (__add__, pdfreader.py:1364-1414):
  *    bounding-box union, line counting, the missing-newline space
  *    insertion rule (not around superscripts, not after " ", "-",
  *    "–"), and the run-merge of same-tag elements — ported
  *    operation-for-operation, including the quirk that only the
  *    trailing accumulator merges into the previous element;
  *  - Textelement concatenation with mandatory dehyphenation
  *    (pdfreader.py:1579-1618);
  *  - textboxes(gluefunc) streaming with the default same-font
  *    adjacent-line glue, median_box_width, boundingbox/crop
  *    (pdfreader.py:961-1277; crop's ImageMagick background step is
  *    out of scope — no images here).
  *
  * Custom-encoding fonts (the Swedish legacy decoders) are
  * [[PdfDecoders]]' concern; parseXml takes the decoder as a plain
  * function. Pure per-row logic: one XML artifact in, one [[PdfDoc]]
  * out — usable inside a Dataset map stage over a corpus of
  * pre-extracted pdf2xml columns.
  */
object PdfReader {

  /** Per-word geometry carried by hOCR textelements (the reference's
    * Textelement top/left/width/height kwargs, pdfreader.py:458-464). */
  final case class Geom(top: Int, left: Int, width: Int, height: Int)

  /** One run of identically-formatted text. `tag`: None = regular,
    * "b"/"i"/"bi"/"sup"/"bs"… per the reference's tag algebra. `uri`
    * marks the LinkedTextelement subclass. */
  final case class TextEl(text: String, tag: Option[String],
                          uri: Option[String] = None,
                          geom: Option[Geom] = None,
                          /** The tag of a skipped empty preceding run
                            * ("<i> </i>text" → Some("i")) — recorded
                            * because the unreliable-font-family glue
                            * heuristics need it (pdfreader.py:890-895,
                            * offtryck.py:216-226). */
                          skippedEmpty: Option[String] = None) {
    def linked: Boolean = uri.isDefined

    /** Textelement.__add__ (pdfreader.py:1579-1618): insert a space
      * unless one is present at the seam (or a hyphen precedes it);
      * dehyphenate "-" + lowercase. The reference asserts joined
      * LinkedTextelements share a uri; we keep self's. */
    def +(other: TextEl): TextEl = {
      val extraspace =
        if (text.nonEmpty && !text.endsWith(" ") && !text.endsWith("-") &&
            !other.text.startsWith(" ")) " "
        else ""
      val selfText =
        if (text.nonEmpty && text.last == '-' && other.text.nonEmpty &&
            other.text.head.isLower) text.dropRight(1)
        else text
      TextEl(selfText + extraspace + other.text, tag, uri,
        skippedEmpty = skippedEmpty)
    }
  }

  final case class FontSpec(id: Int, size: Int, family: String,
                            color: String, encoding: Option[String] = None)

  final case class Textbox(top: Int, left: Int, width: Int, height: Int,
                           fontid: Int, els: Vector[TextEl],
                           lines: Int = 0, lineheight: Double = 0,
                           parid: Option[String] = None,
                           confidence: Option[Double] = None) {
    def right: Int = left + width
    def bottom: Int = top + height
    def text: String = els.map(_.text).mkString

    /** Textbox.__add__ (pdfreader.py:1364-1414), ported
      * operation-for-operation (including its asymmetric run-merge:
      * the first element of a same-tag run stays separate; only the
      * accumulated tail can merge into the PREVIOUS element at a tag
      * boundary-at-end). */
    def +(other: Textbox): Textbox = {
      val nTop = math.min(top, other.top)
      val nLeft = math.min(left, other.left)
      val nWidth = math.max(right, other.right) - nLeft
      val nHeight = math.max(bottom, other.bottom) - nTop
      val nLineheight =
        if (lines + other.lines != 0 && other.lineheight != 0)
          // NB: reference precedence quirk — '/ self.lines + other.lines'
          (lineheight * lines + other.lineheight * other.lines) /
            math.max(lines, 1) + other.lines
        else lineheight
      var nLines = lines + other.lines
      if (bottom > other.top + other.height / 2 && lines > 0 &&
          other.lines > 0)
        nLines -= 1

      // possibly add a space for the missing newline — not around
      // superscripts, not after a space/hyphen/dash
      val selfEls =
        if (els.nonEmpty && other.els.nonEmpty &&
            !els.last.tag.exists(_.contains("s")) &&
            !other.els.head.tag.exists(_.contains("s")) &&
            !els.last.text.endsWith(" ") && !els.last.text.endsWith("-") &&
            !els.last.text.endsWith("–"))
          els :+ TextEl(" ", els.last.tag)
        else els

      val res = mutable.ArrayBuffer.empty[TextEl]
      var c = TextEl("", els.headOption.flatMap(_.tag))
      (selfEls ++ other.els).foreach { e =>
        if (e.tag != c.tag) {
          if (c.text.nonEmpty) res += c
          res += e
          c = TextEl("", e.tag)
        } else c = c + e
      }
      if (res.nonEmpty && c.text.nonEmpty && c.tag == res.last.tag &&
          c.linked == res.last.linked)
        res(res.length - 1) = res.last + c
      else if (c.text.nonEmpty) res += c

      Textbox(nTop, nLeft, nWidth, nHeight, fontid, res.toVector,
        nLines, nLineheight)
    }
  }

  final case class PdfPage(number: Int, width: Int, height: Int,
                           boxes: Vector[Textbox]) {
    /** Page.boundingbox (pdfreader.py:1233-1250). */
    def boundingbox(top: Int = 0, left: Int = 0, bottom: Int = -1,
                    right: Int = -1): Vector[Textbox] = {
      val b = if (bottom < 0) height else bottom
      val r = if (right < 0) width else right
      boxes.filter(box => box.top >= top && box.left >= left &&
        box.bottom <= b && box.right <= r)
    }
  }

  final case class PdfDoc(pages: Vector[PdfPage],
                          fontspec: Map[Int, FontSpec]) {
    def isEmpty: Boolean = pages.map(_.boxes.size).sum == 0

    /** textboxes(gluefunc) (pdfreader.py:961-1024): stream the boxes,
      * merging when glue(textbox, nextbox, prevbox) holds; empties
      * dropped unless keepempty. */
    def textboxes(glue: (Textbox, Textbox, Textbox) => Boolean =
                    defaultGlue,
                  keepempty: Boolean = false): Vector[Textbox] = {
      val out = Vector.newBuilder[Textbox]
      pages.foreach { page =>
        var textbox: Option[Textbox] = None
        var prevbox: Option[Textbox] = None
        page.boxes.foreach { nextbox =>
          if (keepempty || nextbox.text.trim.nonEmpty) {
            textbox match {
              case None => textbox = Some(nextbox)
              case Some(tb) =>
                if (glue(tb, nextbox, prevbox.getOrElse(tb)))
                  textbox = Some(tb + nextbox)
                else { out += tb; textbox = Some(nextbox) }
            }
            prevbox = Some(nextbox)
          }
        }
        textbox.foreach(out += _)
      }
      out.result()
    }

    def fontOf(b: Textbox): FontSpec = fontspec(b.fontid)

    /** _default_glue (pdfreader.py:1039-1070): same base font family
      * (Bold/Italic/hyphen variants equal), same size, left-aligned,
      * downward, within 1.5 linespacing. */
    def defaultGlue(textbox: Textbox, nextbox: Textbox,
                    prevbox: Textbox): Boolean = {
      def basefamily(f: String) =
        f.replace("-", "").replace("Bold", "").replace("Italic", "")
      val tf = fontOf(textbox); val nf = fontOf(nextbox)
      basefamily(tf.family) == basefamily(nf.family) &&
        tf.size == nf.size &&
        textbox.left == nextbox.left &&
        textbox.top < nextbox.top &&
        textbox.bottom + (prevbox.height * 1.5) - prevbox.height >=
          nextbox.top
    }
  }

  /** One font-analysis sample ([[TextDecoder.analyzeFont]]): a <text>
    * line's full content, its italic-run texts, and whether any
    * italic run exists (the reference samples raw lxml elements,
    * decoders.py:227-240). */
  final case class FontSample(fullText: String, iTexts: Vector[String],
                              hasI: Boolean)

  /** A text decoder hook ([[PdfDecoders]]): box-level rewrite plus a
    * fontspec-level rewrite (BaseTextDecoder, pdfreader.py:1653-1661);
    * decoders with `wantsAnalysis` get a pre-pass over samples of each
    * custom-encoded font (pdfreader.py:637-640, 923-956). */
  trait TextDecoder {
    def apply(box: Textbox, fontspec: Map[Int, FontSpec]): Textbox = box
    def fontspec(f: FontSpec): FontSpec = f
    def wantsAnalysis: Boolean = false
    def analyzeFont(fontid: Int, samples: Seq[FontSample]): Int = 0
  }
  object NoDecoder extends TextDecoder

  // -------------------------------------------------------------- parse
  private def normalizeSpace(s: String): String =
    s.split("\\s+").filter(_.nonEmpty).mkString(" ")

  /** normspace (pdfreader.py:849-861): newline/tab/nbsp → space,
    * all-space runs collapse to one space, a single leading/trailing
    * space survives normalize_space. */
  private def normspace(s0: String): String = {
    val s = s0.map {
      case '\n' | '\t' | ' ' => ' '
      case ch => ch
    }
    if (s.matches("  +")) " "
    else {
      val endspace = if (s.endsWith(" ") && s.length > 1) " " else ""
      val startspace = if (s.startsWith(" ")) " " else ""
      startspace + normalizeSpace(s) + endspace
    }
  }

  /** txt() (pdfreader.py:560-561) — the emptiness normalizer. */
  private def txt(s: String): String =
    s.replaceAll("[\\s Â]+", " ")

  private def childElems(e: Element): Vector[Element] = {
    val ns = e.getChildNodes
    (0 until ns.getLength).map(ns.item)
      .collect { case el: Element => el }.toVector
  }

  /** _parse_xml_make_textelement (pdfreader.py:814-905) — lxml's
    * text/child/tail model reproduced by walking the DOM mixed node
    * list directly, in document order. */
  private def elementsOf(element: Element, tag: String,
      uri: Option[String], linked: Boolean, keepWsOnly: Boolean)
      : Vector[TextEl] = {
    def cleaned(t: String, u: Option[String], l: Boolean, s: String) = {
      val t2 = if (t.contains("a")) t.replace("a", "") else t
      TextEl(s, if (t2.isEmpty) None else Some(t2), if (l) u else None)
    }
    val name = element.getNodeName
    var myTag = tag
    var myUri = uri
    var myLinked = linked
    name match {
      case "a" =>
        myLinked = true
        myUri = Some(element.getAttribute("href"))
        myTag += "a"
      case "b" | "i" =>
        if (myTag.contains("a")) myLinked = true
        myTag += name
      case _ =>
        require(name == "text", s"Got <$name>, expected <{text,b,i,a}>")
    }
    val res = mutable.ArrayBuffer.empty[TextEl]
    val kids = element.getChildNodes
    val n = kids.getLength
    val childEls = childElems(element)
    var childIdx = 0
    var first = true
    (0 until n).foreach { i =>
      kids.item(i) match {
        case t if t.getNodeType == Node.TEXT_NODE ||
                  t.getNodeType == Node.CDATA_SECTION_NODE =>
          val s = t.getNodeValue
          if (first) {
            // element.text
            if (s.nonEmpty && (s.trim.nonEmpty || name == "a" || keepWsOnly))
              res += cleaned(myTag, myUri, myLinked, normspace(s))
          } else {
            // a TAIL of the previous child: belongs to THIS element's
            // run (origkwargs — pdfreader.py:885-905)
            if (s.trim.nonEmpty) {
              // "<i> </i>text": record that an empty run was skipped —
              // the unreliable-font-family glue heuristic reads it
              // (pdfreader.py:890-895)
              val skipped = (if (childIdx > 0) Some(childEls(childIdx - 1))
                             else None)
                .filter { pc =>
                  val t = pc.getTextContent
                  t != null && t.nonEmpty && t.trim.isEmpty
                }
                .map(_.getNodeName)
              res += cleaned(myTag, myUri, myLinked, normspace(s))
                .copy(skippedEmpty = skipped)
            } else if (res.nonEmpty && !res.last.linked &&
                     res.last.text.nonEmpty &&
                     !Set(' ', '–', '-')(res.last.text.last))
              res(res.length - 1) =
                res.last + TextEl(" ", res.last.tag, res.last.uri)
          }
        case c: Element =>
          val kwso = {
            childIdx += 1
            childIdx == childEls.length && res.nonEmpty &&
              res.last.text.nonEmpty && !res.last.text.last.isWhitespace
          }
          res ++= elementsOf(c, myTag, myUri, myLinked, kwso)
        case _ => () // comments
      }
      if (kids.item(i).getNodeType != Node.COMMENT_NODE) first = false
    }
    res.toVector
  }

  /** Whole-artifact parse (the _parse_xml walk, pdfreader.py:522-710).
    * `fontinfo` is the parsed .fontinfo table keyed by full family
    * name ("CCQUSK+Calibri-Bold" → encoding). */
  def parseXml(xml: String,
               fontinfo: Map[String, String] = Map.empty,
               decoder: TextDecoder = NoDecoder,
               detectFootnotes: Boolean = true): PdfDoc = {
    val cleaned0 = xml.replaceFirst("(?s)<!DOCTYPE[^>]*>", "")
    // custom-encoded fonts use control chars (0x03 = space, …) that no
    // XML parser accepts: double-escape them so the encoded text
    // reaches the decoder as `&#N;` references (pdfreader.py:575-610)
    val cleaned =
      if (fontinfo.valuesIterator.contains("Custom"))
        cleaned0.flatMap { c =>
          if (c < 0x20 && c != '\n' && c != '\r') s"&amp;#${c.toInt};"
          else c.toString
        }
      else cleaned0
    val doc =
      try Rdfa.secureDom(cleaned)
      catch { // pdftohtml sometimes emits invalid markup (stray close
              // tags) — the reference's BeautifulSoup fallback,
              // reproduced as a minimal soup repair
        case _: org.xml.sax.SAXException => Rdfa.secureDom(repairXml(cleaned))
      }
    val root = doc.getDocumentElement
    require(root.getNodeName == "pdf2xml",
      s"Unexpected root node from pdftohtml -xml: ${root.getNodeName}")

    val fontspec = mutable.Map.empty[Int, FontSpec]
    val pages = Vector.newBuilder[PdfPage]

    // font-encoding analysis pre-pass (_analyze_font_encodings,
    // pdfreader.py:923-956): sample up to 10 <text> lines per
    // custom-encoded font and let the decoder pick its offset map; a
    // font whose encoding cannot be detected stays undecoded.
    if (decoder.wantsAnalysis) {
      val samples = mutable.Map.empty[String, Vector[FontSample]]
      childElems(root).filter(_.getNodeName == "page").foreach { pg =>
        childElems(pg).foreach { e =>
          e.getNodeName match {
            case "fontspec" =>
              if (fontinfo.get(e.getAttribute("family")).contains("Custom"))
                samples(e.getAttribute("id")) = Vector.empty
            case "text" if samples.contains(e.getAttribute("font")) =>
              val id = e.getAttribute("font")
              if (samples(id).length < 10) {
                val iTexts = childElems(e).filter(_.getNodeName == "i")
                  .flatMap(c => Option(c.getTextContent))
                samples(id) = samples(id) :+ FontSample(
                  e.getTextContent, iTexts.toVector, iTexts.nonEmpty)
              }
            case _ => ()
          }
        }
      }
      samples.foreach { case (id, ss) =>
        try decoder.analyzeFont(id.toInt, ss)
        catch { case _: IllegalStateException => () }
      }
    }

    childElems(root).foreach { pageEl =>
      if (pageEl.getNodeName == "page") {
        val boxes = mutable.ArrayBuffer.empty[Textbox]
        var afterFootnote = false
        val elems = childElems(pageEl)
        elems.zipWithIndex.foreach { case (el, i) =>
          el.getNodeName match {
            case "fontspec" =>
              val fullFamily = el.getAttribute("family")
              val enc = fontinfo.get(fullFamily)
              val family =
                if (fullFamily.contains("+"))
                  fullFamily.split("\\+", 2)(1)
                else fullFamily
              val id = el.getAttribute("id").toInt
              fontspec(id) = decoder.fontspec(FontSpec(id,
                el.getAttribute("size").toInt, family,
                el.getAttribute("color"), enc))
            case "image" => ()
            case "text" =>
              // eliminate "empty" textboxes (pdfreader.py:674-680)
              val hasChildEls = childElems(el).nonEmpty
              val ownText = Option(el.getFirstChild).collect {
                case t if t.getNodeType == Node.TEXT_NODE => t.getNodeValue
              }
              val isEmpty = !hasChildEls &&
                ownText.forall(t => txt(t).trim.isEmpty)
              if (!isEmpty) {
                val nextText = elems.drop(i + 1)
                  .find(_.getNodeName == "text")
                val lastbox = boxes.lastOption
                makeTextbox(el, nextText, lastbox, boxes.toVector,
                    fontspec.toMap, decoder, detectFootnotes) match {
                  case None => ()
                  case Some((box, mergeWithCurrent)) =>
                    if (mergeWithCurrent && boxes.nonEmpty) {
                      boxes(boxes.length - 1) = boxes.last + box
                      afterFootnote = true
                    } else if (box.els.nonEmpty &&
                               box.els.head.tag.exists(t =>
                                 t.endsWith("sup") || t.endsWith("s"))) {
                      boxes += box
                      afterFootnote = true
                    } else if (afterFootnote && boxes.nonEmpty &&
                               math.abs(boxes.last.right - box.left) < 3) {
                      boxes(boxes.length - 1) = boxes.last + box
                      afterFootnote = false
                    } else {
                      boxes += box
                    }
                }
              }
            case _ => () // outline, comments
          }
        }
        pages += PdfPage(pageEl.getAttribute("number").toInt,
          pageEl.getAttribute("width").toInt,
          pageEl.getAttribute("height").toInt, boxes.toVector)
      }
    }
    PdfDoc(pages.result(), fontspec.toMap)
  }

  /** _parse_xml_make_textbox (pdfreader.py:712-807): textelement
    * extraction, footnote-marker detection and tagging, and the
    * whitespace-only-run merge. Returns (box, mergeWithCurrent). */
  private def makeTextbox(element: Element, nextelement: Option[Element],
      lastbox: Option[Textbox], pageBoxes: Vector[Textbox],
      fontspec: Map[Int, FontSpec], decoder: TextDecoder,
      detectFootnotes: Boolean): Option[(Textbox, Boolean)] = {
    // NOTE: a box whose textelements all proved empty is still
    // CREATED (the reference appends it; an after_footnote merge can
    // later fold real content into it — test_empty /
    // test_after_footnote_tag, testPDFReader.py:576-670)
    var textelements = elementsOf(element, "", None, linked = false,
      keepWsOnly = false)

    val top = element.getAttribute("top").toInt
    val left = element.getAttribute("left").toInt
    val width = element.getAttribute("width").toInt
    val height = element.getAttribute("height").toInt
    val fontid = element.getAttribute("font").toInt
    val thisfont = fontspec(fontid)
    val lastfont = lastbox.map(b => fontspec(b.fontid))
    val nextfont = nextelement.flatMap(ne =>
      Option(ne.getAttribute("font")).filter(_.nonEmpty)
        .map(f => fontspec(f.toInt)))

    if (detectFootnotes && textelements.nonEmpty) {
      val head = textelements.head
      val isDigit = {
        val t = head.text.trim
        t.nonEmpty && t.forall(_.isDigit)
      }
      val nearLast = (lastfont, lastbox) match {
        case (Some(lf), Some(lb)) =>
          lf.family == thisfont.family && lf.size > thisfont.size &&
            -5 < left - lb.right && left - lb.right < 10 &&
            0 < lb.bottom - (top + height) &&
            lb.bottom - (top + height) < 20
        case _ => false
      }
      val nearNext = (nextfont, nextelement) match {
        case (Some(nf), Some(ne)) =>
          val nl = ne.getAttribute("left").toInt
          val nt = ne.getAttribute("top").toInt
          val nh = ne.getAttribute("height").toInt
          thisfont.family == nf.family && thisfont.size < nf.size &&
            -5 < nl - (left + width) && nl - (left + width) < 10 &&
            0 < (nt + nh) - (top + height) && (nt + nh) - (top + height) < 20
        case _ => false
      }
      if (isDigit && (nearLast || nearNext)) {
        // superscript tagging (pdfreader.py:737-744)
        val newHead =
          if (head.linked || head.tag.isDefined)
            head.copy(tag = Some(head.tag.getOrElse("") + "s"))
          else head.copy(tag = Some("sup"))
        textelements = newHead +: textelements.tail

        lastbox match {
          case Some(lb) if math.abs(lb.right - left) < 3 =>
            // inline marker — merge with the current box
            return Some((Textbox(top, left, width, height, fontid,
              textelements), true))
          case _ =>
            // footer marker — a fresh box sized from the FOLLOWING
            // element (pdfreader.py:752-770; the reference's footer
            // test `min(lefts+[0]) - left < 3` always holds)
            nextelement match {
              case Some(ne) =>
                val box = Textbox(ne.getAttribute("top").toInt, left,
                  width, ne.getAttribute("height").toInt,
                  ne.getAttribute("font").toInt, mergeWs(textelements))
                return Some((decoder(box, fontspec), false))
              case None => ()
            }
        }
      }
    }
    val box = Textbox(top, left, width, height, fontid,
      mergeWs(textelements))
    Some((decoder(box, fontspec), false))
  }

  /** Whitespace-only-run merge (pdfreader.py:794-806): an all-space
    * element joins the previous one when of the same kind and uri
    * (its differing tag is discarded). */
  private def mergeWs(els: Vector[TextEl]): Vector[TextEl] = {
    val merged = mutable.ArrayBuffer.empty[TextEl]
    els.foreach { x =>
      if (merged.nonEmpty && x.text.nonEmpty && x.text.trim.isEmpty &&
          merged.last.linked == x.linked && merged.last.uri == x.uri)
        merged(merged.length - 1) = merged.last + x
      else merged += x
    }
    merged.toVector
  }

  // ------------------------------------------------------- hOCR parse
  /** `bbox L T R B(; x_wconf C)?` searched anywhere in a title attr
    * (pdfreader.py:403-404; re_dimensions is a `search`, so the page
    * title's leading `image "…";` prefix is skipped). */
  private val BboxRe =
    ("bbox (\\d+) (\\d+) (\\d+) (\\d+)(; x_wconf (\\d+)|)").r.unanchored

  private final case class HocrDim(left: Int, top: Int, right: Int,
                                   bottom: Int, confidence: Option[Int])

  /** _parse_hocr (pdfreader.py:405-522) over tesseract's hOCR XHTML —
    * the OCR path of the reference's PDFReader (ocr_lang → .hocr.html
    * intermediate; its own suite drives this from canned fixtures,
    * testPDFReader.py:160-218, exactly as we do):
    *
    *  - per-page pixel→point scaling from the ocr_page bbox against an
    *    assumed A4 height (11.69 in × 72 pt), Python-round
    *    (half-to-even = Math.rint) per coordinate;
    *  - one Textbox per ocr_line (ocr_carea level discarded), carrying
    *    the parent ocr_par id when present and a char-length-weighted
    *    mean x_wconf confidence;
    *  - one Textelement per ocrx_word (text + tail, \n → space,
    *    whitespace-only words dropped) with word-level geometry; an
    *    em/strong child maps to the i/b tag;
    *  - footnote heuristic: a digit-only first word at most half the
    *    line's average word height becomes "sup";
    *  - synthesized fontspecs: family "unknown", size = the line's
    *    average word height (integer mean), deduplicated across the
    *    document.
    */
  def parseHocr(html: String): PdfDoc = {
    val doc = Rdfa.secureDom(html.replaceFirst("(?s)<!DOCTYPE[^>]*>", ""))

    def descendants(e: Element, cls: String): Vector[Element] = {
      val out = Vector.newBuilder[Element]
      def walk(x: Element): Unit = childElems(x).foreach { c =>
        if (c.getAttribute("class") == cls) out += c
        walk(c)
      }
      walk(e)
      out.result()
    }
    // element.tail — all text after the end tag up to the next sibling
    // element (lxml's model, reproduced over DOM siblings)
    def tailOf(e: Element): String = {
      val sb = new StringBuilder
      var n = e.getNextSibling
      while (n != null && (n.getNodeType == Node.TEXT_NODE ||
             n.getNodeType == Node.CDATA_SECTION_NODE)) {
        sb.append(n.getNodeValue); n = n.getNextSibling
      }
      sb.toString
    }

    val fontspec = mutable.LinkedHashMap.empty[Int, FontSpec]
    val pages = Vector.newBuilder[PdfPage]

    descendants(doc.getDocumentElement, "ocr_page").foreach { pageEl =>
      // A4 pixel→point scale factor, computed exactly as the reference
      // does (11.69 in / (1/72) pt-per-in; FIXME there: real page dims)
      val pageheightInPoints = 11.69 / (1.0 / 72)
      val pm = BboxRe.findFirstMatchIn(pageEl.getAttribute("title"))
        .getOrElse(sys.error("ocr_page without bbox"))
      val pxPerPoint = (pm.group(4).toInt - pm.group(2).toInt) /
        pageheightInPoints

      def dimensions(title: String): HocrDim = {
        val m = BboxRe.findFirstMatchIn(title)
          .getOrElse(sys.error(s"no bbox in title: $title"))
        def pt(g: Int) = Math.rint(m.group(g).toInt / pxPerPoint).toInt
        HocrDim(pt(1), pt(2), pt(3), pt(4),
          Option(m.group(6)).filter(_.nonEmpty).map(_.toInt))
      }

      val dim = dimensions(pageEl.getAttribute("title"))
      val pageNumber = pageEl.getAttribute("id").substring(5).toInt
      val boxes = mutable.ArrayBuffer.empty[Textbox]

      descendants(pageEl, "ocr_line").foreach { lineEl =>
        val boxdim = dimensions(lineEl.getAttribute("title"))
        val parid = Option(lineEl.getParentNode).collect {
          case p: Element if p.getAttribute("class") == "ocr_par" =>
            p.getAttribute("id")
        }
        var confidence = 0L
        var conflen = 0L
        var textelements = Vector.empty[TextEl]
        descendants(lineEl, "ocrx_word").foreach { wordEl =>
          val wdim = dimensions(wordEl.getAttribute("title"))
          val t0 = wordEl.getTextContent + tailOf(wordEl)
          if (t0.trim.nonEmpty) {
            val t = t0.replace("\n", " ")
            val tag = childElems(wordEl).headOption.map { c =>
              c.getNodeName match {
                case "em" => "i"
                case "strong" => "b"
                case other => sys.error(s"unexpected word child <$other>")
              }
            }
            textelements = textelements :+ TextEl(t, tag, None,
              Some(Geom(wdim.top, wdim.left, wdim.right - wdim.left,
                wdim.bottom - wdim.top)))
            val tlen = t.trim.length
            confidence += wdim.confidence.getOrElse(0).toLong * tlen
            conflen += tlen
          }
        }
        if (textelements.nonEmpty) {
          val heights = textelements.map(_.geom.get.height)
          val avgheight = heights.sum / heights.length
          val h = textelements.head
          if (h.text.trim.nonEmpty && h.text.trim.forall(_.isDigit) &&
              h.geom.get.height <= avgheight / 2.0)
            textelements = h.copy(tag = Some("sup")) +: textelements.tail

          val fontid = fontspec.collectFirst {
            case (id, s) if s.size == avgheight && s.family == "unknown" =>
              id
          }.getOrElse {
            val id = fontspec.size
            fontspec(id) = FontSpec(id, avgheight, "unknown", "#000000")
            id
          }
          val conf = confidence.toDouble / conflen
          require(conf <= 100, "Confidence is impossibly high")
          boxes += Textbox(boxdim.top, boxdim.left,
            boxdim.right - boxdim.left, boxdim.bottom - boxdim.top,
            fontid, textelements, parid = parid, confidence = Some(conf))
        }
      }
      pages += PdfPage(pageNumber, dim.right - dim.left,
        dim.bottom - dim.top, boxes.toVector)
    }
    PdfDoc(pages.result(), fontspec.toMap)
  }

  // --------------------------------------------- serialization surface
  private def xmlesc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  private def num(d: Double): String =
    if (d == d.toLong) d.toLong.toString else d.toString

  /** ferenda.elements serialize() shape for one Textbox — the format
    * the reference's own test expectations are written in
    * (testPDFReader.py:380-744). */
  def serializeBox(b: Textbox, indent: Int = 0): String = {
    val pad = " " * indent
    val attrs = s"""bottom="${b.bottom}" fontid="${b.fontid}" """ +
      s"""height="${b.height}" left="${b.left}" """ +
      s"""lineheight="${num(b.lineheight)}" lines="${b.lines}" """ +
      s"""right="${b.right}" top="${b.top}" width="${b.width}""""
    if (b.els.isEmpty) s"$pad<Textbox $attrs />\n"
    else s"$pad<Textbox $attrs>\n" + b.els.map { e =>
      val name = if (e.linked) "LinkedTextelement" else "Textelement"
      val ta = e.tag.map(t => s""" tag="$t"""").getOrElse("")
      val ua = if (e.linked) s""" uri="${xmlesc(e.uri.get)}"""" else ""
      s"$pad  <$name$ta$ua>${xmlesc(e.text)}</$name>\n"
    }.mkString + s"$pad</Textbox>\n"
  }

  def serializePage(p: PdfPage): String =
    s"""<Page height="${p.height}" number="${p.number}" """ +
      s"""width="${p.width}">\n""" +
      p.boxes.map(serializeBox(_, 2)).mkString + "</Page>\n"

  /** Textbox.as_xhtml content semantics (pdfreader.py:1468-1520 +
    * Textelement/LinkedTextelement.as_xhtml): adjacent same-kind
    * same-tag same-uri elements merge, untagged plain runs render as
    * bare text, tag strings nest per character (s → sup), links wrap
    * in <a href>. The reference's positional class/style attributes
    * are presentation metadata its own tests strip — omitted. */
  def asXhtml(b: Textbox): String = {
    val merged = mutable.ArrayBuffer.empty[TextEl]
    b.els.foreach { e =>
      if (merged.nonEmpty && merged.last.linked == e.linked &&
          merged.last.tag == e.tag && merged.last.uri == e.uri)
        merged(merged.length - 1) = merged.last + e
      else merged += e
    }
    def clean(s: String): String = s.filterNot(_.isControl)
    val body = merged.map { e =>
      val tagmap = Map('s' -> "sup", 'b' -> "b", 'i' -> "i", 'a' -> "a")
      val tagchars =
        (if (e.linked) "a" else "") +
          e.tag.map(t => if (t == "sup") "sup" else t).getOrElse("")
      val text = xmlesc(clean(e.text))
      if (tagchars.isEmpty) text
      else if (tagchars == "sup") s"<sup>$text</sup>"
      else {
        val names = tagchars.map(tagmap)
        val open = names.map(n =>
          if (n == "a") s"""<a href="${xmlesc(e.uri.getOrElse(""))}">"""
          else s"<$n>").mkString
        val close = names.reverse.map(n => s"</$n>").mkString
        open + text + close
      }
    }.mkString
    s"<p>$body</p>"
  }

  // ------------------------------------------------------ soup repair
  private val TagTok =
    java.util.regex.Pattern.compile("</?([a-zA-Z][\\w-]*)[^>]*>")

  /** Minimal tag-soup repair for pdftohtml's occasionally-invalid
    * markup (stray close tags — the reference falls back to
    * BeautifulSoup, pdfreader.py:612-629): drop closing tags with no
    * matching opener, close dangling opens before a parent close. */
  private[parse] def repairXml(xml: String): String = {
    val out = new StringBuilder
    var stack = List.empty[String]
    val m = TagTok.matcher(xml)
    var pos = 0
    while (m.find()) {
      out.append(xml.substring(pos, m.start()))
      pos = m.end()
      val tok = m.group()
      val name = m.group(1)
      if (tok.startsWith("</")) {
        if (stack.contains(name)) {
          while (stack.head != name) { // close dangling inner opens
            out.append(s"</${stack.head}>")
            stack = stack.tail
          }
          out.append(tok)
          stack = stack.tail
        } // else: unmatched close — dropped
      } else {
        out.append(tok)
        if (!tok.endsWith("/>") && !tok.startsWith("<?") &&
            !tok.startsWith("<!"))
          stack = name :: stack
      }
    }
    out.append(xml.substring(pos))
    out.toString
  }

  /** The .fontinfo sidecar table (pdffonts output;
    * pdfreader.py:527-557): family → encoding column. */
  def parseFontinfo(text: String): Map[String, String] = {
    val fonttypemap = Seq("Type 1C (OT)" -> "Type1C(OT)",
      "CID Type 0C (OT)" -> "CIDType0C(OT)",
      "CID TrueType (OT)" -> "CIDTrueType(OT)",
      "TrueType (OT)" -> "TrueType(OT)",
      "CID Type 0C" -> "CIDType0C", "CID Type 0" -> "CIDType0",
      "CID TrueType" -> "CIDTrueType",
      "Type 1C" -> "Type1C", "Type 1" -> "Type1", "Type 3" -> "Type3")
    var fields: Array[String] = Array.empty
    val out = mutable.Map.empty[String, Map[String, String]]
    text.split("\n").foreach { line0 =>
      if (line0.nonEmpty) {
        if (fields.isEmpty) fields = line0.trim.split("\\s+")
        else if (!line0.startsWith("-----")) {
          var line = line0
          fonttypemap.foreach { case (k, v) =>
            if (line.contains(k)) line = line.replace(k, v)
          }
          val cols = line.trim.split("\\s+")
          if (cols.nonEmpty && !out.contains(cols(0)))
            out(cols(0)) = fields.zip(cols).toMap
        }
      }
    }
    out.view.mapValues(_.getOrElse("encoding", "")).toMap
      .filter(_._2.nonEmpty)
  }
}
