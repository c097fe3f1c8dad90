package graft.parse

/** FSM configuration for RFC-shaped plain-text documents.
  *
  * Semantics re-expressed from the reference RFC repo's parser setup
  * (/root/reference/ferenda/sources/tech/rfc.py:133-428): recognizer order,
  * transition table, and constructor behavior all match, so the golden
  * fixture test/files/rfc/basic.txt → basic.xml passes.
  */
object RfcParser {
  import FsmParser._

  /** (leftColumn, rightColumn, lineLength) per line, split on the first
    * 3-space run (rfc.py:164-177). */
  private def splitColumns(chunk: String): Seq[(String, String, Int)] =
    chunk.split("\n", -1).toSeq.map { line =>
      val i = line.indexOf("   ")
      if (i >= 0) (line.substring(0, i), line.substring(i + 3), line.length)
      else (line, "", line.length)
    }

  private def isRfcHeaderChunk(chunk: String, lenient: Boolean): Boolean = {
    val cols = splitColumns(chunk)
    if (cols.size < 2) return false
    val targetLen = cols.head._3
    cols.forall { case (_, right, len) =>
      if (right.isEmpty && len > 40) false
      else if (right.nonEmpty && len != targetLen && !lenient) false
      else true
    }
  }

  private val sectionStart = """^(\d[.\d]*) +(.*[^.])$""".r

  /** "1.  Introduction" → (ordinal, title); None for plain paragraphs. */
  private def analyzeSectionStart0(chunk: String): Option[(String, String)] =
    // the reference regex is a single-line match: any newline in the chunk
    // means it is a paragraph, not a section heading
    if (chunk.contains("\n")) None
    else sectionStart.findFirstMatchIn(chunk).map { m =>
      (m.group(1).replaceAll("\\.+$", ""), m.group(2))
    }

  /** The section/subsection/subsubsection recognizers each re-analyze the
    * SAME peeked chunk instance in priority order; a one-slot identity
    * memo (thread-confined — one FsmParser per task thread) makes the
    * second and third probes free. */
  private val secMemo =
    new ThreadLocal[(String, Option[(String, String)])]

  private[parse] def analyzeSectionStart(chunk: String): Option[(String, String)] = {
    val m = secMemo.get()
    if (m != null && (m._1 eq chunk)) m._2
    else {
      val r = analyzeSectionStart0(chunk)
      secMemo.set((chunk, r))
      r
    }
  }

  private val dotRe = java.util.regex.Pattern.compile("\\.")

  private def sectionDepth(chunk: String): Int =
    analyzeSectionStart(chunk)
      .map(s => dotRe.split(s._1, -1).count(_.nonEmpty)).getOrElse(0)

  private def isPreformattedChunk(chunk: String): Boolean = {
    // drop the standard 3-space paragraph indent, un-double sentence spacing;
    // remaining double spaces / leader dots indicate tables or TOCs.
    // Evaluated line-by-line: the markers (".  " un-doubling and the three
    // probes) are all newline-free, so per-line evaluation is equivalent to
    // the joined form and skips the join/copy allocations.
    chunk.split("\n", -1).exists { l =>
      val s = (if (l.length > 3) l.substring(3) else "").replace(".  ", ". ")
      s.contains("  ") || s.contains("....") || s.contains(". . . ")
    }
  }

  private def peek(p: FsmParser[String]): String = p.reader.peek()

  // ---- recognizers (declaration order = priority order, rfc.py:381-392) --
  private val isPagebreak = Recognizer[String]("pagebreak", p => peek(p).contains('\f'))
  private val isRfcHeader =
    Recognizer[String]("rfcheader", p => isRfcHeaderChunk(peek(p), lenient = true))
  private val isDocTitle = Recognizer[String]("doctitle", _ => true)
  private val isSection = Recognizer[String]("section", p => sectionDepth(peek(p)) == 1)
  private val isSubsection =
    Recognizer[String]("subsection", p => sectionDepth(peek(p)) == 2)
  private val isSubsubsection =
    Recognizer[String]("subsubsection", p => sectionDepth(peek(p)) == 3)
  private val isHeader = Recognizer[String]("header", { p =>
    val chunk = peek(p)
    val s = chunk.trim
    s.nonEmpty && !s.contains("\n") && !s.endsWith(".") && !chunk.startsWith(" ")
  })
  private val isUlListitem =
    Recognizer[String]("ul_listitem", p => peek(p).trim.startsWith("o  "))
  private val isPreformatted =
    Recognizer[String]("preformatted", p => isPreformattedChunk(peek(p)))
  private val isParagraph = Recognizer[String]("paragraph", _ => true)

  // ---- constructors -----------------------------------------------------
  private def makeBody = Constructor[String]("make_body", pushesState = true,
    p => Some(p.makeChildren(TreeNode("Body"))))

  private def makeRfcHeader = Constructor[String]("make_rfcheader", pushesState = false, { p =>
    var chunk = p.reader.next()
    // re-join a header split by a spurious blank line (rfc.py:337-339):
    // strict (non-lenient) column check against the next chunk
    if (p.reader.peekOpt().exists(c => isRfcHeaderChunk(c, lenient = false)))
      chunk += "\n" + p.reader.next()
    Some(TreeNode("RFCHeader", text = Some(chunk)))
  })

  private def makeDocTitle = Constructor[String]("make_doctitle", pushesState = false,
    p => Some(TreeNode("DocTitle", text = Some(p.reader.next()))))

  private def makePreambleSection = Constructor[String]("make_preamble_section",
    pushesState = true, { p =>
      val title = p.reader.next()
      Some(p.makeChildren(TreeNode("PreambleSection",
        attrs = Vector("title" -> title))))
    })

  private def makeAbstract = Constructor[String]("make_abstract", pushesState = true,
    p => Some(p.makeChildren(TreeNode("PreambleSection",
      attrs = Vector("title" -> "(Abstract)")))))

  private val multiSpaceRe = java.util.regex.Pattern.compile("  +")

  private def skipPagebreak = Constructor[String]("skip_pagebreak", pushesState = false, { p =>
    val chunk = p.reader.next()
    val lastline = chunk.split("\n", -1).last
    val parts = multiSpaceRe.split(lastline, -1)
    if (parts.length > 2)
      Some(TreeNode("Pagebreak", attrs = Vector("shorttitle" -> parts(1))))
    else None
  })

  /** Single-pass equivalent of split("\\s+")-filter-mkString(" "):
    * whitespace runs collapse to one space, leading/trailing dropped. */
  private def normalizeWs(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    var pendingSpace = false
    while (i < s.length) {
      val c = s.charAt(i)
      // exactly the regex \s class: [ \t\n\x0B\f\r]
      val ws = c == ' ' || c == '\t' || c == '\n' || c == '\u000B' ||
        c == '\f' || c == '\r'
      if (ws) { if (sb.length > 0) pendingSpace = true }
      else {
        if (pendingSpace) { sb.append(' '); pendingSpace = false }
        sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  private def makeParagraph = Constructor[String]("make_paragraph", pushesState = false,
    p => Some(TreeNode("Paragraph").appendText(normalizeWs(p.reader.next()))))

  private def makePreformatted = Constructor[String]("make_preformatted", pushesState = false,
    p => Some(TreeNode("Preformatted").appendText(p.reader.next())))

  /** The document's basefile, bound for the duration of one parse() call
    * (thread-confined — one FsmParser per task thread). Keeping it out of
    * the constructor closures lets the whole FSM config be built ONCE per
    * JVM instead of once per document. Set and read on the parsing
    * thread only: parse() is its one writer. */
  private val tlBasefile = new ThreadLocal[String] {
    override def initialValue(): String = "0"
  }

  private def makeSectionAt(tag: String) =
    Constructor[String](s"make_${tag.toLowerCase}", pushesState = true, { p =>
      val chunk = p.reader.next()
      val (ordinal, title) = analyzeSectionStart(chunk)
        .getOrElse(throw new IllegalStateException(s"not a section: $chunk"))
      Some(p.makeChildren(TreeNode(tag, attrs = Vector(
        "ordinal" -> ordinal,
        "title" -> title,
        "identifier" -> s"RFC ${tlBasefile.get()}, section $ordinal"))))
    })

  private def makeListItem = Constructor[String]("make_listitem", pushesState = true, { p =>
    val chunk = p.reader.next()
    // analyze_listitem (rfc.py:370-379): "   o  " prefix → disc item
    val rest = if (chunk.startsWith("   o  ")) chunk.substring(6) else chunk
    Some(p.makeChildren(TreeNode("ListItem").appendText(rest)))
  })

  private def makeUnorderedList = Constructor[String]("make_unordered_list",
    pushesState = true, { p =>
      var ol = TreeNode("UnorderedList", attrs = Vector("type" -> "disc"))
      // first item is built eagerly in its own frame (rfc.py:322-327)
      val first = {
        val c = makeListItem
        // equivalent of parser.make_child(make_listitem, "listitem")
        p.makeChildrenFrame(c, "listitem")
      }
      first.foreach(e => ol = ol.appendChild(e))
      Some(p.makeChildren(ol))
    })

  private lazy val staticConfig: Config[String] = {
    val makeSection = makeSectionAt("Section")
    val makeSubsection = makeSectionAt("Subsection")
    val makeSubsubsection = makeSectionAt("Subsubsection")
    val common = Seq("section", "subsection", "subsubsection")

    val t = Map.newBuilder[(String, String), Transition[String]]
    t += ("body" -> "rfcheader") -> Transition[String](Some(makeRfcHeader), Some("doctitle"))
    t += ("doctitle" -> "doctitle") -> Transition[String](Some(makeDocTitle), Some("preamble"))
    t += ("preamble" -> "header") -> Transition[String](Some(makePreambleSection), Some("preamble-section"))
    t += ("preamble" -> "paragraph") -> Transition[String](Some(makeAbstract), Some("preamble-section"))
    t += ("preamble-section" -> "paragraph") -> Transition[String](Some(makeParagraph), None)
    t += ("preamble-section" -> "header") -> Transition[String](None, None)
    t += ("preamble-section" -> "pagebreak") -> Transition[String](Some(skipPagebreak), None)
    t += ("preamble-section" -> "section") -> Transition[String](None, Some("after-preamble"))
    t += ("after-preamble" -> "section") -> Transition[String](Some(makeSection), Some("section"))
    t += ("section" -> "subsection") -> Transition[String](Some(makeSubsection), Some("subsection"))
    t += ("section" -> "section") -> Transition[String](None, None)
    t += ("subsection" -> "subsubsection") -> Transition[String](Some(makeSubsubsection), Some("subsubsection"))
    t += ("subsection" -> "subsection") -> Transition[String](None, None)
    t += ("subsection" -> "section") -> Transition[String](None, None)
    t += ("subsubsection" -> "subsubsection") -> Transition[String](None, None)
    t += ("subsubsection" -> "subsection") -> Transition[String](None, None)
    t += ("subsubsection" -> "section") -> Transition[String](None, None)
    for (s <- common) {
      t += (s -> "ul_listitem") -> Transition[String](Some(makeUnorderedList), Some("ul-list"))
      t += (s -> "preformatted") -> Transition[String](Some(makePreformatted), None)
      t += (s -> "paragraph") -> Transition[String](Some(makeParagraph), None)
      t += (s -> "pagebreak") -> Transition[String](Some(skipPagebreak), None)
    }
    t += ("ul-list" -> "ul_listitem") -> Transition[String](Some(makeListItem), Some("listitem"))
    t += ("ul-list" -> "paragraph") -> Transition[String](None, None)
    t += ("listitem" -> "paragraph") -> Transition[String](None, None)

    Config(
      recognizers = Vector(isPagebreak, isRfcHeader, isDocTitle, isSection,
        isSubsection, isSubsubsection, isHeader, isUlListitem,
        isPreformatted, isParagraph),
      transitions = t.result(),
      initialState = "body",
      initialConstructor = makeBody)
  }

  /** Split raw document text into paragraph chunks: leading newlines
    * consumed, chunk runs to the next blank line (TextReader.readparagraph,
    * /root/reference/ferenda/textreader.py:159-167); faux-bold backspace
    * sequences scrubbed (rfc.py:462-467). */
  private val boldRe = java.util.regex.Pattern.compile(".\\u0008")
  private val blankLineRe = java.util.regex.Pattern.compile("\n\n+")

  def paragraphs(text: String): Iterator[String] = {
    val clean =
      if (text.indexOf('\u0008') < 0) text
      else boldRe.matcher(text).replaceAll("")
    blankLineRe.split(clean, -1).iterator
      .map(_.dropWhile(_ == '\n')).filter(_.nonEmpty)
  }

  /** Parse one RFC-shaped document into its element tree. */
  def parse(text: String, basefile: String = "0"): TreeNode = {
    tlBasefile.set(basefile)
    new FsmParser(staticConfig, paragraphs(text)).parse()
  }
}
