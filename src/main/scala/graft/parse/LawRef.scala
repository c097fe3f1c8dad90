package graft.parse

import java.util.regex.{Matcher, Pattern}
import scala.collection.mutable

/** Stateful dictionary-driven legal-citation parser — the re-expression of
  * the reference's flagship LegalRef extractor for SFS law references
  * (/root/reference/ferenda/sources/legal/se/legalref.py and the grammars
  * lagrum.ebnf / base.ebnf).
  *
  * Faithfully kept semantics (golden-tested against the reference's OWN
  * fixture suite, the .txt files under
  * /root/reference/test/files/legalref/SFS, in LawRefGoldenSpec):
  *  - per-document anaphora: `currentLaw` (within one citation root) and
  *    `lastLaw` (across roots) resolve "… enligt 12 kap. 10 § samma lag"
  *    back to the most recently cited law (legalref.py:340-342, 1017-1027);
  *  - in-document learning: "elberedskapslagen (1997:288)" teaches the
  *    parser that name → SFS id for the rest of the document
  *    (`currentlynamedlaws`, legalref.py:976-979), on top of an injected
  *    named-law dictionary (rdfs:label relations, legalref.py:258-266)
  *    with genitive normalization (normalize_lawname, legalref.py:618-622);
  *  - link-merging: a single-section reference with a named/same-law tail
  *    renders as ONE link spanning the whole phrase, while anonymous-law
  *    and multi-section phrases link each part separately
  *    (format_ExternalRefs merge rule, legalref.py:1052-1060);
  *  - URI shape: {base}{year:no}#K{chapter}P{section}S{piece}, #L{lawref}
  *    for change references (sfs_format_uri, legalref.py:829-881), with
  *    relative references completed from a base law (baseuri_attributes).
  *
  * The implementation is a hand-rolled recursive-descent scanner with
  * backtracking — NOT a port of the SimpleParse table engine; the EBNF
  * files only document WHAT to recognize. Coverage: ALL 76 SFS fixtures
  * the reference's own suite runs green parse byte-identically (the 6 it
  * marks expectedFailure are excluded, as in its own harness) —
  * section/chapter/piece/sentence ("meningen")/element ("mom.")/item
  * ("punkten", letters, parenthesised) references, lists and ranges,
  * anonymous/named/compound/same-law tails, change refs, NOBASE mode,
  * NBSP whitespace, archaic page-suffixed SFS ids.
  */
object LawRef {

  /** One output segment: plain text or a link with a minted URI.
    * `anaphoric` marks links whose law was resolved through the
    * "samma/nämnda lag" back-reference (lastLaw) rather than stated in
    * the text — downstream consumers (LawDoc mentions) surface this as a
    * distinct grammar tag. */
  final case class Seg(text: String, uri: Option[String] = None,
                       anaphoric: Boolean = false)

  /** Parser configuration. `namedLaws` keys are NORMALIZED law names
    * (lowercase, genitive 's' stripped); values are SFS ids ("1962:700").
    * `baseLaw` is the document's own SFS id — relative references ("3 §")
    * resolve against it (the reference's baseuri_attributes). */
  final case class Conf(
      base: String = "https://lagen.nu/",
      baseLaw: Option[String] = Some("9999:999"),
      namedLaws: Map[String, String] = Map.empty,
      /** KORTLAGRUM abbreviations (dcterms:alternate: "MBL" → SFS id),
        * matched case-sensitively, LONGEST FIRST so "3 § MBL" can never
        * read as "MB"+"L" (legalref.py:268-281). Empty = mode off. */
      abbrevs: Map[String, String] = Map.empty)

  /** normalize_lawname (legalref.py:618-622): lowercase + strip genitive;
    * internal whitespace runs collapse to one space (compound names may
    * break across lines). */
  def normalizeLawName(name: String): String = {
    val n = name.toLowerCase.replaceAll("[\\s\\u00a0]+", " ")
    if (n.endsWith("s")) n.dropRight(1) else n
  }

  /** Common -lagen/-ordningen words that are NOT laws (a representative
    * subset of the reference's `nolaw` stop list, legalref.py:624-718;
    * only consulted on dictionary lookups, where an unknown name already
    * resolves to nothing). */
  private val noLaw: Set[String] = Set(
    "anordningen", "anslagen", "arbetsordningen", "bolagen", "dagordningen",
    "förslagen", "rättsordningen", "slagen", "turordningen", "underlagen",
    "uniformen", "upplagen", "utslagen", "varuslagen")

  private val pieceMap = Map(
    "första" -> "1", "andra" -> "2", "tredje" -> "3", "fjärde" -> "4",
    "femte" -> "5", "sjätte" -> "6", "sjunde" -> "7", "åttonde" -> "8",
    "nionde" -> "9")

  // ------------------------------------------------------------ patterns
  private def re(p: String): Pattern = CitationScanner.re(p)

  private val Ws = re("\\s+")
  /** SectionRefID: number + optional single a-n letter not followed by a
    * letter (base.ebnf SectionRefChar + the ?-char lookahead). */
  private val SecId = re("([0-9]+)(\\s+[a-n](?![\\p{L}0-9]))?(?![\\p{L}0-9])")
  /** ChapterRefID + kap keyword (lagrum.ebnf ChapterRef). */
  private val Chap = re(
    "([0-9]+)(\\s+[a-zåäö](?![\\p{L}0-9]))?\\s+[Kk]ap\\.?(?![\\p{L}])")
  private val SectionMark = re("\\s+(§§|§)")
  private val RangeSep = re("\\s*--?\\s*")
  /** ", och " before CommaSep: the Oxford-comma shape
    * (CommaSpaceAndWhitespace in lagrum.ebnf). */
  private val CommaConjSep = re(",\\s+(och|eller|samt)\\s+")
  private val CommaSep = re(",\\s+")
  private val ConjSep = re("\\s+(och|eller|samt)\\s+")
  private val Ordinal = re(
    "(första|andra|tredje|fjärde|femte|sjätte|sjunde|åttonde|nionde)(?![\\p{L}])")
  private val PieceWord = re("\\s+(styckena|stycket|st\\.|st)(?![\\p{L}])")
  /** Digit piece ordinal — only valid with an "st."-style word directly
    * after ("2 st.", base.ebnf ordinal's [1-9] branch). */
  private val DigitOrdinal = re("([1-9])(?![0-9])")
  private val Mening = re("\\s+(meningen|meningarna)(?![\\p{L}])")
  private val MomWord = re("\\s+mom\\.?(?![\\p{L}])")
  private val Punkten = re("\\s+punkten(?![\\p{L}])")
  private val BareNum = re("([0-9]+)(?![\\p{L}0-9])")
  /** ItemRefID: number + optional single letter (ItemRefChar = [a-h j-z],
    * 'i' excluded so "2 b i denna paragraf" ends at 'b'), optionally
    * followed by '.' or ')' (ItemRef ::= ItemRefID Period? RightParen?,
    * included in the link text but not the fragment). */
  private val ItemId = re(
    "([0-9]+)(\\s+[a-hj-z](?![\\p{L}0-9]))?[.)]?(?![\\p{L}0-9])")
  /** "anvisningarna punkt N" — the reversed item-before-piece shape
    * (lagrum.ebnf ItemNumericRef / SectionPieceItemRef alt 2). */
  /** Bare-letter item ("10 § f" → Nf; ItemRefID's letter branch). */
  private val ItemLetter = re("([a-hj-z])[.)]?(?![\\p{L}0-9])")
  private val AnvisPunkt = re(
    "\\s+anvisningarna\\s+punkt\\s+([0-9]+)(?![\\p{L}0-9])")
  /** A number that is actually the start of a section reference ("7 §",
    * "4 a §") — the EBNF's `?-' §'` item guard. */
  private val NumIsSection = re(
    "[0-9]+(?:\\s+[a-n](?![\\p{L}0-9]))?\\s+§")
  private val SfsNr = re("\\(\\s*([0-9]{4}:[0-9]+(?:\\s+s\\.?\\s*[0-9]+)?)\\s*\\)")
  /** Word carrying a law-name suffix STRICTLY inside it (re_escape_named,
    * legalref.py:85-86: at least one word char before the suffix), OR a
    * compound name ("offentlighets- och sekretesslagen" —
    * re_escape_compound, legalref.py:83-84). */
  private val NamedLawWord = re(
    "([\\p{L}][\\p{L}-]*-\\s+och\\s+[\\p{L}][\\p{L}-]*?" +
      "(?:lagen|förordningen)s?" +
      "|[\\p{L}][\\p{L}-]*?(?:lagen|balken|förordningen|formen|ordningen|" +
      "kungörelsen|stadgan)s?)(?![\\p{L}])")
  private val LawSynonym = re(
    "(lagen|lagens|balken|balkens|förordningen|förordningens|kungörelsen|" +
      "stadgan|lag|förordning)(?![\\p{L}])")
  private val SameLaw = re(
    "(samma|nämnda)\\s+(lag|förordning)(?![\\p{L}])")
  private val ChangeRef = re(
    "(Lag|Förordning|lag|förordning)\\s+\\(\\s*([0-9]{4}:[0-9]+)\\s*\\)")
  private val In = re("i\\s+")

  def parse(text: String, conf: Conf): Vector[Seg] =
    new Parser(conf).parse(text)

  /** One instance per DOCUMENT — `lastLaw` and the learned name→id map
    * deliberately survive across parse() calls (paragraphs), exactly as
    * the reference keeps parser state across basefile paragraphs. */
  final class Parser(conf: Conf) extends CitationScanner {
    private var lastLaw: Option[String] = None
    private val learned = mutable.HashMap.empty[String, String]
    /** Per-parse base law. In NOBASE mode (base None) every law mention
      * updates it — the reference's format_SFSNr / NamedExternalLawRef
      * nobaseuri behavior (legalref.py:1106-1110, 1137). */
    private var baseLaw: Option[String] = conf.baseLaw
    private var noBase: Boolean = conf.baseLaw.isEmpty

    /** The test driver's RESET: marker (clears learned names only). */
    def resetLearned(): Unit = learned.clear()

    /** Abbreviation alternation, longest-first (KORTLAGRUM;
      * legalref.py:268-281's sort(key=len, reverse=True)). */
    private val abbrevPattern: Option[Pattern] =
      if (conf.abbrevs.isEmpty) None
      else Some(Pattern.compile(
        "(" + conf.abbrevs.keys.toSeq.sortBy(-_.length)
          .map(Pattern.quote).mkString("|") + ")(?![\\p{L}0-9])"))

    // --------------------------------------------------------- helpers
    private def wordBoundary(pos: Int): Boolean = boundary(pos)

    /** "1736:0123 s. 2" → "1736:0123_s._2" (URI form, cf. the reference's
      * space-to-underscore minting in the gammal-lag fixture). */
    private def lawIdToUriPart(id: String): String =
      id.replaceAll("\\s+", "_")

    private def secIdNorm(text: String): String =
      text.replaceAll("\\s+", "")

    /** Enclosing-element context (the reference's baseuri_attributes
      * derived from the nearest `about` URI, swedishlegalsource.py:
      * 1653-1668): when the scanned text sits inside a statute chapter/
      * section, relative references complete against it. Set per text
      * span by the structure-aware caller (LawDoc); None outside statute
      * structure (golden fixtures, nobase mode). */
    private var ctxChapter: Option[String] = None
    private var ctxSection: Option[String] = None
    def setContext(chapter: Option[String], section: Option[String]): Unit = {
      ctxChapter = chapter
      ctxSection = section
    }

    private def uriOf(law: Option[String], chapter: Option[String] = None,
                      section: Option[String] = None,
                      piece: Option[String] = None,
                      item: Option[String] = None,
                      lawref: Option[String] = None,
                      sentence: Option[String] = None,
                      element: Option[String] = None): Option[String] = {
      val l = law.orElse(baseLaw).getOrElse(return None)
      // attribute completion from the base context (legalref.py:845-851):
      // base attributes fill in (law, chapter, section) order, STOPPING
      // at the first attribute the citation itself specifies — so a bare
      // "14 §" inside 2 kap. resolves to #K2P14, a bare "andra stycket"
      // inside 2 kap. 5 § to #K2P5S2, while an explicit law ("4 § lagen
      // (…)", "samma lag") or chapter ("3 kap. 14 §") stops the fill.
      // Change refs (lawref) keep only law+lawref (legalref.py:853-856).
      val specLaw = law.isDefined || lawref.isDefined
      val chap =
        if (!specLaw && chapter.isEmpty) ctxChapter else chapter
      val sec =
        if (!specLaw && chapter.isEmpty && section.isEmpty) ctxSection
        else section
      val frag = new StringBuilder
      lawref.foreach(r => frag.append("L").append(r))
      chap.foreach(c => frag.append("K").append(secIdNorm(c)))
      sec.foreach(x => frag.append("P").append(secIdNorm(x)))
      element.foreach(x => frag.append("O").append(x)) // 'mom.' (Element)
      // an item without an explicit piece means "first piece"
      // (sfs_format_uri, legalref.py:857-858)
      piece.orElse(if (item.isDefined) Some("1") else None)
        .foreach(x => frag.append("S").append(x))
      sentence.foreach(x => frag.append("M").append(x))
      item.foreach(x => frag.append("N").append(x))
      Some(conf.base + lawIdToUriPart(l) +
        (if (frag.nonEmpty) "#" + frag else ""))
    }

    /** Dictionary + learned lookup of a (non-normalized) law name. */
    private def resolveName(raw: String): Option[String] = {
      val n = normalizeLawName(raw)
      if (noLaw.contains(n)) None
      else learned.get(n).orElse(conf.namedLaws.get(n))
    }

    /** A bare law synonym ("lagen", "förordningen", …) is NOT a named law
      * — the reference's suffix-escape only fires when the suffix sits
      * strictly INSIDE a longer word (re_escape_named's \B anchor plus
      * the (?<!för)ordningen guard, legalref.py:85-86). */
    private val bareSynonyms = Set("lagen", "balken", "förordningen",
      "formen", "ordningen", "kungörelsen", "stadgan", "lag", "förordning")
    private def isBareSynonym(word: String): Boolean =
      bareSynonyms.contains(normalizeLawName(word))

    // --------------------------------------------- intermediate pieces
    /** A pending link: span plus attributes; law bound at root end. */
    private final case class PLink(from: Int, to: Int,
        chapter: Option[String], section: Option[String],
        piece: Option[String], item: Option[String] = None,
        sentence: Option[String] = None, element: Option[String] = None)
    private final case class Group(pieces: Vector[Either[(Int, Int), PLink]],
        nSecIds: Int, chapter: Option[String], end: Int)

    // ------------------------------------------------------ group parse
    /** Piece tail after "N §": single → merged link; list → split links
      * (format_SectionPieceRefs, legalref.py:923-935). Returns
      * (endPos, pieces) or None. `secStart` = span start for the merged
      * first link (includes chapter/section text). */
    private final case class PieceUnit(from: Int, to: Int, ord: String,
        hasWord: Boolean, item: Option[String], sentence: Option[String])

    /** One piece unit: ORD, optionally its own "stycket/styckena", an
      * optional DIRECTLY-adjacent single item ("fjärde stycket 2" /
      * "andra stycket andra punkten"), and — when asked — a sentence ref
      * ("första stycket första meningen"). */
    private def tryPieceUnit(pos: Int, allowSentence: Boolean):
        Option[PieceUnit] = {
      // word ordinal ("fjärde", piece word optional) or digit ordinal
      // ("2 st." — base.ebnf ordinal's [1-9] branch, word REQUIRED)
      val (ordEnd, ordVal) = at(Ordinal, pos) match {
        case Some(om) => (om.end, pieceMap(om.group(1)))
        case None =>
          val dm = at(DigitOrdinal, pos).getOrElse(return None)
          if (at(PieceWord, dm.end).isEmpty) return None
          (dm.end, dm.group(1))
      }
      var end = ordEnd
      var hasWord = false
      var item: Option[String] = None
      var sentence: Option[String] = None
      at(PieceWord, ordEnd).foreach { pm =>
        hasWord = true
        end = pm.end
        // single item: direct-whitespace bare number (not a new section,
        // not a range head) or "ORD punkten"
        val it = for {
          w <- at(Ws, end)
          im <- at(ItemId, w.end)
          if at(NumIsSection, w.end).isEmpty
          if at(re("\\s*--?\\s*[0-9]"), im.end).isEmpty // not a range head
        } yield (im.end,
          (im.group(1) + Option(im.group(2)).getOrElse(""))
            .replaceAll("[\\s\\u00a0]+", ""))
        val itOrd = it.orElse(for {
          w <- at(Ws, end)
          om2 <- at(Ordinal, w.end)
          pm2 <- at(Punkten, om2.end)
        } yield (pm2.end, pieceMap(om2.group(1))))
        itOrd match {
          case Some((ie, v)) => item = Some(v); end = ie
          case None if allowSentence =>
            for {
              w <- at(Ws, end)
              om2 <- at(Ordinal, w.end)
              mm <- at(Mening, om2.end)
            } {
              sentence = Some(pieceMap(om2.group(1)))
              end = mm.end
            }
          case None => ()
        }
      }
      Some(PieceUnit(pos, end, ordVal, hasWord, item, sentence))
    }

    /** Piece tail after "N §": a list of piece units, each possibly with
      * its own stycke word and item ("fjärde stycket 2 eller femte
      * stycket"), or bare ordinals terminated by a shared "styckena"
      * ("andra och tredje styckena"). First unit merges into the section
      * link; the rest link separately (format_SectionPieceRefs,
      * legalref.py:923-935). The LAST unit must carry a stycke word. */
    private def tryPieceTail(pos: Int, secStart: Int,
        chapter: Option[String], secId: String):
        Option[(Int, Vector[Either[(Int, Int), PLink]])] = {
      val wm = at(Ws, pos).getOrElse(return None)
      var p = wm.end
      val units = mutable.ArrayBuffer.empty[PieceUnit]
      val seps = mutable.ArrayBuffer.empty[(Int, Int)]
      var go = true
      while (go) {
        tryPieceUnit(p, allowSentence = units.isEmpty) match {
          case Some(u) =>
            units += u
            p = u.to
            val sep = at(CommaConjSep, p).orElse(at(CommaSep, p))
              .orElse(at(ConjSep, p))
            sep match {
              case Some(sm) if tryPieceUnit(sm.end,
                  allowSentence = false).isDefined =>
                seps += ((sm.start, sm.end))
                p = sm.end
              case _ => go = false
            }
          case None => go = false
        }
      }
      if (units.isEmpty || !units.last.hasWord) return None
      val out = Vector.newBuilder[Either[(Int, Int), PLink]]
      units.zipWithIndex.foreach { case (u, i) =>
        val from = if (i == 0) secStart else u.from
        out += Right(PLink(from, u.to, chapter, Some(secId),
          Some(u.ord), item = u.item, sentence = u.sentence))
        if (i < seps.size) out += Left((seps(i)._1, seps(i)._2))
      }
      Some((p, out.result()))
    }


    /** Bare-number item list after a single '§' or a piece ref
      * (SectionItemRefs / PieceItemRefs): "1", "1 eller 2", "39 och 40",
      * "2, 3 eller 4". A number that begins a new section reference
      * (the `?-' §'` guard) ends the list. Returns (end, items as
      * (from, to, value)). */
    private def tryItemList(pos: Int):
        Option[(Int, Vector[(Int, Int, String)])] = {
      def item(at0: Int): Option[(Int, Int, String)] =
        (for {
          im <- at(ItemId, at0)
          if at(NumIsSection, at0).isEmpty
        } yield (im.start, im.end,
          (im.group(1) + Option(im.group(2)).getOrElse("")).trim
            .replaceAll("[\\s\\u00a0]+", "")))
          .orElse(at(ItemLetter, at0).map(im =>
            (im.start, im.end, im.group(1))))
      val wm = at(Ws, pos).getOrElse(return None)
      val first = item(wm.end).getOrElse(return None)
      val items = mutable.ArrayBuffer(first)
      var p = first._2
      var go = true
      while (go) {
        val next = for {
          sep <- at(RangeSep, p).filter(_.end > p)
            .orElse(at(CommaConjSep, p)).orElse(at(CommaSep, p))
            .orElse(at(ConjSep, p))
          it <- item(sep.end)
        } yield it
        next match {
          case Some(it) => items += it; p = it._2
          case None => go = false
        }
      }
      Some((p, items.toVector))
    }

    /** Section group: a list of section ids ending in §/§§, possibly with
      * a piece tail on a single section (lagrum.ebnf SectionRefs /
      * SectionPieceRefs). */
    private def trySectionGroup(pos: Int, chapter: Option[String],
        chapterStart: Option[Int]): Option[Group] = {
      val items = mutable.ArrayBuffer.empty[(Int, Int, String)]
      val seps = mutable.ArrayBuffer.empty[(Int, Int)]
      var p = pos
      var mark: Option[(Int, String)] = None // (end, §|§§)
      while (mark.isEmpty) {
        val sm = at(SecId, p).getOrElse(return None)
        val idText = s.substring(sm.start, sm.end)
        items += ((sm.start, sm.end, idText))
        p = sm.end
        at(SectionMark, p) match {
          case Some(mm) => mark = Some((mm.end, mm.group(1)))
          case None =>
            val sep = at(RangeSep, p).orElse(at(CommaConjSep, p))
              .orElse(at(CommaSep, p)).orElse(at(ConjSep, p))
              .getOrElse(return None)
            // the next token must be another section id
            if (at(SecId, sep.end).isEmpty) return None
            seps += ((sep.start, sep.end))
            p = sep.end
        }
      }
      val markEnd = mark.get._1
      val out = Vector.newBuilder[Either[(Int, Int), PLink]]
      if (items.size == 1) {
        val (f, _, id) = items.head
        val start = chapterStart.getOrElse(f)
        // single "N §": piece tail may extend/split it
        tryPieceTail(markEnd, start, chapter, id) match {
          case Some((np, pieces)) =>
            // trailing item list on the last piece ("9 § andra stycket
            // 2-4." — punktlista): separate links, piece attr carried
            val lastPl = pieces.last match {
              case Right(pl) => Some(pl)
              case _ => None
            }
            lastPl.filter(_.item.isEmpty).flatMap(pl =>
              tryItemList(np).map((pl, _))) match {
              case Some((pl, (ie, its))) =>
                val out2 = Vector.newBuilder[Either[(Int, Int), PLink]]
                pieces.foreach(out2 += _)
                var prev = np
                its.foreach { case (f2, t2, v) =>
                  out2 += Left((prev, f2))
                  out2 += Right(PLink(f2, t2, pl.chapter, pl.section,
                    pl.piece, item = Some(v)))
                  prev = t2
                }
                return Some(Group(out2.result(), 1, chapter, ie))
              case None =>
                return Some(Group(pieces, 1, chapter, np))
            }
          case None =>
            // "anvisningarna punkt N [ORD stycket]": reversed
            // item-before-piece (P41S1N4 — the punktanvisningar shape)
            if (mark.get._2 == "§") {
              at(AnvisPunkt, markEnd).foreach { am =>
                var e2 = am.end
                var piece: Option[String] = None
                tryPieceUnit(at(Ws, e2).map(_.end).getOrElse(-1),
                    allowSentence = false) match {
                  case Some(u) if u.hasWord && u.item.isEmpty =>
                    piece = Some(u.ord); e2 = u.to
                  case _ => ()
                }
                out += Right(PLink(start, e2, chapter, Some(id), piece,
                  item = Some(am.group(1))))
                return Some(Group(out.result(), 1, chapter, e2))
              }
            }
            // element ref: "29 § 2 mom." → O fragment
            // (SectionElementRef, base.ebnf Element = 'mom.')
            if (mark.get._2 == "§") {
              val el = for {
                w <- at(Ws, markEnd)
                im <- at(BareNum, w.end)
                mm <- at(MomWord, im.end)
              } yield (mm.end, im.group(1))
              el.foreach { case (ee, ev) =>
                out += Right(PLink(start, ee, chapter, Some(id), None,
                  element = Some(ev)))
                return Some(Group(out.result(), 1, chapter, ee))
              }
            }
            // bare-number items after a single '§' (SectionItemRefs;
            // item without explicit piece → piece 1, sfs_format_uri):
            // one item merges into the section link ("6 § 1"); a list
            // renders the section link + one link per item ("7 § 1
            // eller 2" — the paragraf-punkter fixture shape)
            if (mark.get._2 == "§") {
              tryItemList(markEnd) match {
                case Some((ie, its)) if its.size == 1 =>
                  out += Right(PLink(start, its.head._2, chapter, Some(id),
                    None, item = Some(its.head._3)))
                  return Some(Group(out.result(), 1, chapter, ie))
                case Some((ie, its)) =>
                  out += Right(PLink(start, markEnd, chapter, Some(id), None))
                  var prev = markEnd
                  its.foreach { case (f2, t2, v) =>
                    out += Left((prev, f2))
                    out += Right(PLink(f2, t2, chapter, Some(id), None,
                      item = Some(v)))
                    prev = t2
                  }
                  return Some(Group(out.result(), 1, chapter, ie))
                case None => ()
              }
            }
            out += Right(PLink(start, markEnd, chapter, Some(id), None))
            return Some(Group(out.result(), 1, chapter, markEnd))
        }
      }
      // multi-item list: each id its own link; last includes the mark;
      // chapter text (if any) merges into the first link. A BARE list
      // ending in singular '§' is NOT a valid enumeration (lagrum.ebnf:66
      // LastSectionRef requires DoubleSectionMark; only the chaptered
      // AlternateChapterSectionRefs form, lagrum.ebnf:38, takes single
      // '§') — fail the group so the scanner later matches just "M §"
      // and the leading ids stay plain text (the reference's own current
      // behavior: its sfs-tricky-eller fixture is in brokentests, and
      // its sfs/parse definition-brottsrubricering-bisats golden keeps
      // "1 eller " unlinked before "2 §").
      if (items.size > 1 && mark.get._2 == "§" && chapter.isEmpty)
        return None
      items.toVector.zipWithIndex.foreach { case ((f, t, id), i) =>
        val from = if (i == 0) chapterStart.getOrElse(f) else f
        val to = if (i == items.size - 1) markEnd else t
        out += Right(PLink(from, to, chapter, Some(id), None))
        if (i < seps.size) out += Left((seps(i)._1, seps(i)._2))
      }
      Some(Group(out.result(), items.size, chapter, markEnd))
    }

    /** Chapter group: "N kap." alone, or chapter + section group. A
      * single chapter+section renders as ONE link
      * (format_ChapterSectionRef, legalref.py:1087-1090); a chapter with
      * a section LIST renders the chapter as its own link followed by
      * per-section links (the kapitel-paragrafer fixture shape). */
    private def tryChapterGroup(pos: Int): Option[Group] = {
      val cm = at(Chap, pos).getOrElse(return None)
      val chapId = (cm.group(1) + Option(cm.group(2)).getOrElse("")).trim
      val chapter = Some(chapId)
      def chapterOnly =
        Group(Vector(Right(PLink(pos, cm.end, chapter, None, None))),
          0, chapter, cm.end)
      at(Ws, cm.end) match {
        case Some(wm) =>
          trySectionGroup(wm.end, chapter, None) match {
            case Some(g) if g.pieces.size == 1 =>
              // merge chapter text into the (single) section's first link
              val pieces = g.pieces.zipWithIndex.map {
                case (Right(pl), 0) => Right(pl.copy(from = pos))
                case (other, _) => other
              }
              Some(Group(pieces, 1, chapter, g.end))
            case Some(g) =>
              // chapter link + ws + per-section links
              val pieces = Vector[Either[(Int, Int), PLink]](
                Right(PLink(pos, cm.end, chapter, None, None)),
                Left((cm.end, wm.end))) ++ g.pieces
              Some(Group(pieces, g.nSecIds, chapter, g.end))
            case None => Some(chapterOnly)
          }
        case None => Some(chapterOnly)
      }
    }

    private def tryGroup(pos: Int): Option[Group] =
      tryChapterGroup(pos).orElse(trySectionGroup(pos, None, None))

    // -------------------------------------------------------- law tails
    private sealed trait Tail { def end: Int }
    /** "i lagen (1998:674)" — law id linked separately. */
    private case class AnonTail(end: Int, law: String,
        strA: (Int, Int), idSpan: (Int, Int), strB: (Int, Int)) extends Tail
    /** "brottsbalken" / "elberedskapslagen (1997:288)" — merged links. */
    private case class NamedTail(end: Int, law: Option[String],
        nameFrom: Int) extends Tail
    /** "samma lag" — resolves to lastLaw. */
    private case class SameTail(end: Int, law: Option[String]) extends Tail

    private def tryLawTail(pos: Int): Option[Tail] = {
      val wm = at(Ws, pos).getOrElse(return None)
      var p = wm.end
      // optional "i "
      at(In, p).foreach { im => if (at(LawSynonym, im.end).isDefined ||
        at(NamedLawWord, im.end).isDefined) p = im.end }
      at(SameLaw, p) match {
        case Some(sm) =>
          return Some(SameTail(sm.end, lastLaw))
        case None => ()
      }
      // KORTLAGRUM abbreviation ("3 § MBL") — dictionary alternation,
      // longest-first; behaves like a named law (merged single link)
      abbrevPattern.foreach { ap =>
        at(ap, p).foreach { am =>
          val law = conf.abbrevs(am.group(1))
          return Some(NamedTail(am.end, Some(law), am.start))
        }
      }
      // named law word (strict suffix-inside-word) beats bare synonym
      at(NamedLawWord, p).filterNot(m => isBareSynonym(m.group(1))) match {
        case Some(nm) =>
          val name = nm.group(1)
          val afterWs = at(Ws, nm.end)
          val idm = afterWs.flatMap(w => at(SfsNr, w.end))
          idm match {
            case Some(im) =>
              val law = im.group(1)
              learned(normalizeLawName(name)) = law
              if (noBase) baseLaw = Some(law)
              return Some(NamedTail(im.end, Some(law), nm.start))
            case None =>
              val r = resolveName(name)
              if (noBase && r.isDefined) baseLaw = r
              return Some(NamedTail(nm.end, r, nm.start))
          }
        case None => ()
      }
      // anonymous: LawSynonym WS ( id )
      at(LawSynonym, p) match {
        case Some(lm) =>
          for {
            w2 <- at(Ws, lm.end)
            im <- at(SfsNr, w2.end)
          } {
            // str up to and incl. '('; id link; str from ')'
            val idFrom = s.indexOf(im.group(1), im.start)
            val idTo = idFrom + im.group(1).length
            if (noBase) baseLaw = Some(im.group(1))
            return Some(AnonTail(im.end, im.group(1),
              (pos, idFrom), (idFrom, idTo), (idTo, im.end)))
          }
          None
        case None => None
      }
    }

    // ------------------------------------------------------ root parses
    /** AbbrevLawShortRef root ("TF 1:1 4 st.", "JB 22:2 st. 2" —
      * kortlagrum.ebnf AbbrevLawShortRef: LawAbbreviation WS
      * chapter:section with optional PieceRef; kortlagrumref is
      * inserted as the FIRST root, legalref.py:128-138). One merged
      * link. The GenericRef-leading form ("15 § AvtL") is handled as a
      * tail in the refs-phrase scan. */
    private val ShortCsRef =
      re("(\\d+):(\\d+)( (\\d+) st\\.| st\\. (\\d+))?")
    private def tryKortRoot(pos: Int): Option[(Int, Vector[Seg])] = {
      if (!wordBoundary(pos)) return None
      val ap = abbrevPattern.getOrElse(return None)
      val am = at(ap, pos).getOrElse(return None)
      val law = conf.abbrevs(am.group(1))
      val wm = at(Ws, am.end).getOrElse(return None)
      val cm = at(ShortCsRef, wm.end).getOrElse(return None)
      val piece = Option(cm.group(4)).orElse(Option(cm.group(5)))
      val uri = uriOf(Some(law), chapter = Some(cm.group(1)),
        section = Some(cm.group(2)), piece = piece)
      currentLaw = Some(law)
      Some((cm.end, Vector(Seg(s.substring(pos, cm.end), uri))))
    }

    /** ChangeRef: "Lag (1997:289)." (lagrum.ebnf ChangeRef — a literal
      * '.' after the SFSNr, or directly followed by non-space/comma). */
    private def tryChangeRef(pos: Int): Option[(Int, Vector[Seg])] = {
      if (!wordBoundary(pos)) return None
      val m = at(ChangeRef, pos).getOrElse(return None)
      val id = m.group(2)
      val end =
        if (m.end < s.length && s.charAt(m.end) == '.') m.end + 1
        else if (m.end >= s.length ||
                 s.charAt(m.end) == ' ' || s.charAt(m.end) == ',') return None
        else m.end
      val uri = uriOf(None, lawref = Some(id)).getOrElse(return None)
      Some((end, Vector(Seg(s.substring(pos, end), Some(uri)))))
    }

    /** Standalone named law ("Äktenskapsbalkens", "elberedskapslagen
      * (1997:288)") — NamedExternalLawRef root (legalref.py:1112-1134). */
    private def tryNamedLawRoot(pos: Int): Option[(Int, Vector[Seg])] = {
      if (!wordBoundary(pos)) return None
      val nm = at(NamedLawWord, pos)
        .filterNot(m => isBareSynonym(m.group(1))).getOrElse(return None)
      val name = nm.group(1)
      val idm = for {
        w <- at(Ws, nm.end)
        im <- at(SfsNr, w.end)
      } yield im
      idm match {
        case Some(im) =>
          val law = im.group(1)
          learned(normalizeLawName(name)) = law
          currentLaw = Some(law)
          if (noBase) baseLaw = Some(law)
          val uri = uriOf(Some(law)).get
          Some((im.end, Vector(Seg(s.substring(pos, im.end), Some(uri)))))
        case None =>
          resolveName(name) match {
            case Some(law) =>
              currentLaw = Some(law)
              if (noBase) baseLaw = Some(law)
              val uri = uriOf(Some(law)).get
              Some((nm.end, Vector(Seg(s.substring(pos, nm.end), Some(uri)))))
            case None => None // unknown name: plain text
          }
      }
    }

    /** PieceItemRef root ("tredje stycket 2" → #S3N2): a piece + item
      * with no section, relative to the base law (lagrum.ebnf
      * PieceItemRef). The item is REQUIRED — a bare "andra stycket" in
      * running prose without a section anchor stays text. */
    private def tryPieceRoot(pos: Int): Option[(Int, Vector[Seg])] = {
      if (!wordBoundary(pos)) return None
      val om = at(Ordinal, pos).getOrElse(return None)
      val pw = at(PieceWord, om.end).getOrElse(return None)
      val piece = Some(pieceMap(om.group(1)))
      tryItemList(pw.end) match {
        case Some((e, its)) =>
          // first item merges into the piece link; the rest link alone
          // ("tredje stycket 2, 3 eller 4" — the stycke-punkter shape)
          val segs = Vector.newBuilder[Seg]
          segs += Seg(s.substring(pos, its.head._2),
            uriOf(None, piece = piece, item = Some(its.head._3)))
          var prev = its.head._2
          its.tail.foreach { case (f2, t2, v) =>
            segs += Seg(s.substring(prev, f2))
            segs += Seg(s.substring(f2, t2),
              uriOf(None, piece = piece, item = Some(v)))
            prev = t2
          }
          Some((e, segs.result()))
        case None =>
          // conj-separated items ("första stycket och 3" → S1, S1N3 —
          // PieceAndItemRefs) or a bare piece ref ("första stycket" → S1)
          val segs = Vector.newBuilder[Seg]
          segs += Seg(s.substring(pos, pw.end), uriOf(None, piece = piece))
          var p = pw.end
          var go = true
          while (go) {
            val next = for {
              sep <- at(CommaConjSep, p).orElse(at(ConjSep, p))
              im <- at(ItemId, sep.end)
              if at(NumIsSection, sep.end).isEmpty
            } yield (sep, im)
            next match {
              case Some((sep, im)) =>
                segs += Seg(s.substring(p, im.start))
                segs += Seg(s.substring(im.start, im.end),
                  uriOf(None, piece = piece, item = Some(
                    (im.group(1) + Option(im.group(2)).getOrElse(""))
                      .replaceAll("[\\s\\u00a0]+", ""))))
                p = im.end
              case None => go = false
            }
          }
          Some((p, segs.result()))
      }
    }

    /** Standalone SFS number "(1998:674)" — the parenthesized id is the
      * link, the parens stay text (SFSNr root; format_SFSNr does NOT set
      * currentlaw, legalref.py:1106-1110). */
    private def trySfsNrRoot(pos: Int): Option[(Int, Vector[Seg])] = {
      if (s.charAt(pos) != '(') return None
      val m = at(SfsNr, pos).getOrElse(return None)
      val id = m.group(1)
      if (noBase) baseLaw = Some(id)
      val idFrom = s.indexOf(id, pos)
      val idTo = idFrom + id.length
      val uri = uriOf(Some(id)).get
      Some((m.end, Vector(
        Seg(s.substring(pos, idFrom)),
        Seg(id, Some(uri)),
        Seg(s.substring(idTo, m.end)))))
    }

    private var currentLaw: Option[String] = None

    /** The workhorse: MultipleGenericRefs + optional law tail
      * (lagrum.ebnf ExternalRefs / sfsrefs). */
    private def tryRefsPhrase(pos: Int): Option[(Int, Vector[Seg])] = {
      if (!wordBoundary(pos)) return None
      if (!Character.isDigit(s.charAt(pos))) return None
      val groups = mutable.ArrayBuffer.empty[Group]
      val gseps = mutable.ArrayBuffer.empty[(Int, Int)]
      var p = pos
      var go = true
      while (go) {
        tryGroup(p) match {
          case Some(g) =>
            groups += g
            p = g.end
            // group separator + another group? (", och " first — the
            // Oxford-comma shape must be consumed whole)
            val sep = at(CommaConjSep, p).orElse(at(CommaSep, p))
              .orElse(at(ConjSep, p))
            sep match {
              case Some(sm) if tryGroup(sm.end).isDefined =>
                gseps += ((sm.start, sm.end))
                p = sm.end
              case _ => go = false
            }
          case None =>
            if (groups.isEmpty) return None
            go = false
        }
      }
      val nSecIds = groups.map(_.nSecIds).sum
      // a root with no section terminal must be a chapter ref to count
      if (nSecIds == 0 && !groups.exists(_.chapter.isDefined)) return None

      // chapter state WITHIN one root (the reference's currentchapter:
      // "6 kap. 4 §, 6 §, 10 § och 11 §" — later bare sections inherit
      // the most recent chapter; cleared at root end like currentlaw).
      // ONLY single-section groups inherit: the chaptered enumeration
      // production (lagrum.ebnf:36 IndividualChapterSectionRefs) chains
      // single SectionRefs, while a multi-id '§§' list is an independent
      // SectionRefs production with no chapter binding — "5 kap. 5 §
      // tredje stycket samt 5 a, 6 a … §§" renders the list chapterless
      // (#P5a…), per the reference's own nastlade-listor golden.
      var curChap: Option[String] = None
      val groupsC = groups.toVector.map { g =>
        if (g.chapter.isDefined) { curChap = g.chapter; g }
        else if (curChap.isDefined && g.nSecIds <= 1)
          g.copy(pieces = g.pieces.map {
            case Right(pl) if pl.chapter.isEmpty =>
              Right(pl.copy(chapter = curChap))
            case other => other
          })
        else g
      }

      val tail = tryLawTail(p)
      val law: Option[String] = tail match {
        case Some(AnonTail(_, l, _, _, _)) => currentLaw = Some(l); Some(l)
        case Some(NamedTail(_, Some(l), _)) => currentLaw = Some(l); Some(l)
        case Some(NamedTail(e, None, _)) =>
          // unknown named law: bail out, whole phrase stays text
          // (format_ExternalRefs, legalref.py:1030-1035)
          return Some((e, Vector(Seg(s.substring(pos, e)))))
        case Some(SameTail(_, l)) =>
          currentLaw = l; l // None → base law (reference logs + completes)
        case None => None
      }
      val end = tail.map(_.end).getOrElse(p)

      // single-link merge: one group, one section id, non-anonymous tail
      val merged = tail match {
        case Some(_: NamedTail) | Some(_: SameTail)
          if groups.size == 1 && nSecIds == 1 => true
        case _ => false
      }
      val anaphoric = tail.exists(_.isInstanceOf[SameTail])
      if (merged) {
        val l0 = groupsC.head.pieces.collectFirst { case Right(pl) => pl }.get
        val uri = uriOf(law, l0.chapter, l0.section, l0.piece, l0.item,
          sentence = l0.sentence, element = l0.element)
        return Some((end,
          Vector(Seg(s.substring(pos, end), uri, anaphoric))))
      }

      // piecewise rendering
      val segs = Vector.newBuilder[Seg]
      groupsC.zipWithIndex.foreach { case (g, gi) =>
        g.pieces.foreach {
          case Left((f, t)) => segs += Seg(s.substring(f, t))
          case Right(pl) =>
            segs += Seg(s.substring(pl.from, pl.to),
              uriOf(law, pl.chapter, pl.section, pl.piece, pl.item,
                sentence = pl.sentence, element = pl.element),
              anaphoric)
        }
        if (gi < gseps.size)
          segs += Seg(s.substring(gseps(gi)._1, gseps(gi)._2))
      }
      tail.foreach {
        case AnonTail(_, l, (sa, sb), (ia, ib), (ba, bb)) =>
          segs += Seg(s.substring(sa, sb))
          segs += Seg(s.substring(ia, ib), uriOf(Some(l)))
          segs += Seg(s.substring(ba, bb))
        case NamedTail(e, Some(l), nameFrom) =>
          // multi-ref + named law: the text before the name (" i ") stays
          // plain; the name (incl. its SFS number) links to the law
          segs += Seg(s.substring(p, nameFrom))
          segs += Seg(s.substring(nameFrom, e), uriOf(Some(l)))
        case SameTail(e, _) =>
          segs += Seg(s.substring(p, e)) // plain (rare shape, no fixture)
        case _ => ()
      }
      Some((end, segs.result()))
    }

    // ------------------------------------------------------------ parse
    /** Parse with an explicit base law for THIS call (the test driver's
      * per-paragraph baseuri_attributes; None = NOBASE mode). */
    def parse(text: String, base: Option[String]): Vector[Seg] = {
      baseLaw = base
      noBase = base.isEmpty
      parseImpl(text)
    }

    def parse(text: String): Vector[Seg] =
      parse(text, conf.baseLaw)

    private def parseImpl(text: String): Vector[Seg] = {
      s = text
      val out = Vector.newBuilder[Seg]
      val plain = new StringBuilder
      var p = 0
      def flushPlain(): Unit =
        if (plain.nonEmpty) { out += Seg(plain.toString); plain.clear() }
      while (p < s.length) {
        currentLaw = None
        val c = s.charAt(p)
        val hit: Option[(Int, Vector[Seg])] =
          if (Character.isDigit(c)) tryRefsPhrase(p)
          else if (c == '(') trySfsNrRoot(p)
          else if (Character.isLetter(c))
            tryKortRoot(p).orElse(tryChangeRef(p))
              .orElse(tryNamedLawRoot(p))
              .orElse(tryPieceRoot(p))
          else None
        hit match {
          case Some((np, segs)) =>
            flushPlain()
            segs.foreach(out += _)
            if (currentLaw.isDefined) lastLaw = currentLaw
            currentLaw = None
            p = np
          case None =>
            plain.append(c)
            p += 1
        }
      }
      flushPlain()
      mergePlain(out.result())
    }
  }
}
