package graft.model

/** Core data model for the KG-construction engine.
  *
  * Shapes mirror the reference's fundamental abstractions (see SURVEY.md §1):
  *  - SourceFile  = the Iceberg-shaped input row (BASELINE.json input_hint).
  *  - Triple      = one RDF statement, cf. rdflib Graph usage throughout the
  *    reference (e.g. /root/reference/ferenda/decorators.py:203-227).
  *  - Mention     = one detected citation span, cf. CitationParser
  *    (/root/reference/ferenda/citationparser.py:65-96).
  */
final case class SourceFile(
    repo: String,
    path: String,
    commit: String,
    lang: String,
    content: String)

final case class Triple(
    subj: String,
    pred: String,
    obj: String,
    objIsLiteral: Boolean,
    objDatatype: Option[String],
    objLang: Option[String],
    graph: String)

object Triple {
  def uri(s: String, p: String, o: String, g: String): Triple =
    Triple(s, p, o, objIsLiteral = false, None, None, g)
  def lit(s: String, p: String, o: String, g: String,
          datatype: Option[String] = None, lang: Option[String] = None): Triple =
    Triple(s, p, o, objIsLiteral = true, datatype, lang, g)

  /** N-Triples escaping for literal lexical forms (W3C N-Triples §2.4). */
  def ntEscape(s: String): String =
    s.flatMap {
      case '\\' => "\\\\"
      case '"'  => "\\\""
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c    => c.toString
    }

  /** Inverse of [[ntEscape]], plus the \\uXXXX / \\UXXXXXXXX numeric
    * escapes N-Triples producers (the reference's rdflib dumps included)
    * emit for non-ASCII. */
  def ntUnescape(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 't' => sb.append('\t'); i += 2
          case 'n' => sb.append('\n'); i += 2
          case 'r' => sb.append('\r'); i += 2
          case '"' => sb.append('"'); i += 2
          case '\\' => sb.append('\\'); i += 2
          case 'u' =>
            sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar)
            i += 6
          case 'U' =>
            sb.appendAll(Character.toChars(
              Integer.parseInt(s.substring(i + 2, i + 10), 16)))
            i += 10
          case other => sb.append(other); i += 2
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Parse one N-Triples line — the ingest inverse of [[toNt]] (URIs and
    * literals with lang tags / datatypes; blank nodes are out of scope —
    * the reference's dumps never emit them). Returns None for blank or
    * comment lines; malformed lines throw. */
  def fromNt(line: String, graph: String = ""): Option[Triple] = {
    val t = line.trim
    if (t.isEmpty || t.startsWith("#")) return None
    var i = 0
    def ws(): Unit = while (i < t.length && t.charAt(i).isWhitespace) i += 1
    def uri(): String = {
      require(t.charAt(i) == '<', s"expected '<' at $i in: $t")
      val end = t.indexOf('>', i)
      val u = t.substring(i + 1, end); i = end + 1; u
    }
    val s = uri(); ws()
    val p = uri(); ws()
    if (t.charAt(i) == '<') {
      val o = uri()
      Some(Triple(s, p, o, objIsLiteral = false, None, None, graph))
    } else {
      require(t.charAt(i) == '"', s"expected '\"' at $i in: $t")
      i += 1
      val lex = new StringBuilder
      while (t.charAt(i) != '"') {
        if (t.charAt(i) == '\\') { lex.append(t.charAt(i)).append(t.charAt(i + 1)); i += 2 }
        else { lex.append(t.charAt(i)); i += 1 }
      }
      i += 1 // closing quote
      val value = ntUnescape(lex.toString)
      if (i + 1 < t.length && t.charAt(i) == '^' && t.charAt(i + 1) == '^') {
        i += 2
        Some(Triple(s, p, value, objIsLiteral = true, Some(uri()), None, graph))
      } else if (i < t.length && t.charAt(i) == '@') {
        val end = t.indexWhere(c => c.isWhitespace || c == '.', i)
        val lang = t.substring(i + 1, if (end < 0) t.length else end)
        Some(Triple(s, p, value, objIsLiteral = true, None, Some(lang), graph))
      } else Some(Triple(s, p, value, objIsLiteral = true, None, None, graph))
    }
  }

  /** One N-Triples line — the dump.nt export format of the reference's
    * relate teardown (documentrepository.py:1813-1883). */
  def toNt(t: Triple): String = {
    val obj =
      if (!t.objIsLiteral) s"<${t.obj}>"
      else {
        val base = "\"" + ntEscape(t.obj) + "\""
        (t.objDatatype, t.objLang) match {
          case (Some(dt), _) => s"$base^^<$dt>"
          case (_, Some(l))  => s"$base@$l"
          case _             => base
        }
      }
    s"<${t.subj}> <${t.pred}> $obj ."
  }
}

/** Well-known vocabulary IRIs (expanded, never prefixed — FIXTURES.md §3). */
object Vocab {
  val RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
  val XSD = "http://www.w3.org/2001/XMLSchema#"
  val DCTERMS = "http://purl.org/dc/terms/"
  val BIBO = "http://purl.org/ontology/bibo/"
  val SKOS_ALT = "http://www.w3.org/2004/02/skos/core#altLabel"
  val SKOS_CONCEPT = "http://www.w3.org/2004/02/skos/core#Concept"
  val RDF_XMLLITERAL =
    "http://www.w3.org/1999/02/22-rdf-syntax-ns#XMLLiteral"
  val OWL_SAMEAS = "http://www.w3.org/2002/07/owl#sameAs"
  val PROV = "http://www.w3.org/ns/prov#"

  def dcterms(local: String): String = DCTERMS + local
  def bibo(local: String): String = BIBO + local
  def xsd(local: String): String = XSD + local
  /** rfc ontology namespace used by the reference RFC repo
    * (/root/reference/ferenda/sources/tech/rfc.py:524-535). */
  val RFC_NS = "http://example.org/ontology/rfc/"
  def rfc(local: String): String = RFC_NS + local
  /** rpubl — the Swedish legal-publication ontology the reference's SFS
    * repo types its structure elements with (rpubl:Kapitel/rpubl:Paragraf,
    * /root/reference/ferenda/sources/legal/se/sfs.py:1127 and
    * elements.py:191-217). */
  val RPUBL = "http://rinfo.lagrummet.se/ns/2008/11/rinfo/publ#"
  def rpubl(local: String): String = RPUBL + local
}

/** A detected citation mention inside one document.
  * start/end are character offsets into the source span's text. */
final case class Mention(
    docId: String,
    repo: String,
    lang: String,
    grammar: String,
    matchText: String,
    start: Int,
    end: Int,
    /** candidate key for entity linking, e.g. "rfc:2616" or a label */
    candidateKey: String,
    /** URI of the enclosing sub-resource (section) the mention belongs to —
      * the reference attaches reference triples to the nearest element with
      * an `about` URI (citationparser.py:98-165 LinkSubject rewrite). */
    subjUri: String)
