package graft.kg

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Triple
import graft.parse.{Diff, Patch, Rdfa, WordReader}

/** Driver-verified rows for operators that were previously only
  * golden/spec-tested: the RDFa render∘distill identity, the fuzzy
  * label upgrade, mkpatch∘apply, and the docx reader (r4 verdict
  * "Next #4"). Each runs the REAL operator as a narrow distributed map;
  * the DuckDB oracle either replays the planting formulas (FsCorpus
  * pattern) or recomputes the grouping independently with the identity
  * asserted (roundtrips can only be checked by running them — the
  * oracle pins the input-derived shape, the asserted flag pins the
  * loss-free property). */
object RoundTripOps {

  // ------------------------------------------------------ rdfa roundtrip
  /** Per corpus document: all its parse-stage triples rendered to
    * XHTML+RDFa and distilled back (rdfa render: Rdfa.scala; the
    * reference round-trips parsed docs through as_xhtml + rdflib
    * distill the same way, testDocRepo.py:549-614). `ok` asserts the
    * set identity — a single lost lang tag, datatype or escaping slip
    * breaks the hash compare. */
  def rdfaRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    type Key = (String, String, String, Boolean, String, String)
    def key(t: Triple): Key =
      (t.subj, t.pred, t.obj, t.objIsLiteral,
        t.objDatatype.getOrElse(""), t.objLang.getOrElse(""))
    KgQueries.ctx(spark).upgraded
      .select(col("subj"), col("pred"), col("obj"), col("objIsLiteral"),
        col("objDatatype"), col("objLang"))
      .distinct()
      .as[(String, String, String, Boolean, Option[String], Option[String])]
      .groupByKey(_._1.split("#")(0))
      .mapGroups { (uri, it) =>
        val in = it.map { case (s, p, o, isLit, dt, lg) =>
          Triple(s, p, o, isLit, dt, lg, "")
        }.toVector.distinct
        val xhtml = Rdfa.render(uri, None, in)
        val out = Rdfa.distill(xhtml)
        val ok = in.map(key).toSet == out.map(key).toSet
        (uri, in.length.toLong, ok)
      }
      .toDF("uri", "n_triples", "roundtrip_ok")
      .orderBy("uri")
  }

  val rdfaRoundtripSql: String =
    """SELECT split_part(subj, '#', 1) AS uri,
       count(*) AS n_triples, true AS roundtrip_ok
       FROM (SELECT DISTINCT split_part(subj, '#', 1) AS subj0, subj, pred,
               obj, objIsLiteral, objDatatype, objLang
             FROM read_parquet('__BASE__/kg_doc_triples/*.parquet'))
       GROUP BY 1 ORDER BY 1"""

  // -------------------------------------------------------- fuzzy labels
  final val FuzzyN = 240L

  /** Planted publisher literal for row i: exact dictionary label
    * (i%3=0), a one-char-truncated label (i%3=1 — clears the 0.8 ratio),
    * or a token-sharing but unrelated label (i%3=2 — becomes a
    * candidate, fails the ratio). Pure function of i. */
  def fuzzyLabel(i: Long): String = {
    val keys = EntityDict.publishers.keys.toVector.sorted
    val k = keys((i % keys.length).toInt)
    (i % 3) match {
      case 0 => k
      case 1 => k.dropRight(1)
      case _ => s"Unknown Working Group Alliance $i"
    }
  }

  /** The fuzzy label-upgrade operator (lookup_resource cutoff 0.8,
    * KgStages.fuzzyUpgrade) over a planted literal table. */
  def fuzzyLabels(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pred = graft.model.Vocab.dcterms("publisher")
    val triples = spark
      .range(0, FuzzyN, 1, spark.sparkContext.defaultParallelism)
      .map { i =>
        (s"${EntityDict.base}/ent/$i", pred, fuzzyLabel(i), true,
          null: String, null: String, s"${EntityDict.base}/dataset/fuzzy",
          s"repo-${i % 2}", "sv")
      }
      .toDF("subj", "pred", "obj", "objIsLiteral", "objDatatype",
        "objLang", "graph", "repo", "lang")
    KgStages.fuzzyUpgrade(triples, EntityDict.publishers, Seq(pred))
      .select(col("subj"), col("obj"), col("objIsLiteral"))
      .orderBy("subj")
  }

  /** Oracle: replay the planting — inline the dictionary so the labels
    * cannot drift between generator and replay. */
  val fuzzyLabelsSql: String = {
    val keys = EntityDict.publishers.keys.toVector.sorted
    val labelCase = keys.zipWithIndex.map { case (k, idx) =>
      s"WHEN $idx THEN '${k.replace("'", "''")}'"
    }.mkString(" ")
    val uriCase = keys.zipWithIndex.map { case (k, idx) =>
      s"WHEN $idx THEN '${EntityDict.publishers(k)}'"
    }.mkString(" ")
    s"""WITH g AS (
         SELECT i, i % ${keys.length} AS p, i % 3 AS v,
           'https://example.org/ent/' || i AS subj
         FROM range(0, $FuzzyN) t(i)),
       lab AS (SELECT *, CASE p $labelCase END AS k,
                 CASE p $uriCase END AS kuri FROM g)
       SELECT subj,
         CASE v WHEN 0 THEN kuri WHEN 1 THEN kuri
           ELSE 'Unknown Working Group Alliance ' || i END AS obj,
         (v = 2) AS objIsLiteral
       FROM lab ORDER BY subj"""
  }

  // --------------------------------------------------------- patch apply
  final val PatchN = 160L

  def pristineText(i: Long): String =
    (1 to 12).map(j => s"rad $j i dokument $i med innehåll ${(i * 31 + j) % 97}")
      .mkString("", "\n", "\n")

  /** The formula-edited text: one line replaced, one inserted, one
    * deleted — positions are pure functions of i. */
  def editedText(i: Long): String = {
    val repl = (1 + i % 12).toInt
    val ins = (1 + (i / 12) % 12).toInt
    val del = (1 + (i / 144) % 12).toInt
    val out = Vector.newBuilder[String]
    (1 to 12).foreach { j =>
      val keep = !(j == del && j != repl)
      if (keep) {
        if (j == repl) out += s"rad $j i dokument $i har ÄNDRATS"
        else out += s"rad $j i dokument $i med innehåll ${(i * 31 + j) % 97}"
      }
      if (j == ins) out += s"inskjuten rad efter $j i dokument $i"
    }
    out.result().mkString("", "\n", "\n")
  }

  /** mkpatch ∘ apply end-to-end: the unified diff is GENERATED from the
    * planted (pristine, edited) pair by the difflib port, then applied
    * back to the pristine text by the patch engine; the oracle
    * regenerates the edited text from the formulas — a slip in hunk
    * maths, context matching or the trailing-newline convention on
    * either side mismatches. */
  def patchApply(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.range(0, PatchN, 1, spark.sparkContext.defaultParallelism)
      .map { i =>
        val pristine = pristineText(i)
        val edited = editedText(i)
        val patch = Diff.mkpatch(pristine, edited, "")
          .map(_._1).getOrElse("")
        val patched =
          if (patch.isEmpty) pristine else Patch.apply(pristine, patch)._1
        (i, patched)
      }
      .toDF("doc_id", "patched")
      .orderBy("doc_id")
  }

  val patchApplySql: String =
    s"""WITH g AS (
         SELECT i, 1 + (i % 12) AS repl, 1 + ((i // 12) % 12) AS ins,
           1 + ((i // 144) % 12) AS del
         FROM range(0, $PatchN) t(i)),
       lines AS (
         SELECT g.i, j,
           CASE WHEN j = repl THEN 'rad ' || j || ' i dokument ' || g.i
                  || ' har ÄNDRATS'
                ELSE 'rad ' || j || ' i dokument ' || g.i
                  || ' med innehåll ' || ((g.i * 31 + j) % 97) END AS line,
           NOT (j = del AND j <> repl) AS keep,
           (j = ins) AS insafter, g.i AS doc
         FROM g, range(1, 13) r(j)),
       expanded AS (
         SELECT doc, j, 0 AS sub, line FROM lines WHERE keep
         UNION ALL
         SELECT doc, j, 1,
           'inskjuten rad efter ' || j || ' i dokument ' || doc
         FROM lines WHERE insafter)
       SELECT doc AS doc_id,
         string_agg(line, chr(10) ORDER BY j, sub) || chr(10) AS patched
       FROM expanded GROUP BY doc ORDER BY doc_id"""

  // --------------------------------------------------------------- docx
  final val DocxN = 96L

  def docxParas(i: Long): Vector[String] = Vector(
    s"Dokument $i om ämne ${i % 50}",
    s"Första stycket i dokument $i beskriver bakgrunden till ärendet",
    s"Andra stycket i dokument $i innehåller överväganden och förslag")

  /** One in-memory .docx: word/document.xml with each paragraph split
    * into several runs (exercising run merging), plus dropped-tag
    * noise (sectPr, rsid attributes) the simplifier must strip. */
  def docxBytes(i: Long): Array[Byte] = {
    val ns = WordReader.OoxmlNs
    // no whitespace between tags: stray indentation text nodes would
    // survive simplification and pollute the paragraph text
    val body = docxParas(i).map { p =>
      val mid = p.length / 2
      s"""<w:p w:rsidR="00AB${i % 10}">""" +
        """<w:pPr><w:spacing w:after="200"/></w:pPr>""" +
        s"""<w:r><w:t xml:space="preserve">${p.substring(0, mid)}</w:t></w:r>""" +
        s"""<w:r><w:t xml:space="preserve">${p.substring(mid)}</w:t></w:r>""" +
        "</w:p>"
    }.mkString
    val xml = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      s"""<w:document xmlns:w="$ns"><w:body>$body""" +
      """<w:sectPr><w:pgSz w:w="11906" w:h="16838"/></w:sectPr>""" +
      "</w:body></w:document>"
    val bos = new java.io.ByteArrayOutputStream()
    val zos = new java.util.zip.ZipOutputStream(bos)
    zos.putNextEntry(new java.util.zip.ZipEntry("[Content_Types].xml"))
    zos.write("<Types/>".getBytes("UTF-8"))
    zos.closeEntry()
    zos.putNextEntry(new java.util.zip.ZipEntry("word/document.xml"))
    zos.write(xml.getBytes("UTF-8"))
    zos.closeEntry()
    zos.close()
    bos.toByteArray
  }

  /** The docx reader distributed: sniff + unzip + simplify + run-merge
    * per document, one row per paragraph; the oracle replays the
    * planted paragraph text. */
  def docxText(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.range(0, DocxN, 1, spark.sparkContext.defaultParallelism)
      .flatMap { i =>
        val (filetype, xml) = WordReader.read(docxBytes(i), s"doc$i.docx")
        val doc = {
          val f = javax.xml.parsers.DocumentBuilderFactory.newInstance()
          f.setNamespaceAware(true)
          f.newDocumentBuilder().parse(new java.io.ByteArrayInputStream(
            xml.getBytes("UTF-8")))
        }
        val ps = doc.getElementsByTagNameNS(WordReader.OoxmlNs, "p")
        (0 until ps.getLength).map { j =>
          // paragraph text = its <w:t> runs only (the serialized
          // intermediate is indented; elements, not layout, carry text)
          val ts = ps.item(j).asInstanceOf[org.w3c.dom.Element]
            .getElementsByTagNameNS(WordReader.OoxmlNs, "t")
          val text = (0 until ts.getLength)
            .map(ts.item(_).getTextContent).mkString
          (i, j, filetype, text)
        }
      }
      .toDF("doc_id", "para_seq", "filetype", "text")
      .orderBy("doc_id", "para_seq")
  }

  val docxTextSql: String =
    s"""WITH g AS (SELECT i FROM range(0, $DocxN) t(i))
       SELECT i AS doc_id, cast(j AS int) AS para_seq,
         'docx' AS filetype,
         CASE j WHEN 0 THEN 'Dokument ' || i || ' om ämne ' || (i % 50)
           WHEN 1 THEN 'Första stycket i dokument ' || i
             || ' beskriver bakgrunden till ärendet'
           ELSE 'Andra stycket i dokument ' || i
             || ' innehåller överväganden och förslag' END AS text
       FROM g, range(0, 3) r(j) ORDER BY doc_id, para_seq"""
}
