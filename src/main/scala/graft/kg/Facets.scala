package graft.kg

import graft.model.Vocab
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative facet API — the reference's `facets()` surface
  * (/root/reference/ferenda/facet.py:348-422): a facet is (rdf predicate,
  * binding, index type). [[facetedData]] compiles a facet list into one
  * pivot plan over the triple table (a predicate filter, then one
  * conditional aggregation per subject); [[makeSchema]] and [[boostFor]]
  * derive the search index's typed fields and boosts from it. The TOC
  * pagesets over the pivot are the registered `kg_toc_pages` and
  * `kg_toc_select` queries (KgQueries).
  */
object Facets {

  // ------------------------------------------------ index field types
  /** Typed search-index field (fulltextindex.py's IndexedType hierarchy:
    * Identifier/Label/Text(boost)/DateTime). Equality = same type AND
    * same boost — the schema-conflict criterion. */
  sealed trait IndexType
  case object Identifier extends IndexType
  case object Label extends IndexType
  final case class Text(boost: Double = 1.0) extends IndexType
  case object DateTime extends IndexType // range-filterable (Between/Less/More)

  /** fulltextindex.errors.SchemaConflictError: two repos declared the
    * same field with different index types. */
  final case class SchemaConflictError(msg: String)
      extends RuntimeException(msg)

  final case class Facet(
      pred: String,
      /** column name in the faceted table (the SPARQL binding name) */
      binding: String,
      /** how a search index should type this field (facet.indexingtype,
        * facet.py; drives make_schema + per-field boosts) */
      indexingType: IndexType = Label)

  /** The reference's stock facet set for an RFC-like repo
    * (rdf:type, dcterms:title, dcterms:publisher, dcterms:issued,
    * dcterms:subject — rfc.py facets + facet.py defaults). Index types
    * mirror the reference's field typing: title is boosted Text,
    * identifier is a strongly-boosted Label-ish Text, issued is a
    * range-filterable DateTime. */
  val defaultFacets: Seq[Facet] = Seq(
    Facet(Vocab.RDF_TYPE, "rdf_type", indexingType = Label),
    Facet(Vocab.dcterms("title"), "title", indexingType = Text(4.0)),
    Facet(Vocab.dcterms("publisher"), "publisher", indexingType = Label),
    Facet(Vocab.dcterms("issued"), "issued", indexingType = DateTime),
    Facet(Vocab.dcterms("subject"), "category", indexingType = Label))

  /** Search-surface facet set: the default facets plus the boosted
    * identifier field the REST search uses (fulltextindex.py:260-333's
    * typed fields with per-field boosts). */
  val searchFacets: Seq[Facet] = defaultFacets :+
    Facet(Vocab.dcterms("identifier"), "identifier", indexingType = Text(2.0))

  /** Baseline fields every index carries (get_default_schema,
    * fulltextindex.py:86-94). */
  val defaultSchema: Map[String, IndexType] = Map(
    "uri" -> Identifier, "repo" -> Label, "basefile" -> Label,
    "text" -> Text())

  /** make_schema (fulltextindex.py:65-84): fold every repo's facet list
    * into one typed field schema. Several repos may declare the SAME
    * field only when the index types agree — otherwise
    * [[SchemaConflictError]], exactly the reference's rule. */
  def makeSchema(repoFacets: Seq[(String, Seq[Facet])]): Map[String, IndexType] =
    repoFacets.foldLeft(defaultSchema) { case (schema, (repo, facets)) =>
      facets.foldLeft(schema) { (s, f) =>
        s.get(f.binding) match {
          case Some(existing) if existing != f.indexingType =>
            throw SchemaConflictError(
              s"Repo $repo wanted to add a field named ${f.binding}, but " +
                "it was already present with a different IndexType " +
                s"($existing vs ${f.indexingType})")
          case Some(_) => s
          case None => s + (f.binding -> f.indexingType)
        }
      }
    }

  /** Per-predicate boost table derived from a schema'd facet list —
    * the boosted-search query reads its weights from HERE, not from
    * hardcoded literals. Non-Text fields weigh 1.0. */
  def boostFor(facets: Seq[Facet]): Map[String, Double] =
    facets.map { f =>
      f.pred -> (f.indexingType match {
        case Text(b) => b
        case _ => 1.0
      })
    }.toMap

  /** The document-type rule: the rfc ontology families plus the court
    * referats. Sub-resource types (bibo parts, rpubl chapters/sections)
    * do not make a subject a document. */
  def isDocType(obj: Column): Column =
    obj.startsWith(Vocab.RFC_NS) || obj === Vocab.rpubl("Rattsfallsreferat")

  /** faceted_data (documentrepository.py:2235-2291): one row per document
    * URI — `uri`, `rdf_type` (the min document type), `repo` (the min
    * repo of its document-type rows: the type row's repo, as every
    * document carries one document type), then one column per non-type
    * facet binding holding the min object of its predicate (single pick
    * for determinism). One plan: filter the triples to rdf:type plus the facets' predicates — every
    * row a `min(when(...))` below can pick — then one `groupBy(subj)`
    * conditional aggregation, so the subject shuffle carries only those
    * rows. Subjects without a document type are dropped. */
  def facetedData(triples: DataFrame, facets: Seq[Facet]): DataFrame = {
    val typeRow = col("pred") === Vocab.RDF_TYPE && isDocType(col("obj"))
    val others = facets.filter(_.pred != Vocab.RDF_TYPE)
    triples.filter(col("pred").isin(Vocab.RDF_TYPE +: others.map(_.pred): _*))
      .groupBy(col("subj").as("uri"))
      .agg(min(when(typeRow, col("obj"))).as("rdf_type"),
        min(when(typeRow, col("repo"))).as("repo") +:
          others.map(f =>
            min(when(col("pred") === f.pred, col("obj"))).as(f.binding)): _*)
      .filter(col("rdf_type").isNotNull)
  }
}
