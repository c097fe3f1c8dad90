package graft.kg

import graft.functions.Selectors
import graft.model.Vocab
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative facet API — the reference's `facets()` surface
  * (/root/reference/ferenda/facet.py:348-422): a facet is (rdf predicate,
  * binding, selector, identificator, sort key, index type). A ferenda
  * repo's facet list ports 1:1; [[facetedData]] compiles the list into one
  * pivot plan over the triple table (a predicate filter, then one
  * conditional aggregation per subject), and [[tocPageSets]] groups the
  * pivot per facet (facet_query semantics, documentrepository.py:2293-2383).
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
      /** selector: faceted column → group value (facet.py:128-177) */
      selector: Column => Column = identity,
      /** identificator: group value → URL-safe key (facet.py:142-154) */
      identificator: Column => Column = Selectors.defaultIdentificator,
      /** key for ordering docs within a group (facet.py:195-210) */
      sortKey: Column => Column = Selectors.titleSortKey,
      /** how a search index should type this field (facet.indexingtype,
        * facet.py; drives make_schema + per-field boosts) */
      indexingType: IndexType = Label)

  /** The reference's stock facet set for an RFC-like repo
    * (rdf:type, dcterms:title, dcterms:publisher, dcterms:issued year,
    * dcterms:subject — rfc.py facets + facet.py defaults). Index types
    * mirror the reference's field typing: title is boosted Text,
    * identifier is a strongly-boosted Label-ish Text, issued is a
    * range-filterable DateTime. */
  val defaultFacets: Seq[Facet] = Seq(
    Facet(Vocab.RDF_TYPE, "rdf_type", selector = Selectors.uriLeaf(_),
      indexingType = Label),
    Facet(Vocab.dcterms("title"), "title", indexingType = Text(4.0)),
    Facet(Vocab.dcterms("publisher"), "publisher",
      selector = Selectors.uriLeaf(_), indexingType = Label),
    Facet(Vocab.dcterms("issued"), "issued",
      selector = c => substring(c, 1, 4), // year of gYearMonth/date
      indexingType = DateTime),
    Facet(Vocab.dcterms("subject"), "category",
      selector = Selectors.uriLeaf(_), indexingType = Label))

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

  /** toc_pagesets + toc_select_for_pages (documentrepository.py:2855-2995):
    * per facet, distinct selector values with doc counts and the first
    * sortKey-ordered member per page. */
  def tocPageSets(faceted: DataFrame, facets: Seq[Facet]): DataFrame = {
    val pages = facets.filter(_.binding != "rdf_type")
      .map { f =>
        val sel = f.selector(col(f.binding))
        faceted.filter(col(f.binding).isNotNull)
          .select(
            lit(f.binding).as("facet"),
            f.identificator(sel).as("page"),
            col("uri"),
            f.sortKey(coalesce(col("title"), col("uri"))).as("sk"))
      }
    pages.reduce(_ unionByName _)
      .groupBy("facet", "page")
      .agg(count(lit(1)).as("n_docs"),
        min(struct(col("sk"), col("uri"))).as("first"))
      .select(col("facet"), col("page"), col("n_docs"),
        col("first.uri").as("first_uri"))
      .orderBy("facet", "page")
  }
}
