package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.kg._

/** Declarative facet API over the KG triple table. */
class FacetsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-facets-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = { spark.stop(); super.afterAll() }

  test("facetedData: one row per typed doc, facet columns populated") {
    val tr = KgQueries.ctx(spark).triples
    val fd = Facets.facetedData(tr, Facets.defaultFacets)
    assert(fd.count() == KgQueries.MixedN)
    assert(fd.filter(col("title").isNull).count() == 0)
    // issued exists only on the RFC family (md/html carry no date header)
    assert(fd.filter(col("issued").isNull).count() == KgQueries.MixedN - KgQueries.N)
    // issued selector gives a 4-digit year (null on non-RFC families)
    val years = fd.filter(col("issued").isNotNull)
      .select(substring(col("issued"), 1, 4)).distinct()
      .collect().map(_.getString(0))
    assert(years.forall(_.matches("\\d{4}")))
  }

  test("facetedData: the filtered aggregation equals the per-facet join fold") {
    import graft.model.Vocab
    import spark.implicits._
    val doc = "https://example.org/facets-spec/doc"
    val extra = Seq(
      // a section: title, non-document type — never a pivot row
      (doc + "#s1", Vocab.dcterms("title"), "Section one"),
      (doc + "#s1", Vocab.RDF_TYPE, "http://example.org/ontology/Part"),
      // a document with two titles, an extra non-document type that
      // sorts before its document type, and a predicate outside the
      // facet set
      (doc, Vocab.RDF_TYPE, Vocab.rfc("RFC")),
      (doc, Vocab.RDF_TYPE, "http://example.org/ontology/Other"),
      (doc, Vocab.dcterms("title"), "Second title"),
      (doc, Vocab.dcterms("title"), "First title"),
      (doc, Vocab.dcterms("description"), "Not a facet"))
      .toDF("subj", "pred", "obj").withColumn("repo", lit("spec"))
    val tr = KgQueries.ctx(spark).triples
      .unionByName(extra, allowMissingColumns = true)
    // the former per-facet filter + groupBy + left-join fold, with
    // rdf_type restricted to the document-type rule
    def foldReference(facets: Seq[Facets.Facet]) = {
      val typed = tr.filter(col("pred") === Vocab.RDF_TYPE &&
          Facets.isDocType(col("obj")))
        .groupBy(col("subj").as("uri"))
        .agg(min(col("obj")).as("rdf_type"), min(col("repo")).as("repo"))
      facets.filter(_.pred != Vocab.RDF_TYPE).foldLeft(typed) { (acc, f) =>
        acc.join(tr.filter(col("pred") === f.pred)
          .groupBy(col("subj").as("uri"))
          .agg(min(col("obj")).as(f.binding)), Seq("uri"), "left")
      }
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("\u0000"))
        .toSeq
    Seq(Facets.defaultFacets, Facets.searchFacets).foreach { facets =>
      val fd = Facets.facetedData(tr, facets)
      val ref = foldReference(facets).select(fd.columns.map(col): _*)
      assert(rows(fd) == rows(ref))
      assert(fd.count() == KgQueries.MixedN + 1)
      val mine = fd.filter(col("uri").startsWith(doc)).collect()
      assert(mine.length == 1)
      assert(mine(0).getAs[String]("uri") == doc)
      assert(mine(0).getAs[String]("rdf_type") == Vocab.rfc("RFC"))
      assert(mine(0).getAs[String]("repo") == "spec")
      assert(mine(0).getAs[String]("title") == "First title")
      assert(fd.columns.toSeq == Seq("uri", "rdf_type", "repo") ++
        facets.map(_.binding).filterNot(_ == "rdf_type"))
    }
  }

  test("facet pivots: the subject aggregate reads pred-filtered rows") {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.plans.logical._
    def filteredOnPred(p: LogicalPlan): Boolean = p match {
      case Filter(cond, _) => cond.references.exists(_.name == "pred")
      case Project(_, child) => filteredOnPred(child)
      case _ => false
    }
    Seq("facetPivot" -> KgQueries.facetPivot(spark, ""),
        "csvInventory" -> KgQueries.csvInventory(spark, "")).foreach {
      case (name, df) =>
        val bySubj = df.queryExecution.optimizedPlan.collect {
          case a: Aggregate if (a.groupingExpressions match {
            case Seq(r: AttributeReference) => r.name == "subj"
            case _ => false
          }) => a
        }
        assert(bySubj.nonEmpty, s"$name: no subject aggregate")
        bySubj.foreach(a => assert(filteredOnPred(a.child),
          s"$name: subject aggregate over unfiltered input\n$a"))
    }
  }

  test("makeSchema: typed fields derived from facets; conflicts rejected") {
    import graft.model.Vocab
    // single repo: default schema + one typed field per facet binding
    val schema = Facets.makeSchema(Seq("rfc" -> Facets.searchFacets))
    assert(schema("uri") == Facets.Identifier)   // default fields kept
    assert(schema("text") == Facets.Text())
    assert(schema("title") == Facets.Text(4.0))
    assert(schema("identifier") == Facets.Text(2.0))
    assert(schema("issued") == Facets.DateTime)
    assert(schema("publisher") == Facets.Label)

    // two repos sharing a field with the SAME type: allowed
    val repoB = Seq(Facets.Facet(Vocab.dcterms("title"), "title",
      indexingType = Facets.Text(4.0)))
    assert(Facets.makeSchema(
      Seq("rfc" -> Facets.searchFacets, "b" -> repoB))("title")
      == Facets.Text(4.0))

    // two repos sharing a field with DIFFERENT types: SchemaConflictError
    val repoC = Seq(Facets.Facet(Vocab.dcterms("title"), "title",
      indexingType = Facets.Label))
    val e = intercept[Facets.SchemaConflictError] {
      Facets.makeSchema(Seq("rfc" -> Facets.searchFacets, "c" -> repoC))
    }
    assert(e.getMessage.contains("title"))
  }

  test("boostFor: the boosted-search weights come from the facet schema") {
    import graft.model.Vocab
    val boosts = Facets.boostFor(Facets.searchFacets)
    assert(boosts(Vocab.dcterms("title")) == 4.0)
    assert(boosts(Vocab.dcterms("identifier")) == 2.0)
    assert(boosts(Vocab.dcterms("publisher")) == 1.0)
  }
}
