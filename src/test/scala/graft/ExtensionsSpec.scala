package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.functions._

/** Native Catalyst extensions: slug expression (codegen) and MinHash
  * TypedImperativeAggregate, registered via SparkSessionExtensions. */
class ExtensionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-ext-spec")
    .withExtensions(new GraftExtensions)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = { spark.stop(); super.afterAll() }

  /** Runs `f` with the codegen-cache system property set to `v` (cleared
    * for None), restoring the JVM's previous value afterwards. */
  private def withCacheProp(v: Option[String])(f: => Unit): Unit = {
    val key = GraftExtensions.CodegenCacheKey
    def set(o: Option[String]): Unit = o match {
      case Some(x) => sys.props(key) = x
      case None => sys.props -= key
    }
    val saved = sys.props.get(key)
    set(v)
    try f finally set(saved)
  }

  test("applying the extensions sets the codegen cache default when unset") {
    withCacheProp(None) {
      new GraftExtensions().apply(new SparkSessionExtensions)
      assert(sys.props.get(GraftExtensions.CodegenCacheKey) ==
        Some(GraftExtensions.CodegenCacheEntries.toString))
    }
  }

  test("an explicitly set codegen cache size is left alone") {
    withCacheProp(Some("7")) {
      new GraftExtensions().apply(new SparkSessionExtensions)
      assert(sys.props.get(GraftExtensions.CodegenCacheKey) == Some("7"))
    }
  }

  test("graft_slug matches EntityDict.slug on samples and survives codegen") {
    import spark.implicits._
    val samples = Seq("Standards Track", "  Best  Current Practice! ",
      "ALL-CAPS (2024)", "", "---", "åäö mixed 42")
    val viaExpr = samples.toDF("s")
      .select(expr("graft_slug(s)")).collect().map(_.getString(0))
    val viaScala = samples.map(graft.kg.EntityDict.slug)
    assert(viaExpr.toSeq == viaScala)
  }

  test("relurl matches the reference's util.relurl doctest semantics") {
    import spark.implicits._
    // the reference's own doctest cases (util.py:172-191) + edges
    val cases = Seq(
      ("http://example.org/other/index.html",
        "http://example.org/main/index.html", "../other/index.html"),
      ("http://other.org/foo.html",
        "http://example.org/bar.html", "http://other.org/foo.html"),
      ("http://example.org/main/sub/a.html",
        "http://example.org/main/index.html", "sub/a.html"),
      ("http://example.org/main/index.html",
        "http://example.org/main/other.html", "index.html"),
      ("http://example.org/a/b.html?q=1#frag",
        "http://example.org/a/c.html", "b.html?q=1#frag"))
    val got = cases.map(c => (c._1, c._2)).toDF("u", "s")
      .select(expr("relurl(u, s)")).collect().map(_.getString(0)).toSeq
    assert(got == cases.map(_._3))
    // static path agrees with the expression path
    cases.foreach { case (u, s, want) =>
      assert(graft.functions.Expressions.relurlStr(u, s) == want)
    }
  }

  test("minhash_sig aggregate equals the typed-map fallback") {
    import spark.implicits._
    val sh = Seq(
      (1L, "a b c"), (1L, "b c d"), (1L, "c d e"),
      (2L, "x y z"), (2L, "a b c"))
      .toDF("doc_id", "shingle")
    val agg = graft.text.TextOps.minhashSignatures(sh)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val mapped = graft.text.TextOps.minhashSignaturesMapped(sh)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(agg.keySet == Set(1L, 2L))
    assert(agg == mapped)
    // shared shingle "a b c" dominates some slots -> signatures overlap
    assert(agg(1L).zip(agg(2L)).count { case (a, b) => a == b } > 0)
  }

  test("minhash LSH pairs via native aggregate match exact jaccard pairs") {
    val dir = "/root/testdata/sf0.01"
    assert(spark.catalog.functionExists("minhash_sig"))
    val lsh = graft.text.TextOps.minhashLshPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = graft.text.TextOps.ngramJaccardPairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact)
  }
}
