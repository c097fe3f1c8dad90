package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.functions.Selectors

class SelectorsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("graft-selectors-spec")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = { spark.stop(); super.afterAll() }

  test("titlesortkey + firstletter match reference semantics") {
    import spark.implicits._
    val rows = Seq("The Little Prince", "A Tale of Two Cities", "  Ögon!  ", "123 go")
      .toDF("v")
      .select(Selectors.titleSortKey(col("v")).as("sk"),
        substring(Selectors.titleSortKey(col("v")), 1, 1).as("fl"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(rows(0) == ("littleprince", "l"))    // "the " stripped
    assert(rows(1) == ("ataleoftwocities", "a")) // leading "a " kept (only "the")
    assert(rows(2)._1 == "gon")                 // non-ascii dropped
    assert(rows(3) == ("123go", "1"))
  }

  test("uri_leaf takes last path or fragment segment") {
    import spark.implicits._
    val out = Seq("http://ex.org/a/b/c", "http://ex.org/doc#S4.1",
      "http://ex.org/trailing/")
      .toDF("v").select(Selectors.uriLeaf(col("v"))).collect()
      .map(_.getString(0))
    assert(out.toSeq == Seq("c", "S4.1", "trailing"))
  }

  test("natural sort key: '6 a' sorts between '6' and '7'") {
    import spark.implicits._
    val vals = Seq("7", "6 a", "6", "10", "2", "6 b")
    val sorted = vals.toDF("v")
      .orderBy(Selectors.naturalSortKey(col("v")))
      .collect().map(_.getString(0)).toSeq
    assert(sorted == Seq("2", "6", "6 a", "6 b", "7", "10"))
  }

  test("natural sort key orders like numeric order on pure integers (seeded samples)") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    (0 until 5).foreach { _ =>
      val ns = List.fill(12)(rnd.nextInt(1000000))
      val sorted = ns.map(_.toString).toDF("v")
        .orderBy(Selectors.naturalSortKey(col("v")), col("v"))
        .collect().map(_.getString(0).toInt).toSeq
      assert(sorted == ns.sorted)
    }
  }

  test("roman numerals round-trip (exhaustive)") {
    (1 until 4000).foreach { n =>
      assert(Selectors.fromRoman(Selectors.toRoman(n)) == n)
    }
  }

  test("relurl matches the reference's os.path.relpath-for-urls contract") {
    // doctest cases from util.py:175-178, run against the port behind
    // the registered SQL relurl
    import graft.functions.Expressions.relurlStr
    assert(relurlStr("http://example.org/other/index.html",
      "http://example.org/main/index.html") == "../other/index.html")
    assert(relurlStr("http://other.org/foo.html",
      "http://example.org/bar.html") == "http://other.org/foo.html")
    assert(relurlStr("http://example.org/a/b/c.html",
      "http://example.org/a/x.html") == "b/c.html")
    assert(relurlStr("http://example.org/a/x.html#frag",
      "http://example.org/a/y.html") == "x.html#frag")
  }
}
