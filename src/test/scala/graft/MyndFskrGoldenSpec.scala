package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.model.Triple
import graft.parse.{LawRef, MyndFskr}

/** The reference's OWN myndfskr fixture suite, run fixture-for-fixture
  * (test/integrationMyndFskr.py parametric_test over every .txt under
  * test/files/myndfskr): sanitize_text → extract_metadata →
  * sanitize_metadata → polish_metadata, compared against the expected
  * .n3 graph with the reference's own exact=False semantics
  * (assertEqualGraphs, testutil.py:58-68: every WANT triple must appear
  * in GOT; extras allowed). Resource tables come from the reference's
  * own commondata (swedishlegalsource.ttl) exactly as its repos load
  * them. */
class MyndFskrGoldenSpec extends AnyFunSuite {

  private val fixtureDir = "/root/reference/test/files/myndfskr"

  private def read(path: String): String = {
    val src = scala.io.Source.fromFile(path, "utf-8")
    try src.mkString finally src.close()
  }

  /** commondata slice: fs altLabels + publishers, org foaf:names. */
  private lazy val resources: MyndFskr.Resources = {
    val g = TtlTestReader.parse(read(
      "/root/reference/ferenda/sources/legal/se/res/extra/swedishlegalsource.ttl"))
    val alt = g.collect {
      case t if t.pred == "http://www.w3.org/2004/02/skos/core#altLabel" &&
        t.subj.contains("/serie/fs/") => t.obj -> t.subj
    }.toMap
    val pub = g.collect {
      case t if t.pred == graft.model.Vocab.dcterms("publisher") &&
        t.subj.contains("/serie/fs/") => t.subj -> t.obj
    }.toMap
    val orgs = g.collect {
      case t if t.pred == "http://xmlns.com/foaf/0.1/name" =>
        t.obj -> t.subj
    }.toMap
    MyndFskr.Resources(alt, pub, orgs)
  }

  /** Named laws for the LAGRUM bemyndigande parse (same source the
    * reference's SwedishCitationParser consults). */
  private lazy val lawConf: LawRef.Conf = {
    val src = read("/root/reference/lagen/nu/res/extra/sfs.ttl")
    val re = """<https://lagen\.nu/([^>]+)>\s+rdfs:label\s+"([^"]+)"""".r
    val named = re.findAllMatchIn(src).map { m =>
      LawRef.normalizeLawName(m.group(2)) -> m.group(1)
    }.toMap
    LawRef.Conf(baseLaw = None, namedLaws = named)
  }

  private def key(t: Triple) =
    (t.subj, t.pred, t.obj, t.objIsLiteral, t.objDatatype, t.objLang)

  /** Empty when the reference tree is absent; the floor below then
    * cancels the suite instead of passing it. */
  private val fixtures: Seq[String] =
    Option(new java.io.File(fixtureDir).listFiles()).toSeq.flatten
      .map(_.getName).filter(_.endsWith(".txt")).sorted

  test("the myndfskr fixture set is present") {
    assume(new java.io.File(fixtureDir).isDirectory)
    assert(fixtures.nonEmpty)
  }

  fixtures.foreach { fname =>
    // "afs-2014-44.txt" → basefile "afs/2014:44" (integrationMyndFskr
    // parse_filename: first hyphen → '/', the rest → ':')
    val basefile = fname.stripSuffix(".txt")
      .replaceFirst("-", "/").replace("-", ":")
    test(s"myndfskr golden: $fname → $basefile") {
      val text = read(s"$fixtureDir/$fname")
      val (uri, got) = MyndFskr.parse(text, basefile, resources, lawConf)
      val want = TtlTestReader.parse(
        read(s"$fixtureDir/${fname.stripSuffix(".txt")}.n3"))
      assert(want.nonEmpty)
      assert(want.map(_.subj).contains(uri),
        s"minted $uri, want subjects ${want.map(_.subj)}")
      val missing = want.map(key) -- got.map(key)
      assert(missing.isEmpty,
        s"missing ${missing.size}/${want.size}:\n" +
          missing.toSeq.sortBy(_._2).map(_.toString).mkString("\n") +
          s"\n\ngot:\n" +
          got.toSeq.sortBy(t => (t.pred, t.obj)).mkString("\n"))
    }
  }
}
