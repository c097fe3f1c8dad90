package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.model.Triple

/** N-Triples codec (`Triple.fromNt` / `Triple.toNt`): decoding of the
  * reference's own RDF fixture dumps and round-trip stability. */
class NtStoreSpec extends AnyFunSuite {

  private val fixtures = "/root/reference/test/files/datasets"

  test("fromNt: URIs, plain/lang/datatype literals, numeric escapes") {
    val t1 = Triple.fromNt(
      """<http://a> <http://b> <http://c> .""").get
    assert(!t1.objIsLiteral && t1.obj == "http://c")
    val t2 = Triple.fromNt(
      """<http://a> <http://b> "företag"@sv .""").get
    assert(t2.obj == "företag" && t2.objLang.contains("sv"))
    val t3 = Triple.fromNt(
      """<http://a> <http://b> "2012-04-26"^^<http://www.w3.org/2001/XMLSchema#date> .""").get
    assert(t3.objDatatype.contains("http://www.w3.org/2001/XMLSchema#date"))
    val t4 = Triple.fromNt("""<http://a> <http://b> "say \"hi\"\n" .""").get
    assert(t4.obj == "say \"hi\"\n")
    assert(Triple.fromNt("").isEmpty && Triple.fromNt("# comment").isEmpty)
  }

  test("the reference's dataset.nt fixtures decode line by line; " +
      "round-trip is stable") {
    assume(new java.io.File(fixtures).isDirectory)
    def decode(f: String): Seq[Triple] = {
      val src = scala.io.Source.fromFile(s"$fixtures/$f", "UTF-8")
      try src.getLines().filter(_.trim.nonEmpty).toSeq
        .map(l => Triple.fromNt(l).getOrElse(fail(s"$f: undecodable: $l")))
      finally src.close()
    }
    for (f <- Seq("dataset.nt", "dataset2.nt", "annotations-rfc.nt")) {
      val ts = decode(f)
      assert(ts.nonEmpty, f)
      // serialize + reparse = identity
      assert(ts.map(t => Triple.fromNt(Triple.toNt(t)).get) == ts, f)
    }
    // decoded content spot checks (escapes, lang, datatype from the dump)
    val ds = decode("dataset.nt")
    assert(ds.exists(t => t.obj.contains("förenklat") && t.objLang.contains("sv")))
    assert(ds.exists(t => t.objDatatype.exists(_.endsWith("#date"))))
  }
}
