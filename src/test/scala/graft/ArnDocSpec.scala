package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.model.Triple
import graft.parse.ArnDoc

/** ARN family vs the reference's own fixture
  * (test/files/repo/arn/2013/07406): distilled-graph parity —
  * fragment-table metadata (änr/avgörande/avdelning cells, 4th-row
  * title), the begrepp-space subject literal, the sameAs equivalent,
  * the wasDerivedFrom attachment node and its label. */
class ArnDocSpec extends AnyFunSuite {

  private val root = "/root/reference/test/files/repo/arn"
  private val conf = ArnDoc.Conf(
    baseUri = "https://lagen.nu/avg/arn/",
    publisher = "https://lagen.nu/org/2014/allmanna_reklamationsnamnden",
    keywordBase = "https://lagen.nu/begrepp/")

  private def readBz2(p: String): String = {
    assume(new java.io.File(root).isDirectory)
    val in = new org.apache.commons.compress.compressors.bzip2
      .BZip2CompressorInputStream(java.nio.file.Files.newInputStream(
        java.nio.file.Paths.get(p)))
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  private def read(p: String): String = {
    assume(new java.io.File(root).isDirectory)
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(p)), "UTF-8")
  }

  private def key(t: Triple) =
    (t.subj, t.pred, t.obj, t.objIsLiteral, t.objDatatype, t.objLang)

  private val provGen = graft.model.Vocab.PROV + "wasGeneratedBy"

  test("ARN 2013-07406: distilled-graph parity") {
    val parsed = ArnDoc.parse(
      readBz2(s"$root/intermediate/2013/07406/index.xml.bz2"),
      Some(read(s"$root/downloaded/2013/07406/fragment.html")),
      "2013-07406", conf)
    val got = parsed.triples.filterNot(_.pred == provGen).map(key).toSet
    val want = TtlTestReader.parse(
      read(s"$root/distilled/2013/07406.ttl"))
      .filterNot(_.pred == provGen).map(key)
    val missing = want -- got
    val invented = got -- want
    assert(missing.isEmpty && invented.isEmpty,
      s"\nmissing (${missing.size}):\n" +
      missing.toVector.sortBy(_.toString).take(10).mkString("\n") +
      s"\ninvented (${invented.size}):\n" +
      invented.toVector.sortBy(_.toString).take(10).mkString("\n"))
    // the body is a flat glued-paragraph stream; the parsed golden's
    // first <p> should open the referat
    assert(parsed.bodyXml.contains("Paragraph"))
  }
}
