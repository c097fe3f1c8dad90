package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Guard against code that only specs reach. Every visible `def`, `val`
  * and `object` that is a member of an object, class or trait under
  * src/main/scala must be named somewhere in the program's own code: in
  * src/main/scala or in perfbench/src/main/scala, which compiles it. A
  * definition named nowhere there except at its own definition is reached
  * from src/test at most, and fails this spec unless [[allowed]] keeps it
  * with a reason. Comments and string literals do not count as uses; the
  * splices of an interpolated string do. `private`, `protected`,
  * `override` and `implicit` definitions are skipped; `private[pkg]` ones
  * are scanned, as specs can reach them. A `main` method and the object
  * that declares it are entry points (EntryPointsSpec ties them to
  * README). The check is by name, so a name that is also used for
  * something else counts as reached: the guard can miss dead code, but it
  * never flags live code.
  */
class DeadCodeSpec extends AnyFunSuite {
  import DeadCodeSpec._

  /** Definitions kept although no program code names them. */
  private val allowed: Map[String, String] = Map(
    // --- seams kept on purpose: hooks a spec drives and no main needs
    "StreamOps.runAvailableNowForTest" ->
      ("one AvailableNow round with an explicit read-back budget, so " +
        "StreamOpsSpec covers both sides of the driver-collect gate"),
    "CacheRegistry.trackedCount" ->
      "lets CacheRegistrySpec see that released frames are untracked",
    "KgPipeline.runSynthetic" ->
      "synthesize-and-run in one call for KgSpec's pipeline checks",
    "Parser.resetLearned" ->
      ("LawRef.Parser: the reference test driver's RESET: marker, which " +
        "LawRefGoldenSpec replays"),
    "PdfReader.serializePage" ->
      ("the reference's page serialization that PdfReaderSpec's goldens " +
        "compare against"),
    "PdfReader.asXhtml" ->
      ("the reference's textbox XHTML form that PdfReaderSpec's goldens " +
        "compare against"),
    "TreeNode.canonical" ->
      "the canonical tree form every parser golden compares",
    "Corpus.gen" -> "driver-side generated corpus for small specs",
    "KgQueries.MixedN" ->
      "size of the query context's mixed corpus, which specs assert",
    "LegalUri.rinfo" ->
      "the reference's own URI space, for LegalUriSpec's fixture parity",
    "HtmlGenerate.generate" ->
      ("whole-page generate(), the golden-checked composition of the " +
        "flatten/contentXhtml pieces that kg queries use"),
    "Prf.f1" -> "F1 beside the precision and recall the pipeline reports",
    "Video.durationMs" -> "decoded-video accessor MultiModalSpec checks",
    "PdfReader.parseFontinfo" ->
      ("the pdfreader .fontinfo sidecar reader that decodes the encoded " +
        "fonts of the Offtryck golden specs' and PdfReaderSpec's fixtures"))

  private lazy val unreachedKeys: Set[String] = {
    val main = sources(Paths.get("src/main/scala"))
    val bench = sources(Paths.get("perfbench/src/main/scala"))
    assert(main.size > 50,
      s"src/main/scala not found from ${Paths.get("").toAbsolutePath}")
    unreached(main, bench).map(_.key).toSet
  }

  test("no visible src/main definition is reached only from specs") {
    val found = unreachedKeys -- allowed.keySet
    assert(found.isEmpty,
      "named nowhere in the program's code (delete it, call it, or add " +
        "it with a reason to DeadCodeSpec.allowed):\n  " +
        found.toSeq.sorted.mkString("\n  "))
  }

  test("every allow-list entry is still a definition nothing reaches") {
    val stale = allowed.keySet -- unreachedKeys
    assert(stale.isEmpty,
      "deleted or now reached; drop from DeadCodeSpec.allowed:\n  " +
        stale.toSeq.sorted.mkString("\n  "))
  }

  test("the scan skips comments, strings and private code, and sees " +
      "splices and mains") {
    val lib = "Lib.scala" -> strip(
      """object Lib {
        |  def used(x: Int) = x
        |  def onlyInComment = 1
        |  def onlyInString = 2
        |  def inSplice = 3
        |  def unusedLocalOwner = { val inner = 4; inner }
        |  private def hidden = 5
        |  private[graft] def packageSeam = 6
        |  override def toString = "Lib"
        |  case object Marker
        |}""".stripMargin)
    val app = "App.scala" -> strip(
      """object App {
        |  // onlyInComment
        |  /* onlyInComment, /* nested */ still a comment */
        |  val s = "onlyInString"
        |  val c = '"'
        |  val t = s"${Lib.inSplice} $c"
        |  def main(args: Array[String]): Unit = println(Lib.used(1) + s + t)
        |}""".stripMargin)
    assert(unreached(Map(lib, app), Map.empty).map(_.key).toSet == Set(
      "Lib.onlyInComment", "Lib.onlyInString", "Lib.unusedLocalOwner",
      "Lib.packageSeam", "Lib.Marker"))
  }
}

object DeadCodeSpec {

  final case class Definition(owner: String, kind: String, name: String) {
    def key: String = if (owner.isEmpty) name else s"$owner.$name"
  }

  /** `.scala` files under `root` (none if it is absent) → stripped text. */
  def sources(root: Path): Map[String, String] =
    if (!Files.isDirectory(root)) Map.empty
    else {
      val walk = Files.walk(root)
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .map(f => f.toString -> strip(new String(Files.readAllBytes(f), "UTF-8")))
        .toMap
      finally walk.close()
    }

  /** `src` with comments removed and string and character literals
    * blanked; an interpolated string keeps the code of its `$name` and
    * `${...}` splices. */
  def strip(src: String): String = {
    val out = new StringBuilder
    val n = src.length
    def isId(c: Char) = c.isLetterOrDigit || c == '_'
    var i = 0
    while (i < n) {
      if (src.startsWith("//", i)) {
        while (i < n && src(i) != '\n') i += 1
      } else if (src.startsWith("/*", i)) {
        var depth = 0
        while ({
          if (src.startsWith("/*", i)) { depth += 1; i += 2 }
          else if (src.startsWith("*/", i)) { depth -= 1; i += 2 }
          else i += 1
          depth > 0 && i < n
        }) ()
        out.append(' ')
      } else if (src(i) == '\'' && i + 2 < n && src(i + 1) != '\\' &&
          src(i + 2) == '\'') {
        out.append(' '); i += 3
      } else if (src(i) == '\'' && i + 3 < n && src(i + 1) == '\\') {
        out.append(' '); i = src.indexOf('\'', i + 3) + 1
      } else if (src(i) == '"') {
        val spliced = i > 0 && isId(src(i - 1))
        val triple = src.startsWith("\"\"\"", i)
        i += (if (triple) 3 else 1)
        var open = true
        while (open && i < n) {
          if (triple && src.startsWith("\"\"\"", i)) {
            i += 3
            while (i < n && src(i) == '"') i += 1
            open = false
          } else if (!triple && src(i) == '\\') i += 2
          else if (!triple && src(i) == '"') { i += 1; open = false }
          else if (spliced && src.startsWith("$$", i)) i += 2
          else if (spliced && src.startsWith("${", i)) {
            var depth = 0
            var j = i + 1
            while ({
              if (src(j) == '{') depth += 1
              else if (src(j) == '}') depth -= 1
              j += 1
              depth > 0 && j < n
            }) ()
            out.append(' ').append(strip(src.substring(i + 2, j - 1))).append(' ')
            i = j
          } else if (spliced && src(i) == '$' && i + 1 < n &&
              (src(i + 1).isLetter || src(i + 1) == '_')) {
            val j = src.indexWhere(c => !isId(c), i + 1) match {
              case -1 => n
              case e => e
            }
            out.append(' ').append(src.substring(i + 1, j)).append(' ')
            i = j
          } else i += 1
        }
        out.append(" \"\" ")
      } else {
        out.append(src(i)); i += 1
      }
    }
    out.toString
  }

  private val Token = "[A-Za-z_][A-Za-z0-9_]*|[{}()]".r
  private val Identifier = "[A-Za-z_][A-Za-z0-9_]*".r
  private val Hidden =
    """\bprivate\b(?!\s*\[)|\bprivate\s*\[this\]|\bprotected\b|\boverride\b|\bimplicit\b""".r

  /** Every `def`, `val` and `object` in stripped `text`, each with
    * whether it is a visible member of an object, class or trait (not a
    * local of a block, not hidden by a modifier). A template body is the
    * first `{` after an `object`/`class`/`trait` header at the header's
    * paren depth; a definition keyword before it ends a bodiless header. */
  def definitions(text: String): Seq[(Definition, Boolean)] = {
    val toks = Token.findAllMatchIn(text).toVector
    var scopes = List(("", true)) // (owner, is a template body)
    var header: Option[(String, Int)] = None // (name, paren depth)
    var parens = 0
    val out = Vector.newBuilder[(Definition, Boolean)]
    for (k <- toks.indices) {
      val t = toks(k).matched
      val next = if (k + 1 < toks.size) toks(k + 1).matched else ""
      t match {
        case "(" => parens += 1
        case ")" => parens -= 1
        case "{" =>
          scopes = header.fold((scopes.head._1, false))(h => (h._1, true)) :: scopes
          header = None
        case "}" =>
          if (scopes.tail.nonEmpty) scopes = scopes.tail
          header = None
        case "def" | "val" | "var" | "type" if header.exists(_._2 == parens) =>
          header = None
        case _ =>
      }
      if ((t == "def" || t == "val" || t == "object") &&
          Identifier.matches(next) && next != "this") {
        val lineStart = text.lastIndexOf('\n', toks(k).start) + 1
        val visible = scopes.head._2 &&
          Hidden.findFirstIn(text.substring(lineStart, toks(k).start)).isEmpty
        out += Definition(scopes.head._1, t, next) -> visible
      }
      if (t == "object" || t == "class" || t == "trait") header = Some((next, parens))
    }
    out.result()
  }

  /** The visible definitions of `scanned` (file → stripped text) that no
    * file of `scanned` or `callers` names outside a definition. */
  def unreached(scanned: Map[String, String],
                callers: Map[String, String]): Seq[Definition] = {
    val all = scanned ++ callers
    val uses = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    all.values.foreach(t => Identifier.findAllIn(t).foreach(id => uses(id) += 1))
    val defs = all.values.flatMap(definitions).toSeq
    defs.foreach { case (d, _) => uses(d.name) -= 1 }
    val mains = defs.collect { case (d, true) if d.name == "main" => d.owner }.toSet
    scanned.values.flatMap(definitions).collect {
      case (d, true) if uses(d.name) <= 0 && d.name != "main" &&
        !(d.kind == "object" && mains(d.name)) => d
    }.toSeq
  }
}
