package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The facet selectors and util.py helpers the registered queries and
  * parsers use (SURVEY.md §2.8): titlesortkey, uri_leaf and the natural
  * sort key as NATIVE column expressions (codegen'd, no UDFs), plus the
  * roman-numeral conversions as plain Scala. util.relurl is the SQL
  * function `relurl` ([[Expressions.relurlStr]]).
  */
object Selectors {

  /** titlesortkey (facet.py:195-210 → util.title_sortkey util.py:727-741):
    * lowercase, strip leading "the ", drop non-alphanumerics, drop spaces. */
  def titleSortKey(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(lower(trim(c)), "^the ", ""),
        "[^a-z0-9 ]", ""),
      " ", "")

  /** uri_leaf / term (facet.py:294-311 → util.uri_leaf util.py:624-649):
    * last path or fragment segment of a URI. */
  def uriLeaf(c: Column): Column =
    regexp_extract(c, "([^/#]+)[/#]?$", 1)

  /** Natural / ordinal sort key (util.numcmp/split_numalpha,
    * util.py:194-250): "6 a" sorts between "6" and "7". Splits into
    * (numeric, alpha) runs and zero-pads numbers so plain string ordering
    * matches numeric ordering. */
  def naturalSortKey(c: Column, width: Int = 12): Column = {
    // split into digit / non-digit runs, zero-pad the digit runs, rejoin —
    // plain string order on the key then equals numeric-aware order
    val runs = regexp_extract_all(lower(c), lit("[0-9]+|[^0-9]+"), lit(0))
    array_join(
      transform(runs, r =>
        when(r.rlike("^[0-9]+$"), lpad(r, width, "0")).otherwise(r)),
      "")
  }

  /** Roman numeral conversions (util.py:692-726) — parse-stage helpers
    * (plain Scala, used inside typed maps, not a column fn). */
  private val romanPairs = Seq(
    1000 -> "M", 900 -> "CM", 500 -> "D", 400 -> "CD", 100 -> "C",
    90 -> "XC", 50 -> "L", 40 -> "XL", 10 -> "X", 9 -> "IX",
    5 -> "V", 4 -> "IV", 1 -> "I")

  def toRoman(n: Int): String = {
    require(n > 0 && n < 4000, s"out of roman range: $n")
    val sb = new StringBuilder
    var rest = n
    romanPairs.foreach { case (v, sym) =>
      while (rest >= v) { sb.append(sym); rest -= v }
    }
    sb.toString
  }

  def fromRoman(s: String): Int = {
    val vals = Map('I' -> 1, 'V' -> 5, 'X' -> 10, 'L' -> 50, 'C' -> 100,
      'D' -> 500, 'M' -> 1000)
    val u = s.toUpperCase
    var total = 0
    var i = 0
    while (i < u.length) {
      val v = vals(u(i))
      if (i + 1 < u.length && vals(u(i + 1)) > v) total -= v else total += v
      i += 1
    }
    total
  }
}
