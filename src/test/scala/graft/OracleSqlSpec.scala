package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.SqlInterpolator

/** Pins the rendered DuckDB oracle text of every registered query. The
  * oracles are assembled from shared builders (`queries/OracleSql`), so
  * a builder that leaks a margin bar, leaves an interpolation
  * unrendered or drops a parenthesis breaks many oracles at once; these
  * checks read the text alone and need no Spark session. Each check also
  * runs on one broken sample, so it cannot pass vacuously. The last
  * tests pin the `sql` interpolator's margin rule on small literals.
  */
class OracleSqlSpec extends AnyFunSuite {

  private lazy val oracles = SparkEntry.oracleSql

  /** Names of the oracles whose text `bad` flags. */
  private def flagged(bad: String => Boolean): Seq[String] =
    oracles.collect { case (name, sql) if bad(sql) => name }.toSeq.sorted

  /** A line that starts with a margin bar; SQL `||` is concatenation. */
  private def leakedMargin(sql: String): Boolean =
    sql.linesIterator.map(_.trim).exists(l => l.startsWith("|") && !l.startsWith("||"))

  private def unrendered(sql: String): Boolean =
    sql.contains("${") || "\\$[A-Za-z]".r.findFirstIn(sql).isDefined

  /** Parenthesis depth never dips below zero and ends at zero, counting
    * outside '…' literals and `--` comments only. */
  private def balanced(sql: String): Boolean = {
    var depth = 0
    var i = 0
    var ok = true
    while (ok && i < sql.length) {
      sql.charAt(i) match {
        case '\'' => i = sql.indexOf('\'', i + 1) match { case -1 => sql.length; case j => j }
        case '-' if sql.startsWith("--", i) =>
          i = sql.indexOf('\n', i) match { case -1 => sql.length; case j => j }
        case '(' => depth += 1
        case ')' => depth -= 1; ok = depth >= 0
        case _ =>
      }
      i += 1
    }
    ok && depth == 0
  }

  test("every registered query has exactly one non-empty oracle") {
    assert(oracles.keySet == SparkEntry.queries.keySet)
    assert(oracles.size == SparkEntry.queries.size)
    assert(flagged(_.trim.isEmpty).isEmpty)
  }

  test("no oracle line keeps a leading margin bar") {
    assert(leakedMargin("SELECT 1\n   |FROM t"))
    assert(!leakedMargin("SELECT 'a'\n   || 'b'"))
    assert(flagged(leakedMargin).isEmpty)
  }

  test("no oracle holds an unrendered interpolation") {
    assert(unrendered("SELECT ${x}") && unrendered("SELECT $PqCtes"))
    assert(!unrendered("SELECT json_extract(j, '$.k')"))
    assert(flagged(unrendered).isEmpty)
  }

  test("oracle parentheses balance outside quoted literals and -- comments") {
    assert(balanced("SELECT (1) -- (\nFROM t WHERE s = ')' AND r = 'it''s ('"))
    assert(!balanced("SELECT ((1) FROM t") && !balanced("SELECT 1) + (2"))
    assert(flagged(s => !balanced(s)).isEmpty)
  }

  test("a builder line that starts with || renders unchanged through two nesting levels") {
    val inner = sql"""SELECT 'a'
      |  || 'b' AS ab"""
    val middle = sql"""WITH x AS (
      |  $inner)"""
    val outer = sql"""$middle
      |SELECT ab FROM x"""
    assert(inner.text == "SELECT 'a'\n  || 'b' AS ab")
    assert(middle.text == "WITH x AS (\n  SELECT 'a'\n  || 'b' AS ab)")
    assert(outer.text == "WITH x AS (\n  SELECT 'a'\n  || 'b' AS ab)\nSELECT ab FROM x")
  }

  test("an argument's own lines are inserted verbatim, bars included") {
    val arg = "a,\n  | b"
    assert(sql"""SELECT $arg
      |FROM t""".text == "SELECT a,\n  | b\nFROM t")
  }

  test("a later literal part is stripped only after its first newline") {
    val x = "x"
    assert(sql"""SELECT $x |y
      |  |z""".text == "SELECT x |y\n  |z")
  }
}
