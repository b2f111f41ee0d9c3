package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the rendered DuckDB oracle text of every registered query. The
  * oracles are assembled from shared builders (`queries/OracleSql`), so
  * a builder that leaks a margin bar, leaves an interpolation
  * unrendered or drops a parenthesis breaks many oracles at once; these
  * checks read the text alone and need no Spark session. Each check also
  * runs on one broken sample, so it cannot pass vacuously.
  */
class OracleSqlSpec extends AnyFunSuite {

  private lazy val oracles = SparkEntry.oracleSql

  /** Names of the oracles whose text `bad` flags. */
  private def flagged(bad: String => Boolean): Seq[String] =
    oracles.collect { case (name, sql) if bad(sql) => name }.toSeq.sorted

  private def leakedMargin(sql: String): Boolean =
    sql.linesIterator.exists(_.trim.startsWith("|"))

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
}
