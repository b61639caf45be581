package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guard over the query roster itself: the correctness gate pairs
  * `SparkEntry.queries` with `Oracle.sql` by NAME, so a typo'd key
  * silently downgrades a row to "no check" and an orphaned oracle
  * checks nothing. Registration mistakes should fail HERE, in a
  * millisecond spec, not as a missing row in the Verify dump. */
class RosterSpec extends AnyFunSuite {

  // the rows-only exemptions the contract grants (non-SQL-expressible
  // production sampler pipeline) — grow this list CONSCIOUSLY
  private val rowsOnly = Set("q32_synthetic_pipeline")

  test("every registered query has an oracle, except the declared rows-only set") {
    val q = SparkEntry.queries.keySet
    val o = Oracle.sql.keySet
    val missing = q -- o -- rowsOnly
    assert(missing.isEmpty,
      s"queries without an oracle (and not declared rows-only): $missing")
  }

  test("no orphaned oracles: every oracle key is a registered query") {
    val orphans = Oracle.sql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle entries with no query: $orphans")
  }

  test("rows-only exemptions actually exist as queries") {
    val gone = rowsOnly -- SparkEntry.queries.keySet
    assert(gone.isEmpty, s"declared rows-only but not registered: $gone")
  }

  test("oracle SQL strings are non-empty and single-statement") {
    Oracle.sql.foreach { case (name, sql) =>
      assert(sql.trim.nonEmpty, s"$name: empty oracle")
      // a statement-level semicolon would truncate the driver's DuckDB
      // execute; semicolons INSIDE string literals (regex char
      // classes, HTML entities) are fine — strip '...'-literals
      // (with '' escapes) before checking
      val noLiterals = sql.replaceAll("(?s)'(?:''|[^'])*'", "''")
      assert(!noLiterals.trim.stripSuffix(";").contains(";"),
        s"$name: statement-level semicolon risks truncation")
    }
  }
}
