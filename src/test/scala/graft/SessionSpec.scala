package graft

import org.scalatest.funsuite.AnyFunSuite

/** SPARK_GRAFT_ONLY parsing, shared by Bench and Verify. */
class SessionSpec extends AnyFunSuite {

  private val names = Seq("q01_a", "q02_b", "q03_c")
  private def run(raw: String): Seq[String] =
    names.filter(n => Session.selects(Session.parseOnly(Some(raw)), n))

  test("SPARK_GRAFT_ONLY: unset selects every query") {
    assert(Session.parseOnly(None) === None)
    assert(names.forall(Session.selects(None, _)))
  }

  test("SPARK_GRAFT_ONLY: empty entries are dropped, not a match-all prefix") {
    assert(Session.parseOnly(Some("q01,,q02")) === Some(Set("q01", "q02")))
    assert(run("q01,,q02") === Seq("q01_a", "q02_b"))
    assert(Session.parseOnly(Some(",q01")) === Some(Set("q01")))
    assert(run(",q01") === Seq("q01_a"))
  }

  test("SPARK_GRAFT_ONLY: entries are trimmed") {
    assert(Session.parseOnly(Some("q01, q02")) === Some(Set("q01", "q02")))
    assert(run("q01, q02") === Seq("q01_a", "q02_b"))
  }
}
