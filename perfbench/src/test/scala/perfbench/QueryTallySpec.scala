package perfbench

import org.scalatest.funsuite.AnyFunSuite

import perfbench.QueryWorkload.{QueryRun, tally}

class QueryTallySpec extends AnyFunSuite {

  private val expected = Map("qa" -> "11", "qb" -> "22", "qc" -> "33")
  private def ok(n: String, s: Double) = QueryRun(n, s / 2, s / 2, expected(n), None)

  test("a clean pass counts every query and sums their times") {
    val t = tally(Seq(Seq(ok("qa", 1.0), ok("qb", 2.0), ok("qc", 3.0))), expected)
    assert(t.attempted == 3 && t.failed == 0)
    assert(t.passTotals == Seq(6.0))
  }

  test("a query that throws is failed and its time is not counted as healthy") {
    val threw = QueryRun("qb", 0.5, 0.0, "", Some("RuntimeException: boom"))
    val t = tally(Seq(Seq(ok("qa", 1.0), threw, ok("qc", 3.0))), expected)
    assert(t.attempted == 3 && t.failed == 1)
    assert(t.passTotals == Seq(4.0))
    assert(t.errors.head.startsWith("qb: RuntimeException"))
  }

  test("a hash mismatch is failed even though the query ran") {
    val wrong = ok("qc", 3.0).copy(hash = "34")
    val t = tally(Seq(Seq(ok("qa", 1.0), ok("qb", 2.0)), Seq(ok("qa", 1.0), wrong)), expected)
    assert(t.attempted == 4 && t.failed == 1)
    assert(t.passTotals == Seq(3.0, 1.0))
    assert(t.errors == Seq("qc: hash 34 != frozen 33"))
  }

  test("a query without a frozen hash is failed") {
    val t = tally(Seq(Seq(QueryRun("qz", 1, 1, "5", None))), expected)
    assert(t.failed == 1 && t.passTotals == Seq(0.0))
  }
}
