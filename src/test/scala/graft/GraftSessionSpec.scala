package graft

import org.scalatest.funsuite.AnyFunSuite

/** The `SPARK_GRAFT_ONLY` subset that Bench, Verify and tools.DumpPlans
  * share. */
class GraftSessionSpec extends AnyFunSuite {

  test("SPARK_GRAFT_ONLY: names are trimmed, empty entries dropped, unset selects all") {
    assert(GraftSession.onlyQueries(Some(" q_a, q_b ,,")) == Some(Set("q_a", "q_b")))
    assert(GraftSession.onlyQueries(None).isEmpty)
  }
}
