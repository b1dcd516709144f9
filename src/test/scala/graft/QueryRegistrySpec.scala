package graft

import org.scalatest.funsuite.AnyFunSuite

class QueryRegistrySpec extends AnyFunSuite {

  test("a Q builds its oracle SQL on first read, not at construction") {
    val q = Q("x", (_, _) => sys.error("not run"), sys.error("boom"))
    assert(q.name == "x")
    assert(intercept[RuntimeException](q.oracle).getMessage == "boom")
  }
}
