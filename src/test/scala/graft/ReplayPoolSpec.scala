package graft

import org.scalatest.funsuite.AnyFunSuite

/** A stream replay family fails small: each family is its own
  * [[FixtureMemo]] entry, so one family's build error stays that
  * family's, and every other family's build is kept.
  */
class ReplayPoolSpec extends AnyFunSuite {

  test("replay pool: a failing family is logged, its gate rebuilds and fails, the others keep their build") {
    val key = s"replay-pool-spec-${System.nanoTime()}"
    val badBuilds = new java.util.concurrent.atomic.AtomicInteger
    def bad(): String = FixtureMemo.of("pool_spec_bad", key) {
      badBuilds.incrementAndGet()
      throw new IllegalStateException("planted family failure")
    }
    val goodBuilds = new java.util.concurrent.atomic.AtomicInteger
    def good(): String = FixtureMemo.of("pool_spec_good", key) {
      goodBuilds.incrementAndGet()
      "built"
    }
    val first = intercept[IllegalStateException](bad())
    assert(first.getMessage == "planted family failure")
    assert(good() == "built")
    // the good family's build is memoized: its gate reuses it
    assert(good() == "built" && goodBuilds.get == 1)
    // the failed build stored nothing: the family's own gate builds
    // again and fails with that family's error
    val e = intercept[IllegalStateException](bad())
    assert(e.getMessage == "planted family failure")
    assert(badBuilds.get == 2)
  }
}
