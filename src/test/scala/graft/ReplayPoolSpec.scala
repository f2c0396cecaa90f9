package graft

import graft.streaming.StreamingOps
import org.scalatest.funsuite.AnyFunSuite

/** The stream replay pool fails small: one family's build error is
  * logged and stays that family's, every other family's build is kept.
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
    val err = new java.io.ByteArrayOutputStream
    val stderr = System.err
    System.setErr(new java.io.PrintStream(err, true))
    try StreamingOps.runReplayPool(Seq(
      ("bad", () => bad()), ("good", () => good())))
    finally System.setErr(stderr)
    val log = err.toString
    assert(log.contains("[stream-pool] bad failed") &&
      log.contains("planted family failure"), log)
    assert(log.contains("[stream-pool] good done at"), log)
    // the good family's build is memoized: its gate reuses it
    assert(good() == "built" && goodBuilds.get == 1)
    // the failed build stored nothing: the family's own gate builds
    // again and fails with that family's error
    val e = intercept[IllegalStateException](bad())
    assert(e.getMessage == "planted family failure")
    assert(badBuilds.get == 2)
  }
}
