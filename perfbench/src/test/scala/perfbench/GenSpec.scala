package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.TransactionAvro

class GenSpec extends AnyFunSuite {
  private val n = 200000

  test("the same seed gives byte-identical frames, another seed different ones") {
    val a = (0 until 1000).map(i => Gen.frame(7, i, 1000L + i, 5000))
    val b = (0 until 1000).map(i => Gen.frame(7, i, 1000L + i, 5000))
    val c = (0 until 1000).map(i => Gen.frame(8, i, 1000L + i, 5000))
    assert(a.zip(b).forall { case (x, y) => java.util.Arrays.equals(x, y) })
    assert(a.zip(c).count { case (x, y) => !java.util.Arrays.equals(x, y) } == 1000)
  }

  test("frames do not depend on the order they are generated in") {
    val forward = (0 until 100).map(i => Gen.frame(3, i, i, 5000))
    val backward = (0 until 100).reverse.map(i => Gen.frame(3, i, i, 5000)).reverse
    assert(forward.zip(backward).forall { case (x, y) => java.util.Arrays.equals(x, y) })
  }

  private def share(p: Long => Boolean): Double = (0L until n).count(p).toDouble / n

  test("the currency and status mix is the fixture's 2:2:1 and 3:1:1") {
    for ((c, want) <- Seq("USD" -> 0.4, "EUR" -> 0.4, "GBP" -> 0.2))
      assert(math.abs(share(i => Gen.currency(11, i) == c) - want) < 0.005, c)
    for ((s, want) <- Seq("APPROVED" -> 0.6, "CANCELLED" -> 0.2, "PENDING" -> 0.2))
      assert(math.abs(share(i => Gen.status(11, i) == s) - want) < 0.005, s)
  }

  test("the poison share is the stated one, with all three kinds") {
    assert(math.abs(share(i => Gen.poisonKind(5, i, 5000) != 0) - 0.005) < 0.0007)
    for (k <- 1 to 3)
      assert(math.abs(share(i => Gen.poisonKind(5, i, 5000) == k) - 0.005 / 3) < 0.0005, k)
    assert(share(i => Gen.poisonKind(5, i, 0) != 0) == 0.0)
  }

  test("good frames decode to the generated record, poison frames do not decode") {
    for (i <- 0L until 3000L) {
      val f = Gen.frame(2, i, 1000L * i, 5000)
      Gen.poisonKind(2, i, 5000) match {
        case 0 => assert(TransactionAvro.decodeTransaction(f) == Gen.transaction(2, i, 1000L * i))
        case _ => assert(TransactionAvro.decodeTransactionSafe(f).error != null)
      }
    }
  }

  test("expected counts agree with the per-record draws") {
    val e = Gen.expected(4, 0, 50000, 5000)
    assert(e.good + e.poison == 50000)
    val approved = (0L until 50000L).filter(i =>
      Gen.poisonKind(4, i, 5000) == 0 && Gen.status(4, i) != "CANCELLED")
    assert(e.approved == approved.length)
    val usd = approved.map(i => Gen.amount(4, i) * Gen.usdRate(Gen.currency(4, i))).sum
    assert(math.abs(e.usdSum - usd) < 1e-6)
    assert(Gen.indexOf(Gen.id(4, 12345)) == 12345)
  }
}
