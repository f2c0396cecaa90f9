package perfbench

import graft.pipeline.TransactionAvro
import graft.pipeline.TransactionPipeline.Transaction

/** Seeded generator of Confluent-framed `Transaction` values.
  *
  * Every field of record `i` is a pure function of `(seed, i)`, so the
  * same seed yields byte-identical frames however the index range is
  * split across threads or tasks. The currency and status mix is the
  * one of the reference's five-row fixture: USD:EUR:GBP = 2:2:1 and
  * APPROVED:CANCELLED:PENDING = 3:1:1. A stated share of frames is
  * poison, cycling through the three kinds the quarantine gate plants:
  * an unknown schema id, a wrong magic byte and a truncated body.
  */
object Gen {
  val Currencies: Array[String] = Array("USD", "USD", "EUR", "EUR", "GBP")
  val Statuses: Array[String] =
    Array("APPROVED", "APPROVED", "APPROVED", "CANCELLED", "PENDING")
  private val Categories = Array("grocery", "travel", "fuel", "retail")
  private val Channels = Array("web", "pos", "app")

  /** The conversion the pipeline must apply, kept here independently of
    * the code under test so the check does not trust it.
    */
  def usdRate(currency: String): Double = currency match {
    case "EUR" => 1.1
    case "GBP" => 1.3
    case _ => 1.0
  }

  /** splitmix64 finaliser: a well-mixed 64-bit hash of `z`. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def draw(seed: Long, i: Long, field: Int): Long =
    mix(mix(seed * 31 + field) ^ i)

  private def pick(seed: Long, i: Long, field: Int, n: Int): Int =
    java.lang.Long.remainderUnsigned(draw(seed, i, field), n.toLong).toInt

  /** 0 for a good frame, else the poison kind 1..3. `poisonPerMillion`
    * frames in a million are poison.
    */
  def poisonKind(seed: Long, i: Long, poisonPerMillion: Int): Int =
    if (pick(seed, i, 1, 1000000) < poisonPerMillion) 1 + pick(seed, i, 2, 3)
    else 0

  def currency(seed: Long, i: Long): String =
    Currencies(pick(seed, i, 3, Currencies.length))
  def status(seed: Long, i: Long): String =
    Statuses(pick(seed, i, 4, Statuses.length))
  def amount(seed: Long, i: Long): Double =
    (1 + pick(seed, i, 5, 100000)) / 100.0

  /** Record ids end in `-<index>`, so a check can recompute what the
    * generator wrote for any output row.
    */
  def id(seed: Long, i: Long): String =
    f"${draw(seed, i, 6)}%016x-$i%d"
  def indexOf(id: String): Long = id.substring(id.lastIndexOf('-') + 1).toLong

  def transaction(seed: Long, i: Long, tsMs: Long): Transaction =
    Transaction(
      id = id(seed, i),
      amount = amount(seed, i),
      currency = currency(seed, i),
      timestamp = new java.sql.Timestamp(tsMs),
      description = Some("bench transaction"),
      merchant = "merchant-" + pick(seed, i, 7, 500),
      category = Some(Categories(pick(seed, i, 8, Categories.length))),
      status = status(seed, i),
      userId = "user-" + pick(seed, i, 9, 10000),
      metadata = Some(Map("channel" -> Channels(pick(seed, i, 10, 3)))))

  def frame(seed: Long, i: Long, tsMs: Long, poisonPerMillion: Int): Array[Byte] = {
    val t = transaction(seed, i, tsMs)
    poisonKind(seed, i, poisonPerMillion) match {
      case 0 => TransactionAvro.encodeTransaction(t)
      case 1 => TransactionAvro.encodeTransaction(t, schemaId = 99)
      case 2 => Array[Byte](1, 2, 3, 4, 5, 6)
      case _ => TransactionAvro.encodeTransaction(t).dropRight(10)
    }
  }

  /** What the pipeline must emit for records `[from, until)`. */
  final case class Expected(good: Long, poison: Long, approved: Long, usdSum: Double)

  def expected(seed: Long, from: Long, until: Long, poisonPerMillion: Int): Expected = {
    var good, poison, approved = 0L
    var usd = 0.0
    var i = from
    while (i < until) {
      if (poisonKind(seed, i, poisonPerMillion) != 0) poison += 1
      else {
        good += 1
        if (status(seed, i) != "CANCELLED") {
          approved += 1
          usd += amount(seed, i) * usdRate(currency(seed, i))
        }
      }
      i += 1
    }
    Expected(good, poison, approved, usd)
  }
}
