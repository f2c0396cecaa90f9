package graft

import com.ibm.icu.lang.UCharacter
import com.ibm.icu.util.ULocale
import org.apache.spark.sql.functions.{col, initcap, lower, upper}

/** The engine maps case with the JVM, not ICU (GraftSession.JvmCaseMapping).
  * Checks lower, upper and initcap on fixed strings against ICU's
  * root-locale mapping: ASCII and the classic special cases. Where the
  * JVM mapping differs from ICU, the difference is pinned here.
  */
class CaseMappingSpec extends SparkSpecBase {

  private lazy val session = {
    val s = spark.newSession()
    s.conf.set(GraftSession.JvmCaseMapping._1, GraftSession.JvmCaseMapping._2)
    s
  }

  // ASCII, dotted capital I, final sigma, sharp s, the titlecase digraph
  // dz, the Kelvin sign
  private val strings = Seq("hello WORLD mIxEd", "\u0130", "\u03a3\u0391\u03a3",
    "\u00df", "\u01c5", "\u212a")

  // initcap titlecases with the JVM's one-to-one mapping after lowering
  // the word; ICU titlecases the word's first letter directly, with its
  // full mapping
  private val initcapDiffers = Map(
    // ICU keeps U+0130; the JVM lowers it to i + U+0307, then titlecases the i
    "\u0130" -> "I\u0307",
    // ICU: "Ss"; the JVM has no one-to-one titlecase for sharp s
    "\u00df" -> "\u00df",
    // ICU keeps the Kelvin sign; the JVM lowers it to k, then titlecases the k
    "\u212a" -> "K")

  test("lower and upper equal ICU's root mapping; initcap differs on three pinned strings") {
    import session.implicits._
    val got = strings.toDF("x")
      .select(col("x"), lower(col("x")), upper(col("x")), initcap(col("x")))
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2), r.getString(3)))
      .toMap
    strings.foreach { s =>
      val (lo, up, title) = got(s)
      assert(lo == UCharacter.toLowerCase(ULocale.ROOT, s), s)
      assert(up == UCharacter.toUpperCase(ULocale.ROOT, s), s)
      assert(title == initcapDiffers.getOrElse(s, UCharacter.toTitleCase(ULocale.ROOT, s, null)), s)
    }
    assert(initcapDiffers.forall { case (s, jvm) =>
      jvm != UCharacter.toTitleCase(ULocale.ROOT, s, null) })
  }
}
