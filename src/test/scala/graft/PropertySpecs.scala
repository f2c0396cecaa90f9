package graft

import graft.pipeline.{TransactionAvro, TransactionPipeline}
import graft.pipeline.TransactionPipeline.Transaction
import graft.udx.Udx
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

/** ScalaCheck property tier (SURVEY.md §5.2): pure-function invariants
  * checked over generated inputs — the codec, framing, aggregator laws,
  * and the simhash banding pigeonhole, none of which need a SparkSession.
  */
object AvroCodecProps extends Properties("TransactionAvro") {

  private val genStr = Gen.alphaNumStr.map(_.take(40))
  private val genTxn: Gen[Transaction] = for {
    id <- genStr; amount <- Gen.chooseNum(-1e9, 1e9)
    currency <- Gen.oneOf("USD", "EUR", "GBP", "JPY")
    millis <- Gen.chooseNum(0L, 4102444800000L)
    desc <- Gen.option(genStr); merchant <- genStr; cat <- Gen.option(genStr)
    status <- Gen.oneOf("PENDING", "APPROVED", "CANCELLED", "REJECTED")
    user <- genStr
    meta <- Gen.option(Gen.mapOf(Gen.zip(genStr, genStr)).map(_.take(5)))
  } yield Transaction(id, amount, currency, new java.sql.Timestamp(millis),
    desc, merchant, cat, status, user, meta)

  property("decode∘encode = id") = forAll(genTxn) { t =>
    TransactionAvro.decodeTransaction(TransactionAvro.encodeTransaction(t)) == t
  }

  property("framing preserves schema id and body") =
    forAll(Gen.chooseNum(0, Int.MaxValue), Gen.listOf(Gen.chooseNum(-128, 127).map(_.toByte))) {
      (id, body) =>
        val (gotId, gotBody) = TransactionAvro.unframe(
          TransactionAvro.frame(id, body.toArray))
        gotId == id && java.util.Arrays.equals(gotBody, body.toArray)
    }
}

object GeoMeanProps extends Properties("GeoMean") {
  import Udx.{GeoBuf, GeoMean}

  private val genXs = Gen.nonEmptyListOf(Gen.chooseNum(0.1, 1e6))

  property("merge with zero is identity") = forAll(genXs) { xs =>
    val b = xs.foldLeft(GeoMean.zero)(GeoMean.reduce)
    GeoMean.merge(b, GeoMean.zero) == b && GeoMean.merge(GeoMean.zero, b) == b
  }

  property("split-merge ≈ sequential (partial aggregation soundness)") =
    forAll(genXs, genXs) { (a, b) =>
      val seq = (a ++ b).foldLeft(GeoMean.zero)(GeoMean.reduce)
      val par = GeoMean.merge(
        a.foldLeft(GeoMean.zero)(GeoMean.reduce),
        b.foldLeft(GeoMean.zero)(GeoMean.reduce))
      math.abs(GeoMean.finish(seq) - GeoMean.finish(par)) <=
        1e-9 * math.max(1.0, math.abs(GeoMean.finish(seq)))
    }

  property("finish of n copies of x is x") = forAll(
    Gen.chooseNum(0.1, 1e6), Gen.chooseNum(1, 50)) { (x, n) =>
    val b = List.fill(n)(x).foldLeft(GeoMean.zero)(GeoMean.reduce)
    math.abs(GeoMean.finish(b) - x) <= 1e-9 * x
  }
}

/** The pigeonhole behind Dedup.simhashPairs: with (maxH+1) contiguous
  * bands over the SimhashBits-wide signature, any pair within Hamming
  * maxH shares ≥1 band. Mirrors the production band math exactly.
  */
object SimhashBandProps extends Properties("SimhashBanding") {

  private val W = graft.operators.Dedup.SimhashBits

  private def bands(sig: Long, maxH: Int): Seq[Long] = {
    val nBands = maxH + 1
    val base = W / nBands; val rem = W % nBands
    val widths = (0 until nBands).map(b => if (b < rem) base + 1 else base)
    val offsets = widths.scanLeft(0)(_ + _).init
    (0 until nBands).map { b =>
      val mask = if (widths(b) == 64) -1L else (1L << widths(b)) - 1
      (sig >>> offsets(b)) & mask
    }
  }

  private val genCase = for {
    sig <- Gen.chooseNum(0L, (1L << W) - 1)
    maxH <- Gen.chooseNum(1, 16)
    flips <- Gen.chooseNum(0, 16)
    bits <- Gen.pick(flips, 0 until W)
  } yield (sig, maxH, bits.foldLeft(sig)((s, b) => s ^ (1L << b)), flips)

  property("hamming ≤ maxH ⇒ some band matches") = forAll(genCase) {
    case (a, maxH, b, flips) =>
      val ham = java.lang.Long.bitCount(a ^ b)
      Prop.collect(s"maxH=$maxH") {
        if (ham <= maxH) bands(a, maxH).zip(bands(b, maxH)).exists(p => p._1 == p._2)
        else true
      }
  }

  property("bands reassemble the signature (partition of the bit range)") =
    forAll(Gen.chooseNum(0L, (1L << W) - 1), Gen.chooseNum(1, 16)) { (sig, maxH) =>
      val nBands = maxH + 1
      val base = W / nBands; val rem = W % nBands
      val widths = (0 until nBands).map(b => if (b < rem) base + 1 else base)
      val offsets = widths.scanLeft(0)(_ + _).init
      val rebuilt = bands(sig, maxH).zip(offsets)
        .foldLeft(0L) { case (acc, (v, off)) => acc | (v << off) }
      rebuilt == sig
    }
}

/** FX conversion invariants (the reference's O6 semantics). */
object FxProps extends Properties("FxToUsd") {
  // mirror of the production Column expression, for property speed
  private def fx(amount: Double, ccy: String): Double = ccy match {
    case "EUR" => amount * 1.1
    case "GBP" => amount * 1.3
    case _     => amount
  }

  property("identity for non-EUR/GBP") =
    forAll(Gen.chooseNum(-1e9, 1e9), Gen.oneOf("USD", "JPY", "CHF", "XXX")) {
      (a, c) => fx(a, c) == a
    }

  property("linear in amount") = forAll(
    Gen.chooseNum(-1e6, 1e6), Gen.oneOf("EUR", "GBP")) { (a, c) =>
    val k = if (c == "EUR") 1.1 else 1.3
    fx(a, c) == a * k
  }
}

object ZOrderProps extends Properties("ZOrder2") {
  // pure reference mirror of the expression's bit-spread (ZOrder.scala)
  private def spread16(v: Long): Long = {
    var r = v & 0xffffL
    r = (r | (r << 8)) & 0x00ff00ffL
    r = (r | (r << 4)) & 0x0f0f0f0fL
    r = (r | (r << 2)) & 0x33333333L
    r = (r | (r << 1)) & 0x55555555L
    r
  }
  private def z(x: Long, y: Long): Long = spread16(x) | (spread16(y) << 1)
  private def compact(v: Long): Long =
    (0 until 16).map(i => ((v >> (2 * i)) & 1L) << i).sum

  private val gen16 = Gen.chooseNum(0L, 0xffffL)

  property("interleave is invertible (compact∘spread = id)") =
    forAll(gen16, gen16) { (x, y) =>
      compact(z(x, y)) == x && compact(z(x, y) >> 1) == y
    }

  property("bit-interleave definition: bit i of x at 2i, y at 2i+1") =
    forAll(gen16, gen16) { (x, y) =>
      (0 until 16).forall { i =>
        ((z(x, y) >> (2 * i)) & 1L) == ((x >> i) & 1L) &&
        ((z(x, y) >> (2 * i + 1)) & 1L) == ((y >> i) & 1L)
      }
    }

  property("monotone in each dimension") =
    forAll(gen16, gen16, gen16) { (a, b, y) =>
      val (lo, hi) = (math.min(a, b), math.max(a, b))
      z(lo, y) <= z(hi, y) && z(y, lo) <= z(y, hi)
    }
}

object TopKAggProps extends Properties("TopKByValue") {
  import graft.functions.TopKByValue
  import scala.collection.mutable

  private val genRow = Gen.zip(Gen.chooseNum(-1e6, 1e6), Gen.chooseNum(0L, 1e6.toLong))
  private val genRows = Gen.listOf(genRow)
  private val genK = Gen.chooseNum(1, 8)

  // reference semantics: sort all rows (v desc, id asc), take k
  private def ref(rows: List[(Double, Long)], k: Int): List[(Double, Long)] =
    rows.sortBy { case (v, id) => (-v, id) }.take(k)

  private def drain(agg: TopKByValue,
      buf: mutable.PriorityQueue[(Double, Long)]): List[(Double, Long)] =
    buf.toList.sortBy { case (v, id) => (-v, id) }

  private def heapOf(agg: TopKByValue, rows: Seq[(Double, Long)]) = {
    val b = agg.createAggregationBuffer()
    rows.foreach { e =>
      b.enqueue(e); if (b.size > agg.k) b.dequeue()
    }
    b
  }

  property("heap contents = sort-take reference") =
    forAll(genRows, genK) { (rows, k) =>
      val agg = TopKByValue(null, null, k)
      drain(agg, heapOf(agg, rows)) == ref(rows, k)
    }

  property("merge of any split = unsplit (partial aggregation soundness)") =
    forAll(genRows, genK, Gen.chooseNum(0, 100)) { (rows, k, cut0) =>
      val agg = TopKByValue(null, null, k)
      val cut = if (rows.isEmpty) 0 else cut0 % (rows.size + 1)
      val (l, r) = rows.splitAt(cut)
      val merged = agg.merge(heapOf(agg, l), heapOf(agg, r))
      drain(agg, merged) == ref(rows, k)
    }

  property("serialize/deserialize roundtrips the kept set") =
    forAll(genRows, genK) { (rows, k) =>
      val agg = TopKByValue(null, null, k)
      val b = heapOf(agg, rows)
      drain(agg, agg.deserialize(agg.serialize(b))) == drain(agg, b)
    }
}

/** The recall-losslessness theorem behind Dedup.editDistancePairs'
  * pruning: every edit moves at most two character-class counts by one
  * each, so lev(a,b) ≥ L1(hist(a), hist(b))/2 and ≥ |len(a)−len(b)| —
  * checked against an independent textbook DP implementation. If these
  * bounds ever failed, the count/band filters would silently drop true
  * pairs.
  */
object EditDistanceBoundProps extends Properties("EditDistanceBounds") {

  private val classes = Seq(('a', 'e'), ('f', 'm'), ('n', 's'), ('t', 'z'),
    ('A', 'Z'), ('0', '9'))
  private def hist(s: String): Array[Int] = {
    val h = new Array[Int](classes.size + 2)
    s.foreach { c =>
      val i = classes.indexWhere { case (lo, hi) => c >= lo && c <= hi }
      if (i >= 0) h(i) += 1
      else if (c.isWhitespace) h(classes.size) += 1
      else h(classes.size + 1) += 1
    }
    h
  }
  private def lev(a: String, b: String): Int = {
    val dp = Array.tabulate(b.length + 1)(identity)
    for (i <- 1 to a.length) {
      var prev = dp(0); dp(0) = i
      for (j <- 1 to b.length) {
        val cur = dp(j)
        dp(j) = math.min(math.min(dp(j) + 1, dp(j - 1) + 1),
          prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
        prev = cur
      }
    }
    dp(b.length)
  }

  private val genS = Gen.listOf(Gen.frequency(
    (8, Gen.alphaNumChar), (1, Gen.const(' ')), (1, Gen.const('!'))))
    .map(_.mkString.take(60))

  property("lev ≥ L1(class hist)/2 and lev ≥ |Δlen|") =
    forAll(genS, genS) { (a, b) =>
      val l1 = hist(a).zip(hist(b)).map { case (x, y) => math.abs(x - y) }.sum
      val d = lev(a, b)
      d * 2 >= l1 && d >= math.abs(a.length - b.length)
    }
}

/** Systematic-PPS hit arithmetic (Mixing.ppsSample): hits over the
  * cumulative axis partition the multiples of `step`, and every item at
  * least one step wide is hit.
  */
object PpsSampleProps extends Properties("PpsSample") {

  private val genW = Gen.nonEmptyListOf(Gen.chooseNum(1L, 1000L)).map(_.take(200))

  property("hit totals partition tot div step; heavy items always hit") =
    forAll(genW, Gen.chooseNum(1, 50)) { (ws, m) =>
      val tot = ws.sum
      val step = math.max(1L, tot / m)
      val cums = ws.scanLeft(0L)(_ + _).tail
      val hits = ws.zip(cums).map { case (w, c) => c / step - (c - w) / step }
      hits.sum == tot / step &&
        ws.zip(hits).forall { case (w, h) => w < step || h >= 1 } &&
        hits.forall(_ >= 0)
    }
}

object SimhashMapSideProps extends Properties("SimhashHelper") {
  import graft.functions.HyperplaneBucket

  private val genVec = Gen.listOf(Gen.chooseNum(-10f, 10f)).map(_.toArray)
  private val genPlanes = Gen.listOfN(6,
    Gen.listOfN(8, Gen.chooseNum(-1.0, 1.0)).map(_.toArray)).map(_.toArray)

  property("bucket bits = sign of per-plane dot (truncated to min length)") =
    forAll(genVec, genPlanes) { (v, planes) =>
      val b = HyperplaneBucket.bucketOf(v, planes)
      planes.indices.forall { p =>
        val n = math.min(v.length, planes(p).length)
        var dot = 0.0
        var i = 0
        while (i < n) { dot += v(i).toDouble * planes(p)(i); i += 1 }
        ((b >> p) & 1L) == (if (dot >= 0.0) 1L else 0L)
      }
    }
}

object CepMachineProps extends Properties("CepMachine") {
  import graft.operators.Cep

  /** Independent brute-force reference for the collapse-closure greedy
    * class: try a match at every start position left-to-right; a match
    * at i consumes One/OneOrMore steps with MAXIMAL greed over
    * contiguous rows and skips an OPTIONAL step whose symbol the
    * current row does not carry; on success (window included) jump
    * past its last row, else advance one row. Written against the
    * MATCH_RECOGNIZE semantics directly, sharing no code with the
    * Machine under test.
    */
  private def brute(rows: IndexedSeq[(Long, Long, String)],
      pat: IndexedSeq[Cep.Step], windowUs: Long): List[(Long, Long, Long)] = {
    val out = scala.collection.mutable.ListBuffer.empty[(Long, Long, Long)]
    var i = 0
    while (i < rows.length) {
      var j = i
      var ok = true
      var consumed = 0L
      pat.foreach { st =>
        if (ok) {
          val (lo, hi) = st.bounds
          var c = 0
          while (j < rows.length && c < hi && st.matches(rows(j)._3)) {
            j += 1; c += 1; consumed += 1
          }
          if (c < lo) ok = false
        }
      }
      if (ok && rows(j - 1)._1 - rows(i)._1 <= windowUs) {
        out += ((rows(i)._2, rows(j - 1)._2, consumed))
        i = j
      } else i += 1
    }
    out.toList
  }

  /** Patterns over a 3-symbol alphabet WITH non-adjacent repeats
    * (A B A …) and OPTIONAL steps — the class the shared-buffer
    * machine claims; adjacent duplicates are collapsed and optional
    * flags that would break the collapse-closure rule are cleared, to
    * keep greed deterministic (the validate() contract).
    */
  private val genPattern: Gen[IndexedSeq[Cep.Step]] = for {
    n <- Gen.chooseNum(1, 4)
    syms <- Gen.listOfN(n, Gen.oneOf("a", "b", "c"))
    plusFlags <- Gen.listOfN(n, Gen.oneOf(true, false))
    optFlags <- Gen.listOfN(n, Gen.prob(0.4))
    altFlags <- Gen.listOfN(n, Gen.prob(0.3))
    altSyms <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d"))
    repFlags <- Gen.listOfN(n, Gen.prob(0.3))
    repLos <- Gen.listOfN(n, Gen.chooseNum(0, 2))
    repSpans <- Gen.listOfN(n, Gen.chooseNum(0, 2))
  } yield {
    val fixed = syms.foldLeft(List.empty[String]) { (acc, s) =>
      if (acc.headOption.contains(s)) acc else s :: acc
    }.reverse.toIndexedSeq
    val raw = fixed.zipWithIndex.map { case (s, i) =>
      val mid = i > 0 && i < fixed.length - 1
      val withRep = repFlags(i) && mid
      Cep.Step(s,
        plus = !withRep && plusFlags(i) && i < fixed.length - 1,
        opt = !withRep && optFlags(i) && mid,
        alt = if (altFlags(i) && altSyms(i) != s) Set(altSyms(i))
          else Set.empty,
        rep = if (withRep)
          Some((repLos(i), math.max(1, repLos(i) + repSpans(i))))
          else None)
    }
    // clear opt flags (last-set first) until the collapse-closure
    // rule holds (validate's contract): steps separated only by
    // optionals must keep distinct symbols; with zero opts the rule
    // reduces to the adjacent-distinct base the collapse guarantees
    def closureOk(p: IndexedSeq[Cep.Step]): Boolean =
      p.indices.forall { i =>
        var j = i + 1
        var chain = true
        var ok = true
        while (chain && j < p.length) {
          ok = ok && (p(i).syms intersect p(j).syms).isEmpty
          chain = p(j).bounds._1 == 0
          j += 1
        }
        ok
      }
    // restore the closure rule by shedding generality: first drop alt
    // sets (they widen symbol sets), then clear opt flags (they extend
    // collapse chains); the alt-free opt-free pattern is valid by the
    // adjacent-dedup collapse above
    var cur = raw
    while (!closureOk(cur)) {
      val a = cur.lastIndexWhere(_.alt.nonEmpty)
      if (a >= 0) cur = cur.updated(a, cur(a).copy(alt = Set.empty))
      else {
        val k = cur.lastIndexWhere(_.opt)
        if (k >= 0) cur = cur.updated(k, cur(k).copy(opt = false))
        else {
          // the remaining zero-chains come from rep (0, n) steps —
          // raise their lo to 1 (breaks the chain, keeps the repeat)
          val m = cur.lastIndexWhere(st => st.rep.exists(_._1 == 0))
          cur = cur.updated(m, cur(m).copy(rep = cur(m).rep.map {
            case (_, hi) => (1, hi) }))
        }
      }
    }
    cur
  }

  private val genRows: Gen[IndexedSeq[(Long, Long, String)]] = for {
    n <- Gen.chooseNum(0, 60)
    syms <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d", "x"))
    gaps <- Gen.listOfN(n, Gen.chooseNum(1L, 50L))
  } yield {
    val ts = gaps.scanLeft(0L)(_ + _).tail
    ts.zip(syms).zipWithIndex.map { case ((t, s), i) =>
      (t, i.toLong, s)
    }.toIndexedSeq
  }

  /** Shrinkers mutate args without regard for generator invariants, so
    * each property re-checks the pattern-class contract and passes
    * vacuously outside it (the class boundary is validate()'s job).
    */
  private def validPat(pat: IndexedSeq[Cep.Step]): Boolean =
    pat.nonEmpty && pat.last.bounds == ((1, 1)) &&
      pat.head.bounds._1 >= 1 &&
      pat.forall(st => st.rep.forall { case (lo, hi) =>
        !st.plus && !st.opt && 0 <= lo && lo <= hi && hi >= 1 }) &&
      pat.indices.forall { i =>
        var j = i + 1
        var chain = true
        var ok = true
        while (chain && j < pat.length) {
          ok = ok && (pat(i).syms intersect pat(j).syms).isEmpty
          chain = pat(j).bounds._1 == 0
          j += 1
        }
        ok
      }

  property("machine fold == brute-force greedy reference (matches, bounds, counts)") =
    forAll(genPattern, genRows, Gen.chooseNum(5L, 2000L)) { (pat, rows, win) =>
      !validPat(pat) || {
        val m = new Cep.Machine(pat, win)
        val got = rows.flatMap { case (ts, id, tpe) => m.feed(ts, id, tpe) }
          .map(c => (c.start_event_id, c.end_event_id, c.n_rows)).toList
        got == brute(rows, pat, win)
      }
    }

  /** Reference for CONTIGUOUS patterns outside the closure class,
    * written from the matcher's documented rule alone: candidate
    * starts left to right; at a start, parses in preference order —
    * each step's takes over the maximal run of rows it matches,
    * longest first when greedy, shortest first when reluctant; the
    * first parse whose span fits the window wins (the window binds
    * inside the search, so a window-killed parse backs off to a
    * shorter one); SKIP PAST LAST ROW. Parse ends are enumerated
    * lazily, so no state is shared with the Machine's walk.
    */
  private def bruteContig(rows: IndexedSeq[(Long, Long, String)],
      pat: IndexedSeq[Cep.Step], win: Long): List[(Long, Long, Long)] = {
    def ends(s: Int, p: Int): Iterator[Int] =
      if (s == pat.length) Iterator.single(p)
      else {
        val st = pat(s)
        val (lo, hi) = st.bounds
        val run = rows.drop(p).take(hi).takeWhile(r => st.matches(r._3))
          .length
        val takes =
          if (st.reluctant) (lo to run).iterator
          else (lo to run).reverseIterator
        takes.flatMap(t => ends(s + 1, p + t))
      }
    val out = scala.collection.mutable.ListBuffer.empty[(Long, Long, Long)]
    var i = 0
    while (i < rows.length) {
      ends(0, i).find(e => rows(e - 1)._1 - rows(i)._1 <= win) match {
        case Some(e) =>
          out += ((rows(i)._2, rows(e - 1)._2, (e - i).toLong))
          i = e
        case None => i += 1
      }
    }
    out.toList
  }

  /** Symbol-only contiguous patterns that the closure class excludes:
    * a two-symbol alphabet with one forced adjacent duplicate (A A,
    * A+ A, A? A+), quantifiers on any step including the last, and
    * reluctant steps.
    */
  private val genDupPattern: Gen[IndexedSeq[Cep.Step]] = for {
    n <- Gen.chooseNum(1, 4)
    syms0 <- Gen.listOfN(n, Gen.oneOf("a", "b"))
    dupAt <- Gen.chooseNum(1, 3)
    plusFlags <- Gen.listOfN(n, Gen.prob(0.5))
    optFlags <- Gen.listOfN(n, Gen.prob(0.3))
    relFlags <- Gen.listOfN(n, Gen.prob(0.35))
    repFlags <- Gen.listOfN(n, Gen.prob(0.2))
    repLos <- Gen.listOfN(n, Gen.chooseNum(0, 2))
    repSpans <- Gen.listOfN(n, Gen.chooseNum(0, 2))
  } yield {
    val syms =
      if (dupAt < n) syms0.updated(dupAt, syms0(dupAt - 1)) else syms0
    (0 until n).map { i =>
      val withRep = repFlags(i)
      val lo = if (i == 0) math.max(1, repLos(i)) else repLos(i)
      Cep.Step(syms(i),
        plus = !withRep && plusFlags(i),
        opt = !withRep && optFlags(i) && i > 0,
        rep = if (withRep) Some((lo, math.max(1, lo + repSpans(i))))
          else None,
        reluctant = relFlags(i))
    }.toIndexedSeq
  }

  private val genDupRows: Gen[IndexedSeq[(Long, Long, String)]] = for {
    n <- Gen.chooseNum(0, 40)
    syms <- Gen.listOfN(n, Gen.frequency(3 -> "a", 2 -> "b", 1 -> "x"))
    gaps <- Gen.listOfN(n, Gen.chooseNum(1L, 50L))
  } yield gaps.scanLeft(0L)(_ + _).tail.zip(syms).zipWithIndex.map {
    case ((t, s), i) => (t, i.toLong, s)
  }.toIndexedSeq

  property("contiguous non-closure patterns: feed+flush == preference-order brute") =
    forAll(genDupPattern, genDupRows, Gen.chooseNum(5L, 2000L)) {
      (pat, rows, win) =>
      // shrink guard: the machine's own structural requires
      val ok = pat.nonEmpty && pat.head.bounds._1 >= 1 &&
        pat.forall(st => st.rep.forall { case (lo, hi) =>
          !st.plus && !st.opt && 0 <= lo && lo <= hi && hi >= 1 })
      !ok || {
        val m = new Cep.Machine(pat, win)
        val got = (rows.flatMap { case (ts, id, tpe) =>
          m.feedM(ts, id, tpe, 0L) } ++ m.flush())
          .map { case (c, _) => (c.start_event_id, c.end_event_id, c.n_rows) }
          .toList
        got == bruteContig(rows, pat, win)
      }
    }

  /** Brute twin with MEASURES and all four after-match strategies: at
    * each start, the same maximal-greed walk, but recording each
    * step's (cnt, value sum, first/last id); on success the next start
    * index follows the strategy — past the last row, start + 1, or
    * the chosen step's first/last consumed row. Shares no code with
    * the Machine.
    */
  private type BruteAgg =
    (Long, Long, Option[Long], Option[Long], Option[Long], Option[Long])

  private def bruteMeasured(rows: IndexedSeq[(Long, Long, String, Long)],
      pat: IndexedSeq[Cep.Step], windowUs: Long, after: Cep.AfterMatch)
      : List[(Long, Long, List[BruteAgg])] = {
    val out = scala.collection.mutable.ListBuffer
      .empty[(Long, Long, List[BruteAgg])]
    var i = 0
    while (i < rows.length) {
      var j = i
      var ok = true
      val spans = scala.collection.mutable.ListBuffer.empty[(Int, Int)]
      pat.foreach { st =>
        if (ok) {
          val (lo, hi) = st.bounds
          var c = 0
          val off = j
          while (j < rows.length && c < hi && st.matches(rows(j)._3)) {
            j += 1; c += 1
          }
          if (c < lo) ok = false else spans += ((off, c))
        }
      }
      if (ok && rows(j - 1)._1 - rows(i)._1 <= windowUs) {
        val aggs: List[BruteAgg] = spans.toList.map { case (off, c) =>
          if (c == 0) (0L, 0L, None, None, None, None)
          else {
            val slice = rows.slice(off, off + c)
            (c.toLong, slice.map(_._4).sum,
              Some(slice.map(_._4).min): Option[Long],
              Some(slice.map(_._4).max): Option[Long],
              Some(slice.head._2): Option[Long],
              Some(slice.last._2): Option[Long])
          }
        }
        out += ((rows(i)._2, rows(j - 1)._2, aggs))
        val sp = spans.toIndexedSeq
        i = after match {
          case Cep.SkipPastLast   => j
          case Cep.SkipToNextRow  => i + 1
          case Cep.SkipToFirst(k) => sp(k)._1
          case Cep.SkipToLast(k)  => sp(k)._1 + sp(k)._2 - 1
        }
      } else i += 1
    }
    out.toList
  }

  private val genValuedRows: Gen[IndexedSeq[(Long, Long, String, Long)]] =
    for {
      rows <- genRows
      vals <- Gen.listOfN(rows.length, Gen.chooseNum(-99L, 99L))
    } yield rows.zip(vals).map { case ((t, i, s), v) => (t, i, s, v) }

  /** A strategy valid for the pattern: FIRST/LAST only target required
    * CONSUMING steps at index >= 1 (validateAfter's rule); falls back
    * to the two always-valid strategies when no step is eligible.
    */
  private def genAfter(pat: IndexedSeq[Cep.Step]): Gen[Cep.AfterMatch] = {
    val eligible = (1 until pat.length)
      .filter(i => pat(i).bounds._1 >= 1 && !pat(i).neg)
    val base: List[Gen[Cep.AfterMatch]] =
      List(Gen.const(Cep.SkipPastLast), Gen.const(Cep.SkipToNextRow))
    val targeted: List[Gen[Cep.AfterMatch]] =
      if (eligible.isEmpty) Nil
      else List(
        Gen.oneOf(eligible).map(Cep.SkipToFirst(_): Cep.AfterMatch),
        Gen.oneOf(eligible).map(Cep.SkipToLast(_): Cep.AfterMatch))
    Gen.oneOf(base ++ targeted).flatMap(identity)
  }

  property("machine MEASURES == brute per-step aggregates (all 4 strategies)") =
    forAll(genValuedRows, genPattern, Gen.chooseNum(5L, 2000L)) {
      (rows, pat, win) =>
      if (!validPat(pat)) Prop.passed
      else forAll(genAfter(pat)) { after =>
        val m = new Cep.Machine(pat, win, after)
        val got = rows.flatMap { case (ts, id, tpe, vc) =>
          m.feedM(ts, id, tpe, vc)
        }.map { case (c, aggs) =>
          (c.start_event_id, c.end_event_id,
            aggs.map(a => (a.cnt, a.sum_value_c,
              a.min_value_c, a.max_value_c,
              a.first_event_id, a.last_event_id)))
        }.toList
        got == bruteMeasured(rows, pat, win, after)
      }
    }

  property("SKIP TO NEXT ROW == brute overlapping selection") =
    forAll(genPattern, genRows, Gen.chooseNum(5L, 2000L)) { (pat, rows, win) =>
      !validPat(pat) || {
        val m = new Cep.Machine(pat, win, Cep.SkipToNextRow)
        val got = rows.flatMap { case (ts, id, tpe) =>
          m.feedM(ts, id, tpe, 0L)
        }.map(p => (p._1.start_event_id, p._1.end_event_id)).toList
        got.sorted == bruteMeasured(
          rows.map(r => (r._1, r._2, r._3, 0L)), pat, win,
          Cep.SkipToNextRow).map(t => (t._1, t._2)).sorted
      }
    }

  /** RELAXED-CONTIGUITY brute: One-step patterns, each step takes the
    * EARLIEST matching row after the previous step's (rows between are
    * skipped); starts tried left to right, resume per strategy over
    * the consumed rows' absolute positions. Independent of the
    * Machine's subsequence walk.
    */
  private def bruteSubseq(rows: IndexedSeq[(Long, Long, String)],
      pat: IndexedSeq[Cep.Step], windowUs: Long, after: Cep.AfterMatch)
      : List[(Long, Long)] = {
    val out = scala.collection.mutable.ListBuffer.empty[(Long, Long)]
    var i = 0
    while (i < rows.length) {
      if (!pat(0).matches(rows(i)._3)) i += 1
      else {
        val taken = scala.collection.mutable.ArrayBuffer.empty[Int]
        var j = i
        var ok = true
        pat.foreach { st =>
          if (ok) {
            while (j < rows.length && !st.matches(rows(j)._3)) j += 1
            if (j >= rows.length) ok = false
            else { taken += j; j += 1 }
          }
        }
        if (ok && rows(taken.last)._1 - rows(taken.head)._1 <= windowUs) {
          out += ((rows(taken.head)._2, rows(taken.last)._2))
          i = after match {
            case Cep.SkipPastLast   => taken.last + 1
            case Cep.SkipToNextRow  => taken.head + 1
            case Cep.SkipToFirst(k) => taken(k)
            case Cep.SkipToLast(k)  => taken(k)
          }
        } else i += 1
      }
    }
    out.toList
  }

  /** One-step patterns for the relaxed mode: repeated symbols allowed
    * (A B A, even A A), occasional alternation sets.
    */
  private val genSubseqPattern: Gen[IndexedSeq[Cep.Step]] = for {
    n <- Gen.chooseNum(1, 4)
    syms <- Gen.listOfN(n, Gen.oneOf("a", "b", "c"))
    altFlags <- Gen.listOfN(n, Gen.prob(0.3))
    altSyms <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d"))
  } yield syms.zipWithIndex.map { case (s, i) =>
    Cep.Step(s, plus = false,
      alt = if (altFlags(i) && altSyms(i) != s) Set(altSyms(i))
        else Set.empty)
  }.toIndexedSeq

  property("followedBy machine == brute subsequence (all 4 strategies)") =
    forAll(genSubseqPattern, genRows, Gen.chooseNum(5L, 2000L)) {
      (pat, rows, win) =>
      forAll(genAfter(pat)) { after =>
        val m = new Cep.Machine(pat, win, after, contiguous = false)
        val got = rows.flatMap { case (ts, id, tpe) =>
          m.feedM(ts, id, tpe, 0L)
        }.map(p => (p._1.start_event_id, p._1.end_event_id)).toList
        got == bruteSubseq(rows, pat, win, after)
      }
    }
  /** Patterns WITHOUT the closure repair — the backtracking class
    * (A A, A+ B? A, intersecting adjacent sets all allowed), with
    * DEFINE predicates (PREV comparisons, steps >= 1) and, since the
    * last-One lift, trailing quantified steps. Only the strategy-
    * independent requirements hold: required predicate-free first
    * step, sane rep bounds.
    */
  private val genAnyPattern: Gen[IndexedSeq[Cep.Step]] = for {
    n <- Gen.chooseNum(1, 4)
    syms <- Gen.listOfN(n, Gen.oneOf("a", "b", "c"))
    plusFlags <- Gen.listOfN(n, Gen.oneOf(true, false))
    optFlags <- Gen.listOfN(n, Gen.prob(0.3))
    altFlags <- Gen.listOfN(n, Gen.prob(0.3))
    altSyms <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d"))
    repFlags <- Gen.listOfN(n, Gen.prob(0.25))
    repLos <- Gen.listOfN(n, Gen.chooseNum(0, 2))
    repSpans <- Gen.listOfN(n, Gen.chooseNum(0, 2))
    cmpFlags <- Gen.listOfN(n, Gen.prob(0.35))
    cmpKinds <- Gen.listOfN(n, Gen.oneOf[Cep.PrevCmp](Cep.PrevLt,
      Cep.PrevGt, Cep.PrevLe, Cep.PrevGe))
    relFlags <- Gen.listOfN(n, Gen.prob(0.35))
    lastQuant <- Gen.prob(0.4)
  } yield (0 until n).map { i =>
    val first = i == 0
    val last = i == n - 1
    val quantOk = !last || lastQuant
    val withRep = repFlags(i) && quantOk
    Cep.Step(syms(i),
      plus = !withRep && plusFlags(i) && quantOk,
      opt = !withRep && optFlags(i) && !first && quantOk,
      alt = if (altFlags(i) && altSyms(i) != syms(i)) Set(altSyms(i))
        else Set.empty,
      rep = if (withRep) {
        val lo = math.max(if (first) 1 else 0, repLos(i))
        Some((lo, math.max(1, lo + repSpans(i))))
      } else None,
      cmp = if (cmpFlags(i) && !first) Some(cmpKinds(i)) else None,
      reluctant = relFlags(i))
  }.toIndexedSeq

  /** Per-row composite symbol (type, direction-vs-physical-prev): a
    * DEFINE predicate is row-local given the previous row, so a step's
    * match set lifts to a CHARACTER CLASS over composites — which lets
    * java.util.regex stay the independent reference even for
    * predicated patterns.
    */
  private val compositeSyms = "abcdx!"

  private def compositeStr(rows: IndexedSeq[(Long, Long, String, Long)])
      : String =
    rows.indices.map { q =>
      val dir =
        if (q == 0) 0
        else {
          val d = java.lang.Long.compare(rows(q)._4, rows(q - 1)._4)
          if (d < 0) 1 else if (d > 0) 2 else 3
        }
      val si = math.max(0, compositeSyms.indexOf(rows(q)._3.charAt(0)))
      ('A' + si * 4 + dir).toChar
    }.mkString

  private def stepClass(st: Cep.Step): String = {
    val chars = for {
      si <- 0 until compositeSyms.length
      dir <- 0 to 3
      if st.matches(compositeSyms(si).toString)
      if st.cmp.forall {
        case Cep.PrevLt => dir == 1
        case Cep.PrevGt => dir == 2
        case Cep.PrevLe => dir == 1 || dir == 3
        case Cep.PrevGe => dir == 2 || dir == 3
      }
    } yield ('A' + si * 4 + dir).toChar
    "[" + chars.mkString + "]"
  }

  /** java.util.regex IS a backtracking-greedy matcher — the fully
    * independent reference for the backtracking class (window-free;
    * the windowed twin below uses the DFS brute). Each step compiles
    * to a capturing group over its composite-symbol class with a
    * greedy quantifier; starts are scanned left to right with an
    * anchored lookingAt; strategy resume indices come from the group
    * spans.
    */
  private def regexRef(rows: IndexedSeq[(Long, Long, String, Long)],
      pat: IndexedSeq[Cep.Step], after: Cep.AfterMatch)
      : List[(Long, Long)] = {
    val str = compositeStr(rows)
    val rx = pat.map { st =>
      if (st.neg)
        // zero-width negation → regex NEGATIVE LOOKAHEAD, wrapped in a
        // group so strategy group indices stay aligned (it captures
        // the empty string at the assertion position; lookahead at
        // end-of-string succeeds — exactly the flush-confirmed pass)
        "((?!" + stepClass(st) + "))"
      else {
        val (lo, hi) = st.bounds
        val base =
          if (lo == 1 && hi == 1) ""
          else if (hi == Int.MaxValue) {
            if (lo == 1) "+" else if (lo == 0) "*" else s"{$lo,}"
          }
          else if (lo == 0 && hi == 1) "?"
          else s"{$lo,$hi}"
        // reluctant flips the quantifier lazy — regex's own `+?` family
        val q = if (st.reluctant && base.nonEmpty) base + "?" else base
        "(" + stepClass(st) + q + ")"
      }
    }.mkString
    val m = java.util.regex.Pattern.compile(rx).matcher(str)
    val out = scala.collection.mutable.ListBuffer.empty[(Long, Long)]
    var i = 0
    while (i < str.length) {
      m.region(i, str.length)
      if (m.lookingAt()) {
        out += ((rows(i)._2, rows(m.end() - 1)._2))
        i = after match {
          case Cep.SkipPastLast   => m.end()
          case Cep.SkipToNextRow  => i + 1
          case Cep.SkipToFirst(k) => m.start(k + 1)
          case Cep.SkipToLast(k)  => m.end(k + 1) - 1
        }
      } else i += 1
    }
    out.toList
  }

  /** Windowed DFS twin: at each start, the first WINDOW-VALID parse in
    * longest-take-first (greedy) order — the within()-pruned-branches
    * semantics — over the global row sequence, predicates evaluated
    * against the physical previous row.
    */
  private def bruteBacktrack(rows: IndexedSeq[(Long, Long, String, Long)],
      pat: IndexedSeq[Cep.Step], win: Long, after: Cep.AfterMatch)
      : List[(Long, Long)] = {
    val n = rows.length
    def parse(i: Int): Option[IndexedSeq[(Int, Int)]] = {
      val spans = Array.fill(pat.length)((0, 0))
      // PREV is MATCH-SCOPED (the machine's documented contract): a
      // k-back position falling before the match's first row (< i)
      // evaluates as NULL — the cmp row never matches there. CROSS
      // references read the current path's spans (set before each
      // recursion): a zero-take referenced span is NULL (no match).
      def rowOk(st: Cep.Step, q: Int): Boolean =
        st.matchesRow(rows(q)._3, rows(q)._4,
          if (q - st.cmpOff >= i) Some(rows(q - st.cmpOff)._4) else None) &&
        st.cross.forall { cr =>
          val (off, len) = spans(cr.step)
          len > 0 && {
            val rv = rows(if (cr.first) off else off + len - 1)._4
            cr.cmp match {
              case Cep.PrevLt => rows(q)._4 < rv
              case Cep.PrevGt => rows(q)._4 > rv
              case Cep.PrevLe => rows(q)._4 <= rv
              case Cep.PrevGe => rows(q)._4 >= rv
            }
          }
        }
      def go(s: Int, p: Int): Boolean = {
        if (s == pat.length) return rows(p - 1)._1 - rows(i)._1 <= win
        if (pat(s).neg) {
          // zero-width notNext in the END-OF-INPUT view (feed+flush):
          // the next row — if inside the window horizon — must not
          // match; past the horizon or absent it is a pass
          val ok =
            if (p < n)
              rows(p)._1 > rows(i)._1 + win || !pat(s).matches(rows(p)._3)
            else true
          if (!ok) return false
          spans(s) = (p, 0)
          if (go(s + 1, p)) return true
          return false
        }
        val (lo, hi) = pat(s).bounds
        var c = 0
        var runSum = 0L
        var scanning = true
        while (scanning && p + c < n && c < hi && rowOk(pat(s), p + c)) {
          pat(s).sumCap match {
            case Some(cap) =>
              if (runSum + rows(p + c)._4 > cap) scanning = false
              else { runSum += rows(p + c)._4; c += 1 }
            case None => c += 1
          }
        }
        // preference order: greedy tries longest first, reluctant
        // shortest first; spans set BEFORE recursing so cross
        // references see the path's takes (success short-circuits,
        // leaving exactly the accepted path's values)
        if (!pat(s).reluctant) {
          var take = c
          while (take >= lo) {
            spans(s) = (p, take)
            if (go(s + 1, p + take)) return true
            take -= 1
          }
        } else {
          var take = lo
          while (take <= c) {
            spans(s) = (p, take)
            if (go(s + 1, p + take)) return true
            take += 1
          }
        }
        false
      }
      if (go(0, i)) Some(spans.toIndexedSeq) else None
    }
    val out = scala.collection.mutable.ListBuffer.empty[(Long, Long)]
    var i = 0
    while (i < n) {
      parse(i) match {
        case Some(sp) =>
          val endIdx = sp.last._1 + sp.last._2 - 1
          out += ((rows(i)._2, rows(endIdx)._2))
          i = after match {
            case Cep.SkipPastLast   => endIdx + 1
            case Cep.SkipToNextRow  => i + 1
            case Cep.SkipToFirst(k) => sp(k)._1
            case Cep.SkipToLast(k)  => sp(k)._1 + sp(k)._2 - 1
          }
        case None => i += 1
      }
    }
    out.toList
  }

  /** The machine only commits a run once a later row proves it can't
    * grow; a trailing sentinel outside every pattern alphabet forces
    * that resolution so end-of-stream pending parses (correct
    * streaming behavior, invisible to the batch references) don't
    * diverge the comparison.
    */
  private def feedWithSentinel(m: Cep.Machine,
      rows: IndexedSeq[(Long, Long, String, Long)]): List[(Long, Long)] = {
    val fed = rows :+ ((rows.lastOption.map(_._1 + 1).getOrElse(1L),
      -1L, "!", 0L))
    fed.flatMap { case (ts, id, tpe, vc) => m.feedM(ts, id, tpe, vc) }
      .map(p => (p._1.start_event_id, p._1.end_event_id)).toList
  }

  property("backtracking machine == java regex greedy (all strategies)") =
    forAll(genAnyPattern, genValuedRows) { (pat, rows) =>
      forAll(genAfter(pat)) { after =>
        val m = new Cep.Machine(pat, Long.MaxValue / 4, after)
        feedWithSentinel(m, rows) == regexRef(rows, pat, after)
      }
    }

  property("backtracking machine == windowed DFS brute (all strategies)") =
    forAll(genAnyPattern, genValuedRows, Gen.chooseNum(5L, 2000L)) {
      (pat, rows, win) =>
      forAll(genAfter(pat)) { after =>
        val m = new Cep.Machine(pat, win, after)
        feedWithSentinel(m, rows) == bruteBacktrack(rows, pat, win, after)
      }
    }

  /** The BATCH end-of-input contract (r13): feed the rows then flush()
    * — no resolving sentinel — and the result must STILL equal the
    * batch references, because SQL MATCH_RECOGNIZE finite input
    * resolves trailing greed at end of partition exactly as a bounding
    * row would. (The streaming processor never flushes; its pending
    * contract is pinned by the sentinel-free StreamingSpec goldens.)
    */
  private def feedWithFlush(m: Cep.Machine,
      rows: IndexedSeq[(Long, Long, String, Long)]): List[(Long, Long)] =
    (rows.flatMap { case (ts, id, tpe, vc) => m.feedM(ts, id, tpe, vc) }
      ++ m.flush())
      .map(p => (p._1.start_event_id, p._1.end_event_id)).toList

  property("feed+flush == java regex greedy (end-of-input resolves greed)") =
    forAll(genAnyPattern, genValuedRows) { (pat, rows) =>
      forAll(genAfter(pat)) { after =>
        val m = new Cep.Machine(pat, Long.MaxValue / 4, after)
        feedWithFlush(m, rows) == regexRef(rows, pat, after)
      }
    }

  property("feed+flush == windowed DFS brute (all strategies)") =
    forAll(genAnyPattern, genValuedRows, Gen.chooseNum(5L, 2000L)) {
      (pat, rows, win) =>
      forAll(genAfter(pat)) { after =>
        val m = new Cep.Machine(pat, win, after)
        feedWithFlush(m, rows) == bruteBacktrack(rows, pat, win, after)
      }
    }

  /** genAnyPattern with a zero-width NEGATION step injected at a
    * random interior-or-trailing position, plus occasional PREV(k)
    * offsets and running-sum caps on the consuming steps — the r13
    * contiguous extensions. validateCommon's neg rules hold by
    * construction (one neg, never first, pure symbol assertion).
    */
  private val genNegPattern: Gen[IndexedSeq[Cep.Step]] = for {
    base <- genAnyPattern
    at <- Gen.chooseNum(1, base.length)
    negSym <- Gen.oneOf("a", "b", "c", "d")
    negAlt <- Gen.prob(0.3)
    negAltSym <- Gen.oneOf("a", "b", "c", "d")
    offs <- Gen.listOfN(base.length, Gen.chooseNum(1, 3))
    capFlags <- Gen.listOfN(base.length, Gen.prob(0.25))
    caps <- Gen.listOfN(base.length, Gen.chooseNum(-50L, 150L))
  } yield {
    val tuned = base.zipWithIndex.map { case (st, i) =>
      st.copy(
        cmpOff = if (st.cmp.isDefined) offs(i) else 1,
        sumCap = if (capFlags(i) && !st.any) Some(caps(i)) else None)
    }
    val neg = Cep.Step(negSym, neg = true,
      alt = if (negAlt && negAltSym != negSym) Set(negAltSym) else Set.empty)
    (tuned.take(at) :+ neg) ++ tuned.drop(at)
  }

  /** Shrink guard for the negation/extension properties: shrinkers
    * mutate args without regard for generator invariants, so re-check
    * the machine's structural requires and pass vacuously outside them
    * (same pattern as validPat above).
    */
  private def validNegPat(pat: IndexedSeq[Cep.Step]): Boolean =
    pat.nonEmpty &&
      pat.head.bounds._1 >= 1 && !pat.head.neg && pat.head.cmp.isEmpty &&
      pat.forall(st => st.cmpOff >= 1 &&
        st.rep.forall { case (lo, hi) =>
          !st.plus && !st.opt && 0 <= lo && lo <= hi && hi >= 1 }) &&
      pat.indices.forall { i =>
        val st = pat(i)
        !st.neg || (!st.plus && !st.opt && st.rep.isEmpty &&
          !st.reluctant && st.cmp.isEmpty && st.sumCap.isEmpty &&
          !st.any && i > 0 && !pat(i - 1).neg)
      }

  /** Negation as regex NEGATIVE LOOKAHEAD — window-free so the regex
    * view is exact (the horizon-expiry pass branch needs the windowed
    * brute below); sum caps stripped (regex cannot express running
    * aggregates) and PREV offsets reset (the composite encoding
    * carries direction-vs-previous only).
    */
  property("contiguous negation: feed+flush == negative-lookahead regex") =
    forAll(genNegPattern, genValuedRows) { (pat0, rows) =>
      val pat = pat0.map(st => st.copy(sumCap = None,
        cmpOff = if (st.cmp.isDefined) 1 else st.cmpOff))
      forAll(genAfter(pat)) { after =>
        // Boolean guard INSIDE the closure: `bool || Prop` lifts to
        // Prop.|| which evaluates BOTH sides — no short-circuit
        !validNegPat(pat) || {
          val m = new Cep.Machine(pat, Long.MaxValue / 4, after)
          feedWithFlush(m, rows) == regexRef(rows, pat, after)
        }
      }
    }

  property("negation + PREV(k) + SUM cap == windowed DFS brute") =
    forAll(genNegPattern, genValuedRows, Gen.chooseNum(5L, 2000L)) {
      (pat, rows, win) =>
      forAll(genAfter(pat)) { after =>
        !validNegPat(pat) || {
          val m = new Cep.Machine(pat, win, after)
          feedWithFlush(m, rows) == bruteBacktrack(rows, pat, win, after)
        }
      }
    }

  /** genAnyPattern with CROSS-VARIABLE references injected: each step
    * past the first gets, with some probability, a FIRST/LAST
    * navigation into a strictly earlier step (r15's DEFINE class).
    * The earlier step may be optional or zero-take — exercising the
    * NULL-navigation branch — and the references compose with PREV
    * offsets, sum caps, reluctant bias, and repeats.
    */
  private val genCrossPattern: Gen[IndexedSeq[Cep.Step]] = for {
    base <- genAnyPattern
    crossFlags <- Gen.listOfN(base.length, Gen.prob(0.5))
    refs <- Gen.listOfN(base.length, Gen.chooseNum(0, 8))
    firsts <- Gen.listOfN(base.length, Gen.oneOf(true, false))
    kinds <- Gen.listOfN(base.length, Gen.oneOf[Cep.PrevCmp](Cep.PrevLt,
      Cep.PrevGt, Cep.PrevLe, Cep.PrevGe))
  } yield base.zipWithIndex.map { case (st, i) =>
    if (i >= 1 && crossFlags(i))
      st.copy(cross = List(Cep.CrossRef(refs(i) % i, firsts(i), kinds(i))))
    else st
  }

  /** Shrink guard for the cross properties (shrinkers ignore generator
    * invariants): the base structural rules plus the cross ordering
    * rules the machine requires.
    */
  private def validCrossPat(pat: IndexedSeq[Cep.Step]): Boolean =
    validNegPat(pat) && pat.zipWithIndex.forall { case (st, i) =>
      st.cross.forall(cr =>
        cr.step >= 0 && cr.step < i && !pat(cr.step).neg)
    }

  property("cross-variable DEFINE: feed+sentinel == windowed DFS brute") =
    forAll(genCrossPattern, genValuedRows, Gen.chooseNum(5L, 2000L)) {
      (pat, rows, win) =>
      forAll(genAfter(pat)) { after =>
        !validCrossPat(pat) || {
          val m = new Cep.Machine(pat, win, after)
          feedWithSentinel(m, rows) == bruteBacktrack(rows, pat, win, after)
        }
      }
    }

  property("cross-variable DEFINE: feed+flush == windowed DFS brute") =
    forAll(genCrossPattern, genValuedRows, Gen.chooseNum(5L, 2000L)) {
      (pat, rows, win) =>
      forAll(genAfter(pat)) { after =>
        !validCrossPat(pat) || {
          val m = new Cep.Machine(pat, win, after)
          feedWithFlush(m, rows) == bruteBacktrack(rows, pat, win, after)
        }
      }
    }

  /** SUBSEQUENCE DFS brute for the GENERALIZED relaxed walk: per
    * candidate start (a step-0-matching row, leftmost first) parse in
    * the END-OF-INPUT view — quantified takes over subsequences of
    * matching rows capped at the window horizon, greedy longest-first
    * (reluctant shortest-first), gap-negation killing a branch whose
    * watched gap holds a matching row, trailing negation passing iff
    * no matching row sits inside the horizon. Structurally independent
    * of the Machine (global-index recursion over the full row
    * sequence vs the incremental shared-buffer walk).
    */
  private def bruteRelaxedQ(rows: IndexedSeq[(Long, Long, String, Long)],
      pat: IndexedSeq[Cep.Step], win: Long, after: Cep.AfterMatch)
      : List[(Long, Long)] = {
    val n = rows.length
    def parse(i: Int): Option[IndexedSeq[List[Int]]] = {
      val horizon = rows(i)._1 + win
      val taken = Array.fill(pat.length)(List.empty[Int])
      def go(s: Int, p: Int, negWatch: Set[String]): Boolean = {
        if (s == pat.length) return rows(p - 1)._1 - rows(i)._1 <= win
        val st = pat(s)
        if (st.neg) {
          if (s == pat.length - 1) {
            if (rows(p - 1)._1 - rows(i)._1 > win) return false
            var q = p
            while (q < n && rows(q)._1 <= horizon) {
              if (st.matches(rows(q)._3)) return false
              q += 1
            }
            true
          } else go(s + 1, p, st.syms)
        } else {
          val (lo, hi) = st.bounds
          // r16: cross refs read the CURRENT path's earlier takes
          // (recorded before each recursion below) — a row matching the
          // symbol but failing the predicate is a skippable
          // non-matching row, mirroring the machine's reading
          def crossOk(q: Int): Boolean =
            st.cross.forall { cr =>
              val tk = taken(cr.step)
              tk.nonEmpty && Cep.cmpHolds(cr.cmp, rows(q)._4,
                rows(if (cr.first) tk.head else tk.last)._4)
            }
          val pos = scala.collection.mutable.ArrayBuffer.empty[Int]
          var q = p
          var killed = false
          while (q < n && pos.length < hi && !killed &&
              rows(q)._1 <= horizon) {
            val tpe = rows(q)._3
            if (st.matches(tpe) && crossOk(q)) pos += q
            else if (pos.isEmpty && negWatch.contains(tpe)) killed = true
            q += 1
          }
          if (killed) return false
          def rec(take: Int): Boolean = {
            taken(s) = pos.take(take).toList
            go(s + 1, if (take > 0) pos(take - 1) + 1 else p, Set.empty)
          }
          val takes =
            if (st.reluctant) (lo to pos.length).iterator
            else (lo to pos.length).reverseIterator
          takes.exists(rec)
        }
      }
      if (go(0, i, Set.empty)) Some(taken.toIndexedSeq) else None
    }
    val out = scala.collection.mutable.ListBuffer.empty[(Long, Long)]
    var i = 0
    while (i < n) {
      if (!pat(0).matches(rows(i)._3)) i += 1
      else parse(i) match {
        case Some(tk) =>
          val cons = tk.filter(_.nonEmpty)
          val startIdx = tk(0).head
          val endIdx = cons.last.last
          out += ((rows(startIdx)._2, rows(endIdx)._2))
          i = after match {
            case Cep.SkipPastLast   => endIdx + 1
            case Cep.SkipToNextRow  => startIdx + 1
            case Cep.SkipToFirst(k) => tk(k).head
            case Cep.SkipToLast(k)  => tk(k).last
          }
        case None => i += 1
      }
    }
    out.toList
  }

  /** Relaxed patterns with quantifiers and negations: symbol steps
    * (no cmp/any — the relaxed validateCommon contract), step 0 required
    * consuming, one optional negation at an interior-before-required
    * or trailing position, and (r16) one optional cross-variable
    * FIRST/LAST reference from a later step to an earlier consuming
    * one — the path-dependent navigation the relaxed walk's
    * memoOk gate and before-recursion take recording exist for.
    */
  private val genRelaxedQPattern: Gen[IndexedSeq[Cep.Step]] = for {
    n <- Gen.chooseNum(1, 4)
    syms <- Gen.listOfN(n, Gen.oneOf("a", "b", "c"))
    plusFlags <- Gen.listOfN(n, Gen.oneOf(true, false))
    optFlags <- Gen.listOfN(n, Gen.prob(0.3))
    relFlags <- Gen.listOfN(n, Gen.prob(0.35))
    altFlags <- Gen.listOfN(n, Gen.prob(0.3))
    altSyms <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d"))
    withNeg <- Gen.prob(0.6)
    negSym <- Gen.oneOf("a", "b", "c", "d")
    negAt <- Gen.chooseNum(1, n)
    withCross <- Gen.prob(0.45)
    crossAt <- Gen.chooseNum(1, math.max(1, n - 1))
    crossFirst <- Gen.oneOf(true, false)
    crossCmp <- Gen.oneOf(Cep.PrevLt, Cep.PrevGt, Cep.PrevLe, Cep.PrevGe)
  } yield {
    val base0 = (0 until n).map { i =>
      Cep.Step(syms(i),
        plus = plusFlags(i),
        opt = optFlags(i) && i > 0,
        alt = if (altFlags(i) && altSyms(i) != syms(i)) Set(altSyms(i))
          else Set.empty,
        reluctant = relFlags(i))
    }
    // cross ref BEFORE the neg insertion (indices stay step indices of
    // consuming steps; the neg shifts flat indices, so resolve after)
    val base =
      if (!withCross || n < 2) base0
      else {
        val at = math.min(crossAt, n - 1)
        val tgt = at - 1 // strictly earlier consuming step
        base0.updated(at, base0(at).copy(cross =
          List(Cep.CrossRef(tgt, crossFirst, crossCmp))))
      }
    if (!withNeg) base
    else {
      val neg = Cep.Step(negSym, neg = true)
      // a relaxed negation must precede a REQUIRED step (or trail):
      // slide the insertion point right past optional successors
      var at = negAt
      while (at < base.length && base(at).bounds._1 == 0) at += 1
      val withNegPat = (base.take(at) :+ neg) ++ base.drop(at)
      // the neg shifts flat indices: re-point cross refs at or past it
      withNegPat.zipWithIndex.map { case (st, i) =>
        if (st.cross.isEmpty) st
        else st.copy(cross = st.cross.map { cr =>
          if (cr.step >= at && i > at) cr.copy(step = cr.step + 1) else cr
        })
      }
    }
  }

  /** Shrink guard mirroring the relaxed validateCommon + validateNeg. */
  private def validRelaxedQPat(pat: IndexedSeq[Cep.Step]): Boolean =
    pat.nonEmpty &&
      pat.head.bounds._1 >= 1 && !pat.head.neg &&
      pat.forall(st => st.cmp.isEmpty && !st.any && st.sumCap.isEmpty &&
        st.rep.forall { case (lo, hi) =>
          !st.plus && !st.opt && 0 <= lo && lo <= hi && hi >= 1 }) &&
      pat.indices.forall { i =>
        val st = pat(i)
        (!st.neg || (!st.plus && !st.opt && st.rep.isEmpty &&
          !st.reluctant && i > 0 && !pat(i - 1).neg &&
          (i == pat.length - 1 || pat(i + 1).bounds._1 >= 1))) &&
        st.cross.forall(cr =>
          cr.step >= 0 && cr.step < i && !pat(cr.step).neg)
      }

  property("relaxed quantified/negation: feed+flush == subsequence DFS brute") =
    forAll(genRelaxedQPattern, genValuedRows, Gen.chooseNum(5L, 2000L)) {
      (pat, rows, win) =>
      forAll(genAfter(pat)) { after =>
        !validRelaxedQPat(pat) || {
          val m = new Cep.Machine(pat, win, after, contiguous = false)
          feedWithFlush(m, rows) == bruteRelaxedQ(rows, pat, win, after)
        }
      }
    }


  // ------------------------------------------------ group quantifiers

  private def quantStr(lo: Int, hi: Int): String =
    if (lo == 1 && hi == 1) ""
    else if (hi == Int.MaxValue) {
      if (lo == 1) "+" else if (lo == 0) "*" else s"{$lo,}"
    }
    else if (lo == 0 && hi == 1) "?"
    else s"{$lo,$hi}"

  /** GPat → java regex over the composite alphabet — non-capturing
    * groups make java.util.regex the independent reference for
    * quantified SUB-SEQUENCES too (window-free; strategies are the two
    * whole-match ones, so no group spans are needed).
    */
  private def gpatToRegex(p: Cep.GPat): String = p match {
    case Cep.GLf(st) =>
      val (lo, hi) = st.bounds
      val base = quantStr(lo, hi)
      val q = if (st.reluctant && base.nonEmpty) base + "?" else base
      "(?:" + stepClass(st) + ")" + q
    case Cep.GCat(items) => items.map(gpatToRegex).mkString
    case Cep.GRep(b, lo, hi, rel) =>
      val base = quantStr(lo, hi)
      "(?:" + gpatToRegex(b) + ")" +
        (if (rel && base.nonEmpty) base + "?" else base)
    case Cep.GAlt(arms) =>
      "(?:" + arms.map(gpatToRegex).mkString("|") + ")"
  }

  private def regexGroupRef(rows: IndexedSeq[(Long, Long, String, Long)],
      g: Cep.GPat, after: Cep.AfterMatch): List[(Long, Long)] = {
    val str = compositeStr(rows)
    val m = java.util.regex.Pattern.compile(gpatToRegex(g)).matcher(str)
    val out = scala.collection.mutable.ListBuffer.empty[(Long, Long)]
    var i = 0
    while (i < str.length) {
      m.region(i, str.length)
      if (m.lookingAt() && m.end() > i) {
        out += ((rows(i)._2, rows(m.end() - 1)._2))
        i = after match {
          case Cep.SkipPastLast => m.end()
          case _                => i + 1 // SkipToNextRow
        }
      } else i += 1
    }
    out.toList
  }

  /** Windowed TREE-RECURSIVE brute for grouped patterns: continuation-
    * passing parse in the end-of-input view, preference order via ||
    * short-circuit (greedy tries another iteration / the longest leaf
    * take first), PREV match-scoped, window checked at accept.
    * Structurally independent of the compiled split-program machine.
    */
  private def bruteGrouped(rows: IndexedSeq[(Long, Long, String, Long)],
      g: Cep.GPat, win: Long, after: Cep.AfterMatch): List[(Long, Long)] = {
    val n = rows.length
    def parse(i: Int): Option[Int] = {
      def rowOk(st: Cep.Step, q: Int): Boolean =
        st.matchesRow(rows(q)._3, rows(q)._4,
          if (q - st.cmpOff >= i) Some(rows(q - st.cmpOff)._4) else None)
      def mat(node: Cep.GPat, p: Int, k: Int => Boolean): Boolean =
        node match {
          case Cep.GLf(st) =>
            val (lo, hi) = st.bounds
            var c = 0
            var runSum = 0L
            var capped = false
            while (p + c < n && c < hi && !capped && rowOk(st, p + c)) {
              st.sumCap match {
                case Some(cap) =>
                  if (runSum + rows(p + c)._4 > cap) capped = true
                  else { runSum += rows(p + c)._4; c += 1 }
                case None => c += 1
              }
            }
            val takes =
              if (st.reluctant) (lo to c).iterator
              else (lo to c).reverseIterator
            takes.exists(t => k(p + t))
          case Cep.GCat(items) =>
            def seq(xs: List[Cep.GPat], p2: Int): Boolean = xs match {
              case Nil    => k(p2)
              case h :: t => mat(h, p2, pp => seq(t, pp))
            }
            seq(items.toList, p)
          case Cep.GRep(b, lo, hi, rel) =>
            def rep(p2: Int, done: Int): Boolean =
              if (rel)
                (done >= lo && k(p2)) ||
                  (done < hi && mat(b, p2, pp => rep(pp, done + 1)))
              else
                (done < hi && mat(b, p2, pp => rep(pp, done + 1))) ||
                  (done >= lo && k(p2))
            rep(p, 0)
          case Cep.GAlt(arms) =>
            // leftmost arm preferred — || short-circuit IS the bias
            arms.exists(a => mat(a, p, k))
        }
      var best = -1
      val ok = mat(g, i, pEnd =>
        if (pEnd > i && rows(pEnd - 1)._1 - rows(i)._1 <= win) {
          best = pEnd; true
        } else false)
      if (ok) Some(best) else None
    }
    val out = scala.collection.mutable.ListBuffer.empty[(Long, Long)]
    var i = 0
    while (i < n) {
      parse(i) match {
        case Some(pEnd) =>
          out += ((rows(i)._2, rows(pEnd - 1)._2))
          i = after match {
            case Cep.SkipPastLast => pEnd
            case _                => i + 1
          }
        case None => i += 1
      }
    }
    out.toList
  }

  private val genGLeaf: Gen[Cep.GPat] = for {
    s <- Gen.oneOf("a", "b", "c")
    plus <- Gen.prob(0.4)
    opt <- Gen.prob(0.25)
    altF <- Gen.prob(0.3)
    altS <- Gen.oneOf("a", "b", "c", "d")
    cmpF <- Gen.prob(0.25)
    cmpK <- Gen.oneOf[Cep.PrevCmp](Cep.PrevLt, Cep.PrevGt, Cep.PrevLe,
      Cep.PrevGe)
    rel <- Gen.prob(0.3)
  } yield Cep.GLf(Cep.Step(s, plus = plus, opt = opt && !plus,
    alt = if (altF && altS != s) Set(altS) else Set.empty,
    cmp = if (cmpF) Some(cmpK) else None, reluctant = rel))

  private val genGAltArm: Gen[Cep.GPat] = for {
    nb <- Gen.chooseNum(1, 2)
    body <- Gen.listOfN(nb, genGLeaf)
  } yield Cep.GCat(body)

  private val genGroupPat: Gen[Cep.GPat] = for {
    nTop <- Gen.chooseNum(1, 3)
    elems <- Gen.listOfN(nTop, Gen.frequency(
      2 -> genGLeaf,
      2 -> (for {
        nb <- Gen.chooseNum(1, 2)
        body <- Gen.listOfN(nb, genGLeaf)
        lo <- Gen.chooseNum(0, 2)
        span <- Gen.oneOf(0, 1, Int.MaxValue)
        rel <- Gen.prob(0.3)
      } yield Cep.GRep(Cep.GCat(body), lo,
        if (span == Int.MaxValue) Int.MaxValue else math.max(1, lo + span),
        rel)),
      // alternation of sub-sequences, bare or under a repeat
      1 -> (for {
        na <- Gen.chooseNum(2, 3)
        arms <- Gen.listOfN(na, genGAltArm)
        wrap <- Gen.prob(0.5)
        lo <- Gen.chooseNum(0, 1)
        rel <- Gen.prob(0.3)
      } yield
        if (wrap) Cep.GRep(Cep.GAlt(arms), lo, Int.MaxValue, rel)
        else Cep.GAlt(arms))))
  } yield Cep.GCat(elems)

  /** Mirror of validateGrouped as a guard (generator repairs are less
    * readable than pass-vacuously — and shrinkers need the guard
    * anyway).
    */
  private def validG(g: Cep.GPat): Boolean =
    try { Cep.validateGrouped(g); true }
    catch { case _: IllegalArgumentException => false }

  private val genAfter2: Gen[Cep.AfterMatch] =
    Gen.oneOf(Cep.SkipPastLast, Cep.SkipToNextRow)

  property("group quantifiers: feed+flush == grouped regex (window-free)") =
    forAll(genGroupPat, genValuedRows) { (g0, rows) =>
      // regex composites carry direction-vs-physical-prev: exact for
      // cmpOff = 1 off the first set; sum caps are regex-inexpressible
      def strip(p: Cep.GPat): Cep.GPat = p match {
        case Cep.GLf(st) => Cep.GLf(st.copy(sumCap = None, cmpOff = 1))
        case Cep.GCat(items) => Cep.GCat(items.map(strip))
        case Cep.GRep(b, lo, hi, rel) => Cep.GRep(strip(b), lo, hi, rel)
        case Cep.GAlt(arms) => Cep.GAlt(arms.map(strip))
      }
      val g = strip(g0)
      forAll(genAfter2) { after =>
        !validG(g) || {
          val m = new Cep.Machine(Cep.gLeaves(g).toIndexedSeq,
            Long.MaxValue / 4, after, contiguous = true, grouped = Some(g))
          feedWithFlush(m, rows) == regexGroupRef(rows, g, after)
        }
      }
    }

  property("group quantifiers: feed+flush == windowed tree brute") =
    forAll(genGroupPat, genValuedRows, Gen.chooseNum(5L, 2000L)) {
      (g, rows, win) =>
      forAll(genAfter2) { after =>
        !validG(g) || {
          val m = new Cep.Machine(Cep.gLeaves(g).toIndexedSeq, win, after,
            contiguous = true, grouped = Some(g))
          feedWithFlush(m, rows) == bruteGrouped(rows, g, win, after)
        }
      }
    }

  property("matches never overlap and consume contiguous rows") =
    forAll(genPattern, genRows) { (pat, rows) =>
      !validPat(pat) || check(pat, rows)
    }

  private def check(pat: IndexedSeq[Cep.Step],
      rows: IndexedSeq[(Long, Long, String)]): Boolean = {
      val m = new Cep.Machine(pat, Long.MaxValue / 4)
      val got = rows.flatMap { case (ts, id, tpe) => m.feed(ts, id, tpe) }
      val byId = rows.map(r => r._2 -> r).toMap
      got.forall { c =>
        c.start_event_id <= c.end_event_id &&
          c.end_event_id - c.start_event_id + 1 == c.n_rows &&
          pat.head.matches(byId(c.start_event_id)._3) &&
          pat.last.matches(byId(c.end_event_id)._3)
      } && got.map(_.start_event_id).toList ==
        got.map(_.start_event_id).toList.sorted &&
        got.sliding(2).forall {
          case Seq(a, b) => b.start_event_id > a.end_event_id
          case _ => true
        }
    }

  // ---- r14: per-leaf spans (grouped MEASURES / ALL ROWS) ----

  /** feedM + flush with the per-match consumed-rows capture popped
    * 1:1 (the ALL-ROWS fold's contract).
    */
  private def feedMRows(m: Cep.Machine,
      rows: IndexedSeq[(Long, Long, String, Long)])
      : List[(Cep.CepMatch, List[Cep.StepAgg],
        List[(Int, Long, Long, String, Long)])] =
    (rows.flatMap { case (ts, id, tpe, vc) =>
      m.feedM(ts, id, tpe, vc).map { case (c, a) => (c, a, m.popRows()) }
    } ++ m.flush().map { case (c, a) => (c, a, m.popRows()) }).toList

  property("grouped spans partition the match; aggs == fold of " +
      "captured rows (random trees)") =
    forAll(genGroupPat, genValuedRows, Gen.chooseNum(5L, 2000L)) {
      (g0, rows, win) =>
      forAll(genAfter2) { after =>
        // sum caps interact with the take loop, not the span record —
        // keep them (they're span-observable); nothing to strip here
        !validG(g0) || {
          val leaves = Cep.gLeaves(g0).toIndexedSeq
          val m = new Cep.Machine(leaves, win, after,
            contiguous = true, grouped = Some(g0), withRows = true)
          val byId = rows.map(r => r._2 -> r).toMap
          val feedIdx = rows.zipWithIndex.map { case (r, i) => r._2 -> i }
            .toMap
          feedMRows(m, rows).forall { case (c, aggs, rws) =>
            val si = feedIdx(c.start_event_id)
            val ei = feedIdx(c.end_event_id)
            val spanIds = rows.slice(si, ei + 1).map(_._2)
            val capIds = rws.map(_._3).sortBy(feedIdx)
            // contiguous consumption: captured rows are EXACTLY the
            // fed span, each classified by a leaf whose symbol set
            // (or wildcard) admits it, and the per-leaf aggs are the
            // fold of that leaf's captured rows
            capIds == spanIds &&
              rws.forall { case (s, _, id, tpe, _) =>
                leaves(s).matches(tpe) && byId(id)._3 == tpe
              } &&
              aggs.map(_.cnt).sum == c.n_rows &&
              aggs.forall { a =>
                val mine = rws.filter(_._1 == a.step)
                  .sortBy(r => feedIdx(r._3))
                a.cnt == mine.length &&
                  a.sum_value_c == mine.map(_._5).sum &&
                  a.min_value_c == (if (mine.isEmpty) None
                    else Some(mine.map(_._5).min)) &&
                  a.max_value_c == (if (mine.isEmpty) None
                    else Some(mine.map(_._5).max)) &&
                  a.first_event_id == mine.headOption.map(_._3) &&
                  a.last_event_id == mine.lastOption.map(_._3)
              }
          }
        }
      }
    }

  property("flat pattern run as GCat of leaves: matches AND per-step " +
      "MEASURES agree with the flat machine") =
    forAll(genPattern, genValuedRows, Gen.chooseNum(5L, 2000L)) {
      (pat, rows, win) =>
      forAll(genAfter2) { after =>
        val g = Cep.GCat(pat.map(st => Cep.GLf(st)).toList)
        val ok = validPat(pat) && !pat.exists(_.neg) &&
          (try { Cep.validateGrouped(g); true }
          catch { case _: IllegalArgumentException => false })
        !ok || {
          val fm = new Cep.Machine(pat, win, after)
          val gm = new Cep.Machine(pat, win, after,
            contiguous = true, grouped = Some(g))
          val fr = (rows.flatMap { case (ts, id, tpe, vc) =>
            fm.feedM(ts, id, tpe, vc) } ++ fm.flush()).toList
          val gr = (rows.flatMap { case (ts, id, tpe, vc) =>
            gm.feedM(ts, id, tpe, vc) } ++ gm.flush()).toList
          fr.map(_._1) == gr.map(_._1) && fr.map(_._2) == gr.map(_._2)
        }
      }
    }

  // ---- r17: cross-variable DEFINE on grouped patterns ----

  /** Pool-tracking tree brute for GROUPED patterns WITH cross-variable
    * references: continuation-passing parse threading an immutable
    * per-leaf consumed-position pool — a leaf's take extends its pool
    * before the continuation runs, so a later leaf's cross predicate
    * reads the current path's accumulated positions (iterations
    * included), exactly the machine's eager-record semantics but
    * structurally independent of the split-program walk (no program,
    * no memo, no mutable take arrays). Window at accept, leftmost
    * start, SKIP PAST LAST / TO NEXT ROW.
    */
  private def bruteGroupedCross(
      rows: IndexedSeq[(Long, Long, String, Long)],
      g: Cep.GPat, win: Long, after: Cep.AfterMatch): List[(Long, Long)] = {
    val n = rows.length
    sealed trait IG
    final case class ILf(st: Cep.Step, leaf: Int) extends IG
    final case class ICat(items: List[IG]) extends IG
    final case class IRep(b: IG, lo: Int, hi: Int, rel: Boolean) extends IG
    final case class IAlt(arms: List[IG]) extends IG
    // leaf indices in gLeaves preorder (arms flatten sequentially)
    def idx(p: Cep.GPat, base: Int): (IG, Int) = p match {
      case Cep.GLf(st) => (ILf(st, base), base + 1)
      case Cep.GCat(items) =>
        val (out, nb) = items.foldLeft((List.empty[IG], base)) {
          case ((acc, b), it) =>
            val (ig, nb2) = idx(it, b); (acc :+ ig, nb2)
        }
        (ICat(out), nb)
      case Cep.GRep(b, lo, hi, rel) =>
        val (ib, nb) = idx(b, base); (IRep(ib, lo, hi, rel), nb)
      case Cep.GAlt(arms) =>
        val (out, nb) = arms.foldLeft((List.empty[IG], base)) {
          case ((acc, b), a) =>
            val (ia, nb2) = idx(a, b); (acc :+ ia, nb2)
        }
        (IAlt(out), nb)
    }
    val (ig, _) = idx(g, 0)
    type Pools = Map[Int, List[Int]]
    def parse(i: Int): Option[Int] = {
      def rowOk(st: Cep.Step, q: Int, pools: Pools): Boolean =
        st.matchesRow(rows(q)._3, rows(q)._4,
          if (q - st.cmpOff >= i) Some(rows(q - st.cmpOff)._4) else None) &&
          st.cross.forall { cr =>
            val tk = pools.getOrElse(cr.step, Nil)
            tk.nonEmpty && Cep.cmpHolds(cr.cmp, rows(q)._4,
              rows(if (cr.first) tk.head else tk.last)._4)
          }
      def mat(node: IG, p: Int, pools: Pools,
          k: (Int, Pools) => Boolean): Boolean = node match {
        case ILf(st, leaf) =>
          val (lo, hi) = st.bounds
          var c = 0
          var runSum = 0L
          var capped = false
          while (p + c < n && c < hi && !capped &&
              rowOk(st, p + c, pools)) {
            st.sumCap match {
              case Some(cap) =>
                if (runSum + rows(p + c)._4 > cap) capped = true
                else { runSum += rows(p + c)._4; c += 1 }
              case None => c += 1
            }
          }
          val takes =
            if (st.reluctant) (lo to c).iterator
            else (lo to c).reverseIterator
          takes.exists { t =>
            k(p + t, pools.updated(leaf,
              pools.getOrElse(leaf, Nil) ::: (p until p + t).toList))
          }
        case ICat(items) =>
          def seq(xs: List[IG], p2: Int, pl: Pools): Boolean = xs match {
            case Nil    => k(p2, pl)
            case h :: t => mat(h, p2, pl, (pp, pl2) => seq(t, pp, pl2))
          }
          seq(items, p, pools)
        case IRep(b, lo, hi, rel) =>
          def rep(p2: Int, pl: Pools, done: Int): Boolean =
            if (rel)
              (done >= lo && k(p2, pl)) ||
                (done < hi && mat(b, p2, pl,
                  (pp, pl2) => rep(pp, pl2, done + 1)))
            else
              (done < hi && mat(b, p2, pl,
                (pp, pl2) => rep(pp, pl2, done + 1))) ||
                (done >= lo && k(p2, pl))
          rep(p, pools, 0)
        case IAlt(arms) => arms.exists(a => mat(a, p, pools, k))
      }
      var best = -1
      val ok = mat(ig, i, Map.empty, (pEnd, _) =>
        if (pEnd > i && rows(pEnd - 1)._1 - rows(i)._1 <= win) {
          best = pEnd; true
        } else false)
      if (ok) Some(best) else None
    }
    val out = scala.collection.mutable.ListBuffer.empty[(Long, Long)]
    var i = 0
    while (i < n) {
      parse(i) match {
        case Some(pEnd) =>
          out += ((rows(i)._2, rows(pEnd - 1)._2))
          i = after match {
            case Cep.SkipPastLast => pEnd
            case _                => i + 1
          }
        case None => i += 1
      }
    }
    out.toList
  }

  /** Plant one cross reference into a generated grouped pattern: a
    * random non-first leaf references a random strictly-earlier leaf
    * with a random FIRST/LAST navigation and comparison. validG
    * guards invalid results (pass-vacuously, like the other grouped
    * generators).
    */
  private def addCross(g: Cep.GPat, owner: Int,
      cr: Cep.CrossRef): Cep.GPat = {
    var i = -1
    def walk(p: Cep.GPat): Cep.GPat = p match {
      case Cep.GLf(st) =>
        i += 1
        if (i == owner) Cep.GLf(st.copy(cross = List(cr))) else Cep.GLf(st)
      case Cep.GCat(xs)           => Cep.GCat(xs.map(walk))
      case Cep.GRep(b, lo, hi, r) => Cep.GRep(walk(b), lo, hi, r)
      case Cep.GAlt(arms)         => Cep.GAlt(arms.map(walk))
    }
    walk(g)
  }

  private val genCrossGroupPat: Gen[Cep.GPat] = genGroupPat.flatMap { g =>
    val nl = Cep.gLeaves(g).length
    if (nl < 2) Gen.const(g)
    else for {
      owner <- Gen.chooseNum(1, nl - 1)
      tgt <- Gen.chooseNum(0, owner - 1)
      isF <- Gen.prob(0.5)
      cmpK <- Gen.oneOf[Cep.PrevCmp](Cep.PrevLt, Cep.PrevGt, Cep.PrevLe,
        Cep.PrevGe)
    } yield addCross(g, owner, Cep.CrossRef(tgt, isF, cmpK))
  }

  property("grouped cross-variable DEFINE: feed+flush == pool-tracking " +
      "tree brute") =
    forAll(genCrossGroupPat, genValuedRows, Gen.chooseNum(5L, 2000L)) {
      (g, rows, win) =>
      forAll(genAfter2) { after =>
        !validG(g) || {
          val m = new Cep.Machine(Cep.gLeaves(g).toIndexedSeq, win, after,
            contiguous = true, grouped = Some(g))
          feedWithFlush(m, rows) == bruteGroupedCross(rows, g, win, after)
        }
      }
    }

  property("grouped cross-free patterns agree between the memoized and " +
      "the pool-tracking brutes (cross support is a conservative " +
      "extension)") =
    forAll(genGroupPat, genValuedRows, Gen.chooseNum(5L, 2000L)) {
      (g, rows, win) =>
      forAll(genAfter2) { after =>
        !validG(g) ||
          bruteGroupedCross(rows, g, win, after) ==
            bruteGrouped(rows, g, win, after)
      }
    }
}
