package graft

import org.apache.spark.sql.functions._
import graft.operators.TextAnalysis

/** Round 11 session 4: BPE tokenizer training (`bpeTrainOf`) — the
  * word-frequency trainer against an INDEPENDENT brute-force Scala
  * replay (character lists folded by hand, no string replace, no
  * Spark), plus the textbook corpus whose first merges are
  * hand-derivable, greedy left-to-right application order, and the
  * early-stop contract.
  */
class Round11dSpec extends SparkSpecBase {

  /** Independent reference: trains nMerges BPE merges over (word, cnt)
    * pairs using Seq[String] symbol lists — a different data structure
    * and application algorithm than the operator's separator-string
    * replace, so a mistake in either shows as divergence.
    */
  private def refBpe(words: Seq[(String, Long)], nMerges: Int)
      : Seq[(Long, String, String, String, Long)] = {
    var vocab: Seq[(Seq[String], Long)] =
      words.map { case (w, c) => (w.map(_.toString): Seq[String], c) }
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, String, Long)]
    var stop = false
    for (i <- 1 to nMerges if !stop) {
      val counts = scala.collection.mutable.Map
        .empty[(String, String), Long]
      vocab.foreach { case (syms, c) =>
        syms.sliding(2).filter(_.size == 2).foreach { p =>
          val k = (p(0), p(1))
          counts(k) = counts.getOrElse(k, 0L) + c
        }
      }
      if (counts.isEmpty || counts.values.max < 2L) stop = true
      else {
        val ((l, r), c) = counts.toSeq
          .sortBy { case ((a, b), n) => (-n, a, b) }.head
        out += ((i.toLong, l, r, l + r, c))
        // greedy left-to-right non-overlapping application
        vocab = vocab.map { case (syms, cnt) =>
          val merged = scala.collection.mutable.ArrayBuffer.empty[String]
          var j = 0
          while (j < syms.length) {
            if (j + 1 < syms.length && syms(j) == l && syms(j + 1) == r) {
              merged += l + r; j += 2
            } else { merged += syms(j); j += 1 }
          }
          (merged.toSeq, cnt)
        }
      }
    }
    out.toSeq
  }

  private def trainOn(rows: Seq[String], n: Int)
      : Seq[(Long, String, String, String, Long)] = {
    import spark.implicits._
    TextAnalysis.bpeTrainOf(
      rows.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text"), n)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq
  }

  test("bpe: textbook corpus — first merges match the hand derivation") {
    // the classic BPE example word set, one word per doc, counts by
    // repetition: low x5, lower x2, newest x6, widest x3
    val docs = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")
    val got = trainOn(docs, 4)
    // pair counts: es = 9 (newest 6 + widest 3), st = 9; tie breaks on
    // (l, r) lexicographic → (e, s) first, then (es, t) at 9
    assert(got.head == (1L, "e", "s", "es", 9L), s"first merge: $got")
    assert(got(1) == (2L, "es", "t", "est", 9L), s"second merge: $got")
    // the full prefix must equal the independent reference
    val ref = refBpe(Seq(("low", 5L), ("lower", 2L), ("newest", 6L),
      ("widest", 3L)), 4)
    assert(got == ref, s"got $got\nref $ref")
  }

  test("bpe: greedy left-to-right on runs — aaaa collapses as (aa)(aa)") {
    val got = trainOn(Seq.fill(3)("aaaa"), 2)
    // merge 1: (a,a) count 9 (3 adjacent pairs x 3 words); application
    // is non-overlapping left-to-right: aaaa -> aa aa (TWO symbols),
    // so merge 2 is (aa,aa) count 3
    assert(got.head == (1L, "a", "a", "aa", 9L), s"$got")
    assert(got(1) == (2L, "aa", "aa", "aaaa", 3L), s"$got")
  }

  test("bpe: early stop when no pair repeats") {
    // all distinct single-occurrence bigrams: every pair count is 1
    val got = trainOn(Seq("ab", "cd", "ef"), 5)
    assert(got.isEmpty, s"expected no merges, got $got")
  }

  test("bpe: a symbol ending with the merge's left side never false-matches") {
    // merge 1 is (x,a) -> symbol "xa"; merge 2 is (a,b). In "xab" the
    // adjacent symbols are (xa, b) — NOT (a, b) — so strict BPE leaves
    // it as two symbols. The trailing-sep-only encoding matched the
    // pattern a␟b␟ INSIDE xa␟b␟ and corrupted "xab" to one symbol
    // (and its oracle, sharing the encoding, could not see it); the
    // wrapped ␟sym␟ encoding anchors both boundaries.
    val docs = Seq.fill(10)("xa") ++ Seq.fill(3)("xab") ++ Seq.fill(4)("ab")
    val got = trainOn(docs, 2)
    assert(got == Seq((1L, "x", "a", "xa", 13L), (2L, "a", "b", "ab", 4L)),
      s"$got")
    val ref = refBpe(Seq(("xa", 10L), ("xab", 3L), ("ab", 4L)), 2)
    assert(got == ref, s"got $got\nref $ref")
    // and encode under those merges: "xab" must stay 2 tokens (xa, b)
    import spark.implicits._
    val enc = TextAnalysis.bpeEncodeOf(
      Seq((0L, "xab")).toDF("doc_id", "text"),
      got.map(m => (m._2, m._3)))
      .head()
    assert(enc.getLong(3) == 2L,
      s"xab must encode as (xa)(b), 2 tokens: $enc")
  }

  test("bpe: random corpora equal the independent reference") {
    // 3-letter alphabet + 10 merges: multi-char symbols quickly share
    // prefixes/suffixes across merge rounds, so any boundary-anchoring
    // mistake in the replace encoding diverges from the reference
    // within a few rounds (seed 11 on the wider alphabet missed the
    // suffix false-match the adversarial test above pins)
    for (seed <- Seq(1, 7, 11)) {
      val rnd = new scala.util.Random(seed)
      val alphabet = "abc"
      val words = Seq.fill(30)(
        (1 to (2 + rnd.nextInt(6)))
          .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
      val docs = words.flatMap(w => Seq.fill(1 + rnd.nextInt(4))(w))
      val got = trainOn(docs, 10)
      val wc = docs.groupBy(identity).map { case (w, g) =>
        (w, g.size.toLong) }.toSeq
      val ref = refBpe(wc, 10)
      assert(got == ref, s"seed $seed: got $got\nref $ref")
    }
  }

  /** Independent reference for the BATCHED trainer: same greedy
    * symbol-disjoint selection policy, but on symbol lists with a
    * full recount per round — no candidate slice, no string replace.
    */
  private def refBpeBatched(words: Seq[(String, Long)], nMerges: Int,
      batchSize: Int): Seq[(Long, Long, String, String, String, Long)] = {
    var vocab: Seq[(Seq[String], Long)] =
      words.map { case (w, c) => (w.map(_.toString): Seq[String], c) }
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, String, String, String, Long)]
    var round = 0L
    var stop = false
    while (out.size < nMerges && !stop) {
      val counts = scala.collection.mutable.Map
        .empty[(String, String), Long]
      vocab.foreach { case (syms, c) =>
        syms.sliding(2).filter(_.size == 2).foreach { p =>
          val k = (p(0), p(1))
          counts(k) = counts.getOrElse(k, 0L) + c
        }
      }
      val ordered = counts.toSeq.filter(_._2 >= 2L)
        .sortBy { case ((a, b), n) => (-n, a, b) }
      val used = scala.collection.mutable.Set.empty[String]
      val picked = ordered.iterator
        .filter { case ((a, b), _) =>
          // operands AND outputs disjoint across the batch — the
          // operator's exactness rule (see bpeTrainBatchedOf)
          if (used.contains(a) || used.contains(b) ||
            used.contains(a + b)) false
          else { used += a; used += b; used += a + b; true }
        }
        .take(math.min(batchSize, nMerges - out.size)).toSeq
      if (picked.isEmpty) stop = true
      else {
        round += 1
        picked.foreach { case ((a, b), n) =>
          out += ((out.size + 1L, round, a, b, a + b, n))
        }
        picked.foreach { case ((a, b), _) =>
          vocab = vocab.map { case (syms, cnt) =>
            val merged = scala.collection.mutable.ArrayBuffer
              .empty[String]
            var j = 0
            while (j < syms.length) {
              if (j + 1 < syms.length && syms(j) == a &&
                  syms(j + 1) == b) { merged += a + b; j += 2 }
              else { merged += syms(j); j += 1 }
            }
            (merged.toSeq, cnt)
          }
        }
      }
    }
    out.toSeq
  }

  test("bpe batched: M=1 is strict BPE; M=3 matches the independent batched reference") {
    import spark.implicits._
    for (seed <- Seq(3, 11)) {
      val rnd = new scala.util.Random(seed)
      val alphabet = "abc"
      val words = Seq.fill(30)(
        (1 to (2 + rnd.nextInt(6)))
          .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
      val docs = words.flatMap(w => Seq.fill(1 + rnd.nextInt(4))(w))
      val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val wc = docs.groupBy(identity).map { case (w, g) =>
        (w, g.size.toLong) }.toSeq
      // M = 1 ≡ strict (bpeTrainOf IS the batched form at 1)
      val strict = trainOn(docs, 8)
      assert(strict == refBpe(wc, 8), s"seed $seed strict: $strict")
      // M = 3 ≡ the batched reference, round structure included
      val got3 = TextAnalysis.bpeTrainBatchedOf(df, 9, 3).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          r.getString(3), r.getString(4), r.getLong(5))).toSeq
      val ref3 = refBpeBatched(wc, 9, 3)
      assert(got3 == ref3, s"seed $seed M=3:\ngot $got3\nref $ref3")
      // within-round picks are pairwise symbol-disjoint (a self-pair
      // like (c,c) owns ONE symbol — compare symbol SETS across picks)
      got3.groupBy(_._2).values.foreach { roundPicks =>
        val sets = roundPicks.map(m => Set(m._3, m._4))
        assert(sets.flatten.distinct.size == sets.map(_.size).sum,
          s"round picks share a symbol: $roundPicks")
      }
    }
  }

  test("bpe batched: defers a conflicting merge one round (textbook corpus)") {
    import spark.implicits._
    val docs = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = TextAnalysis.bpeTrainBatchedOf(docs, 2, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3), r.getLong(5))).toSeq
    // strict takes (e,s) then (es,t) — but (es,t) shares symbol "es"
    // with round 1's pick, so the batch defers it and takes the next
    // disjoint pair instead; (es,t) would come in round 2
    assert(got.head == (1L, 1L, "e", "s", 9L), s"$got")
    assert(got(1)._2 == 1L && got(1)._3 != "es" && got(1)._4 != "es",
      s"round-1 second pick must be disjoint from (e,s): $got")
  }

  test("bpe encode: zero merges = char count; learned merges shrink newest to n/e/w/est") {
    import spark.implicits._
    val docs = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    // identity encode: every symbol is still a single char
    TextAnalysis.bpeEncodeOf(docs, Nil).collect()
      .foreach(r => assert(r.getLong(2) == r.getLong(3),
        s"zero-merge encode must have n_chars == n_bpe_tokens: $r"))
    val merges = TextAnalysis.bpeTrainOf(docs, 2).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq // (e,s), (es,t)
    val enc = TextAnalysis.bpeEncodeOf(docs, merges)
      .filter(col("doc_id") === 7L).head() // a "newest" doc
    // newest -> n e w est: 4 tokens from 6 chars
    assert(enc.getLong(1) == 1L && enc.getLong(2) == 6L &&
      enc.getLong(3) == 4L, s"$enc")
  }

  test("cep optional steps: zero-or-one and zero-or-more, greedy consume, class bounds") {
    import spark.implicits._
    import graft.operators.Cep
    val M = 60000000L
    def ev(u: Long, minute: Long, id: Long, t: String) =
      (u, new java.sql.Timestamp(minute * M / 1000), id, t)
    val optPat = Seq(Cep.Step("click", plus = false),
      Cep.Step("error", plus = false, opt = true),
      Cep.Step("purchase", plus = false))
    val rows = Seq(
      // user 1: optional ABSENT — click purchase matches as 2 rows
      ev(1, 0, 10, "click"), ev(1, 1, 11, "purchase"),
      // user 2: optional PRESENT — greedy consumes the error (3 rows)
      ev(2, 0, 20, "click"), ev(2, 1, 21, "error"),
      ev(2, 2, 22, "purchase"),
      // user 3: optional present but completion missing — error
      // consumed, purchase never arrives contiguously → no match
      ev(3, 0, 30, "click"), ev(3, 1, 31, "error"), ev(3, 2, 32, "view"),
      ev(3, 3, 33, "purchase"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val got = Cep.cepMatchOf(rows, optPat, windowUs = 10 * M)
      .collect().map(m => m.user_id ->
        (m.start_event_id, m.end_event_id, m.n_rows)).toSeq.sorted
    assert(got == Seq(1L -> (10L, 11L, 2L), 2L -> (20L, 22L, 3L)),
      s"$got")
    // zero-or-more: click view* purchase — 0, 1, 3 views all match
    val starPat = Seq(Cep.Step("click", plus = false),
      Cep.Step("view", plus = true, opt = true),
      Cep.Step("purchase", plus = false))
    val rows2 = Seq(
      ev(1, 0, 10, "click"), ev(1, 1, 11, "purchase"),
      ev(2, 0, 20, "click"), ev(2, 1, 21, "view"),
      ev(2, 2, 22, "purchase"),
      ev(3, 0, 30, "click"), ev(3, 1, 31, "view"), ev(3, 2, 32, "view"),
      ev(3, 3, 33, "view"), ev(3, 4, 34, "purchase"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val got2 = Cep.cepMatchOf(rows2, starPat, windowUs = 10 * M)
      .collect().map(m => m.user_id -> m.n_rows).toSeq.sorted
    assert(got2 == Seq(1L -> 2L, 2L -> 3L, 3L -> 5L), s"$got2")
    // class bounds: a collapse-closure violation (A B? A) now takes
    // the r12 BACKTRACKING walk instead of being rejected — on this
    // corpus (no two views in any window) it correctly finds nothing;
    // leading opt and trailing opt remain require-rejected
    assert(Cep.cepMatchOf(rows, Seq(Cep.Step("view", plus = false),
      Cep.Step("click", plus = false, opt = true),
      Cep.Step("view", plus = false)), windowUs = M).count() == 0)
    intercept[IllegalArgumentException] {
      Cep.cepMatchOf(rows, Seq(Cep.Step("view", plus = false, opt = true),
        Cep.Step("click", plus = false)), windowUs = M)
    }
    // a TRAILING optional is legal since the r12 last-step lift: the
    // backtracking walk resolves the optional
    // greedily when the next row bounds it — view (click?) takes the
    // zero-click branch at user 3's view (purchase bounds it)
    val trailingOpt = Cep.cepMatchOf(rows, Seq(Cep.Step("view", plus = false),
      Cep.Step("click", plus = false, opt = true)), windowUs = 10 * M)
      .collect().map(m => (m.start_event_id, m.end_event_id, m.n_rows)).toSeq
    assert(trailingOpt == Seq((32L, 32L, 1L)), s"$trailingOpt")
  }

  test("cep alternation: symbol-set steps, greedy over the set, disjointness bound") {
    import spark.implicits._
    import graft.operators.Cep
    val M = 60000000L
    def ev(u: Long, minute: Long, id: Long, t: String) =
      (u, new java.sql.Timestamp(minute * M / 1000), id, t)
    // click → (view|error)+ → purchase: the plus run mixes both symbols
    val pat = Seq(Cep.Step("click", plus = false),
      Cep.Step("view", plus = true, alt = Set("error")),
      Cep.Step("purchase", plus = false))
    val rows = Seq(
      ev(1, 0, 10, "click"), ev(1, 1, 11, "view"), ev(1, 2, 12, "error"),
      ev(1, 3, 13, "view"), ev(1, 4, 14, "purchase"),
      ev(2, 0, 20, "click"), ev(2, 1, 21, "error"),
      ev(2, 2, 22, "purchase"),
      // no (view|error) row between click and purchase → no match
      ev(3, 0, 30, "click"), ev(3, 1, 31, "purchase"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val got = Cep.cepMatchOf(rows, pat, windowUs = 10 * M)
      .collect().map(m => m.user_id -> m.n_rows).toSeq.sorted
    assert(got == Seq(1L -> 5L, 2L -> 3L), s"$got")
    // intersecting collapse-adjacent symbol sets need the walk's
    // backtracking: click → (view|click) binds on user 1 only
    // (click10 view11); users 2/3 have no (view|click) row after a
    // click contiguously
    val overlap = Cep.cepMatchOf(rows, Seq(Cep.Step("click", plus = false),
      Cep.Step("view", plus = false, alt = Set("click"))),
      windowUs = 10 * M)
      .collect().map(m => (m.start_event_id, m.end_event_id)).toSeq
    assert(overlap == Seq((10L, 11L)), s"$overlap")
  }

  test("cep bounded repeats: A{m,n} greedy take, both bounds bind, flag conflicts rejected") {
    import spark.implicits._
    import graft.operators.Cep
    val M = 60000000L
    def ev(u: Long, minute: Long, id: Long, t: String) =
      (u, new java.sql.Timestamp(minute * M / 1000), id, t)
    val pat = Seq(Cep.Step("click", plus = false),
      Cep.Step("view", plus = false, rep = Some((2, 3))),
      Cep.Step("purchase", plus = false))
    def views(u: Long, n: Int) =
      (1 to n).map(i => ev(u, i.toLong, u * 100 + i, "view"))
    val rows = (
      // 1 view: below lo — no match
      Seq(ev(1, 0, 100, "click")) ++ views(1, 1) ++
        Seq(ev(1, 9, 199, "purchase")) ++
      // 2 views: lo edge — match, 4 rows
      Seq(ev(2, 0, 200, "click")) ++ views(2, 2) ++
        Seq(ev(2, 9, 299, "purchase")) ++
      // 3 views: hi edge — match, 5 rows
      Seq(ev(3, 0, 300, "click")) ++ views(3, 3) ++
        Seq(ev(3, 9, 399, "purchase")) ++
      // 4 views: above hi — the capped take leaves a view the next
      // step can't match — no match
      Seq(ev(4, 0, 400, "click")) ++ views(4, 4) ++
        Seq(ev(4, 9, 499, "purchase")))
      .toDF("user_id", "ts", "event_id", "event_type")
    val got = Cep.cepMatchOf(rows, pat, windowUs = 100 * M)
      .collect().map(m => m.user_id -> m.n_rows).toSeq.sorted
    assert(got == Seq(2L -> 4L, 3L -> 5L), s"$got")
    // rep overrides flags: setting both is rejected; bad bounds too
    intercept[IllegalArgumentException] {
      Cep.cepMatchOf(rows, Seq(Cep.Step("click", plus = false),
        Cep.Step("view", plus = true, rep = Some((2, 3))),
        Cep.Step("purchase", plus = false)), windowUs = M)
    }
    intercept[IllegalArgumentException] {
      Cep.cepMatchOf(rows, Seq(Cep.Step("click", plus = false),
        Cep.Step("view", plus = false, rep = Some((3, 2))),
        Cep.Step("purchase", plus = false)), windowUs = M)
    }
    // a rep (0, n) step chains A to A through a vanishing repeat —
    // outside the closure class, so the walk must backtrack:
    // view click{0,2} view finds every adjacent view pair (the repeat
    // takes zero) — users 2/3 one pair each, user 4 two disjoint pairs
    val chained = Cep.cepMatchOf(rows, Seq(Cep.Step("view", plus = false),
      Cep.Step("click", plus = false, rep = Some((0, 2))),
      Cep.Step("view", plus = false)), windowUs = 100 * M)
      .collect().map(m => (m.start_event_id, m.end_event_id)).toSeq.sorted
    assert(chained == Seq((201L, 202L), (301L, 302L),
      (401L, 402L), (403L, 404L)), s"$chained")
  }

  test("bpe: corpus scanned once — iterations run on the vocab table") {
    import spark.implicits._
    val docs = (0 until 64).map(i => (i.toLong, s"alpha beta gamma delta"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.bpeTrainOf(docs, 3)
    assert(out.count() == 3L)
    // the returned merge table is driver-side parameter-sized rows —
    // its plan must not re-reference the corpus at all
    assert(!out.queryExecution.optimizedPlan.toString.contains("doc_id"))
  }
}
