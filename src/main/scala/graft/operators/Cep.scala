package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import scala.reflect.runtime.universe.TypeTag

/** Contiguous sequential pattern matching over keyed event series —
  * the MATCH_RECOGNIZE capability class (Flink SQL's CEP surface;
  * reference stack: the Table API walkthrough's own engine exposes it
  * as `MATCH_RECOGNIZE` — flink-kafka-table-api uses the same planner).
  * A pattern is a sequence of steps over the event-type alphabet, each
  * `One` or `OneOrMore` (greedy), matched over CONTIGUOUS rows per key
  * in (ts, event_id) order — an intervening non-matching row breaks the
  * partial match, exactly MATCH_RECOGNIZE row semantics (no row
  * skipping inside a match). After-match behavior is SKIP PAST LAST ROW
  * (matches never overlap); the optional window bounds last-row ts −
  * first-row ts, checked at completion.
  *
  * PATTERN CLASSES: the full regex-greedy class. Every contiguous
  * pattern — flat or grouped, repeated adjacent symbols (A A, A+ B? A)
  * included — compiles to one split-program and runs one memoized
  * BACKTRACKING walk, which also carries DEFINE predicates, wildcard
  * steps and TRAILING quantified steps, whose greedy runs resolve at
  * the first bounding row, a window-stale feed, or — batch only — the
  * end-of-input flush. One requirement remains for every contiguous
  * pattern: a required predicate-free first step (candidate starts
  * key on it). The automaton is a shared-buffer
  * matcher — it holds the current partial's rows and, on a mismatch or
  * a window-killed completion, falls back to the next candidate start
  * INSIDE the buffer (the leftmost-start preference MATCH_RECOGNIZE
  * defines), which is exactly the partial-match buffering Flink's CEP
  * NFA carries. Exactness is pinned by CepMachineProps against
  * independent brute-force AND java.util.regex references over random
  * patterns (repeats included), corpora, and windows.
  *
  * Scale shape: the SEGMENTED SEQUENTIAL SCAN family (see
  * [[TimeSeries.ewmaScanOf]]) — ONE key shuffle, per-partition
  * (key, ts, id) sort, then a streaming fold whose state is the
  * current PARTIAL's rows. The window prunes the buffer (a start
  * older than end − w can never complete, and rows before the first
  * viable start can never join any future match), so state per key is
  * bounded by the window span, never the series. Pattern matching's
  * order-dependence is non-associative, so no window/agg expresses
  * it; mapPartitions here is the documented last-resort tier.
  */
object Cep {

  /** A DEFINE-clause predicate comparing the row's value against the
    * PHYSICALLY PREVIOUS row's value — MATCH_RECOGNIZE's
    * `X.value < PREV(X.value)` family (PREV navigates input rows; in
    * contiguous matching the previous input row is the previous match
    * row for every step after the first). The canonical V-pattern
    * (STRT DOWN+ UP+) is `PrevLt` / `PrevGt`.
    */
  sealed trait PrevCmp extends Serializable
  case object PrevLt extends PrevCmp
  case object PrevGt extends PrevCmp
  case object PrevLe extends PrevCmp
  case object PrevGe extends PrevCmp

  private[graft] def cmpHolds(c: PrevCmp, l: Long, r: Long): Boolean =
    c match {
      case PrevLt => l < r
      case PrevGt => l > r
      case PrevLe => l <= r
      case PrevGe => l >= r
    }

  /** A CROSS-VARIABLE DEFINE predicate — the SQL-standard /
    * Flink-canonical `A.value <op> FIRST/LAST(B.value)` family (and
    * the bare `A.value <op> B.value`, the standard's implicit
    * LAST(B.value)): the row's value compares against the FIRST or
    * LAST row that ANOTHER, already-matched step consumed in the
    * current parse. `step` is the referenced step's flat index and
    * must be STRICTLY BEFORE the carrying step (a reference to a
    * not-yet-matched variable has no rows to navigate — rejected as
    * undecidable, the same rule Flink's planner applies). If the
    * referenced step consumed ZERO rows (an optional that took
    * nothing), the navigation is NULL and the row does not match —
    * SQL NULL-comparison semantics, exactly like PREV off the buffer
    * head. Because the referenced span depends on the PATH (the
    * referenced step's take), (step, position) memoization is disabled
    * from the first position a later step's reference can reach back
    * across (see the Machine's memoOk) — the walk degrades to plain
    * backtracking there, still window-bounded per feed.
    */
  final case class CrossRef(step: Int, first: Boolean, cmp: PrevCmp)
    extends Serializable

  /** One pattern step: match rows whose event_type equals `symbol` or
    * any member of `alt` (ALTERNATION — `(a|b)` is
    * `Step("a", …, alt = Set("b"))`), or ANY type when `any` is set
    * (MATCH_RECOGNIZE's undefined variable — always true). Quantifier
    * flags: `plus` = greedy OneOrMore; `opt` = the step may match ZERO
    * rows (ZeroOrOne, or with `plus` ZeroOrMore) — greedy: a matching
    * row is always consumed. `cmp` adds a DEFINE predicate on the
    * row's value vs a previous row's ([[PrevCmp]]) — `cmpOff` selects
    * WHICH previous row, MATCH_RECOGNIZE's `PREV(X.value, k)` offset
    * (default 1 = the physically previous row). PREV is MATCH-SCOPED:
    * a k-back position falling before the match candidate's first row
    * evaluates as NULL (the row never matches) — full-input PREV would
    * need a k-row look-behind over rows the segmented scan and the
    * streaming state have deliberately dropped, so the machine keeps
    * the scoped reading (with k = 1 the two coincide everywhere a cmp
    * step can legally sit, since step 0 cannot carry cmp). `sumCap`
    * adds a
    * RUNNING-AGGREGATE DEFINE predicate: each row of the step's run
    * matches only while the run's cumulative cents value INCLUDING the
    * row stays <= the cap — `SUM(X.value) <= c`, evaluated per row
    * exactly as SQL DEFINE does (the first violating row bounds the
    * run). `reluctant`
    * flips the quantifier to LAZY (regex `+?`: the SHORTEST take that
    * lets the rest of the pattern match wins — MATCH_RECOGNIZE's
    * reluctant quantifiers). `neg` makes the step a ZERO-WIDTH ABSENCE
    * assertion over its symbol set — Flink CEP's negative patterns: in
    * contiguous mode `notNext` (the physically next row, if inside the
    * window horizon, must not match), in relaxed mode `notFollowedBy`
    * (no matching row between the previous step's last consumed row
    * and the next step's first — or, trailing, anywhere inside the
    * window horizon, with emission at horizon expiry).
    */
  final case class Step(symbol: String, plus: Boolean = false,
      opt: Boolean = false, alt: Set[String] = Set.empty,
      rep: Option[(Int, Int)] = None, any: Boolean = false,
      cmp: Option[PrevCmp] = None, reluctant: Boolean = false,
      neg: Boolean = false, cmpOff: Int = 1,
      sumCap: Option[Long] = None,
      cross: List[CrossRef] = Nil) {
    /** The step's full symbol set (alphabet contribution; meaningless
      * under `any`).
      */
    def syms: Set[String] = alt + symbol
    /** Symbol-only row-match test (set membership / wildcard). */
    def matches(tpe: String): Boolean =
      any || tpe == symbol || alt.contains(tpe)
    /** Full row-match: symbol test plus the DEFINE predicate against
      * the cmpOff-back row's value (None = no such row — a `cmp`
      * step never matches there, exactly NULL-comparison semantics).
      */
    def matchesRow(tpe: String, valueC: Long,
        prevValueC: Option[Long]): Boolean =
      matches(tpe) &&
        cmp.forall(c => prevValueC.exists(pv => cmpHolds(c, valueC, pv)))
    /** Repetition bounds [lo, hi]: BOUNDED REPEAT `rep = Some((m, n))`
      * (greedy A{m,n}; overrides the flags, which must be unset), else
      * derived — One (1,1), OneOrMore (1,∞), ZeroOrOne (0,1),
      * ZeroOrMore (0,∞).
      */
    def bounds: (Int, Int) = rep.getOrElse(
      (if (opt) 0 else 1, if (plus) Int.MaxValue else 1))
  }

  /** One completed match: the key, first/last matched row, total rows
    * consumed (n_rows − the One steps = rows taken by the plus steps).
    */
  final case class CepMatch(user_id: Long, start_event_id: Long,
    start_ts_us: Long, end_event_id: Long, end_ts_us: Long, n_rows: Long)

  /** GROUP-QUANTIFIER pattern tree — quantifiers over SEQUENCES, the
    * one MATCH_RECOGNIZE shape a flat step list cannot express:
    * `PATTERN ((A B)+ C)` repeats the two-step sequence A B. [[GLf]]
    * wraps an ordinary [[Step]] (its own quantifier/alternation/DEFINE
    * fields all apply), [[GCat]] concatenates, [[GRep]] repeats a
    * sub-pattern `{lo, hi}` with greedy (default) or reluctant bias —
    * `(…)+` is GRep(_, 1, Int.MaxValue), `(…)?` GRep(_, 0, 1), `(…)*`
    * GRep(_, 0, Int.MaxValue). The tree compiles to a tiny
    * Thompson-style program (RunM / SplitI / JumpI / AcceptI) — the
    * same program a flat step list compiles to — and the machine walks
    * it with memoized backtracking: split branches try the preferred
    * arm first (greedy = loop-continue, reluctant = exit), the first
    * non-Mismatch outcome decides, a leaf run reaching the buffer end
    * below its cap waits (Partial) while the window still admits
    * future rows, and the window check lives at Accept so shorter
    * parses survive a window-killed longest one. Bounded group repeats
    * unroll at compile time (hi − lo ≤ 16 enforced); unbounded ones
    * compile to a split-back loop whose body must consume ≥ 1 row
    * (validated — a nullable starred body would loop forever).
    */
  sealed trait GPat extends Serializable
  final case class GLf(step: Step) extends GPat
  final case class GCat(items: Seq[GPat]) extends GPat
  final case class GRep(body: GPat, lo: Int, hi: Int,
    reluctant: Boolean = false) extends GPat
  /** Alternation of SUB-SEQUENCES — `(A B | C D)`: arms tried in
    * order, leftmost preferred (regex alternation's bias), each arm
    * any sub-pattern. With [[GCat]]/[[GRep]]/leaf predicates this
    * completes the full regex algebra over predicated symbols.
    */
  final case class GAlt(arms: Seq[GPat]) extends GPat

  /** Calcite/Flink MATCH_RECOGNIZE `PERMUTE(A, B, …)` — all orderings
    * of the given steps, expanded at build time to sequence
    * alternation ([[GAlt]] of the n! [[GCat]] orderings, listed-order
    * lexicographic like Calcite's expansion). Bounded at n <= 4 (24
    * arms): the expansion is factorial and a larger n is a modeling
    * smell — compose explicit alternation instead.
    */
  def permute(steps: Seq[Step]): GPat = {
    require(steps.length >= 2 && steps.length <= 4,
      s"cep: PERMUTE expands to n! alternation arms — supported for " +
        s"2 <= n <= 4 steps (got ${steps.length})")
    GAlt(steps.permutations.map(ord =>
      GCat(ord.map(st => GLf(st)).toList): GPat).toList)
  }

  private[graft] sealed trait GInstr extends Serializable
  /** `leaf` = the instruction's source leaf's index in [[gLeaves]]
    * order — a bounded repeat unrolls one RunM copy per iteration, all
    * sharing the source leaf's index, which is what lets the walk
    * accumulate a repeated group's per-leaf consumed positions across
    * iterations (grouped MEASURES / ALL ROWS output).
    */
  private[graft] final case class RunM(step: Step, leaf: Int) extends GInstr
  /** A flat pattern's zero-width negation step (contiguous `notNext`);
    * validateGrouped keeps negation out of grouped trees.
    */
  private[graft] final case class NotNextI(step: Step) extends GInstr
  private[graft] final case class SplitI(var a: Int, var b: Int)
    extends GInstr
  private[graft] final case class JumpI(k: Int) extends GInstr
  private[graft] case object AcceptI extends GInstr

  /** Minimal rows a sub-pattern must consume. */
  private[graft] def gMinLen(p: GPat): Int = p match {
    case GLf(st)            => st.bounds._1
    case GCat(items)        => items.map(gMinLen).sum
    case GRep(b, lo, _, _)  => lo * gMinLen(b)
    case GAlt(arms)         => arms.map(gMinLen).min
  }

  private[graft] def gLeaves(p: GPat): Seq[Step] = p match {
    case GLf(st)     => Seq(st)
    case GCat(items) => items.flatMap(gLeaves)
    case GRep(b, _, _, _) => gLeaves(b)
    case GAlt(arms)  => arms.flatMap(gLeaves)
  }

  /** The FIRST set: leaves that can consume a match's first row
    * (nullable-aware). Candidate-start pruning keys on it.
    */
  private[graft] def gFirstSteps(p: GPat): Seq[Step] = {
    val out = Seq.newBuilder[Step]
    // returns nullable
    def walk(n: GPat): Boolean = n match {
      case GLf(st) => out += st; st.bounds._1 == 0
      case GCat(items) =>
        var nullable = true
        val it = items.iterator
        while (nullable && it.hasNext) nullable = walk(it.next())
        nullable
      case GRep(b, lo, _, _) => walk(b) || lo == 0
      case GAlt(arms) =>
        // every arm contributes firsts; the alternation is nullable
        // iff SOME arm is (walk all arms eagerly for the first set)
        arms.map(walk).exists(identity)
    }
    walk(p)
    out.result()
  }

  private[graft] def validateGrouped(p: GPat): Unit = {
    val ls = gLeaves(p)
    require(ls.nonEmpty, "cep: empty grouped pattern")
    require(gMinLen(p) >= 1,
      "cep: a grouped pattern must consume at least one row (an " +
        "all-optional pattern would accept the empty match)")
    ls.zipWithIndex.foreach { case (st, i) =>
      require(!st.neg,
        "cep: negation steps are the linear machine's — compose " +
          "absence with cepMatchOf/cepFollowedByOf patterns")
      // CROSS-VARIABLE DEFINE on grouped patterns (r17): the
      // referenced index is a LEAF index in gLeaves preorder and must
      // be STRICTLY EARLIER than the carrying leaf. Semantics are the
      // Flink IterativeCondition reading the split-program walk makes
      // well-defined: the reference resolves against the referenced
      // leaf's consumed-position POOL as of the current path —
      // accumulated ACROSS group iterations (the r14 ALL-ROWS
      // machinery), with the current iteration's rows included when
      // the referenced leaf executes before the carrying one inside
      // the body. FIRST/LAST navigate that pool; an empty pool (a
      // sibling alternation arm not taken, an optional that consumed
      // nothing) is NULL and the row does not match — the same
      // NULL-comparison rule as the flat machine's span navigation.
      st.cross.foreach { cr =>
        require(cr.step >= 0 && cr.step < ls.length,
          s"cep: cross reference targets leaf ${cr.step} of " +
            s"${ls.length}")
        require(cr.step < i,
          "cep: a grouped cross-variable reference must target a leaf " +
            "STRICTLY EARLIER in pattern preorder — a later leaf has " +
            "no rows to navigate on any path reaching this one")
      }
      require(st.cmpOff >= 1, "cep: PREV offset must be >= 1")
      st.rep.foreach { case (lo, hi) =>
        require(!st.plus && !st.opt && 0 <= lo && lo <= hi && hi >= 1,
          "cep: bad leaf rep bounds")
      }
    }
    def walkReps(n: GPat): Unit = n match {
      case GLf(_) => ()
      case GCat(items) => items.foreach(walkReps)
      case GAlt(arms) =>
        require(arms.nonEmpty, "cep: empty alternation")
        arms.foreach(walkReps)
      case GRep(b, lo, hi, _) =>
        require(0 <= lo && lo <= hi && hi >= 1,
          s"cep: group rep bounds must satisfy 0 <= lo <= hi ($lo, $hi)")
        require(hi == Int.MaxValue || hi - lo <= 16,
          "cep: bounded group repeats unroll at compile time — keep " +
            "hi - lo <= 16 (use an unbounded repeat + window otherwise)")
        require(gMinLen(b) >= 1,
          "cep: a repeated group's body must consume at least one row " +
            "per iteration (a nullable body loops forever)")
        walkReps(b)
    }
    walkReps(p)
    gFirstSteps(p).foreach { st =>
      require(st.cmp.isEmpty,
        "cep: a leaf that can open the match cannot carry a PREV " +
          "predicate — the row before the match start is outside the " +
          "buffer (same rule as the linear machine's step 0)")
      // a first-set leaf MAY carry a cross reference (unlike PREV):
      // when it opens the match the referenced pool is empty → NULL →
      // the row does not match THERE, but paths where an earlier
      // optional leaf consumed still reach it legitimately (A* B with
      // B referencing A ≡ A+ B) — runtime NULL resolution, not a
      // rejection
    }
  }

  /** Compile a tree to the split-program. Greedy GRep loops prefer
    * another body iteration, reluctant ones the exit; GAlt arms are
    * tried leftmost-first (regex alternation's bias). A flat step list
    * compiles as a GCat of its leaves: one instruction per step, so pc
    * equals the step index.
    */
  private[graft] def compile(p: GPat): Vector[GInstr] = {
    val prog = scala.collection.mutable.ArrayBuffer.empty[GInstr]
    // `base` threads each sub-pattern's first-leaf index through the
    // generator so every RunM copy knows its source leaf (gLeaves
    // preorder: GCat items in order, GAlt arms in order, GRep = body)
    def leafCount(n: GPat): Int = gLeaves(n).length
    def gen(n: GPat, base: Int): Unit = n match {
      case GLf(st) =>
        prog += (if (st.neg) NotNextI(st) else RunM(st, base))
      case GCat(items) =>
        var b = base
        items.foreach { it => gen(it, b); b += leafCount(it) }
      case GAlt(arms) =>
        // split chain, leftmost arm preferred; every non-last arm
        // jumps past the whole alternation (patched at the end)
        val jumpAts = scala.collection.mutable.ListBuffer.empty[Int]
        var armBase = base
        arms.zipWithIndex.foreach { case (arm, i) =>
          if (i < arms.length - 1) {
            val sp = SplitI(-1, -1)
            val at = prog.length
            prog += sp
            gen(arm, armBase)
            jumpAts += prog.length
            prog += JumpI(-1) // patched below
            sp.a = at + 1        // try this arm first...
            sp.b = prog.length   // ...else fall through to the next
          } else gen(arm, armBase)
          armBase += leafCount(arm)
        }
        val end = prog.length
        jumpAts.foreach(j => prog(j) = JumpI(end))
      case GRep(b, lo, hi, rel) =>
        (0 until lo).foreach(_ => gen(b, base))
        if (hi == Int.MaxValue) {
          val sp = SplitI(-1, -1)
          val l1 = prog.length
          prog += sp
          gen(b, base)
          prog += JumpI(l1)
          if (rel) { sp.a = prog.length; sp.b = l1 + 1 }
          else { sp.a = l1 + 1; sp.b = prog.length }
        } else {
          // each optional copy: continue into the copy's body or exit
          // straight past the whole unrolled block
          val exits =
            scala.collection.mutable.ListBuffer.empty[(SplitI, Int)]
          (0 until hi - lo).foreach { _ =>
            val sp = SplitI(-1, -1)
            val at = prog.length
            prog += sp; exits += ((sp, at))
            gen(b, base)
          }
          exits.foreach { case (sp, at) =>
            if (rel) { sp.a = prog.length; sp.b = at + 1 }
            else { sp.a = at + 1; sp.b = prog.length }
          }
        }
    }
    gen(p, 0)
    prog += AcceptI
    prog.toVector
  }

  /** AFTER MATCH strategy — where matching resumes after an accepted
    * match, MATCH_RECOGNIZE's full strategy set (Flink ships the same
    * four): [[SkipPastLast]] drops the whole match (matches never
    * overlap — the default); [[SkipToNextRow]] resumes at the row
    * after the match's FIRST row (all overlapping matches emit);
    * [[SkipToFirst]]/[[SkipToLast]] resume at the first/last row the
    * given pattern step consumed — the selective middle ground (skips
    * re-matches starting inside the prefix before that step, keeps
    * ones from it onward). FIRST/LAST require `1 <= step` and a
    * required step (`lo >= 1`): step 0 or an empty variable could
    * resume at the match's own start and loop forever — the same
    * cases Flink rejects at runtime, rejected here up front.
    */
  sealed trait AfterMatch extends Serializable
  case object SkipPastLast extends AfterMatch
  case object SkipToNextRow extends AfterMatch
  final case class SkipToFirst(step: Int) extends AfterMatch
  final case class SkipToLast(step: Int) extends AfterMatch

  private[graft] def validateAfter(pattern: Seq[Step],
      after: AfterMatch): Unit = {
    def checkStep(s: Int, name: String): Unit = {
      require(s >= 1 && s < pattern.length,
        s"cep: $name step must be in [1, ${pattern.length - 1}] — " +
          "resuming at step 0's first row would re-match the same start")
      require(pattern(s).bounds._1 >= 1 && !pattern(s).neg,
        s"cep: $name target step must be required and consuming " +
          "(lo >= 1, not a negation) — an empty or zero-width pattern " +
          "variable has no first/last row to resume at")
    }
    after match {
      case SkipToFirst(s) => checkStep(s, "SKIP TO FIRST")
      case SkipToLast(s)  => checkStep(s, "SKIP TO LAST")
      case _              => ()
    }
  }

  /** The NEGATION structure rules shared by both contiguity modes: a
    * neg step is a pure zero-width symbol assertion (no quantifier, no
    * value predicate, no wildcard), cannot open the pattern (candidate
    * starts key on a consuming first step), cannot follow another neg
    * (assert both symbols with one `alt` set instead), and — relaxed
    * mode only — cannot precede a step that may consume ZERO rows (the
    * gap under watch would silently extend past the empty step; fold
    * the optional step away or make it required).
    */
  private def validateNeg(pattern: Seq[Step], relaxed: Boolean): Unit = {
    val pat = pattern.toIndexedSeq
    pat.zipWithIndex.foreach { case (st, i) =>
      if (st.neg) {
        require(!st.plus && !st.opt && st.rep.isEmpty && !st.reluctant,
          "cep: a negation step is zero-width — quantifiers don't apply")
        require(st.cmp.isEmpty && st.sumCap.isEmpty && st.cross.isEmpty &&
          !st.any,
          "cep: a negation step asserts SYMBOL absence only (no value " +
            "predicates, no wildcard — a not-anything step can never " +
            "pass)")
        require(i > 0,
          "cep: a pattern cannot open with a negation — candidate " +
            "starts key on a consuming first step (Flink rejects a " +
            "leading notNext/notFollowedBy the same way)")
        require(!pat(i - 1).neg,
          "cep: adjacent negation steps — assert both symbol sets with " +
            "one step's alt set instead")
        if (relaxed && i < pat.length - 1)
          require(pat(i + 1).bounds._1 >= 1,
            "cep: a relaxed negation must precede a REQUIRED step — an " +
              "optional successor would silently extend the watched gap")
      }
    }
  }

  /** COLLAPSE-CLOSURE distinctness: any two steps separated only by
    * OPTIONAL steps have distinct symbols (with zero steps between,
    * this is the plain adjacent-distinct rule). Optional steps can
    * vanish, so such step pairs can become adjacent in a parse; if
    * they shared a symbol, a row could extend/open either one and
    * greedy consumption would need backtracking. Under the rule,
    * consuming a matching row is always the unique viable choice: a
    * parse that instead skips the current optional step must match the
    * row at a later step reachable by skipping only optionals — whose
    * symbol would equal the current step's, contradicting the rule.
    * (The rule also stops a OneOrMore from overshooting into a
    * same-symbol step behind a vanishing optional.)
    *
    * Every contiguous pattern runs the same backtracking walk inside
    * or outside the class; the class bounds only the timed-out-partial
    * surface ([[cepTimedOutOf]]), where it makes "the" partial
    * of a stale head well-defined.
    */
  private[graft] def closureHolds(pattern: IndexedSeq[Step]): Boolean = {
    // an `any` step's symbol set is universal — it intersects every
    // other step's
    def disjoint(a: Step, b: Step): Boolean =
      !a.any && !b.any && (a.syms intersect b.syms).isEmpty
    pattern.indices.forall { i =>
      var j = i + 1
      var chain = true
      var ok = true
      while (chain && j < pattern.length) {
        ok = ok && disjoint(pattern(i), pattern(j))
        chain = pattern(j).bounds._1 == 0
        j += 1
      }
      ok
    }
  }

  /** The checks every flat pattern needs: non-empty, sane rep bounds,
    * sane PREV offsets and cross references (an EARLIER, consuming
    * target — the relaxed walk tracks per-step takes, so FIRST/LAST
    * navigation runs in both modes), a required predicate-free first
    * step (candidate starts and pruning key on it), and the negation
    * rules. A `relaxed` (followedBy) pattern is symbol steps with any
    * quantifier (a quantified step's run is a SUBSEQUENCE of matching
    * rows) plus zero-width negations; alternation and repeated symbols
    * are fine (subsequence parsing needs no closure rule), while
    * `cmp`/`any` stay banned — a PREV predicate navigates physically
    * adjacent rows, which followedBy deliberately skips, and a wildcard
    * step would defeat the alphabet-bounded state contract.
    */
  private[graft] def validateCommon(pattern: Seq[Step],
      relaxed: Boolean = false): Unit = {
    require(pattern.nonEmpty, "cep: empty pattern")
    val pat = pattern.toIndexedSeq
    pat.foreach { st =>
      if (relaxed) {
        require(st.cmp.isEmpty && !st.any,
          "cep: relaxed contiguity supports symbol steps only — a PREV " +
            "predicate navigates physically adjacent rows, which " +
            "followedBy deliberately skips, and a wildcard step would " +
            "defeat the alphabet-bounded state contract")
        require(st.sumCap.isEmpty,
          "cep: running-aggregate DEFINE predicates are contiguous-mode " +
            "only (a relaxed run's membership is not prefix-decidable " +
            "under a cap when rows can be skipped)")
      }
      st.rep.foreach { case (lo, hi) =>
        require(!st.plus && !st.opt,
          "cep: rep bounds override the quantifier flags — leave plus/" +
            "opt unset on a bounded-repeat step")
        require(0 <= lo && lo <= hi && hi >= 1,
          s"cep: rep bounds must satisfy 0 <= lo <= hi, hi >= 1 " +
            s"(got ($lo, $hi))")
      }
      require(relaxed || st.cmpOff >= 1,
        s"cep: PREV offset must be >= 1 (got ${st.cmpOff})")
      require(!st.neg || !st.any, "cep: negation of a wildcard")
    }
    pat.zipWithIndex.foreach { case (st, i) =>
      st.cross.foreach { cr =>
        require(cr.step >= 0 && cr.step < i,
          s"cep: a cross-variable DEFINE reference must name an " +
            s"EARLIER step (step $i references ${cr.step} — a " +
            "not-yet-matched variable has no rows to navigate)")
        require(!pat(cr.step).neg,
          "cep: a cross-variable reference targets a zero-width " +
            "negation step, which consumes no row to navigate")
      }
    }
    require(pat.head.bounds._1 >= 1 && !pat.head.neg,
      "cep: first step must be required and consuming (candidate " +
        "starts and window pruning key on the first step's symbol)")
    require(pat.head.cmp.isEmpty,
      "cep: the first step cannot carry a PREV predicate — PREV " +
        "navigates input rows, and the row before the match start is " +
        "outside the machine's buffer (MATCH_RECOGNIZE patterns open " +
        "with a predicate-free variable for the same reason)")
    validateNeg(pat, relaxed)
    // a trailing quantified/optional step is allowed: the walk's
    // run-resolution rules (bounding row / window staleness) give the
    // greedy trailing run a sound completion point on a stream
  }

  /** The strict collapse-closure class check — [[validateCommon]] plus
    * the closure rule, for callers that want to ASSERT a pattern lies
    * in the class where greedy consumption is deterministic.
    */
  private[graft] def validate(pattern: Seq[Step]): Unit = {
    validateCommon(pattern)
    require(closureHolds(pattern.toIndexedSeq),
      "cep: steps separated only by optional steps must have " +
        "DISJOINT symbol sets (greedy consumption is otherwise " +
        "ambiguous — fold A A into A+ or A)")
  }

  /** Per-step MEASURES of one match: rows the step consumed, their
    * cents-value sum and min/max, and the step's first/last event ids
    * (None when an optional step matched zero rows) — COUNT/SUM/MIN/
    * MAX/FIRST/LAST over a pattern variable, MATCH_RECOGNIZE's full
    * measure primitive set (AVG is sum/cnt downstream).
    */
  final case class StepAgg(step: Int, symbol: String, cnt: Long,
    sum_value_c: Long, min_value_c: Option[Long],
    max_value_c: Option[Long], first_event_id: Option[Long],
    last_event_id: Option[Long])

  /** The exact automaton both the batch fold and the streaming
    * processor run: a SHARED-BUFFER matcher. State is the buffered
    * rows from the current candidate start on; each fed row appends
    * and the buffer is re-walked from its head:
    *
    *   - PARTIAL (a more-preferred parse still waits on future rows)
    *     → wait;
    *   - COMPLETE → emit, resume per the after-match strategy;
    *   - MISMATCH (no parse from this start, window included) → fall
    *     back to the next candidate start inside the buffer and re-walk
    *     (leftmost-start preference — every first-set row is a
    *     candidate, tried left to right).
    *
    * Two walks, one per contiguity mode: every contiguous pattern —
    * flat or grouped — compiles to the split-program and runs
    * [[walkProg]]; every relaxed (followedBy) pattern runs
    * [[walkRelaxedQ]]. Both are memoized backtracking in the
    * quantifiers' preference order with the window checked at Accept,
    * O(pattern · buffer²) per feed worst case — Flink's shared-buffer
    * NFA pays the same order per event. Both resolve WINDOW-STALE heads
    * themselves: a head older than fedTs − window can take no future
    * row, so its pending branches are forced to Complete or Mismatch
    * at the feed that makes it stale, which keeps the buffer bounded
    * by the window span without a separate prune (timed-out-partial
    * machines still prune, to surface a stale head's partial first).
    */
  private[graft] final class Machine(pattern: IndexedSeq[Step],
      windowUs: Long, after: AfterMatch = SkipPastLast,
      contiguous: Boolean = true, grouped: Option[GPat] = None,
      withRows: Boolean = false, withTimeouts: Boolean = false,
      // the per-step MEASURES fold is O(consumed rows) per match —
      // match-only folds whose conversions discard aggs skip it.
      // MUST stay true for cepTimedOutOf-class machines: the empty
      // aggs list is the timeout sentinel, real matches must differ.
      needsAggs: Boolean = true)
      extends Serializable {
    // The constructor is the one pattern check: every batch fold and
    // the streaming multi-pattern entry build a Machine on the driver,
    // so a rejected pattern fails before any job or query starts.
    // GROUP-QUANTIFIER mode: the compiled tree is the program (pattern
    // then only lists its leaves); after-match is restricted to the two
    // whole-match strategies — FIRST/LAST target FLAT step indices,
    // which a repeated group's leaves don't have
    private val program: Vector[GInstr] = grouped match {
      case Some(g) =>
        require(contiguous, "cep: grouped patterns are contiguous-mode")
        validateGrouped(g)
        require(after == SkipPastLast || after == SkipToNextRow,
          "cep: grouped patterns support AFTER MATCH SKIP PAST LAST " +
            "ROW / TO NEXT ROW (FIRST/LAST name flat steps)")
        compile(g)
      case None =>
        // relaxed contiguity (Flink CEP's followedBy): rows between
        // step matches are skipped (alternation sets and repeated
        // symbols allowed: A B A and even A A are unambiguous under
        // subsequence semantics)
        validateCommon(pattern, relaxed = !contiguous)
        validateAfter(pattern, after)
        // a flat step list is a GCat of leaves: leaf index == step
        // index == pc, so the per-step rules below index by pc
        if (contiguous) compile(GCat(pattern.map(GLf(_)))) else null
    }
    private val firstPred: String => Boolean = grouped match {
      case Some(g) =>
        val fs = gFirstSteps(g).toIndexedSeq
        tpe => fs.exists(_.matches(tpe))
      case None => pattern(0).matches
    }
    // rows outside the alphabet can never join a match in relaxed
    // mode — they are dropped at the door (they still advance time)
    private val alphabet: Set[String] = pattern.flatMap(_.syms).toSet
    // (pc, position) memoization gate, by pc (= step in flat and
    // relaxed patterns). A cross reference to a step < s makes go(s, p)'s
    // outcome depend on the PATH's earlier takes, not just (s, p), so
    // memo is sound at s only if no step t >= s references back across
    // s; from the last such back-reference onward it re-enables. A
    // grouped program loops, which makes any per-pc gating circular:
    // cross references there disable the memo wholesale, and the walk
    // degrades to plain backtracking (window-bounded per feed,
    // worst-case exponential on adversarial same-symbol runs).
    private val memoOk: Array[Boolean] =
      if (grouped.isDefined)
        Array.fill(program.length)(!pattern.exists(_.cross.nonEmpty))
      else Array.tabulate(pattern.length)(s =>
        (s until pattern.length).forall(t =>
          pattern(t).cross.forall(_.step >= s)))
    // per-step (per-LEAF for grouped) flag: some later step's cross
    // reference targets it. Only those steps must record their take
    // BEFORE each recursion (the predicate reads the current path); the
    // rest record on the Complete unwind — recording eagerly for every
    // step would allocate an O(take) list per backtracking attempt on
    // cross-free patterns (O(c²) transient garbage per forced walk of a
    // shrinking greedy run)
    private val crossTargeted: Array[Boolean] =
      Array.tabulate(pattern.length)(s =>
        pattern.exists(_.cross.exists(_.step == s)))
    // TIMED-OUT PARTIAL MATCHES (Flink CEP's TimedOutPartialMatchHandler
    // — the abandoned-transaction surface) are implemented for the
    // contiguous collapse-closure class with a required-One tail under
    // SKIP PAST LAST ROW, where partial death is fully localized: the
    // post-emit buffer invariantly walks Partial from its head with
    // EVERY buffered row consumed, so a window-pruned head's partial
    // match IS the buffer. Elsewhere a stale head is resolved inside
    // the search, where a single "the" partial is ambiguous — rejected
    // rather than guessed.
    if (withTimeouts)
      require(grouped.isEmpty && contiguous && after == SkipPastLast &&
        closureHolds(pattern) && pattern.last.bounds == ((1, 1)) &&
        !pattern.exists(st => st.cmp.isDefined || st.any || st.reluctant ||
          st.neg || st.sumCap.isDefined || st.cross.nonEmpty),
        "cep: timed-out partials need a contiguous collapse-closure " +
          "pattern with a required one-row tail under AFTER MATCH SKIP " +
          "PAST LAST ROW (elsewhere the partial to surface is ambiguous)")
    // (ts, id, tpe, value_c) — value_c rides along untouched by the
    // walk; MEASURES folds it per step at completion
    private var buf = Vector.empty[(Long, Long, String, Long)]

    /** Checkpointable automaton state — the streaming processor carries
      * it in a ValueState across micro-batches.
      */
    def snapshot: List[(Long, Long, String, Long)] = buf.toList
    def restore(s: List[(Long, Long, String, Long)]): Unit = buf = s.toVector

    // ALL-ROWS capture (withRows only): per emitted match, the consumed
    // rows as (step-or-leaf, ts, id, tpe, value_c) in step order /
    // ascending positions — queued 1:1 with emitted matches, so the
    // rows fold pops exactly one entry per match it converts
    private val rowsQ =
      scala.collection.mutable.Queue.empty[
        List[(Int, Long, Long, String, Long)]]
    def popRows(): List[(Int, Long, Long, String, Long)] = rowsQ.dequeue()

    private final val Partial = 0
    private final val Complete = 1
    private final val Mismatch = 2

    // Of the last COMPLETE walk: per-step (per-LEAF for grouped)
    // consumed buffer positions, ascending (Nil for a zero-width
    // negation or an optional that took nothing), and the exclusive end
    // of the last consumed row. Every match opens at the buffer head:
    // the contiguous walk starts there and the relaxed walk first
    // prunes up to its first candidate start.
    private var spanPos: Array[List[Int]] = null
    private var matchEnd = -1

    /** RELAXED-contiguity walk — Flink CEP's followedBy with looping
      * relaxed states and negative patterns: memoized backtracking
      * over SUBSEQUENCE takes. A step's run is a subsequence of
      * matching rows (each additional loop row may skip non-matching
      * rows); greedy prefers the LONGEST take — and since a
      * subsequence run is never bounded by a non-matching row, a
      * below-cap run stays extendable by ANY future row, so greedy
      * commits only when the window closes over the start (futureOk
      * false) or at the end-of-input flush. A One step (bounds (1, 1))
      * takes the EARLIEST matching row, so an all-One pattern gets
      * earliest-next subsequence semantics. A negation step watches
      * the GAP to the next step's first consumed row (notFollowedBy —
      * a matching row there kills the branch); a TRAILING negation
      * watches the whole window horizon after the last consumed row
      * and completes at horizon expiry, which is what gives the
      * abandoned-cart pattern its emission point. The walk starts by
      * pruning rows before the first step-0 candidate (they can never
      * be consumed by this or any later start — keeps state
      * window-bounded).
      */
    private def walkRelaxedQ(fedTs: Long): Int = {
      // prune dead weight before the first candidate start
      var q0 = 0
      while (q0 < buf.length && !pattern(0).matches(buf(q0)._3)) q0 += 1
      if (q0 >= buf.length) { buf = Vector.empty; return Partial }
      if (q0 > 0) buf = buf.drop(q0)
      val n = buf.length
      val startTs = buf(0)._1
      val horizon = startTs + windowUs
      val futureOk = fedTs <= horizon
      val memo = Array.ofDim[Byte](pattern.length, n + 1)
      val taken = new Array[List[Int]](pattern.length)
      def accept(p: Int): Int = { matchEnd = p; Complete }
      // negWatch: symbol set of the negation step immediately before
      // step s (empty otherwise) — the gap to s's first consumed row
      def go(s: Int, p: Int, negWatch: Set[String]): Int = {
        if (s == pattern.length)
          return if (buf(p - 1)._1 - startTs <= windowUs) accept(p)
            else Mismatch
        val st = pattern(s)
        if (st.neg) {
          if (s == pattern.length - 1) {
            // TRAILING absence over the window horizon
            if (buf(p - 1)._1 - startTs > windowUs) return Mismatch
            var q = p
            while (q < n) {
              // a buffered row past the horizon proves no in-horizon
              // row can still arrive (rows are fed in ts order)
              if (buf(q)._1 > horizon) { taken(s) = Nil; return accept(p) }
              if (st.matches(buf(q)._3)) return Mismatch
              q += 1
            }
            if (futureOk) return Partial
            taken(s) = Nil
            accept(p)
          } else {
            // middle absence: delegate the gap watch to the next
            // (required — validateNeg) consuming step's scan. Zero
            // width: taken is Nil on any path through it (set before
            // the recursion — uniform with the consuming branch, though
            // cross refs to negs are rejected and never read it)
            taken(s) = Nil
            go(s + 1, p, st.syms)
          }
        } else {
          // memo reads AND writes are gated on memoOk: a position a
          // later step's cross-variable reference reaches back across is
          // path-dependent and must not be cached
          val mOk = memoOk(s)
          if (mOk && memo(s)(p) != 0)
            return if (memo(s)(p) == 3) Partial else Mismatch
          val (lo, hi) = st.bounds
          // CROSS-VARIABLE references read the current path's takes
          // (set before each recursion): FIRST/LAST of the referenced
          // step's consumed positions — a zero-take referenced span is
          // NULL, the row never matches (NULL-comparison semantics,
          // same as the contiguous walk's pool navigation)
          def crossOk(q: Int): Boolean =
            st.cross.forall { cr =>
              val tk = taken(cr.step)
              tk != null && tk.nonEmpty && cmpHolds(cr.cmp, buf(q)._4,
                buf(if (cr.first) tk.head else tk.last)._4)
            }
          // collect subsequence match positions from p; a negWatch row
          // BEFORE the first own-match kills the branch; rows past the
          // horizon end collection (they could never be consumed — the
          // final window check would fail — and bound extension). A row
          // matching the symbol but failing a cross predicate is a
          // NON-MATCHING row (relaxed contiguity skips it — Flink's
          // IterativeCondition reading: the condition is part of the
          // state's take test, and followedBy skips non-taken rows)
          val pos = scala.collection.mutable.ArrayBuffer.empty[Int]
          var q = p
          var stoppedByHorizon = false
          var killed = false
          while (q < n && pos.length < hi && !stoppedByHorizon && !killed) {
            if (buf(q)._1 > horizon) stoppedByHorizon = true
            else {
              val tpe = buf(q)._3
              if (st.matches(tpe) && crossOk(q)) pos += q
              else if (pos.isEmpty && negWatch.contains(tpe)) killed = true
              q += 1
            }
          }
          if (killed) { if (mOk) memo(s)(p) = 2; return Mismatch }
          val c = pos.length
          val canExtend = c < hi && !stoppedByHorizon
          // cross-TARGETED steps record their take BEFORE the
          // recursion (later steps' cross references read the current
          // path; Complete short-circuits, so the accepted path's
          // values are exactly what remains); the rest record on the
          // Complete unwind only — no per-attempt list allocation
          def rec(take: Int): Int = {
            if (crossTargeted(s)) taken(s) = pos.take(take).toList
            go(s + 1, if (take > 0) pos(take - 1) + 1 else p, Set.empty)
          }
          def commit(take: Int): Int = {
            if (!crossTargeted(s)) taken(s) = pos.take(take).toList
            Complete
          }
          if (!st.reluctant) {
            if (canExtend && futureOk) {
              if (mOk) memo(s)(p) = 3
              return Partial
            }
            var take = c
            while (take >= lo) {
              rec(take) match {
                case Complete => return commit(take)
                case Partial =>
                  if (mOk) memo(s)(p) = 3
                  return Partial
                case _ => take -= 1
              }
            }
          } else {
            var take = lo
            while (take <= c) {
              rec(take) match {
                case Complete => return commit(take)
                case Partial =>
                  if (mOk) memo(s)(p) = 3
                  return Partial
                case _ => take += 1
              }
            }
            if (canExtend && futureOk) {
              if (mOk) memo(s)(p) = 3
              return Partial
            }
          }
          if (mOk) memo(s)(p) = 2
          Mismatch
        }
      }
      val r = go(0, 0, Set.empty)
      if (r == Complete) spanPos = taken
      r
    }

    /** CONTIGUOUS walk: interpret the split-program with regex-greedy
      * backtracking — split arms in preference order, each leaf's takes
      * over the run of rows it matches in its quantifier's preference
      * order (greedy longest first, reluctant shortest first), the
      * first non-Mismatch outcome deciding. Two stream-correctness
      * rules the batch-regex view doesn't have:
      *
      *   - A leaf whose run reaches the buffer end below its cap may
      *     still grow with FUTURE rows. Greedy must prefer that longer
      *     take over any shorter-take completion available now, so the
      *     walk returns Partial (wait) — UNLESS the window already
      *     excludes future ends (fedTs > start + window: futureOk
      *     false), in which case the decision is forced now. A blocked
      *     completion is not lost: when the preferred branch resolves
      *     to Mismatch at a later feed, or futureOk turns false, the
      *     take loop reaches it then.
      *   - The window check lives at Accept (a parse ending beyond the
      *     window is a dead branch, and a SHORTER take may still fit —
      *     Flink's within() prunes NFA branches the same way).
      *     Completions may therefore land MID-buffer: the longest
      *     window-valid end can precede rows that arrived after it. A
      *     stale head may own such a completion, which is why no feed
      *     prunes heads by time before walking.
      *
      * Memo on (pc, position) — the continuation is fixed by pc, which
      * is what makes the program form memoizable where a tree walk with
      * continuations is not; codes 3 = Partial, 2 = Mismatch (Complete
      * short-circuits and is never stored).
      *
      * CROSS-VARIABLE DEFINE: a leaf's cross references read the
      * referenced LEAF's consumed-position pool as of the current path
      * — accumulated ACROSS group iterations. Cross-targeted leaves
      * record their take BEFORE the recursion (append in execution
      * order; restored on backtrack), so a body leaf referencing an
      * earlier body leaf sees the CURRENT iteration's rows too —
      * Flink's IterativeCondition reading. An empty pool (alternation
      * arm not taken, optional that consumed nothing, a first-set leaf
      * opening the match) is NULL: the row does not match.
      */
    private def walkProg(fedTs: Long): Int = {
      val n = buf.length
      if (n == 0) return Partial
      val startTs = buf(0)._1
      val futureOk = fedTs <= startTs + windowUs
      val memo = Array.ofDim[Byte](program.length, n + 1)
      // per-LEAF consumed positions, accumulated across group
      // iterations: each RunM frame on the accepting path prepends its
      // take's block as the stack unwinds (unwind order is reverse
      // execution order, so prepending restores execution order and
      // ascending positions per leaf). Frames off the accepting path
      // return Mismatch before recording; memo hits can't lose spans
      // because Complete is never memoized (it short-circuits).
      val taken = Array.fill(pattern.length)(List.empty[Int])
      // ZERO-WIDTH notNext: the physically next row — if one exists
      // inside the window horizon — must not match the neg symbol set;
      // a next row BEYOND the horizon is outside the assertion's scope
      // (pass), and no-next-row stays Partial until the window closes
      // (then the assertion is vacuously confirmed: any future row
      // lands past the horizon)
      def notNext(st: Step, pc: Int, p: Int): Int =
        if (p < n) {
          if (buf(p)._1 <= startTs + windowUs && st.matches(buf(p)._3))
            Mismatch
          else go(pc + 1, p)
        } else if (futureOk) Partial
        else go(pc + 1, p)
      def run(st: Step, leaf: Int, pc: Int, p: Int): Int = {
        val (lo, hi) = st.bounds
        // DEFINE predicates compare against the row cmpOff back —
        // buf(q - cmpOff), PREV(X.value, k) over PHYSICAL input rows
        // (contiguous buffers append every fed row and drop prefixes
        // only); q < cmpOff has no such row (None — a cmp step never
        // matches there). Cross navigation: FIRST/LAST over the
        // referenced leaf's current-path pool; empty pool = NULL = no
        // match, and a row failing it BOUNDS the run (contiguous
        // semantics: kill, not skip).
        def crossOk(q: Int): Boolean =
          st.cross.forall { cr =>
            val tk = taken(cr.step)
            tk.nonEmpty && cmpHolds(cr.cmp, buf(q)._4,
              buf(if (cr.first) tk.head else tk.last)._4)
          }
        def rowOk(q: Int): Boolean =
          st.matchesRow(buf(q)._3, buf(q)._4,
            if (q >= st.cmpOff) Some(buf(q - st.cmpOff)._4) else None) &&
            (st.cross.isEmpty || crossOk(q))
        var c = 0
        // the running-aggregate DEFINE (SUM <= cap): the first row that
        // would push the run's sum past the cap fails its predicate and
        // BOUNDS the run exactly like a non-matching row
        var runSum = 0L
        var capped = false
        while (p + c < n && c < hi && !capped && rowOk(p + c)) {
          st.sumCap match {
            case Some(cap) =>
              if (runSum + buf(p + c)._4 > cap) capped = true
              else { runSum += buf(p + c)._4; c += 1 }
            case None => c += 1
          }
        }
        // Preference order, first non-Mismatch outcome decides:
        //   GREEDY:    [future extension?, c, c-1, …, lo]
        //   RELUCTANT: [lo, lo+1, …, c, future extension?]
        // "future extension?" — the run reaching the buffer end below
        // its cap might still grow: the MOST preferred branch for
        // greedy and the LEAST for reluctant.
        val canExtend = p + c >= n && c < hi
        // cross-TARGETED leaves record their take BEFORE the recursion
        // (execution-order append, restored on backtrack) so later
        // leaves' cross references read the current path; the rest
        // record on the Complete unwind (reverse-order prepend)
        def attempt(take: Int): Int =
          if (crossTargeted(leaf)) {
            val saved = taken(leaf)
            taken(leaf) = saved ::: (p until p + take).toList
            val r = go(pc + 1, p + take)
            if (r != Complete) taken(leaf) = saved
            r
          } else {
            val r = go(pc + 1, p + take)
            if (r == Complete)
              taken(leaf) = (p until p + take).toList ::: taken(leaf)
            r
          }
        if (!st.reluctant) {
          if (canExtend && futureOk) return Partial
          var take = c
          while (take >= lo) {
            val r = attempt(take)
            if (r != Mismatch) return r
            take -= 1
          }
        } else {
          var take = lo
          while (take <= c) {
            val r = attempt(take)
            if (r != Mismatch) return r
            take += 1
          }
          if (canExtend && futureOk) return Partial
        }
        Mismatch
      }
      def go(pc: Int, p: Int): Int = program(pc) match {
        case AcceptI =>
          // p >= 1: every program consumes a row (validateCommon's
          // required first step, validateGrouped's gMinLen >= 1)
          if (buf(p - 1)._1 - startTs <= windowUs) {
            matchEnd = p
            Complete
          } else Mismatch
        case JumpI(k) => go(k, p)
        case SplitI(a, b) =>
          val r = go(a, p)
          if (r != Mismatch) r else go(b, p)
        case NotNextI(st)   => memoized(pc, p)(notNext(st, pc, p))
        case RunM(st, leaf) => memoized(pc, p)(run(st, leaf, pc, p))
      }
      def memoized(pc: Int, p: Int)(body: => Int): Int = {
        val mOk = memoOk(pc)
        if (mOk && memo(pc)(p) != 0)
          return if (memo(pc)(p) == 3) Partial else Mismatch
        val r = body
        if (mOk && r != Complete) memo(pc)(p) = if (r == Partial) 3 else 2
        r
      }
      val r = go(0, 0)
      if (r == Complete) spanPos = taken
      r
    }

    /** Drop through the next candidate start (a first-set row after the
      * current head); false when none remains (buffer emptied).
      */
    private def dropToNextStart(): Boolean = {
      val i = buf.indexWhere(r => firstPred(r._3), 1)
      if (i < 0) { buf = Vector.empty; false }
      else { buf = buf.drop(i); true }
    }

    /** MEASURES fold over the just-completed walk's per-step consumed
      * positions.
      */
    private def stepAggs(): List[StepAgg] =
      pattern.indices.map { s =>
        val ps = spanPos(s)
        if (ps.isEmpty)
          StepAgg(s, pattern(s).symbol, 0L, 0L, None, None, None, None)
        else {
          var sum = 0L
          var mn = Long.MaxValue
          var mx = Long.MinValue
          ps.foreach { i =>
            val v = buf(i)._4
            sum += v
            if (v < mn) mn = v
            if (v > mx) mx = v
          }
          StepAgg(s, pattern(s).symbol, ps.length.toLong, sum,
            Some(mn), Some(mx), Some(buf(ps.head)._2),
            Some(buf(ps.last)._2))
        }
      }.toList

    /** Feed one row; emits every match this row closes, each with its
      * per-step MEASURES. SKIP PAST LAST ROW machines emit at most one
      * (acceptance clears the buffer); the other strategies resume
      * INSIDE the accepted match ([[AfterMatch]]), so one fed row can
      * close several overlapping matches (emitted in start order —
      * the leftmost-preference scan order).
      */
    def feedM(ts: Long, id: Long, tpe: String,
        valueC: Long): List[(CepMatch, List[StepAgg])] = {
      if (withTimeouts) pruneStaleHeads(ts)
      // relaxed mode: a row outside the alphabet can never join a
      // match, but pendings also resolve by TIME (window expiry over a
      // greedy run or a trailing absence), so its timestamp still
      // advances the machine even though the row itself is dropped
      if (!contiguous && !alphabet.contains(tpe)) return advance(ts)
      buf = buf :+ ((ts, id, tpe, valueC))
      val out = scala.collection.mutable.ListBuffer
        .empty[(CepMatch, List[StepAgg])]
      emitLoop(ts, out)
      timeoutsThen(out)
    }

    // window-pruned partials awaiting this feed's return (withTimeouts
    // only; drained within the same feed, never part of snapshot state)
    private val timeoutsQ = scala.collection.mutable.ListBuffer
      .empty[(CepMatch, List[StepAgg])]

    // timeouts chronologically precede the same call's matches
    private def timeoutsThen(out: scala.collection.mutable.ListBuffer[
        (CepMatch, List[StepAgg])]): List[(CepMatch, List[StepAgg])] =
      if (timeoutsQ.isEmpty) out.toList
      else {
        val t = timeoutsQ.toList
        timeoutsQ.clear()
        t ++ out.toList
      }

    /** The head's partial match as a timeout record: with the post-emit
      * invariant every buffered row is consumed by the head's prefix
      * parse, so the partial IS the buffer. It carries the EMPTY-aggs
      * sentinel the timeout surfaces key on (a real match always
      * carries one StepAgg per step).
      */
    private def headPartial: (CepMatch, List[StepAgg]) =
      (CepMatch(-1L, buf.head._2, buf.head._1, buf.last._2, buf.last._1,
        buf.length.toLong), Nil)

    /** Whether the head still walks Partial — its parse consumed every
      * buffered row and waits on more. The walk runs with futureOk held
      * true (a fedTs before every horizon): only running out of rows
      * makes it wait, never the time.
      */
    private def headPending: Boolean = walkProg(Long.MinValue) == Partial

    /** withTimeouts only: drop the heads whose window closed at `ts`, a
      * head still waiting on rows surfacing first as a timed-out partial.
      */
    private def pruneStaleHeads(ts: Long): Unit =
      while (buf.nonEmpty && ts - buf.head._1 > windowUs) {
        if (headPending) timeoutsQ += headPartial
        dropToNextStart()
      }

    /** TIME-ADVANCE without a row: resolve every pending decision
      * whose window closes at or before `ts` — greedy relaxed runs
      * commit their takes and trailing absences confirm once `ts`
      * passes the start's horizon. The streaming processor calls this
      * from its event-time timers (absence emission must not wait for
      * a next row); the batch fold gets the same effect from fed-row
      * timestamps plus the end-of-input [[flush]].
      */
    def advance(ts: Long): List[(CepMatch, List[StepAgg])] = {
      // with timeouts on, a watermark advance expires stale heads the
      // way a fed row's prune would — the streaming processor's
      // horizon timers land here, so an abandoned partial times out
      // even if no further row ever arrives for its key
      if (withTimeouts) pruneStaleHeads(ts)
      val out = scala.collection.mutable.ListBuffer
        .empty[(CepMatch, List[StepAgg])]
      emitLoop(ts, out)
      timeoutsThen(out)
    }

    /** The earliest instant a pending decision could still be waiting
      * on: the current head's window horizon. None when no state is
      * buffered. The streaming processor registers an event-time timer
      * here so horizon-gated emissions (trailing absences, greedy
      * relaxed takes) fire even if no further row ever arrives.
      */
    def pendingHorizonUs: Option[Long] = buf.headOption.map(_._1 + windowUs)

    /** The walk-emit-fallback loop shared by [[feedM]], [[advance]] and
      * [[flush]]: walk the buffer, emit completions (resuming per the
      * after-match strategy), fall back through candidate starts on
      * mismatches, stop on Partial. A Complete walk has already passed
      * its window check at Accept.
      */
    private def emitLoop(fedTs: Long,
        out: scala.collection.mutable.ListBuffer[(CepMatch, List[StepAgg])])
        : Unit = {
      var going = buf.nonEmpty
      while (going) {
        val r = if (program != null) walkProg(fedTs) else walkRelaxedQ(fedTs)
        r match {
          case Partial => going = false
          case Complete =>
            val (sTs, sId, _, _) = buf(0)
            val (eTs, eId, _, _) = buf(matchEnd - 1)
            val n = spanPos.iterator.map(_.length.toLong).sum
            val aggs = if (needsAggs) stepAggs() else Nil
            if (withRows) rowsQ += pattern.indices.iterator.flatMap { s =>
              spanPos(s).iterator.map { i =>
                val (ts, id, tpe, vc) = buf(i)
                (s, ts, id, tpe, vc)
              }
            }.toList
            out += ((CepMatch(-1L, sId, sTs, eId, eTs, n), aggs))
            // resume point per strategy; every case drops >= 1 row
            // (validateAfter), so the loop strictly progresses — the
            // retained suffix may close further matches at this same
            // fed row, keep walking
            val resume = after match {
              case SkipPastLast   => matchEnd
              case SkipToNextRow  => 1
              case SkipToFirst(k) => spanPos(k).head
              case SkipToLast(k)  => spanPos(k).last
            }
            buf = buf.drop(resume)
            going = buf.nonEmpty
          case _ =>
            going = dropToNextStart()
        }
      }
    }

    /** END-OF-INPUT flush — SQL MATCH_RECOGNIZE finite-input semantics:
      * end of partition RESOLVES greed. A pending greedy run (a
      * trailing quantified step whose take could still grow with future
      * rows) commits its current take because no future row exists; the
      * walk runs with a fedTs past every window, so the futureOk gate —
      * the only source of pending — is closed and every buffered
      * candidate resolves to Complete or Mismatch. The batch folds call
      * this at each key boundary and at partition end; the STREAMING
      * processor never does (a stream has no end — pending runs stay
      * pending, the documented streaming contract, which is why the
      * stream twins of trailing-quantified gates emit strict subsets of
      * their batch twins).
      */
    def flush(): List[(CepMatch, List[StepAgg])] = {
      val out = scala.collection.mutable.ListBuffer
        .empty[(CepMatch, List[StepAgg])]
      if (withTimeouts) {
        // end-of-input under watermark → ∞ (Flink CEP's reading): the
        // required-One tail means flush can complete nothing — the
        // post-emit buffer walks Partial — so every head surviving to
        // here either TIMES OUT (its rows are the partial match) or
        // already died to a mismatch fallback
        var going = buf.nonEmpty
        while (going) {
          if (headPending) out += headPartial
          going = dropToNextStart()
        }
      } else emitLoop(Long.MaxValue, out)
      buf = Vector.empty
      out.toList
    }

    /** Match-only convenience feed (value 0); at most one match under
      * SKIP PAST LAST ROW — the historical single-emit surface the
      * batch fold, streaming processor and property specs consume.
      */
    def feed(ts: Long, id: Long, tpe: String): Option[CepMatch] =
      feedM(ts, id, tpe, 0L).headOption.map(_._1)
  }

  /** Library form over any (user_id, ts, event_id, event_type) frame.
    * `after` selects the AFTER MATCH strategy — see [[AfterMatch]]
    * (default SKIP PAST LAST ROW, matches never overlap).
    *
    * END-OF-INPUT: batch input is FINITE, and per SQL MATCH_RECOGNIZE /
    * Flink batch semantics the end of a partition resolves greed — a
    * trailing quantified step's run that reaches end-of-data commits
    * its current take ([[Machine.flush]] at each key boundary and
    * partition end). The STREAMING twin
    * (`StreamingOps.cepStream`) deliberately differs: a stream has no
    * end, so such runs stay pending forever — its results are a strict
    * subset of this operator's on the same finite prefix whenever the
    * pattern ends in a quantified/optional step.
    *
    * COST MODEL: every pattern runs the memoized backtracking walk at
    * O(pattern · buffer²) worst case per feed — the same complexity
    * class as Flink's shared-buffer NFA; inside the collapse-closure
    * class (see [[closureHolds]]) a shorter take dies at its first
    * row, so a feed costs O(pattern · buffer) there. The buffer is
    * WINDOW-BOUNDED (a head older than the window
    * can never complete), so per-key state and per-feed work scale
    * with the window span's row count, never the series length. A
    * pathological key (single-symbol stream under a wide window) pays
    * the quadratic-in-window worst case; narrow the window, not the
    * data, to bound it.
    */
  def cepMatchOf(events: DataFrame, pattern: Seq[Step],
      windowUs: Long, after: AfterMatch = SkipPastLast)
      : Dataset[CepMatch] =
    matchScan(events, pattern.toIndexedSeq, windowUs, after,
      contiguous = true, grouped = None)

  /** RELAXED-CONTIGUITY pattern matching — Flink CEP's `followedBy`
    * class: rows between step matches are skipped (a One step takes
    * the EARLIEST matching row after the previous step's), vs
    * [[cepMatchOf]]'s MATCH_RECOGNIZE strict contiguity where an
    * intervening non-matching row breaks the partial. Since r13 the
    * class also carries:
    *
    *   - QUANTIFIED steps (Flink's looping relaxed states): a run is
    *     a SUBSEQUENCE of matching rows; the greedy default takes the
    *     longest, and because any future row could extend a
    *     subsequence run, greedy commits only when the window closes
    *     over the start or at the batch end-of-input flush (Flink's
    *     greedy relaxed oneOrMore materializes at the window boundary
    *     the same way). `reluctant` gives the shortest-take dual with
    *     eager emission.
    *   - NEGATION steps (`neg = true` — Flink's `notFollowedBy`):
    *     zero-width absence assertions over the gap to the next step's
    *     first consumed row, or — trailing — over the whole window
    *     horizon after the last consumed row, emitting at horizon
    *     expiry (the abandoned-cart pattern). In streaming, horizon
    *     expiry rides event-time timers (`StreamingOps.cepStream`).
    *
    * Every relaxed pattern runs one memoized backtracking walk over
    * subsequence takes (a One step takes the earliest matching row;
    * same cost class as the contiguous walk — see [[cepMatchOf]]'s
    * cost model). Same scale
    * shape: one key shuffle + segmented scan; per-key state is bounded
    * by the window span of ALPHABET rows only — rows outside the
    * pattern's symbols are dropped at the door, never buffered (their
    * timestamps still advance horizon-gated pendings).
    */
  def cepFollowedByOf(events: DataFrame, pattern: Seq[Step],
      windowUs: Long, after: AfterMatch = SkipPastLast)
      : Dataset[CepMatch] =
    matchScan(events, pattern.toIndexedSeq, windowUs, after,
      contiguous = false, grouped = None)

  /** The per-partition segmented scan shared by the batch folds: one
    * machine per key, every feed's emissions drained in order, and a
    * [[Machine.flush]] at each key boundary and at partition end (the
    * SQL finite-input contract — end of partition resolves greed).
    * Lazy single-pass iterator: holds the one live machine plus a
    * small emission queue, never the partition.
    */
  private def segmentedScan[O](it: Iterator[(Long, Long, Long, String, Long)],
      mk: () => Machine)(
      conv: (Long, Machine, (CepMatch, List[StepAgg])) => Iterator[O])
      : Iterator[O] =
    new Iterator[O] {
      private var key = Long.MinValue
      private var m: Machine = null
      private val q = scala.collection.mutable.Queue.empty[O]
      private def pump(): Unit = {
        while (q.isEmpty && it.hasNext) {
          val (u, ts, id, tpe, vc) = it.next()
          if (m == null) { key = u; m = mk() }
          else if (u != key) {
            val fm = m
            fm.flush().foreach(r => q ++= conv(key, fm, r))
            key = u; m = mk()
          }
          val cm = m
          cm.feedM(ts, id, tpe, vc).foreach(r => q ++= conv(u, cm, r))
        }
        if (q.isEmpty && !it.hasNext && m != null) {
          val fm = m
          fm.flush().foreach(r => q ++= conv(key, fm, r))
          m = null
        }
      }
      def hasNext: Boolean = { pump(); q.nonEmpty }
      def next(): O = { pump(); q.dequeue() }
    }

  /** The events row every fold scans: (user_id, ts_us, event_id,
    * event_type, value_c), value_c the `value` column in exact cents, or
    * 0 where nothing reads it (symbol-only patterns keep working on
    * frames without `value`).
    */
  private[graft] def eventsRow(events: DataFrame, withValue: Boolean)
      : DataFrame =
    events.select(col("user_id").cast("long"),
      unix_micros(col("ts")).as("ts_us"), col("event_id").cast("long"),
      col("event_type"),
      (if (withValue) round(col("value") * 100).cast("long") else lit(0L))
        .as("value_c"))

  /** The one keyed scan of the batch folds: `mk`'s Machine is built once
    * on the driver first (its constructor is the pattern check, so a
    * rejected pattern fails at call time, before any job), then one key
    * repartition, a per-partition (user_id, ts, event_id) sort and
    * [[segmentedScan]].
    */
  private def keyedScan[O <: Product : TypeTag](events: DataFrame,
      withValue: Boolean, mk: () => Machine)(
      conv: (Long, Machine, (CepMatch, List[StepAgg])) => Iterator[O])
      : Dataset[O] = {
    mk()
    val ss = events.sparkSession
    import ss.implicits._
    eventsRow(events, withValue)
      .as[(Long, Long, Long, String, Long)]
      .repartition(col("user_id"))
      .sortWithinPartitions(col("user_id"), col("ts_us"), col("event_id"))
      .mapPartitions(it => segmentedScan(it, mk)(conv))
  }

  /** Match-only fold (flat, relaxed or grouped): the value channel rides
    * along only when a DEFINE predicate reads it.
    */
  private def matchScan(events: DataFrame, leaves: IndexedSeq[Step],
      windowUs: Long, after: AfterMatch, contiguous: Boolean,
      grouped: Option[GPat]): Dataset[CepMatch] =
    keyedScan(events, leaves.exists(st => st.cmp.isDefined ||
        st.sumCap.isDefined || st.cross.nonEmpty),
      () => new Machine(leaves, windowUs, after, contiguous, grouped,
        needsAggs = false))(
      (u, _, r) => Iterator.single(r._1.copy(user_id = u)))

  /** MEASURES fold (flat or grouped): one [[CepMeasured]] row per
    * (match, step or leaf).
    */
  private def measuresScan(events: DataFrame, leaves: IndexedSeq[Step],
      windowUs: Long, after: AfterMatch, grouped: Option[GPat])
      : Dataset[CepMeasured] =
    keyedScan(events, withValue = true,
      () => new Machine(leaves, windowUs, after, grouped = grouped)) {
      case (u, _, (c, aggs)) => aggs.iterator.map(measuredOf(u, c, _))
    }

  /** One step's MEASURES row of a match completed on key `u` — shared by
    * the batch measures folds and the streaming measured channel.
    */
  private[graft] def measuredOf(u: Long, c: CepMatch, a: StepAgg)
      : CepMeasured =
    CepMeasured(u, c.start_event_id, c.start_ts_us, c.end_event_id,
      c.end_ts_us, c.n_rows, a.step, a.symbol, a.cnt, a.sum_value_c,
      a.min_value_c, a.max_value_c, a.first_event_id, a.last_event_id)

  /** One match × step row of [[cepMeasuresOf]]: the match identity
    * columns plus the step's MEASURES (COUNT, SUM of cents value,
    * FIRST/LAST event id — null when an optional step took no rows).
    */
  final case class CepMeasured(user_id: Long, start_event_id: Long,
    start_ts_us: Long, end_event_id: Long, end_ts_us: Long, n_rows: Long,
    step: Int, symbol: String, cnt: Long, sum_value_c: Long,
    min_value_c: Option[Long], max_value_c: Option[Long],
    first_event_id: Option[Long], last_event_id: Option[Long])

  /** MATCH_RECOGNIZE MEASURES — [[cepMatchOf]] with per-step
    * aggregates over the pattern variables: one output row per
    * (match, step), carrying COUNT/SUM/MIN/MAX/FIRST/LAST of the rows
    * that step consumed (AVG is sum/cnt downstream; value is the events
    * `value` in exact cents). The automaton already buffers the match
    * rows, so the measures are a driver-free fold over the completed
    * walk's step spans — same shuffle shape as the match-only form
    * (one key repartition, per-partition sort, segmented scan).
    */
  def cepMeasuresOf(events: DataFrame, pattern: Seq[Step],
      windowUs: Long, after: AfterMatch = SkipPastLast): Dataset[CepMeasured] =
    measuresScan(events, pattern.toIndexedSeq, windowUs, after, None)

  /** One output row of the ALL-ROWS-PER-MATCH folds ([[cepRowsOf]] /
    * [[cepRowsGroupedOf]]): a consumed input row with its match's
    * identity columns riding along. `step` is the flat step index (or
    * the leaf index in [[gLeaves]] order for grouped patterns) — the
    * SQL surface maps it to the pattern variable name (CLASSIFIER).
    * The match id is (user_id, start_event_id): start event ids are
    * unique per key, so no extra match-numbering state is needed.
    */
  final case class CepRowMatched(user_id: Long, start_event_id: Long,
    start_ts_us: Long, end_event_id: Long, end_ts_us: Long, n_rows: Long,
    event_id: Long, ts_us: Long, event_type: String, value_c: Long,
    step: Int)

  /** One outcome row of [[cepTimedOutOf]]: a completed match
    * (`timed_out = false`, ends on the pattern's closing row) or a
    * TIMED-OUT PARTIAL (`timed_out = true`, ends on the last row the
    * partial consumed before its window expired; n_rows counts the
    * partial's rows).
    */
  final case class CepOutcome(user_id: Long, start_event_id: Long,
    start_ts_us: Long, end_event_id: Long, end_ts_us: Long, n_rows: Long,
    timed_out: Boolean)

  /** Flink CEP's TIMED-OUT PARTIAL MATCHES (`within` +
    * `TimedOutPartialMatchHandler` — the abandoned-transaction
    * surface): matches AND window-expired partials in one pass, each
    * partial surfaced exactly once, at the first row past its head's
    * horizon (row-driven, the batch analogue of Flink's timeout
    * timer) or at end-of-input (watermark → ∞, Flink's bounded-job
    * reading — every surviving partial resolves). Restricted to the
    * contiguous collapse-closure class with a required one-row tail
    * under SKIP PAST LAST ROW, where "the" partial is well-defined:
    * the post-emit buffer invariantly holds exactly the head's prefix
    * parse. Mismatch-killed heads (a contradicting row INSIDE the
    * window) are kills, not timeouts — Flink's own distinction. Same
    * one-shuffle segmented scan as every CEP fold.
    */
  def cepTimedOutOf(events: DataFrame, pattern: Seq[Step],
      windowUs: Long): Dataset[CepOutcome] = {
    val pat = pattern.toIndexedSeq
    keyedScan(events, withValue = false, () => new Machine(pat, windowUs,
      SkipPastLast, contiguous = true, withTimeouts = true)) {
      case (u, _, (c, aggs)) =>
        // the empty-aggs sentinel marks a timeout (real matches
        // carry one StepAgg per step — patterns are non-empty)
        Iterator.single(CepOutcome(u, c.start_event_id, c.start_ts_us,
          c.end_event_id, c.end_ts_us, c.n_rows, aggs.isEmpty))
    }
  }

  /** cep_timeout gate — the funnel under a 1-day completion window
    * with timed-out partials surfaced: every click is independently a
    * head here (funnel spans contain no clicks), so the oracle
    * classifies each click definitionally — a view run crossing the
    * horizon times out at the first late view (partial = the rows
    * before it), a completing purchase inside the horizon matches, a
    * contradicting row inside the horizon kills silently, end-of-data
    * times out whatever survived.
    */
  def cepTimeout(s: SparkSession, dir: String): DataFrame =
    cepTimedOutOf(graft.Tables.t(s, dir, "events"),
      Seq(Step("click"), Step("view", plus = true), Step("purchase")),
      86400000000L)
      .toDF()
      .orderBy(col("user_id"), col("start_ts_us"), col("start_event_id"))

  private def rowsScan(events: DataFrame, leaves: IndexedSeq[Step],
      windowUs: Long, after: AfterMatch, grouped: Option[GPat])
      : Dataset[CepRowMatched] =
    keyedScan(events, withValue = true, () => new Machine(leaves, windowUs,
      after, contiguous = true, grouped = grouped, withRows = true,
      needsAggs = false)) {
      case (u, m, (c, _)) =>
        m.popRows().iterator.map { case (step, ts, id, tpe, vc) =>
          CepRowMatched(u, c.start_event_id, c.start_ts_us,
            c.end_event_id, c.end_ts_us, c.n_rows, id, ts, tpe, vc, step)
        }
    }

  /** ALL ROWS PER MATCH — the SQL standard's other MATCH_RECOGNIZE
    * output mode (Flink's planner ships both): one output row per
    * CONSUMED input row instead of one per match, each carrying the
    * match identity (user_id, start/end ids and timestamps, n_rows),
    * the row's own columns, and the step index that consumed it (→
    * CLASSIFIER at the SQL surface). Zero-width negation steps consume
    * nothing and contribute no rows, exactly as the standard's
    * excluded/empty variables. Same shuffle shape as [[cepMatchOf]];
    * the only extra cost is the per-match row capture, paid only on
    * this fold (`withRows` machines).
    */
  def cepRowsOf(events: DataFrame, pattern: Seq[Step],
      windowUs: Long, after: AfterMatch = SkipPastLast)
      : Dataset[CepRowMatched] =
    rowsScan(events, pattern.toIndexedSeq, windowUs, after, None)

  /** ALL ROWS PER MATCH over a GROUP-QUANTIFIER pattern: `step` is the
    * leaf's index in [[gLeaves]] order, and a repeated group's leaf
    * accumulates rows across iterations (the split-program walk records
    * per-leaf consumed positions on its accepting path since r14).
    * Alternation arms not taken contribute no rows.
    */
  def cepRowsGroupedOf(events: DataFrame, gpat: GPat,
      windowUs: Long, after: AfterMatch = SkipPastLast)
      : Dataset[CepRowMatched] =
    rowsScan(events, gLeaves(gpat).toIndexedSeq, windowUs, after,
      Some(gpat))

  /** MEASURES over GROUP-QUANTIFIER patterns — [[cepMeasuresOf]]'s
    * grouped twin: one output row per (match, LEAF in [[gLeaves]]
    * order), aggregating every row that leaf consumed ACROSS group
    * iterations (`PATTERN ((A B)+ C)` answers `COUNT(A.*)` /
    * `SUM(A.value)` over all iterations' A rows — Flink/Calcite's
    * reading of measures over repeated groups). A leaf on no accepting
    * path (an alternation arm not taken) emits the zero row (cnt 0,
    * null min/max/first/last), like an optional flat step that took
    * nothing. Same scan shape as [[cepMatchGroupedOf]].
    */
  def cepMeasuresGroupedOf(events: DataFrame, gpat: GPat,
      windowUs: Long, after: AfterMatch = SkipPastLast)
      : Dataset[CepMeasured] =
    measuresScan(events, gLeaves(gpat).toIndexedSeq, windowUs, after,
      Some(gpat))

  /** cep_funnel — the gate pattern: click → view+ → purchase over
    * contiguous per-user rows, completing within 7 days (the synthetic
    * corpus has uniform types with ~7 h median intra-user gaps, so a
    * session-scale window would be vacuously empty — 7 days yields a
    * non-trivial match set here, and the window-violation branch is
    * spec-pinned on a planted corpus where it bites). The DuckDB
    * oracle replays it definitionally as gaps-and-islands SQL: a match
    * is (last row of a click island, a whole view island, first row of
    * the adjacent purchase island) — provably the greedy automaton's
    * answer for this pattern class (restarting on a repeated `click`
    * makes the LAST click the match start; greed consumes the maximal
    * view island; SKIP PAST LAST ROW uses only the purchase island's
    * first row).
    */
  def cepFunnel(s: SparkSession, dir: String): DataFrame =
    cepMatchOf(graft.Tables.t(s, dir, "events"),
      Seq(Step("click", plus = false), Step("view", plus = true),
        Step("purchase", plus = false)),
      windowUs = 7L * 24 * 3600 * 1000000)
      .toDF()
      .orderBy(col("user_id"), col("start_ts_us"), col("start_event_id"))

  /** cep_revisit — the WIDENED pattern class in the driver gate: a
    * NON-ADJACENT symbol repeat (view → click → view, all One steps),
    * the class the round-10 pairwise-distinct automaton `require`-
    * rejected and the shared-buffer rebuild supports (the trailing
    * `view` of a window-killed attempt is itself the next candidate
    * start — exactly the buffer-fallback path). The 24 h window binds
    * on the gate corpus (50 of 74 contiguous view-click-view triples
    * survive it at sf0.01), so the window-violation fallback is
    * exercised by the oracle, not just specs. For a One-only pattern,
    * greedy leftmost + SKIP PAST LAST ROW is definitionally "scan the
    * window-valid contiguous triples in row order, accept the first,
    * then the next with start_rn > accepted_rn + 2" — the DuckDB
    * oracle replays that selection with a recursive CTE over
    * precomputed next-candidate pointers.
    */
  def cepRevisit(s: SparkSession, dir: String): DataFrame =
    cepMatchOf(graft.Tables.t(s, dir, "events"),
      Seq(Step("view", plus = false), Step("click", plus = false),
        Step("view", plus = false)),
      windowUs = 24L * 3600 * 1000000)
      .toDF()
      .orderBy(col("user_id"), col("start_ts_us"), col("start_event_id"))

  /** cep_optional — the OPTIONAL-step class in a driver gate:
    * click → error? → purchase within 12 h (both shapes bind at gate
    * SF: ~259 direct pairs and ~27 error-mediated triples survive the
    * window, which kills ~30% of each). Oracle simplification this
    * pattern affords: a candidate's interior rows are error/purchase
    * (never click), so no candidate can start inside another — SKIP
    * PAST LAST ROW excludes nothing, and greedy-leftmost selection is
    * definitionally ALL window-valid candidates (the machine still
    * runs its full fallback logic; the revisit gate covers the
    * overlapping-candidate chain).
    */
  def cepOptional(s: SparkSession, dir: String): DataFrame =
    cepMatchOf(graft.Tables.t(s, dir, "events"),
      Seq(Step("click", plus = false),
        Step("error", plus = false, opt = true),
        Step("purchase", plus = false)),
      windowUs = 12L * 3600 * 1000000)
      .toDF()
      .orderBy(col("user_id"), col("start_ts_us"), col("start_event_id"))

  /** cep_alternation — the ALTERNATION class in a driver gate:
    * click → (view|error)+ → purchase within 24 h (binds: 133 of 264
    * funnels survive at sf0.01). The oracle is the cep_funnel islands
    * CTE over the CLASS column (view/error collapse to one symbol
    * class — exactly what a set step is), window predicate included;
    * killed candidates don't interact (funnel-shape islands are
    * disjoint), the same argument the stream_cep gate already proves
    * under a binding window.
    */
  def cepAlternation(s: SparkSession, dir: String): DataFrame =
    cepMatchOf(graft.Tables.t(s, dir, "events"),
      Seq(Step("click", plus = false),
        Step("view", plus = true, alt = Set("error")),
        Step("purchase", plus = false)),
      windowUs = 24L * 3600 * 1000000)
      .toDF()
      .orderBy(col("user_id"), col("start_ts_us"), col("start_event_id"))

  /** cep_bounded — the BOUNDED-REPEAT class in a driver gate:
    * click → view{2,3} → purchase within 7 d. BOTH bounds bind at gate
    * SF (72 one-view funnels fall below lo, 3 of ≥4 views exceed hi;
    * 15 match): a view run longer than hi leaves a view the purchase
    * step can't match — by collapse-closure disjointness no parse
    * exists from that start at all, which is why the greedy capped
    * take stays exact. Oracle: the funnel islands CTE with the island
    * length BETWEEN the bounds.
    */
  def cepBounded(s: SparkSession, dir: String): DataFrame =
    cepMatchOf(graft.Tables.t(s, dir, "events"),
      Seq(Step("click", plus = false),
        Step("view", plus = false, rep = Some((2, 3))),
        Step("purchase", plus = false)),
      windowUs = 7L * 24 * 3600 * 1000000)
      .toDF()
      .orderBy(col("user_id"), col("start_ts_us"), col("start_event_id"))

  /** cep_measures — the MEASURES clause over the gate funnel
    * (click → view+ → purchase, 7 d window): per match, each step's
    * COUNT / SUM(value_c) / FIRST / LAST. The funnel islands oracle
    * extends naturally: the click step is the click island's LAST row
    * (cnt 1), the view step the WHOLE view island (its count, value
    * sum and boundary ids), the purchase step the purchase island's
    * FIRST row — three rows per match, definitionally.
    */
  def cepMeasures(s: SparkSession, dir: String): DataFrame =
    cepMeasuresOf(graft.Tables.t(s, dir, "events"),
      Seq(Step("click", plus = false), Step("view", plus = true),
        Step("purchase", plus = false)),
      windowUs = 7L * 24 * 3600 * 1000000)
      .toDF()
      .orderBy(col("user_id"), col("start_ts_us"), col("start_event_id"),
        col("step"))

  /** cep_skip_next — AFTER MATCH SKIP TO NEXT ROW on the revisit
    * pattern (view → click → view, 24 h): acceptance resumes at the
    * row after the match's first row, so overlapping matches all emit
    * and the answer is definitionally ALL window-valid contiguous
    * triples — provably different from cep_revisit's SKIP PAST LAST
    * ROW subset (the strategies differ whenever consecutive valid
    * triples overlap, which the gate corpus has). The oracle is the
    * revisit candidate CTE with the recursive skip-selection removed.
    */
  def cepSkipNext(s: SparkSession, dir: String): DataFrame =
    cepMatchOf(graft.Tables.t(s, dir, "events"),
      Seq(Step("view", plus = false), Step("click", plus = false),
        Step("view", plus = false)),
      windowUs = 24L * 3600 * 1000000, after = SkipToNextRow)
      .toDF()
      .orderBy(col("user_id"), col("start_ts_us"), col("start_event_id"))

  /** cep_skip_first — AFTER MATCH SKIP TO FIRST click on
    * view+ click view (24 h): acceptance resumes at the click row, so
    * the view-run suffix re-matches SKIP TO NEXT ROW would emit are
    * skipped, but a chain continuing from the trailing view still
    * emits — the selective strategy, provably between the other two
    * (Round12Spec pins a corpus where all three differ). On the gate
    * corpus the answer is definitional: one match per (view-island,
    * single-click island, view-island) adjacency, starting at the
    * island's LEFTMOST window-valid view (the window-kill fallback
    * binds: 2 of the 50 emitting candidates at sf0.01 lose their
    * leftmost start to the 24 h window and emit a later one; 24
    * candidates die entirely).
    */
  def cepSkipFirst(s: SparkSession, dir: String): DataFrame =
    cepMatchOf(graft.Tables.t(s, dir, "events"),
      Seq(Step("view", plus = true), Step("click", plus = false),
        Step("view", plus = false)),
      windowUs = 24L * 3600 * 1000000, after = SkipToFirst(1))
      .toDF()
      .orderBy(col("user_id"), col("start_ts_us"), col("start_event_id"))

  /** cep_followed_by — the RELAXED-CONTIGUITY funnel (click → view →
    * purchase with arbitrary rows between steps, 12 h window, SKIP
    * PAST LAST ROW): each step takes the earliest matching row after
    * the previous step's. Both selection mechanisms bind at sf0.01:
    * the window kills 1677 of 1722 subsequence parses, and the greedy
    * non-overlap cut drops 3 of the 45 valid candidates (42 emit).
    * The oracle is the definitional candidate set (per click, the
    * earliest following view then earliest following purchase) under
    * the same recursive greedy selection cep_revisit uses.
    */
  def cepFollowedBy(s: SparkSession, dir: String): DataFrame =
    cepFollowedByOf(graft.Tables.t(s, dir, "events"),
      Seq(Step("click", plus = false), Step("view", plus = false),
        Step("purchase", plus = false)),
      windowUs = 12L * 3600 * 1000000)
      .toDF()
      .orderBy(col("user_id"), col("start_ts_us"), col("start_event_id"))

  /** cep_backtrack — a pattern OUTSIDE the collapse-closure class:
    * view+ view (adjacent same symbol — regex `a+a`), 24 h window.
    * Greedy view+ must BACK OFF one row so the final One step can take
    * the run's last view, and the in-walk window check makes the
    * backtracking bind further: a run spanning beyond the window emits
    * the LONGEST window-valid prefix, then re-chunks the remainder
    * under SKIP PAST LAST. A chunk RESOLVES when a later row proves it
    * can't grow — a non-view row bounding the run, or any same-user
    * row past the chunk start's window; a final chunk reaching an
    * unbroken end-of-data run stays pending forever (exactly the
    * streaming contract — greed needs the next row to commit). Every
    * a final chunk reaching an unbroken end-of-data run resolves at
    * the batch END-OF-INPUT flush (SQL finite-input semantics — see
    * [[cepMatchOf]]; only the STREAMING twin keeps it pending).
    * Every mechanism binds at sf0.01 / 24 h: 285 chunks emit (280 by
    * bounding row or window staleness + 5 by the end-of-input flush),
    * 5 multi-chunk islands, 32 interior starts skipped by the
    * start-advance fallback.
    */
  def cepBacktrack(s: SparkSession, dir: String): DataFrame =
    cepMatchOf(graft.Tables.t(s, dir, "events"),
      Seq(Step("view", plus = true), Step("view", plus = false)),
      windowUs = 24L * 3600 * 1000000)
      .toDF()
      .orderBy(col("user_id"), col("start_ts_us"), col("start_event_id"))

  /** cep_reluctant — LAZY quantifiers (MATCH_RECOGNIZE's `+?`):
    * view+? view takes the SHORTEST run that lets the final step
    * match, so a view island resolves into consecutive disjoint PAIRS
    * — provably different from the greedy twin (cep_backtrack's
    * view+ view consumes whole islands). Eager completion: a pair
    * emits at its second row's feed, no bounding row needed, so
    * end-of-data islands participate fully (only trailing singletons
    * pend). The 6 h window binds as a FRAME SHIFT: a pair whose gap
    * exceeds the window is skipped and pairing resumes one row later
    * (165 pairs / 197 shifts at sf0.01).
    */
  def cepReluctant(s: SparkSession, dir: String): DataFrame =
    cepMatchOf(graft.Tables.t(s, dir, "events"),
      Seq(Step("view", plus = true, reluctant = true),
        Step("view", plus = false)),
      windowUs = 6L * 3600 * 1000000)
      .toDF()
      .orderBy(col("user_id"), col("start_ts_us"), col("start_event_id"))

  /** cep_vshape — the SQL-standard MATCH_RECOGNIZE flagship: the
    * V-pattern `STRT DOWN+ UP+` with DEFINE predicates over the value
    * column (DOWN: value < PREV(value); UP: value > PREV(value);
    * STRT: any row). Exercises three r12 capabilities at once:
    * wildcard steps, PREV predicates, and a trailing quantified step
    * (the UP+ run resolves at the first non-ascending row — the
    * backtracking walk's run-resolution rule — or at the batch
    * END-OF-INPUT flush: 49 pending end-of-data ascents resolve there
    * at sf0.01, the finite-input semantics [[cepMatchOf]] documents;
    * the streaming twin keeps them pending). SKIP PAST LAST makes
    * consecutive Vs interact: a new
    * descent starting right after an accepted V has its natural STRT
    * (the previous V's peak) already consumed, so its start is pushed
    * one row in — the oracle's floor recursion, binding on 1928 of
    * the selections (1212 pairs die entirely to the push). 2021
    * matches; the 7-day window exceeds every V span at gate scale
    * (max 6.4 d — verified), so windowed chunking (oracled by
    * cep_backtrack) stays out of this gate's oracle.
    */
  def cepVshape(s: SparkSession, dir: String): DataFrame =
    cepMatchOf(graft.Tables.t(s, dir, "events"),
      Seq(Step("*", plus = false, any = true),
        Step("*", plus = true, any = true, cmp = Some(PrevLt)),
        Step("*", plus = true, any = true, cmp = Some(PrevGt))),
      windowUs = 7L * 24 * 3600 * 1000000)
      .toDF()
      .orderBy(col("user_id"), col("start_ts_us"), col("start_event_id"))

  /** cep_not_followed — the ABANDONED-CART pattern (Flink CEP
    * `notFollowedBy`, trailing): a click NOT followed by a purchase
    * within 12 h, relaxed contiguity. Each click is its own candidate
    * (single-row matches make SKIP PAST LAST evaluate every click
    * independently); a purchase inside the horizon KILLS it, horizon
    * expiry EMITS it (batch: the first later-fed row past the horizon
    * or the end-of-input flush; streaming: an event-time timer at the
    * horizon). Both mechanisms bind at sf0.01: 1613 of 2006 clicks
    * abandoned, 393 killed by a purchase. Oracle: definitional
    * NOT EXISTS over (rn, ts)-ordered rows with the horizon binding.
    */
  def cepNotFollowed(s: SparkSession, dir: String): DataFrame =
    cepFollowedByOf(graft.Tables.t(s, dir, "events"),
      Seq(Step("click"), Step("purchase", neg = true)),
      windowUs = 12L * 3600 * 1000000)
      .toDF()
      .orderBy(col("user_id"), col("start_ts_us"), col("start_event_id"))

  /** cep_not_between — MIDDLE-position absence (`notFollowedBy`
    * between two positive steps): click → purchase (earliest, relaxed)
    * with NO error in the gap, within 12 h. A gap error kills the
    * branch — and with earliest-purchase parsing, the whole start
    * (any later purchase has the same error before it). Greedy SKIP
    * PAST LAST selection chains candidates exactly like
    * cep_followed_by (311 matches at sf0.01). Oracle: the earliest-
    * purchase candidate CTE with a NOT EXISTS gap clause under the
    * same recursive greedy selection.
    */
  def cepNotBetween(s: SparkSession, dir: String): DataFrame =
    cepFollowedByOf(graft.Tables.t(s, dir, "events"),
      Seq(Step("click"), Step("error", neg = true), Step("purchase")),
      windowUs = 12L * 3600 * 1000000)
      .toDF()
      .orderBy(col("user_id"), col("start_ts_us"), col("start_event_id"))

  /** cep_not_next — STRICT-contiguity absence (Flink CEP `notNext`,
    * trailing): click immediately followed by purchase, whose NEXT
    * physical row must not be an error — scoped to the 24 h window
    * horizon (an error arriving past the horizon is outside the
    * assertion; no next row resolves as a pass once the window closes
    * or at end-of-input). All three pass/kill mechanisms bind at
    * sf0.01: 35 pairs killed by a next-row error, 16 pass because the
    * error lands past the horizon, 4 pass at end-of-data; 295 emit.
    */
  def cepNotNext(s: SparkSession, dir: String): DataFrame =
    cepMatchOf(graft.Tables.t(s, dir, "events"),
      Seq(Step("click"), Step("purchase"), Step("error", neg = true)),
      windowUs = 24L * 3600 * 1000000)
      .toDF()
      .orderBy(col("user_id"), col("start_ts_us"), col("start_event_id"))

  /** cep_followed_plus — LOOPING RELAXED STATES (followedBy +
    * oneOrMore, greedy): click → view+ → purchase over subsequences
    * within 48 h. The greedy view+ run takes EVERY view inside the
    * horizon that still leaves a completing purchase after it — and
    * since any future row could extend a subsequence run, the take
    * commits only when the window closes over the start (or at the
    * end-of-input flush), Flink's greedy-relaxed materialization
    * point. Binding at sf0.01: 316 matches from 1162 candidate clicks
    * (greedy non-overlap selection), 76 consuming more than one view
    * (maximality). Oracle: per candidate the maximal view prefix with
    * a horizon-valid purchase after it, earliest such purchase as the
    * end, under the recursive greedy selection.
    */
  def cepFollowedPlus(s: SparkSession, dir: String): DataFrame =
    cepFollowedByOf(graft.Tables.t(s, dir, "events"),
      Seq(Step("click"), Step("view", plus = true), Step("purchase")),
      windowUs = 48L * 3600 * 1000000)
      .toDF()
      .orderBy(col("user_id"), col("start_ts_us"), col("start_event_id"))

  /** cep_cross_followed — CROSS-VARIABLE DEFINE under RELAXED
    * contiguity (r16; Flink's IterativeCondition over followedBy
    * states): the relaxed funnel click → view+ → purchase where the
    * purchase must beat the FIRST view's value
    * (`P.value > FIRST(V.value)`), within 48 h. Unlike the contiguous
    * twin ([[MatchRecognize.cepCrossDefine]]), a failed purchase
    * predicate does NOT kill the candidate: relaxed matching SKIPS the
    * disqualified purchase, and shrinking the greedy view take exposes
    * EARLIER interleaved purchases — so the value predicate interacts
    * with greed (the machine's take-shrink loop), which is exactly the
    * seam this gate freezes. Oracle: the followed-plus recursive CTE
    * with the purchase universe restricted to QUALIFYING rows
    * (vc > first in-horizon view's vc) — greedy-longest take = all
    * in-horizon views before the LAST qualifying purchase, end = the
    * earliest qualifying purchase after the take, recursive
    * SKIP PAST LAST selection. Binding at sf0.01: 172 matches vs the
    * plain funnel's 316 (the predicate kills and reshapes), 42 multi-
    * view, and 21 matches NOT in the plain set — shifted ends and
    * re-opened starts, the skip-not-kill semantics observably binding.
    */
  def cepCrossFollowed(s: SparkSession, dir: String): DataFrame =
    cepFollowedByOf(graft.Tables.t(s, dir, "events"),
      Seq(Step("click"), Step("view", plus = true),
        Step("purchase", cross = List(CrossRef(1, first = true, PrevGt)))),
      windowUs = 48L * 3600 * 1000000)
      .toDF()
      .orderBy(col("user_id"), col("start_ts_us"), col("start_event_id"))

  /** cep_define_agg — RUNNING-AGGREGATE DEFINE (`SUM(A.value) <= c`):
    * the bounded-spend session click → purchase+ where the purchase
    * run's cumulative value stays <= 150.00, within 12 h, strict
    * contiguity. The cap is evaluated per row exactly as SQL DEFINE
    * does — the first purchase that would push the running sum past
    * the cap fails its own predicate and bounds the run (which also
    * closes the run's future-extension pending). Candidates are
    * independent (match interiors are purchases, starts are clicks).
    * All three cuts bind at sf0.01 / 12 h: 256 matches, 10 runs cut by
    * the cap, 33 by the window, 20 consuming more than one purchase.
    * Oracle: running-sum window over contiguous purchase runs after
    * each click, take = the maximal prefix under both caps.
    */
  def cepDefineAgg(s: SparkSession, dir: String): DataFrame =
    cepMatchOf(graft.Tables.t(s, dir, "events"),
      Seq(Step("click"),
        Step("purchase", plus = true, sumCap = Some(15000L))),
      windowUs = 12L * 3600 * 1000000)
      .toDF()
      .orderBy(col("user_id"), col("start_ts_us"), col("start_event_id"))

  /** GROUP-QUANTIFIER pattern matching — `PATTERN ((A B)+ C)`:
    * quantifiers over sub-SEQUENCES (see [[GPat]]), strict contiguity,
    * compiled to a split-program the machine walks with the shared
    * backtracking discipline. AFTER MATCH SKIP PAST LAST ROW / TO NEXT
    * ROW (FIRST/LAST name flat steps, which repeated-group leaves
    * don't have); MEASURES are the flat machine's — compose
    * downstream. Same scale shape and cost model as [[cepMatchOf]]'s
    * backtracking class (one key shuffle, segmented scan,
    * window-bounded buffers, O(program · buffer²) worst-case feeds).
    */
  def cepMatchGroupedOf(events: DataFrame, gpat: GPat,
      windowUs: Long, after: AfterMatch = SkipPastLast)
      : Dataset[CepMatch] =
    matchScan(events, gLeaves(gpat).toIndexedSeq, windowUs, after,
      contiguous = true, grouped = Some(gpat))

  /** cep_group — the GROUP-QUANTIFIER gate: ((click|view)(signup|
    * error))+ purchase within 24 h — an alternating two-symbol-CLASS
    * run (A B repeated) closed by a purchase. Greedy repetition takes
    * the maximal alternating chain; leftmost preference makes the
    * match start the EARLIEST A chaining unbroken to the purchase, and
    * a window-killed leftmost start falls back along the chain at
    * stride 2 to the longest window-valid SUFFIX (the machine's
    * dropToNextStart walks first-set rows — here every interior B is
    * outside the first set, so the stride is exactly the chain's A
    * positions). Every mechanism binds at sf0.01 / 24 h: 208 matches,
    * 13 with >= 2 group iterations, 22 window-shifted starts, 116
    * candidates dead to the window. Oracle: a parity-partitioned
    * running MAX finds each purchase's last alternation break (the
    * chain's leftmost A = break + 2), then the window shift is a MIN
    * over the chain's same-parity positions inside the horizon — no
    * recursion needed because chains never overlap (they contain no
    * purchase rows, and matches end at theirs).
    */
  def cepGroup(s: SparkSession, dir: String): DataFrame =
    cepMatchGroupedOf(graft.Tables.t(s, dir, "events"),
      GCat(Seq(
        GRep(GCat(Seq(
          GLf(Step("click", alt = Set("view"))),
          GLf(Step("signup", alt = Set("error"))))), 1, Int.MaxValue),
        GLf(Step("purchase")))),
      windowUs = 24L * 3600 * 1000000)
      .toDF()
      .orderBy(col("user_id"), col("start_ts_us"), col("start_event_id"))

  /** cep_alt_group — SEQUENCE ALTERNATION under group repetition:
    * ((click view | view click))+ purchase within 7 d — either-order
    * adjacent pairs repeated, then a purchase. Both arms bind at
    * sf0.01 (49 click-first / 54 view-first single-pair candidates),
    * iteration binds (11 multi-iteration matches of the 148), and the
    * leftmost-arm preference is semantically invisible here (the arms
    * are disjoint on their first symbol given the second — exactly why
    * the parity-chain oracle stays closed-form: a valid pair is ANY
    * adjacent click/view pair with distinct types, whichever arm
    * matched it). Window mechanics are cep_group's (oracled there; the
    * 7 d window exceeds every span at gate scale).
    */
  def cepAltGroup(s: SparkSession, dir: String): DataFrame =
    cepMatchGroupedOf(graft.Tables.t(s, dir, "events"),
      GCat(Seq(
        GRep(GAlt(Seq(
          GCat(Seq(GLf(Step("click")), GLf(Step("view")))),
          GCat(Seq(GLf(Step("view")), GLf(Step("click")))))),
          1, Int.MaxValue),
        GLf(Step("purchase")))),
      windowUs = 7L * 24 * 3600 * 1000000)
      .toDF()
      .orderBy(col("user_id"), col("start_ts_us"), col("start_event_id"))

  /** cep_prev2 — PREV with an OFFSET (`A.value > PREV(A.value, 2)`):
    * click → view → view+ where each further view's value exceeds the
    * value TWO physical rows back (for the first quantified view that
    * is the click row — PREV navigates input rows), within 24 h,
    * strict contiguity. Candidates are independent (interiors are
    * views, starts are clicks); the greedy run bounds at the first
    * row failing the offset predicate, the window trims the take to
    * the longest window-valid prefix, end-of-data runs resolve at the
    * flush. 23 matches / 70 rows at sf0.01. Oracle: lag(value, 2) run
    * islands after click-view anchors, capped by the window.
    */
  def cepPrev2(s: SparkSession, dir: String): DataFrame =
    cepMatchOf(graft.Tables.t(s, dir, "events"),
      Seq(Step("click"), Step("view"),
        Step("view", plus = true, cmp = Some(PrevGt), cmpOff = 2)),
      windowUs = 24L * 3600 * 1000000)
      .toDF()
      .orderBy(col("user_id"), col("start_ts_us"), col("start_event_id"))

  /** cep_group_measures — MEASURES over a GROUP QUANTIFIER: the
    * cep_group pattern (((click|view)(signup|error))+ purchase, 24 h)
    * with per-LEAF aggregates accumulated ACROSS iterations — leaf 0
    * answers COUNT/SUM over every (click|view) row of every iteration,
    * the ability the flat-only measures runner rejects. Matches are
    * cep_group's (oracled there); the measures join back definitionally
    * in the oracle: within a match's dense rn span, the A rows are the
    * start-parity positions, the B rows the off-parity ones, the
    * purchase the last — aggregated per class with arg_min/arg_max for
    * FIRST/LAST. Multi-iteration accumulation binds at sf0.01
    * (cep_group has 13 matches with >= 2 iterations → leaf 0 cnt >= 2).
    */
  def cepGroupMeasures(s: SparkSession, dir: String): DataFrame =
    cepMeasuresGroupedOf(graft.Tables.t(s, dir, "events"),
      GCat(Seq(
        GRep(GCat(Seq(
          GLf(Step("click", alt = Set("view"))),
          GLf(Step("signup", alt = Set("error"))))), 1, Int.MaxValue),
        GLf(Step("purchase")))),
      windowUs = 24L * 3600 * 1000000)
      .toDF()
      .orderBy(col("user_id"), col("start_ts_us"), col("start_event_id"),
        col("step"))

  /** cep_cross_group — CROSS-VARIABLE DEFINE on a GROUP-QUANTIFIER
    * pattern (r17, closing the last CEP rejection class): the
    * cep_group pattern ((click|view)(signup|error))+ purchase within
    * 24 h, where the purchase must beat the FIRST chain row's value —
    * `P.value > FIRST(A.value)` with A the repeated group's first
    * leaf, whose pool ACCUMULATES across iterations (FIRST = the
    * match's opening row). A failed predicate is a KILL (contiguous
    * semantics) and the machine falls back along the chain's
    * same-parity starts — the new start is both the window's and the
    * predicate's candidate, so the oracle extends cep_group's
    * parity-chain MIN with the value conjunct (no recursion needed,
    * chains still never overlap). Every mechanism binds at sf0.01 /
    * 24 h: 208 plain matches → 111 (the predicate kills 97), 3
    * survivor starts are predicate-SHIFTED along their chain (the
    * fallback interacts with the cross pool — FIRST moves with the
    * start), 5 matches carry >= 2 iterations, and a LAST(A) reading
    * provably diverges (109 matches, 2 asymmetric).
    */
  def cepCrossGroup(s: SparkSession, dir: String): DataFrame =
    cepMatchGroupedOf(graft.Tables.t(s, dir, "events"),
      GCat(Seq(
        GRep(GCat(Seq(
          GLf(Step("click", alt = Set("view"))),
          GLf(Step("signup", alt = Set("error"))))), 1, Int.MaxValue),
        GLf(Step("purchase",
          cross = List(CrossRef(0, first = true, PrevGt)))))),
      windowUs = 24L * 3600 * 1000000)
      .toDF()
      .orderBy(col("user_id"), col("start_ts_us"), col("start_event_id"))
}
