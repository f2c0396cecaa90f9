package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** SQL-string surface for the CEP machine: a parser from the SQL
  * MATCH_RECOGNIZE clause (the way the reference's planner stack
  * exposes pattern matching — Flink SQL's `FROM t MATCH_RECOGNIZE
  * (...)`; reference: flink-kafka-table-api's planner ships the same
  * clause) to the [[Cep]] programmatic form: `Seq[Step]` +
  * [[Cep.AfterMatch]] + window micros. Supported grammar — exactly the
  * machine's capability class, with every unsupported construct
  * REJECTED loudly (the parser's requires mirror the machine's):
  *
  * {{{
  * MATCH_RECOGNIZE (
  *   PARTITION BY user_id
  *   ORDER BY ts [, event_id]
  *   [MEASURES ...]                  -- accepted, skipped (outputs are
  *                                   -- the fixed CepMatch columns;
  *                                   -- per-step aggregates live on
  *                                   -- cepMeasuresOf)
  *   [ONE ROW PER MATCH | ALL ROWS PER MATCH [WITH UNMATCHED ROWS]]
  *   [AFTER MATCH SKIP PAST LAST ROW | SKIP TO NEXT ROW
  *                | SKIP TO {FIRST|LAST} var]
  *   PATTERN ( var [quant] ... )     -- quant: + ? * {m,n} +? *? ??
  *   [WITHIN INTERVAL 'n' {DAY|HOUR|MINUTE|SECOND}]
  *   [SUBSET u = (var, var [, ...]) [, ...] ]
  *   [DEFINE var AS cond [AND cond] [, ...] ]
  * )
  * }}}
  *
  * SUBSET declares the standard's UNION variables: a subset name used
  * in MEASURES aggregates over the union of its member variables'
  * consumed rows (COUNT/SUM/MIN/MAX pool the members; FIRST/LAST
  * navigate to the union's first/last consumed row in match order).
  * CLASSIFIER() always returns the BASE variable, never a subset name
  * (the standard's reading). Subset names are not usable in DEFINE
  * (rejected) — the machine evaluates predicates per step.
  *
  * DEFINE conditions per variable (conjoined with AND):
  *   - `V.event_type = 'sym'`            → the step's symbol
  *   - `V.event_type IN ('a', 'b', …)`   → alternation set
  *   - `V.value < PREV(V.value [, k])`   → [[Cep.PrevCmp]] (+ offset);
  *     also <=, >, >=. PREV here is MATCH-SCOPED, a documented
  *     deviation from the SQL-standard/Flink full-partition reading:
  *     a k-back position falling before the match candidate's first
  *     row evaluates as NULL, so the row does not match — full-input
  *     PREV would need a k-row look-behind over rows the segmented
  *     scan and the streaming state have deliberately dropped. With
  *     k = 1 the readings coincide everywhere a PREV condition can
  *     legally sit (the first pattern variable cannot carry one); with
  *     k >= 2 they diverge on the first k-1 rows of each match — see
  *     [[Cep.Step]] for the machine-side contract.
  *   - `SUM(V.value) <= c`               → running-sum cap (cents)
  * An UNDEFINED variable is MATCH_RECOGNIZE's always-true variable →
  * a wildcard step. The canonical V-pattern parses as written in the
  * standard: PATTERN (STRT DOWN+ UP+) with DOWN/UP PREV predicates.
  *
  * DuckDB has no MATCH_RECOGNIZE, so the gate's oracle stays the
  * definitional CTE of the equivalent programmatic key; the
  * sql_match_recognize gate runs the PARSED form of the cep_vshape SQL
  * against that key's oracle, and Round13bSpec asserts parse(sql) ≡
  * the programmatic pattern structurally.
  */
object MatchRecognize {

  /** A MEASURES expression: a single aggregate leaf ([[MAgg]]) or
    * arithmetic over aggregate leaves ([[MBin]]) — `SUM(A.value) -
    * SUM(B.value)`, `COUNT(A.*) + COUNT(B.*)`, `SUM(V.value) /
    * COUNT(V.*)`, `MAX(V.value) * COUNT(V.*)` — with standard
    * precedence (* / bind tighter than + −, each level
    * left-associated). Division is double (Spark's and DuckDB's own
    * integer-division reading); the other operators stay integral
    * over integral leaves. Arithmetic ranges over the numeric
    * aggregates (COUNT/SUM/MIN/MAX/AVG); FIRST/LAST are event-id
    * NAVIGATIONS and the niladic MATCH_NUMBER()/CLASSIFIER() are row
    * markers — both stand alone (rejected inside arithmetic).
    */
  sealed trait MExpr extends Serializable
  /** `field` (r17): "" for the CANONICAL channel (V.* for COUNT,
    * V.value — exact cents — for SUM/MIN/MAX/AVG, V.event_id for the
    * FIRST/LAST navigations — the pre-r17 structural shape, so parse
    * pins on the canonical grammar are unchanged), or the lowercase
    * name of any other numeric input column. Non-empty fields route
    * the pivot through the ALL-ROWS scan + a field join
    * (schema-resolved at run time); the canonical set keeps the
    * CepMeasured fast path byte-for-byte.
    */
  final case class MAgg(func: String, varName: String,
    field: String = "") extends MExpr
  final case class MBin(op: Char, l: MExpr, r: MExpr) extends MExpr
  /** A NUMERIC LITERAL operand — `SUM(V.value) / 100` (the canonical
    * cents→dollars measure), `COUNT(V.*) * 2`. Integral text stays a
    * BIGINT literal, a dotted one is DOUBLE — mirroring how DuckDB
    * types the same constants, so oracle schemas line up.
    */
  final case class MLit(text: String) extends MExpr {
    // validated at construction (r17, ADVICE): the lexer admits any
    // digit string, so an integral literal past Long.MaxValue must
    // fail with the clause's own error surface, not a raw
    // NumberFormatException at plan build
    require(
      if (text.contains('.')) text.toDoubleOption.isDefined
      else text.toLongOption.isDefined,
      s"match_recognize: numeric literal '$text' does not fit " +
        (if (text.contains('.')) "DOUBLE" else "BIGINT"))
    def column: org.apache.spark.sql.Column =
      if (text.contains('.')) lit(text.toDouble) else lit(text.toLong)
  }

  /** One SAME-ROW DEFINE predicate over arbitrary input columns —
    * `A.value2 > A.value`, `V.k >= 20` (r17 field breadth): both sides
    * are the CURRENT row's fields (or a numeric literal), so the
    * predicate is stateless given the row and never needs the
    * machine's navigation state. It runs as the PRODUCT-ALPHABET
    * construction: one map-side projection evaluates every predicate
    * and appends the valuation bits to the event type
    * (`view|01` = type × predicate-valuation — the standard automaton
    * product), and each step's symbol set enumerates the satisfying
    * combinations. The machine, its walks, and the streaming
    * checkpoint format are untouched; at scale the cost is one
    * codegen'd projection, no extra shuffle. SQL NULL semantics hold:
    * a NULL field makes the comparison unknown → bit 0 → the row does
    * not match a step requiring it.
    */
  final case class RowPred(lhs: String, op: String,
      rhsField: Option[String], rhsLit: Option[String]) {
    require(rhsField.isDefined != rhsLit.isDefined,
      "match_recognize: a row predicate compares against exactly one " +
        "of (field, literal)")
    // same construction-time guard as MLit (r17 ADVICE): the lexer
    // admits any digit string, so an overflowing DEFINE literal must
    // fail with the clause's own message, not a NumberFormatException
    rhsLit.foreach(t => require(
      if (t.contains('.')) t.toDoubleOption.isDefined
      else t.toLongOption.isDefined,
      s"match_recognize: numeric literal '$t' does not fit " +
        (if (t.contains('.')) "DOUBLE" else "BIGINT")))
    def fields: List[String] = lhs :: rhsField.toList
    def column: Column = {
      val l = col(lhs)
      val r = rhsField.map(col).getOrElse {
        val t = rhsLit.get
        if (t.contains('.')) lit(t.toDouble) else lit(t.toLong)
      }
      op match {
        case "<"  => l < r
        case ">"  => l > r
        case "<=" => l <= r
        case ">=" => l >= r
        case "="  => l === r
        case _    => l =!= r // "<>"
      }
    }
  }

  /** One parsed MEASURES entry: expression, output alias, and the
    * standard's per-row semantics marker. Supported aggregate leaves
    * (the machine's per-step primitive set): COUNT(V.*),
    * SUM/MIN/MAX(V.value) — exact CENTS, like [[Cep.StepAgg]] —
    * AVG(V.value) (cents sum over row count, double), and
    * FIRST/LAST(V.event_id); plus the niladic MATCH_NUMBER()
    * (sequential match number within the partition, match order) and
    * CLASSIFIER() (the row's consuming variable — ALL ROWS only,
    * where a row exists to classify). `mode` is "" (unspecified),
    * "RUNNING", or "FINAL", prefixed to the whole expression: in ONE
    * ROW PER MATCH the two coincide (measures are evaluated at the
    * match's final row — the standard's own equivalence) and the
    * marker is accepted and ignored; in ALL ROWS PER MATCH an
    * unspecified aggregate defaults to RUNNING (prefix-of-match up to
    * the current row), FINAL reads the whole match from every row.
    */
  final case class Measure(expr: MExpr, alias: String, mode: String = "")

  private[graft] def mLeaves(e: MExpr): List[MAgg] = e match {
    case a: MAgg => List(a)
    case MBin(_, l, r) => mLeaves(l) ++ mLeaves(r)
    case _: MLit => Nil
  }

  /** The parsed clause: everything the runners need. `rawMeasures`
    * holds the MEASURES clause's tokens verbatim — [[matchRecognizeOf]]
    * ignores them (its output is the fixed CepMatch shape), while
    * [[matchRecognizeMeasuresOf]] parses them STRICTLY into
    * [[Measure]]s.
    */
  final case class Parsed(partitionCol: String, orderCols: Seq[String],
      pattern: Seq[Cep.Step], after: Cep.AfterMatch, windowUs: Long,
      rawMeasures: Vector[String] = Vector.empty,
      varNames: Seq[String] = Nil,
      grouped: Option[Cep.GPat] = None,
      allRows: Boolean = false,
      subsets: Map[String, List[String]] = Map.empty,
      withUnmatched: Boolean = false,
      rowPreds: List[RowPred] = Nil)

  // ---------------------------------------------------------- lexer
  private def lex(s: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < s.length) {
      val c = s(i)
      if (c.isWhitespace) i += 1
      else if (c == '\'') {
        val j = s.indexOf('\'', i + 1)
        require(j >= 0, s"match_recognize: unterminated string at $i")
        out += s.substring(i, j + 1) // keep quotes to mark a literal
        i = j + 1
      } else if (c.isLetter || c == '_') {
        var j = i
        while (j < s.length && (s(j).isLetterOrDigit || s(j) == '_')) j += 1
        out += s.substring(i, j).toUpperCase
        i = j
      } else if (c.isDigit) {
        var j = i
        var dots = 0
        while (j < s.length && (s(j).isDigit || (s(j) == '.' && {
          dots += 1; dots <= 1
        }))) j += 1
        // a second '.' ends the token above — catch the malformed
        // literal here instead of surfacing a NumberFormatException
        // from whatever parse rule consumes the fragment
        require(j >= s.length || s(j) != '.',
          s"match_recognize: malformed numeric literal at " +
            s"'${s.substring(i, math.min(s.length, j + 2))}'")
        out += s.substring(i, j)
        i = j
      } else if (c == '<' || c == '>') {
        if (i + 1 < s.length && (s(i + 1) == '=' || s(i + 1) == '>')) {
          out += s.substring(i, i + 2); i += 2
        } else { out += c.toString; i += 1 }
      } else { out += c.toString; i += 1 }
    }
    out.result()
  }

  // --------------------------------------------------------- parser
  private final class P(toks: Vector[String]) {
    private var i = 0
    def peek: String = if (i < toks.length) toks(i) else ""
    def next(): String = { val t = peek; i += 1; t }
    def expect(t: String): Unit = {
      val g = next()
      require(g == t, s"match_recognize: expected '$t' but found '$g'")
    }
    def accept(t: String): Boolean =
      if (peek == t) { i += 1; true } else false
    def acceptSeq(ts: String*): Boolean = {
      if (ts.indices.forall(k => i + k < toks.length && toks(i + k) == ts(k))) {
        i += ts.length; true
      } else false
    }
    def done: Boolean = i >= toks.length
  }

  /** Per-variable DEFINE condition accumulator. `cross` holds the
    * clause's cross-variable navigations as (referenced variable,
    * isFirst, comparison) — resolved to step indices at assembly.
    */
  private final case class VarDef(symbol: Option[String] = None,
      alt: Set[String] = Set.empty, cmp: Option[Cep.PrevCmp] = None,
      cmpOff: Int = 1, sumCap: Option[Long] = None,
      cross: List[(String, Boolean, Cep.PrevCmp)] = Nil,
      rowPreds: List[RowPred] = Nil)

  def parse(sql: String): Parsed = {
    val p = new P(lex(sql))
    p.expect("MATCH_RECOGNIZE")
    p.expect("(")

    // PARTITION BY <ident>
    p.expect("PARTITION"); p.expect("BY")
    val partitionCol = p.next().toLowerCase
    require(partitionCol.headOption.exists(_.isLetter),
      s"match_recognize: bad PARTITION BY column '$partitionCol'")

    // ORDER BY <ident> [, <ident>]
    p.expect("ORDER"); p.expect("BY")
    val orderCols = scala.collection.mutable.ListBuffer(p.next().toLowerCase)
    while (p.accept(",") &&
        { orderCols += p.next().toLowerCase; true }) ()

    // MEASURES ... — tokens captured verbatim up to the next section
    // (strictly parsed only by the measures runner). The stop words
    // ONE/ALL/AFTER/PATTERN are RESERVED inside the clause: an alias
    // spelled like one of them ends the capture early and the parse
    // fails at the output-mode keywords — rename the alias (the SQL
    // standard reserves them as keywords here too).
    val rawMeasures = Vector.newBuilder[String]
    if (p.accept("MEASURES")) {
      val stops = Set("ONE", "ALL", "AFTER", "PATTERN")
      while (!stops.contains(p.peek)) {
        require(!p.done, "match_recognize: MEASURES never ends")
        rawMeasures += p.next()
      }
    }
    // ONE ROW PER MATCH (default) | ALL ROWS PER MATCH — the two
    // standard output modes; ALL ROWS routes to the rows runner.
    // ALL ROWS takes the standard's WITH UNMATCHED ROWS option
    // (non-consumed input rows emitted with null match columns).
    var allRows = false
    var withUnmatched = false
    if (p.accept("ONE")) { p.expect("ROW"); p.expect("PER"); p.expect("MATCH") }
    else if (p.accept("ALL")) {
      p.expect("ROWS"); p.expect("PER"); p.expect("MATCH")
      allRows = true
      if (p.accept("WITH")) {
        p.expect("UNMATCHED"); p.expect("ROWS")
        withUnmatched = true
      }
    }

    // AFTER MATCH SKIP ...
    var after: Cep.AfterMatch = Cep.SkipPastLast
    var afterVar: Option[(String, Boolean)] = None // (var, isFirst)
    if (p.accept("AFTER")) {
      p.expect("MATCH"); p.expect("SKIP")
      if (p.acceptSeq("PAST", "LAST", "ROW")) after = Cep.SkipPastLast
      else if (p.acceptSeq("TO", "NEXT", "ROW")) after = Cep.SkipToNextRow
      else if (p.accept("TO")) {
        val isFirst = p.peek match {
          case "FIRST" => p.next(); true
          case "LAST"  => p.next(); false
          case t => throw new IllegalArgumentException(
            s"match_recognize: SKIP TO must name FIRST or LAST (found '$t')")
        }
        afterVar = Some((p.next(), isFirst))
      } else throw new IllegalArgumentException(
        s"match_recognize: unsupported AFTER MATCH SKIP form at '${p.peek}'")
    }

    // PATTERN ( elem ... ) where elem := var [quant]
    //                                  | '(' elem ... ')' [quant]
    // — GROUPS quantify SUB-SEQUENCES (the split-program machine)
    p.expect("PATTERN"); p.expect("(")
    final case class PatItem(name: String, lo: Int, hi: Int,
      reluctant: Boolean, explicitRep: Boolean)
    sealed trait PNode
    final case class PLeaf(item: PatItem) extends PNode
    final case class PGroup(children: List[PNode], lo: Int, hi: Int,
      reluctant: Boolean) extends PNode
    final case class PAlt(arms: List[List[PNode]]) extends PNode
    def parseQuant(): (Int, Int, Boolean, Boolean) = {
      var (lo, hi) = (1, 1)
      var explicitRep = false
      p.peek match {
        case "+" => p.next(); lo = 1; hi = Int.MaxValue
        case "*" => p.next(); lo = 0; hi = Int.MaxValue
        case "?" => p.next(); lo = 0; hi = 1
        case "{" =>
          p.next()
          def bound(which: String): Int = {
            val t = p.next()
            require(t.nonEmpty && t.forall(_.isDigit),
              s"match_recognize: PATTERN quantifier needs integer " +
                s"bounds — found '$t' for $which (supported forms: " +
                "{m,n}, the open-ended {m,} — Flink's timesOrMore — " +
                "{,n} = {0,n}, and the exact {m} = {m,m})")
            t.toInt
          }
          // the full standard family, desugared at parse: {,n} →
          // {0,n}; {m} → {m,m}; {m,} → (m, unbounded) — the machine's
          // bounds carry open ends directly (only bounded GROUP
          // repeats unroll)
          if (p.accept(",")) {
            lo = 0
            hi = bound("the upper bound")
          } else {
            lo = bound("the lower bound")
            if (p.accept(",")) {
              if (p.peek == "}") hi = Int.MaxValue
              else hi = bound("the upper bound")
            } else hi = lo
          }
          p.expect("}")
          explicitRep = true
        case _ => ()
      }
      // a second '?' flips the quantifier LAZY (reluctant)
      val reluctant = (lo, hi) != ((1, 1)) && p.accept("?")
      (lo, hi, reluctant, explicitRep)
    }
    // elems := seq ('|' seq)*  — alternation binds loosest per level
    def parseSeq(): List[PNode] = {
      val out = scala.collection.mutable.ListBuffer.empty[PNode]
      while (p.peek != ")" && p.peek != "|") {
        if (p.accept("PERMUTE")) {
          // PERMUTE(A, B, …) — Calcite's all-orderings form, expanded
          // at parse time to sequence alternation (lexicographic in
          // the listed order, Calcite's own expansion order); bounded
          // n <= 4 because the expansion is factorial
          p.expect("(")
          val vars = scala.collection.mutable.ListBuffer(p.next())
          while (p.accept(",")) vars += p.next()
          p.expect(")")
          vars.foreach(v => require(v.headOption.exists(_.isLetter),
            s"match_recognize: bad PERMUTE variable '$v'"))
          require(vars.length >= 2 && vars.length <= 4,
            s"match_recognize: PERMUTE expands to n! alternation " +
              s"arms — supported for 2 <= n <= 4 variables " +
              s"(got ${vars.length})")
          out += PAlt(vars.toList.permutations.map(ord =>
            ord.map(v =>
              PLeaf(PatItem(v, 1, 1, reluctant = false,
                explicitRep = false)): PNode)).toList)
        } else if (p.accept("(")) {
          val children = parseElems()
          p.expect(")")
          require(children.nonEmpty, "match_recognize: empty group")
          val (lo, hi, rel, _) = parseQuant()
          out += PGroup(children, lo, hi, rel)
        } else {
          val name = p.next()
          require(name.headOption.exists(_.isLetter),
            s"match_recognize: bad pattern variable '$name'")
          val (lo, hi, rel, xr) = parseQuant()
          out += PLeaf(PatItem(name, lo, hi, rel, xr))
        }
      }
      out.toList
    }
    def parseElems(): List[PNode] = {
      val arms = scala.collection.mutable.ListBuffer(parseSeq())
      while (p.accept("|")) arms += parseSeq()
      if (arms.length == 1) arms.head
      else {
        arms.foreach(a => require(a.nonEmpty,
          "match_recognize: empty alternation arm"))
        List(PAlt(arms.toList))
      }
    }
    val tree = parseElems()
    p.expect(")")
    def leafItems(ns: List[PNode]): List[PatItem] = ns.flatMap {
      case PLeaf(it) => List(it)
      case PGroup(cs, _, _, _) => leafItems(cs)
      case PAlt(arms) => arms.flatMap(leafItems)
    }
    val items = scala.collection.mutable.ListBuffer.empty[PatItem]
    items ++= leafItems(tree)
    // a group nested anywhere sits under a top-level group, so the
    // top-level scan decides the machine class
    val hasGroups = tree.exists {
      case PGroup(_, _, _, _) => true
      case PAlt(_) => true
      case _ => false
    }
    require(items.nonEmpty, "match_recognize: empty PATTERN")

    // WITHIN INTERVAL 'n' UNIT
    var windowUs = Long.MaxValue / 4
    if (p.accept("WITHIN")) {
      p.expect("INTERVAL")
      val lit = p.next()
      require(lit.startsWith("'") && lit.endsWith("'"),
        s"match_recognize: INTERVAL needs a quoted magnitude (found $lit)")
      val n = lit.substring(1, lit.length - 1).trim.toLong
      val unitUs = p.next() match {
        case "DAY" | "DAYS"       => 86400000000L
        case "HOUR" | "HOURS"     => 3600000000L
        case "MINUTE" | "MINUTES" => 60000000L
        case "SECOND" | "SECONDS" => 1000000L
        case u => throw new IllegalArgumentException(
          s"match_recognize: unsupported INTERVAL unit '$u'")
      }
      windowUs = n * unitUs
    }

    // SUBSET u = (var, var [, ...]) [, ...] — union variables; member
    // names must be PATTERN variables, subset names must be fresh
    // (neither a PATTERN variable nor an earlier subset)
    val subsets =
      scala.collection.mutable.LinkedHashMap.empty[String, List[String]]
    if (p.accept("SUBSET")) {
      var more = true
      while (more) {
        val name = p.next()
        require(name.headOption.exists(_.isLetter),
          s"match_recognize: bad SUBSET name '$name'")
        require(!items.exists(_.name == name),
          s"match_recognize: SUBSET '$name' collides with a PATTERN " +
            "variable of the same name")
        require(!subsets.contains(name),
          s"match_recognize: SUBSET '$name' declared twice")
        p.expect("="); p.expect("(")
        val members = scala.collection.mutable.ListBuffer(p.next())
        while (p.accept(",")) members += p.next()
        p.expect(")")
        members.foreach { m =>
          require(items.exists(_.name == m),
            s"match_recognize: SUBSET '$name' names '$m' which " +
              "PATTERN never uses (members are primary pattern " +
              "variables, not other subsets)")
        }
        require(members.distinct.length == members.length,
          s"match_recognize: SUBSET '$name' repeats a member")
        require(members.length >= 2,
          s"match_recognize: SUBSET '$name' needs at least two " +
            "members (a one-member union IS its member)")
        subsets(name) = members.toList
        more = p.accept(",")
      }
    }

    // DEFINE var AS cond [AND cond] [, ...]
    val defs = scala.collection.mutable.Map.empty[String, VarDef]
    if (p.accept("DEFINE")) {
      var more = true
      while (more) {
        val v = p.next()
        p.expect("AS")
        var d = defs.getOrElse(v, VarDef())
        var conj = true
        while (conj) {
          d = parseCond(p, v, d)
          conj = p.accept("AND")
        }
        defs(v) = d
        more = p.accept(",")
      }
    }
    p.expect(")")
    require(p.done,
      s"match_recognize: trailing tokens after the clause: '${p.peek}'")

    // assemble steps; names may repeat in PATTERN (each occurrence is
    // its own step with the variable's shared definition)
    defs.keys.foreach { v =>
      require(!subsets.contains(v),
        s"match_recognize: DEFINE names the SUBSET '$v' — union " +
          "variables carry no predicate of their own (define the " +
          "member variables instead)")
      require(items.exists(_.name == v),
        s"match_recognize: DEFINE names '$v' which PATTERN never uses")
    }
    // CROSS-VARIABLE navigation resolution: referenced names must be
    // PATTERN variables (not SUBSET unions) occurring exactly ONCE
    // (a repeated variable's occurrences are distinct steps — the
    // navigated one would be ambiguous), and STRICTLY BEFORE every
    // occurrence of the referencing variable (a not-yet-matched
    // variable has no rows to navigate — the undecidable class)
    // grouped patterns accept cross references since r17: the index
    // space is LEAF PREORDER (items = leafItems(tree)), the machine's
    // own resolution space — a repeated group's referenced leaf pools
    // its rows across iterations (FIRST = the pool's first consumed
    // row, LAST = the most recent as of the current path; Flink's
    // IterativeCondition reading), validated by Cep.validateGrouped
    val occIdx: Map[String, List[Int]] =
      items.toList.map(_.name).zipWithIndex.groupBy(_._1)
        .map { case (k, v) => k -> v.map(_._2) }
    def resolveCross(owner: String, d: VarDef): List[Cep.CrossRef] =
      d.cross.map { case (bName, isFirst, cmp) =>
        require(!subsets.contains(bName),
          s"match_recognize: '$owner' navigates the SUBSET '$bName' " +
            "— cross-variable navigation targets primary pattern " +
            "variables, not union variables")
        val occ = occIdx.getOrElse(bName, Nil)
        require(occ.nonEmpty,
          s"match_recognize: '$owner' references '$bName' which " +
            "PATTERN never uses")
        require(occ.length == 1,
          s"match_recognize: '$owner' references '$bName', which " +
            s"PATTERN uses ${occ.length} times — the navigated " +
            "occurrence is ambiguous")
        Cep.CrossRef(occ.head, isFirst, cmp)
      }
    items.toList.zipWithIndex.foreach { case (it, i) =>
      defs.get(it.name).foreach(_.cross.foreach { case (bName, _, _) =>
        require(occIdx.getOrElse(bName, Nil).forall(_ < i),
          s"match_recognize: '${it.name}' references '$bName', which " +
            "PATTERN has not yet matched at that position — " +
            "cross-variable navigation reads EARLIER variables only")
      })
    }
    // PRODUCT-ALPHABET assembly (r17, see [[RowPred]]): the clause's
    // distinct same-row predicates in first-appearance order — each is
    // one valuation bit the runner's projection appends to the event
    // type; a predicated variable's symbol set enumerates the
    // satisfying (type, valuation) combinations, so the machine and
    // its state format are untouched. Bounded at 8 bits (≤ 256
    // product symbols per base type — set membership, not cost).
    val allPreds: List[RowPred] = {
      val seen = scala.collection.mutable.LinkedHashSet.empty[RowPred]
      items.toList.map(_.name).distinct.foreach(v =>
        defs.get(v).foreach(_.rowPreds.foreach(seen += _)))
      seen.toList
    }
    require(allPreds.length <= 8,
      s"match_recognize: ${allPreds.length} distinct row predicates — " +
        "the product alphabet is bounded at 8 valuation bits")
    val predIdx: Map[RowPred, Int] = allPreds.zipWithIndex.toMap
    def productSyms(name: String, d: VarDef)
        : Option[(String, Set[String])] =
      if (allPreds.isEmpty) None
      else if (d.symbol.isEmpty) {
        require(d.rowPreds.isEmpty,
          s"match_recognize: '$name' carries a field predicate but no " +
            "event_type condition — the product-alphabet construction " +
            "enumerates (type, predicate) combinations, so a " +
            "predicated variable must pin its event_type (wildcard " +
            "variables stay wildcard only when predicate-free)")
        None // wildcard stays wildcard over the product alphabet
      } else {
        val req = d.rowPreds.map(predIdx).toSet
        val base = d.alt + d.symbol.get
        val free = allPreds.indices.filterNot(req).toList
        val masks = (0 until (1 << free.length)).map { m =>
          val bits = Array.fill(allPreds.length)('0')
          req.foreach(i => bits(i) = '1')
          free.zipWithIndex.foreach { case (i, bi) =>
            if (((m >> bi) & 1) == 1) bits(i) = '1'
          }
          new String(bits)
        }
        val syms =
          (for { s <- base.toList; mk <- masks } yield s + "|" + mk).sorted
        Some((syms.head, syms.tail.toSet))
      }
    def mkStep(it: PatItem): Cep.Step = {
      val d = defs.getOrElse(it.name, VarDef())
      val any = d.symbol.isEmpty
      val (sym, altSet) = productSyms(it.name, d)
        .getOrElse((d.symbol.getOrElse("*"), d.alt))
      Cep.Step(
        symbol = sym,
        plus = !it.explicitRep && it.hi == Int.MaxValue,
        opt = !it.explicitRep && it.lo == 0,
        alt = altSet,
        rep = if (it.explicitRep) Some((it.lo, it.hi)) else None,
        any = any,
        cmp = d.cmp,
        reluctant = it.reluctant,
        cmpOff = d.cmpOff,
        sumCap = d.sumCap,
        cross = resolveCross(it.name, d))
    }
    val steps = items.toList.map(mkStep)
    val resolvedAfter = afterVar match {
      case Some((v, isFirst)) =>
        val idx = items.indexWhere(_.name == v)
        require(idx >= 0,
          s"match_recognize: AFTER MATCH SKIP TO names '$v' which " +
            "PATTERN never uses")
        if (isFirst) Cep.SkipToFirst(idx) else Cep.SkipToLast(idx)
      case None => after
    }
    // GROUP QUANTIFIERS: build the pattern TREE; singleton
    // concatenations collapse so parsed trees are the canonical
    // programmatic shapes (GRep over a bare GAlt, not over
    // GCat(List(GAlt)))
    def mkG(ns: List[PNode]): Cep.GPat = ns.map {
      case PLeaf(it) => Cep.GLf(mkStep(it)): Cep.GPat
      case PGroup(cs, lo, hi, rel) =>
        if (lo == 1 && hi == 1 && !rel) mkG(cs)
        else Cep.GRep(mkG(cs), lo, hi, rel)
      case PAlt(arms) => Cep.GAlt(arms.map(mkG))
    } match {
      case List(one) => one
      case many      => Cep.GCat(many)
    }
    val grouped = if (hasGroups) Some(mkG(tree)) else None
    // the Machine's constructor is the pattern check: build it now so
    // the SQL surface fails at parse time, not first execution
    new Cep.Machine(grouped.fold(steps.toIndexedSeq)(
      Cep.gLeaves(_).toIndexedSeq), windowUs, resolvedAfter,
      grouped = grouped)
    Parsed(partitionCol, orderCols.toList, steps, resolvedAfter,
      windowUs, rawMeasures.result(), items.toList.map(_.name),
      grouped = grouped, allRows = allRows, subsets = subsets.toMap,
      withUnmatched = withUnmatched, rowPreds = allPreds)
  }

  /** Strict MEASURES parse: `expr AS alias` entries, comma separated —
    * used by [[matchRecognizeMeasuresOf]] (the match-only runner
    * ignores measures). An expr is an aggregate leaf `FUNC(VAR.field)`
    * or left-associated +/− arithmetic over leaves
    * (`SUM(A.value) - SUM(B.value)`, `COUNT(A.*) + COUNT(B.*)`).
    * Fields are fixed per function: COUNT takes `V.*`,
    * SUM/MIN/MAX/AVG take `V.value`, FIRST/LAST take `V.event_id` —
    * the machine's per-step primitive set. Arithmetic ranges over the
    * numeric aggregates only; FIRST/LAST (event-id navigations) and
    * the niladic MATCH_NUMBER()/CLASSIFIER() must stand alone.
    */
  private[graft] def parseMeasures(raw: Vector[String]): Seq[Measure] = {
    require(raw.nonEmpty, "match_recognize: MEASURES clause is empty " +
      "(the measures runner needs at least one)")
    val p = new P(raw)
    val out = scala.collection.mutable.ListBuffer.empty[Measure]
    def parseTerm(): MAgg = {
      val fn = p.next()
      if (fn == "MATCH_NUMBER" || fn == "CLASSIFIER") {
        p.expect("("); p.expect(")")
        MAgg(fn, "")
      } else {
        require(
          Set("COUNT", "SUM", "MIN", "MAX", "AVG", "FIRST", "LAST")(fn),
          s"match_recognize: unsupported MEASURES aggregate '$fn' " +
            "(COUNT/SUM/MIN/MAX/AVG/FIRST/LAST/MATCH_NUMBER/CLASSIFIER)")
        p.expect("(")
        val v = p.next()
        p.expect(".")
        val field = p.next()
        fn match {
          case "COUNT" => require(field == "*",
            s"match_recognize: COUNT measures rows — write COUNT($v.*)")
          // r17 field breadth: SUM/MIN/MAX/AVG range over `value` (the
          // exact-cents canonical channel) OR any input column, and
          // FIRST/LAST navigate to `event_id` or any input column —
          // fields beyond the canonical set are schema-resolved by the
          // runner (unknown names rejected there against the input's
          // columns; non-canonical fields route the pivot through the
          // ALL-ROWS scan + a field join)
          case _ => require(field != "*" &&
            field.headOption.exists(c => c.isLetter || c == '_'),
            s"match_recognize: $fn needs a field — " +
              s"$fn($v.value), $fn($v.event_id), or $fn($v.<column>)")
        }
        p.expect(")")
        val canonical = (fn, field) match {
          case ("COUNT", "*")                        => true
          case ("FIRST" | "LAST", "EVENT_ID")        => true
          case ("SUM" | "MIN" | "MAX" | "AVG", "VALUE") => true
          case _                                     => false
        }
        MAgg(fn, v, if (canonical) "" else field.toLowerCase)
      }
    }
    var more = true
    while (more) {
      // optional per-expression semantics marker (the standard's
      // RUNNING vs FINAL) — recorded verbatim; the runners interpret
      // it. The marker prefixes the WHOLE expression; interior
      // markers are rejected by the term parser (an unexpected token).
      val mode = p.peek match {
        case "RUNNING" => p.next(); "RUNNING"
        case "FINAL"   => p.next(); "FINAL"
        case _         => ""
      }
      // precedence: * / bind tighter than + −; each level
      // left-associates; parentheses group recursively. The '*' after
      // a closing paren is unambiguous — COUNT's V.* form is consumed
      // inside parseTerm. A factor is a parenthesized sub-expression,
      // a non-negative numeric literal (integral → BIGINT, dotted →
      // DOUBLE — DuckDB's typing of the same constants), or an
      // aggregate leaf.
      def parseFactor(): MExpr =
        if (p.accept("(")) {
          val e = parseExpr()
          p.expect(")")
          e
        } else if (p.peek.nonEmpty && p.peek.head.isDigit) {
          MLit(p.next())
        } else parseTerm()
      def parseProd(): MExpr = {
        var e: MExpr = parseFactor()
        while (p.peek == "*" || p.peek == "/") {
          val op = p.next().head
          e = MBin(op, e, parseFactor())
        }
        e
      }
      def parseExpr(): MExpr = {
        var e: MExpr = parseProd()
        while (p.peek == "+" || p.peek == "-") {
          val op = p.next().head
          e = MBin(op, e, parseProd())
        }
        e
      }
      val expr: MExpr = parseExpr()
      require(mLeaves(expr).nonEmpty,
        "match_recognize: a MEASURES expression needs at least one " +
          "aggregate leaf (a constant-only measure has nothing to " +
          "measure)")
      mLeaves(expr).foreach { a =>
        if (a.func == "MATCH_NUMBER" || a.func == "CLASSIFIER") {
          require(mode.isEmpty,
            s"match_recognize: $mode ${a.func}() — the niladic " +
              "measures are neither RUNNING nor FINAL (drop the marker)")
          require(expr.isInstanceOf[MAgg],
            s"match_recognize: ${a.func}() inside arithmetic — the " +
              "niladic measures stand alone")
        }
        if (a.func == "FIRST" || a.func == "LAST")
          require(expr.isInstanceOf[MAgg],
            s"match_recognize: ${a.func} inside arithmetic — event-id " +
              "navigations stand alone (arithmetic ranges over " +
              "COUNT/SUM/MIN/MAX/AVG)")
      }
      p.expect("AS")
      out += Measure(expr, p.next().toLowerCase, mode)
      more = p.accept(",")
    }
    require(out.map(_.alias).distinct.length == out.length,
      "match_recognize: MEASURES aliases repeat — every measure needs " +
        s"its own output column name (${out.map(_.alias).mkString(", ")})")
    require(p.done,
      s"match_recognize: trailing MEASURES tokens at '${p.peek}'")
    out.toList
  }

  /** One DEFINE condition for variable `v`, folded into its VarDef. */
  private def parseCond(p: P, v: String, d: VarDef): VarDef = {
    if (p.accept("SUM")) {
      // SUM(V.value) <= c
      p.expect("("); val sv = p.next()
      require(sv == v, s"match_recognize: SUM over '$sv' inside " +
        s"'$v's definition — aggregates range over the variable itself")
      p.expect("."); p.expect("VALUE"); p.expect(")")
      p.expect("<=")
      val capTok = p.next()
      val cap = BigDecimal(capTok).*(100).setScale(0,
        BigDecimal.RoundingMode.HALF_UP).toLong
      d.copy(sumCap = Some(cap))
    } else {
      val lhsVar = p.next()
      require(lhsVar == v, s"match_recognize: '$v' defined via " +
        s"'$lhsVar' — DEFINE conditions reference their own variable")
      p.expect(".")
      p.next() match {
        case "EVENT_TYPE" =>
          if (p.accept("=")) {
            val lit = p.next()
            require(lit.startsWith("'"),
              "match_recognize: event_type compares against a string")
            d.copy(symbol = Some(unq(lit)))
          } else {
            p.expect("IN"); p.expect("(")
            val syms = scala.collection.mutable.ListBuffer(unq(p.next()))
            while (p.accept(",")) syms += unq(p.next())
            p.expect(")")
            d.copy(symbol = Some(syms.head), alt = syms.tail.toSet)
          }
        case "VALUE" =>
          val opTok = p.next()
          require(Set("<", ">", "<=", ">=", "=", "<>")(opTok),
            s"match_recognize: unsupported value comparison '$opTok'")
          def navCmp: Cep.PrevCmp = opTok match {
            case "<"  => Cep.PrevLt
            case ">"  => Cep.PrevGt
            case "<=" => Cep.PrevLe
            case ">=" => Cep.PrevGe
            case op => throw new IllegalArgumentException(
              s"match_recognize: '$op' with a navigation RHS — " +
                "PREV/FIRST/LAST comparisons are ordered " +
                "(< > <= >=); equality forms are row predicates " +
                "(literal or same-row field RHS)")
          }
          // RHS forms: PREV(V.value[, k]) — same-variable physical
          // navigation; FIRST/LAST(B.value) — CROSS-VARIABLE
          // navigation into an earlier variable's consumed rows (the
          // Flink-canonical DEFINE shape); bare B.value — the
          // standard's implicit LAST(B.value); V.<field> — a SAME-ROW
          // two-field compare (r17, the product-alphabet row
          // predicate); a numeric literal — a constant row predicate
          p.peek match {
            case "PREV" =>
              p.next(); p.expect("(")
              val pv = p.next()
              require(pv == v, s"match_recognize: PREV over '$pv' " +
                s"inside '$v's definition — PREV navigates the same " +
                "variable (compare against another variable with " +
                "FIRST/LAST(other.value) or bare other.value)")
              p.expect("."); p.expect("VALUE")
              val off = if (p.accept(",")) p.next().toInt else 1
              p.expect(")")
              d.copy(cmp = Some(navCmp), cmpOff = off)
            case "FIRST" | "LAST" =>
              val isFirst = p.next() == "FIRST"
              p.expect("(")
              val bv = p.next()
              require(bv != v, "match_recognize: " +
                s"${if (isFirst) "FIRST" else "LAST"}($bv.value) " +
                s"inside '$v's own definition — self-navigation is " +
                "not supported (PREV navigates the running variable; " +
                "cross-variable navigation names an EARLIER one)")
              p.expect("."); p.expect("VALUE"); p.expect(")")
              d.copy(cross = d.cross :+ ((bv, isFirst, navCmp)))
            case t if t.headOption.exists(c => c.isLetter || c == '_') =>
              val bv = p.next()
              p.expect(".")
              val f2 = p.next()
              if (bv == v) {
                require(f2 != "VALUE",
                  s"match_recognize: '$v.value' compared against " +
                    "itself — a same-variable compare is PREV's job " +
                    s"(PREV($v.value[, k]))")
                d.copy(rowPreds = d.rowPreds :+ RowPred("value", opTok,
                  Some(f2.toLowerCase), None))
              } else {
                require(f2 == "VALUE",
                  s"match_recognize: '$v.value' compared against " +
                    s"'$bv.${f2.toLowerCase}' — cross-variable " +
                    "navigation reads the canonical value channel " +
                    "only (same-ROW field compares may use any " +
                    "column; for cross-variable use on another " +
                    "column, project it to value)")
                d.copy(cross = d.cross :+ ((bv, false, navCmp)))
              }
            case t if t.headOption.exists(_.isDigit) =>
              d.copy(rowPreds = d.rowPreds :+ RowPred("value", opTok,
                None, Some(p.next())))
            case t => throw new IllegalArgumentException(
              "match_recognize: unsupported value-comparison RHS at " +
                s"'$t' — supported: PREV($v.value[, k]), " +
                "FIRST/LAST(other.value), other.value, a same-row " +
                s"field ($v.<field>), or a numeric literal")
          }
        case f =>
          // ARBITRARY-FIELD row predicate (r17): `V.<field> <op> RHS`
          // with RHS a numeric literal or another field of the SAME
          // row — schema-resolved by the runner (unknown fields
          // rejected against the input's columns). Navigation RHS
          // forms stay value-channel-only.
          val fld = f.toLowerCase
          require(fld.headOption.exists(c => c.isLetter || c == '_'),
            s"match_recognize: bad DEFINE field '$f'")
          val opTok = p.next()
          require(Set("<", ">", "<=", ">=", "=", "<>")(opTok),
            s"match_recognize: unsupported comparison '$opTok' on " +
              s"field '$fld'")
          p.peek match {
            case "PREV" | "FIRST" | "LAST" =>
              throw new IllegalArgumentException(
                s"match_recognize: ${p.peek} over '$v.$fld' — " +
                  "navigation reads the canonical value channel only " +
                  "(project the field to value for navigated " +
                  "comparisons); arbitrary fields support same-row " +
                  "and literal comparisons")
            case t if t.headOption.exists(_.isDigit) =>
              d.copy(rowPreds = d.rowPreds :+ RowPred(fld, opTok,
                None, Some(p.next())))
            case t if t.headOption.exists(c => c.isLetter || c == '_') =>
              val bv = p.next()
              require(bv == v,
                s"match_recognize: '$v.$fld' compared against a " +
                  s"field of '$bv' — arbitrary-field predicates are " +
                  "SAME-ROW (both sides the current row); " +
                  "cross-variable comparisons read the value channel")
              p.expect(".")
              val f2 = p.next().toLowerCase
              require(f2 != fld,
                s"match_recognize: '$v.$fld' compared against itself")
              d.copy(rowPreds = d.rowPreds :+ RowPred(fld, opTok,
                Some(f2), None))
            case t => throw new IllegalArgumentException(
              s"match_recognize: unsupported RHS at '$t' for the " +
                s"DEFINE field predicate on '$v.$fld' (a numeric " +
                s"literal or a same-row field $v.<field>)")
          }
      }
    }
  }

  private def unq(t: String): String = {
    require(t.startsWith("'") && t.endsWith("'") && t.length >= 2,
      s"match_recognize: expected a string literal, found $t")
    t.substring(1, t.length - 1)
  }

  /** Runner-side half of the product-alphabet construction (r17, see
    * [[RowPred]]): resolve every row-predicate field against the input
    * frame's SCHEMA (unknown or non-numeric fields rejected, naming
    * the available columns), then append the predicate valuation bits
    * to the event type in ONE map-side projection — `view` becomes
    * `view|01`. The parse-time step symbols enumerate the satisfying
    * combinations, so no machine or state-format change is involved.
    * Identity when the clause carries no row predicates.
    */
  private[graft] def fieldEvents(events: DataFrame,
      parsed: Parsed): DataFrame =
    if (parsed.rowPreds.isEmpty) events
    else {
      val byName = events.schema.fields
        .map(f => f.name.toLowerCase -> f).toMap
      parsed.rowPreds.flatMap(_.fields).distinct.foreach { f =>
        require(byName.contains(f),
          s"match_recognize: DEFINE references field '$f' which the " +
            "input does not carry (available: " +
            s"${events.columns.sorted.mkString(", ")})")
        require(byName(f).dataType
            .isInstanceOf[org.apache.spark.sql.types.NumericType],
          s"match_recognize: DEFINE field '$f' is " +
            s"${byName(f).dataType.simpleString} — row predicates " +
            "compare numeric columns")
      }
      val bits = parsed.rowPreds
        .map(rp => when(rp.column, lit("1")).otherwise(lit("0")))
      events.withColumn("event_type",
        concat((col("event_type") :: lit("|") :: Nil) ++ bits: _*))
    }

  /** Restore the raw event type on an ALL-ROWS output whose scan ran
    * over the product alphabet (identity otherwise).
    */
  private def unmangled(df: DataFrame, parsed: Parsed): DataFrame =
    if (parsed.rowPreds.isEmpty) df
    else df.withColumn("event_type",
      substring_index(col("event_type"), "|", 1))

  /** The clause shape every MATCH_RECOGNIZE runner, batch or streaming,
    * needs: PARTITION BY user_id and ORDER BY ts, then optionally
    * event_id — the machine's keyed scan runs on exactly that, so
    * anything else is rejected rather than silently re-mapped — and the
    * output mode the `surface` runs (`allRows`: ALL ROWS PER MATCH).
    */
  private[graft] def requireRunnable(parsed: Parsed, surface: String,
      allRows: Boolean): Unit = {
    require(parsed.partitionCol == "user_id" &&
      (parsed.orderCols == Seq("ts") ||
        parsed.orderCols == Seq("ts", "event_id")),
      s"$surface: PARTITION BY ${parsed.partitionCol} ORDER BY " +
        s"${parsed.orderCols.mkString(", ")} — this runner keys on " +
        "user_id and orders by ts, event_id")
    require(parsed.allRows == allRows,
      if (allRows) s"$surface: this runner implements ALL ROWS PER " +
        "MATCH — the clause asks for one row per match (matchRecognizeOf)"
      else s"$surface: the clause asks for ALL ROWS PER MATCH, a batch " +
        "output mode (matchRecognizeRowsOf) — this runner emits per match")
  }

  /** Run a MATCH_RECOGNIZE clause against an events-shaped frame: parse
    * and delegate to [[Cep.cepMatchOf]] (or its grouped twin); the clause
    * shape is [[requireRunnable]]'s.
    */
  def matchRecognizeOf(events: DataFrame, sql: String): Dataset[Cep.CepMatch] = {
    val parsed = parse(sql)
    requireRunnable(parsed, "matchRecognizeOf", allRows = false)
    val ev = fieldEvents(events, parsed)
    parsed.grouped match {
      case Some(g) =>
        Cep.cepMatchGroupedOf(ev, g, parsed.windowUs, parsed.after)
      case None =>
        Cep.cepMatchOf(ev, parsed.pattern, parsed.windowUs, parsed.after)
    }
  }

  /** A measure leaf aggregating a NON-canonical field — beyond "*"
    * (COUNT), "value" (the cents channel), "event_id" (the id
    * navigations), and the niladic markers' empty field. These route
    * the pivot through the ALL-ROWS scan + a field join.
    */
  private def extLeaves(measures: Seq[Measure]): Seq[MAgg] =
    measures.flatMap(m => mLeaves(m.expr)).filter(_.field.nonEmpty)

  /** Schema-driven extended-field resolution SHARED by the one-row
    * pivot and the all-rows runner (r17 self-review: the block was
    * duplicated and its error tails had already drifted): validates
    * every non-canonical measure field against the input — unknown
    * and non-numeric fields rejected naming the available columns,
    * SUM/AVG over floating fields rejected (floating sums are
    * shuffle-order-dependent; the cents channel or a quantized field
    * is the reproducible path) — and returns the referenced columns
    * that must JOIN in from the source. event_id/user_id resolve off
    * the match rows themselves (a join leg would collide by name).
    */
  private def resolveExtFields(events: DataFrame,
      measures: Seq[Measure]): Seq[String] = {
    val ext = extLeaves(measures)
    val byName = events.schema.fields
      .map(f => f.name.toLowerCase -> f).toMap
    ext.foreach { a =>
      require(byName.contains(a.field),
        s"match_recognize: MEASURES references field '${a.field}' " +
          "which the input does not carry (available: " +
          s"${events.columns.sorted.mkString(", ")})")
      val dt = byName(a.field).dataType
      require(dt.isInstanceOf[org.apache.spark.sql.types.NumericType],
        s"match_recognize: MEASURES field '${a.field}' is " +
          s"${dt.simpleString} — aggregates range over numeric columns")
      if (a.func == "SUM" || a.func == "AVG")
        require(!dt.isInstanceOf[org.apache.spark.sql.types.DoubleType] &&
            !dt.isInstanceOf[org.apache.spark.sql.types.FloatType],
          s"match_recognize: ${a.func} over the ${dt.simpleString} " +
            s"field '${a.field}' — floating sums are " +
            "shuffle-order-dependent; the canonical `value` channel " +
            "aggregates in exact cents (quantize the field, or " +
            "aggregate value)")
    }
    ext.map(_.field).distinct.filterNot(Set("event_id", "user_id"))
  }

  /** The column a measure leaf aggregates on the joined ALL-ROWS
    * frame: the canonical channel per function for `field = ""`, the
    * named input column otherwise. Shared by both rows-path runners.
    */
  private def extFieldCol(a: MAgg): Column = a.field match {
    case "" =>
      if (a.func == "FIRST" || a.func == "LAST") col("event_id")
      else col("value_c")
    case f => col(f)
  }

  /** ONE-ROW-PER-MATCH with the clause's MEASURES as columns: parse,
    * run [[Cep.cepMeasuresOf]], and PIVOT the per-(match, step) rows
    * into one row per match carrying each measure under its alias —
    * match identity columns (user_id, start/end ids and timestamps,
    * n_rows) ride along for joinability. Measure variables must occur
    * exactly ONCE in PATTERN (a repeated variable's occurrences are
    * distinct steps here; aggregate across them downstream); a SUBSET
    * union variable pools its members' steps (COUNT/SUM add, MIN/MAX
    * pool, FIRST/LAST navigate to the union's first/last consumed row
    * in match order — steps consume contiguously, so step order IS
    * match order). MATCH_NUMBER() numbers a partition's matches
    * sequentially in match order (one ranking window per key — the
    * standard's partition-scoped numbering); CLASSIFIER() is per-row
    * and rejected here (ALL ROWS PER MATCH is where a row exists to
    * classify). RUNNING/FINAL markers are accepted and ignored: in
    * ONE ROW PER MATCH the two coincide at the match's final row (the
    * standard's own equivalence). The pivot is one hash aggregation
    * keyed on the match identity — no extra shuffle beyond
    * cepMeasuresOf's own segmented scan.
    */
  def matchRecognizeMeasuresOf(events: DataFrame, sql: String): DataFrame = {
    val parsed = parse(sql)
    requireRunnable(parsed, "matchRecognizeMeasuresOf", allRows = false)
    require(parsed.grouped.isEmpty,
      "match_recognize: MEASURES range over FLAT pattern variables — " +
        "a repeated group's leaves have no single step to aggregate " +
        "(aggregate the grouped match rows downstream)")
    if (extLeaves(parseMeasures(parsed.rawMeasures)).isEmpty)
      pivotMeasured(
        Cep.cepMeasuresOf(fieldEvents(events, parsed), parsed.pattern,
          parsed.windowUs, parsed.after).toDF(),
        parsed)
    else pivotMeasuredRows(events, parsed)
  }

  /** A MEASURES expression as one Column: `leaf` turns each aggregate
    * leaf into its Column, and +, −, *, / compose the leaves inside the
    * same aggregation or projection (expressions over aggregates — no
    * second pass).
    */
  private def evalM(e: MExpr)(leaf: MAgg => Column): Column = e match {
    case a: MAgg         => leaf(a)
    case l: MLit         => l.column
    case MBin('+', l, r) => evalM(l)(leaf) + evalM(r)(leaf)
    case MBin('*', l, r) => evalM(l)(leaf) * evalM(r)(leaf)
    case MBin('/', l, r) => evalM(l)(leaf) / evalM(r)(leaf)
    case MBin(_, l, r)   => evalM(l)(leaf) - evalM(r)(leaf)
  }

  /** The one ONE-ROW-PER-MATCH MEASURES pivot: per-measure aggregates
    * under their aliases in one hash aggregation keyed on the match
    * identity, MATCH_NUMBER as a per-key rank. `leaf` aggregates one
    * measure leaf over the rows of its measured name's pattern
    * variables, given as (name, step index): a SUBSET union pools its
    * members, a pattern variable is itself, and each must occur exactly
    * once in PATTERN. `frame` is BY-NAME: the CLASSIFIER and name rules
    * run before the frame is touched (the rejection specs probe with a
    * null frame).
    */
  private def pivotWith(frame: => DataFrame, parsed: Parsed)(
      leaf: (MAgg, Seq[(String, Int)]) => Column): DataFrame = {
    val measures = parseMeasures(parsed.rawMeasures)
    require(!measures.exists(m =>
        mLeaves(m.expr).exists(_.func == "CLASSIFIER")),
      "match_recognize: CLASSIFIER() names the row's consuming " +
        "variable — ONE ROW PER MATCH has no row to classify (use " +
        "ALL ROWS PER MATCH)")
    def varsOf(name: String): Seq[(String, Int)] =
      parsed.subsets.getOrElse(name, List(name)).map { v =>
        val occ = parsed.varNames.zipWithIndex.filter(_._1 == v)
        require(occ.nonEmpty,
          s"match_recognize: MEASURES names '$v' which PATTERN never uses")
        require(occ.length == 1,
          s"match_recognize: MEASURES over '$v', which PATTERN uses " +
            s"${occ.length} times — each occurrence is a distinct step")
        occ.head
      }
    val (mns, rest) = measures.partition(_.expr match {
      case MAgg("MATCH_NUMBER", _, _) => true
      case _ => false
    })
    val aggs = rest.map(m =>
      evalM(m.expr)(a => leaf(a, varsOf(a.varName))).as(m.alias))
    val byMatch = frame.groupBy(col("user_id"), col("start_event_id"),
      col("start_ts_us"), col("end_event_id"), col("end_ts_us"),
      col("n_rows"))
    val pivoted =
      if (aggs.nonEmpty) byMatch.agg(aggs.head, aggs.tail: _*)
      // MEASURES held only MATCH_NUMBER(): distinct match identity
      else byMatch.agg(max(lit(1)).as("__d")).drop("__d")
    // every MATCH_NUMBER alias materializes (aliases are distinct by
    // parseMeasures; repeated MATCH_NUMBER entries are legal and equal)
    mns.foldLeft(pivoted) { (df, mn) =>
      df.withColumn(mn.alias,
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id"))
          .orderBy(col("start_ts_us"), col("start_event_id")))
          .cast("long"))
    }
  }

  /** The MEASURES pivot over a CepMeasured-shaped frame (one row per
    * match × step): a leaf reads its variables' (match, step) rows.
    * Shared by the batch pivot runner and the streaming gate (the
    * streaming measures replay lands the same shape).
    */
  private[graft] def pivotMeasured(md: => DataFrame, parsed: Parsed)
      : DataFrame =
    pivotWith(md, parsed) { (a, vars) =>
      val in = col("step").isin(vars.map(_._2): _*)
      a.func match {
        // single variable = one (match, step) row; union = its members'
        // rows pooled — the additive/extremal forms are the same code
        case "COUNT" => sum(when(in, col("cnt")))
        case "SUM"   => sum(when(in, col("sum_value_c")))
        case "MIN"   => min(when(in, col("min_value_c")))
        case "MAX"   => max(when(in, col("max_value_c")))
        // AVG = pooled cents sum over pooled row count (double — the
        // one non-integral measure; the oracle casts the same way)
        case "AVG"   =>
          sum(when(in, col("sum_value_c"))) / sum(when(in, col("cnt")))
        // navigation: the union's first/last consumed row is the
        // lowest/highest member step that took rows (contiguous
        // consumption ⇒ step order = match order); the struct min/max
        // orders by step first, then projects the id
        case "FIRST" =>
          min(when(in && col("cnt") > 0,
            struct(col("step"), col("first_event_id"))))
            .getField("first_event_id")
        case "LAST"  =>
          max(when(in && col("cnt") > 0,
            struct(col("step"), col("last_event_id"))))
            .getField("last_event_id")
      }
    }

  /** The FIELD-BREADTH pivot (r17): ONE ROW PER MATCH with MEASURES
    * over ARBITRARY numeric input columns — the CepMeasured fast path
    * carries value-cents aggregates only, so extended fields run over
    * the ALL-ROWS scan instead: one row per consumed row (classifier
    * attached), ONE equi-join pulling the referenced columns from the
    * source on (user_id, event_id), then the same one-hash-aggregation
    * pivot keyed on the match identity, a leaf testing membership on
    * CLASSIFIER. Contiguous consumption makes
    * (ts_us, event_id) order the match order, so FIRST/LAST navigate
    * by a struct min/max exactly as the step-ordered fast path does.
    * Exactness contract: SUM/AVG over a floating-point field (other
    * than the cents-quantized `value` channel) are REJECTED —
    * floating sums are shuffle-order-dependent and would break
    * bit-reproducibility; MIN/MAX/FIRST/LAST accept any numeric type.
    * Scale shape: the rows side is match-proportional, the field join
    * one keyed shuffle, the pivot one hash aggregation — no window
    * over unpartitioned data, no driver loop.
    */
  private def pivotMeasuredRows(events: DataFrame, parsed: Parsed)
      : DataFrame =
    pivotWith({
      val extCols = resolveExtFields(events, parseMeasures(parsed.rawMeasures))
      val rows = Cep.cepRowsOf(fieldEvents(events, parsed), parsed.pattern,
        parsed.windowUs, parsed.after).toDF()
        .withColumn("classifier",
          element_at(array(parsed.varNames.map(lit): _*), col("step") + 1))
      if (extCols.isEmpty) rows
      else rows.join(events.select(
          col("user_id").cast("long").as("user_id") +:
          col("event_id").cast("long").as("event_id") +:
          extCols.map(col): _*),
        Seq("user_id", "event_id"))
    }, parsed) { (a, vars) =>
      val in = col("classifier").isin(vars.map(_._1): _*)
      a.func match {
        // count(), not sum-of-ones: a variable that consumed zero rows
        // (an optional or zero-take leaf) must count 0, not NULL — the
        // CepMeasured fast path emits cnt=0 step rows and SQL COUNT
        // agrees (r17 self-review)
        case "COUNT" => count(when(in, lit(1)))
        case "SUM"   => sum(when(in, extFieldCol(a)))
        case "MIN"   => min(when(in, extFieldCol(a)))
        case "MAX"   => max(when(in, extFieldCol(a)))
        case "AVG"   =>
          sum(when(in, extFieldCol(a))) / sum(when(in, lit(1L)))
        case "FIRST" =>
          min(when(in, struct(col("ts_us"), col("event_id"),
            extFieldCol(a).as("v")))).getField("v")
        case "LAST"  =>
          max(when(in, struct(col("ts_us"), col("event_id"),
            extFieldCol(a).as("v")))).getField("v")
      }
    }

  /** ALL ROWS PER MATCH — the SQL standard's other output mode: one
    * row per CONSUMED input row, carrying the match identity columns
    * (user_id, start/end ids and timestamps, n_rows — start_event_id
    * is the match id within a key), the row's own passthrough columns
    * (event_id, ts_us, event_type, value_c), the consuming step index,
    * and CLASSIFIER — the pattern variable name that consumed the row
    * (for a repeated variable occurrence, the occurrence's name; for a
    * grouped pattern, the leaf's name, accumulated across iterations).
    * Zero-width negation variables consume no rows and thus never
    * classify one.
    *
    * MEASURES here carry the standard's PER-ROW semantics, computed as
    * Spark window functions over the emitted rows (the match is fully
    * materialized, so both readings are frame choices, not matcher
    * state): an unmarked or RUNNING aggregate reads the match's prefix
    * up to the current row (`ROWS UNBOUNDED PRECEDING..CURRENT ROW`
    * over the match partition), FINAL reads the whole match from every
    * row. A measured name may be a SUBSET union — membership is tested
    * on CLASSIFIER, which also means a variable repeated in PATTERN
    * pools across its occurrences here (the standard's classifier-keyed
    * reading; the ONE-ROW pivot rejects that case). MATCH_NUMBER()
    * dense-ranks matches within the key in match order; CLASSIFIER()
    * re-emits the classifier column under the measure's alias. Window
    * partitions are per-match (bounded by the WITHIN horizon) except
    * MATCH_NUMBER's per-key rank — the same key-sized ordering the
    * segmented scan already did.
    */
  def matchRecognizeRowsOf(events: DataFrame, sql: String): DataFrame = {
    val parsed = parse(sql)
    requireRunnable(parsed, "matchRecognizeRowsOf", allRows = true)
    val rows = parsed.grouped match {
      case Some(g) =>
        Cep.cepRowsGroupedOf(fieldEvents(events, parsed), g,
          parsed.windowUs, parsed.after)
      case None =>
        Cep.cepRowsOf(fieldEvents(events, parsed), parsed.pattern,
          parsed.windowUs, parsed.after)
    }
    // CLASSIFIER: the step/leaf index resolves to the PATTERN variable
    // name through a literal array — varNames is leaf-ordered for both
    // the flat and the grouped tree (preorder, same as gLeaves)
    val out = unmangled(rows.toDF(), parsed).withColumn("classifier",
      element_at(array(parsed.varNames.map(lit): _*), col("step") + 1))
    val matched = if (parsed.rawMeasures.isEmpty) out
    else {
      import org.apache.spark.sql.expressions.Window
      val measures = parseMeasures(parsed.rawMeasures)
      def namesOf(name: String): Seq[String] = {
        val vs = parsed.subsets.getOrElse(name, List(name))
        vs.foreach { v =>
          require(parsed.varNames.contains(v),
            s"match_recognize: MEASURES names '$v' which PATTERN " +
              "never uses")
        }
        vs
      }
      // (user_id, start_event_id) is the match id: start ids are
      // unique per key (CepRowMatched's contract)
      val matchW = Window
        .partitionBy(col("user_id"), col("start_event_id"))
        .orderBy(col("ts_us"), col("event_id"))
      val running =
        matchW.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val whole = matchW.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      val mnW = Window.partitionBy(col("user_id"))
        .orderBy(col("start_ts_us"), col("start_event_id"))
      // extended-field leaves (r17): referenced columns join in from
      // the source on (user_id, event_id) — resolution and exactness
      // rules shared with the one-row pivot ([[resolveExtFields]]);
      // the joined columns are working columns only, excluded from
      // the output's contract
      val extCols = resolveExtFields(events, measures)
      val src0 =
        if (extCols.isEmpty) out
        else out.join(events.select(
            col("user_id").cast("long").as("user_id") +:
            col("event_id").cast("long").as("event_id") +:
            extCols.map(col): _*),
          Seq("user_id", "event_id"))
      // one window-function Column per aggregate leaf (the expression's
      // RUNNING/FINAL marker picks the frame for every leaf); +/−
      // arithmetic composes leaves in the same projection
      def aggColW(a: MAgg, w: org.apache.spark.sql.expressions.WindowSpec)
          : Column = {
        val in = col("classifier").isin(namesOf(a.varName): _*)
        a.func match {
          case "COUNT" => count(when(in, lit(1))).over(w)
          case "SUM"   => sum(when(in, extFieldCol(a))).over(w)
          case "MIN"   => min(when(in, extFieldCol(a))).over(w)
          case "MAX"   => max(when(in, extFieldCol(a))).over(w)
          case "AVG"   => sum(when(in, extFieldCol(a))).over(w) /
            count(when(in, lit(1))).over(w)
          case "FIRST" =>
            first(when(in, extFieldCol(a)), ignoreNulls = true).over(w)
          case "LAST" =>
            last(when(in, extFieldCol(a)), ignoreNulls = true).over(w)
        }
      }
      val mcols = measures.map { m =>
        val w = if (m.mode == "FINAL") whole else running
        evalM(m.expr) {
          case MAgg("MATCH_NUMBER", _, _) =>
            dense_rank().over(mnW).cast("long")
          case MAgg("CLASSIFIER", _, _) => col("classifier")
          case a                        => aggColW(a, w)
        }.as(m.alias)
      }
      src0.select(out.columns.map(col).toSeq ++ mcols: _*)
    }
    if (!parsed.withUnmatched) matched
    else {
      // WITH UNMATCHED ROWS — the standard's ALL ROWS option: every
      // input row the pattern did NOT consume rides along with null
      // match identity, step, CLASSIFIER, and measures (MATCH_NUMBER
      // included — no match to number). ONE LEFT JOIN from the
      // normalized input to the matched rows on (user_id, event_id):
      // matched rows surface under their match columns (a row in k
      // overlapping SKIP TO NEXT ROW matches surfaces k times, exactly
      // as the plain ALL ROWS output), unmatched rows with nulls —
      // and the CEP scan is evaluated ONCE (a union + anti-join shape
      // would walk the segmented scan twice).
      Cep.eventsRow(events, withValue = true).join(matched.drop("ts_us", "event_type", "value_c"),
        Seq("user_id", "event_id"), "left")
    }
  }

  /** sql_mr_all_rows — the ALL ROWS PER MATCH gate: the funnel pattern
    * (C V+ P) with every consumed row emitted under its CLASSIFIER,
    * against the funnel islands oracle joined back to the rows on the
    * match span (contiguous consumption makes the span a dense rn
    * range; the click is the island's last row, the views the whole
    * island, the purchase the next island's first row). Binding at
    * sf0.01: 88 matches / 285 output rows, 16 matches with >= 2 V
    * rows (the per-row expansion is non-trivial, not 1:1).
    */
  val FunnelAllRowsSql: String =
    """MATCH_RECOGNIZE (
      |  PARTITION BY user_id
      |  ORDER BY ts, event_id
      |  ALL ROWS PER MATCH
      |  AFTER MATCH SKIP PAST LAST ROW
      |  PATTERN (C V+ P)
      |  WITHIN INTERVAL '7' DAY
      |  DEFINE C AS C.event_type = 'click',
      |         V AS V.event_type = 'view',
      |         P AS P.event_type = 'purchase'
      |)""".stripMargin

  def sqlMrAllRows(s: SparkSession, dir: String): DataFrame =
    matchRecognizeRowsOf(graft.Tables.t(s, dir, "events"), FunnelAllRowsSql)
      .orderBy(col("user_id"), col("start_ts_us"), col("start_event_id"),
        col("ts_us"), col("event_id"))

  /** sql_mr_measures — the MEASURES side of the SQL surface: the gate
    * funnel with per-variable aggregates as named columns, against a
    * pivot reshape of the cep_measures islands oracle.
    */
  val FunnelMeasuresSql: String =
    """MATCH_RECOGNIZE (
      |  PARTITION BY user_id
      |  ORDER BY ts, event_id
      |  MEASURES FIRST(C.event_id) AS click_id, COUNT(V.*) AS views_cnt,
      |           SUM(V.value) AS views_sum_c, MAX(V.value) AS views_max_c,
      |           LAST(P.event_id) AS purchase_id
      |  ONE ROW PER MATCH
      |  AFTER MATCH SKIP PAST LAST ROW
      |  PATTERN (C V+ P)
      |  WITHIN INTERVAL '7' DAY
      |  DEFINE C AS C.event_type = 'click',
      |         V AS V.event_type = 'view',
      |         P AS P.event_type = 'purchase'
      |)""".stripMargin

  def sqlMrMeasures(s: SparkSession, dir: String): DataFrame =
    matchRecognizeMeasuresOf(graft.Tables.t(s, dir, "events"),
      FunnelMeasuresSql)
      .orderBy(col("user_id"), col("start_ts_us"), col("start_event_id"))

  /** sql_match_recognize — the SQL surface gate: the V-pattern as the
    * standard writes it, parsed and run against the cep_vshape oracle
    * (same answer by construction — Round13bSpec additionally asserts
    * the parse is structurally the programmatic pattern).
    */
  val VshapeSql: String =
    """MATCH_RECOGNIZE (
      |  PARTITION BY user_id
      |  ORDER BY ts, event_id
      |  MEASURES STRT.ts AS start_ts, LAST(UP.ts) AS end_ts
      |  ONE ROW PER MATCH
      |  AFTER MATCH SKIP PAST LAST ROW
      |  PATTERN (STRT DOWN+ UP+)
      |  WITHIN INTERVAL '7' DAY
      |  DEFINE
      |    DOWN AS DOWN.value < PREV(DOWN.value),
      |    UP AS UP.value > PREV(UP.value)
      |)""".stripMargin

  def sqlMatchRecognize(s: SparkSession, dir: String): DataFrame =
    matchRecognizeOf(graft.Tables.t(s, dir, "events"), VshapeSql)
      .toDF()
      .orderBy(col("user_id"), col("start_ts_us"), col("start_event_id"))

  /** cep_permute — Calcite/Flink's `PATTERN (PERMUTE(A, B, C))`: a
    * contiguous click/view/signup triple in ANY order within 24 h,
    * parsed to the 3! = 6-arm sequence alternation and run on the
    * split-program machine. For distinct single-symbol variables a
    * triple determines its ordering uniquely, so arm preference is
    * semantically invisible and the answer is definitional: the
    * window-valid distinct-type triples under greedy leftmost
    * non-overlap selection — the cep_revisit recursive skip-selection
    * CTE with the type predicate widened to set-distinctness. Every
    * mechanism binds at sf0.01 / 24 h: 267 matches, ALL SIX orderings
    * occur (36–58 each), 162 of 482 raw triples die to the window.
    */
  val PermuteSql: String =
    """MATCH_RECOGNIZE (
      |  PARTITION BY user_id
      |  ORDER BY ts, event_id
      |  ONE ROW PER MATCH
      |  AFTER MATCH SKIP PAST LAST ROW
      |  PATTERN (PERMUTE(A, B, C))
      |  WITHIN INTERVAL '1' DAY
      |  DEFINE A AS A.event_type = 'click',
      |         B AS B.event_type = 'view',
      |         C AS C.event_type = 'signup'
      |)""".stripMargin

  def cepPermute(s: SparkSession, dir: String): DataFrame =
    matchRecognizeOf(graft.Tables.t(s, dir, "events"), PermuteSql)
      .toDF()
      .orderBy(col("user_id"), col("start_ts_us"), col("start_event_id"))

  /** sql_mr_subset — SUBSET union variables + MATCH_NUMBER() on the
    * ONE-ROW runner: U = (V, P) pools the views and the purchase, so
    * COUNT/SUM add across members, FIRST navigates to the first view,
    * LAST to the purchase; the FINAL marker on views_max_c exercises
    * the accepted-and-ignored path (ONE ROW: RUNNING ≡ FINAL). Oracle:
    * the sql_mr_measures islands CTE with the purchase row's value
    * joined in and a row_number window for mn.
    */
  val FunnelSubsetSql: String =
    """MATCH_RECOGNIZE (
      |  PARTITION BY user_id
      |  ORDER BY ts, event_id
      |  MEASURES MATCH_NUMBER() AS mn, COUNT(U.*) AS u_cnt,
      |           SUM(U.value) AS u_sum_c, FIRST(U.event_id) AS u_first_id,
      |           LAST(U.event_id) AS u_last_id,
      |           FINAL MAX(V.value) AS views_max_c
      |  ONE ROW PER MATCH
      |  AFTER MATCH SKIP PAST LAST ROW
      |  PATTERN (C V+ P)
      |  WITHIN INTERVAL '7' DAY
      |  SUBSET U = (V, P)
      |  DEFINE C AS C.event_type = 'click',
      |         V AS V.event_type = 'view',
      |         P AS P.event_type = 'purchase'
      |)""".stripMargin

  def sqlMrSubset(s: SparkSession, dir: String): DataFrame =
    matchRecognizeMeasuresOf(graft.Tables.t(s, dir, "events"),
      FunnelSubsetSql)
      .orderBy(col("user_id"), col("start_ts_us"), col("start_event_id"))

  /** sql_mr_running — the standard's per-row measure semantics over
    * ALL ROWS PER MATCH: unmarked COUNT defaults to RUNNING (prefix of
    * the match up to the row), explicit RUNNING SUM, FINAL COUNT and
    * FINAL LAST read the whole match from every row, a SUBSET union is
    * classifier-pooled, MATCH_NUMBER() dense-ranks the key's matches,
    * CLASSIFIER() re-emits the consuming variable. Binding at sf0.01:
    * the funnel's 88 matches / 285 rows include 16 matches with ≥ 2 V
    * rows, so RUNNING and FINAL provably diverge row-by-row. Oracle:
    * the sql_mr_all_rows CTE wrapped with the equivalent DuckDB window
    * functions.
    */
  val FunnelRunningSql: String =
    """MATCH_RECOGNIZE (
      |  PARTITION BY user_id
      |  ORDER BY ts, event_id
      |  MEASURES MATCH_NUMBER() AS mn, CLASSIFIER() AS cls,
      |           COUNT(V.*) AS v_run_cnt, RUNNING SUM(V.value) AS v_run_sum_c,
      |           FINAL COUNT(V.*) AS v_fin_cnt,
      |           FINAL LAST(V.event_id) AS v_fin_last,
      |           RUNNING LAST(U.event_id) AS u_run_last
      |  ALL ROWS PER MATCH
      |  AFTER MATCH SKIP PAST LAST ROW
      |  PATTERN (C V+ P)
      |  WITHIN INTERVAL '7' DAY
      |  SUBSET U = (C, P)
      |  DEFINE C AS C.event_type = 'click',
      |         V AS V.event_type = 'view',
      |         P AS P.event_type = 'purchase'
      |)""".stripMargin

  def sqlMrRunning(s: SparkSession, dir: String): DataFrame =
    matchRecognizeRowsOf(graft.Tables.t(s, dir, "events"),
      FunnelRunningSql)
      .orderBy(col("user_id"), col("start_ts_us"), col("start_event_id"),
        col("ts_us"), col("event_id"))

  /** sql_mr_unmatched — `ALL ROWS PER MATCH WITH UNMATCHED ROWS`: the
    * full input rides along, consumed rows under their match identity
    * and CLASSIFIER, everything else with nulls (MATCH_NUMBER and the
    * CLASSIFIER measure included). Oracle: the all-rows CTE union the
    * NOT EXISTS complement. The output is totally ordered by
    * (user_id, ts_us, event_id) — the funnel's disjoint matches make
    * the matched slice unique per row.
    */
  val FunnelUnmatchedSql: String =
    """MATCH_RECOGNIZE (
      |  PARTITION BY user_id
      |  ORDER BY ts, event_id
      |  MEASURES MATCH_NUMBER() AS mn, CLASSIFIER() AS cls
      |  ALL ROWS PER MATCH WITH UNMATCHED ROWS
      |  AFTER MATCH SKIP PAST LAST ROW
      |  PATTERN (C V+ P)
      |  WITHIN INTERVAL '7' DAY
      |  DEFINE C AS C.event_type = 'click',
      |         V AS V.event_type = 'view',
      |         P AS P.event_type = 'purchase'
      |)""".stripMargin

  def sqlMrUnmatched(s: SparkSession, dir: String): DataFrame =
    matchRecognizeRowsOf(graft.Tables.t(s, dir, "events"),
      FunnelUnmatchedSql)
      .orderBy(col("user_id"), col("ts_us"), col("event_id"))

  /** cep_rep_open — the open-ended quantifier `{m,}` (Flink's
    * timesOrMore) end to end: the funnel with AT LEAST two views
    * (`C V{2,} P`). Greedy `{2,}` consumes the whole contiguous view
    * run exactly as `V+` does — the lower bound only KILLS runs of
    * one — so the oracle is the funnel islands CTE with `v.n >= 2`.
    * Binds hard at sf0.01: 88 funnel matches shrink to the 16 with
    * two or more views.
    */
  val FunnelTwoPlusSql: String =
    """MATCH_RECOGNIZE (
      |  PARTITION BY user_id
      |  ORDER BY ts, event_id
      |  ONE ROW PER MATCH
      |  AFTER MATCH SKIP PAST LAST ROW
      |  PATTERN (C V{2,} P)
      |  WITHIN INTERVAL '7' DAY
      |  DEFINE C AS C.event_type = 'click',
      |         V AS V.event_type = 'view',
      |         P AS P.event_type = 'purchase'
      |)""".stripMargin

  def cepRepOpen(s: SparkSession, dir: String): DataFrame =
    matchRecognizeOf(graft.Tables.t(s, dir, "events"), FunnelTwoPlusSql)
      .toDF()
      .orderBy(col("user_id"), col("start_ts_us"), col("start_event_id"))

  /** cep_cross_define — CROSS-VARIABLE DEFINE navigation (the
    * Flink-canonical `A.value <op> FIRST/LAST(B.value)` class, plus
    * the bare `B.value` = implicit LAST): the funnel where the
    * purchase must beat the FIRST view's value AND at least match the
    * click's (`P.value > FIRST(V.value) AND P.value >= C.value`).
    * Both new RHS forms run in one clause; FIRST provably binds
    * against LAST on the multi-view matches (first ≠ last view
    * value). A failed value predicate kills the whole candidate —
    * shrinking the V take leaves a view at P's position (symbol
    * mismatch), so no alternative parse exists and the oracle is the
    * funnel islands CTE with the two value conditions, window
    * included. Binding at sf0.01: 88 window-valid funnels → 35 (the
    * FIRST(V) condition kills 40, the click bound 13 more); FIRST vs
    * LAST provably diverge on 4 candidates (a LAST reading answers
    * 36), and 10 survivors carry >= 2 views.
    */
  val FunnelCrossSql: String =
    """MATCH_RECOGNIZE (
      |  PARTITION BY user_id
      |  ORDER BY ts, event_id
      |  ONE ROW PER MATCH
      |  AFTER MATCH SKIP PAST LAST ROW
      |  PATTERN (C V+ P)
      |  WITHIN INTERVAL '7' DAY
      |  DEFINE C AS C.event_type = 'click',
      |         V AS V.event_type = 'view',
      |         P AS P.event_type = 'purchase'
      |           AND P.value > FIRST(V.value)
      |           AND P.value >= C.value
      |)""".stripMargin

  def cepCrossDefine(s: SparkSession, dir: String): DataFrame =
    matchRecognizeOf(graft.Tables.t(s, dir, "events"), FunnelCrossSql)
      .toDF()
      .orderBy(col("user_id"), col("start_ts_us"), col("start_event_id"))

  /** sql_mr_measures_ext — MEASURES expression breadth: AVG as a
    * first-class aggregate (pooled cents over row count, double) and
    * full +−*／ arithmetic over aggregates with standard precedence,
    * evaluated INSIDE the one-row pivot's hash aggregation. The ratio
    * measure `SUM(V.value) / COUNT(V.*)` must equal the AVG column
    * row-for-row (an in-output cross-check of division against the
    * native AVG); the product exercises '*'. r16 widens the grammar
    * with NUMERIC LITERALS and PARENTHESES: `SUM(V.value) / 100` (the
    * canonical cents→dollars scaling), the parenthesized pooled mean
    * `(SUM+SUM)/(COUNT+COUNT)` (whose value ≠ the unparenthesized
    * reading — grouping provably binds), and `COUNT(V.*) * 2 + 1`
    * (literal product under +, precedence provably binds). Oracle: the
    * funnel islands CTE computing the same eight expressions per match.
    */
  val FunnelMeasuresExtSql: String =
    """MATCH_RECOGNIZE (
      |  PARTITION BY user_id
      |  ORDER BY ts, event_id
      |  MEASURES AVG(V.value) AS v_avg_c,
      |           SUM(V.value) - SUM(C.value) AS vc_diff_c,
      |           COUNT(V.*) + COUNT(C.*) AS vc_cnt,
      |           SUM(V.value) / COUNT(V.*) AS v_ratio_c,
      |           MAX(V.value) * COUNT(V.*) AS v_scaled_c,
      |           SUM(V.value) / 100 AS v_dollars,
      |           (SUM(V.value) + SUM(C.value)) / (COUNT(V.*) + COUNT(C.*)) AS vc_per_row,
      |           COUNT(V.*) * 2 + 1 AS v_cnt2
      |  ONE ROW PER MATCH
      |  AFTER MATCH SKIP PAST LAST ROW
      |  PATTERN (C V+ P)
      |  WITHIN INTERVAL '7' DAY
      |  DEFINE C AS C.event_type = 'click',
      |         V AS V.event_type = 'view',
      |         P AS P.event_type = 'purchase'
      |)""".stripMargin

  def sqlMrMeasuresExt(s: SparkSession, dir: String): DataFrame =
    matchRecognizeMeasuresOf(graft.Tables.t(s, dir, "events"),
      FunnelMeasuresExtSql)
      .orderBy(col("user_id"), col("start_ts_us"), col("start_event_id"))

  /** sql_mr_fields — DEFINE/MEASURES FIELD BREADTH (r17, closing the
    * "(event_id, value) only" binding): the clause references an
    * arbitrary numeric input column (`k`, projected off the events
    * `props` JSON — schema-driven: the runners resolve field names
    * against the input frame's columns and reject unknown ones).
    * DEFINE exercises both new predicate forms — the field-vs-LITERAL
    * `V.k >= 20` (a low-k view now BREAKS contiguity, reshaping the
    * funnel islands) and the field-vs-FIELD `P.k > P.value` (one
    * column compared against another on the same row, the
    * Flink-SimpleCondition class) — both running as the
    * product-alphabet projection ([[RowPred]]): zero machine or
    * checkpoint-format change, one map-side codegen'd projection.
    * MEASURES aggregates the second column next to the canonical
    * channels: SUM/MAX/AVG/LAST(V.k) through the ALL-ROWS + field-join
    * pivot, COUNT(V.*) / SUM(V.value) / FIRST(C.event_id) canonical.
    * Everything binds at sf0.01: 88 plain funnels → 37 (the k-filter
    * and the purchase predicate both cut), 5 multi-view matches, and
    * LAST(V.k) ≠ MAX(V.k) on 2 of them (navigation provably distinct
    * from the extremum). Oracle: the funnel islands CTE over the
    * re-typed rows (view & k < 20 reclassified — the contiguity
    * break) with the same per-island aggregates.
    */
  val FieldsSql: String =
    """MATCH_RECOGNIZE (
      |  PARTITION BY user_id
      |  ORDER BY ts, event_id
      |  MEASURES FIRST(C.event_id) AS click_id, COUNT(V.*) AS views_cnt,
      |           SUM(V.k) AS views_k_sum, MAX(V.k) AS views_k_max,
      |           AVG(V.k) AS views_k_avg, LAST(V.k) AS views_k_last,
      |           SUM(V.value) AS views_sum_c
      |  ONE ROW PER MATCH
      |  AFTER MATCH SKIP PAST LAST ROW
      |  PATTERN (C V+ P)
      |  WITHIN INTERVAL '7' DAY
      |  DEFINE C AS C.event_type = 'click',
      |         V AS V.event_type = 'view' AND V.k >= 20,
      |         P AS P.event_type = 'purchase' AND P.k > P.value
      |)""".stripMargin

  /** The events frame with the second numeric column the fields gate
    * references: `k` extracted from the props JSON (BIGINT).
    */
  private def eventsWithK(s: SparkSession, dir: String): DataFrame =
    graft.Tables.t(s, dir, "events").withColumn("k",
      get_json_object(col("props"), "$.k").cast("long"))

  def sqlMrFields(s: SparkSession, dir: String): DataFrame =
    matchRecognizeMeasuresOf(eventsWithK(s, dir), FieldsSql)
      .orderBy(col("user_id"), col("start_ts_us"), col("start_event_id"))
}
