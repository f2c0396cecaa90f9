package graft.queries

import graft.Tables.t
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Q01–Q25 of the declared capability inventory (SURVEY.md §2.3): the
  * Table-API-class relational operator set the reference's stack implies,
  * re-expressed as idiomatic Catalyst-optimized DataFrame plans.
  *
  * Determinism contract (SURVEY.md §7.4): every query ends in an explicit
  * ORDER BY on a unique key; double aggregates go through exact
  * DECIMAL(12,2) sums (associative, so Spark's shuffle order and DuckDB's
  * scan order cannot perturb bits) and are cast back to double at the end;
  * integer-ish outputs are widened to BIGINT to match DuckDB's types.
  */
object Relational {

  /** Exact money arithmetic: decimal sums are order-independent, unlike
    * double sums, so the hash-compare against DuckDB is bit-stable.
    */
  private val D = DecimalType(12, 2)
  private def dsum(c: Column): Column = sum(c.cast(D)).cast(DoubleType)
  private def davg(c: Column): Column = sum(c.cast(D)).cast(DoubleType) / count(c)

  /** Q01 — parquet scan, full width (reference O1 analog, batch).
    * (l_orderkey, l_linenumber) is NOT unique in this synthetic data, so
    * the deterministic sort key is the full row.
    */
  def q01Scan(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    li.orderBy(li.columns.map(col).toIndexedSeq: _*)
  }

  /** Q02 — projection + theta filter (reference O4/O5: `status <> 'F'`). */
  def q02FilterProject(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .filter(col("o_orderstatus") =!= "F" && col("o_totalprice") > 1000)
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))

  /** Q03 — nested scalar conditional: the reference's FX conversion (O6,
    * TransactionProcessor.java:184-187) re-expressed over `events`.
    * Single-op double multiplies are bit-identical across engines.
    */
  def q03Conditional(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(
        col("event_id"),
        when(col("event_type") === "purchase", col("value") * 1.1)
          .when(col("event_type") === "click", col("value") * 1.3)
          .otherwise(col("value"))
          .as("v_usd"))
      .orderBy(col("event_id"))

  /** Q04 — inner equi-join; big-big, so Catalyst picks shuffle/SMJ at
    * scale (AQE may still broadcast at small SF).
    */
  def q04JoinInner(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders"); val c = t(s, dir, "customer")
    o.join(c, o("o_custkey") === c("c_custkey"), "inner")
      .select(col("o_orderkey"), col("o_custkey"), col("c_name"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  /** Q05 — broadcast join: `region` is tiny, force the broadcast so no
    * shuffle of `nation` happens at any scale.
    */
  def q05JoinBroadcast(s: SparkSession, dir: String): DataFrame = {
    val n = t(s, dir, "nation"); val r = t(s, dir, "region")
    n.join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"), col("r_name"))
      .orderBy(col("n_nationkey"))
  }

  /** Q06 — left outer join; null-side rows sort NULLS LAST explicitly so
    * Spark and DuckDB agree on row order.
    */
  def q06JoinLeft(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .select(col("c_custkey"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("c_custkey").asc, col("o_orderkey").asc_nulls_last)
  }

  /** Q07 — left semi join (EXISTS): customers with at least one order. */
  def q07JoinSemi(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** Q08 — left anti join (NOT EXISTS): customers with no orders. */
  def q08JoinAnti(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** Q09 — theta join: equi conjunct carries the shuffle, the range
    * predicate `l_quantity < p_size` is evaluated post-match (no
    * cartesian anywhere).
    */
  def q09JoinTheta(s: SparkSession, dir: String): DataFrame = {
    val l = t(s, dir, "lineitem"); val p = t(s, dir, "part")
    l.join(p, l("l_partkey") === p("p_partkey") && l("l_quantity") < p("p_size"))
      .select(col("l_orderkey"), col("l_linenumber"), col("p_partkey"),
        col("l_quantity"), col("p_size"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("p_partkey"),
        col("l_quantity"), col("p_size"))
  }

  /** Q10 — multi-key hash aggregation, TPC-H Q1 shape. Partial (map-side)
    * aggregation is free from Catalyst; decimal sums keep it exact.
    */
  def q10Agg(s: SparkSession, dir: String): DataFrame = {
    val l = t(s, dir, "lineitem")
    val discPrice = col("l_extendedprice").cast(D) *
      (lit(1).cast(D) - col("l_discount").cast(D))
    l.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        sum(discPrice).cast(DoubleType).as("sum_disc_price"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_extendedprice")).as("avg_price"),
        davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** Q11 — exact distinct aggregation (expands to a two-phase plan). */
  def q11CountDistinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .agg(countDistinct(col("o_custkey")).as("n_custkeys"))

  /** Q12 — approximate distinct via HyperLogLog++. Deliberately has no
    * DuckDB hash oracle (different sketch implementations); the spec-level
    * check (±5% of exact) lives in RelationalSpec.
    */
  def q12ApproxDistinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .agg(approx_count_distinct(col("l_partkey"), 0.01).as("approx_parts"))

  /** Driver-gate form of Q12: the HLL++ estimate and the exact distinct
    * count are computed in the SAME aggregation, and the ±5% contract is
    * emitted as data (`within_5pct`, integer cross-multiplied) next to
    * the definitional exact count — the DuckDB oracle recomputes the
    * exact count and pins the verdict to 1, so the approximate operator
    * is hash-gated on its contract instead of skipped. The estimator runs
    * at rsd=0.01 so the 5% envelope is a 5-sigma bound, not the default
    * rsd's 1-sigma — robust to data or hash-seed changes, not just the
    * fixed gate corpus.
    */
  def q12ApproxDistinctChecked(s: SparkSession, dir: String): DataFrame = {
    // SPLIT aggregations (r17, the Profile.profileApproxChecked fix
    // applied here): mixing countDistinct with the HLL in ONE agg
    // makes the distinct rewrite group by l_partkey first, so ~|parts|
    // HLL partial buffers (rsd 0.01 → 2^16 registers each) are built
    // and merged — measured 4.1 s. Split, the HLL runs as a plain
    // partial agg over the scan and the exact count keeps its natural
    // two-stage distinct plan; the two 1-row results cross-join for
    // free. The HLL estimate is partitioning-independent (register
    // maxima), so the emitted values are unchanged.
    val li = t(s, dir, "lineitem")
    li.agg(countDistinct(col("l_partkey")).as("exact_parts"))
      .crossJoin(broadcast(
        li.agg(approx_count_distinct(col("l_partkey"), 0.01).as("a"))))
      .select(col("exact_parts"),
        (abs(col("a") - col("exact_parts")) * 20 <= col("exact_parts"))
          .cast("long").as("within_5pct"))
  }

  /** Q10b — exact percentiles (interpolated median/p90 per group); both
    * engines interpolate linearly on the sorted values, rounded to absorb
    * formula-order FP differences.
    */
  def q10bPercentile(s: SparkSession, dir: String): DataFrame =
    // distributed exact interpolated percentiles — see operators.Percentiles
    // for why this beats the `percentile` aggregate at scale
    graft.operators.Percentiles.grouped(
        t(s, dir, "lineitem"), "l_returnflag", "l_extendedprice", Seq(0.5, 0.9))
      .select(col("l_returnflag"),
        round(col("p50"), 4).as("p50"), round(col("p90"), 4).as("p90"))
      .orderBy(col("l_returnflag"))

  /** Q10c — full aggregate-function breadth: min/max plus variance and
    * stddev computed from exact decimal sums (sum, sum-of-squares), so
    * the textbook formula is bit-stable across engines — the built-in
    * stddev_samp (Welford) would not hash-match.
    */
  def q10cStats(s: SparkSession, dir: String): DataFrame = {
    val x = col("o_totalprice")
    val sx = sum(x.cast(D)).cast(DoubleType)
    val sxx = sum(x.cast(D) * x.cast(D)).cast(DoubleType)
    val n = count(x).cast(DoubleType)
    t(s, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(
        min(x).as("mn"), max(x).as("mx"),
        count(lit(1)).as("cnt"),
        round((sxx - sx * sx / n) / (n - 1), 4).as("var_"),
        round(sqrt((sxx - sx * sx / n) / (n - 1)), 4).as("sd"))
      .orderBy(col("o_orderstatus"))
  }

  /** Q13c — pivot (columnar re-shape of a grouped aggregation). */
  def q13cPivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(count(lit(1)))
      .select(col("l_returnflag"),
        coalesce(col("F"), lit(0L)).as("cnt_f"),
        coalesce(col("O"), lit(0L)).as("cnt_o"))
      .orderBy(col("l_returnflag"))

  /** Q13b — GROUPING SETS through the SQL surface (the general form
    * rollup/cube special-case).
    */
  def q13bGroupingSets(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.registerAll(s, dir)
    s.sql(q13bSql)
  }

  val q13bSql: String =
    """SELECT COALESCE(l_returnflag, 'ALL') AS rflag,
      |       COALESCE(l_linestatus, 'ALL') AS lstatus,
      |       COUNT(*) AS cnt
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
      |ORDER BY rflag, lstatus""".stripMargin

  /** Q13 — ROLLUP: grouping-set nulls are folded to 'ALL' sentinels
    * (no natural nulls in these columns) so ordering is engine-agnostic.
    */
  def q13Rollup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("cnt"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
        col("sum_qty"), col("cnt"))
      .orderBy(col("rflag"), col("lstatus"))

  /** Q13e — CUBE over (returnflag, linestatus): all four grouping-set
    * combinations (both keys, each alone, grand total) from ONE pass —
    * Catalyst plans the same Expand + partial-agg shape as ROLLUP /
    * GROUPING SETS, so the fact scan count stays 1 no matter how many
    * grouping sets the cube implies. NULL group keys are coalesced to a
    * sentinel so both engines order the output rows identically.
    */
  def q13eCube(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("cnt"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
        col("sum_qty"), col("cnt"))
      .orderBy(col("rflag"), col("lstatus"))

  /** Q14c — ratio-to-report (percent of total): each nation's share of
    * global revenue. The input to the unpartitioned share window is the
    * PRE-AGGREGATED per-nation table — group-count rows, not fact rows —
    * so the "global window" that would be a single-task disaster on raw
    * data is a no-op here; the fact-sized work is all in the partial-agg
    * groupBy. That pre-collapse-then-window order is the whole operator.
    */
  def q14cRatioToReport(s: SparkSession, dir: String): DataFrame = {
    val byNation = t(s, dir, "customer")
      .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
      .join(broadcast(t(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(dsum(col("o_totalprice")).as("revenue"))
    byNation
      .select(col("n_name"), round(col("revenue"), 2).as("revenue"),
        round(col("revenue") / sum(col("revenue"))
          .over(Window.partitionBy()), 6).as("rev_share"))
      .orderBy(col("n_name"))
  }

  /** Q14 — ranking window functions, top-3 per customer (rank ties share
    * values in both engines; row_number is made unique by the o_orderkey
    * tiebreak).
    */
  def q14WindowRank(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        row_number().over(w).as("rn"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"))
      .filter(col("rn") <= 3)
      .orderBy(col("o_custkey"), col("rn"))
  }

  /** Q11b — several DISTINCT aggregates over different columns in one
    * pass: Catalyst plans this via Expand (one replicated stream per
    * distinct set) — the multi-distinct shape that would otherwise need
    * self-joins.
    */
  def q11bMultiDistinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(
        countDistinct(col("o_custkey")).as("n_cust"),
        countDistinct(col("o_orderpriority")).as("n_prio"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("o_orderstatus"))

  /** Q17b — multiset set operations (EXCEPT ALL / INTERSECT ALL keep
    * duplicate counts, unlike Q17's set-semantics forms); output
    * aggregated per key so the result is deterministic.
    */
  def q17bSetOpsAll(s: SparkSession, dir: String): DataFrame = {
    val a = t(s, dir, "orders").select(col("o_custkey").as("k"))
    val b = t(s, dir, "customer").filter(col("c_custkey") % 2 === 0)
      .select(col("c_custkey").as("k"))
    val ex = a.exceptAll(b).groupBy(col("k")).agg(count(lit(1)).as("n"))
      .withColumn("op", lit("except_all"))
    val in = a.intersectAll(b).groupBy(col("k")).agg(count(lit(1)).as("n"))
      .withColumn("op", lit("intersect_all"))
    ex.union(in).select(col("op"), col("k"), col("n"))
      .orderBy(col("op"), col("k"))
  }

  /** Q06c — full outer join with null rows on BOTH sides (the inputs are
    * filtered to overlapping-but-distinct key ranges so each side has
    * unmatched rows); deterministic order via NULLS LAST on both keys.
    */
  def q06cFullOuter(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").filter(col("c_custkey") <= 500)
      .select(col("c_custkey"))
    val o = t(s, dir, "orders").filter(col("o_custkey") >= 400)
      .select(col("o_orderkey"), col("o_custkey"))
    c.join(o, col("c_custkey") === col("o_custkey"), "full_outer")
      .select(col("c_custkey"), col("o_orderkey"), col("o_custkey"))
      .orderBy(asc_nulls_last("c_custkey"), asc_nulls_last("o_orderkey"))
  }

  /** Q13d — unpivot (wide → long reshape, the inverse of Q13c's pivot):
    * per-returnflag quantity sums per linestatus column melted back to
    * rows.
    */
  def q13dUnpivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        dsum(when(col("l_linestatus") === "O", col("l_quantity"))).as("qty_O"),
        dsum(when(col("l_linestatus") === "F", col("l_quantity"))).as("qty_F"))
      .unpivot(Array(col("l_returnflag")),
        Array(col("qty_O"), col("qty_F")), "linestatus", "qty")
      // Spark's unpivot RETAINS null-valued rows while DuckDB's UNPIVOT
      // excludes them by default; drop them explicitly so a returnflag
      // group missing one linestatus hashes identically in both engines
      .filter(col("qty").isNotNull)
      .withColumn("linestatus", substring(col("linestatus"), 5, 1))
      .orderBy(col("l_returnflag"), col("linestatus"))

  /** Q14b — distribution window functions (ntile / percent_rank /
    * cume_dist) over the same deterministic per-customer ordering.
    */
  def q14bWindowDist(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        ntile(4).over(w).cast(LongType).as("quartile"),
        // (rank-1)/(n-1): one double division — bit-identical across
        // engines; round(6) only normalizes representation
        round(percent_rank().over(w), 6).as("pr"),
        round(cume_dist().over(w), 6).as("cd"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** Q15b — navigation window functions (first/last/nth value) over the
    * full-partition frame.
    */
  def q15bWindowNav(s: SparkSession, dir: String): DataFrame = {
    val full = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        first(col("o_totalprice")).over(full).as("first_price"),
        last(col("o_totalprice")).over(full).as("last_price"),
        nth_value(col("o_totalprice"), 2).over(full).as("second_price"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** Q15d — IGNORE NULLS navigation: per-user last-observation-carried-
    * forward of the purchase value over the full event stream (`last(…,
    * ignoreNulls)` over an explicit ROWS frame — the frame is spelled out
    * because the default RANGE frame includes ORDER-BY peers, and the
    * LOCF contract is "strictly what has happened so far"). One keyed
    * window on user_id, no self-join, no gap table.
    */
  def q15dIgnoreNulls(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "events")
      .withColumn("pv",
        when(col("event_type") === "purchase", col("value")))
      .select(col("user_id"), col("event_id"),
        last(col("pv"), ignoreNulls = true).over(w).as("last_purchase_value"))
      .filter(col("user_id") < 50)
      .select(col("user_id"), col("event_id"),
        round(col("last_purchase_value"), 2).as("last_purchase_value"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Q10d — deterministic arg-max/arg-min aggregation (max_by/min_by
    * keyed on the globally unique event_id): the "latest/first row per
    * key" class as a single hash aggregation — no window, no self-join.
    */
  def q10dArgmax(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(
        max_by(col("event_type"), col("event_id")).as("last_type"),
        min_by(col("event_type"), col("event_id")).as("first_type"),
        max(col("event_id")).as("last_event_id"),
        count(lit(1)).as("n_events"))
      .orderBy(col("user_id"))

  /** Q15 — analytic window functions with an explicit ROWS frame. The
    * 3-row moving sum goes through decimal so frame-order FP effects
    * cannot appear.
    */
  def q15WindowFrame(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"),
        sum(col("o_totalprice").cast(D)).over(w.rowsBetween(-2, 0))
          .cast(DoubleType).as("mov_sum_3"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** Q16 — global top-k: compiles to TakeOrderedAndProject, i.e. per-
    * partition heaps + driver merge — no global sort at any scale.
    */
  def q16TopK(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .select(col("o_orderkey"), col("o_totalprice"))
      .limit(10)

  /** Q17 — set operations: INTERSECT + EXCEPT feeding a UNION ALL. */
  def q17SetOps(s: SparkSession, dir: String): DataFrame = {
    val ok = t(s, dir, "orders").select(col("o_custkey").as("k"))
    val ck = t(s, dir, "customer").select(col("c_custkey").as("k"))
    val both = ok.intersect(ck).withColumn("tag", lit("both"))
    val none = ck.except(ok).withColumn("tag", lit("no_orders"))
    both.unionByName(none).select(col("tag"), col("k")).orderBy(col("tag"), col("k"))
  }

  /** Q18 — string function surface (all codegen'd builtins). */
  def q18Strings(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .select(
        col("c_custkey"),
        upper(col("c_name")).as("un"),
        substring(col("c_name"), 1, 8).as("sb"),
        concat(col("c_name"), lit("#"), col("c_mktsegment")).as("cc"),
        trim(col("c_name")).as("tr"),
        length(col("c_name")).cast(LongType).as("len"),
        col("c_name").like("%1%").as("lk"),
        regexp_extract(col("c_name"), "([0-9]+)", 1).as("re"),
        array_join(split(col("c_name"), "#"), "|").as("sp"))
      .orderBy(col("c_custkey"))

  /** Q18b — wider string surface: pad/replace/translate/position/case. */
  def q18bStrings(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .select(
        col("c_custkey"),
        lpad(col("c_name"), 24, "*").as("lp"),
        rpad(col("c_mktsegment"), 12, ".").as("rp"),
        regexp_replace(col("c_name"), "[0-9]", "#").as("masked"),
        translate(col("c_mktsegment"), "AEIOU", "aeiou").as("tl"),
        instr(col("c_name"), "1").cast(LongType).as("pos1"),
        initcap(lower(col("c_mktsegment"))).as("ic"),
        reverse(col("c_name")).as("rev"),
        repeat(lit("ab"), 3).as("rep"))
      .orderBy(col("c_custkey"))

  /** Q19 — date/time function surface. */
  def q19Dates(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast(LongType).as("y"),
        month(col("o_orderdate")).cast(LongType).as("m"),
        dayofmonth(col("o_orderdate")).cast(LongType).as("d"),
        date_trunc("month", col("o_orderdate")).as("mon"),
        datediff(col("o_orderdate"), lit("1995-01-01").cast(DateType))
          .cast(LongType).as("days_since"))
      .orderBy(col("o_orderkey"))

  /** Q19b — wider datetime surface: month arithmetic, boundaries,
    * day-of-week, epoch extraction.
    */
  def q19bDates(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(
        col("o_orderkey"),
        // dates exported as ISO strings: date32 vs timestamp dtypes differ
        // across engines, the rendered values don't
        date_format(add_months(col("o_orderdate").cast(DateType), 3), "yyyy-MM-dd")
          .as("plus3m"),
        date_format(last_day(col("o_orderdate")), "yyyy-MM-dd").as("eom"),
        dayofweek(col("o_orderdate")).cast(LongType).as("dow"),
        quarter(col("o_orderdate")).cast(LongType).as("qtr"),
        unix_micros(col("o_orderdate").cast(TimestampType)).as("epoch_us"))
      .orderBy(col("o_orderkey"))

  /** Q20 — math function surface. sqrt is IEEE-exact; ln is rounded to
    * 6 dp to absorb sub-ulp libm differences.
    */
  def q20Math(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(
        col("o_orderkey"),
        abs(col("o_totalprice") - 1000).as("ab"),
        floor(col("o_totalprice")).cast(LongType).as("fl"),
        ceil(col("o_totalprice")).cast(LongType).as("ce"),
        round(sqrt(col("o_totalprice")), 6).as("sq"),
        round(log(col("o_totalprice")), 6).as("ln_"))
      .orderBy(col("o_orderkey"))

  /** Q21 — array function surface over the embedding vectors (scalar
    * outputs only: float formatting/list encodings differ across engines,
    * values do not).
    */
  def q21Arrays(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(
        col("vec_id"),
        size(col("embedding")).cast(LongType).as("dim"),
        element_at(col("embedding"), 1).as("v0"),
        array_min(col("embedding")).as("vmin"),
        array_max(col("embedding")).as("vmax"),
        exists(col("embedding"), _ > 0.2f).as("has_big"))
      .orderBy(col("vec_id"))

  /** Q21c — higher-order array functions: filter/transform/aggregate
    * lambdas over the embedding vectors (the Table-API collection-
    * function class). Sums are sequential left-folds in both engines;
    * rounded to absorb accumulation-order ulps.
    */
  def q21cHigherOrder(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(
        col("vec_id"),
        size(filter(col("embedding"), x => x > 0))
          .cast(LongType).as("n_pos"),
        round(aggregate(col("embedding"), lit(0.0),
          (acc, x) => acc + abs(x.cast(DoubleType))), 4).as("l1"),
        round(aggregate(slice(col("embedding"), 1, 8), lit(0.0),
          (acc, x) => acc + x.cast(DoubleType)), 4).as("head8_sum"))
      .orderBy(col("vec_id"))

  /** Q21e — the remaining declared array surface (Q21's sort_array /
    * array_contains family): ordering, membership, position, overlap and
    * slicing over a small integer array derived per row (float arrays
    * would make sort output float-compare-sensitive; the int projection
    * keeps the oracle exact).
    */
  def q21eArrayFns(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("vec_id"),
        // per-row int array: first 6 dims quantized to ints
        transform(slice(col("embedding"), 1, 6),
          x => floor(x.cast(DoubleType) * 10).cast(LongType)).as("a"))
      .select(
        col("vec_id"),
        // arrays exported as joined strings: the compare layer is
        // scalar-typed (same reason window bounds export as micros)
        array_join(sort_array(col("a")), ",").as("sorted_a"),
        array_join(sort_array(col("a"), asc = false), ",").as("sorted_desc"),
        array_contains(col("a"), 1L).as("has_one"),
        array_position(col("a"), 1L).cast(LongType).as("pos_one"),
        arrays_overlap(col("a"), array(lit(0L), lit(1L))).as("ovl_01"),
        array_join(sort_array(array_distinct(col("a"))), ",").as("dedup_a"),
        array_join(slice(col("a"), 2, 3), ",").as("mid3"))
      .orderBy(col("vec_id"))

  /** Q21f — OUTER explode (LATERAL VIEW OUTER semantics): rows whose
    * array is empty survive with a NULL element instead of vanishing —
    * the left-join flavor of the generator. Plain explode silently drops
    * such rows (q21's inner form); here docs without any z-token still
    * report.
    */
  def q21fOuterExplode(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.tokens
    t(s, dir, "documents")
      .select(col("doc_id"),
        explode_outer(filter(tokens(col("text")),
          t => t.startsWith("z"))).as("ztoken"))
      .orderBy(col("doc_id"), col("ztoken"))
  }

  /** Q21g — set-like array algebra (array_union / array_intersect /
    * array_except) between each row's head-int array and a constant
    * reference set; outputs sorted before export so the order contract
    * is the same on both engines (Spark preserves first-appearance
    * order, DuckDB composes from concat/filter — sorting removes the
    * difference without weakening the set semantics under test).
    */
  def q21gArraySetOps(s: SparkSession, dir: String): DataFrame = {
    val ref = array((0L to 3L).map(lit): _*)
    t(s, dir, "embeddings")
      .select(col("vec_id"),
        transform(slice(col("embedding"), 1, 6),
          x => floor(x.cast(DoubleType) * 10).cast(LongType)).as("a"))
      .select(col("vec_id"),
        array_join(sort_array(array_union(col("a"), ref)), ",").as("u"),
        array_join(sort_array(array_intersect(col("a"), ref)), ",").as("i"),
        array_join(sort_array(array_except(col("a"), ref)), ",").as("x"))
      .orderBy(col("vec_id"))
  }

  /** Q19c — string→temporal parsing round-trip. */
  def q19cParse(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("rendered"))
      .select(col("event_id"), col("rendered"),
        unix_micros(to_timestamp(col("rendered"), "yyyy-MM-dd HH:mm:ss"))
          .as("reparsed_us"))
      .orderBy(col("event_id"))

  /** Q21b — explode/UNNEST (Generator) with position. */
  def q21Explode(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .filter(col("vec_id") < 3)
      .select(col("vec_id"), posexplode(col("embedding")))
      .select(col("vec_id"), (col("pos") + 1).cast(LongType).as("pos"),
        col("col").as("val"))
      .orderBy(col("vec_id"), col("pos"))

  /** Q22 — map function surface (mirrors the reference's MAP metadata
    * column, TransactionProcessor.java:103-105); scalar outputs.
    */
  def q22Maps(s: SparkSession, dir: String): DataFrame = {
    val m = map(
      lit("type"), col("event_type"),
      lit("uid"), col("user_id").cast(StringType))
    t(s, dir, "events")
      .select(
        col("event_id"),
        element_at(m, "type").as("mt"),
        size(m).cast(LongType).as("msz"),
        array_join(array_sort(map_keys(m)), ",").as("mkeys"))
      .orderBy(col("event_id"))
  }

  /** Q22b — map higher-order functions (transform_values / map_filter /
    * map_concat / map_entries): the MAP-typed counterpart of q21c's array
    * HOFs, over the same per-row map q22 builds. Entries export as a
    * key-sorted joined string (scalar compare layer); the oracle rebuilds
    * every expected value relationally from the source columns, so no
    * cross-engine map semantics enter the check.
    */
  def q22bMapHof(s: SparkSession, dir: String): DataFrame = {
    val m = map(lit("type"), col("event_type"),
      lit("uid"), col("user_id").cast(StringType))
    t(s, dir, "events")
      .select(col("event_id"),
        element_at(transform_values(m, (_, v) => upper(v)), "type").as("mval"),
        array_join(map_keys(map_filter(m, (k, _) => k === "uid")), ",").as("kept"),
        size(map_concat(m, map(lit("src"), lit("x")))).cast(LongType).as("merged_n"),
        array_join(transform(sort_array(map_entries(m)),
          e => concat(e.getField("key"), lit("="), e.getField("value"))), ",")
          .as("entries"))
      .orderBy(col("event_id"))
  }

  /** Q23 — JSON functions over the `props` JSON string column. */
  def q23Json(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast(LongType).as("k_val"),
        from_json(col("props"), StructType(Seq(StructField("k", LongType))))
          .getField("k").as("k_struct"))
      .orderBy(col("event_id"))

  /** Q06d — NULL-safe equality join (`<=>` / IS NOT DISTINCT FROM):
    * synthesized NULL keys on both dims match each other instead of
    * dropping. Deliberately dimension-sized: every NULL-keyed left row
    * pairs with every NULL-keyed right row, so on fact tables the NULL
    * bucket is a hidden cross join — keep `<=>` for keys whose NULL
    * population is bounded (or pre-split the NULL partition).
    */
  def q06dNullSafeJoin(s: SparkSession, dir: String): DataFrame = {
    val n = t(s, dir, "nation")
      .withColumn("k", when(pmod(col("n_nationkey"), lit(7)) === 0,
        lit(null).cast(LongType)).otherwise(col("n_regionkey")))
    val r = t(s, dir, "region")
      .withColumn("rk", when(col("r_regionkey") === 0,
        lit(null).cast(LongType)).otherwise(col("r_regionkey")))
    n.join(r, col("k") <=> col("rk"))
      .select(col("n_nationkey"), col("n_name"), col("r_name"),
        col("k").isNull.as("matched_on_null"))
      .orderBy(col("n_nationkey"), col("r_name"))
  }

  /** Q23b — malformed-input quarantine: the ingest-robustness split every
    * production pipeline needs. Corruption is synthesized
    * deterministically (truncated JSON for id≡0 mod 7, non-JSON for
    * id≡0 mod 11), parsing failure is detected row-local
    * (get_json_object → NULL ≡ DuckDB json_valid=false for these
    * corruptions), and the good/quarantined split is one conditional
    * aggregation — bad rows never kill the batch, and the report costs
    * no second scan.
    */
  def q23bJsonQuarantine(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .withColumn("raw",
        when(pmod(col("event_id"), lit(7)) === 0,
          expr("substring(props, 1, length(props) - 2)"))
          .when(pmod(col("event_id"), lit(11)) === 0, lit("not json"))
          .otherwise(col("props")))
      .withColumn("k", get_json_object(col("raw"), "$.k").cast(LongType))
      .withColumn("status",
        when(col("k").isNotNull, "good").otherwise("quarantined"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("cnt"), min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"))
      .orderBy(col("status"))

  /** Q24 — correlated subqueries through the SQL surface, exercising
    * Catalyst decorrelation. The FP-safe formulation compares
    * `price * n > exact_sum` (single-op arithmetic on both engines)
    * instead of `price > avg`.
    */
  val q24Sql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders o
      |WHERE o_totalprice * (SELECT COUNT(*) FROM orders x WHERE x.o_custkey = o.o_custkey)
      |      > (SELECT CAST(SUM(CAST(y.o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
      |         FROM orders y WHERE y.o_custkey = o.o_custkey)
      |ORDER BY o_orderkey""".stripMargin

  def q24Subquery(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.registerAll(s, dir)
    s.sql(q24Sql)
  }

  /** Q24b — decorrelated IN / NOT IN subqueries (Catalyst rewrites to
    * semi/anti joins; keys are non-null so NOT IN's three-valued-logic
    * trap is inert and both engines agree).
    */
  val q24bSql: String =
    """SELECT c_custkey, c_name,
      |  c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 100000) AS big_spender
      |FROM customer
      |WHERE c_custkey IN (SELECT o_custkey FROM orders)
      |  AND c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'P')
      |ORDER BY c_custkey""".stripMargin

  def q24bInSubquery(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.registerAll(s, dir)
    s.sql(q24bSql)
  }

  /** Q24d — INEQUALITY-correlated NOT EXISTS (the argmax-as-anti-join
    * idiom: an order survives iff no same-customer order outprices it).
    * Catalyst decorrelates to a left-anti join with the non-equi
    * conjunct riding the equi key — no per-row subquery execution. Ties
    * keep every maximal row on both engines (set semantics, no
    * tie-break gamble).
    */
  val q24dSql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice
      |FROM orders o
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM orders o2
      |  WHERE o2.o_custkey = o.o_custkey
      |    AND o2.o_totalprice > o.o_totalprice)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  def q24dAntiArgmax(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.registerAll(s, dir)
    s.sql(q24dSql)
  }

  /** Q24c — correlated LATERAL subquery with per-row LIMIT (top-2 orders
    * per customer via the SQL-standard lateral form): Catalyst
    * decorrelates it into a ranked window join — no per-row subquery
    * execution.
    */
  def q24cLateral(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.registerAll(s, dir)
    s.sql("""
      SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
      FROM customer c,
      LATERAL (SELECT o_orderkey, o_totalprice FROM orders
               WHERE o_custkey = c.c_custkey
               ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
      ORDER BY c.c_custkey, o.o_totalprice DESC, o.o_orderkey""")
  }

  /** Q12b — approximate percentiles (t-digest-family sketch): declared
    * approximate like Q12's HLL, so the check tier is a spec asserting
    * the estimates bracket the exact sort-rank values within the accuracy
    * bound — cross-engine sketch states differ by design, no hash oracle.
    */
  def q12bApproxPercentile(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        expr("approx_percentile(l_extendedprice, 0.5, 10000)").as("p50_approx"),
        expr("approx_percentile(l_extendedprice, 0.9, 10000)").as("p90_approx"))
      .orderBy(col("l_returnflag"))

  /** Driver-gate form of Q12b: each approx_percentile result is
    * rank-audited against the raw column — the true rank interval
    * [count(<q)/n, count(≤q)/n] must intersect p ± 1% (GK at
    * accuracy=10000 guarantees ≤ 0.01% rank error; 1% is a generous
    * envelope), integer cross-multiplied and emitted as
    * `p50_rank_ok`/`p90_rank_ok`. The row also carries the definitional
    * exact discrete percentiles (smallest value with cum ≥ p·n) and the
    * group size, which the DuckDB oracle recomputes verbatim.
    */
  def q12bApproxPercentileChecked(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val li = t(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_extendedprice"))
    val approx = q12bApproxPercentile(s, dir)
    val ranks = li.join(broadcast(approx), Seq("l_returnflag"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("l_extendedprice") < col("p50_approx"), 1L)
          .otherwise(0L)).as("lt50"),
        sum(when(col("l_extendedprice") <= col("p50_approx"), 1L)
          .otherwise(0L)).as("le50"),
        sum(when(col("l_extendedprice") < col("p90_approx"), 1L)
          .otherwise(0L)).as("lt90"),
        sum(when(col("l_extendedprice") <= col("p90_approx"), 1L)
          .otherwise(0L)).as("le90"))
    val h = li.groupBy(col("l_returnflag"), col("l_extendedprice"))
      .agg(count(lit(1)).as("w"))
    val win = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("l_extendedprice"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val exact = h.withColumn("cum", sum(col("w")).over(win))
      .withColumn("tot",
        sum(col("w")).over(Window.partitionBy(col("l_returnflag"))))
      .groupBy(col("l_returnflag"))
      .agg(
        min(when(col("cum") * 2 >= col("tot"), col("l_extendedprice")))
          .as("exact_p50"),
        min(when(col("cum") * 10 >= col("tot") * 9, col("l_extendedprice")))
          .as("exact_p90"))
    ranks.join(exact, Seq("l_returnflag"))
      .select(col("l_returnflag"), col("n").as("n_rows"),
        col("exact_p50"), col("exact_p90"),
        (col("lt50") * 100 <= col("n") * 51 &&
          col("le50") * 100 >= col("n") * 49).cast("long").as("p50_rank_ok"),
        (col("lt90") * 100 <= col("n") * 91 &&
          col("le90") * 100 >= col("n") * 89).cast("long").as("p90_rank_ok"))
      .orderBy(col("l_returnflag"))
  }

  /** Q21d — nested STRUCT round-trip: build, project through, compare,
    * and re-flatten named structs (the nested-row type class; the rest of
    * the inventory is flat). Struct comparison uses field order, which
    * both engines define identically.
    */
  def q21dStruct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(col("o_orderkey"),
        struct(col("o_custkey").as("k"), col("o_totalprice").as("p")).as("s"))
      .filter(col("s").getField("p") > 50000.0)
      .select(col("o_orderkey"),
        col("s").getField("k").as("cust"),
        col("s").getField("p").as("price"),
        (col("s") === struct(col("s").getField("k").as("k"),
          col("s").getField("p").as("p"))).as("self_eq"))
      .orderBy(col("o_orderkey"))

  /** Q16b — LIMIT with OFFSET (deterministic pagination). */
  def q16bOffset(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .select(col("o_orderkey"), col("o_totalprice"))
      .offset(10)
      .limit(10)

  /** Q06b — null-handling function surface over outer-join output:
    * coalesce/nvl2-shape/null predicates/null-safe equality.
    */
  def q06bNulls(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(
        count(col("o_orderkey")).as("n_orders"),
        sum(coalesce(col("o_totalprice").cast(D), lit(0).cast(D)))
          .cast(DoubleType).as("total_spend"),
        max(col("o_orderkey").isNull).as("any_null"),
        count(when(col("o_orderkey").isNull, 1)).as("n_null"))
      .orderBy(col("c_custkey"))
  }

  /** Q25c — sequential-pattern (CEP-lite, the MATCH_RECOGNIZE class):
    * per-user funnel signup → click → purchase in timestamp order, plus
    * direct click→purchase transition counts via lag. Window functions
    * over one key shuffle — the scalable form of simple event-sequence
    * detection.
    */
  def q25cFunnel(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val ev = t(s, dir, "events")
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
    ev.groupBy(col("user_id"))
      .agg(
        min(when(col("event_type") === "signup", col("ts"))).as("first_signup"),
        min(when(col("event_type") === "click", col("ts"))).as("first_click"),
        min(when(col("event_type") === "purchase", col("ts"))).as("first_purchase"),
        count(when(col("prev_type") === "click" &&
          col("event_type") === "purchase", 1)).as("click_then_purchase"))
      .select(
        col("user_id"),
        (col("first_signup") < col("first_click") &&
          col("first_click") < col("first_purchase")).as("funnel_complete"),
        col("click_then_purchase"))
      .orderBy(col("user_id"))
  }

  /** Q25e — TIME-CONSTRAINED sequence detection (the within-interval CEP
    * pattern Flink writes as MATCH_RECOGNIZE / interval joins): adjacent
    * click→purchase transitions that complete within 2 minutes, with
    * per-user conversion latency. Same one-key-shuffle window as q25c —
    * the time bound is a map-side filter on the lagged timestamp, no
    * extra shuffle, no self-join.
    */
  def q25eFunnelWindowed(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    t(s, dir, "events")
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .filter(col("prev_type") === "click" && col("event_type") === "purchase")
      .withColumn("latency_us", unix_micros(col("ts")) - unix_micros(col("prev_ts")))
      .filter(col("latency_us") <= 120000000L)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_fast_conversions"),
        min(col("latency_us")).as("min_latency_us"))
      .orderBy(col("user_id"))
  }

  /** Q25 — exact dedup: latest event per (user_id, event_type), the
    * window-rank form of `dropDuplicates` (reference extension; SURVEY.md
    * §2.3 Q25). Timestamps exported as epoch micros so DuckDB's ns
    * precision cannot skew the compare.
    */
  def q25DedupExact(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts").desc, col("event_id").desc)
    t(s, dir, "events")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("value"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** Q10e — correlation / covariance / regression slope per group, built
    * from exact decimal co-moments (Σx, Σy, Σxy, Σx², Σy², n) instead of
    * the built-in corr/covar_samp (Welford-style, shuffle-order-dependent
    * in the last bits → would not hash-match). Decimal sums are
    * associative, so the one map-side-combined aggregation is the whole
    * query at any scale.
    */
  def q10eCorr(s: SparkSession, dir: String): DataFrame = {
    val x = col("l_quantity").cast(D)
    val y = col("l_extendedprice").cast(D)
    val sx = sum(x).cast(DoubleType); val sy = sum(y).cast(DoubleType)
    val sxy = sum(x * y).cast(DoubleType)
    val sxx = sum(x * x).cast(DoubleType); val syy = sum(y * y).cast(DoubleType)
    val n = count(lit(1)).cast(DoubleType)
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("cnt"),
        round((n * sxy - sx * sy) /
          sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6).as("corr_qp"),
        round((sxy - sx * sy / n) / (n - 1), 4).as("covar_s"),
        round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6).as("slope"))
      .orderBy(col("l_returnflag"))
  }

  /** Q20b — bitwise and boolean aggregates (bit_and/or/xor, bool_and/or):
    * the flag-combining aggregation family; all associative, map-side
    * combined, integer-exact.
    */
  def q20bBitAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        expr("bit_and(event_id)").as("band"),
        expr("bit_or(event_id)").as("bor"),
        expr("bit_xor(event_id)").as("bxor"),
        expr("bool_and(value > 1.0)").as("all_gt1"),
        expr("bool_or(value > 400.0)").as("any_gt400"),
        count(lit(1)).as("cnt"))
      .orderBy(col("event_type"))

  /** Q15c — RANGE window frame (value-range peers, not row offsets): a
    * 30-day trailing spend sum per customer. RANGE frames bound by the
    * ORDER-BY value, so ties aggregate identically regardless of
    * intra-tie order — deterministic without a unique sort key.
    */
  def q15cRangeFrame(s: SparkSession, dir: String): DataFrame = {
    val micros30d = 30L * 24 * 3600 * 1000000
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("ts_us"))
      .rangeBetween(-micros30d, 0)
    t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        unix_micros(col("o_orderdate").cast(TimestampType)).as("ts_us"),
        col("o_totalprice"))
      .withColumn("spend_30d",
        sum(col("o_totalprice").cast(D)).over(w).cast(DoubleType))
      .select(col("o_custkey"), col("o_orderkey"), col("ts_us"), col("spend_30d"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** Q10g — ordered list aggregation (LISTAGG/string_agg): distinct
    * nation keys per market segment as a sorted CSV. Sorting inside the
    * aggregate (array_sort before join) makes the string order-free.
    */
  def q10gListagg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .groupBy(col("c_mktsegment"))
      .agg(
        concat_ws(",",
          transform(array_sort(collect_set(col("c_nationkey"))),
            x => x.cast(StringType))).as("nations"),
        count_distinct(col("c_nationkey")).as("n_nations"))
      .orderBy(col("c_mktsegment"))

  /** Q10h — IQR outlier detection (the numeric data-cleaning gate):
    * per-group Tukey fences from the sketch-pruned exact percentiles,
    * broadcast back onto the fact rows. Fences are rounded to 4 dp in
    * BOTH engines before comparing — the interpolated quantile agrees
    * across engines at 4 dp (q10b's contract), so the boundary test is
    * engine-stable; prices themselves are compared raw.
    */
  def q10hOutliers(s: SparkSession, dir: String): DataFrame = {
    val q = graft.operators.Percentiles.grouped(
      t(s, dir, "orders"), "o_orderstatus", "o_totalprice", Seq(0.25, 0.75))
    val iqr = col("p75") - col("p25")
    val bounds = q.select(col("o_orderstatus"),
      round(col("p25") - iqr * 1.5, 4).as("lo"),
      round(col("p75") + iqr * 1.5, 4).as("hi"))
    t(s, dir, "orders")
      .join(broadcast(bounds), "o_orderstatus")
      .filter(col("o_totalprice") < col("lo") || col("o_totalprice") > col("hi"))
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        col("lo"), col("hi"))
      .orderBy(col("o_orderkey"))
  }

  /** Q10n — winsorization (percentile clipping): values outside the
    * per-group [p5, p95] band are clamped to the boundary, the standard
    * heavy-tail taming before a mean/feature export. Boundaries come from
    * the sketch-pruned exact percentile operator (4dp cross-engine
    * rounding, the q10h contract) and join back as a broadcast; the clip
    * itself is one map-side CASE, the report one partial-agg pass with
    * the clamped sum running through exact DECIMAL(18,4).
    */
  def q10nWinsorize(s: SparkSession, dir: String): DataFrame = {
    val q = graft.operators.Percentiles.grouped(
      t(s, dir, "lineitem"), "l_returnflag", "l_extendedprice",
      Seq(0.05, 0.95))
    val b = q.select(col("l_returnflag"),
      round(col("p5"), 4).as("lo"), round(col("p95"), 4).as("hi"))
    t(s, dir, "lineitem")
      .join(broadcast(b), "l_returnflag")
      .select(col("l_returnflag"),
        when(col("l_extendedprice") < col("lo"), col("lo"))
          .when(col("l_extendedprice") > col("hi"), col("hi"))
          .otherwise(col("l_extendedprice")).as("w"),
        (col("l_extendedprice") < col("lo")).cast("long").as("cl"),
        (col("l_extendedprice") > col("hi")).cast("long").as("ch"))
      .groupBy(col("l_returnflag"))
      .agg(sum(col("cl")).as("n_clip_lo"), sum(col("ch")).as("n_clip_hi"),
        round(sum(col("w").cast(DecimalType(18, 4))).cast(DoubleType) /
          count(lit(1)), 4).as("wins_mean"))
      .orderBy(col("l_returnflag"))
  }

  /** Q10f — equi-width histogram: bucket = min(⌊value/25⌋, 19), counts +
    * exact decimal mass per (event_type, bucket). The bucketing is a
    * map-side integer expression, so the histogram is one partial-agg
    * shuffle no matter the row count — the scalable form of numeric
    * distribution profiling.
    */
  def q10fHistogram(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .withColumn("bucket",
        least(floor(col("value") / 25.0), lit(19)).cast(LongType))
      .groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("mass"))
      .orderBy(col("event_type"), col("bucket"))

  /** Q16c — top-k per group through the bounded-heap AGGREGATE
    * (graft.functions.TopKByValue), not a window: the window form sorts
    * each group's entire row set (few-key workloads degenerate to
    * single-task sorts at scale); the aggregate keeps k elements per
    * group per partition map-side, so the shuffle carries at most
    * k·partitions rows per group and memory stays O(k). Top-3 orders by
    * price per priority, deterministic via the unique orderkey tiebreak.
    */
  def q16cTopKPerGroup(s: SparkSession, dir: String): DataFrame = {
    graft.functions.TopKFunctions.register(s)
    t(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(graft.functions.TopKFunctions
        .topkByValue(col("o_totalprice"), col("o_orderkey"), 3).as("top"))
      .select(col("o_orderpriority"), explode(col("top")).as("t"))
      .select(col("o_orderpriority"),
        col("t.v").as("o_totalprice"), col("t.id").as("o_orderkey"))
      .orderBy(col("o_orderpriority"), col("o_totalprice").desc,
        col("o_orderkey"))
  }

  /** Q10i — equi-DEPTH histogram (quantile binning): bucket boundaries
    * are the exact per-group quartiles from the sketch-pruned percentile
    * operator; a map-side comparison then assigns each row its depth
    * bucket and one keyed agg counts mass per bucket. The scalable
    * alternative to ntile(), which sorts each whole group inside a single
    * task: here the only per-group state is a 3-value boundary row joined
    * back (AQE broadcasts it), and the fact pass stays fully parallel.
    * Boundaries are rounded to 4 dp in BOTH engines before comparing
    * (q10b's cross-engine interpolation contract, as in q10h).
    */
  def q10iEquidepth(s: SparkSession, dir: String): DataFrame = {
    val q = graft.operators.Percentiles.grouped(
      t(s, dir, "events"), "event_type", "value", Seq(0.25, 0.5, 0.75))
    val bounds = q.select(col("event_type"),
      round(col("p25"), 4).as("b1"),
      round(col("p50"), 4).as("b2"),
      round(col("p75"), 4).as("b3"))
    t(s, dir, "events")
      .join(bounds, "event_type")
      .withColumn("bucket",
        when(col("value") <= col("b1"), 0L)
          .when(col("value") <= col("b2"), 1L)
          .when(col("value") <= col("b3"), 2L)
          .otherwise(3L))
      .groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("mass"))
      .orderBy(col("event_type"), col("bucket"))
  }

  /** Q11c — COUNT DISTINCT via the two-level bitmap pattern
    * (bitmap_bucket_number / bitmap_construct_agg / bitmap_count): each
    * (group, bucket) partial is a fixed-4KB bitmap ORed map-side, so the
    * shuffle carries one small buffer per bucket instead of every
    * distinct value — the exact-distinct shape that survives high
    * cardinality, vs. Q11's Expand-based distinct whose shuffle grows
    * with the value count. Oracle is the plain COUNT(DISTINCT).
    */
  def q11cBitmapDistinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(col("o_orderstatus"),
        expr("bitmap_bucket_number(o_custkey)").as("bucket"))
      .agg(expr("bitmap_count(bitmap_construct_agg(bitmap_bit_position(o_custkey)))")
        .as("c"))
      .groupBy(col("o_orderstatus"))
      .agg(sum(col("c")).as("n_cust"))
      .orderBy(col("o_orderstatus"))

  /** Q10k — robust outlier gate on MAD (median absolute deviation), the
    * heavy-tail-safe alternative to the q10h IQR fence: per-group median
    * via the sketch-pruned exact percentile operator, a map-side absolute
    * deviation, a second percentile pass over the deviations, then one
    * counting aggregation. Boundaries round to 4 dp in BOTH engines
    * (q10b's cross-engine interpolation contract).
    */
  def q10kMad(s: SparkSession, dir: String): DataFrame = {
    // materialize the (tiny, one-row-per-group) median frame: the dev
    // frame sits in two branches below, and without this the whole
    // percentile pass would execute once per branch
    val med = graft.operators.Percentiles.grouped(
        t(s, dir, "events"), "event_type", "value", Seq(0.5))
      .select(col("event_type"), round(col("p50"), 4).as("med"))
      .localCheckpoint(true)
    val dev = t(s, dir, "events").join(med, "event_type")
      .withColumn("adev", round(abs(col("value") - col("med")), 4))
    val mad = graft.operators.Percentiles.grouped(
        dev.select(col("event_type"), col("adev")), "event_type", "adev", Seq(0.5))
      .select(col("event_type"), round(col("p50"), 4).as("mad"))
    dev.join(mad, "event_type")
      .groupBy(col("event_type"))
      .agg(max(col("med")).as("med"), max(col("mad")).as("mad"),
        count(when(col("adev") > col("mad") * 3, 1)).as("n_outliers"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("event_type"))
  }

  /** Q10l — pairwise correlation MATRIX of four lineitem measures in ONE
    * scan: all 4 sums, 4 sums-of-squares, and 6 cross-products accumulate
    * in a single map-side-combined aggregation (exact decimals, q10e
    * recipe), and the 6 matrix entries project off that one row. The
    * naive form runs corr() 6 times = 6 scans; feature-correlation
    * screens at 100 TB live or die on this collapse.
    */
  def q10lCorrMatrix(s: SparkSession, dir: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    def sName(c: String) = s"s_$c"
    def qName(c: String) = s"q_$c"
    def xName(a: String, b: String) = s"x_${a}_$b"
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))
    val aggs =
      cols.map(c => sum(col(c).cast(D)).cast(DoubleType).as(sName(c))) ++
      cols.map(c => sum((col(c).cast(D) * col(c).cast(D))).cast(DoubleType)
        .as(qName(c))) ++
      pairs.map { case (a, b) =>
        sum((col(a).cast(D) * col(b).cast(D))).cast(DoubleType)
          .as(xName(a, b)) } :+
      count(lit(1)).cast(DoubleType).as("n")
    val one = t(s, dir, "lineitem").agg(aggs.head, aggs.tail: _*)
    val entries = pairs.map { case (a, b) =>
      struct(lit(a).as("var_a"), lit(b).as("var_b"),
        round((col("n") * col(xName(a, b)) - col(sName(a)) * col(sName(b))) /
          sqrt((col("n") * col(qName(a)) - col(sName(a)) * col(sName(a))) *
            (col("n") * col(qName(b)) - col(sName(b)) * col(sName(b)))), 6)
          .as("corr"))
    }
    one.select(explode(array(entries: _*)).as("e"))
      .select(col("e.var_a").as("var_a"), col("e.var_b").as("var_b"),
        col("e.corr").as("corr"))
      .orderBy(col("var_a"), col("var_b"))
  }

  /** Q04d — join-strategy hints: the same orders⋈customer aggregation
    * with the build side explicitly hinted SHUFFLE_HASH (plan-asserted in
    * Round5Spec; the MERGE variant is asserted there too). Hints matter
    * operationally at scale: a sort-merge join of two pre-bucketed or
    * hash-favorable inputs wastes two sorts, and AQE can't always see it.
    */
  def q04dJoinHints(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .join(t(s, dir, "customer").hint("shuffle_hash"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(D)).cast(DoubleType).as("revenue"))
      .orderBy(col("c_mktsegment"))

  /** Q17c — schema-evolution union (`unionByName` with missing-column
    * fill): the v1 projection lacks the column v2 added, and the union
    * resolves by NAME with nulls filled — the drop-over-drop ingestion
    * case where batches arrive under different schema versions. (A
    * positional UNION would silently mis-bind here.)
    */
  def q17cUnionByName(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val v1 = o.filter(pmod(col("o_orderkey"), lit(2)) === 0)
      .select(col("o_orderkey"), col("o_totalprice"))
    val v2 = o.filter(pmod(col("o_orderkey"), lit(2)) =!= 0)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
    v1.unionByName(v2, allowMissingColumns = true)
      .select(col("o_orderkey"), col("o_totalprice"),
        coalesce(col("o_orderstatus"), lit("<absent>")).as("status"))
      .orderBy(col("o_orderkey"))
  }

  /** Q10m — WEIGHTED median per group (quantity-weighted price): smallest
    * value whose cumulative weight reaches half the group total, i.e. the
    * point where half the shipped units cost less. Weights are integer
    * unit counts, the comparison is `2·cum ≥ tot` (integer-only, no
    * halves), and the cumulative weight over the per-group value
    * histogram runs through the same sharded prefix-sum as q10j — no
    * group-wide sort, no single-task window, scale-safe for continuous
    * values where the histogram is row-sized.
    */
  def q10mWeightedMedian(s: SparkSession, dir: String, nShards: Int = 32): DataFrame = {
    import graft.operators.PrefixSum
    val hist = t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_extendedprice"))
      .agg(sum(col("l_quantity").cast(LongType)).as("w"))
      // the cumsum helper instantiates its input twice; materialize the
      // (group, value) histogram once
      .localCheckpoint(true)
    // bounds DERIVE from the checkpointed histogram instead of a second
    // full lineitem scan (r18, guide §1.2): min/max over distinct values
    // equal the row min/max, and the unit total is the weight sum
    val bounds = hist
      .groupBy(col("l_returnflag"))
      .agg(min(col("l_extendedprice")).as("v0"),
        max(col("l_extendedprice")).as("v1"),
        sum(col("w")).as("tot"))
      .localCheckpoint(true)
    val sharded = hist.join(broadcast(bounds), "l_returnflag")
      .withColumn("pid", PrefixSum.rangePid(col("l_extendedprice"),
        col("v0"), col("v1"), nShards))
    PrefixSum.shardedCumSum(sharded, Seq("l_returnflag"), "pid",
        "l_extendedprice", "w")
      .groupBy(col("l_returnflag"))
      .agg(min(when(col("cum") * 2 >= col("tot"),
        col("l_extendedprice"))).as("weighted_median"),
        max(col("tot")).as("total_units"))
      .orderBy(col("l_returnflag"))
  }

  /** Q10p — PERCENTILE_DISC (SQL-standard discrete percentile: the
    * smallest value whose cumulative count reaches p·n — an actual data
    * value, never an interpolation; the form regulatory reports require).
    * Same machinery as the weighted median: per-group value histogram →
    * sharded prefix sum → one conditional-min aggregation; thresholds
    * are integer cross-multiplications (cum·10 ≥ p10·tot), no float ever
    * compares. No group-wide sort anywhere, row-sized histograms fine.
    */
  def q10pPercentileDisc(s: SparkSession, dir: String,
      nShards: Int = 32): DataFrame = {
    import graft.operators.PrefixSum
    val hist = t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_extendedprice"))
      .agg(count(lit(1)).as("w"))
      .localCheckpoint(true)
    // bounds DERIVE from the checkpointed histogram instead of a second
    // full lineitem scan (r18, guide §1.2) — same identity as q10m
    val bounds = hist
      .groupBy(col("l_returnflag"))
      .agg(min(col("l_extendedprice")).as("v0"),
        max(col("l_extendedprice")).as("v1"),
        sum(col("w")).as("tot"))
      .localCheckpoint(true)
    val sharded = hist.join(broadcast(bounds), "l_returnflag")
      .withColumn("pid", PrefixSum.rangePid(col("l_extendedprice"),
        col("v0"), col("v1"), nShards))
    PrefixSum.shardedCumSum(sharded, Seq("l_returnflag"), "pid",
        "l_extendedprice", "w")
      .groupBy(col("l_returnflag"))
      .agg(
        min(when(col("cum") * 10 >= col("tot") * 3,
          col("l_extendedprice"))).as("p30_disc"),
        min(when(col("cum") * 10 >= col("tot") * 7,
          col("l_extendedprice"))).as("p70_disc"),
        max(col("tot")).as("n_rows"))
      .orderBy(col("l_returnflag"))
  }

  /** Q23c — VARIANT (Spark 4's semi-structured type): props parsed ONCE
    * into the binary variant encoding, fields then extracted with typed
    * `variant_get` paths — at scale this replaces per-access JSON
    * re-parsing (`get_json_object` ×N re-tokenizes the string N times)
    * with one parse + O(1) binary field reads, and it's the encoding
    * shredded parquet columns use. Aggregation over the extracted field
    * proves the value round-trips as a real BIGINT, not a string.
    */
  def q23cVariant(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("event_type"),
        variant_get(parse_json(col("props")), "$.k", "bigint").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy(col("event_type"))

  /** Q09c — CROSS JOIN (explicit cartesian): the one join type the Q04-Q09
    * family skips. Deliberately dimension × dimension (125 rows) — the
    * only plan where a cartesian is acceptable; Spark broadcasts the
    * 5-row side (BroadcastNestedLoopJoin), so nothing shuffles.
    */
  def q09cCross(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "region").select(col("r_name"))
      .crossJoin(t(s, dir, "nation").select(col("n_name")))
      .orderBy(col("r_name"), col("n_name"))

  /** Q10j — Spearman rank correlation per group: Pearson on mid-rank
    * (average-rank) transformed values, the tie-correct textbook form.
    * 2×mid-rank for value v is 2·cum_incl(v) − ties(v) + 1 — an integer
    * derivable from the per-group VALUE HISTOGRAM's prefix sums, so
    * ranking is an aggregation plus the ts_concurrency distributed
    * prefix-sum (value-range shards → per-shard cumsum → tiny offset
    * table broadcast back), never a row-level sort: ranking 100 TB
    * inside 3 single-task group-partitioned windows is the shape this
    * avoids, and it stays parallel even when the value is continuous
    * (extendedprice: |histogram| ≈ |rows|). The correlation reuses the
    * q10e exact-decimal co-moment recipe on the 2×rank integers. No
    * engine-varying float enters the aggregation (shard ids affect only
    * partitioning, not values).
    */
  def q10jSpearman(s: SparkSession, dir: String, nShards: Int = 32): DataFrame =
    spearmanOf(t(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_quantity"), col("l_extendedprice")),
      nShards)

  /** Library-facing form over any (l_returnflag, l_quantity,
    * l_extendedprice)-shaped frame.
    */
  def spearmanOf(base: DataFrame, nShards: Int = 32): DataFrame = {
    import graft.operators.PrefixSum
    // 19,0: two 19-digit operands multiply within DuckDB's 38-digit cap
    val DD = DecimalType(19, 0)
    // Each rank column's value histogram — the only cardinality-heavy
    // aggregation — is built FIRST (one base pass per column) and
    // materialized once for the cumsum helper's two passes; the shard
    // bounds then DERIVE from the histogram's distinct values (r18,
    // guide §1.2 — the dedicated 3-row min/max pass over base was a
    // third full scan; min/max over distinct values equal the row
    // min/max, and pid is a function of the value, so attaching it
    // after the groupBy yields the identical (flag, v, pid, c) rows)
    def ranks2(v: String, lo: String, hi: String, out: String) = {
      val hist0 = base
        .groupBy(col("l_returnflag"), col(v))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint(true)
      val bounds = hist0.groupBy(col("l_returnflag"))
        .agg(min(col(v)).as(lo), max(col(v)).as(hi))
      // no second checkpoint: hist's lineage above the checkpointed
      // histogram is a 3-row agg + broadcast join, cheap to instantiate
      // twice in the cumsum helper
      val hist = hist0.join(broadcast(bounds), "l_returnflag")
        .withColumn("pid", PrefixSum.rangePid(col(v), col(lo), col(hi), nShards))
        .select(col("l_returnflag"), col(v), col("pid"), col("c"))
      PrefixSum.shardedCumSum(hist, Seq("l_returnflag"), "pid", v, "c")
        .withColumn(out, (col("cum") * 2 - col("c") + 1).cast(DD))
        .select(col("l_returnflag"), col(v), col(out))
    }
    val ranked = base
      .join(ranks2("l_quantity", "q0", "q1", "rx"),
        Seq("l_returnflag", "l_quantity"))
      .join(ranks2("l_extendedprice", "e0", "e1", "ry"),
        Seq("l_returnflag", "l_extendedprice"))
    val sx = sum(col("rx")).cast(DoubleType)
    val sy = sum(col("ry")).cast(DoubleType)
    val sxy = sum((col("rx") * col("ry")).cast(DecimalType(38, 0))).cast(DoubleType)
    val sxx = sum((col("rx") * col("rx")).cast(DecimalType(38, 0))).cast(DoubleType)
    val syy = sum((col("ry") * col("ry")).cast(DecimalType(38, 0))).cast(DoubleType)
    val n = count(lit(1)).cast(DoubleType)
    ranked.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("cnt"),
        round((n * sxy - sx * sy) /
          sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6).as("spearman"))
      .orderBy(col("l_returnflag"))
  }
}
