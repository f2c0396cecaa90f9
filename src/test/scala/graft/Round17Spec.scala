package graft

import org.apache.spark.sql.functions._

/** Round-17 goldens: cross-variable DEFINE on GROUPED patterns (pool
  * accumulation across iterations, current-iteration visibility,
  * empty-pool NULL semantics, predicate-shifted fallback starts, the
  * kill+restart recovery golden for the appended spec-11 machine),
  * DEFINE/MEASURES FIELD BREADTH (arbitrary numeric input columns via
  * the product-alphabet projection and the ALL-ROWS field-join pivot,
  * schema-driven rejections), the completed substring hashedKeys
  * family (hash_eq gates, library-form equivalence, the string-free
  * exchange plan assert), the emb_semdedup_rec shared-refinement
  * fixture, and FixtureMemo's single-flight builds.
  */
class Round17Spec extends SparkSpecBase {

  import graft.operators.{Cep, MatchRecognize => MR, TextAnalysis, Similarity}

  private val M = 60000000L // one minute in micros

  private def feedAllG(g: Cep.GPat, win: Long,
      rows: Seq[(Long, Long, String, Long)]): List[(Long, Long, Long)] = {
    val m = new Cep.Machine(Cep.gLeaves(g).toIndexedSeq, win,
      grouped = Some(g))
    (rows.flatMap { case (ts, id, tpe, vc) => m.feedM(ts, id, tpe, vc) }
      ++ m.flush())
      .map(p => (p._1.start_event_id, p._1.end_event_id, p._1.n_rows))
      .toList
  }

  // the cep_cross_group chain shape: ((a b)+ p) with the purchase
  // required to beat FIRST(leaf 0) — leaf 0's pool accumulates across
  // iterations, FIRST = the match's opening row
  private def chain(first: Boolean): Cep.GPat =
    Cep.GCat(Seq(
      Cep.GRep(Cep.GCat(Seq(
        Cep.GLf(Cep.Step("a")), Cep.GLf(Cep.Step("b")))), 1, Int.MaxValue),
      Cep.GLf(Cep.Step("p",
        cross = List(Cep.CrossRef(0, first = first, Cep.PrevGt))))))

  // ---- grouped cross-variable DEFINE: machine semantics ----

  test("grouped cross: FIRST(leaf0) reads the match's OPENING row " +
      "across iterations; a failed predicate shifts the start along " +
      "the chain") {
    // a(50) b a(10) b p(30): from start a(50) the pool is [50, 10],
    // FIRST = 50 and 30 > 50 fails — no shorter take re-opens the
    // purchase position, so the start dies and the machine falls back
    // to the chain's second link a(10): pool [10], 30 > 10 matches
    val rows = Seq((0L, 1L, "a", 50L), (1 * M, 2L, "b", 0L),
      (2 * M, 3L, "a", 10L), (3 * M, 4L, "b", 0L), (4 * M, 5L, "p", 30L))
    assert(feedAllG(chain(first = true), 60 * M, rows) ==
      List((3L, 5L, 3L)))
    // LAST(leaf0) from the SAME rows reads the final iteration's a(10)
    // — the full chain survives: start a(50), 5 consumed rows
    assert(feedAllG(chain(first = false), 60 * M, rows) ==
      List((1L, 5L, 5L)))
  }

  test("grouped cross: a body leaf referencing an EARLIER body leaf " +
      "sees the current iteration's row (eager take recording)") {
    // ((a b)+ p) with b.value > LAST(a.value): b must beat the a of
    // ITS OWN iteration — the take is recorded before the recursion
    val g = Cep.GCat(Seq(
      Cep.GRep(Cep.GCat(Seq(
        Cep.GLf(Cep.Step("a")),
        Cep.GLf(Cep.Step("b",
          cross = List(Cep.CrossRef(0, first = false, Cep.PrevGt)))))),
        1, Int.MaxValue),
      Cep.GLf(Cep.Step("p"))))
    assert(feedAllG(g, 60 * M, Seq((0L, 1L, "a", 10L),
      (1 * M, 2L, "b", 20L), (2 * M, 3L, "p", 0L))) ==
      List((1L, 3L, 3L)))
    // b(5) fails 5 > 10 — the body never completes, no match
    assert(feedAllG(g, 60 * M, Seq((0L, 1L, "a", 10L),
      (1 * M, 2L, "b", 5L), (2 * M, 3L, "p", 0L))) == Nil)
  }

  test("grouped cross: an alternation arm not taken leaves an EMPTY " +
      "pool — NULL comparison, the row does not match") {
    // ((a | c) p) with p referencing leaf 0 (the a arm): when c opens
    // the match, a's pool is empty → NULL → no match; when a opens it,
    // the reference resolves
    val g = Cep.GCat(Seq(
      Cep.GAlt(Seq(Cep.GLf(Cep.Step("a")), Cep.GLf(Cep.Step("c")))),
      Cep.GLf(Cep.Step("p",
        cross = List(Cep.CrossRef(0, first = true, Cep.PrevGt))))))
    assert(feedAllG(g, 60 * M,
      Seq((0L, 1L, "c", 5L), (1 * M, 2L, "p", 10L))) == Nil)
    assert(feedAllG(g, 60 * M,
      Seq((0L, 1L, "a", 5L), (1 * M, 2L, "p", 10L))) ==
      List((1L, 2L, 2L)))
  }

  test("grouped cross rejections: later-leaf and out-of-range targets " +
      "fail at validation") {
    val later = Cep.GCat(Seq(
      Cep.GLf(Cep.Step("a",
        cross = List(Cep.CrossRef(1, first = true, Cep.PrevGt)))),
      Cep.GLf(Cep.Step("b"))))
    val e1 = intercept[IllegalArgumentException](
      new Cep.Machine(Cep.gLeaves(later).toIndexedSeq, 60 * M,
        grouped = Some(later)))
    assert(e1.getMessage.contains("STRICTLY EARLIER"), e1.getMessage)
    val oob = Cep.GCat(Seq(
      Cep.GLf(Cep.Step("a")),
      Cep.GLf(Cep.Step("b",
        cross = List(Cep.CrossRef(5, first = true, Cep.PrevGt))))))
    val e2 = intercept[IllegalArgumentException](
      new Cep.Machine(Cep.gLeaves(oob).toIndexedSeq, 60 * M,
        grouped = Some(oob)))
    assert(e2.getMessage.contains("targets leaf"), e2.getMessage)
  }

  // ---- grouped cross: streaming kill+restart recovery (spec-11) ----

  private def withRocks[T](body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming" +
      ".state.RocksDBStateStoreProvider")
    try body finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("grouped cross match spanning a kill+restart seam completes " +
      "from the recovered buffer with the recovered pool (spec-11 " +
      "shape)") { withRocks {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the spec-11 machine: ((click signup)+ purchase) with
    // P.value > FIRST(chain row), 10-minute window
    val g = Cep.GCat(Seq(
      Cep.GRep(Cep.GCat(Seq(
        Cep.GLf(Cep.Step("click", alt = Set("view"))),
        Cep.GLf(Cep.Step("signup", alt = Set("error"))))), 1, Int.MaxValue),
      Cep.GLf(Cep.Step("purchase",
        cross = List(Cep.CrossRef(0, first = true, Cep.PrevGt))))))
    val specs = Seq(graft.streaming.StreamingOps.CepSpec(
      Cep.gLeaves(g).toIndexedSeq, 10 * M, grouped = Some(g)))
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-r17-gc-ckpt").toString
    val outDir = java.nio.file.Files
      .createTempDirectory("graft-r17-gc-out").toString
    val src = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, Long, String, Long)]
    def start() = graft.streaming.StreamingOps
      .cepStreamMultiMeasured(src.toDS(), specs).toDF()
      .select(col("_1").as("pat"), col("_2.*"))
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.write.mode("append").parquet(outDir); ()
      }
      .outputMode("append").option("checkpointLocation", ckpt).start()
    // run 1: one complete chain iteration — the OPENING click(100)
    // whose value the recovered FIRST navigation must re-read — then
    // KILL mid-pattern (the rep is pending extension or the purchase)
    val q1 = start()
    src.addData((1L, 0L, 1L, "click", 100L), (1L, M, 2L, "signup", 0L))
    q1.processAllAvailable()
    src.addData((8L, 2 * M, 50L, "x", 0L))
    q1.processAllAvailable()
    q1.stop()
    // run 2: a second iteration + a purchase(50). The greedy repeat's
    // first attempt takes BOTH iterations: FIRST = the recovered
    // click(100), 50 > 100 FAILS — proving the pre-kill pool value
    // survived; the fallback start at click(10) then matches (pool
    // [10], 50 > 10), 3 consumed rows
    val q2 = start()
    src.addData((1L, 3 * M, 3L, "click", 10L), (1L, 4 * M, 4L, "signup", 0L),
      (1L, 5 * M, 5L, "purchase", 50L))
    q2.processAllAvailable()
    src.addData((8L, 30 * M, 51L, "x", 0L))
    q2.processAllAvailable()
    q2.stop()
    val out = spark.read.parquet(outDir).filter(col("user_id") === 1L)
      .filter(col("pat") === 0)
      .select(col("start_event_id"), col("end_event_id"), col("n_rows"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toList
    assert(out == List((3L, 5L, 3L)), s"recovered grouped cross: $out")
  } }

  // ---- DEFINE/MEASURES field breadth ----

  private def kFrame(rows: Seq[(Long, Long, Long, String, Double, Long)]) = {
    import spark.implicits._
    rows.toDF("user_id", "ts_us", "event_id", "event_type", "value", "k")
      .withColumn("ts", timestamp_micros(col("ts_us")))
  }

  test("DEFINE field-vs-literal and field-vs-field predicates bind; " +
      "MEASURES aggregate the second column (hand-computed)") {
    // u1: click, view(k=30), view(k=10 — BREAKS V.k >= 20 contiguity),
    // so the only funnel is click,view(30),purchase where the purchase
    // passes P.k > P.value (k=9 > value=2.0? 9 > 2 → yes)
    val df = kFrame(Seq(
      (1L, 0L, 1L, "click", 1.0, 0L),
      (1L, 1 * M, 2L, "view", 0.5, 30L),
      (1L, 2 * M, 3L, "view", 0.5, 10L),
      (1L, 3 * M, 4L, "purchase", 2.0, 9L),
      // u2: the purchase FAILS P.k > P.value (1 > 5.0 is false)
      (2L, 0L, 5L, "click", 1.0, 0L),
      (2L, 1 * M, 6L, "view", 0.5, 40L),
      (2L, 2 * M, 7L, "purchase", 5.0, 1L)))
    val sql =
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, event_id
        |  MEASURES COUNT(V.*) AS n, SUM(V.k) AS sk, MAX(V.k) AS mk,
        |           AVG(V.k) AS ak, LAST(V.k) AS lk
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (C V+ P)
        |  WITHIN INTERVAL '1' HOUR
        |  DEFINE C AS C.event_type = 'click',
        |         V AS V.event_type = 'view' AND V.k >= 20,
        |         P AS P.event_type = 'purchase' AND P.k > P.value
        |)""".stripMargin
    val got = MR.matchRecognizeMeasuresOf(df, sql)
      .select("user_id", "n", "sk", "mk", "ak", "lk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getLong(5))).toList
    // u1: view(k=10) fails V's predicate, so its product symbol is
    // outside V's set and it sits between the last V and the purchase
    // — the CONTIGUOUS funnel breaks (no match). u2: the purchase
    // fails its own field-vs-field predicate (1 > 5.0 is false) — no
    // match. u3 is the clean funnel both predicates admit.
    val df3 = kFrame(Seq(
      (3L, 0L, 8L, "click", 1.0, 0L),
      (3L, 1 * M, 9L, "view", 0.5, 30L),
      (3L, 2 * M, 10L, "view", 0.5, 25L),
      (3L, 3 * M, 11L, "purchase", 2.0, 9L)))
    val got3 = MR.matchRecognizeMeasuresOf(df3, sql)
      .select("user_id", "n", "sk", "mk", "ak", "lk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4), r.getLong(5))).toList
    assert(got == Nil, s"u1/u2 must not match: $got")
    assert(got3 == List((3L, 2L, 55L, 30L, 27.5, 25L)), s"$got3")
  }

  test("SUM(B.event_id) and FIRST(B.value) are legal r17 forms and " +
      "compute over their columns (the pins Round13b retired)") {
    val df = kFrame(Seq(
      (1L, 0L, 1L, "click", 1.0, 0L),
      (1L, 1 * M, 2L, "view", 0.25, 0L),
      (1L, 2 * M, 3L, "view", 0.75, 0L)))
    val sql =
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, event_id
        |  MEASURES SUM(B.event_id) AS s, FIRST(B.value) AS f,
        |           COUNT(B.*) AS n
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (A B+)
        |  WITHIN INTERVAL '1' HOUR
        |  DEFINE A AS A.event_type = 'click',
        |         B AS B.event_type = 'view'
        |)""".stripMargin
    val got = MR.matchRecognizeMeasuresOf(df, sql)
      .select("s", "f", "n").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toList
    assert(got == List((5L, 0.25, 2L)), s"$got")
  }

  test("field breadth rejections are schema-driven and name the " +
      "surface") {
    val df = kFrame(Seq((1L, 0L, 1L, "click", 1.0, 0L)))
      .withColumn("tag", lit("s"))
      .withColumn("score", col("value") * 2)
    def clause(define: String, measures: String =
        "COUNT(A.*) AS n"): String =
      s"""MATCH_RECOGNIZE (
         |  PARTITION BY user_id
         |  ORDER BY ts, event_id
         |  MEASURES $measures
         |  ONE ROW PER MATCH
         |  AFTER MATCH SKIP PAST LAST ROW
         |  PATTERN (A)
         |  WITHIN INTERVAL '1' HOUR
         |  DEFINE A AS $define
         |)""".stripMargin
    def bad(sql: String, frag: String): Unit = {
      val e = intercept[IllegalArgumentException](
        MR.matchRecognizeMeasuresOf(df, sql))
      assert(e.getMessage.contains(frag), s"got: ${e.getMessage}")
    }
    // DEFINE: unknown field, non-numeric field, navigation RHS on an
    // arbitrary field
    bad(clause("A.event_type = 'click' AND A.zzz > 5"), "does not carry")
    bad(clause("A.event_type = 'click' AND A.tag > 5"),
      "compare numeric columns")
    val e = intercept[IllegalArgumentException](MR.parse(
      clause("A.event_type = 'click' AND A.k > PREV(A.k)")))
    assert(e.getMessage.contains("canonical value channel"), e.getMessage)
    // MEASURES: unknown field, non-numeric field, float-sum rejection
    bad(clause("A.event_type = 'click'", "SUM(A.zzz) AS s"),
      "does not carry")
    bad(clause("A.event_type = 'click'", "SUM(A.tag) AS s"),
      "numeric columns")
    bad(clause("A.event_type = 'click'", "SUM(A.score) AS s"),
      "shuffle-order-dependent")
    // the product alphabet is bounded at 8 valuation bits
    val nine = (1 to 9).map(i => s"A.k > $i").mkString(" AND ")
    bad(clause(s"A.event_type = 'click' AND $nine"), "8 valuation bits")
    // a predicated variable must pin its event_type
    bad(clause("A.k > 5"), "pin its event_type")
    // an integral literal past Long.MaxValue fails with the clause's
    // own message, not a NumberFormatException (r17 ADVICE) — in
    // MEASURES (MLit) and in a DEFINE row predicate (RowPred) alike
    bad(clause("A.event_type = 'click'",
      "COUNT(A.*) + 99999999999999999999 AS s"), "does not fit BIGINT")
    bad(clause("A.event_type = 'click' AND A.k > 99999999999999999999"),
      "does not fit BIGINT")
  }

  test("ALL ROWS output un-mangles the product alphabet: raw " +
      "event_type values, classifier intact") {
    val df = kFrame(Seq(
      (1L, 0L, 1L, "click", 1.0, 0L),
      (1L, 1 * M, 2L, "view", 0.5, 30L),
      (1L, 2 * M, 3L, "view", 0.5, 40L)))
    val sql =
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, event_id
        |  ALL ROWS PER MATCH
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (C V+)
        |  WITHIN INTERVAL '1' HOUR
        |  DEFINE C AS C.event_type = 'click',
        |         V AS V.event_type = 'view' AND V.k >= 20
        |)""".stripMargin
    val got = MR.matchRecognizeRowsOf(df, sql)
      .select("event_id", "event_type", "classifier")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_._1).toList
    assert(got == List((1L, "click", "C"), (2L, "view", "V"),
      (3L, "view", "V")), s"$got")
  }

  test("rows-path COUNT over a zero-take optional is 0, matching the " +
      "fast path (self-review)") {
    // SUM(P.k) is non-canonical, so the WHOLE clause routes through
    // the rows pivot; without it the same COUNT rides the CepMeasured
    // fast path — the two answers must agree (0, not NULL)
    val df = kFrame(Seq(
      (1L, 0L, 1L, "click", 1.0, 0L),
      (1L, 1 * M, 2L, "purchase", 2.0, 7L)))
    def sql(measures: String): String =
      s"""MATCH_RECOGNIZE (
         |  PARTITION BY user_id
         |  ORDER BY ts, event_id
         |  MEASURES $measures
         |  ONE ROW PER MATCH
         |  AFTER MATCH SKIP PAST LAST ROW
         |  PATTERN (C V? P)
         |  WITHIN INTERVAL '1' HOUR
         |  DEFINE C AS C.event_type = 'click',
         |         V AS V.event_type = 'view',
         |         P AS P.event_type = 'purchase'
         |)""".stripMargin
    val rowsPath = MR.matchRecognizeMeasuresOf(df,
      sql("COUNT(V.*) AS n, SUM(P.k) AS pk")).select("n", "pk")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toList
    val fastPath = MR.matchRecognizeMeasuresOf(df,
      sql("COUNT(V.*) AS n")).select("n")
      .collect().map(_.getLong(0)).toList
    assert(rowsPath == List((0L, 7L)), s"$rowsPath")
    assert(fastPath == List(0L), s"$fastPath")
  }

  test("typed streaming SQL surfaces REJECT clauses with field " +
      "predicates — product symbols cannot match a raw-typed stream " +
      "(self-review)") {
    import spark.implicits._
    val clause =
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id
        |  ORDER BY ts, event_id
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (C V+)
        |  WITHIN INTERVAL '1' HOUR
        |  DEFINE C AS C.event_type = 'click',
        |         V AS V.event_type = 'view' AND V.k >= 20
        |)""".stripMargin
    val empty = spark.emptyDataset[(Long, Long, Long, String, Long)]
    val e = intercept[IllegalArgumentException](
      graft.streaming.StreamingOps.cepStreamSql(empty, clause))
    assert(e.getMessage.contains("fieldEvents"), e.getMessage)
    val e2 = intercept[IllegalArgumentException](
      graft.streaming.StreamingOps.cepStreamSqlMulti(empty,
        Seq("f" -> clause)))
    assert(e2.getMessage.contains("fieldEvents"), e2.getMessage)
  }

  test("stream_sql_mr_fields ≡ the batch field-breadth runner on the " +
      "folded corpus (product alphabet live on the stream)") {
    val cols = Seq("user_id", "start_event_id", "start_ts_us",
      "end_event_id", "end_ts_us", "n_rows", "click_id", "views_cnt",
      "views_k_sum", "views_k_max", "views_k_avg", "views_k_last",
      "views_sum_c")
    // the gate's 10-minute window binds at sf0.01 but not on this
    // sf0.001 fold — the spec drives the same machinery at 60 minutes,
    // where 4 funnels (window-killed at wider spans) exist
    val got = graft.streaming.StreamingOps
      .streamSqlMrFieldsAt(spark, sfDir, minutes = 60)
      .select(cols.map(col): _*).collect().map(_.toSeq).toSet
    val folded = Tables.t(spark, sfDir, "events")
      .select(
        pmod(col("user_id"), lit(16)).cast("long").as("user_id"),
        (pmod(unix_micros(col("ts")), lit(86400000000L)) +
          lit(1704067200000000L)).as("ts_us"),
        col("event_id").cast("long").as("event_id"),
        col("event_type"),
        col("value").cast("double").as("value"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val want = MR.matchRecognizeMeasuresOf(folded,
      MR.FieldsSql.replace("INTERVAL '7' DAY", "INTERVAL '60' MINUTE"))
      .select(cols.map(col): _*).collect().map(_.toSeq).toSet
    assert(got.nonEmpty && got == want,
      s"stream ${got.size} vs batch ${want.size}; " +
        s"only-stream ${(got -- want).take(3)}; " +
        s"only-batch ${(want -- got).take(3)}")
  }

  // ---- substring hashedKeys: the completed family ----

  test("the three r17 hashed gates pin hash_eq = 1 at sf0.001") {
    for (gate <- Seq(
        TextAnalysis.substringDedupApplyHashed(spark, sfDir),
        TextAnalysis.substringDedupRewriteHashed(spark, sfDir),
        TextAnalysis.substringNoveltyHashed(spark, sfDir))) {
      val rows = gate.collect()
      assert(rows.nonEmpty)
      assert(rows.forall(_.getAs[Long]("hash_eq") == 1L))
    }
  }

  test("substring hashedKeys library forms ≡ string-keyed " +
      "(apply, rewrite, novelty)") {
    val docs = Tables.t(spark, sfDir, "documents")
    assert(TextAnalysis.substringDedupApplyOf(docs, 5, 15)
      .collect().toSet ==
      TextAnalysis.substringDedupApplyOf(docs, 5, 15, hashedKeys = true)
        .collect().toSet)
    assert(TextAnalysis.substringDedupRewriteOf(docs, 5, 15)
      .collect().toSet ==
      TextAnalysis.substringDedupRewriteOf(docs, 5, 15,
        hashedKeys = true).collect().toSet)
    val corpus = docs.filter(col("doc_id") % 50 =!= 0)
    val inc = docs.filter(col("doc_id") % 50 === 0)
    assert(TextAnalysis.substringNoveltyOf(corpus, inc, 5, 15)
      .collect().toSet ==
      TextAnalysis.substringNoveltyOf(corpus, inc, 5, 15,
        hashedKeys = true).collect().toSet)
  }

  test("hashed novelty and apply kernels: no string column crosses a " +
      "shuffle exchange") {
    // the rewrite twin is excluded BY DESIGN: its output is the
    // re-materialized clean_text, whose token arrays must co-locate
    // with the removed positions — text in that one exchange is the
    // operator's semantics, not a keying leak
    import org.apache.spark.sql.types._
    def hasString(dt: DataType): Boolean = dt match {
      case _: StringType => true
      case a: ArrayType  => hasString(a.elementType)
      case m: MapType    => hasString(m.keyType) || hasString(m.valueType)
      case s: StructType => s.fields.exists(f => hasString(f.dataType))
      case _             => false
    }
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try {
      val docs = Tables.t(spark, sfDir, "documents")
      for (df <- Seq(
          TextAnalysis.substringNoveltyOf(
            docs.filter(col("doc_id") % 50 =!= 0),
            docs.filter(col("doc_id") % 50 === 0), 5, 15,
            hashedKeys = true),
          TextAnalysis.substringDedupApplyOf(docs, 5, 15,
            hashedKeys = true))) {
        // the KERNEL's exchanges are the planner-inserted ones
        // (ENSURE_REQUIREMENTS — join and aggregation keying); the one
        // REPARTITION_BY_COL exchange is Tables.t's documented
        // single-file input spread (raw text, local-parallelism
        // harness concern — at scale many input files parallelize the
        // scan without it)
        val exchanges = df.queryExecution.executedPlan.collect {
          case e: org.apache.spark.sql.execution.exchange
              .ShuffleExchangeExec
            if e.shuffleOrigin == org.apache.spark.sql.execution
              .exchange.ENSURE_REQUIREMENTS => e
        }
        assert(exchanges.nonEmpty, "expected shuffles in the kernel plan")
        val bad = exchanges.filter(_.child.output.exists(a =>
          hasString(a.dataType)))
        assert(bad.isEmpty,
          s"string attributes cross a shuffle: " +
            bad.map(e => e.child.output.toString + "\n" +
              e.treeString.take(3000)).mkString("\n----\n"))
      }
    } finally spark.conf.set(key, prev)
  }

  // ---- emb_semdedup_rec off the shared refinement fixture ----

  test("emb_semdedup_rec gate contracts hold off the memoized " +
      "refinement (rec_subset, rec_partition, corpus coverage)") {
    graft.functions.VectorFunctions.register(spark)
    val out = Similarity.semDedupRecChecked(spark, sfDir).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("rec_subset") == 1L)
    assert(r.getAs[Long]("rec_partition") == 1L)
    assert(r.getAs[Long]("n_vecs") ==
      Tables.t(spark, sfDir, "embeddings").count())
  }

  // ---- FixtureMemo: single-flight builds ----

  test("FixtureMemo runs ONE build for concurrent asks of the same " +
      "key; all callers see its value") {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val latch = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futs = (1 to 8).map { _ =>
        pool.submit(new java.util.concurrent.Callable[String] {
          def call(): String = {
            latch.await()
            FixtureMemo.of("r17spec", "single-flight") {
              n.incrementAndGet(); Thread.sleep(50); "built"
            }
          }
        })
      }
      latch.countDown()
      val vals = futs.map(_.get(30, java.util.concurrent.TimeUnit.SECONDS))
      assert(vals.forall(_ == "built"))
      assert(n.get() == 1, s"expected single-flight, got ${n.get()} builds")
    } finally pool.shutdown()
  }
}
