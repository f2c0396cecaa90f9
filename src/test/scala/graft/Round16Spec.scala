package graft

import org.apache.spark.sql.functions._

/** Round-16 goldens: cross-variable DEFINE under RELAXED contiguity
  * (skip-not-kill semantics, greedy take interaction, FIRST/LAST
  * divergence, the contiguous-vs-relaxed contrast on identical input),
  * MEASURES numeric literals + parentheses (parse, precedence, VALUES
  * on both output paths, rejections), the substring family's hashed
  * production twin, and output-neutrality of the r16 shared-fixture
  * consolidations (semdedup + substring gates vs their library forms).
  */
class Round16Spec extends SparkSpecBase {

  import graft.operators.{Cep, MatchRecognize => MR, TextAnalysis, Similarity}

  private val M = 60000000L // one minute in micros

  private def feedAll(m: Cep.Machine,
      rows: Seq[(Long, Long, String, Long)]): List[(Long, Long)] =
    (rows.flatMap { case (ts, id, tpe, vc) => m.feedM(ts, id, tpe, vc) }
      ++ m.flush()).map(p => (p._1.start_event_id, p._1.end_event_id))
      .toList

  // ---- relaxed cross-variable DEFINE: machine semantics ----

  test("relaxed cross DEFINE SKIPS a disqualified row where contiguous " +
      "KILLS the candidate") {
    // c v(50) p(40) p(60): the first purchase fails P.value > FIRST(V)
    val pat = IndexedSeq(Cep.Step("c"), Cep.Step("v", plus = true),
      Cep.Step("p", cross = List(Cep.CrossRef(1, first = true,
        Cep.PrevGt))))
    val rows = Seq((0L, 1L, "c", 0L), (1L, 2L, "v", 50L),
      (2L, 3L, "p", 40L), (3L, 4L, "p", 60L))
    // contiguous: p(40) bounds the view run AND fails P's predicate —
    // no shorter take re-opens it (a non-view at P's position) → kill
    assert(feedAll(new Cep.Machine(pat, M), rows) == Nil)
    // relaxed: the failed purchase is a skippable non-matching row;
    // the NEXT qualifying purchase completes the match
    assert(feedAll(new Cep.Machine(pat, M, contiguous = false), rows) ==
      List((1L, 4L)))
  }

  test("relaxed cross DEFINE interacts with greed: shrinking the take " +
      "exposes an EARLIER interleaved purchase") {
    // c v(50) p(60) v(30): greedy take {v,v} leaves no purchase after
    // the second view; take {v} re-opens the interleaved p(60) > 50
    val pat = IndexedSeq(Cep.Step("c"), Cep.Step("v", plus = true),
      Cep.Step("p", cross = List(Cep.CrossRef(1, first = true,
        Cep.PrevGt))))
    val rows = Seq((0L, 1L, "c", 0L), (1L, 2L, "v", 50L),
      (2L, 3L, "p", 60L), (3L, 4L, "v", 30L))
    assert(feedAll(new Cep.Machine(pat, M, contiguous = false), rows) ==
      List((1L, 3L)))
  }

  test("relaxed FIRST vs LAST navigation provably diverge") {
    // c v(50) v(10) p(30): FIRST(V)=50 kills every take (the first
    // view is in EVERY prefix take); LAST(V)=10 matches the full take
    def pat(first: Boolean) = IndexedSeq(Cep.Step("c"),
      Cep.Step("v", plus = true),
      Cep.Step("p", cross = List(Cep.CrossRef(1, first, Cep.PrevGt))))
    val rows = Seq((0L, 1L, "c", 0L), (1L, 2L, "v", 50L),
      (2L, 3L, "v", 10L), (3L, 4L, "p", 30L))
    assert(feedAll(
      new Cep.Machine(pat(first = true), M, contiguous = false), rows)
      == Nil)
    assert(feedAll(
      new Cep.Machine(pat(first = false), M, contiguous = false), rows)
      == List((1L, 4L)))
  }

  test("relaxed path-dependent LAST: the shorter take matches where " +
      "contiguous cannot (the memo-soundness shape)") {
    // a(10) a(40) b(30), pattern a+ b with B.value > LAST(A.value):
    // greedy take {a,a} → LAST=40 kills b(30); take {a} → LAST=10
    // matches — RELAXED skips the second 'a' at b's position, the
    // exact shape Round15Spec pins as a kill under contiguity. The
    // referenced span differs per path, so (step, pos) memoization is
    // disabled below the back-reference (memoOk) — a cached kill
    // from the long take must not leak into the short one.
    val pat = IndexedSeq(Cep.Step("a", plus = true),
      Cep.Step("b", cross = List(Cep.CrossRef(0, first = false,
        Cep.PrevGt))))
    val rows = Seq((0L, 1L, "a", 10L), (1L, 2L, "a", 40L),
      (2L, 3L, "b", 30L))
    assert(feedAll(new Cep.Machine(pat, M), rows) == Nil)
    assert(feedAll(new Cep.Machine(pat, M, contiguous = false), rows) ==
      List((1L, 3L)))
  }

  test("relaxed cross DEFINE: a referenced optional that took zero " +
      "rows is NULL — no match") {
    val pat = IndexedSeq(Cep.Step("c"), Cep.Step("e", opt = true),
      Cep.Step("p", cross = List(Cep.CrossRef(1, first = false,
        Cep.PrevGt))))
    val without = Seq((0L, 1L, "c", 0L), (1L, 2L, "p", 99L))
    assert(feedAll(new Cep.Machine(pat, M, contiguous = false), without)
      == Nil)
    val withE = Seq((0L, 1L, "c", 0L), (1L, 2L, "e", 10L),
      (2L, 3L, "p", 99L))
    assert(feedAll(new Cep.Machine(pat, M, contiguous = false), withE)
      == List((1L, 3L)))
  }

  test("relaxed cross rejections: forward reference and neg target " +
      "still reject; sumCap stays contiguous-only") {
    val e1 = intercept[IllegalArgumentException] {
      Cep.cepFollowedByOf(null, Seq(Cep.Step("c",
        cross = List(Cep.CrossRef(0, first = true, Cep.PrevGt))),
        Cep.Step("p")), M)
    }
    assert(e1.getMessage.contains("EARLIER step"))
    val e2 = intercept[IllegalArgumentException] {
      Cep.cepFollowedByOf(null, Seq(Cep.Step("c"),
        Cep.Step("e", neg = true),
        Cep.Step("p", cross = List(Cep.CrossRef(1, first = true,
          Cep.PrevGt)))), M)
    }
    assert(e2.getMessage.contains("negation step"))
  }

  test("cep_cross_followed binds at sf0.001: the predicate kills and " +
      "reshapes the plain relaxed funnel") {
    val plain = Cep.cepFollowedPlus(spark, sfDir).count()
    val crossed = Cep.cepCrossFollowed(spark, sfDir).count()
    assert(plain == 35L && crossed == 20L,
      s"plain $plain (want 35), crossed $crossed (want 20)")
  }

  // ---- MEASURES numeric literals + parentheses ----

  test("MEASURES literals/parens parse with standard precedence; " +
      "constant-only and malformed shapes reject") {
    val ms = MR.parseMeasures(MR.parse(
      """MATCH_RECOGNIZE (
        | PARTITION BY user_id ORDER BY ts, event_id
        | MEASURES SUM(V.value) / 100 AS d,
        |          (SUM(V.value) + SUM(C.value)) / (COUNT(V.*) + COUNT(C.*)) AS pr,
        |          SUM(V.value) - 2 * COUNT(V.*) AS prec,
        |          COUNT(V.*) * 1.5 AS scale
        | ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW
        | PATTERN (C V+ P) WITHIN INTERVAL '7' DAY
        | DEFINE C AS C.event_type = 'click',
        |        V AS V.event_type = 'view',
        |        P AS P.event_type = 'purchase')""".stripMargin)
      .rawMeasures)
    assert(ms(0).expr == MR.MBin('/', MR.MAgg("SUM", "V"), MR.MLit("100")))
    assert(ms(1).expr == MR.MBin('/',
      MR.MBin('+', MR.MAgg("SUM", "V"), MR.MAgg("SUM", "C")),
      MR.MBin('+', MR.MAgg("COUNT", "V"), MR.MAgg("COUNT", "C"))))
    // precedence: the literal product binds before the subtraction
    assert(ms(2).expr == MR.MBin('-', MR.MAgg("SUM", "V"),
      MR.MBin('*', MR.MLit("2"), MR.MAgg("COUNT", "V"))))
    // a dotted literal stays a double
    assert(ms(3).expr ==
      MR.MBin('*', MR.MAgg("COUNT", "V"), MR.MLit("1.5")))
    def bad(measures: String, frag: String): Unit = {
      val e = intercept[IllegalArgumentException] {
        MR.parseMeasures(MR.parse(
          s"""MATCH_RECOGNIZE (
             | PARTITION BY user_id ORDER BY ts, event_id
             | MEASURES $measures
             | ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW
             | PATTERN (C V+ P) WITHIN INTERVAL '7' DAY
             | DEFINE C AS C.event_type = 'click',
             |        V AS V.event_type = 'view',
             |        P AS P.event_type = 'purchase')""".stripMargin)
          .rawMeasures)
      }
      assert(e.getMessage.contains(frag), s"got: ${e.getMessage}")
    }
    bad("100 AS x", "at least one aggregate")
    bad("(100 + 2) * 3 AS x", "at least one aggregate")
    bad("(SUM(V.value) AS x", "expected ')'")
    bad("MATCH_NUMBER() * 2 AS x", "stand alone")
  }

  test("pivot-path literal/paren measure VALUES are exact") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(m: Int) = new java.sql.Timestamp(base.getTime + m * 60000L)
    val events = Seq(
      (1L, ts(0), 10L, "click", 1.00),
      (1L, ts(1), 11L, "view", 2.00),
      (1L, ts(2), 12L, "view", 4.00),
      (1L, ts(3), 13L, "purchase", 1.00))
      .toDF("user_id", "ts", "event_id", "event_type", "value")
    val out = MR.matchRecognizeMeasuresOf(events,
      """MATCH_RECOGNIZE (
        | PARTITION BY user_id ORDER BY ts, event_id
        | MEASURES SUM(V.value) / 100 AS d,
        |          (SUM(V.value) + SUM(C.value)) / (COUNT(V.*) + COUNT(C.*)) AS pr,
        |          COUNT(V.*) * 2 + 1 AS c2,
        |          SUM(V.value) - 2 * COUNT(V.*) AS prec
        | ONE ROW PER MATCH AFTER MATCH SKIP PAST LAST ROW
        | PATTERN (C V+ P) WITHIN INTERVAL '1' DAY
        | DEFINE C AS C.event_type = 'click',
        |        V AS V.event_type = 'view',
        |        P AS P.event_type = 'purchase')""".stripMargin)
      .select(col("d"), col("pr"), col("c2"), col("prec")).collect()
    assert(out.length == 1)
    val r = out.head
    // cents: SUM(V)=600, SUM(C)=100, COUNT(V)=2, COUNT(C)=1
    assert(r.getDouble(0) == 6.0) // 600 / 100
    assert(math.abs(r.getDouble(1) - 700.0 / 3) < 1e-9) // (600+100)/(2+1)
    assert(r.getLong(2) == 5L) // 2*2 + 1
    assert(r.getLong(3) == 596L) // 600 - 2*2 (precedence)
  }

  test("rows-path literal measure VALUES follow RUNNING semantics") {
    import spark.implicits._
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(m: Int) = new java.sql.Timestamp(base.getTime + m * 60000L)
    val events = Seq(
      (1L, ts(0), 10L, "click", 1.00),
      (1L, ts(1), 11L, "view", 2.00),
      (1L, ts(2), 12L, "view", 4.00),
      (1L, ts(3), 13L, "purchase", 1.00))
      .toDF("user_id", "ts", "event_id", "event_type", "value")
    val out = MR.matchRecognizeRowsOf(events,
      """MATCH_RECOGNIZE (
        | PARTITION BY user_id ORDER BY ts, event_id
        | MEASURES SUM(V.value) / 100 AS d
        | ALL ROWS PER MATCH AFTER MATCH SKIP PAST LAST ROW
        | PATTERN (C V+ P) WITHIN INTERVAL '1' DAY
        | DEFINE C AS C.event_type = 'click',
        |        V AS V.event_type = 'view',
        |        P AS P.event_type = 'purchase')""".stripMargin)
      .orderBy(col("event_id"))
      .select(col("event_id"), col("d")).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null
        else java.lang.Double.valueOf(r.getDouble(1)))).toList
    // RUNNING prefix sums in cents / 100: click row has no V rows yet
    // (NULL / 100 = NULL), then 200/100, 600/100, 600/100
    assert(out == List((10L, null), (11L, 2.0), (12L, 6.0), (13L, 6.0)),
      s"got $out")
  }

  // ---- substring hashed production twin ----

  test("text_substring_dedup_hashed: hash_eq pinned 1 at sf0.001, run " +
      "set equals the string-keyed detect") {
    val out = TextAnalysis.substringDedupHashed(spark, sfDir)
    val rows = out.collect()
    assert(rows.length == 27, s"runs ${rows.length} (want 27)")
    assert(rows.forall(_.getAs[Long]("hash_eq") == 1L))
    // the library hashed form standalone equals the library string form
    val docs = Tables.t(spark, sfDir, "documents")
    val s1 = TextAnalysis.substringDedupOf(docs, 5, 15).collect().toSet
    val s2 = TextAnalysis.substringDedupHashedOf(docs, 5, 15)
      .collect().toSet
    assert(s1 == s2)
  }

  // ---- shared-fixture consolidations: output-neutrality ----

  test("substring gate fixtures ≡ the library forms (detect, apply, " +
      "novelty)") {
    val docs = Tables.t(spark, sfDir, "documents")
    assert(TextAnalysis.substringDedup(spark, sfDir).collect().toSet ==
      TextAnalysis.substringDedupOf(docs, 5, 15).collect().toSet)
    assert(TextAnalysis.substringDedupApply(spark, sfDir).collect().toSet
      == TextAnalysis.substringDedupApplyOf(docs, 5, 15).collect().toSet)
    assert(TextAnalysis.substringNovelty(spark, sfDir).collect().toSet ==
      TextAnalysis.substringNoveltyOf(
        docs.filter(col("doc_id") % 50 =!= 0),
        docs.filter(col("doc_id") % 50 === 0), 5, 15).collect().toSet)
  }

  test("substring rewrite: re-tokenized clean_text length equals " +
      "n_tokens - n_removed for every doc; accounting matches apply") {
    val rw = TextAnalysis.substringDedupRewrite(spark, sfDir)
    val bad = rw.filter(
      size(graft.functions.TextFunctions.tokens(col("clean_text"))) =!=
        (col("n_tokens") - col("n_removed")).cast("int")).count()
    assert(bad == 0L, s"$bad docs with inconsistent rewrite arithmetic")
    val ap = operators.TextAnalysis.substringDedupApply(spark, sfDir)
      .select(col("doc_id"), col("n_removed").as("apply_removed"))
    val mism = rw.join(ap, "doc_id")
      .filter(col("n_removed") =!= col("apply_removed")).count()
    assert(mism == 0L, s"$mism docs where rewrite and apply disagree")
    // removals bind at spec scale — the gate is not vacuous
    assert(rw.filter(col("n_removed") > 0).count() > 0L)
  }

  test("semdedup gate fixture ≡ the library form") {
    graft.functions.VectorFunctions.register(spark)
    val emb = Tables.t(spark, sfDir, "embeddings")
    assert(Similarity.semDedup(spark, sfDir).collect().toSeq ==
      Similarity.semDedupOf(emb, 4, 2, 0.4).collect().toSeq)
  }

  // ---- streaming relaxed cross: kill+restart recovery ----

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

  test("relaxed cross DEFINE match spanning a kill+restart seam " +
      "completes from the recovered buffer (spec-10 shape)") { withRocks {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the spec-10 machine: relaxed funnel, P.value > FIRST(V.value)
    val specs = Seq(graft.streaming.StreamingOps.CepSpec(
      IndexedSeq(Cep.Step("click"), Cep.Step("view", plus = true),
        Cep.Step("purchase", cross = List(Cep.CrossRef(1, first = true,
          Cep.PrevGt)))), 10 * M, contiguous = false))
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-r16-rc-ckpt").toString
    val outDir = java.nio.file.Files
      .createTempDirectory("graft-r16-rc-out").toString
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
    // run 1: click + FIRST view drain (the navigation's referenced row
    // lives in the snapshot), then KILL mid-pattern
    val q1 = start()
    src.addData((1L, 0L, 1L, "click", 100L), (1L, M, 2L, "view", 250L),
      // a DISQUALIFIED purchase (200 < FIRST(V)=250) the relaxed walk
      // must SKIP after recovery, not match or kill on
      (1L, 2 * M, 3L, "purchase", 200L))
    q1.processAllAvailable()
    src.addData((8L, 3 * M, 50L, "x", 0L))
    q1.processAllAvailable()
    q1.stop()
    // run 2: a second view + a QUALIFYING purchase complete the match
    // off the recovered buffer — the cross predicate re-reads
    // FIRST(V) = the pre-kill view's 250
    val q2 = start()
    src.addData((1L, 4 * M, 4L, "view", 50L),
      (1L, 5 * M, 5L, "purchase", 400L))
    q2.processAllAvailable()
    src.addData((8L, 30 * M, 51L, "x", 0L))
    q2.processAllAvailable()
    q2.stop()
    val out = spark.read.parquet(outDir).filter(col("user_id") === 1L)
      .filter(col("pat") === 0)
      .select(col("start_event_id"), col("end_event_id"), col("n_rows"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toList
    // greedy take = both views (window still open at the purchase),
    // end = the qualifying purchase, the disqualified one skipped:
    // 4 consumed rows (click, view, view, purchase)
    assert(out == List((1L, 5L, 4L)), s"recovered relaxed cross: $out")
  } }
}
