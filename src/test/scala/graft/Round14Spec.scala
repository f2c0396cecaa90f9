package graft

import org.apache.spark.sql.functions._

/** Round-14 goldens: CEP streaming checkpoint recovery (kill +
  * restart on one checkpointLocation for both the linear and the
  * grouped processor — the r13 state formats' first recovery proof),
  * ALL ROWS PER MATCH, MEASURES over grouped patterns, and the SQL
  * surface's new rejection rules.
  */
class Round14Spec extends SparkSpecBase {

  private val M = 60000000L // one minute in micros

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

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString

  // ---- checkpoint recovery: the r13 brief's one assumed claim ----

  test("cepStream recovery: horizon-timer absence emission survives " +
      "kill+restart between the click and its horizon") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.operators.Cep
    withRocks {
      // abandoned cart: click with no purchase within 10 minutes,
      // relaxed contiguity — the emission point is a TIME (the
      // horizon), carried by a registered event-time timer that must
      // survive the restart along with the buf2/m2_0 state
      val pattern = Seq(Cep.Step("click"), Cep.Step("purchase", neg = true))
      val ckpt = tmp("graft-cep-ckpt")
      val src = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long, Long, String)]
      def start(outDir: String) =
        graft.streaming.StreamingOps.cepStream(src.toDS(), pattern,
          windowUs = 10 * M, contiguous = false)
          .toDF().writeStream
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
            b.write.mode("append").parquet(outDir); ()
          }
          .outputMode("append")
          .option("checkpointLocation", ckpt).start()

      // run 1: key 9's click (t=0, horizon 10M) EXPIRES inside run 1
      // once the watermark passes 10M; key 1's click (t=5M, horizon
      // 15M) stays pending across the kill
      val out1 = tmp("graft-cep-out1")
      val q1 = start(out1)
      src.addData((9L, 0L, 80L, "click"), (1L, 5 * M, 1L, "click"))
      q1.processAllAvailable()
      src.addData((3L, 12 * M, 90L, "view"))
      q1.processAllAvailable()
      src.addData((3L, 12 * M + 1L, 91L, "view"))
      q1.processAllAvailable()
      q1.stop()
      val run1 = spark.read.parquet(out1).as[Cep.CepMatch].collect()
        .map(m => (m.user_id, m.start_event_id)).toSet
      assert(run1 == Set((9L, 80L)),
        s"run 1 must emit exactly key 9's expired absence: $run1")

      // run 2: a NEW query on the SAME checkpoint; only a far-future
      // row on another key arrives — key 1's emission therefore rides
      // EXCLUSIVELY on recovered state + a re-armed/recovered timer
      val out2 = tmp("graft-cep-out2")
      val q2 = start(out2)
      src.addData((3L, 20 * M, 92L, "view"))
      q2.processAllAvailable()
      src.addData((3L, 20 * M + 1L, 93L, "view"))
      q2.processAllAvailable()
      q2.stop()
      val run2 = spark.read.parquet(out2).as[Cep.CepMatch].collect()
        .map(m => (m.user_id, m.start_event_id)).toSet
      // key 1 emitted = buf2/m2_0 + timers recovered; key 9 absent =
      // run 1's committed batches were NOT replayed
      assert(run2 == Set((1L, 1L)),
        s"run 2 must emit exactly key 1's recovered absence: $run2")

      // unbroken twin: same rows, one query, fresh checkpoint — the
      // split run must equal it exactly
      val src3 = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long, Long, String)]
      val out3 = tmp("graft-cep-out3")
      val q3 = graft.streaming.StreamingOps.cepStream(src3.toDS(), pattern,
        windowUs = 10 * M, contiguous = false)
        .toDF().writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.write.mode("append").parquet(out3); ()
        }
        .outputMode("append")
        .option("checkpointLocation", tmp("graft-cep-ckpt3")).start()
      src3.addData((9L, 0L, 80L, "click"), (1L, 5 * M, 1L, "click"))
      q3.processAllAvailable()
      src3.addData((3L, 12 * M, 90L, "view"))
      q3.processAllAvailable()
      src3.addData((3L, 12 * M + 1L, 91L, "view"))
      q3.processAllAvailable()
      src3.addData((3L, 20 * M, 92L, "view"))
      q3.processAllAvailable()
      src3.addData((3L, 20 * M + 1L, 93L, "view"))
      q3.processAllAvailable()
      q3.stop()
      val unbroken = spark.read.parquet(out3).as[Cep.CepMatch].collect()
        .map(m => (m.user_id, m.start_event_id)).toSet
      assert(run1 ++ run2 == unbroken,
        s"split run ${run1 ++ run2} != unbroken $unbroken")
    }
  }

  test("cepStreamGrouped recovery: a multi-iteration match spanning " +
      "the restart seam completes from the recovered machine snapshot") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.operators.Cep
    withRocks {
      // (click view)+ purchase: run 1 drains iteration 1 (click view)
      // into the m2_0 machine snapshot; run 2 feeds iteration 2 and the
      // closing purchase — the 5-row match proves the mid-pattern
      // split-program state crossed the kill
      val g = Cep.GCat(Seq(
        Cep.GRep(Cep.GCat(Seq(
          Cep.GLf(Cep.Step("click")), Cep.GLf(Cep.Step("view")))),
          1, Int.MaxValue),
        Cep.GLf(Cep.Step("purchase"))))
      val ckpt = tmp("graft-cepg-ckpt")
      val src = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long, Long, String)]
      def start(outDir: String) =
        graft.streaming.StreamingOps.cepStreamGrouped(src.toDS(), g,
          windowUs = 10 * M)
          .toDF().writeStream
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
            b.write.mode("append").parquet(outDir); ()
          }
          .outputMode("append")
          .option("checkpointLocation", ckpt).start()

      val out1 = tmp("graft-cepg-out1")
      val q1 = start(out1)
      src.addData((1L, 0L, 1L, "click"), (1L, 1 * M, 2L, "view"))
      q1.processAllAvailable()
      // drain the two rows into the machine (watermark past 1M)
      src.addData((2L, 3 * M, 90L, "purchase"))
      q1.processAllAvailable()
      src.addData((2L, 3 * M + 1L, 91L, "purchase"))
      q1.processAllAvailable()
      q1.stop()
      assert(!new java.io.File(out1).exists() ||
        spark.read.parquet(out1).isEmpty,
        "run 1 must emit nothing (the match is still open)")

      // run 2 rows sit ABOVE run 1's recovered watermark (~3M - 5s):
      // a click at 2M would be DROPPED as late — itself proof the
      // watermark recovered, but not the claim under test
      val out2 = tmp("graft-cepg-out2")
      val q2 = start(out2)
      src.addData((1L, 7 * M / 2, 3L, "click"), (1L, 4 * M, 4L, "view"),
        (1L, 9 * M / 2, 5L, "purchase"))
      q2.processAllAvailable()
      src.addData((2L, 7 * M, 92L, "purchase"))
      q2.processAllAvailable()
      src.addData((2L, 7 * M + 1L, 93L, "purchase"))
      q2.processAllAvailable()
      q2.stop()
      val run2 = spark.read.parquet(out2).as[Cep.CepMatch].collect()
        .map(m => (m.user_id, m.start_event_id, m.end_event_id, m.n_rows))
        .toSet
      assert(run2 == Set((1L, 1L, 5L, 5L)),
        s"the seam-spanning 2-iteration match must complete exactly " +
          s"once from recovered state: $run2")
    }
  }

  // ---- ALL ROWS PER MATCH ----

  test("cepRowsOf: funnel rows under their classifying steps, " +
      "value passthrough intact") {
    import spark.implicits._
    import graft.operators.Cep
    val rows = Seq(
      (1L, 0L, 1L, "click", 1.00), (1L, 1 * M, 2L, "view", 2.25),
      (1L, 2 * M, 3L, "view", 3.50), (1L, 3 * M, 4L, "purchase", 9.99),
      (1L, 4 * M, 5L, "error", 0.10))
      .toDF("user_id", "ts_us", "event_id", "event_type", "value")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val got = Cep.cepRowsOf(rows,
      Seq(Cep.Step("click"), Cep.Step("view", plus = true),
        Cep.Step("purchase")),
      windowUs = 10 * M)
      .collect().sortBy(_.event_id)
      .map(r => (r.event_id, r.step, r.value_c, r.start_event_id,
        r.n_rows))
    assert(got.toSeq == Seq((1L, 0, 100L, 1L, 4L), (2L, 1, 225L, 1L, 4L),
      (3L, 1, 350L, 1L, 4L), (4L, 2, 999L, 1L, 4L)), s"${got.toSeq}")
  }

  test("cepRowsGroupedOf: an alternation arm not taken classifies " +
      "nothing; iteration rows accumulate on their leaves") {
    import spark.implicits._
    import graft.operators.Cep
    // (A B | C D)+ E with A=click B=view / C=view D=click, E=purchase:
    // rows view click view click purchase take arm 2 TWICE — leaves
    // 2 (C) and 3 (D) classify two rows each, arm 1's leaves none
    val rows = Seq(
      (1L, 0L, 1L, "view"), (1L, 1 * M, 2L, "click"),
      (1L, 2 * M, 3L, "view"), (1L, 3 * M, 4L, "click"),
      (1L, 4 * M, 5L, "purchase"))
      .toDF("user_id", "ts_us", "event_id", "event_type")
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withColumn("value", lit(1.0))
    val g = Cep.GCat(Seq(
      Cep.GRep(Cep.GAlt(Seq(
        Cep.GCat(Seq(Cep.GLf(Cep.Step("click")), Cep.GLf(Cep.Step("view")))),
        Cep.GCat(Seq(Cep.GLf(Cep.Step("view")), Cep.GLf(Cep.Step("click")))))),
        1, Int.MaxValue),
      Cep.GLf(Cep.Step("purchase"))))
    val got = Cep.cepRowsGroupedOf(rows, g, windowUs = 10 * M)
      .collect().sortBy(_.event_id).map(r => (r.event_id, r.step))
    assert(got.toSeq == Seq((1L, 2), (2L, 3), (3L, 2), (4L, 3), (5L, 4)),
      s"${got.toSeq}")
    // and the grouped MEASURES accumulate across the two iterations
    val aggs = Cep.cepMeasuresGroupedOf(rows, g, windowUs = 10 * M)
      .collect().sortBy(_.step)
      .map(a => (a.step, a.cnt, a.first_event_id, a.last_event_id))
    assert(aggs.toSeq == Seq(
      (0, 0L, None, None), (1, 0L, None, None),
      (2, 2L, Some(1L), Some(3L)), (3, 2L, Some(2L), Some(4L)),
      (4, 1L, Some(5L), Some(5L))), s"${aggs.toSeq}")
  }

  test("grouped MEASURES == flat MEASURES on a flat-expressible " +
      "pattern over real data") {
    import graft.operators.Cep
    val events = Tables.t(spark, sfDir, "events")
    val pat = Seq(Cep.Step("click"), Cep.Step("view", plus = true),
      Cep.Step("purchase"))
    val g = Cep.GCat(pat.map(st => Cep.GLf(st)).toList)
    val flat = Cep.cepMeasuresOf(events, pat, windowUs = 7L * 86400000000L)
      .collect().map(_.toString).sorted
    val grp = Cep.cepMeasuresGroupedOf(events, g,
      windowUs = 7L * 86400000000L)
      .collect().map(_.toString).sorted
    assert(flat.nonEmpty && flat.toSeq == grp.toSeq)
  }

  // ---- SQL surface routing and parser guards ----

  test("match_recognize routing: ALL ROWS and ONE ROW reject each " +
      "other's runner; ALL ROWS + MEASURES rejects") {
    import graft.operators.MatchRecognize
    val events = Tables.t(spark, sfDir, "events")
    val allRows = MatchRecognize.FunnelAllRowsSql
    val oneRow = MatchRecognize.VshapeSql
    val e1 = intercept[IllegalArgumentException](
      MatchRecognize.matchRecognizeOf(events, allRows))
    assert(e1.getMessage.contains("matchRecognizeRowsOf"))
    val e2 = intercept[IllegalArgumentException](
      MatchRecognize.matchRecognizeRowsOf(events, oneRow))
    assert(e2.getMessage.contains("ALL ROWS PER MATCH"))
    // ALL ROWS + MEASURES is implemented (RUNNING per-row semantics,
    // Round14bSpec) — the MEASURES pivot runner still rejects the
    // ALL ROWS clause with a pointer to the per-row runner
    val withMeasures = allRows.replace("  ALL ROWS PER MATCH",
      "  MEASURES COUNT(V.*) AS n\n  ALL ROWS PER MATCH")
    val e3 = intercept[IllegalArgumentException](
      MatchRecognize.matchRecognizeMeasuresOf(events, withMeasures))
    assert(e3.getMessage.contains("matchRecognizeRowsOf"))
    assert(MatchRecognize.matchRecognizeRowsOf(events, withMeasures)
      .columns.contains("n"))
  }

  test("parser guards: {m,} parses open-ended (timesOrMore), {,n} and " +
      "malformed numeric literals fail as parse errors") {
    import graft.operators.MatchRecognize
    // {2,} — Flink's timesOrMore: lower bound 2, unbounded upper
    val openEnded = MatchRecognize.parse(
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts, event_id
        |  PATTERN (A B{2,} C)
        |  DEFINE A AS A.event_type = 'click'
        |)""".stripMargin)
    assert(openEnded.pattern(1).rep.contains((2, Int.MaxValue)),
      s"${openEnded.pattern(1)}")
    // {,2} was rejected when this golden landed; r15 closed the family
    // ({,n} → {0,n}) — the assertion tracks the support, and
    // Round15Spec pins the full desugar set
    val missingLo = MatchRecognize.parse(
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts, event_id
        |  PATTERN (A B{,2} C)
        |  DEFINE A AS A.event_type = 'click'
        |)""".stripMargin)
    assert(missingLo.pattern(1).rep.contains((0, 2)),
      s"${missingLo.pattern(1)}")
    val badNum =
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts, event_id
        |  PATTERN (A B+)
        |  DEFINE B AS SUM(B.value) <= 1.2.3
        |)""".stripMargin
    val e2 = intercept[IllegalArgumentException](
      MatchRecognize.parse(badNum))
    assert(e2.getMessage.contains("malformed numeric"), e2.getMessage)
  }

  test("cepStreamSql: a parsed MATCH_RECOGNIZE clause runs live, " +
      "with a match spanning the micro-batch seam") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.operators.Cep
    withRocks {
      val sql =
        """MATCH_RECOGNIZE (
          |  PARTITION BY user_id
          |  ORDER BY ts, event_id
          |  ONE ROW PER MATCH
          |  AFTER MATCH SKIP PAST LAST ROW
          |  PATTERN (C V+ P)
          |  WITHIN INTERVAL '10' MINUTE
          |  DEFINE C AS C.event_type = 'click',
          |         V AS V.event_type = 'view',
          |         P AS P.event_type = 'purchase'
          |)""".stripMargin
      val src = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long, Long, String, Long)]
      val q = graft.streaming.StreamingOps.cepStreamSql(src.toDS(), sql)
        .writeStream.format("memory").queryName("cep_sql")
        .outputMode("append").start()
      // click + view before the seam, view + purchase after it
      src.addData((7L, 0L, 1L, "click", 0L), (7L, 1 * M, 2L, "view", 0L))
      q.processAllAvailable()
      src.addData((7L, 2 * M, 3L, "view", 0L),
        (7L, 3 * M, 4L, "purchase", 0L))
      q.processAllAvailable()
      src.addData((8L, 30 * M, 90L, "error", 0L))
      q.processAllAvailable()
      src.addData((8L, 31 * M, 91L, "error", 0L))
      q.processAllAvailable()
      q.stop()
      val got = spark.table("cep_sql").as[Cep.CepMatch].collect()
        .map(m => (m.user_id, m.start_event_id, m.end_event_id, m.n_rows))
        .toSet
      assert(got == Set((7L, 1L, 4L, 4L)), s"$got")
      // and the streaming runner rejects the batch-only output mode
      val e = intercept[IllegalArgumentException](
        graft.streaming.StreamingOps.cepStreamSql(src.toDS(),
          sql.replace("ONE ROW PER MATCH", "ALL ROWS PER MATCH")))
      assert(e.getMessage.contains("batch output mode"))
    }
  }

  test("PERMUTE: parse == Cep.permute expansion; both orderings match " +
      "on a two-ordering corpus; n > 4 rejected") {
    import spark.implicits._
    import graft.operators.{Cep, MatchRecognize}
    val sql =
      """MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts, event_id
        |  ONE ROW PER MATCH
        |  PATTERN (PERMUTE(A, B))
        |  WITHIN INTERVAL '10' MINUTE
        |  DEFINE A AS A.event_type = 'click', B AS B.event_type = 'view'
        |)""".stripMargin
    val parsed = MatchRecognize.parse(sql)
    assert(parsed.grouped.contains(
      Cep.permute(Seq(Cep.Step("click"), Cep.Step("view")))))
    // click view | view click — both orderings, non-overlapping
    val rows = Seq(
      (1L, 0L, 1L, "click"), (1L, 1 * M, 2L, "view"),
      (1L, 2 * M, 3L, "view"), (1L, 3 * M, 4L, "click"),
      (1L, 9 * M, 5L, "view"))
      .toDF("user_id", "ts_us", "event_id", "event_type")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val got = MatchRecognize.matchRecognizeOf(rows, sql)
      .collect().map(m => (m.start_event_id, m.end_event_id)).toSet
    assert(got == Set((1L, 2L), (3L, 4L)), s"$got")
    val e = intercept[IllegalArgumentException](MatchRecognize.parse(
      sql.replace("PERMUTE(A, B)", "PERMUTE(A, B, C, D, E)")))
    assert(e.getMessage.contains("2 <= n <= 4"), e.getMessage)
    val e2 = intercept[IllegalArgumentException](
      Cep.permute(Seq.fill(5)(Cep.Step("a"))))
    assert(e2.getMessage.contains("2 <= n <= 4"))
  }

  test("temporal join: late fact AND late version drops are counted " +
      "(one per side)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.streaming.StreamingOps
    import StreamingOps.{TemporalOp, TemporalJoined}
    def sec(s: Long) = s * 1000000L
    withRocks {
      val src = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[TemporalOp]
      val lateDrops = spark.sparkContext.longAccumulator("tj_late")
      val q = StreamingOps.temporalJoinStream(src.toDS(),
          lateCounter = Some(lateDrops))
        .toDF().writeStream.format("memory").queryName("tj_late")
        .outputMode("append").start()
      // version + fact, then a flush far ahead so the watermark passes
      src.addData(
        TemporalOp("R", "I", 1L, sec(10), 1L, 0L, 100L),
        TemporalOp("L", "I", 0L, sec(20), 1L, 2L, 20L))
      q.processAllAvailable()
      src.addData(TemporalOp("F", "I", Long.MaxValue, sec(300), 0L, -1L, 0L))
      q.processAllAvailable()
      // both below the watermark now: a late fact and a late version —
      // dropped on their respective sides, each counted
      src.addData(
        TemporalOp("L", "I", 0L, sec(15), 1L, 9L, 99L),
        TemporalOp("R", "I", 2L, sec(12), 1L, 0L, 500L))
      q.processAllAvailable()
      q.stop()
      val got = spark.table("tj_late").as[TemporalJoined].collect().toSet
      assert(got == Set(TemporalJoined(1L, 2L, sec(20), 20L, Some(100L))),
        s"$got")
      assert(lateDrops.value == 2L,
        s"late fact + late version must both count: ${lateDrops.value}")
    }
  }

  test("cepStream rejects value-dependent patterns on the zero-value " +
      "surface") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.operators.Cep
    val src = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, Long, String)]
    val e = intercept[IllegalArgumentException](
      graft.streaming.StreamingOps.cepStream(src.toDS(),
        Seq(Cep.Step("click"),
          Cep.Step("purchase", plus = true, sumCap = Some(100L))),
        windowUs = 10 * M))
    assert(e.getMessage.contains("cepStreamValued"))
    val e2 = intercept[IllegalArgumentException](
      graft.streaming.StreamingOps.cepStreamGrouped(src.toDS(),
        Cep.GCat(Seq(Cep.GLf(Cep.Step("click")),
          Cep.GLf(Cep.Step("view", cmp = Some(Cep.PrevGt))))),
        windowUs = 10 * M))
    assert(e2.getMessage.contains("cepStreamValued"))
  }
}
