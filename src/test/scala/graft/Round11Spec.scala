package graft

import org.apache.spark.sql.functions._

/** Round-11 hardening: the refineToTarget hot/cold id-space collision
  * (ADVICE high), the recursive-SemDeDup gate contracts, the
  * falsifiability of the bounded gate's loose-cap verdict, the capped
  * default for semDedupOf, the q15c RANGE-frame planted-tie pin, and
  * the changelog-source (I/U/D retraction) aggregate.
  */
class Round11Spec extends SparkSpecBase {

  test("refineToTarget: cold cells shift into the level id space — no hot/cold collision") {
    import spark.implicits._
    val dim = 8
    // hot coarse cell 0: 20 points spread along dims 0..4 (splittable,
    // s = ceil(20/4) = 5 sub-centroids → subs 0..4); cold coarse cell 2:
    // 3 points far away, at target. Pre-fix, cold kept cid 2 while hot
    // emitted cid*fanout + sub = 0..4 — cold 2 aliased hot sub 2 and the
    // two unrelated cells merged in the refined assignment.
    val hot = (0L until 20L).map { i =>
      val v = Array.fill(dim)(0.0f); v((i % 5).toInt) = 10.0f
      v(5) = 0.01f * i // texture so Lloyd's has gradients
      (i, v)
    }
    val cold = (100L until 103L).map { i =>
      val v = Array.fill(dim)(0.0f); v(7) = -10.0f; v(6) = 0.01f * (i - 100)
      (i, v)
    }
    val emb = (hot ++ cold).toDF("vec_id", "embedding")
    val asg0 = (hot.map(_._1 -> 0L) ++ cold.map(_._1 -> 2L))
      .toDF("vec_id", "cid")
    val refined = operators.KMeans.refineToTarget(emb, asg0, targetCell = 4,
      iters = 1, fanout = 16, maxLevels = 1).cache()
    // partition: every vector exactly once
    assert(refined.count() == 23L)
    assert(refined.select(col("vec_id")).distinct().count() == 23L)
    // purity: each refined cell's members come from ONE coarse cell
    val mixed = refined.join(asg0.withColumnRenamed("cid", "coarse"), "vec_id")
      .groupBy(col("cid"))
      .agg(countDistinct(col("coarse")).as("nc"))
      .filter(col("nc") > 1)
    assert(mixed.isEmpty,
      s"refined cells mix coarse cells: ${mixed.collect().mkString(",")}")
    // the cold cell landed exactly at cid*fanout with all 3 members
    val coldCell = refined.filter(col("vec_id") >= 100L)
      .select(col("cid")).distinct().collect().map(_.getLong(0)).toSeq
    assert(coldCell == Seq(32L),
      s"cold cell must map to 2*16=32, got $coldCell")
    refined.unpersist()
  }

  test("emb_semdedup_rec gate: flat facts + subset/partition verdicts hold") {
    val out = operators.Similarity.semDedupRecChecked(spark, sfDir).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("n_vecs") == 500L)
    assert(r.getAs[Long]("n_dropped") > 0L)
    assert(r.getAs[Long]("rec_subset") == 1L,
      "recursive drops must be a subset of flat drops")
    assert(r.getAs[Long]("rec_partition") == 1L,
      "refined assignment must partition the corpus")
  }

  test("loose_cap_eq is falsifiable: a biting cap flips the verdict") {
    graft.functions.VectorFunctions.register(spark)
    val emb = Tables.t(spark, sfDir, "embeddings")
    val asg = operators.KMeans.assignmentsOf(emb, 4, 2)
      .select(col("vec_id"), col("cid")).cache()
    val full = operators.Similarity.semDedupDropped(emb, asg, 0.4, None)
      .cache()
    assert(full.count() > 0, "mutation spec needs a non-empty drop set")
    // cap=1 admits one id per cell → zero pairs → the symmetric
    // difference the gate's loose_cap_eq verdict counts is NON-empty.
    // This is the mutation case: the verdict CAN fail, so its green
    // state at cap=1000 proves the admission path, not a tautology.
    val capped1 = operators.Similarity.semDedupDropped(emb, asg, 0.4, Some(1))
    val symDiff = capped1.exceptAll(full).unionAll(full.exceptAll(capped1))
    assert(symDiff.count() > 0, "cap=1 must change the drop set")
    // and the loose cap really is the identity, executed
    val loose = operators.Similarity
      .semDedupDropped(emb, asg, 0.4, Some(1000))
    assert(loose.exceptAll(full).unionAll(full.exceptAll(loose)).count() == 0)
    full.unpersist(); asg.unpersist()
  }

  test("semDedupOf default runs the capped path and equals explicit cap") {
    import spark.implicits._
    graft.functions.VectorFunctions.register(spark)
    val emb = (0L until 40L).map { i =>
      (i, Array.tabulate(8)(d => if (d == (i % 4).toInt) 1.0f else 0.01f * i))
    }.toDF("vec_id", "embedding")
    val byDefault = operators.Similarity.semDedupOf(emb, 2, 2, 0.4).collect()
    val explicit = operators.Similarity
      .semDedupOf(emb, 2, 2, 0.4,
        Some(operators.Similarity.DefaultMaxCell)).collect()
    assert(byDefault.sameElements(explicit),
      "default signature must route through the documented cap")
  }

  test("cep: greedy contiguous matching — restart, greed, break, window, skip-past-last-row") {
    import spark.implicits._
    import operators.Cep
    val M = 60000000L
    def ev(u: Long, minute: Long, id: Long, t: String) =
      (u, new java.sql.Timestamp(minute * M / 1000), id, t)
    val pattern = Seq(Cep.Step("click", plus = false),
      Cep.Step("view", plus = true), Cep.Step("purchase", plus = false))
    val rows = Seq(
      // user 1: click click view view purchase — restart on the 2nd
      // click makes IT the match start; greed takes both views
      ev(1, 0, 10, "click"), ev(1, 1, 11, "click"), ev(1, 2, 12, "view"),
      ev(1, 3, 13, "view"), ev(1, 4, 14, "purchase"),
      // user 2: contiguity break (error between views and purchase)
      ev(2, 0, 20, "click"), ev(2, 1, 21, "view"), ev(2, 2, 22, "error"),
      ev(2, 3, 23, "purchase"),
      // user 3: complete but outside the 10-minute window
      ev(3, 0, 30, "click"), ev(3, 1, 31, "view"), ev(3, 20, 32, "purchase"),
      // user 4: two back-to-back matches — SKIP PAST LAST ROW keeps
      // them disjoint
      ev(4, 0, 40, "click"), ev(4, 1, 41, "view"), ev(4, 2, 42, "purchase"),
      ev(4, 3, 43, "click"), ev(4, 4, 44, "view"), ev(4, 5, 45, "purchase"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val got = Cep.cepMatchOf(rows, pattern, windowUs = 10 * M)
      .collect().map(m => m.user_id ->
        (m.start_event_id, m.end_event_id, m.n_rows)).toSeq.sorted
    assert(got == Seq(
      1L -> ((11L, 14L, 4L)),
      4L -> ((40L, 42L, 3L)), 4L -> ((43L, 45L, 3L))),
      s"unexpected match set: $got")
    // the strict (greedy fast-path) class contract is enforced, not
    // silently wrong — adjacent same symbols fail the closure check
    intercept[IllegalArgumentException] {
      Cep.validate(Seq(Cep.Step("a", false), Cep.Step("a", true)))
    }
    // a leading optional stays rejected in every class (candidate
    // starts key on a required first step); a trailing quantifier is
    // LEGAL since the r12 last-step lift (the backtracking walk
    // resolves its run)
    intercept[IllegalArgumentException] {
      Cep.validateCommon(Seq(Cep.Step("a", false, opt = true),
        Cep.Step("b", false)))
    }
    Cep.validateCommon(Seq(Cep.Step("a", false), Cep.Step("b", true)))
  }

  test("changelog aggregate state survives a query restart on the same checkpoint") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.streaming.StreamingOps
    import StreamingOps.ChangeOp
    val pkey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(pkey)
    spark.conf.set(pkey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft-chlog-restart").toString
      val src = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[ChangeOp]
      def start(outDir: String) =
        StreamingOps.changelogAggStream(src.toDS())
          .toDF().writeStream
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
            b.write.mode("append").parquet(outDir); ()
          }
          .outputMode("update")
          .option("checkpointLocation", ckpt).start()
      // run 1: two inserts, then KILL the query
      val out1 = java.nio.file.Files
        .createTempDirectory("graft-chlog-out1").toString
      src.addData(ChangeOp("I", 1L, 5L, 1L, 100L),
        ChangeOp("I", 2L, 5L, 2L, 40L))
      val q1 = start(out1)
      q1.processAllAvailable(); q1.stop()
      // run 2, same checkpoint: DELETE id 1 — the retraction amount
      // (100) was learned BEFORE the restart, so a correct recovery
      // must restore the MapState, not just the accumulator
      val out2 = java.nio.file.Files
        .createTempDirectory("graft-chlog-out2").toString
      src.addData(ChangeOp("D", 3L, 5L, 1L, 0L))
      val q2 = start(out2)
      q2.processAllAvailable(); q2.stop()
      val run2 = spark.read.parquet(out2)
        .as[StreamingOps.GroupSnapshot].collect()
      assert(run2.length == 1 &&
        run2.head.sum_c == 40L && run2.head.cnt == 1L,
        s"restart lost the id map or accumulator: ${run2.toSeq}")
      // ver continued monotonically across the seam (state, not reset)
      assert(run2.head.ver == 2L, s"version reset across restart: ${run2.head}")
    } finally prev match {
      case Some(v) => spark.conf.set(pkey, v)
      case None => spark.conf.unset(pkey)
    }
  }

  test("q15c RANGE frame: planted timestamp tie — peers see each other, order-independent") {
    import spark.implicits._
    val day = java.sql.Timestamp.valueOf("2024-03-10 00:00:00")
    val earlier = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")
    val rows = Seq(
      // custkey 1: two orders TIED on the date plus one earlier in-range
      (101L, 1L, "O", 100.0, earlier, "1-URGENT"),
      (102L, 1L, "O", 10.0, day, "1-URGENT"),
      (103L, 1L, "O", 20.0, day, "1-URGENT"),
      // custkey 2: no ties, a control row
      (201L, 2L, "O", 7.0, day, "1-URGENT"))
    val tmp = java.nio.file.Files.createTempDirectory("graft-q15c-tie")
    rows.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .write.mode("overwrite").parquet(tmp.resolve("orders.parquet").toString)
    def run() = queries.Relational.q15cRangeFrame(spark, tmp.toString)
      .collect().map(r => r.getLong(1) -> r.getDouble(3)).toMap
    val got = run()
    // RANGE peers: both tied rows aggregate the SAME frame — earlier
    // (in the 30d range) + both tied peers = 130
    assert(got(102L) == 130.0 && got(103L) == 130.0,
      s"tied rows must share the full peer frame: $got")
    assert(got(101L) == 100.0 && got(201L) == 7.0)
    // order independence: a reversed input layout changes nothing
    rows.reverse.toDF("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority")
      .repartition(3)
      .write.mode("overwrite").parquet(tmp.resolve("orders.parquet").toString)
    assert(run() == got, "RANGE frame result depended on input order")
  }

  test("cep widened class: non-adjacent repeat with window-killed fallback to the trailing row") {
    import spark.implicits._
    import operators.Cep
    val M = 60000000L
    def ev(u: Long, minute: Long, id: Long, t: String) =
      (u, new java.sql.Timestamp(minute * M / 1000), id, t)
    val pattern = Seq(Cep.Step("view", plus = false),
      Cep.Step("click", plus = false), Cep.Step("view", plus = false))
    val rows = Seq(
      // user 1: v c [19-min gap] v c v — the first triple completes but
      // the 10-min window kills it; the buffer falls back to its
      // TRAILING view (id 12), which then opens the accepted match.
      // The round-10 pairwise-distinct automaton rejected this pattern
      // outright; a buffer-less rebuild would also lose id 12 and match
      // nothing.
      ev(1, 0, 10, "view"), ev(1, 1, 11, "click"), ev(1, 19, 12, "view"),
      ev(1, 20, 13, "click"), ev(1, 21, 14, "view"),
      // user 2: v c v c v — leftmost greedy takes rows 1-3; SKIP PAST
      // LAST ROW leaves [c v], which cannot match
      ev(2, 0, 20, "view"), ev(2, 1, 21, "click"), ev(2, 2, 22, "view"),
      ev(2, 3, 23, "click"), ev(2, 4, 24, "view"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val got = Cep.cepMatchOf(rows, pattern, windowUs = 10 * M)
      .collect().map(m => m.user_id ->
        (m.start_event_id, m.end_event_id, m.n_rows)).toSeq.sorted
    assert(got == Seq(1L -> ((12L, 14L, 3L)), 2L -> ((20L, 22L, 3L))),
      s"unexpected match set: $got")
    // adjacent duplicates remain rejected — the class boundary moved,
    // it did not dissolve
    intercept[IllegalArgumentException] {
      Cep.validate(Seq(Cep.Step("a", false), Cep.Step("a", false)))
    }
  }

  test("bfsOf: min hop distance, depth bound binds, unreachable stays absent") {
    import spark.implicits._
    // chain 1-2-3-4-5-6 with a branch 2-7 and a shortcut 6-8
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (2L, 7L), (6L, 8L), (100L, 101L)).toDF("u", "v")
    val d1 = operators.Graph.bfsOf(edges, Seq(1L).toDF("n"), maxDepth = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d1 == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 7L -> 2L, 4L -> 3L),
      s"single-seed distances wrong: $d1")
    // multi-seed: distance is the MIN over seeds; 4 is reached at 2
    // from BOTH sides, never 3; the disconnected 100-101 component
    // stays absent
    val d2 = operators.Graph.bfsOf(edges, Seq(1L, 6L).toDF("n"), maxDepth = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d2 == Map(1L -> 0L, 6L -> 0L, 2L -> 1L, 5L -> 1L, 8L -> 1L,
      3L -> 2L, 7L -> 2L, 4L -> 2L), s"multi-seed distances wrong: $d2")
    assert(!d1.contains(100L) && !d2.contains(100L))
  }

  test("bm25TopDocsOf matches the definitional score on a planted corpus") {
    import spark.implicits._
    val docs = Seq(
      (1L, "join join stream extra words here"),
      (2L, "join sort"),
      (3L, "alpha beta gamma delta"),
      (4L, "sort sort sort sort")).toDF("doc_id", "text")
    val got = operators.TextAnalysis
      .bm25TopDocsOf(docs, Seq("join", "stream", "sort"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    // independent replay of the documented formula (N=4, avgdl pinned
    // 6dp, per-term contributions rounded 6dp, exact sum)
    val lens = Map(1L -> 6.0, 2L -> 2.0, 3L -> 4.0, 4L -> 4.0)
    val avgdl = BigDecimal(lens.values.sum / 4)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val dfm = Map("join" -> 2.0, "stream" -> 1.0, "sort" -> 2.0)
    def contrib(doc: Long, term: String, tf: Double): BigDecimal = {
      val idf = math.log(1.0 + (4.0 - dfm(term) + 0.5) / (dfm(term) + 0.5))
      val c = idf * tf * 2.2 /
        (tf + 1.2 * (0.25 + 0.75 * lens(doc) / avgdl))
      BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    }
    val exp = Map[Long, (BigDecimal, Long)](
      1L -> ((contrib(1, "join", 2) + contrib(1, "stream", 1), 2L)),
      2L -> ((contrib(2, "join", 1) + contrib(2, "sort", 1), 2L)),
      4L -> ((contrib(4, "sort", 4), 1L)))
    assert(got.map(_._1).toSet == Set(1L, 2L, 4L),
      s"doc 3 has no query terms and must be absent: ${got.toSeq}")
    got.foreach { case (d, score, nTerms) =>
      assert(exp(d)._2 == nTerms && exp(d)._1.toDouble == score,
        s"doc $d: got ($score, $nTerms), expected ${exp(d)}")
    }
    // ranked by score desc
    assert(got.map(_._2).toSeq == got.map(_._2).sortBy(-_).toSeq)
  }
}
