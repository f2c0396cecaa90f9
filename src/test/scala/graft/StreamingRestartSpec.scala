package graft

import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.{ChangeOp, GroupSnapshot, SideOp}
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Restart equivalence for the stateful stream operators the oracle
  * gates run: a query stopped and restarted from its checkpoint at
  * every batch boundary must emit the same rows, as a multiset, as the
  * same query run uninterrupted (Structured Streaming's exactly-once
  * contract: offset log plus state checkpoint).
  */
class StreamingRestartSpec extends SparkSpecBase {

  private val Base = 1700000000000000L // event-time origin, micros
  private val Minute = 60000000L

  /** Feed `batches` through `build` on one fresh checkpoint and return
    * every row the query emitted. With `restart`, the query starts
    * before each batch and stops after it, so every batch boundary is
    * a restart from the checkpoint; one MemoryStream serves all runs.
    */
  private def replay[T: Encoder](batches: Seq[Seq[T]], mode: String,
      restart: Boolean)(build: Dataset[T] => Dataset[_]): Seq[Row] = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-restart-ckpt").toString
    val out = java.nio.file.Files
      .createTempDirectory("graft-restart-out").toString
    val src = MemoryStream[T]
    def start() = build(src.toDS()).toDF().writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.write.mode("append").parquet(out); ()
      }
      .outputMode(mode)
      .option("checkpointLocation", ckpt).start()
    if (restart) batches.foreach { b =>
      src.addData(b)
      val q = start()
      try q.processAllAvailable() finally q.stop()
    } else {
      val q = start()
      try batches.foreach { b => src.addData(b); q.processAllAvailable() }
      finally q.stop()
    }
    spark.read.parquet(out).collect().toSeq
  }

  private def multiset(rows: Seq[Row]): Map[Row, Int] =
    rows.groupBy(identity).view.mapValues(_.size).toMap

  /** Runs both forms under the RocksDB store (transformWithState needs
    * it), asserts they agree, and returns the restarted run's rows.
    */
  private def assertRestartEquivalent[T: Encoder](batches: Seq[Seq[T]],
      mode: String)(build: Dataset[T] => Dataset[_]): Seq[Row] = {
    assert(batches.length >= 3, "restart equivalence needs >= 3 batches")
    val pkey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(pkey)
    spark.conf.set(pkey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val whole = replay(batches, mode, restart = false)(build)
      val restarted = replay(batches, mode, restart = true)(build)
      assert(whole.nonEmpty, "fixture emitted nothing")
      assert(multiset(restarted) == multiset(whole),
        s"restarted run diverged:\n  uninterrupted ${whole.sortBy(_.toString)}" +
          s"\n  restarted     ${restarted.sortBy(_.toString)}")
      restarted
    } finally prev match {
      case Some(v) => spark.conf.set(pkey, v)
      case None => spark.conf.unset(pkey)
    }
  }

  private def thirds[T](xs: Seq[T]): Seq[Seq[T]] =
    xs.grouped((xs.length + 2) / 3).toSeq

  /** (user, ts_us, id, value) rows for 3 users, one a minute, in time
    * order, with a planted spike per user so anomalies and alarms fire
    * after the first seam.
    */
  private val tsVals: Seq[(Long, Long, Long, Double)] =
    (0 until 45).map { i =>
      val spike = if (i % 15 == 11) 400.0 else 0.0
      (i % 3L, Base + i * Minute, i.toLong,
        50.0 + (i * 37 % 23) - 11 + spike)
    }

  /** (key, ts_us, id, value_c) rows for 3 keys over 45 minutes, with two
    * same-instant ties, then a flush row 10 minutes past the end that
    * moves the watermark past every real row.
    */
  private val overRows: Seq[(Long, Long, Long, Long)] = {
    val rows = (0 until 45).map(i =>
      (i % 3L, Base + i * Minute, i.toLong, (i * 13 % 50).toLong)) ++
      Seq((1L, Base + 10 * Minute, 100L, 7L),
        (2L, Base + 29 * Minute, 101L, 9L))
    rows.sortBy(r => (r._2, r._3)) :+ ((0L, Base + 55 * Minute, -1L, 0L))
  }

  /** A seq-ordered changelog over groups 0-2 (ids 0-4), with the
    * retract-across-the-seam case planted in group 5: id 1 (100) and
    * id 2 (40) insert in the first batch, id 1 deletes in the second.
    * The delete's retraction amount was learned before the restart, so
    * only a recovered id map gives sum 40.
    */
  private val changelogBatches: Seq[Seq[ChangeOp]] = {
    val ops = (1 to 36).map { seq =>
      val op = if (seq % 6 == 0) "D" else if (seq % 4 == 0) "U" else "I"
      ChangeOp(op, seq.toLong, seq % 3L, seq * 7 % 5L, seq * 13 % 50L)
    }
    val Seq(b1, b2, b3) = thirds(ops)
    Seq(b1 ++ Seq(ChangeOp("I", 101L, 5L, 1L, 100L),
        ChangeOp("I", 102L, 5L, 2L, 40L)),
      b2 :+ ChangeOp("D", 103L, 5L, 1L, 0L),
      b3)
  }

  /** [[changelogBatches]] normalized to its retract stream, batch by
    * batch: the rule of changelogNormalizeStream, with the last value
    * per (group, id) carried across batches.
    */
  private val retractBatches: Seq[Seq[StreamingOps.ChangeRow]] = {
    val last = scala.collection.mutable.Map.empty[(Long, Long), Long]
    changelogBatches.map(_.sortBy(_.seq).flatMap { op =>
      val key = (op.group, op.id)
      (op.op, last.get(key)) match {
        case ("D", Some(old)) => last -= key
          Seq(StreamingOps.ChangeRow("-D", op.seq, 0, op.group, op.id, old))
        case ("D", None) => Nil
        case (_, Some(old)) => last(key) = op.value_c
          Seq(StreamingOps.ChangeRow("-U", op.seq, 0, op.group, op.id, old),
            StreamingOps.ChangeRow("+U", op.seq, 1, op.group, op.id, op.value_c))
        case (_, None) => last(key) = op.value_c
          Seq(StreamingOps.ChangeRow("+I", op.seq, 1, op.group, op.id, op.value_c))
      }
    })
  }

  /** A seq-ordered two-sided changelog: sides alternate, groups 0-2,
    * ids 0-3, with deletes that empty a side (the padding swaps).
    */
  private val sideOps: Seq[SideOp] = (1 to 48).map { seq =>
    val op = if (seq % 5 == 0) "D" else if (seq % 3 == 0) "U" else "I"
    SideOp(if (seq % 2 == 0) "L" else "R", op, seq.toLong,
      seq / 2 % 3L, seq * 7 % 4L, seq * 11 % 30L)
  }

  /** (user, ts_us, id, event_type, value_c) rows for 3 users, one a
    * minute: each user's own rows cycle click, view, view, purchase, so
    * every user completes three funnels (the second across the first
    * seam) and leaves a fourth open, then a flush row moves the
    * watermark past every window.
    */
  private val funnelRows: Seq[(Long, Long, Long, String, Long)] =
    (0 until 45).map { i =>
      (i % 3L, Base + i * Minute, i.toLong,
        Seq("click", "view", "view", "purchase")(i / 3 % 4), i * 13 % 50L)
    } :+ ((0L, Base + 55 * Minute, -1L, "flush", 0L))

  /** (event_id, ts, user_id, event_type, value) rows for 3 users, one a
    * minute; every fifth row repeats the previous row's event_id a minute
    * later, so two repeats straddle the batch seams (rows 15 and 30).
    */
  private val events: Seq[(Long, java.sql.Timestamp, Long, String, Double)] =
    (0 until 45).map { i =>
      (if (i % 5 == 0 && i > 0) i - 1L else i.toLong,
        new java.sql.Timestamp((Base + i * Minute) / 1000), i % 3L,
        Seq("click", "view", "purchase")(i % 3), i * 13 % 50.0)
    }

  private def eventsDf(ds: Dataset[(Long, java.sql.Timestamp, Long, String, Double)]) =
    ds.toDF("event_id", "ts", "user_id", "event_type", "value")

  test("ewmaStream: restart at every batch boundary equals the uninterrupted run") {
    import spark.implicits._
    val rows = assertRestartEquivalent(thirds(tsVals), "update")(ds =>
      StreamingOps.ewmaStream(ds, alpha = 0.2, z = 3.0))
    assert(rows.length == tsVals.length)
  }

  test("cusumStream: restart at every batch boundary equals the uninterrupted run") {
    import spark.implicits._
    val rows = assertRestartEquivalent(thirds(tsVals), "update")(ds =>
      StreamingOps.cusumStream(ds, mu = 50.0, kappa = 10.0, h = 200.0))
    assert(rows.length == tsVals.length)
  }

  test("rowsOverStream: restart at every batch boundary equals the uninterrupted run") {
    import spark.implicits._
    val rows = assertRestartEquivalent(thirds(overRows), "append")(ds =>
      StreamingOps.rowsOverStream(ds, n = 3))
    // every real row drains; the flush row stays above the watermark
    assert(rows.length == overRows.length - 1)
  }

  test("overWindowStream: restart at every batch boundary equals the uninterrupted run") {
    import spark.implicits._
    val doubles = overRows.map { case (k, ts, id, v) => (k, ts, id, v.toDouble) }
    val rows = assertRestartEquivalent(thirds(doubles), "append")(ds =>
      StreamingOps.overWindowStream(ds, windowUs = 10 * Minute))
    assert(rows.length == overRows.length - 1)
  }

  test("changelogAggStream: restart at every batch boundary equals the uninterrupted run") {
    import spark.implicits._
    val rows = assertRestartEquivalent(changelogBatches, "update")(ds =>
      StreamingOps.changelogAggStream(ds))
    val g5 = rows.map(r => GroupSnapshot(r.getAs[Long]("group"),
        r.getAs[Long]("ver"), r.getAs[Long]("sum_c"), r.getAs[Long]("cnt")))
      .filter(_.group == 5L).sortBy(_.ver)
    // the delete after the seam retracted the amount learned before it,
    // and the version continued across the restart instead of resetting
    assert(g5.last == GroupSnapshot(5L, 2L, 40L, 1L),
      s"restart lost the id map or accumulator: $g5")
  }

  test("retractTopNStream: restart at every batch boundary equals the uninterrupted run") {
    import spark.implicits._
    assertRestartEquivalent(changelogBatches, "update")(ds =>
      StreamingOps.retractTopNStream(ds, n = 3))
  }

  test("cepStreamMeasures: restart at every batch boundary equals the uninterrupted run") {
    import spark.implicits._
    import graft.operators.Cep
    val rows = assertRestartEquivalent(thirds(funnelRows), "append")(ds =>
      StreamingOps.cepStreamMeasures(ds, Seq(Cep.Step("click"),
        Cep.Step("view", plus = true), Cep.Step("purchase")),
        windowUs = 10 * Minute))
    // 3 users x 3 complete funnels x 3 steps
    assert(rows.length == 27)
  }

  test("cepStreamTimedOut: restart at every batch boundary equals the uninterrupted run") {
    import spark.implicits._
    import graft.operators.Cep
    val rows = assertRestartEquivalent(thirds(funnelRows), "append")(ds =>
      StreamingOps.cepStreamTimedOut(ds, Seq(Cep.Step("click"),
        Cep.Step("view", plus = true), Cep.Step("purchase")),
        windowUs = 10 * Minute))
    // 3 complete funnels per user, and each user's open fourth funnel
    // times out at its horizon timer
    val timedOut = rows.map(_.getAs[Boolean]("timed_out"))
    assert(timedOut.count(!_) == 9 && timedOut.count(identity) == 3)
  }

  test("cepStreamMulti: restart at every batch boundary equals the uninterrupted run") {
    import spark.implicits._
    import graft.operators.Cep
    // spec 0: contiguous view+ view (a repeated symbol); spec 1: relaxed
    // click with a trailing negated purchase, which emits at its window
    // horizon's event-time timer
    val specs = Seq(
      StreamingOps.CepSpec(IndexedSeq(Cep.Step("view", plus = true),
        Cep.Step("view")), 10 * Minute),
      StreamingOps.CepSpec(IndexedSeq(Cep.Step("click"),
        Cep.Step("purchase", neg = true)), 10 * Minute, contiguous = false))
    val rows = assertRestartEquivalent(thirds(funnelRows), "append")(ds =>
      StreamingOps.cepStreamMulti(ds, specs))
    val tags = rows.map(_.getInt(0))
    // every view pair matches except each user's last, whose greedy run
    // stays pending (no later row drains: the flush row only moves the
    // watermark); only the fourth click per user goes without a
    // purchase inside its window
    assert(tags.count(_ == 0) == 9 && tags.count(_ == 1) == 3)
  }

  test("changelogJoinStream: restart at every batch boundary equals the uninterrupted run") {
    import spark.implicits._
    val rows = assertRestartEquivalent(thirds(sideOps), "append")(ds =>
      StreamingOps.changelogJoinStream(ds))
    assert(rows.exists(_.getAs[String]("op") == "D"),
      "fixture never retracted a joined row")
  }

  test("changelogLeftJoinStream: restart at every batch boundary equals the uninterrupted run") {
    import spark.implicits._
    val rows = assertRestartEquivalent(thirds(sideOps), "append")(ds =>
      StreamingOps.changelogLeftJoinStream(ds))
    assert(rows.exists(_.isNullAt(rows.head.fieldIndex("r_id"))),
      "fixture never padded a left row")
  }

  test("changelogFullJoinStream: restart at every batch boundary equals the uninterrupted run") {
    import spark.implicits._
    val rows = assertRestartEquivalent(thirds(sideOps), "append")(ds =>
      StreamingOps.changelogFullJoinStream(ds))
    assert(rows.exists(_.isNullAt(rows.head.fieldIndex("l_id"))),
      "fixture never padded a right row")
  }

  test("dedupStream: restart at every batch boundary equals the uninterrupted run") {
    import spark.implicits._
    val rows = assertRestartEquivalent(thirds(events), "append")(ds =>
      StreamingOps.dedupStream(eventsDf(ds), horizon = "2 minutes"))
    // the 8 repeats drop, the two across a seam through restored state
    assert(rows.length == 37)
    assert(rows.map(_.getAs[Long]("event_id")).distinct.length == 37)
  }

  test("windowDedupStream: restart at every batch boundary equals the uninterrupted run") {
    import spark.implicits._
    val rows = assertRestartEquivalent(thirds(events), "append")(ds =>
      StreamingOps.windowDedupStream(eventsDf(ds), "10 minutes"))
    // the first row per (user, 10-minute window): 3 users x 5 windows,
    // two of them straddling a seam
    val batch = events.groupBy { case (_, ts, user, _, _) => (user, ts.getTime / 600000) }
      .values.map(_.minBy(_._2.getTime)).map(e => (e._3, e._1)).toSet
    assert(rows.length == 15)
    assert(rows.map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("first_event_id"))).toSet == batch)
  }

  test("topNStream: restart at every batch boundary equals the uninterrupted run") {
    import spark.implicits._
    val input = events.map { case (id, _, user, _, v) => (user, id, v) }
    val rows = assertRestartEquivalent(thirds(input), "update")(ds =>
      StreamingOps.topNStream(ds, n = 3))
    // the latest snapshot per group equals the batch top 3 over all rows
    val latest = rows.map(r => StreamingOps.RankedEntry(r.getAs[Long]("group"),
        r.getAs[Long]("ver"), r.getAs[Long]("rk"), r.getAs[Long]("id"), r.getAs[Double]("value")))
      .groupBy(_.group).view.mapValues { es =>
        val v = es.map(_.ver).max
        es.filter(_.ver == v).sortBy(_.rk).map(e => (e.id, e.value))
      }.toMap
    val batch = input.groupBy(_._1).view.mapValues(
      _.sortBy { case (_, id, v) => (-v, id) }.take(3).map { case (_, id, v) => (id, v) }).toMap
    assert(latest == batch)
  }

  test("windowTopNStream: restart at every batch boundary equals the uninterrupted run") {
    import spark.implicits._
    val windowUs = 10 * Minute
    val rows = assertRestartEquivalent(thirds(events), "append")(ds =>
      StreamingOps.windowTopNStream(eventsDf(ds), n = 2, windowUs = windowUs))
    // every window the watermark (last ts - 5 s) has closed emits the
    // batch top 2 event types by count, ties on the type name
    val watermark = events.map(_._2.getTime).max * 1000 - 5000000L
    val batch = events.map { case (_, ts, _, tpe, _) => (ts.getTime * 1000, tpe) }
      .groupBy { case (us, _) => us - Math.floorMod(us, windowUs) }
      .filter { case (w, _) => w + windowUs <= watermark }
      .toSeq.flatMap { case (w, es) =>
        es.groupBy(_._2).view.mapValues(_.size.toLong).toSeq
          .sortBy { case (tpe, c) => (-c, tpe) }.take(2).zipWithIndex
          .map { case ((tpe, c), i) => (w, i + 1L, tpe, c) }
      }.toSet
    assert(batch.nonEmpty)
    assert(rows.map(r => (r.getAs[Long]("w_start_us"), r.getAs[Long]("rk"),
      r.getAs[String]("event_type"), r.getAs[Long]("cnt"))).toSet == batch)
  }

  test("heavyHitterStream: restart at every batch boundary equals the uninterrupted run") {
    import spark.implicits._
    // one hot token (every other row) among 12 cold ones
    val tokens = (0 until 60).map(i => if (i % 2 == 0) "hot" else s"t${i * 7 % 12}")
    val rows = assertRestartEquivalent(thirds(tokens), "update")(ds =>
      StreamingOps.heavyHitterStream(ds, k = 3, shards = 2))
    // the hot token's frequency exceeds n/(k+1), so the last batch still
    // carries it among its shard's candidates
    val hotShard = Math.floorMod("hot".hashCode, 2)
    assert(rows.exists(r => r.getAs[Int]("shard") == hotShard &&
      r.getAs[String]("token") == "hot"))
  }

  test("retractAggStream: restart at every batch boundary equals the uninterrupted run") {
    import spark.implicits._
    val rows = assertRestartEquivalent(retractBatches, "update")(ds =>
      StreamingOps.retractAggStream(ds))
    val g5 = rows.map(r => GroupSnapshot(r.getAs[Long]("group"),
        r.getAs[Long]("ver"), r.getAs[Long]("sum_c"), r.getAs[Long]("cnt")))
      .filter(_.group == 5L).sortBy(_.ver)
    // the delete after the seam retracted from the accumulator restored
    // from before it, and the version continued
    assert(g5.last == GroupSnapshot(5L, 2L, 40L, 1L), s"restart lost the accumulator: $g5")
  }

  test("attributionStream: restart at every batch boundary equals the uninterrupted run") {
    import spark.implicits._
    // 3 users, one row a minute; per user block b = i / 3 a click at
    // b % 5 == 3 and a purchase at b % 5 == 0, so each credited purchase
    // (b = 5 and 10, in the second and third batch) credits the click
    // of the batch before it, which only restored state remembers
    val rows = (0 until 45).map { i =>
      val b = i / 3
      (i % 3L, Base + i * Minute, i.toLong,
        if (b % 5 == 3) "click" else if (b % 5 == 0) "purchase" else "cart")
    }
    val out = assertRestartEquivalent(thirds(rows), "update")(ds =>
      StreamingOps.attributionStream(ds))
    val credits = out.map(r => (r.getAs[Long]("purchase_id"),
      r.getAs[Long]("last_touch_id"), r.getAs[String]("last_touch_type")))
    // the first purchase per user has no touch before it
    assert(credits.toSet == (0 until 3).flatMap(u =>
      Seq((15L + u, 9L + u, "click"), (30L + u, 24L + u, "click"))).toSet)
  }

  test("changelogNormalizeStream: restart at every batch boundary equals the uninterrupted run") {
    import spark.implicits._
    val rows = assertRestartEquivalent(changelogBatches, "update")(ds =>
      StreamingOps.changelogNormalizeStream(ds))
    // the batch normalization of the same changelog, including group 5's
    // delete after the seam, which retracts the value learned before it
    val got = rows.map(r => StreamingOps.ChangeRow(r.getAs[String]("kind"),
      r.getAs[Long]("seq"), r.getAs[Int]("sub"), r.getAs[Long]("group"),
      r.getAs[Long]("id"), r.getAs[Long]("value_c")))
    assert(got.sortBy(r => (r.seq, r.sub, r.group, r.id)) ==
      retractBatches.flatten.sortBy(r => (r.seq, r.sub, r.group, r.id)))
    assert(got.contains(StreamingOps.ChangeRow("-D", 103L, 0, 5L, 1L, 100L)))
  }

  test("windowedPsiStream: restart at every batch boundary equals the uninterrupted run") {
    import spark.implicits._
    val width = 10
    val baseline = (0 until 5).map(i =>
      events.count(e => math.floor(e._5 / width).toInt == i).toLong)
    val windowUs = 10 * Minute
    val rows = assertRestartEquivalent(thirds(events), "append")(ds =>
      StreamingOps.windowedPsiStream(eventsDf(ds), baseline, width, "10 minutes"))
    // every window the watermark (last ts - 5 s) has closed emits once,
    // with its own row count in the histogram
    val watermark = events.map(_._2.getTime).max * 1000 - 5000000L
    val batch = events.map(e => e._2.getTime * 1000)
      .groupBy(us => us - Math.floorMod(us, windowUs))
      .filter { case (w, _) => w + windowUs <= watermark }
      .map { case (w, us) => (w, us.length.toLong) }.toSet
    assert(batch.nonEmpty)
    assert(rows.map(r => (r.getAs[Long]("w_start"),
      r.getAs[Long]("n_in_domain"))).toSet == batch)
    assert(rows.length == batch.size)
  }

  /** (id, ts, text) docs, one a minute; the first doc of the second and
    * third batch repeats the text of the doc before it one second later,
    * so both repeats fall inside the 5-second dedup horizon across a seam.
    */
  private val docs: Seq[(Long, java.sql.Timestamp, String)] =
    (0 until 45).map { i =>
      val repeat = i == 15 || i == 30
      val n = if (repeat) i - 1 else i
      val ms = (Base + n * Minute) / 1000 + (if (repeat) 1000 else 0)
      (i.toLong, new java.sql.Timestamp(ms),
        s"order $n of user ${n % 7} shipped to depot ${n * 31 % 97}")
    }

  test("nearDupDedupStream: restart at every batch boundary equals the uninterrupted run") {
    import spark.implicits._
    val rows = assertRestartEquivalent(thirds(docs), "append")(ds =>
      StreamingOps.nearDupDedupStream(ds.toDF("id", "ts", "text")))
    // both repeats drop through the signature state restored at the seam
    assert(rows.map(_.getAs[Long]("id")).sorted ==
      docs.map(_._1).filterNot(Set(15L, 30L)))
  }

  test("noveltyFilterStream: restart at every batch boundary equals the uninterrupted run") {
    import spark.implicits._
    val snapshot = docs.filter(_._1 % 4 == 0).map(_._3).toDF("text")
    val rows = assertRestartEquivalent(thirds(docs), "append")(ds =>
      StreamingOps.noveltyFilterStream(ds.toDF("id", "ts", "text"), snapshot))
    // the batch twin: every doc whose text the snapshot lacks
    val inSnap = docs.filter(_._1 % 4 == 0).map(_._3).toSet
    assert(rows.map(_.getAs[Long]("id")).sorted ==
      docs.filterNot(d => inSnap(d._3)).map(_._1))
  }

  /** Temporal-join ops for 3 keys, one a minute: per key block b = i / 3
    * a version opens at b % 4 == 0 and a D closes the key at b % 8 == 6;
    * the other rows are facts. Facts right after a seam join the version
    * learned before it; a flush row drains every fact.
    */
  private val temporalOps: Seq[StreamingOps.TemporalOp] =
    (0 until 45).map { i =>
      val b = i / 3
      val ts = Base + i * Minute
      if (b % 4 == 0) StreamingOps.TemporalOp("R", "I", i, ts, i % 3L, 0L, i * 10L)
      else if (b % 8 == 6) StreamingOps.TemporalOp("R", "D", i, ts, i % 3L, 0L, 0L)
      else StreamingOps.TemporalOp("L", "I", 0L, ts, i % 3L, i, i.toLong)
    } :+ StreamingOps.TemporalOp("F", "I", Long.MaxValue, Base + 60 * Minute, 0L, -1L, 0L)

  /** The batch twin: each fact joined with the latest version of its key
    * at or before its time; None when there is none or a D closed it.
    */
  private val temporalAsOf: Seq[StreamingOps.TemporalJoined] =
    temporalOps.filter(_.side == "L").map { f =>
      val v = temporalOps.filter(o => o.side == "R" && o.key == f.key && o.ts_us <= f.ts_us)
        .sortBy(_.ts_us).lastOption
      StreamingOps.TemporalJoined(f.key, f.id, f.ts_us, f.value_c,
        v.filter(_.op != "D").map(_.value_c))
    }

  private def joinedOf(rows: Seq[Row]): Seq[StreamingOps.TemporalJoined] =
    rows.map(r => StreamingOps.TemporalJoined(r.getAs[Long]("key"),
      r.getAs[Long]("id"), r.getAs[Long]("ts_us"), r.getAs[Long]("l_val"),
      Option(r.getAs[java.lang.Long]("r_val")).map(_.longValue)))
      .sortBy(_.id)

  test("temporalJoinStream: restart at every batch boundary equals the uninterrupted run") {
    import spark.implicits._
    val rows = assertRestartEquivalent(thirds(temporalOps), "append")(ds =>
      StreamingOps.temporalJoinStream(ds))
    assert(joinedOf(rows) == temporalAsOf.filter(_.r_val.isDefined))
  }

  test("temporalJoinStream (left outer): restart at every batch boundary equals the uninterrupted run") {
    import spark.implicits._
    val rows = assertRestartEquivalent(thirds(temporalOps), "append")(ds =>
      StreamingOps.temporalJoinStream(ds, leftOuter = true))
    assert(joinedOf(rows) == temporalAsOf)
    assert(temporalAsOf.exists(_.r_val.isEmpty), "no fact fell in a closed gap")
  }
}
