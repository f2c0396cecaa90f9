package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.DecimalType

/** Structured Streaming forms of the window/state operators (SURVEY.md
  * §2.3 Q30–Q32). Each takes an unbounded event DataFrame (schema:
  * event_id long, ts timestamp, user_id long, event_type string, value
  * double) and returns the transformed streaming DataFrame; callers pick
  * source (Kafka/memory) and sink. The batch twins in
  * graft.queries.Windows share the same window expressions — that pairing
  * is what makes the streaming semantics oracle-checkable.
  *
  * Scale posture: all state is keyed and watermark-bounded, so state
  * store size is O(active windows × keys), never O(stream); no global
  * aggregation without a key.
  */
object StreamingOps {

  /** Q30 — 1-minute tumbling counts per event_type, watermark 5 s
    * (mirrors the reference's bounded out-of-orderness,
    * TransactionProcessor.java:106); late rows beyond the watermark drop.
    */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "5 seconds")
      .groupBy(window(col("ts"), "1 minute").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast(DecimalType(12, 2))).cast("double").as("sum_value"))
      .select(col("w.start").as("w_start"), col("event_type"), col("cnt"),
        col("sum_value"))

  /** Q31a — sliding 1-minute/30-second counts. */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "5 seconds")
      .groupBy(window(col("ts"), "1 minute", "30 seconds").as("w"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").as("w_start"), col("cnt"))

  /** Q30b — CUMULATE windows (Flink windowing-TVF family), streaming
    * form: 4-minute max window emitting expanding 1-minute slices. Each
    * event explodes to its remaining slice ends (bounded, ≤ 4 rows) and
    * the watermark rides the slice-end column — but a slice end leads
    * its event's time by up to the FULL window size, so the delay must
    * compensate: maxSize + 5 s. The derived watermark is then
    * max(window_end seen) − maxSize − 5s ≤ max event time − 5s — a true
    * event-time lower bound, so an in-order event can never lose its
    * open slices to a watermark that sprinted ahead (a bare 5 s delay
    * here would run up to 3 minutes AHEAD of event time and silently
    * drop in-order slice rows whenever one window spans micro-batches).
    * A genuinely late event still drops exactly its already-closed
    * slices and lands in the open ones — the per-slice-lateness
    * semantic; firing is watermark-conservative relative to Flink's
    * (admitted lateness per slice is 5 s plus the event's remaining
    * window lead). State stays bounded by the watermark horizon. Batch
    * twin: queries.Windows.q30bCumulate (same explode + aggregate
    * expressions; equivalence replay-tested).
    */
  def cumulateCounts(events: DataFrame): DataFrame = {
    val stepUs = 60L * 1000000L
    val slices = 4L
    events
      .select(col("value"), unix_micros(col("ts")).as("tu"))
      .withColumn("w_start", col("tu") - pmod(col("tu"), lit(stepUs * slices)))
      .withColumn("k",
        explode(sequence(
          ((col("tu") - col("w_start")) / lit(stepUs)).cast("long") + 1,
          lit(slices))))
      .withColumn("slice_end", timestamp_micros(col("w_start") + col("k") * lit(stepUs)))
      .withWatermark("slice_end", "245 seconds") // maxSize (240s) + 5s
      .groupBy(col("w_start"), col("slice_end"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast(DecimalType(12, 2))).cast("double").as("sum_value"))
      .select(timestamp_micros(col("w_start")).as("w_start"),
        col("slice_end").as("w_end"), col("cnt"), col("sum_value"))
  }

  /** Q31b — session windows per user, 30 s gap. */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "5 seconds")
      .groupBy(session_window(col("ts"), "30 seconds").as("w"), col("user_id"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("user_id"), col("w.start").as("w_start"),
        col("w.end").as("w_end"), col("cnt"))

  /** Q31c — DYNAMIC-gap session windows (Flink's dynamic session gap):
    * purchases hold their session open 60 s, everything else 30 s; the
    * gap rides each event, so state TTL follows the event mix. Batch
    * twin: queries.Windows.q31cDynamicSession (same gap expression).
    */
  def dynamicSessionCounts(events: DataFrame): DataFrame = {
    val gap = when(col("event_type") === "purchase", "60 seconds")
      .otherwise("30 seconds")
    events
      .withWatermark("ts", "5 seconds")
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("user_id"), col("w.start").as("w_start"),
        col("w.end").as("w_end"), col("cnt"))
  }

  /** Q32 — stateful streaming dedup with watermark-scoped state TTL:
    * state for keys older than the watermark is evicted, so memory is
    * bounded by the out-of-orderness window (`horizon`), not the
    * stream. A key recurring AFTER its state was evicted re-emits —
    * that is the TTL contract, not a bug; size the horizon to the
    * duplicate-arrival bound the source guarantees.
    */
  def dedupStream(events: DataFrame, horizon: String = "5 seconds",
      keys: Seq[String] = Seq("event_id")): DataFrame =
    events
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Streaming INCREMENTAL near-dup dedup: each arriving doc gets its
    * 60-bit simhash from the map-side single-expression form (a stateless
    * projection — no stateful aggregation spent on signatures), then
    * signature-keyed dedup drops any doc whose signature was already seen
    * inside the watermark. State is one row per distinct signature and is
    * evicted at the watermark, so memory is bounded by the dedup horizon,
    * not the stream length — the streaming twin of the batch
    * `dedup_simhash` operator at Hamming radius 0.
    */
  def nearDupDedupStream(docs: DataFrame): DataFrame =
    docs
      .withColumn("sig", graft.operators.Dedup.simhashMapSide(col("text")))
      .withWatermark("ts", "5 seconds")
      .dropDuplicatesWithinWatermark("sig")

  /** Streaming ingest novelty filter against an accumulated batch
    * corpus — the streaming twin of the batch `dedup_bloom_snapshot`
    * operator. The snapshot collapses ONCE at query build into a
    * fixed-size bloom sketch whose bytes enter the streaming plan as a
    * binary literal (a streaming query can't host the batch form's
    * scalar subquery; a bounded 1 MiB constant is the equivalent), so
    * every micro-batch probes map-side with no per-batch join and no
    * state. Sketch misses pass through as definitively new (no false
    * negatives); hits — true dups + the fpp tail — are exact-confirmed by
    * a stream-static join against the snapshot digests that only ever
    * sees the candidate sliver. Stream-static left_anti isn't in the
    * supported-join matrix, so the confirm is the equivalent left-outer +
    * null-filter, which is.
    */
  def noveltyFilterStream(docs: DataFrame, snapshot: DataFrame): DataFrame = {
    import graft.functions.BloomBridge
    val sketchBytes = snapshot
      .select(xxhash64(col("text")).as("h")).distinct()
      .agg(BloomBridge.bloomAgg(col("h"), 1L << 20, 1L << 23).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val probed = docs.withColumn(
      "hit", BloomBridge.mightContain(sketchBytes, xxhash64(col("text"))))
    val fresh = probed.filter(!col("hit")).drop("hit")
    val snapDigests = snapshot
      .select(md5(col("text")).as("d"), lit(1).as("in_snap")).distinct()
    val confirmed = probed.filter(col("hit")).drop("hit")
      .withColumn("d", md5(col("text")))
      .join(snapDigests, Seq("d"), "left_outer")
      .filter(col("in_snap").isNull)
      .drop("d", "in_snap")
    fresh.unionByName(confirmed)
  }

  /** Stream-stream interval join (Flink Table API's interval-join class):
    * clicks matched to purchases by the same user within 30 s after the
    * click. Both sides carry watermarks so the join state is bounded —
    * each side's rows are dropped once the other side's watermark passes
    * the interval.
    */
  def intervalJoin(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val l = clicks.withWatermark("ts", "5 seconds")
      .select(col("event_id").as("click_id"), col("user_id").as("l_user"),
        col("ts").as("click_ts"))
    val r = purchases.withWatermark("ts", "5 seconds")
      .select(col("event_id").as("purchase_id"), col("user_id").as("r_user"),
        col("ts").as("purchase_ts"))
    l.join(r,
      col("l_user") === col("r_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 seconds"))
      .select(col("click_id"), col("purchase_id"), col("l_user").as("user_id"),
        col("click_ts"), col("purchase_ts"))
  }

  /** Flink WINDOW JOIN parity: both streams bucket into the same
    * tumbling window and join on (window, key) — unlike the interval
    * join's per-event ±delta band, two events match iff they fall in
    * the SAME fixed window, even 1 µs apart across a boundary misses
    * (that boundary semantics is the point of the operator; it is what
    * makes window joins state-bounded by windows, not event spans).
    * State: one window per side per key retained until both watermarks
    * pass the window end — the equi-join on the window struct lets the
    * engine evict whole windows.
    */
  def windowJoin(clicks: DataFrame, purchases: DataFrame,
      windowLen: String = "1 minute"): DataFrame = {
    val l = clicks.withWatermark("ts", "5 seconds")
      .select(col("event_id").as("click_id"), col("user_id").as("l_user"),
        window(col("ts"), windowLen).as("w"))
    val r = purchases.withWatermark("ts", "5 seconds")
      .select(col("event_id").as("purchase_id"), col("user_id").as("r_user"),
        window(col("ts"), windowLen).as("w"))
    l.join(r, col("l_user") === col("r_user") && l("w") === r("w"))
      .select(l("w.start").as("w_start"), col("l_user").as("user_id"),
        col("click_id"), col("purchase_id"))
  }

  /** Flink Window Deduplication TVF, streaming form: first arriving row
    * per (key, tumbling window) via `dropDuplicates` with the
    * EVENT-TIME window struct among the dedup keys — state is one
    * marker per (key, window), evicted when the watermark passes the
    * window end (the event-time-key form of streaming dedup;
    * `dropDuplicatesWithinWatermark` is the WRONG tool here — it
    * expires markers a mere watermark-delay after the first event, so a
    * same-window row later than the delay would re-emit, which the spec
    * would catch). On in-order input this equals the batch
    * `Windows.q30eWindowDedup` winner (min event time); under disorder
    * it keeps the first ARRIVAL — the TVF's processing-order semantics,
    * spec-pinned rather than hidden.
    */
  def windowDedupStream(events: DataFrame,
      windowLen: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", "5 seconds")
      // the window struct REPLACES ts in the projection — carrying both
      // leaves two event-time columns, which streaming dedup rejects
      .select(col("event_id"), col("user_id"), col("event_type"),
        window(col("ts"), windowLen).as("w"))
      .dropDuplicates("user_id", "w")
      .select(unix_micros(col("w.start")).as("w_start"), col("user_id"),
        col("event_id").as("first_event_id"),
        col("event_type").as("first_event_type"))

  final case class WindowTopN(w_start_us: Long, rk: Long, event_type: String,
    cnt: Long)

  /** Flink's Window Top-N TVF, streaming form — the streaming twin of
    * the batch `Windows.q30dTrending`: per tumbling window, the top-n
    * event types by count (ties on type name), emitted EXACTLY ONCE at
    * window close. Spark has no ranking operator in a streaming plan
    * (window functions are unsupported over unbounded input), so the
    * operator owns its lifecycle on transformWithState EVENT-TIME
    * TIMERS: per (window, type) counts accumulate in MapState — state
    * is O(|event types|) per open window, the same collapse that makes
    * the batch twin's rank input tiny — and the window's close timer
    * fires once the watermark passes its end, emitting the ranked
    * top-n and clearing the window's state. A row arriving after its
    * window has closed (watermark ≥ window end) is DROPPED by the
    * input guard — it can neither resurrect cleared state nor re-emit
    * (Flink's Window Top-N drops the same rows to its watermark).
    * Grouping key is the window start, so ranking never crosses
    * windows and scale-out is by window; for high-cardinality ranked
    * keys, swap the MapState for the bounded k-heap the batch
    * `topk_by_value` aggregate uses.
    */
  class WindowTopNProcessor(n: Int, windowUs: Long,
      lateCounter: Option[org.apache.spark.util.LongAccumulator] = None)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, String), WindowTopN] {
    @transient private var counts:
      org.apache.spark.sql.streaming.MapState[String, Long] = _

    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      counts = getHandle.getMapState[String, Long](
        "counts",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[(Long, String)],
        timerValues: org.apache.spark.sql.streaming.TimerValues):
        Iterator[WindowTopN] = {
      // ceil to the next ms (same as OverWindowProcessor): truncating
      // division would close a non-ms-aligned window up to 1 ms early
      val endMs = (key + windowUs + 999L) / 1000L
      // window already closed and emitted: late rows drop here —
      // COUNTED when the caller asked for observability (same
      // accumulator contract as CepMultiStreamProcessor's lateCounter:
      // exact on a clean run, may over-count under task retries)
      if (timerValues.getCurrentWatermarkInMs() >= endMs) {
        lateCounter.foreach(c => rows.foreach(_ => c.add(1L)))
        return Iterator.empty
      }
      rows.foreach { case (_, tpe) =>
        val cur = if (counts.containsKey(tpe)) counts.getValue(tpe) else 0L
        counts.updateValue(tpe, cur + 1L)
      }
      // timers are keyed (key, expiry) pairs — re-registering the same
      // close instant each batch is a no-op, not a duplicate firing
      getHandle.registerTimer(endMs)
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo):
        Iterator[WindowTopN] = {
      val snap = counts.iterator().toSeq
      counts.clear()
      snap.sortBy { case (tpe, c) => (-c, tpe) }.take(n).zipWithIndex.map {
        case ((tpe, c), i) => WindowTopN(key, i + 1L, tpe, c)
      }.iterator
    }
  }

  /** Events → per-window top-n event types, emitted at window close
    * (10-minute tumble / top-2 mirrors the batch q30d gate).
    */
  def windowTopNStream(events: DataFrame, n: Int = 2,
      windowUs: Long = 600000000L,
      lateCounter: Option[org.apache.spark.util.LongAccumulator] = None)
      : Dataset[WindowTopN] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", "5 seconds")
      .select(
        (unix_micros(col("ts")) - pmod(unix_micros(col("ts")), lit(windowUs)))
          .as("w_start_us"),
        col("event_type"))
      .as[(Long, String)]
      .groupByKey(_._1)
      .transformWithState(new WindowTopNProcessor(n, windowUs, lateCounter),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        org.apache.spark.sql.streaming.OutputMode.Append())
  }

  /** Left-outer stream-stream interval join: clicks that never see a
    * purchase within the window emit a null-padded row once BOTH
    * watermarks pass the interval end (the engine can only then prove no
    * match will arrive). Same bounded state as the inner form — the outer
    * semantics cost nothing extra, they just delay the null emission to
    * watermark expiry.
    */
  def intervalJoinLeftOuter(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val l = clicks.withWatermark("ts", "5 seconds")
      .select(col("event_id").as("click_id"), col("user_id").as("l_user"),
        col("ts").as("click_ts"))
    val r = purchases.withWatermark("ts", "5 seconds")
      .select(col("event_id").as("purchase_id"), col("user_id").as("r_user"),
        col("ts").as("purchase_ts"))
    l.join(r,
      col("l_user") === col("r_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 seconds"),
      "left_outer")
      .select(col("click_id"), col("purchase_id"), col("l_user").as("user_id"),
        col("click_ts"), col("purchase_ts"))
  }

  /** Full-outer stream-stream interval join — the symmetric closure of
    * [[intervalJoinLeftOuter]]: never-matched CLICKS null-pad on the
    * right and never-preceded PURCHASES null-pad on the left, each
    * emitted once both watermarks pass the row's interval bound (only
    * then can the engine prove no match will arrive). Same
    * watermark-bounded state as the inner form; `user_id` coalesces
    * the sides because either may be the null one.
    */
  def intervalJoinFullOuter(clicks: DataFrame,
      purchases: DataFrame): DataFrame = {
    val l = clicks.withWatermark("ts", "5 seconds")
      .select(col("event_id").as("click_id"), col("user_id").as("l_user"),
        col("ts").as("click_ts"))
    val r = purchases.withWatermark("ts", "5 seconds")
      .select(col("event_id").as("purchase_id"), col("user_id").as("r_user"),
        col("ts").as("purchase_ts"))
    l.join(r,
      col("l_user") === col("r_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 seconds"),
      "full_outer")
      .select(col("click_id"), col("purchase_id"),
        coalesce(col("l_user"), col("r_user")).as("user_id"),
        col("click_ts"), col("purchase_ts"))
  }

  final case class UserCount(user_id: Long, n: Long)

  /** Custom keyed state via mapGroupsWithState: running per-user event
    * count (the arbitrary-state escape hatch the Table API lacks). Pass
    * ProcessingTimeTimeout in production to bound abandoned keys — note
    * that timeouts make the engine self-trigger empty micro-batches to
    * check them, so the deterministic test tier runs NoTimeout.
    */
  def runningUserCounts(events: Dataset[(Long, Long)],
      timeout: GroupStateTimeout = GroupStateTimeout.NoTimeout): Dataset[UserCount] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .mapGroupsWithState(timeout) {
        (user: Long, rows: Iterator[(Long, Long)], state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            val n = state.getOption.getOrElse(0L)
            state.remove()
            UserCount(user, n)
          } else {
            val n = state.getOption.getOrElse(0L) + rows.size
            state.update(n)
            if (timeout == GroupStateTimeout.ProcessingTimeTimeout) {
              state.setTimeoutDuration("1 hour")
            }
            UserCount(user, n)
          }
      }
  }

  final case class UserSpend(user_id: Long, total: Double, n: Long)

  /** Spark 4's transformWithState (arbitrary-state v2): running per-user
    * spend via typed ValueState — the modern replacement for
    * mapGroupsWithState with composable state variables, timers, and
    * per-state TTLs.
    */
  class SpendProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Double), UserSpend] {
    @transient private var state:
      org.apache.spark.sql.streaming.ValueState[(Double, Long)] = _

    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      state = getHandle.getValueState[(Double, Long)](
        "spend",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaDouble,
          org.apache.spark.sql.Encoders.scalaLong),
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[(Long, Double)],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[UserSpend] = {
      val (prevSum, prevN) =
        if (state.exists()) state.get() else (0.0, 0L)
      var sum = prevSum; var n = prevN
      rows.foreach { r => sum += r._2; n += 1 }
      state.update((sum, n))
      Iterator.single(UserSpend(key, sum, n))
    }
  }

  def runningUserSpend(events: Dataset[(Long, Double)]): Dataset[UserSpend] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .transformWithState(new SpendProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())
  }

  final case class ClosedSession(user_id: Long, start_ms: Long, end_ms: Long,
      n_events: Long)

  /** Timer-closed sessionization: sessions are emitted EXACTLY ONCE, when
    * the event-time watermark passes their close (last event + gap) — the
    * semantics `session_window` in append mode provides, rebuilt on
    * transformWithState EVENT-TIME TIMERS to own the lifecycle: arbitrary
    * per-session state (here a count; production carries funnels or
    * carts), in-batch gap splitting, and a close decision that can't leak
    * a session twice (every timer firing re-checks against the CURRENT
    * session end, so a stale timer from an extended session is a no-op).
    * State per key is one fixed-size tuple regardless of session length.
    */
  class SessionProcessor(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long), ClosedSession] {
    @transient private var sess:
      org.apache.spark.sql.streaming.ValueState[(Long, Long, Long)] = _

    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      sess = getHandle.getValueState[(Long, Long, Long)](
        "sess",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong),
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
        timerValues: org.apache.spark.sql.streaming.TimerValues):
        Iterator[ClosedSession] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[ClosedSession]
      var cur = if (sess.exists()) Option(sess.get()) else None
      rows.toSeq.sortBy(_._2).foreach { case (_, ts) =>
        cur = cur match {
          case Some((s0, e0, n)) if ts - e0 <= gapMs =>
            Some((s0, math.max(e0, ts), n + 1))
          case Some((s0, e0, n)) => // gap exceeded inside the batch
            out += ClosedSession(key, s0, e0, n)
            Some((ts, ts, 1L))
          case None => Some((ts, ts, 1L))
        }
      }
      cur.foreach { c =>
        sess.update(c)
        getHandle.registerTimer(c._2 + gapMs)
      }
      out.iterator
    }

    override def handleExpiredTimer(key: Long,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo):
        Iterator[ClosedSession] = {
      if (!sess.exists()) return Iterator.empty
      val (s0, e0, n) = sess.get()
      // stale timer from a since-extended session: the real close timer
      // (e0 + gap) is still registered and will fire later
      if (expiredTimerInfo.getExpiryTimeInMs() < e0 + gapMs) Iterator.empty
      else { sess.clear(); Iterator.single(ClosedSession(key, s0, e0, n)) }
    }
  }

  /** Events → exactly-once closed sessions (30 s gap by default). */
  def timerSessions(events: DataFrame, gapMs: Long = 30000L):
      Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", "10 seconds")
      .select(col("user_id"), unix_millis(col("ts")))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new SessionProcessor(gapMs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        org.apache.spark.sql.streaming.OutputMode.Append())
  }

  final case class ShardCandidates(shard: Int, token: String, cnt: Long)

  /** Streaming Misra-Gries heavy hitters: the batch operator's sketch
    * ([[graft.functions.MisraGries]]) kept as LIVE keyed state. Input
    * tokens are sharded by hash — parallelism is the shard count, and no
    * shard's state exceeds k counters regardless of stream length or key
    * cardinality (the property that makes this viable on an unbounded
    * 100 TB/day stream). Each micro-batch emits every touched shard's
    * current candidate set (Update mode); the global answer is the
    * cross-shard merge + exact recount, same as the batch second phase —
    * the union of per-shard MG candidates is a superset of any item with
    * global frequency > n/(k+1) by the same undercount bound applied
    * shard-wise.
    */
  class HeavyHitterProcessor(k: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Int, (Int, String), ShardCandidates] {
    @transient private var state:
      org.apache.spark.sql.streaming.ValueState[Map[String, Long]] = _

    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      state = getHandle.getValueState[Map[String, Long]](
        "mg",
        org.apache.spark.sql.Encoders.kryo[Map[String, Long]],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Int, rows: Iterator[(Int, String)],
        timerValues: org.apache.spark.sql.streaming.TimerValues):
        Iterator[ShardCandidates] = {
      var m = if (state.exists()) state.get() else Map.empty[String, Long]
      rows.foreach { case (_, tok) =>
        m.get(tok) match {
          case Some(c) => m = m.updated(tok, c + 1)
          case None if m.size < k => m = m.updated(tok, 1L)
          case None => // decrement-all: the MG eviction step
            m = m.map { case (t, c) => t -> (c - 1) }.filter(_._2 > 0)
        }
      }
      state.update(m)
      m.iterator.map { case (t, c) => ShardCandidates(key, t, c) }
    }
  }

  /** Tokens → per-shard live heavy-hitter candidates (Update mode). */
  def heavyHitterStream(tokens: Dataset[String], k: Int = 8,
      shards: Int = 4): Dataset[ShardCandidates] = {
    import tokens.sparkSession.implicits._
    tokens.map(t => (math.floorMod(t.hashCode, shards), t))
      .groupByKey(_._1)
      .transformWithState(new HeavyHitterProcessor(k),
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())
  }

  /** Stream-static enrichment join: the unbounded stream joined to a
    * bounded dimension (re-read per micro-batch) — the lookup-join
    * class. `forceBroadcast` defaults true for the dimension-table case;
    * pass false for a dim that may not fit executor memory (the join
    * then shuffles the micro-batch, and AQE still broadcasts at runtime
    * when the dim turns out small) — a forced hint on an oversized dim
    * is a driver OOM, not a slow plan.
    */
  def enrich(stream: DataFrame, dim: DataFrame, key: String,
      forceBroadcast: Boolean = true): DataFrame =
    stream.join(if (forceBroadcast) broadcast(dim) else dim, Seq(key), "left")

  /** Temporal-table (versioned-dimension) enrichment — the Flink Table
    * API temporal-join class: each event is joined to the dimension
    * VERSION valid at its event time (latest dim row with ts ≤ event ts),
    * not the current one, so late or replayed events enrich consistently.
    * Re-expressed as foreachBatch over the batch as-of join; `dim` is a
    * thunk re-evaluated per micro-batch, so slowly-changing-dimension
    * updates are picked up between batches.
    */
  def temporalEnrich(stream: DataFrame, dim: () => DataFrame, key: String,
      tsCol: String, payload: Seq[String], tiebreak: String)(
      sink: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .foreachBatch((b: DataFrame, _: Long) =>
        sink(graft.operators.AsOfJoin.asOfJoin(
          b, dim(), key, tsCol, payload, tiebreak)))
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-temporal-ck").toString)
      .start()

  /** CDC-style keyed upsert sink: maintain "latest row per key" as a
    * parquet table via foreachBatch — read current state, union the
    * micro-batch, keep the winner per key (max ts, batch rows beat state
    * rows on ties), atomically replace. The materialized-view pattern for
    * engines without a lakehouse MERGE; swap the body for `MERGE INTO`
    * when Delta/Iceberg is on the classpath.
    */
  def upsertSink(updates: DataFrame, stateDir: String, key: String,
      tsCol: String,
      // CDC tombstones: when set, a row whose boolean `tombstoneCol` is
      // true marks its key deleted. The winning tombstone row is RETAINED
      // in the state table (it must keep winning the per-key ts race, or a
      // late-arriving update older than the delete would resurrect the key
      // with stale data); consumers read the live view as
      // `state WHERE NOT tombstoneCol`. A newer insert overwrites the
      // marker. Tombstone GC (dropping markers older than the maximum
      // expected lateness) is a retention policy layered on top.
      tombstoneCol: Option[String] = None): org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = updates.sparkSession
    val schema = updates.schema
    tombstoneCol.foreach(tc => require(updates.columns.contains(tc),
      s"upsertSink: tombstone column $tc not in ${updates.columns.mkString(",")}"))
    def merge(batch: DataFrame, batchId: Long): Unit = {
      // Only a *missing* state dir means "first batch"; any other read
      // failure (FS hiccup, partial visibility, OOM) must fail the batch
      // rather than silently discarding all accumulated upsert state.
      val current =
        if (new java.io.File(stateDir).exists())
          spark.read.schema(schema).parquet(stateDir)
        else spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(key))
        .orderBy(col(tsCol).desc, col("__src").desc)
      // winners — including winning tombstones, which stay in state so
      // they beat late-arriving pre-delete rows in future batches
      val merged = current.withColumn("__src", lit(0))
        .unionByName(batch.withColumn("__src", lit(1)))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .drop("__src", "__rn")
      // write-then-swap for atomicity on local FS; every rename/delete
      // result is checked — a failed swap must fail the batch loudly, not
      // leave corrupted state behind
      val tmp = stateDir + ".tmp"
      merged.write.mode("overwrite").parquet(tmp)
      val fs = new java.io.File(stateDir)
      if (fs.exists()) {
        val old = new java.io.File(stateDir + ".old")
        if (old.exists())
          require(scala.reflect.io.Directory(old).deleteRecursively(),
            s"upsertSink: could not delete stale $old")
        require(fs.renameTo(old),
          s"upsertSink: could not move current state $fs aside to $old")
      }
      require(new java.io.File(tmp).renameTo(new java.io.File(stateDir)),
        s"upsertSink: could not swap $tmp into place at $stateDir")
    }
    updates.writeStream.foreachBatch(merge _)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-upsert-ck").toString)
      .start()
  }

  /** Live view over an [[upsertSink]] state dir: all current keys, minus
    * tombstoned ones when the sink was run with a tombstone column.
    */
  def upsertLiveView(spark: SparkSession, stateDir: String,
      tombstoneCol: Option[String] = None): DataFrame = {
    val state = graft.Tables.parquet(spark, stateDir)
    tombstoneCol.fold(state)(tc => state.filter(!coalesce(col(tc), lit(false))))
  }

  /** Append-mode sink shorthand used by tests: run to completion over a
    * memory sink and return the result table name.
    */
  def runToMemory(df: DataFrame, name: String,
      mode: OutputMode = OutputMode.Append()): Unit = {
    val q = df.writeStream.format("memory").queryName(name).outputMode(mode).start()
    q.processAllAvailable()
    q.stop()
  }

  final case class EwmaFlag(user_id: Long, ts_us: Long, event_id: Long,
      value: Double, ewma: Double, is_anomaly: Boolean)

  /** The batch EWMA scan's STREAMING twin — the same recurrence (the
    * shared `TimeSeries.ewmaStep`, so batch/stream bit-identity is
    * structural) run live: per-key (ewma, EW-variance, last-(ts,id)) as
    * ONE fixed-size ValueState tuple, each micro-batch folding its rows
    * in (ts, id) order on top of the carried state. A flag raised
    * mid-stream on in-order data is therefore bit-identical to the one
    * the batch scan would assign the same prefix.
    *
    * Ordering contract: rows are sorted WITHIN a micro-batch, but a row
    * arriving in a later batch with (ts, id) at or below the folded
    * prefix cannot be retro-folded (the recurrence is sequential and
    * the state is O(1) — there is no buffer to reorder against). Such
    * rows are DROPPED, not folded out of order: the live answer stays a
    * prefix of the batch scan's, never a divergent trajectory. The
    * batch scan over the at-rest data is the replayable source of
    * truth for late rows, exactly like watermark-dropped events in the
    * windowed aggregations. State size is independent of stream length.
    *
    * Memory contract: the O(1) bound above is the STORED state only.
    * `handleInputRows` materializes and sorts each key's rows WITHIN a
    * micro-batch (`rows.toSeq.sortBy`) — peak executor memory is
    * O(max per-key rows per micro-batch), not O(1). That is the
    * standard trade for in-batch reordering; cap micro-batch size
    * (`maxOffsetsPerTrigger` / trigger interval) so a hot key's batch
    * share fits, or pre-sort with `sortWithinPartitions(key, ts, id)`
    * ahead of `transformWithState` to shift the sort into Spark's
    * spillable machinery and keep the processor a pure streaming fold.
    */
  class EwmaProcessor(alpha: Double, z: Double,
      lateCounter: Option[org.apache.spark.util.LongAccumulator] = None)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, Long, Double), EwmaFlag] {
    @transient private var st:
      org.apache.spark.sql.streaming.ValueState[(Double, Double, Long, Long)] = _

    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[(Double, Double, Long, Long)](
        "ewma",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaDouble,
          org.apache.spark.sql.Encoders.scalaDouble,
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong),
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long,
        rows: Iterator[(Long, Long, Long, Double)],
        timerValues: org.apache.spark.sql.streaming.TimerValues):
        Iterator[EwmaFlag] = {
      var state = if (st.exists()) Option(st.get()) else None
      val out = rows.toSeq.sortBy(r => (r._2, r._3)).flatMap {
        case (_, ts, id, x) =>
          state match {
            case None =>
              state = Some((x, 0.0, ts, id))
              Some(EwmaFlag(key, ts, id, x, x, is_anomaly = false))
            case Some((_, _, lastTs, lastId))
                if ts < lastTs || (ts == lastTs && id <= lastId) =>
              // out-of-order vs the folded prefix: drop, never corrupt
              lateCounter.foreach(_.add(1L))
              None
            case Some((ewma, evar, _, _)) =>
              val (e2, v2, _, anomaly) =
                graft.operators.TimeSeries.ewmaStep(ewma, evar, x, alpha, z)
              state = Some((e2, v2, ts, id))
              Some(EwmaFlag(key, ts, id, x, e2, anomaly))
          }
      }
      state.foreach(st.update)
      out.iterator
    }
  }

  /** (user_id, ts_us, event_id, value) stream → live EWMA anomaly flags. */
  def ewmaStream(events: Dataset[(Long, Long, Long, Double)],
      alpha: Double = 0.2, z: Double = 3.0,
      lateCounter: Option[org.apache.spark.util.LongAccumulator] = None)
      : Dataset[EwmaFlag] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .transformWithState(new EwmaProcessor(alpha, z, lateCounter),
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())
  }

  final case class CusumFlag(user_id: Long, ts_us: Long, event_id: Long,
    value: Double, sp_raw: Double, sn_raw: Double, alarmed: Boolean)

  /** Live CUSUM changepoint flags — the streaming twin of
    * `TimeSeries.cusumScanOf`, same posture as [[EwmaProcessor]]: one
    * fixed-size (sp, sn, lastTs, lastId) ValueState tuple per key, each
    * micro-batch folds its rows in (ts, id) order on the carried state
    * through the LITERAL batch step function
    * ([[graft.operators.TimeSeries.cusumStep]]), so a mid-stream flag
    * is bit-identical to the batch scan on the same prefix —
    * structurally, not by spec assertion. Rows arriving out of order
    * vs the already-folded prefix are dropped (never folded out of
    * order); CUSUM starts from the zero state, so unlike EWMA there is
    * no seed case — the first row already updates the sums.
    */
  class CusumProcessor(mu: Double, kappa: Double, h: Double,
      lateCounter: Option[org.apache.spark.util.LongAccumulator] = None)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, Long, Double), CusumFlag] {
    @transient private var st:
      org.apache.spark.sql.streaming.ValueState[(Double, Double, Long, Long)] = _

    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[(Double, Double, Long, Long)](
        "cusum",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaDouble,
          org.apache.spark.sql.Encoders.scalaDouble,
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong),
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long,
        rows: Iterator[(Long, Long, Long, Double)],
        timerValues: org.apache.spark.sql.streaming.TimerValues):
        Iterator[CusumFlag] = {
      var state = if (st.exists()) Option(st.get()) else None
      val out = rows.toSeq.sortBy(r => (r._2, r._3)).flatMap {
        case (_, ts, id, x) =>
          state match {
            case Some((_, _, lastTs, lastId))
                if ts < lastTs || (ts == lastTs && id <= lastId) =>
              // out-of-order vs the folded prefix: drop, never corrupt
              lateCounter.foreach(_.add(1L))
              None
            case prior =>
              val (sp0, sn0) = prior match {
                case Some((sp, sn, _, _)) => (sp, sn)
                case None => (0.0, 0.0)
              }
              val (spRaw, snRaw, sp2, sn2, alarmed) = graft.operators
                .TimeSeries.cusumStep(sp0, sn0, x, mu, kappa, h)
              state = Some((sp2, sn2, ts, id))
              Some(CusumFlag(key, ts, id, x, spRaw, snRaw, alarmed))
          }
      }
      state.foreach(st.update)
      out.iterator
    }
  }

  /** (user_id, ts_us, event_id, value) stream → live CUSUM flags. */
  def cusumStream(events: Dataset[(Long, Long, Long, Double)],
      mu: Double = 50.0, kappa: Double = 10.0, h: Double = 200.0,
      lateCounter: Option[org.apache.spark.util.LongAccumulator] = None)
      : Dataset[CusumFlag] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .transformWithState(new CusumProcessor(mu, kappa, h, lateCounter),
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())
  }

  final case class RankedEntry(group: Long, ver: Long, rk: Long, id: Long,
    value: Double)

  /** Flink's UNBOUNDED streaming Top-N (the non-windowed
    * `ROW_NUMBER() OVER (PARTITION BY g ORDER BY v DESC) <= N` on a
    * stream, update mode) — the running leaderboard. State per group is
    * ONE bounded list of ≤ n (value, id) pairs regardless of stream
    * length (the same bounded-heap collapse as the batch `topk_by_value`
    * aggregate); each micro-batch folds its rows into the kept list and
    * re-ranks by value DESC / id ASC, so the result is independent of
    * intra-batch arrival order. APPEND-STREAM CONTRACT, exactly Flink's
    * `AppendOnlyTopNFunction`: every input row is a separate record —
    * two identical (id, value) rows occupy two ranks, and an id
    * re-arriving with a new value is a NEW record that ranks alongside
    * its earlier one (no upsert, no retraction; for keyed upsert
    * semantics feed this from a changelog-collapsing stage like
    * [[changelogAggStream]]'s). Bounded state is EXACT under this
    * contract: values never retract, so the nth-place threshold is
    * monotone and a row that misses the current top-n can never enter
    * later. When the ranking changes, the processor emits the group's
    * FULL ranked
    * snapshot stamped with a per-group monotone version — Spark has no
    * retract streams, so the changelog Flink would emit as
    * retract/upsert pairs is delivered as versioned snapshots instead;
    * the latest version per group IS the current answer, and
    * [[upsertSink]] materializes exactly that contract downstream.
    */
  class TopNProcessor(n: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, Double), RankedEntry] {
    @transient private var st:
      org.apache.spark.sql.streaming.ValueState[(Long, List[(Double, Long)])] = _

    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[(Long, List[(Double, Long)])](
        "topn",
        org.apache.spark.sql.Encoders.kryo[(Long, List[(Double, Long)])],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long,
        rows: Iterator[(Long, Long, Double)],
        timerValues: org.apache.spark.sql.streaming.TimerValues):
        Iterator[RankedEntry] = {
      val (ver, old) = if (st.exists()) st.get() else (0L, Nil)
      // multiplicity preserved (append-stream contract): no dedup —
      // identical rows are distinct records, as in Flink's append Top-N
      val merged = (old ++ rows.map { case (_, id, v) => (v, id) })
        .sortBy { case (v, id) => (-v, id) }
        .take(n)
      if (merged == old) Iterator.empty
      else {
        st.update((ver + 1, merged))
        merged.zipWithIndex.iterator.map { case ((v, id), i) =>
          RankedEntry(key, ver + 1, i + 1L, id, v)
        }
      }
    }
  }

  /** (group, id, value) stream → versioned ranked snapshots (Update
    * mode); the latest version per group is the live top-n.
    */
  def topNStream(events: Dataset[(Long, Long, Double)],
      n: Int = 3): Dataset[RankedEntry] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .transformWithState(new TopNProcessor(n),
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())
  }

  final case class OverAgg(user_id: Long, ts_us: Long, event_id: Long,
    value: Double, sum_w: Double, cnt_w: Long)

  /** Min-instant timer CHAIN (r17 optimization), shared by every
    * buffer-and-drain processor here. The original shape registered an
    * event-time timer per buffered INSTANT — O(rows) RocksDB timer
    * writes plus O(rows) expirations per replay, and all but the first
    * fire per (key, batch) hit the drained-watermark guard and did
    * nothing. Measured on the sf0.1 sql_mr_fields replay: 12.4 s →
    * 8.4 s from this change alone. The chain is behaviorally
    * equivalent: ONE live timer per key at the earliest buffered
    * instant — it fires in exactly the micro-batch the earliest
    * per-instant timer would have (the drain then covers every ripe
    * instant, as before), and re-arms at the next unripe instant.
    * Late-row admission is untouched: the input guard compares against
    * max(frontier, watermark), and the frontier is only ever the
    * watermark of a PAST drain, which the watermark's monotonicity
    * already dominates. Backward compatible with per-instant
    * checkpoints: untracked old timers fire, hit the guard, and the
    * chain re-arms from the surviving buffer.
    */
  private[streaming] trait MinTimerChain {
    self: org.apache.spark.sql.streaming.StatefulProcessor[_, _, _] =>
    @transient private var tmin:
      org.apache.spark.sql.streaming.ValueState[Long] = _

    /** Call from init(). The state name is new ("tmin"); adding it to
      * an existing checkpoint is a compatible widening.
      */
    protected def initTimerChain(): Unit =
      tmin = getHandle.getValueState[Long]("tmin",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    /** Input side: arm (or re-arm earlier) the chain for an admitted
      * row's instant (µs; ceiled to the next ms like the per-instant
      * form, so a fire implies watermark ≥ ts).
      */
    protected def armChainUs(tsUs: Long): Unit = {
      val ms = (tsUs + 999L) / 1000L
      if (tmin.exists()) {
        val cur = tmin.get()
        if (ms >= cur) return
        getHandle.deleteTimer(cur)
      }
      getHandle.registerTimer(ms)
      tmin.update(ms)
    }

    /** Expiry side, FIRST: if the fired timer is the chain timer it is
      * consumed — clear the track so re-arms register cleanly. (A
      * horizon or legacy timer leaves the chain live.)
      */
    protected def chainFired(expMs: Long): Unit =
      if (tmin.exists() && tmin.get() == expMs) tmin.clear()

    /** Expiry side, LAST: re-arm at the earliest surviving instant
      * (no-op while the chain timer is still live).
      */
    protected def rearmChain(minUnripeUs: Option[Long]): Unit =
      minUnripeUs match {
        case Some(t) if !tmin.exists() =>
          val ms = (t + 999L) / 1000L
          getHandle.registerTimer(ms)
          tmin.update(ms)
        case _ => ()
      }

    /** Guard-path re-arm when the surviving instants aren't at hand:
      * one buffer-key scan, at most once per (key, batch).
      */
    protected def rearmChainFrom(keysUs: => Iterator[Long]): Unit =
      if (!tmin.exists()) {
        var mn = Long.MaxValue
        keysUs.foreach(t => if (t < mn) mn = t)
        rearmChain(if (mn == Long.MaxValue) None else Some(mn))
      }
  }

  /** Flink's row-time bounded OVER aggregation (Table API
    * `SUM(v) OVER (PARTITION BY key ORDER BY rowtime RANGE BETWEEN
    * INTERVAL ... PRECEDING AND CURRENT ROW)`) — the per-event trailing
    * aggregate Spark's Structured Streaming has no operator for (window
    * functions are unsupported over unbounded input). Semantics match
    * the BATCH RANGE frame exactly, ties included: a row's window spans
    * (ts − w, ts] by VALUE, so same-timestamp peers — including ones
    * that arrive later — are part of each other's aggregate. That is
    * only decidable once no more rows at that timestamp can arrive,
    * which is precisely what Flink's implementation waits for and what
    * this one does: rows buffer in per-key MapState keyed by their
    * timestamp, an event-time timer fires when the watermark passes
    * each timestamp, and the fire emits every row at that instant with
    * the aggregate over the buffered content in its range. Rows at or
    * below the watermark on arrival are dropped (their emission
    * already happened — the same late-row contract as every windowed
    * operator here). State per key is the window CONTENT (exactly
    * Flink's state shape for this operator), evicted once the
    * watermark guarantees no future row's range can reach it.
    *
    * Batch twin: `Window.partitionBy(key).orderBy(ts).rangeBetween(-w,
    * 0)` — the q15c range-frame family; the spec pins streaming ≡
    * batch on a replay with a same-timestamp tie.
    */
  class OverWindowProcessor(windowUs: Long,
      lateCounter: Option[org.apache.spark.util.LongAccumulator] = None)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, Long, Double), OverAgg] with MinTimerChain {
    // ts_us → (sum at ts, cnt at ts, UNEMITTED rows at ts). Aggregates
    // stay after emission (later rows' windows still read them); the
    // rows list empties, making the drain idempotent.
    @transient private var content:
      org.apache.spark.sql.streaming.MapState[Long,
        (Double, Long, List[(Long, Double)])] = _
    // the DRAINED FRONTIER: the highest instant this key has emitted.
    // The late-row guard compares against it, not the raw watermark —
    // the watermark's zero initial value would otherwise misclassify
    // epoch-adjacent first-batch rows as already-emitted.
    @transient private var drained:
      org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      content = getHandle.getMapState[Long, (Double, Long, List[(Long, Double)])](
        "content",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.kryo[(Double, Long, List[(Long, Double)])],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      drained = getHandle.getValueState[Long]("drained",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      initTimerChain()
    }

    override def handleInputRows(key: Long,
        rows: Iterator[(Long, Long, Long, Double)],
        timerValues: org.apache.spark.sql.streaming.TimerValues):
        Iterator[OverAgg] = {
      val frontier = if (drained.exists()) drained.get() else Long.MinValue
      // the late-row guard is the MAX of two signals: the key's drained
      // frontier (what this key has emitted) and the global watermark
      // (what the operator contract promises is final). The watermark
      // alone would misclassify epoch-adjacent first-batch rows (its
      // zero initial value), so it only engages once initialized; the
      // frontier alone would admit a row on a key that sat idle while
      // the watermark advanced — its in-range aggregates may already be
      // evicted (ts ≤ wm − w), so emitting it later would undercount.
      val wmMs = timerValues.getCurrentWatermarkInMs()
      val lateBelow =
        if (wmMs > 0L) math.max(frontier, wmMs * 1000L) else frontier
      var batchMin = Long.MaxValue
      rows.foreach { case (_, ts, id, v) =>
        // a row at or below the guard arrived after its instant was
        // emitted (or declared final) — drop (the late-row contract)
        if (ts > lateBelow) {
          val (s, c, rs) =
            if (content.containsKey(ts)) content.getValue(ts)
            else (0.0, 0L, Nil)
          content.updateValue(ts, (s + v, c + 1, (id, v) :: rs))
          if (ts < batchMin) batchMin = ts
        } else lateCounter.foreach(_.add(1L)) // dropped late row, counted
      }
      // min-instant chain (ceiled to the next ms like the per-instant
      // form, so a fire implies watermark >= ts)
      if (batchMin != Long.MaxValue) armChainUs(batchMin)
      Iterator.empty
    }

    /** Any fire drains EVERY ripe instant (ts ≤ watermark) in ascending
      * order — idempotent across the batch's remaining timers, and
      * immune to ms-truncation aliasing between timer and key. The
      * watermark is fixed for the whole micro-batch, so after the first
      * drain per key the batch's remaining per-instant timers
      * short-circuit on the recorded drain watermark instead of
      * rescanning state; the drain itself is ONE O(content) pass —
      * prefix sums over the sorted snapshot plus a monotone
      * window-start pointer — not a per-instant range rescan (which
      * made the fire O(content²) and dominated the sf0.1 gate replay).
      */
    override def handleExpiredTimer(key: Long,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo):
        Iterator[OverAgg] = {
      val wmUs = timerValues.getCurrentWatermarkInMs() * 1000L
      // `drained` is the watermark of the key's last drain. It is ≥
      // every emitted instant, so the input-side guard max(frontier,
      // initialized wm) admits exactly the same rows as the r10
      // max-emitted-ts frontier did (rows between that ts and the
      // watermark are late by the operator contract either way).
      chainFired(expiredTimerInfo.getExpiryTimeInMs())
      val already = if (drained.exists()) drained.get() else Long.MinValue
      if (wmUs <= already) {
        rearmChainFrom(content.iterator().flatMap(p =>
          if (p._2._3.nonEmpty) Iterator.single(p._1) else Iterator.empty))
        Iterator.empty
      } else {
        val arr = content.iterator().toList.sortBy(_._1).toArray
        val n = arr.length
        // prefix aggregates over the sorted content: window sums become
        // one subtraction, same rounding class as a fresh per-window sum
        val ps = new Array[Double](n + 1)
        val pc = new Array[Long](n + 1)
        var i = 0
        while (i < n) {
          ps(i + 1) = ps(i) + arr(i)._2._1
          pc(i + 1) = pc(i) + arr(i)._2._2
          i += 1
        }
        val out = scala.collection.mutable.ArrayBuffer.empty[OverAgg]
        var lo = 0 // monotone: first index with ts ≥ current ts − w
        var j = 0
        while (j < n) {
          val (ts, (_, _, pending)) = arr(j)
          if (ts <= wmUs && pending.nonEmpty) {
            // [ts − w, ts] INCLUSIVE both ends — Spark's rangeBetween(−w,
            // 0) and Flink's RANGE w PRECEDING both include the lower edge
            while (arr(lo)._1 < ts - windowUs) lo += 1
            val sum = ps(j + 1) - ps(lo)
            val cnt = pc(j + 1) - pc(lo)
            pending.reverse.foreach { case (id, v) =>
              out += OverAgg(key, ts, id, v, sum, cnt)
            }
            val kept = content.getValue(ts)
            content.updateValue(ts, (kept._1, kept._2, Nil))
          }
          j += 1
        }
        drained.update(wmUs)
        // evict what no future emission can reach: every unemitted row
        // has ts > watermark, so content at or below watermark − w is dead
        arr.foreach(p =>
          if (p._1 <= wmUs - windowUs) content.removeKey(p._1))
        // re-arm at the earliest instant still awaiting emission
        var mnU = Long.MaxValue
        arr.foreach { case (ts, (_, _, pending)) =>
          if (ts > wmUs && pending.nonEmpty && ts < mnU) mnU = ts }
        rearmChain(if (mnU == Long.MaxValue) None else Some(mnU))
        out.iterator
      }
    }
  }

  /** (user_id, ts_us, event_id, value) stream → per-event trailing
    * RANGE-window aggregates (10-minute window by default), emitted at
    * watermark passage with batch-exact tie semantics.
    */
  def overWindowStream(events: Dataset[(Long, Long, Long, Double)],
      windowUs: Long = 600000000L,
      lateCounter: Option[org.apache.spark.util.LongAccumulator] = None)
      : Dataset[OverAgg] = {
    import events.sparkSession.implicits._
    events
      .withColumn("ts", timestamp_micros(col("_2")))
      .withWatermark("ts", "5 seconds")
      .select(col("_1"), col("_2"), col("_3"), col("_4"))
      .as[(Long, Long, Long, Double)]
      .groupByKey(_._1)
      .transformWithState(new OverWindowProcessor(windowUs, lateCounter),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        org.apache.spark.sql.streaming.OutputMode.Append())
  }

  final case class TouchCredit(user_id: Long, purchase_id: Long,
    purchase_ts_us: Long, last_touch_id: Long, last_touch_type: String,
    last_touch_latency_us: Long)

  /** Live last-touch attribution — the streaming twin of
    * `Analytics.touchAttributionOf`'s rows-frame half: one fixed-size
    * (touch ts, id, type, lastTs, lastId) ValueState per user carries
    * the most recent click/view; each purchase emits its credit
    * immediately. The RANGE-frame first-touch column stays batch-only
    * by design: first-touch-in-window needs the window's oldest
    * surviving touch, i.e. a buffer proportional to the window — the
    * batch operator reports it offline, the live path answers the
    * on-conversion question. Out-of-order rows vs the folded prefix are
    * dropped (same contract as the EWMA/CUSUM processors).
    */
  class TouchProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, Long, String), TouchCredit] {
    @transient private var st: org.apache.spark.sql.streaming
      .ValueState[(Long, Long, String, Long, Long)] = _

    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long, String, Long, Long)](
        "touch",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.STRING,
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong),
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long,
        rows: Iterator[(Long, Long, Long, String)],
        timerValues: org.apache.spark.sql.streaming.TimerValues):
        Iterator[TouchCredit] = {
      // state: (touchTs, touchId, touchType, lastTs, lastId); touchId
      // < 0 = no touch seen yet
      var state = if (st.exists()) Option(st.get()) else None
      val out = rows.toSeq.sortBy(r => (r._2, r._3)).flatMap {
        case (_, ts, id, tpe) =>
          state match {
            case Some((_, _, _, lastTs, lastId))
                if ts < lastTs || (ts == lastTs && id <= lastId) =>
              None // out-of-order vs the folded prefix
            case prior =>
              val (tTs, tId, tType) = prior match {
                case Some((a, b, c, _, _)) => (a, b, c)
                case None => (0L, -1L, "")
              }
              val credit =
                if (tpe == "purchase" && tId >= 0)
                  Some(TouchCredit(key, id, ts, tId, tType, ts - tTs))
                else None
              val next =
                if (tpe == "click" || tpe == "view") (ts, id, tpe, ts, id)
                else (tTs, tId, tType, ts, id)
              state = Some(next)
              credit
          }
      }
      state.foreach(st.update)
      out.iterator
    }
  }

  /** (user_id, ts_us, event_id, event_type) stream → live credits. */
  def attributionStream(events: Dataset[(Long, Long, Long, String)]):
      Dataset[TouchCredit] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .transformWithState(new TouchProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())
  }

  /** One changelog operation: op ∈ {"I","U","D"} (insert / upsert /
    * delete), a global monotone sequence number fixing apply order, the
    * aggregation group, the changelog KEY within the group, and the
    * new value (ignored for D). The upsert-kafka wire shape: key +
    * latest value, or key + tombstone — no "old value" rides along.
    */
  final case class ChangeOp(op: String, seq: Long, group: Long, id: Long,
    value_c: Long)

  final case class GroupSnapshot(group: Long, ver: Long, sum_c: Long,
    cnt: Long)

  /** CHANGELOG-SOURCE aggregation — the retracting-source twin of
    * [[upsertSink]]: consume a keyed I/U/D changelog stream and keep a
    * downstream per-group aggregate correct under updates and deletes.
    * This is the capability Flink's upsert-kafka source + retractable
    * aggregate pair provides, fused into one `transformWithState`
    * operator: the MapState (id → last value) is exactly Flink's
    * ChangelogNormalize state (materialize last-row-per-key so the
    * retraction amount is known — the wire carries no old value), and
    * the running (sum, cnt) is the retractable SUM/COUNT accumulator
    * (an arriving U retracts the remembered value and applies the new
    * one; a D retracts and decrements; a D for an unknown id is a
    * no-op, idempotent against replayed tombstones).
    *
    * Determinism: Spark's shuffle does not preserve per-key arrival
    * order within a micro-batch, so each batch's rows are applied in
    * `seq` order (the changelog's own order — what Flink gets for free
    * from ordered Kafka partitions); across batches, order holds by
    * construction. Values are integer (cents), so retraction is exact —
    * a float accumulator would drift from the definitional
    * sum-of-final-values under long add/retract sequences.
    *
    * Emission contract is the versioned-snapshot changelog every
    * update-mode operator here uses: when a batch changes a group's
    * aggregate, the group emits ONE (ver, sum, cnt) snapshot; the
    * latest version per group IS the current answer, and it equals the
    * batch aggregate over the changelog's NET state (last op per id,
    * deletes removed) — the equivalence the gate and spec replay.
    *
    * Scale posture: state is O(live ids) per group — the irreducible
    * cost of retraction without old-value-carrying input (Flink pays
    * the same in ChangelogNormalize); keyed by group, so it shards
    * with the groups. For changelogs whose producer CAN attach old
    * values (Debezium-style -U/+U pairs), the MapState disappears and
    * only the accumulator remains.
    */
  class ChangelogAggProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, ChangeOp, GroupSnapshot] {
    @transient private var live:
      org.apache.spark.sql.streaming.MapState[Long, Long] = _
    @transient private var acc:
      org.apache.spark.sql.streaming.ValueState[(Long, Long, Long)] = _

    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      live = getHandle.getMapState[Long, Long]("live",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      acc = getHandle.getValueState[(Long, Long, Long)]("acc",
        org.apache.spark.sql.Encoders.kryo[(Long, Long, Long)],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[ChangeOp],
        timerValues: org.apache.spark.sql.streaming.TimerValues):
        Iterator[GroupSnapshot] = {
      val (ver, sum0, cnt0) = if (acc.exists()) acc.get() else (0L, 0L, 0L)
      var sum = sum0; var cnt = cnt0
      // seq order restores the changelog's sequence inside the batch
      rows.toSeq.sortBy(_.seq).foreach { r =>
        val prior = if (live.containsKey(r.id)) Some(live.getValue(r.id))
                    else None
        r.op match {
          case "I" | "U" =>
            prior match {
              case Some(old) => sum += r.value_c - old
              case None      => sum += r.value_c; cnt += 1
            }
            live.updateValue(r.id, r.value_c)
          case "D" =>
            prior.foreach { old =>
              sum -= old; cnt -= 1; live.removeKey(r.id)
            }
          case other =>
            throw new IllegalArgumentException(
              s"changelogAggStream: unknown op '$other' (want I/U/D)")
        }
      }
      if (sum == sum0 && cnt == cnt0 && acc.exists()) Iterator.empty
      else {
        acc.update((ver + 1, sum, cnt))
        Iterator.single(GroupSnapshot(key, ver + 1, sum, cnt))
      }
    }
  }

  /** ChangeOp stream → versioned per-group aggregate snapshots (Update
    * mode); the latest version per group is the live SUM/COUNT over the
    * changelog's net state.
    */
  def changelogAggStream(ops: Dataset[ChangeOp]): Dataset[GroupSnapshot] = {
    import ops.sparkSession.implicits._
    ops.groupByKey(_.group)
      .transformWithState(new ChangelogAggProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())
  }

  /** One ranked row of a retractable Top-N snapshot. `rk = 0` is the
    * EMPTY-RANKING sentinel (id = -1, value_c = 0): when deletes empty a
    * group's live set, the consumer must learn the leaderboard emptied —
    * a versioned snapshot with zero rows cannot say that, so the
    * emptying emits one sentinel row. Readers keep the latest `ver` per
    * group and drop rk = 0.
    */
  final case class RankedSnap(group: Long, ver: Long, rk: Long, id: Long,
    value_c: Long)

  /** RETRACTABLE streaming Top-N — rank over a keyed I/U/D changelog,
    * Flink's `RetractableTopNFunction` (Top-N over an upsert stream),
    * the rank twin of [[changelogAggStream]] and the retraction-aware
    * counterpart of the append-stream [[TopNProcessor]]: here an id is
    * ONE live entity whose value updates in place, and a DELETE of a
    * top-n member must PROMOTE the best id outside the podium — which
    * is exactly why bounded ≤n state cannot work (the append form's
    * monotone-threshold argument dies with retraction) and why Flink's
    * retractable rank keeps the full per-group data map. State here is
    * the same MapState(id → last value) the changelog aggregate keeps —
    * O(live ids) per group, the irreducible retraction cost — plus the
    * current podium in ValueState.
    *
    * Per batch: ops apply to the live map in `seq` order, and the
    * podium recomputes ONLY if some op could have changed it (a new or
    * updated value at/above the nth-place value, or any touch of a
    * current podium id — the dirty check that keeps the O(live) rescan
    * off the hot path of podium-irrelevant churn). Ranking is value
    * DESC, id ASC. Changes emit the group's FULL ranked snapshot under
    * a monotone version (the versioned-snapshot changelog contract all
    * update-mode operators here share); an emptied ranking emits the
    * rk = 0 sentinel.
    */
  class RetractTopNProcessor(n: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, ChangeOp, RankedSnap] {
    @transient private var live:
      org.apache.spark.sql.streaming.MapState[Long, Long] = _
    @transient private var podium:
      org.apache.spark.sql.streaming.ValueState[
        (Long, List[(Long, Long)])] = _

    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      live = getHandle.getMapState[Long, Long]("live",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      podium = getHandle.getValueState[(Long, List[(Long, Long)])]("podium",
        org.apache.spark.sql.Encoders.kryo[(Long, List[(Long, Long)])],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[ChangeOp],
        timerValues: org.apache.spark.sql.streaming.TimerValues):
        Iterator[RankedSnap] = {
      val (ver, top) = if (podium.exists()) podium.get() else (0L, Nil)
      val topIds = top.map(_._1).toSet
      // nth-place value: entries below it can never enter a FULL podium
      val nthVal = if (top.length >= n) top.map(_._2).min else Long.MinValue
      var dirty = !podium.exists()
      rows.toSeq.sortBy(_.seq).foreach { r =>
        r.op match {
          case "I" | "U" =>
            live.updateValue(r.id, r.value_c)
            // >= not >: a tying value with a lower id outranks on the
            // id tiebreak, and a podium id's own update always re-ranks
            if (r.value_c >= nthVal || topIds.contains(r.id) ||
                top.length < n) dirty = true
          case "D" =>
            if (live.containsKey(r.id)) {
              live.removeKey(r.id)
              if (topIds.contains(r.id)) dirty = true
            }
          case other =>
            throw new IllegalArgumentException(
              s"retractTopNStream: unknown op '$other' (want I/U/D)")
        }
      }
      if (!dirty) Iterator.empty
      else {
        // the promotion path: full live scan, O(live ids) — what
        // retraction fundamentally requires (Flink's data-map rescan)
        val ranked = live.iterator().toList
          .sortBy { case (id, v) => (-v, id) }.take(n)
        if (podium.exists() && ranked == top) Iterator.empty
        else {
          podium.update((ver + 1, ranked))
          if (ranked.isEmpty)
            Iterator.single(RankedSnap(key, ver + 1, 0L, -1L, 0L))
          else ranked.zipWithIndex.iterator.map { case ((id, v), i) =>
            RankedSnap(key, ver + 1, i + 1L, id, v)
          }
        }
      }
    }
  }

  /** ChangeOp stream → versioned ranked snapshots under retraction
    * (Update mode); latest version per group = the live top-n over the
    * changelog's net state (empty = the rk 0 sentinel).
    */
  def retractTopNStream(ops: Dataset[ChangeOp], n: Int = 3):
      Dataset[RankedSnap] = {
    import ops.sparkSession.implicits._
    ops.groupByKey(_.group)
      .transformWithState(new RetractTopNProcessor(n),
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())
  }

  /** stream_changelog_topn gate — the same events-derived changelog
    * replay as [[changelogAggGate]], through the retractable Top-N;
    * reduced to the latest snapshot per group, sentinel rows dropped.
    * The DuckDB oracle ranks the definitional net state directly.
    */
  def retractTopNGate(s: SparkSession, dir: String, n: Int = 3): DataFrame = {
    val snaps = graft.Tables.parquet(s, changelogTopnPath(s, dir, n))
    snaps.withColumn("__mx", max(col("ver")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("group"))))
      .filter(col("ver") === col("__mx") && col("rk") > 0)
      .select(col("group").as("grp"), col("rk"), col("id"), col("value_c"))
      .orderBy(col("grp"), col("rk"))
  }

  /** One retract-stream row, Flink/Debezium row kinds: `+I` insert,
    * `-U`/`+U` the update's retract/apply pair, `-D` delete-retract.
    * `sub` orders the pair within one source op (retract 0, apply 1) —
    * consumers sort (seq, sub), never parse the kind for order.
    */
  final case class ChangeRow(kind: String, seq: Long, sub: Int, group: Long,
    id: Long, value_c: Long)

  /** CHANGELOG NORMALIZE — Flink's `ChangelogNormalize` stage as its own
    * operator: turn a keyed upsert stream (key + new value or tombstone,
    * NO old values — the upsert-kafka wire) into a full RETRACT stream
    * whose every update carries its retraction (-U old, +U new) and
    * every delete its retracted row (-D old). This is the two-stage
    * factoring of [[changelogAggStream]], and the split is a STATE
    * PLACEMENT decision with a scale consequence: the O(live keys)
    * last-row state lives HERE, keyed by the changelog KEY (group, id) —
    * so it shards by id, and a hot GROUP no longer concentrates the
    * whole id map on one task — while every DOWNSTREAM retract consumer
    * (per-group aggregates, joins, ranks) runs with accumulator-only
    * state. Flink pays exactly this exchange: one extra shuffle between
    * the normalize keying and the aggregate keying buys per-stage
    * minimal state. An insert for a live id is treated as an upsert
    * (same as the fused form); a delete for an unknown id emits nothing
    * (idempotent).
    */
  class ChangelogNormalizeProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        (Long, Long), ChangeOp, ChangeRow] {
    @transient private var last:
      org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      last = getHandle.getValueState[Long]("last",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: (Long, Long), rows: Iterator[ChangeOp],
        timerValues: org.apache.spark.sql.streaming.TimerValues):
        Iterator[ChangeRow] = {
      val (group, id) = key
      val out = scala.collection.mutable.ArrayBuffer.empty[ChangeRow]
      rows.toSeq.sortBy(_.seq).foreach { r =>
        val prior = if (last.exists()) Some(last.get()) else None
        r.op match {
          case "I" | "U" =>
            prior match {
              case Some(old) =>
                out += ChangeRow("-U", r.seq, 0, group, id, old)
                out += ChangeRow("+U", r.seq, 1, group, id, r.value_c)
              case None =>
                out += ChangeRow("+I", r.seq, 1, group, id, r.value_c)
            }
            last.update(r.value_c)
          case "D" =>
            prior.foreach { old =>
              out += ChangeRow("-D", r.seq, 0, group, id, old)
              last.clear()
            }
          case other =>
            throw new IllegalArgumentException(
              s"changelogNormalize: unknown op '$other' (want I/U/D)")
        }
      }
      out.iterator
    }
  }

  /** ChangeOp upsert stream → full retract stream, keyed by (group, id). */
  def changelogNormalizeStream(ops: Dataset[ChangeOp]): Dataset[ChangeRow] = {
    import ops.sparkSession.implicits._
    ops.groupByKey(r => (r.group, r.id))
      .transformWithState(new ChangelogNormalizeProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())
  }

  /** Retract-consuming per-group SUM/COUNT — the downstream half of the
    * two-stage split: because every row now CARRIES its retraction, the
    * only state is the (ver, sum, cnt) accumulator — no id map, nothing
    * proportional to live keys. cnt moves on +I (new entity) and -D
    * (entity gone); -U/+U move only the sum. Rows apply in (seq, sub)
    * order so an update's retract lands before its apply.
    */
  class RetractAggProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, ChangeRow, GroupSnapshot] {
    @transient private var acc:
      org.apache.spark.sql.streaming.ValueState[(Long, Long, Long)] = _

    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      acc = getHandle.getValueState[(Long, Long, Long)]("acc",
        org.apache.spark.sql.Encoders.kryo[(Long, Long, Long)],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[ChangeRow],
        timerValues: org.apache.spark.sql.streaming.TimerValues):
        Iterator[GroupSnapshot] = {
      val (ver, sum0, cnt0) = if (acc.exists()) acc.get() else (0L, 0L, 0L)
      var sum = sum0; var cnt = cnt0
      rows.toSeq.sortBy(r => (r.seq, r.sub)).foreach { r =>
        r.kind match {
          case "+I" => sum += r.value_c; cnt += 1
          case "+U" => sum += r.value_c
          case "-U" => sum -= r.value_c
          case "-D" => sum -= r.value_c; cnt -= 1
          case other => throw new IllegalArgumentException(
            s"retractAgg: unknown row kind '$other'")
        }
      }
      if (sum == sum0 && cnt == cnt0 && acc.exists()) Iterator.empty
      else {
        acc.update((ver + 1, sum, cnt))
        Iterator.single(GroupSnapshot(key, ver + 1, sum, cnt))
      }
    }
  }

  /** Retract stream → versioned per-group SUM/COUNT snapshots. The
    * composition `retractAggStream(changelogNormalizeStream(ops))` is
    * semantically ≡ [[changelogAggStream]](ops) — the spec replays the
    * equivalence — with the state split across the two keyings.
    */
  def retractAggStream(rows: Dataset[ChangeRow]): Dataset[GroupSnapshot] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_.group)
      .transformWithState(new RetractAggProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())
  }

  /** A two-sided changelog row: `side` tags which input the op belongs
    * to ("L"/"R"); otherwise the upsert wire shape of [[ChangeOp]].
    */
  final case class SideOp(side: String, op: String, seq: Long, group: Long,
      id: Long, value_c: Long)

  /** One emitted join delta: "I" adds the joined row to the result,
    * "D" retracts it — the changelog the join's own downstream
    * consumers (retract aggregates, sinks) fold.
    */
  final case class JoinDelta(op: String, group: Long, l_id: Long,
      r_id: Long, l_val: Long, r_val: Long)

  /** Delta row of the LEFT OUTER changelog join: `r_id`/`r_val` are
    * None on the null-padded rows an unmatched left side emits.
    */
  final case class OuterJoinDelta(op: String, group: Long, l_id: Long,
      r_id: Option[Long], l_val: Long, r_val: Option[Long])

  /** LEFT OUTER changelog equi-join: [[changelogFullJoinStream]]
    * without its right-only padding rows. The full processor emits, for
    * every op, exactly the pair and left-padding rows a dedicated
    * left-outer processor would, in the same order (see
    * [[ChangelogFullJoinProcessor]]), so dropping the rows with no left
    * id leaves the left join's changelog.
    */
  def changelogLeftJoinStream(ops: Dataset[SideOp]): Dataset[OuterJoinDelta] = {
    import ops.sparkSession.implicits._
    changelogFullJoinStream(ops).flatMap(d => d.l_id.map(lid =>
      OuterJoinDelta(d.op, d.group, lid, d.r_id, d.l_val.get, d.r_val)))
  }

  /** stream_changelog_join_left gate — the left-outer twin of
    * [[changelogJoinGate]] on a thinned fixture (every third event, so
    * the padding transitions stay exercised at a third of the replay
    * cost) with group 3's right side REMOVED entirely — its left rows
    * stay unmatched for the whole replay, so the final answer contains
    * real null-padded rows, not just transient padding swaps; the
    * folded deltas must equal DuckDB's net-state LEFT JOIN, padding
    * included. NULLS LAST ordering on both engines.
    */
  def changelogLeftJoinGate(s: SparkSession, dir: String): DataFrame = {
    foldJoinDeltas(graft.Tables.parquet(s, changelogLeftPath(s, dir)),
        "left-outer changelog join")
      .orderBy(col("grp").asc, col("l_id").asc,
        col("r_id").asc_nulls_last)
  }

  /** Delta row of the FULL OUTER changelog join: either side may be
    * the null-padded one (never both — a padded row exists only while
    * its side is live and the other side is empty).
    */
  final case class FullJoinDelta(op: String, group: Long,
      l_id: Option[Long], r_id: Option[Long],
      l_val: Option[Long], r_val: Option[Long])

  /** CHANGELOG EQUI-JOIN — the join member of the retraction family
    * (Flink's streaming regular join over two upsert/changelog inputs:
    * `StreamingJoinOperator` with retraction), completing the chain
    * changelog source → normalize → JOIN → retract agg → retract
    * Top-N. Both inputs are keyed I/U/D changelogs in the upsert wire
    * shape (key + new value or tombstone, no old value); the output is
    * itself a changelog of joined rows. This one processor is the FULL
    * OUTER form; the inner and left-outer joins
    * ([[changelogJoinStream]], [[changelogLeftJoinStream]]) keep the
    * subset of its rows their join type defines.
    *
    * Delta rules, per op in `seq` order:
    *
    *   - a new/updated row on one side emits D-deltas against the
    *     other side's live rows for its PRIOR value (if any) and
    *     I-deltas for its new value — an update is its own retraction;
    *   - a delete emits only the D-deltas;
    *   - an idempotent update (same value re-sent) emits nothing
    *     (the normalize-stage dedup — without it every no-op U would
    *     churn |other side| rows downstream);
    *   - a delete of an unknown id is a silent no-op (at-least-once
    *     producers re-send tombstones).
    *
    * Padding: an unmatched row is VISIBLE as a null-padded result row,
    * and that padding is itself retractable state. Each side carries
    * an association counter (its live-row count — Flink's
    * `StreamingJoinOperator` keeps one per row for exactly these swaps;
    * here it is O(1) per op), and every op follows one symmetric rule:
    *
    *   - other side empty  → the op swaps its OWN padding (D prior /
    *     I next, other side null);
    *   - other side live   → pair deltas, as above;
    *   - own 0→1 transition → the other side's live rows RETRACT
    *     their padding first; own 1→0 → they take it back after.
    *
    * The pair rows and the left-padding rows are therefore exactly the
    * rows, in the same order, that a dedicated inner or left-outer
    * processor emits: pairs exist only while both sides are live, and
    * a right op's 0→1 / 1→0 transition is the right side's
    * empty↔non-empty change the left join's padding swaps key on.
    *
    * The fold contract: summing +1 ("I") / −1 ("D") per distinct
    * (group, l_id, r_id, l_val, r_val) row yields exactly the join of
    * the two sides' net states, because every delta batch is the exact
    * symmetric difference of consecutive join states (the specs and the
    * `stream_changelog_join*` gates pin this against the definitional
    * net-state joins).
    *
    * STATE PLACEMENT: the two live maps — O(live ids) per group per
    * side, the same irreducible materialization Flink's streaming join
    * holds — plus the two counters, keyed by `group`, which IS the
    * equi-join key; per-op emission is O(|other side's live set|), the
    * inherent changelog-join cost. A hot join key concentrates its two
    * live maps on one task. Unlike the aggregate family — where the
    * [[changelogNormalizeStream]] retract split moves the O(live ids)
    * last-row map to (group, id) sharding and leaves the aggregate
    * accumulator-only — the split does NOT relieve a join: emitting
    * pairs inherently requires BOTH sides' live rows co-located by the
    * join key, so the pair-producing state is join-key-sharded in ANY
    * factoring. Flink's retract joins carry the same shape; the
    * mitigations at 100 TB are upstream — key design (compound keys),
    * pre-aggregation before the join, salting plus re-merge, or a
    * broadcast side when one input is parameter-sized.
    */
  class ChangelogFullJoinProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, SideOp, FullJoinDelta] {
    @transient private var lmap:
      org.apache.spark.sql.streaming.MapState[Long, Long] = _
    @transient private var rmap:
      org.apache.spark.sql.streaming.MapState[Long, Long] = _
    @transient private var counts:
      org.apache.spark.sql.streaming.ValueState[(Long, Long)] = _

    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      lmap = getHandle.getMapState[Long, Long]("lmap",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      rmap = getHandle.getMapState[Long, Long]("rmap",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      counts = getHandle.getValueState[(Long, Long)]("counts",
        org.apache.spark.sql.Encoders.kryo[(Long, Long)],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[SideOp],
        timerValues: org.apache.spark.sql.streaming.TimerValues):
        Iterator[FullJoinDelta] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[FullJoinDelta]
      // no counter: a fresh key (both maps empty), or a checkpoint
      // written before the inner and left joins ran on this processor
      // (their state is the same two live maps, no counter) — the map
      // sizes are the true counts either way
      var (lc, rc) =
        if (counts.exists()) counts.get()
        else (lmap.keys().size.toLong, rmap.keys().size.toLong)
      def pad(isLeft: Boolean, op: String, id: Long, v: Long): FullJoinDelta =
        if (isLeft) FullJoinDelta(op, key, Some(id), None, Some(v), None)
        else FullJoinDelta(op, key, None, Some(id), None, Some(v))
      def pair(op: String, lid: Long, lv: Long, rid: Long, rv: Long) =
        FullJoinDelta(op, key, Some(lid), Some(rid), Some(lv), Some(rv))
      rows.toSeq.sortBy(_.seq).foreach { r =>
        val isLeft = r.side == "L"
        require(isLeft || r.side == "R",
          s"changelogFullJoinStream: unknown side '${r.side}' (want L/R)")
        val own = if (isLeft) lmap else rmap
        val other = if (isLeft) rmap else lmap
        val otherCount = if (isLeft) rc else lc
        val prior = if (own.containsKey(r.id)) Some(own.getValue(r.id))
                    else None
        val next = r.op match {
          case "I" | "U" => Some(r.value_c)
          case "D"       => None
          case bad => throw new IllegalArgumentException(
            s"changelogFullJoinStream: unknown op '$bad' (want I/U/D)")
        }
        if (prior != next) {
          if (otherCount == 0L) {
            prior.foreach(v => out += pad(isLeft, "D", r.id, v))
            next.foreach(v => out += pad(isLeft, "I", r.id, v))
          } else {
            val others = other.iterator().toList
            def emit(op: String, v: Long): Unit = others.foreach {
              case (oid, ov) =>
                out += (if (isLeft) pair(op, r.id, v, oid, ov)
                        else pair(op, oid, ov, r.id, v))
            }
            // own 0 -> 1: the other side's paddings retract first
            if (prior.isEmpty && (if (isLeft) lc else rc) == 0L)
              others.foreach { case (oid, ov) =>
                out += pad(!isLeft, "D", oid, ov)
              }
            prior.foreach(emit("D", _))
            next.foreach(emit("I", _))
            // own 1 -> 0: the other side takes its padding back
            if (next.isEmpty && (if (isLeft) lc else rc) == 1L)
              others.foreach { case (oid, ov) =>
                out += pad(!isLeft, "I", oid, ov)
              }
          }
          val d = (prior, next) match {
            case (None, Some(_)) => 1L
            case (Some(_), None) => -1L
            case _ => 0L
          }
          if (isLeft) lc += d else rc += d
          next match {
            case Some(v) => own.updateValue(r.id, v)
            case None    => own.removeKey(r.id)
          }
        }
      }
      counts.update((lc, rc))
      out.iterator
    }
  }

  def changelogFullJoinStream(ops: Dataset[SideOp]): Dataset[FullJoinDelta] = {
    import ops.sparkSession.implicits._
    ops.groupByKey(_.group)
      .transformWithState(new ChangelogFullJoinProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Append())
  }

  /** stream_changelog_join_full gate — the full-outer closure on the
    * thinned fixture with group 3's RIGHT side and group 2's LEFT side
    * removed, so the final answer carries real padding in BOTH
    * directions; folded deltas ≡ DuckDB's net-state FULL JOIN.
    */
  def changelogFullJoinGate(s: SparkSession, dir: String): DataFrame = {
    foldJoinDeltas(graft.Tables.parquet(s, changelogFullPath(s, dir)),
        "full-outer changelog join")
      .orderBy(col("grp").asc, col("l_id").asc_nulls_last,
        col("r_id").asc_nulls_last)
  }

  /** INNER changelog equi-join: [[changelogFullJoinStream]]'s pair
    * rows (both ids defined) — see [[ChangelogFullJoinProcessor]] for
    * the delta rules, fold contract and state placement.
    */
  def changelogJoinStream(ops: Dataset[SideOp]): Dataset[JoinDelta] = {
    import ops.sparkSession.implicits._
    changelogFullJoinStream(ops).flatMap(d =>
      for (lid <- d.l_id; rid <- d.r_id)
        yield JoinDelta(d.op, d.group, lid, rid, d.l_val.get, d.r_val.get))
  }

  /** Memoized seq-ordered SideOp fixture for the changelog-join gates:
    * the inner form's unfiltered two-sided changelog (left: even
    * event_ids folded to 13 id slots, right: odd folded to 11, groups =
    * user_id mod 4). The left/full gates derive their thinned fixtures
    * by driver-side filters on this one (`seq` IS the event_id), so the
    * three gates share one Spark collect.
    */
  private def sideOpFixture(s: SparkSession, dir: String): Seq[SideOp] =
    memoFixture("sideop", dir) {
      import s.implicits._
      graft.Tables.t(s, dir, "events")
        .select(
          when(col("event_type") === "purchase", lit("D"))
            .when(col("event_type") === "click", lit("U"))
            .otherwise(lit("I")).as("op"),
          col("event_id").as("seq"),
          pmod(col("user_id"), lit(4)).cast("long").as("group"),
          col("event_id").cast("long").as("eid"),
          round(col("value") * 100).cast("long").as("value_c"))
        .select(
          when(pmod(col("eid"), lit(2)) === 0, lit("L")).otherwise(lit("R"))
            .as("side"),
          col("op"), col("seq"), col("group"),
          when(pmod(col("eid"), lit(2)) === 0, pmod(col("eid"), lit(13)))
            .otherwise(pmod(col("eid"), lit(11))).cast("long").as("id"),
          col("value_c"))
        .as[SideOp].orderBy(col("seq")).collect().toIndexedSeq
    }

  /** The inner changelog-join replay over the unthinned fixture,
    * memoized as a parquet PATH.
    */
  private def changelogInnerPath(s: SparkSession, dir: String): String =
    memoFixture("changelog_inner_replay_path", dir) {
      import s.implicits._
      replayTypedPath(s, sideOpFixture(s, dir), Nil, "append")(ds =>
        changelogJoinStream(ds).toDF())
    }

  /** The outer gates' thinned fixture: every third op (the padding
    * transitions stay exercised at a third of the replay cost), with
    * group 3's right side removed so its left rows stay unmatched.
    */
  private def outerJoinFixture(s: SparkSession, dir: String): Seq[SideOp] =
    sideOpFixture(s, dir).filter(o =>
      o.seq % 3 == 0 && !(o.side == "R" && o.group == 3L))

  private def changelogLeftPath(s: SparkSession, dir: String): String =
    memoFixture("changelog_left_replay_path", dir) {
      import s.implicits._
      replayTypedPath(s, outerJoinFixture(s, dir), Nil, "append")(ds =>
        changelogLeftJoinStream(ds).toDF())
    }

  /** The full-outer replay also drops group 2's left side, so padding
    * survives in both directions.
    */
  private def changelogFullPath(s: SparkSession, dir: String): String =
    memoFixture("changelog_full_replay_path", dir) {
      import s.implicits._
      val fixture = outerJoinFixture(s, dir)
        .filter(o => !(o.side == "L" && o.group == 2L))
      replayTypedPath(s, fixture, Nil, "append")(ds =>
        changelogFullJoinStream(ds).toDF())
    }

  /** stream_changelog_join gate — two events-derived changelogs (left:
    * even event_ids folded to 13 id slots, right: odd folded to 11,
    * groups = user_id mod 4, same op mapping as
    * [[changelogFromEvents]]) interleaved by seq and replayed in 2
    * micro-batches; the emitted deltas fold by signed count
    * ([[foldJoinDeltas]]) and must equal DuckDB's definitional
    * net-state join.
    */
  def changelogJoinGate(s: SparkSession, dir: String): DataFrame = {
    foldJoinDeltas(graft.Tables.parquet(s, changelogInnerPath(s, dir)),
        "changelog join")
      .orderBy(col("grp"), col("l_id"), col("r_id"))
  }

  /** Signed-count fold shared by the changelog-join gates: summing +1
    * ("I") / −1 ("D") per distinct joined row leaves multiplicity 1 on
    * exactly the join of the two sides' net states. Any multiplicity
    * outside {0, 1} is a dropped or duplicated retraction and fails
    * loudly rather than filtering silently.
    */
  private def foldJoinDeltas(deltas: DataFrame, join: String): DataFrame = {
    val folded = deltas
      .groupBy(col("group").as("grp"), col("l_id"), col("r_id"),
        col("l_val"), col("r_val"))
      .agg(sum(when(col("op") === "I", 1L).otherwise(-1L)).as("m"))
      // one fold computation serves both the multiplicity assert and
      // the returned slice (the assert's collect would otherwise re-run
      // the whole delta aggregation a second time under the noop sink)
      .localCheckpoint(true)
    val badRows = folded.filter(col("m") =!= 0L && col("m") =!= 1L)
      .limit(5).collect()
    require(badRows.isEmpty,
      s"$join fold produced multiplicity outside {0,1}: " +
        badRows.mkString(", "))
    folded.filter(col("m") === 1L)
      .select(col("grp"), col("l_id"), col("r_id"),
        col("l_val"), col("r_val"))
  }

  /** (user_id, ts_us, event_id, event_type) stream → completed pattern
    * matches, emitted as the watermark makes their rows final. Symbol
    * patterns only carry a zero value; DEFINE-predicate patterns take
    * [[cepStreamValued]].
    */
  def cepStream(events: Dataset[(Long, Long, Long, String)],
      pattern: Seq[graft.operators.Cep.Step],
      windowUs: Long,
      after: graft.operators.Cep.AfterMatch = graft.operators.Cep.SkipPastLast,
      contiguous: Boolean = true,
      lateCounter: Option[org.apache.spark.util.LongAccumulator] = None)
      : Dataset[graft.operators.Cep.CepMatch] = {
    // this unvalued surface feeds value_c = 0 for every row, so a
    // value-dependent DEFINE predicate would evaluate against zeros —
    // a sumCap that never binds, a cmp that never matches — silently.
    // Route valued patterns to cepStreamValued with real cents.
    require(pattern.forall(st => st.cmp.isEmpty && st.sumCap.isEmpty &&
        st.cross.isEmpty),
      "cepStream: pattern carries value-dependent DEFINE predicates " +
        "(PREV comparison / SUM cap / cross-variable navigation) — " +
        "use cepStreamValued with a value_c column (this surface " +
        "feeds value 0)")
    import events.sparkSession.implicits._
    cepStreamValued(events.map(r => (r._1, r._2, r._3, r._4, 0L)),
      pattern, windowUs, after, contiguous, lateCounter)
  }

  /** (user_id, ts_us, event_id, event_type, value_c) stream — the
    * valued form [[cepStream]] wraps, required when the pattern
    * carries DEFINE predicates (value vs PREV comparisons). One spec
    * through [[cepStreamMulti]]: see [[CepMultiStreamProcessor]] for the
    * watermark buffer, the late-row contract and the horizon advance.
    */
  def cepStreamValued(events: Dataset[(Long, Long, Long, String, Long)],
      pattern: Seq[graft.operators.Cep.Step],
      windowUs: Long,
      after: graft.operators.Cep.AfterMatch = graft.operators.Cep.SkipPastLast,
      contiguous: Boolean = true,
      lateCounter: Option[org.apache.spark.util.LongAccumulator] = None,
      grouped: Option[graft.operators.Cep.GPat] = None)
      : Dataset[graft.operators.Cep.CepMatch] = {
    import events.sparkSession.implicits._
    cepStreamMulti(events, Seq(CepSpec(pattern.toIndexedSeq, windowUs, after,
      contiguous, grouped)), lateCounter).map(_._2)
  }

  /** STREAMING MEASURES — the live twin of [[graft.operators.Cep
    * .cepMeasuresOf]] (Flink's streaming MATCH_RECOGNIZE computes
    * MEASURES, not just match spans): one [[graft.operators.Cep
    * .CepMeasured]] row PER (completed match, step), emitted the
    * instant the match completes — COUNT/SUM/MIN/MAX of the step's
    * consumed rows in exact cents, FIRST/LAST event ids. The rows are
    * self-contained (no downstream state needed), so the stream stays
    * a plain append stream; pivot per match downstream exactly as the
    * batch pivot does. One `measured` spec through
    * [[cepStreamMultiMeasured]], keeping its measured channel: same
    * processor, machine, state shape, and emission discipline as
    * [[cepStreamValued]] — only the output channel differs.
    */
  def cepStreamMeasures(events: Dataset[(Long, Long, Long, String, Long)],
      pattern: Seq[graft.operators.Cep.Step],
      windowUs: Long,
      after: graft.operators.Cep.AfterMatch = graft.operators.Cep.SkipPastLast,
      contiguous: Boolean = true)
      : Dataset[graft.operators.Cep.CepMeasured] = {
    import events.sparkSession.implicits._
    cepStreamMultiMeasured(events, Seq(CepSpec(pattern.toIndexedSeq,
        windowUs, after, contiguous, measured = true)))
      .filter(_._1 == CepMeasuredTag).map(_._2)
  }

  /** The SQL-string surface of [[cepStreamMeasures]]: the clause's
    * MEASURES are strictly parsed (names/fields validated scan-free)
    * and the pattern runs live; output is the per-(match, step) row
    * stream — pivot per match downstream with
    * [[graft.operators.MatchRecognize.pivotMeasured]] once the rows
    * land in batch storage (the pivot is a per-match aggregation, a
    * batch shape; the stream itself stays append-only).
    */
  def cepStreamSqlMeasures(events: Dataset[(Long, Long, Long, String, Long)],
      sql: String): Dataset[graft.operators.Cep.CepMeasured] = {
    val parsed = graft.operators.MatchRecognize.parse(sql)
    graft.operators.MatchRecognize.requireRunnable(parsed,
      "cepStreamSqlMeasures", allRows = false)
    require(parsed.grouped.isEmpty,
      "match_recognize: MEASURES range over FLAT pattern variables")
    // strict-parse the MEASURES clause now — a malformed measure must
    // fail at submission, not at the downstream pivot
    graft.operators.MatchRecognize.parseMeasures(parsed.rawMeasures)
    requireNoRowPreds(parsed, "cepStreamSqlMeasures")
    cepStreamMeasures(events, parsed.pattern, parsed.windowUs,
      parsed.after)
  }

  /** NAMED MULTI-CLAUSE registration — the Flink-user shape "many
    * MATCH_RECOGNIZE patterns on one stream" as SQL strings: each
    * clause parses through the full [[graft.operators.MatchRecognize]]
    * surface (quantifiers, alternation, DEFINE, WITHIN, AFTER MATCH,
    * grouped patterns), all machines run over ONE shared buffer
    * ([[cepStreamMulti]] — one state-store lifecycle, the buffer
    * stored once), and matches come back under their clause's NAME.
    */
  def cepStreamSqlMulti(events: Dataset[(Long, Long, Long, String, Long)],
      clauses: Seq[(String, String)])
      : Dataset[(String, graft.operators.Cep.CepMatch)] = {
    require(clauses.nonEmpty, "cepStreamSqlMulti: no clauses")
    require(clauses.map(_._1).distinct.length == clauses.length,
      "cepStreamSqlMulti: clause names repeat")
    val specs = clauses.map { case (name, sql) =>
      val p = graft.operators.MatchRecognize.parse(sql)
      graft.operators.MatchRecognize.requireRunnable(p,
        s"cepStreamSqlMulti '$name'", allRows = false)
      requireNoRowPreds(p, s"cepStreamSqlMulti '$name'")
      CepSpec(p.pattern.toIndexedSeq, p.windowUs, p.after,
        grouped = p.grouped)
    }
    val names = clauses.map(_._1).toIndexedSeq
    import events.sparkSession.implicits._
    cepStreamMulti(events, specs)
      .map { case (tag, c) => (names(tag), c) }
  }

  /** GROUP-QUANTIFIER streaming CEP — the live twin of
    * `Cep.cepMatchGroupedOf` (quantified sub-sequences, `(A B)+ C`):
    * the same compiled split-program runs inside the shared
    * watermark-ordered drain, its buffer crossing micro-batch seams
    * through the same ValueState snapshot.
    */
  def cepStreamGrouped(events: Dataset[(Long, Long, Long, String)],
      gpat: graft.operators.Cep.GPat, windowUs: Long,
      after: graft.operators.Cep.AfterMatch = graft.operators.Cep.SkipPastLast)
      : Dataset[graft.operators.Cep.CepMatch] = {
    // same zero-value contract as cepStream: a cmp/sumCap leaf would
    // silently evaluate against zeros — demand the valued surface
    require(graft.operators.Cep.gLeaves(gpat)
        .forall(st => st.cmp.isEmpty && st.sumCap.isEmpty),
      "cepStreamGrouped: pattern carries value-dependent DEFINE " +
        "predicates (PREV comparison / SUM cap) — use cepStreamValued " +
        "with grouped = Some(gpat) and a value_c column")
    import events.sparkSession.implicits._
    cepStreamValued(events.map(r => (r._1, r._2, r._3, r._4, 0L)),
      graft.operators.Cep.gLeaves(gpat), windowUs, after,
      grouped = Some(gpat))
  }

  /** One machine of [[cepStreamMulti]]: a full CEP pattern spec —
    * everything [[cepStreamValued]] takes, minus the stream itself.
    */
  final case class CepSpec(pattern: IndexedSeq[graft.operators.Cep.Step],
      windowUs: Long,
      after: graft.operators.Cep.AfterMatch =
        graft.operators.Cep.SkipPastLast,
      contiguous: Boolean = true,
      grouped: Option[graft.operators.Cep.GPat] = None,
      withTimeouts: Boolean = false,
      measured: Boolean = false)

  /** Tag offset for timed-out partials in [[cepStreamMulti]]'s output:
    * spec i's matches carry tag i, its window-expired partials tag
    * i + CepTimeoutTag (only when the spec sets `withTimeouts`).
    */
  val CepTimeoutTag: Int = 1000

  /** Tag offset for the MEASURED channel of [[cepStreamMultiMeasured]]:
    * a spec with `measured = true` additionally emits its matches'
    * per-(match, step) aggregate rows under tag i + CepMeasuredTag —
    * same machine, same feeds, so the match channel (tag i) stays
    * byte-identical with or without the flag.
    */
  val CepMeasuredTag: Int = 2000

  /** STREAMING CEP — the live twin of [[graft.operators.Cep.cepMatchOf]]
    * (Flink's MATCH_RECOGNIZE on an unbounded stream), for N
    * independent pattern machines over ONE buffered scan of the stream.
    * Every streaming CEP surface runs here: the single-pattern forms
    * ([[cepStreamValued]], [[cepStreamMeasures]] and their wrappers)
    * are one spec, and Flink users who register many patterns on the
    * same source get one buffer and one state-store lifecycle instead
    * of N.
    *
    * Watermark buffer: contiguous per-key pattern matching needs rows
    * in exact (ts, id) order, which only the watermark can guarantee,
    * so rows buffer in per-key MapState keyed by timestamp (the
    * OverWindowProcessor shape) and an event-time timer DRAINS every
    * ripe instant in order through the SAME automaton the batch fold
    * runs — each machine's state carried in a ValueState (`m2_$i`)
    * across micro-batches, so a pattern spanning batches (or idle
    * hours) matches exactly as the batch scan would. State per key =
    * O(automata) + the buffer inside the lateness horizon, never the
    * stream. The buffer, late-row guard, drain-frontier short-circuit
    * and timers are SHARED; each drain feeds the ripe rows to every
    * machine in the same order, so per-pattern emissions equal N
    * separate one-spec queries (machines are deterministic functions of
    * the fed row sequence; the watermark advance is the same one).
    * Output rows are (tag, match) — see [[cepStreamMultiMeasured]].
    *
    * Late rows: a row at or below the watermark (or the key's last
    * drain) on arrival is dropped — its instant already drained, the
    * shared late-row contract; Flink CEP buffers out-of-order rows
    * against the watermark identically. Each drop counts ONCE into
    * `lateCounter` (the buffer is shared — a late row is lost to all
    * machines together).
    *
    * Horizon advance: patterns whose pendings resolve by TIME
    * (trailing negations, relaxed quantified runs, timeout channels)
    * advance to the watermark after each drain and keep an event-time
    * timer at the head's window horizon, so the emission fires even if
    * no further row ever arrives for the key; at any machine's horizon
    * firing every TIME-GATED machine advances, while row-fed machines
    * skip untouched when nothing drained (their state roundtrip is
    * elided, not just identity).
    */
  class CepMultiStreamProcessor(specs: IndexedSeq[CepSpec],
      lateCounter: Option[org.apache.spark.util.LongAccumulator] = None)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, Long, String, Long),
        (Int, graft.operators.Cep.CepMeasured)] with MinTimerChain {
    @transient private var buf:
      org.apache.spark.sql.streaming.MapState[
        Long, List[(Long, String, Long)]] = _
    @transient private var mstates:
      Array[org.apache.spark.sql.streaming.ValueState[
        List[(Long, Long, String, Long)]]] = _
    @transient private var drained:
      org.apache.spark.sql.streaming.ValueState[Long] = _

    // withTimeouts machines also need timers + advances: an abandoned
    // partial's emission point is its head's horizon, a TIME
    private val needsAdvanceI: IndexedSeq[Boolean] = specs.map(sp =>
      sp.pattern.exists(_.neg) || sp.withTimeouts ||
        (!sp.contiguous && sp.pattern.exists(_.bounds != ((1, 1)))))
    private val anyAdvance = needsAdvanceI.exists(identity)

    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      // state names carry a FORMAT VERSION suffix: r12 widened both the
      // buffer entries and the machine snapshot from 3- to 4-tuples
      // (value_c rides along for DEFINE predicates), and the Kryo
      // payloads are not forward-compatible, so the bumped names
      // ("buf2", "m2_$i") keep an old payload from being read into the
      // new shape. A renamed variable does NOT fail a restart, though:
      // Spark 4.1 accepts added and removed column families as schema
      // evolution, so a checkpoint whose names differ resumes with the
      // renamed variables EMPTY (checked: a single-pattern checkpoint
      // with its machine under "m2" resumed here as a fresh machine,
      // dropping the match in flight). Any state-shape change must bump
      // again and start fresh checkpoints. Machine snapshots are indexed
      // per spec — the spec LIST is part of the checkpoint contract
      // (reordering specs across a restart mixes machine states; add
      // new patterns at the end or start a fresh checkpoint)
      buf = getHandle.getMapState[Long, List[(Long, String, Long)]]("buf2",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.kryo[List[(Long, String, Long)]],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      mstates = specs.indices.map(i =>
        getHandle.getValueState[List[(Long, Long, String, Long)]](s"m2_$i",
          org.apache.spark.sql.Encoders
            .kryo[List[(Long, Long, String, Long)]],
          org.apache.spark.sql.streaming.TTLConfig.NONE)).toArray
      drained = getHandle.getValueState[Long]("drained",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      initTimerChain()
    }

    /** The match channel's row shape: a CepMeasured SHELL carrying the
      * match identity with step = −1 and empty aggregate fields —
      * [[cepStreamMulti]] projects it back to CepMatch; the measured
      * channel (tag i + CepMeasuredTag) carries real per-step rows.
      */
    private def shell(c: graft.operators.Cep.CepMatch)
        : graft.operators.Cep.CepMeasured =
      graft.operators.Cep.CepMeasured(c.user_id, c.start_event_id,
        c.start_ts_us, c.end_event_id, c.end_ts_us, c.n_rows,
        -1, "", 0L, 0L, None, None, None, None)

    override def handleInputRows(key: Long,
        rows: Iterator[(Long, Long, Long, String, Long)],
        timerValues: org.apache.spark.sql.streaming.TimerValues):
        Iterator[(Int, graft.operators.Cep.CepMeasured)] = {
      val frontier = if (drained.exists()) drained.get() else Long.MinValue
      val wmMs = timerValues.getCurrentWatermarkInMs()
      val lateBelow =
        if (wmMs > 0L) math.max(frontier, wmMs * 1000L) else frontier
      var batchMin = Long.MaxValue
      rows.foreach { case (_, ts, id, tpe, vc) =>
        if (ts > lateBelow) {
          val cur = if (buf.containsKey(ts)) buf.getValue(ts) else Nil
          buf.updateValue(ts, (id, tpe, vc) :: cur)
          if (ts < batchMin) batchMin = ts
        } else {
          // LATE-DATA OBSERVABILITY: the dropped row is COUNTED so
          // operators surface it instead of losing it silently (Flink's
          // late-data side-output, reduced to the counter). Accumulator
          // semantics: an operational metric — exact on a clean run, may
          // over-count under task retries, like Spark's own SQL metrics.
          lateCounter.foreach(_.add(1L))
        }
      }
      if (batchMin != Long.MaxValue) armChainUs(batchMin)
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo):
        Iterator[(Int, graft.operators.Cep.CepMeasured)] = {
      val wmUs = timerValues.getCurrentWatermarkInMs() * 1000L
      chainFired(expiredTimerInfo.getExpiryTimeInMs())
      // `drained` is the watermark of the key's last drain (≥ every
      // drained instant): a second chain/horizon fire in the same batch
      // finds everything ripe already drained and only re-arms the
      // chain — without the short-circuit each of a batch's per-instant
      // timers re-iterated the whole buffer (O(buffer²) per key per
      // batch). The input-side late guard is max(frontier, initialized
      // watermark), so recording the watermark instead of the max
      // drained instant admits exactly the same rows.
      val already = if (drained.exists()) drained.get() else Long.MinValue
      if (wmUs <= already) {
        rearmChainFrom(buf.keys())
        return Iterator.empty
      }
      val (ripeL, unripe) = buf.iterator().toList.partition(_._1 <= wmUs)
      val ripe = ripeL.sortBy(_._1)
      val minUnripe =
        if (unripe.isEmpty) None else Some(unripe.map(_._1).min)
      if (ripe.isEmpty && !anyAdvance) {
        rearmChain(minUnripe)
        drained.update(wmUs); return Iterator.empty
      }
      // the drain order every machine sees: instants ascending, ids
      // ascending within an instant
      val ripeRows = ripe.flatMap { case (ts, entries) =>
        entries.sortBy(_._1).map { case (id, tpe, vc) => (ts, id, tpe, vc) }
      }
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Int, graft.operators.Cep.CepMeasured)]
      var i = 0
      while (i < specs.length) {
        val sp = specs(i)
        // nothing drained + row-fed machine: state provably untouched
        if (ripeRows.nonEmpty || needsAdvanceI(i)) {
          val m = new graft.operators.Cep.Machine(sp.pattern, sp.windowUs,
            sp.after, sp.contiguous, sp.grouped,
            withTimeouts = sp.withTimeouts,
            // the empty-aggs timeout sentinel needs real aggs on
            // matches, and the measured channel emits them; plain
            // match-only specs skip the per-match fold
            needsAggs = sp.withTimeouts || sp.measured)
          if (mstates(i).exists()) m.restore(mstates(i).get())
          // the empty-aggs sentinel marks a window-expired partial
          // (withTimeouts specs only) — routed to the offset tag so
          // the match channel stays byte-identical; a measured spec's
          // real matches ADDITIONALLY emit per-step aggregate rows on
          // the measured tag (timeout sentinels carry no aggs to emit)
          def emit(c: graft.operators.Cep.CepMatch,
              aggs: List[graft.operators.Cep.StepAgg]): Unit = {
            val cm = c.copy(user_id = key)
            val tag =
              if (sp.withTimeouts && aggs.isEmpty) i + CepTimeoutTag else i
            out += ((tag, shell(cm)))
            if (sp.measured) aggs.foreach(a => out += ((i + CepMeasuredTag,
              graft.operators.Cep.measuredOf(key, cm, a))))
          }
          ripeRows.foreach { case (ts, id, tpe, vc) =>
            m.feedM(ts, id, tpe, vc).foreach { case (c, aggs) =>
              emit(c, aggs)
            }
          }
          if (needsAdvanceI(i)) {
            m.advance(wmUs).foreach { case (c, aggs) => emit(c, aggs) }
            m.pendingHorizonUs.foreach(h =>
              getHandle.registerTimer(h / 1000L + 1L))
          }
          mstates(i).update(m.snapshot)
        }
        i += 1
      }
      ripe.foreach { case (ts, _) => buf.removeKey(ts) }
      rearmChain(minUnripe)
      drained.update(wmUs)
      out.iterator
    }
  }

  /** The FULL multi-pattern channel: tagged [[graft.operators.Cep
    * .CepMeasured]] rows — tag i = spec i's matches as step = −1
    * SHELLS, tag i + [[CepTimeoutTag]] = its window-expired partials,
    * tag i + [[CepMeasuredTag]] = its per-(match, step) MEASURES rows
    * (specs with `measured = true` only; same machine, same feeds, so
    * the match channel is byte-identical with or without the flag —
    * the r14 verdict's channel generalization that lets the measured
    * gate ride the shared replay instead of paying its own state-store
    * lifecycle).
    */
  def cepStreamMultiMeasured(
      events: Dataset[(Long, Long, Long, String, Long)],
      specs: Seq[CepSpec],
      lateCounter: Option[org.apache.spark.util.LongAccumulator] = None)
      : Dataset[(Int, graft.operators.Cep.CepMeasured)] = {
    require(specs.nonEmpty, "cep multi-pattern stream: no pattern specs")
    require(specs.length < CepTimeoutTag,
      s"cep multi-pattern stream: ${specs.length} specs — the timeout tag offset " +
        s"($CepTimeoutTag) must stay disjoint from spec indices")
    specs.foreach { sp =>
      // the Machine's constructor is the pattern check: build each
      // spec's machine here, so a rejection fires before any query
      new graft.operators.Cep.Machine(sp.pattern, sp.windowUs, sp.after,
        sp.contiguous, sp.grouped, withTimeouts = sp.withTimeouts)
      if (sp.measured)
        require(sp.grouped.isEmpty,
          "cep multi-pattern stream: the measured channel ranges over FLAT " +
            "pattern steps (grouped leaves have no single step to " +
            "aggregate — same rule as the batch measures runner)")
    }
    import events.sparkSession.implicits._
    events
      .withColumn("ts", timestamp_micros(col("_2")))
      .withWatermark("ts", "5 seconds")
      .select(col("_1"), col("_2"), col("_3"), col("_4"), col("_5"))
      .as[(Long, Long, Long, String, Long)]
      .groupByKey(_._1)
      .transformWithState(
        new CepMultiStreamProcessor(specs.toIndexedSeq, lateCounter),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        org.apache.spark.sql.streaming.OutputMode.Append())
  }

  /** (user_id, ts_us, event_id, event_type, value_c) stream → tagged
    * matches (spec index, match) from N machines over one shared
    * buffer — see [[CepMultiStreamProcessor]]. Each spec is validated
    * by [[cepStreamMultiMeasured]].
    */
  def cepStreamMulti(events: Dataset[(Long, Long, Long, String, Long)],
      specs: Seq[CepSpec],
      lateCounter: Option[org.apache.spark.util.LongAccumulator] = None)
      : Dataset[(Int, graft.operators.Cep.CepMatch)] = {
    import events.sparkSession.implicits._
    cepStreamMultiMeasured(events, specs, lateCounter)
      .filter(_._1 < CepMeasuredTag)
      .map { case (tag, m) =>
        (tag, graft.operators.Cep.CepMatch(m.user_id, m.start_event_id,
          m.start_ts_us, m.end_event_id, m.end_ts_us, m.n_rows))
      }
  }

  /** STREAMING timed-out partial matches — Flink CEP's `within` +
    * `TimedOutPartialMatchHandler` side output on an unbounded stream:
    * matches (`timed_out = false`) and window-expired partials
    * (`timed_out = true`) in one query. Row-driven timeouts surface at
    * the first drained row past the head's horizon; timer-driven ones
    * at the horizon's event-time timer, so an abandoned partial emits
    * even if no further row ever arrives for its key (the
    * abandoned-cart shape, with the partial's rows instead of a bare
    * absence flag). Same scope as [[graft.operators.Cep.cepTimedOutOf]].
    */
  def cepStreamTimedOut(events: Dataset[(Long, Long, Long, String, Long)],
      pattern: Seq[graft.operators.Cep.Step], windowUs: Long)
      : Dataset[graft.operators.Cep.CepOutcome] = {
    import events.sparkSession.implicits._
    cepStreamMulti(events, Seq(CepSpec(pattern.toIndexedSeq, windowUs,
      withTimeouts = true)))
      .map { case (tag, c) =>
        graft.operators.Cep.CepOutcome(c.user_id, c.start_event_id,
          c.start_ts_us, c.end_event_id, c.end_ts_us, c.n_rows,
          timed_out = tag >= CepTimeoutTag)
      }
  }

  /** stream_sql_mr_measures gate — the STREAMING MEASURES surface end
    * to end: the funnel MEASURES clause (at the stream tier's
    * 10-minute window) parsed by [[graft.operators.MatchRecognize
    * .parse]], run live through [[cepStreamMeasures]] over the
    * day-folded replay (per-(match, step) rows emitted as matches
    * complete), then pivoted to one named column per measure by the
    * SAME pivot the batch runner uses — so the streaming and batch
    * MEASURES surfaces provably share their aggregation semantics.
    * Oracle: the sql_mr_measures islands CTE on the folded corpus at
    * the 10-minute window.
    */
  def streamSqlMrMeasuresGate(s: SparkSession, dir: String): DataFrame = {
    val sql = graft.operators.MatchRecognize.FunnelMeasuresSql
      .replace("INTERVAL '7' DAY", "INTERVAL '10' MINUTE")
    val parsed = graft.operators.MatchRecognize.parse(sql)
    require(parsed.windowUs == 600000000L, s"gate clause drifted: $parsed")
    // the measured rows ride the SHARED multi-pattern replay (r15: the
    // r14 verdict's channel generalization — this gate previously paid
    // its own MemoryStream + state-store lifecycle for a machine
    // identical to spec 0). The contract is structural, asserted here:
    // the clause's machine IS spec 0's (pattern, window, after), so
    // slicing spec 0's measured tag is definitionally the same stream
    // the dedicated replay produced — re-dumped bit-identical at the
    // r15 seam (the hash-contract discipline).
    val sp = CepGateSpecs(0)
    require(sp.measured && sp.pattern == parsed.pattern.toIndexedSeq &&
      sp.windowUs == parsed.windowUs && sp.after == parsed.after,
      "stream_sql_mr_measures: the gate clause no longer matches the " +
        "shared replay's spec 0 — re-align CepGateSpecs")
    val md = cepMultiReplayed(s, dir)
      .filter(col("pat") === CepMeasuredTag).drop("pat")
    graft.operators.MatchRecognize.pivotMeasured(md, parsed)
      .orderBy(col("user_id"), col("start_ts_us"), col("start_event_id"))
  }

  /** stream_cep_group gate — the STREAMING twin of `cep_group`:
    * ((click|view)(signup|error))+ purchase over the day-folded replay
    * with a 10-minute window. Group iterations and window-shifted
    * starts cross the micro-batch seam through the machine snapshot;
    * matches emit eagerly at their purchase's drain (the pattern ends
    * on a required One leaf, so the group's extension pending always
    * resolves at the closing row — stream ≡ batch on the folded
    * corpus, 290 matches / 36 multi-iteration at sf0.01).
    */
  def streamCepGroupGate(s: SparkSession, dir: String): DataFrame =
    cepGateOf(s, dir, 8)

  /** Late-data observability for the SPARK-NATIVE stateful operators
    * (windowed aggregations, dedup, stream-stream joins): Spark counts
    * watermark-dropped rows per stateful operator in each progress
    * entry — sum them across the query's recent progress (deduped by
    * batch, so repeated polls don't double-count). Custom
    * transformWithState processors drop inside their own logic where
    * Spark cannot see; those take an explicit accumulator instead
    * (e.g. [[cepStreamValued]]'s `lateCounter`).
    *
    * WINDOW, NOT LIFETIME: `recentProgress` is a bounded ring
    * (`spark.sql.streaming.numRecentProgressUpdates`, default 100
    * entries) — on a long-running query, batches evicted from the ring
    * no longer contribute, so this sum UNDERCOUNTS the query's lifetime
    * drops. Callers needing a lifetime total should poll per batch and
    * accumulate, or attach a `StreamingQueryListener` and sum
    * `numRowsDroppedByWatermark` from each progress event as it fires.
    * The replay gates drain well under the ring bound, where the sum is
    * exact.
    */
  def lateDropsOf(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
    q.recentProgress
      .groupBy(_.batchId).map(_._2.head)
      .flatMap(p => Option(p.stateOperators).toSeq.flatMap(_.toSeq))
      .map(_.numRowsDroppedByWatermark)
      .sum

  /** Deterministic changelog derived from the events table — the
    * replay fixture the gate and the DuckDB oracle both consume:
    * event_type picks the op (purchase→D, click→U, else I), the id
    * space is folded to 97 slots per group so updates and deletes hit
    * ids earlier ops created, value is exact cents, and `seq` =
    * event_id (unique, monotone with the generator) fixes the order.
    */
  def changelogFromEvents(events: DataFrame): DataFrame =
    events.select(
      when(col("event_type") === "purchase", lit("D"))
        .when(col("event_type") === "click", lit("U"))
        .otherwise(lit("I")).as("op"),
      col("event_id").as("seq"),
      pmod(col("user_id"), lit(8)).cast("long").as("group"),
      pmod(col("event_id"), lit(97)).cast("long").as("id"),
      round(col("value") * 100).cast("long").as("value_c"))

  /** Memoized seq-ordered ChangeOp fixture shared by
    * [[changelogAggGate]] and [[retractTopNGate]].
    */
  private def changelogFixture(s: SparkSession, dir: String): Seq[ChangeOp] =
    memoFixture("changelog", dir) {
      import s.implicits._
      changelogFromEvents(graft.Tables.t(s, dir, "events"))
        .as[ChangeOp].orderBy(col("seq")).collect().toIndexedSeq
    }

  /** stream_changelog_agg gate — MemoryStream replay of the derived
    * changelog in 2 seq-ordered micro-batches through
    * [[changelogAggStream]], reduced to the latest snapshot per group.
    * The DuckDB oracle computes the same answer definitionally: last
    * op per (group, id) by seq, deletes removed, SUM/COUNT per group.
    */
  def changelogAggGate(s: SparkSession, dir: String): DataFrame = {
    val snaps = graft.Tables.parquet(s, changelogAggPath(s, dir))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("group")).orderBy(col("ver").desc)
    snaps.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      // `grp`, not `group`: the oracle compare sorts columns by name
      // and `group` is a reserved word in the oracle engine's SQL
      .select(col("group").as("grp"), col("sum_c"), col("cnt"))
      .orderBy(col("grp"))
  }

  private def changelogAggPath(s: SparkSession, dir: String): String =
    memoFixture("changelog_agg_replay_path", dir) {
      import s.implicits._
      replayTypedPath(s, changelogFixture(s, dir), Nil, "update")(ds =>
        changelogAggStream(ds).toDF())
    }

  private def changelogTopnPath(s: SparkSession, dir: String,
      n: Int): String =
    memoFixture("changelog_topn_replay_path", s"$dir|$n") {
      import s.implicits._
      replayTypedPath(s, changelogFixture(s, dir), Nil, "update")(ds =>
        retractTopNStream(ds, n).toDF())
    }

  /** One row of the unioned temporal-join input. `side` tags which
    * stream the row belongs to:
    *   - "L": a FACT row — (ts_us, key, id, value_c) from the
    *     append-only probe stream;
    *   - "R": a VERSION op on the dimension — op ∈ {"I","U","D"}
    *     applied at validity start `ts_us` ("I"/"U" open a version
    *     with `value_c`; "D" closes the key until the next version);
    *   - "F": a watermark-only FLUSH row (replay harness punctuation) —
    *     carries event time, joins nothing.
    * `seq` breaks ties among version ops at the same validity instant
    * (highest seq wins — the upsert wire collapse); ignored for facts.
    */
  final case class TemporalOp(side: String, op: String, seq: Long,
      ts_us: Long, key: Long, id: Long, value_c: Long)

  /** One joined row: the fact and the dimension version valid AS OF the
    * fact's event time; `r_val` is None when no version was valid (no
    * version yet, or the key was closed by a D) — only the left-outer
    * form emits such rows.
    */
  final case class TemporalJoined(key: Long, id: Long, ts_us: Long,
      l_val: Long, r_val: Option[Long])

  /** EVENT-TIME TEMPORAL JOIN — the Flink Table API's
    * `FOR SYSTEM_TIME AS OF left.rowtime` against a VERSIONED table
    * (`TemporalRowTimeJoinOperator`), the last member of the changelog
    * family: each fact joins the dimension version whose validity start
    * is the LATEST at or before the fact's event time, not the current
    * one — so replayed or out-of-order facts enrich consistently, and
    * the answer is deterministic regardless of arrival interleaving.
    *
    * Correctness requires the fact to WAIT until the dimension's
    * versions at or before its timestamp are final, which is exactly
    * the watermark: facts buffer in per-key MapState keyed by their
    * timestamp, an event-time timer fires when the watermark passes,
    * and the fire resolves every ripe fact against the version history
    * in ascending order. Version ops land in a second MapState
    * (validity start → (op, value, seq)); per instant the highest-seq
    * op wins. Rows at or below the watermark on arrival are dropped on
    * BOTH sides (a late version would rewrite history already joined
    * against — Flink drops them identically), with the same
    * max(drained-frontier, initialized-watermark) guard as
    * [[OverWindowProcessor]] so epoch-adjacent first-batch rows are
    * not misclassified by the zero initial watermark.
    *
    * State is the lateness-bounded fact buffer plus the version
    * history pruned at each drain to the single latest version at or
    * below the watermark (everything strictly older is unreachable:
    * any future fact has ts > watermark and resolves to that version
    * or a newer one) — Flink's `cleanupState` keeps exactly the same
    * one version. Keyed by the join key, so state shards as the join
    * requires; O(1) version lookup per fact via the sorted snapshot of
    * the (pruned, horizon-bounded) history.
    *
    * Batch twin: the as-of join ([[graft.operators.AsOfJoin]]) extended
    * with delete semantics — the gate's oracle computes it
    * definitionally (max-vts-at-or-before per fact, D → null).
    * `leftOuter = false` drops unmatched facts (Flink's default INNER
    * event-time temporal join); `true` emits them null-padded.
    */
  class TemporalJoinProcessor(leftOuter: Boolean,
      lateCounter: Option[org.apache.spark.util.LongAccumulator] = None)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, TemporalOp, TemporalJoined] with MinTimerChain {
    // fact buffer: ts_us → unemitted facts at that instant
    @transient private var facts:
      org.apache.spark.sql.streaming.MapState[Long, List[(Long, Long)]] = _
    // version history: validity start → (op, value, seq)
    @transient private var vers:
      org.apache.spark.sql.streaming.MapState[Long, (String, Long, Long)] = _
    // watermark at the last drain — the late-row guard's frontier
    @transient private var drained:
      org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      facts = getHandle.getMapState[Long, List[(Long, Long)]]("facts",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.kryo[List[(Long, Long)]],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      vers = getHandle.getMapState[Long, (String, Long, Long)]("vers",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.kryo[(String, Long, Long)],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      drained = getHandle.getValueState[Long]("drained",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      initTimerChain()
    }

    override def handleInputRows(key: Long, rows: Iterator[TemporalOp],
        timerValues: org.apache.spark.sql.streaming.TimerValues):
        Iterator[TemporalJoined] = {
      val frontier = if (drained.exists()) drained.get() else Long.MinValue
      val wmMs = timerValues.getCurrentWatermarkInMs()
      val lateBelow =
        if (wmMs > 0L) math.max(frontier, wmMs * 1000L) else frontier
      var batchMin = Long.MaxValue
      rows.foreach { r =>
        r.side match {
          case "L" =>
            if (r.ts_us > lateBelow) {
              val cur =
                if (facts.containsKey(r.ts_us)) facts.getValue(r.ts_us)
                else Nil
              facts.updateValue(r.ts_us, (r.id, r.value_c) :: cur)
              if (r.ts_us < batchMin) batchMin = r.ts_us
            } else lateCounter.foreach(_.add(1L)) // dropped late fact
          case "R" =>
            require(r.op == "I" || r.op == "U" || r.op == "D",
              s"temporalJoinStream: unknown op '${r.op}' (want I/U/D)")
            if (r.ts_us > lateBelow) {
              val keep =
                if (vers.containsKey(r.ts_us)) {
                  val (_, _, seq0) = vers.getValue(r.ts_us)
                  r.seq > seq0 // highest seq at an instant wins
                } else true
              if (keep) vers.updateValue(r.ts_us, (r.op, r.value_c, r.seq))
            } else lateCounter.foreach(_.add(1L)) // dropped late version
          case "F" => // watermark punctuation only
          case other => throw new IllegalArgumentException(
            s"temporalJoinStream: unknown side '$other' (want L/R/F)")
        }
      }
      if (batchMin != Long.MaxValue) armChainUs(batchMin)
      Iterator.empty
    }

    /** Drain every ripe fact (ts ≤ watermark) in ascending order against
      * the version history, then prune the history to the latest version
      * at or below the watermark. Idempotent across the batch's
      * remaining timers (drained instants empty their fact list).
      */
    override def handleExpiredTimer(key: Long,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo):
        Iterator[TemporalJoined] = {
      val wmUs = timerValues.getCurrentWatermarkInMs() * 1000L
      chainFired(expiredTimerInfo.getExpiryTimeInMs())
      val already = if (drained.exists()) drained.get() else Long.MinValue
      if (wmUs <= already) {
        rearmChainFrom(facts.keys())
        Iterator.empty
      } else drainRipe(key, wmUs)
    }

    private def drainRipe(key: Long, wmUs: Long):
        Iterator[TemporalJoined] = {
      val history = vers.iterator().toList.sortBy(_._1)
      val out = scala.collection.mutable.ArrayBuffer.empty[TemporalJoined]
      facts.iterator().toList.sortBy(_._1).foreach { case (ts, pending) =>
        if (ts <= wmUs && pending.nonEmpty) {
          // latest version with validity start ≤ fact ts; D → no value
          val rv = history.takeWhile(_._1 <= ts).lastOption.flatMap {
            case (_, (op, v, _)) => if (op == "D") None else Some(v)
          }
          if (rv.isDefined || leftOuter)
            pending.reverse.foreach { case (id, lv) =>
              out += TemporalJoined(key, id, ts, lv, rv)
            }
          facts.removeKey(ts)
        }
      }
      // prune: keep only the latest version at or below the watermark
      // (still the valid version for in-flight facts above it); strictly
      // older versions are unreachable by any admissible future fact
      history.takeWhile(_._1 <= wmUs).dropRight(1)
        .foreach { case (vts, _) => vers.removeKey(vts) }
      rearmChainFrom(facts.keys())
      drained.update(math.max(
        if (drained.exists()) drained.get() else Long.MinValue, wmUs))
      out.iterator
    }
  }

  final case class RowsAgg(key: Long, ts_us: Long, id: Long,
    value_c: Long, sum_w: Long, cnt_w: Long)

  /** Flink's row-time ROWS-bounded OVER aggregation (Table API
    * `SUM(v) OVER (PARTITION BY key ORDER BY rowtime ROWS BETWEEN n
    * PRECEDING AND CURRENT ROW)`, `RowTimeRowsBoundedPrecedingFunction`)
    * — the COUNT-bounded sibling of [[OverWindowProcessor]]'s RANGE
    * form, completing the streaming OVER family. A ROWS frame needs a
    * TOTAL row order to be deterministic; Flink leaves same-timestamp
    * order to arrival, this operator pins it to (ts, id) — the same
    * tiebreak the batch q15 frame family uses — so replays are
    * reproducible and the batch twin (`rowsBetween(-n, 0)` over
    * `orderBy(ts, id)`) is exact, ties included: tied rows do NOT see
    * each other symmetrically (each sees only peers at or before it in
    * (ts, id) order), the defining difference from the RANGE form.
    *
    * Rows buffer in per-key MapState against the watermark (a row's
    * frame includes the n rows BEFORE it, so it is final the moment
    * its own instant is — but an earlier-timestamped row may still
    * arrive, hence the buffered drain in ascending order); the fire
    * folds ripe rows through a bounded deque of the last n+1 rows
    * carried in ValueState. State per key is O(n) + the
    * lateness-bounded buffer — unlike the RANGE form there is NO
    * window-content retention: the deque IS the frame (Flink's
    * implementation retires rows from state identically). Late rows
    * (at or below the drained frontier / initialized watermark) drop —
    * the shared contract. Per-instant timers short-circuit after the
    * batch's first drain.
    */
  class RowsOverProcessor(n: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, Long, Long), RowsAgg] with MinTimerChain {
    @transient private var buf:
      org.apache.spark.sql.streaming.MapState[Long, List[(Long, Long)]] = _
    // the frame deque: last n+1 (ts, id, value) rows in (ts, id) order
    @transient private var deque:
      org.apache.spark.sql.streaming.ValueState[List[(Long, Long, Long)]] = _
    @transient private var drained:
      org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      buf = getHandle.getMapState[Long, List[(Long, Long)]]("buf",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.kryo[List[(Long, Long)]],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      deque = getHandle.getValueState[List[(Long, Long, Long)]]("deque",
        org.apache.spark.sql.Encoders.kryo[List[(Long, Long, Long)]],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      drained = getHandle.getValueState[Long]("drained",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      initTimerChain()
    }

    override def handleInputRows(key: Long,
        rows: Iterator[(Long, Long, Long, Long)],
        timerValues: org.apache.spark.sql.streaming.TimerValues):
        Iterator[RowsAgg] = {
      val frontier = if (drained.exists()) drained.get() else Long.MinValue
      val wmMs = timerValues.getCurrentWatermarkInMs()
      val lateBelow =
        if (wmMs > 0L) math.max(frontier, wmMs * 1000L) else frontier
      var batchMin = Long.MaxValue
      rows.foreach { case (_, ts, id, v) =>
        if (ts > lateBelow) {
          val cur = if (buf.containsKey(ts)) buf.getValue(ts) else Nil
          buf.updateValue(ts, (id, v) :: cur)
          if (ts < batchMin) batchMin = ts
        }
      }
      if (batchMin != Long.MaxValue) armChainUs(batchMin)
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo):
        Iterator[RowsAgg] = {
      val wmUs = timerValues.getCurrentWatermarkInMs() * 1000L
      chainFired(expiredTimerInfo.getExpiryTimeInMs())
      val already = if (drained.exists()) drained.get() else Long.MinValue
      if (wmUs <= already) {
        rearmChainFrom(buf.keys())
        Iterator.empty
      } else {
        var dq = if (deque.exists()) deque.get() else Nil
        val out = scala.collection.mutable.ArrayBuffer.empty[RowsAgg]
        var mnU = Long.MaxValue
        buf.iterator().toList.sortBy(_._1).foreach { case (ts, pending) =>
          if (ts <= wmUs && pending.nonEmpty) {
            // total order within the instant: id ascending
            pending.sortBy(_._1).foreach { case (id, v) =>
              dq = ((ts, id, v) :: dq).take(n + 1) // newest-first deque
              out += RowsAgg(key, ts, id, v, dq.map(_._3).sum, dq.length)
            }
            buf.removeKey(ts)
          } else if (ts > wmUs && ts < mnU) mnU = ts
        }
        deque.update(dq)
        rearmChain(if (mnU == Long.MaxValue) None else Some(mnU))
        drained.update(math.max(already, wmUs))
        out.iterator
      }
    }
  }

  /** (key, ts_us, id, value_c) stream → per-event trailing ROWS-frame
    * aggregates over the last `n` preceding rows plus the current one,
    * emitted at watermark passage in pinned (ts, id) order.
    */
  def rowsOverStream(events: Dataset[(Long, Long, Long, Long)],
      n: Int = 3): Dataset[RowsAgg] = {
    import events.sparkSession.implicits._
    events
      .withColumn("ts", timestamp_micros(col("_2")))
      .withWatermark("ts", "5 seconds")
      .select(col("_1"), col("_2"), col("_3"), col("_4"))
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new RowsOverProcessor(n),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        org.apache.spark.sql.streaming.OutputMode.Append())
  }

  /** Memoized (key, ts_us, id, value_c) fixture shared by the OVER
    * gates — events folded to 16 keys, cents values, (ts, id) order.
    */
  private def overFixture(s: SparkSession,
      dir: String): Seq[(Long, Long, Long, Long)] =
    memoFixture("over", dir) {
      import s.implicits._
      graft.Tables.t(s, dir, "events")
        .select(
          pmod(col("user_id"), lit(16)).cast("long").as("k"),
          unix_micros(col("ts")).as("ts_us"),
          col("event_id").cast("long").as("id"),
          round(col("value") * 100).cast("long").as("value_c"))
        .as[(Long, Long, Long, Long)]
        .orderBy(col("ts_us"), col("id")).collect().toIndexedSeq
    }

  /** stream_over_rows gate — events folded to 16 keys (cents values,
    * event_id the order tiebreak) replayed time-ordered in 2
    * micro-batches + a flush through [[rowsOverStream]] (n = 3);
    * oracle is the identical batch frame in DuckDB:
    * `ROWS BETWEEN 3 PRECEDING AND CURRENT ROW` over (ts, id).
    */
  def rowsOverGate(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.parquet(s, rowsOverPath(s, dir)).filter(col("id") =!= -1L)
      .select(col("key").as("k"), col("ts_us"), col("id"), col("value_c"),
        col("sum_w"), col("cnt_w"))
      .orderBy(col("k"), col("ts_us"), col("id"))
  }

  /** The OVER gates' flush instant: 10 minutes past the last row, so
    * the watermark passes every real instant (the gates cut the flush
    * row's sentinel id −1).
    */
  private def overFlushTs(fixture: Seq[(Long, Long, Long, Long)]): Long =
    fixture.map(_._2).max + 600000000L

  private def rowsOverPath(s: SparkSession, dir: String): String =
    memoFixture("rows_over_replay_path", dir) {
      import s.implicits._
      val fixture = overFixture(s, dir)
      replayTypedPath(s, fixture, Seq((0L, overFlushTs(fixture), -1L, 0L)),
        "append")(ds => rowsOverStream(ds, n = 3).toDF())
    }

  /** The RANGE replay widens cents to exact doubles before feeding. */
  private def rangeOverPath(s: SparkSession, dir: String): String =
    memoFixture("range_over_replay_path", dir) {
      import s.implicits._
      val cents = overFixture(s, dir)
      val fixture =
        cents.map { case (k, ts, id, v) => (k, ts, id, v.toDouble) }
      replayTypedPath(s, fixture, Seq((0L, overFlushTs(cents), -1L, 0.0)),
        "append")(ds => overWindowStream(ds, windowUs = 600000000L).toDF())
    }

  /** stream_over_range gate — the same replay harness through the r10
    * RANGE-frame [[overWindowStream]] (10-minute trailing window, cents
    * carried exactly in doubles); oracle is DuckDB's RANGE frame over
    * ts_us. The RANGE form's driver gate upgrades it from the spec tier
    * the r10 verdict recorded.
    */
  def rangeOverGate(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.parquet(s, rangeOverPath(s, dir)).filter(col("event_id") =!= -1L)
      .select(col("user_id").as("k"), col("ts_us"),
        col("event_id").as("id"), col("value").as("value_c"),
        col("sum_w"), col("cnt_w"))
      .orderBy(col("k"), col("ts_us"), col("id"))
  }

  /** One fixture row for the streaming replay gates below — the events
    * schema the window/join operators consume, so `src.toDF()` drops
    * straight into them.
    */
  final case class GateEv(event_id: Long, user_id: Long,
      ts: java.sql.Timestamp, event_type: String, value: Double)

  final case class UpsertOp(key: Long, seq: Long, value_c: Long,
      del: Boolean)

  /** stream_upsert_view gate — [[upsertSink]] + [[upsertLiveView]]
    * driver-oracled: an events-derived CDC stream (64 key slots,
    * seq = event_id — globally unique, so the per-key ts race is
    * deterministic; purchases are tombstones) replays in 2
    * micro-batches through the write-then-swap sink, and the gate reads
    * the LIVE view of the final state: latest row per key, tombstoned
    * keys absent (their markers stay in the state table to keep winning
    * future races — exactly the sink's contract, which the oracle
    * reproduces as argmax-by-seq then drop-if-deleted).
    * Memoized per (process, dir, params) in [[graft.FixtureMemo]]: the
    * tables under `dir` must not change within the process.
    */
  def upsertSinkGate(s: SparkSession, dir: String): DataFrame = {
    upsertLiveView(s, upsertStatePath(s, dir), Some("del"))
      .select(col("key"), col("seq"), col("value_c"))
      .orderBy(col("key"))
  }

  private def upsertStatePath(s: SparkSession, dir: String): String =
    memoFixture("upsert_state_dir", dir) {
      import s.implicits._
      implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext
      val fixture = graft.Tables.t(s, dir, "events")
        .select(pmod(col("user_id"), lit(64)).cast("long").as("key"),
          col("event_id").cast("long").as("seq"),
          round(col("value") * 100).cast("long").as("value_c"),
          (col("event_type") === "purchase").as("del"))
        .as[UpsertOp].orderBy(col("seq")).collect()
      val src = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[UpsertOp]
      val stateDir = graft.FixtureMemo.cleanupOnExit(java.nio.file.Files
        .createTempDirectory("graft-upsert-gate").toString) + "/state"
      val q = upsertSink(src.toDF(), stateDir, key = "key", tsCol = "seq",
        tombstoneCol = Some("del"))
      val halves = fixture.grouped(math.max(1, (fixture.length + 1) / 2))
      halves.foreach { chunk =>
        src.addData(chunk.toSeq); q.processAllAvailable()
      }
      q.stop()
      stateDir
    }

  /** Day-folded events fixture shared by the streaming replay gates and
    * (in SQL form) their DuckDB oracles: the 30-day span folds onto one
    * day (micros-of-day + 2024-01-01T00:00Z) and users fold to 16 slots
    * — 30× the temporal density, so 30 s interval matches, 1-minute
    * window-join pairs and multi-row sessions all actually occur at
    * gate SF (they are near-absent on the raw spacing). Ordered by
    * (ts, event_id); no timestamp collisions at gate SFs.
    */
  def gateEventsDayFolded(s: SparkSession,
      dir: String): scala.collection.immutable.ArraySeq[GateEv] =
    memoFixture("dayfold", dir) {
      import s.implicits._
      // unsafeWrapArray: zero-copy, and the ONLY reference to the
      // backing array is this immutable wrapper — type-level read-only
      // for every cache consumer (the shared-instance contract below,
      // enforced by the compiler instead of a comment)
      scala.collection.immutable.ArraySeq.unsafeWrapArray(
        graft.Tables.t(s, dir, "events")
          .select(
            col("event_id").cast("long").as("event_id"),
            pmod(col("user_id"), lit(16)).cast("long").as("user_id"),
            timestamp_micros(pmod(unix_micros(col("ts")),
              lit(86400000000L)) + lit(1704067200000000L)).as("ts"),
            col("event_type"), col("value").cast("double").as("value"))
          .as[GateEv].orderBy(col("ts"), col("event_id")).collect())
    }

  /** Memoized driver-side gate-fixture materialization, keyed by
    * (fixture kind, sf dir). The 28 replay gates share a handful of
    * deterministic events-derived fixtures but each gate used to
    * re-run the derive+sort+collect job (r11 bench: ~0.5-1 s × 28 —
    * pure harness cost, PLANS r12 item 1). The arrays are plain JVM
    * data (no session handles), so the cache is session-independent
    * and safe across the Verify/Bench/spec harnesses; gates treat
    * fixtures as immutable. Gate-scale only: ≤100k rows per entry.
    */
  // SHARED-INSTANCE contract: every caller receives the SAME cached
  // instance for the process lifetime. Every builder returns an
  // IMMUTABLE wrapper (immutable.ArraySeq / toIndexedSeq / toSeq over
  // the collected array, with no other reference to the backing
  // array), so read-only is enforced at the type level — a gate
  // cannot sortInPlace a fixture into cross-gate corruption. The
  // cache never invalidates: regenerating testdata under the same dir
  // within one JVM would serve stale fixtures (never happens in the
  // driver/bench/spec harnesses, which start fresh JVMs per run).
  // Delegates to [[graft.FixtureMemo]], which is NESTING-SAFE: a
  // replay path's memoized build asks the same memo for its input
  // fixture (e.g. [[windowAggPath]] → [[gateEventsDayFolded]]).
  private def memoFixture[T <: AnyRef](kind: String, dir: String)(
      build: => T): T =
    graft.FixtureMemo.of(kind, dir)(build)

  /** Gate-harness conf scope shared by every streaming replay gate:
    * the RocksDB state store (the production store; transformWithState
    * requires its multi-column-family support) and a reduced
    * shuffle/state partition count. The partition cut is pure harness
    * economics: a local replay pays one store open+load+commit per
    * state partition per stateful operator per micro-batch, so at
    * gate-scale fixtures (≤100k rows) 32 partitions × 3 batches ×
    * (1-4 stores/operator) dominates gate wall-clock (42% of the r11
    * bench total). 4 partitions keeps the multi-partition shuffle and
    * cross-partition state paths exercised while cutting that constant
    * 8×; stateful-operator output is partition-invariant, so gate
    * results (and the driver's hashes) are unchanged. Production runs
    * size `spark.sql.shuffle.partitions` to the cluster, not this.
    */
  private def withGateConfs[T](s: SparkSession, rocksdb: Boolean = true)(
      body: => T): T = {
    val pKey = "spark.sql.streaming.stateStore.providerClass"
    val sKey = "spark.sql.shuffle.partitions"
    val prevP = s.conf.getOption(pKey)
    val prevS = s.conf.getOption(sKey)
    if (rocksdb)
      s.conf.set(pKey, "org.apache.spark.sql.execution.streaming" +
        ".state.RocksDBStateStoreProvider")
    s.conf.set(sKey, "4")
    try body finally {
      prevP match {
        case Some(v) => s.conf.set(pKey, v)
        case None => if (rocksdb) s.conf.unset(pKey)
      }
      prevS match {
        case Some(v) => s.conf.set(sKey, v)
        case None => s.conf.unset(sKey)
      }
    }
  }

  /** START-scoped twin of [[withGateConfs]]: the gate confs only
    * matter at streaming-query START — StreamExecution clones the
    * session in its constructor (a strict field, evaluated inside
    * `.start()` before it returns), freezing conf values for the
    * query's whole life — so the mutation scope needs to cover just
    * the start call, not the feed/stop lifecycle. The global monitor
    * keeps concurrent starters from observing each other's scoped
    * confs: gates of different families may be called from different
    * threads on one session, and an unlocked session-conf window would
    * let one family's RocksDB scope leak into another's start.
    */
  private val gateConfLock = new AnyRef
  private def startUnderGateConfs[T](s: SparkSession, rocksdb: Boolean)(
      startFn: => T): T =
    gateConfLock.synchronized { withGateConfs(s, rocksdb)(startFn) }

  /** [[replayTypedPath]] over a day-folded GateEv fixture (+ an
    * optional flush row that advances the watermark past every real
    * window/session end) for the single-input DataFrame gates.
    */
  private def replayPath(s: SparkSession, fixture: IndexedSeq[GateEv],
      flush: Option[GateEv], rocksdb: Boolean = true)(
      build: DataFrame => DataFrame): String = {
    import s.implicits._
    replayTypedPath[GateEv](s, fixture, flush.toSeq,
      "append", rocksdb)(ds => build(ds.toDF()))
  }

  /** Two-input twin of [[replayTypedPath]] for the stream-stream joins:
    * the fixture splits by event type into the two inputs, and BOTH
    * sides advance through the SAME global time boundaries per
    * micro-batch, so neither side's watermark can run ahead and evict
    * join state the other side still needs. Returns the output parquet
    * dir. Partitions-only start scope: Spark's symmetric-hash join
    * keeps FOUR stores per partition
    * (keyToNumValues/keyWithIndexToValue × 2 sides), so a per-gate
    * RocksDB instance per store is pure harness cost; the default
    * store is what these gates always ran on.
    */
  private def replayJoinPath(s: SparkSession, fixture: IndexedSeq[GateEv],
      leftType: String, rightType: String, flush: Option[GateEv] = None)(
      build: (DataFrame, DataFrame) => DataFrame): String = {
    import s.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext
    val l = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[GateEv]
    val r = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[GateEv]
    val outDir = graft.FixtureMemo.cleanupOnExit(java.nio.file.Files
      .createTempDirectory("graft-stream-join-gate").toString)
    val streamDf = build(l.toDF(), r.toDF())
    val q = startUnderGateConfs(s, rocksdb = false) {
      streamDf.writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.write.mode("append").parquet(outDir); ()
        }
        .outputMode("append").start()
    }
    // TWO batches, not four: each micro-batch of a stream-stream join
    // re-touches the accumulated per-side state, so batch count is the
    // replay's cost driver; one seam already proves the cross-batch
    // match path (a pair whose sides arrive in different batches)
    try {
      val halves = fixture.grouped(math.max(1, (fixture.length + 1) / 2))
      halves.foreach { chunk =>
        val lc = chunk.filter(_.event_type == leftType)
        val rc = chunk.filter(_.event_type == rightType)
        if (lc.nonEmpty) l.addData(lc.toSeq)
        if (rc.nonEmpty) r.addData(rc.toSeq)
        q.processAllAvailable()
      }
      // outer joins emit their null-padded rows only at watermark
      // passage: the flush row advances BOTH sides past every
      // interval's expiry so the unmatched state drains
      flush.foreach { f =>
        l.addData(Seq(f)); r.addData(Seq(f)); q.processAllAvailable()
      }
    } finally q.stop()
    outDir
  }

  private def gateFlush(fixture: IndexedSeq[GateEv]): (Long, GateEv) = {
    val maxUs = fixture.map(e => e.ts.getTime * 1000L +
      (e.ts.getNanos / 1000L) % 1000L).max
    (maxUs, GateEv(-1L, -1L,
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
        maxUs / 1000000L + 600L, (maxUs % 1000000L) * 1000L)),
      "flush", 0.0))
  }

  /** The PSI gate's driver-side baseline histogram — definitionally the
    * corpus's own global histogram.
    */
  private def psiBaseline(fixture: IndexedSeq[GateEv], n: Int,
      width: Int): Seq[Long] =
    (0 until n).map(i => fixture.count(e => e.value >= 0 &&
      math.floor(e.value / width).toInt == i).toLong)

  /** The six windowed-AGGREGATION gates' replays (tumble, slide,
    * cumulate, session, dynamic session, windowed PSI over the SAME
    * day-folded fixture): each operator replays in its own memoized
    * [[replayPath]] lifecycle — its own watermark, 2 ordered batches
    * plus the flush row that advances it past every real window/session
    * end — and is its own memoized family, built the first time one of
    * its gates asks for it. Pure windowed aggregations, no
    * transformWithState, so the replays run on the default state store
    * provider (RocksDB stays scoped to the TWS gates that require it).
    */
  private def windowAggPath(s: SparkSession, dir: String, kind: String)(
      agg: DataFrame => DataFrame): String =
    memoFixture(s"${kind}_replay_path", dir) {
      val fixture = gateEventsDayFolded(s, dir)
      replayPath(s, fixture, Some(gateFlush(fixture)._2), rocksdb = false)(agg)
    }

  private def tumblePath(s: SparkSession, dir: String): String =
    windowAggPath(s, dir, "tumble")(tumblingCounts)

  private def slidePath(s: SparkSession, dir: String): String =
    windowAggPath(s, dir, "slide")(slidingCounts)

  private def cumulatePath(s: SparkSession, dir: String): String =
    windowAggPath(s, dir, "cumulate")(cumulateCounts)

  private def sessionPath(s: SparkSession, dir: String): String =
    windowAggPath(s, dir, "session")(sessionCounts)

  private def dynamicSessionPath(s: SparkSession, dir: String): String =
    windowAggPath(s, dir, "dynamic_session")(dynamicSessionCounts)

  private def driftPsiPath(s: SparkSession, dir: String): String = {
    val baseline = psiBaseline(gateEventsDayFolded(s, dir), n = 10, width = 50)
    windowAggPath(s, dir, "drift_psi")(windowedPsiStream(_, baseline, width = 50))
  }

  /** stream_tumble gate — [[tumblingCounts]] replayed over the
    * day-folded fixture; append mode emits each 1-minute window exactly
    * once at watermark close, so the accumulated output must equal the
    * definitional batch GROUP BY (the flush row's own window is cut by
    * the w_start bound). Replayed by [[windowAggPath]].
    */
  def streamTumbleGate(s: SparkSession, dir: String): DataFrame = {
    val (maxUs, _) = gateFlush(gateEventsDayFolded(s, dir))
    graft.Tables.parquet(s, tumblePath(s, dir))
      .select(unix_micros(col("w_start")).as("w_start"), col("event_type"),
        col("cnt"), col("sum_value"))
      .filter(col("w_start") <= maxUs)
      .orderBy(col("w_start"), col("event_type"))
  }

  /** stream_slide gate — [[slidingCounts]] (1-minute window, 30 s
    * slide): every event lands in exactly two windows; same
    * close-once-at-watermark contract.
    */
  def streamSlideGate(s: SparkSession, dir: String): DataFrame = {
    val (maxUs, _) = gateFlush(gateEventsDayFolded(s, dir))
    graft.Tables.parquet(s, slidePath(s, dir))
      .select(unix_micros(col("w_start")).as("w_start"), col("cnt"))
      .filter(col("w_start") <= maxUs)
      .orderBy(col("w_start"))
  }

  /** stream_cumulate gate — [[cumulateCounts]] (Flink CUMULATE TVF,
    * 4-minute max window / 1-minute expanding slices) with its
    * lead-compensated watermark; each slice emits once at close.
    */
  def streamCumulateGate(s: SparkSession, dir: String): DataFrame = {
    val (maxUs, _) = gateFlush(gateEventsDayFolded(s, dir))
    graft.Tables.parquet(s, cumulatePath(s, dir))
      .select(unix_micros(col("w_start")).as("w_start"),
        unix_micros(col("w_end")).as("w_end"), col("cnt"), col("sum_value"))
      .filter(col("w_start") <= maxUs)
      .orderBy(col("w_start"), col("w_end"))
  }

  /** stream_session gate — [[sessionCounts]] (30 s gap) on the folded
    * fixture (1556 multi-row sessions at sf0.01 — the merge path
    * binds); the flush row sits on its own user and is cut by the
    * user bound.
    */
  def streamSessionGate(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.parquet(s, sessionPath(s, dir))
      .filter(col("user_id") >= 0L)
      .select(col("user_id"), unix_micros(col("w_start")).as("w_start"),
        unix_micros(col("w_end")).as("w_end"), col("cnt"))
      .orderBy(col("user_id"), col("w_start"))
  }

  /** STREAMING drift monitor — the live twin of the batch
    * [[graft.operators.Drift]] PSI stage: per tumbling window, the
    * value histogram's population stability index against a REFERENCE
    * histogram (a prior period in production; the corpus histogram in
    * the gate), emitted once at window close. The whole computation is
    * ONE streaming aggregation: the per-bucket counts are pivoted into
    * fixed columns (`nBuckets` is a parameter, so the pivot is
    * schema-bounded — this is what keeps it a single stateful operator
    * instead of the two-phase histogram→PSI chain Spark's append mode
    * rejects), and the PSI fold over the bucket columns plus the
    * broadcast-scalar baseline proportions is a stateless projection.
    * Laplace +1 smoothing on both sides keeps empty buckets finite
    * (the batch operator's exact convention); per-bucket terms are
    * quantized to DECIMAL(20,12) before the sum so the fold is
    * order-independent (the q10e recipe, shared with the batch PSI).
    * Out-of-domain values (bucket outside [0, nBuckets)) are excluded
    * from both histogram and totals — exactly the batch spine
    * semantics. State per window is the nBuckets count columns.
    */
  def windowedPsiStream(events: DataFrame, baseline: Seq[Long],
      width: Int = 50, windowLen: String = "1 hour"): DataFrame = {
    val n = baseline.length
    require(n > 0, "windowedPsiStream: empty baseline histogram")
    val b = floor(col("value") / width).cast("int")
    val cnts = (0 until n).map(i =>
      sum(when(b === i, 1L).otherwise(0L)).as(s"__c$i"))
    val agged = events.withWatermark("ts", "5 seconds")
      .groupBy(window(col("ts"), windowLen).as("w"))
      .agg(cnts.head, cnts.tail: _*)
    val baseTot = baseline.map(_ + 1L).sum.toDouble
    val winTot = (0 until n).map(i => col(s"__c$i") + 1L)
      .reduce(_ + _).cast("double")
    val psi = (0 until n).map { i =>
      val pw = (col(s"__c$i") + 1L).cast("double") / winTot
      val pb = lit((baseline(i) + 1L).toDouble / baseTot)
      ((pw - pb) * log(pw / pb))
        .cast(org.apache.spark.sql.types.DecimalType(20, 12))
    }.reduce(_ + _)
    agged.select(
      unix_micros(col("w.start")).as("w_start"),
      ((0 until n).map(i => col(s"__c$i")).reduce(_ + _)).as("n_in_domain"),
      round(psi.cast("double"), 6).as("psi"))
  }

  /** stream_drift_psi gate — [[windowedPsiStream]] over the day-folded
    * fixture's 24 one-hour windows, baseline = the corpus's own global
    * histogram (computed on the driver from the collected fixture, so
    * gate and oracle share it definitionally); windows with drifted
    * hourly mixes score high, uniform hours near zero.
    */
  def streamDriftPsiGate(s: SparkSession, dir: String): DataFrame = {
    val (maxUs, _) = gateFlush(gateEventsDayFolded(s, dir))
    graft.Tables.parquet(s, driftPsiPath(s, dir))
      .select(col("w_start"), col("n_in_domain"), col("psi"))
      .filter(col("w_start") <= maxUs)
      .orderBy(col("w_start"))
  }

  /** stream_dynamic_session gate — [[dynamicSessionCounts]] (Flink's
    * dynamic session gap: purchases hold 60 s, everything else 30 s)
    * through the same replay; purchase-extended merges bind on the
    * folded fixture.
    */
  def streamDynamicSessionGate(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.parquet(s, dynamicSessionPath(s, dir))
      .filter(col("user_id") >= 0L)
      .select(col("user_id"), unix_micros(col("w_start")).as("w_start"),
        unix_micros(col("w_end")).as("w_end"), col("cnt"))
      .orderBy(col("user_id"), col("w_start"))
  }

  /** stream_interval_join_left gate — [[intervalJoinLeftOuter]]: the
    * OUTER stream-stream join's defining path is the null-padded row a
    * never-matched click emits only once both watermarks pass its
    * interval end (the engine can then prove no match will arrive) —
    * ~3.2k padded vs 82 matched rows at sf0.01, so the padding path
    * dominates the gate. Both sides get the watermark flush row; its
    * own padded emission is cut by the user bound.
    */
  def streamIntervalJoinLeftGate(s: SparkSession, dir: String): DataFrame =
    // slice of the shared full-outer replay (r17 optimization): the
    // left-outer output IS the full output minus the purchase-padded
    // rows — matched pairs emit identically (arrival micro-batch, no
    // watermark involvement) and a click's null-padding decision reads
    // the same watermark trajectory in both join types
    intervalFullReplayed(s, dir)
      .filter(col("click_id").isNotNull && col("user_id") >= 0L)
      .select(col("click_id"), col("purchase_id"), col("user_id"),
        unix_micros(col("click_ts")).as("click_ts"),
        unix_micros(col("purchase_ts")).as("purchase_ts"))
      .orderBy(col("click_id"), col("purchase_id").asc_nulls_last)

  /** stream_interval_join_full gate — [[intervalJoinFullOuter]]: both
    * padding directions bind (clicks with no purchase inside their
    * 30 s window AND purchases with no click in the 30 s before them),
    * plus the matched pairs — the symmetric closure over the same
    * fixture as the inner/left gates. Both sides get the flush row;
    * its own padded emissions are cut by the user bound.
    */
  def streamIntervalJoinFullGate(s: SparkSession, dir: String): DataFrame =
    intervalFullReplayed(s, dir)
      .filter(col("user_id") >= 0L)
      .select(col("click_id"), col("purchase_id"), col("user_id"),
        unix_micros(col("click_ts")).as("click_ts"),
        unix_micros(col("purchase_ts")).as("purchase_ts"))
      .orderBy(col("click_id").asc_nulls_last,
        col("purchase_id").asc_nulls_last)

  /** The one shared interval-join replay per (process, dir): the
    * FULL-OUTER stream-stream interval join over the day-folded fixture
    * (with the watermark flush row), memoized as a parquet PATH. The
    * inner and left gates are exact slices: matched pairs are the inner
    * join (both-non-null rows — stream-stream joins emit matches in the
    * arrival micro-batch regardless of join type), and dropping the
    * purchase-padded rows recovers the left-outer output. One
    * symmetric-hash state lifecycle instead of three (the CEP
    * shared-replay accounting; all three gates re-dumped bit-identical
    * at sf0.01 against the per-gate replays).
    */
  private def intervalFullReplayed(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.parquet(s, intervalFullPath(s, dir))
  }

  private def intervalFullPath(s: SparkSession, dir: String): String =
    memoFixture("interval_full_replay_path", dir) {
      val fixture = gateEventsDayFolded(s, dir)
      val (_, flush) = gateFlush(fixture)
      replayJoinPath(s, fixture, "click", "purchase", Some(flush))(
        intervalJoinFullOuter)
    }

  /** stream_dedup gate — [[dedupStream]] (Q32) over the day-folded
    * replay, keyed on (user_id, event_type) so real duplicates occur
    * at gate SF, with a horizon longer than the fixture span so NO
    * state is evicted during the replay: the gate pins the cross-batch
    * exactly-once contract (a pair recurring in a later micro-batch
    * must NOT re-emit — held state, one emission per key ever). The
    * TTL/eviction half of the contract is batch-boundary-dependent and
    * lives in the spec tier. Output projects the dedup keys themselves
    * because which duplicate row survives within one micro-batch is
    * arrival-order-dependent (Flink's deduplication leaves the same
    * choice to arrival); the keys are the deterministic contract.
    */
  def streamDedupGate(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.parquet(s, streamDedupPath(s, dir))
      .filter(col("user_id") >= 0L)
      .orderBy(col("user_id"), col("event_type"))
  }

  private def streamDedupPath(s: SparkSession, dir: String): String =
    memoFixture("stream_dedup_replay_path", dir) {
      val fixture = gateEventsDayFolded(s, dir)
      val (_, flush) = gateFlush(fixture)
      replayPath(s, fixture, Some(flush))(df =>
        dedupStream(df, horizon = "2 days",
          keys = Seq("user_id", "event_type"))
          .select(col("user_id"), col("event_type")))
    }

  /** stream_window_topn gate — [[windowTopNStream]] (10-minute tumble,
    * top-2 event types, count desc / name asc): the transformWithState
    * Window Top-N emits each closed window's ranking once; oracle ranks
    * the definitional per-window counts.
    */
  def streamWindowTopNGate(s: SparkSession, dir: String): DataFrame = {
    val (maxUs, _) = gateFlush(gateEventsDayFolded(s, dir))
    graft.Tables.parquet(s, windowTopnPath(s, dir))
      .filter(col("w_start_us") <= maxUs)
      .select(col("w_start_us"), col("rk"), col("event_type"), col("cnt"))
      .orderBy(col("w_start_us"), col("rk"))
  }

  private def windowTopnPath(s: SparkSession, dir: String): String =
    memoFixture("window_topn_replay_path", dir) {
      val fixture = gateEventsDayFolded(s, dir)
      val (_, flush) = gateFlush(fixture)
      replayPath(s, fixture, Some(flush))(df => windowTopNStream(df).toDF())
    }

  /** stream_interval_join gate — [[intervalJoin]] (purchases within
    * 30 s after a click, same user): the inner stream-stream join
    * emits each pair exactly once in the micro-batch where both sides
    * are present; 82 pairs bind at sf0.01 on the folded fixture.
    */
  def streamIntervalJoinGate(s: SparkSession, dir: String): DataFrame =
    // slice of the shared full-outer replay: the matched (both ids
    // non-null) rows ARE the inner join's output — padding never has
    // both sides. The flush row feeds BOTH sides and so matches
    // ITSELF; the sentinel-user bound drops that one artifact pair
    // (the dedicated inner replay had no flush at all).
    intervalFullReplayed(s, dir)
      .filter(col("click_id").isNotNull && col("purchase_id").isNotNull &&
        col("user_id") >= 0L)
      .select(col("click_id"), col("purchase_id"), col("user_id"),
        unix_micros(col("click_ts")).as("click_ts"),
        unix_micros(col("purchase_ts")).as("purchase_ts"))
      .orderBy(col("click_id"), col("purchase_id"))

  /** stream_window_join gate — [[windowJoin]] (same 1-minute tumbling
    * window, same user — the boundary semantics that distinguish it
    * from the interval join); 194 pairs bind at sf0.01.
    */
  def streamWindowJoinGate(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.parquet(s, windowJoinPath(s, dir))
      .select(unix_micros(col("w_start")).as("w_start"), col("user_id"),
        col("click_id"), col("purchase_id"))
      .orderBy(col("click_id"), col("purchase_id"))
  }

  private def windowJoinPath(s: SparkSession, dir: String): String =
    memoFixture("window_join_replay_path", dir) {
      replayJoinPath(s, gateEventsDayFolded(s, dir), "click", "purchase")(
        (l, r) => windowJoin(l, r))
    }

  /** Unioned (side-tagged) fact + version-changelog stream → temporally
    * joined facts, emitted as the watermark finalizes them. The single
    * input's watermark IS the min-of-both-inputs watermark Flink's
    * two-input operator tracks.
    */
  def temporalJoinStream(ops: Dataset[TemporalOp],
      leftOuter: Boolean = false,
      lateCounter: Option[org.apache.spark.util.LongAccumulator] = None)
      : Dataset[TemporalJoined] = {
    import ops.sparkSession.implicits._
    ops
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", "5 seconds")
      .select(col("side"), col("op"), col("seq"), col("ts_us"),
        col("key"), col("id"), col("value_c"))
      .as[TemporalOp]
      .groupByKey(_.key)
      .transformWithState(new TemporalJoinProcessor(leftOuter, lateCounter),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        org.apache.spark.sql.streaming.OutputMode.Append())
  }

  /** Events-derived temporal-join fixture: even event_ids are facts,
    * odd ones are dimension-version ops (purchase → D closes the key,
    * else I opens a version), keys fold user_id to 16 slots so every
    * key carries a deep version history. Shared by the gate and (in
    * SQL form) the DuckDB oracle.
    */
  def temporalOpsFromEvents(events: DataFrame): DataFrame =
    events.select(
      when(pmod(col("event_id"), lit(2)) === 0, lit("L"))
        .otherwise(lit("R")).as("side"),
      when(pmod(col("event_id"), lit(2)) === 0, lit("I"))
        .when(col("event_type") === "purchase", lit("D"))
        .otherwise(lit("I")).as("op"),
      col("event_id").as("seq"),
      unix_micros(col("ts")).as("ts_us"),
      pmod(col("user_id"), lit(16)).cast("long").as("key"),
      col("event_id").cast("long").as("id"),
      round(col("value") * 100).cast("long").as("value_c"))

  /** stream_temporal_join[_left] gates — MemoryStream replay of the
    * events-derived fixture in 2 time-ordered micro-batches (plus one
    * flush row 10 min past the end so the 5 s lateness horizon
    * finalizes the tail), compared against DuckDB's definitional as-of:
    * per fact, the max-validity version at or before its timestamp,
    * D → null, inner drops / left keeps the unmatched.
    */
  def temporalJoinGate(s: SparkSession, dir: String,
      leftOuter: Boolean): DataFrame = {
    // ONE shared replay serves both gates (r17 optimization): the
    // processor's ONLY inner/left divergence is the emission guard
    // `rv.isDefined || leftOuter` — same facts, same version lookups —
    // so the inner gate is EXACTLY the left-outer output minus the
    // null-padded rows. Replay the left-outer form once (memoized
    // parquet path, the CEP shared-replay accounting) and slice.
    val base = temporalLeftReplayed(s, dir)
    (if (leftOuter) base else base.filter(col("r_val").isNotNull))
      .select(col("key").as("k"), col("id"), col("ts_us"),
        col("l_val"), col("r_val"))
      .orderBy(col("k"), col("id"))
  }

  /** The one shared temporal-join replay per (process, dir): the
    * left-outer [[temporalJoinStream]] over the events-derived fixture,
    * memoized as a parquet PATH (session-independent, the FixtureMemo
    * contract). Both stream_temporal_join gates slice it — one
    * state-store lifecycle instead of two for provably identical rows
    * (re-dumped bit-identical at sf0.01 against the per-gate replays).
    */
  private def temporalLeftReplayed(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.parquet(s, temporalLeftPath(s, dir))
  }

  private def temporalLeftPath(s: SparkSession, dir: String): String =
    memoFixture("temporal_left_replay_path", dir) {
      import s.implicits._
      val fixture = memoFixture("temporal", dir) {
        temporalOpsFromEvents(graft.Tables.t(s, dir, "events"))
          .as[TemporalOp].orderBy(col("ts_us"), col("seq")).collect()
          .toIndexedSeq
      }
      val flush = TemporalOp("F", "I", Long.MaxValue,
        fixture.map(_.ts_us).max + 600000000L, 0L, -1L, 0L)
      replayTypedPath(s, fixture, Seq(flush), "append")(ds =>
        temporalJoinStream(ds, leftOuter = true).toDF())
    }

  /** The replay core every single-input gate shares: replays
    * `fixture` in 2 ordered micro-batches (+ optional flush rows that
    * advance the watermark) through `build` under a scoped RocksDB
    * provider (transformWithState needs the multi-column-family
    * store), appending each batch's output to parquet. 2 batches by the
    * measured replay-cost cut (PLANS "2-batch replay harness"): one
    * seam already exercises the cross-batch state path; the specs own
    * finer seam semantics. Returns the output parquet dir (registered
    * for exit cleanup) — the memoizable unit the per-family caches
    * hold. The gate-conf scope covers only the query START (see
    * [[startUnderGateConfs]]); the feed/stop lifecycle runs unscoped,
    * so replays started from different threads do not serialize.
    */
  private def replayTypedPath[T](s: SparkSession, fixture: Seq[T],
      flush: Seq[T], mode: String, rocksdb: Boolean = true)(
      build: Dataset[T] => DataFrame)(
      implicit enc: org.apache.spark.sql.Encoder[T]): String = {
    implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext
    val src = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[T]
    val outDir = graft.FixtureMemo.cleanupOnExit(java.nio.file.Files
      .createTempDirectory("graft-typed-gate").toString)
    val streamDf = build(src.toDS())
    val q = startUnderGateConfs(s, rocksdb) {
      streamDf.writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.write.mode("append").parquet(outDir); ()
        }
        .outputMode(mode).start()
    }
    try {
      val halves = fixture.grouped(math.max(1, (fixture.length + 1) / 2))
      halves.foreach { chunk =>
        src.addData(chunk.toSeq); q.processAllAvailable()
      }
      if (flush.nonEmpty) { src.addData(flush); q.processAllAvailable() }
    } finally q.stop()
    outDir
  }

  /** GateEv timestamp → event-time micros (the [[gateFlush]] formula). */
  private def gateEvUs(e: GateEv): Long =
    e.ts.getTime * 1000L + (e.ts.getNanos / 1000L) % 1000L

  /** stream_cep gate — [[cepStream]] (click → view+ → purchase,
    * 10-minute completion window) replayed over the day-folded
    * fixture: the streaming MATCH_RECOGNIZE twin of the batch
    * `cep_funnel` gate. The fold's ~2-minute intra-user spacing makes
    * the 10-minute window BIND in the gate itself (87 of 99 otherwise-
    * complete funnels survive it at sf0.01 — window-killed partials
    * exercise the shared-buffer fallback against the oracle, not just
    * specs); the flush row pushes the watermark past every buffered
    * instant + window so end-of-stream ripe rows drain. Oracle: the
    * batch gate's islands CTE on the folded rows with the same window
    * predicate.
    */
  def streamCepGate(s: SparkSession, dir: String): DataFrame =
    cepGateOf(s, dir, 0) // machine spec in CepGateSpecs; shared replay

  /** stream_cep_timeout gate — the funnel's full outcome stream off
    * the SAME shared replay: tag 0 rows are stream_cep's matches, tag
    * 1000 its timed-out partials (row-driven at the first late drained
    * row, timer-driven at the horizon when no row ever comes — the
    * shared flush advances the watermark past every horizon, so each
    * of the folded corpus's clicks resolves). Oracle: the per-click
    * classification CTE on the folded rows (match / silent kill /
    * timeout with the partial's extent).
    */
  def streamCepTimeoutGate(s: SparkSession, dir: String): DataFrame = {
    val df = cepMultiReplayed(s, dir)
    df.filter(col("pat") === 0 || col("pat") === CepTimeoutTag)
      .withColumn("timed_out", col("pat") === CepTimeoutTag)
      .select((CepMatchCols :+ "timed_out").map(col): _*)
      .orderBy(col("user_id"), col("start_ts_us"), col("start_event_id"))
  }

  /** stream_cep_reluctant gate — the STREAMING twin of
    * `cep_reluctant`: lazy view+? view over the day-folded replay
    * (5-minute window). Pairs complete EAGERLY at their second row —
    * the reluctant walk never waits on a run that could grow — so
    * emission timing differs fundamentally from the greedy gates;
    * window-killed pairs shift the pairing frame by one row.
    */
  def streamCepReluctantGate(s: SparkSession, dir: String): DataFrame =
    cepGateOf(s, dir, 1)

  /** The V-pattern the vshape stream gates run: programmatic form and
    * its 1-hour window (above the folded corpus's 36-min max V span).
    */
  private val VshapeStreamPattern: Seq[graft.operators.Cep.Step] =
    Seq(graft.operators.Cep.Step("*", plus = false, any = true),
      graft.operators.Cep.Step("*", plus = true, any = true,
        cmp = Some(graft.operators.Cep.PrevLt)),
      graft.operators.Cep.Step("*", plus = true, any = true,
        cmp = Some(graft.operators.Cep.PrevGt)))
  private val VshapeStreamWindowUs = 3600000000L

  /** The group gate's pattern: ((click|view)(signup|error))+ purchase. */
  private val CepGroupGatePattern: graft.operators.Cep.GPat =
    graft.operators.Cep.GCat(Seq(
      graft.operators.Cep.GRep(graft.operators.Cep.GCat(Seq(
        graft.operators.Cep.GLf(
          graft.operators.Cep.Step("click", alt = Set("view"))),
        graft.operators.Cep.GLf(
          graft.operators.Cep.Step("signup", alt = Set("error"))))),
        1, Int.MaxValue),
      graft.operators.Cep.GLf(graft.operators.Cep.Step("purchase"))))

  /** The grouped-cross gate's pattern (r17): the group gate's chain
    * with the purchase required to beat the FIRST chain row's value —
    * `P.value > FIRST(A.value)` where leaf 0's pool accumulates
    * across iterations (FIRST = the match's opening row).
    */
  private val CepCrossGroupGatePattern: graft.operators.Cep.GPat =
    graft.operators.Cep.GCat(Seq(
      graft.operators.Cep.GRep(graft.operators.Cep.GCat(Seq(
        graft.operators.Cep.GLf(
          graft.operators.Cep.Step("click", alt = Set("view"))),
        graft.operators.Cep.GLf(
          graft.operators.Cep.Step("signup", alt = Set("error"))))),
        1, Int.MaxValue),
      graft.operators.Cep.GLf(graft.operators.Cep.Step("purchase",
        cross = List(graft.operators.Cep.CrossRef(0, first = true,
          graft.operators.Cep.PrevGt))))))

  /** The TWELVE CEP stream gates' machines in TAG ORDER (the multi
    * replay's `pat` column — tag order is the checkpoint contract, so
    * the list is APPEND-ONLY): funnel, reluctant pairing, V-shape,
    * backtrack, relaxed funnel, abandoned cart (negation), relaxed
    * greedy funnel, SKIP TO NEXT ROW revisit, group quantifier,
    * cross-variable funnel (r15), relaxed cross-variable funnel (r16),
    * grouped cross-variable chain (r17)
    * — every committed one-pattern gate spec verbatim. ONE shared replay
    * serves them all ([[cepMultiReplayed]]): the r13 verdict's
    * tier-budget consolidation lever — N gates over identical row
    * traffic paid N state-store lifecycles and stored the watermark
    * buffer N times for provably identical per-machine emissions.
    * The shared flush sits past the LARGEST window's horizon; each
    * machine's own flush already exceeded every horizon it could
    * have pending, so per-gate outputs (and the driver hashes) are
    * unchanged — a pending that survives its own gate's flush
    * (vshape's final unbroken ascent) survives here identically
    * because its machine never advances on time.
    */
  private val CepGateSpecs: IndexedSeq[CepSpec] = {
    import graft.operators.Cep.{Step, SkipToNextRow, PrevLt, PrevGt}
    IndexedSeq(
      // withTimeouts surfaces the funnel's window-expired partials on
      // the offset tag (stream_cep_timeout), measured its per-step
      // MEASURES rows on the measured tag (stream_sql_mr_measures —
      // r15: the last CEP gate folded into the shared lifecycle) —
      // the match channel (tag 0, stream_cep) is byte-identical with
      // or without either flag (same machine, same feeds)
      CepSpec(IndexedSeq(Step("click"), Step("view", plus = true),
        Step("purchase")), 600000000L, withTimeouts = true,
        measured = true), // 0 stream_cep / _timeout / _mr_measures
      CepSpec(IndexedSeq(Step("view", plus = true, reluctant = true),
        Step("view")), 300000000L), // 1 stream_cep_reluctant
      CepSpec(VshapeStreamPattern.toIndexedSeq,
        VshapeStreamWindowUs), // 2 stream_cep_vshape / stream_sql_mr
      CepSpec(IndexedSeq(Step("view", plus = true), Step("view")),
        180000000L), // 3 stream_cep_backtrack
      CepSpec(IndexedSeq(Step("click"), Step("view"), Step("purchase")),
        300000000L, contiguous = false), // 4 stream_cep_followed
      CepSpec(IndexedSeq(Step("click"), Step("purchase", neg = true)),
        600000000L, contiguous = false), // 5 stream_cep_not_followed
      CepSpec(IndexedSeq(Step("click"), Step("view", plus = true),
        Step("purchase")), 600000000L,
        contiguous = false), // 6 stream_cep_followed_plus
      CepSpec(IndexedSeq(Step("view"), Step("click"), Step("view")),
        600000000L, after = SkipToNextRow), // 7 stream_cep_skip
      CepSpec(graft.operators.Cep.gLeaves(CepGroupGatePattern).toIndexedSeq,
        600000000L,
        grouped = Some(CepGroupGatePattern)), // 8 stream_cep_group
      // r15, APPENDED (the spec list is checkpoint-append-only): the
      // cross-variable DEFINE funnel — purchase > FIRST(V.value) and
      // >= C.value — reading real cents off the shared valued buffer
      CepSpec(IndexedSeq(Step("click"), Step("view", plus = true),
        Step("purchase", cross = List(
          graft.operators.Cep.CrossRef(1, first = true, PrevGt),
          graft.operators.Cep.CrossRef(0, first = false,
            graft.operators.Cep.PrevGe)))),
        600000000L), // 9 stream_cep_cross
      // r16, APPENDED: cross-variable DEFINE under RELAXED contiguity —
      // the generalized subsequence walk's path-tracked FIRST(V)
      // navigation live on the streaming state path (skip-not-kill:
      // a disqualified purchase is skipped, and greedy view takes
      // shrink to expose earlier interleaved purchases)
      CepSpec(IndexedSeq(Step("click"), Step("view", plus = true),
        Step("purchase", cross = List(
          graft.operators.Cep.CrossRef(1, first = true, PrevGt)))),
        600000000L,
        contiguous = false), // 10 stream_cep_cross_followed
      // r17, APPENDED: cross-variable DEFINE on a GROUPED pattern —
      // the group gate's chain with the purchase required to beat
      // FIRST(leaf 0) = the match's opening row; the split-program
      // walk records cross-targeted leaf takes eagerly on the
      // streaming state path (memo disabled — the documented
      // cross-pattern acceptance)
      CepSpec(
        graft.operators.Cep.gLeaves(CepCrossGroupGatePattern).toIndexedSeq,
        600000000L,
        grouped = Some(CepCrossGroupGatePattern))
    ) // 11 stream_cep_cross_group
  }

  /** The one shared CEP-gate replay per (process, dir): the day-folded
    * valued fixture through [[cepStreamMulti]] over [[CepGateSpecs]],
    * memoized as a DataFrame. Machines that ignore values (the
    * previously zero-value gates) see real cents ride the shared
    * buffer — CepMatch carries no value column and symbol-only
    * machines never read one, so outputs are bit-identical.
    */
  private def cepMultiReplayed(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.parquet(s, cepMultiPath(s, dir))
  }

  /** The cache holds the replay's parquet PATH, not a DataFrame —
    * fixtureCache's contract is session-independent plain JVM data
    * (a cached DataFrame would pin a stopped SparkSession); each call
    * re-reads through the CURRENT session, paying one footer read.
    * The user_id sentinel cut rides the streaming projection (a
    * stateless filter on the replay output — same rows as the old
    * post-read filter, without the second parquet write the copy
    * step paid).
    */
  private def cepMultiPath(s: SparkSession, dir: String): String =
    memoFixture("cep_multi_replay_path", dir) {
      import s.implicits._
      val fixture = gateEventsDayFolded(s, dir).map { e =>
        (e.user_id, gateEvUs(e), e.event_id, e.event_type,
          BigDecimal(e.value * 100)
            .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
      }.toSeq
      val flush = (-1L,
        fixture.map(_._2).max + CepGateSpecs.map(_.windowUs).max +
          600000000L, -1L, "flush", 0L)
      replayTypedPath(s, fixture, Seq(flush), "append")(ds =>
        cepStreamMultiMeasured(ds, CepGateSpecs).toDF()
          .select(col("_1").as("pat"), col("_2.*"))
          .filter(col("user_id") >= 0L))
    }

  /** The match channel's column set (CepMatch's fields) — the measured
    * replay rides extra per-step columns that the match-shaped gate
    * slices must project away to keep their committed shapes.
    */
  private val CepMatchCols: Seq[String] = Seq("user_id",
    "start_event_id", "start_ts_us", "end_event_id", "end_ts_us", "n_rows")

  /** One gate's slice of the shared replay: filter its tag, restore
    * the one-pattern gates' exact output shape and order.
    */
  private def cepGateOf(s: SparkSession, dir: String, tag: Int): DataFrame =
    cepMultiReplayed(s, dir).filter(col("pat") === tag)
      .select(CepMatchCols.map(col): _*)
      .orderBy(col("user_id"), col("start_ts_us"), col("start_event_id"))

  /** stream_cep_vshape gate — the STREAMING twin of `cep_vshape`: the
    * V-pattern (STRT any, DOWN+ value<PREV, UP+ value>PREV) over the
    * day-folded replay through [[cepStreamValued]] (values ride the
    * buffer MapState). 1-hour window (above the folded corpus's 36-min
    * max V span — windowed chunking is cep_backtrack's gate); ascents
    * resolve at the first non-ascending drained row, the final
    * unbroken ascent per user stays pending.
    */
  def streamCepVshapeGate(s: SparkSession, dir: String): DataFrame =
    cepGateOf(s, dir, 2)

  /** stream_cep_cross gate — the STREAMING twin of `cep_cross_define`:
    * the cross-variable DEFINE funnel live over the day-folded valued
    * replay (10-minute window), sliced off the shared multi-pattern
    * lifecycle (spec 9 — appended, honoring the checkpoint contract).
    * The gate structurally asserts the SQL clause (window respelled)
    * parses to EXACTLY spec 9's machine, so the slice is definitionally
    * the clause's live execution. The value predicates evaluate
    * against cents riding the shared buffer — the first gate-tier
    * proof that cross-variable navigation works on the streaming
    * state path (batch ≡ stream on the folded corpus: the pattern
    * ends on a required One step, so no trailing-greed pending).
    * Binding at sf0.01: 87 folded window-valid funnels → 34.
    */
  def streamCepCrossGate(s: SparkSession, dir: String): DataFrame = {
    val sql = graft.operators.MatchRecognize.FunnelCrossSql
      .replace("INTERVAL '7' DAY", "INTERVAL '10' MINUTE")
    val parsed = graft.operators.MatchRecognize.parse(sql)
    val sp = CepGateSpecs(9)
    require(parsed.pattern.toIndexedSeq == sp.pattern &&
      parsed.windowUs == sp.windowUs && parsed.after == sp.after,
      "stream_cep_cross: the gate clause no longer matches the shared " +
        "replay's spec 9 — re-align CepGateSpecs")
    cepGateOf(s, dir, 9)
  }

  /** stream_cep_cross_followed gate — the STREAMING twin of
    * `cep_cross_followed` (r16): cross-variable FIRST(V.value)
    * navigation under RELAXED contiguity, live over the day-folded
    * valued replay (10-minute window), sliced off the shared
    * multi-pattern lifecycle (spec 10 — appended, honoring the
    * checkpoint contract). This is the generalized subsequence walk's
    * path-tracked navigation on the streaming state path: takes are
    * recorded before recursion, the (step, position) memo is disabled
    * below the back-reference, and a disqualified purchase is SKIPPED
    * (relaxed semantics) rather than killing the candidate. Batch ≡
    * stream caveat honored: relaxed greedy V+ commits at window close
    * or flush, and the shared replay's end-of-input flush sits past
    * every horizon, so the folded-corpus slice equals the batch
    * machine's answer on the same rows (the oracle recomputes it
    * definitionally).
    */
  def streamCepCrossFollowedGate(s: SparkSession, dir: String)
      : DataFrame = {
    // structural pin (no SQL surface exists for relaxed mode, so the
    // assert targets the exact programmatic machine — the relaxed
    // twin of cep_cross_followed at the stream window)
    val expected = {
      import graft.operators.Cep.{Step, CrossRef, PrevGt}
      IndexedSeq(Step("click"), Step("view", plus = true),
        Step("purchase", cross = List(CrossRef(1, first = true, PrevGt))))
    }
    val sp = CepGateSpecs(10)
    require(sp.pattern == expected && sp.windowUs == 600000000L &&
      !sp.contiguous,
      "stream_cep_cross_followed: spec 10 no longer matches the " +
        "relaxed cross-variable funnel — re-align CepGateSpecs")
    cepGateOf(s, dir, 10)
  }

  /** stream_cep_cross_group gate — the STREAMING twin of
    * `cep_cross_group` (r17): cross-variable FIRST(A.value) navigation
    * on a GROUP-QUANTIFIER pattern, live over the day-folded valued
    * replay (10-minute window), sliced off the shared multi-pattern
    * lifecycle (spec 11 — appended, honoring the checkpoint
    * contract). The split-program walk records the cross-targeted
    * leaf's takes eagerly (restored on backtrack) so the purchase
    * leaf's predicate reads the current path's accumulated chain pool
    * across micro-batch seams — the pools live in the machine
    * SNAPSHOT the processor already checkpoints, so recovery needs no
    * state-format change (Round17Spec's kill+restart golden pins it).
    * Batch ≡ stream on the folded corpus: the pattern ends on a
    * required One leaf, so the group's extension pending always
    * resolves at the closing row.
    */
  def streamCepCrossGroupGate(s: SparkSession, dir: String): DataFrame = {
    val sp = CepGateSpecs(11)
    require(sp.grouped.contains(CepCrossGroupGatePattern) &&
      sp.windowUs == 600000000L,
      "stream_cep_cross_group: spec 11 no longer matches the grouped " +
        "cross-variable chain — re-align CepGateSpecs")
    cepGateOf(s, dir, 11)
  }

  /** The folded events frame WITH the second numeric column the
    * field-breadth surfaces reference (`k` off the props JSON) — the
    * day-fold formula of [[gateEventsDayFolded]], kept as a DataFrame
    * because the fields gate needs columns the GateEv fixture shape
    * does not carry.
    */
  private def foldedWithK(s: SparkSession, dir: String): DataFrame =
    graft.Tables.t(s, dir, "events")
      .select(
        pmod(col("user_id"), lit(16)).cast("long").as("user_id"),
        (pmod(unix_micros(col("ts")), lit(86400000000L)) +
          lit(1704067200000000L)).as("ts_us"),
        col("event_id").cast("long").as("event_id"),
        col("event_type"),
        col("value").cast("double").as("value"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))

  /** stream_sql_mr_fields gate (r17, past the brief) — the STREAMING
    * twin of `sql_mr_fields`: DEFINE field predicates over arbitrary
    * numeric columns run LIVE on the stream. The whole point of the
    * product-alphabet design lands here: the same [[graft.operators
    * .MatchRecognize.fieldEvents]] projection the batch runner uses
    * mangles the fixture's event types MAP-SIDE (`view` → `view|10`),
    * and the UNTOUCHED streaming processor — same machine, same state
    * shape, same checkpoint format — evaluates the predicates as
    * plain symbol membership across micro-batch seams. The replay is
    * DEDICATED (the product alphabet re-types rows, so this machine
    * cannot slice the plain-typed shared replay); 10-minute window on
    * the day-folded corpus, flush past every horizon. MEASURES over
    * the second column enrich the drained spans with ONE batch join
    * back to the folded source: contiguous consumption makes the
    * (user, lexicographic (ts_us, event_id) ∈ [start, end]) row set
    * EXACTLY the consumed rows — endpoints are C and P, interior rows
    * are V — so the per-match aggregates (COUNT/SUM/MAX/AVG and the
    * struct-max LAST navigation) compute in one hash aggregation, the
    * batch rows-pivot's own shape. A production pipeline would do
    * precisely this: match on the stream, enrich the spans
    * relationally.
    */
  def streamSqlMrFieldsGate(s: SparkSession, dir: String): DataFrame =
    streamSqlMrFieldsAt(s, dir, minutes = 10)

  /** The gate clause parsed + structurally pinned at `minutes`. */
  private def sqlMrFieldsParsed(
      minutes: Int): graft.operators.MatchRecognize.Parsed = {
    val sql = graft.operators.MatchRecognize.FieldsSql
      .replace("INTERVAL '7' DAY", s"INTERVAL '$minutes' MINUTE")
    val parsed = graft.operators.MatchRecognize.parse(sql)
    require(parsed.windowUs == minutes * 60000000L &&
      parsed.rowPreds.length == 2 && parsed.grouped.isEmpty &&
      parsed.after == graft.operators.Cep.SkipPastLast,
      s"stream_sql_mr_fields: gate clause drifted: $parsed")
    parsed
  }

  /** The fields-funnel replay, memoized per (dir, window minutes). */
  private def sqlMrFieldsPath(s: SparkSession, dir: String,
      minutes: Int): String =
    memoFixture("sql_mr_fields_replay_path", s"$dir|$minutes") {
      import s.implicits._
      val parsed = sqlMrFieldsParsed(minutes)
      val fixture = graft.operators.MatchRecognize
        .fieldEvents(foldedWithK(s, dir), parsed)
        .select(col("user_id"), col("ts_us"), col("event_id"),
          col("event_type"),
          round(col("value") * 100).cast("long").as("vc"))
        .orderBy(col("ts_us"), col("event_id"))
        .as[(Long, Long, Long, String, Long)].collect().toSeq
      val flush = (-1L, fixture.map(_._2).max + parsed.windowUs +
        600000000L, -1L, "flush", 0L)
      replayTypedPath(s, fixture, Seq(flush), "append")(ds =>
        cepStreamValued(ds, parsed.pattern, parsed.windowUs,
          parsed.after).toDF()
          .filter(col("user_id") >= 0L))
    }

  /** The gate's machinery with the window as a parameter — the parity
    * spec drives it at a wider window so the funnel BINDS at spec
    * scale (sf0.001's folded corpus has no 10-minute fields funnel;
    * the gate's own 10-minute window binds at sf0.01: 39 matches, 6
    * window-killed).
    */
  private[graft] def streamSqlMrFieldsAt(s: SparkSession, dir: String,
      minutes: Int): DataFrame = {
    val parsed = sqlMrFieldsParsed(minutes)
    val m = graft.Tables.parquet(s, sqlMrFieldsPath(s, dir, minutes))
    val r = foldedWithK(s, dir).select(col("user_id").as("r_uid"),
      col("ts_us").as("r_ts"), col("event_id").as("r_id"),
      col("k"), round(col("value") * 100).cast("long").as("r_vc"))
    // lexicographic (ts_us, event_id) membership in the match span —
    // ties on the folded instant resolve by event_id, the stream's own
    // order; strictly-interior rows are the V steps
    val inSpan = r("r_uid") === m("user_id") &&
      (r("r_ts") > m("start_ts_us") || (r("r_ts") === m("start_ts_us") &&
        r("r_id") >= m("start_event_id"))) &&
      (r("r_ts") < m("end_ts_us") || (r("r_ts") === m("end_ts_us") &&
        r("r_id") <= m("end_event_id")))
    val interior = r.join(m, inSpan)
      .filter(!(col("r_ts") === col("start_ts_us") &&
          col("r_id") === col("start_event_id")) &&
        !(col("r_ts") === col("end_ts_us") &&
          col("r_id") === col("end_event_id")))
    interior
      .groupBy(col("user_id"), col("start_event_id"),
        col("start_ts_us"), col("end_event_id"), col("end_ts_us"),
        col("n_rows"))
      .agg(
        count(lit(1L)).as("views_cnt"),
        sum(col("k")).as("views_k_sum"),
        max(col("k")).as("views_k_max"),
        (sum(col("k")).cast("double") / count(lit(1L))).as("views_k_avg"),
        max(struct(col("r_ts"), col("r_id"), col("k")))
          .getField("k").as("views_k_last"),
        sum(col("r_vc")).as("views_sum_c"))
      .select(col("user_id"), col("start_event_id"), col("start_ts_us"),
        col("end_event_id"), col("end_ts_us"), col("n_rows"),
        col("start_event_id").as("click_id"), col("views_cnt"),
        col("views_k_sum"), col("views_k_max"), col("views_k_avg"),
        col("views_k_last"), col("views_sum_c"))
      .orderBy(col("user_id"), col("start_ts_us"), col("start_event_id"))
  }

  /** Streaming MATCH_RECOGNIZE SQL surface — the clause parsed by
    * [[graft.operators.MatchRecognize.parse]] and run on an UNBOUNDED
    * (user_id, ts_us, event_id, event_type, value_c) stream through
    * [[cepStreamValued]] (grouped patterns route to the split-program
    * processor; MEASURES tokens are accepted and ignored exactly as
    * the batch match-only runner does — outputs are the CepMatch
    * columns; ALL ROWS PER MATCH is a batch-only output mode here).
    * The two proven pieces compose: parse ≡ programmatic structurally
    * (Round13bSpec), streaming ≡ batch per pattern class (the
    * stream_cep_* gates) — this entry point just removes the manual
    * re-typing between them, the way the reference stack exposes CEP
    * to SQL users on streams.
    */
  def cepStreamSql(events: Dataset[(Long, Long, Long, String, Long)],
      sql: String,
      lateCounter: Option[org.apache.spark.util.LongAccumulator] = None)
      : Dataset[graft.operators.Cep.CepMatch] = {
    val parsed = graft.operators.MatchRecognize.parse(sql)
    graft.operators.MatchRecognize.requireRunnable(parsed, "cepStreamSql",
      allRows = false)
    requireNoRowPreds(parsed, "cepStreamSql")
    cepStreamValued(events, parsed.pattern, parsed.windowUs,
      parsed.after, contiguous = true, lateCounter, parsed.grouped)
  }

  /** The typed stream surfaces carry (user_id, ts_us, event_id,
    * event_type, value_c) ONLY — a clause with r17 field predicates
    * compiles to product-alphabet symbols (`view|1`) that a raw-typed
    * stream can never match, so it must reject loudly here, not
    * silently return an empty stream (the cepStreamGrouped zero-value
    * convention). Callers wanting field predicates pre-mangle their
    * stream's event types with the SAME projection the batch runner
    * uses ([[graft.operators.MatchRecognize.fieldEvents]]) — the
    * stream_sql_mr_fields gate is the worked example.
    */
  private def requireNoRowPreds(
      parsed: graft.operators.MatchRecognize.Parsed, who: String): Unit =
    require(parsed.rowPreds.isEmpty,
      s"$who: the clause carries DEFINE field predicates " +
        s"(${parsed.rowPreds.length}) but the typed stream has no " +
        "field columns to evaluate them on — apply MatchRecognize" +
        ".fieldEvents to the source frame and feed the mangled " +
        "event types (see streamSqlMrFieldsGate), or drop the " +
        "predicates")

  /** The V-pattern clause as the stream gate's SQL string — identical
    * to the batch `MatchRecognize.VshapeSql` except the WITHIN bound
    * (1 hour, the stream gate's window).
    */
  val VshapeStreamSql: String =
    """MATCH_RECOGNIZE (
      |  PARTITION BY user_id
      |  ORDER BY ts, event_id
      |  ONE ROW PER MATCH
      |  AFTER MATCH SKIP PAST LAST ROW
      |  PATTERN (STRT DOWN+ UP+)
      |  WITHIN INTERVAL '1' HOUR
      |  DEFINE
      |    DOWN AS DOWN.value < PREV(DOWN.value),
      |    UP AS UP.value > PREV(UP.value)
      |)""".stripMargin

  /** stream_sql_mr gate — the SQL-string surface on the live replay:
    * [[VshapeStreamSql]] parses to EXACTLY the programmatic V machine
    * (asserted structurally here — pattern, window, strategy, flat),
    * so the gate shares stream_cep_vshape's replay (one store
    * lifecycle for the two keys) and answers against the same oracle.
    * The live execution of a PARSED clause through [[cepStreamSql]] —
    * including a match spanning a micro-batch seam — is Round14Spec's
    * MemoryStream golden; this gate pins the parse≡machine equality
    * and the replay's hashes at driver scale.
    */
  def streamSqlMrGate(s: SparkSession, dir: String): DataFrame = {
    val parsed = graft.operators.MatchRecognize.parse(VshapeStreamSql)
    require(parsed.pattern == VshapeStreamPattern &&
      parsed.grouped.isEmpty &&
      parsed.windowUs == VshapeStreamWindowUs &&
      parsed.after == graft.operators.Cep.SkipPastLast && !parsed.allRows,
      s"stream_sql_mr: parsed clause diverged from the programmatic " +
        s"V machine: $parsed")
    cepGateOf(s, dir, 2)
  }

  /** stream_cep_backtrack gate — the STREAMING twin of
    * `cep_backtrack`: view+ view (outside the collapse-closure class,
    * so the machine auto-selects the memoized BACKTRACKING walk) over
    * the day-folded replay with a 3-minute window. The backtracking
    * resolution rules run against real micro-batch state: chunks
    * resolve at the bounding row or at the first same-user row past
    * the chunk window, mid-buffer completions cross the batch seam
    * through the ValueState snapshot, and a final unbroken run stays
    * pending (the flush row only advances the watermark — it is
    * another user's key, so per-user greed correctly never commits).
    */
  def streamCepBacktrackGate(s: SparkSession, dir: String): DataFrame =
    cepGateOf(s, dir, 3)

  /** stream_cep_followed gate — the STREAMING twin of
    * `cep_followed_by`: the relaxed-contiguity funnel (click → view →
    * purchase, rows between steps skipped, 5-minute window, SKIP PAST
    * LAST ROW) over the day-folded replay. Non-alphabet rows (signup,
    * error) are dropped at the machine's door, so the per-key state is
    * window-bounded over alphabet rows only; the subsequence walk and
    * its kill-fallback cross the micro-batch seam through the same
    * ValueState snapshot as the contiguous gates. Both cuts bind on
    * the fixture: 147 window-valid parses, 117 survive non-overlap.
    */
  def streamCepFollowedGate(s: SparkSession, dir: String): DataFrame =
    cepGateOf(s, dir, 4)

  /** stream_cep_not_followed gate — the STREAMING abandoned-cart
    * pattern (Flink `notFollowedBy` + within): click NOT followed by a
    * purchase within 10 minutes over the day-folded replay. Absence
    * has NO completing row — emission rides the event-time timer the
    * processor registers at the head's window horizon and the
    * watermark advance at each drain; a purchase draining inside the
    * horizon kills the pending click instead. The flush row pushes the
    * watermark past every horizon, so each of the fixture's clicks
    * resolves one way or the other — the oracle is the definitional
    * NOT EXISTS on the folded corpus (839 of 2006 clicks abandoned at
    * sf0.01; the kill path binds on the other 1167).
    */
  def streamCepNotFollowedGate(s: SparkSession, dir: String): DataFrame =
    cepGateOf(s, dir, 5)

  /** stream_cep_followed_plus gate — STREAMING looping relaxed states
    * (followedBy + greedy oneOrMore): click → view+ → purchase over
    * subsequences within 10 minutes on the day-folded replay. The
    * greedy take commits only when the watermark closes the window
    * over the start (the processor's advance + horizon timers — the
    * same machinery as the absence gate), so matches emit with ~window
    * delay, Flink's greedy-relaxed materialization point. 306 matches
    * at sf0.01, 84 consuming more than one view (maximality binds
    * against the oracle, not just specs).
    */
  def streamCepFollowedPlusGate(s: SparkSession, dir: String): DataFrame =
    cepGateOf(s, dir, 6)

  /** stream_late_obs gate — LATE-DATA OBSERVABILITY end-to-end: the
    * day-folded fixture replays through [[cepStream]] (the funnel
    * pattern) in two DELIBERATELY disordered batches — batch 1 holds
    * every row except the held-back set, batch 2 delivers the held-back
    * set (every 7th event_id, scattered across the whole day, plus the
    * 3 globally-latest rows so the late-batch ADMIT path binds too).
    * After batch 1 the watermark W sits 5 s under the day's last
    * batch-1 instant, so the scattered rows arrive at-or-below it and
    * the processor DROPS them into the late counter; the 3 latest rows
    * arrive above W and are admitted. The gate's answer is the counter
    * value — the DuckDB oracle computes the same number definitionally
    * from the split predicate and the watermark formula (max batch-1
    * event-ms − 5000), so a single silently-lost or wrongly-dropped
    * row mismatches. Accumulator caveat: exact on a clean run (the
    * replay), may over-count under task retries — Spark's own SQL
    * metric semantics.
    */
  def streamLateObsGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Seq(lateObsCount(s, dir).longValue).toDF("late_dropped")
  }

  /** The late-observability replay's counter, memoized per (process,
    * dir): held-rows split, noop sink, accumulator read.
    */
  private def lateObsCount(s: SparkSession, dir: String): java.lang.Long =
    memoFixture("late_obs_count", dir) {
      import s.implicits._
      implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext
      val windowUs = 600000000L
      val fixture = gateEventsDayFolded(s, dir)
        .map(e => (e.user_id, gateEvUs(e), e.event_id, e.event_type)).toSeq
      val latest3 = fixture.map(r => (r._2, r._3))
        .sortBy { case (ts, id) => (-ts, -id) }.take(3)
        .map(_._2).toSet
      val held = (r: (Long, Long, Long, String)) =>
        r._3 % 7 == 0 || latest3.contains(r._3)
      val counter = s.sparkContext.longAccumulator("graft.cep.lateDropped")
      val src = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long, Long, String)]
      val q = startUnderGateConfs(s, rocksdb = true) {
        cepStream(src.toDS(),
          Seq(graft.operators.Cep.Step("click", plus = false),
            graft.operators.Cep.Step("view", plus = true),
            graft.operators.Cep.Step("purchase", plus = false)),
          windowUs, lateCounter = Some(counter))
          .writeStream.format("noop").start()
      }
      src.addData(fixture.filterNot(held))
      q.processAllAvailable()
      src.addData(fixture.filter(held))
      q.processAllAvailable()
      q.stop()
      java.lang.Long.valueOf(counter.value)
    }

  /** stream_cep_skip gate — the STREAMING twin of `cep_skip_next`:
    * the revisit pattern (view → click → view) under AFTER MATCH SKIP
    * TO NEXT ROW over the day-folded replay (10-minute window).
    * Overlapping matches all emit — on this fixture the answer is
    * definitionally ALL window-valid contiguous triples, and the
    * machine's drop(1)-and-keep-walking path crosses the micro-batch
    * seam through the same ValueState snapshot the skip-past gate
    * proves.
    */
  def streamCepSkipGate(s: SparkSession, dir: String): DataFrame =
    cepGateOf(s, dir, 7)

  /** stream_topn gate — [[topNStream]] (unbounded append-stream Top-3
    * per group) replayed in 2 batches; the append contract's monotone
    * nth-place threshold makes the FINAL leaderboard equal the batch
    * top-3 by (value DESC, id ASC) regardless of the batch split, so
    * the latest versioned snapshot per group is the gate's answer and
    * the oracle is the definitional ROW_NUMBER cut.
    */
  def streamTopNGate(s: SparkSession, dir: String): DataFrame = {
    val snaps = graft.Tables.parquet(s, topnPath(s, dir))
    snaps.withColumn("__mx", max(col("ver")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("group"))))
      .filter(col("ver") === col("__mx"))
      .select(col("group").as("grp"), col("rk"), col("id"), col("value"))
      .orderBy(col("grp"), col("rk"))
  }

  private def topnPath(s: SparkSession, dir: String): String =
    memoFixture("topn_replay_path", dir) {
      import s.implicits._
      val fixture = memoFixture("topn8", dir) {
        graft.Tables.t(s, dir, "events")
          .select(pmod(col("user_id"), lit(8)).cast("long"),
            col("event_id").cast("long"), col("value").cast("double"))
          .as[(Long, Long, Double)].orderBy(col("event_id")).collect().toSeq
      }
      replayTypedPath(s, fixture, Nil, "update")(ds => topNStream(ds).toDF())
    }

  /** Memoized (user, ts_us, id, value) fixture shared by the ewma and
    * cusum gates — raw events in global (ts, id) order.
    */
  private def tsValFixture(s: SparkSession,
      dir: String): Seq[(Long, Long, Long, Double)] =
    memoFixture("ts_val", dir) {
      import s.implicits._
      graft.Tables.t(s, dir, "events")
        .select(col("user_id").cast("long"), unix_micros(col("ts")),
          col("event_id").cast("long"), col("value").cast("double"))
        .as[(Long, Long, Long, Double)]
        .orderBy(col("ts"), col("event_id")).collect().toSeq
    }

  /** stream_ewma gate — [[ewmaStream]] replayed over the raw events in
    * global (ts, id) order (TimeMode.None: the ordering contract is the
    * replay's, not a watermark's); per-user summary of the emitted
    * per-row flags (final EWMA = the last row's post-fold value,
    * anomaly count, row count) against the DuckDB list_reduce fold the
    * batch `ts_ewma_anomaly` gate already proves bit-compatible.
    */
  def streamEwmaGate(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.parquet(s, ewmaPath(s, dir))
      .groupBy(col("user_id"))
      .agg(round(max_by(col("ewma"),
          struct(col("ts_us"), col("event_id"))), 6).as("ewma_final"),
        sum(when(col("is_anomaly"), 1L).otherwise(0L)).as("n_anomalies"),
        count(lit(1)).as("n_points"))
      .orderBy(col("user_id"))
  }

  /** stream_cusum gate — [[cusumStream]] under the same ordered typed
    * replay; summary columns match the batch `ts_cusum` gate exactly
    * (alarm count, max raw sums, row count), so the oracle IS the
    * batch fold — the literal shared `cusumStep` makes stream ≡ batch
    * structural and this gate proves it against the driver's engine.
    */
  def streamCusumGate(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.parquet(s, cusumPath(s, dir))
      .groupBy(col("user_id"))
      .agg(sum(when(col("alarmed"), 1L).otherwise(0L)).as("n_alarms"),
        round(max(col("sp_raw")), 6).as("max_sp"),
        round(max(col("sn_raw")), 6).as("max_sn"),
        count(lit(1)).as("n_points"))
      .orderBy(col("user_id"))
  }

  private def ewmaPath(s: SparkSession, dir: String): String =
    memoFixture("ewma_replay_path", dir) {
      import s.implicits._
      replayTypedPath(s, tsValFixture(s, dir), Nil, "update")(ds =>
        ewmaStream(ds, alpha = 0.2, z = 3.0).toDF())
    }

  private def cusumPath(s: SparkSession, dir: String): String =
    memoFixture("cusum_replay_path", dir) {
      import s.implicits._
      replayTypedPath(s, tsValFixture(s, dir), Nil, "update")(ds =>
        cusumStream(ds, mu = 50.0, kappa = 10.0, h = 200.0).toDF())
    }

  /** stream_attribution gate — [[attributionStream]] (live last-touch
    * credits) replayed in global (ts, id) order: every purchase with a
    * prior click/view emits exactly one credit naming that touch; the
    * oracle replays the definitional "latest touch strictly before the
    * purchase" with one window max over the row order.
    */
  def streamAttributionGate(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.parquet(s, attributionPath(s, dir))
      .select(col("user_id"), col("purchase_id"), col("purchase_ts_us"),
        col("last_touch_id"), col("last_touch_type"),
        col("last_touch_latency_us"))
      .orderBy(col("user_id"), col("purchase_id"))
  }

  private def attributionPath(s: SparkSession, dir: String): String =
    memoFixture("attribution_replay_path", dir) {
      import s.implicits._
      val fixture = memoFixture("ts_type", dir) {
        graft.Tables.t(s, dir, "events")
          .select(col("user_id").cast("long"), unix_micros(col("ts")),
            col("event_id").cast("long"), col("event_type"))
          .as[(Long, Long, Long, String)]
          .orderBy(col("ts"), col("event_id")).collect().toSeq
      }
      replayTypedPath(s, fixture, Nil, "update")(ds =>
        attributionStream(ds).toDF())
    }

  /** stream_window_dedup gate — [[windowDedupStream]] (first event per
    * user per 10-minute window) over the day-folded replay. The gate
    * pins the KEY contract — exactly one row per (window, user), late
    * and repeat rows suppressed across the batch seam; the surviving
    * row's identity is arbitrary WITHIN a micro-batch (dropDuplicates
    * keeps the first row the state store sees, and intra-batch shuffle
    * order is not deterministic), so first_event_id stays spec-tier on
    * controlled fixtures and the gate projects the deterministic keys.
    */
  def streamWindowDedupGate(s: SparkSession, dir: String): DataFrame = {
    graft.Tables.parquet(s, windowDedupPath(s, dir))
      .filter(col("user_id") >= 0L)
      .select(col("w_start"), col("user_id"))
      .orderBy(col("w_start"), col("user_id"))
  }

  private def windowDedupPath(s: SparkSession, dir: String): String =
    memoFixture("window_dedup_replay_path", dir) {
      val fixture = gateEventsDayFolded(s, dir)
      val (_, flush) = gateFlush(fixture)
      replayPath(s, fixture, Some(flush))(df => windowDedupStream(df))
    }
}
