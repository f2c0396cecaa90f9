package perfbench

import java.io.File
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{TransactionAvro, TransactionPipeline}

/** The paper's pipeline, bounded and streaming: framed Avro →
  * decode → `status <> 'CANCELLED'` and the 8-column FX projection →
  * `encode_approved` → sink.
  */
object Pipe {
  /** Event time of generated batch record `i`. */
  private val BaseTsMs = 1767225600000L // 2026-01-01T00:00:00Z

  /** `transform` output → the Kafka record shape `toKafka` writes. */
  def encode(out: DataFrame): DataFrame =
    out.select(col("id").cast("string").as("key"), encodedValue(out).as("value"))

  private def encodedValue(out: DataFrame): Column =
    call_udf("encode_approved", struct(out.columns.map(col).toIndexedSeq: _*),
      lit(TransactionAvro.ApprovedSchemaId))

  def pipeline(src: DataFrame): DataFrame =
    encode(TransactionPipeline.transform(TransactionPipeline.decodeValues(src)))

  private def writeFrames(spark: SparkSession, seed: Long, n: Long, dir: String): Unit = {
    val parts = spark.sparkContext.defaultParallelism
    spark.range(0, n, 1, parts)
      .map(i => Gen.frame(seed, i, BaseTsMs + i, 0))(Encoders.BINARY)
      .toDF("value").write.mode("overwrite").parquet(dir)
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Runs `body` repeatedly for `seconds` (at least `min` times). */
  private def repeatFor(seconds: Double, min: Int)(body: Int => Double): Seq[Double] = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    val out = mutable.ArrayBuffer.empty[Double]
    while (out.length < min || System.nanoTime() < end) out += body(out.length)
    out.toSeq
  }

  def batch(spark: SparkSession, tr: Trace, a: Map[String, String],
      res: mutable.Map[String, Any]): Unit = {
    val seed = a("seed").toLong
    val n = a("frames").toLong
    val dirs = (1 to a("setups").toInt).map(r => new File(a("work"), s"frames-$r").getPath)
    res("setup_s") = dirs.map(d => tr.span("setup", Map("dir" -> d))(writeFrames(spark, seed, n, d))._2)
    val src = spark.read.parquet(dirs.last)
    // untimed: the codec and codegen reach their steady state only after
    // about a million records
    (1 to a("warm-passes").toInt).foreach(_ => noop(pipeline(src)))
    val passes = a("passes").toInt
    val (passS, wall) =
      if (!tr.enabled) tr.span("measure")((0 until passes).map(p => pass(tr, src, p, "pass")))
      else tr.span("measure") {
        // the same passes alternately without and with the listeners:
        // their medians give the tracing overhead, free of warm-up drift
        val both = (0 until 2 * passes).map { p =>
          if (p % 2 == 0) tr.unregister(spark) else tr.register(spark)
          pass(tr, src, p / 2, if (p % 2 == 0) "baseline" else "pass")
        }
        res("baseline_pass_s") = both.indices.filter(_ % 2 == 0).map(both)
        both.indices.filter(_ % 2 == 1).map(both)
      }
    res("records") = n
    res("pass_s") = passS
    res("wall_s") = wall
    res("checks") = checkBatch(spark, src, seed, n)
    if (tr.enabled) res("probe") = probes(spark, tr, src, seed)
  }

  private def pass(tr: Trace, src: DataFrame, p: Int, name: String): Double = {
    val attrs: Map[String, Any] = if (name == "pass") Map("unit" -> s"pass $p") else Map.empty
    tr.span(s"$name $p", attrs)(noop(pipeline(src)))._2
  }

  /** The output checked against what the generator wrote: the approved
    * count, the `amountInUsd` sum, and a sample of output frames decoded
    * back with `decodeApproved`, every field compared.
    */
  private def checkBatch(spark: SparkSession, src: DataFrame, seed: Long, n: Long): Map[String, Any] = {
    val usd = udf((b: Array[Byte]) => TransactionAvro.decodeApproved(b).amountInUsd)
    val sampled = udf((k: String) => Gen.indexOf(k) % 997 == 0)
    val agg = pipeline(src).agg(count(lit(1)), sum(usd(col("value"))),
      collect_list(when(sampled(col("key")), col("value")))).first()
    val sample = agg.getSeq[Array[Byte]](2).map(b => TransactionAvro.decodeApproved(b))
    val exp = Gen.expected(seed, 0, n, 0)
    val wantSample = (0L until n by 997L).filter(i => Gen.status(seed, i) != "CANCELLED")
    val bad = sampleMismatches(sample.toSeq, seed, i => BaseTsMs + i) ++
      (if (sample.map(a => Gen.indexOf(a.id)).sorted.toSeq == wantSample) Nil
       else Seq(s"sample ids: got ${sample.length}, want ${wantSample.length}"))
    Map(
      "approved" -> agg.getLong(0), "approved_expected" -> exp.approved,
      "usd_sum" -> agg.getDouble(1), "usd_sum_expected" -> exp.usdSum,
      "sample" -> sample.length, "sample_mismatches" -> bad.take(5), "sample_bad" -> bad.length)
  }

  private def sampleMismatches(got: Seq[graft.pipeline.TransactionPipeline.ApprovedTransaction],
      seed: Long, tsOf: Long => Long): Seq[String] =
    got.flatMap { o =>
      val i = Gen.indexOf(o.id)
      val t = Gen.transaction(seed, i, tsOf(i))
      val wantUsd = t.amount * Gen.usdRate(t.currency)
      val ok = o.id == t.id && o.amount == t.amount && o.currency == t.currency &&
        o.timestamp.getTime == t.timestamp.getTime && o.merchant == t.merchant &&
        o.userId == t.userId && math.abs(o.amountInUsd - wantUsd) <= 1e-9 * wantUsd &&
        o.processingTimestamp != null && t.status != "CANCELLED"
      if (ok) None else Some(s"$o vs $t")
    }

  /** Per-layer probes for the traced run: direct single-thread codec
    * calls, timed prefixes of the pipeline, the decode sites in the
    * executed plan.
    */
  private def probes(spark: SparkSession, tr: Trace, src: DataFrame, seed: Long): Map[String, Any] = {
    val m = 200000
    val frames = Array.tabulate(m)(i => Gen.frame(seed, i, BaseTsMs + i, 0))
    val decoded = frames.map(f => TransactionAvro.decodeTransaction(f))
    val approved = decoded.map(t => TransactionPipeline.ApprovedTransaction(t.id, t.amount,
      t.currency, t.timestamp, t.merchant, t.userId, t.amount * Gen.usdRate(t.currency), t.timestamp))
    def nsPerRec(f: Int => Unit): Double = median(repeatFor(1.0, 3) { _ =>
      val t0 = System.nanoTime(); var i = 0
      while (i < m) { f(i); i += 1 }
      (System.nanoTime() - t0).toDouble / m
    })
    val decodeNs = tr.span("probe codec decode")(nsPerRec(i => TransactionAvro.decodeTransaction(frames(i))))._1
    val encodeNs = tr.span("probe codec encode")(nsPerRec(i => TransactionAvro.encodeApproved(approved(i))))._1
    def prefix(name: String, df: => DataFrame): Double =
      tr.span(s"probe prefix $name")(median((1 to 3).map(_ => tr.span(s"prefix $name")(noop(df))._2)))._1
    val scan = prefix("scan", src)
    val dec = prefix("decode", TransactionPipeline.decodeValues(src))
    val fp = prefix("filter_project", TransactionPipeline.transform(TransactionPipeline.decodeValues(src)))
    val full = prefix("encode", pipeline(src))
    val plan = pipeline(src).queryExecution.executedPlan.toString
    val sites = "decode_transaction(_safe)?\\(".r.findAllIn(plan).length
    Map("decode_ns_per_rec" -> decodeNs, "encode_ns_per_rec" -> encodeNs,
      "scan_s" -> scan, "decode_s" -> (dec - scan), "filter_project_s" -> (fp - dec),
      "encode_s" -> (full - fp), "decode_plan_sites" -> sites)
  }

  // ---- streaming ----

  def stream(spark: SparkSession, tr: Trace, a: Map[String, String],
      res: mutable.Map[String, Any]): Unit = {
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val seed = a("seed").toLong
    val rate = a("rate").toInt
    val ppm = a("poison-ppm").toInt
    val warmS = a("warmup").toDouble
    val seconds = a("seconds").toDouble
    val total = (rate * (warmS + seconds)).toLong
    // event time of record i = its due time, in ms after the generator starts
    def dueMs(i: Long): Long = i * 1000L / rate
    val (frameSets, setups) = (1 to a("setups").toInt).map { r =>
      tr.span("setup", Map("round" -> r)) {
        val fs = new Array[Array[Byte]](total.toInt)
        java.util.stream.IntStream.range(0, fs.length).parallel()
          .forEach(i => fs(i) = Gen.frame(seed, i, dueMs(i), ppm))
        fs
      }
    }.unzip
    res("setup_s") = setups
    val frames = frameSets.last

    // a fixed partition count: otherwise every addData is its own task
    val src = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Array[Byte]](spark.sparkContext.defaultParallelism)
    @volatile var t0 = 0L
    val latencies = mutable.ArrayBuffer.empty[Double] // ms, records due inside the window
    val outFrames = mutable.ArrayBuffer.empty[Array[Byte]]
    var deadLetters = 0L
    val windowStart = (warmS * 1000).toLong
    val windowEnd = ((warmS + seconds) * 1000).toLong
    /** The micro-batch body: the approved records, encoded, and the
      * dead-letter count.
      */
    def sink(b: DataFrame): (Array[org.apache.spark.sql.Row], Long) = {
      val out = TransactionPipeline.transform(TransactionPipeline.goodRows(b))
      (out.select(col("timestamp"), encodedValue(out)).collect(),
        TransactionPipeline.deadLetters(b).count())
    }
    // untimed: the body on a static frame sample until planning and the
    // codec are compiled; a stream alone takes some 10 s to get there
    val sample = frames.take(rate / 4).toSeq.toDF("value")
    (1 to a("warm-batches").toInt).foreach(_ =>
      sink(TransactionPipeline.decodeValuesPermissive(sample)))
    // before the start: the query plans its batches in a session cloned
    // at start, which sees only listeners registered by then
    tr.register(spark)
    val perm = TransactionPipeline.decodeValuesPermissive(src.toDF())
    val q = perm.writeStream.foreachBatch { (b: DataFrame, _: Long) =>
      val (rows, dead) = sink(b)
      val doneMs = (System.nanoTime() - t0) / 1e6
      latencies.synchronized {
        rows.foreach { r =>
          val due = r.getTimestamp(0).getTime
          if (due >= windowStart && due < windowEnd) latencies += doneMs - due
          outFrames += r.getAs[Array[Byte]](1)
        }
        deadLetters += dead
      }
      ()
    }.start()
    val lateness = mutable.ArrayBuffer.empty[Double]
    val wall = tr.span("measure") {
      t0 = System.nanoTime()
      var i = 0
      while (i < total) {
        val now = System.nanoTime() - t0
        val due = math.min(total, now * rate / 1000000000L + 1).toInt
        if (due > i) {
          lateness += (now - dueMs(i) * 1000000L) / 1e6
          src.addData(frames.slice(i, due).toSeq)
          i = due
        } else LockSupport.parkNanos(i * 1000000000L / rate - now)
      }
      q.processAllAvailable()
    }._2
    q.stop()
    res("wall_s") = wall
    res("records") = total
    res("latency_ms") = latencies.toSeq
    res("generator_late_ms") = lateness.toSeq
    val exp = Gen.expected(seed, 0, total, ppm)
    val out = outFrames.map(f => TransactionAvro.decodeApproved(f)).toSeq
    val bad = sampleMismatches(out.filter(o => Gen.indexOf(o.id) % 97 == 0), seed, dueMs)
    res("checks") = Map(
      "approved" -> out.length.toLong, "approved_expected" -> exp.approved,
      "usd_sum" -> out.map(_.amountInUsd).sum, "usd_sum_expected" -> exp.usdSum,
      "dead_letters" -> deadLetters, "poison_frames" -> exp.poison,
      "distinct_ids" -> out.map(_.id).distinct.length,
      "sample" -> out.count(o => Gen.indexOf(o.id) % 97 == 0),
      "sample_mismatches" -> bad.take(5), "sample_bad" -> bad.length)
  }
}
