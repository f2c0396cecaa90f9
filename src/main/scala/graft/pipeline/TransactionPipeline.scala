package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, GraftSqlShim, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{CurrentTimestamp, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.DataType

/** The reference pipeline (O1–O13, SURVEY.md §2.1), Spark-native: Kafka
  * source with Confluent-Avro values → filter(status <> 'CANCELLED') →
  * 8-column projection with the FX conversion and processing timestamp →
  * Kafka sink.
  *
  * Citations into /root/reference: source table
  * TransactionProcessor.java:89-116, filter :174, projection :176-189, FX
  * expression :184-187, processing time :189, sink :130-151, CLI defaults
  * :200-211.
  *
  * The relational core (`transform`) is source-agnostic so the
  * deterministic test tier drives it from MemoryStream/batch fixtures
  * (replacing the reference's sleep-based Testcontainers harness —
  * SURVEY.md §5.2); `fromKafka`/`toKafka` bind the same plan to brokers.
  */
object TransactionPipeline {

  /** Input record (Transaction.avsc: fields per SURVEY.md §1.3). */
  final case class Transaction(
      id: String,
      amount: Double,
      currency: String,
      timestamp: java.sql.Timestamp,
      description: Option[String],
      merchant: String,
      category: Option[String],
      status: String,
      userId: String,
      metadata: Option[Map[String, String]])

  /** Output record (ApprovedTransaction.avsc). */
  final case class ApprovedTransaction(
      id: String,
      amount: Double,
      currency: String,
      timestamp: java.sql.Timestamp,
      merchant: String,
      userId: String,
      amountInUsd: Double,
      processingTimestamp: java.sql.Timestamp)

  /** O6 — the nested-IF FX conversion, exactly the reference's constants
    * (EUR×1.1, GBP×1.3, else identity).
    */
  def fxToUsd(amount: Column, currency: Column): Column =
    when(currency === "EUR", amount * 1.1)
      .when(currency === "GBP", amount * 1.3)
      .otherwise(amount)

  /** O3–O8: watermark + filter + projection. One straight pipe — no
    * shuffle. Filter and projection run in one WholeStageCodegen stage
    * whose generated source is the same for every query, batch or
    * micro-batch: `processingTimestamp` enters it as a parameter
    * ([[ProcessingTime]]), so the stage compiles once per JVM.
    */
  def transform(transactions: DataFrame): DataFrame =
    transactions
      .withWatermark("timestamp", "5 seconds")
      .filter(col("status") =!= "CANCELLED")
      .select(
        col("id"),
        col("amount"),
        col("currency"),
        col("timestamp"),
        col("merchant"),
        col("userId"),
        fxToUsd(col("amount"), col("currency")).as("amountInUsd"),
        GraftSqlShim.column(ProcessingTime(CurrentTimestamp())).as("processingTimestamp"))

  /** The query's timestamp (its `current_timestamp()`, or a micro-batch's
    * batch timestamp) as a parameter of the generated code. Once Spark
    * has fixed it, the child is a literal, and a `Literal` writes its
    * value into the Java source: each query's source would differ, miss
    * the codegen cache, compile new classes and run its loop cold in the
    * JIT. Here the value goes into the class's `references` instead, so
    * every query reuses one class. Not foldable, so constant folding
    * leaves it in place. Not `CodegenFallback`: an interpreted non-leaf
    * expression takes its whole projection out of the fused stage.
    */
  case class ProcessingTime(child: Expression) extends UnaryExpression {
    override def dataType: DataType = child.dataType
    override def foldable: Boolean = false
    override def prettyName: String = "processing_time"

    override def eval(input: InternalRow): Any = child.eval(input)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      if (!child.foldable || child.nullable) child.genCode(ctx)
      else {
        val v = ctx.addReferenceObj("processingTime", child.eval(),
          CodeGenerator.boxedType(dataType))
        ev.copy(code = code"${CodeGenerator.javaType(dataType)} ${ev.value} = $v;",
          isNull = FalseLiteral)
      }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** O2 — the Confluent-Avro decode stage, shared by the streaming (O1)
    * and bounded-batch (O11) sources: kafka-shaped rows (binary `value`
    * plus topic/partition/offset metadata) → typed Transaction columns.
    * The broker-less test tier drives this directly on framed fixture
    * bytes, which is exactly what both `.load()` paths feed it.
    * `resolver` maps frame ids to writer schemas (by default the two
    * registered subjects).
    */
  def decodeValues(kafkaDf: DataFrame,
      resolver: TransactionAvro.SchemaResolver = TransactionAvro.DefaultResolver): DataFrame =
    decode(kafkaDf, permissive = false, resolver)

  /** Quarantine twin of [[decodeValues]] (the q23b pattern at the ingest
    * edge): every frame decodes permissively into (`t` struct,
    * `frame` bytes, `decode_error`) — malformed or unknown-id frames
    * carry their error and raw bytes as a dead-letter row instead of
    * failing the batch. Split with [[goodRows]] / [[deadLetters]].
    */
  def decodeValuesPermissive(kafkaDf: DataFrame,
      resolver: TransactionAvro.SchemaResolver = TransactionAvro.DefaultResolver): DataFrame =
    decode(kafkaDf, permissive = true, resolver)

  /** Both decode forms: one [[graft.plans.DecodeFrames]] node over the
    * `value` column, so each frame is decoded once, before any filter.
    */
  private def decode(kafkaDf: DataFrame, permissive: Boolean,
      resolver: TransactionAvro.SchemaResolver): DataFrame = {
    val spark = kafkaDf.sparkSession
    TransactionAvro.registerUdfs(spark)
    val plan = kafkaDf.queryExecution.analyzed
    val value = plan.output.find(a => spark.sessionState.conf.resolver(a.name, "value"))
      .getOrElse(throw new IllegalArgumentException(
        s"no value column in ${plan.output.mkString(", ")}"))
    GraftSqlShim.ofRows(spark, graft.plans.DecodeFrames(value, permissive, resolver, plan))
  }

  /** Successfully decoded rows of a [[decodeValuesPermissive]] frame. */
  def goodRows(permissive: DataFrame): DataFrame =
    permissive.filter(col("decode_error").isNull).select(col("t.*"))

  /** Dead-letter rows: raw frame bytes + the decode error, ready for a
    * quarantine sink / replay after a codec fix.
    */
  def deadLetters(permissive: DataFrame): DataFrame =
    permissive.filter(col("decode_error").isNotNull)
      .select(col("frame"), col("decode_error"))

  /** O1/O2 — Kafka streaming source with Confluent-Avro value decode.
    * (Requires the kafka connector on the runtime classpath; the
    * deterministic test tier uses MemoryStream instead.)
    */
  def fromKafka(spark: SparkSession, bootstrap: String, topic: String,
      extraOptions: Map[String, String] = Map.empty): DataFrame =
    decodeValues(spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
      .options(extraOptions)
      .load())

  /** O11 — bounded BATCH scan of a Kafka topic slice: the reference's
    * own verification path (TransactionFlinkTest.java:142-171 sets
    * `scan.bounded.mode = 'latest-offset'` and collects the table).
    * Spark's batch Kafka relation with explicit starting/ending offsets
    * is the same contract — a topic slice as a DataFrame, through the
    * identical [[decodeValues]] stage as the streaming source, so a user
    * validating a sink topic reads it back with one call. (Requires the
    * kafka connector on the runtime classpath; the broker-less test tier
    * drives [[decodeValues]] on a kafka-shaped frame instead.)
    */
  def fromKafkaBounded(spark: SparkSession, bootstrap: String, topic: String,
      startingOffsets: String = "earliest",
      endingOffsets: String = "latest",
      extraOptions: Map[String, String] = Map.empty): DataFrame =
    decodeValues(spark.read
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
      .option("endingOffsets", endingOffsets)
      .options(extraOptions)
      .load())

  /** O9 — Kafka sink carrying Confluent-framed Avro values (framed with
    * the ApprovedTransaction subject's id, so a reader resolving the
    * frame id gets the right writer schema).
    */
  def toKafka(df: DataFrame, bootstrap: String, topic: String,
      checkpoint: String,
      schemaId: Int = TransactionAvro.ApprovedSchemaId,
      extraOptions: Map[String, String] = Map.empty): StreamingQuery =
    df.select(col("id").cast("string").as("key"),
        call_udf("encode_approved", struct(df.columns.map(col).toIndexedSeq: _*),
          lit(schemaId)).as("value"))
      .writeStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)
      .options(extraOptions)
      .start()

  /** The canonical 5-transaction replay fixture (FIXTURES.md §A.3, from
    * the reference's BaseTransactionTest.java:145-156), with epoch-based
    * timestamps so the gate parquet and the DuckDB literal oracle agree
    * regardless of JVM timezone. Shared by PipelineSpec and the two gate
    * rows below.
    */
  def replayFixture: Seq[Transaction] = {
    def ts(i: Int) = new java.sql.Timestamp(i * 1000L)
    Seq(
      Transaction("t1", 100.0, "USD", ts(1), Some("Test transaction"),
        "Test Merchant", Some("Test"), "APPROVED", "u1", Some(Map.empty)),
      Transaction("t2", 200.0, "EUR", ts(2), Some("Test transaction"),
        "Test Merchant", Some("Test"), "APPROVED", "u2", Some(Map.empty)),
      Transaction("t3", 150.0, "GBP", ts(3), Some("Test transaction"),
        "Test Merchant", Some("Test"), "APPROVED", "u3", Some(Map.empty)),
      Transaction("t4", 300.0, "USD", ts(4), Some("Test transaction"),
        "Test Merchant", Some("Test"), "CANCELLED", "u4", Some(Map.empty)),
      Transaction("t5", 250.0, "EUR", ts(5), Some("Test transaction"),
        "Test Merchant", Some("Test"), "PENDING", "u5", Some(Map.empty)))
  }

  /** q29_replay — the reference replay as a DRIVER-GATED row: the fixture
    * streams through MemoryStream → [[transform]] → foreachBatch parquet
    * sink (a real streaming write path, not .collect), and the re-read
    * result is hashed against a literal DuckDB oracle of the reference's
    * 4-row contract. `processingTimestamp` is wall-clock, so it gates as
    * a null-check verdict (`processed`), exactly the reference's own
    * assertion tier (TransactionConsumerTest.java:126).
    */
  def replayGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = s.sqlContext
    val src = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Transaction]
    src.addData(replayFixture: _*)
    val outDir = java.nio.file.Files
      .createTempDirectory("graft-q29-replay").toString
    val q = transform(src.toDF()).writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.write.mode("append").parquet(outDir); ()
      }
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    graft.Tables.parquet(s, outDir)
      .select(col("id"), col("amount"), col("currency"),
        col("timestamp").as("event_ts"), col("merchant"),
        col("userId").as("user_id"), col("amountInUsd").as("amount_usd"),
        col("processingTimestamp").isNotNull.cast("long").as("processed"))
      .orderBy(col("id"))
  }

  /** pipe_avro_quarantine — the quarantine edge as a DRIVER-GATED row:
    * the 5 fixture frames plus 3 planted poison frames (unknown schema
    * id, wrong magic, truncated Avro body) run through
    * [[decodeValuesPermissive]]; the gate pins per-disposition counts and
    * the decoded amount mass. Good rows decode untouched, poison rows
    * land as dead letters — nothing throws.
    */
  def avroQuarantineGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val good = replayFixture.map(t => TransactionAvro.encodeTransaction(t))
    val unknownId =
      TransactionAvro.encodeTransaction(replayFixture.head, schemaId = 99)
    val wrongMagic: Array[Byte] = Array[Byte](1, 2, 3, 4, 5, 6)
    val truncated = good.head.dropRight(10)
    val frames = good ++ Seq(unknownId, wrongMagic, truncated)
    decodeValuesPermissive(frames.toDF("value"))
      .select(
        when(col("decode_error").isNull, "ok")
          .when(col("decode_error").contains("unknown schema id"),
            "unknown_id")
          .otherwise("malformed").as("disposition"),
        col("t.amount").as("amount"))
      .groupBy(col("disposition"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum(col("amount")), lit(0.0)).as("amount_sum"))
      .orderBy(col("disposition"))
  }

  /** O13 — CLI entry mirroring the reference's positional args/defaults,
    * plus the `--config-file` / `kafka.*` pass-through the reference's
    * ConfigUtils provides (any `kafka.`-prefixed config key forwards to
    * the underlying client on both source and sink).
    */
  def main(args: Array[String]): Unit = {
    val (conf, positional) = ConfigUtils.parseArgs(args)
    val kafkaOpts = ConfigUtils.sparkKafkaOptions(conf)
    val bootstrap = if (positional.length > 0) positional(0) else "localhost:9092"
    // positional(1) would be the schema-registry URL in the reference;
    // our hand-rolled codec only needs the numeric schema id.
    val inTopic = if (positional.length > 2) positional(2) else "transactions"
    val outTopic = if (positional.length > 3) positional(3)
      else "approved_transactions"
    val spark = SparkSession.builder()
      .appName("transaction-processor")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    val q = toKafka(
      transform(fromKafka(spark, bootstrap, inTopic, kafkaOpts)),
      bootstrap, outTopic, s"/tmp/graft-ckpt-$outTopic",
      extraOptions = kafkaOpts)
    q.awaitTermination() // O10
  }
}
