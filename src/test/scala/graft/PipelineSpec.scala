package graft

import graft.pipeline.{TransactionAvro, TransactionPipeline}
import graft.pipeline.TransactionPipeline.Transaction
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Reference-pipeline replay (SURVEY.md §2.3 Q29): the canonical 5-row
  * fixture (FIXTURES.md §A.3, from BaseTransactionTest.java:145-156) must
  * produce 4 rows with amountInUsd = 100.0, 220.0, 195.0, 275.0 — the
  * CANCELLED row filtered, the PENDING row passing (the filter is only
  * `status <> 'CANCELLED'`, TransactionFlinkTest.java:87-93).
  */
class PipelineSpec extends SparkSpecBase {

  private def ts(i: Int) =
    java.sql.Timestamp.valueOf(s"2026-01-01 00:00:0$i")

  private def fixture: Seq[Transaction] = Seq(
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

  private def expected = Map(
    "t1" -> 100.0, "t2" -> 220.0, "t3" -> 195.0, "t5" -> 275.0)

  test("batch transform reproduces the reference fixture contract") {
    import spark.implicits._
    val out = TransactionPipeline.transform(fixture.toDF())
      .collect().map(r => (r.getAs[String]("id"), r.getAs[Double]("amountInUsd")))
      .toMap
    assert(out.keySet == expected.keySet) // t4 (CANCELLED) gone, t5 (PENDING) kept
    expected.foreach { case (id, usd) => assert(math.abs(out(id) - usd) < 0.001) }
  }

  test("streaming replay over MemoryStream matches the batch contract") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val src = MemoryStream[Transaction]
    src.addData(fixture: _*)
    val q = TransactionPipeline.transform(src.toDF())
      .writeStream.format("memory").queryName("q29").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val rows = spark.table("q29").collect()
    assert(rows.length == 4)
    val byId = rows.map(r =>
      r.getAs[String]("id") -> r.getAs[Double]("amountInUsd")).toMap
    assert(byId.keySet == expected.keySet)
    // 0.001 tolerance like the reference (TransactionFlinkTest.java:127-136)
    expected.foreach { case (id, usd) => assert(math.abs(byId(id) - usd) < 0.001) }
    // processingTimestamp only null-checked, like the reference
    // (TransactionConsumerTest.java:126)
    assert(rows.forall(_.getAs[java.sql.Timestamp]("processingTimestamp") != null))
  }

  test("streaming wire replay: framed Avro in → decode → transform → framed Avro out") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    TransactionAvro.registerUdfs(spark)
    // simulate the Kafka value column: Confluent-framed Avro bytes
    val src = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Array[Byte]]
    src.addData(fixture.map(t => TransactionAvro.encodeTransaction(t)): _*)
    val decoded = src.toDF()
      .select(org.apache.spark.sql.functions.call_udf(
        "decode_transaction", org.apache.spark.sql.functions.col("value")).as("t"))
      .select("t.*")
    val out = TransactionPipeline.transform(decoded)
    val encoded = out.select(org.apache.spark.sql.functions.call_udf(
      "encode_approved",
      org.apache.spark.sql.functions.struct(out.columns.map(
        org.apache.spark.sql.functions.col).toIndexedSeq: _*),
      org.apache.spark.sql.functions.lit(2)).as("value"))
    val q = encoded.writeStream.format("memory").queryName("wire")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val results = spark.table("wire").as[Array[Byte]].collect()
      .map(b => TransactionAvro.decodeApproved(b))
    assert(results.length == 4)
    val byId = results.map(a => a.id -> a.amountInUsd).toMap
    expected.foreach { case (id, usd) => assert(math.abs(byId(id) - usd) < 0.001) }
    assert(results.forall(_.processingTimestamp != null))
  }

  /** Classes compiled so far in this JVM: each codegen cache miss is one. */
  private def compiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Runs `query` three times; each run returns the `processingTimestamp`
    * millis of its rows and the wall-clock millis it was taken between.
    * Only the first run may compile code, and each run sees one value,
    * later than the last run's, inside its own bounds.
    */
  private def assertCompiledOnce(query: () => (Seq[Long], Long, Long)): Unit = {
    var last = Long.MinValue
    var compiled = 0L
    (1 to 3).foreach { run =>
      val (ts, from, to) = query()
      if (run == 1) compiled = compiles
      assert(ts.nonEmpty && ts.distinct.length == 1, s"run $run: $ts")
      assert(ts.head >= from && ts.head <= to && ts.head > last,
        s"run $run: ${ts.head} not in [$from, $to] or not after $last")
      last = ts.head
    }
    assert(compiles == compiled, "a later run compiled code again")
  }

  /** `transform` output → the Kafka record shape `toKafka` writes. */
  private def encode(out: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.functions.{call_udf, col, lit, struct}
    out.select(call_udf("encode_approved", struct(out.columns.map(col).toIndexedSeq: _*),
      lit(TransactionAvro.ApprovedSchemaId)).as("value"))
  }

  /** A fresh query per run: one DataFrame is one query execution, which
    * fixes its timestamp once.
    */
  private def processedAt(encoded: => org.apache.spark.sql.DataFrame): () => (Seq[Long], Long, Long) =
    () => {
      val from = System.currentTimeMillis()
      val ts = encoded.collect().toSeq.map(r =>
        TransactionAvro.decodeApproved(r.getAs[Array[Byte]](0)).processingTimestamp.getTime)
      (ts, from, System.currentTimeMillis())
    }

  test("the fused stage compiles once across batch queries of the pipeline") {
    import spark.implicits._
    val frames = fixture.map(t => TransactionAvro.encodeTransaction(t)).toDF("value")
    assertCompiledOnce(processedAt(encode(TransactionPipeline.transform(
      TransactionPipeline.decodeValues(frames)))))
    assertCompiledOnce(processedAt(encode(TransactionPipeline.transform(
      TransactionPipeline.goodRows(TransactionPipeline.decodeValuesPermissive(frames))))))
  }

  test("the fused stage compiles once across micro-batches; each batch keeps its timestamp") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val src = MemoryStream[Transaction]
    // each batch's (timestamps, end of the last batch, start of this one):
    // a micro-batch fixes its timestamp between the two
    val batches = new java.util.concurrent.LinkedBlockingQueue[(Seq[Long], Long, Long)]()
    @volatile var lastEnd = System.currentTimeMillis()
    val q = TransactionPipeline.transform(src.toDF()).writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val start = System.currentTimeMillis()
        val ts = b.collect().toSeq.map(_.getAs[java.sql.Timestamp]("processingTimestamp").getTime)
        if (ts.nonEmpty) batches.put((ts, lastEnd, start))
        lastEnd = System.currentTimeMillis()
        ()
      }.start()
    try assertCompiledOnce { () =>
      src.addData(fixture: _*)
      q.processAllAvailable()
      batches.take()
    } finally q.stop()
  }

  test("Confluent-framed Avro round-trips every fixture row") {
    fixture.foreach { t =>
      val bytes = TransactionAvro.encodeTransaction(t)
      assert(bytes(0) == 0x00)
      val (id, _) = TransactionAvro.unframe(bytes)
      assert(id == TransactionAvro.TransactionSchemaId)
      assert(TransactionAvro.decodeTransaction(bytes) == t)
    }
  }

  test("decode rejects unframed payloads") {
    intercept[IllegalArgumentException] {
      TransactionAvro.unframe(Array[Byte](1, 2, 3))
    }
  }

  test("an unregistered schema id fails loudly; a registered one resolves") {
    val bytes = TransactionAvro.encodeTransaction(fixture.head, schemaId = 7)
    val e = intercept[IllegalArgumentException] {
      TransactionAvro.decodeTransaction(bytes)
    }
    assert(e.getMessage.contains("unknown schema id 7"))
    // registering 7 as a Transaction writer makes the same frame decode
    val resolver = TransactionAvro.MapSchemaResolver(
      Map(7 -> TransactionAvro.transactionSchema))
    assert(TransactionAvro.decodeTransaction(bytes, resolver) == fixture.head)
  }

  test("O11: bounded batch read of a kafka-shaped topic slice decodes and transforms") {
    // the reference's own verification path (TransactionFlinkTest.java:
    // 142-171: scan.bounded.mode='latest-offset' + collect). No broker in
    // this env, so the fixture is framed into exactly the kafka batch
    // relation's row shape and driven through the shared decode stage
    // fromKafkaBounded binds to `spark.read.format("kafka")`.
    import spark.implicits._
    val kafkaShaped = fixture.zipWithIndex.map { case (t, i) =>
      (t.id.getBytes("UTF-8"), TransactionAvro.encodeTransaction(t),
        "transactions", 0, i.toLong,
        new java.sql.Timestamp(1700000000000L + i), 0)
    }.toDF("key", "value", "topic", "partition", "offset",
      "timestamp", "timestampType")
    val out = TransactionPipeline.transform(
      TransactionPipeline.decodeValues(kafkaShaped))
      .collect().map(r => r.getAs[String]("id") -> r.getAs[Double]("amountInUsd"))
      .toMap
    assert(out.keySet == expected.keySet)
    expected.foreach { case (id, usd) => assert(math.abs(out(id) - usd) < 0.001) }
  }

  test("schema evolution: decode an old-writer payload against the current reader") {
    import org.apache.avro.SchemaBuilder
    import org.apache.avro.generic.{GenericData, GenericDatumWriter}
    import org.apache.avro.io.EncoderFactory
    // v0 writer: no description/category/metadata fields
    val writerV0 = SchemaBuilder.record("Transaction").namespace("graft.avro")
      .fields()
      .requiredString("id").requiredDouble("amount").requiredString("currency")
      .name("timestamp").`type`(org.apache.avro.LogicalTypes.timestampMillis()
        .addToSchema(org.apache.avro.Schema.create(org.apache.avro.Schema.Type.LONG)))
      .noDefault()
      .requiredString("merchant").requiredString("status").requiredString("userId")
      .endRecord()
    val rec = new GenericData.Record(writerV0)
    rec.put("id", "t1"); rec.put("amount", 5.0); rec.put("currency", "EUR")
    rec.put("timestamp", 1700000000000L); rec.put("merchant", "m")
    rec.put("status", "APPROVED"); rec.put("userId", "u")
    val out = new java.io.ByteArrayOutputStream()
    val enc = EncoderFactory.get().binaryEncoder(out, null)
    new GenericDatumWriter[org.apache.avro.generic.GenericRecord](writerV0)
      .write(rec, enc)
    enc.flush()
    val framed = TransactionAvro.frame(1, out.toByteArray)
    val t = TransactionAvro.decodeTransactionEvolved(framed, writerV0)
    assert(t.id == "t1" && t.amount == 5.0 && t.currency == "EUR")
    assert(t.description.isEmpty && t.category.isEmpty && t.metadata.isEmpty)
    // the same evolution through the resolver path: register v0 under a
    // fresh id and decode the frame without naming the writer explicitly
    val resolver = TransactionAvro.MapSchemaResolver(
      Map(3 -> writerV0, 1 -> TransactionAvro.transactionSchema))
    val t2 = TransactionAvro.decodeTransaction(
      TransactionAvro.frame(3, out.toByteArray), resolver)
    assert(t2 == t)
  }

  test("schema evolution: a NEWER writer with an added nullable field resolves down") {
    import org.apache.avro.generic.{GenericData, GenericDatumWriter}
    import org.apache.avro.io.EncoderFactory
    // v2 writer = current schema + trailing nullable riskScore field;
    // the current reader must skip it (Avro resolution drops unknown
    // writer fields) — the frame a NEWER producer writes stays readable
    val fields = new java.util.ArrayList[org.apache.avro.Schema.Field]()
    TransactionAvro.transactionSchema.getFields.forEach { f =>
      fields.add(new org.apache.avro.Schema.Field(
        f.name(), f.schema(), f.doc(), f.defaultVal()))
    }
    val nullDouble = org.apache.avro.Schema.createUnion(
      org.apache.avro.Schema.create(org.apache.avro.Schema.Type.NULL),
      org.apache.avro.Schema.create(org.apache.avro.Schema.Type.DOUBLE))
    fields.add(new org.apache.avro.Schema.Field(
      "riskScore", nullDouble, null, org.apache.avro.JsonProperties.NULL_VALUE))
    val writerV2 = org.apache.avro.Schema.createRecord(
      "Transaction", null, "graft.avro", false, fields)
    val src = fixture.head
    val rec = new GenericData.Record(writerV2)
    rec.put("id", src.id); rec.put("amount", src.amount)
    rec.put("currency", src.currency)
    rec.put("timestamp", src.timestamp.getTime)
    rec.put("description", src.description.orNull)
    rec.put("merchant", src.merchant); rec.put("category", src.category.orNull)
    rec.put("status", src.status); rec.put("userId", src.userId)
    rec.put("metadata", new java.util.HashMap[String, String]())
    rec.put("riskScore", 0.42)
    val out = new java.io.ByteArrayOutputStream()
    val enc = EncoderFactory.get().binaryEncoder(out, null)
    new GenericDatumWriter[org.apache.avro.generic.GenericRecord](writerV2)
      .write(rec, enc)
    enc.flush()
    val resolver = TransactionAvro.MapSchemaResolver(Map(9 -> writerV2))
    val t = TransactionAvro.decodeTransaction(
      TransactionAvro.frame(9, out.toByteArray), resolver)
    assert(t == src)
  }

  test("case-class encoder nullability mirrors the declared DDL (SURVEY §1.3)") {
    val schema = org.apache.spark.sql.Encoders.product[Transaction].schema
    def nullable(f: String) = schema(f).nullable
    // Option[_] fields are the declared-nullable ones
    assert(nullable("description") && nullable("category") && nullable("metadata"))
    assert(!nullable("amount")) // primitives stay non-null
  }

  test("avro schemas declare millisecond timestamps (parity with TIMESTAMP(3))") {
    val f = TransactionAvro.transactionSchema.getField("timestamp").schema()
    assert(f.getLogicalType.getName == "timestamp-millis")
  }

  test(".avsc files are the schema source of truth: parse equals the independent build") {
    import org.apache.avro.SchemaBuilder
    def tsMillis = org.apache.avro.LogicalTypes.timestampMillis()
      .addToSchema(org.apache.avro.Schema.create(org.apache.avro.Schema.Type.LONG))
    // the pre-round-6 programmatic declarations, rebuilt here as the
    // independent cross-check of the parsed files (main has exactly one
    // declaration — the .avsc — so the two cannot drift)
    val expectedTxn = SchemaBuilder.record("Transaction").namespace("graft.avro")
      .fields()
      .requiredString("id").requiredDouble("amount").requiredString("currency")
      .name("timestamp").`type`(tsMillis).noDefault()
      .name("description").`type`().unionOf().nullType().and().stringType()
      .endUnion().nullDefault()
      .requiredString("merchant")
      .name("category").`type`().unionOf().nullType().and().stringType()
      .endUnion().nullDefault()
      .requiredString("status").requiredString("userId")
      .name("metadata").`type`().unionOf().nullType().and().map().values()
      .stringType().endUnion().nullDefault()
      .endRecord()
    val expectedApproved = SchemaBuilder.record("ApprovedTransaction")
      .namespace("graft.avro")
      .fields()
      .requiredString("id").requiredDouble("amount").requiredString("currency")
      .name("timestamp").`type`(tsMillis).noDefault()
      .requiredString("merchant").requiredString("userId")
      .requiredDouble("amountInUsd")
      .name("processingTimestamp").`type`(tsMillis).noDefault()
      .endRecord()
    assert(TransactionAvro.transactionSchema == expectedTxn)
    assert(TransactionAvro.approvedSchema == expectedApproved)
    // and the wire contract matches the reference's field inventory
    assert(TransactionAvro.transactionSchema.getFields.size() == 10)
    assert(TransactionAvro.approvedSchema.getFields.size() == 8)
  }
}
