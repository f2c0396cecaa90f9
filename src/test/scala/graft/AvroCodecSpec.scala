package graft

import java.nio.ByteBuffer

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{DecoderFactory, EncoderFactory}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{call_function, col, lit, struct}

import graft.pipeline.{TransactionAvro, TransactionPipeline}
import graft.pipeline.TransactionAvro.MapSchemaResolver
import graft.pipeline.TransactionPipeline.{ApprovedTransaction, Transaction}
import graft.plans.DecodeFrames.{DecodeStrategy, DecodeTransactionsExec}

/** The codec against Avro's own generic reader and writer, built inline
  * here as the oracle, and the decode plan node's shape and forms.
  */
class AvroCodecSpec extends SparkSpecBase {

  private val words = Seq("", "a", "plain ascii", "café", "Zürich straße", "東京",
    "emoji 🚀✨", "Ελληνικά", "ünïcødé " * 3, "x" * 300)

  /** `n` seeded transactions: nullable fields null in about a third,
    * strings from ASCII to 4-byte UTF-8, maps of 0–3 entries.
    */
  private def txns(n: Int, seed: Long = 7L): IndexedSeq[Transaction] = {
    val r = new scala.util.Random(seed)
    def w = words(r.nextInt(words.length)) + r.nextInt(1000)
    def opt[A](a: => A) = if (r.nextInt(3) == 0) None else Some(a)
    (0 until n).map { i =>
      Transaction(s"$w-$i", r.nextDouble() * 1e6 - 5e5, Seq("USD", "EUR", "GBP")(r.nextInt(3)),
        new java.sql.Timestamp(r.nextLong() % 4102444800000L + 4102444800000L),
        opt(w), w, opt(w), Seq("APPROVED", "CANCELLED", "PENDING")(r.nextInt(3)), w,
        opt((0 until r.nextInt(4)).map(_ => w -> w).toMap))
    }
  }

  // ---- the oracle: Avro's generic reader/writer ----

  private def oracleRecord(g: GenericRecord): Transaction = {
    def s(f: String) = Option(g.get(f)).map(_.toString)
    Transaction(s("id").orNull, g.get("amount").asInstanceOf[Double], s("currency").orNull,
      new java.sql.Timestamp(g.get("timestamp").asInstanceOf[Long]), s("description"),
      s("merchant").orNull, s("category"), s("status").orNull, s("userId").orNull,
      Option(g.get("metadata")).map(_.asInstanceOf[java.util.Map[AnyRef, AnyRef]].asScala
        .map { case (k, v) => k.toString -> v.toString }.toMap))
  }

  private def oracleDecode(frame: Array[Byte], writer: Schema): GenericRecord =
    new GenericDatumReader[GenericRecord](writer, TransactionAvro.transactionSchema)
      .read(null, DecoderFactory.get().binaryDecoder(frame.drop(5), null))

  private def oracleBody(rec: GenericRecord, schema: Schema): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val enc = EncoderFactory.get().binaryEncoder(out, null)
    new GenericDatumWriter[GenericRecord](schema).write(rec, enc)
    enc.flush()
    out.toByteArray
  }

  private def oracleFrame(id: Int, body: Array[Byte]): Array[Byte] =
    ByteBuffer.allocate(5 + body.length).put(0: Byte).putInt(id).put(body).array()

  private def txnRecord(t: Transaction, schema: Schema = TransactionAvro.transactionSchema) = {
    val r = new GenericData.Record(schema)
    r.put("id", t.id); r.put("amount", t.amount); r.put("currency", t.currency)
    r.put("timestamp", t.timestamp.getTime); r.put("description", t.description.orNull)
    r.put("merchant", t.merchant); r.put("category", t.category.orNull)
    r.put("status", t.status); r.put("userId", t.userId)
    // a default-capacity HashMap filled entry by entry: the iteration
    // order the writer sees, and so the byte order of map entries
    r.put("metadata", t.metadata.map { m =>
      val jm = new java.util.HashMap[String, String]()
      m.foreach { case (k, v) => jm.put(k, v) }
      jm
    }.orNull)
    r
  }

  /** The dead-letter text the per-call GenericDatumReader decode gave. */
  private def oracleError(frame: Array[Byte]): String =
    try {
      require(frame.length >= 5 && frame(0) == 0, s"not Confluent-framed (len=${frame.length})")
      val writer = TransactionAvro.DefaultResolver.writerSchema(ByteBuffer.wrap(frame, 1, 4).getInt)
      oracleDecode(frame, writer); null
    } catch { case scala.util.control.NonFatal(e) => s"${e.getClass.getSimpleName}: ${e.getMessage}" }

  private lazy val sample = txns(10000)
  private lazy val frames = sample.map(t => TransactionAvro.encodeTransaction(t))

  private def rowToTxn(r: Row): Transaction = Transaction(r.getString(0), r.getDouble(1),
    r.getString(2), r.getTimestamp(3), Option(r.getString(4)), r.getString(5),
    Option(r.getString(6)), r.getString(7), r.getString(8),
    Option(r.getMap[String, String](9)).map(_.toMap))

  private def framesDf(fs: Seq[Array[Byte]]): DataFrame = {
    import spark.implicits._
    fs.toDF("value").repartition(4)
  }

  test("the row type is the case class's encoder schema, field for field") {
    import org.apache.spark.sql.Encoders
    assert(TransactionAvro.transactionRowType == Encoders.product[Transaction].schema)
    assert(Encoders.product[ApprovedTransaction].schema.fieldNames.toSeq ==
      TransactionAvro.approvedSchema.getFields.asScala.map(_.name()).toSeq)
  }

  test("encodeTransaction is byte-identical to GenericDatumWriter") {
    sample.zip(frames).foreach { case (t, f) =>
      assert(java.util.Arrays.equals(f,
        oracleFrame(1, oracleBody(txnRecord(t), TransactionAvro.transactionSchema))), t)
    }
  }

  test("decode equals GenericDatumReader field by field: case-class and plan-node paths") {
    val want = frames.map(f => oracleRecord(oracleDecode(f, TransactionAvro.transactionSchema)))
    assert(want == sample)
    assert(frames.map(f => TransactionAvro.decodeTransaction(f)) == want)
    val rows = TransactionPipeline.decodeValues(framesDf(frames)).collect().map(rowToTxn)
    assert(rows.sortBy(_.id).toSeq == want.sortBy(_.id))
  }

  test("encode_approved is byte-identical to GenericDatumWriter on the same values") {
    import spark.implicits._
    val approved = sample.map(t => ApprovedTransaction(t.id, t.amount, t.currency, t.timestamp,
      t.merchant, t.userId, t.amount * 1.1, new java.sql.Timestamp(t.timestamp.getTime + 7)))
    val df = approved.toDF()
    // a wider, reordered struct binds by name, as the Row-based UDF did
    val out = df.select(col("id"), call_function("encode_approved",
      struct((lit(1).as("extra") +: df.columns.reverse.map(col).toSeq): _*),
      lit(TransactionAvro.ApprovedSchemaId)).as("value"))
      .as[(String, Array[Byte])].collect().toMap
    approved.foreach { a =>
      val r = new GenericData.Record(TransactionAvro.approvedSchema)
      r.put("id", a.id); r.put("amount", a.amount); r.put("currency", a.currency)
      r.put("timestamp", a.timestamp.getTime); r.put("merchant", a.merchant)
      r.put("userId", a.userId); r.put("amountInUsd", a.amountInUsd)
      r.put("processingTimestamp", a.processingTimestamp.getTime)
      val want = oracleFrame(2, oracleBody(r, TransactionAvro.approvedSchema))
      assert(java.util.Arrays.equals(out(a.id), want), a)
      assert(java.util.Arrays.equals(TransactionAvro.encodeApproved(a), want), a)
      assert(TransactionAvro.decodeApproved(want) == a)
    }
  }

  test("decode and encode from 8 threads equal the sequential results") {
    val approved = sample.map(t => ApprovedTransaction(t.id, t.amount, t.currency,
      t.timestamp, t.merchant, t.userId, t.amount, t.timestamp))
    val seqEnc = approved.map(a => TransactionAvro.encodeApproved(a))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = (0 until 8).map { k =>
        pool.submit(new java.util.concurrent.Callable[Boolean] {
          def call(): Boolean = (0 until 2).forall { rep =>
            sample.indices.forall { j =>
              val i = (j + k * 997 + rep * 31) % sample.length
              TransactionAvro.decodeTransaction(frames(i)) == sample(i) &&
                java.util.Arrays.equals(TransactionAvro.encodeTransaction(sample(i)), frames(i)) &&
                java.util.Arrays.equals(TransactionAvro.encodeApproved(approved(i)), seqEnc(i)) &&
                TransactionAvro.decodeApproved(seqEnc(i)) == approved(i)
            }
          }
        })
      }
      assert(futures.forall(_.get()))
    } finally pool.shutdown()
  }

  test("the executed plan decodes once, in one node, below the filter, reading only used fields") {
    import spark.implicits._
    val dir = FixtureMemo.cleanupOnExit(
      java.nio.file.Files.createTempDirectory("graft-avro-plan").toString)
    frames.take(2000).toDF("value").write.mode("overwrite").parquet(dir)
    val out = TransactionPipeline.transform(TransactionPipeline.decodeValues(spark.read.parquet(dir)))
    val plan = out.queryExecution.executedPlan
    val decodes = plan.collect { case d: DecodeTransactionsExec => d }
    assert(decodes.length == 1, plan)
    assert(!plan.collect { case f: FilterExec => f.condition }.exists(_.toString.contains("decode")), plan)
    assert("decode_transaction(_safe)?\\(".r.findAllIn(plan.toString).length == 1, plan)
    assert(decodes.head.output.map(_.name).toSet ==
      Set("id", "amount", "currency", "timestamp", "merchant", "status", "userId"))
    val want = sample.take(2000).filter(_.status != "CANCELLED").map(_.id).toSet
    assert(out.select("id").as[String].collect().toSet == want)
  }

  test("registering is idempotent per session: no function is replaced") {
    TransactionPipeline.decodeValues(framesDf(frames.take(1)))
    val reg = spark.sessionState.functionRegistry
    val ids = TransactionAvro.functionDescriptions.map(_._1)
    val builders = ids.map(id => reg.lookupFunctionBuilder(id).get)
    TransactionPipeline.decodeValuesPermissive(framesDf(frames.take(1)))
    TransactionAvro.registerUdfs(spark)
    assert(ids.map(id => reg.lookupFunctionBuilder(id).get).zip(builders).forall {
      case (a, b) => a eq b })
    assert(spark.experimental.extraStrategies.count(_ == DecodeStrategy) == 1)
  }

  /** Frames of every kind: good, unknown id, wrong magic, short, every
    * truncation of one frame and seeded garbage bodies.
    */
  private lazy val poisoned: Seq[Array[Byte]] = {
    val r = new scala.util.Random(3)
    val good = frames.take(200)
    // one-byte varints only: a random multi-byte length makes both
    // readers allocate up to 2 GB before they hit the end of the frame
    val garbage = (0 until 2000).map { _ =>
      oracleFrame(1, Array.fill(r.nextInt(60))(r.nextInt(128).toByte))
    }
    good ++ Seq(TransactionAvro.encodeTransaction(sample.head, schemaId = 99),
      Array[Byte](1, 2, 3, 4, 5, 6), Array[Byte](0, 0), Array.emptyByteArray) ++
      (0 until frames(5).length).map(frames(5).take(_)) ++ garbage
  }

  test("poison frames become dead letters with the decode_error text of the generic reader") {
    import spark.implicits._
    val got = TransactionPipeline.decodeValuesPermissive(framesDf(poisoned))
      .select(col("frame"), col("decode_error")).as[(Array[Byte], String)].collect()
    assert(got.length == poisoned.length)
    // once a JVM-raised exception's site is hot, HotSpot throws a
    // preallocated instance without a message (OmitStackTraceInFastThrow):
    // a "null" message on either side compares by class alone
    def same(a: String, b: String) = a == b || (a != null && b != null &&
      (a.endsWith(": null") || b.endsWith(": null")) &&
      a.takeWhile(_ != ':') == b.takeWhile(_ != ':'))
    val byFrame = got.groupBy(g => g._1.toSeq).map { case (k, v) => k -> v.map(_._2).toSet }
    poisoned.foreach { f =>
      val want = oracleError(f)
      assert(byFrame(f.toSeq).forall(same(_, want)), s"${f.toSeq}: ${byFrame(f.toSeq)} vs $want")
    }
    assert(poisoned.count(oracleError(_) != null) > 2000)
    // the case-class form gives the same text
    poisoned.foreach { f =>
      assert(same(TransactionAvro.decodeTransactionSafe(f).error, oracleError(f)), f.toSeq)
    }
    // strict decode fails the job with the resolver's message
    val e = intercept[Exception](TransactionPipeline.decodeValues(
      framesDf(Seq(TransactionAvro.encodeTransaction(sample.head, schemaId = 99)))).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).exists(c =>
      c.isInstanceOf[IllegalArgumentException] &&
        c.getMessage == "unknown schema id 99 (registered: 1, 2)"), e)
  }

  test("over a MemoryStream both decode forms give the batch rows") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    def run(name: String, decode: DataFrame => DataFrame, input: Seq[Array[Byte]]): Array[Row] = {
      val src = MemoryStream[Array[Byte]]
      val q = decode(src.toDF()).writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        input.grouped(700).foreach { g => src.addData(g: _*); q.processAllAvailable() }
      } finally q.stop()
      spark.table(name).collect()
    }
    def key(r: Row) = r.toString
    val strict = run("avro_strict", TransactionPipeline.decodeValues(_), frames.take(3000))
    assert(strict.map(key).sorted.toSeq ==
      TransactionPipeline.decodeValues(framesDf(frames.take(3000))).collect().map(key).sorted.toSeq)
    val perm = run("avro_perm", TransactionPipeline.decodeValuesPermissive(_), poisoned)
    val batch = TransactionPipeline.decodeValuesPermissive(framesDf(poisoned)).collect()
    def pkey(r: Row) = (Option(r.getStruct(0)).map(_.toString), r.getAs[Array[Byte]](1).toSeq,
      r.getString(2)).toString
    assert(perm.map(pkey).sorted.toSeq == batch.map(pkey).sorted.toSeq)
  }

  test("old (v0) and newer (v2) writers decode through the plan node as through the case class") {
    import org.apache.avro.SchemaBuilder
    val writerV0 = SchemaBuilder.record("Transaction").namespace("graft.avro").fields()
      .requiredString("id").requiredDouble("amount").requiredString("currency")
      .name("timestamp").`type`(org.apache.avro.LogicalTypes.timestampMillis()
        .addToSchema(Schema.create(Schema.Type.LONG))).noDefault()
      .requiredString("merchant").requiredString("status").requiredString("userId")
      .endRecord()
    val fields = TransactionAvro.transactionSchema.getFields.asScala.map(f =>
      new Schema.Field(f.name(), f.schema(), f.doc(), f.defaultVal())).toList :+
      new Schema.Field("riskScore", Schema.createUnion(Schema.create(Schema.Type.NULL),
        Schema.create(Schema.Type.DOUBLE)), null, org.apache.avro.JsonProperties.NULL_VALUE)
    val writerV2 = Schema.createRecord("Transaction", null, "graft.avro", false, fields.asJava)
    val resolver = MapSchemaResolver(Map(1 -> TransactionAvro.transactionSchema,
      3 -> writerV0, 9 -> writerV2))
    val ts = sample.take(300)
    val mixed = ts.zipWithIndex.map { case (t, i) =>
      i % 3 match {
        case 0 => TransactionAvro.encodeTransaction(t)
        case 1 =>
          val r = new GenericData.Record(writerV0)
          Seq("id", "currency", "merchant", "status", "userId").foreach { f =>
            r.put(f, txnRecord(t).get(f)) }
          r.put("amount", t.amount); r.put("timestamp", t.timestamp.getTime)
          oracleFrame(3, oracleBody(r, writerV0))
        case _ =>
          val r = new GenericData.Record(writerV2)
          val cur = txnRecord(t)
          TransactionAvro.transactionSchema.getFields.forEach(f => r.put(f.name(), cur.get(f.name())))
          r.put("riskScore", 0.5)
          oracleFrame(9, oracleBody(r, writerV2))
      }
    }
    val want = mixed.map(f => TransactionAvro.decodeTransaction(f, resolver))
    assert(want.zipWithIndex.forall { case (w, i) =>
      if (i % 3 == 1) w == ts(i).copy(description = None, category = None, metadata = None)
      else w == ts(i) })
    assert(mixed.map(f => oracleRecord(
      oracleDecode(f, resolver.writerSchema(ByteBuffer.wrap(f, 1, 4).getInt)))) == want)
    val rows = TransactionPipeline.decodeValues(framesDf(mixed), resolver).collect().map(rowToTxn)
    assert(rows.sortBy(_.id).toSeq == want.sortBy(_.id))
    val good = TransactionPipeline.goodRows(
      TransactionPipeline.decodeValuesPermissive(framesDf(mixed), resolver)).collect().map(rowToTxn)
    assert(good.sortBy(_.id).toSeq == want.sortBy(_.id))
  }
}
