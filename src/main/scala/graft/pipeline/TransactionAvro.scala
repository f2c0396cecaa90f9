package graft.pipeline

import java.nio.ByteBuffer

import scala.collection.mutable.ArrayBuffer

import org.apache.avro.{LogicalTypes, Schema, SystemLimitException}
import org.apache.avro.io.{BinaryDecoder, BinaryEncoder, Decoder, DecoderFactory, Encoder, EncoderFactory, ResolvingDecoder}
import org.apache.avro.util.Utf8
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, GenericInternalRow, UnaryExpression, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode, UnsafeArrayWriter, UnsafeRowWriter, UnsafeWriter}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, DateTimeUtils, GenericArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import graft.pipeline.TransactionPipeline.{ApprovedTransaction, Transaction}

/** Avro codec for the reference's Kafka wire format (O2, SURVEY.md §7.3):
  * Confluent framing = 1 magic byte (0x00) + 4-byte big-endian schema id
  * + Avro binary body. There is no spark-avro module on this classpath,
  * so encode/decode run on avro-core directly.
  *
  * The `.avsc` files (src/main/resources/avro/, mirroring
  * /root/reference/src/main/avro/Transaction.avsc:1-53) are the single
  * source of truth: schemas are PARSED from them at class load, never
  * re-declared in code. AvroSchemaSpec cross-checks the parse against an
  * independently built schema.
  *
  * Frame ids resolve through a [[SchemaResolver]] — the offline stand-in
  * for the reference's registry client (TransactionProcessor.java:72-82,
  * :113): known id → writer schema, reader-schema resolution applies
  * Avro evolution rules, unknown id → loud failure (never a silent
  * mis-decode).
  *
  * One codec, Catalyst rows on both sides. [[FrameReader]] decodes a
  * frame's body in place (from offset 5, no copy) into an
  * `UnsafeRowWriter`, through a reused `BinaryDecoder` and, for a writer
  * schema other than the reader, Avro's `ResolvingDecoder` — the
  * resolution `GenericDatumReader` runs, minus the GenericRecord and the
  * case class in between. [[FrameWriter]] encodes an `InternalRow`
  * through a reused `BinaryEncoder` into a buffer that already holds the
  * header. The case-class entry points ([[decodeTransaction]],
  * [[encodeApproved]], …) are thin adapters over the same two classes.
  *
  * Where the state lives. A `FrameReader` holds the mutable per-stream
  * state: the decode plan per writer-schema id, the reused
  * `BinaryDecoder` and `Utf8` buffers. It is not thread-safe: the decode
  * plan node (plans.DecodeFrames) builds one per task, and the case-class
  * entry points keep one per thread and resolver, so they stay safe to call
  * from parallel streams. Encoding keeps a `FrameWriter` per thread.
  *
  * Why the decode is a plan node and not a UDF: a UDF in a projection
  * lets the optimizer push `status <> 'CANCELLED'` below it, so every
  * frame decoded twice (once in the Filter, once in the Project). The
  * node's output is the typed columns, so the filter runs on them after
  * the one decode; see [[TransactionPipeline.decodeValues]]. The SQL
  * functions `decode_transaction`, `decode_transaction_safe` and
  * `encode_approved` stay for SQL callers, on the same codec.
  */
object TransactionAvro {

  val MagicByte: Byte = 0x00

  /** Confluent schema ids for the two registered subjects. */
  val TransactionSchemaId: Int = 1
  val ApprovedSchemaId: Int = 2

  private def parseResource(path: String): Schema = {
    val in = getClass.getResourceAsStream(path)
    require(in != null, s"missing classpath resource $path")
    try new Schema.Parser().parse(in) finally in.close()
  }

  val transactionSchema: Schema = parseResource("/avro/Transaction.avsc")
  val approvedSchema: Schema = parseResource("/avro/ApprovedTransaction.avsc")

  /** Registry surface: map a frame's schema id to the WRITER schema it
    * was encoded with. The default resolver knows the two registered
    * ids; decode against a frame from any other id fails loudly instead
    * of mis-decoding bytes against the wrong schema.
    */
  trait SchemaResolver extends Serializable { def writerSchema(id: Int): Schema }

  final case class MapSchemaResolver(byId: Map[Int, Schema])
      extends SchemaResolver {
    def writerSchema(id: Int): Schema = byId.getOrElse(id,
      throw new IllegalArgumentException(s"unknown schema id $id " +
        s"(registered: ${byId.keys.toSeq.sorted.mkString(", ")})"))
  }

  val DefaultResolver: SchemaResolver = MapSchemaResolver(Map(
    TransactionSchemaId -> transactionSchema,
    ApprovedSchemaId -> approvedSchema))

  // ---- framing ----

  def frame(schemaId: Int, body: Array[Byte]): Array[Byte] = {
    val buf = ByteBuffer.allocate(5 + body.length)
    buf.put(MagicByte).putInt(schemaId).put(body)
    buf.array()
  }

  /** The frame's schema id; fails on anything not Confluent-framed. */
  private def schemaIdOf(bytes: Array[Byte]): Int =
    schemaIdOf(bytes, 0, if (bytes == null) -1 else bytes.length)

  /** The schema id of the frame in `buf(off until off + len)`; `len` -1
    * stands for a null frame.
    */
  private def schemaIdOf(buf: Array[Byte], off: Int, len: Int): Int = {
    require(len >= 5 && buf(off) == MagicByte,
      s"not Confluent-framed (len=${if (len < 0) "null" else len})")
    ((buf(off + 1) & 0xff) << 24) | ((buf(off + 2) & 0xff) << 16) |
      ((buf(off + 3) & 0xff) << 8) | (buf(off + 4) & 0xff)
  }

  /** Strip the Confluent header; returns (schemaId, body). */
  def unframe(bytes: Array[Byte]): (Int, Array[Byte]) =
    (schemaIdOf(bytes), java.util.Arrays.copyOfRange(bytes, 5, bytes.length))

  // ---- the codec ----

  /** How one record field maps between Avro and Catalyst. The shipped
    * schemas use strings, doubles, timestamp-millis longs, a string map
    * and `[null, T]` unions of those; `nullBranch` is the union's null
    * branch, -1 outside a union.
    */
  private final case class FieldCodec(name: String, kind: Int, nullBranch: Int)
  private final val Str = 0
  private final val Dbl = 1
  private final val TsMillis = 2
  private final val StrMap = 3

  private def layout(record: Schema): Array[FieldCodec] = {
    def kindOf(s: Schema): Int = s.getType match {
      case Schema.Type.STRING => Str
      case Schema.Type.DOUBLE => Dbl
      case Schema.Type.LONG
          if s.getLogicalType.isInstanceOf[LogicalTypes.TimestampMillis] => TsMillis
      case Schema.Type.MAP if s.getValueType.getType == Schema.Type.STRING => StrMap
      case _ => throw new IllegalArgumentException(s"unsupported Avro type $s")
    }
    val out = ArrayBuffer.empty[FieldCodec]
    record.getFields.forEach { f =>
      val s = f.schema()
      out += (if (s.getType != Schema.Type.UNION) FieldCodec(f.name(), kindOf(s), -1)
        else {
          val types = s.getTypes
          val nb = types.indexOf(Schema.create(Schema.Type.NULL))
          require(types.size == 2 && nb >= 0, s"unsupported union $s in ${f.name()}")
          FieldCodec(f.name(), kindOf(types.get(1 - nb)), nb)
        })
    }
    out.toArray
  }

  private val transactionLayout = layout(transactionSchema)
  private val approvedLayout = layout(approvedSchema)

  /** Catalyst shape of a decoded Transaction, as the case class's encoder
    * gives it (the adapters below rely on the two field orders agreeing):
    * a non-union double is not nullable, every other field is.
    */
  private[graft] val transactionRowType: StructType = StructType(transactionLayout.toSeq.map { f =>
    StructField(f.name, f.kind match {
      case Str => StringType
      case Dbl => DoubleType
      case TsMillis => TimestampType
      case StrMap => MapType(StringType, StringType)
    }, nullable = f.kind != Dbl || f.nullBranch >= 0)
  })
  private def layoutOf(s: Schema): Array[FieldCodec] =
    if (s eq transactionSchema) transactionLayout
    else if (s eq approvedSchema) approvedLayout
    else layout(s)

  /** Decodes frames into Catalyst rows laid out by `reader`: field `i` of
    * the reader schema goes to row ordinal `slots(i)`; when that is -1
    * the field is parsed past, with the same checks, and not written.
    * The writer schema comes from the frame's id. A body written with the
    * reader schema itself is read as it lies; any other goes through
    * Avro's `ResolvingDecoder` (skipped writer fields, defaulted reader
    * fields, promotions). Single-threaded.
    */
  private[graft] final class FrameReader(resolver: SchemaResolver, reader: Schema) {
    private val fields = layoutOf(reader)
    private val readerOrder = reader.getFields.toArray(new Array[Schema.Field](0))
    /** Per writer-schema id: its resolving decoder, or None when the
      * writer is the reader and the body is read as it lies.
      */
    private val plans = new java.util.HashMap[Integer, Option[ResolvingDecoder]]()
    private var lastId = Int.MinValue
    private var last: Option[ResolvingDecoder] = _
    private var bin: BinaryDecoder = _
    private val str = new Utf8()
    private val keys = ArrayBuffer.empty[Utf8]
    private val values = ArrayBuffer.empty[Utf8]
    private lazy val ownRow = new UnsafeRowWriter(fields.length, 256)
    private val allSlots = fields.indices.toArray

    private def planFor(id: Int): Option[ResolvingDecoder] =
      if (id == lastId) last
      else {
        var p = plans.get(id)
        if (p == null) {
          val writer = resolver.writerSchema(id)
          p = if (writer == reader) None
            else Some(DecoderFactory.get().resolvingDecoder(writer, reader, null))
          plans.put(id, p)
        }
        lastId = id; last = p
        p
      }

    /** Decodes the frame in `buf(off until off + len)` (`len` -1: a null
      * frame) in place into `w`, which the caller has reset.
      */
    def read(buf: Array[Byte], off: Int, len: Int, w: UnsafeRowWriter, slots: Array[Int]): Unit = {
      val plan = planFor(schemaIdOf(buf, off, len))
      bin = DecoderFactory.get().binaryDecoder(buf, off + 5, len - 5, bin)
      val in: Decoder = plan match {
        case Some(r) => r.configure(bin); r
        case None => bin
      }
      val order = plan match {
        case Some(r) => r.readFieldOrder()
        case None => readerOrder
      }
      var i = 0
      while (i < order.length) {
        val pos = order(i).pos()
        readField(in, fields(pos), w, slots(pos))
        i += 1
      }
      plan.foreach(_.drain())
    }

    /** Decodes `frame` into a row of every reader field, reused by the
      * next call.
      */
    def readRow(frame: Array[Byte]): UnsafeRow = {
      ownRow.reset(); ownRow.zeroOutNullBytes()
      read(frame, 0, if (frame == null) -1 else frame.length, ownRow, allSlots)
      ownRow.getRow
    }

    /** A union's branch; out of range fails as `ResolvingDecoder` does. */
    private def branch(in: Decoder): Int = {
      val b = in.readIndex()
      if (b < 0 || b > 1) throw new ArrayIndexOutOfBoundsException(
        s"Index $b out of bounds for length 2")
      b
    }

    private def readField(in: Decoder, f: FieldCodec, w: UnsafeRowWriter, ord: Int): Unit =
      if (f.nullBranch >= 0 && branch(in) == f.nullBranch) {
        in.readNull()
        if (ord >= 0) w.setNullAt(ord)
      } else f.kind match {
        case Str =>
          if (ord < 0) skipString(in)
          else {
            in.readString(str)
            w.write(ord, str.getBytes, 0, str.getByteLength)
          }
        case Dbl =>
          val d = in.readDouble()
          if (ord >= 0) w.write(ord, d)
        case TsMillis =>
          val ms = in.readLong()
          if (ord >= 0) w.write(ord, DateTimeUtils.millisToMicros(ms))
        case StrMap =>
          val n = readMap(in, ord >= 0)
          if (ord >= 0) writeMap(w, ord, n)
      }

    /** Past a string the row does not keep: the checks `readString`
      * makes, without the copy.
      */
    private def skipString(in: Decoder): Unit = in match {
      case b: BinaryDecoder => b.skipFixed(SystemLimitException.checkMaxStringLength(b.readLong()))
      case _ => in.readString(str)
    }

    private def readMap(in: Decoder, keep: Boolean): Int = {
      var n = 0
      var block = in.readMapStart()
      while (block > 0) {
        var j = 0L
        while (j < block) {
          if (!keep) { skipString(in); skipString(in) }
          else {
            if (n == keys.length) { keys += new Utf8(); values += new Utf8() }
            in.readString(keys(n)); in.readString(values(n))
            n += 1
          }
          j += 1
        }
        block = in.mapNext()
      }
      n
    }

    /** The UnsafeMapData layout: key-array byte size, key array, value
      * array.
      */
    private def writeMap(w: UnsafeWriter, ord: Int, n: Int): Unit = {
      val start = w.cursor()
      w.grow(8); w.increaseCursor(8)
      writeArray(new UnsafeArrayWriter(w, 8), keys, n)
      Platform.putLong(w.getBuffer, start.toLong, (w.cursor() - start - 8).toLong)
      writeArray(new UnsafeArrayWriter(w, 8), values, n)
      w.setOffsetAndSizeFromPreviousCursor(ord, start)
    }

    private def writeArray(a: UnsafeArrayWriter, xs: ArrayBuffer[Utf8], n: Int): Unit = {
      a.initialize(n)
      var i = 0
      while (i < n) { a.write(i, xs(i).getBytes, 0, xs(i).getByteLength); i += 1 }
    }
  }

  /** Encodes Catalyst rows laid out by `schema` into frames: schema field
    * `i` is read from row ordinal `ords(i)`. Single-threaded.
    */
  private final class FrameWriter {
    private val out = new FrameBuffer
    private var enc: BinaryEncoder = _
    private val str = new Utf8()

    def write(row: InternalRow, ords: Array[Int], schema: Schema, schemaId: Int): Array[Byte] = {
      val fields = layoutOf(schema)
      out.start(schemaId)
      enc = EncoderFactory.get().directBinaryEncoder(out, enc)
      var i = 0
      while (i < fields.length) {
        val f = fields(i); val ord = ords(i)
        if (row.isNullAt(ord)) {
          if (f.nullBranch < 0) throw new NullPointerException(
            s"null value for non-nullable field ${schema.getName}.${f.name}")
          enc.writeIndex(f.nullBranch); enc.writeNull()
        } else {
          if (f.nullBranch >= 0) enc.writeIndex(1 - f.nullBranch)
          f.kind match {
            case Str => writeString(enc, row.getUTF8String(ord))
            case Dbl => enc.writeDouble(row.getDouble(ord))
            case TsMillis => enc.writeLong(DateTimeUtils.microsToMillis(row.getLong(ord)))
            case StrMap => writeMap(enc, row.getMap(ord))
          }
        }
        i += 1
      }
      enc.flush()
      out.frame()
    }

    private def writeString(e: Encoder, s: UTF8String): Unit = s.getBaseObject match {
      case a: Array[Byte] =>
        e.writeInt(s.numBytes())
        e.writeFixed(a, (s.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt, s.numBytes())
      case _ => e.writeString(str.set(s.toString))
    }

    private def writeMap(e: Encoder, m: MapData): Unit = {
      val n = m.numElements()
      e.writeMapStart(); e.setItemCount(n.toLong)
      var i = 0
      while (i < n) {
        e.startItem()
        writeString(e, m.keyArray().getUTF8String(i))
        writeString(e, m.valueArray().getUTF8String(i))
        i += 1
      }
      e.writeMapEnd()
    }
  }

  /** A growable byte buffer holding one frame, header first. */
  private final class FrameBuffer extends java.io.OutputStream {
    private var buf = new Array[Byte](256)
    private var len = 0
    def start(schemaId: Int): Unit = {
      buf(0) = MagicByte
      buf(1) = (schemaId >>> 24).toByte; buf(2) = (schemaId >>> 16).toByte
      buf(3) = (schemaId >>> 8).toByte; buf(4) = schemaId.toByte
      len = 5
    }
    private def ensure(n: Int): Unit =
      if (len + n > buf.length) buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, len + n))
    override def write(b: Int): Unit = { ensure(1); buf(len) = b.toByte; len += 1 }
    override def write(b: Array[Byte], off: Int, n: Int): Unit = {
      ensure(n); System.arraycopy(b, off, buf, len, n); len += n
    }
    def frame(): Array[Byte] = java.util.Arrays.copyOf(buf, len)
  }

  // ---- per-thread state of the case-class entry points ----

  private final class Local {
    val writer = new FrameWriter
    private val readers = new java.util.HashMap[(SchemaResolver, Schema), FrameReader]()
    private var lastKey: (SchemaResolver, Schema) = _
    private var lastReader: FrameReader = _
    def reader(resolver: SchemaResolver, schema: Schema): FrameReader =
      if (lastKey != null && (lastKey._1 eq resolver) && (lastKey._2 eq schema)) lastReader
      else {
        val key = (resolver, schema)
        var r = readers.get(key)
        if (r == null) {
          if (readers.size >= 32) readers.clear()
          r = new FrameReader(resolver, schema)
          readers.put(key, r)
        }
        lastKey = key; lastReader = r
        r
      }
  }
  private val local = ThreadLocal.withInitial[Local](() => new Local)

  /** Decodes a frame into a fresh row of every Transaction field. */
  private def decodeRow(bytes: Array[Byte], resolver: SchemaResolver = DefaultResolver): UnsafeRow =
    local.get.reader(resolver, transactionSchema).readRow(bytes).copy()

  private def encodeRow(row: InternalRow, schema: Schema, schemaId: Int): Array[Byte] =
    local.get.writer.write(row, identityOrds(schema), schema, schemaId)

  private val txOrds = transactionLayout.indices.toArray
  private val approvedOrds = approvedLayout.indices.toArray
  private def identityOrds(s: Schema) = if (s eq transactionSchema) txOrds else approvedOrds

  // ---- Transaction ----

  private def utf8(s: String): UTF8String = UTF8String.fromString(s)
  private def micros(t: java.sql.Timestamp): Any =
    if (t == null) null else DateTimeUtils.millisToMicros(t.getTime)
  private def timestamp(micros: Long) =
    new java.sql.Timestamp(DateTimeUtils.microsToMillis(micros))
  private def str(r: InternalRow, i: Int): String =
    if (r.isNullAt(i)) null else r.getUTF8String(i).toString

  def encodeTransaction(t: Transaction,
      schemaId: Int = TransactionSchemaId): Array[Byte] = {
    // entries in java.util.HashMap order, as GenericDatumWriter wrote them
    val meta = t.metadata.map { m =>
      val jm = new java.util.HashMap[String, String]()
      m.foreach { case (k, v) => jm.put(k, v) }
      val ks = new Array[Any](jm.size); val vs = new Array[Any](jm.size)
      var i = 0
      jm.forEach { (k, v) => ks(i) = utf8(k); vs(i) = utf8(v); i += 1 }
      new ArrayBasedMapData(new GenericArrayData(ks), new GenericArrayData(vs))
    }.orNull
    encodeRow(new GenericInternalRow(Array[Any](utf8(t.id), t.amount, utf8(t.currency),
      micros(t.timestamp), t.description.map(utf8).orNull, utf8(t.merchant),
      t.category.map(utf8).orNull, utf8(t.status), utf8(t.userId), meta)),
      transactionSchema, schemaId)
  }

  /** Decode a Confluent-framed Transaction: the frame's id resolves the
    * WRITER schema through the resolver (unknown id → loud failure);
    * the current [[transactionSchema]] is the reader, so registered
    * older/newer writer versions decode via Avro evolution rules.
    */
  def decodeTransaction(bytes: Array[Byte],
      resolver: SchemaResolver = DefaultResolver): Transaction =
    rowToTransaction(local.get.reader(resolver, transactionSchema).readRow(bytes))

  /** Decode a framed payload written with an older/newer Transaction
    * schema, resolving to the current reader schema.
    */
  def decodeTransactionEvolved(bytes: Array[Byte], writer: Schema): Transaction =
    decodeTransaction(bytes, MapSchemaResolver(Map(schemaIdOf(bytes) -> writer)))

  /** Permissive decode result: exactly one of `t` / `error` is set. */
  final case class SafeDecoded(t: Transaction, error: String)

  /** The dead-letter text of a failed decode. */
  private[graft] def errorText(e: Throwable): String = s"${e.getClass.getSimpleName}: ${e.getMessage}"

  /** Quarantine-tier decode (the q23b pattern at the ingest edge): a
    * malformed or unknown-id frame yields an error string instead of
    * killing the batch — at 100 TB a single poison frame must become a
    * dead-letter row, not a job failure. The strict [[decodeTransaction]]
    * stays the O2-parity path; this is the production edge.
    */
  def decodeTransactionSafe(bytes: Array[Byte],
      resolver: SchemaResolver = DefaultResolver): SafeDecoded =
    try SafeDecoded(decodeTransaction(bytes, resolver), null)
    catch { case scala.util.control.NonFatal(e) => SafeDecoded(null, errorText(e)) }

  private def rowToTransaction(r: InternalRow): Transaction =
    Transaction(
      id = str(r, 0),
      amount = r.getDouble(1),
      currency = str(r, 2),
      timestamp = timestamp(r.getLong(3)),
      description = Option(str(r, 4)),
      merchant = str(r, 5),
      category = Option(str(r, 6)),
      status = str(r, 7),
      userId = str(r, 8),
      metadata = if (r.isNullAt(9)) None else Some {
        val m = r.getMap(9); val ks = m.keyArray(); val vs = m.valueArray()
        val b = Map.newBuilder[String, String]
        var i = 0
        while (i < m.numElements()) {
          b += ks.getUTF8String(i).toString -> vs.getUTF8String(i).toString; i += 1
        }
        b.result()
      })

  // ---- ApprovedTransaction ----

  def encodeApproved(a: ApprovedTransaction,
      schemaId: Int = ApprovedSchemaId): Array[Byte] =
    encodeRow(new GenericInternalRow(Array[Any](utf8(a.id), a.amount, utf8(a.currency),
      micros(a.timestamp), utf8(a.merchant), utf8(a.userId), a.amountInUsd,
      micros(a.processingTimestamp))), approvedSchema, schemaId)

  def decodeApproved(bytes: Array[Byte],
      resolver: SchemaResolver = DefaultResolver): ApprovedTransaction = {
    val r = local.get.reader(resolver, approvedSchema).readRow(bytes)
    ApprovedTransaction(
      id = str(r, 0),
      amount = r.getDouble(1),
      currency = str(r, 2),
      timestamp = timestamp(r.getLong(3)),
      merchant = str(r, 4),
      userId = str(r, 5),
      amountInUsd = r.getDouble(6),
      processingTimestamp = timestamp(r.getLong(7)))
  }

  // ---- SQL surface ----

  /** `encode_approved(struct, schemaId)`: the struct's fields are bound
    * to ApprovedTransaction.avsc by name once; each row is written
    * through the thread's [[FrameWriter]], no `Row` in between.
    */
  case class EncodeApproved(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = BinaryType
    override def prettyName: String = "encode_approved"

    private def wanted: Seq[(String, DataType)] = Seq("id" -> StringType,
      "amount" -> DoubleType, "currency" -> StringType, "timestamp" -> TimestampType,
      "merchant" -> StringType, "userId" -> StringType, "amountInUsd" -> DoubleType,
      "processingTimestamp" -> TimestampType)

    override def checkInputDataTypes(): TypeCheckResult = left.dataType match {
      case st: StructType if right.dataType == IntegerType =>
        wanted.collectFirst { case (n, t) if !st.fieldNames.contains(n) ||
            st(n).dataType != t => s"$n $t" } match {
          case None => TypeCheckResult.TypeCheckSuccess
          case Some(f) => TypeCheckResult.TypeCheckFailure(
            s"encode_approved needs a struct field $f, got ${st.simpleString}")
        }
      case other => TypeCheckResult.TypeCheckFailure(
        s"encode_approved(struct, int), got (${other.simpleString}, ${right.dataType.simpleString})")
    }

    @transient private lazy val ords: Array[Int] = {
      val st = left.dataType.asInstanceOf[StructType]
      wanted.map { case (n, _) => st.fieldIndex(n) }.toArray
    }

    def encode(struct: InternalRow, schemaId: Int): Array[Byte] =
      local.get.writer.write(struct, ords, approvedSchema, schemaId)

    override protected def nullSafeEval(struct: Any, schemaId: Any): Any =
      encode(struct.asInstanceOf[InternalRow], schemaId.asInstanceOf[Int])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val self = ctx.addReferenceObj("encodeApproved", this)
      defineCodeGen(ctx, ev, (s, id) => s"$self.encode($s, $id)")
    }

    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** `decode_transaction(binary)` → Transaction struct (strict) and
    * `decode_transaction_safe(binary)` → struct<t, error> (permissive),
    * for SQL callers; the DataFrame API plans the decode as a node.
    */
  case class DecodeTransaction(child: Expression, permissive: Boolean)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType =
      if (!permissive) transactionRowType
      else new StructType().add("t", transactionRowType).add("error", StringType)
    override def nullable: Boolean = true
    override def prettyName: String =
      if (permissive) "decode_transaction_safe" else "decode_transaction"

    override def eval(input: InternalRow): Any = {
      val bytes = child.eval(input).asInstanceOf[Array[Byte]]
      if (!permissive) decodeRow(bytes)
      else try new GenericInternalRow(Array[Any](decodeRow(bytes), null))
      catch { case scala.util.control.NonFatal(e) =>
        new GenericInternalRow(Array[Any](null, UTF8String.fromString(errorText(e))))
      }
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  private def function(name: String, clazz: Class[_], usage: String)(
      builder: Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(clazz.getName, null, name, usage, ""), builder)

  /** The three SQL functions, for `SparkSessionExtensions.injectFunction`. */
  val functionDescriptions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(
      function("decode_transaction", classOf[DecodeTransaction],
        "decode_transaction(frame) - Confluent-framed Avro → Transaction struct")(
        e => DecodeTransaction(e.head, permissive = false)),
      function("decode_transaction_safe", classOf[DecodeTransaction],
        "decode_transaction_safe(frame) - struct<t, error>: the Transaction, or the decode error")(
        e => DecodeTransaction(e.head, permissive = true)),
      function("encode_approved", classOf[EncodeApproved],
        "encode_approved(struct, schemaId) - ApprovedTransaction fields → Confluent-framed Avro")(
        e => EncodeApproved(e(0), e(1))))

  /** Registers the SQL functions and the decode planner strategy on this
    * session, once: a later call finds them and does nothing.
    */
  def registerUdfs(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    functionDescriptions.foreach { case (id, i, builder) =>
      if (!reg.lookupFunction(id).exists(_.getClassName == i.getClassName))
        reg.registerFunction(id, i, builder)
    }
    graft.plans.DecodeFrames.ensureStrategy(spark)
  }
}
