package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, AttributeSet, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.{BinaryType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

import graft.pipeline.TransactionAvro
import graft.pipeline.TransactionAvro.{FrameReader, SchemaResolver}

/** The Confluent-Avro decode as a plan node: a logical node whose output
  * is the decoded columns, an injected `SparkStrategy`, and a
  * partition-level exec that decodes each frame once, straight into an
  * `UnsafeRow` (the NativeAsOfJoin pattern).
  *
  * Strict: the output is Transaction's 10 columns and a bad frame fails
  * the task. Permissive: the output is (`t` struct, `frame` bytes,
  * `decode_error`); a bad frame gives a null `t` and its error text.
  *
  * Filters above the node stay above it: they read its output. A strict
  * node under projections and filters decodes only the fields they read
  * (the rest are parsed past, never written), as a file scan prunes
  * columns.
  */
object DecodeFrames {

  case class DecodeTransactions(value: Attribute, permissive: Boolean,
      resolver: SchemaResolver, output: Seq[Attribute], child: LogicalPlan)
    extends UnaryNode {
    override def producedAttributes: AttributeSet = AttributeSet(output)
    override def simpleString(maxFields: Int): String =
      s"$nodeName ${call(value, permissive)} ${output.mkString("[", ", ", "]")}"
    override protected def withNewChildInternal(c: LogicalPlan): LogicalPlan =
      copy(child = c)
  }

  private def call(value: Attribute, permissive: Boolean): String =
    s"decode_transaction${if (permissive) "_safe" else ""}($value)"

  /** The node over `child`'s binary `value` column. */
  def apply(value: Attribute, permissive: Boolean, resolver: SchemaResolver,
      child: LogicalPlan): DecodeTransactions = {
    require(value.dataType == BinaryType, s"$value must be binary, got ${value.dataType}")
    val txn = TransactionAvro.transactionRowType
    val output =
      if (!permissive) txn.map(f => AttributeReference(f.name, f.dataType)())
      else Seq(AttributeReference("t", txn)(),
        AttributeReference("frame", BinaryType, value.nullable)(),
        AttributeReference("decode_error", StringType)())
    DecodeTransactions(value, permissive, resolver, output, child)
  }

  object DecodeStrategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case PhysicalOperation(projects, filters, d: DecodeTransactions) if !d.permissive =>
        val read = AttributeSet(projects.flatMap(_.references) ++ filters.flatMap(_.references))
        val exec = DecodeTransactionsExec(d.value, false, d.resolver,
          d.output.filter(read.contains), d.output, planLater(d.child))
        val filtered = filters.reduceOption(And).map(FilterExec(_, exec)).getOrElse(exec)
        if (projects.map(_.toAttribute) == filtered.output) filtered :: Nil
        else ProjectExec(projects, filtered) :: Nil
      case d: DecodeTransactions =>
        DecodeTransactionsExec(d.value, d.permissive, d.resolver, d.output, d.output,
          planLater(d.child)) :: Nil
      case _ => Nil
    }
  }

  /** @param output the columns written, a subset of `all` (the node's
    *               output, in reader-field order when strict)
    */
  case class DecodeTransactionsExec(value: Attribute, permissive: Boolean,
      resolver: SchemaResolver, output: Seq[Attribute], all: Seq[Attribute],
      child: SparkPlan) extends UnaryExecNode {

    override def producedAttributes: AttributeSet = AttributeSet(all)
    override def simpleString(maxFields: Int): String =
      s"$nodeName ${call(value, permissive)} ${output.mkString("[", ", ", "]")}"

    override protected def doExecute(): RDD[InternalRow] = {
      val ord = child.output.indexWhere(_.exprId == value.exprId)
      val (resolver, permissive) = (this.resolver, this.permissive)
      val slots = all.map(a => output.indexWhere(_.exprId == a.exprId)).toArray
      val width = output.length
      child.execute().mapPartitions({ rows =>
        val reader = new FrameReader(resolver, TransactionAvro.transactionSchema)
        val w = new UnsafeRowWriter(width, 256)
        val frame = new Frame(ord)
        if (!permissive) rows.map { r =>
          frame.of(r)
          w.reset(); w.zeroOutNullBytes()
          reader.read(frame.buf, frame.off, frame.len, w, slots)
          w.getRow
        } else {
          val t = new UnsafeRowWriter(w, TransactionAvro.transactionRowType.length)
          val allFields = Array.range(0, TransactionAvro.transactionRowType.length)
          rows.map { r =>
            frame.of(r)
            w.reset(); w.zeroOutNullBytes()
            val error = try {
              val start = w.cursor()
              t.resetRowWriter()
              reader.read(frame.buf, frame.off, frame.len, t, allFields)
              w.setOffsetAndSizeFromPreviousCursor(0, start)
              null
            } catch { case scala.util.control.NonFatal(e) =>
              w.reset(); w.zeroOutNullBytes(); w.setNullAt(0)
              UTF8String.fromString(TransactionAvro.errorText(e))
            }
            if (frame.len < 0) w.setNullAt(1) else w.write(1, frame.buf, frame.off, frame.len)
            if (error == null) w.setNullAt(2) else w.write(2, error)
            w.getRow
          }
        }
      }, preservesPartitioning = true)
    }

    override protected def withNewChildInternal(c: SparkPlan): SparkPlan = copy(child = c)
  }

  /** Where a row's binary column lies: in place in an on-heap
    * `UnsafeRow` (the scan's rows), else a copy. `len` -1 is null.
    */
  private final class Frame(ord: Int) {
    var buf: Array[Byte] = _
    var off, len = 0
    def of(r: InternalRow): Unit = r match {
      case _ if r.isNullAt(ord) => buf = null; off = 0; len = -1
      case u: UnsafeRow if u.getBaseObject.isInstanceOf[Array[Byte]] =>
        val offsetAndSize = u.getLong(ord)
        buf = u.getBaseObject.asInstanceOf[Array[Byte]]
        off = (u.getBaseOffset - Platform.BYTE_ARRAY_OFFSET + (offsetAndSize >>> 32)).toInt
        len = offsetAndSize.toInt
      case _ => buf = r.getBinary(ord); off = 0; len = buf.length
    }
  }

  /** Ensure the strategy is registered on this session (idempotent). */
  def ensureStrategy(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(DecodeStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ DecodeStrategy
}
