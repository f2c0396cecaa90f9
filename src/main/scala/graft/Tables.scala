package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Table registry over the driver parquet testdata (TESTDATA.md).
  *
  * Mirrors the reference's catalog registration (O12,
  * TransactionProcessor.java:89,130,168): names resolve to configured
  * sources with their columns declared. Here the sources are parquet
  * files whose footers declare the columns; the streaming package has
  * the Kafka/memory analogues.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    name match {
      case "events" => events(spark, path)
      // documents ships as one small parquet file, so one input
      // partition. The hash repartition by doc_id does not spread it: at
      // gate scale (~87 KB) AQE coalesces the exchange back to one
      // partition (under coalescePartitions.minPartitionSize, 1 MiB), and
      // the stages above it run one task.
      case "documents" => parquet(spark, path).repartition(col("doc_id"))
      case _ => parquet(spark, path)
    }
  }

  /** Reads a parquet file, or a directory of parquet files that is not
    * partitioned, with the schema Spark would infer for it, without the
    * Spark job that inference runs: the schema comes from one footer
    * read on the driver. Spark infers from the first data file by path
    * (`spark.sql.parquet.mergeSchema` off): its Spark row metadata when
    * the file has it, else the parquet schema converted under the
    * session conf; this reads the same file the same way.
    *
    * A path without a data file (missing or empty) and a directory with
    * summary files or a streaming sink log go to `spark.read.parquet`,
    * so they fail, or pick their files, exactly as Spark does. A
    * partitioned directory is refused: its partition columns are not in
    * any footer, so read it with `spark.read.parquet`.
    */
  def parquet(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path, spark.sessionState.conf)
      .fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))

  /** events.ts has shipped as parquet TIMESTAMP(NANOS) (older testdata
    * generations; Spark's vectorized reader rejects it outright) and as
    * TIMESTAMP(MICROS) without a zone (current). One footer read both
    * sniffs the type and gives the read its schema; every generation is
    * normalized to one session-zoned TimestampType column, so downstream
    * queries never see the drift. The legacy nanosAsLong flag applies to
    * this footer's conversion only (a NANOS column converts to LongType
    * instead of erroring; MICROS/MILLIS convert as without it), on a copy
    * of the session conf, so no session-global conf changes.
    */
  private def events(spark: SparkSession, path: String): DataFrame = {
    val conf = spark.sessionState.conf.clone()
    conf.setConfString("spark.sql.legacy.parquet.nanosAsLong", "true")
    footerSchema(spark, path, conf) match {
      case None => spark.read.parquet(path)
      case Some(schema) =>
        val df = spark.read.schema(schema).parquet(path)
        schema("ts").dataType match {
          // TIMESTAMP(NANOS) read as raw epoch-nanos; narrow to micros
          // ourselves (data is µs-granular, so lossless). Integral `div`,
          // not `/`: double division would lose precision above 2^53
          // (epoch-nanos are ~1.7e18).
          case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
          // zone-less micros: under the UTC session tz pinned in
          // GraftSession.builder this cast is a wall-clock identity, so the
          // resulting instants match what the nanos path produced on the
          // older testdata generation.
          case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
          // already session-zoned TimestampType: pass through
          case _ => df
        }
    }
  }

  /** Names Spark reads instead of the data files beside them. */
  private val sparkDecides = Set("_metadata", "_common_metadata", "_spark_metadata")

  /** The schema Spark would infer for `path` under `conf`, read from the
    * footer of its first data file; None where Spark's own read must
    * decide (see [[parquet]]). The visibility rule is Spark's file
    * listing's: names starting with `_` (unless they hold `=`) or `.`,
    * and in-flight `._COPYING_` files, are not data.
    */
  private def footerSchema(spark: SparkSession, path: String,
      conf: SQLConf): Option[StructType] = {
    val hadoopConf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(hadoopConf)
    val files = Option.when(fs.exists(root))(fs.getFileStatus(root)).toSeq.flatMap { st =>
      if (st.isFile) Seq(st)
      else {
        val entries = fs.listStatus(root).toSeq
        val subdirs = entries.filter(_.isDirectory).map(_.getPath.getName).filter(visible)
        require(subdirs.isEmpty, s"Tables.parquet: $path is partitioned " +
          s"(${subdirs.take(3).mkString(", ")}); read it with spark.read.parquet")
        if (entries.exists(e => sparkDecides(e.getPath.getName))) Seq.empty
        else entries.filter(e => visible(e.getPath.getName)).sortBy(_.getPath.toString)
      }
    }
    files.headOption.map { f =>
      val footer = ParquetFileReader.readFooter(HadoopInputFile.fromStatus(f, hadoopConf),
        ParquetMetadataConverter.SKIP_ROW_GROUPS)
      ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer),
        new ParquetToSparkSchemaConverter(conf))
    }
  }

  private def visible(name: String): Boolean =
    !((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_"))

  /** Register every testdata table as a temp view so `spark.sql` queries
    * (subqueries, SQL-surface checks) resolve by name — same names the
    * DuckDB oracle uses.
    *
    * Per-table fault isolation: one undecodable source must darken only
    * the queries that actually read it, never the whole SQL surface (in
    * round 8 an events decode drift took all 25+ `spark.sql` queries down
    * with it). Failures are reported, not swallowed silently.
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach { n =>
      try t(spark, dir, n).createOrReplaceTempView(n)
      catch { case e: Exception =>
        System.err.println(s"[tables] failed to register '$n': ${e.getMessage}")
      }
    }
}
