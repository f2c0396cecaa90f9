package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One workload in one JVM. The Python runner (`run.py`) starts this
  * with the workload's parameters, reads the result file it writes, and
  * turns raw samples into the reported metrics.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --cores C --work DIR --out FILE --setups K [--data DIR --keys k1,k2,...]
  *   [--frames N --passes P --warm-passes P] [--rate R --poison-ppm P --warmup S --warm-batches B]
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val work = a("work")
    val tr = new Trace(a("trace") == "1")
    val spark = session(a("cores"), work)
    val res = mutable.LinkedHashMap[String, Any]()
    val w = a("workload")
    try {
      tr.span(s"workload $w") {
        w match {
          case "pipe_batch" => Pipe.batch(spark, tr, a, res)
          case "pipe_stream" => Pipe.stream(spark, tr, a, res)
          case "queries" => Keys.run(spark, tr, a, res)
        }
      }
      tr.drain()
      res("streams_active_after") = spark.streams.active.length
      res("peak_rss_mb") = peakRssMb()
      if (tr.enabled) {
        res("layers") = Layers.summary(tr)
        writeSpans(tr, new File(work, "spans.jsonl"), w, a("seed"))
      }
    } finally spark.stop()
    Files.writeString(Paths.get(a("out")), json.writeValueAsString(res))
  }

  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def session(cores: String, work: String): SparkSession = {
    val s = graft.GraftSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").toURI.toString)
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The forked JVM's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)

  private def writeSpans(tr: Trace, f: File, workload: String, seed: String): Unit = {
    val traceId = s"$workload-$seed"
    val lines = tr.all.map(s => json.writeValueAsString(Map(
      "trace" -> traceId, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs) ++ s.attrs))
    Files.writeString(f.toPath, lines.mkString("", "\n", "\n"))
  }
}
