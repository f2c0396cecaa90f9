package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The `queries` workload: named `SparkEntry.queries` keys, each run
  * once, cold, in the given order, timed from the call that builds the
  * DataFrame to the last result row collected by the caller.
  * Results are kept in memory and written as parquet after the measured
  * phase, so that the writes' jobs stay out of the traced layers, for the
  * oracle check the runner makes.
  */
object Keys {
  def run(spark: SparkSession, tr: Trace, a: Map[String, String],
      res: mutable.Map[String, Any]): Unit = {
    val dir = a("data")
    val keys = a("keys").split(",").toSeq
    val outRoot = new File(a("work"), "results")
    tr.register(spark)
    // a session and table warm that runs no measured key and builds no
    // fixture: first reads, executor threads, the first codegen
    val setups = (1 to a("setups").toInt).map(r => tr.span("setup", Map("round" -> r))(warm(spark, dir))._2)
    res("setup_s") = setups
    val runs = tr.span("measure") {
      keys.map { k =>
        val memo0 = memoEntries()
        val (out, secs) = tr.span(s"key $k", Map("unit" -> k)) {
          try {
            val df = graft.SparkEntry.queries(k)(spark, dir)
            Right(df.schema -> df.collect())
          } catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
        }
        val builds = memoEntries() - memo0
        spark.catalog.clearCache()
        (k, out, secs, builds)
      }
    }._1
    res("keys") = runs.map { case (k, out, secs, builds) =>
      out.foreach { case (schema, collected) =>
        spark.createDataFrame(collected.toList.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(new File(outRoot, k).getPath)
      }
      Map("key" -> k, "secs" -> secs, "memo_builds" -> builds,
        "error" -> out.left.toOption.orNull)
    }
    res("oracle") = keys.map(k => k -> graft.SparkEntry.oracleSql.get(k).orNull).toMap
    if (tr.enabled) {
      // tracing overhead: the first ten keys twice more, warm, without
      // and with the listeners, in alternating order (a second cold run
      // would need a second JVM)
      val again = keys.take(10).zipWithIndex.flatMap { case (k, i) =>
        Seq(i % 2 == 0, i % 2 == 1).map { traced =>
          if (traced) tr.register(spark) else tr.unregister(spark)
          traced -> tr.span(s"again $k")(graft.SparkEntry.queries(k)(spark, dir).collect())._2
        }
      }
      res("baseline_wall_s") = again.filter(!_._1).map(_._2).sum
      res("traced_wall_s") = again.filter(_._1).map(_._2).sum
    }
  }

  private def warm(spark: SparkSession, dir: String): Unit = {
    graft.Tables.names.foreach(n => graft.Tables.t(spark, dir, n).count())
    graft.Tables.t(spark, dir, "lineitem").groupBy(col("l_returnflag"))
      .agg(sum(col("l_extendedprice"))).collect()
  }

  /** Entries in the process-wide fixture memo, read by reflection: the
    * memo is internal to the program, and the benchmark only counts it.
    * -1 when the memo is not there.
    */
  def memoEntries(): Int =
    try {
      val cls = Class.forName("graft.FixtureMemo$")
      val obj = cls.getField("MODULE$").get(null)
      val f = cls.getDeclaredField("cache")
      f.setAccessible(true)
      f.get(obj).asInstanceOf[java.util.Map[_, _]].size
    } catch { case _: ReflectiveOperationException => -1 }
}
