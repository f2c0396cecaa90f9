package graft

/** Iteration helper: time a subset of SparkEntry.queries.
  * Usage: runMain graft.BenchOne <sfDir> <queryName> [queryName...]
  * Prints per-query seconds (2 runs: cold + warm) — not a driver surface,
  * just the knob-turning loop for plan work.
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val names = args.tail.toSeq
    val spark = GraftSession.local()
    Tables.names.foreach(n => Tables.t(spark, sfDir, n).count())
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      (1 to 2).foreach { i =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"[benchone] $name run$i: $dt%.3f s")
        spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}
