package graft

import java.nio.file.{Files, Paths}

/** Plan dumper: writes explain("formatted") for every SparkEntry query to
  * outDir/<name>.txt — the review loop for shuffle/pushdown/codegen
  * hygiene (run after every operator change; see PLANS.md for the
  * digest).
  *
  * Usage: runMain graft.Explain <sfDir> <outDir> [name,name,...]
  * The optional 3rd arg restricts the dump to a comma-separated key
  * list (plan-iteration loop for a handful of queries without paying
  * the full-suite walk — stream gates EXECUTE their replay at plan
  * build time, so the unfiltered dump costs minutes).
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(kv => only.forall(_.contains(kv._1)))
      .foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/$name.txt"), plan)
      } catch {
        case e: Throwable =>
          System.err.println(s"[explain] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
