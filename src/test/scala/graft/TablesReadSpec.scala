package graft

import java.nio.file.Files
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types.{StructType, TimestampType}

/** `Tables.parquet` reads a footer on the driver instead of running
  * Spark's schema-inference job: registering and reading the testdata
  * tables starts no job, and every schema is the one
  * `spark.read.parquet` infers.
  */
class TablesReadSpec extends SparkSpecBase {

  private lazy val tmp = Files.createTempDirectory("graft-tables-read").toString

  /** Jobs started while `body` runs. Listener events arrive
    * asynchronously but in order, so a marker job run afterwards flushes
    * them: once its start is seen, every job of `body` has been counted.
    */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val started = new LinkedBlockingQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.put(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription("tables-read-marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      Iterator.continually(started.poll(30, TimeUnit.SECONDS))
        .takeWhile(d => d != null && d != "tables-read-marker").length
    } finally sc.removeSparkListener(listener)
  }

  private def path(name: String) = s"$sfDir/$name.parquet"

  test("Tables.t starts no job and keeps the inferred schema, for every table") {
    Tables.names.foreach { n =>
      var schema: StructType = null
      assert(jobsOf { schema = Tables.t(spark, sfDir, n).schema } == 0, n)
      val inferred = spark.read.parquet(path(n)).schema
      // events.ts is normalized to session-zoned TimestampType
      val want = if (n != "events") inferred else StructType(inferred.map(f =>
        if (f.name == "ts") f.copy(dataType = TimestampType) else f))
      assert(schema == want, n)
      assert(Tables.parquet(spark, path(n)).schema == inferred, n)
    }
  }

  test("Tables.registerAll starts no job") {
    assert(jobsOf(Tables.registerAll(spark, sfDir)) == 0)
    assert(Tables.names.forall(n => spark.catalog.tableExists(n)))
  }

  test("a directory of several Spark-written files: footer schema, no job, same rows") {
    val dir = s"$tmp/appended"
    import spark.implicits._
    Seq((1L, "a")).toDF("id", "s").write.mode("append").parquet(dir)
    Seq((2L, "b"), (3L, null)).toDF("id", "s").write.mode("append").parquet(dir)
    var schema: StructType = null
    assert(jobsOf { schema = Tables.parquet(spark, dir).schema } == 0)
    assert(schema == spark.read.parquet(dir).schema)
    assert(Tables.parquet(spark, dir).orderBy("id").collect().toSeq ==
      spark.read.parquet(dir).orderBy("id").collect().toSeq)
  }

  test("an empty or missing path fails exactly as spark.read.parquet does") {
    val empty = Files.createTempDirectory("graft-tables-empty").toString
    for (p <- Seq(empty, s"$tmp/missing")) {
      val want = intercept[Exception](spark.read.parquet(p))
      val got = intercept[Exception](Tables.parquet(spark, p))
      assert(got.getClass == want.getClass && got.getMessage == want.getMessage, p)
    }
  }

  test("a partitioned directory is refused") {
    val dir = s"$tmp/partitioned"
    import spark.implicits._
    Seq((1L, 0), (2L, 1)).toDF("id", "part").write.partitionBy("part").parquet(dir)
    val e = intercept[IllegalArgumentException](Tables.parquet(spark, dir))
    assert(e.getMessage.contains("partitioned") && e.getMessage.contains("part="))
  }
}
