package graft

import graft.operators.Cep
import graft.streaming.StreamingOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Stream queries start and end inside their gate or entry point: a
  * gate leaves no active query behind, and a pattern the CEP Machine
  * rejects fails at call time, before any query starts.
  */
class StreamGateLifecycleSpec extends SparkSpecBase {

  test("no stream outlives its gate: q29_replay and one gate per replay helper") {
    // a fresh copy of the tables, so no replay family is memoized yet
    // and every gate runs its own streaming query
    val dir = java.nio.file.Files.createTempDirectory("graft-lifecycle-sf")
    java.nio.file.Files.list(java.nio.file.Paths.get(sfDir)).forEach { p =>
      val to = dir.resolve(p.getFileName.toString)
      if (java.nio.file.Files.isDirectory(p)) {
        java.nio.file.Files.createDirectory(to)
        java.nio.file.Files.list(p).forEach(f =>
          java.nio.file.Files.copy(f, to.resolve(f.getFileName.toString)))
      } else java.nio.file.Files.copy(p, to)
    }
    val started = new java.util.concurrent.atomic.AtomicInteger
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        started.incrementAndGet()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try {
      // q29's MemoryStream replay; stream_topn replays through
      // replayTypedPath, stream_window_join through replayJoinPath,
      // stream_tumble through windowAggPath, stream_cep through the
      // CEP multi-spec replay
      Seq("q29_replay", "stream_topn", "stream_window_join", "stream_tumble",
        "stream_cep").foreach { key =>
        val before = started.get
        SparkEntry.queries(key)(spark, dir.toString).collect()
        assert(started.get > before, s"$key started no streaming query")
        assert(spark.streams.active.isEmpty,
          s"$key left ${spark.streams.active.map(_.name).mkString(", ")} running")
      }
    } finally spark.streams.removeListener(listener)
  }

  test("cepStreamMulti rejects a grouped spec the Machine rejects at call time") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val src = MemoryStream[(Long, Long, Long, String, Long)]
    val g = Cep.GCat(Seq(
      Cep.GRep(Cep.GCat(Seq(Cep.GLf(Cep.Step("click")),
        Cep.GLf(Cep.Step("view")))), 1, Int.MaxValue),
      Cep.GLf(Cep.Step("purchase"))))
    val spec = StreamingOps.CepSpec(Cep.gLeaves(g).toIndexedSeq, 60000000L,
      Cep.SkipToFirst(1), grouped = Some(g))
    val e = intercept[IllegalArgumentException](
      StreamingOps.cepStreamMulti(src.toDS(), Seq(spec)))
    assert(e.getMessage.contains("FIRST/LAST name flat steps"), e.getMessage)
    assert(spark.streams.active.isEmpty)
  }
}
