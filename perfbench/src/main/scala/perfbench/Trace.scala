package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval; `parent` is the span that caused it (0: none). */
final case class Span(id: Long, parent: Long, name: String, startMs: Long,
    endMs: Long, attrs: Map[String, Any] = Map.empty)

/** In-memory span and counter store. The benchmark opens spans around
  * its calls into each layer (workload → key or stage → ...); Spark's
  * own listeners add planning, job, stage and micro-batch spans, which
  * are attached to the innermost benchmark span containing their start.
  * Nothing is written until the run ends. With tracing off no listener
  * is registered and `span` only times its body.
  */
final class Trace(val enabled: Boolean) {
  private val own = mutable.ArrayBuffer.empty[Span]
  private val events = mutable.ArrayBuffer.empty[Span]
  private val ids = new java.util.concurrent.atomic.AtomicLong(1)
  private val openSpans = mutable.Stack[Long]()
  @volatile private var lastEventNs = System.nanoTime()

  /** Streaming progress reports, in arrival order. */
  val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  private val jobStart = mutable.Map.empty[Int, Long]

  /** Runs `body` inside a span and returns its result and wall seconds. */
  def span[T](name: String, attrs: Map[String, Any] = Map.empty)(body: => T): (T, Double) = {
    val id = ids.getAndIncrement()
    val parent = synchronized { val p = openSpans.headOption.getOrElse(0L); openSpans.push(id); p }
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val v = try body finally synchronized(openSpans.pop())
    val secs = (System.nanoTime() - n0) / 1e9
    if (enabled) synchronized(own += Span(id, parent, name, t0, System.currentTimeMillis(), attrs))
    (v, secs)
  }

  private def event(name: String, startMs: Long, endMs: Long, attrs: Map[String, Any]): Unit =
    synchronized {
      lastEventNs = System.nanoTime()
      events += Span(ids.getAndIncrement(), -1L, name, startMs, endMs, attrs)
    }

  /** Every span, listener spans attached to their benchmark parent. */
  def all: Seq[Span] = synchronized {
    val mine = own.toList
    mine ++ events.map { e =>
      val parent = mine.filter(s => s.startMs <= e.startMs && e.startMs <= s.endMs)
        .sortBy(s => (-s.startMs, s.endMs)).headOption.map(_.id).getOrElse(0L)
      e.copy(parent = parent)
    }
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      jobStart(e.jobId) = e.time; lastEventNs = System.nanoTime()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val t0 = Trace.this.synchronized(jobStart.remove(e.jobId)).getOrElse(e.time)
      event(s"job ${e.jobId}", t0, e.time, Map("kind" -> "job"))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      val metrics = if (m == null) Map.empty[String, Any] else Map(
        "executor_cpu_ns" -> m.executorCpuTime,
        "shuffle_read_bytes" ->
          (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead),
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
        "input_rows" -> m.inputMetrics.recordsRead)
      event(s"stage ${i.stageId}", i.submissionTime.getOrElse(0L),
        i.completionTime.getOrElse(0L),
        Map("kind" -> "stage", "tasks" -> i.numTasks) ++ metrics)
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      qe.tracker.phases.foreach { case (k, p) =>
        event(s"plan $k", p.startTimeMs, p.endTimeMs, Map("kind" -> "planning", "phase" -> k))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val dur = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      Trace.this.synchronized(progress += p)
      event(s"micro-batch ${p.batchId}", start, start + dur,
        Map("kind" -> "micro-batch", "rows" -> p.numInputRows, "run" -> p.runId.toString))
    }
  }

  private var registered = false

  def register(spark: SparkSession): Unit = if (enabled && !registered) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
    registered = true
  }

  def unregister(spark: SparkSession): Unit = if (registered) {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
    registered = false
  }

  /** Listener events arrive on Spark's asynchronous bus: wait until it
    * has been quiet for a moment so the counters cover the whole run.
    */
  def drain(): Unit = if (enabled) {
    val deadline = System.nanoTime() + 10000000000L
    while (System.nanoTime() - lastEventNs < 300000000L && System.nanoTime() < deadline)
      Thread.sleep(50)
  }
}
