package perfbench

/** Raw per-layer figures of a traced run, restricted to the workload's
  * measured phase (the `measure` span). The runner turns the lists into
  * sums and percentiles.
  */
object Layers {
  def summary(tr: Trace): Map[String, Any] = {
    val spans = tr.all
    val window = spans.find(_.name == "measure")
    def inWindow(ms: Long) = window.exists(w => w.startMs <= ms && ms <= w.endMs)
    val ev = spans.filter(s => s.attrs.contains("kind") && inWindow(s.startMs))
    def kind(k: String) = ev.filter(_.attrs("kind") == k)
    def num(s: Span, k: String): Double = s.attrs.get(k) match {
      case Some(v: Number) => v.doubleValue
      case _ => 0.0
    }
    val plans = kind("planning")
    def phaseSecs(ps: Seq[Span]): Map[String, Double] =
      ps.groupBy(_.attrs("phase").toString).map { case (k, v) =>
        k -> v.map(s => (s.endMs - s.startMs) / 1000.0).sum }
    val units = spans.filter(s => s.attrs.contains("unit") && inWindow(s.startMs))
    val stages = kind("stage")
    def stageSum(k: String) = stages.map(num(_, k)).sum

    val progress = tr.synchronized(tr.progress.toList)
      .filter(p => inWindow(java.time.Instant.parse(p.timestamp).toEpochMilli))
    def durations(k: String): Seq[Long] =
      progress.flatMap(p => Option(p.durationMs.get(k)).map(_.longValue))
    Map(
      "phase_total" -> phaseSecs(plans),
      "phase_by_unit" -> units.map(u =>
        phaseSecs(plans.filter(p => u.startMs <= p.startMs && p.startMs <= u.endMs))),
      "jobs" -> kind("job").length,
      "stages" -> stages.length,
      "tasks" -> stages.map(num(_, "tasks")).sum.toLong,
      "executor_cpu_s" -> stageSum("executor_cpu_ns") / 1e9,
      "shuffle_read_bytes" -> stageSum("shuffle_read_bytes").toLong,
      "shuffle_write_bytes" -> stageSum("shuffle_write_bytes").toLong,
      "spill_bytes" -> stageSum("spill_bytes").toLong,
      "input_rows" -> stageSum("input_rows").toLong,
      "batches" -> progress.map(p => (p.runId, p.batchId)).distinct.length,
      "batch_ms" -> Map(
        "trigger" -> durations("triggerExecution"),
        "planning" -> durations("queryPlanning"),
        "wal_commit" -> durations("walCommit"),
        "add_batch" -> durations("addBatch")))
  }
}
