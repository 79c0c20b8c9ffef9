package perfbench

/** The per-layer table of a traced run, computed from the trace over the
  * workload's measured intervals. Closed loops report per pass; the live
  * workload reports per trigger of its nominal step. */
object Layers {
  val units: Map[String, String] = Map(
    "queries.build_s" -> "s", "queries.sql_executions" -> "count",
    "queries.jobs" -> "count", "queries.driver_gap_s" -> "s",
    "plans.plan_s" -> "s", "plans.exchanges" -> "count",
    "exec.final_s" -> "s", "exec.tasks" -> "count",
    "exec.executor_run_s" -> "s", "exec.executor_cpu_s" -> "s",
    "exec.gc_s" -> "s", "exec.busy_frac" -> "ratio",
    "exchange.shuffle_write_bytes" -> "bytes",
    "exchange.shuffle_read_bytes" -> "bytes",
    "exchange.spill_bytes" -> "bytes", "exchange.task_skew" -> "ratio",
    "sources.input_bytes" -> "bytes", "sources.input_rows" -> "rows",
    "streaming.trigger_ms" -> "ms", "streaming.query_planning_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms", "streaming.commit_offsets_ms" -> "ms",
    "streaming.state_commit_ms" -> "ms",
    "streaming.state_memory_bytes" -> "bytes",
    "streaming.add_batch_ms" -> "ms", "streaming.rows_per_trigger" -> "rows",
    "streaming.state_rows" -> "rows", "streaming.state_rows_removed" -> "rows",
    "streaming.queries_started" -> "count", "sink.batch_ms" -> "ms",
    "pipeline.decode_rows_per_s" -> "rows/s", "gen.lag_ms" -> "ms",
    "gen.backlog_rows" -> "rows", "trace.wall_s" -> "s")

  private def inside(t: Double, ws: Seq[(Double, Double)]): Boolean =
    ws.exists { case (a, b) => t >= a && t <= b }

  def metrics(tr: Trace, out: Outcome, slots: Int): Map[String, Double] = {
    val ws = out.windows
    val n = math.max(1, out.units).toDouble
    val wallMs = ws.map { case (a, b) => b - a }.sum
    val tasks = tr.tasks.filter(t => inside(t.endMs.toDouble, ws)).toSeq
    val busyMs = ws.map { case (a, b) => Trace.unionMs(
      tasks.map(t => (t.launchMs.toDouble, t.endMs.toDouble)), a, b) }.sum
    def spanS(name: String) = tr.spans
      .filter(s => s.name == name && inside(s.startMs, ws))
      .map(s => s.endMs - s.startMs).sum / 1000 / n
    val skews = tasks.groupBy(_.stage).values.filter(_.size >= 2).map { ts =>
      val d = ts.map(t => (t.endMs - t.launchMs).toDouble)
      if (d.sum == 0) 1.0 else d.max / (d.sum / d.size)
    }.toSeq
    val trig = tr.triggers.filter(t => inside(t.endMs.toDouble, ws)).toSeq
    def trigMean(f: TriggerRec => Double) = Stats.mean(trig.map(f))
    def dur(k: String)(t: TriggerRec) = t.durations.getOrElse(k, 0L).toDouble
    val sinks = tr.spans.filter(s => s.name == "sink" && inside(s.startMs, ws))
    val runS = tasks.map(_.runMs).sum / 1000.0
    Map(
      "queries.build_s" -> spanS("query.build"),
      "queries.sql_executions" ->
        tr.sqlStarts.count(t => inside(t.toDouble, ws)) / n,
      "queries.jobs" -> tr.jobStarts.count(t => inside(t.toDouble, ws)) / n,
      "queries.driver_gap_s" -> (wallMs - busyMs) / 1000 / n,
      "plans.plan_s" -> spanS("query.plan"),
      "plans.exchanges" -> out.layerExtra.getOrElse("plans.exchanges", 0.0),
      "exec.final_s" -> spanS("query.final"),
      "exec.tasks" -> tasks.size / n,
      "exec.executor_run_s" -> runS / n,
      "exec.executor_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9 / n,
      "exec.gc_s" -> tasks.map(_.gcMs).sum / 1000.0 / n,
      "exec.busy_frac" -> runS * 1000 / (wallMs * slots),
      "exchange.shuffle_write_bytes" -> tasks.map(_.shWrite).sum / n,
      "exchange.shuffle_read_bytes" -> tasks.map(_.shRead).sum / n,
      "exchange.spill_bytes" -> tasks.map(_.spill).sum / n,
      "exchange.task_skew" -> (if (skews.isEmpty) 1.0 else Stats.mean(skews)),
      "sources.input_bytes" -> tasks.map(_.inBytes).sum / n,
      "sources.input_rows" -> tasks.map(_.inRows).sum / n,
      "streaming.trigger_ms" -> trigMean(dur("triggerExecution")),
      "streaming.query_planning_ms" -> trigMean(dur("queryPlanning")),
      "streaming.wal_commit_ms" -> trigMean(dur("walCommit")),
      "streaming.commit_offsets_ms" -> trigMean(dur("commitOffsets")),
      "streaming.add_batch_ms" -> trigMean(dur("addBatch")),
      "streaming.state_commit_ms" -> trigMean(_.stateCommitMs.toDouble),
      "streaming.state_memory_bytes" -> trigMean(_.stateMemory.toDouble),
      "streaming.rows_per_trigger" -> trigMean(_.inputRows.toDouble),
      "streaming.state_rows" -> trigMean(_.stateRows.toDouble),
      "streaming.state_rows_removed" -> trigMean(_.stateRemoved.toDouble),
      "streaming.queries_started" ->
        tr.queryStarts.count(t => inside(t.toDouble, ws)) / n,
      "sink.batch_ms" -> Stats.mean(sinks.map(s => s.endMs - s.startMs).toSeq),
      "pipeline.decode_rows_per_s" ->
        out.layerExtra.getOrElse("pipeline.decode_rows_per_s", 0.0),
      "gen.lag_ms" -> out.layerExtra.getOrElse("gen.lag_ms", 0.0),
      "gen.backlog_rows" -> out.layerExtra.getOrElse("gen.backlog_rows", 0.0),
      "trace.wall_s" -> out.metrics("wall_s"))
  }

  /** Per span name: calls, total and self seconds per unit, for the
    * human-readable table printed before the result line. */
  def table(tr: Trace, out: Outcome): Seq[String] = {
    val self = tr.selfMs
    val n = math.max(1, out.units).toDouble
    val rows = tr.spans.filter(s => inside(s.startMs, out.windows))
      .groupBy(s => if (s.name.startsWith("query:")) "query" else s.name)
      .toSeq.sortBy(_._1).map { case (name, ss) =>
        f"$name%-14s calls ${ss.size / n}%8.2f  total ${ss.map(s => s.endMs - s.startMs).sum / 1000 / n}%8.3f s" +
          f"  self ${ss.map(s => self(s.id)).sum / 1000 / n}%8.3f s"
      }
    s"spans per measured unit (${out.units} units):" +: rows
  }
}
