package perfbench

/** Per-layer metrics of the traced operations. Counts, bytes and busy
  * times are means per traced operation; a call's time is the median over
  * its calls; peaks are maxima; ratios are taken over the run's totals. */
object Layers {
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def apply(probe: Probe, spans: Seq[Span], stageSecs: Map[String, Seq[Double]],
      ops: Int, wallS: Double, cores: Int, resultRows: Long): Map[String, Double] = {
    val (e, p) = (probe.engine, probe.plans)
    val n = math.max(1, ops).toDouble
    val totalExchanges = p.exchanges + p.reused
    val byCall = spans.groupBy(sp => s"${sp.layer}.${sp.name}").map {
      case (k, ss) => k -> median(ss.map(_.secs))
    }
    val self = Tracer.selfTimes(spans)
    def calls(layer: String, call: String, metric: String) =
      byCall.collect { case (k, v) if k.startsWith(s"$layer.$call.") =>
        s"$layer.$metric.${k.stripPrefix(s"$layer.$call.")}" -> v
      }
    Map(
      "spark.jobs" -> e.jobs / n,
      "spark.stages" -> e.stages / n,
      "spark.tasks" -> e.tasks / n,
      "spark.task_run_s" -> e.runMs / 1000.0 / n,
      "spark.task_cpu_s" -> e.cpuNs / 1e9 / n,
      "spark.task_wait_s" -> e.waitMs / 1000.0 / n,
      "spark.busy_frac" -> (if (wallS > 0) e.runMs / 1000.0 / (wallS * cores) else 0.0),
      "spark.peak_running_tasks" -> e.peakRunning.toDouble,
      "spark.gc_s" -> probe.gcS / n,
      "spark.shuffle_write_bytes" -> e.shuffleWrite / n,
      "spark.shuffle_read_bytes" -> e.shuffleRead / n,
      "spark.spill_bytes" -> e.spill / n,
      "spark.tasks_failed" -> e.tasksFailed / n,
      "plans.analyze_s" -> p.analyzeMs / 1000.0 / n,
      "plans.optimize_s" -> p.optimizeMs / 1000.0 / n,
      "plans.physical_s" -> p.planMs / 1000.0 / n,
      "plans.codegen_compiles" -> probe.compiles / n,
      "plans.codegen_compile_s" -> probe.compileS / n,
      "plans.exchanges" -> totalExchanges / n,
      "plans.reused_exchange_frac" ->
        (if (totalExchanges > 0) p.reused.toDouble / totalExchanges else 0.0),
      "sources.bytes_read" -> e.inBytes / n,
      "sources.rows_read" -> e.inRows / n,
      "sources.rows_read_per_result_row" ->
        (if (resultRows > 0) e.inRows.toDouble / resultRows else 0.0),
      "api.action_s" -> byCall.getOrElse("api.action", 0.0),
      "pipeline.peak_concurrent_jobs" -> e.peakChainJobs.toDouble,
      "pipeline.bytes_written" -> e.chainWritten / n,
      "pipeline.reread_bytes_per_written_byte" ->
        (if (e.chainWritten > 0) p.pipelineReread.toDouble / e.chainWritten else 0.0)
    ) ++
      calls("api", "call", "call_s") ++
      calls("pipeline", "run", "run_s") ++
      calls("builds", "call", "call_s") ++
      Seq("builds", "qa", "sources", "operators", "streaming")
        .flatMap(l => calls(l, "entry", "entry_s")) ++
      stageSecs.map { case (t, xs) => s"pipeline.stage_s.$t" -> median(xs) } ++
      spans.groupBy(_.layer).map { case (l, ss) => s"self_s.$l" -> ss.map(sp => self(sp.id)).sum / n }
  }
}
