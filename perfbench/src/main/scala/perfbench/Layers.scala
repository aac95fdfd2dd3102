package perfbench

/** Per-layer metrics that every workload derives the same way from its
  * spans. Each timed operation is one top-level span named `op.cold`
  * (the first, cold unit of work) or `op.warm`; the layer spans nest
  * inside. Catalyst, scheduler and executor figures come from the
  * listeners; codegen from `CodegenMetrics` and `CodeGenerator`.
  */
object Layers {
  def fill(tr: Tracer, res: Result): Unit = {
    val aggs = tr.aggregate()
    // only what ran inside the workload's operations; standalone layer
    // timings (parsers, natives, the index build) stay out of the totals
    def root(s: Span): Span = if (s.parent < 0) s else root(tr.spans(s.parent))
    val inOps = tr.spans.filter(s => root(s).name.startsWith("op.")).map(_.id).toSet
    val all = aggs.collect { case (id, a) if inOps(id) => a }
    def sum(f: tr.Agg => Double) = all.map(f).sum
    res.metrics("catalyst.analysis_ms") = sum(_.phaseMs("analysis"))
    res.metrics("catalyst.optimization_ms") = sum(_.phaseMs("optimization"))
    res.metrics("catalyst.planning_ms") = sum(_.phaseMs("planning"))
    res.metrics("scheduler.jobs") = sum(_.jobs.toDouble)
    res.metrics("scheduler.stages") = sum(_.stages.toDouble)
    res.metrics("scheduler.tasks") = sum(_.tasks.toDouble)
    res.metrics("scheduler.task_wait_ms") = sum(_.waitMs)
    res.metrics("exec.task_ms") = sum(_.taskMs)
    res.metrics("exec.gc_ms") = sum(_.gcMs)
    val ops = tr.spans.filter(s => s.parent == -1 && s.name.startsWith("op."))
    val cold = ops.filter(_.name == "op.cold")
    val warm = ops.filter(_.name == "op.warm")
    res.metrics("codegen.compilations") = ops.map(_.compilations).sum.toDouble
    res.metrics("codegen.compile_ms") = ops.map(_.compileMs).sum
    res.metrics("codegen.cold_compilations") = cold.map(_.compilations).sum.toDouble
    res.metrics("codegen.cold_compile_ms") = cold.map(_.compileMs).sum
    res.metrics("codegen.warm_compilations") = warm.map(_.compilations).sum.toDouble
    res.metrics("codegen.warm_compile_ms") = warm.map(_.compileMs).sum
    res.metrics("driver.gap_ms") = ops.map(s => tr.gapMs(s, aggs, "queries.build")).sum
    res.metrics("queries.build_ms") = tr.spans.filter(_.name == "queries.build").map(_.ms).sum
  }

  def spanMs(tr: Tracer, name: String): Double =
    tr.spans.filter(_.name == name).map(_.ms).sum

  /** Tracing overhead: median traced over median untraced latency of the
    * same repeated operation, in percent.
    */
  def overhead(res: Result, traced: Seq[Double], untraced: Seq[Double]): Unit = {
    res.metrics("trace.overhead_pct") =
      if (traced.isEmpty || untraced.isEmpty) 0.0
      else 100.0 * (Stats.median(traced) / Stats.median(untraced) - 1)
    res.samples("overhead_traced_ms") = traced
    res.samples("overhead_untraced_ms") = untraced
  }
}
