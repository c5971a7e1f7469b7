package graftbench

/** Every metric the benchmark reports, with its unit. BENCHMARK.json lists
  * the same names; run.py checks on every run that they agree.
  */
object Names {

  /** End-to-end metrics, reported by every untraced run. */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "heap_peak_mb" -> "MB",
    "latency_ms_p50" -> "ms",
    "latency_ms_p90" -> "ms",
    "throughput_per_s" -> "1/s")

  /** The 13 query packs, named as in `graft.queries`. */
  val packs: Seq[(String, graft.queries.QueryPack)] = {
    import graft.queries._
    Seq(ParityQueries, RelationalQueries, ExtensionQueries, AnalyticsQueries,
      CoverageQueries, FunctionSurfaceQueries, PipelineQueries, CorpusQueries,
      RetrievalQueries, GraphQueries, WarehouseQueries, EvalQueries, MediaQueries)
      .map(p => p.getClass.getSimpleName.stripSuffix("$").stripSuffix("Queries") -> p)
  }

  val packFields: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "jobs" -> "count", "task_s" -> "s", "idle_s" -> "s",
    "shuffle_mb" -> "MB", "result_mb" -> "MB")

  /** Per-layer metrics, reported by every traced run (0 where the workload
    * bypasses the layer).
    */
  val perLayer: Seq[(String, String)] = Seq(
    "sources.latest_offset_ms" -> "ms",
    "sources.lag_events" -> "count",
    "stream.trigger_ms" -> "ms",
    "stream.query_planning_ms" -> "ms",
    "stream.add_batch_ms" -> "ms",
    "stream.wal_commit_ms" -> "ms",
    "stream.commit_offsets_ms" -> "ms",
    "stream.trigger_late_ms" -> "ms",
    "stream.sink_ms" -> "ms",
    "stream.jobs_per_batch" -> "count",
    "stream.idle_ms_per_batch" -> "ms",
    "stream.task_ms_per_batch" -> "ms",
    "stream.metrics_task_ms_per_batch" -> "ms",
    "stream.csv_task_ms_per_batch" -> "ms",
    "stream.result_latency_ms_p50" -> "ms",
    "stream.stop_ms" -> "ms",
    "stream.restart_first_batch_ms" -> "ms",
    "analysis.summary_ms" -> "ms") ++
    packs.flatMap { case (p, _) => packFields.map { case (f, u) => s"queries.$p.$f" -> u } } ++
    Seq(
      "catalog.build_s" -> "s",
      "catalog.plan_ms" -> "ms",
      "catalog.spill_mb" -> "MB",
      "catalog.input_mb" -> "MB",
      "catalog.output_mb" -> "MB",
      "host.canary_loop_before_s" -> "s",
      "host.canary_loop_after_s" -> "s",
      "host.canary_range_before_s" -> "s",
      "host.canary_range_after_s" -> "s",
      "trace.overhead_pct" -> "%")
}
