package perfbench

/** Every metric the benchmark prints, with its unit. The lists are the
  * contract with BENCHMARK.json: an untraced run prints exactly
  * [[endToEnd]], a traced run exactly [[perLayer]].
  */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "op_p50_s" -> "s",
    "read_p50_s" -> "s",
    "rows_per_s" -> "rows/s",
    "cpu_s_per_op" -> "s",
    "peak_rss_mb" -> "MB",
    "ok_frac" -> "ratio")

  /** Engine modules, named after the source file a stage's call site
    * points into.
    */
  val modules: Seq[String] = Seq("TlePipeline", "TleText", "Dedup",
    "Warehouse", "ManifestFileIndex", "IndexStore", "StreamingIngest")

  /** Directly timed warehouse calls, by kind. */
  val whCalls: Seq[String] = Seq("read", "merge", "update",
    "delete", "insert", "optimize", "vacuum", "point_read", "time_travel")

  val perLayer: Seq[(String, String)] = Seq(
    "spark.jobs_per_op" -> "count",
    "spark.stages_per_op" -> "count",
    "spark.tasks_per_op" -> "count",
    "spark.sched_delay_s_per_op" -> "s",
    "spark.shuffle_write_mb_per_op" -> "MB",
    "spark.shuffle_read_mb_per_op" -> "MB",
    "spark.spill_mb_per_op" -> "MB",
    "spark.stage_skew_p50" -> "ratio",
    "spark.task_busy_frac" -> "ratio",
    "spark.jobs_concurrent_peak" -> "count",
    "driver.self_s_per_op" -> "s") ++
    modules.flatMap(m => Seq(s"module.$m.jobs_per_op" -> "count",
      s"module.$m.job_s_per_op" -> "s")) ++ Seq(
    "sql.queries_per_op" -> "count",
    "sql.analysis_s_per_op" -> "s",
    "sql.optimize_s_per_op" -> "s",
    "sql.planning_s_per_op" -> "s",
    "codegen.compiles" -> "count",
    "codegen.compile_s" -> "s") ++
    whCalls.map(c => s"wh.${c}_s" -> "s") ++ Seq(
    "wh.commits_per_op" -> "count",
    "fs.bytes_written_per_input_byte" -> "ratio",
    "fs.bytes_read_per_op" -> "B",
    "wh.files_added_per_op" -> "count",
    "wh.data_files" -> "count",
    "wh.manifest_files" -> "count",
    "wh.stored_bytes_per_live_row" -> "B",
    "probe.jobs_concurrent_peak" -> "count",
    "jvm.threads_peak" -> "count",
    "scan.files_read_per_read" -> "count",
    "scan.files_skipped_frac" -> "ratio",
    "scan.metadata_s_per_read" -> "s",
    "stream.trigger_ms" -> "ms",
    "stream.add_batch_ms" -> "ms",
    "stream.wal_commit_ms" -> "ms",
    "stream.latest_offset_ms" -> "ms",
    "stream.planning_ms" -> "ms",
    "stream.accepted_frac" -> "ratio",
    "ingest.records_per_cycle" -> "count",
    "ingest.drop_frac" -> "ratio",
    "dedup.fresh_frac" -> "ratio",
    "jvm.gc_s_per_op" -> "s",
    "jvm.jit_compile_s" -> "s",
    "jvm.code_cache_peak_mb" -> "MB",
    "jvm.heap_peak_mb" -> "MB",
    "trace.overhead_frac" -> "ratio")

  /** Linear-interpolated median; 0 for no samples. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = 0.5 * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
