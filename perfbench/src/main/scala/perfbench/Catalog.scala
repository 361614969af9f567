package perfbench

/** Every metric the benchmark prints, with its unit. The runner's
  * BENCHMARK.json lists the same names; a run prints all of one list
  * (end-to-end untraced, per-layer traced), with 0 for a per-layer
  * metric the workload never exercises. */
object Catalog {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "peak_rss_mb" -> "MB",
    "op_mean_ms" -> "ms",
    "op_p75_ms" -> "ms",
    "op_geomean_ms" -> "ms",
    "ops_s" -> "1/s")

  val Modules: Seq[String] = graft.SparkEntry.modules.map(_.name)

  val perLayer: Seq[(String, String)] = Seq(
    "read_p50_ms" -> "ms", "read_p95_ms" -> "ms", "read_ops_s" -> "1/s",
    "commit_p50_ms" -> "ms", "commit_p90_ms" -> "ms", "commit_ops_s" -> "1/s",
    "ingest_rows_s" -> "rows/s", "bytes_per_user_byte" -> "ratio",
    "suite_wall_s" -> "s", "suite_geomean_ms" -> "ms", "fail_frac" -> "ratio") ++
    Seq("pgwire", "native", "http").flatMap(p => Seq(
      s"server.$p.rtt_ms" -> "ms", s"server.$p.overhead_ms" -> "ms",
      s"server.$p.bytes_per_row" -> "B")) ++
    Seq("sdk.batch_send_ms" -> "ms", "sdk.conns_opened" -> "count",
      "engine.read_ms" -> "ms", "engine.router_overhead_ms" -> "ms",
      "engine.insert_ms" -> "ms", "engine.update_ms" -> "ms",
      "engine.delete_ms" -> "ms", "engine.merge_ms" -> "ms",
      "engine.batch_insert_ms" -> "ms",
      "storage.data_bytes_per_commit" -> "B", "storage.data_files_per_commit" -> "count",
      "storage.log_bytes_per_commit" -> "B", "storage.iceberg_bytes_per_commit" -> "B",
      "storage.snapshot_bytes_per_commit" -> "B", "storage.cdc_bytes_per_commit" -> "B",
      "storage.live_files_per_table" -> "count",
      "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
      "catalyst.planning_ms" -> "ms", "catalyst.codegen_compiles" -> "count",
      "catalyst.codegen_compile_ms" -> "ms",
      "plans.zonemap_files_read_frac" -> "ratio",
      "spark.rows_examined_per_row" -> "ratio") ++
    Modules.flatMap(m => Seq(s"operators.$m.build_s" -> "s", s"operators.$m.exec_s" -> "s")) ++
    Seq("spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
      "spark.jobs_per_statement" -> "count", "spark.task_cpu_s" -> "s",
      "spark.task_run_s" -> "s", "spark.gc_s" -> "s",
      "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB",
      "spark.spill_mb" -> "MB", "spark.input_mb" -> "MB",
      "spark.queue_s" -> "s", "spark.core_util" -> "ratio",
      "streaming.cdc_events" -> "count", "streaming.astha_backlog" -> "count",
      "jvm.gc_s" -> "s", "jvm.heap_after_gc_mb" -> "MB", "jvm.threads_peak" -> "count",
      "trace.overhead_ms" -> "ms", "setup.ready_s" -> "s")
}
