package graft.perfbench

/** The per-layer metrics a traced run reports, with their units. Every
  * traced run prints all of them; a layer the workload does not reach
  * reads 0. */
object Layers {
  val Names: Seq[(String, String)] = Seq(
    "core.session_start_s" -> "s",
    "spark.jobs_per_op" -> "jobs",
    "spark.tasks_per_op" -> "tasks",
    "spark.plan_ms" -> "ms",
    "spark.outside_job_ms_per_op" -> "ms",
    "spark.shuffle_write_mb" -> "MB",
    "spark.spill_mb" -> "MB",
    "spark.task_cpu_s" -> "s",
    "spark.failed_tasks" -> "count",
    "sources.sas7bdat_mb_per_s" -> "MB/s",
    "sources.csv_read_s" -> "s",
    "sources.extract_s" -> "s",
    "sources.rows_scanned_per_row_returned" -> "ratio",
    "pipeline.stamp_check_ms" -> "ms",
    "pipeline.rebuilds" -> "count",
    "pipeline.skips" -> "count",
    "pipeline.wasted_rebuild_frac" -> "ratio",
    "sinks.parquet_write_s" -> "s",
    "sinks.stamp_s" -> "s",
    "sinks.csv_write_s" -> "s",
    "sinks.bytes_written_per_output_byte" -> "ratio",
    "sinks.jsonl_write_s" -> "s",
    "plans.asof_join_s" -> "s",
    "curation.filter_s" -> "s",
    "curation.docs_dropped" -> "count",
    "dedup.shingle_s" -> "s",
    "dedup.route_tier.web" -> "tier",
    "dedup.route_tier.uniform" -> "tier",
    "dedup.candidates" -> "count",
    "dedup.pairs_out" -> "count",
    "dedup.candidate_yield" -> "ratio",
    "dedup.pairs_s" -> "s",
    "dedup.cluster_s" -> "s",
    "dedup.keep_best_s" -> "s",
    "dedup.minhash_s" -> "s",
    "ann.kmeans_s" -> "s",
    "ann.train_s" -> "s",
    "ann.index_write_s" -> "s",
    "ann.rows_scanned_per_probe" -> "rows",
    "ann.files_read_per_probe" -> "files",
    "ann.shortlist_yield" -> "ratio",
    "ann.append_rows_per_s" -> "rows/s",
    "trace.overhead_frac" -> "ratio",
    // the workload-specific figures the end-to-end roles do not carry,
    // measured here under tracing
    "etl.noop_refresh_ms" -> "ms",
    "etl.query_s" -> "s",
    "etl.stored_bytes_per_input_byte" -> "ratio",
    "ann.append_ms_p50" -> "ms")

  def dirBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.toSeq).getOrElse(Nil).map(c => dirBytes(c.getPath)).sum
  }

  /** The session and engine metrics: counters the tracer attributed to the
    * workload's operations, per operation or in total. */
  def report(run: Run, tr: Tracer, sessionStartS: Double): Unit = {
    val L = run.layer
    L("core.session_start_s") = sessionStartS
    // the traced-only dedup probe is extra work, not one of the workload's operations
    val ops = tr.roots.filterNot(_.name == "dedup.layers")
    val n = ops.size.toDouble
    val all = ops.flatMap(tr.subtree)
    L("spark.jobs_per_op") = all.map(_.jobs).sum / n
    L("spark.tasks_per_op") = all.map(_.tasks).sum / n
    L("spark.plan_ms") = all.map(_.planMs).sum / n
    L("spark.outside_job_ms_per_op") = ops.map(tr.outsideJobMs).sum / n
    L("spark.shuffle_write_mb") = all.map(_.shuffleWriteBytes).sum / 1e6
    L("spark.spill_mb") = all.map(_.spillBytes).sum / 1e6
    L("spark.task_cpu_s") = all.map(_.cpuNs).sum / 1e9
    L("spark.failed_tasks") = all.map(_.failedTasks).sum.toDouble
    // what tracing added: forcing each boundary's result and draining the
    // listener bus, over the rest of the operations' wall
    val own = tr.ownNs / 1e9
    L("trace.overhead_frac") = own / (ops.map(_.seconds).sum - own)
  }
}
