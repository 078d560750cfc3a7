package perfbench

/** The per-layer metrics of the traced run. Every workload emits every
  * name; a layer a workload never enters reads 0. */
object Layers {
  val names: Seq[String] = Seq(
    "operators.construct_s", "operators.construct_jobs", "operators.construct_self_s",
    "plans.analyze_s", "plans.optimize_s", "plans.physical_s", "plans.codegen_coverage",
    "exec.s", "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_s", "exec.task_cpu_s",
    "exec.core_busy_ratio", "exec.driver_gap_s", "exec.shuffle_read_bytes",
    "exec.shuffle_write_bytes", "exec.spill_bytes",
    "streaming.batches", "streaming.queue_wait_s", "streaming.latest_offset_s",
    "streaming.query_planning_s", "streaming.add_batch_s", "streaming.commit_s",
    "streaming.objects_per_batch",
    "xlsx.driver_parse_s",
    "sink.write_s", "sink.task_run_s", "sink.bytes_per_byte_in",
    "jvm.gc_s", "gen.late_p99_s",
    "traced.pass_s", "traced.latency_p50_s")

  def emit(res: Main.Result, values: collection.Map[String, Double]): Unit = {
    val unknown = values.keySet -- names
    require(unknown.isEmpty, s"undeclared per-layer metrics: ${unknown.mkString(", ")}")
    names.foreach(n => res.metrics(n) = values.getOrElse(n, 0.0))
  }
}
