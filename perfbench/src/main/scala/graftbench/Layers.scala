package graftbench

/** Names and units of every per-layer metric, in report order. A traced
  * run reports all of them on every workload; a layer the workload does not
  * exercise reads 0.
  */
object Layers {
  val modules: Seq[String] = Catalog.moduleNames
  val subscriptions: Seq[String] = Seq("deliver", "window")

  val all: Seq[(String, String)] =
    Seq("core.session_s" -> "s", "core.warmup_s" -> "s", "core.gc_s" -> "s",
      "core.live_heap_mb" -> "MB") ++
    Seq("queries.build_s" -> "s", "queries.build_jobs" -> "count",
      "queries.build_stages" -> "count", "queries.build_share" -> "ratio") ++
    modules.flatMap(m => Seq(s"queries.$m.build_s" -> "s", s"queries.$m.build_jobs" -> "count")) ++
    Seq("exec.wall_s" -> "s") ++
    modules.flatMap(m => Seq(s"exec.$m.wall_s" -> "s", s"exec.$m.jobs" -> "count")) ++
    Seq("exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
      "exec.tasks_per_stage" -> "ratio", "exec.task_run_s" -> "s", "exec.task_cpu_s" -> "s",
      "exec.sched_delay_s" -> "s", "exec.core_busy_frac" -> "ratio",
      "exec.shuffle_write_mb" -> "MB", "exec.shuffle_read_mb" -> "MB", "exec.spill_mb" -> "MB",
      "exec.input_mb" -> "MB", "exec.broadcast_mb" -> "MB") ++
    Seq("plan.wscg_stages", "plan.non_codegen_nodes", "plan.codegen_fallback_exprs",
      "plan.single_partition_exchanges", "plan.unpartitioned_windows",
      "plan.broadcast_hints").map(_ -> "count") ++
    Seq("streaming.publish_ms_p50" -> "ms", "streaming.publish_ms_p99" -> "ms",
      "streaming.gen_late_ms_p99" -> "ms", "streaming.backlog_events" -> "count") ++
    subscriptions.flatMap(s => Seq(
      s"streaming.$s.triggers" -> "count", s"streaming.$s.trigger_ms_p50" -> "ms",
      s"streaming.$s.trigger_ms_p99" -> "ms", s"streaming.$s.add_batch_ms_p50" -> "ms",
      s"streaming.$s.planning_ms_p50" -> "ms", s"streaming.$s.offsets_ms_p50" -> "ms",
      s"streaming.$s.commit_ms_p50" -> "ms", s"streaming.$s.rows_per_trigger_p50" -> "count",
      s"streaming.$s.jobs_per_trigger" -> "ratio")) ++
    Seq("streaming.window.state_rows" -> "count", "streaming.window.state_mb" -> "MB",
      "streaming.window.state_commit_ms_p50" -> "ms") ++
    Seq("diag.probe_ms" -> "ms", "diag.jobs_drift" -> "count")

  /** The layer each metric belongs to and the end-to-end metrics it should
    * move (the per-layer table's last two columns).
    */
  def explain(name: String): (String, String) = name.split('.').toList match {
    case "core" :: "session_s" :: _ => ("graft.core", "setup_s")
    case "core" :: "warmup_s" :: _ =>
      ("graft.core", "setup_s on corpus; none on pubsub (its warm-up load runs on a fixed schedule)")
    case "core" :: _ => ("graft.core", "latency_tail_ms (GC pauses)")
    case "queries" :: _ => ("graft.queries construction",
      "corpus: group_p50_ms, latency_tail_ms, capacity_per_s; pubsub: none")
    case "exec" :: _ => ("plan execution", "latency_p50_ms, group_p50_ms")
    case "plan" :: _ => ("plan facts", "explains group_p50_ms moves on corpus")
    case "streaming" :: ("publish_ms_p50" | "publish_ms_p99" | "gen_late_ms_p99" |
        "backlog_events") :: _ => ("graft.streaming publish", "capacity_per_s, latency_tail_ms")
    case "streaming" :: "window" :: ("state_rows" | "state_mb" | "state_commit_ms_p50") :: _ =>
      ("graft.streaming state", "group_p50_ms on pubsub")
    case "streaming" :: s :: _ => (s"graft.streaming trigger loop ($s)",
      if (s == "deliver") "latency_p50_ms on pubsub" else "group_p50_ms on pubsub")
    case _ => ("diagnostic", "none (ungated)")
  }
}
