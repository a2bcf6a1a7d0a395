package perfbench

import scala.collection.mutable

/** What one run reports: metrics by name with their unit and the
  * operations attempted and failed. Notes for people go to stderr. */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  var attempted = 0L
  var failed = 0L

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def note(s: String): Unit = System.err.println(s"[perfbench] $s")

  /** Counts one attempted operation; `ok = false` counts it as failed. */
  def attempt(ok: Boolean): Unit = { attempted += 1; if (!ok) failed += 1 }

  def json: String = {
    val ms = metrics.map { case (k, (v, u)) =>
      s"${Json.str(k)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}"
    }
    s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}

/** The metric names every workload reports, so that the result line of
  * any workload carries the full list. */
object Metrics {
  /** Modules whose queries the batch workloads run. */
  lazy val Modules: Seq[String] = {
    val used = (Workloads.Olap ++ Workloads.Registry).toSet
    Workloads.modules.collect { case (m, qs) if qs.keys.exists(used) => m }
  }

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "pass_s" -> "s", "op_p50_ms" -> "ms", "op_tail_ms" -> "ms",
    "live_heap_mb" -> "MB")

  val PerLayer: Seq[(String, String)] =
    Seq("queries.construct_s" -> "s", "queries.construct_jobs" -> "count",
      "queries.persisted_rdds" -> "count") ++
      Modules.map(m => s"queries.construct_s.$m" -> "s") ++
      Seq("plan.optimize_s" -> "s", "plan.physical_s" -> "s",
        "plan.exchanges" -> "count", "plan.broadcasts" -> "count",
        "exec.s" -> "s") ++
      Modules.map(m => s"exec.s.$m" -> "s") ++
      Seq("exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
        "exec.task_run_s" -> "s", "exec.task_cpu_s" -> "s", "exec.gc_s" -> "s",
        "exec.input_bytes" -> "bytes", "exec.shuffle_write_bytes" -> "bytes",
        "exec.shuffle_read_bytes" -> "bytes", "exec.spill_bytes" -> "bytes",
        "exec.failed_tasks" -> "count", "exec.slot_busy_frac" -> "ratio",
        "streaming.add_batch_ms" -> "ms", "streaming.query_planning_ms" -> "ms",
        "streaming.wal_commit_ms" -> "ms", "streaming.commit_offsets_ms" -> "ms",
        "state.commit_ms" -> "ms", "state.update_ms" -> "ms", "state.removal_ms" -> "ms",
        "state.rows_total" -> "count", "state.memory_bytes" -> "bytes",
        "state.rows_dropped_late" -> "count", "streaming.rows_in" -> "count",
        "streaming.rows_out" -> "count",
        "streaming.append_rows_per_s" -> "rows/s", "streaming.changelog_rows_per_s" -> "rows/s") ++
      StreamOps.flatMap(op => Seq(s"streaming.add_batch_ms.$op" -> "ms",
        s"state.commit_ms.$op" -> "ms", s"streaming.rows_out.$op" -> "count")) ++
      Seq("self_s.query" -> "s", "self_s.queries" -> "s", "self_s.plan" -> "s",
        "self_s.exec" -> "s", "self_s.streaming" -> "s",
        "trace.unaccounted_max_frac" -> "ratio", "trace.overhead_s" -> "s")

  lazy val StreamOps: Seq[String] = Seq(
    "tumble_window_agg", "dedup_keep_first", "topn_per_key", "cep_match_pattern",
    "retract_group_agg", "changelog_join", "retract_topn")
}
