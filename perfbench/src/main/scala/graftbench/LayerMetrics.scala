package graftbench

/** Per-layer metrics of a traced run, each averaged per traced op unless
  * its name says otherwise. A layer the workload never calls reads 0. */
object LayerMetrics {
  /** Layer span name -> metric: time spent in that call, per op. */
  private val spanTimes = Seq(
    "entry.build" -> "entry.build_s",
    "functions.gate" -> "functions.gate_s",
    "dedup.lsh" -> "dedup.lsh_s",
    "dedup.cc" -> "dedup.cc_s",
    "dedup.winnow" -> "dedup.winnow_s",
    "decon" -> "decon.s",
    "split" -> "split.s",
    "pack" -> "pack.s",
    "sink.write" -> "sink.write_s")

  /** Summed per op from QueryExecution statistics and op counters. */
  private val opSums = Seq(
    "plan.analysis_s", "plan.optimization_s", "plan.planning_s",
    "plan.exchanges", "plan.codegen_stages", "plan.codegen_fallback_exprs",
    "scan.time_s", "retention.agg_time_s", "retention.sort_fallback_tasks",
    "functions.gate_kept_ratio", "streaming.add_data_s", "streaming.add_batch_s",
    "streaming.commit_s", "streaming.rows_removed", "streaming.state_rows",
    "streaming.state_mb")

  /** Stage task-metric attribute -> metric and scale. */
  private val stageSums = Seq(
    ("tasks", "exec.tasks", 1.0),
    ("task_cpu_s", "exec.task_cpu_s", 1.0),
    ("task_run_s", "exec.task_run_s", 1.0),
    ("shuffle_write_b", "shuffle.write_mb", 1.0 / 1048576),
    ("shuffle_read_b", "shuffle.read_mb", 1.0 / 1048576),
    ("spill_b", "shuffle.spill_mb", 1.0 / 1048576),
    ("fetch_wait_s", "shuffle.fetch_wait_s", 1.0),
    ("input_rows", "scan.rows", 1.0),
    ("input_b", "scan.mb", 1.0 / 1048576))

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def apply(tr: Tracer, ops: Seq[Main.OpRecord], counters: Map[Long, Map[String, Double]],
      runCounts: Map[String, Double]): Map[String, Double] = {
    val traced = ops.filter(_.traced)
    val ids = traced.map(_.id).toSet
    val n = math.max(1, traced.size).toDouble
    val spans = tr.spans.filter(s => ids(s.op))
    val jobs = spans.filter(_.layer == "spark.job")
    val stages = spans.filter(_.layer == "spark.stage")

    val times = spanTimes.map { case (layer, m) =>
      m -> spans.filter(_.layer == layer).map(_.dur).sum / 1e6 / n
    }
    def opValue(id: Long, k: String): Double =
      tr.planStats.get(id).flatMap(_.get(k)).getOrElse(0.0) +
        counters.getOrElse(id, Map.empty).getOrElse(k, 0.0)
    val sums = opSums.map(k => k -> ids.toSeq.map(opValue(_, k)).sum / n)
    val stageMetrics = stageSums.map { case (attr, m, scale) =>
      m -> stages.map(_.attrs.getOrElse(attr, 0.0)).sum * scale / n
    }
    // op wall time not covered by any running job of that op
    val driverGap = spans.filter(_.layer == "op").map { o =>
      val cover = Tracer.union(jobs.filter(_.op == o.op).map(j =>
        (math.max(j.start, o.start), math.min(j.end, o.end))).filter(p => p._1 < p._2).toSeq)
      (o.dur - cover) / 1e6
    }.sum / n
    val ccSpans = spans.filter(_.layer == "dedup.cc").map(_.id).toSet

    // retention pass time over the built-in control pass, on untraced ops
    val plain = if (ops.exists(!_.traced)) ops.filter(!_.traced) else ops
    val control = plain.filter(_.name == "control").map(_.secs)
    val retention = plain.filter(o => o.name == "column" || o.name == "sql").map(_.secs)
    val builtinRatio = if (control.isEmpty) 0.0 else median(retention) / median(control)

    val rounds = ops.groupBy(_.round).values.map(rs => rs.head.traced -> rs.map(_.secs).sum).toSeq
    val overhead = median(rounds.filter(_._1).map(_._2)) /
      median(rounds.filter(!_._1).map(_._2))

    (times ++ sums ++ stageMetrics).toMap ++ Map(
      "exec.jobs" -> jobs.size / n,
      "exec.stages" -> stages.size / n,
      "exec.driver_gap_s" -> driverGap,
      "dedup.cc_jobs" -> jobs.count(j => ccSpans(j.parent)) / n,
      "retention.builtin_ratio" -> builtinRatio,
      "trace.overhead_ratio" -> overhead,
      "dedup.candidate_pairs" -> 0.0,
      "dedup.verified_ratio" -> 0.0) ++ runCounts
  }
}
