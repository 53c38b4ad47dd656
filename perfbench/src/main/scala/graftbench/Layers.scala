package graftbench

/** Per-layer metrics of a traced window, per operation. Spark events
  * count only when they start inside a measured span, so the jobs the
  * benchmark runs to check outputs are left out. Every traced run
  * reports every name; a layer the workload does not reach reads 0. */
object Layers {

  /** The per-layer metrics BENCHMARK.json lists, printed by every
    * traced run of a listed workload. */
  val Names: Seq[String] = Seq(
    "spark.plan_ms", "spark.eager_jobs", "spark.eager_s", "spark.jobs", "spark.stages",
    "spark.tasks", "spark.task_s", "spark.cpu_s", "spark.shuffle_read_mb",
    "spark.shuffle_write_mb", "spark.spill_mb", "spark.exec_active_s", "spark.floor_s",
    "jvm.gc_s",
    "sources.scan_s", "sources.history_read_s", "sources.dedup_s", "sources.fresh_stage_s", "sources.files_listed",
    "sources.files_fresh",
    "pipeline.extract_s", "pipeline.extract_stage_s", "pipeline.workflow_other_s",
    "pipeline.llm_calls", "pipeline.llm_calls_per_field", "pipeline.llm_busy_s",
    "pipeline.curation_run_s",
    "pipeline.curation_force_s",
    "sinks.shape_s", "sinks.write_fs_s", "sinks.upsert_history_s",
    "sinks.history_buckets_touched", "sinks.history_mb_rewritten",
    "operators.gate_keep_s",
    "trace.overhead_frac", "trace.coverage_frac", "trace.coverage_min_frac")

  /** Spans whose wall is the workload's measured work. */
  def measured(w: Workload): Set[String] = w match {
    case _: EtlBatch => Set("workflow.cold", "workflow.incr")
    case _: CurationX10 => Set("curation.op")
  }

  /** Names the stack sampler attributes Workflow.run's time to. */
  private val Sampled = Seq("sources.scan", "sources.history_read", "sources.dedup", "sources.fresh_stage",
    "pipeline.extract", "pipeline.extract_stage", "pipeline.workflow_other",
    "sinks.shape", "sinks.write_fs", "sinks.upsert_history")

  def of(w: Workload, t: Trace, traced: Seq[Sample], plain: Seq[Sample]): Map[String, Double] = {
    val ops = traced.count(_.kind == w.opKind)
    require(ops > 0, "no traced operation completed")
    def per(x: Double): Double = x / ops

    val spans = t.allSpans
    val top = spans.filter(s => measured(w)(s.name))
    val windows = top.map(s => (t.epochMs(s.start), t.epochMs(s.end) + 1))
    def inside(ms: Long) = windows.exists { case (a, b) => ms >= a && ms < b }

    val stages = t.stageEvents.toSeq.filter(s => inside(s.submit))
    val jobs = t.jobEvents.toSeq.filter(j => inside(j._1))
    val planMs = t.planEvents.toSeq.filter(p => inside(p._1)).map(_._2).sum.toDouble
    val eagerMs = Stats.unionLength(stages.filter(_.eager).map(s => (s.submit, s.complete)))
    val execMs = Stats.unionLength(stages.filterNot(_.eager).map(s => (s.submit, s.complete)))
    val wallS = top.map(s => (s.end - s.start) / 1e9).sum
    val split = Stats.floorSplit(per(wallS), per(planMs / 1e3), per(eagerMs / 1e3), per(execMs / 1e3))

    // share of each measured span covered by its children, the
    // sampler's unattributed remainder counting as uncovered
    val children = spans.groupBy(_.parent)
    val covered = top.map { s =>
      val kids = children.getOrElse(s.id, Nil).filter(_.name != "pipeline.workflow_other")
        .map(c => (c.start, c.end))
      ((s.end - s.start) - Stats.selfTime((s.start, s.end), kids), s.end - s.start)
    }
    val coverage = covered.map(_._1).sum.toDouble / covered.map(_._2).sum
    val coverageMin = covered.map { case (c, w) => c.toDouble / w }.min

    val sampled = Sampled.map(n => s"${n}_s" -> per(t.durations(n).sum)).toMap
    val opWalls = (s: Seq[Sample]) => s.filter(_.kind == w.opKind).map(_.nanos.toDouble)
    val mb = 1e6
    val base = Map(
      "spark.plan_ms" -> per(planMs),
      "spark.eager_jobs" -> per(jobs.count(_._2)),
      "spark.eager_s" -> split.eager,
      "spark.jobs" -> per(jobs.size),
      "spark.stages" -> per(stages.size),
      "spark.tasks" -> per(stages.map(_.tasks).sum),
      "spark.task_s" -> per(stages.map(_.taskMs).sum / 1e3),
      "spark.cpu_s" -> per(stages.map(_.cpuNs).sum / 1e9),
      "spark.shuffle_read_mb" -> per(stages.map(_.shuffleRead).sum / mb),
      "spark.shuffle_write_mb" -> per(stages.map(_.shuffleWrite).sum / mb),
      "spark.spill_mb" -> per(stages.map(_.spill).sum / mb),
      "spark.exec_active_s" -> split.exec,
      "spark.floor_s" -> split.floor,
      "jvm.gc_s" -> per(top.map(_.gcMs).sum / 1e3),
      "pipeline.llm_calls" -> per(t.llmCalls.toDouble),
      "pipeline.llm_busy_s" -> per(t.llmBusyS),
      "trace.overhead_frac" -> (Stats.median(opWalls(traced)) / Stats.median(opWalls(plain)) - 1),
      "trace.coverage_frac" -> coverage,
      "trace.coverage_min_frac" -> coverageMin)
    Names.map(_ -> 0.0).toMap ++ sampled ++ base ++ w.layers(traced, t, ops)
  }
}
