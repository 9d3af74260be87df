package graftbench

/** Per-layer metrics of the traced pass of a traced run. Layers
  * are named after graft's modules; jobs are attributed to a span by the
  * local property the harness set, and to a module by call-site file.
  */
object Layers {
  val modules = Seq("pipeline", "operators", "iterate", "functions", "sources",
    "tables", "streaming", "harness", "spark")
  val selfLayers = Seq("pipeline", "sources", "operators.build",
    "operators.materialize", "streaming")

  def compute(t: Tracer, w: Workload, traced: Main.PassRec,
      baseline: Main.PassRec, cores: Int): Map[String, Double] = {
    val passSpans = t.spans.filter(s => s.layer == "pass" && s.name == s"pass${traced.index}")
      .map(_.id).toSet
    val inPass = t.descendants(passSpans)
    val spans = t.spans.filter(s => inPass(s.id))
    val jobs = t.jobL.jobs.values.filter(j => inPass(j.span)).toSeq
    def within(ms: Double) = ms >= traced.startMs && ms <= traced.endMs
    val execs = t.execL.execs.filter(e => within(e.startMs.toDouble)).toSeq
    val progress = t.streamL.progress.filter(p => within(p._1.toDouble)).map(_._2)
      .filter(_.numInputRows > 0).toSeq

    val agg = new TaskAgg
    jobs.foreach(j => agg.addAll(j.tasks))
    def jobS(js: Iterable[JobRec]) = js.map(j => (j.endMs - j.startMs) / 1e3).sum
    def spanS(layer: String) =
      spans.filter(_.layer == layer).map(s => (s.endMs - s.startMs) / 1e3).sum
    val buildSpans = t.descendants(spans.filter(_.layer == "operators.build").map(_.id).toSet)
    val checkpointJobs = jobs.filter(_.module == "iterate")
    val stages = jobs.map(_.stages).sum
    val wallS = traced.wallS
    val self = t.selfMs

    val stageS: Map[String, Double] = w match {
      case _: PublicationsEtl =>
        execs.flatMap(e => e.writePath.filter(_.contains("/pipeline/stage"))
          .map(p => p.substring(p.lastIndexOf('/') + 1) -> e.durationMs / 1e3))
          .groupMapReduce(_._1)(_._2)(_ + _)
      case _ => w.stageSeconds(Set(traced.index))
    }

    def opSum(key: String) =
      progress.map(p => Option(p.durationMs.get(key)).map(_.toDouble).getOrElse(0.0)).sum
    val stateOps = progress.flatMap(_.stateOperators)
    val lastState = progress.groupBy(_.id).values.map(_.maxBy(_.batchId))
      .flatMap(_.stateOperators).toSeq
    Map(
      "tables.rows_read" -> agg.inputRows.toDouble,
      "tables.bytes_read" -> agg.inputBytes.toDouble,
      "tables.scan_tasks" -> agg.scanTasks.toDouble,
      "tables.scan_task_s" -> agg.scanRunMs / 1e3,
      "operators.build_s" -> spanS("operators.build"),
      "operators.build_jobs" -> jobs.count(j => buildSpans(j.span)).toDouble,
      "operators.materialize_s" -> spanS("operators.materialize"),
      "iterate.checkpoint_jobs" -> checkpointJobs.size.toDouble,
      "iterate.checkpoint_s" -> jobS(checkpointJobs),
      "catalyst.analysis_ms" -> execs.map(_.analysisMs).sum.toDouble,
      "catalyst.optimizer_ms" -> execs.map(_.optimizerMs).sum.toDouble,
      "catalyst.planning_ms" -> execs.map(_.planningMs).sum.toDouble,
      "catalyst.executions" -> execs.size.toDouble,
      "exec.jobs" -> jobs.size.toDouble,
      "exec.stages" -> stages.toDouble,
      "exec.tasks" -> agg.tasks.toDouble,
      "exec.task_s" -> agg.runMs / 1e3,
      "exec.task_cpu_s" -> agg.cpuNs / 1e9,
      "exec.sched_delay_s" -> agg.schedDelayMs / 1e3,
      "exec.result_bytes" -> agg.resultBytes.toDouble,
      "shuffle.write_bytes" -> agg.shuffleWriteBytes.toDouble,
      "shuffle.read_bytes" -> agg.shuffleReadBytes.toDouble,
      "shuffle.fetch_wait_s" -> agg.fetchWaitMs / 1e3,
      "shuffle.spill_bytes" -> agg.spillBytes.toDouble,
      "sources.rows_written" -> agg.outputRows.toDouble,
      "sources.bytes_written" -> agg.outputBytes.toDouble,
      "sources.files_written" -> execs.map(_.filesWritten).sum.toDouble,
      "sources.upsert_s" -> spanS("sources"),
      "streaming.trigger_ms" -> opSum("triggerExecution"),
      "streaming.add_batch_ms" -> opSum("addBatch"),
      "streaming.wal_commit_ms" -> opSum("walCommit"),
      "streaming.state_commit_ms" -> stateOps.map(_.commitTimeMs.toDouble).sum,
      "streaming.rows_dropped_by_watermark" ->
        stateOps.map(_.numRowsDroppedByWatermark.toDouble).sum
    ) ++ stageS.map { case (k, v) => s"pipeline.stage_s.$k" -> v } ++
      modules.flatMap { m =>
        val js = jobs.filter(_.module == m)
        Seq(s"module.$m.jobs" -> js.size.toDouble, s"module.$m.job_s" -> jobS(js))
      } ++
      selfLayers.map(l => s"self_s.$l" ->
        spans.filter(_.layer == l).map(s => self(s.id) / 1e3).sum) ++ Map(
      "exec.core_util" -> (if (wallS > 0) agg.runMs / 1e3 / (wallS * cores) else 0.0),
      "exec.single_task_stage_share" ->
        (if (stages > 0) jobs.map(_.singleTaskStages).sum.toDouble / stages else 0.0),
      "streaming.state_rows" -> lastState.map(_.numRowsTotal.toDouble).sum,
      "streaming.state_mem_bytes" -> lastState.map(_.memoryUsedBytes.toDouble).sum,
      "trace.wall_s" -> traced.wallS,
      "trace.overhead_s" -> (traced.wallS - baseline.wallS))
  }
}
