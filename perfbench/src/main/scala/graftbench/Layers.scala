package graftbench

/** Per-layer figures of the traced half of a run, from the tracer's
  * spans and counters. Additive figures are reported per op (the bare
  * name) and as a loop total (`.total`); `trace.ops` is the op count. */
final case class Layers(metrics: Seq[(String, (Double, String))],
                        selfTimes: Seq[(String, (Double, String))])

object Layers {
  private val SelfLayers = Seq("analytics", "operators", "exec", "lake", "ingest")

  def compute(tracer: Tracer, ops: Seq[Main.OpResult], ctx: Ctx, floorMs: Seq[Double],
              tableAtStart: Option[LakeFiles], tableAtEnd: Option[LakeFiles],
              cores: Int): Layers = {
    val ids = ops.map(_.id).toSet
    val spans = tracer.spans.toSeq.filter(s => ids.contains(s.op))
    val byParent = spans.groupBy(_.parent)
    def children(s: Span) = byParent.getOrElse(s.id, Nil)
    def childCoverNs(s: Span) =
      Tracer.covered(children(s).map(c => (c.startNs, c.endNs)), s.startNs, s.endNs)
    val opSpans = spans.filter(_.layer == "op")
    val jobs = spans.filter(_.layer == "spark")
    val calls = spans.filter(s => s.layer != "op" && s.layer != "spark")
    val n = math.max(1, ops.size).toDouble

    val exec = ops.map(o => tracer.exec.getOrElse(o.id, new ExecCounters))
    val fs = ops.map(o => tracer.fs.getOrElse(o.id, FsStats.zero))
    def sum(f: ExecCounters => Double) = exec.map(f).sum
    val jobWallMs = opSpans.map(o =>
      Tracer.covered(jobs.filter(_.op == o.op).map(j => (j.startNs, j.endNs)), o.startNs, o.endNs) / 1e6).sum
    val opWallMs = opSpans.map(_.ms).sum
    val unattributedMs = opSpans.map(o => o.ms - childCoverNs(o) / 1e6).sum

    // self time = span length minus what its child spans cover
    val self = SelfLayers.map(l => s"self.${l}_ms" -> calls.filter(_.layer == l)
      .map(s => s.ms - childCoverNs(s) / 1e6).sum) :+
      ("self.spark_jobs_ms" -> (calls ++ opSpans).map(s => Tracer.covered(
        children(s).filter(_.layer == "spark").map(c => (c.startNs, c.endNs)),
        s.startNs, s.endNs) / 1e6).sum) :+
      ("unattributed_ms" -> unattributedMs)

    val commitIds = ctx.commits.filter(c => ids.contains(c._3))
    val commitSpans = calls.filter(s => Set("lake.append", "lake.update", "lake.delete",
      "lake.merge").contains(s.name))
    val commitJobMs = commitSpans.map(s => Tracer.covered(children(s).filter(_.layer == "spark")
      .map(c => (c.startNs, c.endNs)), s.startNs, s.endNs) / 1e6).sum
    val commitMs = commitSpans.map(_.ms).sum
    val nCommits = math.max(1, commitSpans.size).toDouble
    def p50Span(name: String) = Stats.median(calls.filter(_.name == name).map(_.ms))
    def p50Commit(kind: String) = Stats.median(commitIds.filter(_._1 == kind).map(_._2).toSeq)
    def p50Ops(p: Main.OpResult => Boolean) = Stats.median(ops.filter(p).map(_.ms))
    val allCommits = math.max(1, ctx.commits.size).toDouble

    def additive(name: String, total: Double, unit: String) =
      Seq(name -> (total / n, unit), s"$name.total" -> (total, unit))
    val m = Seq("trace.ops" -> (ops.size.toDouble, "count"),
      "session.floor_ms" -> (Stats.median(floorMs), "ms")) ++
      additive("session.actions_per_op", sum(_.actions.toDouble), "count") ++
      additive("planning.analysis_ms", sum(_.analysisMs), "ms") ++
      additive("planning.optimization_ms", sum(_.optimizationMs), "ms") ++
      additive("planning.physical_ms", sum(_.physicalMs), "ms") ++
      additive("analytics.build_ms",
        calls.filter(s => s.layer == "analytics" || s.layer == "operators").map(_.ms).sum, "ms") ++
      additive("exec.jobs", sum(_.jobs.toDouble), "count") ++
      additive("exec.stages", sum(_.stages.toDouble), "count") ++
      additive("exec.tasks", sum(_.tasks.toDouble), "count") ++
      additive("exec.task_failures", sum(_.taskFailures.toDouble), "count") ++
      additive("exec.job_wall_ms", jobWallMs, "ms") ++
      additive("exec.driver_only_ms", opWallMs - jobWallMs, "ms") ++
      additive("exec.task_run_ms", sum(_.taskRunMs), "ms") ++
      additive("exec.task_cpu_ms", sum(_.taskCpuMs), "ms") ++
      additive("exec.gc_ms", sum(_.gcMs), "ms") ++
      Seq("exec.core_util" -> (if (jobWallMs > 0) sum(_.taskRunMs) / (jobWallMs * cores) else 0.0, "ratio")) ++
      additive("exec.shuffle_read_bytes", sum(_.shuffleReadBytes.toDouble), "B") ++
      additive("exec.shuffle_write_bytes", sum(_.shuffleWriteBytes.toDouble), "B") ++
      additive("exec.spill_bytes", sum(_.spillBytes.toDouble), "B") ++
      additive("exec.input_bytes", sum(_.inputBytes.toDouble), "B") ++
      additive("exec.output_bytes", sum(_.outputBytes.toDouble), "B") ++
      Seq("operators.query_ms" -> (p50Ops(o => OlapMix.SpotQueries.contains(o.name)), "ms"),
        "analytics.relational_ms" -> (p50Ops(o => OlapMix.Relational.contains(o.name)), "ms"),
        "lake.append_ms" -> (p50Commit("append"), "ms"),
        "lake.update_ms" -> (p50Commit("update"), "ms"),
        "lake.delete_ms" -> (p50Commit("delete"), "ms"),
        "lake.merge_ms" -> (p50Commit("merge"), "ms"),
        "lake.commit_job_ms" -> (commitJobMs / nCommits, "ms"),
        "lake.commit_driver_ms" -> ((commitMs - commitJobMs) / nCommits, "ms"),
        "lake.files_added_per_commit" -> ((for (a <- tableAtStart; b <- tableAtEnd)
          yield (b.dataFiles - a.dataFiles) / allCommits).getOrElse(0.0), "count"),
        "lake.checkpoints" -> ((for (a <- tableAtStart; b <- tableAtEnd)
          yield (b.checkpoints - a.checkpoints).toDouble).getOrElse(0.0), "count"),
        "lake.read_call_ms" -> (p50Span("lake.read"), "ms")) ++
      additive("lake.fs_read_ops", fs.map(_.readOps).sum.toDouble, "count") ++
      additive("lake.fs_list_ops", fs.map(_.listOps).sum.toDouble, "count") ++
      additive("lake.fs_status_ops", fs.map(_.statusOps).sum.toDouble, "count") ++
      additive("lake.fs_write_ops", fs.map(_.writeOps).sum.toDouble, "count") ++
      additive("lake.fs_bytes_read", fs.map(_.bytesRead).sum.toDouble, "B") ++
      additive("lake.fs_bytes_written", fs.map(_.bytesWritten).sum.toDouble, "B") ++
      Seq("lake.log_files" -> (tableAtEnd.map(_.logFiles.toDouble).getOrElse(0.0), "count"),
        "lake.log_bytes" -> (tableAtEnd.map(_.logBytes.toDouble).getOrElse(0.0), "B"),
        "lake.data_files" -> (tableAtEnd.map(_.dataFiles.toDouble).getOrElse(0.0), "count"),
        "ingest.massage_ms" -> (p50Span("ingest.massage"), "ms"),
        "ingest.promote_ms" -> (p50Span("ingest.promote"), "ms"),
        "ingest.rows" -> (ctx.ingestRows.toDouble, "count")) ++
      self.flatMap { case (k, v) => additive(k, v, "ms") }
    // self times plus unattributed add up to the op wall time
    Layers(m, (self :+ ("op_wall_ms" -> opWallMs)).map { case (k, v) => k -> (v / n, "ms") })
  }
}
