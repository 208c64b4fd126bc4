package aqlbench

import com.fasterxml.jackson.databind.ObjectMapper

import java.nio.file.{Files, Path}

/** The per-layer metrics of a traced run, derived from the spans and the
  * listener's per-job counters. Times and counts are per script run (one
  * `engine.run` span) unless the unit says otherwise.
  */
object Layers {

  def compute(ctx: Ctx, w: Workload, cores: Int): Map[String, Metric] = {
    val spans = ctx.tracer.spans
    val byName = spans.groupBy(_.name).withDefaultValue(Seq.empty)
    val runs = byName("engine.run")
    val n = math.max(runs.size, 1).toDouble
    val jobs = ctx.counters.jobs.filter(j => j.op != 0 && !j.end.isNaN)
    val jobsByOp = jobs.groupBy(_.op).withDefaultValue(Seq.empty)
    def meanDur(name: String) = Stats.mean(byName(name).map(_.dur))
    def perRun(x: Double) = x / n

    // engine self time: the run span minus the union of its Spark jobs
    // (clipped to the span) minus the op's template and parse time
    val aqlByOp = (byName("aql.parse") ++ byName("aql.template"))
      .groupBy(_.op).view.mapValues(_.map(_.dur).sum).toMap
    val selfTimes = runs.map { r =>
      val busy = Stats.unionLength(jobsByOp(r.op).map(j =>
        (math.max(j.start, r.start), math.min(j.end, r.end)))) / 1000.0
      r.dur - busy - aqlByOp.getOrElse(r.op, 0.0)
    }
    val busyAll = Stats.unionLength(jobs.map(j => (j.start, j.end))) / 1000.0
    val runMs = jobs.map(_.runMs).sum
    val stages = jobs.map(_.stages.size).sum
    val skipped = jobs.map(_.skipped).sum
    val cls = jobs.groupBy(_.cls).withDefaultValue(Seq.empty)
    val writeExecs = cls("write").map(_.execId).toSet
    val commit = ctx.counters.execsSeq
      .filter(x => writeExecs(x.id) && !x.end.isNaN && !x.lastJobEnd.isNaN)
      .map(x => math.max(0.0, x.end - x.lastJobEnd) / 1000.0).sum
    def jobSecs(js: Seq[SparkCounters#Job]) = js.map(j => (j.end - j.start) / 1000.0).sum

    // server: round trip minus the engine run it carried
    val runByParent = runs.groupBy(_.parent)
    val httpGaps = byName("server.http").flatMap { h =>
      runByParent.get(h.id).map(rs => h.dur - rs.map(_.dur).sum) }
    val serverErrors = ctx.opList.count(o =>
      Set("run", "knn", "validate")(o.kind) && !o.ok)

    val base = Map(
      "aql.template_s" -> Metric(meanDur("aql.template"), "s/run"),
      "aql.parse_s" -> Metric(meanDur("aql.parse"), "s/run"),
      "aql.validate_s" -> Metric(meanDur("aql.validate"), "s/run"),
      "engine.run_s" -> Metric(Stats.mean(runs.map(_.dur)), "s/run"),
      "engine.self_s" -> Metric(Stats.mean(selfTimes), "s/run"),
      "engine.jobs_per_run" -> Metric(perRun(jobs.size), "jobs/run"),
      "verbs.checkpoint_jobs" -> Metric(perRun(cls("checkpoint").size), "jobs/run"),
      "verbs.checkpoint_s" -> Metric(perRun(jobSecs(cls("checkpoint"))), "s/run"),
      "verbs.cached_bytes" -> Metric(perRun(ctx.counters.cachedBytes), "B/run"),
      "spark.jobs" -> Metric(perRun(jobs.size), "jobs/run"),
      "spark.stages" -> Metric(perRun(stages), "stages/run"),
      "spark.stages_skipped" -> Metric(perRun(skipped), "stages/run"),
      "spark.reuse_ratio" -> Metric(if (stages == 0) 0.0 else skipped.toDouble / stages, "ratio"),
      "spark.tasks" -> Metric(perRun(jobs.map(_.tasks).sum), "tasks/run"),
      "spark.failed_tasks" -> Metric(perRun(jobs.map(_.failedTasks).sum), "tasks/run"),
      "spark.job_busy_s" -> Metric(perRun(busyAll), "s/run"),
      "spark.executor_run_s" -> Metric(perRun(runMs / 1000.0), "s/run"),
      "spark.executor_cpu_s" -> Metric(perRun(jobs.map(_.cpuNs).sum / 1e9), "s/run"),
      "spark.scheduler_delay_s" -> Metric(perRun(jobs.map(_.delayMs).sum / 1000.0), "s/run"),
      "spark.core_util" -> Metric(
        if (busyAll == 0) 0.0 else runMs / 1000.0 / (busyAll * cores), "ratio"),
      "spark.gc_s" -> Metric(perRun(jobs.map(_.gcMs).sum / 1000.0), "s/run"),
      "spark.input_bytes" -> Metric(perRun(jobs.map(_.inBytes).sum), "B/run"),
      "spark.shuffle_read_bytes" -> Metric(perRun(jobs.map(_.shReadBytes).sum), "B/run"),
      "spark.shuffle_write_bytes" -> Metric(perRun(jobs.map(_.shWriteBytes).sum), "B/run"),
      "spark.spill_bytes" -> Metric(perRun(jobs.map(_.spillBytes).sum), "B/run"),
      "spark.output_bytes" -> Metric(perRun(jobs.map(_.outBytes).sum), "B/run"),
      "fs.listing_jobs" -> Metric(perRun(cls("listing").size), "jobs/run"),
      "fs.listing_s" -> Metric(perRun(jobSecs(cls("listing"))), "s/run"),
      "fs.commit_s" -> Metric(perRun(commit), "s/run"),
      "server.http_s" -> Metric(Stats.mean(httpGaps), "s/call"),
      "server.errors" -> Metric(serverErrors, "count"))
    val zeroExtras = Seq(
      "index.listing_jobs" -> "jobs/stmt", "index.files_written" -> "files/stmt",
      "index.bytes_written" -> "B/stmt", "index.write_amp" -> "ratio",
      "index.manifest_versions" -> "vers/stmt",
      "index.compact_bytes_rewritten" -> "B/compact",
      "functions.minhash_rows_per_s" -> "rows/s",
      "functions.vecdot_rows_per_s" -> "rows/s")
      .map { case (k, u) => k -> Metric(0.0, u) }.toMap
    base ++ zeroExtras ++ w.layers(ctx)
  }

  /** Writes every span, and one span per Spark job (parented to the
    * engine.run span of its op) carrying the listener's counters.
    */
  def writeSpans(ctx: Ctx, file: Path): Unit = {
    Files.createDirectories(file.getParent)
    val mapper = new ObjectMapper()
    val spans = ctx.tracer.spans.sortBy(_.start)
    val runOf = spans.filter(_.name == "engine.run").map(s => s.op -> s.id).toMap
    val jobSpans = ctx.counters.jobs.filter(j => j.op != 0 && !j.end.isNaN).map { j =>
      Span(-j.id.toLong - 1, runOf.getOrElse(j.op, 0L), j.op, s"spark.job.${j.cls}",
        j.start, j.end, Map("stages" -> j.stages.size, "skipped" -> j.skipped,
          "tasks" -> j.tasks, "failed_tasks" -> j.failedTasks,
          "executor_run_ms" -> j.runMs, "executor_cpu_ns" -> j.cpuNs,
          "gc_ms" -> j.gcMs, "input_bytes" -> j.inBytes,
          "shuffle_read_bytes" -> j.shReadBytes,
          "shuffle_write_bytes" -> j.shWriteBytes,
          "spill_bytes" -> j.spillBytes, "output_bytes" -> j.outBytes,
          "call_site" -> j.site))
    }
    val w = Files.newBufferedWriter(file)
    try (spans ++ jobSpans).foreach { s =>
      val o = mapper.createObjectNode()
      o.put("id", s.id).put("parent", s.parent).put("op", s.op)
        .put("name", s.name).put("start_ms", s.start).put("end_ms", s.end)
      s.attrs.foreach {
        case (k, v: Int) => o.put(k, v)
        case (k, v: Long) => o.put(k, v)
        case (k, v: Double) => o.put(k, v)
        case (k, v) => o.put(k, v.toString)
      }
      w.write(mapper.writeValueAsString(o)); w.newLine()
    } finally w.close()
  }
}
