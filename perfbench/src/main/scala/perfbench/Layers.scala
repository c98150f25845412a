package perfbench

/** Per-layer figures of a traced run, from the benchmark's spans and the
  * call-site listener. A layer is the engine module whose call site
  * submitted a Spark job, or the action of the job's SQL execution
  * (`TraceListener.onJobStart`); a job with neither counts for the module
  * of the innermost benchmark span it was submitted in.
  * Counts and times are per traced operation unless named otherwise;
  * a layer the workload never calls reads 0. */
object Layers {

  val Modules = Seq("his", "dedup", "publish", "llm", "neardup", "packing")
  val Phases = Seq("build", "append", "compact", "query")
  /** Spans of the parts of a traced run with the call-site listener on. */
  val TracedParts = Set("setup.warmup", "op", "finish")

  def metrics(spans: Spans, t: TraceListener, blocks: BlockListener, cores: Int,
              untracedOps: Seq[Double], leaks: Seq[Double], failedShare: Double,
              extra: Map[String, Double], filesReadFrac: Double): Seq[(String, Double)] =
    t.synchronized {
      val all = spans.all
      val ops = spans.named("op")
      val nOps = math.max(ops.size, 1).toDouble
      def within(ms: Long, s: Spans.Span) = ms >= s.startMs && ms <= s.endMs
      def innermost(ms: Long) = all.filter(within(ms, _)).sortBy(s => -s.startMs).headOption
      def inOps(ms: Long) = ops.exists(within(ms, _))

      // each completed stage belongs to the first job that listed it
      val stageJob = t.jobs.values.toSeq.sortBy(_.id)
        .flatMap(j => j.stages.map(_ -> j.id)).groupBy(_._1).map { case (s, js) => s -> js.map(_._2).min }
      def jobStages(j: TraceListener.Job) = j.stages.filter(stageJob.get(_).contains(j.id)).flatMap(t.stages.get)
      def module(j: TraceListener.Job) = j.module.orElse(innermost(j.submitMs).map(_.name.takeWhile(_ != '.')))
      val opJobs = t.jobs.values.toSeq.filter(j => inOps(j.submitMs))
      def sum(js: Seq[TraceListener.Job])(f: TraceListener.Stage => Long) = js.flatMap(jobStages).map(f).sum.toDouble

      val perModule = Modules.flatMap { m =>
        val js = opJobs.filter(j => module(j).contains(m))
        Seq(
          s"$m.jobs" -> js.size / nOps,
          s"$m.busy_s" -> sum(js)(_.runMs) / 1000 / nOps,
          s"$m.shuffle_mb" -> sum(js)(_.shuffleWrite) / 1e6 / nOps,
          s"$m.spill_mb" -> sum(js)(_.spill) / 1e6 / nOps,
          s"$m.wall_s" -> ops.map(o => Intervals.coveredMs(
            js.filter(j => within(j.submitMs, o)).map(j => (j.submitMs, j.endMs)),
            o.startMs, o.endMs)).sum / 1000.0 / nOps,
          s"$m.staged_mb" -> stagedPeak(blocks, t, m, ops.map(o => (o.startMs, o.endMs))) / 1e6)
      }

      // a traced run also times untraced operations (for the overhead);
      // phase figures count only the spans of the traced parts
      val byId = all.map(s => s.id -> s).toMap
      def inTracedPart(s: Spans.Span): Boolean =
        TracedParts(s.name) || byId.get(s.parent).exists(inTracedPart)
      def tracedNamed(name: String) = spans.named(name).filter(inTracedPart)

      val perPhase = Phases.flatMap { p =>
        val ss = tracedNamed(s"similarity.$p")
        val js = t.jobs.values.toSeq.filter(j => ss.exists(within(j.submitMs, _)))
        val n = math.max(ss.size, 1).toDouble
        Seq(
          s"similarity.$p.wall_s" -> ss.map(_.seconds).sum / n,
          s"similarity.$p.jobs" -> js.size / n,
          s"similarity.$p.tasks" -> sum(js)(_.tasks.toLong) / n,
          s"similarity.$p.busy_s" -> sum(js)(_.runMs) / 1000 / n)
      }
      val families = AnnIndex.Families.map { f =>
        s"similarity.$f.query_s" -> median(tracedNamed(s"similarity.query.$f").map(_.seconds))
      }

      val opWallMs = ops.map(o => o.endMs - o.startMs).sum.toDouble
      val driverGap = ops.map { o =>
        val iv = opJobs.filter(j => within(j.submitMs, o)).map(j => (j.submitMs, j.endMs))
        (o.endMs - o.startMs) - Intervals.coveredMs(iv, o.startMs, o.endMs)
      }.sum / 1000.0 / nOps
      val traced = median(ops.map(_.seconds))
      val untraced = median(untracedOps)
      val jobSpan = Seq("his.TurnosJob.run" -> "his_job_s", "llm.CorpusJob.run" -> "llm_job_s")
        .map { case (span, metric) =>
          metric -> median(spans.named(span).filter(s => inOps(s.startMs)).map(_.seconds))
        }

      perModule ++ perPhase ++ families ++ jobSpan ++ Seq(
        "similarity.query.files_read_frac" -> filesReadFrac,
        "driver_gap_s" -> driverGap,
        "core_busy_frac" -> (if (opWallMs > 0) sum(opJobs)(_.runMs) / (cores * opWallMs) else 0.0),
        "jobs_total" -> opJobs.size / nOps,
        "task_failures" -> opJobs.flatMap(j => j.stages.filter(stageJob.get(_).contains(j.id)))
          .map(t.failedTasks).sum.toDouble,
        "sources.mb_read" -> sum(opJobs)(_.inputBytes) / 1e6 / nOps,
        "staged_leak_mb" -> (if (leaks.isEmpty) 0.0 else leaks.max),
        "tracing_overhead_frac" -> (if (untraced > 0) traced / untraced - 1 else 0.0),
        "failed_op_share" -> failedShare) ++ extra.toSeq
    }

  /** Highest resident bytes of RDD blocks created by `module`'s call
    * sites while any of `windows` was open. */
  private def stagedPeak(blocks: BlockListener, t: TraceListener, module: String,
                         windows: Seq[(Long, Long)]): Double = blocks.synchronized {
    var resident = 0L
    var peak = 0L
    blocks.updates.foreach { case (ms, _, rdd, delta) =>
      if (t.rddModule.get(rdd).contains(module)) {
        resident += delta
        if (windows.exists { case (lo, hi) => ms >= lo && ms <= hi }) peak = math.max(peak, resident)
      }
    }
    peak.toDouble
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
