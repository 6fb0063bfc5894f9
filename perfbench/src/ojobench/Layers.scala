package ojobench

/** Per-layer metrics of a traced run, all derived from its spans.
  *
  * Counts and totals are per measured round (the sum over the first and
  * warm rounds divided by their number), so they do not depend on how many
  * rounds fit in a run; per-op figures are medians over warm rounds.
  * Layers a workload does not exercise are left out here and reported as 0.
  */
object Layers {
  private val MiB = 1048576.0

  def fill(ctx: Ctx, w: Workload, report: Report): Unit = {
    val tr = ctx.tracer
    val out = report.layers
    val roundSpans = tr.spans.toSeq.filter(s => s.name.startsWith("round."))
    val nRounds = roundSpans.size.toDouble
    val measured = roundSpans.flatMap(tr.subtree)
    val warm = measured.filter(_.round.startsWith("warm"))
    def named(prefix: String, in: Seq[Span]) = in.filter(_.name.startsWith(prefix))
    def med(xs: Seq[Double]) = Stats.median(xs)
    def efficiency(s: Span) =
      tr.inclusive(s).taskRunMs / math.max(1.0, (s.w1 - s.w0) * ctx.cores.toDouble)

    // graft.domain stages (pipeline)
    for ((stage, spans) <- named("stage.", warm).groupBy(_.name.stripPrefix("stage."))) {
      out(s"pipeline.$stage.s") = med(spans.map(_.seconds))
      out(s"pipeline.$stage.rows") = med(spans.map(tr.inclusive(_).rowsWritten.toDouble))
      out(s"pipeline.$stage.parallel_efficiency") = med(spans.map(efficiency))
      out(s"pipeline.$stage.shuffle_mb") =
        med(spans.map(tr.inclusive(_).shuffleWriteBytes / MiB))
    }

    // graft.domain.SharedCache
    val builds = named("shared_cache.build", measured)
    val hits = named("shared_cache.hit", measured)
    out("shared_cache.builds") = builds.size / nRounds
    out("shared_cache.hits") = hits.size / nRounds
    out("shared_cache.build_s") = builds.map(tr.selfSeconds).sum / nRounds
    out("shared_cache.hit_ms") = med(hits.map(_.seconds * 1000))
    out("shared_cache.bytes_mb") = builds.map(_.attrs.getOrElse("bytes", 0.0)).sum / MiB / nRounds
    out("shared_cache.files") = builds.map(_.attrs.getOrElse("files", 0.0)).sum / nRounds

    // graft.Tables (resolved once per setup repetition)
    val resolves = tr.spans.filter(_.name == "tables.resolve").toSeq
    out("tables.resolve_ms") = med(resolves.map(_.seconds * 1000))
    out("tables.resolve_jobs") = med(resolves.map(tr.inclusive(_).jobs.toDouble))

    // graft.domain.Getters read path (api_reads)
    for ((kind, spans) <- named("read.", warm).groupBy(_.name.stripPrefix("read."))) {
      out(s"reads.$kind.p50_ms") = med(spans.map(_.seconds * 1000))
      out(s"reads.$kind.planning_ms") = med(spans.map(tr.inclusive(_).planningMs))
      out(s"reads.$kind.jobs") = med(spans.map(tr.inclusive(_).jobs.toDouble))
      out(s"reads.$kind.tasks") = med(spans.map(tr.inclusive(_).tasks.toDouble))
      out(s"reads.$kind.no_task_ms") = med(spans.map(tr.noTaskMs))
    }

    // graft.Registry operator families (operator_mix)
    w match {
      case m: MixWorkload =>
        val family = m.families.map(_.swap).toMap
        val queries = named("query.", measured)
        def famOf(s: Span) = family(s.name.stripPrefix("query."))
        for ((fam, spans) <- queries.groupBy(famOf)) {
          out(s"mix.$fam.first_s") = spans.filter(_.round == "first").map(_.seconds).sum
          out(s"mix.$fam.warm_s") = med(spans.filter(_.round.startsWith("warm"))
            .groupBy(_.round).values.map(_.map(_.seconds).sum).toSeq)
        }
        val warmMedians = queries.filter(_.round.startsWith("warm"))
          .groupBy(_.name).values.map(ss => med(ss.map(_.seconds)))
        out("mix.sub_500ms_share") =
          warmMedians.count(_ < 0.5).toDouble / math.max(1, warmMedians.size)
      case _ =>
    }

    // the Spark engine as driven by graft, over the measured rounds
    val c = new Counters
    roundSpans.foreach(r => c.add(tr.inclusive(r)))
    val wallMs = roundSpans.map(r => (r.w1 - r.w0).toDouble).sum
    out("spark.planning_s") = c.planningMs / 1000 / nRounds
    out("spark.jobs") = c.jobs / nRounds
    out("spark.stages") = c.stages / nRounds
    out("spark.tasks") = c.tasks / nRounds
    out("spark.task_run_s") = c.taskRunMs / 1000.0 / nRounds
    out("spark.task_cpu_s") = c.taskCpuNs / 1e9 / nRounds
    out("spark.gc_s") = c.gcMs / 1000.0 / nRounds
    out("spark.no_task_s") = roundSpans.map(tr.noTaskMs).sum / 1000 / nRounds
    out("spark.parallel_efficiency") = c.taskRunMs / math.max(1.0, wallMs * ctx.cores)
    out("spark.shuffle_write_mb") = c.shuffleWriteBytes / MiB / nRounds
    out("spark.spill_mb") = c.spillBytes / MiB / nRounds
    out("spark.input_mb") = c.inputBytes / MiB / nRounds
    out("spark.output_mb") = c.outputBytes / MiB / nRounds
    out("spark.codegen_compile_s") = roundSpans.map(_.codegenNs).sum / 1e9 / nRounds
    out("spark.codegen_classes") = roundSpans.map(_.codegenClasses).sum / nRounds
    out("spark.task_failures") = c.taskFailures.toDouble

    // the end-to-end figures as measured under tracing, for its overhead
    for (k <- Seq("setup_s", "first_round_s", "warm_round_s"))
      out(s"traced.$k") = report.e2e(k)
    // share of round wall inside op spans (stage, read, query) or deeper
    val opSpans = roundSpans.flatMap(tr.kids)
    out("trace.op_coverage") = opSpans.map(_.seconds).sum /
      math.max(1e-9, roundSpans.map(_.seconds).sum)
  }

  /** Every span as one JSON line, for offline layer tables. */
  def spansJson(tr: Tracer): String = tr.spans.map { s =>
    val c = s.self
    Json.obj(Seq(
      "id" -> s.id.toString, "parent" -> s.parent.toString,
      "name" -> Json.str(s.name), "round" -> Json.str(s.round),
      "start_ms" -> s.w0.toString, "end_ms" -> s.w1.toString,
      "seconds" -> Json.num(s.seconds),
      "self_seconds" -> Json.num(tr.selfSeconds(s)),
      "no_task_ms" -> Json.num(tr.noTaskMs(s)),
      "codegen_s" -> Json.num(s.codegenNs / 1e9),
      "codegen_classes" -> s.codegenClasses.toString,
      "jobs" -> c.jobs.toString, "stages" -> c.stages.toString,
      "tasks" -> c.tasks.toString, "task_run_ms" -> c.taskRunMs.toString,
      "task_cpu_ms" -> (c.taskCpuNs / 1000000).toString,
      "gc_ms" -> c.gcMs.toString,
      "shuffle_write_bytes" -> c.shuffleWriteBytes.toString,
      "spill_bytes" -> c.spillBytes.toString,
      "input_bytes" -> c.inputBytes.toString,
      "output_bytes" -> c.outputBytes.toString,
      "planning_ms" -> Json.num(c.planningMs),
      "rows_written" -> c.rowsWritten.toString,
      "attrs" -> Json.obj(s.attrs.map { case (k, v) => k -> Json.num(v) }),
    ))
  }.mkString("", "\n", "\n")
}
