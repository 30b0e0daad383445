package graftbench

/** Per-layer numbers from the traced units, each averaged per unit. A
  * span's self time is its wall minus the part its child spans (or, for
  * the driver share, its Spark jobs) cover. SQL executions attach to the
  * innermost span that was open when their planning started. */
object Layers {
  def compute(tr: Tracer, units: Seq[Main.UnitRec], runs: Seq[Mop.Run],
      queryLeft: Seq[(Int, Double)]): Map[String, Double] = {
    val n = units.count(_.traced).toDouble
    val spans = tr.spans.filter(_.end >= 0).toSeq
    val children = spans.groupBy(_.parent)
    def subtree(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).flatMap(subtree)
    def dur(s: Span) = (s.end - s.start) / 1e6
    def named(name: String) = spans.filter(_.name == name)
    def total(name: String) = named(name).map(dur).sum / n
    def innermost(t: Long): Option[Span] =
      spans.filter(s => s.start <= t && t <= s.end).sortBy(-_.start).headOption
    val execSpan = tr.execs.map(e => e -> innermost(e.planStart).map(_.name).getOrElse(""))
    def execsIn(name: String) = execSpan.collect { case (e, `name`) => e }
    def work(ss: Seq[Span]): Seq[Work] = ss.flatMap(s => subtree(s)).flatMap(s => tr.work.get(s.id))
    def jobIv(pred: Job => Boolean) = tr.jobs.filter(j => j.end >= 0 && pred(j)).map(j => (j.start, j.end)).toSeq
    def selfOfJobs(s: Span) = {
      val ids = subtree(s).map(_.id).toSet
      dur(s) - Tracer.coveredWithin(s.start, s.end, jobIv(j => ids(j.span))) / 1e6
    }

    val all = tr.work.values.toSeq
    def sumW(f: Work => Long, ws: Seq[Work] = all) = ws.map(f).sum.toDouble / n
    val mb = 1e6
    val runsRun = named("pipeline.run")
    val writes = execsIn("pipeline.run").filter(_.path.isDefined)
    val (status, drs) = writes.partition(_.path.get.contains("/_status"))
    val rawRows = units.filter(_.traced).map(_.rows).sum.toDouble
    val estMb = runs.map(_.estMb).sum
    val snapshots = named("bench.snapshot").map(s => (s.start, s.end))
    val gap = named("unit").map { u =>
      dur(u) - Tracer.coveredWithin(u.start, u.end, jobIv(_ => true) ++ snapshots) / 1e6
    }.sum / n
    val querySpans = named("query")
    def perQuery(q: String) = querySpans.filter(_.op == q).map(dur).sum / n

    Map(
      "catalog.resolve_s" -> total("catalog.resolve"),
      "catalog.requests" -> runs.headOption.fold(0.0)(_.requests.toDouble),
      "catalog.unmatched" -> runs.headOption.fold(0.0)(_.unmatched.toDouble),
      "plans.plan_s" -> total("plans.plan"),
      "plans.files" -> runs.headOption.fold(0.0)(_.tasks.size.toDouble),
      "plans.size_ratio" -> (if (estMb > 0) drs.map(_.bytes).sum / (estMb * mb) else 0.0),
      "dsl.compile_s" -> total("dsl.compile"),
      "pipeline.task_s" -> total("pipeline.run"),
      "pipeline.driver_s" -> runsRun.map(selfOfJobs).sum / n,
      "pipeline.plan_s" -> execsIn("pipeline.run").map(_.planMs).sum / 1e3 / n,
      "pipeline.scan_ratio" ->
        (if (rawRows > 0) work(runsRun).map(_.inRecords).sum / rawRows else 0.0),
      "io.write_s" -> drs.map(e => e.end - e.start).sum / 1e6 / n,
      "io.out_mb" -> drs.map(_.bytes).sum / mb / n,
      "io.out_files" -> drs.map(_.files).sum / n,
      "io.status_s" -> status.map(e => e.end - e.start).sum / 1e6 / n,
      "io.status_files" -> status.map(_.files).sum / n,
      "spark.jobs" -> sumW(_.jobs),
      "spark.stages" -> sumW(_.stages),
      "spark.tasks" -> sumW(_.tasks),
      "spark.executor_s" -> sumW(_.runMs) / 1e3,
      "spark.cpu_s" -> sumW(_.cpuNs) / 1e9,
      "spark.gc_s" -> sumW(_.gcMs) / 1e3,
      "spark.scan_mb" -> sumW(_.inBytes) / mb,
      "spark.scan_rows" -> sumW(_.inRecords),
      "spark.shuffle_write_mb" -> sumW(_.shufW) / mb,
      "spark.shuffle_read_mb" -> sumW(_.shufR) / mb,
      "spark.spill_mb" -> sumW(_.spill) / mb,
      "spark.driver_gap_s" -> gap,
      "queries.build_s" -> total("queries.build"),
      "queries.build_jobs" -> work(named("queries.build")).map(_.jobs).sum / n,
      "queries.materialize_s" -> total("queries.materialize"),
      "queries.plan_s" -> execsIn("queries.materialize").map(_.planMs).sum / 1e3 / n,
      "queries.q210_s" -> perQuery("q210_pagerank"),
      "queries.q226_s" -> perQuery("q226_label_propagation"),
      "queries.q235_s" -> perQuery("q235_louvain_sweep"),
      "iterate.cuts" -> querySpans.map(q =>
        subtree(q).flatMap(s => tr.cached.getOrElse(s.id, Set.empty[Int])).distinct.size).sum / n,
      "iterate.cut_mb" -> queryLeft.map(_._2).sum / n,
      "iterate.leftover" -> queryLeft.map(_._1).sum / n)
  }
}
