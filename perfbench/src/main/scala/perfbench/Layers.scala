package perfbench

/** Per-layer metrics of a traced run. Each per-op value is averaged over
  * the traced ops; the layers are the repository's modules, with Spark
  * itself as `engine`. */
object Layers {

  private def mb(b: Double) = b / (1 << 20)

  /** One traced op's values. */
  private def perOp(t: OpTrace, cores: Int, srcBytes: Double): Seq[(String, Double, String)] = {
    val jobs = t.jobs
    def of(m: String) = jobs.filter(_.module == m)
    def busyS(js: Seq[JobRec]) = Spans.unionLength(js.map(j => (j.start, j.end))) / 1e3
    def taskS(js: Seq[JobRec]) = js.map(_.runMs).sum / 1e3
    def spansNamed(n: String) = t.spans.filter(_.name == n)
    def spanS(n: String) = spansNamed(n).map(_.duration).sum / 1e3
    val jobSpans = jobs.map(j => Span(0, "job", j.start, j.end, j.parentSpan, t.op))
    val constructIds = spansNamed("construct").map(_.id).toSet
    val execSelf = spansNamed("execute").map(s =>
      Spans.selfTime(s, jobSpans.filter(_.parent == s.id))).sum / 1e3
    val sinkWrites = t.writes.filter(_._1 == "sinks")
    Seq(
      ("sources.schema_jobs", of("sources").count(_.sqlId < 0).toDouble, "count"),
      ("sources.jobs", of("sources").length.toDouble, "count"),
      ("sources.job_s", busyS(of("sources")), "s"),
      ("operators.jobs", of("operators").length.toDouble, "count"),
      ("operators.job_s", busyS(of("operators")), "s"),
      ("operators.task_s", taskS(of("operators")), "s"),
      ("engine.construct_s", spanS("construct"), "s"),
      ("engine.construct_jobs", jobs.count(j => constructIds(j.parentSpan)).toDouble, "count"),
      ("engine.plan_s", t.planMs / 1e3, "s"),
      ("engine.exec_s", spanS("execute"), "s"),
      ("engine.exec_self_s", execSelf, "s"),
      ("engine.jobs", jobs.length.toDouble, "count"),
      ("engine.stages", jobs.map(_.stages).sum.toDouble, "count"),
      ("engine.tasks", jobs.map(_.tasks).sum.toDouble, "count"),
      ("engine.task_s", taskS(jobs), "s"),
      ("engine.task_wait_s", jobs.map(_.waitMs).sum / 1e3, "s"),
      ("engine.core_busy_frac", taskS(jobs) / (t.wallMs / 1e3 * cores), "ratio"),
      ("engine.shuffle_write_mb", mb(jobs.map(_.shuffleWrite).sum.toDouble), "MB"),
      ("engine.shuffle_read_mb", mb(jobs.map(_.shuffleRead).sum.toDouble), "MB"),
      ("engine.spill_mb", mb(jobs.map(_.spill).sum.toDouble), "MB"),
      ("engine.gc_s", jobs.map(_.gcMs).sum / 1e3, "s"),
      ("engine.scan_amp", jobs.map(_.inputBytes).sum / srcBytes, "ratio"),
      ("dag.run_s", spanS("dag.run"), "s"),
      ("dag.jobs", of("dag").length.toDouble, "count"),
      ("dag.job_s", busyS(of("dag")), "s"),
      ("dag.task_s", taskS(of("dag")), "s"),
      ("dag.analytics_s", spanS("dag.analytics"), "s"),
      ("sinks.jobs", of("sinks").length.toDouble, "count"),
      ("sinks.job_s", busyS(of("sinks")), "s"),
      ("sinks.files_written", sinkWrites.map(_._2).sum.toDouble, "count"),
      ("sinks.bytes_written_mb", mb(sinkWrites.map(_._3).sum.toDouble), "MB"),
      ("trace.unattributed_jobs", of(Attribution.Unattributed).length.toDouble, "count"))
  }

  /** Every per-layer metric: per-op averages over `traced`, then the
    * run-level values. `lat` is (input, seconds, traced) for every op, in
    * order; the first `passLength` of them are the untraced first pass. */
  def metrics(traced: Seq[OpTrace], lat: Seq[(String, Double, Boolean)], passLength: Int,
      cores: Int, srcBytes: Double, run: Map[String, Double]): Seq[(String, (Double, String))] = {
    val rows = traced.map(perOp(_, cores, srcBytes))
    val avg = rows.head.indices.map { c =>
      val (name, _, unit) = rows.head(c)
      name -> (rows.map(_(c)._2).sum / rows.length, unit)
    }
    // tracing overhead: traced vs untraced op time, leaving out the first
    // pass (the JIT still warms there), over the inputs run both ways (all
    // such ops when no input was)
    val (on, off) = lat.drop(passLength).partition(_._3)
    val both = on.map(_._1).toSet intersect off.map(_._1).toSet
    def mean(xs: Seq[(String, Double, Boolean)]) = xs.map(_._2).sum / xs.length
    val overhead =
      if (both.nonEmpty) mean(on.filter(x => both(x._1))) / mean(off.filter(x => both(x._1))) - 1
      else mean(on) / mean(off) - 1
    avg ++ Seq(
      "dag.lake_bytes_per_src_byte" -> (run.getOrElse("dag.lake_bytes_per_src_byte", 0.0), "ratio"),
      "jvm.peak_rss_mb" -> (run("jvm.peak_rss_mb"), "MB"),
      "trace.traced_ops" -> (traced.length.toDouble, "count"),
      "trace.overhead_frac" -> (overhead, "ratio"))
  }
}
