package perfbench

/** Per-layer metrics of a traced pass. Counts and times are per op
  * (totals over the traced pass divided by its successful ops) unless
  * the name says otherwise. Spark jobs are attributed to the innermost
  * benchmark span open when they were submitted, and to the module their
  * call site names. */
object Layers {

  /** Every per-layer metric, in output order, with its unit. A workload
    * reports 0 for a layer it does not reach. */
  val catalog: Seq[(String, String)] = Seq(
    "construct.ms" -> "ms", "construct.jobs" -> "count",
    "Tables.jobs" -> "count", "Tables.ms" -> "ms",
    "anomaly.jobs" -> "count", "anomaly.ms" -> "ms",
    "plan.analysis_ms" -> "ms", "plan.optimization_ms" -> "ms", "plan.planning_ms" -> "ms",
    "exec.ms" -> "ms", "exec.jobs" -> "count", "exec.tasks" -> "count",
    "exec.task_run_ms" -> "ms", "exec.task_cpu_ms" -> "ms", "exec.gc_ms" -> "ms",
    "exec.sched_gap_ms" -> "ms",
    "exec.shuffle_bytes" -> "bytes", "exec.input_bytes" -> "bytes", "exec.spill_bytes" -> "bytes",
    "CacheBag.drain_ms" -> "ms",
    "PromQlParser.parse_ms" -> "ms", "PromQlParser.eval_ms" -> "ms",
    "MetricsServer.self_ms" -> "ms",
    "Snappy.decompress_ms" -> "ms", "ProtoWire.decode_ms" -> "ms",
    "ingest.plan_leaves" -> "count", "ingest.leaves_per_write" -> "count",
    "ingest.read_plan_ms" -> "ms", "ingest.read_exec_ms" -> "ms", "ingest.read_tasks" -> "count",
    "ingest.write_p50_ms" -> "ms", "ingest.write_p90_ms" -> "ms",
    "stream.triggers" -> "count", "stream.trigger_ms" -> "ms", "stream.add_batch_ms" -> "ms",
    "stream.query_planning_ms" -> "ms", "stream.wal_commit_ms" -> "ms",
    "stream.commit_offsets_ms" -> "ms", "stream.latest_offset_ms" -> "ms",
    "stream.state_rows" -> "count", "stream.state_commit_ms" -> "ms",
    "stream.fixed_ms" -> "ms", "stream.events_per_s" -> "1/s",
    "hygiene.persistent_rdds" -> "count", "hygiene.active_streams" -> "count",
    "hygiene.shm_dirs" -> "count", "hygiene.conf_changed" -> "count",
    "jvm.gc_ms" -> "ms", "jvm.heap_peak_mb" -> "MB",
    "failed_share" -> "ratio", "trace.ops" -> "count",
    "trace.overhead_ms" -> "ms", "trace.overhead_share" -> "ratio") ++
    spanNames.map(n => s"self.${n}_ms" -> "ms")

  /** The span names the workloads record. */
  def spanNames: Seq[String] =
    Seq("setup", "query", "construct", "action", "drain", "parse", "eval", "write", "read")

  /** Spans whose wall time is an action waiting on Spark work. */
  private val actionSpans = Set("action", "read")

  /** Micro-batch metrics of the streaming queries the ops start (catalogue
    * `s*`), from progress reports of data-carrying triggers: means per
    * trigger, and triggers per query run. */
  def streamMetrics(ps: Seq[SparkProbe.Progress]): Map[String, Double] = {
    def mean(k: String) = Stats.mean(ps.map(_.durations.getOrElse(k, 0L).toDouble))
    Map(
      "stream.triggers" -> ps.length.toDouble / math.max(1, ps.map(_.runId).distinct.length),
      "stream.trigger_ms" -> mean("triggerExecution"),
      "stream.add_batch_ms" -> mean("addBatch"),
      "stream.query_planning_ms" -> mean("queryPlanning"),
      "stream.wal_commit_ms" -> mean("walCommit"),
      "stream.commit_offsets_ms" -> mean("commitOffsets"),
      "stream.latest_offset_ms" -> mean("latestOffset"),
      "stream.state_rows" -> Stats.mean(ps.map(_.stateRows.toDouble)),
      "stream.state_commit_ms" -> Stats.mean(ps.map(_.stateCommitMs.toDouble)))
  }

  /** Query executions planned inside a span with one of `names`. */
  def plansIn(tracer: Tracer, probe: SparkProbe, names: Set[String]): Seq[probe.Plan] = {
    val spans = tracer.spans.filter(s => names(s.name))
    probe.snapshotPlans.filter(p => spans.exists(s => s.startMs - 1 <= p.startMs && p.startMs <= s.endMs + 1))
  }

  /** `plain` are the untraced passes run before and after the traced
    * one (`out`), on the same seed. */
  def common(ctx: Ctx, out: Outcome, probe: SparkProbe, plain: Seq[Outcome]): Map[String, Double] = {
    val tracer = ctx.tracer
    val ops = math.max(1, out.latencies.length).toDouble
    val spans = tracer.spans
    val jobs = probe.snapshotJobs
    val where = jobs.map(j => j -> tracer.enclosing(j.startMs.toDouble).map(_.name).getOrElse("")).toMap
    val measured = jobs.filterNot(j => where(j) == "setup" || where(j) == "")
    def dur(j: probe.Job) = (j.endMs - j.startMs).toDouble
    def spanMs(n: String) = spans.filter(_.name == n).map(s => s.endMs - s.startMs).sum
    val plans = plansIn(tracer, probe, spanNames.toSet - "setup")
    val taskRun = measured.map(_.runMs).sum.toDouble
    val self = tracer.selfMs
    val p50 = (o: Outcome) => if (o.latencies.isEmpty) 0.0 else Stats.median(o.latencies.toSeq)
    val plainP50 = Stats.mean(plain.map(p50))
    val all = plain :+ out
    val attempted = all.map(_.attempted).sum.toDouble
    val failed = all.map(_.failed).sum.toDouble
    Map(
      "construct.ms" -> spanMs("construct") / ops,
      "construct.jobs" -> measured.count(j => where(j) == "construct") / ops,
      "Tables.jobs" -> measured.count(_.module == "Tables") / ops,
      "Tables.ms" -> measured.filter(_.module == "Tables").map(dur).sum / ops,
      "anomaly.jobs" -> measured.count(_.module == "anomaly") / ops,
      "anomaly.ms" -> measured.filter(_.module == "anomaly").map(dur).sum / ops,
      "plan.analysis_ms" -> plans.map(_.analysisMs).sum / ops,
      "plan.optimization_ms" -> plans.map(_.optimizationMs).sum / ops,
      "plan.planning_ms" -> plans.map(_.planningMs).sum / ops,
      "exec.ms" -> measured.map(dur).sum / ops,
      "exec.jobs" -> measured.length / ops,
      "exec.tasks" -> measured.map(_.tasks).sum / ops,
      "exec.task_run_ms" -> taskRun / ops,
      "exec.task_cpu_ms" -> measured.map(_.cpuNs).sum / 1e6 / ops,
      "exec.gc_ms" -> measured.map(_.gcMs).sum / ops,
      "exec.sched_gap_ms" ->
        (actionSpans.toSeq.map(spanMs).sum - taskRun / Session.cores) / ops,
      "exec.shuffle_bytes" -> measured.map(_.shuffleBytes).sum / ops,
      "exec.input_bytes" -> measured.map(_.inputBytes).sum / ops,
      "exec.spill_bytes" -> measured.map(_.spillBytes).sum / ops,
      "CacheBag.drain_ms" -> spanMs("drain") / ops,
      "failed_share" -> (if (attempted > 0) failed / attempted else 0.0),
      "trace.ops" -> out.latencies.length.toDouble,
      "trace.overhead_ms" -> (p50(out) - plainP50),
      "trace.overhead_share" -> (if (plainP50 > 0) p50(out) / plainP50 - 1 else 0.0)) ++
      spanNames.map(n => s"self.${n}_ms" -> self.getOrElse(n, 0.0) / (if (n == "setup") 1.0 else ops)) ++
      streamMetrics(probe.snapshotProgress)
  }
}
