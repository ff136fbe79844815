package graft.perfbench

/** The per-layer metric set. Every workload reports every metric; a layer
  * the workload does not exercise reports 0. Phase times are shares (%) of
  * the measured wall time, so the shares of one run add up to its total;
  * `queries.plan_ms` and `jvm.gc_ms` occur in every workload and stay in ms. */
object Layers {
  val names: Seq[String] = Seq(
    "sources.probe_pct", "sources.get_batch_pct", "sources.probe_jobs",
    "sources.tasks_per_batch", "sources.read_amplification",
    "streaming.plan_pct", "streaming.add_batch_pct", "streaming.wal_pct",
    "streaming.idle_pct", "streaming.explained_pct", "streaming.jobs_per_batch",
    "streaming.state_pct", "streaming.state_update_pct", "streaming.state_commit_pct",
    "streaming.state_rows", "streaming.state_bytes",
    "streaming.sink_write_pct", "streaming.sink_records", "streaming.sink_txns",
    "streaming.sink_shuffle_bytes",
    "streaming.recovery_view_pct", "streaming.recovery_keys_per_s",
    "queries.plan_ms", "queries.explained_pct", "queries.jobs", "queries.stages",
    "queries.tasks", "queries.shuffle_bytes", "queries.spill_bytes", "queries.peak_mem_bytes",
    "operators.pinned_rdds", "operators.pinned_bytes",
    "jvm.gc_ms", "bench.generator_late_pct")

  /** Fill every layer metric not yet set with 0, in the declared order. */
  def complete(res: Result): Unit = {
    val set = res.layers.toMap
    res.layers.clear()
    names.foreach(n => res.layers(n) = set.getOrElse(n, 0.0))
  }
}

/** Per-layer metrics of the two stream workloads, from the listener's
  * batch records (trigger phases, state operator) and the tracer's spans
  * and Spark counters. `wallMs` is the measured stream time the shares
  * refer to. */
object StreamLayers {
  def report(res: Result, tracer: Tracer, batches: Seq[BatchRecord], wallMs: Double,
      gcMs: Double, cores: Int, recoveryS: Double, recoveredKeys: Long): Unit = {
    if (!tracer.enabled) return
    def phase(keys: String*) = batches.map(b => keys.map(b.phasesMs.getOrElse(_, 0L)).sum).sum.toDouble
    def pctOf(ms: Double) = 100.0 * ms / wallMs
    val triggers = batches.size.max(1)
    val rowBatches = batches.filter(_.rows > 0)
    val rows = rowBatches.map(_.rows).sum.max(1L)
    val stateJobs = tracer.counter("jobs.state").max(1)
    val l = res.layers
    l("sources.probe_pct") = pctOf(phase("latestOffset"))
    l("sources.get_batch_pct") = pctOf(phase("getBatch"))
    l("sources.probe_jobs") = tracer.counter("jobs.sources") / triggers
    l("sources.tasks_per_batch") = tracer.counter("scan_tasks.state") / stateJobs
    l("sources.read_amplification") =
      (tracer.counter("records_read.sources") + tracer.counter("records_read.state")) / rows
    l("streaming.plan_pct") = pctOf(phase("queryPlanning"))
    l("streaming.add_batch_pct") = pctOf(phase("addBatch"))
    l("streaming.wal_pct") = pctOf(phase("walCommit", "commitOffsets"))
    // The split: every timed phase of every trigger, plus the time no
    // trigger ran (waiting for the next processing-time trigger), against
    // the measured wall.
    val phasesMs = batches.map(_.phasesMs.filter(_._1 != "triggerExecution").values.sum).sum.toDouble
    val idleMs = (wallMs - batches.map(_.durationMs).sum).max(0.0)
    l("streaming.idle_pct") = pctOf(idleMs)
    l("streaming.explained_pct") = pctOf(phasesMs + idleMs)
    l("streaming.jobs_per_batch") =
      (tracer.counter("jobs.state") + tracer.counter("jobs.sink")) / rowBatches.size.max(1)
    l("streaming.state_pct") = pctOf(tracer.totalMs("streaming.state"))
    l("streaming.state_update_pct") = pctOf(batches.map(_.stateUpdateMs).sum.toDouble / cores)
    l("streaming.state_commit_pct") = pctOf(batches.map(_.stateCommitMs).sum.toDouble / cores)
    l("streaming.state_rows") = batches.lastOption.map(_.stateRows.toDouble).getOrElse(0.0)
    l("streaming.state_bytes") = batches.lastOption.map(_.stateBytes.toDouble).getOrElse(0.0)
    l("streaming.sink_write_pct") = pctOf(tracer.totalMs("streaming.sink"))
    l("streaming.sink_records") = tracer.counter("sink_records")
    l("streaming.sink_txns") = tracer.counter("result_tasks.sink")
    l("streaming.sink_shuffle_bytes") = tracer.counter("shuffle_read_bytes.sink")
    l("streaming.recovery_view_pct") =
      100.0 * tracer.totalMs("streaming.recovery_view") / tracer.totalMs("streaming.recovery").max(1e-9)
    l("streaming.recovery_keys_per_s") = recoveredKeys / recoveryS.max(1e-9)
    l("queries.plan_ms") = tracer.counter("plan_ms") / tracer.counter("plan_actions").max(1)
    l("jvm.gc_ms") = gcMs
  }
}
