package perfbench

/** Per-layer metrics of one traced repetition, from its spans, the tasks
  * and stream batches the listeners tied to them, and the counters the
  * calls recorded. Layers a workload does not touch report 0. */
object Layers {
  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }

  def apply(trace: Trace, spans: Seq[Span], counters: Map[String, Double]): Map[String, Double] = {
    def named(p: String => Boolean) = spans.filter(s => p(s.name))
    def secs(ss: Seq[Span]) = ss.map(_.seconds).sum
    val m = Map.newBuilder[String, Double]

    // sources: the read-back through the KV text source
    m += "sources.readback_s" -> secs(named(_ == "sources.readback"))

    // mr: the engine's jobs, split into the map side and the reduce side
    val mrSpans = named(_.startsWith("mr."))
    val writes = named(_ == "mr.writeText")
    val mrTasks = trace.tasksOf(mrSpans)
    val mapTasks = mrTasks.filter(_.inputRecords > 0)
    // per job, the reduce stage is the one that read the most shuffle bytes
    val reduceStages = writes.flatMap { w =>
      trace.tasksOf(Seq(w)).filter(_.shuffleReadRecords > 0).groupBy(_.stage).values
        .maxByOption(_.map(_.shuffleReadBytes).sum)
    }
    val reduceTasks = reduceStages.flatten
    val skews = reduceStages.map(_.map(_.runS)).filter(t => median(t) > 0).map(t => t.max / median(t))
    m ++= Seq(
      "mr.map_pairs" -> mapTasks.map(_.shuffleWriteRecords).sum.toDouble,
      "mr.map_task_s" -> mapTasks.map(_.runS).sum,
      "mr.shuffle_write_bytes" -> mapTasks.map(_.shuffleWriteBytes).sum.toDouble,
      "mr.shuffle_write_wait_s" -> mrTasks.map(_.shuffleWriteWaitS).sum,
      "mr.shuffle_fetch_wait_s" -> mrTasks.map(_.fetchWaitS).sum,
      "mr.reduce_task_s" -> reduceTasks.map(_.runS).sum,
      "mr.reduce_skew" -> (if (skews.isEmpty) 0.0 else skews.max),
      "mr.spill_bytes" -> mrTasks.map(_.spillBytes).sum.toDouble,
      "mr.gc_s" -> mrTasks.map(_.gcS).sum,
      "mr.jobs" -> trace.jobsOf(mrSpans).toDouble,
      "mr.commit_s" -> writes.map { w =>
        val last = trace.tasksOf(Seq(w)).map(_.finishMs).maxOption.getOrElse(w.endMs)
        math.max(0L, w.endMs - last) / 1e3
      }.sum,
      "mr.output_files" -> counters.getOrElse("mr.output_files", 0.0),
      "mr.output_bytes" -> counters.getOrElse("mr.output_bytes", 0.0))

    // operators: every query-surface call, construct vs execute
    val calls = spans.filter(s => s.parent == -1 &&
      (s.name.startsWith("operators.") || s.name.startsWith("streaming.")))
    val callTrees = calls.map(c => c -> trace.subtree(c))
    val opSpans = callTrees.flatMap(_._2)
    val opTasks = trace.tasksOf(opSpans)
    val construct = named(n => n == "operators.construct" || n == "streaming.gate")
    m ++= Seq(
      "operators.construct_s" -> secs(construct),
      "operators.eager_jobs" -> trace.jobsOf(construct).toDouble,
      "operators.execute_s" -> secs(named(_ == "operators.execute")),
      "operators.task_s" -> opTasks.map(_.runS).sum,
      "operators.task_cpu_s" -> opTasks.map(_.cpuS).sum,
      "operators.shuffle_bytes" -> opTasks.map(_.shuffleWriteBytes).sum.toDouble,
      "operators.spill_bytes" -> opTasks.map(_.spillBytes).sum.toDouble,
      "operators.jobs" -> trace.jobsOf(opSpans).toDouble,
      "operators.stages" -> trace.stagesOf(opSpans).toDouble,
      "operators.tasks" -> opTasks.size.toDouble,
      "operators.sched_gap_s" -> callTrees.map { case (c, t) => trace.idleSeconds(c, t) }.sum,
      "operators.release_s" -> secs(named(_ == "operators.release")))
    Seq("analysis_s", "optimize_s", "planning_s", "codegen_s", "cut_storage_mb")
      .foreach(k => m += s"operators.$k" -> counters.getOrElse(s"operators.$k", 0.0))

    // streaming: the micro-batches of every gate
    val gates = named(_ == "streaming.gate")
    val batches = trace.batchesOf(gates)
    val lastOfGate = gates.flatMap(g => trace.batchesOf(Seq(g)).lastOption)
    m ++= Seq(
      "streaming.batches" -> batches.size.toDouble,
      "streaming.trigger_s" -> batches.map(_.triggerS).sum,
      "streaming.add_batch_s" -> batches.map(_.addBatchS).sum,
      "streaming.query_planning_s" -> batches.map(_.planningS).sum,
      "streaming.commit_s" -> batches.map(_.commitS).sum,
      "streaming.overhead_s" -> (if (gates.isEmpty) 0.0 else secs(gates) - batches.map(_.triggerS).sum),
      "streaming.state_rows" -> lastOfGate.map(_.stateRows).sum.toDouble,
      "streaming.state_mb" -> lastOfGate.map(_.stateBytes).sum / 1048576.0,
      "streaming.late_rows_dropped" -> batches.map(_.droppedLate).sum.toDouble)

    // self time per layer: each span minus what its child spans cover
    val self = spans.groupBy(_.name.takeWhile(_ != '.')).view.mapValues(_.map(trace.selfSeconds).sum)
    Seq("sources", "mr", "operators", "streaming")
      .foreach(l => m += s"$l.self_s" -> self.getOrElse(l, 0.0))
    m.result()
  }

  /** Metrics of the single-layer probes. */
  def probes(trace: Trace, spans: Seq[Span]): Map[String, Double] = {
    val scan = spans.filter(_.name == "sources.scan")
    val scanTasks = trace.tasksOf(scan)
    Map(
      "sources.scan_s" -> scan.map(_.seconds).sum,
      "sources.input_bytes" -> scanTasks.map(_.inputBytes).sum.toDouble,
      "sources.input_records" -> scanTasks.map(_.inputRecords).sum.toDouble,
      "sources.scan_tasks" -> scanTasks.size.toDouble,
      "functions.holistic_reduce_s" -> spans.filter(_.name == "functions.holistic_reduce").map(_.seconds).sum,
      "functions.minhash_s" -> spans.filter(_.name == "functions.minhash").map(_.seconds).sum)
  }
}
