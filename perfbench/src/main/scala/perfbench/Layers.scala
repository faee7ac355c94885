package perfbench

/** Per-layer metrics of a traced run. Every workload reports the same
  * list; a layer the workload never calls reads 0. Times are self
  * seconds per traced operation (per setup for setup calls); Spark
  * counters are summed over the tasks of the jobs each span issued. */
object Layers {

  /** Span key → metric name, for calls made once per operation. */
  private val perOp = Seq(
    "parser.parse" -> "parser.parse_s",
    "exec.translate" -> "exec.translate_s",
    "exec.update" -> "exec.update_s",
    "spark.plan" -> "spark.plan_s",
    "spark.execute" -> "spark.execute_s",
    "dsl.translate" -> "dsl.translate_s",
    "relational.build" -> "relational.build_s",
    "relational.execute" -> "relational.execute_s",
    "graph.apply_delta" -> "graph.apply_delta_s",
    "graph.save_delta" -> "graph.save_delta_s",
    "graph.compact" -> "graph.compact_s",
    "graph.load" -> "graph.load_s",
    "mapper.expand" -> "mapper.expand_s",
    "bench.feed" -> "bench.feed_s",
    "streaming.stage" -> "streaming.stage_s",
    "llm.fold" -> "llm.fold_s",
    "llm.maintenance" -> "llm.maintenance_s",
    "llm.serve_bm25" -> "llm.serve.bm25_s",
    "llm.serve_ivf" -> "llm.serve.ivf_s",
    "llm.serve_bloom" -> "llm.serve.bloom_s",
    "llm.serve_simgraph" -> "llm.serve.simgraph_s")

  /** Span key → metric name, for setup calls. */
  private val perSetup = Seq(
    "graph.build" -> "graph.build_s",
    "graph.save" -> "graph.save_s",
    "llm.init_stores" -> "llm.init_stores_s")

  /** Layers whose Spark jobs and task CPU are reported one by one. */
  private val jobLayers =
    Seq("exec", "spark", "relational", "graph", "mapper", "streaming", "llm")

  val stores = Seq("bloom", "shingle", "text", "ivf", "graph")

  /** Metrics a workload sets itself (0 when it does not). */
  val workloadOwned: Seq[(String, String)] = Seq(
    "graph.bytes_written" -> "bytes",
    "graph.store_files" -> "count",
    "graph.store_bytes_per_triple" -> "bytes",
    "streaming.micro_batches" -> "count",
    "streaming.batch_duration_s" -> "s",
    "streaming.input_rows" -> "count",
    "llm.admit_ratio" -> "ratio",
    "llm.maintenance_actions" -> "count",
    "llm.rewritten_bytes" -> "bytes",
    "llm.store_bytes_per_doc" -> "bytes") ++
    stores.map(s => s"llm.store_bytes.$s" -> "bytes") ++
    stores.map(s => s"llm.store_files.$s" -> "count")

  /** A per-operation call's share of the traced operation time. */
  private def share(metric: String) = metric.stripSuffix("_s") + "_share"

  /** Every per-layer metric name with its unit, in report order. */
  val all: Seq[(String, String)] =
    perOp.map(_._2 -> "s") ++ perOp.map(m => share(m._2) -> "ratio") ++
      perSetup.map(_._2 -> "s") ++
      Seq("exec.translate_jobs" -> "count") ++ workloadOwned ++
      jobLayers.flatMap(l => Seq(s"jobs.$l" -> "count",
        s"task_cpu_s.$l" -> "s")) ++
      Seq("spark.jobs" -> "count", "spark.tasks" -> "count",
        "spark.task_cpu_s" -> "s", "spark.scheduler_delay_s" -> "s",
        "spark.shuffle_read_bytes" -> "bytes",
        "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
        "spark.input_bytes" -> "bytes", "spark.gc_s" -> "s",
        "spark.failed_tasks" -> "count",
        "trace.op_s" -> "s", "trace.untraced_op_s" -> "s",
        "trace.overhead_s" -> "s", "trace.unattributed_s" -> "s",
        "trace.unattributed_jobs" -> "count")

  /** Fill the per-layer metrics of a traced run from its spans. `pairs`
    * holds, per operation, its (traced, untraced) latency from
    * `Ctx.pair`. */
  def report(ctx: Ctx, pairs: Seq[(Double, Double)]): Unit = {
    if (!ctx.cfg.trace) return
    val tr = ctx.tracer
    tr.setActive(false)
    val out = ctx.out
    val byKey = tr.byKey
    // an operation may span several root spans (a night's admission and
    // fold are timed apart, around an untimed check)
    val ops = math.max(1, tr.spans.filter(_.layer == "op").map(_.op).distinct.size)
    def setups(k: String) = math.max(1, tr.spans.count(_.key == k))
    def self(k: String) = byKey.get(k).map(_._1).getOrElse(0.0)
    val opSecs = tr.spans.filter(_.layer == "op").map(_.secs).sum
    perOp.foreach { case (k, m) =>
      out.metric(m, self(k) / ops, "s")
      out.metric(share(m), if (opSecs > 0) self(k) / opSecs else 0.0, "ratio")
    }
    perSetup.foreach { case (k, m) => out.metric(m, self(k) / setups(k), "s") }
    out.metric("exec.translate_jobs",
      byKey.get("exec.translate").map(_._2.jobs).getOrElse(0L).toDouble / ops,
      "count")
    workloadOwned.foreach { case (m, u) =>
      if (!out.metrics.contains(m)) out.metric(m, 0.0, u) }
    jobLayers.foreach { l =>
      val cs = byKey.collect { case (k, (_, c)) if k.startsWith(l + ".") => c }
      out.metric(s"jobs.$l", cs.map(_.jobs).sum.toDouble / ops, "count")
      out.metric(s"task_cpu_s.$l", cs.map(_.taskCpuNs).sum / 1e9 / ops, "s")
    }
    // run totals per operation: every job of the traced rounds, attributed
    // or not
    val cs = tr.spans.filter(_.op >= 0).map(s => tr.countersOf(s.id)) :+
      tr.countersOf(-1)
    def per(f: Counters => Long, scale: Double = 1.0) =
      cs.map(f).sum / scale / ops
    out.metric("spark.jobs", per(_.jobs), "count")
    out.metric("spark.tasks", per(_.tasks), "count")
    out.metric("spark.task_cpu_s", per(_.taskCpuNs, 1e9), "s")
    out.metric("spark.scheduler_delay_s", per(_.schedulerDelayMs, 1e3), "s")
    out.metric("spark.shuffle_read_bytes", per(_.shuffleReadBytes), "bytes")
    out.metric("spark.shuffle_write_bytes", per(_.shuffleWriteBytes), "bytes")
    out.metric("spark.spill_bytes", per(_.spillBytes), "bytes")
    out.metric("spark.input_bytes", per(_.inputBytes), "bytes")
    out.metric("spark.gc_s", per(_.gcMs, 1e3), "s")
    out.metric("spark.failed_tasks", per(_.failedTasks), "count")
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    out.metric("trace.op_s", mean(pairs.map(_._1)), "s")
    out.metric("trace.untraced_op_s", mean(pairs.map(_._2)), "s")
    // the median of the per-operation differences: each pair ran the same
    // work from the same state, half of them with the traced leg first
    out.metric("trace.overhead_s",
      if (pairs.isEmpty) 0.0 else Ctx.median(pairs.map(p => p._1 - p._2)), "s")
    // operation time spent outside every module call (benchmark glue)
    val selfOf = tr.selfSecs
    out.metric("trace.unattributed_s",
      tr.spans.filter(_.layer == "op").map(s => selfOf(s.id)).sum / ops, "s")
    out.metric("trace.unattributed_jobs",
      tr.countersOf(-1).jobs.toDouble / ops, "count")
    tr.writeJsonl(s"${ctx.cfg.work}/trace.jsonl")
  }
}
