package perfbench

import graft.io.FileCensus

/** Per-layer metrics of a traced run. Every workload reports every
  * name; a layer the workload does not exercise reads 0. Values are per
  * timed op unless the unit says otherwise.
  */
object Layers {

  val units: Seq[(String, String)] = Seq(
    "session.start_ms" -> "ms", "session.datagen_ms" -> "ms", "session.warm_ms" -> "ms",
    "pipeline.read_raw_ms" -> "ms", "pipeline.transform_plan_ms" -> "ms",
    "pipeline.write_mart_ms" -> "ms", "pipeline.register_mart_ms" -> "ms",
    "pipeline.validate_ms" -> "ms",
    "pipeline.stage.parse_ms" -> "ms", "pipeline.stage.dedup_ms" -> "ms",
    "pipeline.stage.pivot_ms" -> "ms", "pipeline.stage.enrich_ms" -> "ms",
    "pipeline.stage.aqi_ms" -> "ms",
    "pipeline.rows_read" -> "rows", "pipeline.rows_out" -> "rows",
    "pipeline.read_useful_frac" -> "ratio",
    "streaming.start_ms" -> "ms", "streaming.trigger_ms" -> "ms",
    "streaming.add_batch_ms" -> "ms", "streaming.offsets_ms" -> "ms",
    "streaming.commit_ms" -> "ms", "streaming.state_rows" -> "rows",
    "streaming.state_mem_bytes" -> "bytes", "streaming.rows_dropped_by_watermark" -> "rows",
    "functions.annotate_ms" -> "ms",
    "operators.repetition_gate_ms" -> "ms", "operators.exact_dedup_ms" -> "ms",
    "operators.minhash_lsh_ms" -> "ms", "operators.connected_components_ms" -> "ms",
    "operators.neardup_pairs" -> "count",
    "plans.analysis_ms" -> "ms", "plans.optimization_ms" -> "ms", "plans.planning_ms" -> "ms",
    "io.files_written" -> "count", "io.bytes_written" -> "bytes",
    "io.files_per_partition_dir" -> "ratio", "io.commit_ms" -> "ms",
    "io.files_read" -> "count", "io.bytes_read" -> "bytes", "io.partitions_read" -> "count",
    "engine.jobs_per_op" -> "count", "engine.stages_per_op" -> "count",
    "engine.tasks_per_op" -> "count", "engine.driver_gap_ms" -> "ms",
    "engine.busy_frac" -> "ratio", "engine.task_cpu_ms" -> "ms", "engine.gc_ms" -> "ms",
    "engine.shuffle_write_bytes" -> "bytes", "engine.shuffle_read_bytes" -> "bytes",
    "engine.shuffle_fetch_wait_ms" -> "ms", "engine.spill_bytes" -> "bytes",
    "engine.exchanges" -> "count", "engine.failed_tasks" -> "count",
    "engine.retried_tasks" -> "count")

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Listener-derived metrics over the timed window; call right after
    * the loop, before anything else runs Spark work.
    */
  def fromListeners(tr: Tracer, ops: Seq[Main.OpRecord], windowS: Double,
                    cpus: Int): Seq[(String, Double)] = {
    val n = math.max(1, ops.size).toDouble
    val timed = ops.map(_.id).toSet
    val (eng, plan, stream) = (tr.engine, tr.plans, tr.streams)
    val per = eng.synchronized(eng.ops.filter { case (id, _) => timed(id) }.toMap)
    def sum(f: Tracer.OpStats => Long): Double = per.values.map(f).sum.toDouble
    val gaps = ops.map { o =>
      Stats.driverGap(per.get(o.id).map(_.intervals.toSeq).getOrElse(Nil), o.startMs, o.endMs).toDouble
    }
    val progress = math.max(1.0, stream.get("progress"))
    Seq(
      "pipeline.rows_out" -> plan.get("write.rows") / n,
      "streaming.trigger_ms" -> stream.get("duration.triggerExecution") / n,
      "streaming.add_batch_ms" -> stream.get("duration.addBatch") / n,
      "streaming.offsets_ms" -> (stream.get("duration.latestOffset") + stream.get("duration.getBatch")) / n,
      "streaming.commit_ms" -> (stream.get("duration.walCommit") + stream.get("duration.commitOffsets")) / n,
      "streaming.state_rows" -> stream.get("state_rows") / progress,
      "streaming.state_mem_bytes" -> stream.get("state_mem_bytes") / progress,
      "streaming.rows_dropped_by_watermark" -> stream.get("rows_dropped_by_watermark") / n,
      "plans.analysis_ms" -> plan.get("phase.analysis") / n,
      "plans.optimization_ms" -> plan.get("phase.optimization") / n,
      "plans.planning_ms" -> plan.get("phase.planning") / n,
      "io.files_written" -> plan.get("write.files") / n,
      "io.bytes_written" -> plan.get("write.bytes") / n,
      "io.commit_ms" -> plan.get("write.commit_ms") / n,
      "io.files_read" -> plan.get("scan.files") / n,
      "io.bytes_read" -> plan.get("scan.bytes") / n,
      "io.partitions_read" -> plan.get("scan.partitions") / n,
      "engine.jobs_per_op" -> sum(_.jobs) / n,
      "engine.stages_per_op" -> sum(_.stages) / n,
      "engine.tasks_per_op" -> sum(_.tasks) / n,
      "engine.driver_gap_ms" -> mean(gaps),
      "engine.busy_frac" -> sum(_.runMs) / (windowS * 1000.0 * cpus),
      "engine.task_cpu_ms" -> sum(_.cpuNs) / 1e6 / n,
      "engine.gc_ms" -> sum(_.gcMs) / n,
      "engine.shuffle_write_bytes" -> sum(_.shuffleWrite) / n,
      "engine.shuffle_read_bytes" -> sum(_.shuffleRead) / n,
      "engine.shuffle_fetch_wait_ms" -> sum(_.fetchWaitMs) / n,
      "engine.spill_bytes" -> sum(_.spill) / n,
      "engine.exchanges" -> plan.get("exchanges") / n,
      "engine.failed_tasks" -> sum(_.failedTasks),
      "engine.retried_tasks" -> sum(_.retriedTasks))
  }

  /** Span- and counter-derived metrics, plus the output census. */
  def fromSpans(tr: Tracer, ops: Seq[Main.OpRecord], w: Workload): Seq[(String, Double)] = {
    val n = math.max(1, ops.size).toDouble
    val timed = ops.map(_.id).toSet
    def opSpan(name: String) = {
      val ss = tr.spansNamed(name).filter(s => timed(s.op))
      if (ss.isEmpty) 0.0 else ss.map(_.ms).sum / n
    }
    def setupSpan(name: String) = tr.spansNamed(name).map(_.ms).sum
    val census = w.partitionedOutput.map(p => FileCensus.census(p.toString)).getOrElse((0, 0, 0L))
    val rowsRead = tr.counter("pipeline.rows_read")
    Seq(
      "session.start_ms" -> setupSpan("session.start"),
      "session.datagen_ms" -> setupSpan("session.datagen"),
      "session.warm_ms" -> setupSpan("session.warm"),
      "pipeline.read_raw_ms" -> opSpan("pipeline.read_raw"),
      "pipeline.transform_plan_ms" -> opSpan("pipeline.transform_plan"),
      "pipeline.write_mart_ms" -> opSpan("pipeline.write_mart"),
      "pipeline.register_mart_ms" -> opSpan("pipeline.register_mart"),
      "pipeline.validate_ms" -> opSpan("pipeline.validate"),
      "pipeline.rows_read" -> rowsRead / n,
      "pipeline.read_useful_frac" -> (if (rowsRead > 0) tr.counter("pipeline.rows_new") / rowsRead else 0.0),
      "streaming.start_ms" -> opSpan("streaming.start"),
      "io.files_per_partition_dir" -> (if (census._2 > 0) census._1.toDouble / census._2 else 0.0)) ++
      Seq("pipeline.stage.parse_ms", "pipeline.stage.dedup_ms", "pipeline.stage.pivot_ms",
        "pipeline.stage.enrich_ms", "pipeline.stage.aqi_ms", "functions.annotate_ms",
        "operators.repetition_gate_ms", "operators.exact_dedup_ms", "operators.minhash_lsh_ms",
        "operators.connected_components_ms", "operators.neardup_pairs").map(k => k -> tr.counter(k))
  }

  /** All per-layer metrics in declaration order, with units. */
  def report(values: Seq[(String, Double)]): Seq[(String, Double, String)] = {
    val m = values.toMap
    units.map { case (k, u) => (k, m.getOrElse(k, 0.0), u) }
  }
}
