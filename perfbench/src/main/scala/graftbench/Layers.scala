package graftbench

/** Per-layer metrics of a traced run. Every name in `All` is reported by
  * every workload; a layer a workload does not reach reads 0. Values are
  * means per measured operation unless the name says otherwise.
  */
object Layers {

  val All: Seq[(String, String)] = Seq(
    "sources.latest_offset_ms" -> "ms",
    "sources.get_batch_ms" -> "ms",
    "sources.backlog_files" -> "count",
    "cdc.parse_ms" -> "ms",
    "cdc.shuffle_write_bytes" -> "bytes",
    "cdc.live_docs" -> "count",
    "streaming.query_planning_ms" -> "ms",
    "streaming.add_batch_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms",
    "streaming.commit_offsets_ms" -> "ms",
    "streaming.trigger_ms" -> "ms",
    "streaming.start_ms" -> "ms",
    "streaming.state_rows" -> "count",
    "streaming.state_memory_bytes" -> "bytes",
    "streaming.state_commit_ms" -> "ms",
    "sinks.docs_written" -> "count",
    "sinks.read_index_ms" -> "ms",
    "sinks.index_files" -> "count",
    "entry.build_ms" -> "ms",
    "entry.build_jobs" -> "count",
    "spark.analysis_ms" -> "ms",
    "spark.optimization_ms" -> "ms",
    "spark.planning_ms" -> "ms",
    "spark.exec_ms" -> "ms",
    "spark.jobs" -> "count",
    "spark.stages" -> "count",
    "spark.tasks" -> "count",
    "spark.job_span_ms" -> "ms",
    "spark.driver_gap_ms" -> "ms",
    "spark.shuffle_read_bytes" -> "bytes",
    "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes",
    "spark.gc_ms" -> "ms",
    "spark.peak_execution_memory_bytes" -> "bytes",
    "self.bench_ms" -> "ms",
    "self.entry_ms" -> "ms",
    "self.cdc_ms" -> "ms",
    "self.streaming_ms" -> "ms",
    "self.sinks_ms" -> "ms",
    "self.search_ms" -> "ms",
    "self.spark_ms" -> "ms",
    "self.job_ms" -> "ms",
    "jvm.live_heap_mb" -> "MB",
    "trace.op_ms" -> "ms",
    "trace.ops" -> "count"
  )

  /** One measured operation: its root span's interval and the JVM's GC
    * time during it.
    */
  final case class Op(start: Double, end: Double, gcMs: Double)

  def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Jobs whose start falls inside the interval. */
  def jobsIn(tr: Tracer, start: Double, end: Double): Seq[JobRec] =
    tr.jobs.synchronized(tr.jobs.jobs.toVector).filter(j => j.end > 0 && j.start >= start - 1 && j.start <= end + 1)

  def stagesOf(tr: Tracer, jobs: Seq[JobRec]): Seq[StageRec] = {
    val ids = jobs.flatMap(_.stages).toSet
    tr.jobs.synchronized(tr.jobs.stages.toVector).filter(s => ids(s.id))
  }

  /** Spark-level counts per operation, and the self time of each layer's
    * spans inside the operations (these sum to the traced operation wall).
    */
  def common(tr: Tracer, ops: Seq[Op]): Map[String, Double] = {
    val perOp = ops.map { op =>
      val jobs = jobsIn(tr, op.start, op.end)
      val stages = stagesOf(tr, jobs)
      val spans = jobs.map(j => (j.start, j.end))
      val start = math.floor(op.start).toLong
      val end = math.ceil(op.end).toLong
      Map(
        "spark.jobs" -> jobs.size.toDouble,
        "spark.stages" -> stages.size.toDouble,
        "spark.tasks" -> stages.map(_.tasks).sum.toDouble,
        "spark.job_span_ms" -> Stats.unionLength(spans.map { case (a, b) => (math.max(a, start), math.min(b, end)) }).toDouble,
        "spark.driver_gap_ms" -> Stats.driverGap(start, end, spans).toDouble,
        "spark.shuffle_read_bytes" -> stages.map(_.shuffleRead).sum.toDouble,
        "spark.shuffle_write_bytes" -> stages.map(_.shuffleWrite).sum.toDouble,
        "spark.spill_bytes" -> stages.map(_.spill).sum.toDouble,
        "spark.gc_ms" -> op.gcMs,
        "spark.peak_execution_memory_bytes" -> (0L +: stages.map(_.peakMemory)).max.toDouble
      )
    }
    val tree = tr.tree()
    // The operation each span belongs to: follow parents to a bench root.
    def root(i: Int): Int = if (tree(i)._1.parent < 0) i else root(tree(i)._1.parent)
    // Roots of the measured operations only: a warm-up request may open
    // spans too.
    val roots = tree.indices.filter { i =>
      val s = tree(i)._1
      s.layer == "bench" && s.parent < 0 && ops.exists(op => s.start >= op.start - 1 && s.end <= op.end + 1)
    }.toSet
    val self = tree.indices
      .filter(i => roots(root(i)))
      .groupBy(i => tree(i)._1.layer)
      .map { case (layer, is) => s"self.${layer}_ms" -> is.map(i => tree(i)._2).sum / math.max(1, ops.size) }
    val keys = perOp.headOption.map(_.keys).getOrElse(Nil)
    keys.map(k => k -> mean(perOp.map(_(k)))).toMap ++ self ++ Map(
      "trace.op_ms" -> mean(ops.map(o => o.end - o.start)),
      "trace.ops" -> ops.size.toDouble
    )
  }

  /** Complete a workload's layer metrics with every name in `All`. */
  def complete(measured: Map[String, Double]): Map[String, (Double, String)] =
    All.map { case (k, unit) => k -> (measured.getOrElse(k, 0.0), unit) }.toMap
}
