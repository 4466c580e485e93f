package perfbench

/** The per-layer metrics of a traced run. Every traced run prints the
  * whole list; a layer the workload does not call in its timed
  * operations reads 0. */
object Layers {
  val Units: Seq[(String, String)] = Seq(
    "spark.jobs_per_op" -> "count",
    "spark.stages_per_op" -> "count",
    "spark.tasks_per_op" -> "count",
    "spark.serial_stages_per_op" -> "count",
    "spark.exec_run_ms_per_op" -> "ms",
    "spark.exec_cpu_ms_per_op" -> "ms",
    "spark.gc_ms_per_op" -> "ms",
    "spark.shuffle_bytes_per_op" -> "bytes",
    "spark.exec_share" -> "ratio",
    "ingest.scan_s" -> "s",
    "ingest.files_accepted" -> "count",
    "ingest.accept_ratio" -> "ratio",
    "ingest.chunk_s" -> "s",
    "ingest.chunks" -> "count",
    "embed.s" -> "s",
    "embed.chunks_per_s" -> "1/s",
    "embed.zero_frac" -> "ratio",
    "embed.question_ms" -> "ms",
    "index.write_s" -> "s",
    "index.files_written" -> "count",
    "index.bytes_written" -> "bytes",
    "index.bytes_per_corpus_byte" -> "ratio",
    "index.mb_per_s" -> "MB/s",
    "index.open_ms" -> "ms",
    "index.read_ms" -> "ms",
    "query.topk_ms" -> "ms",
    "query.assemble_ms" -> "ms",
    "query.empty_frac" -> "ratio",
    "ask.p50_ms" -> "ms",
    "ask.jobs_per_op" -> "count",
    "ask.stages_per_op" -> "count",
    "ask.tasks_per_op" -> "count",
    "ask.exec_run_ms_per_op" -> "ms",
    "ask.exec_share" -> "ratio",
    "hybrid.p50_ms" -> "ms",
    "hybrid.jobs_per_op" -> "count",
    "oneshot.p50_ms" -> "ms",
    "oneshot.jobs_per_op" -> "count",
    "trace_overhead_s" -> "s") ++
    RegistryMix.Queries.map(q => s"registry.${q}_s" -> "s") ++
    RegistryMix.Queries.map(q => s"registry.$q.jobs" -> "count") :+
    ("registry.geomean_s" -> "s")

  /** The full list, in order, taking each value from `values` or 0. */
  def fill(values: Seq[(String, Double)]): Seq[(String, Double, String)] = {
    val m = values.toMap
    val unknown = m.keySet -- Units.map(_._1)
    require(unknown.isEmpty, s"undeclared per-layer metrics: ${unknown.mkString(", ")}")
    Units.map { case (name, unit) => (name, m.getOrElse(name, 0.0), unit) }
  }

  /** Scheduler and executor counts per operation, averaged over the
    * operations; `wallS` is each operation's wall time, the base of
    * `exec_share` (executor run time over wall time). */
  def spark(ops: Seq[Counts], wallS: Seq[Double], prefix: String = "spark"): Seq[(String, Double)] = {
    if (ops.isEmpty) return Nil
    val n = ops.size.toDouble
    val sum = ops.reduce(_ + _)
    Seq(
      s"$prefix.jobs_per_op" -> sum.jobs / n,
      s"$prefix.stages_per_op" -> sum.stages / n,
      s"$prefix.tasks_per_op" -> sum.tasks / n,
      s"$prefix.serial_stages_per_op" -> sum.serialStages / n,
      s"$prefix.exec_run_ms_per_op" -> sum.execRunMs / n,
      s"$prefix.exec_cpu_ms_per_op" -> sum.execCpuNs / 1e6 / n,
      s"$prefix.gc_ms_per_op" -> sum.gcMs / n,
      s"$prefix.shuffle_bytes_per_op" -> sum.shuffleBytes / n,
      s"$prefix.exec_share" -> sum.execRunMs / 1000.0 / wallS.sum)
  }
}
