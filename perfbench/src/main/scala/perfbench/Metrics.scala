package perfbench

/** The benchmark's metric definitions. Every run prints every metric of its
  * mode: a per-layer metric of a layer that does no work on the workload
  * reads 0. */
object Metrics {

  val endToEndUnits: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_s" -> "s", "op_p90_s" -> "s", "ops_per_s" -> "1/s",
    "load_rows_per_s" -> "rows/s", "bytes_per_row" -> "B", "rss_peak_mb" -> "MB")

  val perLayerUnits: Seq[(String, String)] = Seq(
    "load.s" -> "s", "load.batches" -> "count", "slot_util" -> "ratio",
    "gen.s" -> "s", "gen.rows_per_s" -> "rows/s",
    "ddl.write_s" -> "s", "io.output_bytes" -> "B", "io.output_records" -> "count",
    "measure.s" -> "s", "measure.files" -> "count", "report.s" -> "s",
    "plan.analysis_s" -> "s", "plan.optimizer_s" -> "s", "plan.physical_s" -> "s",
    "exec.s" -> "s", "client.s" -> "s", "floor.s" -> "s",
    "io.input_bytes" -> "B", "io.input_records" -> "count",
    "spark.jobs" -> "count",
    "exchange.shuffle_write_bytes" -> "B", "exchange.shuffle_read_bytes" -> "B",
    "exchange.fetch_wait_s" -> "s", "mem.spill_bytes" -> "B", "mem.peak_exec_bytes" -> "B",
    "mem.storage_bytes" -> "B",
    "spark.stages" -> "count", "spark.tasks" -> "count", "task.run_s" -> "s",
    "task.cpu_s" -> "s", "task.gc_s" -> "s", "task.deser_s" -> "s",
    "ops_failed_ratio" -> "ratio",
    "trace.overhead_p50_s" -> "s", "trace.overhead_ops_per_s" -> "1/s") ++
    CorpusOps.queries.map(q => s"op.$q.p50_s" -> "s")

  /** Latency of an op for the percentiles: a failed op counts as slower
    * than any op that completed, so failures never flatter a percentile. */
  private def latencies(ss: Seq[Sample]): Seq[Double] = {
    val worst = ss.map(_.wall).sum
    ss.map(s => if (s.error.isDefined) worst else s.wall)
  }

  def opsPerSecond(ss: Seq[Sample]): Double =
    ss.count(_.error.isEmpty) / math.max(ss.map(_.wall).sum, 1e-9)

  def endToEnd(ss: Seq[Sample], w: Workload, setupS: Double): Seq[(String, String, Double)] = {
    val (rowsPerS, bytesPerRow) = w.storage(ss)
    val values = Map(
      "setup_s" -> setupS,
      "op_p50_s" -> Stats.hdQuantile(latencies(ss), 0.5),
      "op_p90_s" -> Stats.hdQuantile(latencies(ss), 0.9),
      "ops_per_s" -> opsPerSecond(ss),
      "load_rows_per_s" -> rowsPerS,
      "bytes_per_row" -> bytesPerRow,
      "rss_peak_mb" -> Host.rssPeakMb())
    endToEndUnits.map { case (n, u) => (n, u, values(n)) }
  }

  def perLayer(all: Seq[Sample], w: Workload, floorS: Double,
      e2e: Seq[(String, String, Double)]): Seq[(String, String, Double)] = {
    val ts = all.filter(_.traced)
    val cs = ts.flatMap(_.counters)
    def per(f: Counters => Double): Double = Stats.mean(cs.map(f))
    val p50 = e2e.find(_._1 == "op_p50_s").map(_._3).getOrElse(0.0)
    val generic = Map(
      "plan.analysis_s" -> Stats.mean(ts.map(_.plan._1)),
      "plan.optimizer_s" -> Stats.mean(ts.map(_.plan._2)),
      "plan.physical_s" -> Stats.mean(ts.map(_.plan._3)),
      "exec.s" -> Stats.mean(ts.map(_.exec)),
      "client.s" -> Stats.mean(ts.map(_.client)),
      "floor.s" -> floorS,
      "io.input_bytes" -> per(_.inputBytes), "io.input_records" -> per(_.inputRecords),
      "io.output_bytes" -> per(_.outputBytes), "io.output_records" -> per(_.outputRecords),
      "spark.jobs" -> per(_.jobs), "spark.stages" -> per(_.stages), "spark.tasks" -> per(_.tasks),
      "task.run_s" -> per(_.runMs / 1e3), "task.cpu_s" -> per(_.cpuNs / 1e9),
      "task.gc_s" -> per(_.gcMs / 1e3), "task.deser_s" -> per(_.deserMs / 1e3),
      "exchange.shuffle_write_bytes" -> per(_.shuffleWriteBytes),
      "exchange.shuffle_read_bytes" -> per(_.shuffleReadBytes),
      "exchange.fetch_wait_s" -> per(_.fetchWaitMs / 1e3),
      "mem.spill_bytes" -> per(_.spillBytes),
      "mem.peak_exec_bytes" -> cs.map(_.peakExecBytes.toDouble).maxOption.getOrElse(0.0),
      "mem.storage_bytes" -> ts.map(_.storageBytes.toDouble).maxOption.getOrElse(0.0),
      "ops_failed_ratio" -> all.count(_.error.isDefined).toDouble / math.max(1, all.size),
      // traced cycles against the untraced cycles of the same run and seed
      "trace.overhead_p50_s" -> (Stats.hdQuantile(latencies(ts), 0.5) - p50),
      "trace.overhead_ops_per_s" -> (opsPerSecond(all.filterNot(_.traced)) - opsPerSecond(ts))) ++
      ts.groupBy(_.label).map { case (l, g) => s"op.$l.p50_s" -> Stats.hdQuantile(latencies(g), 0.5) }
    val values = generic ++ w.layers(ts)
    perLayerUnits.map { case (n, u) => (n, u, values.getOrElse(n, 0.0)) }
  }
}
