package perfbench

/** Per-layer metrics of a traced run, computed from its spans. Times
  * are self times (span time not covered by child spans) averaged over
  * the traced passes, so the metrics in [[SelfTimeMetrics]] add up to
  * `trace.wall_s`. The tracer's own waiting (`trace.bookkeeping_s`) is
  * one of them, taken out of the harness time it would otherwise sit in. */
object Layers {

  /** Span name -> the layer metric its self time is charged to. */
  private val selfTimeOf: Map[String, String] = Map(
    "discovery.scan"  -> "discovery.scan_s",
    "discovery.batch" -> "discovery.batch_s",
    "mergejobs.build" -> "mergejobs.build_s",
    "merge.align"     -> "merge.align_s",
    "merge.write"     -> "merge.write_s",
    "merge.csv"       -> "merge.csv_s",
    "merge.readback"  -> "merge.readback_s",
    "merge.compact"   -> "merge.compact_s",
    // the benchmark's own code between calls, tracing included
    "pass"  -> "trace.harness_s",
    "batch" -> "trace.harness_s") ++
    OpsWorkload.Modules.map(m => s"ops.$m" -> s"ops.${m}_s")

  val SelfTimeMetrics: Seq[String] = (selfTimeOf.values.toSeq :+ "trace.bookkeeping_s").distinct.sorted

  /** (name, value, unit) of every per-layer metric. `listed` is the
    * number of files `Discovery.scanFolders` returned; the per-file
    * ratios divide by it. Metrics of layers a workload does not use
    * read 0. */
  def metrics(
      tr: Tracer, traced: Seq[PassResult], passCounts: Seq[Counts], untracedWall: Double, inputBytes: Long,
      listed: Int, cores: Int, gcSeconds: Double, peakHeapMb: Double, outBytesRatio: Double): Seq[(String, Double, String)] = {
    val spans   = tr.spans
    val n       = traced.size.toDouble
    val total   = passCounts.foldLeft(Counts.zero)(_ + _)
    def named(s: String) = spans.filter(_.name == s)
    def jobs(s: String)  = named(s).map(_.counts.jobs).sum.toDouble
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    val bookkeeping = tr.drainNs / 1e9 / n
    val self = SelfTimeMetrics.map { m =>
      val t = spans.filter(s => selfTimeOf.get(s.name).contains(m)).map(tr.selfSeconds).sum / n
      m -> (if (m == "trace.harness_s") t - bookkeeping else t)
    }.toMap + ("trace.bookkeeping_s" -> bookkeeping)
    val batches   = named("batch")
    val wall      = traced.map(_.wall).sum / n
    val filesRun  = listed * n
    val outMb     = outBytesRatio * inputBytes / 1048576.0
    SelfTimeMetrics.map(m => (m, self(m), "s")) ++ Seq(
      ("discovery.files_listed", listed.toDouble, "count"),
      ("mergejobs.build_jobs_per_file", ratio(jobs("mergejobs.build"), filesRun), "jobs/file"),
      ("merge.align_jobs_per_file", ratio(jobs("merge.align"), filesRun), "jobs/file"),
      ("merge.write_mb_per_s", ratio(outMb, self("merge.write_s")), "MB/s"),
      ("spark.jobs_per_batch", ratio(batches.map(_.counts.jobs).sum, batches.size), "jobs"),
      ("spark.tasks_per_batch", ratio(batches.map(_.counts.tasks).sum, batches.size), "tasks"),
      ("spark.bytes_read_per_input_byte", ratio(total.bytesRead, inputBytes * n), "ratio"),
      ("spark.core_utilisation", ratio(total.taskRunMs / 1e3, wall * n * cores), "share"),
      ("ops.shuffle_mb", total.shuffleBytes / 1048576.0 / n, "MB"),
      ("jvm.gc_s", gcSeconds, "s"),
      ("jvm.peak_heap_mb", peakHeapMb, "MB"),
      ("out_bytes_ratio", outBytesRatio, "ratio"),
      ("trace.wall_s", wall, "s"),
      ("trace.untraced_wall_s", untracedWall, "s"),
      ("trace.overhead_s", wall - untracedWall, "s"))
  }

  def spanJson(s: Span): String =
    s"""{"id": ${s.id}, "parent": ${s.parent}, "name": "${s.name}", "batch": "${s.batch}", "pass": ${s.pass}, """ +
      s""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}, "jobs": ${s.counts.jobs}, "tasks": ${s.counts.tasks}, """ +
      s""""bytes_read": ${s.counts.bytesRead}, "shuffle_bytes": ${s.counts.shuffleBytes}, """ +
      s""""task_run_ms": ${s.counts.taskRunMs}}"""
}
