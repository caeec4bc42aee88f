package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Benchmark driver: one workload, one seed, one process.
  *
  * Set-up (timed as `setup_s`): SparkSession start, counted from JVM
  * start; fixture generation; an untimed warm-up. Then timed passes
  * over the whole job list run back to back, one call at a time, until
  * `--seconds` have passed, and at least [[MinPasses]] of them. Outputs
  * are checked after the last pass.
  *
  * With `--trace 1`, passes alternate between untraced and traced; the
  * traced ones record spans and Spark-listener counts around every call
  * into the program, and traced minus untraced pass time is the tracing
  * overhead. The last stdout line is the result JSON.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1
  *   --source DIR --work DIR --out DIR --cores N --expected FILE */
object Main {

  val Workloads = Seq("drift_compact_csv", "ops_queries")
  val MinPasses = 3

  def main(argv: Array[String]): Unit = {
    val args     = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String) = args.getOrElse(k, sys.error(s"missing --$k"))
    val workload = arg("workload")
    val seed     = arg("seed").toLong
    val seconds  = arg("seconds").toDouble
    val trace    = arg("trace") == "1"
    val source   = arg("source")
    val work     = arg("work")
    val cores    = arg("cores").toInt
    require(Workloads.contains(workload), s"unknown workload $workload; one of ${Workloads.mkString(", ")}")

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - Jvm.startMillis) / 1e3
    val tracer   = new Tracer(spark.sparkContext, trace)
    val off      = new Tracer(spark.sparkContext, false)

    val wl: Workload = workload match {
      case "drift_compact_csv" =>
        new MergeWorkload(spark, source, seed)
      case "ops_queries" =>
        new OpsWorkload(spark, source, readExpected(arg("expected")))
    }

    val t0 = System.nanoTime()
    wl.generate(s"$work/fixtures")
    val t1 = System.nanoTime()
    wl.warmup(off)
    val fixturesS = (t1 - t0) / 1e9
    val warmupS   = (System.nanoTime() - t1) / 1e9
    val setupS    = sessionS + fixturesS + warmupS

    // Timed passes: at least MinPasses, so that the median sets aside
    // one slow pass. In a traced run, even passes are untraced and odd
    // passes traced.
    val passes = ArrayBuffer.empty[(PassResult, Boolean)]
    val counts = ArrayBuffer.empty[Counts]
    var gcMs   = 0L
    Jvm.resetPeakHeap()
    val start  = System.nanoTime()
    while (passes.size < MinPasses || (System.nanoTime() - start) / 1e9 < seconds) {
      val traced = trace && passes.size % 2 == 1
      if (traced) {
        tracer.pass = passes.size
        val c0 = tracer.counts
        val g0 = Jvm.gcMillis
        passes += ((wl.pass(tracer), true))
        gcMs += Jvm.gcMillis - g0
        counts += tracer.counts - c0
      } else passes += ((wl.pass(off), false))
    }
    val peakHeapMb = Jvm.peakHeapBytes / 1048576.0
    val t2 = System.nanoTime()
    val checkErrors =
      try wl.verify()
      catch { case e: Exception => Seq(s"output checks could not run: ${e.getMessage}") }
    System.err.println(f"[perfbench] ${passes.size} passes ${(t2 - start) / 1e9}%.3f s " +
      passes.map(p => f"${p._1.wall}%.3f").mkString("(", " ", ")") + f", checks ${(System.nanoTime() - t2) / 1e9}%.3f s")
    val (nFiles, nRows, nBytes) = wl.inputs

    val errors    = passes.flatMap(_._1.errors) ++ checkErrors
    val attempted = passes.map(_._1.samples.size).sum
    val failed    = math.min(attempted, passes.map(_._1.errors.size).sum + checkErrors.size)
    errors.take(20).foreach(e => System.err.println(s"[perfbench] FAILED $e"))

    val untraced = passes.filterNot(_._2).map(_._1).toSeq
    val samples  = untraced.flatMap(_.samples).sorted
    val wallS    = median(untraced.map(_.wall))
    val p50      = quantile(samples, 0.5)
    val p90      = quantile(samples, 0.9)
    val ratio    = wl.outBytesRatio

    println(f"workload $workload seed $seed cores $cores: $nFiles%d input files, " +
      s"${if (nRows >= 0) s"$nRows rows, " else ""}$nBytes bytes")
    println(f"setup_s $setupS%.4f s (session $sessionS%.3f, fixtures $fixturesS%.3f, warm-up $warmupS%.3f)")
    println(f"wall_s $wallS%.4f s (median of ${untraced.size} untraced passes)")
    // A merge batch's latency is one MergeJobs.runAll call; the query
    // mix has no batches, and its query timings mix eight queries.
    if (wl.isInstanceOf[MergeWorkload])
      println(f"batch_p50_s $p50%.4f s, batch_p90_s $p90%.4f s (${samples.size} samples, " +
        s"${samples.count(_ > p90)} beyond p90)")
    println(f"out_bytes_ratio $ratio%.4f ratio")
    println(f"failed_share ${failed.toDouble / attempted}%.4f share ($failed of $attempted)")

    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(("setup_s", setupS, "s"), ("wall_s", wallS, "s"))
      else {
        val traced = passes.filter(_._2).map(_._1).toSeq
        val layers = Layers.metrics(tracer, traced, counts.toSeq, wallS, nBytes, wl.filesListed, cores,
          gcMs / 1e3 / traced.size, peakHeapMb, ratio)
        val out = arg("out")
        Files.createDirectories(Paths.get(out))
        Files.write(Paths.get(s"$out/spans-$workload-$seed.jsonl"),
          tracer.spans.map(Layers.spanJson).mkString("", "\n", "\n").getBytes(UTF_8))
        Files.write(Paths.get(s"$out/layers-$workload-$seed.json"),
          layers.map { case (n, v, u) => s"""  "$n": {"value": $v, "unit": "$u"}""" }
            .mkString("{\n", ",\n", "\n}\n").getBytes(UTF_8))
        val byName = layers.map(l => l._1 -> l._2).toMap
        val selfSum = Layers.SelfTimeMetrics.map(byName).sum
        println(f"traced wall_s ${byName("trace.wall_s")}%.4f s = sum of self times $selfSum%.4f s " +
          f"(tracer waits ${byName("trace.bookkeeping_s")}%.4f s of it); untraced wall_s $wallS%.4f s; " +
          f"tracing overhead (traced - untraced) ${byName("trace.overhead_s")}%.4f s; spans and layers in $out")
        layers
      }

    val correct = failed == 0
    println(metrics.map { case (n, v, u) => s""""$n": {"value": $v, "unit": "$u"}""" }
      .mkString(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""", ", ", "}}"))
    System.out.flush()
    System.err.flush()
    // The launcher deletes the work area (Spark's local dirs included),
    // so skip Spark's and the JVM's orderly shutdown.
    Runtime.getRuntime.halt(if (correct) 0 else 1)
  }

  def median(xs: Seq[Double]): Double = quantile(xs.sorted, 0.5)

  /** Linear-interpolation quantile of sorted `xs`. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val pos = q * (xs.size - 1)
      val lo  = pos.toInt
      val hi  = math.min(lo + 1, xs.size - 1)
      xs(lo) + (xs(hi) - xs(lo)) * (pos - lo)
    }

  /** `name<TAB>rows<TAB>hash` lines, `#` comments ignored. */
  def readExpected(path: String): Map[String, (Long, Long)] =
    scala.io.Source.fromFile(path, "UTF-8").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).map(a => a(0) -> ((a(1).toLong, a(2).toLong))).toMap
}
