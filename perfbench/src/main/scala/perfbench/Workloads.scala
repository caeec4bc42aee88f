package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.core.{Discovery, Merge, MergeJobs, MergeJob, Naming}

/** What one timed pass over a workload's job list produced. `samples`
  * holds one latency per batch (or per query) attempted; `errors` lists
  * what went wrong in them. */
final case class PassResult(wall: Double, samples: Seq[Double], errors: Seq[String])

/** A workload: seeded inputs, one timed pass, and the checks of the
  * outputs the last pass left behind. */
trait Workload {
  /** Generates the inputs under `root`. */
  def generate(root: String): Unit
  /** Untimed passes over the whole job list, to load classes and
    * compile code before timing starts. */
  def warmup(tr: Tracer): Unit
  def pass(tr: Tracer): PassResult
  /** Problems found in the results of all passes and in the outputs
    * the last pass left behind, at most one per batch or query. */
  def verify(): Seq[String]
  /** Input files, rows (known after [[verify]]) and bytes. */
  def inputs: (Int, Long, Long)
  /** Files the last `Discovery.scanFolders` call returned (0 without
    * merges). */
  def filesListed: Int
  /** Merged parquet bytes over input parquet bytes (0 without merges). */
  def outBytesRatio: Double
}

/** The merge pipeline as a user runs it on drifted inputs: scan the
  * folders, smart-batch same-named files, build one job per batch, then
  * merge each batch, with CSV export, as one `MergeJobs.runAll(Seq(job))`
  * call, and compact the batch's inputs into ~`compactParts` files. */
final class MergeWorkload(spark: SparkSession, sourceDir: String, seed: Long) extends Workload {

  private val compactParts = 2.5
  private var fx: Fixture   = _
  private var out: String   = _
  private var inputRows     = -1L
  private var lastJobs      = Seq.empty[MergeJob]
  private var listed        = 0
  /** Rows each merge (and compaction) reported, per batch stem. */
  private val reported      = ArrayBuffer.empty[(String, String, Long)]

  def generate(root: String): Unit = {
    fx = new Fixtures(spark, sourceDir, root, seed).drift()
    out = s"$root/out"
  }

  def inputs: (Int, Long, Long) = (fx.files.size, inputRows, fx.bytes)
  def filesListed: Int           = listed

  private def spec(job: MergeJob): BatchSpec = {
    val stem = Naming.stem(Discovery.fileName(job.files.head.fullPath))
    fx.batches.find(_.stem == stem).getOrElse(sys.error(s"unexpected batch $stem"))
  }
  private def dest(job: MergeJob)         = s"$out/merged/${Naming.sanitizeFilename(job.name)}"
  private def compactTarget(b: BatchSpec) = math.ceil(b.bytes / compactParts).toLong
  private def compactDir(b: BatchSpec)    = s"$out/compact/${b.stem}"

  /** One batch, split into the public calls `Merge.merge` makes, in the
    * same order, each in its own span. Only the traced run uses it. */
  private def tracedMerge(tr: Tracer, job: MergeJob, stem: String): Long = {
    val files = job.files.map(_.fullPath)
    val d     = dest(job)
    val df    = tr.span("merge.align", stem)(Merge.alignedUnion(spark, files))
    tr.span("merge.write", stem)(Merge.writeSingleFile(df, s"$d.parquet"))
    tr.span("merge.csv", stem)(Merge.exportCsv(spark, s"$d.parquet", s"$d.csv"))
    tr.span("merge.readback", stem)(spark.read.parquet(s"$d.parquet").count())
  }

  private def run(tr: Tracer): PassResult = {
    val samples = ArrayBuffer.empty[Double]
    val errors  = ArrayBuffer.empty[String]
    val t0      = System.nanoTime()
    tr.span("pass") {
      val files = tr.span("discovery.scan")(Discovery.scanFolders(spark, Seq(fx.scanRoot)))
      listed = files.size
      val (groups, singles) = tr.span("discovery.batch")(Discovery.smartBatch(files))
      if (files.size != fx.files.size || groups.size != fx.batches.size || singles != 0)
        errors += s"discovery: ${files.size} files in ${groups.size} batches (+$singles single), " +
          s"expected ${fx.files.size} in ${fx.batches.size}"
      val jobs = groups.zipWithIndex.map { case ((stem, fs), i) =>
        tr.span("mergejobs.build", stem)(MergeJobs.buildJob(spark, fs, i + 1))
      }
      jobs.foreach { job =>
        val b  = spec(job)
        val t1 = System.nanoTime()
        val rows: Either[String, Long] =
          if (tr.enabled) tr.span("batch", b.stem) {
            try Right(tracedMerge(tr, job, b.stem))
            catch { case e: Exception => Left(String.valueOf(e.getMessage)) }
          }
          else MergeJobs.runAll(spark, Seq(job), out, exportCsv = true)._1.head match {
            case Right(r)     => Right(r.rows)
            case Left((_, e)) => Left(e)
          }
        samples += (System.nanoTime() - t1) / 1e9
        rows match {
          case Left(e)  => errors += s"${b.stem}: merge failed: $e"
          case Right(n) => reported += ((b.stem, "merged", n))
        }
        if (!job.hasSchemaMismatch)
          errors += s"${b.stem}: buildJob reports no schema mismatch on drifted inputs"
        val (n, _) = tr.span("merge.compact", b.stem)(
          Merge.compact(spark, job.files.map(_.fullPath), compactDir(b), compactTarget(b)))
        reported += ((b.stem, "compacted", n))
      }
      lastJobs = jobs
    }
    PassResult((System.nanoTime() - t0) / 1e9, samples.toSeq, errors.toSeq)
  }

  /** Two passes: pass times on an idle 4-core host ran 10.4, then 7.7,
    * 6.7, 6.6, 5.4 s after a single warm-up pass. */
  def warmup(tr: Tracer): Unit = { (1 to 2).foreach(_ => run(tr)); reported.clear() }
  def pass(tr: Tracer): PassResult = run(tr)

  /** Reads every input and output of the last pass in one job, then
    * checks each batch: the row counts every pass reported, the merged
    * file's columns and content, its CSV's row count, and the compacted
    * directory's file count, columns and content. */
  def verify(): Seq[String] = {
    val job    = new DigestJob(spark)
    val legs   = lastJobs.map { j =>
      val b = spec(j)
      val d = dest(j)
      (j, b,
        b.files.map(f => job.parquet(f.path, f.schema, b.columns)),
        job.parquet(s"$d.parquet", b.schema, b.columns),
        job.csv(s"$d.csv", b.columns),
        job.parquet(compactDir(b), b.schema, b.columns))
    }
    val digests = job.run()
    inputRows = legs.flatMap(_._3).map(digests(_).rows).sum
    legs.flatMap { case (j, b, ins, merged, csv, comp) =>
      val want = ins.map(digests).foldLeft(Digest.zero)(_ + _)
      val errs =
        reported.collect { case (b.stem, what, n) if n != want.rows => s"$what $n rows, inputs hold ${want.rows}" } ++
          Checks.output("merged", Checks.footerColumns(spark, s"${dest(j)}.parquet"), b.columns, digests(merged), want) ++
          Seq(digests(csv).rows).filter(_ != want.rows).map(n => s"csv has $n rows, inputs hold ${want.rows}") ++ {
            val files = Checks.footerColumns(spark, compactDir(b))
            val parts = math.ceil(b.bytes.toDouble / compactTarget(b)).toInt
            (if (files.size != parts) Seq(s"compaction wrote ${files.size} files, expected $parts") else Nil) ++
              Checks.output("compacted", files, b.columns, digests(comp), want)
          }
      if (errs.isEmpty) None else Some(s"${b.stem}: ${errs.distinct.mkString("; ")}")
    }
  }

  def outBytesRatio: Double = {
    val fs = new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
    lastJobs.map(j => fs.getFileStatus(new Path(s"${dest(j)}.parquet")).getLen).sum.toDouble /
      lastJobs.map(spec(_).bytes).sum
  }
}

/** A fixed mix of registered `graft.ops` queries, run one at a time in
  * a fixed order; the seed does not change this workload. Each query is
  * executed through `queryExecution.toRdd` with a per-row hash, and the
  * result's row count and hash must equal the recorded ones. */
final class OpsWorkload(spark: SparkSession, sourceDir: String, expected: Map[String, (Long, Long)])
    extends Workload {

  import OpsWorkload._

  private var dir: String = _

  def generate(root: String): Unit = dir = Fixtures.copyTables(sourceDir, s"$root/tables", Tables)

  def inputs: (Int, Long, Long) = {
    val files = new java.io.File(dir).listFiles().toSeq
    (files.size, -1L, files.map(_.length).sum)
  }

  private def run(tr: Tracer): PassResult = {
    val samples = ArrayBuffer.empty[Double]
    val errors  = ArrayBuffer.empty[String]
    val t0      = System.nanoTime()
    tr.span("pass") {
      Mix.foreach { case (q, module) =>
        val t1 = System.nanoTime()
        val got =
          try Right(tr.span(s"ops.$module", q)(Checks.forceAndHash(SparkEntry.queries(q)(spark, dir))))
          catch { case e: Exception => Left(String.valueOf(e.getMessage)) }
        samples += (System.nanoTime() - t1) / 1e9
        got match {
          case Left(e) => errors += s"$q failed: $e"
          case Right(r) =>
            System.err.println(f"ops_hash\t$q\t${r._1}\t${r._2}\t${samples.last}%.3f")
            if (!expected.get(q).contains(r))
              errors += s"$q: result (rows, hash) $r != recorded ${expected.get(q)}"
        }
      }
    }
    PassResult((System.nanoTime() - t0) / 1e9, samples.toSeq, errors.toSeq)
  }

  /** Three passes: the mix keeps compiling code after its first pass.
    * Pass times on an idle 4-core host ran 15.2, 5.5, 4.0, then 3.3-3.5 s;
    * on a busy host they still fell 5-10% per pass over the three passes
    * after two warm-up passes. */
  def warmup(tr: Tracer): Unit = (1 to 3).foreach(_ => run(tr))
  def pass(tr: Tracer): PassResult = run(tr)
  def verify(): Seq[String] = Nil
  def filesListed: Int = 0
  def outBytesRatio: Double = 0.0
}

object OpsWorkload {
  /** One query per `graft.ops` module: (query, module). */
  val Mix: Seq[(String, String)] = Seq(
    "q01_pricing_summary"    -> "relational",
    "ev03_sessionize"        -> "event",
    "tx02_token_counts"      -> "text",
    "dd01_exact_dedup"       -> "dedup",
    "vs01_topk_bruteforce"   -> "vector",
    "sp02_stratified_sample" -> "sample",
    "mm04_batch_inference"   -> "multimodal",
    "pp05_mixture_schedule"  -> "pipeline")

  val Modules: Seq[String] = Mix.map(_._2).distinct

  val Tables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings")
}
