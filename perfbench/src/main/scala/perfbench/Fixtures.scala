package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.util.Random

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{array, col, explode, lit, pmod, when, xxhash64}
import org.apache.spark.sql.types.{StringType, StructType}

/** One generated input file. */
final case class InputFile(path: String, bytes: Long, schema: StructType)

/** One smart batch as generated: its files (in the order the program
  * sorts them) and the columns a correct merge keeps (the intersection,
  * in the first file's order). */
final case class BatchSpec(stem: String, files: Seq[InputFile]) {
  val columns: Seq[String] = Checks.intersection(files.map(_.schema))
  /** The merged output's schema: `columns` typed as in the inputs. */
  def schema: StructType = StructType(columns.map(files.head.schema(_)))
  def bytes: Long = files.map(_.bytes).sum
}

/** A workload's generated inputs: `scanRoot` holds one sub-folder per
  * day, each with same-named parquet files. */
final case class Fixture(scanRoot: String, batches: Seq[BatchSpec]) {
  def files: Seq[InputFile] = batches.flatMap(_.files)
  def bytes: Long = files.map(_.bytes).sum
}

/** One fixture file: its destination and the range [start, start +
  * rate) of row hashes (modulo 1) it takes from its source table. */
final case class Slice(dest: String, start: Double, rate: Double)

/** Seeded fixture generators. Every input file is carved from the
  * read-only source tables: a file is a seeded hash sample of one table,
  * so the seed decides which rows each file holds, which files drift
  * and how. Nothing is written outside `root`. */
final class Fixtures(spark: SparkSession, sourceDir: String, root: String, seed: Long) {
  private val fs: FileSystem = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
  private val scan           = s"$root/in"

  import Fixtures.Days

  private def file(day: Int, stem: String) = f"$scan/2024-01-${day + 1}%02d/$stem.parquet"

  /** Slices of the given shares laid side by side from a seeded start,
    * so they do not overlap while the shares add up to at most 1. */
  private def adjacent(rnd: Random, dests: Seq[String], rates: Seq[Double]): Seq[Slice] = {
    val starts = rates.scanLeft(rnd.nextDouble())(_ + _)
    dests.lazyZip(rates).lazyZip(starts).map { case (d, r, s) => Slice(d, s, r) }
  }

  private def moveOnlyPart(dir: String, dest: String): Unit = {
    val part = fs.listStatus(new Path(dir)).map(_.getPath).filter(_.getName.endsWith(".parquet")) match {
      case Array(p) => p
      case ps       => sys.error(s"expected one parquet file under $dir, found ${ps.length}")
    }
    fs.mkdirs(new Path(dest).getParent)
    fs.delete(new Path(dest), false)
    if (!fs.rename(part, new Path(dest))) sys.error(s"cannot move $part to $dest")
  }

  /** Writes every slice of one table in a single scan. Each row gets
    * one seeded hash in [0, 1); a slice takes the rows whose hash falls
    * in its range (ranges wrap around 1 and may overlap). The rows are
    * written partitioned by slice and each part file is moved to its
    * slice's destination. Returns the table's schema. */
  private def writeSlices(table: String, slices: Seq[Slice]): StructType = {
    val src     = spark.read.parquet(s"$sourceDir/$table.parquet")
    val staging = s"$root/staging-$table"
    val scale   = 1000000L
    val h       = col("pb_hash")
    val in      = slices.map { s =>
      val lo = (s.start * scale).toLong % scale
      val hi = lo + (s.rate * scale).toLong
      if (hi <= scale) h >= lo && h < hi else h >= lo || h < hi - scale
    }
    // A slice's rows all hash to one partition, so each slice comes
    // out as exactly one file.
    src.withColumn("pb_hash", pmod(xxhash64((src.columns.toSeq.map(c => col(s"`$c`")) :+ lit(seed)): _*), lit(scale)))
      .where(in.reduce(_ || _))
      .withColumn("pb_slice", explode(array(in.zipWithIndex.map { case (c, i) => when(c, lit(i)) }: _*)))
      .where(col("pb_slice").isNotNull)
      .drop("pb_hash")
      .repartition(slices.size, col("pb_slice"))
      .write.mode("overwrite").partitionBy("pb_slice").parquet(staging)
    slices.zipWithIndex.foreach { case (s, i) => moveOnlyPart(s"$staging/pb_slice=$i", s.dest) }
    fs.delete(new Path(staging), true)
    src.schema
  }

  /** Rewrites one parquet file of schema `schema` through `f`; returns
    * the new schema. */
  private def rewrite(path: String, schema: StructType, f: DataFrame => DataFrame): StructType = {
    val staging = s"$root/staging-rewrite"
    val df      = f(spark.read.schema(schema).parquet(path))
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    moveOnlyPart(staging, path)
    fs.delete(new Path(staging), true)
    df.schema
  }

  private def batch(stem: String, files: Seq[(String, StructType)]): BatchSpec =
    BatchSpec(stem, files.map { case (p, schema) => InputFile(p, fs.getFileStatus(new Path(p)).getLen, schema) })

  /** Medium files whose schemas drift across days: one batch per table.
    * In the lineitem batch one file gains a column and another has a
    * column change type; in the orders batch one file has its columns
    * rotated. The seed picks the files and the columns. */
  def drift(): Fixture = {
    val rnd    = new Random(seed * 7919 + 1)
    val tables = Seq(
      ("lineitem", 15000.0 / 600000, Seq("gain", "retype")),
      ("orders", 8000.0 / 150000, Seq("rotate")))
    Fixture(scan, tables.map { case (t, rate, kinds) =>
      val dests   = (0 until Days).map(file(_, t))
      val schema  = writeSlices(t, adjacent(rnd, dests, dests.map(_ => rate)))
      val names   = schema.fieldNames.toSeq
      val drifted = rnd.shuffle((0 until Days).toList).zip(kinds).map { case (victim, kind) =>
        val path = dests(victim)
        victim -> (kind match {
          case "gain" => rewrite(path, schema, _.withColumn("ingest_batch", lit(seed.toInt)))
          case "rotate" =>
            val k = 1 + rnd.nextInt(names.size - 1)
            rewrite(path, schema, _.select((names.drop(k) ++ names.take(k)).map(c => col(s"`$c`")): _*))
          case "retype" =>
            val numeric = schema.fields.filter(_.dataType != StringType).map(_.name)
            val c       = numeric(rnd.nextInt(numeric.length))
            rewrite(path, schema, _.withColumn(c, col(s"`$c`").cast(StringType)))
        })
      }.toMap
      batch(t, dests.indices.map(i => (dests(i), drifted.getOrElse(i, schema))))
    })
  }

}

object Fixtures {
  /** Day folders, so files per batch. */
  val Days = 3

  /** Byte-for-byte copies of the source tables `names` in `dir`, for the
    * query mix, which reads whole tables. */
  def copyTables(sourceDir: String, dir: String, names: Seq[String]): String = {
    Files.createDirectories(Paths.get(dir))
    names.foreach { t =>
      Files.copy(Paths.get(s"$sourceDir/$t.parquet"), Paths.get(s"$dir/$t.parquet"), StandardCopyOption.REPLACE_EXISTING)
    }
    dir
  }
}
