package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow, XXH64}
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}
import org.apache.spark.sql.types.{DecimalType, StringType, StructField, StructType}

/** Row count plus an order-insensitive content checksum (the sum of one
  * 64-bit hash per row). Digests of disjoint row sets add up. */
final case class Digest(rows: Long, sum: BigDecimal) {
  def +(o: Digest): Digest = Digest(rows + o.rows, sum + o.sum)
}
object Digest { val zero: Digest = Digest(0L, BigDecimal(0)) }

/** Reads whose digests are computed together in one Spark job. Each
  * `add` returns the index of its digest in the result of [[run]]. */
final class DigestJob(spark: SparkSession) {
  private val legs = ArrayBuffer.empty[DataFrame]

  private def add(df: DataFrame, hash: Column): Int = {
    legs += df.select(lit(legs.size).as("pb_leg"), hash.as("pb_hash"))
    legs.size - 1
  }

  /** A parquet file or directory read as `schema`, digested over `cols`. */
  def parquet(path: String, schema: StructType, cols: Seq[String]): Int =
    add(spark.read.schema(schema).parquet(path), Checks.rowHash(cols))

  /** A CSV export with a header line; only its rows are counted. */
  def csv(path: String, cols: Seq[String]): Int =
    add(spark.read.schema(StructType(cols.map(StructField(_, StringType))))
      .option("header", "true").option("multiLine", "true").csv(path), lit(BigDecimal(0)))

  def run(): IndexedSeq[Digest] = {
    val byLeg = legs.reduce(_ union _).groupBy("pb_leg")
      .agg(count(lit(1)), sum("pb_hash"))
      .collect()
      .map(r => r.getInt(0) -> Digest(r.getLong(1), BigDecimal(r.getDecimal(2))))
      .toMap
    legs.indices.map(byLeg.getOrElse(_, Digest.zero))
  }
}

object Checks {

  def rowHash(cols: Seq[String]): Column =
    xxhash64(cols.map(c => col(s"`$c`")): _*).cast(DecimalType(38, 0))

  /** The columns a drift merge must keep: those of the first schema
    * that every other schema has with the same type, in the first
    * schema's order. */
  def intersection(schemas: Seq[StructType]): Seq[String] = {
    val rest = schemas.tail.map(_.fields.map(f => f.name -> f.dataType).toMap)
    schemas.head.fields.toSeq.filter(f => rest.forall(_.get(f.name).contains(f.dataType))).map(_.name)
  }

  /** Top-level column names of each parquet file at `path` (a file, or
    * a directory of part files), read from the footers. */
  def footerColumns(spark: SparkSession, path: String): Seq[Seq[String]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p    = new Path(path)
    val fs   = p.getFileSystem(conf)
    val files =
      if (fs.getFileStatus(p).isDirectory) fs.listStatus(p).map(_.getPath).filter(_.getName.endsWith(".parquet")).toSeq
      else Seq(p)
    files.map { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try reader.getFooter.getFileMetaData.getSchema.getFields.asScala.map(_.getName).toSeq
      finally reader.close()
    }
  }

  /** Problems with one output: every file has exactly `cols`, and the
    * digest equals the inputs'. */
  def output(what: String, files: Seq[Seq[String]], cols: Seq[String], got: Digest, want: Digest): Seq[String] =
    files.filter(_ != cols).take(1).map(c => s"$what: columns [${c.mkString(",")}] != expected [${cols.mkString(",")}]") ++
      (if (got.rows != want.rows) Seq(s"$what: ${got.rows} rows != inputs' ${want.rows}")
       else if (got.sum != want.sum) Seq(s"$what: content checksum differs from the inputs'")
       else Nil)

  /** Executes `df` through `queryExecution.toRdd` (every output column
    * is computed) and returns (rows, order-insensitive hash of the rows'
    * binary form). */
  def forceAndHash(df: DataFrame): (Long, Long) = {
    val schema = df.schema
    df.queryExecution.toRdd.mapPartitions { it =>
      val toUnsafe = UnsafeProjection.create(schema)
      var n, h = 0L
      it.foreach { r =>
        val u = r match { case u: UnsafeRow => u; case o => toUnsafe(o) }
        h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
        n += 1
      }
      Iterator((n, h))
    }.collect().foldLeft((0L, 0L)) { case ((n, h), (a, b)) => (n + a, h + b) }
  }
}
