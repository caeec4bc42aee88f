package perfbench

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, when}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The output checks must report every way a merged file can be wrong. */
class ChecksSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()
  private lazy val dir = Files.createTempDirectory("perfbench_checks_").toString

  override def afterAll(): Unit = {
    spark.stop()
    val files = Files.walk(java.nio.file.Paths.get(dir))
    try files.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally files.close()
  }

  private def write(df: DataFrame, name: String): String = {
    val p = s"$dir/$name"
    df.coalesce(1).write.mode("overwrite").parquet(p)
    p
  }

  private lazy val inputs = {
    import spark.implicits._
    Seq(
      write(Seq((1L, "a", 1.5), (2L, "b", 2.5), (3L, "c", 3.5)).toDF("id", "name", "score"), "in1"),
      write(Seq((4L, "d", 4.5), (5L, "e", 5.5)).toDF("id", "name", "score"), "in2"))
  }
  private val cols = Seq("id", "name", "score")

  /** Problems the checks find when `out` is offered as the merge of the inputs. */
  private def problems(out: DataFrame): Seq[String] = {
    val path   = write(out, "out")
    val schema = spark.read.parquet(inputs.head).schema
    val job    = new DigestJob(spark)
    val ins    = inputs.map(job.parquet(_, schema, cols))
    val merged = job.parquet(path, schema, cols)
    val d      = job.run()
    Checks.output("merged", Checks.footerColumns(spark, path), cols, d(merged),
      ins.map(d).foldLeft(Digest.zero)(_ + _))
  }

  private def union = inputs.map(spark.read.parquet(_)).reduce(_ union _)

  test("a correct merge passes") {
    assert(problems(union) === Nil)
  }

  test("a truncated output is reported") {
    assert(problems(union.where(col("id") =!= 4L)).exists(_.contains("rows")))
  }

  test("a dropped column is reported") {
    assert(problems(union.drop("score")).exists(_.contains("columns")))
  }

  test("an extra column is reported") {
    assert(problems(union.withColumn("extra", lit(1))).exists(_.contains("columns")))
  }

  test("reordered columns are reported") {
    assert(problems(union.select("name", "id", "score")).exists(_.contains("columns")))
  }

  test("a changed cell is reported") {
    val changed = union.withColumn("name", when(col("id") === 2L, lit("B")).otherwise(col("name")))
    assert(problems(changed).exists(_.contains("checksum")))
  }

  test("the drift intersection keeps the first schema's order and drops retyped columns") {
    import spark.implicits._
    val a = Seq((1L, "x", 2)).toDF("id", "name", "n").schema
    val b = Seq((2, "y", 1L)).toDF("n", "name", "id").schema
    val c = Seq((3L, "z", "k")).toDF("id", "name", "n").schema
    assert(Checks.intersection(Seq(a, b)) === Seq("id", "name", "n"))
    assert(Checks.intersection(Seq(a, b, c)) === Seq("id", "name"))
  }
}
