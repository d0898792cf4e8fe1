package graft.sources

import graft.TestSpark
import graft.plans.IngestPipeline
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

/** CSV types from a bounded sample (`CsvDialect.sample`): Spark's own
  * inference over at most `SampleRows` lines — DuckDB `read_csv`'s
  * `sample_size` — and the ingest reader's DROPMALFORMED for rows past
  * the sample that do not fit. */
class CsvSampleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def csvFile(body: String): String = {
    val p = Files.createTempFile("csv_sample", ".csv")
    p.toFile.deleteOnExit()
    Files.write(p, body.getBytes(UTF_8))
    p.toString
  }

  private def inferred(path: String) =
    spark.read.option("header", true).option("inferSchema", true)
      .option("mode", "DROPMALFORMED").csv(path)

  test("under the sample bound the sampled schema is Spark's inferSchema schema") {
    // int, long, double (an int first), boolean, timestamp, an all-empty
    // column, and a duplicated header name
    val path = csvFile(
      """i,l,d,b,ts,empty,i
        |1,3000000000,2,true,2024-01-02 03:04:05,,7
        |2,4000000000,1.5,false,2024-02-03 04:05:06,,8
        |,5000000000,-0.25,TRUE,2024-03-04 05:06:07,,
        |""".stripMargin)
    val sampled = CsvDialect.sample(spark, path)
    val expected = inferred(path).schema
    assert(sampled.schema == expected)
    assert(expected.map(_.dataType) == Seq(IntegerType, LongType, DoubleType,
      BooleanType, TimestampType, StringType, IntegerType))
    assert(expected.map(_.name) == Seq("i0", "l", "d", "b", "ts", "empty", "i6"))
    // and the ingest reader returns the rows Spark's inferring reader does
    val got = IngestPipeline.read(spark, path, FileType.Csv)
    assert(got.schema == expected)
    assert(got.collect().toSeq == inferred(path).collect().toSeq)
  }

  test("a leading byte-order mark and blank lines do not reach the schema") {
    val path = csvFile("\uFEFFid,v\n\n1,2.5\n\n2,3\n")
    assert(CsvDialect.sample(spark, path).schema == inferred(path).schema)
    assert(CsvDialect.sample(spark, path).schema.map(_.name) == Seq("id", "v"))
  }

  test("a glob path samples its first matching file and reads every match") {
    val dir = Files.createTempDirectory("csv_glob")
    dir.toFile.deleteOnExit()
    Files.write(dir.resolve("a.csv"), "id;v\n1;2.5\n".getBytes(UTF_8))
    Files.write(dir.resolve("b.csv"), "id;v\n2;3.5\n".getBytes(UTF_8))
    val glob = s"$dir/*.csv"
    assert(CsvDialect.sample(spark, glob) ==
      CsvDialect.Sample(";", StructType(Seq(StructField("id", IntegerType),
        StructField("v", DoubleType)))))
    assert(IngestPipeline.read(spark, glob, FileType.Csv).count() == 2)
  }

  test("a partitionBy CSV directory samples a file under its first partition") {
    import spark.implicits._
    val dir = Files.createTempDirectory("csv_parts").resolve("t").toString
    (1 to 20).map(i => (i, i * 0.5, i % 2)).toDF("id", "v", "k")
      .write.partitionBy("k").option("header", true).csv(dir)
    val df = IngestPipeline.read(spark, dir, FileType.Csv)
    assert(df.schema == inferred(dir).schema)
    assert(df.schema.map(_.name) == Seq("id", "v", "k"))
    assert(df.count() == 20)
  }

  test("a row past the sample whose value does not fit the sampled type is dropped") {
    // Intended difference from a whole-file inferSchema: DuckDB's
    // read_csv(ignore_errors=true) types the column from its 20,480-row
    // sample and drops the later row that fails the cast
    val n = CsvDialect.SampleRows
    val body = new StringBuilder("id,v\n")
    (1 to n).foreach(i => body.append(s"$i,$i\n"))
    body.append(s"${n + 1},not-a-number\n").append(s"${n + 2},42\n")
    val path = csvFile(body.toString)
    assert(CsvDialect.sample(spark, path).schema("v").dataType == IntegerType)
    assert(inferred(path).schema("v").dataType == StringType) // the whole-file answer
    val df = IngestPipeline.read(spark, path, FileType.Csv)
    val ids = df.collect().map(_.getInt(0))
    assert(ids.length == n + 1)
    assert(!ids.contains(n + 1) && ids.contains(n + 2))
  }
}
