package graft.plans

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Parity of the TxLog write path ([[DirectParquet]]: Spark's
  * FileFormatWriter with an in-place commit protocol and in-task zone
  * maps) with `df.write.parquet` run on the same frames: the same files per
  * directory, identical rows and schema on read-back, the same footer
  * codec, and in-task stats equal to the footer harvest
  * ([[TxLog.fileStats]]) of the written files. */
class DirectParquetSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("directparquet").resolve("d").toString

  /** Relative paths of the parquet files under `dir`. */
  private def parquetFiles(dir: String): Seq[String] = {
    val base = Paths.get(dir)
    if (!Files.exists(base)) Nil
    else {
      val s = Files.walk(base)
      try s.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
        .map(p => base.relativize(p).toString).toSeq.sorted
      finally s.close()
    }
  }

  private def filesPerDir(dir: String): Map[String, Int] =
    parquetFiles(dir).groupBy(f => Option(Paths.get(f).getParent).fold("")(_.toString))
      .map { case (d, fs) => d -> fs.size }

  private def footerCodec(file: Path): String = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file.toUri), new org.apache.hadoop.conf.Configuration()))
    try r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec.name)).distinct.mkString(",")
    finally r.close()
  }

  /** Writes `df` both ways and checks parity; returns the write path's
    * (file → stats) and both output dirs. */
  private def parity(df: DataFrame, partitionBy: Seq[String] = Nil)
      : (Seq[(String, Map[String, TxLog.ColStats])], String, String) = {
    val (ours, classic) = (tmp(), tmp())
    val out = DirectParquet.write(df, ours, partitionBy)
    df.write.partitionBy(partitionBy: _*).parquet(classic)
    assert(out.map(_._1) == parquetFiles(ours), "returned files = files on disk")
    assert(filesPerDir(ours) == filesPerDir(classic), "same files per directory")
    val (a, b) = (spark.read.parquet(ours), spark.read.parquet(classic))
    assert(a.schema == b.schema)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, "same rows")
    out.foreach { case (rel, st) =>
      assert(st == TxLog.fileStats(Paths.get(ours, rel)), s"stats diverge for $rel")
    }
    (out, ours, classic)
  }

  test("round-trips every supported type and matches footer-harvested stats") {
    val schema = StructType(Seq(
      StructField("l", LongType), StructField("i", IntegerType),
      StructField("sh", ShortType), StructField("by", ByteType),
      StructField("d", DoubleType), StructField("f", FloatType),
      StructField("s", StringType), StructField("b", BooleanType),
      StructField("dt", DateType), StructField("ts", TimestampType),
      StructField("tsn", TimestampNTZType), StructField("bin", BinaryType)))
    val rows = Seq(
      Row(1L, 2, 3.toShort, 4.toByte, 1.5d, 0.1f, "alpha", true,
        java.sql.Date.valueOf("2024-01-02"),
        java.sql.Timestamp.valueOf("2024-01-02 03:04:05.123456"),
        java.time.LocalDateTime.of(2024, 1, 2, 3, 4, 5), Array[Byte](1, 2)),
      Row(-9L, -8, (-7).toShort, (-6).toByte, -2.25d, -0.5f, "Ω-beta", false,
        java.sql.Date.valueOf("1999-12-31"),
        java.sql.Timestamp.valueOf("1999-12-31 23:59:59.0"),
        java.time.LocalDateTime.of(1999, 12, 31, 23, 59, 59), Array[Byte]()),
      Row(null, null, null, null, null, null, null, null, null, null, null, null))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val (out, ours, _) = parity(df)
    assert(out.size == 2, "one file per task")
    assert(spark.read.parquet(ours).count() == 3)
    // kinds and skip rules: integral → long, float/double → double,
    // string → string; boolean/date/timestamp/binary carry no stats
    val nonEmpty = out.filter(_._2(TxLog.RowCountKey).min != "0")
    assert(nonEmpty.nonEmpty)
    nonEmpty.foreach { case (_, st) =>
      Seq("l", "i", "sh", "by").foreach(c =>
        assert(st.get(c).forall(_.kind == "long")))
      Seq("d", "f").foreach(c => assert(st.get(c).forall(_.kind == "double")))
      assert(st.get("s").forall(_.kind == "string"))
      Seq("b", "dt", "ts", "tsn", "bin").foreach(c => assert(!st.contains(c)))
    }
  }

  test("NaN poisons a double column's stats; all-null columns drop out") {
    val df = Seq(
      (1L, Double.NaN, Option.empty[String]),
      (2L, 3.5d, Option.empty[String])).toDF("k", "v", "s").coalesce(1)
    val st = DirectParquet.write(df, tmp()).head._2
    assert(!st.contains("v"), "NaN column must not publish stats")
    assert(!st.contains("s"), "all-null column must not publish stats")
    assert(st("k") == TxLog.ColStats("long", "1", "2"))
  }

  test("long strings bound to the shared prefix rule (same as footers)") {
    val long = "x" * (TxLog.StringStatPrefix + 10)
    val df = Seq(("a" * 3), long).toDF("s").coalesce(1)
    val (out, _, _) = parity(df)
    val expected = TxLog.boundString("aaa", long).get
    assert(out.head._2("s") == expected && !expected.exact)
  }

  test("array, struct and decimal columns write and carry no stats") {
    val df = Seq(
      (1L, Seq(1, 2), (3, "x"), BigDecimal("1.23")),
      (2L, Seq.empty[Int], (4, "y"), BigDecimal("-7.50")))
      .toDF("k", "arr", "st", "dec")
      .withColumn("dec", $"dec".cast("decimal(10,2)"))
      .withColumn("big", $"dec".cast("decimal(30,4)"))
      .coalesce(1)
    val (out, _, _) = parity(df)
    assert(out.size == 1)
    assert(out.head._2.keySet == Set("k", TxLog.RowCountKey))
    assert(out.head._2("k") == TxLog.ColStats("long", "1", "2"))
  }

  test("partitioned write matches the classic hive layout and round-trips") {
    val df = Seq(
      (1L, "O", 10.5, "a b"), (2L, "F", 20.0, "x=y"), (3L, "O", 7.25, "p%q"),
      (4L, "P", 1.0, "plain")).toDF("k", "status", "price", "tag")
      .repartition(2)
    val (out, _, _) = parity(df, Seq("status", "tag"))
    // data files carry only the data columns' stats (+ rowcount)
    out.foreach { case (_, st) =>
      assert(!st.contains("status") && !st.contains("tag"))
      assert(st.contains(TxLog.RowCountKey))
    }
  }

  test("a DateType partition column writes the classic hive layout") {
    val df = Seq((1L, "2024-01-02"), (2L, "1999-12-31"), (3L, "2024-01-02"))
      .toDF("k", "d").withColumn("d", to_date($"d")).coalesce(1)
    val (out, ours, _) = parity(df, Seq("d"))
    assert(out.map(_._1.takeWhile(_ != '/')).toSet == Set("d=1999-12-31", "d=2024-01-02"))
    assert(spark.read.parquet(ours).schema("d").dataType == DateType)
  }

  test("codecs lz4, zstd, gzip and uncompressed write the footer codec Spark writes") {
    val key = "spark.sql.parquet.compression.codec"
    val before = spark.conf.getOption(key)
    try Seq("lz4", "zstd", "gzip", "uncompressed").foreach { c =>
      spark.conf.set(key, c)
      val (out, ours, classic) = parity(spark.range(0, 100).toDF("k").coalesce(1))
      val mine = footerCodec(Paths.get(ours, out.head._1))
      assert(mine == footerCodec(Paths.get(classic, parquetFiles(classic).head)), c)
      assert(mine == (if (c == "uncompressed") "UNCOMPRESSED" else c.toUpperCase), c)
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("200 partition values write in one pass, like the classic writer") {
    val df = spark.range(0, 400).selectExpr("id AS k", "CAST(id % 200 AS STRING) AS p")
      .coalesce(1)
    val (out, _, _) = parity(df, Seq("p"))
    assert(out.size == 200)
    assert(out.forall(_._2(TxLog.RowCountKey).min == "2"))
  }

  test("partitioned write refuses NULL partition values loudly") {
    val df = Seq((1L, Option("O")), (2L, Option.empty[String]))
      .toDF("k", "status").coalesce(1)
    val dir = tmp()
    val e = intercept[IllegalArgumentException] {
      DirectParquet.write(df, dir, Seq("status"))
    }
    assert(e.getMessage.contains("non-null"))
    assert(parquetFiles(dir).isEmpty, "the refused write leaves no file")
  }

  test("empty input still writes schema-only files (file-count parity)") {
    val df = Seq((1L, "a")).toDF("k", "s").filter(col("k") < 0L).repartition(2)
    val (out, ours, _) = parity(df)
    assert(out.size == 1, "one schema-only file, from task 0")
    assert(out.head._2 == Map(TxLog.RowCountKey -> TxLog.ColStats("rows", "0", "0")))
    assert(spark.read.parquet(ours).schema.fieldNames.toSeq == Seq("k", "s"))
  }
}
