package graft.plans

import graft.TestSpark
import graft.functions.{CrsInference, GeoFunctions}
import graft.sources.GeoParquet
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** The plain-parquet CRS probe: ≤10 non-null geometry values per column,
  * read on the driver from the head of the file(s), through the
  * reference's WKB → hex-WKB → WKT chain — the sample the old
  * `filter(isNotNull).limit(10)` job returned. */
class CrsProbeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def tmp(name: String): String = {
    val d = Files.createTempDirectory("crs_probe")
    d.toFile.deleteOnExit()
    d.resolve(name).toString
  }

  private val wkb = (x: Double, y: Double) => GeoFunctions.toWkb(GeoFunctions.point(x, y))

  /** One parquet file of (id, geom) rows, row groups of at most
    * `rowGroupRows` rows. */
  private def writeOneFile(rows: Seq[Row], geomType: DataType, rowGroupRows: Int = 1000): String = {
    val p = tmp("probe.parquet")
    spark.createDataFrame(rows.asJava,
        StructType(Seq(StructField("id", LongType), StructField("geom", geomType))))
      .coalesce(1).write.option("parquet.block.row.count.limit", rowGroupRows.toString)
      .parquet(p)
    new java.io.File(p).listFiles().find(_.getName.endsWith(".parquet")).get.getPath
  }

  private def rowGroups(file: String): Int = {
    val rd = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(file),
      spark.sessionState.newHadoopConf()))
    try rd.getRowGroups.size finally rd.close()
  }

  private def plannedCrs(file: String): Option[String] =
    IngestPipeline.plan(spark, IngestJob(file, "probe", "s")).crs

  test("an all-NULL first row group does not stop the probe: it reads on and finds 3857") {
    val rows = (1 to 200).map { i =>
      Row(i.toLong, if (i <= 100) null else wkb(-1.0e6 + i * 5000.0, 6.0e6 + i * 500.0))
    }
    val file = writeOneFile(rows, BinaryType, rowGroupRows = 100)
    assert(rowGroups(file) >= 2)
    val sample = GeoParquet.plan(spark, file).headValues("geom", CrsInference.SampleSize)
    assert(sample.length == CrsInference.SampleSize)
    assert(plannedCrs(file).contains("3857"))
  }

  test("non-null unparseable values count toward the 10") {
    val junk = Array[Byte](7, 7, 7)
    def rows(junkRows: Int) = (1 to 30).map { i =>
      Row(i.toLong, if (i <= junkRows) junk else wkb(-1.0e6 + i * 50000.0, 6.0e6))
    }
    // ten junk values fill the sample: no coordinate, so the WGS84 fallback
    assert(plannedCrs(writeOneFile(rows(10), BinaryType)).contains("4326"))
    // eight leave room for two parseable Mercator points, 50 km apart
    assert(plannedCrs(writeOneFile(rows(8), BinaryType)).contains("3857"))
  }

  test("an empty geometry in the sample yields no coordinate instead of voiding the probe") {
    val sample = Seq("POINT EMPTY", "POINT (530000 180000)", "POINT (540000 190000)")
      .map(_.getBytes("UTF-8"))
    assert(CrsInference.analyseGeometryColumn(StringType, sample).contains("27700"))
  }

  test("geoms_wkb.parquet resolves through the WKB arm") {
    val file = writeOneFile(Seq(Row(1L, wkb(-0.5, 51.0)), Row(2L, wkb(0.5, 52.0)), Row(3L, null)),
      BinaryType)
    val sample = GeoParquet.plan(spark, file).headValues("geom", CrsInference.SampleSize)
    assert(sample.length == 2)
    assert(CrsInference.analyseGeometryColumn(BinaryType, sample).contains("4326"))
  }

  test("geoms_wkt.parquet text resolves through the hex-WKB and WKT arms") {
    // WKT: the hex-WKB arm parses nothing, the WKT arm answers
    val wkt = writeOneFile(Seq(Row(1L, "POINT (1 2)"), Row(2L, "POINT (oops)"), Row(3L, null)),
      StringType)
    val wktSample = GeoParquet.plan(spark, wkt).headValues("geom", CrsInference.SampleSize)
    assert(wktSample.map(new String(_, "UTF-8")) == Seq("POINT (1 2)", "POINT (oops)"))
    assert(CrsInference.analyseGeometryColumn(StringType, wktSample).contains("4326"))
    // hex-WKB text in British National Grid metres: the hex arm answers
    val hex = org.locationtech.jts.io.WKBWriter.toHex(wkb(538890.0, 177320.0))
    val hexFile = writeOneFile(Seq(Row(1L, hex)), StringType)
    assert(CrsInference.analyseGeometryColumn(StringType,
      GeoParquet.plan(spark, hexFile).headValues("geom", CrsInference.SampleSize)).contains("27700"))
    // and an absent or non-binary column samples nothing
    assert(GeoParquet.plan(spark, hexFile).headValues("id", 10).isEmpty)
    assert(GeoParquet.plan(spark, hexFile).headValues("nope", 10).isEmpty)
  }
}
