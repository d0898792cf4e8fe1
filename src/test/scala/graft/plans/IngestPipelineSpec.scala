package graft.plans

import graft.TestSpark
import graft.sources._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path}
import java.util.zip.{ZipEntry, ZipOutputStream}

/** End-to-end pipeline fixtures (FIXTURES.md §B): detect → read → discover
  * → infer → transform, checked without any live Postgres via ParquetSink
  * and direct plan() assertions. */
class IngestPipelineSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def tmpDir: Path = {
    val d = Files.createTempDirectory("graft-pipe")
    d.toFile.deleteOnExit(); d
  }

  private def writeFile(dir: Path, name: String, bytes: Array[Byte]): String = {
    val p = dir.resolve(name); Files.write(p, bytes); p.toString
  }

  // ------------------------------------------------------- CSV coordinate path

  test("coords_wgs84.csv: pair detect, ST_Point WKT, null-pair filter, CRS 4326") {
    val csv = "id,name,longitude,latitude\n1,a,-0.1,51.5\n2,b,,\n3,c,1.25,52.0\n"
    val path = writeFile(tmpDir, "coords_wgs84.csv", csv.getBytes("UTF-8"))
    val res = IngestPipeline.plan(spark, IngestJob(path, "coords_wgs84.csv", "s"))
    assert(res.fileType == FileType.Csv && res.tableName == "coords_wgs84")
    assert(res.geometry.coordinatePair.contains(("longitude", "latitude")))
    assert(res.crs.contains("4326"))
    val rows = res.transformed.orderBy("id").collect()
    assert(rows.length == 2) // null pair dropped (geo_strategy.rs:328-337)
    val wktCol = "geom_from_longitude_latitude_wkt"
    assert(rows(0).getAs[String](wktCol) == "POINT (-0.1 51.5)")
    assert(rows(1).getAs[String](wktCol) == "POINT (1.25 52)")
  }

  test("coords_bng.csv: easting/northing pattern; CSV hard-defaults to 4326 (geo_strategy.rs:48-54)") {
    val csv = "id,easting,northing\n1,530000,180000\n"
    val path = writeFile(tmpDir, "coords_bng.csv", csv.getBytes("UTF-8"))
    val res = IngestPipeline.plan(spark, IngestJob(path, "bng", "s"))
    assert(res.geometry.coordinatePair.contains(("easting", "northing")))
    // Reference behavior: CSV never infers — the BNG values pass through as
    // "already 4326" (its own documented TODO). We preserve that faithfully.
    assert(res.crs.contains("4326"))
    val wkt = res.transformed.collect()(0)
      .getAs[String]("geom_from_easting_northing_wkt")
    assert(wkt == "POINT (530000 180000)")
  }

  test("mixed_invalid.csv: error tolerance — anomalous rows survive, never crash") {
    // reference: read_csv(ignore_errors=true) (core_processor.rs:415).
    // Parity: a mixed-TYPE value widens the column (both sniffers → text,
    // row kept); a wrong-ARITY row is structurally malformed and dropped
    // (ignore_errors ↔ DROPMALFORMED). Neither engine ever throws.
    val csv = "id,price\n1,10.5\n2,notanumber\n3,30.25,extra\n"
    val path = writeFile(tmpDir, "mixed_invalid.csv", csv.getBytes("UTF-8"))
    val res = IngestPipeline.plan(spark, IngestJob(path, "mixed", "s"))
    val rows = res.transformed.orderBy("id").collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2)) // arity-broken row 3 dropped
    assert(res.transformed.schema("price").dataType ==
      org.apache.spark.sql.types.StringType) // widened, like DuckDB's sniffer
  }

  test("nogeom.csv: NonGeoStrategy — identity passthrough") {
    val csv = "id,name,value\n1,test,100\n"
    val path = writeFile(tmpDir, "nogeom.csv", csv.getBytes("UTF-8"))
    val res = IngestPipeline.plan(spark, IngestJob(path, "nogeom.csv", "s"))
    assert(res.geometry.names.isEmpty && res.crs.isEmpty)
    assert(res.transformed.columns.toSeq == Seq("id", "name", "value"))
  }

  // ------------------------------------------------------- parquet WKB path

  test("geoms_wkb.parquet: BLOB heuristic, WKB probe → 4326, WKT out; gdb_geomattr_data excluded") {
    import scala.jdk.CollectionConverters._
    val dir = tmpDir
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("geo", BinaryType),
      StructField("gdb_geomattr_data", BinaryType)))
    val wkb = (x: Double, y: Double) =>
      graft.functions.GeoFunctions.toWkb(graft.functions.GeoFunctions.point(x, y))
    val rows = Seq(
      org.apache.spark.sql.Row(1L, wkb(-0.5, 51.0), Array[Byte](9)),
      org.apache.spark.sql.Row(2L, wkb(0.5, 52.0), null))
    val pqt = dir.resolve("geoms_wkb.parquet").toString
    spark.createDataFrame(rows.asJava, schema).coalesce(1).write.parquet(pqt)

    val res = IngestPipeline.plan(spark, IngestJob(pqt, "g.parquet", "s"))
    assert(res.fileType == FileType.Parquet)
    assert(res.geometry.names == Seq("geo")) // gdb_geomattr_data excluded
    assert(res.crs.contains("4326"))         // probe ranges are tight lon/lat
    val out = res.transformed.orderBy("id").collect()
    assert(!res.transformed.columns.contains("geo"))
    assert(out(0).getAs[String]("geo_wkt") == "POINT (-0.5 51)")
  }

  test("geoms_wkt.parquet: text probe; invalid WKT → NULL (safe_geom semantics)") {
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(StructField("id", LongType), StructField("geom", StringType)))
    val rows = Seq(
      org.apache.spark.sql.Row(1L, "POINT (1 2)"),
      org.apache.spark.sql.Row(2L, "POINT (oops)"),
      org.apache.spark.sql.Row(3L, null))
    val pqt = tmpDir.resolve("geoms_wkt.parquet").toString
    val df = spark.createDataFrame(rows.asJava, schema)
    df.coalesce(1).write.parquet(pqt)
    // Reference parity: VARCHAR geom-named columns are EXCLUDED by the
    // information_schema heuristic (core_processor.rs:179 `data_type !=
    // 'VARCHAR'`) — a WKT-text parquet is non-geo to the reference too.
    val res = IngestPipeline.plan(spark, IngestJob(pqt, "t", "s"))
    assert(res.geometry.names.isEmpty)
    // The WKT kernel itself (used when a caller DECLARES the column, and by
    // the probe chain) still honors invalid→NULL:
    val declared = SchemaHeuristics.GeometryColumns(Seq("geom"), None)
    val out = GeoTransform(spark.read.parquet(pqt), FileType.Parquet,
      declared, "4326", "4326").orderBy("id").collect()
    assert(out(0).getAs[String]("geom_wkt") == "POINT (1 2)")
    assert(out(1).getAs[String]("geom_wkt") == null)
    assert(out(2).getAs[String]("geom_wkt") == null)
  }

  // ------------------------------------------------------- shapefile zip path

  private def pointShp(x: Double, y: Double): Array[Byte] = {
    val buf = ByteBuffer.allocate(128)
    buf.order(ByteOrder.BIG_ENDIAN)
    buf.putInt(0, 9994); buf.putInt(24, 64) // file length in 16-bit words
    buf.order(ByteOrder.LITTLE_ENDIAN)
    buf.putInt(28, 1000); buf.putInt(32, 1) // version, shape type Point
    buf.putDouble(36, x); buf.putDouble(44, y); buf.putDouble(52, x); buf.putDouble(60, y)
    buf.order(ByteOrder.BIG_ENDIAN)
    buf.putInt(100, 1); buf.putInt(104, 10) // rec 1, content 10 words
    buf.order(ByteOrder.LITTLE_ENDIAN)
    buf.putInt(108, 1); buf.putDouble(112, x); buf.putDouble(120, y)
    buf.array()
  }

  private def simpleDbf(names: Seq[String]): Array[Byte] = {
    val recordSize = 1 + 10
    val headerSize = 32 + 32 + 1
    val buf = ByteBuffer.allocate(headerSize + names.length * recordSize + 1)
    buf.order(ByteOrder.LITTLE_ENDIAN)
    buf.put(0, 3.toByte)
    buf.putInt(4, names.length)
    buf.putShort(8, headerSize.toShort); buf.putShort(10, recordSize.toShort)
    val fname = "name".getBytes("US-ASCII")
    for (i <- fname.indices) buf.put(32 + i, fname(i))
    buf.put(43, 'C'.toByte); buf.put(48, 10.toByte)
    buf.put(64, 0x0D.toByte)
    var off = headerSize
    for (n <- names) {
      buf.put(off, ' '.toByte)
      val padded = n.padTo(10, ' ').getBytes("US-ASCII")
      for (i <- 0 until 10) buf.put(off + 1 + i, padded(i))
      off += recordSize
    }
    buf.array()
  }

  private def zipOf(entries: (String, Array[Byte])*): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val zos = new ZipOutputStream(bos)
    for ((name, bytes) <- entries) {
      zos.putNextEntry(new ZipEntry(name)); zos.write(bytes); zos.closeEntry()
    }
    zos.close(); bos.toByteArray
  }

  test("bng_shapes.zip: detect, .prj sniff → 27700, reproject to 4326 WKT") {
    // London ~ BNG (530062, 180380)
    val (e, n) = graft.functions.CrsTransform.lonLatToOsgb(-0.1275, 51.5072)
    val zip = zipOf(
      "test.shp" -> pointShp(e, n),
      "test.dbf" -> simpleDbf(Seq("London")),
      "test.prj" -> """PROJCS["British_National_Grid",GEOGCS["GCS_OSGB_1936"]]""".getBytes("UTF-8"))
    val path = writeFile(tmpDir, "bng_shapes.zip", zip)
    assert(FileTypeDetector.detect(path) == Right(FileType.Shapefile))
    val res = IngestPipeline.plan(spark, IngestJob(path, "bng_shapes.zip", "s"))
    assert(res.crs.contains("27700"))
    assert(res.geometry.names == Seq("geom"))
    val row = res.transformed.collect()(0)
    assert(row.getAs[String]("name") == "London")
    val wkt = row.getAs[String]("geom_wkt")
    val g = graft.functions.GeoFunctions.parseWkt(wkt).get
    assert(math.abs(g.getCentroid.getX - -0.1275) < 1e-5)
    assert(math.abs(g.getCentroid.getY - 51.5072) < 1e-5)
  }

  test("deleted .dbf records keep their slot so attributes never shift") {
    // record 2 of 3 flagged deleted ('*'): parseDbf must return
    // [Some, None, Some] — positional alignment with .shp is the contract
    val bytes = simpleDbf(Seq("first", "gone", "third"))
    val recordSize = 1 + 10
    val headerSize = 32 + 32 + 1
    bytes(headerSize + recordSize) = '*'.toByte
    val (fields, slots) = graft.sources.ShapefileReader.parseDbf(bytes)
    assert(fields.map(_.name) == Seq("name"))
    assert(slots.length == 3)
    assert(slots(0).map(_.head) == Some("first"))
    assert(slots(1).isEmpty)
    assert(slots(2).map(_.head) == Some("third"))
  }

  test("shapefile polygon with hole assembles shell + interior ring") {
    // shell CW, hole CCW per shapefile convention
    val shell = Array((0.0, 0.0), (0.0, 10.0), (10.0, 10.0), (10.0, 0.0), (0.0, 0.0))
    val hole = Array((2.0, 2.0), (4.0, 2.0), (4.0, 4.0), (2.0, 4.0), (2.0, 2.0))
    val nPts = shell.length + hole.length
    val content = 4 + 32 + 8 + 8 * 2 + nPts * 16 // type+box+counts+parts+pts
    val buf = ByteBuffer.allocate(100 + 8 + content)
    buf.order(ByteOrder.BIG_ENDIAN)
    buf.putInt(0, 9994); buf.putInt(24, (100 + 8 + content) / 2)
    buf.order(ByteOrder.LITTLE_ENDIAN); buf.putInt(28, 1000); buf.putInt(32, 5)
    buf.order(ByteOrder.BIG_ENDIAN); buf.putInt(100, 1); buf.putInt(104, content / 2)
    buf.order(ByteOrder.LITTLE_ENDIAN)
    var o = 108
    buf.putInt(o, 5); o += 4         // polygon
    o += 32                          // bbox (zeros fine)
    buf.putInt(o, 2); o += 4         // numParts
    buf.putInt(o, nPts); o += 4      // numPoints
    buf.putInt(o, 0); o += 4; buf.putInt(o, shell.length); o += 4
    for ((x, y) <- shell ++ hole) { buf.putDouble(o, x); o += 8; buf.putDouble(o, y); o += 8 }
    val geoms = ShapefileReader.parseShp(buf.array())
    assert(geoms.length == 1)
    val poly = geoms.head.get.asInstanceOf[org.locationtech.jts.geom.Polygon]
    assert(poly.getNumInteriorRing == 1)
    assert(poly.getArea == 100.0 - 4.0)
  }

  // ------------------------------------------------------- geojson path

  test("point.geojson end-to-end: properties + geometry WKB → 4326 WKT") {
    val body =
      """{"type":"FeatureCollection","features":[
        |{"type":"Feature","geometry":{"type":"Point","coordinates":[-0.1,51.5]},
        | "properties":{"name":"Test","pop":42}}]}""".stripMargin
    val path = writeFile(tmpDir, "point.geojson", body.getBytes("UTF-8"))
    val res = IngestPipeline.plan(spark, IngestJob(path, "point.geojson", "s"))
    assert(res.fileType == FileType.Geojson)
    assert(res.geometry.names == Seq("geometry"))
    assert(res.crs.contains("4326"))
    val row = res.transformed.collect()(0)
    assert(row.getAs[String]("name") == "Test")
    assert(row.getAs[Long]("pop") == 42L)
    assert(row.getAs[String]("geometry_wkt") == "POINT (-0.1 51.5)")
  }

  test("placemarks.kml end-to-end: sniffed KML, ExtendedData map, WKT geometry") {
    val body =
      """<?xml version="1.0" encoding="UTF-8"?>
        |<kml xmlns="http://www.opengis.net/kml/2.2">
        |  <Document>
        |    <Placemark>
        |      <name>Spot &amp; Co</name>
        |      <ExtendedData><Data name="pop"><value>42</value></Data></ExtendedData>
        |      <Point><coordinates>-0.1,51.5</coordinates></Point>
        |    </Placemark>
        |    <Placemark>
        |      <name>Trail</name>
        |      <LineString><coordinates>0,0 1,1 2,0.5</coordinates></LineString>
        |    </Placemark>
        |  </Document>
        |</kml>
        |""".stripMargin
    val path = writeFile(tmpDir, "placemarks.kml", body.getBytes("UTF-8"))
    // content sniff, not extension: same bytes under a neutral suffix
    assert(FileTypeDetector.detect(path).toOption.contains(FileType.Kml))
    val res = IngestPipeline.plan(spark, IngestJob(path, "placemarks.kml", "s"))
    assert(res.fileType == FileType.Kml)
    assert(res.geometry.names == Seq("geometry")) // reader-tagged, not name-matched
    assert(res.crs.contains("4326"))
    val rows = res.transformed.orderBy("name").collect()
    val spot = rows.find(_.getAs[String]("name") == "Spot & Co").get
    assert(spot.getAs[Map[String, String]]("data") == Map("pop" -> "42"))
    assert(spot.getAs[String]("geometry_wkt") == "POINT (-0.1 51.5)")
    val trail = rows.find(_.getAs[String]("name") == "Trail").get
    assert(trail.getAs[Map[String, String]]("data") == Map.empty)
    assert(trail.getAs[String]("geometry_wkt") == "LINESTRING (0 0, 1 1, 2 0.5)")
  }

  test("features.gml end-to-end: sniffed GML, XSD sidecar schema, 27700 → 4326") {
    val gml = s"$tmpDir/features.gml"
    // Greenwich Observatory in British National Grid eastings/northings
    graft.sources.FormatWriters.writeGml(
      gml, Seq((7L, "Greenwich", 538890.0, 177320.0)), "fkey", epsg = 27700)
    // content sniff, not extension
    assert(FileTypeDetector.detect(gml).toOption.contains(FileType.Gml))
    val res = IngestPipeline.plan(spark, IngestJob(gml, "features.gml", "s"))
    assert(res.fileType == FileType.Gml)
    assert(res.geometry.names == Seq("geom")) // reader-tagged, not name-matched
    assert(res.crs.contains("27700"))         // bounded srsName sniff
    val row = res.transformed.collect()(0)
    assert(row.getAs[Long]("fkey") == 7L)
    assert(row.getAs[String]("fname") == "Greenwich")
    // OSGB36 -> WGS84: Greenwich is ~(0.0, 51.48); closed-form transform
    val wkt = row.getAs[String]("geom_wkt")
    val Array(x, y) = wkt.stripPrefix("POINT (").stripSuffix(")").split(" ").map(_.toDouble)
    assert(math.abs(x - 0.0) < 0.01 && math.abs(y - 51.478) < 0.01, wkt)
  }

  test("gml urn-form srsName declares lat/lon axis order; reader swaps to WKT x y") {
    val gml = s"$tmpDir/urnfeat.gml"
    graft.sources.FormatWriters.writeGml(
      gml, Seq((1L, "Spot", -0.1, 51.5)), "fkey", epsg = 4326, urnForm = true)
    val df = graft.sources.GmlReader.read(spark, gml)
    val row = df.collect()(0)
    assert(row.getAs[String]("geom") == "POINT (-0.1 51.5)")
    // no-sidecar is a loud error, not a silent scan-inference pass
    val orphan = writeFile(tmpDir, "orphan.gml",
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(gml)))
    val e = intercept[IllegalArgumentException] {
      graft.sources.GmlReader.read(spark, orphan)
    }
    assert(e.getMessage.contains("sidecar"))
  }

  test("geojson polygon + multilinestring geometries decode") {
    val body =
      """{"type":"FeatureCollection","features":[
        |{"type":"Feature","geometry":{"type":"Polygon","coordinates":[[[0,0],[0,2],[2,2],[2,0],[0,0]]]},"properties":{"id":1}},
        |{"type":"Feature","geometry":{"type":"MultiLineString","coordinates":[[[0,0],[1,1]],[[2,2],[3,3]]]},"properties":{"id":2}}]}""".stripMargin
    val path = writeFile(tmpDir, "shapes.geojson", body.getBytes("UTF-8"))
    val df = GeoJsonReader.read(spark, path)
    val wkbs = df.orderBy("id").collect().map(_.getAs[Array[Byte]]("geometry"))
    val g0 = graft.functions.GeoFunctions.parseWkb(wkbs(0)).get
    assert(g0.getGeometryType == "Polygon" && g0.getArea == 4.0)
    val g1 = graft.functions.GeoFunctions.parseWkb(wkbs(1)).get
    assert(g1.getGeometryType == "MultiLineString" && g1.getNumGeometries == 2)
  }

  test("geojson mixing coordinate nesting depths keeps every geometry") {
    // Polygon (depth 3) + MultiPolygon (depth 4) + Point (depth 1) in one
    // collection: Spark JSON inference collapses these to strings and
    // silently NULLs the deeper ones — the Jackson path must not
    val body =
      """{"type":"FeatureCollection","features":[
        |{"type":"Feature","geometry":{"type":"Polygon","coordinates":[[[0,0],[0,2],[2,2],[2,0],[0,0]]]},"properties":{"id":1,"name":"sq"}},
        |{"type":"Feature","geometry":{"type":"MultiPolygon","coordinates":[[[[10,10],[10,12],[12,12],[12,10],[10,10]]],[[[20,20],[20,21],[21,21],[21,20],[20,20]]]]},"properties":{"id":2,"name":"mp"}},
        |{"type":"Feature","geometry":{"type":"Point","coordinates":[5,6]},"properties":{"id":3,"name":"pt","extra":1.5}}]}""".stripMargin
    val path = writeFile(tmpDir, "mixed.geojson", body.getBytes("UTF-8"))
    val df = GeoJsonReader.read(spark, path)
    assert(df.count() == 3)
    val byId = df.orderBy("id").collect()
    def geom(i: Int) = graft.functions.GeoFunctions.parseWkb(
      byId(i).getAs[Array[Byte]]("geometry")).get
    assert(geom(0).getGeometryType == "Polygon" && geom(0).getArea == 4.0)
    assert(geom(1).getGeometryType == "MultiPolygon" && geom(1).getNumGeometries == 2)
    assert(geom(2).getGeometryType == "Point")
    // sparse property ('extra' only on the last feature) widens to a
    // nullable double column
    assert(byId(0).isNullAt(byId(0).fieldIndex("extra")))
    assert(byId(2).getAs[Double]("extra") == 1.5)
  }

  // ------------------------------------------------------- xlsx path

  private def minimalXlsx(): Array[Byte] = {
    val sheet =
      """<?xml version="1.0"?>
        |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>
        |<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c><c r="C1" t="s"><v>2</v></c></row>
        |<row r="2"><c r="A2"><v>1</v></c><c r="B2" t="s"><v>3</v></c><c r="C2"><v>1.5</v></c></row>
        |<row r="3"><c r="A3"><v>2</v></c><c r="B3" t="inlineStr"><is><t>inline!</t></is></c><c r="C3"><v>2.5</v></c></row>
        |</sheetData></worksheet>""".stripMargin
    val strings =
      """<?xml version="1.0"?>
        |<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="4" uniqueCount="4">
        |<si><t>id</t></si><si><t>name</t></si><si><t>score</t></si><si><r><t>Al</t></r><r><t>ice</t></r></si>
        |</sst>""".stripMargin
    zipOf(
      "[Content_Types].xml" -> "<Types/>".getBytes("UTF-8"),
      "xl/workbook.xml" -> "<workbook/>".getBytes("UTF-8"),
      "xl/sharedStrings.xml" -> strings.getBytes("UTF-8"),
      "xl/worksheets/sheet1.xml" -> sheet.getBytes("UTF-8"))
  }

  test("book.xlsx: detect → header + typed columns; rich-text shared string") {
    val path = writeFile(tmpDir, "book.xlsx", minimalXlsx())
    assert(FileTypeDetector.detect(path) == Right(FileType.Excel))
    val df = XlsxReader.read(spark, path)
    assert(df.columns.toSeq == Seq("id", "name", "score"))
    assert(df.schema("id").dataType == LongType)
    assert(df.schema("score").dataType == DoubleType)
    val rows = df.orderBy("id").collect()
    assert(rows(0).getAs[String]("name") == "Alice") // rich-text runs concat
    assert(rows(1).getAs[String]("name") == "inline!")
  }

  test("xlsx cells without the optional r= attribute take sequential positions") {
    // ECMA-376 makes c/@r optional: position is implied by document order
    val sheet =
      """<?xml version="1.0"?>
        |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>
        |<row r="1"><c><v>10</v></c><c><v>20</v></c><c><v>30</v></c></row>
        |<row r="2"><c><v>1</v></c><c r="B2"><v>2</v></c><c><v>3</v></c></row>
        |</sheetData></worksheet>""".stripMargin
    val zip = zipOf(
      "[Content_Types].xml" -> "<Types/>".getBytes("UTF-8"),
      "xl/workbook.xml" -> "<workbook/>".getBytes("UTF-8"),
      "xl/worksheets/sheet1.xml" -> sheet.getBytes("UTF-8"))
    val path = writeFile(tmpDir, "noref.xlsx", zip)
    val df = XlsxReader.read(spark, path)
    // header row: 10, 20, 30; data row: 1, 2 (explicit B2), 3 (follows B2)
    assert(df.columns.toSeq == Seq("10", "20", "30"))
    val r = df.collect()(0)
    assert(Seq(r.get(0), r.get(1), r.get(2)).map(_.toString) == Seq("1", "2", "3"))
  }

  test("legacy .xls (BIFF8) reads through the CFBF walker with typed columns") {
    val path = "src/test/resources/fixtures/legacy.xls"
    assert(FileTypeDetector.detect(path) == Right(FileType.Excel))
    val df = IngestPipeline.read(spark, path, FileType.Excel)
    assert(df.columns.toSeq == Seq("city", "pop_m", "coastal", "score"))
    val rows = df.orderBy("city").collect()
    assert(rows.length == 2)
    // SST string, NUMBER, BOOLERR, RK-div-100
    assert(rows(0).getAs[String]("city") == "London")
    assert(rows(0).getAs[Double]("pop_m") == 8.9)
    assert(rows(0).getAs[String]("coastal") == "false")
    assert(rows(0).getAs[Double]("score") == 4.25)
    // inline LABEL, MULRK pair, RK int
    assert(rows(1).getAs[String]("city") == "Paris")
    assert(rows(1).getAs[Double]("pop_m") == 2.0)
    assert(rows(1).getAs[String]("coastal") == "1")
    assert(rows(1).getAs[Double]("score") == 7.0)
  }

  test("BIFF8 SST spanning a CONTINUE record decodes across the boundary") {
    val (header, rows) = graft.sources.XlsReader.parse(
      "src/test/resources/fixtures/legacy_bigsst.xls")
    // header = SST string 0; rows reference strings 1..3 — all 100 chars,
    // with the SST split mid-string at byte 8000 (grbit restated)
    assert(header == Seq("s000_" + "x" * 94))
    assert(rows.length == 3)
    assert(rows.zipWithIndex.forall { case (r, i) =>
      r(0).contains(f"s${i + 1}%03d_" + "x" * 94)
    })
  }

  test("legacy .xls: XlsxReader routes the caller; a corrupt CFBF errors clearly") {
    val bytes = Array(0xD0, 0xCF, 0x11, 0xE0, 0xA1, 0xB1, 0x1A, 0xE1).map(_.toByte) ++
      Array.fill(600)(0.toByte)
    val path = writeFile(tmpDir, "old.xls", bytes)
    assert(FileTypeDetector.detect(path) == Right(FileType.Excel))
    // the OOXML reader refuses with a pointer at the legacy reader
    val e = intercept[IllegalArgumentException] { XlsxReader.read(spark, path) }
    assert(e.getMessage.contains("legacy .xls") && e.getMessage.contains("XlsReader"))
    // the legacy reader rejects the truncated container with guidance,
    // not an ArrayIndexOutOfBoundsException
    val e2 = intercept[IllegalArgumentException] {
      graft.sources.XlsReader.parse(path)
    }
    assert(e2.getMessage.toLowerCase.contains("corrupt"))
  }

  test("xlsx colIndex decodes A1-style refs") {
    assert(XlsxReader.colIndex("A1") == 0)
    assert(XlsxReader.colIndex("Z9") == 25)
    assert(XlsxReader.colIndex("AA3") == 26)
    assert(XlsxReader.colIndex("BC12") == 54)
  }

  // ------------------------------------------------------- geopackage path

  test("minimal.gpkg: sqlite walk, GPB strip, srs lookup, pipeline WKT") {
    val path = "src/test/resources/fixtures/minimal.gpkg"
    assert(FileTypeDetector.detect(path) == Right(FileType.Geopackage))
    assert(GeoPackageReader.srsId(path).contains("4326"))
    val df = GeoPackageReader.read(spark, path)
    assert(df.columns.toSeq == Seq("fid", "name", "pop", "geom"))
    val rows = df.orderBy("fid").collect()
    assert(rows.length == 4)
    assert(rows(0).getAs[String]("name") == "London")
    val g = graft.functions.GeoFunctions.parseWkb(rows(0).getAs[Array[Byte]]("geom")).get
    assert(g.getCentroid.getX == -0.1275 && g.getCentroid.getY == 51.5072)
    // overflow-page row (8000-char name) survives intact
    assert(rows(3).getAs[String]("name").length == 8000)
    // full pipeline over the gpkg
    val res = IngestPipeline.plan(spark, IngestJob(path, "minimal.gpkg", "s"))
    assert(res.geometry.names == Seq("geom"))
    assert(res.transformed.orderBy("fid").collect()(0)
      .getAs[String]("geom_wkt") == "POINT (-0.1275 51.5072)")
  }

  test("pipeline container reads plan through the DSv2 connector (ContainerScan, not driver DataFrame)") {
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    def containerScans(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case r: DataSourceV2ScanRelation => r.scan
      }.collect { case c: graft.sources.ContainerScan => c }
    // single-file reference-shaped path: gpkg
    val res = IngestPipeline.plan(spark,
      IngestJob("src/test/resources/fixtures/minimal.gpkg", "minimal.gpkg", "s"))
    assert(containerScans(res.transformed).nonEmpty,
      s"gpkg pipeline read is not a ContainerScan:\n${res.transformed.queryExecution.optimizedPlan}")
    // multi-container landing zone: one connector scan over the whole
    // directory, one partition per container
    val zone = tmpDir
    (1 to 3).foreach { i =>
      FormatWriters.writeGeoPackage(zone.resolve(s"z$i.gpkg").toString,
        "pts", "k", "name", 4326,
        (1L to 2L).map(j => (i * 10L + j, s"c$i-$j", j * 1.0, j * 1.0)))
    }
    val multi = IngestPipeline.planDir(spark, zone.toString, "zone_tbl.gpkg", "s")
    assert(multi.tableName == "zone_tbl")
    assert(multi.geometry.names == Seq("geom"))
    assert(containerScans(multi.transformed).nonEmpty)
    assert(multi.transformed.rdd.getNumPartitions == 3,
      "expected one scan partition per container")
    val keys = multi.transformed.select("k").collect().map(_.getLong(0)).toSet
    assert(keys == Set(11L, 12L, 21L, 22L, 31L, 32L))
    assert(multi.transformed.columns.contains("geom_wkt"))
  }

  test("sqlite reader walks interior B-tree pages (3000-row table)") {
    val db = new SqliteReader("src/test/resources/fixtures/minimal.gpkg")
    val (cols, rows) = db.readTable("many")
    assert(cols == Seq("id", "label", "x"))
    assert(rows.length == 3000)
    // INTEGER PRIMARY KEY column materializes from the rowid
    assert(rows.map(_(0).asInstanceOf[Long]).sorted == (0L until 3000L))
    assert(rows.find(_(0) == 1234L).get(1) == "row1234")
    assert(rows.find(_(0) == 1234L).get(2) == 617.0)
  }

  test("unsupported gpkg CRS fails fast instead of NULLing every geometry") {
    val e = intercept[IllegalArgumentException] {
      IngestPipeline.plan(spark,
        IngestJob("src/test/resources/fixtures/utm25832.gpkg", "utm.gpkg", "s"))
    }
    assert(e.getMessage.contains("25832") && e.getMessage.contains("unsupported"))
  }

  test("identifier quoting doubles embedded quotes in generated DDL") {
    assert(JdbcPostgisSink.quoteIdent("plain") == "\"plain\"")
    assert(JdbcPostgisSink.quoteIdent("my\"tbl") == "\"my\"\"tbl\"")
    assert(JdbcPostgisSink.qualified("s", "x\";DROP TABLE y;--")
      == "\"s\".\"x\"\";DROP TABLE y;--\"")
  }

  test("table-level PRIMARY KEY(col) aliases rowid; NUMERIC column widens to double") {
    val db = new SqliteReader("src/test/resources/fixtures/minimal.gpkg")
    val (cols, rows) = db.readTable("tablepk")
    assert(cols == Seq("tid", "val", "num"))
    // tid values are stored as NULL in the records; the reader must
    // substitute the rowid, same as the inline INTEGER PRIMARY KEY form
    assert(rows.map(_(0)).toSet == Set(1L, 2L, 3L))
    // SQLite NUMERIC affinity stores 1 as INTEGER and 2.5 as REAL in the
    // same column: the DataFrame schema must widen, not truncate
    val df = GeoPackageReader.readAttributeTable(spark, "src/test/resources/fixtures/minimal.gpkg", "tablepk")
    val byTid = df.orderBy("tid").collect()
    assert(df.schema("num").dataType.typeName == "double")
    assert(byTid.map(_.getAs[Double]("num")).toSeq == Seq(1.0, 2.5, 4.0))
  }

  test("polygon hole touching its shell at the probe vertex survives assembly") {
    import org.locationtech.jts.geom.Coordinate
    // shell CW, hole CCW, both starting at the SHARED vertex (0,0):
    // boundary-exclusive contains() would drop the hole entirely
    val shell = Array((0.0, 0.0), (0.0, 10.0), (10.0, 10.0), (10.0, 0.0), (0.0, 0.0))
      .map { case (x, y) => new Coordinate(x, y) }
    val hole = Array((0.0, 0.0), (4.0, 2.0), (2.0, 4.0), (0.0, 0.0))
      .map { case (x, y) => new Coordinate(x, y) }
    val g = graft.sources.ShapefileReader.assemblePolygons(Seq(shell, hole))
    assert(g.getGeometryType == "Polygon")
    assert(g.asInstanceOf[org.locationtech.jts.geom.Polygon].getNumInteriorRing == 1)
    assert(math.abs(g.getArea - (100.0 - 6.0)) < 1e-9)
  }

  test("gpkg without gpkg_geometry_columns falls back to gpkg_contents + default geom") {
    val path = "src/test/resources/fixtures/contents_only.gpkg"
    val df = GeoPackageReader.read(spark, path)
    assert(df.columns.toSeq == Seq("fid", "geom", "name"))
    val g = graft.functions.GeoFunctions.parseWkb(
      df.collect()(0).getAs[Array[Byte]]("geom")).get
    assert(g.getCentroid.getX == 1.0 && g.getCentroid.getY == 2.0)
  }

  test("sqlite CREATE parser honors quoted identifiers and comma-in-default") {
    val db = new SqliteReader("src/test/resources/fixtures/contents_only.gpkg")
    val cols = db.tableColumns("weird").map(_._1)
    assert(cols == Seq("station name", "num", "txt"))
    val (names, rows) = db.readTable("weird")
    assert(names == cols && rows.head(0) == "x" && rows.head(1) == 1L && rows.head(2) == "y")
  }

  test("xlsx reads the FIRST sheet in workbook order, not the lowest-numbered part") {
    val wb =
      """<?xml version="1.0"?>
        |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"
        |          xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
        |<sheets><sheet name="Data" sheetId="5" r:id="rId9"/></sheets></workbook>""".stripMargin
    val rels =
      """<?xml version="1.0"?>
        |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |<Relationship Id="rId9" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet5.xml"/>
        |</Relationships>""".stripMargin
    def sheetXml(v: Int) =
      s"""<?xml version="1.0"?>
         |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>
         |<row r="1"><c r="A1"><v>$v</v></c></row>
         |<row r="2"><c r="A2"><v>${v * 10}</v></c></row>
         |</sheetData></worksheet>""".stripMargin
    val zip = zipOf(
      "[Content_Types].xml" -> "<Types/>".getBytes("UTF-8"),
      "xl/workbook.xml" -> wb.getBytes("UTF-8"),
      "xl/_rels/workbook.xml.rels" -> rels.getBytes("UTF-8"),
      "xl/worksheets/sheet1.xml" -> sheetXml(111).getBytes("UTF-8"),
      "xl/worksheets/sheet5.xml" -> sheetXml(555).getBytes("UTF-8"))
    val path = writeFile(tmpDir, "reordered.xlsx", zip)
    val df = XlsxReader.read(spark, path)
    // header from sheet5 (the workbook's first sheet), not sheet1
    assert(df.columns.toSeq == Seq("555"))
    assert(df.collect()(0).get(0).toString == "5550")
  }

  // ------------------------------------------------------- sinks

  test("Graft.processFile facade mirrors the reference's one-call API") {
    val dir = tmpDir
    val csv = "id,lon,lat\n1,-0.1,51.5\n2,2.35,48.85\n"
    val path = writeFile(dir, "cities.csv", csv.getBytes("UTF-8"))
    // parquet variant end-to-end
    val res = graft.Graft.processFileToParquet(spark, path, "cities.csv",
      dir.resolve("out").toString, "geo")
    assert(res.geometry.coordinatePair.contains(("lon", "lat")))
    assert(spark.read.parquet(dir.resolve("out").toString + "/geo/cities").count() == 2)
    // postgis variant: the schema/drop DDL is generated and dispatched
    // BEFORE the bulk write, which then fails fast here because no
    // PostgreSQL driver ships in this offline build
    val ddl = Seq.newBuilder[String]
    intercept[java.sql.SQLException] {
      graft.Graft.processFile(spark, path, "cities.csv",
        "jdbc:postgresql://example/db", "geo", sql => { ddl += sql; () })
    }
    val statements = ddl.result()
    assert(statements.exists(_.contains("CREATE SCHEMA IF NOT EXISTS \"geo\"")))
    assert(statements.exists(_.contains("DROP TABLE IF EXISTS \"geo\".\"cities\"")))
  }

  test("ParquetSink end-to-end run() writes transformed table") {
    val dir = tmpDir
    val csv = "id,lon,lat\n1,-0.1,51.5\n"
    val path = writeFile(dir, "pts.csv", csv.getBytes("UTF-8"))
    val sinkRoot = dir.resolve("out").toString
    val res = IngestPipeline.run(spark, IngestJob(path, "pts.csv", "myschema"),
      new ParquetSink(sinkRoot))
    assert(res.geometry.coordinatePair.contains(("lon", "lat")))
    val written = spark.read.parquet(s"$sinkRoot/myschema/pts")
    assert(written.count() == 1)
    assert(written.columns.contains("geom_from_lon_lat_wkt"))
  }

  test("GeoPackageSink end-to-end run() writes a readable gpkg container") {
    // the write-back sink through the REAL pipeline: CSV coord-pair →
    // detect → discover → ST_Point WKT → GeoPackageSink (WKT → GPB,
    // scaffolding dropped) → read back via the real SqliteReader walk
    val dir = tmpDir
    val csv = "id,lon,lat\n7,-0.25,51.75\n8,1.5,52.25\n"
    val path = writeFile(dir, "gpts.csv", csv.getBytes("UTF-8"))
    val sinkRoot = dir.resolve("gpkg_out").toString
    val res = graft.Graft.processFile(spark, IngestJob(path, "gpts.csv", "geo"),
      new GeoPackageSink(sinkRoot))
    assert(res.geometry.coordinatePair.contains(("lon", "lat")))
    val back = graft.sources.GeoPackageReader.read(spark, s"$sinkRoot/geo/gpts.gpkg")
    assert(back.count() == 2)
    // the _wkt scaffolding became a typed GPB geometry column
    assert(!back.columns.exists(_.endsWith("_wkt")))
    assert(back.columns.contains("geom_from_lon_lat"))
    val wkts = back
      .select(graft.functions.GeoFunctions.stAsTextFromWkb(
        org.apache.spark.sql.functions.col("geom_from_lon_lat")).as("w"))
      .collect().map(_.getString(0)).sorted
    assert(wkts.toSeq == Seq("POINT (-0.25 51.75)", "POINT (1.5 52.25)"))
  }

  test("JdbcPostgisSink SQL templates match the reference byte-for-byte semantics") {
    import JdbcPostgisSink._
    assert(qualified("s", "t") == "\"s\".\"t\"")
    assert(createSchemaSql("my schema") == "CREATE SCHEMA IF NOT EXISTS \"my schema\";")
    assert(dropTableSql("s", "t") == "DROP TABLE IF EXISTS \"s\".\"t\";")
    val sql = geometryConversionSql("\"s\".\"t\"", Seq("geom"))
    // the exact clauses of geo_strategy.rs:370-400
    assert(sql.contains("BEGIN TRANSACTION;"))
    assert(sql.contains("ALTER TABLE \"s\".\"t\" ADD COLUMN \"geom\" geometry;"))
    assert(sql.contains("CREATE OR REPLACE FUNCTION safe_geom_from_text(wkt_text TEXT, srid INTEGER)"))
    assert(sql.contains("EXCEPTION"))
    assert(sql.contains("RETURN NULL;"))
    assert(sql.contains("SET \"geom\" = safe_geom_from_text(\"geom_wkt\", 4326)"))
    assert(sql.contains("WHERE \"geom_wkt\" IS NOT NULL"))
    assert(sql.contains("AND \"geom_wkt\" != '';"))
    assert(sql.contains("DROP FUNCTION safe_geom_from_text(TEXT, INTEGER);"))
    assert(sql.contains("ALTER TABLE \"s\".\"t\" DROP COLUMN \"geom_wkt\";"))
    // two geometry columns → two blocks, one transaction
    val sql2 = geometryConversionSql("\"s\".\"t\"", Seq("g1", "g2"))
    assert("ALTER TABLE .* ADD COLUMN".r.findAllIn(sql2).length == 2)
    assert("BEGIN TRANSACTION;".r.findAllIn(sql2).length == 1)
  }

  test("full-pipeline PostGIS run emits the reference's exact DDL sequence") {
    // the END-TO-END ordering claim (not just per-template bytes): drive
    // the real pipeline (detect → read → discover → transform) into a
    // JdbcPostgisSink whose two transports record a transcript, and
    // assert the WHOLE recorded sequence — the reference's
    // process_file order (core_processor.rs:463-476): create schema,
    // drop stale table, phase-1 bulk transfer, then ONE transaction
    // doing the geometry conversion (geo_strategy.rs:357-415). Any
    // reordering (conversion before the bulk rows exist, drop after
    // write, a second transaction) fails the string compare.
    val dir = tmpDir
    val csv = "id,lon,lat\n1,-0.5,51.5\n2,0.25,52.0\n"
    val path = writeFile(dir, "pg pts.csv", csv.getBytes("UTF-8"))
    val transcript = scala.collection.mutable.Buffer[String]()
    val sink = new JdbcPostgisSink(
      "jdbc:postgresql://example.com/db",
      sql => transcript += sql,
      bulkWrite = Some((df, qualifiedTable) =>
        transcript += s"BULK COPY $qualifiedTable rows=${df.count()}"))
    val res = graft.Graft.processFile(
      spark, IngestJob(path, "pg pts.csv", "geo_schema"), sink)
    assert(res.geometry.coordinatePair.contains(("lon", "lat")))
    val expected = Seq(
      """CREATE SCHEMA IF NOT EXISTS "geo_schema";""",
      """DROP TABLE IF EXISTS "geo_schema"."pg pts";""",
      """BULK COPY "geo_schema"."pg pts" rows=2""",
      JdbcPostgisSink.geometryConversionSql(
        "\"geo_schema\".\"pg pts\"", Seq("geom_from_lon_lat")))
    assert(transcript.toSeq == expected,
      s"DDL transcript diverged:\n${transcript.mkString("\n---\n")}")
  }

  test("geoparquet end-to-end: footer-declared 27700 beats the row probe, reprojects") {
    // BNG eastings/northings around Greenwich: the value-range probe
    // would ALSO say 27700 here, so make the declaration the only
    // correct source by using coordinates a lon/lat probe could
    // misread — large values prove the declared CRS drove the path
    val p = s"$tmpDir/decl.parquet"
    graft.sources.GeoParquet.write(
      p, Seq((7L, "Greenwich", 538890.0, 177320.0)), 27700)
    assert(graft.sources.FileTypeDetector.detect(p) ==
      Right(graft.sources.FileType.Parquet)) // GeoParquet IS parquet
    val res = IngestPipeline.plan(spark, IngestJob(p, "decl.parquet", "s"))
    assert(res.crs.contains("27700"), res.crs)
    assert(res.geometry.names == Seq("geometry"))
    val row = res.transformed.collect()(0)
    assert(row.getAs[String]("nname") == "Greenwich")
    val wkt = row.getAs[String]("geometry_wkt")
    val Array(x, y) = wkt.stripPrefix("POINT (").stripSuffix(")")
      .split(" ").map(_.toDouble)
    assert(math.abs(x - 0.0) < 0.01 && math.abs(y - 51.478) < 0.01, wkt)
  }

  test("flatgeobuf end-to-end: header 27700 drives the OSGB reprojection") {
    // Greenwich easting/northing in a from-scratch .fgb container: the
    // header's Crs table (not any value probe) must select the
    // closed-form OSGB inverse — same contract as the GeoParquet twin
    val p = s"$tmpDir/decl.fgb"
    val props = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("nname",
        org.apache.spark.sql.types.StringType, nullable = true)))
    graft.sources.FlatGeobuf.write(p, "decl", props,
      Seq((org.apache.spark.sql.Row("Greenwich"), (538890.0, 177320.0))),
      epsg = 27700)
    assert(graft.sources.FileTypeDetector.detect(p) ==
      Right(graft.sources.FileType.Flatgeobuf))
    val res = IngestPipeline.plan(spark, IngestJob(p, "decl.fgb", "s"))
    assert(res.crs.contains("27700"), res.crs)
    assert(res.geometry.names == Seq("geom"))
    val row = res.transformed.collect()(0)
    assert(row.getAs[String]("nname") == "Greenwich")
    val wkt = row.getAs[String]("geom_wkt")
    val Array(x, y) = wkt.stripPrefix("POINT (").stripSuffix(")")
      .split(" ").map(_.toDouble)
    assert(math.abs(x - 0.0) < 0.01 && math.abs(y - 51.478) < 0.01, wkt)
  }

  // ------------------------------------------- one Spark job per ingest

  private val JobTag = "graft.spec.ingest"

  /** Spark jobs started by `body` on this thread (tagged through a local
    * property), counted after the listener bus has drained. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID.toString
    val started = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(JobTag) == tag)
          started.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(JobTag, tag)
    try {
      body
      org.apache.spark.graftbridge.ListenerDrain.drain(sc)
    } finally {
      sc.setLocalProperty(JobTag, null)
      sc.removeSparkListener(listener)
    }
    started.get
  }

  test("processFileToParquet runs exactly one Spark job: csv, plain WKB parquet, GeoParquet") {
    import scala.jdk.CollectionConverters._
    val dir = tmpDir
    val csv = writeFile(dir, "pts.csv",
      "id,longitude,latitude\n1,-0.1,51.5\n2,2.35,48.85\n".getBytes("UTF-8"))
    // spherical-Mercator points: the row probe must find 3857
    val wkb = (x: Double, y: Double) =>
      graft.functions.GeoFunctions.toWkb(graft.functions.GeoFunctions.point(x, y))
    val plain = dir.resolve("merc.parquet").toString
    spark.createDataFrame(Seq(
        org.apache.spark.sql.Row(1L, wkb(-11131.95, 6711533.0)),
        org.apache.spark.sql.Row(2L, wkb(261600.0, 6250000.0))).asJava,
      StructType(Seq(StructField("id", LongType), StructField("geom", BinaryType))))
      .coalesce(1).write.parquet(plain)
    val geo = dir.resolve("decl.parquet").toString
    GeoParquet.write(geo, Seq((7L, "Greenwich", 538890.0, 177320.0)), 27700)
    val out = dir.resolve("out").toString
    for ((path, crs) <- Seq(csv -> "4326", plain -> "3857", geo -> "27700")) {
      var res: IngestPipeline.Result = null
      val jobs = jobsOf {
        res = graft.Graft.processFileToParquet(spark, path, new java.io.File(path).getName, out)
      }
      assert(jobs == 1, s"$path ran $jobs Spark jobs")
      assert(res.crs.contains(crs), s"$path: ${res.crs}")
    }
    assert(spark.read.parquet(s"$out/public/merc").count() == 2)
  }

  // ------------------------------------------------- directory inputs

  test("a partitionBy parquet directory plans with its partition column, schema and rows") {
    import scala.jdk.CollectionConverters._
    val wkb = (x: Double, y: Double) =>
      graft.functions.GeoFunctions.toWkb(graft.functions.GeoFunctions.point(x, y))
    val rows = (1 to 30).map(i =>
      org.apache.spark.sql.Row(i.toLong, s"n$i", wkb(-0.5 + i * 0.01, 51.0), i % 3))
    val schema = StructType(Seq(StructField("id", LongType), StructField("name", StringType),
      StructField("geom", BinaryType), StructField("part", IntegerType)))
    val path = tmpDir.resolve("by_part").toString
    spark.createDataFrame(rows.asJava, schema).write.partitionBy("part").parquet(path)
    assert(FileTypeDetector.detect(path) == Right(FileType.Parquet))
    val read = IngestPipeline.read(spark, path, FileType.Parquet)
    assert(read.schema == spark.read.parquet(path).schema)
    assert(read.columns.last == "part")
    val res = IngestPipeline.plan(spark, IngestJob(path, "by_part", "s"))
    assert(res.geometry.names == Seq("geom"))
    assert(res.crs.contains("4326"))
    assert(res.transformed.columns.toSeq == Seq("id", "name", "part", "geom_wkt"))
    assert(res.transformed.count() == 30)
    assert(res.transformed.filter("part = 2").count() == 10)
  }

  test("a two-part CSV directory plans with the first part's sample, schema and all rows") {
    val path = tmpDir.resolve("parts_csv").toString
    import spark.implicits._
    (1 to 40).map(i => (i, s"n$i", -0.5 + i * 0.01, 51.0 + i * 0.01))
      .toDF("id", "name", "lon", "lat").repartition(2)
      .write.option("header", true).csv(path)
    val parts = new java.io.File(path).listFiles().filter(_.getName.endsWith(".csv"))
    assert(parts.length == 2)
    assert(FileTypeDetector.detect(path) == Right(FileType.Csv))
    val res = IngestPipeline.plan(spark, IngestJob(path, "parts_csv", "s"))
    assert(res.transformed.schema.take(4).map(f => f.name -> f.dataType) == Seq(
      "id" -> IntegerType, "name" -> StringType, "lon" -> DoubleType, "lat" -> DoubleType))
    assert(res.geometry.coordinatePair.contains(("lon", "lat")))
    assert(res.transformed.count() == 40)
  }
}
