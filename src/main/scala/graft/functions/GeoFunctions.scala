package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.udf
import org.locationtech.jts.geom.{Coordinate, CoordinateXY, Geometry, GeometryFactory, PrecisionModel}
import org.locationtech.jts.io.{WKBReader, WKBWriter, WKTReader, WKTWriter}

import scala.util.Try

/** The geospatial scalar kernel (SURVEY.md §2.8) — every DuckDB-spatial
  * function the reference's generated SQL touches, reimplemented over JTS
  * 1.20 and exposed both as Scala helpers and Spark UDF `Column`s.
  *
  * Error semantics mirror the reference end-to-end: invalid WKB/WKT parses
  * to NULL rather than failing the job — the same contract its
  * `safe_geom_from_text` PL/pgSQL wrapper enforces in Postgres
  * (reference: geo_strategy.rs:373-381) and `ignore_errors=true` enforces
  * at read time (core_processor.rs:415).
  *
  * Scale notes: JTS readers/writers are NOT thread-safe, so each call
  * allocates its own (cheap, small) reader; geometry never round-trips
  * through the driver — all functions are executor-side row kernels. WKB
  * (binary) is the preferred in-flight representation: ~half the bytes of
  * WKT and no text parse on re-read.
  */
object GeoFunctions {

  private val geomFactory = new GeometryFactory(new PrecisionModel(), 4326)

  // ----------------------------------------------------------- scalar core

  def parseWkb(bytes: Array[Byte]): Option[Geometry] =
    if (bytes == null) None else Try(new WKBReader(geomFactory).read(bytes)).toOption

  def parseHexWkb(hex: String): Option[Geometry] =
    if (hex == null) None
    else Try(new WKBReader(geomFactory).read(WKBReader.hexToBytes(hex))).toOption

  def parseWkt(wkt: String): Option[Geometry] =
    if (wkt == null) None else Try(new WKTReader(geomFactory).read(wkt)).toOption

  /** 2D WKT out — `ST_AsText(ST_Force2D(...))`, the reference's transport
    * format (geo_strategy.rs:283-289). JTS's WKTWriter(2) drops Z/M. */
  def toWkt2D(g: Geometry): String = new WKTWriter(2).write(g)

  def toWkb(g: Geometry): Array[Byte] = new WKBWriter(2).write(g)

  /** Rebuild with XY-only coordinates (`ST_Force2D`). GeometryEditor,
    * NOT GeometryTransformer: the transformer's buildGeometry COLLAPSES
    * a single-element MULTILINESTRING/MULTIPOLYGON to its lone part
    * (ST_Force2D never changes the geometry type), which silently
    * rewrote 1-part multis read from FlatGeobuf/GeoJSON. */
  def force2D(g: Geometry): Geometry = {
    import org.locationtech.jts.geom.util.GeometryEditor
    val editor = new GeometryEditor(geomFactory)
    editor.edit(g, new GeometryEditor.CoordinateSequenceOperation {
      override def edit(cs: org.locationtech.jts.geom.CoordinateSequence,
          geometry: Geometry): org.locationtech.jts.geom.CoordinateSequence = {
        val coords = Array.tabulate(cs.size)(i => new CoordinateXY(cs.getX(i), cs.getY(i)))
        geomFactory.getCoordinateSequenceFactory.create(coords.asInstanceOf[Array[Coordinate]])
      }
    })
  }

  def centroid(g: Geometry): (Double, Double) = {
    val c = g.getCentroid
    (c.getX, c.getY)
  }

  def point(x: Double, y: Double): Geometry =
    geomFactory.createPoint(new Coordinate(x, y))

  /** Reproject every vertex with [[CrsTransform]] (always lon-lat order). */
  def transformGeom(g: Geometry, srcEpsg: Int, dstEpsg: Int): Geometry = {
    if (srcEpsg == dstEpsg) return g
    // GeometryEditor for the same reason as force2D: reprojection must
    // never change the geometry TYPE, and GeometryTransformer's
    // buildGeometry collapses 1-element multis to their lone part
    import org.locationtech.jts.geom.util.GeometryEditor
    val editor = new GeometryEditor(geomFactory)
    editor.edit(g, new GeometryEditor.CoordinateSequenceOperation {
      override def edit(cs: org.locationtech.jts.geom.CoordinateSequence,
          geometry: Geometry): org.locationtech.jts.geom.CoordinateSequence = {
        val coords = Array.tabulate(cs.size) { i =>
          val (x, y) = CrsTransform.transform(cs.getX(i), cs.getY(i), srcEpsg, dstEpsg)
          new Coordinate(x, y)
        }
        geomFactory.getCoordinateSequenceFactory.create(coords)
      }
    })
  }

  // --------------------------------------------------------------- columns
  //
  // Column API over the native codegen'd [[GeoKernelExpressions]] (SURVEY
  // §7.5 promotion — same scalar kernels, no ScalaUDF converter layer, no
  // codegen break in the surrounding operators).

  import org.apache.spark.sql.graftbridge.Bridge.{column => toCol, expression => toExpr}
  import GeoKernelExpressions._

  /** WKB bytes → 2D WKT (NULL on parse failure). */
  def stAsTextFromWkb(c: Column): Column = toCol(StAsTextFromWkb(toExpr(c)))

  /** hex-WKB text → 2D WKT. */
  def stAsTextFromHexWkb(c: Column): Column = toCol(StAsTextFromHexWkb(toExpr(c)))

  /** WKT → normalized 2D WKT (identity parse, invalid → NULL). */
  def stAsTextFromWkt(c: Column): Column = toCol(StAsTextFromWkt(toExpr(c)))

  /** Centroid X/Y of a WKT geometry (NULL on parse failure). */
  def centroidXFromWkt(c: Column): Column = toCol(CentroidFromWkt(toExpr(c), axisX = true))
  def centroidYFromWkt(c: Column): Column = toCol(CentroidFromWkt(toExpr(c), axisX = false))

  /** `ST_AsText(ST_Force2D(ST_Point(x, y)))` — the coordinate-pair path
    * (geo_strategy.rs:322-331). */
  def stPointWkt(x: Column, y: Column): Column = toCol(StPointWkt(toExpr(x), toExpr(y)))

  /** Coordinate-pair path WITH reprojection (geo_strategy.rs:333-340). */
  def stPointTransformWkt(x: Column, y: Column, srcEpsg: Int, dstEpsg: Int): Column =
    toCol(StPointTransformWkt(toExpr(x), toExpr(y), srcEpsg, dstEpsg))

  /** Full geometry-column path: WKB in, reproject, 2D WKT out
    * (geo_strategy.rs:286-291). */
  def stTransformWkbToWkt(c: Column, srcEpsg: Int, dstEpsg: Int): Column =
    toCol(StTransformWkbToWkt(toExpr(c), srcEpsg, dstEpsg))

  def stTransformWktToWkt(c: Column, srcEpsg: Int, dstEpsg: Int): Column =
    toCol(StTransformWktToWkt(toExpr(c), srcEpsg, dstEpsg))

  /** Scalar lon/lat ⇄ Web-Mercator axes (each axis separately, so oracles
    * can check them as plain doubles). */
  def toMercX(lon: Column): Column = toCol(WebMercatorAxis(toExpr(lon), axisX = true, forward = true))
  def toMercY(lat: Column): Column = toCol(WebMercatorAxis(toExpr(lat), axisX = false, forward = true))
  def invMercLon(x: Column): Column = toCol(WebMercatorAxis(toExpr(x), axisX = true, forward = false))
  def invMercLat(y: Column): Column = toCol(WebMercatorAxis(toExpr(y), axisX = false, forward = false))

  /** CRS classification from per-bucket coordinate ranges. */
  def inferCrs(xmn: Column, xmx: Column, ymn: Column, ymx: Column): Column =
    toCol(InferCrs(Seq(xmn, xmx, ymn, ymx).map(toExpr)))

  /** Register the SQL-callable names (for `spark.sql` users without
    * [[graft.GraftExtensions]]) — thin UDF wrappers DELEGATING to the
    * same GeoKernelExpressions helpers the native expressions call, so
    * the two SQL surfaces cannot drift. */
  def register(spark: SparkSession): Unit = {
    import org.apache.spark.unsafe.types.UTF8String
    def str(u: UTF8String): String = if (u == null) null else u.toString
    def utf(s: String): UTF8String = if (s == null) null else UTF8String.fromString(s)
    spark.udf.register("st_astext_wkb",
      udf((b: Array[Byte]) => str(asTextFromWkb(b))))
    spark.udf.register("st_astext_hexwkb",
      udf((s: String) => if (s == null) null else str(asTextFromHexWkb(utf(s)))))
    spark.udf.register("st_astext_wkt",
      udf((s: String) => if (s == null) null else str(asTextFromWkt(utf(s)))))
    spark.udf.register("st_point_wkt",
      udf((x: Double, y: Double) => str(pointWkt(x, y))))
    spark.udf.register("st_point_transform_wkt",
      udf((x: Double, y: Double, src: Int, dst: Int) =>
        str(pointTransformWkt(x, y, src, dst))))
    spark.udf.register("st_transform_wkb_wkt",
      udf((b: Array[Byte], src: Int, dst: Int) =>
        str(transformWkbToWkt(b, src, dst))))
    spark.udf.register("st_transform_wkt_wkt",
      udf((s: String, src: Int, dst: Int) =>
        if (s == null) null else str(transformWktToWkt(utf(s), src, dst))))
  }
}
