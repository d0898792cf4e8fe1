package graft.functions

import org.apache.spark.sql.types.{BinaryType, DataType, StringType}
import org.locationtech.jts.geom.Geometry

import java.nio.charset.StandardCharsets.UTF_8
import scala.util.Try

/** CRS inference from sampled geometry data — the Spark port of the
  * reference's probe chain (geo_strategy.rs:75-253).
  *
  * The reference tries, per geometry column: direct-WKB → hex-WKB → WKT
  * centroid extraction over a `LIMIT 10` sample, then guesses the CRS from
  * the min/max coordinate ranges. Here the sample is at most [[SampleSize]]
  * non-null raw values per column, read by the caller on the driver from
  * the head of the source (`GeoParquet.Planned.headValues` for parquet),
  * and the chain runs over them with the scalar JTS kernels — no
  * DataFrame, no job. Driver traffic stays bounded by a constant
  * regardless of table size.
  */
object CrsInference {

  /** The reference's `LIMIT 10` probe sample (geo_strategy.rs:97, 144). */
  val SampleSize = 10

  /** Range heuristics, verbatim port of `infer_crs_from_ranges`
    * (geo_strategy.rs:228-253) including its quirks: small-extent lon/lat
    * boxes → 4326; positive sub-800km×1400km → 27700 (British National
    * Grid); wide meter-scale extents → 3857; everything else 4326. */
  def inferCrsFromRanges(xMin: Double, xMax: Double, yMin: Double, yMax: Double): String = {
    if (xMin >= -180.0 && xMax <= 180.0 && yMin >= -90.0 && yMax <= 90.0 &&
        (xMax - xMin) < 10.0 && (yMax - yMin) < 10.0) "4326"
    else if (xMin >= 0.0 && xMax <= 800000.0 && yMin >= 0.0 && yMax <= 1400000.0 &&
             xMin > 1000.0 && yMin > 1000.0) "27700"
    else if (xMin >= -20037508.0 && xMax <= 20037508.0 &&
             yMin >= -20037508.0 && yMax <= 20037508.0 &&
             ((xMax - xMin) > 10000.0 || (yMax - yMin) > 10000.0)) "3857"
    else "4326"
  }

  /** One probe: parse each sampled value and take its centroid; None when
    * no finite coordinate comes back (mirrors
    * extract_coordinates_from_query, geo_strategy.rs:186-225). Unparseable
    * and empty geometries yield no coordinate, as `ST_X(ST_Centroid(…))`
    * yields NULL for them. */
  private def probe[A](sample: Seq[A], parse: A => Option[Geometry]): Option[String] = {
    val coords = sample.flatMap { v =>
      parse(v).flatMap(g => Try(GeoFunctions.centroid(g)).toOption)
    }.filter { case (x, y) => x.isFinite && y.isFinite }
    if (coords.isEmpty) None
    else {
      val xs = coords.map(_._1); val ys = coords.map(_._2)
      Some(inferCrsFromRanges(xs.min, xs.max, ys.min, ys.max))
    }
  }

  /** `analyse_geometry_column` (geo_strategy.rs:90-183): a column-type-aware
    * WKB → hex-WKB → WKT fallback chain over one column's sample (raw
    * values as stored; text as its UTF-8 bytes). Binary columns try WKB
    * only; string columns try hex-WKB then WKT (a binary parse of a text
    * column can't succeed, so skipping it mirrors, not changes, the
    * outcome). */
  def analyseGeometryColumn(dataType: DataType, sample: Seq[Array[Byte]]): Option[String] =
    dataType match {
      case BinaryType => probe(sample, GeoFunctions.parseWkb)
      case StringType =>
        val text = sample.map(new String(_, UTF_8))
        probe(text, GeoFunctions.parseHexWkb).orElse(probe(text, GeoFunctions.parseWkt))
      case _ => None
    }

  /** `infer_parquet_crs_from_data` (geo_strategy.rs:75-87): first column
    * that yields an answer wins; fallback WGS84. `sample` reads a column's
    * ≤ [[SampleSize]] values and is called lazily, column by column. */
  def inferCrs(geomColumns: Seq[(String, DataType)], sample: String => Seq[Array[Byte]]): String =
    geomColumns.iterator
      .map { case (name, dt) => analyseGeometryColumn(dt, sample(name)) }
      .collectFirst { case Some(crs) => crs }
      .getOrElse("4326")
}
