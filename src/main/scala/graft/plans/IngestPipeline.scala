package graft.plans

import graft.functions.{CrsInference, GeoFunctions}
import graft.sources.{FileType, FileTypeDetector, SchemaHeuristics}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{BinaryType, StringType}

import java.util.zip.ZipFile
import scala.jdk.CollectionConverters._
import scala.util.Using

/** Immutable job parameters — the reference's `CoreProcessor` fields minus
  * the live connection (core_processor.rs:40-48). */
final case class IngestJob(
    filePath: String,
    tableName: String,
    schemaName: String)

/** The end-to-end ingest pipeline — the Spark re-expression of
  * `launch_core_processor` (reference: core_processor.rs:97-117):
  * detect → read (lazy) → discover geometry → strategy dispatch →
  * transform (still lazy) → sink write.
  *
  * Where the reference materializes staging tables (`data`,
  * `transformed_data`) inside DuckDB, everything here stays a single lazy
  * Catalyst plan until the sink action: at 100 TB that is the difference
  * between two full materializations and zero. Planning reads bounded
  * prefixes on the driver — the CSV dialect + type sample (≤ 20,480
  * lines, CsvDialect), one parquet footer (GeoParquet.plan), the
  * ≤10-value CRS probe sample (its `headValues`), container headers
  * — so a CSV or parquet ingest runs exactly one Spark job: the sink
  * write.
  */
object IngestPipeline {

  final case class Result(
      fileType: FileType,
      tableName: String,
      geometry: SchemaHeuristics.GeometryColumns,
      crs: Option[String],
      transformed: DataFrame)

  val TargetCrs = "4326" // geo_strategy.rs:259 — everything lands as WGS84

  /** `process_file` equivalent (core_processor.rs:463-476). */
  def run(spark: SparkSession, job: IngestJob, sink: Sink): Result = {
    val prepared = plan(spark, job)
    sink.createSchema(job.schemaName)
    sink.dropTable(job.schemaName, prepared.tableName)
    if (prepared.geometry.names.isEmpty)
      sink.write(prepared.transformed, job.schemaName, prepared.tableName)
    else
      sink.writeGeo(prepared.transformed, job.schemaName, prepared.tableName,
        prepared.geometry.names)
    prepared
  }

  /** Pure planning half: everything up to (not including) the sink action —
    * separately testable without any writable target. */
  def plan(spark: SparkSession, job: IngestJob): Result = {
    val fileType = FileTypeDetector.detect(job.filePath)
      .fold(e => throw new IllegalArgumentException(e), identity)
    val tableName = FileTypeDetector.cleanTableName(job.tableName)
    // a parquet source's planning state (conf, listing, footer) also
    // serves the CRS probe
    val parquet = Option.when(fileType == FileType.Parquet)(
      graft.sources.GeoParquet.plan(spark, job.filePath))
    val df = parquet.fold(read(spark, job.filePath, fileType))(_.df)
    val geometry = SchemaHeuristics.findGeometryColumns(df.schema, fileType)
    if (geometry.names.isEmpty)
      Result(fileType, tableName, geometry, None, df) // NonGeoStrategy: identity
    else {
      val crs = currentCrs(df, fileType, geometry, job.filePath, parquet)
      // fail FAST on a CRS our closed-form math can't reproject (e.g. a
      // gpkg declaring EPSG:25832): proceeding would Try-swallow the
      // per-row transform error into NULL for 100% of geometries — silent
      // total data loss reported as success
      if (!crs.toIntOption.exists(graft.functions.CrsTransform.SupportedEpsg.contains))
        throw new IllegalArgumentException(
          s"unsupported source CRS EPSG:$crs for '${job.filePath}' — " +
            s"supported: ${graft.functions.CrsTransform.SupportedEpsg.toSeq.sorted.mkString(", ")}")
      Result(fileType, tableName, geometry, Some(crs),
        GeoTransform(df, fileType, geometry, crs, TargetCrs))
    }
  }

  /** Format-dispatched lazy read — the `create_duckb_table` CTAS switch
    * (core_processor.rs:391-428), as `DataFrameReader` calls. The two
    * binary container formats ride the DataSourceV2 connector tier
    * (`format("gpkg")` / `format("shpzip")`), so their parse runs in the
    * SCAN TASK on an executor — the reference-shaped end-to-end path and
    * the ten-thousand-container ingest share one code path, and the
    * driver touches only the schema-inference container. */
  def read(spark: SparkSession, path: String, fileType: FileType): DataFrame =
    fileType match {
      case FileType.Parquet =>
        // detection sees PAR1 either way; GeoParquet is parquet whose
        // footer declares its geometry — the one driver-side footer open
        // gives the schema (no inference job) and routes it so the
        // declared CRS (not the row probe) drives the transform
        graft.sources.GeoParquet.readParquet(spark, path)
      case FileType.Csv =>
        // header + tolerate mirrors read_csv(ignore_errors, header); the
        // dialect sniff and the types come from one bounded driver-side
        // read, as DuckDB's sniffer samples (no header or inference job)
        val sample = graft.sources.CsvDialect.sample(spark, path)
        spark.read.schema(sample.schema)
          .options(graft.sources.CsvDialect.readerOptions(sample.sep)).csv(path)
      case FileType.Geojson =>
        graft.sources.GeoJsonReader.read(spark, path)
      case FileType.Excel =>
        // both Excel generations: CFBF magic → BIFF8 reader (beyond the
        // reference, whose read_xlsx fails on legacy files); else OOXML
        if (FileTypeDetector.isCfbf(path)) graft.sources.XlsReader.read(spark, path)
        else graft.sources.XlsxReader.read(spark, path)
      case FileType.Shapefile =>
        spark.read.format("shpzip").load(path)
      case FileType.Geopackage =>
        spark.read.format("gpkg").load(path)
      case FileType.Kml =>
        graft.sources.KmlReader.read(spark, path)
      case FileType.Gml =>
        graft.sources.GmlReader.read(spark, path)
      case FileType.Arrow =>
        // executor-side batch decode (binaryFile + arrow-vector); a
        // directory landing zone rides the same call
        graft.sources.ArrowIpc.read(spark, path)
      case FileType.Flatgeobuf =>
        // executor-side feature decode (binaryFile + the from-scratch
        // flatbuffers walk); WKB geometry + schema-borne CRS
        graft.sources.FlatGeobuf.read(spark, path)
    }

  /** Multi-container landing-zone ingest (beyond the reference's
    * single-file API): detect the container type from the FIRST file in
    * lexicographic order, then plan ONE connector read over the whole
    * directory — every container parses in its own scan task. The
    * geometry/CRS/transform half is byte-identical to [[plan]]; the CRS
    * is taken from the probe container (one landing zone = one source
    * system = one CRS, the same contract the count-anchored streaming
    * offset documents). */
  def planDir(spark: SparkSession, dirPath: String, tableName: String,
      schemaName: String): Result = {
    val files = Option(new java.io.File(dirPath).listFiles())
      .getOrElse(Array.empty).filter(_.isFile).map(_.getAbsolutePath).sorted
    require(files.nonEmpty, s"no container files under '$dirPath'")
    val fileType = FileTypeDetector.detect(files.head)
      .fold(e => throw new IllegalArgumentException(e), identity)
    require(fileType == FileType.Geopackage || fileType == FileType.Shapefile
        || fileType == FileType.Kml || fileType == FileType.Gml
        || fileType == FileType.Flatgeobuf || fileType == FileType.Arrow,
      s"directory ingest supports the container formats (gpkg, zipped " +
        s"shapefile, fgb, arrow) and the XML geo formats KML/GML (whose " +
        s"XML source reads a directory natively); '${files.head}' " +
        s"detected as $fileType")
    val cleaned = FileTypeDetector.cleanTableName(tableName)
    val df = read(spark, dirPath, fileType)
    val geometry = SchemaHeuristics.findGeometryColumns(df.schema, fileType)
    if (geometry.names.isEmpty)
      Result(fileType, cleaned, geometry, None, df)
    else {
      val crs = currentCrs(df, fileType, geometry, files.head)
      if (!crs.toIntOption.exists(graft.functions.CrsTransform.SupportedEpsg.contains))
        throw new IllegalArgumentException(
          s"unsupported source CRS EPSG:$crs for '$dirPath' — " +
            s"supported: ${graft.functions.CrsTransform.SupportedEpsg.toSeq.sorted.mkString(", ")}")
      Result(fileType, cleaned, geometry, Some(crs),
        GeoTransform(df, fileType, geometry, crs, TargetCrs))
    }
  }

  /** `get_crs_number` (geo_strategy.rs:21-72): per-format CRS source.
    * `parquet` is the planned read of a parquet source. */
  def currentCrs(
      df: DataFrame,
      fileType: FileType,
      geometry: SchemaHeuristics.GeometryColumns,
      sourcePath: String,
      parquet: Option[graft.sources.GeoParquet.Planned] = None): String = fileType match {
    case FileType.Shapefile =>
      prjCrs(sourcePath).getOrElse("4326")
    case FileType.Parquet =>
      // a GeoParquet footer DECLARES its CRS (stamped into the schema by
      // the reader) — declaration beats the ≤10-value probe; plain parquet
      // still goes through the reference-mirrored inference chain, over
      // values read on the driver from the head of the file(s)
      df.schema.fields
        .find(f => f.metadata.contains(graft.sources.GeoParquet.CrsTag))
        .map(_.metadata.getString(graft.sources.GeoParquet.CrsTag)
          .stripPrefix("EPSG:"))
        .getOrElse {
          require(parquet.nonEmpty, s"$sourcePath: the CRS probe needs the planned parquet read")
          CrsInference.inferCrs(
            geometry.names.map(g => g -> df.schema(g).dataType),
            parquet.get.headValues(_, CrsInference.SampleSize))
        }
    case FileType.Csv | FileType.Excel | FileType.Arrow =>
      "4326" // geo_strategy.rs:48-54 — hard default for tabular sources
              // (Arrow carries no CRS metadata — same tabular stance)
    case FileType.Geojson =>
      "4326" // GeoJSON spec (RFC 7946) mandates CRS84 == lon/lat WGS84
    case FileType.Kml =>
      "4326" // KML (OGC 07-147r2 §6.2) mandates WGS84 lon/lat
    case FileType.Gml =>
      // the reader stamped the srsName sniff into the geometry field's
      // metadata (bounded 4 KB prefix) — same schema-borne contract as
      // GeoPackage's container SRS
      df.schema.fields
        .find(f => f.metadata.contains(graft.sources.GmlReader.CrsTag))
        .map(_.metadata.getString(graft.sources.GmlReader.CrsTag))
        .getOrElse("4326")
    case FileType.Geopackage =>
      // the reader stamped the SRS into the geometry field's metadata —
      // read it from the schema instead of re-walking the whole container
      df.schema.fields
        .find(f => f.metadata.contains(graft.sources.GeoPackageReader.CrsTag))
        .map(_.metadata.getString(graft.sources.GeoPackageReader.CrsTag))
        .orElse(graft.sources.GeoPackageReader.srsId(sourcePath))
        .getOrElse("4326")
    case FileType.Flatgeobuf =>
      // the header's Crs table, stamped into the geometry field by the
      // reader — the same schema-borne contract as GeoPackage/GML
      df.schema.fields
        .find(f => f.metadata.contains(graft.sources.FlatGeobuf.CrsTag))
        .map(_.metadata.getString(graft.sources.FlatGeobuf.CrsTag))
        .getOrElse("4326")
  }

  /** `.prj` member sniff inside the shapefile zip (geo_strategy.rs:23-44):
    * OSGB/27700 marker → BNG, else WGS84. */
  def prjCrs(zipPath: String): Option[String] =
    FileTypeDetector.findShapefilePath(zipPath).toOption.flatMap { shpPath =>
      val prjPath = shpPath.replaceAll("\\.shp$", ".prj")
      scala.util.Try {
        Using.resource(new ZipFile(zipPath)) { zf =>
          zf.entries.asScala.find(_.getName == prjPath).map { entry =>
            val text = new String(zf.getInputStream(entry).readAllBytes(), "UTF-8")
            if (text.contains("OSGB") || text.contains("27700")) "27700" else "4326"
          }
        }
      }.toOption.flatten
    }
}

/** `GeoStrategy::transform_geom_columns` (geo_strategy.rs:256-347) as a
  * lazy column rewrite: drop the raw geometry columns, append `<col>_wkt`
  * reprojected 2D WKT — or, for coordinate-pair tables, build the point
  * from (x, y) and keep all original columns, filtering null coordinates.
  */
object GeoTransform {

  def apply(
      df: DataFrame,
      fileType: FileType,
      geometry: SchemaHeuristics.GeometryColumns,
      currentCrs: String,
      targetCrs: String): DataFrame = fileType match {

    case FileType.Csv | FileType.Excel =>
      val (xCol, yCol) = geometry.coordinatePair.getOrElse(
        throw new IllegalStateException("No coordinate columns detected"))
      val geomName = geometry.names.head
      val base = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      val wkt =
        if (currentCrs == targetCrs)
          GeoFunctions.stPointWkt(col(xCol).cast("double"), col(yCol).cast("double"))
        else
          GeoFunctions.stPointTransformWkt(
            col(xCol).cast("double"), col(yCol).cast("double"),
            currentCrs.toInt, targetCrs.toInt)
      base.withColumn(s"${geomName}_wkt", wkt)

    case _ =>
      // SELECT * EXCLUDE (geoms), ST_AsText(...) per column (:271-300)
      geometry.names.foldLeft(df) { (acc, g) =>
        val src = df.schema(g).dataType
        val wkt = (src, currentCrs == targetCrs) match {
          case (BinaryType, true)  => GeoFunctions.stAsTextFromWkb(col(g))
          case (BinaryType, false) =>
            GeoFunctions.stTransformWkbToWkt(col(g), currentCrs.toInt, targetCrs.toInt)
          case (StringType, true)  => GeoFunctions.stAsTextFromWkt(col(g))
          case (StringType, false) =>
            GeoFunctions.stTransformWktToWkt(col(g), currentCrs.toInt, targetCrs.toInt)
          case (other, _) => throw new IllegalArgumentException(
            s"geometry column '$g' has unsupported type $other")
        }
        acc.withColumn(s"${g}_wkt", wkt)
      }.drop(geometry.names: _*)
  }
}
