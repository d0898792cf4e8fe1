package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.column.impl.ColumnReadStoreImpl
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer => ParquetFooter, ParquetFileReader, ParquetFileWriter}
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{MessageType, MessageTypeParser, PrimitiveType}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{MetadataBuilder, StructType}

import scala.collection.mutable

/** GeoParquet 1.0.0 (the OGC-track public spec: ordinary parquet plus a
  * `geo` key in the footer key-value metadata describing geometry
  * columns — WKB encoding, primary column, CRS). The format the
  * reference's GDAL path would hand to `st_read` for .parquet geodata;
  * beyond the reference's own six detected types, same as KML/GML.
  *
  * Read shape: ONE driver-side footer open per read (bytes, not data)
  * yields both the `geo` key and the Spark schema, so the scan is
  * Spark's own parquet source with a given schema — no schema-inference
  * job — and column pruning, predicate pushdown, row-group skipping, and
  * distributed scan tasks all come free. Plain parquet reads the same
  * way ([[readParquet]]). The primary geometry column is stamped with
  * [[SchemaHeuristics.GeometryTag]] + [[GeoParquet.CrsTag]] (the
  * GeoPackage/GML contract, so IngestPipeline's CRS resolve composes).
  * Plain parquet's CRS probe reads its ≤10-value sample on the driver
  * too ([[headValues]]).
  *
  * The writer half exists for fixtures and the sink tier: Spark cannot
  * attach custom footer metadata through its public writer, so rows go
  * through parquet-hadoop's example writer directly — fine for the
  * dimension-sized tables a sink writes back (the corpus-sized path
  * stays `df.write.parquet`).
  *
  * Spec details honored: missing `geo` key fails loudly in [[read]]
  * (the file is plain parquet — a caller wanting that uses
  * [[readParquet]]);
  * `encoding` must be "WKB"; absent `crs` defaults to OGC:CRS84
  * (per spec §crs), which we surface as EPSG:4326 lon-lat.
  */
object GeoParquet {
  val CrsTag = "graft.geoparquet.crs"

  /** Minimal WKB point (little-endian, geometry type 1). */
  private def wkbPoint(x: Double, y: Double): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(21)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put(1.toByte).putInt(1).putDouble(x).putDouble(y)
    b.array()
  }

  /** Write (key, name, x, y) rows as a GeoParquet point table. */
  def write(path: String, rows: Seq[(Long, String, Double, Double)],
            epsg: Int): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      """message geoparquet {
        |  required int64 nkey;
        |  required binary nname (UTF8);
        |  required binary geometry;
        |}""".stripMargin)
    val xs = rows.map(_._3)
    val ys = rows.map(_._4)
    // PROJJSON carries the authority:code identity; bbox is the spec's
    // optional scan-pruning hint
    val geoMeta =
      s"""{"version":"1.0.0","primary_column":"geometry","columns":{
         |"geometry":{"encoding":"WKB","geometry_types":["Point"],
         |"crs":{"type":"GeographicCRS","id":{"authority":"EPSG","code":$epsg}},
         |"bbox":[${xs.min},${ys.min},${xs.max},${ys.max}]}}}""".stripMargin
      .replace("\n", "")
    val conf = new Configuration()
    // idempotent like the other fixture writers: re-planning a query in
    // the same session rewrites the container (file + hadoop .crc twin)
    val f = new java.io.File(path)
    f.delete()
    new java.io.File(f.getParentFile, s".${f.getName}.crc").delete()
    val writer = ExampleParquetWriter.builder(new Path(path))
      .withConf(conf)
      .withType(schema)
      .withExtraMetaData(java.util.Collections.singletonMap("geo", geoMeta))
      .build()
    try rows.foreach { case (k, n, x, y) =>
      val g = new SimpleGroup(schema)
      g.add("nkey", k)
      g.add("nname", n)
      g.add("geometry", org.apache.parquet.io.api.Binary.fromConstantByteArray(wkbPoint(x, y)))
      writer.write(g)
    } finally writer.close()
  }

  /** Files under `path` as Spark's file index lists them, sorted by path:
    * names starting `_` or `.` are hidden (partition directories `_k=v`
    * and the two summary files excepted). */
  private def listLeaves(conf: Configuration, path: String): Seq[Path] = {
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    def hidden(name: String) =
      ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
        name.endsWith("._COPYING_")) &&
        !name.startsWith(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE) &&
        !name.startsWith(ParquetFileWriter.PARQUET_METADATA_FILE)
    def walk(st: FileStatus): Seq[Path] =
      if (st.isFile) Seq(st.getPath)
      else fs.listStatus(st.getPath).toSeq.filterNot(c => hidden(c.getPath.getName)).flatMap(walk)
    walk(fs.getFileStatus(root)).sortBy(_.toString)
  }

  private def isSummary(p: Path): Boolean =
    p.getName == ParquetFileWriter.PARQUET_COMMON_METADATA_FILE ||
      p.getName == ParquetFileWriter.PARQUET_METADATA_FILE

  /** The primary column name and CRS a `geo` footer value declares. */
  private def parseGeo(path: String, geo: String): (String, String) = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.readTree(geo)
    val primary = root.path("primary_column").asText("")
    require(primary.nonEmpty, s"$path: geo metadata lacks primary_column")
    val colMeta = root.path("columns").path(primary)
    val enc = colMeta.path("encoding").asText("")
    require(enc == "WKB",
      s"$path: unsupported GeoParquet encoding '$enc' (only WKB)")
    val crsNode = colMeta.path("crs")
    val crs =
      if (crsNode.isMissingNode || crsNode.isNull) "EPSG:4326" // spec default OGC:CRS84
      else {
        val id = crsNode.path("id")
        s"${id.path("authority").asText("EPSG")}:${id.path("code").asLong(4326)}"
      }
    (primary, crs)
  }

  /** A parquet path planned on the driver with no job: the session's
    * Hadoop conf copied once, the files Spark's file index would list
    * (listed once), and the footer Spark's non-merging schema inference
    * would read (`_common_metadata`, else `_metadata`, else the first data
    * file in path order), opened once. `df` is Spark's parquet scan with
    * that footer's schema (`ParquetFileFormat.readSchemaFromFooter`, with
    * the converter Spark's inference builds from the session's SQLConf);
    * a GeoParquet footer's primary geometry column is tagged (GeometryTag
    * + CrsTag). */
  final class Planned private[GeoParquet] (
      val df: DataFrame, conf: Configuration, dataFiles: Seq[Path],
      footerFile: Path, footer: ParquetMetadata) {

    /** Up to `n` non-null values of the top-level column `column`, read
      * from the head of the data file(s) in path order, row group by row
      * group: the bounded sample a `filter(isNotNull).limit(n)` would
      * return, without a job. The footer already read is not read again.
      * Values are the stored bytes (a string column's UTF-8). Files whose
      * `column` is absent or not BINARY contribute nothing. */
    def headValues(column: String, n: Int): Seq[Array[Byte]] = {
      val out = mutable.ArrayBuffer.empty[Array[Byte]]
      val files = dataFiles.iterator
      while (out.size < n && files.hasNext) {
        val f = files.next()
        val rd =
          if (f == footerFile) ParquetFileReader.open(conf, f, footer)
          else ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
        try {
          val fileMeta = rd.getFooter.getFileMetaData
          val schema = fileMeta.getSchema
          val field = Option.when(schema.containsField(column))(
            schema.getType(schema.getFieldIndex(column)))
          if (field.exists(f => f.isPrimitive && f.asPrimitiveType.getPrimitiveTypeName ==
              PrimitiveType.PrimitiveTypeName.BINARY)) {
            val projection = new MessageType(schema.getName, field.get)
            val desc = projection.getColumns.get(0)
            rd.setRequestedSchema(projection)
            var rowGroup = rd.readNextRowGroup()
            while (rowGroup != null) {
              val values = new ColumnReadStoreImpl(rowGroup,
                new GroupRecordConverter(projection).getRootConverter, projection,
                fileMeta.getCreatedBy).getColumnReader(desc)
              var i = 0L
              while (i < rowGroup.getRowCount && out.size < n) {
                if (values.getCurrentDefinitionLevel == desc.getMaxDefinitionLevel)
                  out += values.getBinary.getBytes
                values.consume()
                i += 1
              }
              rowGroup = if (out.size < n) rd.readNextRowGroup() else null
            }
          }
        } finally rd.close()
      }
      out.toSeq
    }
  }

  /** Plan the parquet read at `path`, plain or GeoParquet; see [[Planned]]. */
  def plan(s: SparkSession, path: String): Planned = {
    val conf = s.sessionState.newHadoopConf()
    val leaves = listLeaves(conf, path)
    val file = leaves.find(_.getName == ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
      .orElse(leaves.find(_.getName == ParquetFileWriter.PARQUET_METADATA_FILE))
      .orElse(leaves.find(!isSummary(_)))
      .getOrElse(throw new IllegalArgumentException(s"no parquet file under '$path'"))
    // a summary file's row groups (every file's, for `_metadata`) are
    // not needed; a data file's are what headValues reads
    val rd = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf),
      HadoopReadOptions.builder(conf, file)
        .withMetadataFilter(if (isSummary(file)) ParquetMetadataConverter.SKIP_ROW_GROUPS
          else ParquetMetadataConverter.NO_FILTER).build())
    val meta = try rd.getFooter finally rd.close()
    val schema = ParquetFileFormat.readSchemaFromFooter(new ParquetFooter(file, meta),
      new ParquetToSparkSchemaConverter(s.sessionState.conf))
    val scan = s.read.schema(schema).parquet(path)
    val df = Option(meta.getFileMetaData.getKeyValueMetaData.get("geo")).fold(scan) { geo =>
      val (primary, crs) = parseGeo(path, geo)
      require(scan.schema.fieldNames.contains(primary),
        s"$path: primary_column '$primary' absent from parquet schema")
      scan.withMetadata(primary, new MetadataBuilder()
        .putBoolean(SchemaHeuristics.GeometryTag, true)
        .putString(CrsTag, crs).build())
    }
    new Planned(df, conf, leaves.filterNot(isSummary), file, meta)
  }

  /** Read parquet at `path`, plain or GeoParquet (see [[Planned]]). */
  def readParquet(s: SparkSession, path: String): DataFrame = plan(s, path).df

  /** Read a GeoParquet file; plain parquet fails loudly. */
  def read(s: SparkSession, path: String): DataFrame = {
    val df = readParquet(s, path)
    require(df.schema.exists(_.metadata.contains(CrsTag)),
      s"$path carries no GeoParquet 'geo' footer metadata — read it as plain parquet")
    df
  }
}
