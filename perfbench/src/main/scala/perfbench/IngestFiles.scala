package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.Graft
import graft.functions.GeoFunctions
import graft.plans.{IngestJob, IngestPipeline, ParquetSink}
import graft.sources.{FileTypeDetector, FlatGeobuf}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The paper's path: detect → read → find geometry → infer CRS → reproject
  * → parquet sink, over the file mix perfbench/gen.py wrote. A round
  * ingests every file once; untraced it is one `Graft.processFileToParquet`
  * call per file, traced the same steps are made one by one
  * (`FileTypeDetector.detect`, `IngestPipeline.plan`, the sink calls of
  * `IngestPipeline.run`) so each gets a span. */
final class IngestFiles extends Workload {
  final case class In(name: String, format: String, crs: String, size: String,
      path: String, rows: Long, bytes: Long) {
    def kind = s"${size}_$format"
  }

  private var files: Seq[In] = Nil
  private val inferredCrs = mutable.LinkedHashMap.empty[String, Option[String]]
  private def outRoot(ctx: Ctx) = s"${ctx.work}/out"
  override val warmupRounds = 2

  override def opKinds: Seq[String] = files.filter(_.size == "small").map(_.kind).distinct

  override def setup(ctx: Ctx): Unit = {
    val manifest = new ObjectMapper().readTree(new File(s"${ctx.work}/manifest.json"))
    files = manifest.elements().asScala.map { n =>
      In(n.get("name").asText, n.get("format").asText, n.get("crs").asText,
        n.get("size").asText, n.get("path").asText, n.get("rows").asLong, 0L)
    }.toSeq
    files.filter(_.format == "fgb").foreach(writeFgb)
    files = files.map(f => f.copy(bytes = new File(f.path).length()))
  }

  /** Encode gen.py's projected points with the engine's fgb writer. */
  private def writeFgb(f: In): Unit = {
    val props = StructType(Seq(StructField("id", LongType), StructField("name", StringType)))
    val rows = Files.readAllLines(Paths.get(f.path + ".points.csv")).asScala.map { line =>
      val Array(id, x, y) = line.split(",")
      (Row(id.toLong, s"site $id"), (x.toDouble, y.toDouble))
    }.toSeq
    FlatGeobuf.write(f.path, "sites", props, rows, epsg = f.crs.toInt)
  }

  private def ingest(ctx: Ctx, f: In): Unit = ctx.op(f.kind, s"file:${f.name}", f.rows) {
    val res =
      if (!ctx.tracer.enabled) Graft.processFileToParquet(ctx.spark, f.path, f.name, outRoot(ctx))
      else {
        val t = ctx.tracer
        t.span("sources.detect")(FileTypeDetector.detect(f.path))
        val prepared = t.span("plans.ingest_plan")(
          IngestPipeline.plan(ctx.spark, IngestJob(f.path, f.name, "public")))
        t.span("plans.sink_write") {
          val sink = new ParquetSink(outRoot(ctx))
          sink.createSchema("public")
          sink.dropTable("public", prepared.tableName)
          sink.writeGeo(prepared.transformed, "public", prepared.tableName,
            prepared.geometry.names)
        }
        prepared
      }
    inferredCrs(f.name) = res.crs
  }


  override def round(ctx: Ctx): Unit = files.foreach(ingest(ctx, _))

  override def verify(ctx: Ctx): Unit = {
    files.foreach { f =>
      ctx.check(inferredCrs.get(f.name).contains(Some(f.crs)),
        s"${f.name}: source CRS ${inferredCrs.get(f.name)} but the file is EPSG:${f.crs}")
    }
    // where each file landed, for the row/id/coordinate checks in check.py
    val out = files.map { f =>
      s"${Json.str(f.name)}:${Json.str(s"${outRoot(ctx)}/public/${FileTypeDetector.cleanTableName(f.name)}")}"
    }.mkString("{", ",", "}")
    Files.write(Paths.get(ctx.work, "outputs.json"), out.getBytes(UTF_8))
  }

  override def layerMetrics(ctx: Ctx, rounds: Int): Seq[(String, Double, String)] = {
    val t = ctx.tracer
    val timedFiles = files.map(f => f -> ctx.listener.total(_ == s"file:${f.name}"))
    val jobs = timedFiles.map(_._2.jobs).sum.toDouble / (files.length * rounds)
    def inputRatio(sel: In => Boolean) = {
      val sub = timedFiles.filter(x => sel(x._1))
      sub.map(_._2.inputBytes).sum.toDouble / (sub.map(_._1.bytes).sum * rounds)
    }
    val opsByKind = ctx.ops.groupBy(_.kind)
    val large = files.filter(_.size == "large").map(_.kind).flatMap(opsByKind.getOrElse(_, Nil))
    val small = files.filter(_.size == "small").map(_.kind).flatMap(opsByKind.getOrElse(_, Nil))
    val perFormat = files.map(_.format).distinct.map { fmt =>
      val s = files.filter(_.format == fmt).map(_.kind).distinct
        .flatMap(opsByKind.getOrElse(_, Nil)).map(_.seconds).sum
      (s"ingest.${fmt}_s", s / rounds, "s")
    }
    Seq(
      ("sources.detect_s", Stats.median(t.seconds("sources.detect")), "s"),
      ("plans.ingest_plan_s", Stats.median(t.seconds("plans.ingest_plan")), "s"),
      ("plans.sink_write_s", Stats.median(t.seconds("plans.sink_write")), "s"),
      ("ingest.spark_jobs_per_file", jobs, "count"),
      ("ingest.input_bytes_per_file_byte", inputRatio(_ => true), "ratio"),
      ("ingest.csv_input_bytes_per_file_byte", inputRatio(_.format == "csv"), "ratio"),
      ("ingest.rows_per_s", large.map(_.rows).sum / large.map(_.seconds).sum, "rows/s"),
      ("ingest.small_file_p50_s", Stats.median(small.map(_.seconds).toSeq), "s"),
      ("functions.crs_transform_rows_per_s", transformRowsPerS(ctx), "rows/s")) ++ perFormat
  }

  /** The reprojection kernel alone: WKB points in 27700 and 3857 through
    * `GeoFunctions.stTransformWkbToWkt` into a no-op sink; one warm pass,
    * then the median of three. */
  private def transformRowsPerS(ctx: Ctx): Double = Engine.label(ctx.spark.sparkContext, "probe") {
    val passes = for (srs <- Seq(27700, 3857)) yield {
      val df = ctx.spark.read.parquet(s"${ctx.work}/kernel_$srs.parquet")
      val n = df.count()
      def pass(): Double = {
        val t0 = System.nanoTime()
        df.select(GeoFunctions.stTransformWkbToWkt(col("geom"), srs, 4326))
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      pass()
      n / Stats.median(Seq.fill(3)(pass()))
    }
    passes.sum / passes.length
  }
}
