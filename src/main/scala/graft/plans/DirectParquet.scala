package graft.plans

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{JobContext, TaskAttemptContext}
import org.apache.spark.internal.io.{FileCommitProtocol, FileNameSpec}
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.execution.datasources.{FileFormatWriter, WriteJobStatsTracker, WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable

/** The one parquet write path of every TxLog data file: Spark's own
  * `FileFormatWriter` — the writer `df.write.parquet` runs, so encoding,
  * nested and decimal columns, codec names, hive partition paths (dates
  * included), `maxRecordsPerFile` and the sort-within-task of partitioned
  * writes are Spark's — with the two pieces Spark does not provide
  * (Delta Lake's shape):
  *
  *  - [[InPlaceCommitProtocol]]: each task writes its files straight to
  *    their final names under the commit dir. There is no `_temporary`
  *    staging and no rename, because the TxLog manifest entry is what makes
  *    a file visible. Names are unique per file (`part-<split>-<uuid>`), so
  *    a retried or speculative attempt never collides with an earlier one;
  *    a failed attempt deletes its own files and a failed job its commit
  *    dir, and a file a lost attempt leaves behind is an orphan for vacuum.
  *  - [[ZoneMapTracker]]: a write-stats tracker that computes each file's
  *    zone maps and row count inside the write task, so the commit path
  *    opens no footer.
  *
  * Stats parity with the footer harvest ([[TxLog.fileStats]]), pinned by
  * DirectParquetSpec: integral columns → kind "long", float/double →
  * "double" (float endpoints rendered via Float.toString exactly like
  * parquet's typed footer statistics), string → "string" through the
  * same [[TxLog.boundString]] prefix bounding; every other type (boolean,
  * date, timestamp, decimal, nested) carries no stats, as fileStats skips
  * them too; all-null columns drop out (footer `hasNonNullValue`); a
  * float/double column containing NaN drops its stats (parquet-format
  * tells readers not to trust NaN orderings — absent stats only ever mean
  * "always scan"). String comparisons use the unsigned-UTF-8-byte order
  * of parquet's column order and [[TxLog.statLt]]. */
private[graft] object DirectParquet {

  /** Write `df` as parquet under `outDir`, hive-partitioned by
    * `partitionBy`, returning each file's (outDir-relative path, data-column
    * zone maps + row count), sorted by path. Partition values stay in the
    * paths; a NULL (or, as Spark maps it, empty-string) partition value
    * deletes the write and refuses with an IllegalArgumentException. */
  def write(df: DataFrame, outDir: String, partitionBy: Seq[String] = Nil)
      : Seq[(String, Map[String, TxLog.ColStats])] = {
    val qe = df.queryExecution
    val spark = qe.sparkSession
    val plan = qe.executedPlan
    val resolver = spark.sessionState.conf.resolver
    val partCols = partitionBy.map(c => plan.output.find(a => resolver(a.name, c))
      .getOrElse(throw new IllegalArgumentException(s"partition column $c not in the written frame")))
    val dataCols = plan.output.filterNot(a => partCols.exists(_.exprId == a.exprId))
    require(dataCols.nonEmpty, "cannot use all columns as partition columns")
    val tracker = new ZoneMapTracker(StructType(dataCols.map(a =>
      StructField(a.name, a.dataType, a.nullable))))
    val committer = new InPlaceCommitProtocol(outDir)
    // The write opens no SQL execution: inside one, adaptive execution
    // posts a plan-update event (explain string + plan tree) per query
    // stage, which cost the table_dml benchmark ~9% of its round time
    // (4 vCPUs).
    FileFormatWriter.write(spark, plan, new ParquetFileFormat, committer,
      FileFormatWriter.OutputSpec(outDir, Map.empty, plan.output),
      taskConf(spark), partCols, None, Seq(tracker), Map.empty)
    val out = tracker.files.map { case (path, st) => path.stripPrefix(outDir + "/") -> st }
    if (out.exists(_._1.contains(ExternalCatalogUtils.DEFAULT_PARTITION_NAME))) {
      committer.deleteDir(spark.sessionState.newHadoopConf())
      throw new IllegalArgumentException(
        s"partition column(s) ${partitionBy.mkString(", ")} carry NULL values — " +
          "a graft partition value must be non-null")
    }
    out.sortBy(_._1)
  }

  /** Hadoop's own defaults: the `*-default.xml` resources alone, no site
    * file and no session setting. */
  private lazy val hadoopDefaults: Configuration = {
    val c = new Configuration(false)
    Seq("core-default.xml", "hdfs-default.xml", "mapred-default.xml", "yarn-default.xml")
      .foreach(c.addResource)
    c
  }

  /** The session's Hadoop conf without the entries that repeat
    * [[hadoopDefaults]]. The write serializes its conf into every task, and
    * a local session's full conf (1,097 entries, 113 KB; 24 differ from the
    * defaults) cost a one-task, 4,000-row write ~29 ms: 84 → 55 ms median,
    * single-JVM alternating A/B, 40 pairs, 4 vCPUs. A task reading a
    * dropped key gets Hadoop's code default for it. */
  private def taskConf(spark: org.apache.spark.sql.SparkSession): Configuration = {
    val out = new Configuration(false)
    spark.sessionState.newHadoopConf().iterator().forEachRemaining { e =>
      if (hadoopDefaults.getRaw(e.getKey) != e.getValue) out.set(e.getKey, e.getValue)
    }
    out
  }

  /** Files go straight to `<dir>/[col=value/…]/part-<split>-<uuid><ext>`;
    * see the object doc. One instance per write job; each task works on
    * its own deserialized copy, which remembers the files its attempt
    * opened. */
  private final class InPlaceCommitProtocol(dir: String)
      extends FileCommitProtocol with Serializable {
    @transient private var attemptFiles: mutable.ArrayBuffer[String] = _

    def deleteDir(conf: Configuration): Unit = {
      val p = new Path(dir)
      p.getFileSystem(conf).delete(p, true): Unit
    }

    override def setupJob(job: JobContext): Unit = ()
    override def commitJob(job: JobContext, msgs: Seq[TaskCommitMessage]): Unit = ()
    override def abortJob(job: JobContext): Unit = deleteDir(job.getConfiguration)

    override def setupTask(ctx: TaskAttemptContext): Unit =
      attemptFiles = mutable.ArrayBuffer.empty

    override def newTaskTempFile(
        ctx: TaskAttemptContext, subDir: Option[String], spec: FileNameSpec): String = {
      val split = ctx.getTaskAttemptID.getTaskID.getId
      val name = f"${spec.prefix}part-$split%05d-${java.util.UUID.randomUUID()}${spec.suffix}"
      val path = subDir.fold(s"$dir/$name")(d => s"$dir/$d/$name")
      attemptFiles += path
      path
    }

    override def commitTask(ctx: TaskAttemptContext): TaskCommitMessage =
      new TaskCommitMessage(None) // the stats tracker reports the files

    override def abortTask(ctx: TaskAttemptContext): Unit =
      if (attemptFiles != null) attemptFiles.foreach { f =>
        val p = new Path(f)
        p.getFileSystem(ctx.getConfiguration).delete(p, false): Unit
      }
  }

  /** One task's (file path → zone maps + row count). */
  private final case class FileZoneMaps(
      files: Seq[(String, Map[String, TxLog.ColStats])]) extends WriteTaskStats

  /** Per-file zone maps computed in the write tasks; `files` holds the
    * job's result once the job commits. `dataSchema` is
    * the schema of the rows the writer hands the tracker (partition
    * columns projected out). */
  private final class ZoneMapTracker(dataSchema: StructType) extends WriteJobStatsTracker {
    @transient var files: Seq[(String, Map[String, TxLog.ColStats])] = Nil

    override def newTaskInstance(): WriteTaskStatsTracker = new WriteTaskStatsTracker {
      private val open = mutable.HashMap.empty[String, StatsCollector]
      private val done = Seq.newBuilder[(String, Map[String, TxLog.ColStats])]
      override def newPartition(values: InternalRow): Unit = ()
      override def newFile(path: String): Unit = open(path) = new StatsCollector(dataSchema)
      override def newRow(path: String, row: InternalRow): Unit = open(path).update(row)
      override def closeFile(path: String): Unit =
        open.remove(path).foreach(c => done += path -> c.result())
      override def getFinalStats(taskCommitTime: Long): WriteTaskStats =
        FileZoneMaps(done.result())
    }

    override def processStats(stats: Seq[WriteTaskStats], jobCommitTime: Long): Unit =
      files = stats.flatMap(_.asInstanceOf[FileZoneMaps].files)
  }

  /** Per-column min/max and row-count tracker with [[TxLog.fileStats]]
    * parity (see object doc). One instance per file, updated per row. */
  private final class StatsCollector(schema: StructType) {
    private val n = schema.length
    private val kinds: Array[Int] = schema.fields.map(_.dataType match {
      case ByteType | ShortType | IntegerType | LongType => 1 // long
      case FloatType  => 2
      case DoubleType => 3
      case StringType => 4
      case _ => 0 // no stats (fileStats skips these types too)
    })
    private val dts = schema.fields.map(_.dataType)
    private val seen = new Array[Boolean](n)
    private val nan = new Array[Boolean](n)
    private val minL = new Array[Long](n); private val maxL = new Array[Long](n)
    private val minD = new Array[Double](n); private val maxD = new Array[Double](n)
    private val minF = new Array[Float](n); private val maxF = new Array[Float](n)
    private val minS = new Array[UTF8String](n); private val maxS = new Array[UTF8String](n)
    private var rows = 0L

    def update(row: InternalRow): Unit = {
      rows += 1
      var i = 0
      while (i < n) {
        if (kinds(i) != 0 && !row.isNullAt(i)) {
          kinds(i) match {
            case 1 =>
              val v: Long = dts(i) match {
                case ByteType => row.getByte(i).toLong
                case ShortType => row.getShort(i).toLong
                case IntegerType => row.getInt(i).toLong
                case _ => row.getLong(i)
              }
              if (!seen(i)) { minL(i) = v; maxL(i) = v }
              else {
                if (v < minL(i)) minL(i) = v
                if (v > maxL(i)) maxL(i) = v
              }
            case 2 =>
              // a single NaN poisons the column's stats (dropped in
              // result()), so no min/max tracking is needed past it
              val v = row.getFloat(i)
              if (java.lang.Float.isNaN(v)) nan(i) = true
              else if (!nan(i)) {
                if (!seen(i)) { minF(i) = v; maxF(i) = v }
                else {
                  if (v < minF(i)) minF(i) = v
                  if (v > maxF(i)) maxF(i) = v
                }
              }
            case 3 =>
              val v = row.getDouble(i)
              if (java.lang.Double.isNaN(v)) nan(i) = true
              else if (!nan(i)) {
                if (!seen(i)) { minD(i) = v; maxD(i) = v }
                else {
                  if (v < minD(i)) minD(i) = v
                  if (v > maxD(i)) maxD(i) = v
                }
              }
            case 4 =>
              val v = row.getUTF8String(i)
              if (!seen(i)) { minS(i) = v.clone(); maxS(i) = v.clone() }
              else {
                if (v.binaryCompare(minS(i)) < 0) minS(i) = v.clone()
                if (v.binaryCompare(maxS(i)) > 0) maxS(i) = v.clone()
              }
          }
          seen(i) = true
        }
        i += 1
      }
    }

    def result(): Map[String, TxLog.ColStats] = {
      val b = Map.newBuilder[String, TxLog.ColStats]
      var i = 0
      while (i < n) {
        if (seen(i)) kinds(i) match {
          case 1 => b += schema(i).name ->
            TxLog.ColStats("long", minL(i).toString, maxL(i).toString)
          case 2 => if (!nan(i)) b += schema(i).name ->
            TxLog.ColStats("double", minF(i).toString, maxF(i).toString)
          case 3 => if (!nan(i)) b += schema(i).name ->
            TxLog.ColStats("double", minD(i).toString, maxD(i).toString)
          case 4 => TxLog.boundString(minS(i).toString, maxS(i).toString)
            .foreach(cs => b += schema(i).name -> cs)
          case _ => ()
        }
        i += 1
      }
      b.result() + (TxLog.RowCountKey -> TxLog.ColStats("rows", rows.toString, rows.toString))
    }
  }
}
