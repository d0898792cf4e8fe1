package graft.plans

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.sources.GraftFileIndex
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** A from-scratch transaction log over immutable parquet files — the
  * piece a 100 TB training-data store needs that a directory of parquet
  * cannot give: ATOMIC multi-file commits (a half-written ingest batch is
  * never visible), snapshot-isolated reads, time travel to any prior
  * version, an incremental change feed between versions, and compaction
  * that rewrites layout without changing data.
  *
  * The reference recreates tables wholesale per file (CTAS,
  * core_processor.rs:391-428) and has no versioning surface at all; this
  * is the storage contract its ingest pipeline would need the moment two
  * writers or one writer + many readers share a corpus.
  *
  * Design (Spark-first, scale-first):
  *  - Data files are written by Spark's own parquet writer
  *    ([[DirectParquet]]) straight into a commit-unique subdirectory —
  *    executor-side, one file per task (and partition value), never
  *    mutated. The write tasks compute each file's zone maps, so the
  *    commit handles only file names and stats (O(files), not rows).
  *  - A commit is one small JSON file `_graft_log/<v020>.json` holding
  *    {op, add[], remove[], schema, dataChange}. Readers replay the log;
  *    the live set at version V is exactly (∪ add) − (∪ remove) over
  *    commits 1..V, so a reader sees every commit entirely or not at all.
  *  - Commit publication is an atomic create-if-absent: the record is
  *    staged to a temp file and hard-linked to its version name
  *    (`Files.createLink` fails atomically if the version exists — the
  *    POSIX analogue of an object store's conditional PUT). Losing the
  *    race re-reads the log, re-validates, and retries with the next
  *    version — optimistic concurrency, no locks.
  *  - Conflict rules: appends commute with everything (pure adds).
  *    Overwrite recomputes its remove set (the then-live files) on every
  *    retry. Compaction removes a FIXED file set; if a racing commit
  *    already removed any of them the compaction aborts with
  *    ConcurrentModificationException rather than resurrecting data.
  *  - Every CheckpointEvery-th commit also writes a checkpoint JSON with
  *    the full live-file list, so snapshot resolution reads one
  *    checkpoint + a bounded log suffix — O(1)-ish at 10k commits, not
  *    O(versions).
  *  - Schema is pinned at commit time and enforced on append (loud
  *    column-level error); overwrite may evolve it.
  *
  * At cluster scale the same layout works on any store with atomic
  * create-if-absent (HDFS create, S3 conditional PUT); only `publish`
  * would change.
  */
object TxLog {

  private val LogDirName = "_graft_log"
  private val CheckpointEvery = 10L
  private val mapper = new ObjectMapper()

  /** Per-file, per-column zone map recorded at commit time: `kind` is the
    * comparison domain (`long` | `double` | `string`), min/max rendered as
    * strings so the log stays schema-agnostic JSON. The per-file ROW
    * COUNT rides in the same map under the reserved `RowCountKey` (kind
    * `rows`, min = max = the count) — parquet footers carry it for free,
    * and it is what makes COUNT(*) a metadata-only query.
    *
    * `exact=false` marks BOUNDED string stats (Delta's approach): long
    * string values are truncated to a [[StringStatPrefix]]-code-point
    * prefix at harvest time — min's prefix is a valid lower bound, max's
    * prefix gets its last code point incremented into a valid upper
    * bound — so a 100 TB documents table never copies whole documents
    * into the log. Bounds prune files soundly either way; only
    * metadata-ONLY MIN/MAX (which must return attained values) refuses
    * inexact stats. */
  final case class ColStats(
      kind: String, min: String, max: String, exact: Boolean = true)

  /** Reserved stats key for the per-file row count (not a column name a
    * parquet file can carry, so it cannot collide). */
  val RowCountKey = "__row_count"

  /** One log entry. `add`/`remove` are table-relative file paths;
    * `dataChange=false` marks layout-only commits (compaction) that a
    * change feed must skip; `stats` maps each ADDED file to its column
    * zone maps; `txn` carries the (appId, batchId) idempotence token of a
    * streaming append; `partitionCols` names the table's hive-style
    * partition columns (their VALUES live in the added files' paths as
    * `col=value/` segments — the layout every 100 TB ingest uses — so
    * the log itself stays value-free). */
  final case class Commit(
      version: Long,
      op: String,
      add: Seq[String],
      remove: Seq[String],
      schemaJson: String,
      dataChange: Boolean,
      stats: Map[String, Map[String, ColStats]] = Map.empty,
      txn: Option[(String, Long)] = None,
      partitionCols: Seq[String] = Nil,
      ts: Long = 0L,
      cdf: Seq[String] = Nil,
      props: Map[String, String] = Map.empty,
      propsUnset: Seq[String] = Nil)

  /** Resolved table state as of a version. `txns` holds the highest
    * committed batchId per streaming appId — the exactly-once ledger. */
  final case class Snapshot(
      version: Long,
      files: Seq[String],
      schemaJson: String,
      stats: Map[String, Map[String, ColStats]] = Map.empty,
      txns: Map[String, Long] = Map.empty,
      partitionCols: Seq[String] = Nil,
      props: Map[String, String] = Map.empty)

  // ------------------------------------------------------------------
  // public API
  // ------------------------------------------------------------------

  /** Append `df` as a new commit. The parquet write runs distributed
    * (one file per partition, executor-side); only names reach the log.
    * Fails loudly if `df`'s schema does not match the table's.
    *
    * `partitionBy` (creation-time only) lays the table out hive-style:
    * files land under `col=value/` directories, the values ride in the
    * paths (the log stays value-free), and every later append inherits
    * the layout — passing a DIFFERENT partitioning to an existing table
    * refuses loudly. */
  /** Create an EMPTY table: version 1 carries the schema and partition
    * layout, no files. The DDL primitive a catalog needs — every later
    * append must match the declared schema (the same enforcement an
    * append-created table gets from its first commit). Refuses if the
    * table already has commits. */
  def create(table: String, schema: StructType, partitionBy: Seq[String] = Nil): Long = {
    val missing = partitionBy.filterNot(c => schema.fieldNames.contains(c))
    require(missing.isEmpty,
      s"partition column(s) ${missing.mkString(", ")} not in the declared schema")
    commit(table, "create", Seq.empty, dataChange = false,
      schemaPlan = _ => nullable(schema).json,
      partitionCols = partitionBy,
      removePlan = { snap =>
        if (snap.version > 0) throw new IllegalStateException(
          s"graft table $table already exists (version ${snap.version})")
        Seq.empty
      }).get
  }

  /** Metadata-only schema evolution: add nullable columns at the end of
    * the schema, zero file rewrites (old files read NULL under the new
    * explicit scan schema — the appendEvolve contract, without rows).
    * The ALTER TABLE ADD COLUMNS primitive a catalog needs. */
  def evolveSchema(table: String, add: Seq[org.apache.spark.sql.types.StructField]): Long = {
    require(add.nonEmpty, "evolveSchema: no columns to add")
    commit(table, "evolve", Seq.empty, dataChange = false,
      partitionColsPlan = Some(_.partitionCols),
      schemaPlan = { snap =>
        val cur = DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]
        val dup = add.map(_.name).filter(n =>
          cur.fieldNames.exists(_.equalsIgnoreCase(n)))
        if (dup.nonEmpty) throw new IllegalArgumentException(
          s"column(s) ${dup.mkString(", ")} already exist in $table")
        StructType(cur.fields ++ add.map(_.copy(nullable = true))).json
      },
      removePlan = _ => Seq.empty).get
  }

  /** Set table properties as one metadata-only commit (last write wins
    * per key; replay folds them, checkpoints persist them). The storage
    * slot TBLPROPERTIES and CHECK constraints ride on. */
  def setProperties(table: String, props: Map[String, String]): Long = {
    require(props.nonEmpty, "setProperties: nothing to set")
    require(!props.keys.exists(_.startsWith(ConstraintPrefix)),
      "graft: CHECK constraints are added via ADD CONSTRAINT (TxLog." +
        "addConstraint) — a raw property write would skip validating " +
        "existing rows")
    commit(table, "setproperties", Seq.empty, dataChange = false,
      schemaPlan = _.schemaJson,
      partitionColsPlan = Some(_.partitionCols),
      props = props, removePlan = _ => Seq.empty).get
  }

  /** Remove table properties (absent keys are a no-op, Delta's UNSET). */
  def unsetProperties(table: String, keys: Seq[String]): Long = {
    require(keys.nonEmpty, "unsetProperties: nothing to unset")
    commit(table, "setproperties", Seq.empty, dataChange = false,
      schemaPlan = _.schemaJson,
      partitionColsPlan = Some(_.partitionCols),
      propsUnset = keys, removePlan = _ => Seq.empty).get
  }

  /** Current table properties (constraint entries included, under
    * `constraint.<name>` keys). */
  def properties(table: String): Map[String, String] = replay(table, None).props

  private val ConstraintPrefix = "constraint."

  /** Add a CHECK constraint: existing rows are validated FIRST (one scan,
    * loud sample on violation — a constraint that the table already
    * breaks must never commit), then the expression text persists as a
    * `constraint.<name>` property. Every subsequent write that introduces
    * NEW rows (append/overwrite/insert, update/merge post-values)
    * validates against it before its commit publishes; SQL CHECK
    * semantics — a NULL condition passes, only FALSE violates. */
  def addConstraint(
      spark: SparkSession, table: String, name: String, exprSql: String): Long = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"constraint name '$name' must be an identifier")
    val snap = replay(table, None)
    require(!snap.props.contains(s"$ConstraintPrefix$name"),
      s"constraint $name already exists on $table " +
        s"(${snap.props(s"$ConstraintPrefix$name")})")
    commit(table, "constraint", Seq.empty, dataChange = false,
      schemaPlan = _.schemaJson,
      partitionColsPlan = Some(_.partitionCols),
      props = Map(s"$ConstraintPrefix$name" -> exprSql),
      // validated against the THEN-CURRENT rows INSIDE the publish retry
      // loop: an append that wins the version race is re-scanned before
      // this constraint can commit over it
      newRowCheck = { now =>
        val bad = readFiles(spark, table, now)
          .filter(not(coalesce(expr(exprSql), lit(true)))).limit(3).collect()
        if (bad.nonEmpty)
          throw new IllegalArgumentException(
            s"cannot add CHECK constraint $name ($exprSql) to $table: " +
              s"${bad.length}+ existing row(s) violate it, e.g. ${bad.head}")
      },
      removePlan = _ => Seq.empty).get
  }

  /** Drop a CHECK constraint (loud if absent — a typo must not read as
    * success). */
  def dropConstraint(table: String, name: String): Long = {
    val snap = replay(table, None)
    require(snap.props.contains(s"$ConstraintPrefix$name"),
      s"no constraint named $name on $table")
    val v = unsetProperties(table, Seq(s"$ConstraintPrefix$name"))
    v
  }

  /** The table's CHECK constraints, from its property map. */
  private def constraintsOf(props: Map[String, String]): Map[String, String] =
    props.collect {
      case (k, v) if k.startsWith(ConstraintPrefix) =>
        k.stripPrefix(ConstraintPrefix) -> v
    }

  /** One combined violation probe over `df`; the violating constraint is
    * named by a bounded per-constraint recheck only on the error path. */
  private def probeConstraints(
      df: DataFrame, cs: Map[String, String], table: String, what: String): Unit = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    val anyBad = df.filter(
      cs.values.map(sql => not(coalesce(expr(sql), lit(true))))
        .reduce(_ || _)).limit(3).collect()
    if (anyBad.nonEmpty) {
      val culprit = cs.find { case (_, sql) =>
        df.filter(not(coalesce(expr(sql), lit(true)))).limit(1).count() > 0
      }.map { case (n, sql) => s"$n ($sql)" }.getOrElse(cs.keys.mkString(", "))
      throw new IllegalArgumentException(
        s"graft: $what on $table violates CHECK constraint $culprit — " +
          s"e.g. ${anyBad.head}; fix the data or DROP CONSTRAINT first")
    }
  }

  /** Constraint gate for a writer's commit: validates the WRITTEN BYTES
    * (never a re-evaluation of the input plan, which a nondeterministic
    * source could desynchronize) against the constraints of the
    * THEN-CURRENT snapshot, and runs INSIDE the commit publish retry
    * loop — so a concurrent ADD CONSTRAINT that wins the version race is
    * enforced on this write when it retries (the same per-retry
    * re-validation the txn ledger and remove plans already get). Free
    * when the table carries no constraints. A refused write leaves only
    * vacuumable orphan files; nothing commits. */
  private def constraintGate(
      spark: SparkSession, table: String, files: Seq[String],
      schemaJson: String, partitionCols: Seq[String], what: String)
      : Snapshot => Unit = { now =>
    val cs = constraintsOf(now.props)
    if (cs.nonEmpty && files.nonEmpty) {
      val batch = readFiles(spark, table, Snapshot(now.version, files,
        schemaJson, partitionCols = partitionCols))
      // a constraint may reference a table column this batch does not
      // carry (appendEvolve, restore to a pre-evolution version): those
      // columns read as NULL from the batch's files, and NULL passes
      // CHECK — null-backfill so the probe resolves the same way reads do
      val tableSchema =
        if (now.schemaJson.nonEmpty)
          DataType.fromJson(now.schemaJson).asInstanceOf[StructType]
        else batch.schema
      val probeDf = tableSchema.fields
        .filterNot(f => batch.columns.exists(_.equalsIgnoreCase(f.name)))
        .foldLeft(batch)((d, f) => d.withColumn(f.name,
          org.apache.spark.sql.functions.lit(null).cast(f.dataType)))
      probeConstraints(probeDf, cs, table, what)
    }
  }

  /** CONVERT an existing parquet directory (flat or hive-partitioned)
    * into a graft table IN PLACE — the adoption path (Delta's CONVERT TO
    * DELTA): files MOVE (same-filesystem rename, no bytes copied) under
    * the log's `data/` layout preserving their partition segments, one
    * commit adds them all with footer-harvested zone maps + synthesized
    * partition stats, and from then on every reader/writer goes through
    * the log. Partition column TYPES come from Spark's own partition
    * discovery over the original layout. Quiesce direct readers of the
    * old paths first — their file names move. Refuses directories that
    * are already graft tables. */
  def convert(
      spark: SparkSession, table: String, partitionBy: Seq[String] = Nil): Long = {
    require(latestVersion(table) == 0,
      s"$table is already a graft table — CONVERT adopts plain parquet only")
    val root = Paths.get(table)
    require(Files.isDirectory(root), s"$table is not a directory")
    val discovered = {
      val stream = Files.walk(root)
      try stream.iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet"))
        .map(p => relativize(table, p)).toSeq.sorted
      finally stream.close()
    }
    require(discovered.nonEmpty, s"no parquet files under $table to convert")
    // schema (with typed partition columns) from Spark's own discovery,
    // BEFORE any file moves
    val schema = nullable(spark.read.parquet(table).schema)
    partitionBy.foreach(c => require(schema.fieldNames.contains(c),
      s"partition column $c not found by discovery over $table " +
        s"(saw ${schema.fieldNames.mkString(", ")})"))
    // BEFORE any file moves: every file must carry every declared
    // partition segment (a bad PARTITIONED BY must never half-destroy
    // the original layout), and a hive-partitioned directory converted
    // WITHOUT its partition columns would silently read those columns
    // as NULL (values live only in the paths) — refuse loudly instead
    val segCols: Set[String] = discovered.flatMap(_.split("/").dropRight(1)
      .flatMap { seg =>
        val i = seg.indexOf('=')
        if (i <= 0) None else Some(seg.substring(0, i))
      }).toSet
    val undeclared = segCols.filter(c =>
      schema.fieldNames.exists(_.equalsIgnoreCase(c)) &&
        !partitionBy.exists(_.equalsIgnoreCase(c)))
    require(undeclared.isEmpty,
      s"$table is hive-partitioned by ${undeclared.mkString(", ")} — " +
        "converting without PARTITIONED BY would read those columns as " +
        s"NULL; use CONVERT TO GRAFT ... PARTITIONED BY " +
        s"(${(partitionBy ++ undeclared).mkString(", ")})")
    partitionBy.foreach { c =>
      val missing = discovered.filterNot(
        _.split("/").exists(_.toLowerCase.startsWith(c.toLowerCase + "=")))
      require(missing.isEmpty,
        s"cannot convert $table: ${missing.length} file(s) lack a $c= " +
          s"partition segment, e.g. ${missing.take(2).mkString(", ")}")
    }
    // the SAME guards every fresh write gets: NULL partition segments
    // and non-round-tripping partition types would make the adopted
    // table unprunable or append-dead
    requirePartitionable(schema, partitionBy)
    require(discovered.forall(!_.contains("__HIVE_DEFAULT_PARTITION__")),
      s"cannot convert $table: partition column(s) " +
        s"${partitionBy.mkString(", ")} carry NULL values " +
        "(__HIVE_DEFAULT_PARTITION__ segments) — a graft partition value " +
        "must be non-null")
    val commitId = "convert" + java.util.UUID.randomUUID()
      .toString.replace("-", "").take(9)
    val dataDir = Paths.get(table, "data", commitId)
    Files.createDirectories(dataDir)
    val moved = discovered.map { rel =>
      val dst = dataDir.resolve(rel)
      Files.createDirectories(dst.getParent)
      Files.move(Paths.get(table, rel), dst)
      s"data/$commitId/$rel"
    }
    val stats = harvestStats(table, moved, partitionBy, schema)
    commit(table, "convert", moved, dataChange = true,
      schemaPlan = _ => schema.json, stats = stats,
      partitionCols = partitionBy, removePlan = _ => Seq.empty).get
  }

  /** ZERO-COPY clone: `dst` becomes an independent graft table whose
    * version 1 carries `src`'s live files (as of `asOf`, head if None)
    * via HARD LINKS — no data bytes move, zone maps/schema/partition
    * layout/properties carry over, and the clone is SAFER than a
    * path-referencing shallow clone: the links keep the shared bytes
    * alive even after the source vacuums or drops the original names,
    * and copy-on-write means neither table can ever mutate the other's
    * rows. The dev-on-prod-data primitive at any table size. */
  def cloneTable(src: String, dst: String, asOf: Option[Long] = None): Long = {
    val snap = replay(src, Some(asOf.getOrElse(latestVersion(src))))
    require(latestVersion(dst) == 0, s"$dst is already a graft table")
    val missing = snap.files.filterNot(f => Files.exists(Paths.get(src, f)))
    require(missing.isEmpty,
      s"cannot clone $src@${snap.version}: ${missing.length} file(s) " +
        s"vacuumed: ${missing.take(3).mkString(", ")}")
    snap.files.foreach { rel =>
      val to = Paths.get(dst, rel)
      Files.createDirectories(to.getParent)
      Files.createLink(to, Paths.get(src, rel))
    }
    commit(dst, "clone", snap.files, dataChange = true,
      schemaPlan = _ => snap.schemaJson, stats = snap.stats,
      partitionCols = snap.partitionCols,
      props = snap.props + ("graft.clonedFrom" -> s"$src@${snap.version}"),
      removePlan = _ => Seq.empty).get
  }

  def append(df: DataFrame, table: String, partitionBy: Seq[String] = Nil): Long = {
    val parts = effectivePartitioning(table, partitionBy)
    val (files, schemaJson, stats) = writeData(df, table, parts)
    commit(table, "append", files, dataChange = true, schemaPlan = _ => schemaJson,
      stats = stats, partitionCols = parts,
      newRowCheck = constraintGate(df.sparkSession, table, files, schemaJson,
        parts, "append"),
      removePlan = { snap =>
        if (snap.version > 0 && snap.schemaJson.nonEmpty)
          requireSchemaMatch(snap.schemaJson, schemaJson, table)
        Seq.empty
      }).get
  }

  /** The table's partition columns an op must write with: an existing
    * table's layout wins (a mismatched explicit request refuses); a new
    * table takes the request. */
  private def effectivePartitioning(table: String, requested: Seq[String]): Seq[String] =
    if (latestVersion(table) == 0) requested
    else {
      val existing = replay(table, None).partitionCols
      require(requested.isEmpty || requested == existing,
        s"table $table is partitioned by [${existing.mkString(", ")}]; " +
          s"cannot write with [${requested.mkString(", ")}]")
      existing
    }

  /** Canonicalize a `PARTITION (k='v', …)` spec against the table's
    * partition columns: spec values arrive as raw SQL strings ('05' on
    * an INT column); cast through the column's own type so they compare
    * in the SAME domain as the path-borne values the writer produced.
    * Loud on non-partition columns and unparsable values. */
  private def canonicalSpec(
      table: String, snap: Snapshot, staticSpec: Map[String, String])
      : Map[String, String] = {
    if (staticSpec.isEmpty) return Map.empty
    val tableSchema = DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]
    staticSpec.map { case (k, v) =>
      val name = snap.partitionCols.find(_.equalsIgnoreCase(k)).getOrElse(
        throw new IllegalArgumentException(
          s"PARTITION column $k is not a partition column of $table " +
            s"(partitioned by ${snap.partitionCols.mkString(", ")})"))
      val typed = partitionValue(v, tableSchema(name).dataType)
      require(typed != null,
        s"PARTITION ($k='$v') does not parse as ${tableSchema(name).dataType.sql}")
      val canon = Cast(Literal(typed, tableSchema(name).dataType),
        org.apache.spark.sql.types.StringType,
        timeZoneId = Some(SQLConf.get.sessionLocalTimeZone)).eval(null).toString
      name -> canon
    }
  }

  /** Partition-SCOPED overwrite — the two semantics Spark gives
    * `INSERT OVERWRITE` on partitioned tables, made atomic by the log:
    *
    *  - `dynamic = true` (partitionOverwriteMode=dynamic): replace
    *    exactly the partitions the written data LANDED in; untouched
    *    partitions survive. `staticSpec` (if any) additionally pins
    *    those columns — rows outside it refuse.
    *  - `dynamic = false` with a static `PARTITION (k='v' …)` spec:
    *    replace every live file under the spec's subtree (Hive/Spark
    *    static semantics — the spec names the subtree to clear), then
    *    add the written files. A full-table static overwrite (empty
    *    spec) is plain [[overwrite]].
    *
    * One commit swaps the replaced partitions atomically: readers see
    * the old set or the new set, never a mix. The remove list is
    * recomputed per publish retry, so a racing append to an UNtouched
    * partition commutes. */
  def overwritePartitions(
      df: DataFrame, table: String,
      staticSpec: Map[String, String] = Map.empty,
      dynamic: Boolean = true): Long = {
    val snap = replay(table, None)
    require(snap.partitionCols.nonEmpty,
      s"$table is not partitioned — partition-scoped overwrite needs a " +
        "hive-partitioned table (plain overwrite replaces the whole table)")
    val spec = canonicalSpec(table, snap, staticSpec)
    val (files, schemaJson, stats) = writeData(df, table, snap.partitionCols)
    val written = files.map(f => partitionValuesOf(f, snap.partitionCols))
    spec.foreach { case (k, v) =>
      val strays = written.filterNot(_.get(k).contains(v))
      require(strays.isEmpty,
        s"INSERT OVERWRITE PARTITION ($k='$v'): ${strays.length} written " +
          s"file(s) carry other $k values — rows must match the static spec")
    }
    val writtenSet = written.toSet
    def replaced(pv: Map[String, String]): Boolean =
      if (dynamic) writtenSet.contains(pv)
      else spec.forall { case (k, v) => pv.get(k).contains(v) }
    commit(table, "overwrite", files, dataChange = true,
      schemaPlan = _ => schemaJson, stats = stats,
      partitionCols = snap.partitionCols,
      newRowCheck = constraintGate(df.sparkSession, table, files, schemaJson,
        snap.partitionCols, "partition overwrite"),
      removePlan = { now =>
        // re-validate per publish retry (the append contract): survivors
        // in untouched partitions make a stale schema WRONG here — a
        // concurrent evolve must abort this overwrite loudly, never be
        // silently reverted at HEAD
        if (now.schemaJson.nonEmpty) requireSchemaMatch(now.schemaJson, schemaJson, table)
        now.files.filter(f => replaced(partitionValuesOf(f, snap.partitionCols)))
      }).get
  }

  /** Exactly-once streaming append: commits carry an (appId, batchId)
    * token, and a batch at or below the app's committed high-water mark
    * is SKIPPED (returns None, table unchanged) — so a replayed
    * foreachBatch epoch re-commits idempotently. The token is
    * re-validated inside the publish retry loop, so two replays racing
    * each other cannot double-commit; the loser's data files become
    * vacuum-able orphans, never table content. */
  def appendIdempotent(
      df: DataFrame, table: String, appId: String, batchId: Long,
      partitionBy: Seq[String] = Nil): Option[Long] = {
    if (latestVersion(table) > 0 &&
      replay(table, None).txns.get(appId).exists(_ >= batchId)) return None
    val parts = effectivePartitioning(table, partitionBy)
    val (files, schemaJson, stats) = writeData(df, table, parts)
    commit(table, "append", files, dataChange = true, schemaPlan = _ => schemaJson,
      stats = stats, txn = Some(appId -> batchId), partitionCols = parts,
      newRowCheck = constraintGate(df.sparkSession, table, files, schemaJson,
        parts, "append"),
      removePlan = { snap =>
        if (snap.version > 0 && snap.schemaJson.nonEmpty)
          requireSchemaMatch(snap.schemaJson, schemaJson, table)
        Seq.empty
      })
  }

  /** Append `df` allowing NEW columns (Delta-style mergeSchema): columns
    * shared with the table must keep their types (loud error otherwise);
    * columns the table has and `df` lacks — and vice versa — read as
    * NULL from the files that miss them, because every snapshot read
    * applies the commit-time schema explicitly. The merged schema is
    * recomputed against fresh state on every publish retry, so two
    * concurrent evolutions compose instead of clobbering. */
  def appendEvolve(df: DataFrame, table: String): Long = {
    require(effectivePartitioning(table, Nil).isEmpty,
      s"appendEvolve is not supported on a partitioned table ($table)")
    val (files, schemaJson, stats) = writeData(df, table)
    commit(table, "append", files, dataChange = true,
      newRowCheck = constraintGate(df.sparkSession, table, files, schemaJson,
        Nil, "append"),
      schemaPlan = { snap =>
        if (snap.version == 0 || snap.schemaJson.isEmpty) schemaJson
        else mergeSchemas(snap.schemaJson, schemaJson, table)
      },
      stats = stats, removePlan = _ => Seq.empty).get
  }

  /** Table schema ++ the df-only columns; shared columns must agree.
    * Matching is CASE-INSENSITIVE (Spark's default resolution): a
    * case-variant of an existing column would otherwise slip past the
    * type check and leave the table with two ambiguously-resolving
    * columns — refused loudly instead. */
  private def mergeSchemas(tableJson: String, dfJson: String, table: String): String = {
    val t = DataType.fromJson(tableJson).asInstanceOf[StructType]
    val d = DataType.fromJson(dfJson).asInstanceOf[StructType]
    val clash = d.fields.flatMap { f =>
      t.fields.find(_.name.equalsIgnoreCase(f.name)).flatMap { tf =>
        if (tf.name != f.name)
          Some(s"${f.name}: table spells it ${tf.name} (case-insensitive clash)")
        else if (tf.dataType != f.dataType)
          Some(s"${f.name}: table ${tf.dataType.simpleString} vs append ${f.dataType.simpleString}")
        else None
      }
    }
    if (clash.nonEmpty)
      throw new IllegalArgumentException(
        s"schema evolution on $table cannot change column types — ${clash.mkString("; ")}")
    StructType(t.fields ++
      d.fields.filterNot(f => t.fields.exists(_.name.equalsIgnoreCase(f.name)))).json
  }

  /** Replace the table's content with `df` (schema may evolve). The
    * remove set is recomputed from the then-live snapshot on every
    * publish attempt, so a racing append loses no data silently — its
    * rows are removed by THIS commit's semantics, visibly in the log. */
  def overwrite(df: DataFrame, table: String, partitionBy: Seq[String] = Nil): Long = {
    // overwrite replaces content AND may redefine the layout; without an
    // explicit request the existing partitioning carries over
    val parts =
      if (partitionBy.nonEmpty) partitionBy
      else if (latestVersion(table) == 0) Nil
      else replay(table, None).partitionCols
    val (files, schemaJson, stats) = writeData(df, table, parts)
    commit(table, "overwrite", files, dataChange = true, schemaPlan = _ => schemaJson,
      stats = stats, partitionCols = parts,
      newRowCheck = constraintGate(df.sparkSession, table, files, schemaJson,
        parts, "overwrite"),
      removePlan = snap => snap.files).get
  }

  /** Rewrite the current live files into `numFiles` larger ones without
    * changing data (`dataChange=false`: invisible to the change feed).
    * Aborts with ConcurrentModificationException if a racing commit
    * removed any input file first.
    *
    * `clusterBy` (exactly two numeric columns) additionally arranges the
    * rewrite along a HILBERT curve over both columns: each value is
    * normalized into a 16-bit grid using the GLOBAL min/max already in
    * the log's zone maps (no extra scan), rows range-partition + sort by
    * the native HilbertIndex expression, and the resulting per-file zone
    * maps become tight on BOTH dimensions — so a band predicate on
    * either column prunes files after the compaction, the multi-
    * dimensional clustering every large table eventually needs. */
  def compact(
      spark: SparkSession, table: String, numFiles: Int,
      clusterBy: Seq[String] = Nil,
      partitionSpec: Map[String, String] = Map.empty): Long = {
    import org.apache.spark.sql.functions.{col, lit, least, greatest, floor}
    val fullSnap = replay(table, None)
    // partition scope (OPTIMIZE ... WHERE): at 100 TB nobody compacts the
    // whole table — scope the rewrite to the spec's subtree; everything
    // downstream (cluster ranges, conflict rules, the remove set) sees
    // only the scoped files
    val spec = canonicalSpec(table, fullSnap, partitionSpec)
    val snap =
      if (spec.isEmpty) fullSnap
      else fullSnap.copy(files = fullSnap.files.filter { f =>
        val pv = partitionValuesOf(f, fullSnap.partitionCols)
        spec.forall { case (k, v) => pv.get(k).contains(v) }
      })
    if (snap.files.isEmpty) return fullSnap.version
    val base = readFiles(spark, table, snap)
    val df =
      if (clusterBy.isEmpty) base.repartition(numFiles)
      else {
        require(clusterBy.length >= 2 && clusterBy.length <= 6,
          s"clusterBy takes 2..6 numeric columns, got $clusterBy")
        // bits per dimension: 16 for 2-3 dims, then shrink so the index
        // fits a signed long — resolution per axis matters less as the
        // number of clustered dimensions grows
        val bits = math.min(16, 62 / clusterBy.length)
        val maxCell = (1L << bits) - 1
        val normalized = clusterBy.map { c =>
          val (lo, hi) = globalRange(snap, c).getOrElse(
            throw new IllegalArgumentException(
              s"clusterBy column '$c' lacks numeric zone maps in the live files of $table"))
          val span = math.max(hi - lo, java.lang.Double.MIN_NORMAL)
          least(greatest(
            floor((col(c).cast("double") - lit(lo)) * maxCell.toDouble / lit(span)).cast("long"),
            lit(0L)), lit(maxCell))
        }
        // the 2-D walk keeps its oracle-pinned orientation; ≥3 dims ride
        // the k-D Skilling transform — same locality property, which is
        // all clustering consumes
        val key =
          if (clusterBy.length == 2) graft.functions.HilbertIndex(normalized(0), normalized(1))
          else graft.functions.HilbertK(bits, normalized: _*)
        base.repartitionByRange(numFiles, key).sortWithinPartitions(key)
      }
    val (files, _, stats) = writeData(df, table, snap.partitionCols)
    commit(table, "compact", files, dataChange = false, schemaPlan = _ => snap.schemaJson,
      stats = stats, partitionCols = snap.partitionCols,
      removePlan = { now =>
        val gone = snap.files.filterNot(now.files.contains)
        if (gone.nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"compaction of $table@${snap.version} lost the race: inputs " +
              s"already removed by a newer commit: ${gone.take(3).mkString(", ")}")
        snap.files
      }).get
  }

  /** Upsert `updates` by `keyCol`: a row whose key a live row holds
    * replaces that row, every other row inserts. It is [[mergeGeneral]]
    * with one unconditional WHEN MATCHED UPDATE SET * clause and one WHEN
    * NOT MATCHED INSERT * clause, so it shares that kernel's reads, its
    * refusals (duplicate non-NULL keys, a non-deterministic `updates`)
    * and its conflict rules. `updates` must have the table's schema.
    * When no live file holds any of its keys, the merge commits as a
    * plain append.
    *
    * At 100 TB this is the point of the log: a merge touching 0.1% of
    * keys rewrites 0.1% of files, provable from the commit's remove set. */
  def merge(spark: SparkSession, table: String, updates: DataFrame, keyCol: String): Long = {
    val snap = replay(table, None)
    requireSchemaMatch(snap.schemaJson, nullable(updates.schema).json, table)
    val all = updates.columns.toSeq.map(c => c -> org.apache.spark.sql.functions.col(s"__src_$c"))
    mergeClauses(spark, table, snap, updates, keyCol, Seq((None, Some(all))), Seq((None, all)),
      notMatchedBySource = Nil, appendIfNoneMatch = true)
  }

  /** General copy-on-write MERGE — the full SQL clause algebra:
    *
    *  - `matched`: WHEN MATCHED [AND cond] THEN UPDATE SET … (`Some(sets)`,
    *    unassigned columns carry the target value) or DELETE (`None`),
    *    first satisfied clause wins (SQL order semantics), none → keep;
    *  - `notMatched`: WHEN NOT MATCHED [AND cond] THEN INSERT
    *    (unassigned columns insert NULL), none → the source row drops;
    *  - `notMatchedBySource`: WHEN NOT MATCHED BY SOURCE [AND cond]
    *    THEN UPDATE/DELETE over target rows whose key has no source row.
    *
    * In every condition / SET / INSERT expression, TARGET columns go by
    * their own names and SOURCE columns by `__src_<name>` (the kernel
    * joins the two sides into one namespace; the SQL layer rewrites
    * qualified references accordingly). ON is upsert-shaped: the single
    * equi-key `keyCol`, present on both sides, unique in the source
    * (refused loudly otherwise — a target row matching two source rows
    * is the SQL cardinality violation).
    *
    * One classification: clause conditions and assignments evaluate once
    * per row, inside the single write of [[copyOnWrite]], whose rows are
    * both the table's new files and the change feed's images — so feed
    * and table cannot diverge, even for per-action expressions. The
    * `source` is read by three actions (one aggregate for the key range
    * and the duplicate check, the affected-file probe, the write) and
    * must be deterministic — refused loudly otherwise.
    *
    * Scale shape: without `notMatchedBySource` only files containing
    * source keys rewrite (zone-map prune + semi-join); with it every
    * target row must be examined, so the whole live set is the affected
    * set — the same cost Delta pays for that clause. */
  def mergeGeneral(
      spark: SparkSession, table: String,
      source: DataFrame, keyCol: String,
      matched: Seq[(Option[org.apache.spark.sql.Column], Option[Seq[(String, org.apache.spark.sql.Column)]])],
      notMatched: Seq[(Option[org.apache.spark.sql.Column], Seq[(String, org.apache.spark.sql.Column)])],
      notMatchedBySource: Seq[(Option[org.apache.spark.sql.Column], Option[Seq[(String, org.apache.spark.sql.Column)]])] = Nil)
      : Long =
    mergeClauses(spark, table, replay(table, None), source, keyCol, matched, notMatched,
      notMatchedBySource, appendIfNoneMatch = false)

  /** [[mergeGeneral]]'s body. `appendIfNoneMatch` ([[merge]]'s upsert
    * shape only, where every unmatched row inserts unchanged) commits a
    * source that matches no live row as a plain append of `source`. */
  private def mergeClauses(
      spark: SparkSession, table: String, snap: Snapshot,
      source: DataFrame, keyCol: String,
      matched: Seq[(Option[org.apache.spark.sql.Column], Option[Seq[(String, org.apache.spark.sql.Column)]])],
      notMatched: Seq[(Option[org.apache.spark.sql.Column], Seq[(String, org.apache.spark.sql.Column)])],
      notMatchedBySource: Seq[(Option[org.apache.spark.sql.Column], Option[Seq[(String, org.apache.spark.sql.Column)]])],
      appendIfNoneMatch: Boolean): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, count, lit, max, min, sum, when}
    import org.apache.spark.sql.Column
    val schema = DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]
    require(schema.fieldNames.exists(_.equalsIgnoreCase(keyCol)),
      s"merge key $keyCol is not a column of $table")
    require(source.columns.exists(_.equalsIgnoreCase(keyCol)),
      s"merge source does not carry the key column $keyCol")
    require(!schema.fieldNames.exists(_.startsWith("__")),
      s"merge on $table: target columns must not start with __ (reserved)")
    require(!source.columns.exists(_.startsWith("__")),
      s"merge on $table: source columns must not start with __ (reserved " +
        "for the kernel's join namespace)")
    require(matched.nonEmpty || notMatched.nonEmpty || notMatchedBySource.nonEmpty,
      "MERGE needs at least one WHEN clause")
    // every assignment target must be a real column, assigned at most
    // once per clause (SQL refuses conflicting SETs), loudly
    val allClauses: Seq[Seq[(String, org.apache.spark.sql.Column)]] =
      matched.flatMap(_._2) ++ notMatched.map(_._2) ++
        notMatchedBySource.flatMap(_._2)
    allClauses.foreach { sets =>
      sets.map(_._1).foreach { n =>
        require(schema.fieldNames.exists(_.equalsIgnoreCase(n)),
          s"MERGE on $table assigns unknown column $n")
      }
      val dupSet = sets.map(_._1.toLowerCase).groupBy(identity)
        .collect { case (n, g) if g.size > 1 => n }
      require(dupSet.isEmpty,
        s"MERGE on $table assigns column(s) twice in one clause: " +
          dupSet.mkString(", "))
    }
    // the source is read by several actions (key probe, affected-file
    // probe, the classification write) — nondeterminism would
    // desynchronize them. Per-EXECUTION-resolved time expressions report
    // deterministic=true yet re-resolve per action, so refuse those by
    // shape too.
    val timeResolved = Set(
      "current_timestamp", "current_date", "now", "localtimestamp",
      "current_timezone", "curdate", "current_time", "localtime")
    val nonDet = source.queryExecution.analyzed.collectFirst {
      case p if p.expressions.exists(e => e.exists(x =>
        !x.deterministic || timeResolved(x.prettyName))) => p
    }
    require(nonDet.isEmpty,
      "merge source must be deterministic across actions — it is evaluated " +
        "more than once (rand()/current_timestamp() would desynchronize the " +
        "key probe from the classification); materialize it to a table first")
    val srcKey = s"__src_$keyCol"
    val src = source.select(source.columns.map(c => col(c).as(s"__src_$c")).toSeq: _*)
    // One aggregate over the source: the key range, the row count and the
    // largest per-key count. SQL MERGE key semantics: a NULL key never
    // equi-matches, so NULL-key rows are legitimate NOT MATCHED inserts —
    // they count as rows (an all-NULL-key source is not empty) but not
    // toward the range or the cardinality check (two NULL keys cannot
    // double-match a target row).
    val perKey = src.groupBy(col(srcKey)).agg(count(lit(1)).as("n"))
    val probe = perKey.agg(
      min(col(srcKey)).cast("string"), max(col(srcKey)).cast("string"),
      coalesce(sum(col("n")), lit(0L)),
      coalesce(max(when(col(srcKey).isNotNull, col("n"))), lit(0L))).head()
    if (probe.getLong(3) > 1) {
      val dup = perKey.filter(col(srcKey).isNotNull && col("n") > 1).limit(3)
        .collect().map(_.get(0))
      throw new IllegalArgumentException(
        s"merge source carries duplicate $keyCol values (${dup.mkString(", ")}…): " +
          "a target row matching two source rows is the MERGE cardinality violation")
    }
    val keyRange: Option[(String, String)] =
      if (probe.isNullAt(0)) None else Some((probe.getString(0), probe.getString(1)))
    val wholesale = notMatchedBySource.nonEmpty
    if (probe.getLong(2) == 0 && !wholesale) return snap.version // nothing can fire
    val affected: Seq[String] =
      if (wholesale) snap.files
      else keyRange match {
        case None => Seq.empty // only NULL keys: no target row can match
        case Some((lo, hi)) =>
          val cand = pruneFiles(snap, keyCol, lo, hi)
          if (cand.isEmpty) Seq.empty
          else affectedFiles(
            readWithFile(spark, table, snap.copy(files = cand))
              .join(src.select(col(srcKey).as(keyCol)), Seq(keyCol), "left_semi"))
      }
    if (affected.isEmpty && appendIfNoneMatch) return append(source, table)
    if (affected.isEmpty && notMatched.isEmpty) return snap.version
    // ---- action algebra -------------------------------------------
    // labels: m<i> matched clause i, i<j> not-matched clause j, s<k>
    // not-matched-by-source clause k, keep = carry target row, drop =
    // source row ignored. First satisfied clause wins; NULL conditions
    // do not fire (SQL semantics).
    def firstMatch(conds: Seq[Option[Column]], prefix: String, default: String): Column =
      conds.zipWithIndex.foldRight(lit(default): Column) { case ((c, i), els) =>
        when(coalesce(c.getOrElse(lit(true)), lit(false)), lit(s"$prefix$i")).otherwise(els)
      }
    val tgtHere = coalesce(col("__tgt_present"), lit(false))
    val srcHere = coalesce(col("__graft_src_present"), lit(false))
    val actionCol =
      when(tgtHere && srcHere, firstMatch(matched.map(_._1), "m", "keep"))
        .when(srcHere, firstMatch(notMatched.map(_._1), "i", "drop"))
        .otherwise(firstMatch(notMatchedBySource.map(_._1), "s", "keep"))
    // each label's kind for the kernel; "drop" has none, so it writes nothing
    val kinds: Seq[(String, String)] = Seq("keep" -> "keep") ++
      matched.zipWithIndex.map { case ((_, s), i) => s"m$i" -> s.fold("delete")(_ => "update") } ++
      notMatched.indices.map(j => s"i$j" -> "insert") ++
      notMatchedBySource.zipWithIndex.map { case ((_, s), k) =>
        s"s$k" -> s.fold("delete")(_ => "update") }
    val kind = kinds.tail.foldLeft(when(col("__action") === kinds.head._1, kinds.head._2)) {
      case (acc, (label, k)) => acc.when(col("__action") === label, k)
    }
    def assigned(sets: Seq[(String, Column)],
        f: org.apache.spark.sql.types.StructField, default: Column): Column =
      sets.find(_._1.equalsIgnoreCase(f.name)).map(_._2).getOrElse(default)
        .cast(f.dataType)
    def postExpr(f: org.apache.spark.sql.types.StructField): Column = {
      val arms: Seq[(String, Column)] =
        matched.zipWithIndex.collect { case ((_, Some(sets)), i) =>
          s"m$i" -> assigned(sets, f, col(f.name)) } ++
          notMatched.zipWithIndex.map { case ((_, values), j) =>
            s"i$j" -> assigned(values, f, lit(null)) } ++
          notMatchedBySource.zipWithIndex.collect { case ((_, Some(sets)), k) =>
            s"s$k" -> assigned(sets, f, col(f.name)) }
      arms.foldLeft(None: Option[Column]) { case (acc, (label, v)) =>
        val arm = col("__action") === label
        Some(acc.fold(when(arm, v))(_.when(arm, v)))
      }.getOrElse(lit(null)).cast(f.dataType)
    }
    // the affected files' scan keeps its partitioning (one task per input
    // file) and the source joins onto it — broadcast when it fits — so
    // no target row is shuffled. The source marker must NOT be of the
    // __src_<name> shape a renamed source column could occupy (a source
    // column literally named "present" renames to __src_present).
    val tgt = readFiles(spark, table, snap.copy(files = affected))
    val srcSide = src.withColumn("__graft_src_present", lit(true))
    val matchedSide = tgt.withColumn("__tgt_present", lit(true))
      .join(srcSide, col(keyCol) === col(srcKey), "left_outer")
    // NOT MATCHED rows are the source rows whose key no affected row
    // holds: the affected set is every file holding a source key, so no
    // live row holds theirs either
    val rows =
      if (notMatched.isEmpty) matchedSide
      else matchedSide.unionByName(
        srcSide.join(tgt.select(col(keyCol)), col(srcKey) === col(keyCol), "left_anti")
          .select(schema.fields.map(f => lit(null).cast(f.dataType).as(f.name)).toSeq ++
            Seq(lit(null).cast("boolean").as("__tgt_present")) ++
            srcSide.columns.map(col).toSeq: _*))
    copyOnWrite(spark, table, snap, "merge", affected,
      rows.withColumn("__action", actionCol), kind, postExpr,
      conflicts = { (now, racedAdds) =>
        // ConcurrentAppendException semantics: a racing commit that ADDED
        // files whose key zone maps intersect the source's key range may
        // have landed the same keys after this merge's snapshot read.
        // Files without key stats can't prove disjointness and conflict
        // conservatively.
        if (wholesale) racedAdds // every target row was examined
        // NULL-only keys: matched clauses cannot fire, keyed appends commute
        else keyRange.fold(Seq.empty[String]) { case (lo, hi) =>
          pruneFiles(now.copy(files = racedAdds), keyCol, lo, hi)
        }
      })
  }

  /** File-granular copy-on-write DELETE: rows where `condition` is TRUE
    * are removed (NULL keeps the row, SQL DELETE semantics); only files
    * actually CONTAINING matching rows are rewritten, found by one
    * column-pruned, zone-map-pruned scan of the condition's inputs and
    * each row's file name.
    * Files whose every row matches are simply dropped (no empty rewrite).
    * Aborts with ConcurrentModificationException if a racing commit
    * removed an affected file first. The erasure primitive (GDPR-style
    * per-key removal) a governed 100 TB corpus must support.
    *
    * The condition classifies each affected row once, in [[copyOnWrite]]'s
    * single write: the survivors become the new data files and the
    * deleted rows the feed's delete images, so a per-action expression
    * like current_timestamp() cannot classify differently for the table
    * and the feed. The affected-file scan may drift from that
    * classification: a detected file matching nothing is rewritten
    * verbatim, and a missed file keeps its rows in table and feed alike. */
  def delete(
      spark: SparkSession, table: String,
      condition: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions.{coalesce, lit, when}
    val snap = replay(table, None)
    val cond = coalesce(condition, lit(false))
    val matching = readWithFile(spark, table, snap).filter(cond)
    requireDeterministic(matching, "DELETE condition")
    val affected = affectedFiles(matching)
    if (affected.isEmpty) return snap.version
    copyOnWrite(spark, table, snap, "delete", affected,
      readFiles(spark, table, snap.copy(files = affected)),
      when(cond, "delete").otherwise("keep"), f => org.apache.spark.sql.functions.col(f.name))
  }

  /** File-granular copy-on-write UPDATE: rows where `condition` is TRUE
    * get each `sets` column replaced by its expression (cast back to the
    * column's declared type — an UPDATE never changes the schema); NULL
    * condition keeps the row untouched, SQL UPDATE semantics. Only files
    * CONTAINING matching rows are rewritten, found the same way delete
    * finds them; non-matching rows in those files carry over verbatim.
    * The SET expressions run once per updated row, in [[copyOnWrite]]'s
    * single write, so each post-image in the feed is the row the table
    * holds. Aborts with ConcurrentModificationException if a racing
    * commit removed an affected file first. */
  def update(
      spark: SparkSession, table: String,
      condition: org.apache.spark.sql.Column,
      sets: Seq[(String, org.apache.spark.sql.Column)]): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    val snap = replay(table, None)
    val schema = DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]
    val unknown = sets.map(_._1).filterNot(n =>
      schema.fieldNames.exists(_.equalsIgnoreCase(n)))
    if (unknown.nonEmpty)
      throw new IllegalArgumentException(
        s"UPDATE on $table assigns unknown column(s): ${unknown.mkString(", ")}")
    val cond = coalesce(condition, lit(false))
    val matching = readWithFile(spark, table, snap).filter(cond)
    requireDeterministic(matching, "UPDATE condition")
    val affected = affectedFiles(matching)
    if (affected.isEmpty) return snap.version
    copyOnWrite(spark, table, snap, "update", affected,
      readFiles(spark, table, snap.copy(files = affected)),
      when(cond, "update").otherwise("keep"),
      f => sets.find(_._1.equalsIgnoreCase(f.name)).fold(col(f.name))(_._2))
  }

  /** The table-relative names of the files the rows of `matched` were
    * read from, which `matched` carries in [[FileCol]] (a [[readWithFile]]
    * scan, filtered or joined). Each task sends its distinct names and
    * the driver merges them: one job, no shuffle. */
  private def affectedFiles(matched: DataFrame): Seq[String] = {
    val str = org.apache.spark.sql.Encoders.STRING
    matched.select(FileCol).as(str)
      .mapPartitions(names => names.toSet.iterator)(str)
      .collect().distinct.sorted.toSeq
  }

  private val FileCol = "__graft_file"

  /** The path segment value of the kernel's data class — the carried,
    * updated and inserted rows that become the commit's data files. */
  private val DataClass = "data"

  /** The one copy-on-write kernel of [[merge]], [[mergeGeneral]],
    * [[update]] and [[delete]]. `rows` are the affected files' rows (and,
    * for a merge, the source rows to insert) with the table's columns as
    * their pre-image; `kind` labels each row `keep`, `update`, `delete` or
    * `insert` (NULL drops it), and `post` gives each column's post-image,
    * evaluated for updated and inserted rows only.
    *
    * One `DirectParquet.write` into `_change_data/<cid>/`, partitioned by
    * `_change_type` and the table's partition columns, puts each row into
    * every class it belongs to: a kept row into the data class, an update's
    * post-image into the data class and `update_postimage` and its
    * pre-image into `update_preimage`, an insert into the data class and
    * `insert`, a deleted row into `delete`. The data-class directory then
    * moves to `data/<cid>/` and its files, with the zone maps the write
    * tasks computed, are the commit's new data files; the directory that
    * is left holds only the change-feed images and is the commit's `cdf`
    * entry. Nothing is shuffled unless `rows` is, so each input file's
    * kept and updated rows land in one output file that keeps its key
    * range. A write that changes no row commits nothing.
    *
    * `conflicts` names the files among a racing commit's adds that this
    * commit must not ignore (see [[merge]]); any such file, or an
    * affected file a racing commit already removed, aborts the commit
    * with a ConcurrentModificationException. */
  private def copyOnWrite(
      spark: SparkSession, table: String, snap: Snapshot, op: String,
      affected: Seq[String], rows: DataFrame,
      kind: org.apache.spark.sql.Column,
      post: org.apache.spark.sql.types.StructField => org.apache.spark.sql.Column,
      conflicts: (Snapshot, Seq[String]) => Seq[String] = (_, _) => Nil): Long = {
    import org.apache.spark.sql.functions.{array, col, explode, lit, when}
    val schema = DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]
    val k = col("__graft_kind")
    def classes(cs: String*) = array(cs.map(lit): _*)
    val exploded = rows.withColumn("__graft_kind", kind).select(
      schema.fieldNames.map(col).toSeq ++
        schema.fields.zipWithIndex.map { case (f, i) =>
          when(k.isin("update", "insert"), post(f).cast(f.dataType)).as(s"__graft_post_$i") } ++
        Seq(k, explode(
          when(k === "keep", classes(DataClass))
            .when(k === "update", classes(DataClass, "update_postimage", "update_preimage"))
            .when(k === "insert", classes(DataClass, "insert"))
            .when(k === "delete", classes("delete"))).as(ChangeTypeCol)): _*)
    val usePost = k.isin("update", "insert") && col(ChangeTypeCol) =!= "update_preimage"
    val out = exploded.select(schema.fields.zipWithIndex.map { case (f, i) =>
      when(usePost, col(s"__graft_post_$i")).otherwise(col(f.name)).as(f.name)
    }.toSeq :+ col(ChangeTypeCol): _*)
    val cid = java.util.UUID.randomUUID().toString.replace("-", "").take(16)
    val stage = Paths.get(table, ChangeDataDirName, cid)
    val written = DirectParquet.write(out, stage.toString, ChangeTypeCol +: snap.partitionCols)
    val dataPrefix = s"$ChangeTypeCol=$DataClass/"
    val (data, images) = written.partition(_._1.startsWith(dataPrefix))
    if (images.isEmpty) { // no row changed: nothing to commit
      deleteTree(stage)
      return snap.version
    }
    if (data.nonEmpty) {
      Files.createDirectories(Paths.get(table, "data"))
      Files.move(stage.resolve(s"$ChangeTypeCol=$DataClass"), Paths.get(table, "data", cid))
    }
    val stats = data.map { case (rel, st) =>
      val f = s"data/$cid/${rel.stripPrefix(dataPrefix)}"
      f -> (st ++ partitionStats(f, schema, snap.partitionCols))
    }
    val files = stats.map(_._1)
    commit(table, op, files, dataChange = true,
      schemaPlan = _ => snap.schemaJson, stats = stats.toMap,
      partitionCols = snap.partitionCols, cdf = Seq(s"$ChangeDataDirName/$cid"),
      newRowCheck = constraintGate(spark, table, files, snap.schemaJson,
        snap.partitionCols, op),
      removePlan = { now =>
        val gone = affected.filterNot(now.files.contains)
        if (gone.nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"$op on $table@${snap.version} lost the race: affected files " +
              s"already removed by a newer commit: ${gone.take(3).mkString(", ")}")
        val planned = snap.files.toSet ++ files
        val raced = conflicts(now, now.files.filterNot(planned))
        if (raced.nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"$op on $table@${snap.version} conflicts with concurrent " +
              s"append(s): ${raced.take(3).mkString(", ")}")
        affected
      }).get
  }

  /** Table-relative paths of the parquet files under `dir`, sorted. */
  private def parquetFilesUnder(table: String, dir: Path): Seq[String] = {
    val s = Files.walk(dir)
    try s.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .map(relativize(table, _)).toSeq.sorted
    finally s.close()
  }

  /** Delete `dir` and everything under it, if it exists. */
  private def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.iterator().asScala.toSeq.reverse.foreach(p => Files.delete(p))
      finally s.close()
    }

  /** METADATA-ONLY rollback: make the table's head state equal version
    * `toVersion` again, as a NEW commit (history is append-only — the
    * bad versions stay auditable, time travel to them still works).
    * No data moves: the commit removes the files live now and re-adds
    * the files live then, with their original zone maps carried over.
    * Requires `toVersion`'s files to still exist (not vacuumed). The
    * incident-response primitive: un-shipping a bad ingest at any table
    * size costs one JSON write. */
  def restore(spark: SparkSession, table: String, toVersion: Long): Long = {
    val target = replay(table, Some(toVersion))
    val missing = target.files.filterNot(f => Files.exists(Paths.get(table, f)))
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"cannot restore $table to version $toVersion: ${missing.length} file(s) " +
          s"vacuumed: ${missing.take(3).mkString(", ")}")
    commit(table, "restore", target.files, dataChange = true,
      schemaPlan = _ => target.schemaJson,
      stats = target.stats, partitionCols = target.partitionCols,
      // resurrected rows must satisfy the constraints ACTIVE NOW — a
      // restore past an ADD CONSTRAINT would otherwise silently re-ship
      // the rows the constraint exists to keep out
      newRowCheck = constraintGate(spark, table, target.files,
        target.schemaJson, target.partitionCols, "RESTORE"),
      removePlan = snap => snap.files.filterNot(target.files.contains)).get
  }

  /** Snapshot-isolated read. `asOf=None` reads the head version;
    * `asOf=Some(v)` time-travels (v must be ≤ head and its files must
    * not have been vacuumed). The scan is a plain pushdown-capable
    * parquet read over the live file list. */
  def snapshot(spark: SparkSession, table: String, asOf: Option[Long] = None): DataFrame =
    readFiles(spark, table, replay(table, asOf))

  /** Zone-map-pruned range scan: only files whose recorded [min, max] on
    * `column` intersects [lo, hi] are planned (files without stats are
    * conservatively scanned), then the row-level filter is applied on
    * top — correctness never depends on the stats. Returns the filtered
    * frame plus (planned, total) file counts so callers can PROVE the
    * skipping. `lo`/`hi` are parsed per the recorded stats kind. */
  def snapshotRange(
      spark: SparkSession, table: String, column: String,
      lo: String, hi: String, asOf: Option[Long] = None): (DataFrame, Int, Int) = {
    import org.apache.spark.sql.functions.{col, lit}
    val snap = replay(table, asOf)
    val keep = pruneFiles(snap, column, lo, hi)
    val schema = DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]
    val colType = schema(column).dataType
    val df = readFiles(spark, table, snap.copy(files = keep))
      .filter(col(column) >= lit(lo).cast(colType) && col(column) <= lit(hi).cast(colType))
    (df, keep.length, snap.files.length)
  }

  /** The live files whose zone map on `column` intersects [lo, hi]. */
  def pruneFiles(snap: Snapshot, column: String, lo: String, hi: String): Seq[String] =
    snap.files.filter { f =>
      snap.stats.get(f).flatMap(_.get(column)) match {
        case Some(cs) => !(statLt(cs.kind, hi, cs.min) || statLt(cs.kind, cs.max, lo))
        case None => true // no stats recorded: must scan
      }
    }

  /** Kind-dispatched zone-map comparison — shared with the graft
    * DataSource's FileIndex so the two pruning paths can never drift.
    * Strings compare as UNSIGNED UTF-8 BYTES, the order parquet computed
    * the footer min/max in: Java's String.compareTo is UTF-16 code-unit
    * order, which ranks supplementary-plane characters (surrogate pairs,
    * 0xD800-prefixed) BELOW U+E000..U+FFFF while UTF-8 byte order ranks
    * them above — comparing in the wrong domain would wrongly prune live
    * files for data mixing emoji with that range. */
  private[graft] def statLt(kind: String, a: String, b: String): Boolean = kind match {
    case "long"   => a.toLong < b.toLong
    case "double" => a.toDouble < b.toDouble
    case _        => utf8Lt(a, b)
  }

  private def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** Loud shared guard: every live file of `snap` must exist on storage
    * (a vacuumed file read silently as empty would be a wrong answer). */
  private[graft] def requireLiveFilesExist(table: String, snap: Snapshot): Unit = {
    val missing = snap.files.filterNot(f => Files.isRegularFile(Paths.get(table, f)))
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"table $table@${snap.version}: ${missing.length} live file(s) missing on " +
          s"storage (vacuumed past this version?): ${missing.take(3).mkString(", ")}")
  }

  /** Global [min, max] of a numeric column across ALL live files' zone
    * maps — None if any file lacks them (can't normalize safely). */
  private def globalRange(snap: Snapshot, c: String): Option[(Double, Double)] = {
    val per = snap.files.map(f => snap.stats.get(f).flatMap(_.get(c)))
    if (per.isEmpty || per.exists(_.isEmpty)) None
    else {
      val cs = per.flatten
      if (cs.exists(s => s.kind != "long" && s.kind != "double")) None
      else Some(cs.map(_.min.toDouble).min -> cs.map(_.max.toDouble).max)
    }
  }

  /** Rows ADDED by data-changing commits in (fromExclusive, toInclusive]
    * — the incremental-consume contract: a downstream job that processed
    * up to v resumes with changes(v, head). Compactions contribute
    * nothing (dataChange=false).
    *
    * This is an ADDS-ONLY feed: it is exactly-once for append-only
    * consumption (the ingest pattern). delete/merge/restore commits add
    * files that REWRITE surviving rows, so their adds re-deliver those
    * rows here — a consumer that must see updates/deletes as such reads
    * snapshots or diffs two versions instead (the same boundary every
    * adds-only change feed draws; `feedDir` applies the stricter
    * ingest-ops-only filter for streaming consumers). */
  def changes(
      spark: SparkSession, table: String,
      fromExclusive: Long, toInclusive: Long): DataFrame = {
    val head = latestVersion(table)
    require(fromExclusive >= 0 && toInclusive <= head && fromExclusive <= toInclusive,
      s"change range ($fromExclusive, $toInclusive] invalid for $table at head $head")
    val cs = readCommits(table, fromExclusive + 1, toInclusive)
    val added = cs.filter(_.dataChange).flatMap(_.add)
    // schema AND partition layout come from the range's last commit —
    // a bare snapshot would read a partitioned table's partition
    // columns as silent NULLs
    val (schemaJson, partCols) = cs.lastOption
      .map(c => c.schemaJson -> c.partitionCols)
      .getOrElse {
        val s = replay(table, Some(math.max(fromExclusive, 1L)))
        s.schemaJson -> s.partitionCols
      }
    readFiles(spark, table,
      Snapshot(toInclusive, added, schemaJson, partitionCols = partCols))
  }

  /** One streaming micro-batch of the table-as-source: the rows ADDED in
    * (fromExclusive, toInclusive], with the append-only contract the
    * native `readStream.format("graft")` source enforces — a dataChange
    * commit that REMOVED files (overwrite / COW delete / update / merge /
    * restore) rewrote or dropped rows the stream may already have
    * delivered, so it refuses loudly unless `ignoreChanges=true`
    * acknowledges the re-delivery (Delta's exact trade). Layout-only
    * compactions pass silently — they add files but change nothing. */
  def streamBatch(
      spark: SparkSession, table: String,
      fromExclusive: Long, toInclusive: Long,
      ignoreChanges: Boolean): DataFrame = {
    if (!ignoreChanges) {
      val offenders = readCommits(table, fromExclusive + 1, toInclusive)
        .filter(c => c.dataChange && c.op != "append" && c.remove.nonEmpty)
      if (offenders.nonEmpty) {
        val c = offenders.head
        throw new IllegalStateException(
          s"graft streaming source on $table: version ${c.version} is a " +
            s"'${c.op}' that removed ${c.remove.length} file(s) — a stream " +
            "cannot un-deliver rows. Re-start from a fresh checkpoint, or " +
            "set ignoreChanges=true to receive the commit's added files " +
            "(re-delivering rewritten survivor rows).")
      }
    }
    changes(spark, table, fromExclusive, toInclusive)
  }

  // ------------------------------------------------------------------
  // row-level change data feed (CDF)
  // ------------------------------------------------------------------

  /** Metadata columns every [[changeFeed]] row carries. */
  val ChangeTypeCol = "_change_type"
  val CommitVersionCol = "_commit_version"
  val CommitTimestampCol = "_commit_timestamp"

  private val ChangeDataDirName = "_change_data"

  /** Row-LEVEL changes in (fromExclusive, toInclusive] — every row tagged
    * `_change_type` ∈ {insert, delete, update_preimage, update_postimage}
    * plus `_commit_version` / `_commit_timestamp` (Delta's CDF contract).
    * Unlike the adds-only [[changes]], rewrites surface as what they ARE:
    *
    *  - append commits derive inserts from their added files (no extra
    *    storage — the add IS the change);
    *  - delete/update/merge commits read the exact pre/post images their
    *    COW kernel persisted under `_change_data/` at commit time, so an
    *    update that rewrote a 1M-row file but touched 10 rows feeds 20
    *    CDF rows, never the million. [[copyOnWrite]]'s images carry the
    *    change type as a `_change_type=<type>/` path segment; image
    *    files of older commits carry it as a column, and read as before;
    *  - overwrite/restore (and legacy COW commits from logs written
    *    before CDF existed) derive delete rows from their removed files
    *    and insert rows from their net-new added files — exact as a
    *    row-level diff, though a legacy COW commit re-delivers the
    *    rewritten survivors as delete+insert pairs;
    *  - dataChange=false commits (compaction) contribute nothing.
    *
    * Derivation reads removed files, so a vacuum that reclaimed them
    * fails LOUDLY (same contract as time travel past a vacuum). Schema
    * evolution across the range null-backfills older commits' rows, and
    * the output follows the range's final schema.
    *
    * Scale shape: CDF bytes are ∝ changed rows, and — decisive for a
    * feed read spanning thousands of commits — the PLAN is bounded by
    * the number of distinct schema shapes in the range, not by its
    * commit count: one O(range) driver walk (incremental live-set fold,
    * never a per-commit replay) attributes every contributing file to
    * its (commit version, timestamp, change type), and files sharing a
    * schema read in ONE scan through a [[GraftFileIndex]] that attaches
    * those three values to each file's rows as partition values. A
    * 10k-commit range plans like a handful of scans, not a 10k-branch
    * union. */
  def changeFeed(
      spark: SparkSession, table: String,
      fromExclusive: Long, toInclusive: Long): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.types.{LongType, StringType, TimestampType}
    val head = latestVersion(table)
    require(fromExclusive >= 0 && toInclusive <= head && fromExclusive <= toInclusive,
      s"change range ($fromExclusive, $toInclusive] invalid for $table at head $head")
    val cs = readCommits(table, fromExclusive + 1, toInclusive)
    val finalSchemaJson = cs.lastOption.map(_.schemaJson)
      .getOrElse(replay(table, Some(math.max(fromExclusive, 1L))).schemaJson)
    val finalSchema = DataType.fromJson(finalSchemaJson).asInstanceOf[StructType]
    // ---- one O(range) walk: incremental live-set fold ----------------
    // (file, version, tsMicros, changeType) per contributing DATA file,
    // keyed by the schema shape it was written under; CDF image files
    // keyed by their commit's schema. `prev*` is the state just BEFORE
    // the commit being processed — removed files read under it.
    final case class FileUnit(file: String, version: Long, tsUs: Long, tpe: String)
    val startSnap: Option[Snapshot] =
      if (fromExclusive >= 1) Some(replay(table, Some(fromExclusive))) else None
    var live: Set[String] = startSnap.map(_.files.toSet).getOrElse(Set.empty)
    var prevSchema: String = startSnap.map(_.schemaJson).getOrElse("")
    var prevPartCols: Seq[String] = startSnap.map(_.partitionCols).getOrElse(Nil)
    val dataUnits = scala.collection.mutable.LinkedHashMap
      .empty[(String, Seq[String]), scala.collection.mutable.ArrayBuffer[FileUnit]]
    val cdfUnits = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.ArrayBuffer[FileUnit]]
    def dataUnit(schemaJson: String, partCols: Seq[String], u: FileUnit): Unit =
      dataUnits.getOrElseUpdate((schemaJson, partCols),
        scala.collection.mutable.ArrayBuffer.empty) += u
    cs.foreach { c =>
      if (c.dataChange) c.op match {
        case "append" =>
          c.add.foreach(f => dataUnit(c.schemaJson, c.partitionCols,
            FileUnit(f, c.version, c.ts * 1000L, "insert")))
        case _ if c.cdf.nonEmpty =>
          // exact pre/post images persisted by the COW kernel. A directory
          // entry is the kernel's `_change_data/<cid>`: change type and
          // partition values live in its files' paths, which read like
          // data files. A file entry is an older commit's image file,
          // with `_change_type` and the partition values as columns.
          val (dirs, oldFiles) = c.cdf.partition(f => Files.isDirectory(Paths.get(table, f)))
          val images = dirs.map(d => d -> parquetFilesUnder(table, Paths.get(table, d)))
          val vacuumed = oldFiles.filterNot(f => Files.exists(Paths.get(table, f))) ++
            images.collect { case (d, fs) if fs.isEmpty => d }
          if (vacuumed.nonEmpty) throw new IllegalStateException(
            s"change feed for $table version ${c.version}: ${vacuumed.length} " +
              s"change file(s) vacuumed (${vacuumed.take(3).mkString(", ")}) — " +
              "this range is no longer readable; resume past it or widen the " +
              "vacuum retention")
          images.flatMap(_._2).foreach(f => dataUnit(c.schemaJson, c.partitionCols,
            FileUnit(f, c.version, c.ts * 1000L,
              partitionValuesOf(f, Seq(ChangeTypeCol))(ChangeTypeCol))))
          oldFiles.foreach(f => cdfUnits.getOrElseUpdate(c.schemaJson,
            scala.collection.mutable.ArrayBuffer.empty) +=
            FileUnit(f, c.version, c.ts * 1000L, ""))
        case _ =>
          // overwrite / restore / legacy COW: removed files → delete
          // rows (read under the PRE-commit schema), NET-NEW added
          // files → insert rows (restore re-adds files that never
          // left — those are not changes)
          c.remove.foreach(f => dataUnit(prevSchema, prevPartCols,
            FileUnit(f, c.version, c.ts * 1000L, "delete")))
          val netNew = if (c.version == 1) c.add else c.add.filterNot(live)
          netNew.foreach(f => dataUnit(c.schemaJson, c.partitionCols,
            FileUnit(f, c.version, c.ts * 1000L, "insert")))
      }
      live = live -- c.remove ++ c.add
      prevSchema = c.schemaJson
      prevPartCols = c.partitionCols
    }
    val metaFields = Seq(
      StructField(ChangeTypeCol, StringType),
      StructField(CommitVersionCol, LongType, nullable = false),
      StructField(CommitTimestampCol, TimestampType))
    val outSchema = StructType(finalSchema.fields ++ metaFields)
    // one scan per schema shape. Each unit's (type, version, timestamp)
    // rides in the index as extra partition values of its file, so Spark
    // attaches them to the file's rows; a file that contributes to
    // several commits is read once per commit
    def read(schemaJson: String, partCols: Seq[String], units: Seq[FileUnit],
        meta: Seq[StructField], values: FileUnit => Seq[Any]): DataFrame = {
      val byFile = units.groupBy(_.file)
      readFiles(spark, table, Snapshot(toInclusive, units.map(_.file).distinct,
        schemaJson, partitionCols = partCols), meta, rel => byFile(rel).map(values))
    }
    // align every branch to the FINAL schema: missing columns (added
    // later in the range) null-backfill, extra columns drop, retyped
    // columns cast — so a metadata-only evolveSchema at the END of the
    // range still surfaces its column
    def aligned(df: DataFrame, present: StructType): DataFrame =
      df.select(outSchema.fields.map { f =>
        if (f.name == ChangeTypeCol || f.name == CommitVersionCol ||
            f.name == CommitTimestampCol) col(f.name)
        else present.fields.find(_.name == f.name) match {
          case Some(p) if p.dataType == f.dataType => col(f.name)
          case Some(_) => col(f.name).cast(f.dataType).as(f.name)
          case None => lit(null).cast(f.dataType).as(f.name)
        }
      }.toIndexedSeq: _*)
    val dataParts: Seq[DataFrame] = dataUnits.toSeq.map {
      case ((schemaJson, partCols), units) =>
        aligned(read(schemaJson, partCols, units.toSeq, metaFields,
          u => Seq(UTF8String.fromString(u.tpe), u.version, u.tsUs)),
          DataType.fromJson(schemaJson).asInstanceOf[StructType])
    }
    // older commits' image files carry `_change_type` (and the partition
    // values) as columns
    val cdfParts: Seq[DataFrame] = cdfUnits.toSeq.map { case (schemaJson, units) =>
      val schema = DataType.fromJson(schemaJson).asInstanceOf[StructType]
      aligned(read(StructType(schema.fields :+ metaFields.head).json, Nil, units.toSeq,
        metaFields.tail, u => Seq(u.version, u.tsUs)), schema)
    }
    val parts = dataParts ++ cdfParts
    if (parts.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
    else parts.reduce(_ union _) // positionally aligned; flattens to one Union
  }

  /** A COW kernel's condition classifies rows in two scans (affected-file
    * detection, then the classification write) — a non-deterministic
    * predicate would classify differently per scan and silently skip or
    * churn files. Refuse loudly.
    * The check runs on the ANALYZED filter (an unresolved function node
    * reports deterministic=true vacuously), so `df` must be a frame
    * already filtered by the condition under test. */
  private def requireDeterministic(df: DataFrame, what: String): Unit = {
    val bad = df.queryExecution.analyzed.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
          if !f.condition.deterministic => f.condition
    }
    require(bad.isEmpty,
      s"graft: $what must be deterministic — it is evaluated in more than " +
        "one scan (rand()/shuffle-dependent expressions would classify rows " +
        "inconsistently); materialize the predicate into a column first")
  }

  /** The newest version committed AT OR BEFORE `tsMillis` — Delta's
    * timestampAsOf semantics, resolved by binary search over the log's
    * per-commit publication timestamps (commit ts is monotone with
    * version by construction: versions publish sequentially). Loud when
    * `tsMillis` predates the first commit. Commits from logs written
    * before timestamps existed read as ts=0 (always "old enough"). */
  def versionAt(table: String, tsMillis: Long): Long = {
    val head = latestVersion(table)
    require(head > 0, s"$table is not a graft table (no commits)")
    val first = math.max(earliestVersion(table), 1L)
    require(readCommit(table, first).ts <= tsMillis,
      s"timestamp $tsMillis predates $table's earliest retained commit " +
        s"($first)")
    var lo = first
    var hi = head
    while (lo < hi) { // invariant: commit(lo).ts <= tsMillis
      val mid = lo + (hi - lo + 1) / 2
      if (readCommit(table, mid).ts <= tsMillis) lo = mid else hi = mid - 1
    }
    lo
  }

  /** Snapshot-isolated read as of a wall-clock instant. */
  def snapshotAt(spark: SparkSession, table: String, tsMillis: Long): DataFrame =
    snapshot(spark, table, Some(versionAt(table, tsMillis)))

  /** The EARLIEST version committed at or after `tsMillis` — the
    * `startingTimestamp` resolution for feed consumers ("give me every
    * change since this instant"). Loud when the instant is past the last
    * commit (nothing starts there — Delta's contract). */
  def versionAtOrAfter(table: String, tsMillis: Long): Long = {
    val head = latestVersion(table)
    require(head > 0, s"$table is not a graft table (no commits)")
    require(readCommit(table, head).ts >= tsMillis,
      s"startingTimestamp $tsMillis is after $table's last commit " +
        s"(${readCommit(table, head).ts}) — no version starts there")
    // true lower bound over the monotone commit timestamps: several
    // commits can share one millisecond, and returning any but the FIRST
    // would silently skip its siblings from the feed
    var lo = math.max(earliestVersion(table), 1L)
    var hi = head
    while (lo < hi) { // invariant: commit(hi).ts >= tsMillis
      val mid = lo + (hi - lo) / 2
      if (readCommit(table, mid).ts >= tsMillis) hi = mid else lo = mid + 1
    }
    lo
  }

  /** Admission-control boundary for the streaming source: the largest
    * version v in (fromExclusive, to] such that the dataChange commits
    * in (fromExclusive, v] add at most `maxFiles` files — always
    * admitting at least the first commit, so one oversized commit can
    * bound an epoch but never stall the stream. Driver cost is one
    * commit-JSON read per admitted version (metadata, not data). */
  def admissionBoundary(
      table: String, fromExclusive: Long, to: Long,
      maxFiles: Long = Long.MaxValue, maxBytes: Long = Long.MaxValue): Long = {
    require(maxFiles > 0 && maxBytes > 0,
      s"admission caps must be positive, got maxFiles=$maxFiles maxBytes=$maxBytes")
    var v = fromExclusive
    var files = 0L
    var bytes = 0L
    while (v < to) {
      val c = readCommit(table, v + 1)
      val adds = if (c.dataChange) c.add else Nil
      val n = adds.length.toLong
      // byte cost from the filesystem (one stat per candidate file —
      // metadata, not data; missing files count 0 and fail later reads
      // loudly, never here)
      val b = adds.map { f =>
        val p = Paths.get(table, f)
        if (Files.exists(p)) Files.size(p) else 0L
      }.sum
      if (v > fromExclusive && (files + n > maxFiles || bytes + b > maxBytes))
        return v
      files += n
      bytes += b
      v += 1
      if (files >= maxFiles || bytes >= maxBytes) return v
    }
    v
  }

  /** Current head version (0 = no commits yet). */
  def latestVersion(table: String): Long = {
    val dir = logDir(table)
    if (!Files.isDirectory(dir)) 0L
    else listVersions(dir).lastOption.getOrElse(0L)
  }

  /** Earliest version whose log entry is still retained — the time-travel
    * floor after a [[cleanLog]] (1 on a never-cleaned table). */
  def earliestVersion(table: String): Long = {
    val dir = logDir(table)
    if (!Files.isDirectory(dir)) 0L
    else listVersions(dir).headOption.getOrElse(0L)
  }

  /** Default log retention before [[cleanLog]] removes superseded
    * entries — Delta's 30-day shape. */
  val DefaultLogRetentionMs: Long = 30L * 24 * 60 * 60 * 1000

  /** Bound the LOG's own growth — the piece a 100 TB table needs after
    * 100k commits: every log read starts with a directory listing of
    * `_graft_log/`, which grows O(versions) forever (a paged LIST per
    * read on an object store). cleanLog removes commit entries and
    * superseded checkpoints STRICTLY BELOW the newest checkpoint (the
    * replay floor — everything at or above it stays fully replayable)
    * that are older than `olderThanMs` (mtime-based, like vacuum's
    * grace window). Time travel and change feeds below the new floor
    * refuse LOUDLY afterwards (same contract as vacuum for data); the
    * head and every version ≥ the floor are untouched. Returns the
    * number of entries removed. */
  def cleanLog(table: String, olderThanMs: Long = DefaultLogRetentionMs): Int = {
    val dir = logDir(table)
    if (!Files.isDirectory(dir)) return 0
    val cutoff = System.currentTimeMillis() - olderThanMs
    val checkpoints = {
      val stream = Files.list(dir)
      try stream.iterator().asScala
        .map(_.getFileName.toString)
        .collect { case n if n.matches("\\d{20}\\.checkpoint\\.json") =>
          n.stripSuffix(".checkpoint.json").toLong }
        .toSeq.sorted
      finally stream.close()
    }
    val floor = checkpoints.lastOption.getOrElse(return 0)
    var removed = 0
    listVersions(dir).filter(_ < floor).foreach { v =>
      val p = dir.resolve(f"$v%020d.json")
      if (Files.getLastModifiedTime(p).toMillis <= cutoff) {
        Files.deleteIfExists(p): Unit
        removed += 1
      }
    }
    checkpoints.filter(_ < floor).foreach { v =>
      val p = dir.resolve(f"$v%020d.checkpoint.json")
      if (Files.exists(p) && Files.getLastModifiedTime(p).toMillis <= cutoff) {
        Files.deleteIfExists(p): Unit
        removed += 1
      }
    }
    removed
  }

  /** Default vacuum retention: orphans younger than this are kept (the
    * Delta-style grace window). A concurrent writer stages its data
    * files BEFORE its commit publishes; a retention-less vacuum racing
    * that window would delete the staged files and let the commit
    * publish pointing at nothing — permanently lost data at HEAD. */
  val DefaultVacuumRetentionMs: Long = 7L * 24 * 60 * 60 * 1000

  /** Delete data files no longer live at HEAD (failed-write orphans and
    * files removed by overwrite/compact) that are OLDER than
    * `olderThanMs` (mtime-based — see [[DefaultVacuumRetentionMs]]; pass
    * 0 only when provably no writer is in flight). Frees storage at the
    * price of time travel to pre-vacuum versions — exactly the retention
    * trade a production store tunes. Returns the number of files
    * deleted. */
  def vacuum(table: String, olderThanMs: Long = DefaultVacuumRetentionMs): Int = {
    val victims = vacuumCandidates(table, olderThanMs)
    victims.foreach(p => Files.deleteIfExists(Paths.get(table, p)))
    victims.length
  }

  /** The exact files [[vacuum]] would reclaim, WITHOUT deleting them —
    * the DRY RUN every operator wants before an irreversible sweep:
    * dead/orphaned data files past the retention window plus aged CDF
    * images, as table-relative paths. */
  def vacuumCandidates(
      table: String, olderThanMs: Long = DefaultVacuumRetentionMs): Seq[String] = {
    val live = replay(table, None).files.toSet
    val cutoff = System.currentTimeMillis() - olderThanMs
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val dataRoot = Paths.get(table, "data")
    if (Files.isDirectory(dataRoot)) {
      val stream = Files.walk(dataRoot)
      try stream.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
        .filterNot(p => live.contains(relativize(table, p)))
        .filter(p => Files.getLastModifiedTime(p).toMillis <= cutoff)
        .foreach(p => out += relativize(table, p))
      finally stream.close()
    }
    // CDF images past the retention window reclaim too — they are never
    // "live" (no snapshot references them), so age is the only lease;
    // reading a reclaimed range fails loudly in changeFeed, exactly
    // like time travel past a vacuum
    val cdfRoot = Paths.get(table, ChangeDataDirName)
    if (Files.isDirectory(cdfRoot)) {
      val cdfStream = Files.walk(cdfRoot)
      try cdfStream.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
        .filter(p => Files.getLastModifiedTime(p).toMillis <= cutoff)
        .foreach(p => out += relativize(table, p))
      finally cdfStream.close()
    }
    out.toSeq.sorted
  }

  /** Full log (for audits and specs). */
  def history(table: String): Seq[Commit] =
    readCommits(table, math.max(earliestVersion(table), 1L), latestVersion(table))

  // ------------------------------------------------------------------
  // streaming change feed
  // ------------------------------------------------------------------

  private val FeedDirName = "_graft_feed"

  /** Commits whose adds are NEW data a feed consumer should train on.
    * delete/restore/merge rewrite already-fed survivor rows into fresh
    * files — re-linking those would duplicate them downstream — and
    * compaction is layout-only; none of them feed. (A consumer that
    * needs update/delete visibility reads snapshots or diffs versions;
    * this feed is the ingest contract, like `changes()` for appends.) */
  private val FeedOps = Set("append", "overwrite", "convert", "clone")

  /** The table's STREAMING ingest feed: a directory of hard links to
    * every file added by an INGEST commit (append/overwrite — see
    * FeedOps), named `v<version>_<commit>_<file>` so replays are
    * path-stable. `spark.readStream.parquet(feedDir(t))` then follows
    * the log with Structured Streaming's own exactly-once file-source
    * checkpoints — new ingests surface as new files; compactions,
    * deletes, and restores surface as nothing.
    *
    * Links are created best-effort right after each commit publishes;
    * this call HEALS any gap (a writer that crashed between publish and
    * linking) by replaying the log idempotently — so call it once
    * before starting a stream. Hard links cost no storage and keep fed
    * data readable even after a vacuum reclaims the original name; an
    * ingest whose files were vacuumed BEFORE any feed existed is
    * unfeedable and skipped (its consumption window is simply gone). */
  def feedDir(table: String): String = {
    require(replay(table, None).partitionCols.isEmpty,
      s"the hard-linked ingest feed flattens file names and would lose " +
        s"$table's partition segments — consume changes() instead")
    val dir = Paths.get(table, FeedDirName)
    Files.createDirectories(dir)
    history(table).filter(c => c.dataChange && FeedOps(c.op))
      .foreach(c => linkFeed(table, c.version, c.add))
    dir.toString
  }

  /** Idempotent best-effort: link-if-absent each added file under its
    * feed name. Never throws — a feed hiccup must not fail a commit
    * that already published durably; feedDir()'s heal retries later. */
  private def linkFeed(table: String, version: Long, add: Seq[String]): Unit = {
    val dir = Paths.get(table, FeedDirName)
    if (!Files.isDirectory(dir)) return
    add.foreach { rel =>
      val flat = f"v$version%010d_" + rel.stripPrefix("data/").replace("/", "_")
      val target = dir.resolve(flat)
      if (!Files.exists(target))
        try Files.createLink(target, Paths.get(table, rel))
        catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  /** Live data-file count at `asOf` (head if None) — the layout metric
    * compaction exists to shrink. */
  def liveFileCount(table: String, asOf: Option[Long] = None): Int =
    replay(table, asOf).files.length

  /** Resolved snapshot metadata (live files, schema, zone maps, txn
    * ledger) at `asOf` — the planning surface the `graft` DataSource's
    * FileIndex builds on. */
  def snapshotInfo(table: String, asOf: Option[Long] = None): Snapshot =
    replay(table, asOf)

  /** Exact COUNT(*) from the log alone — zero scan tasks, any table
    * size. None if any live file predates row-count stats (the caller
    * falls back to a scan, never a guess). */
  def metadataCount(table: String, asOf: Option[Long] = None): Option[Long] = {
    val snap = replay(table, asOf)
    val per = snap.files.map(f => snap.stats.get(f).flatMap(_.get(RowCountKey)))
    if (per.exists(_.isEmpty)) None else Some(per.flatten.map(_.min.toLong).sum)
  }

  /** Exact MIN/MAX of a column from the zone maps alone — parquet
    * numeric min/max are attained values, so folding them over every
    * live file is the true extremum; string stats serve only when EVERY
    * live file's stats are flagged exact (long values are recorded as
    * truncated BOUNDS at harvest time — valid for pruning, refused here
    * rather than risk returning a value the table never contained).
    * None when any file lacks the column's stats or any string stat is
    * inexact. Values rendered in the stats' string domain. */
  def metadataMinMax(
      table: String, column: String, asOf: Option[Long] = None): Option[(String, String)] = {
    val snap = replay(table, asOf)
    val per = snap.files.map(f => snap.stats.get(f).flatMap(_.get(column)))
    if (per.isEmpty || per.exists(_.isEmpty)) None
    else {
      val cs = per.flatten
      val kind = cs.head.kind
      val servable = kind match {
        case "long" | "double" => cs.forall(_.kind == kind)
        case "string" => cs.forall(c => c.kind == kind && c.exact)
        case _ => false
      }
      if (!servable) None
      else Some((
        cs.map(_.min).reduce((a, b) => if (statLt(kind, a, b)) a else b),
        cs.map(_.max).reduce((a, b) => if (statLt(kind, b, a)) a else b)))
    }
  }

  // ------------------------------------------------------------------
  // data-file writes
  // ------------------------------------------------------------------

  /** Write `df` as parquet under a commit-unique subdir through
    * [[DirectParquet]]: Spark's own FileFormatWriter with files written in
    * place and zone maps computed in the write tasks, so no footer is
    * opened. Returns the table-relative file list, the
    * (nullable-normalized) schema, and per-file zone maps, which for a
    * partitioned write include the min=max stats of the path-borne
    * partition values. */
  private def writeData(
      df: DataFrame, table: String, partitionBy: Seq[String] = Nil)
      : (Seq[String], String, Map[String, Map[String, ColStats]]) = {
    val commitId = java.util.UUID.randomUUID().toString.replace("-", "").take(16)
    val dataDir = Paths.get(table, "data", commitId)
    // Partition values live ONLY in the path and must round-trip exactly
    // (string → path segment → string → Cast back to the column type).
    // Restrict to types where that round-trip is lossless and the cast
    // is timezone-free; refuse anything else loudly at write time rather
    // than corrupt values at read time.
    requirePartitionable(df.schema, partitionBy)
    val stats = DirectParquet.write(df, dataDir.toString, partitionBy).map { case (rel, st) =>
      val full = s"data/$commitId/$rel"
      full -> (st ++ partitionStats(full, df.schema, partitionBy))
    }
    (stats.map(_._1), nullable(df.schema).json, stats.toMap)
  }

  /** Footer-harvested zone maps + synthesized partition-value stats for
    * files the engine did not write ([[convert]]'s adopted files). */
  private def harvestStats(
      table: String, files: Seq[String], partitionBy: Seq[String],
      schema: StructType): Map[String, Map[String, ColStats]] = {
    // Footer reads are independent per file and each costs a few ms of
    // open+parse; harvest in parallel on a bounded pool sized to the host.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(files.size, Runtime.getRuntime.availableProcessors())))
    try {
      val futures = files.map { rel =>
        rel -> pool.submit(new java.util.concurrent.Callable[Map[String, ColStats]] {
          def call(): Map[String, ColStats] = fileStats(Paths.get(table, rel))
        })
      }
      futures.map { case (rel, fut) =>
        // the cause unwrapped: a failed footer read throws its own error
        val st = try fut.get() catch {
          case e: java.util.concurrent.ExecutionException => throw Option(e.getCause).getOrElse(e)
        }
        rel -> (st ++ partitionStats(rel, schema, partitionBy))
      }.toMap
    } finally pool.shutdown()
  }

  /** min=max zone maps of the partition values in a file's path, in each
    * column's comparison domain (dates and strings compare as strings). */
  private def partitionStats(
      rel: String, schema: StructType, partitionBy: Seq[String]): Map[String, ColStats] =
    partitionValuesOf(rel, partitionBy).map { case (c, v) =>
      import org.apache.spark.sql.types._
      val kind = schema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType => "long"
        case FloatType | DoubleType => "double"
        case _ => "string"
      }
      c -> ColStats(kind, v, v)
    }

  /** Partition-column type whitelist (lossless, timezone-free path
    * round-trip) — shared by fresh writes and CONVERT so an adopted
    * table can never be append-dead. */
  private def requirePartitionable(
      schema: StructType, partitionBy: Seq[String]): Unit =
    partitionBy.foreach { c =>
      import org.apache.spark.sql.types._
      schema(c).dataType match {
        case StringType | ByteType | ShortType | IntegerType | LongType
           | DateType | BooleanType => ()
        case other => throw new IllegalArgumentException(
          s"graft: partition column $c has type ${other.sql}, which does not " +
            "round-trip through a hive path segment exactly — partition by " +
            "string, integral, date, or boolean columns only")
      }
    }

  /** Partition values parsed from a file's `col=value/` path segments
    * (hive escaping undone). Loud if a named column is absent. */
  private[graft] def partitionValuesOf(
      rel: String, cols: Seq[String]): Map[String, String] = {
    val kvs = rel.split("/").drop(2).dropRight(1).flatMap { seg =>
      val i = seg.indexOf('=')
      if (i <= 0) None else Some(seg.substring(0, i) -> unescapePath(seg.substring(i + 1)))
    }.toMap
    cols.map(c => c -> kvs.getOrElse(c,
      throw new IllegalStateException(
        s"file $rel lacks a partition segment for column $c"))).toMap
  }

  /** A partition value's string — a `col=value` path segment's or a
    * PARTITION spec's — cast to the column's type, as catalyst's internal
    * value. The session time zone makes the cast valid for every type
    * (timestamps would otherwise throw); the write-time type restriction
    * keeps the path round trip exact. */
  private[graft] def partitionValue(v: String, dt: DataType): Any =
    Cast(Literal(UTF8String.fromString(v), org.apache.spark.sql.types.StringType), dt,
      timeZoneId = Some(SQLConf.get.sessionLocalTimeZone)).eval(null)

  /** The typed values of `fields`, in order, from a file's `col=value/`
    * path segments. */
  private[graft] def typedPartitionValues(rel: String, fields: StructType): Seq[Any] = {
    val pv = partitionValuesOf(rel, fields.fieldNames.toSeq)
    fields.fields.toSeq.map(f => partitionValue(pv(f.name), f.dataType))
  }

  /** Undo Spark's hive-style %XX path escaping. Unescaped characters are
    * accumulated as chars (never byte-decoded one Char at a time — that
    * would split surrogate pairs and corrupt any non-BMP partition
    * value); only the %XX escape bytes go through UTF-8 decoding, and
    * they are decoded as one contiguous byte run so multi-byte escapes
    * (%E2%82%AC) reassemble correctly. */
  private def unescapePath(s: String): String = {
    if (!s.contains('%')) return s
    val out = new java.lang.StringBuilder(s.length)
    val bytes = new java.io.ByteArrayOutputStream()
    def flushBytes(): Unit = if (bytes.size() > 0) {
      out.append(new String(bytes.toByteArray, java.nio.charset.StandardCharsets.UTF_8))
      bytes.reset()
    }
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        bytes.write(Integer.parseInt(s.substring(i + 1, i + 3), 16))
        i += 3
      } else {
        flushBytes()
        out.append(c)
        i += 1
      }
    }
    flushBytes()
    out.toString
  }

  /** Harvest per-column min/max from one parquet footer. Only top-level
    * columns in the pruning-safe comparison domains are kept: plain
    * INT32/INT64 → long, FLOAT/DOUBLE → double, UTF8 BINARY → string.
    * Logical types with their own comparison semantics (timestamps,
    * decimals) are skipped — absence of stats just means "always scan",
    * never a wrong prune. A column missing stats in ANY row group is
    * dropped for the whole file. */
  private[graft] def fileStats(path: Path): Map[String, ColStats] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(path.toUri),
      new org.apache.hadoop.conf.Configuration()))
    try {
      val blocks = reader.getFooter.getBlocks.asScala
      val perBlock: Seq[Map[String, ColStats]] = blocks.toSeq.map { b =>
        b.getColumns.asScala.flatMap { cc =>
          val pathParts = cc.getPath.toArray
          val st = cc.getStatistics
          if (pathParts.length != 1 || st == null || st.isEmpty || !st.hasNonNullValue) None
          else {
            val pt = cc.getPrimitiveType
            val logical = Option(pt.getLogicalTypeAnnotation)
            val kind = pt.getPrimitiveTypeName match {
              case INT32 | INT64
                if logical.forall(_.isInstanceOf[LogicalTypeAnnotation.IntLogicalTypeAnnotation]) =>
                Some("long")
              case FLOAT | DOUBLE => Some("double")
              case BINARY
                if logical.exists(_.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation]) =>
                Some("string")
              case _ => None
            }
            kind.flatMap { k =>
              val cs = k match {
                case "string" =>
                  boundString(
                    st.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8,
                    st.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8)
                case _ =>
                  Some(ColStats(k, st.genericGetMin.toString, st.genericGetMax.toString))
              }
              cs.map(pathParts(0) -> _)
            }
          }
        }.toMap
      }
      val cols =
        if (perBlock.isEmpty) Map.empty[String, ColStats]
        else perBlock.reduce { (a, b) =>
          // a column survives only if every row group carries its stats;
          // a bounded (inexact) endpoint in any row group makes the
          // merged file stats bounded too
          a.keySet.intersect(b.keySet).map { c =>
            val (x, y) = (a(c), b(c))
            c -> ColStats(x.kind,
              if (statLt(x.kind, x.min, y.min)) x.min else y.min,
              if (statLt(x.kind, y.max, x.max)) x.max else y.max,
              exact = x.exact && y.exact)
          }.toMap
        }
      val rowCount = blocks.map(_.getRowCount).sum
      // a user column named like the reserved key loses its zone map
      // (conservative: that file just never prunes on it)
      (cols - RowCountKey) +
        (RowCountKey -> ColStats("rows", rowCount.toString, rowCount.toString))
    } finally reader.close()
  }

  /** Max code points a string zone-map endpoint may carry in the log —
    * long values (document text!) are bounded at harvest time so the log
    * stays metadata-sized at any value width. */
  private[graft] val StringStatPrefix = 32

  /** Bound a string min/max pair for the log: short values ride exact;
    * long values truncate to a [[StringStatPrefix]]-code-point prefix —
    * min's prefix is a valid lower bound as-is, max's prefix has its
    * last code point incremented into a valid upper bound (skipping the
    * surrogate range so the result stays valid UTF-8). None when no
    * upper bound exists (a prefix of all U+10FFFF — then the column
    * simply never prunes for this file, the conservative direction). */
  private[graft] def boundString(mn: String, mx: String): Option[ColStats] = {
    def cps(s: String): Int = s.codePointCount(0, s.length)
    def prefix(s: String): String =
      s.substring(0, s.offsetByCodePoints(0, StringStatPrefix))
    val longMin = cps(mn) > StringStatPrefix
    val longMax = cps(mx) > StringStatPrefix
    if (!longMin && !longMax) Some(ColStats("string", mn, mx))
    else {
      val bmn = if (longMin) prefix(mn) else mn
      val bmx = if (longMax) incrementLastCp(prefix(mx)) else Some(mx)
      bmx.map(m => ColStats("string", bmn, m, exact = false))
    }
  }

  /** The least string strictly greater than every string with prefix `p`:
    * increment p's last code point (jumping the unencodable surrogate
    * block); on overflow (U+10FFFF) drop it and increment the previous.
    * None if p is entirely U+10FFFF. */
  private def incrementLastCp(p: String): Option[String] = {
    val cs = p.codePoints().toArray
    var i = cs.length - 1
    while (i >= 0) {
      var c = cs(i) + 1
      if (c >= 0xD800 && c <= 0xDFFF) c = 0xE000
      if (c <= 0x10FFFF) {
        val sb = new java.lang.StringBuilder
        var j = 0
        while (j < i) { sb.appendCodePoint(cs(j)); j += 1 }
        sb.appendCodePoint(c)
        return Some(sb.toString)
      }
      i -= 1
    }
    None
  }

  private def nullable(s: StructType): StructType =
    StructType(s.fields.map(_.copy(nullable = true)))

  /** `snap`'s files as one scan through a pinned [[GraftFileIndex]]: the
    * table's columns in declared order, whose partition columns take the
    * values of each file's `col=value/` path segments, then `extra`'s
    * columns, whose values `extraValues` gives per file — one row of them
    * for each time the file is to be read. A file gone from storage fails
    * here, not at the first action. */
  private def readFiles(
      spark: SparkSession, table: String, snap: Snapshot,
      extra: Seq[StructField] = Nil,
      extraValues: String => Seq[Seq[Any]] = _ => Seq(Nil)): DataFrame = {
    val schema = DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]
    val parts = StructType(snap.partitionCols.map(c => schema(c)))
    val partSchema = StructType(parts ++ extra)
    val index = new GraftFileIndex(table, snap, pinned = true, partSchema, { rel =>
      val pv = typedPartitionValues(rel, parts)
      extraValues(rel).map(pv ++ _)
    })
    index.refresh()
    spark.baseRelationToDataFrame(HadoopFsRelation(index, partSchema,
      StructType(schema.fields.filterNot(f => snap.partitionCols.contains(f.name))),
      None, new ParquetFileFormat(), Map.empty)(spark))
      .select((schema.fieldNames ++ extra.map(_.name)).toIndexedSeq
        .map(org.apache.spark.sql.functions.col): _*)
  }

  /** [[readFiles]] plus [[FileCol]], each row's table-relative file name:
    * the copy-on-write probes' scan. */
  private def readWithFile(spark: SparkSession, table: String, snap: Snapshot): DataFrame =
    readFiles(spark, table, snap,
      Seq(StructField(FileCol, org.apache.spark.sql.types.StringType, nullable = false)),
      rel => Seq(Seq(UTF8String.fromString(rel))))

  // ------------------------------------------------------------------
  // log replay
  // ------------------------------------------------------------------

  private def logDir(table: String): Path = Paths.get(table, LogDirName)

  private def listVersions(dir: Path): Seq[Long] = {
    val stream = Files.list(dir)
    try stream.iterator().asScala
      .map(_.getFileName.toString)
      .collect { case n if n.matches("\\d{20}\\.json") => n.stripSuffix(".json").toLong }
      .toSeq.sorted
    finally stream.close()
  }

  private def parseStats(node: com.fasterxml.jackson.databind.JsonNode)
      : Map[String, Map[String, ColStats]] =
    if (node == null) Map.empty
    else node.properties().asScala.map { fileEntry =>
      fileEntry.getKey -> fileEntry.getValue.properties().asScala.map { colEntry =>
        val v = colEntry.getValue
        colEntry.getKey -> ColStats(
          v.get("k").asText(), v.get("mn").asText(), v.get("mx").asText(),
          // absent = exact (logs written before bounded stats existed
          // stored full values)
          exact = Option(v.get("x")).forall(_.asBoolean()))
      }.toMap
    }.toMap

  private def readCommit(table: String, version: Long): Commit = {
    val p = logDir(table).resolve(f"$version%020d.json")
    if (!Files.exists(p))
      throw new IllegalStateException(
        s"$table: log entry for version $version is gone (log retention " +
          s"cleaned it); the earliest replayable version is " +
          s"${earliestVersion(table)} — time travel and change feeds below " +
          "that floor are no longer available")
    val node = mapper.readTree(Files.readString(p))
    Commit(
      version = node.get("version").asLong(),
      op = node.get("op").asText(),
      add = node.get("add").elements().asScala.map(_.asText()).toSeq,
      remove = node.get("remove").elements().asScala.map(_.asText()).toSeq,
      schemaJson = node.get("schema").asText(),
      dataChange = node.get("dataChange").asBoolean(),
      stats = parseStats(node.get("stats")),
      txn = Option(node.get("txnApp")).map(a =>
        a.asText() -> node.get("txnBatch").asLong()),
      partitionCols = Option(node.get("partitionCols"))
        .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil),
      ts = Option(node.get("ts")).map(_.asLong()).getOrElse(0L),
      cdf = Option(node.get("cdf"))
        .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil),
      props = Option(node.get("props")).map(_.properties().asScala
        .map(e => e.getKey -> e.getValue.asText()).toMap).getOrElse(Map.empty),
      propsUnset = Option(node.get("propsUnset"))
        .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil))
  }

  private def readCommits(table: String, from: Long, to: Long): Seq[Commit] =
    (from to to).map(readCommit(table, _))

  /** Latest checkpoint at or below `v`, if any. */
  private def readCheckpoint(table: String, v: Long): Option[Snapshot] = {
    val dir = logDir(table)
    if (!Files.isDirectory(dir)) return None
    val stream = Files.list(dir)
    val cpv =
      try stream.iterator().asScala
        .map(_.getFileName.toString)
        .collect { case n if n.matches("\\d{20}\\.checkpoint\\.json") =>
          n.stripSuffix(".checkpoint.json").toLong }
        .filter(_ <= v).maxOption
      finally stream.close()
    cpv.map { cv =>
      val node = mapper.readTree(
        Files.readString(dir.resolve(f"$cv%020d.checkpoint.json")))
      Snapshot(cv,
        node.get("files").elements().asScala.map(_.asText()).toSeq,
        node.get("schema").asText(),
        stats = parseStats(node.get("stats")),
        txns = Option(node.get("txns")).map(_.properties().asScala
          .map(e => e.getKey -> e.getValue.asLong()).toMap).getOrElse(Map.empty),
        partitionCols = Option(node.get("partitionCols"))
          .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil),
        props = Option(node.get("props")).map(_.properties().asScala
          .map(e => e.getKey -> e.getValue.asText()).toMap).getOrElse(Map.empty))
    }
  }

  /** Resolve the live state at `asOf` (head if None): start from the
    * newest checkpoint ≤ v, replay the remaining suffix. */
  private[plans] def replay(table: String, asOf: Option[Long]): Snapshot = {
    val head = latestVersion(table)
    val v = asOf.getOrElse(head)
    if (head == 0)
      throw new IllegalArgumentException(s"$table is not a graft table (no $LogDirName)")
    require(v >= 1 && v <= head,
      s"version $v out of range [1, $head] for table $table")
    val start = readCheckpoint(table, v)
    val base = start.getOrElse(Snapshot(0L, Seq.empty, ""))
    val live = scala.collection.mutable.LinkedHashSet[String](base.files: _*)
    val stats = scala.collection.mutable.Map[String, Map[String, ColStats]](base.stats.toSeq: _*)
    val txns = scala.collection.mutable.Map[String, Long](base.txns.toSeq: _*)
    val props = scala.collection.mutable.Map[String, String](base.props.toSeq: _*)
    var schemaJson = base.schemaJson
    var partitionCols = base.partitionCols
    readCommits(table, base.version + 1, v).foreach { c =>
      c.remove.foreach { f => live.remove(f); stats.remove(f) }
      c.add.foreach(live.add)
      c.stats.foreach { case (f, cs) => stats(f) = cs }
      c.txn.foreach { case (app, batch) =>
        txns(app) = math.max(batch, txns.getOrElse(app, Long.MinValue)) }
      c.propsUnset.foreach(props.remove)
      c.props.foreach { case (k, vv) => props(k) = vv }
      schemaJson = c.schemaJson
      partitionCols = c.partitionCols
    }
    Snapshot(v, live.toSeq, schemaJson, stats.toMap, txns.toMap, partitionCols,
      props.toMap)
  }

  // ------------------------------------------------------------------
  // commit publication (optimistic concurrency)
  // ------------------------------------------------------------------

  /** Validate against the then-current snapshot, then atomically publish
    * version head+1; on losing the create race, re-read and retry.
    * `removePlan` runs INSIDE the loop so each attempt validates against
    * fresh state (and is where conflicts throw); the idempotence token is
    * likewise re-checked per attempt, so a duplicate batch returns None
    * even when the duplicate landed mid-race. */
  private def commit(
      table: String,
      op: String,
      add: Seq[String],
      dataChange: Boolean,
      schemaPlan: Snapshot => String,
      stats: Map[String, Map[String, ColStats]] = Map.empty,
      txn: Option[(String, Long)] = None,
      partitionCols: Seq[String] = Nil,
      cdf: Seq[String] = Nil,
      props: Map[String, String] = Map.empty,
      propsUnset: Seq[String] = Nil,
      newRowCheck: Snapshot => Unit = _ => (),
      // metadata-only commits must re-derive the partition layout per
      // publish retry (like schemaPlan): a frozen pre-race value would
      // let a raced metadata commit RESET a just-created table's layout,
      // because replay applies every commit's partitionCols verbatim
      partitionColsPlan: Option[Snapshot => Seq[String]] = None,
      removePlan: Snapshot => Seq[String]): Option[Long] = {
    val dir = logDir(table)
    Files.createDirectories(dir)
    var attempts = 0
    while (attempts < 50) {
      val head = latestVersion(table)
      val snap = if (head == 0) Snapshot(0L, Seq.empty, "") else replay(table, None)
      txn.foreach { case (app, batch) =>
        if (snap.txns.get(app).exists(_ >= batch)) return None
      }
      val remove = removePlan(snap)
      // per-retry: a constraint that won the version race gates THIS write
      newRowCheck(snap)
      val effPartitionCols = partitionColsPlan.map(_(snap)).getOrElse(partitionCols)
      val version = head + 1
      val rec = mapper.createObjectNode()
      rec.put("version", version)
      rec.put("op", op)
      rec.put("ts", System.currentTimeMillis())
      val addArr = rec.putArray("add"); add.foreach(addArr.add)
      val remArr = rec.putArray("remove"); remove.foreach(remArr.add)
      rec.put("schema", schemaPlan(snap))
      rec.put("dataChange", dataChange)
      putTableState(rec, stats, props, effPartitionCols)
      if (cdf.nonEmpty) {
        val cArr = rec.putArray("cdf"); cdf.foreach(cArr.add)
      }
      if (propsUnset.nonEmpty) {
        val uArr = rec.putArray("propsUnset"); propsUnset.foreach(uArr.add)
      }
      txn.foreach { case (app, batch) =>
        rec.put("txnApp", app); rec.put("txnBatch", batch)
      }
      if (publish(dir, f"$version%020d.json", mapper.writeValueAsString(rec))) {
        // feed freshness (only if a feed exists — feedDir() created it);
        // a crash here is healed by the next feedDir() call
        if (dataChange && FeedOps(op)) linkFeed(table, version, add)
        maybeCheckpoint(table, version)
        return Some(version)
      }
      attempts += 1
    }
    throw new IllegalStateException(
      s"could not commit to $table after $attempts attempts (livelock?)")
  }

  /** Per-file zone maps, properties and partition columns into a commit
    * or checkpoint record, each only when non-empty — the one encoder of
    * what [[parseStats]] and the record readers decode. */
  private def putTableState(
      rec: ObjectNode, stats: Map[String, Map[String, ColStats]],
      props: Map[String, String], partitionCols: Seq[String]): Unit = {
    if (partitionCols.nonEmpty) {
      val pArr = rec.putArray("partitionCols"); partitionCols.foreach(pArr.add)
    }
    if (props.nonEmpty) {
      val pNode = rec.putObject("props")
      props.foreach { case (k, v) => pNode.put(k, v) }
    }
    if (stats.nonEmpty) {
      val stNode = rec.putObject("stats")
      stats.foreach { case (f, cols) =>
        val fNode = stNode.putObject(f)
        cols.foreach { case (c, cs) =>
          val cNode = fNode.putObject(c)
          cNode.put("k", cs.kind); cNode.put("mn", cs.min); cNode.put("mx", cs.max)
          if (!cs.exact) cNode.put("x", false): Unit
        }
      }
    }
  }

  /** Atomic create-if-absent: stage to a temp name, hard-link to the
    * target (fails atomically if the version was taken), unlink the
    * stage. The one primitive an object-store port swaps out. */
  private def publish(dir: Path, name: String, body: String): Boolean = {
    val tmp = Files.createTempFile(dir, ".stage_", ".tmp")
    try {
      Files.writeString(tmp, body)
      try { Files.createLink(dir.resolve(name), tmp); true }
      catch { case _: FileAlreadyExistsException => false }
    } finally Files.deleteIfExists(tmp)
  }

  /** Every CheckpointEvery-th version, persist the full live state so
    * replay reads one checkpoint + a bounded suffix. Losing this race is
    * harmless (same content under the same name). */
  private def maybeCheckpoint(table: String, version: Long): Unit =
    if (version % CheckpointEvery == 0) {
      val snap = replay(table, Some(version))
      val rec = mapper.createObjectNode()
      rec.put("version", version)
      val arr = rec.putArray("files"); snap.files.foreach(arr.add)
      rec.put("schema", snap.schemaJson)
      putTableState(rec, snap.stats, snap.props, snap.partitionCols)
      if (snap.txns.nonEmpty) {
        val txNode = rec.putObject("txns")
        snap.txns.foreach { case (app, batch) => txNode.put(app, batch) }
      }
      publish(logDir(table), f"$version%020d.checkpoint.json",
        mapper.writeValueAsString(rec)): Unit
    }

  private def requireSchemaMatch(tableJson: String, dfJson: String, table: String): Unit = {
    val t = DataType.fromJson(tableJson).asInstanceOf[StructType]
    val d = DataType.fromJson(dfJson).asInstanceOf[StructType]
    val tCols = t.fields.map(f => f.name -> f.dataType)
    val dCols = d.fields.map(f => f.name -> f.dataType)
    if (!tCols.sameElements(dCols)) {
      val extra = dCols.diff(tCols).map { case (n, dt) => s"$n:${dt.simpleString}" }
      val missing = tCols.diff(dCols).map { case (n, dt) => s"$n:${dt.simpleString}" }
      if (extra.isEmpty && missing.isEmpty)
        throw new IllegalArgumentException(
          s"append schema mismatch on $table — same columns, different ORDER " +
            s"(table: ${tCols.map(_._1).mkString(", ")}; append: " +
            s"${dCols.map(_._1).mkString(", ")}); appends are by-position — " +
            "select the columns in the table's order")
      throw new IllegalArgumentException(
        s"append schema mismatch on $table — table wants " +
          s"[${missing.mkString(", ")}], append brings [${extra.mkString(", ")}]; " +
          "use overwrite to evolve the schema")
    }
  }

  private def relativize(table: String, p: Path): String =
    Paths.get(table).toAbsolutePath.normalize
      .relativize(p.toAbsolutePath.normalize).toString
}
