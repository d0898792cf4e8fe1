package graft.sources

import graft.plans.TxLog
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsOverwrite, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.nio.file.{Files, Paths}
import java.util.Collections
import scala.jdk.CollectionConverters._

/** A DSv2 TableCatalog over graft transaction-log tables — the SQL-first
  * front door the path-addressed temp views lacked:
  *
  * {{{
  *   spark.sql.catalog.graft_cat           = graft.sources.GraftCatalog
  *   spark.sql.catalog.graft_cat.warehouse = /data/warehouse
  *
  *   CREATE TABLE graft_cat.corpus.docs (id BIGINT, text STRING, lang STRING)
  *     PARTITIONED BY (lang)
  *   INSERT INTO graft_cat.corpus.docs SELECT ...
  *   SELECT * FROM graft_cat.corpus.docs VERSION AS OF 3
  *   ALTER TABLE graft_cat.corpus.docs ADD COLUMNS (score DOUBLE)
  * }}}
  *
  * Identifiers map to `warehouse/ns.../name` directories; each table IS
  * a graft transaction log (the same storage the path API and
  * `format("graft")` read — a catalog table and a path view of it see
  * identical snapshots, because there is exactly one log).
  *
  * Execution stays on the PROVEN v1 machinery (the Delta-OSS
  * integration shape): [[GraftCatalogRelations]] swaps every read-side
  * `DataSourceV2Relation` over a [[GraftTable]] for the log-backed
  * `HadoopFsRelation` during resolution — so catalog reads get the same
  * zone-map file pruning, partition-directory pruning, and vectorized
  * scan as path reads, and DELETE/UPDATE/MERGE fall through to the
  * audited GraftDml COW kernels. Writes ride the official
  * [[V1Write]] fallback (INSERT INTO → idempotent log appends; INSERT
  * OVERWRITE → atomic overwrite; a static `PARTITION (k='v')` spec
  * arrives as the overwrite's delete filters via [[SupportsOverwrite]]
  * and routes to [[TxLog.overwritePartitions]]). Dynamic-mode partition
  * overwrite has NO V1 fallback exec in Spark, so
  * [[GraftCatalogRelations]] intercepts `OverwritePartitionsDynamic`
  * during resolution and routes it to the same kernel — both shapes
  * behave exactly as they do on the `USING graft` view path. Time
  * travel uses Spark's own `VERSION AS OF` / `TIMESTAMP AS OF` syntax
  * via the loadTable overloads. */
class GraftCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"graft catalog '$name' requires spark.sql.catalog.$name.warehouse"))
    Files.createDirectories(Paths.get(warehouse)): Unit
  }

  override def name(): String = catalogName

  // ---- identifier ↔ path -------------------------------------------

  /** Path-safe identifier segments only — the identifier IS the layout. */
  private def clean(seg: String): String = {
    require(seg.matches("[A-Za-z0-9_][A-Za-z0-9_.-]*"),
      s"graft catalog: identifier segment '$seg' is not path-safe " +
        "([A-Za-z0-9_][A-Za-z0-9_.-]*)")
    seg
  }

  private def nsPath(namespace: Array[String]): java.nio.file.Path =
    namespace.map(clean).foldLeft(Paths.get(warehouse))(_.resolve(_))

  private def tablePath(ident: Identifier): String =
    nsPath(ident.namespace()).resolve(clean(ident.name())).toString

  private def isTable(dir: java.nio.file.Path): Boolean =
    Files.isDirectory(dir.resolve("_graft_log"))

  // ---- tables --------------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = nsPath(namespace)
    if (!Files.isDirectory(dir)) throw new NoSuchNamespaceException(
      catalogName +: namespace.toSeq)
    val stream = Files.list(dir)
    try stream.iterator().asScala
      .filter(isTable)
      .map(p => Identifier.of(namespace, p.getFileName.toString))
      .toArray.sortBy(_.name())
    finally stream.close()
  }

  override def tableExists(ident: Identifier): Boolean =
    isTable(Paths.get(tablePath(ident)))

  override def loadTable(ident: Identifier): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(
      (catalogName +: ident.namespace().toSeq :+ ident.name()))
    GraftTable(tablePath(ident), ident.toString)
  }

  /** `VERSION AS OF v` — Spark hands the version as the raw string. */
  override def loadTable(ident: Identifier, version: String): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(
      (catalogName +: ident.namespace().toSeq :+ ident.name()))
    GraftTable(tablePath(ident), ident.toString, asOfVersion = Some(version.toLong))
  }

  /** `TIMESTAMP AS OF t` — Spark hands MICROseconds since epoch. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(
      (catalogName +: ident.namespace().toSeq :+ ident.name()))
    GraftTable(tablePath(ident), ident.toString,
      asOfTimestampMs = Some(timestampMicros / 1000L))
  }

  override def createTable(
      ident: Identifier, schema: StructType, partitions: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(
      (catalogName +: ident.namespace().toSeq :+ ident.name()))
    val partCols = partitions.map {
      // IdentityTransform is private[sql]; match on the public surface
      case t if t.name() == "identity" && t.references().length == 1 =>
        t.references()(0).fieldNames().mkString(".")
      case other => throw new IllegalArgumentException(
        s"graft catalog: only identity PARTITIONED BY (col) is supported, got $other")
    }.toSeq
    Option(properties.get(TableCatalog.PROP_PROVIDER)).foreach { p =>
      require(p.equalsIgnoreCase("graft") || p.equalsIgnoreCase("parquet"),
        s"graft catalog tables store graft-logged parquet; USING $p is not supported")
    }
    // honoring LOCATION silently at a DIFFERENT path would strand the
    // user's external dir empty — refuse loudly until external tables
    // are supported (the identifier IS the layout here)
    require(properties.get(TableCatalog.PROP_LOCATION) == null &&
        properties.get(TableCatalog.PROP_EXTERNAL) == null,
      "graft catalog: LOCATION / EXTERNAL are not supported — tables live " +
        "under the catalog warehouse at their identifier path; use " +
        "CREATE TEMPORARY VIEW ... USING graft OPTIONS (path ...) for an " +
        "external path")
    val path = tablePath(ident)
    Files.createDirectories(Paths.get(path).getParent)
    TxLog.create(path, schema, partCols)
    GraftTable(path, ident.toString)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(
      (catalogName +: ident.namespace().toSeq :+ ident.name()))
    // SET/UNSET TBLPROPERTIES ride the log's property commits; the
    // constraint namespace is writable only through ADD CONSTRAINT,
    // whose existing-row validation a raw property write would bypass
    val (propChanges, rest) = changes.partition(c =>
      c.isInstanceOf[TableChange.SetProperty] ||
        c.isInstanceOf[TableChange.RemoveProperty])
    if (propChanges.nonEmpty) {
      val sets = propChanges.collect { case s: TableChange.SetProperty =>
        require(!s.property().startsWith("constraint."),
          "graft catalog: CHECK constraints are added via ALTER TABLE ... " +
            "ADD CONSTRAINT <name> CHECK (<expr>) — a raw property write " +
            "would skip validating existing rows")
        s.property() -> s.value()
      }.toMap
      val unsets = propChanges.collect {
        case r: TableChange.RemoveProperty => r.property()
      }
      if (sets.nonEmpty) TxLog.setProperties(tablePath(ident), sets): Unit
      if (unsets.nonEmpty) TxLog.unsetProperties(tablePath(ident), unsets.toSeq): Unit
      if (rest.isEmpty) return GraftTable(tablePath(ident), ident.toString)
    }
    val adds = rest.map {
      case a: TableChange.AddColumn =>
        require(a.fieldNames().length == 1 && a.position() == null,
          "graft catalog: ADD COLUMNS supports top-level columns appended " +
            "at the end only")
        require(a.isNullable,
          s"graft catalog: ADD COLUMNS ${a.fieldNames()(0)} NOT NULL is " +
            "impossible — existing rows must null-backfill the new column")
        org.apache.spark.sql.types.StructField(
          a.fieldNames()(0), a.dataType(), nullable = true)
      // named refusals for the Delta-parity ALTER shapes that cannot be
      // metadata-only here, each steering to the supported rewrite path
      case r: TableChange.RenameColumn =>
        throw new UnsupportedOperationException(
          s"graft catalog: ALTER TABLE ... RENAME COLUMN " +
            s"${r.fieldNames().mkString(".")} is not supported — committed " +
            "parquet footers resolve columns by NAME, so a rename would " +
            "orphan every existing file's data; ADD COLUMNS a new name and " +
            "backfill it via UPDATE, or rewrite through " +
            "INSERT OVERWRITE ... SELECT")
      case d: TableChange.DeleteColumn =>
        throw new UnsupportedOperationException(
          s"graft catalog: ALTER TABLE ... DROP COLUMN " +
            s"${d.fieldNames().mkString(".")} is not supported — the schema " +
            "is append-only; drop columns by rewriting through " +
            "INSERT OVERWRITE ... SELECT <kept columns>")
      case u: TableChange.UpdateColumnType =>
        throw new UnsupportedOperationException(
          s"graft catalog: ALTER TABLE ... ALTER COLUMN " +
            s"${u.fieldNames().mkString(".")} TYPE is not supported — " +
            "committed files carry the original physical type; rewrite " +
            "through INSERT OVERWRITE ... SELECT CAST(...)")
      case other => throw new IllegalArgumentException(
        s"graft catalog: unsupported ALTER TABLE change $other — schema is " +
          "append-only (ADD COLUMNS), data changes go through DML")
    }
    TxLog.evolveSchema(tablePath(ident), adds)
    GraftTable(tablePath(ident), ident.toString)
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete(): Unit
  }

  override def dropTable(ident: Identifier): Boolean = {
    val p = Paths.get(tablePath(ident))
    if (!isTable(p)) false
    else { deleteRecursively(p.toFile); true }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!tableExists(oldIdent)) throw new NoSuchTableException(
      (catalogName +: oldIdent.namespace().toSeq :+ oldIdent.name()))
    if (tableExists(newIdent)) throw new TableAlreadyExistsException(
      (catalogName +: newIdent.namespace().toSeq :+ newIdent.name()))
    Files.createDirectories(nsPath(newIdent.namespace()))
    Files.move(Paths.get(tablePath(oldIdent)), Paths.get(tablePath(newIdent))): Unit
  }

  override def invalidateTable(ident: Identifier): Unit = ()

  // ---- namespaces ----------------------------------------------------

  override def listNamespaces(): Array[Array[String]] = {
    val stream = Files.list(Paths.get(warehouse))
    try stream.iterator().asScala
      .filter(p => Files.isDirectory(p) && !isTable(p))
      .map(p => Array(p.getFileName.toString))
      .toArray.sortBy(_.mkString)
    finally stream.close()
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) return listNamespaces()
    val dir = nsPath(namespace)
    if (!Files.isDirectory(dir)) throw new NoSuchNamespaceException(
      catalogName +: namespace.toSeq)
    val stream = Files.list(dir)
    try stream.iterator().asScala
      .filter(p => Files.isDirectory(p) && !isTable(p))
      .map(p => namespace :+ p.getFileName.toString)
      .toArray.sortBy(_.mkString("."))
    finally stream.close()
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || Files.isDirectory(nsPath(namespace))

  override def loadNamespaceMetadata(namespace: Array[String]): java.util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(
      catalogName +: namespace.toSeq)
    Collections.singletonMap(SupportsNamespaces.PROP_LOCATION,
      nsPath(namespace).toString)
  }

  override def createNamespace(
      namespace: Array[String], metadata: java.util.Map[String, String]): Unit =
    Files.createDirectories(nsPath(namespace)): Unit

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("graft catalog: namespaces carry no metadata")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val dir = nsPath(namespace)
    if (!Files.isDirectory(dir)) false
    else {
      val stream = Files.list(dir)
      val empty = try !stream.iterator().hasNext finally stream.close()
      require(empty || cascade,
        s"namespace ${namespace.mkString(".")} is not empty (use CASCADE)")
      deleteRecursively(dir.toFile); true
    }
  }
}

/** The catalog's v2 Table handle. Schema follows the CONNECTOR order
  * (data columns then partition columns) so the analyzer-time swap to
  * the v1 relation keeps attribute identity. Reads never execute
  * through this class — [[GraftCatalogRelations]] swaps the relation —
  * so capabilities advertise only the V1 write fallback. */
final case class GraftTable(
    path: String, ident: String,
    asOfVersion: Option[Long] = None,
    asOfTimestampMs: Option[Long] = None)
    extends Table with SupportsWrite with SupportsPartitionManagement {

  /** The options GraftLogSource.relation resolves (the ONE read path). */
  def v1Parameters: Map[String, String] =
    Map("path" -> path) ++
      asOfVersion.map("versionAsOf" -> _.toString) ++
      asOfTimestampMs.map("timestampAsOf" -> _.toString)

  private lazy val snap = TxLog.snapshotInfo(path,
    asOfVersion.orElse(asOfTimestampMs.map(TxLog.versionAt(path, _))))

  private lazy val declared =
    DataType.fromJson(snap.schemaJson).asInstanceOf[StructType]

  override def name(): String = ident

  override def schema(): StructType = StructType(
    declared.fields.filterNot(f => snap.partitionCols.contains(f.name)) ++
      snap.partitionCols.map(c => declared(declared.fieldIndex(c))))

  override def partitioning(): Array[Transform] =
    snap.partitionCols.map(c => Expressions.identity(c)).toArray

  // ---- SupportsPartitionManagement: SHOW PARTITIONS -------------------
  // Partitions here are not managed objects — they MATERIALIZE from the
  // hive path segments of committed files — so listing is derived from
  // the snapshot's live set and every mutation refuses by name, steering
  // to the DML/overwrite statement that actually does the job atomically.

  override def partitionSchema(): StructType = StructType(
    snap.partitionCols.map(c => declared(declared.fieldIndex(c))).toArray)

  override def listPartitionIdentifiers(
      names: Array[String],
      ident0: org.apache.spark.sql.catalyst.InternalRow)
      : Array[org.apache.spark.sql.catalyst.InternalRow] = {
    val ps = partitionSchema()
    names.foreach(n => require(ps.fieldNames.exists(_.equalsIgnoreCase(n)),
      s"graft: $n is not a partition column of $ident " +
        s"(partitioned by ${snap.partitionCols.mkString(", ")})"))
    val values: Seq[IndexedSeq[Any]] = snap.files
      .map(f => TxLog.partitionValuesOf(f, snap.partitionCols))
      .distinct
      .map(pv => ps.fields.map(f => TxLog.partitionValue(pv(f.name), f.dataType)).toIndexedSeq)
    val filtered = values.filter { vals =>
      names.zipWithIndex.forall { case (n, i) =>
        val idx = ps.fieldNames.indexWhere(_.equalsIgnoreCase(n))
        vals(idx) == ident0.get(i, ps.fields(idx).dataType)
      }
    }
    filtered.map(v =>
      org.apache.spark.sql.catalyst.InternalRow.fromSeq(v)).toArray
  }

  override def createPartition(
      ident0: org.apache.spark.sql.catalyst.InternalRow,
      properties: java.util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      s"graft: ALTER TABLE ... ADD PARTITION is not supported on $ident — " +
        "partitions materialize from written data (INSERT INTO / " +
        "INSERT OVERWRITE ... PARTITION)")

  override def dropPartition(
      ident0: org.apache.spark.sql.catalyst.InternalRow): Boolean =
    throw new UnsupportedOperationException(
      s"graft: ALTER TABLE ... DROP PARTITION is not supported on $ident — " +
        "empty a partition atomically with DELETE FROM ... WHERE <partition " +
        "column> = <value>, or replace it with INSERT OVERWRITE ... PARTITION")

  override def replacePartitionMetadata(
      ident0: org.apache.spark.sql.catalyst.InternalRow,
      properties: java.util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      s"graft: partition metadata properties are not supported on $ident — " +
        "partitions carry no metadata beyond their path values")

  override def loadPartitionMetadata(
      ident0: org.apache.spark.sql.catalyst.InternalRow)
      : java.util.Map[String, String] = Collections.emptyMap()

  override def properties(): java.util.Map[String, String] =
    (snap.props ++
      Map(TableCatalog.PROP_LOCATION -> path,
        TableCatalog.PROP_PROVIDER -> "graft",
        "version" -> snap.version.toString)).asJava

  /** Declared (log) column order — the order the write kernels enforce;
    * [[GraftCatalogRelations]]' dynamic-overwrite interception realigns
    * the v2 connector order (data-then-partition) back to this. */
  def declaredFieldOrder: IndexedSeq[String] = declared.fieldNames.toIndexedSeq

  def partitionCols: Seq[String] = snap.partitionCols

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER)

  /** The static `PARTITION (k='v', …)` spec carried by an overwrite's
    * delete filters (what ResolveInsertInto's staticDeleteExpression
    * compiles the spec into). Only partition-column equalities are a
    * partition-scoped overwrite; anything else refuses loudly — an
    * arbitrary-predicate overwrite is not a shape the log supports. */
  private def staticSpecOf(filters: Array[org.apache.spark.sql.sources.Filter])
      : Map[String, String] = {
    import org.apache.spark.sql.sources.{And => FAnd, EqualNullSafe, EqualTo => FEq}
    def pairs(f: org.apache.spark.sql.sources.Filter): Seq[(String, Any)] = f match {
      case FEq(c, v) => Seq(c -> v)
      case EqualNullSafe(c, v) => Seq(c -> v)
      case FAnd(l, r) => pairs(l) ++ pairs(r)
      case other => throw new IllegalArgumentException(
        s"graft: INSERT OVERWRITE on $ident supports only a static " +
          s"PARTITION (col='value') filter; got $other")
    }
    val spec = filters.toSeq.flatMap(pairs).map { case (c, v) =>
      require(snap.partitionCols.exists(_.equalsIgnoreCase(c)),
        s"graft: overwrite filter column $c is not a partition column of " +
          s"$ident (partitioned by ${snap.partitionCols.mkString(", ")})")
      require(v != null,
        s"graft: PARTITION ($c=NULL) is not supported — null partition " +
          "values have no path representation here")
      c -> String.valueOf(v)
    }
    val dup = spec.groupBy(_._1.toLowerCase).filter(_._2.distinct.size > 1).keys
    require(dup.isEmpty,
      s"graft: overwrite filter pins ${dup.mkString(", ")} to more than one value")
    spec.toMap
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(asOfVersion.isEmpty && asOfTimestampMs.isEmpty,
      s"graft: cannot write to a time-travel view of $ident")
    new WriteBuilder with SupportsOverwrite {
      // None = plain append; Some(filters) = overwrite scoped to the
      // filters' partitions; AlwaysTrue/empty = whole-table truncate
      // (SupportsOverwrite's own truncate() default delivers AlwaysTrue)
      private var deleteFilters: Option[Array[org.apache.spark.sql.sources.Filter]] = None
      override def overwrite(filters: Array[org.apache.spark.sql.sources.Filter]): WriteBuilder = {
        deleteFilters = Some(filters); this
      }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: org.apache.spark.sql.DataFrame, overwrite: Boolean): Unit = {
              // v2 hands columns in table.schema() order (data then
              // partition); the log enforces the DECLARED order
              val aligned = data.toDF(schema().fieldNames.toIndexedSeq: _*)
                .select(declared.fieldNames.map(org.apache.spark.sql.functions.col)
                  .toIndexedSeq: _*)
              deleteFilters match {
                case Some(fs)
                    if fs.nonEmpty &&
                      !fs.forall(_.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue]) =>
                  TxLog.overwritePartitions(aligned, path, staticSpecOf(fs),
                    dynamic = false): Unit
                case Some(_) =>
                  TxLog.overwrite(aligned, path, snap.partitionCols): Unit
                case None =>
                  if (overwrite) TxLog.overwrite(aligned, path, snap.partitionCols): Unit
                  else TxLog.append(aligned, path, snap.partitionCols): Unit
              }
            }
          }
      }
    }
  }
}

/** Resolution rule: read-side `DataSourceV2Relation(GraftTable)` →
  * the log-backed v1 `HadoopFsRelation`, PRESERVING the v2 relation's
  * output attributes so references above stay bound. Write commands'
  * table slots are left for the V1Write fallback (their `table` field
  * is typed NamedRelation — and the v2 write path is the correct one
  * there). DML (DELETE/UPDATE/MERGE) targets ARE swapped, which is what
  * routes them to the GraftDml COW kernels. */
final class GraftCatalogRelations(spark: SparkSession)
    extends org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
  import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
  import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

  private def graftTableOf(
      rel: org.apache.spark.sql.catalyst.analysis.NamedRelation): Option[GraftTable] =
    rel match {
      case r: DataSourceV2Relation if r.table.isInstanceOf[GraftTable] =>
        Some(r.table.asInstanceOf[GraftTable])
      case _ => None
    }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    import org.apache.spark.sql.catalyst.plans.logical.OverwritePartitionsDynamic
    // cheap guard: plans without a graft catalog relation (every query
    // in a session that never touches the catalog) exit after one
    // early-terminating scan — no transform, no copies, no per-query
    // tax. OverwritePartitionsDynamic holds its relation in the `table`
    // FIELD (not a child), so the guard inspects the node itself.
    val hasGraft = plan.exists {
      case r: DataSourceV2Relation => r.table.isInstanceOf[GraftTable]
      case o: OverwritePartitionsDynamic => graftTableOf(o.table).isDefined
      case _ => false
    }
    if (!hasGraft) return plan
    // write commands need no exemption: V2WriteCommand.table and
    // InsertIntoStatement.table are FIELDS, not children — transform
    // never visits them, so the V1Write fallback path keeps its v2
    // relation untouched by construction
    plan.transform {
      // dynamic-mode INSERT OVERWRITE (and DataFrameWriterV2
      // .overwritePartitions): Spark has no V1 fallback exec for
      // OverwritePartitionsDynamic, so rewrite it here — once the
      // analyzer has aligned the query to the table's columns — into an
      // eager command over the proven partition-scoped overwrite kernel.
      // Static partition values were already injected into the query by
      // ResolveInsertInto; dynamic semantics replace exactly the
      // partitions the rows land in.
      case o: OverwritePartitionsDynamic
          if o.query.resolved && o.outputResolved && graftTableOf(o.table).isDefined =>
        val t = graftTableOf(o.table).get
        require(t.asOfVersion.isEmpty && t.asOfTimestampMs.isEmpty,
          s"graft: cannot overwrite a time-travel view of ${t.ident}")
        GraftCatalogDynamicOverwriteCommand(t.path,
          o.table.output.map(_.name).toIndexedSeq, t.declaredFieldOrder, o.query)
      case r: DataSourceV2Relation if r.table.isInstanceOf[GraftTable] =>
        val t = r.table.asInstanceOf[GraftTable]
        val rel = GraftLogSource.relation(spark, t.v1Parameters)
        org.apache.spark.sql.execution.datasources.LogicalRelation(
          rel, r.output, None, isStreaming = false, None)
    }
  }
}

/** Dynamic partition overwrite on a catalog table, as an eager command:
  * the resolved (already table-aligned) query executes as its own
  * DataFrame, columns realign from the connector order
  * (data-then-partition) to the log's declared order, and
  * [[TxLog.overwritePartitions]] swaps exactly the written partitions in
  * one atomic commit. The query plan sits in a FIELD (not a child), so
  * the fresh analysis inside Bridge.dataFrame re-resolves any graft
  * relations it contains through the normal read path. */
final case class GraftCatalogDynamicOverwriteCommand(
    path: String, connectorOrder: IndexedSeq[String],
    declaredOrder: IndexedSeq[String],
    query: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def run(session: SparkSession): Seq[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.functions.col
    val src = org.apache.spark.sql.graftbridge.Bridge.dataFrame(session, query)
    val aligned = src.toDF(connectorOrder: _*).select(declaredOrder.map(col): _*)
    TxLog.overwritePartitions(aligned, path, Map.empty, dynamic = true): Unit
    Seq.empty
  }
}
