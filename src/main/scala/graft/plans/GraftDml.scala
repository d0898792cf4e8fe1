package graft.plans

import graft.sources.GraftRelation
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.graftbridge.Bridge

/** SQL DML over graft tables — the surface a reference-shaped user (who
  * writes SQL strings, core_processor.rs:391-428) actually types:
  *
  * {{{
  *   DELETE FROM g WHERE k BETWEEN 10 AND 20
  *   UPDATE g SET status = 'U', price = price + 1 WHERE k % 7 = 3
  *   MERGE INTO g t USING updates s ON t.k = s.k
  *     WHEN MATCHED THEN UPDATE SET *
  *     WHEN NOT MATCHED THEN INSERT *
  * }}}
  *
  * Spark parses these into v2-only logical plans (DeleteFromTable /
  * UpdateTable / MergeIntoTable) that analysis would reject for a v1
  * relation; this resolution rule (injected by GraftExtensions) rewrites
  * them — when and only when the target is a `USING graft` relation —
  * into eager commands over the PROVEN copy-on-write kernels
  * (TxLog.delete / TxLog.update / TxLog.merge). The rewrite happens
  * during resolution, so the v2 row-level machinery never engages.
  *
  * Expression handoff: the statement's column references resolved
  * against the VIEW's relation carry that plan's expression ids, while
  * the kernels re-read the table as a fresh DataFrame — so conditions
  * and assignment values are DE-resolved (attributes → bare names) and
  * re-resolve against the kernel's own scan. Single-table scope makes
  * names unambiguous by construction.
  *
  * MERGE: ON must be the single same-named equi-key (refused loudly
  * otherwise). The canonical upsert — `UPDATE SET *` / `INSERT *`, no
  * conditions, no BY SOURCE — routes to TxLog.merge, which commits a
  * source matching no live row as a plain append. Every other clause
  * algebra — conditional matched UPDATE/DELETE, multiple first-wins WHEN
  * clauses, partial-column INSERT, WHEN NOT MATCHED BY SOURCE — routes to
  * [[TxLog.mergeGeneral]] once the analyzer has resolved the clause
  * expressions (exprIds decide which side each reference binds to:
  * source attributes re-bind as `__src_<name>`, target attributes as bare
  * names). Both run TxLog's one copy-on-write kernel.
  */
object GraftDml extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    // INSERT must be taken over HERE, before postHoc DataSourceAnalysis:
    // for a PARTITIONED graft relation PreprocessTableInsertion fills a
    // dynamic partitionSpec, the InsertableRelation arm (guarded on an
    // empty spec) loses, and InsertIntoHadoopFsRelationCommand would
    // write files straight into the table dir — bytes the log never
    // sees, a silently lost insert. Unpartitioned inserts route here
    // too so every graft INSERT takes one audited path.
    case i @ InsertIntoStatement(
        target, parts, cols, query, overwrite, ifNotExists, byName) if query.resolved =>
      graftRelation(target) match {
        case Some(r) =>
          require(!r.isTimeTravel,
            "graft: cannot INSERT into a versionAsOf time-travel view")
          require(cols.isEmpty && !byName,
            "INSERT on a graft view is by-position only (no column list / BY NAME)")
          require(!ifNotExists,
            "INSERT on a graft view: IF NOT EXISTS is not supported")
          val partCols = r.partitionSchema.fieldNames.toSeq
          val badParts = parts.keys.filterNot(k =>
            partCols.exists(_.equalsIgnoreCase(k)))
          require(badParts.isEmpty,
            s"PARTITION names non-partition column(s) ${badParts.mkString(", ")} — " +
              s"${r.table} is partitioned by [${partCols.mkString(", ")}]")
          // static PARTITION (k='v') entries become injected literals; a
          // bare PARTITION (k) entry only signals partition-scoped intent
          // (the column still arrives via the SELECT, per SQL)
          val staticSpec: Map[String, String] =
            parts.collect { case (k, Some(v)) => k -> v }
          require(query.output.length == r.schema.length - staticSpec.size,
            s"INSERT on ${r.table}: query supplies ${query.output.length} columns, " +
              s"expected ${r.schema.length - staticSpec.size} (the table has " +
              s"${r.schema.length}; ${staticSpec.size} come from the PARTITION spec)")
          GraftInsertCommand(r.table, query,
            r.schema.fields.map(f => f.name -> f.dataType).toSeq,
            r.tableFieldOrder, overwrite,
            staticSpec = staticSpec,
            partitionColCount = partCols.length)
        case None => i
      }
    case d @ DeleteFromTable(target, cond) =>
      graftRelation(target) match {
        case Some(r) =>
          requireWritable(r, "DELETE")
          GraftDeleteCommand(r.table, new GraftExprHolder(unresolve(cond)))
        case None => d
      }
    case u @ UpdateTable(target, assignments, cond) =>
      graftRelation(target) match {
        case Some(r) =>
          requireWritable(r, "UPDATE")
          val t = r.table
          val sets = assignments.map { a =>
            val name = a.key match {
              case ar: AttributeReference => ar.name
              case ua: UnresolvedAttribute => ua.nameParts.last
              case other => throw new IllegalArgumentException(
                s"UPDATE on a graft table: unsupported assignment target $other")
            }
            name -> new GraftExprHolder(unresolve(a.value))
          }
          val dup = sets.map(_._1.toLowerCase).groupBy(identity)
            .collect { case (n, g) if g.size > 1 => n }
          require(dup.isEmpty,
            s"UPDATE on a graft table assigns column(s) twice: ${dup.mkString(", ")}")
          GraftUpdateCommand(t, new GraftExprHolder(unresolve(cond.getOrElse(
            org.apache.spark.sql.catalyst.expressions.Literal.TrueLiteral))), sets)
        case None => u
      }
    case m @ MergeIntoTable(target, source, mergeCond,
        matched, notMatched, notMatchedBySource, withSchemaEvolution) =>
      graftRelation(target) match {
        case Some(r) if source.resolved =>
          requireWritable(r, "MERGE")
          val t = r.table
          require(!withSchemaEvolution,
            "MERGE on a graft table: WITH SCHEMA EVOLUTION is not supported")
          val keyCol = keyOf(mergeCond, target, source)
          if (isStarUpdate(matched, target, source) &&
              isStarInsert(notMatched, target, source) &&
              notMatchedBySource.isEmpty)
            // canonical upsert: TxLog.merge
            GraftMergeCommand(t, source, keyCol, target.output.map(_.name))
          else if ((matched ++ notMatched ++ notMatchedBySource).forall(actionReady))
            generalMerge(t, target, source, keyCol,
              matched, notMatched, notMatchedBySource)
          else m // conditions/values still resolving: next fixed-point pass
        case _ => m
      }
    case other => other
  }

  /** The graft relation behind a (possibly alias/view/project-wrapped)
    * plan — temp-view resolution nests the stored plan in
    * SubqueryAlias/View (and a no-op Project for column aliasing). */
  private def graftRelation(plan: LogicalPlan): Option[GraftRelation] = plan match {
    case SubqueryAlias(_, child) => graftRelation(child)
    case v: View => graftRelation(v.child)
    case p: Project if p.projectList.forall(_.isInstanceOf[AttributeReference]) =>
      graftRelation(p.child)
    case LogicalRelation(r: GraftRelation, _, _, _, _) => Some(r)
    case other =>
      logDebug(s"GraftDml: not a graft relation: ${other.getClass.getSimpleName}")
      None
  }

  /** Every DML statement mutates HEAD — a versionAsOf view is a pinned
    * past and must refuse, exactly like INSERT. */
  private def requireWritable(r: GraftRelation, stmt: String): Unit =
    require(!r.isTimeTravel,
      s"graft: cannot $stmt a versionAsOf time-travel view of ${r.table}")

  /** De-resolve: attribute references → bare names, so the expression
    * re-resolves against the kernel's own fresh scan of the table.
    * `With` common-subexpression nodes (how BETWEEN parses in Spark 4)
    * are inlined first — a With whose defs hold unresolved attributes
    * crashes withNewChildrenInternal's dataType probe, and the analyzer
    * re-derives the CSE when the kernel's filter re-analyzes anyway. */
  private def unresolve(e: Expression): Expression = e.transformDown {
    case w: org.apache.spark.sql.catalyst.expressions.With =>
      val defs = w.defs.map(d => d.id -> d.child).toMap
      w.child.transformDown {
        case r: org.apache.spark.sql.catalyst.expressions.CommonExpressionRef =>
          defs(r.id)
      }
    case a: AttributeReference => UnresolvedAttribute(a.name)
  }

  /** The upsert key: ON must be a single equi-comparison between a
    * target column and a source column OF THE SAME NAME. */
  private def keyOf(cond: Expression, target: LogicalPlan, source: LogicalPlan): String =
    cond match {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if a.name.equalsIgnoreCase(b.name) &&
            (target.outputSet.contains(a) && source.outputSet.contains(b) ||
              target.outputSet.contains(b) && source.outputSet.contains(a)) =>
        target.output.find(_.name.equalsIgnoreCase(a.name)).get.name
      case other => throw new IllegalArgumentException(
        s"MERGE on a graft table needs ON target.key = source.key " +
          s"(same column name both sides); got $other")
    }

  /** WHEN MATCHED THEN UPDATE SET * — accepted raw (UpdateStarAction) or
    * analyzer-expanded (every target column assigned its same-named
    * source column, no extra condition). */
  private def isStarUpdate(
      actions: Seq[MergeAction], target: LogicalPlan, source: LogicalPlan): Boolean =
    actions match {
      case Seq(UpdateStarAction(None)) => true
      case Seq(UpdateAction(None, assignments, _))
          if assignments.length == target.output.length &&
            assignments.forall(a => (a.key, a.value) match {
              case (k: AttributeReference, v: AttributeReference) =>
                k.name.equalsIgnoreCase(v.name) &&
                  target.outputSet.contains(k) && source.outputSet.contains(v)
              case _ => false
            }) => true
      case _ => false
    }

  /** WHEN NOT MATCHED THEN INSERT * — same two accepted forms. */
  private def isStarInsert(
      actions: Seq[MergeAction], target: LogicalPlan, source: LogicalPlan): Boolean =
    actions match {
      case Seq(InsertStarAction(None)) => true
      case Seq(InsertAction(None, assignments))
          if assignments.length == target.output.length &&
            assignments.forall(a => (a.key, a.value) match {
              case (k: AttributeReference, v: AttributeReference) =>
                k.name.equalsIgnoreCase(v.name) &&
                  target.outputSet.contains(k) && source.outputSet.contains(v)
              case _ => false
            }) => true
      case _ => false
    }

  /** A non-canonical clause is convertible once every condition and
    * assignment inside it has resolved (exprIds are what tell the
    * kernel which side — target vs source — each reference binds to). */
  private def actionReady(a: MergeAction): Boolean = a match {
    case UpdateAction(c, as, _) =>
      c.forall(_.resolved) && as.forall(x => x.key.resolved && x.value.resolved)
    case DeleteAction(c) => c.forall(_.resolved)
    case InsertAction(c, as) =>
      c.forall(_.resolved) && as.forall(x => x.key.resolved && x.value.resolved)
    case UpdateStarAction(c) => c.forall(_.resolved)
    case InsertStarAction(c) => c.forall(_.resolved)
    case _ => false
  }

  /** De-resolve for the two-namespace merge kernel: attributes belonging
    * to the SOURCE plan re-bind as `__src_<name>` (the kernel renames the
    * joined source side), target attributes as bare names. */
  private def unresolveTwoSided(e: Expression, source: LogicalPlan): Expression =
    e.transformDown {
      case w: org.apache.spark.sql.catalyst.expressions.With =>
        val defs = w.defs.map(d => d.id -> d.child).toMap
        w.child.transformDown {
          case r: org.apache.spark.sql.catalyst.expressions.CommonExpressionRef =>
            defs(r.id)
        }
      case a: AttributeReference if source.outputSet.contains(a) =>
        UnresolvedAttribute(s"__src_${a.name}")
      case a: AttributeReference => UnresolvedAttribute(a.name)
    }

  /** Convert the general clause algebra (conditional UPDATE/DELETE,
    * multiple WHEN clauses, NOT MATCHED BY SOURCE) into the
    * TxLog.mergeGeneral command. Star actions expand to every target
    * column := its same-named source column. */
  private def generalMerge(
      table: String, target: LogicalPlan, source: LogicalPlan, keyCol: String,
      matched: Seq[MergeAction], notMatched: Seq[MergeAction],
      notMatchedBySource: Seq[MergeAction]): LogicalPlan = {
    def hold(e: Expression): GraftExprHolder =
      new GraftExprHolder(unresolveTwoSided(e, source))
    def starSets: Seq[(String, GraftExprHolder)] = target.output.map(a =>
      a.name -> new GraftExprHolder(UnresolvedAttribute(s"__src_${a.name}")))
    def setsOf(assignments: Seq[Assignment]): Seq[(String, GraftExprHolder)] =
      assignments.map { a =>
        val name = a.key match {
          case ar: AttributeReference => ar.name
          case ua: UnresolvedAttribute => ua.nameParts.last
          case other => throw new IllegalArgumentException(
            s"MERGE on a graft table: unsupported assignment target $other")
        }
        name -> hold(a.value)
      }
    val matchedSpecs = matched.map {
      case UpdateStarAction(c) => (c.map(hold), Some(starSets))
      case UpdateAction(c, as, _) => (c.map(hold), Some(setsOf(as)))
      case DeleteAction(c) => (c.map(hold), None)
      case other => throw new IllegalArgumentException(
        s"MERGE on a graft table: unsupported WHEN MATCHED action $other")
    }
    val notMatchedSpecs = notMatched.map {
      case InsertStarAction(c) => (c.map(hold), starSets)
      case InsertAction(c, as) => (c.map(hold), setsOf(as))
      case other => throw new IllegalArgumentException(
        s"MERGE on a graft table: unsupported WHEN NOT MATCHED action $other")
    }
    val bySourceSpecs = notMatchedBySource.map {
      case UpdateAction(c, as, _) => (c.map(hold), Some(setsOf(as)))
      case DeleteAction(c) => (c.map(hold), None)
      case other => throw new IllegalArgumentException(
        s"MERGE on a graft table: unsupported WHEN NOT MATCHED BY SOURCE action $other")
    }
    GraftMergeGeneralCommand(table, source, keyCol,
      matchedSpecs, notMatchedSpecs, bySourceSpecs)
  }
}

/** Opaque expression carrier: the DML commands hold DE-resolved
  * expressions (bare column names that re-resolve against the kernel's
  * own scan), which TreeNode/checkAnalysis would reject as unresolved if
  * they sat in Expression-typed fields — the holder keeps them out of
  * the tree walk; the command is deliberately a self-contained leaf. */
final class GraftExprHolder(val e: Expression) extends Serializable

/** `DELETE FROM <graft view> WHERE …` — eager command over TxLog.delete. */
final case class GraftDeleteCommand(table: String, cond: GraftExprHolder)
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    TxLog.delete(session, table, Bridge.column(cond.e)): Unit
    Seq.empty
  }
}

/** `UPDATE <graft view> SET … WHERE …` — eager command over TxLog.update. */
final case class GraftUpdateCommand(
    table: String, cond: GraftExprHolder, sets: Seq[(String, GraftExprHolder)])
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    TxLog.update(session, table, Bridge.column(cond.e),
      sets.map { case (n, h) => n -> Bridge.column(h.e) }): Unit
    Seq.empty
  }
}

/** `INSERT INTO / INSERT OVERWRITE <graft view>` — eager command over
  * the log's write kernels: positional cast to the relation's output
  * types (data columns then partition columns, static-PARTITION values
  * injected as cast literals), then realigned to the table's own schema
  * order for the log's schema check. OVERWRITE routes by Spark's own
  * semantics: a PARTITION spec or partitionOverwriteMode=dynamic on a
  * partitioned table is a partition-SCOPED overwrite
  * ([[TxLog.overwritePartitions]] — dynamic replaces exactly the
  * written partitions, a static spec clears its subtree); everything
  * else is the whole-table swap. */
final case class GraftInsertCommand(
    table: String, query: LogicalPlan,
    outTypes: Seq[(String, org.apache.spark.sql.types.DataType)],
    tableOrder: IndexedSeq[String], overwrite: Boolean,
    staticSpec: Map[String, String] = Map.empty,
    partitionColCount: Int = 0)
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.{col, lit}
    val src = Bridge.dataFrame(session, query)
    // the SELECT supplies every column EXCEPT the static-spec'd ones
    // (data columns first, dynamic partition columns last — SQL's rule)
    val supplied = outTypes.filterNot { case (n, _) =>
      staticSpec.keys.exists(_.equalsIgnoreCase(n)) }
    val positioned = src.select(src.columns.zip(supplied).map {
      case (c, (n, dt)) => col(c).cast(dt).as(n)
    }.toSeq: _*)
    val withStatic = staticSpec.foldLeft(positioned) { case (df, (k, v)) =>
      val (name, dt) = outTypes.find(_._1.equalsIgnoreCase(k)).get
      df.withColumn(name, lit(v).cast(dt))
    }
    val aligned = withStatic.select(tableOrder.map(col): _*)
    val dynamicMode = session.conf.get(
      "spark.sql.sources.partitionOverwriteMode").equalsIgnoreCase("dynamic")
    // Spark's own routing: a FULLY-static spec takes static semantics
    // regardless of the mode (it names the exact partition to clear —
    // even an empty source must empty it); dynamic applies only when at
    // least one partition column is dynamic. A bare PARTITION (k) spec
    // under static mode matches every partition = full replace.
    val fullyStatic = partitionColCount > 0 && staticSpec.size == partitionColCount
    if (!overwrite) TxLog.append(aligned, table)
    else if (fullyStatic || (staticSpec.nonEmpty && !dynamicMode))
      TxLog.overwritePartitions(aligned, table, staticSpec, dynamic = false)
    else if (partitionColCount > 0 && dynamicMode)
      TxLog.overwritePartitions(aligned, table, staticSpec, dynamic = true)
    else TxLog.overwrite(aligned, table): Unit
    Seq.empty
  }
}

/** The general MERGE shapes — conditional matched UPDATE/DELETE,
  * multiple first-wins WHEN clauses, partial-column INSERT, WHEN NOT
  * MATCHED BY SOURCE — as an eager command over
  * [[TxLog.mergeGeneral]]. Expressions
  * arrive de-resolved into the kernel's two-name namespace (target
  * columns bare, source columns `__src_<name>`). */
final case class GraftMergeGeneralCommand(
    table: String, source: LogicalPlan, keyCol: String,
    matched: Seq[(Option[GraftExprHolder], Option[Seq[(String, GraftExprHolder)]])],
    notMatched: Seq[(Option[GraftExprHolder], Seq[(String, GraftExprHolder)])],
    notMatchedBySource: Seq[(Option[GraftExprHolder], Option[Seq[(String, GraftExprHolder)]])])
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val src = Bridge.dataFrame(session, source)
    def cols(s: Seq[(String, GraftExprHolder)]) =
      s.map { case (n, h) => n -> Bridge.column(h.e) }
    TxLog.mergeGeneral(session, table, src, keyCol,
      matched = matched.map { case (c, s) =>
        (c.map(h => Bridge.column(h.e)), s.map(cols)) },
      notMatched = notMatched.map { case (c, s) =>
        (c.map(h => Bridge.column(h.e)), cols(s)) },
      notMatchedBySource = notMatchedBySource.map { case (c, s) =>
        (c.map(h => Bridge.column(h.e)), s.map(cols)) }): Unit
    Seq.empty
  }
}

/** `MERGE INTO <graft view> USING <source> ON t.k = s.k …` — eager
  * command over TxLog.merge; the resolved source plan executes as its
  * own DataFrame, columns realigned to the target's order. */
final case class GraftMergeCommand(
    table: String, source: LogicalPlan, keyCol: String, targetCols: Seq[String])
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.col
    val src = Bridge.dataFrame(session, source)
    val missing = targetCols.filterNot(c =>
      src.columns.exists(_.equalsIgnoreCase(c)))
    require(missing.isEmpty,
      s"MERGE source must carry every target column; missing: ${missing.mkString(", ")}")
    TxLog.merge(session, table,
      src.select(targetCols.map(col): _*), keyCol): Unit
    Seq.empty
  }
}
