package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{EliminateSubqueryAliases, UnresolvedAttribute}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteFromTable, InsertAction, LocalRelation, LogicalPlan, MergeIntoTable, Project, UpdateAction, UpdateTable, V2WriteCommand}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.LongType

import graft.sources.VersionedTable

/** Post-hoc analysis rule completing the [[GraftCatalog]] binding — the
  * `DeltaAnalysis` shape: once the analyzer has resolved a statement's
  * relations against the catalog, this rule (injected by
  * `graft.plans.GraftExtensions`) routes every [[GraftTableV2]] node onto
  * the engine's own machinery.
  *
  *   - `DELETE FROM` / `UPDATE` / `MERGE INTO` become driver commands
  *     delegating to the skipping-bounded copy-on-write
  *     [[VersionedTable.delete]]/[[VersionedTable.update]]/
  *     [[VersionedTable.merge]] — the reference's
  *     `INSERT … ON CONFLICT DO UPDATE` (`enhanced_anomaly_detection
  *     .py:176-201`) as a pure-SQL `MERGE INTO` over the commit log.
  *   - Every remaining READ of a graft relation is swapped for the
  *     manifest-`FileIndex` `HadoopFsRelation` ([[ManifestScan.relation]],
  *     the exact `scanIndex` the Scala API plans through), keeping the
  *     relation's output attributes so the surrounding plan stays
  *     resolved — SQL `WHERE` clauses keep dismissing whole dirs from
  *     manifest stats and bloom sidecars at planning time.
  *   - Write targets (`INSERT INTO`/`INSERT OVERWRITE` = `V2WriteCommand`)
  *     are left on the DSv2 path, where [[GraftTableV2]]'s V1 write
  *     fallback turns each into one commit.
  *
  * Everything here is driver-side analysis; no executor ever sees a plan
  * node from this file.
  */
class GraftDmlRule(spark: SparkSession) extends Rule[LogicalPlan] {

  private def graftOf(p: LogicalPlan): Option[GraftTableV2] =
    EliminateSubqueryAliases(p) match {
      case r: DataSourceV2Relation => r.table match {
        case gt: GraftTableV2 => Some(gt)
        case _                => None
      }
      case _ => None
    }

  /** A resolved condition/assignment expression, re-anchored by NAME so the
    * DML op can apply it to its own per-dir frames (the command executes
    * against fresh reads whose attribute ids differ from the statement's).
    */
  private def asColumn(e: Expression): Column =
    ExpressionUtils.column(e.transform {
      case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
    })

  private def writable(gt: GraftTableV2, verb: String): GraftTableV2 = {
    require(gt.asOf.isEmpty, s"cannot $verb a time-travel snapshot of ${gt.name()}")
    require(!gt.isEmptyTable, s"cannot $verb empty versioned table ${gt.name()}")
    gt
  }

  /** The table's declared DML strategy (`graft.dml.mode` TBLPROPERTY):
    * copy-on-write (default — rewrite touched dirs) or merge-on-read
    * (deletion vectors, O(delta) commits). A pure catalog-metadata
    * choice, flippable per table with SET TBLPROPERTIES.
    */
  private def morOf(gt: GraftTableV2): Boolean =
    gt.properties().getOrDefault("graft.dml.mode", "copy-on-write") match {
      case "merge-on-read" => true
      case "copy-on-write" => false
      case other => throw new IllegalArgumentException(
        s"unknown graft.dml.mode '$other' on ${gt.name()} " +
          "(expected merge-on-read | copy-on-write)")
    }

  /** The table's CDF switch, with the table root's `_props` file as the
    * PRIMARY store: when `_props` defines `graft.cdf.enabled`, defer to
    * the kernel (None) — [[GraftCatalog]] forwards SET/UNSET TBLPROPERTIES
    * there, so SQL-issued and library-issued DML can never disagree (the
    * dual-store gap: a catalog-side value overriding a later library-side
    * toggle would silently gap the change feed). The catalog property is
    * consulted only as a FALLBACK for CREATE-time declarations
    * (`CREATE TABLE ... TBLPROPERTIES('graft.cdf.enabled'='true')` rides
    * Spark's v1 create path, which never calls the v2 catalog's
    * createTable, so the declaration lives only in the catalog entry
    * until the first SET TBLPROPERTIES). Delta's `delta
    * .enableChangeDataFeed` semantics: change images are write
    * amplification, so only subscribed tables opt in.
    */
  private def cdfOf(gt: GraftTableV2): Option[Boolean] =
    if (VersionedTable.tableProperties(gt.root)
        .contains(VersionedTable.CdfEnabledProp)) None
    else Option(gt.properties().get(VersionedTable.CdfEnabledProp)).map(_ == "true")

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // Pass 1: DML verbs become driver commands (their target relations
    // disappear with them; a MERGE source is read-swapped recursively).
    val afterDml = plan.resolveOperatorsDown {
      case DeleteFromTable(t, cond) if t.resolved && graftOf(t).isDefined &&
          (cond == null || cond.resolved) =>
        val gt = writable(graftOf(t).get, "DELETE from")
        GraftDeleteCommand(gt.root,
          Option(cond).map(asColumn).getOrElse(lit(true)), morOf(gt), cdfOf(gt))

      case u @ UpdateTable(t, assignments, cond) if u.resolved &&
          graftOf(t).isDefined =>
        val gt = writable(graftOf(t).get, "UPDATE")
        val assigns = assignments.map {
          case Assignment(k: AttributeReference, v) => k.name -> asColumn(v)
          case other => throw new UnsupportedOperationException(
            s"UPDATE supports plain column assignments, got $other")
        }.toMap
        GraftUpdateCommand(gt.root,
          cond.map(asColumn).getOrElse(lit(true)), assigns, morOf(gt), cdfOf(gt))

      case m: MergeIntoTable if m.resolved && graftOf(m.targetTable).isDefined =>
        convertMerge(m, writable(graftOf(m.targetTable).get, "MERGE into"))
    }
    swapReads(afterDml)
  }

  /** The supported MERGE shape is the engine's whole-row upsert contract:
    * `ON t.k = s.k WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN
    * INSERT *` (the analyzer has already expanded the stars into aligned
    * per-column assignments). Anything else fails loudly with the shape
    * spelled out.
    */
  private def convertMerge(m: MergeIntoTable, gt: GraftTableV2): LogicalPlan = {
    def unsupported(why: String): Nothing =
      throw new UnsupportedOperationException(
        s"MERGE INTO ${gt.name()}: $why; supported shape is ON t.key = s.key " +
          "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    if (m.notMatchedBySourceActions.nonEmpty)
      unsupported("WHEN NOT MATCHED BY SOURCE is not supported")
    val keyCol = m.mergeCondition match {
      case EqualTo(a: AttributeReference, b: AttributeReference) =>
        if (a.name != b.name)
          unsupported(s"ON must equate same-named key columns, got ${a.name} = ${b.name}")
        a.name
      case other => unsupported(s"ON must be a single key equality, got $other")
    }
    val targetCols = m.targetTable.output.map(_.name)
    // whole-row: every target column assigned from the same-named source
    // attribute, no action conditions
    def wholeRow(assigns: Seq[Assignment]): Boolean = {
      val byName = assigns.collect {
        case Assignment(k: AttributeReference, v) =>
          val src = v match {
            case s: AttributeReference => Some(s.name)
            // alignment may wrap a cast around an identical-name source attr
            case c: org.apache.spark.sql.catalyst.expressions.Cast =>
              c.child match {
                case s: AttributeReference => Some(s.name)
                case _ => None
              }
            case _ => None
          }
          k.name -> src
      }
      byName.size == assigns.size &&
        byName.forall { case (k, v) => v.contains(k) } &&
        byName.map(_._1).toSet == targetCols.toSet
    }
    m.matchedActions match {
      case Seq(UpdateAction(None, assigns, _)) if wholeRow(assigns) => ()
      case other => unsupported(s"matched actions must be exactly UPDATE SET *, got $other")
    }
    m.notMatchedActions match {
      case Seq(InsertAction(None, assigns)) if wholeRow(assigns) => ()
      case other => unsupported(s"not-matched actions must be exactly INSERT *, got $other")
    }
    // the source may itself read graft tables — swap those reads now
    GraftMergeCommand(gt.root, swapReads(m.sourceTable), keyCol, morOf(gt),
      cdfOf(gt))
  }

  /** Swap every graft READ relation for the manifest-FileIndex
    * `HadoopFsRelation`, keeping the relation's output attributes so the
    * surrounding plan stays resolved. Write targets stay DSv2 (their V1
    * write fallback is the commit path). An uncommitted (empty) table
    * reads as a schema-correct empty relation.
    */
  private def swapReads(plan: LogicalPlan): LogicalPlan = {
    val writeTargets = plan.collect {
      case w: V2WriteCommand => w.table
    }
    plan.resolveOperatorsUp {
      case r: DataSourceV2Relation if r.table.isInstanceOf[GraftTableV2] &&
          !writeTargets.exists(_ eq r) =>
        val gt = r.table.asInstanceOf[GraftTableV2]
        if (gt.isEmptyTable) LocalRelation(r.output)
        else {
          // ONE version resolution governs the dv probe AND the scan it
          // selects — re-resolving per step would let a racing commit
          // pair v's dvs with v+N's dirs (a snapshot nobody committed)
          val v = gt.asOf.orElse(VersionedTable.latestVersion(gt.root)).get
          val dvs = VersionedTable.snapshot(gt.root, v).dvs
          val mapped = VersionedTable.isMapped(
            VersionedTable.tableSchema(spark, gt.root, Some(v)))
          if (dvs.isEmpty && !mapped) {
            val (index, dataSchema) =
              VersionedTable.scanIndex(spark, gt.root, Some(v))
            LogicalRelation(ManifestScan.relation(spark, index, dataSchema),
              r.output.map(_.asInstanceOf[AttributeReference]), None,
              isStreaming = false, None)
          } else {
            // merge-on-read snapshot: swap in the DV-applied scan plan
            // (pruning relation + deletion-vector anti-join), re-aliased
            // onto the relation's output ids so the surrounding plan
            // stays resolved; anchor-column predicates keep pushing
            // through the anti-join into the FileIndex
            val lp = VersionedTable.read(spark, gt.root, Some(v))
              .queryExecution.analyzed
            require(lp.output.size == r.output.size,
              s"scan/relation schema width mismatch on ${gt.name()}")
            lp.output.zip(r.output).foreach { case (n, o) =>
              require(n.name == o.name,
                s"scan/relation column order diverged on ${gt.name()}: " +
                  s"'${n.name}' vs '${o.name}' — refusing to cross-wire")
            }
            Project(lp.output.zip(r.output).map { case (n, o) =>
              Alias(n, o.name)(exprId = o.exprId)
            }, lp)
          }
        }
    }
  }
}

/** `DELETE FROM t WHERE p` — returns the rows removed. */
case class GraftDeleteCommand(root: String, cond: Column,
    mor: Boolean = false,
    cdf: Option[Boolean] = None) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("deleted_rows", LongType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] =
    Seq(Row(
      if (mor) VersionedTable.deleteMor(session, root, cond, cdf)
      else VersionedTable.delete(session, root, cond, cdf)))
}

/** `UPDATE t SET ... WHERE p` — returns the rows updated. */
case class GraftUpdateCommand(root: String, cond: Column,
    assignments: Map[String, Column],
    mor: Boolean = false,
    cdf: Option[Boolean] = None) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("updated_rows", LongType, nullable = false)())
  override def run(session: SparkSession): Seq[Row] =
    Seq(Row(
      if (mor) VersionedTable.updateMor(session, root, cond, assignments, cdf)
      else VersionedTable.update(session, root, cond, assignments, cdf)))
}

/** `MERGE INTO t USING s ON t.k = s.k WHEN MATCHED THEN UPDATE SET *
  * WHEN NOT MATCHED THEN INSERT *` — whole-row upsert; returns the new
  * version number.
  */
case class GraftMergeCommand(root: String, source: LogicalPlan,
    keyCol: String, mor: Boolean = false,
    cdf: Option[Boolean] = None) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def innerChildren: Seq[LogicalPlan] = Seq(source)
  override def run(session: SparkSession): Seq[Row] = {
    val cs = session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val srcDf = org.apache.spark.sql.classic.Dataset.ofRows(cs, source)
    Seq(Row((
      if (mor) VersionedTable.mergeMor(session, root, srcDf, keyCol, cdf = cdf)
      else VersionedTable.merge(session, root, srcDf, keyCol, cdf = cdf)).toLong))
  }
}
