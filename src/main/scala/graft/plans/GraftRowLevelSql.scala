package graft.plans

import org.apache.spark.sql.{GraftColumnBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, AttributeSet, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

import graft.sources.v2.GraftTable

/** SQL surface for row-level operations: rewrites resolved
  * `DELETE FROM graft.t WHERE …` and the canonical upsert
  * `MERGE INTO graft.t USING src ON t.k = src.k
  *  WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *`
  * into commands that run the engine's own COW/MOR machinery
  * ([[graft.io.IcebergishTable.deleteWhere]]/[[graft.io.IcebergishTable.mergeRows]])
  * — so SQL reaches the same commit protocol, zone-map pruning, and
  * position-delete strategy the API exposes, the way `ALTER TABLE`
  * already reaches schema evolution through the catalog.
  *
  * Injected as a RESOLUTION rule: it must claim the plan before Spark's
  * own row-level rewrites reject the table (the DSv2 fallback demands
  * `SupportsRowLevelOperations`, a group-based rewrite protocol this
  * format implements more directly). Non-canonical MERGE shapes
  * (conditional clauses, partial SET lists, NOT MATCHED BY SOURCE) reject
  * with a typed error naming the supported form — silently approximating
  * their semantics would be worse than refusing.
  */
object GraftRowLevelSql extends Rule[LogicalPlan] {

  /** The relation arrives alias-wrapped (`DELETE FROM graft.t`,
    * `MERGE INTO graft.t t`): unwrap to the DSv2 relation.
    */
  private def relationOf(p: LogicalPlan): Option[DataSourceV2Relation] =
    p match {
      case SubqueryAlias(_, child) => relationOf(child)
      case r: DataSourceV2Relation => Some(r)
      case _ => None
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    case DeleteFromTable(target, cond)
        if relationOf(target).exists(r => graftTableOf(r).isDefined) &&
          cond.resolved =>
      val t = graftTableOf(relationOf(target).get).get
      requireCurrent(t, "DELETE")
      // The name-anchored condition rides as a prebuilt Column, NOT an
      // Expression field: checkAnalysis would (rightly) reject an
      // unresolved expression hanging off a command node — resolution
      // happens against the fresh table read inside deleteWhere.
      GraftDeleteCommand(t.tablePath,
        GraftColumnBridge.column(unresolveByName(cond)))

    case m @ MergeIntoTable(target, source, cond,
        matched, notMatched, notMatchedBySource, _)
        if relationOf(target).exists(r => graftTableOf(r).isDefined) &&
          m.childrenResolved &&
          cond.resolved && (matched ++ notMatched).forall(_.resolved) =>
      val r = relationOf(target).get
      val t = graftTableOf(r).get
      requireCurrent(t, "MERGE")
      if (notMatchedBySource.nonEmpty)
        unsupported("WHEN NOT MATCHED BY SOURCE is not supported")
      val targetAttrs = AttributeSet(r.output)
      val keyCols = mergeKeys(cond, targetAttrs)
      val upd = matched match {
        case Seq(UpdateAction(None, assigns, _)) => assigns
        case other => unsupported(
          s"matched clause must be exactly one unconditional UPDATE SET *, got $other")
      }
      val ins = notMatched match {
        case Seq(InsertAction(None, assigns)) => assigns
        case other => unsupported(
          s"not-matched clause must be exactly one unconditional INSERT *, got $other")
      }
      // Both clauses must write the SAME source row shape (the canonical
      // upsert): mergeRows applies one updates frame to matches and
      // inserts alike. Compared modulo implicit casts (resolution may
      // insert them asymmetrically); executed with the UPDATE shapes.
      // Every assignment value must be computable from the SOURCE alone:
      // the command evaluates values against the source frame, and
      // unresolveByName erases the target-vs-source distinction — a
      // target-side reference (`SET v = t.v`) would silently re-resolve to
      // the source's column of the same name. Rejected typed instead.
      val sourceAttrs = AttributeSet(source.output)
      val updMap = assignmentMap(upd, sourceAttrs)
      val insMap = assignmentMap(ins, sourceAttrs)
      if (updMap.map(shape) != insMap.map(shape))
        unsupported("UPDATE SET and INSERT column mappings differ — only " +
          "the canonical SET * / INSERT * upsert is supported")
      GraftMergeCommand(t.tablePath, source, updMap, keyCols)
  }

  private def graftTableOf(r: DataSourceV2Relation): Option[GraftTable] =
    r.table match {
      case g: GraftTable => Some(g)
      case _ => None
    }

  private def requireCurrent(t: GraftTable, op: String): Unit =
    if (!t.isCurrentVersion)
      unsupported(s"$op on a time-travel (VERSION AS OF) relation")

  private def unsupported(msg: String): Nothing =
    throw new UnsupportedOperationException(s"graft row-level SQL: $msg")

  /** Re-anchor a resolved condition on column NAMES: the command re-reads
    * the table as a fresh frame, so the original exprIds are meaningless
    * there. Sub-attribute expressions (nested fields) pass through as
    * their extraction over the re-resolved base.
    */
  private def unresolveByName(e: Expression): Expression = e.transform {
    case a: AttributeReference => UnresolvedAttribute(Seq(a.name))
  }

  /** ON clause → target key column names. Only a conjunction of
    * target-col = source-col equalities is a merge key set.
    */
  private def mergeKeys(cond: Expression, target: AttributeSet): Seq[String] = {
    def split(e: Expression): Seq[Expression] = e match {
      case And(l, r) => split(l) ++ split(r)
      case other => Seq(other)
    }
    split(cond).map {
      case EqualTo(a: Attribute, b: Attribute) if target.contains(a) &&
          !target.contains(b) => a.name
      case EqualTo(a: Attribute, b: Attribute) if target.contains(b) &&
          !target.contains(a) => b.name
      case other => unsupported(
        s"ON clause must be a conjunction of target = source equalities, got $other")
    }.distinct
  }

  /** Assignments → (target column name → source expression re-anchored by
    * name). Keys ordered by target name for shape comparison. Values must
    * reference SOURCE attributes only (checked before the exprId-erasing
    * unresolve — afterwards target and source names are indistinguishable).
    */
  private def assignmentMap(assigns: Seq[Assignment],
                            sourceAttrs: AttributeSet): Seq[(String, Expression)] =
    assigns.map { a =>
      val name = a.key match {
        case k: Attribute => k.name
        case other => unsupported(s"assignment key must be a column, got $other")
      }
      val targetRefs = a.value.references.filterNot(sourceAttrs.contains)
      if (targetRefs.nonEmpty)
        unsupported(s"assignment to '$name' references target column(s) " +
          s"${targetRefs.map(_.name).mkString(", ")} — values must come " +
          "from the USING source (the canonical SET * / INSERT * upsert)")
      name -> unresolveByName(a.value)
    }.sortBy(_._1)

  private def shape(kv: (String, Expression)): (String, String) =
    (kv._1, kv._2.transform {
      case c: org.apache.spark.sql.catalyst.expressions.Cast => c.child
    }.toString)
}

/** `DELETE FROM` executed through the engine: zone-map-pruned predicate
  * scan, MOR position deletes below the configured threshold
  * (`spark.graft.delete.morMaxRows`, default 10000 — Iceberg v2's default
  * strategy for small mutations), COW bucket rewrite above it.
  */
final case class GraftDeleteCommand(path: String,
                                    cond: org.apache.spark.sql.Column)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val morMax = spark.conf.getOption("spark.graft.delete.morMaxRows")
      .map(_.toLong).getOrElse(10000L)
    graft.io.IcebergishTable.deleteWhere(spark, path, cond,
      morMaxRows = morMax)
    Seq.empty
  }
}

/** Canonical MERGE upsert executed through [[graft.io.IcebergishTable
  * .mergeRows]]: one atomic COW commit over the touched buckets.
  */
final case class GraftMergeCommand(path: String, source: LogicalPlan,
                                   columns: Seq[(String, Expression)],
                                   keyCols: Seq[String])
    extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(source)

  override def run(spark: SparkSession): Seq[Row] = {
    val src = GraftColumnBridge.dfOf(spark, source)
    val updates = src.select(columns.map { case (name, expr) =>
      GraftColumnBridge.column(expr).as(name)
    }: _*)
    // Same strategy dial as DELETE: matched rows at or below the
    // threshold take the MOR leg (tombstone + append), larger merges COW.
    val morMax = spark.conf.getOption("spark.graft.merge.morMaxRows")
      .map(_.toLong).getOrElse(10000L)
    graft.io.IcebergishTable.mergeRows(path, updates, keyCols,
      morMaxRows = morMax)
    Seq.empty
  }
}
