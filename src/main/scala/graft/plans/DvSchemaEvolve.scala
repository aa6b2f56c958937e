package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, MergeIntoTable, SubqueryAlias}
import org.apache.spark.sql.types.StructType

import graft.operators.{DeletionVectors => DV}

/** MERGE schema evolution (the Delta `autoMerge` shape, opt-in via
  * `spark.graft.dv.schema.autoMerge=true`): a `MERGE INTO` whose
  * SOURCE carries columns the target lacks WIDENS the target first —
  * one metadata-only `ADD COLUMNS` manifest flip (nullable; old files
  * null-fill, exactly the append-side evolution rule) — and then the
  * statement resolves normally, so `WHEN NOT MATCHED INSERT *` /
  * `WHEN MATCHED UPDATE SET *` cover the new columns instead of
  * failing analysis.
  *
  * The widening runs PRE-analysis (the star expansion binds against
  * the target's resolved schema, so it must already be wide) on the
  * PARSED plan, for both catalog faces:
  *  - session-catalog `USING graft-dv` names, whose catalog entry is
  *    refreshed too (sessions reading the name through the V1
  *    relation see the widened schema);
  *  - path-addressed DSv2 idents (`graftdv.`<root>``).
  * Both resolve to the DSv2 table, which the catalog re-loads per
  * statement, so the widened schema is what Spark's own
  * `RewriteMergeIntoTable` resolves against.
  * Off by default: silent schema growth on a typo'd source column is
  * exactly what an opt-in flag exists to prevent.
  */
object DvSchemaEvolve {

  def autoMergeOn(spark: SparkSession): Boolean =
    spark.conf.getOption("spark.graft.dv.schema.autoMerge")
      .contains("true")

  /** Re-entrancy guard for the parser wrap: [[DvWidenExecCommand]]
    * needs ONE raw parse of its stored statement at run() time without
    * being wrapped again.
    */
  private val inflight = new ThreadLocal[java.lang.Boolean] {
    override def initialValue: java.lang.Boolean = false
  }

  private[plans] def rawParse(spark: SparkSession,
      sqlText: String): LogicalPlan = {
    inflight.set(true)
    try spark.sessionState.sqlParser.parsePlan(sqlText)
    finally inflight.set(false)
  }

  /** Parse-time SHAPE check only (no side effect): is `plan` a MERGE /
    * INSERT BY NAME into a graft-dv table, with autoMerge on, whose
    * source carries columns the target lacks? The parser wraps such a
    * statement in [[DvWidenExecCommand]] so the ALTER manifest flip
    * happens at EXECUTION, not at parse — a statement that is parsed
    * but never run (or fails permissions before running) must not
    * permanently widen the table.
    */
  def wouldWiden(spark: SparkSession, plan: LogicalPlan): Boolean =
    !inflight.get && (plan match {
      case m: MergeIntoTable if autoMergeOn(spark) =>
        extraCols(spark, m.targetTable, m.sourceTable).nonEmpty
      case i: org.apache.spark.sql.catalyst.plans.logical
          .InsertIntoStatement
          if autoMergeOn(spark) && i.byName && !i.overwrite &&
            i.userSpecifiedCols.isEmpty =>
        extraCols(spark, i.table, i.query).nonEmpty
      case _ => false
    })

  /** If `plan` is a MERGE — or an `INSERT INTO ... BY NAME` — into a
    * graft-dv table, autoMerge is on, and the (independently
    * analyzed) source carries new columns: widen the target. No-op
    * otherwise; never throws on non-dv targets. Positional INSERTs
    * are deliberately excluded: widening changes the target's arity,
    * so only the BY NAME form has unambiguous evolution semantics
    * (the Delta rule).
    */
  def maybeWiden(spark: SparkSession, plan: LogicalPlan): Unit =
    plan match {
      case m: MergeIntoTable if autoMergeOn(spark) =>
        widen(spark, m.targetTable, m.sourceTable)
      case i: org.apache.spark.sql.catalyst.plans.logical
          .InsertIntoStatement
          if autoMergeOn(spark) && i.byName && !i.overwrite &&
            i.userSpecifiedCols.isEmpty =>
        widen(spark, i.table, i.query)
      case _ => ()
    }

  /** Source columns absent from the dv target, compared with the
    * session's RESOLVER (case-insensitive by default, matching Spark
    * resolution — a source column differing only in case must not
    * widen a near-duplicate column). Empty when the target is not a
    * graft-dv table or the source does not resolve.
    */
  private def extraCols(spark: SparkSession, target: LogicalPlan,
      source: LogicalPlan)
      : Seq[org.apache.spark.sql.types.StructField] =
    targetRoot(spark, target) match {
      case None => Nil
      case Some(root) =>
        val srcOpt =
          try Some(spark.sessionState.analyzer.execute(source).schema)
          catch { case _: Exception => None } // source won't resolve
        srcOpt match {
          case None => Nil
          case Some(src) =>
            val resolver = spark.sessionState.analyzer.resolver
            val have = DV.read(spark, root).schema.fieldNames
            src.fields.toSeq.filterNot(f =>
              have.exists(h => resolver(h, f.name)))
        }
    }

  private def widen(spark: SparkSession, target: LogicalPlan,
      source: LogicalPlan): Unit = {
    val extra = extraCols(spark, target, source)
    if (extra.nonEmpty) targetRoot(spark, target).foreach { root =>
      DV.alterAddColumns(spark, root,
        StructType(extra.map(_.copy(nullable = true)).toArray)): Unit
      // bring a session-catalog entry in step for V1 readers
      target.collectFirst {
        case u: UnresolvedRelation => u.multipartIdentifier
      }.flatMap(DvSessionName.entry(spark, _)).foreach { case (id, r) =>
        DvSessionName.refreshCatalogSchema(spark, id, r)
      }
    }
  }

  /** The graft-dv root a MERGE target resolves to: a session-catalog
    * `USING graft-dv` name, or a path-addressed ident of a registered
    * DSv2 graft catalog (`<cat>.`/abs/path``).
    */
  private def targetRoot(spark: SparkSession,
      t: LogicalPlan): Option[String] = t match {
    case SubqueryAlias(_, child) => targetRoot(spark, child)
    case u: UnresolvedRelation =>
      val parts = u.multipartIdentifier
      DvSessionName.dvCatalogRoot(spark, parts).orElse {
        if (parts.length == 2 && parts(1).contains("/") &&
            spark.conf.getOption(
              s"spark.sql.catalog.${parts.head}")
              .contains("graft.sources.GraftDvCatalog") &&
            DV.exists(spark, parts(1)))
          Some(parts(1))
        else None
      }
    case _ => None
  }
}

/** EXECUTION-time wrapper for opt-in MERGE / INSERT BY NAME schema
  * evolution under the extension parser: parsing must be side-effect
  * free, so [[graft.plans.GraftSqlParser]] wraps a widening-eligible
  * statement in this command instead of flipping the manifest inline.
  * run() performs the ADD COLUMNS flip (still BEFORE analysis of the
  * statement, which star expansion requires) and then executes the
  * original text — by which point [[DvSchemaEvolve.wouldWiden]] is
  * false (nothing left to add), so the re-parse takes the normal path.
  */
case class DvWidenExecCommand(sqlText: String)
    extends org.apache.spark.sql.execution.command.LeafRunnableCommand {
  override def run(session: SparkSession)
      : Seq[org.apache.spark.sql.Row] = {
    val raw = DvSchemaEvolve.rawParse(session, sqlText)
    DvSchemaEvolve.maybeWiden(session, raw)
    session.sql(sqlText).collect(): Unit
    Seq.empty
  }
}
