package graft.plans

import org.apache.spark.sql.{GraftPlanApi, Row, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel, UnresolvedRelation, UnresolvedTable}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.catalyst.plans.logical.{AddColumns, DropColumns, InsertIntoStatement, LogicalPlan, RenameColumn, SubqueryAlias, UnresolvedWith}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.LongType

import graft.operators.{DeletionVectors => DV, Snapshots}

/** Session-catalog names of graft-dv tables
  * (`CREATE TABLE t USING graft-dv OPTIONS (path '<root>')`): the
  * lookup from a name to its table root, and the catalog-entry schema
  * refresh a schema change owes sessions that read the name through
  * the V1 relation ([[graft.sources.DvRelation]] serves the schema the
  * entry stores).
  */
object DvSessionName {

  /** The session-catalog entry behind `ident` when it is a graft-dv
    * table: its qualified identifier and its root. None for temp
    * views, missing tables, other providers and non-session catalogs.
    */
  def entry(session: SparkSession,
      ident: Seq[String]): Option[(TableIdentifier, String)] = {
    val cat = session.sessionState.catalog
    val tid = ident match {
      case Seq(t) => TableIdentifier(t)
      case Seq(db, t) => TableIdentifier(t, Some(db))
      case Seq(c, db, t) if c.equalsIgnoreCase("spark_catalog") =>
        TableIdentifier(t, Some(db))
      case _ => return None
    }
    try {
      if (cat.isTempView(ident) || !cat.tableExists(tid)) None
      else {
        val m = cat.getTableMetadata(tid)
        if (m.provider.exists(_.equalsIgnoreCase("graft-dv")))
          m.storage.properties.get("path")
            .orElse(m.storage.locationUri.map(_.toString))
            .map(m.identifier -> _)
        else None
      }
    } catch { case _: Exception => None }
  }

  /** The graft-dv root a session-catalog name stands for. */
  def dvCatalogRoot(session: SparkSession,
      ident: Seq[String]): Option[String] =
    entry(session, ident).map(_._2)

  /** Bring a session-catalog entry's stored schema in step after a
    * manifest-level schema change and drop cached relations.
    */
  def refreshCatalogSchema(session: SparkSession, id: TableIdentifier,
      root: String): Unit = {
    val cat = session.sessionState.catalog
    // full-metadata alter, not alterTableDataSchema: the latter
    // refuses to NARROW a stored schema, and RENAME/DROP COLUMN
    // legitimately remove names from it
    val old = cat.getTableMetadata(id)
    cat.alterTable(old.copy(schema = DV.read(session, root).schema))
    cat.refreshTable(id)
  }
}

/** One SQL path for graft-dv: a session-catalog `USING graft-dv` name
  * is a name for the DSv2 table `graftdv.`<root>``
  * ([[graft.sources.GraftDvCatalog]]), so Spark's own DSv2 resolution
  * runs every statement on it — DELETE/UPDATE/MERGE through
  * `SupportsDelta`, `VERSION`/`TIMESTAMP AS OF` through the catalog's
  * versioned `loadTable`, ADD/RENAME/DROP COLUMN through its
  * `alterTable`, INSERT through its write builder.
  *
  * A hints-batch rule (the Hints batch precedes Resolution, where the
  * session catalog would bind the V1 relation), installed by
  * [[GraftPlans.install]] and applied by [[graft.GraftSql.sql]] to the
  * parsed plan. It rewrites only relation references — reads, DML
  * targets and sources, INSERT targets, time travel — and the table
  * of ADD/RENAME/DROP COLUMN. A rewritten read keeps the session name
  * as its alias, so `t.col` qualifiers still resolve. DDL targets
  * (DROP, CREATE, DESCRIBE, RENAME TO) and ANALYZE are left alone:
  * `DROP TABLE t` must only unregister the name, while the catalog's
  * `dropTable` deletes the table root. Streaming reads keep the V1
  * source. The rule only registers the catalog, where unset;
  * [[DvScanRule]] comes from [[GraftPlans.install]] or
  * [[graft.GraftSql.sql]].
  */
case class DvSessionNameRule(session: SparkSession)
    extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // the parsed plan still carries its CTEs, whose names shadow
    // catalog names
    val ctes = plan.collectWithSubqueries {
      case w: UnresolvedWith => w.cteRelations.map(_._1)
    }.flatten
    val resolver = session.sessionState.conf.resolver
    def entry(ident: Seq[String]): Option[(TableIdentifier, String)] =
      if (ident.headOption.exists(_.equalsIgnoreCase(GraftPlans.DvCatalog))
          || (ident.length == 1 && ctes.exists(resolver(_, ident.head))))
        None
      else DvSessionName.entry(session, ident)
    def v2(root: String): Seq[String] = {
      GraftPlans.registerDvCatalog(session)
      Seq(GraftPlans.DvCatalog, root)
    }
    def alter(table: LogicalPlan, orig: LogicalPlan)(
        rebuild: LogicalPlan => LogicalPlan): LogicalPlan = table match {
      case u: UnresolvedTable =>
        entry(u.multipartIdentifier).map { case (id, root) =>
          DvSessionAlter(rebuild(u.copy(multipartIdentifier = v2(root))),
            id, root)
        }.getOrElse(orig)
      case _ => orig
    }
    plan.transformDownWithSubqueries {
      // the INSERT target is not a child of the statement, and the
      // DSv2 insert resolution wants the bare relation (no alias)
      case i @ InsertIntoStatement(u: UnresolvedRelation, _, _, _, _, _, _) =>
        entry(u.multipartIdentifier).map { case (_, root) =>
          i.copy(table = u.copy(multipartIdentifier = v2(root)))
        }.getOrElse(i)
      case tt @ RelationTimeTravel(u: UnresolvedRelation, _, _) =>
        entry(u.multipartIdentifier).map { case (id, root) =>
          SubqueryAlias(id.nameParts,
            tt.copy(relation = u.copy(multipartIdentifier = v2(root))))
        }.getOrElse(tt)
      case u: UnresolvedRelation if !u.isStreaming =>
        entry(u.multipartIdentifier).map { case (id, root) =>
          SubqueryAlias(id.nameParts,
            u.copy(multipartIdentifier = v2(root)))
        }.getOrElse(u)
      case a: AddColumns => alter(a.table, a)(t => a.copy(table = t))
      case r: RenameColumn => alter(r.table, r)(t => r.copy(table = t))
      case d: DropColumns => alter(d.table, d)(t => d.copy(table = t))
    }
  }
}

/** ADD/RENAME/DROP COLUMN on a session name: runs the DSv2 statement
  * (`alter`), then refreshes the name's catalog entry so sessions
  * reading it through the V1 relation serve the new schema too.
  * Returns the table's manifest version after the change.
  */
case class DvSessionAlter(alter: LogicalPlan, ident: TableIdentifier,
    root: String) extends LeafRunnableCommand {

  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    GraftPlanApi.ofRows(session, alter).collect(): Unit
    DvSessionName.refreshCatalogSchema(session, ident, root)
    Seq(Row(Snapshots.latestVersion(session, DV.manifestTable(root)).get))
  }
}
