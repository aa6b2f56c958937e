package graft

import org.apache.spark.sql.{DataFrame, GraftPlanApi, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{CommandResult, DeleteFromTable, LogicalPlan, MergeIntoTable, UpdateTable}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.plans.{DvAnalyzeRule, DvMaintenanceSql, DvSchemaEvolve, DvSessionNameRule, GraftPlans}
import graft.sources.DvDeltaWrite

/** SQL entry point for sessions the engine does NOT build (the harness
  * driver owns its session, so no extension rule runs in its
  * analyzer). It applies to the parsed statement what
  * `spark.sql.extensions=graft.functions.GraftExtensions` installs:
  *  - the maintenance statements outside Spark's grammar
  *    ([[DvMaintenanceSql]]: VACUUM, OPTIMIZE, RESTORE, ...);
  *  - opt-in MERGE / INSERT BY NAME schema evolution
  *    ([[DvSchemaEvolve]]), which must widen the target before analysis;
  *  - [[DvSessionNameRule]]: a graft-dv session-catalog name is a name
  *    for the DSv2 table, so Spark's own DSv2 paths run DML, time
  *    travel, column ALTERs and INSERT on it;
  *  - [[DvAnalyzeRule]]: manifest-native ANALYZE.
  * Everything else delegates verbatim to `spark.sql`, so this is a
  * drop-in superset, and error surfaces are Spark's own.
  *
  * DELETE / UPDATE / MERGE on a graft-dv table return their row
  * counts — `deleted_rows`, `updated_rows`, or
  * (`tombstoned_rows`, `appended_rows`) — read off the metrics the
  * DSv2 write posts ([[graft.sources.DvDeltaWrite]]).
  */
object GraftSql {

  def sql(spark: SparkSession, text: String): DataFrame = {
    DvMaintenanceSql.parse(text) match {
      case Some(cmd) => return GraftPlanApi.ofRows(spark, cmd)
      case None => ()
    }
    val parsed = spark.sessionState.sqlParser.parsePlan(text)
    DvSchemaEvolve.maybeWiden(spark, parsed)
    val routed = route(spark, parsed)
    val df =
      if (routed eq parsed) spark.sql(text)
      else GraftPlanApi.ofRows(spark, routed)
    routed match {
      case _: DeleteFromTable | _: UpdateTable | _: MergeIntoTable =>
        rowCounts(spark, routed, df)
      case _ => df
    }
  }

  /** What the extensions' hints-batch rules do to a parsed statement;
    * a statement on a session name also gets the scan swap the
    * extensions inject ([[GraftPlans.ensureDvScan]]).
    */
  private[graft] def route(spark: SparkSession,
      parsed: LogicalPlan): LogicalPlan = {
    val named = DvSessionNameRule(spark)(parsed)
    if (named ne parsed) GraftPlans.ensureDvScan(spark)
    DvAnalyzeRule(spark)(named)
  }

  /** The counts a graft-dv row-level write posted, as the statement's
    * result; `df` itself for any other DML target.
    */
  private def rowCounts(spark: SparkSession, stmt: LogicalPlan,
      df: DataFrame): DataFrame = {
    val metrics = df.queryExecution.commandExecuted match {
      case c: CommandResult => c.commandPhysicalPlan.collectFirst {
        case p if p.metrics.contains(DvDeltaWrite.AppendedRows) =>
          p.metrics
      }
      case _ => None
    }
    metrics.fold(df) { m =>
      // an insert-only MERGE compiles to a plain append, which
      // tombstones nothing
      val tombstoned =
        m.get(DvDeltaWrite.TombstonedRows).fold(0L)(_.value)
      val appended = m(DvDeltaWrite.AppendedRows).value
      val cols = stmt match {
        case _: DeleteFromTable => Seq("deleted_rows" -> tombstoned)
        case _: UpdateTable => Seq("updated_rows" -> tombstoned)
        case _ => Seq("tombstoned_rows" -> tombstoned,
          "appended_rows" -> appended)
      }
      spark.createDataFrame(
        java.util.List.of(Row.fromSeq(cols.map(_._2))),
        StructType(cols.map(c => StructField(c._1, LongType, false))))
    }
  }
}
