package graft.plans

import org.apache.spark.sql.{GraftPlanApi, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation

import graft.sources.DvRelation

/** Optimizer rule swapping a [[graft.sources.DvRelation]] placeholder
  * (what the catalog / `format("graft-dv")` resolves to) for the REAL
  * masked plan — manifest-fed file index + codegen'd per-file
  * tombstone mask — so queries through the catalog surface get the
  * identical physical shape as the direct
  * [[graft.operators.DeletionVectors.read]] path: parquet pushdown, manifest-side
  * partition pruning, no row-RDD conversion. The [[MvRewriteRule]]
  * discipline applied to storage: output `ExprId`s are preserved by
  * re-aliasing the replacement's columns under the placeholder's ids,
  * so parents resolve unchanged.
  *
  * The swap re-reads the manifest at optimization time — each query
  * serves the table's then-current committed state (a DataFrame held
  * across mutations re-plans per action, same freshness rule as the
  * catalog's own file sources). A session that never installed the
  * rule reads through the relation's PrunedScan fallback — correct,
  * just conservative.
  */
case class DvScanRule(session: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transform {
      case l: LogicalRelation if l.relation.isInstanceOf[DvRelation] =>
        // served() respects reader-option time travel: a pinned
        // version swaps to ITS manifest-fed plan, the live relation
        // to the then-current committed state
        val masked = l.relation.asInstanceOf[DvRelation].served
        val newPlan = GraftPlanApi.analyzed(masked)
        // map BY NAME, never by position: a catalog relation resolved
        // through a declared (creation-time) schema may expose a
        // SUBSET of the live columns after schema evolution — a
        // positional zip would silently alias wrong columns
        val byName = newPlan.output.map(a => a.name -> a).toMap
        Project(l.output.map(o =>
          Alias(byName(o.name), o.name)(exprId = o.exprId)), newPlan)

      // the DSv2 catalog face: by the time user optimizer rules run,
      // V2ScanRelationPushDown has compiled the relation into a scan
      // over the V1 bridge ([[graft.sources.DvV1ScanImpl]] under a
      // V1ScanWrapper) with pruning + pushdown recorded on the scan.
      // Swap the WHOLE bridge for the scan's real plan (pushed
      // filters re-applied inside it), so catalog reads — and the
      // row-level DML scans — end at the identical physical plan as
      // the direct API, no row-RDD conversion boundary.
      case s: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
          if wrapped(s.scan).isDefined =>
        val impl = wrapped(s.scan).get
        // OPTIMIZED, not analyzed: this rule runs in the late
        // extraOptimizations window, so the main optimizer batches
        // never see the injected subtree — a plan carrying operators
        // the optimizer must rewrite before planning (the CDF feed's
        // ExceptAll) would reach the planner raw and fail
        val newPlan = GraftPlanApi.optimized(impl.inner(session))
        val byName = newPlan.output.map(a => a.name -> a).toMap
        Project(s.output.map(o =>
          Alias(byName(o.name), o.name)(exprId = o.exprId)), newPlan)
    }

  private def wrapped(scan: org.apache.spark.sql.connector.read.Scan)
      : Option[graft.sources.DvBridgedScan] = scan match {
    case w: org.apache.spark.sql.execution.datasources.v2.V1ScanWrapper =>
      w.v1Scan match {
        case d: graft.sources.DvBridgedScan => Some(d)
        case _ => None
      }
    case d: graft.sources.DvBridgedScan => Some(d)
    case _ => None
  }
}
