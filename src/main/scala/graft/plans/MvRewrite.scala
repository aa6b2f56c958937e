package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{
  Alias, And, AttributeReference, Cast, Expression, ExprId, Literal,
  NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{
  AggregateExpression, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.expressions.{EqualTo, IsNotNull}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{
  Aggregate, Filter, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{
  HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.expr

/** Transparent materialized-view (summary-table) rewrite — the classic
  * warehouse optimization (Oracle query rewrite, BigQuery BI Engine,
  * Databricks MV): a query that aggregates the FACT table is answered
  * from a pre-aggregated SUMMARY when the summary subsumes it, without
  * the query changing at all.
  *
  * Why this is a first-class 100 TB capability: a grain-level summary is
  * smaller than the fact by the fact's rows-per-grain ratio — here
  * (l_returnflag, l_linestatus, l_shipdate) collapses ~6 M rows/SF to a
  * ~10 K-row table whose size is FIXED by grain cardinality, so at 100 TB
  * the rewrite turns a full-fact scan into a kilobyte-scale lookup. The
  * fleet-wide win is that nobody has to know the summary exists: the
  * optimizer proves subsumption per query.
  *
  * Mechanics (the (c)-tier Catalyst ladder, like [[AsofJoin]]):
  *  - [[MvCatalog.register]] derives the summary DIRECTLY from the
  *    query's own aggregate columns: every `AggregateExpression` found
  *    in the passed aggs becomes one stored partial column, keyed by
  *    `fn|<child.sql>` (name-normalized, so registration and match
  *    compare structurally across plans with different ExprIds). The
  *    summary is grain-grouped partials: SUM(e) ⇒ stored SUM(e) per
  *    grain (re-summed at query time — decimal/integer sums are
  *    order-free, so the two-level sum is bit-identical), COUNT(1) ⇒
  *    stored per-grain count re-SUMmed, MIN/MAX ⇒ stored per-grain
  *    MIN/MAX re-MIN/MAXed (idempotent semilattice merges).
  *  - [[MvRewriteRule]] (a `Rule[LogicalPlan]` on
  *    `spark.experimental.extraOptimizations`, installed per session by
  *    [[GraftPlans.ensureMvRewrite]] — deliberately NOT part of the
  *    default extension set: the rewrite is an opt-in property of the
  *    session that registered the summary, so registering one cannot
  *    change any other session's plans) matches
  *    `Aggregate → [Project/Filter]* → LogicalRelation(fact)` where
  *    every filter references only grain columns, every grouping
  *    expression references only grain columns, and every aggregate
  *    derives from a stored partial. Output `ExprId`s are preserved
  *    (each result expression is re-aliased under its original id), so
  *    parent operators — sorts, projections, joins — resolve unchanged.
  *  - Freshness guard: registration fingerprints the fact's files
  *    (name + length + mtime — metadata only, the
  *    [[graft.queries.SimilarityQueries]] index-memo discipline); the
  *    rule re-fingerprints at match time and DECLINES when the fact has
  *    changed, so a stale summary can never serve. At cluster scale the
  *    fingerprint is a catalog lookup (table version); here it is one
  *    `listStatus` per optimized query.
  *
  * Declines (falls through to the base scan, never wrong): DISTINCT or
  * FILTER'd aggregates, aggregates with no registered partial (e.g.
  * AVG — register its SUM and COUNT and write the ratio above the agg
  * instead), filters or groupings that reach non-grain columns,
  * non-column-pruning projections under the aggregate, and stale
  * summaries.
  */
case class MvRewriteRule(session: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val mvs = MvCatalog.registered(session)
    if (mvs.isEmpty) plan
    else plan.transform {
      case agg: Aggregate =>
        mvs.view.flatMap(tryRewrite(agg, _)).headOption.getOrElse(agg)
    }
  }

  private def tryRewrite(agg: Aggregate, mv: RegisteredMv)
      : Option[Aggregate] = {
    val flat = MvCatalog.flatten(agg.child).getOrElse(return None)
    val paths = flat.rels.flatMap(MvCatalog.rootPathsOf).toSet
    if (paths != mv.factPaths) return None
    // the JOIN SHAPE must match the registration exactly: same tables
    // (checked above) joined on the same key pairs — a summary over
    // fact⋈dim answers only that join, not an arbitrary co-occurrence
    // of the same tables
    val eqs = MvCatalog.canonEqs(flat).getOrElse(return None)
    if (eqs != mv.joinEqs) return None
    // freshness: a changed input table must never be served by an old
    // summary — fingerprint EVERY participating relation
    if (MvCatalog.fingerprintOf(flat.rels) != mv.factFingerprint)
      return None

    val conds = MvCatalog.userConds(flat)
    val factByName: Map[String, AttributeReference] =
      flat.rels.flatMap(_.output).groupBy(_.name).collect {
        case (n, Seq(one)) => n -> one
      }.toMap
    val grainIds: Map[ExprId, String] =
      mv.grain.flatMap(g => factByName.get(g).map(_.exprId -> g)).toMap
    if (grainIds.size != mv.grain.size) return None
    val factIds: Set[ExprId] =
      flat.rels.flatMap(_.output.map(_.exprId)).toSet

    // fresh ExprIds per rewrite site, so two rewrites in one plan
    // (self-union, self-join of summarized aggregates) never collide
    val mvRel = mv.mvRelation.newInstance()
    val mvByName = mvRel.output.map(a => a.name -> a).toMap

    // Manual recursion rather than transformDown: a derived aggregate
    // can be Cast-wrapped (decimal re-sum at the precision-38 cap), and
    // transformDown would descend into the REPLACEMENT and re-match its
    // fresh AggregateExpression — whose summary-column shape is not a
    // registered key — turning a successful derivation into a decline.
    var failed = false
    def rewriteExpr(e: Expression): Expression = e match {
      case ae: AggregateExpression =>
        deriveAgg(ae, mvByName, mv).getOrElse { failed = true; ae }
      case a: AttributeReference if grainIds.contains(a.exprId) =>
        mvByName(grainIds(a.exprId))
      case a: AttributeReference if factIds.contains(a.exprId) =>
        failed = true; a // a non-grain fact column outside any aggregate
      case other => other.mapChildren(rewriteExpr)
    }

    val newConds = conds.map(rewriteExpr)
    val newGroup = agg.groupingExpressions.map(rewriteExpr)
    val newRes = agg.aggregateExpressions.map {
      case al: Alias =>
        Alias(rewriteExpr(al.child), al.name)(
          exprId = al.exprId, qualifier = al.qualifier,
          explicitMetadata = al.explicitMetadata)
      case a: AttributeReference =>
        Alias(rewriteExpr(a), a.name)(exprId = a.exprId)
      case other =>
        val r = rewriteExpr(other)
        r.asInstanceOf[NamedExpression] // NamedExpression contract of Aggregate
    }
    if (failed) return None

    val child = newConds.reduceOption(And)
      .map(Filter(_, mvRel): LogicalPlan).getOrElse(mvRel)
    Some(Aggregate(newGroup, newRes, child))
  }

  /** One stored-partial derivation. Partial-merge algebra:
    * SUM ⇒ SUM of stored sums (cast back when decimal widening moved
    * the type), COUNT(1) ⇒ SUM of stored counts, MIN/MAX ⇒ MIN/MAX of
    * stored extrema. DISTINCT / FILTER aggregates are not derivable
    * from grain partials — decline.
    */
  private def deriveAgg(
      ae: AggregateExpression,
      mvByName: Map[String, AttributeReference],
      mv: RegisteredMv): Option[Expression] = {
    if (ae.isDistinct || ae.filter.isDefined) return None
    val keyAndMerge: Option[(String, AttributeReference =>
        org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction)] =
      ae.aggregateFunction match {
        case Count(Seq(Literal(1, _))) =>
          Some(MvCatalog.countKey -> ((a: AttributeReference) => Sum(a)))
        // count(col) = per-grain non-null count, merged by SUM (the
        // "count" key prefix routes the maintainer's fold to sum too)
        case Count(Seq(c)) if !c.isInstanceOf[Literal] =>
          Some(s"count|${MvCatalog.norm(c)}" ->
            ((a: AttributeReference) => Sum(a)))
        case s: Sum => Some(s"sum|${MvCatalog.norm(s.child)}" ->
          ((a: AttributeReference) => Sum(a)))
        case m: Min => Some(s"min|${MvCatalog.norm(m.child)}" ->
          ((a: AttributeReference) => Min(a)))
        case m: Max => Some(s"max|${MvCatalog.norm(m.child)}" ->
          ((a: AttributeReference) => Max(a)))
        case _ => None
      }
    keyAndMerge.flatMap { case (key, merge) =>
      mv.partials.get(key).map { stored =>
        val merged = ae.copy(aggregateFunction = merge(mvByName(stored)))
        if (merged.dataType == ae.dataType) merged
        else Cast(merged, ae.dataType)
      }
    }
  }
}

/** One stored partial: the normalized aggregate shape it answers for
  * (`key`), the SQL of that aggregate over the FACT (`sql` — what a
  * maintainer must compute per batch), and the summary column holding
  * it (`stored`).
  */
final case class MvShape(key: String, sql: String, stored: String)

/** One registered summary: where the fact lives (and what it looked
  * like at registration), the join shape if the registered frame was a
  * star join (canonical equi-join key pairs; empty for a single-table
  * summary), the grain, the stored partials, and the summary's own
  * scan relation.
  */
final case class RegisteredMv(
    factPaths: Set[String],
    joinEqs: Set[String],
    factFingerprint: String,
    grain: Seq[String],
    shapes: Seq[MvShape],
    mvRelation: LogicalRelation) {
  /** normalized aggregate shape → summary column */
  val partials: Map[String, String] =
    shapes.map(s => s.key -> s.stored).toMap
}

/** Session-scoped registry of summaries. Keyed by SparkSession
  * IDENTITY (weakly — a dropped session drops its registrations): the
  * rewrite must be an opt-in property of the session that registered
  * the summary, never ambient application state, or registering a
  * summary would silently change every OTHER query's plan for the same
  * fact (order-dependent bench plans, flapping plan-fingerprint gates).
  */
object MvCatalog {

  private val bySession =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, Vector[RegisteredMv]]())

  val countKey = "count|1"

  def registered(spark: SparkSession): Seq[RegisteredMv] =
    Option(bySession.get(spark)).getOrElse(Vector.empty)

  def clear(spark: SparkSession): Unit = {
    bySession.remove(spark): Unit
  }

  /** Name-normalized shape of an aggregate's input expression: `.sql`
    * prints attribute NAMES, so the same textual aggregate in the
    * registration frame and in a later query compares equal even
    * though their `ExprId`s differ.
    */
  def norm(e: Expression): String = e.sql

  /** One flattened aggregate input: the collected filter conditions,
    * the leaf relations, and the inner equi-join key pairs that tie
    * them — [[flatten]]'s result for both the match side and the
    * registration side.
    */
  final case class Flat(
      conds: Seq[Expression],
      rels: Seq[LogicalRelation],
      eqs: Seq[(AttributeReference, AttributeReference)])

  /** Flatten `Filter/Project(attrs-only)/Join(Inner, equi)` chains down
    * to their leaf relations. Anything else (outer joins, non-equi
    * conditions, computing projections, other nodes) ⇒ None — the
    * subtree is not a shape a grain summary can answer for.
    */
  def flatten(p: LogicalPlan): Option[Flat] = p match {
    case f: Filter => flatten(f.child).map(x =>
      x.copy(conds = x.conds :+ f.condition))
    case pr: Project
        if pr.projectList.forall(_.isInstanceOf[AttributeReference]) =>
      flatten(pr.child)
    case j: Join if j.joinType == Inner && j.condition.isDefined =>
      for {
        l <- flatten(j.left)
        r <- flatten(j.right)
        pairs <- eqPairs(j.condition.get)
      } yield Flat(l.conds ++ r.conds, l.rels ++ r.rels,
        l.eqs ++ r.eqs ++ pairs)
    case lr: LogicalRelation if lr.relation.isInstanceOf[HadoopFsRelation] =>
      Some(Flat(Nil, Seq(lr), Nil))
    case _ => None
  }

  def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  /** The filter conjuncts that are NOT optimizer-inferred
    * `isnotnull(<join key>)` guards (those are implied by the inner
    * join itself — the summary holds only rows that survived it).
    */
  def userConds(flat: Flat): Seq[Expression] = {
    val joinKeyIds =
      flat.eqs.flatMap { case (a, b) => Seq(a.exprId, b.exprId) }.toSet
    flat.conds.flatMap(conjuncts).filterNot {
      case IsNotNull(a: AttributeReference) => joinKeyIds.contains(a.exprId)
      case _ => false
    }
  }

  /** A conjunction of plain column equalities, or None. */
  private def eqPairs(cond: Expression)
      : Option[Seq[(AttributeReference, AttributeReference)]] = {
    val pairs = conjuncts(cond).map {
      case EqualTo(a: AttributeReference, b: AttributeReference) =>
        Some((a, b))
      case _ => None
    }
    if (pairs.forall(_.isDefined)) Some(pairs.flatten) else None
  }

  def rootPathsOf(lr: LogicalRelation): Seq[String] = lr.relation match {
    case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
    case _ => Seq.empty
  }

  /** ExprId-free canonical form of the join key pairs: each side named
    * `<owning relation's sorted root paths>|<column>`, each pair
    * sorted. None on ambiguity — an attribute owned by zero or two
    * relations (self-joins are declined: two relations on the same
    * path make the canonical names collide, so a swapped-key self-join
    * could false-match).
    */
  def canonEqs(flat: Flat): Option[Set[String]] = {
    val keys = flat.rels.map(r => rootPathsOf(r).sorted.mkString(","))
    if (keys.distinct.size != keys.size) return None
    def owner(a: AttributeReference): Option[String] =
      flat.rels.zip(keys).collect {
        case (r, k) if r.outputSet.contains(a) => k
      } match {
        case Seq(one) => Some(one)
        case _ => None
      }
    val canon = flat.eqs.map { case (a, b) =>
      for { oa <- owner(a); ob <- owner(b) }
        yield Seq(s"$oa|${a.name}", s"$ob|${b.name}").sorted.mkString(" = ")
    }
    if (canon.forall(_.isDefined)) Some(canon.flatten.toSet) else None
  }

  /** Metadata-only fingerprint (names + lengths + mtimes) over every
    * participating relation.
    */
  def fingerprintOf(rels: Seq[LogicalRelation]): String = {
    val files = rels.flatMap(_.relation match {
      case fs: HadoopFsRelation => fs.location.inputFiles.toSeq
      case _ => Seq.empty[String]
    })
    rels.headOption.map(_.relation) match {
      case Some(fs: HadoopFsRelation) =>
        fingerprintFiles(
          fs.sparkSession.sparkContext.hadoopConfiguration, files.toArray)
      case _ => ""
    }
  }

  def fingerprint(df: DataFrame): String =
    fingerprintFiles(
      df.sparkSession.sparkContext.hadoopConfiguration, df.inputFiles)

  private def fingerprintFiles(
      conf: org.apache.hadoop.conf.Configuration,
      files: Array[String]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    files.sorted.foreach { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      val st = p.getFileSystem(conf).getFileStatus(p)
      md.update(s"$f|${st.getLen}|${st.getModificationTime};".getBytes("UTF-8"))
    }
    md.digest().map("%02x".format(_)).mkString.take(16)
  }

  /** Build + register a summary for `fact` at `grain`, derived from the
    * very aggregate columns the serving query will use. Every
    * `AggregateExpression` inside `aggs` becomes one stored partial
    * (deduplicated by normalized shape); `COUNT(1)` partials are always
    * stored so COUNT rewrites even when the caller's aggs omit it.
    *
    * The fact must be a plain file scan (that is what the rule can
    * match). Returns the registration; re-registering the same fact
    * path replaces the previous entry (e.g. after the fact changed and
    * the summary was rebuilt).
    */
  def register(
      spark: SparkSession,
      fact: DataFrame,
      grain: Seq[String],
      aggs: Seq[Column],
      mvPath: String): RegisteredMv = {
    val shapes = deriveShapes(spark, fact, grain, aggs)
    val aggCols = shapes.map(s => expr(s.sql).as(s.stored))
    fact.groupBy(grain.map(fact.col): _*)
      .agg(aggCols.head, aggCols.tail: _*)
      .write.mode("overwrite").parquet(mvPath)
    adopt(spark, fact, grain, shapes, mvPath)
  }

  /** Resolve the caller's aggregate columns against the fact into the
    * stored-partial shapes, WITHOUT building anything. The probe
    * aggregation is OPTIMIZED (the public-API way to reach resolved
    * AggregateExpressions in the Spark-4 Column model) because the
    * rule matches at optimize time, after constant folding has
    * normalized literals (`1 - CAST(l_discount …)` analyzes with a
    * promoted literal cast but optimizes to a decimal literal) — keys
    * derived from the ANALYZED probe would miss and the all-or-nothing
    * rewrite would silently decline.
    */
  def deriveShapes(
      spark: SparkSession,
      fact: DataFrame,
      grain: Seq[String],
      aggs: Seq[Column]): Seq[MvShape] = {
    // Any prior registration for this fact must not see the probe: a
    // live registration would rewrite it, and its keys would then
    // describe the summary, not the fact.
    val (factPaths, _) = factShapeOf(fact)
    bySession.synchronized {
      val prev = Option(bySession.get(spark)).getOrElse(Vector.empty)
      bySession.put(spark, prev.filterNot(_.factPaths == factPaths))
    }
    val probe = fact.groupBy(grain.map(fact.col): _*)
      .agg(aggs.head, aggs.tail: _*)
    val aggShapes: Seq[(String, String)] = probe.queryExecution.optimizedPlan
      .collect { case a: Aggregate => a.aggregateExpressions }
      .flatten
      .flatMap(_.collect { case ae: AggregateExpression => ae })
      .flatMap { ae =>
        if (ae.isDistinct || ae.filter.isDefined) None
        else ae.aggregateFunction match {
          case Count(Seq(Literal(1, _))) => Some(countKey -> "count(1)")
          case Count(Seq(c)) if !c.isInstanceOf[Literal] =>
            Some(s"count|${norm(c)}" -> s"count(${norm(c)})")
          case s: Sum => Some(s"sum|${norm(s.child)}" -> s"sum(${norm(s.child)})")
          case m: Min => Some(s"min|${norm(m.child)}" -> s"min(${norm(m.child)})")
          case m: Max => Some(s"max|${norm(m.child)}" -> s"max(${norm(m.child)})")
          case _ => None
        }
      }
    val withCount =
      if (aggShapes.exists(_._1 == countKey)) aggShapes
      else aggShapes :+ (countKey -> "count(1)")
    withCount.distinctBy(_._1).zipWithIndex.map { case ((k, sql), i) =>
      MvShape(k, sql, s"m$i")
    }
  }

  /** Point a registration at an EXISTING summary (no rebuild): the
    * streaming-maintenance path, where the summary was kept current
    * incrementally and only the fact fingerprint + summary file
    * listing need refreshing. Replaces any prior registration for the
    * same fact.
    */
  def adopt(
      spark: SparkSession,
      fact: DataFrame,
      grain: Seq[String],
      shapes: Seq[MvShape],
      mvPath: String): RegisteredMv = {
    val (factPaths, joinEqs) = factShapeOf(fact)
    val mvRel = spark.read.parquet(mvPath).queryExecution.analyzed match {
      case l: LogicalRelation => l
      case other => throw new IllegalStateException(
        s"summary read is not a plain scan: ${other.nodeName}")
    }
    val reg = RegisteredMv(factPaths, joinEqs, fingerprint(fact), grain,
      shapes, mvRel)
    bySession.synchronized {
      val prev = Option(bySession.get(spark)).getOrElse(Vector.empty)
      bySession.put(spark, prev.filterNot(_.factPaths == factPaths) :+ reg)
    }
    reg
  }

  /** The registered frame's (paths, canonical join shape). A plain
    * scan ⇒ (its paths, ∅); a star join ⇒ all paths + key pairs. The
    * frame itself must carry no filters (register the unfiltered join;
    * queries bring their own grain filters) and no computed columns.
    */
  private def factShapeOf(fact: DataFrame): (Set[String], Set[String]) = {
    val flat = flatten(fact.queryExecution.optimizedPlan).getOrElse(
      throw new IllegalArgumentException(
        "fact must be a plain file scan or a chain of inner equi-joins " +
          s"of file scans, got:\n${fact.queryExecution.optimizedPlan}"))
    require(userConds(flat).isEmpty,
      "register the UNFILTERED fact frame; queries bring their own filters")
    val eqs = canonEqs(flat).getOrElse(throw new IllegalArgumentException(
      "ambiguous join shape (self-join or unowned key attribute)"))
    (flat.rels.flatMap(rootPathsOf).toSet, eqs)
  }
}
