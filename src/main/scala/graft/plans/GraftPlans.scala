package graft.plans

import org.apache.spark.sql.{DataFrame, GraftPlanApi, SparkSession, SparkSessionExtensions}

/** DataFrame-level API + registration for the engine's custom logical
  * operators (currently [[AsofJoin]]).
  *
  * Two install paths, mirroring [[graft.functions.GraftFunctions]]:
  *  - [[install]] for `SparkSession.builder.withExtensions` /
  *    `spark.sql.extensions=graft.functions.GraftExtensions`;
  *  - [[ensureStrategy]] for sessions the engine doesn't build (the
  *    driver owns the session in this harness) — idempotent append to
  *    `spark.experimental.extraStrategies`, the public per-session
  *    planner hook.
  */
object GraftPlans {

  def install(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => AsofJoinStrategy)
    ext.injectOptimizerRule(_ => PushFilterThroughAsofJoin)
    ext.injectOptimizerRule(s => DvScanRule(s))
    // graft-dv session-catalog names resolve to the DSv2 table: the
    // swap must run in the HINTS batch, on the parsed plan — the
    // Resolution batch would bind the session catalog's V1 relation
    // (and reject time travel, DML and column ALTERs on it). Spark's
    // own DSv2 paths then run every statement.
    ext.injectHintResolutionRule(s => DvSessionNameRule(s))
    // ANALYZE on graft-dv session names: Spark has no DSv2 ANALYZE,
    // and the V1 one would row-scan the table
    ext.injectHintResolutionRule(s => DvAnalyzeRule(s))
    // SQL maintenance statements (VACUUM/OPTIMIZE): not in Spark's
    // grammar — a delegating parser wrapper recognizes exactly the
    // two shapes (the Delta injectParser pattern).
    ext.injectParser((s, delegate) => new GraftSqlParser(s, delegate))
  }

  /** Idempotent per-session strategy + optimizer-rule registration. */
  def ensureStrategy(spark: SparkSession): Unit = {
    val cur = spark.experimental.extraStrategies
    if (!cur.contains(AsofJoinStrategy))
      spark.experimental.extraStrategies = cur :+ AsofJoinStrategy
    val opts = spark.experimental.extraOptimizations
    if (!opts.contains(PushFilterThroughAsofJoin))
      spark.experimental.extraOptimizations = opts :+ PushFilterThroughAsofJoin
  }

  /** Name the graft-dv DSv2 catalog is registered under. */
  val DvCatalog = "graftdv"

  /** Idempotent per-session registration of the graft-dv DSv2 catalog
    * as [[DvCatalog]] ([[registerDvCatalog]]) plus the scan swap
    * ([[ensureDvScan]]), so catalog reads compile to the direct
    * masked plan.
    */
  def ensureDvCatalog(spark: SparkSession): Unit = {
    registerDvCatalog(spark)
    ensureDvScan(spark)
  }

  /** Register [[DvCatalog]] unless the session already names one (a
    * RUNTIME conf, so sessions the engine did not build get it too).
    */
  private[graft] def registerDvCatalog(spark: SparkSession): Unit = {
    val key = s"spark.sql.catalog.$DvCatalog"
    if (spark.conf.getOption(key).isEmpty)
      spark.conf.set(key, classOf[graft.sources.GraftDvCatalog].getName)
  }

  /** Idempotent per-session install of the DV-table placeholder swap
    * ([[DvScanRule]]): catalog/`format("graft-dv")` reads get the
    * manifest-fed masked plan instead of the row-RDD fallback.
    */
  def ensureDvScan(spark: SparkSession): Unit = {
    val opts = spark.experimental.extraOptimizations
    val present = opts.exists {
      case DvScanRule(s) => s eq spark
      case _ => false
    }
    if (!present)
      spark.experimental.extraOptimizations = opts :+ DvScanRule(spark)
  }

  /** Opt-in, per-session install of the summary-table rewrite
    * ([[MvRewriteRule]]). Separate from [[ensureStrategy]] on purpose:
    * a registered summary may only affect plans of the session that
    * asked for it (see [[MvCatalog]]).
    */
  def ensureMvRewrite(spark: SparkSession): Unit = {
    val opts = spark.experimental.extraOptimizations
    val present = opts.exists {
      case MvRewriteRule(s) => s eq spark
      case _ => false
    }
    if (!present)
      spark.experimental.extraOptimizations = opts :+ MvRewriteRule(spark)
  }

  /** `left ASOF JOIN right ON left[keyL] = right[keyR] AND
    * left[timeL] >= right[timeR]` (inner; latest right row wins).
    * Column names resolve against each side, so the two sides may
    * share names — disambiguate with renames before joining if the
    * OUTPUT needs distinct names.
    */
  def asofJoin(
      left: DataFrame, right: DataFrame,
      keyL: String, timeL: String,
      keyR: String, timeR: String): DataFrame = {
    val spark = left.sparkSession
    ensureStrategy(spark)
    val lPlan = GraftPlanApi.analyzed(left)
    val rPlan = GraftPlanApi.analyzed(right)
    def attr(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
             name: String) =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"column $name not found in ${plan.output.map(_.name).mkString(", ")}"))
    GraftPlanApi.ofRows(spark,
      AsofJoin(lPlan, rPlan,
        attr(lPlan, keyL), attr(rPlan, keyR),
        attr(lPlan, timeL), attr(rPlan, timeR)))
  }
}
