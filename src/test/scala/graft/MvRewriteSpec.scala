package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.plans.{GraftPlans, MvCatalog, MvRewriteRule}
import graft.queries.{ScaleQueries, SqlSurface}
import graft.sources.Tables

/** The summary-table (materialized-view) rewrite: the optimizer must
  * swap a subsumed aggregate onto the summary scan, produce
  * bit-identical answers, decline anything it cannot prove, and never
  * leak the rewrite into sessions that didn't opt in.
  */
class MvRewriteSpec extends SparkSpec {

  private def scannedPaths(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** A writable fact copy (the testdata is read-only) for the
    * staleness and registration tests.
    */
  private def factCopy(tag: String): String = {
    val src = Paths.get(s"$sf/lineitem.parquet")
    val dst = Paths.get(
      s"${System.getProperty("java.io.tmpdir")}/graft_mvspec_$tag")
    if (Files.exists(dst)) {
      Files.walk(dst).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
    }
    Files.createDirectories(dst)
    // the testdata table is a single parquet file; the copy becomes a
    // one-file directory so the test can append to it later
    Files.copy(src, dst.resolve("part-0.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    dst.toString
  }

  test("the served Q1 scans the summary, not the fact, and matches the base answer") {
    val served = ScaleQueries.mvRewriteQ1(spark, sf)
    val plan = scannedPaths(served)
    assert(plan.contains("graft_mv_q1_"),
      s"expected the summary path in the scan:\n$plan")
    assert(!plan.contains("lineitem.parquet"),
      s"fact still scanned after rewrite:\n$plan")
    val base = SqlSurface.aggTpchQ1(spark, sf)
    assert(served.collect().toSeq == base.collect().toSeq,
      "summary-served rows differ from the base aggregate")
  }

  test("the rewrite is session-scoped: the registering session rewrites, others never") {
    ScaleQueries.mvRewriteQ1(spark, sf): Unit // summary registered somewhere
    // the rule-absent state is a session that never installed the
    // rule; a fresh session never inherits it
    def hasRule(s: org.apache.spark.sql.SparkSession) =
      s.experimental.extraOptimizations.exists(_.isInstanceOf[MvRewriteRule])
    assert(!hasRule(spark) && !hasRule(spark.newSession()))
    val plain = scannedPaths(SqlSurface.aggTpchQ1(spark, sf))
    assert(plain.contains("lineitem.parquet") && !plain.contains("graft_mv_q1_"),
      s"summary leaked into a session that never opted in:\n$plain")
  }

  test("a changed fact declines the rewrite until re-registration") {
    val fact = factCopy("stale")
    val s = spark.newSession()
    GraftPlans.ensureMvRewrite(s)
    val mvPath = s"${System.getProperty("java.io.tmpdir")}/graft_mvspec_stalemv"
    def q1(of: DataFrame): DataFrame = {
      val aggs = SqlSurface.q1Aggs
      of.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(aggs.head, aggs.tail: _*)
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }
    MvCatalog.register(s, s.read.parquet(fact), SqlSurface.q1Grain,
      SqlSurface.q1Aggs, mvPath)
    val before = scannedPaths(q1(s.read.parquet(fact)))
    assert(before.contains("graft_mvspec_stalemv"),
      s"fresh summary not used:\n$before")

    // grow the fact: the old summary no longer answers for it
    val extra = s.read.parquet(fact).limit(7)
    extra.write.mode("append").parquet(fact)
    val afterPlan = scannedPaths(q1(s.read.parquet(fact)))
    assert(!afterPlan.contains("graft_mvspec_stalemv"),
      s"STALE summary served a changed fact:\n$afterPlan")
    // and the declined plan computes the NEW truth from the base
    val changed = q1(s.read.parquet(fact)).collect().toSeq
    val base = q1(spark.read.parquet(fact)).collect().toSeq
    assert(changed == base)

    // re-registering over the changed fact re-arms the rewrite
    MvCatalog.register(s, s.read.parquet(fact), SqlSurface.q1Grain,
      SqlSurface.q1Aggs, mvPath)
    val rearmed = q1(s.read.parquet(fact))
    assert(scannedPaths(rearmed).contains("graft_mvspec_stalemv"))
    assert(rearmed.collect().toSeq == base)
  }

  test("declines it cannot prove: non-grain filter, non-grain group, underivable agg") {
    val s = spark.newSession()
    GraftPlans.ensureMvRewrite(s)
    MvCatalog.register(s, Tables.lineitem(s, sf), SqlSurface.q1Grain,
      SqlSurface.q1Aggs,
      s"${System.getProperty("java.io.tmpdir")}/graft_mvspec_decl")
    def li = Tables.lineitem(s, sf)

    // filter reaches l_discount — not in the grain
    val f = li.filter(col("l_discount") > 0.05)
      .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
    assert(scannedPaths(f).contains("lineitem.parquet"))

    // grouping reaches l_partkey — not in the grain
    val g = li.groupBy(col("l_partkey")).agg(count(lit(1)).as("n"))
    assert(scannedPaths(g).contains("lineitem.parquet"))

    // DISTINCT aggregate is not derivable from grain partials
    val d = li.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_suppkey")).as("n"))
    assert(scannedPaths(d).contains("lineitem.parquet"))

    // an aggregate shape never registered (sum of a raw column)
    val u = li.groupBy(col("l_returnflag"))
      .agg(sum(col("l_suppkey")).as("n"))
    assert(scannedPaths(u).contains("lineitem.parquet"))

    // ...while a registered shape on the same session still rewrites
    val ok = scannedPaths(SqlSurface.aggTpchQ1(s, sf))
    assert(!ok.contains("lineitem.parquet"),
      s"registered shape stopped rewriting:\n$ok")
  }

  test("a subsuming subset query rewrites too: fewer group-bys, grain filter only") {
    val s = spark.newSession()
    GraftPlans.ensureMvRewrite(s)
    MvCatalog.register(s, Tables.lineitem(s, sf), SqlSurface.q1Grain,
      SqlSurface.q1Aggs,
      s"${System.getProperty("java.io.tmpdir")}/graft_mvspec_sub")
    val sub = Tables.lineitem(s, sf)
      .filter(col("l_shipdate") > lit("1995-06-01").cast("timestamp"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        round(graft.operators.Enrich.exactSum(col("l_quantity")), 4)
          .as("sum_qty"))
    assert(!scannedPaths(sub).contains("lineitem.parquet"),
      s"subset query not rewritten:\n${scannedPaths(sub)}")
    val base = Tables.lineitem(spark, sf)
      .filter(col("l_shipdate") > lit("1995-06-01").cast("timestamp"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        round(graft.operators.Enrich.exactSum(col("l_quantity")), 4)
          .as("sum_qty"))
    assert(sub.orderBy("l_returnflag").collect().toSeq ==
      base.orderBy("l_returnflag").collect().toSeq)
  }
}
