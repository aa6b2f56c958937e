package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{DeletionVectors => DV}

/** The DV table's catalog/DataSource surface: `format("graft-dv")`
  * and `CREATE TABLE ... USING` resolve the mutable masked table;
  * with the swap rule the physical plan is the manifest-fed masked
  * scan (identical to the direct API), without it the conservative
  * PrunedScan fallback still answers correctly; mutations between
  * reads are served transparently (manifest re-resolved per query).
  */
class DvSourceSpec extends SparkSpec {

  private def freshTable(): (String, org.apache.spark.sql.DataFrame) = {
    val root = Files.createTempDirectory("graft_dvsrc").toString
    val ev = graft.sources.Tables.events(spark, sf)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
    DV.init(spark, ev, root, "day")
    (root, ev)
  }

  test("format(graft-dv) equals the direct masked read across " +
      "mutations — deletes and an upsert served transparently") {
    val (root, ev) = freshTable()
    graft.plans.GraftPlans.ensureDvScan(spark)
    def viaFormat = spark.read.format("graft-dv").load(root)

    assert(viaFormat.count() == ev.count())

    DV.delete(spark, root, "user_id",
      ev.select("user_id").distinct().filter(col("user_id") % 7 === 0))
    val kept = ev.filter(col("user_id") % 7 =!= 0)
    assert(viaFormat.count() == kept.count(),
      "catalog read did not reflect the delete")

    val updates = kept.filter(col("event_id") % 4 === 0)
      .withColumn("value", col("value") * 2)
    DV.upsert(spark, root, "day", "event_id", updates)
    val expect = kept.withColumn("value",
      when(col("event_id") % 4 === 0, col("value") * 2)
        .otherwise(col("value")))
    def agg(df: org.apache.spark.sql.DataFrame) = df
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(28,4)")).as("s"))
      .orderBy("event_type").collect().toSeq
    assert(agg(viaFormat.select(ev.columns.map(col).toSeq: _*))
      == agg(expect))
  }

  test("with the swap rule the catalog read plans as the manifest-fed " +
      "masked scan; disabled, the PrunedScan fallback still answers " +
      "correctly (and prunes columns)") {
    val (root, ev) = freshTable()
    DV.delete(spark, root, "user_id",
      ev.select("user_id").distinct().filter(col("user_id") % 5 === 0))
    graft.plans.GraftPlans.ensureDvScan(spark)
    val kept = ev.filter(col("user_id") % 5 =!= 0)

    val swapped = spark.read.format("graft-dv").load(root)
      .groupBy("event_type").count()
    val plan = swapped.queryExecution.executedPlan.toString
    assert(plan.contains("ManifestFileIndex"),
      s"swap rule did not fire:\n$plan")
    assert(plan.contains("dv_alive") && !plan.contains("BroadcastExchange"))
    assert(swapped.agg(sum("count")).head().getLong(0) == kept.count())

    // the rule-absent tier: a fresh session starts with fresh
    // experimental methods, so it never installed the swap
    val bare = spark.newSession()
    assert(!bare.experimental.extraOptimizations.exists(
      _.isInstanceOf[graft.plans.DvScanRule]))
    val fallback = bare.read.format("graft-dv").load(root)
      .select("event_type", "user_id")
    val fplan = fallback.queryExecution.executedPlan.toString
    assert(!fplan.contains("ManifestFileIndex"),
      s"fallback still hit the swapped plan:\n$fplan")
    assert(fallback.count() == kept.count())
    assert(fallback.filter(col("user_id") % 5 === 0).count() == 0,
      "fallback leaked tombstoned rows")
  }

  test("writer face: df.write.format(graft-dv) creates, appends behind " +
      "one manifest flip, respects save modes, and composes with delete") {
    val root = Files.createTempDirectory("graft_dvsrc_w").toString + "/t"
    val ev = graft.sources.Tables.events(spark, sf)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
    val half1 = ev.filter(col("event_id") % 2 === 0)
    val half2 = ev.filter(col("event_id") % 2 === 1)
    graft.plans.GraftPlans.ensureDvScan(spark)

    // create requires the partition column
    intercept[Exception] {
      half1.write.format("graft-dv").save(root)
    }
    half1.write.format("graft-dv").option("partitionCol", "day").save(root)
    def viaFormat = spark.read.format("graft-dv").load(root)
    assert(viaFormat.count() == half1.count())

    // default mode is ErrorIfExists on an existing table
    intercept[Exception] {
      half2.write.format("graft-dv").option("partitionCol", "day").save(root)
    }
    // append: existing layout wins, partitionCol option not needed;
    // version advances by exactly one (one CAS flip for the batch)
    val v0 = graft.operators.Snapshots.latestVersion(
      spark, DV.manifestTable(root)).get
    half2.write.format("graft-dv").mode("append").save(root)
    val v1 = graft.operators.Snapshots.latestVersion(
      spark, DV.manifestTable(root)).get
    assert(v1 == v0 + 1)
    assert(viaFormat.count() == ev.count())

    // appended rows are maskable like any others
    DV.delete(spark, root, "user_id",
      ev.select("user_id").distinct().filter(col("user_id") % 9 === 0))
    assert(viaFormat.count() == ev.filter(col("user_id") % 9 =!= 0).count())

    // overwrite re-initializes (tombstones gone with the old table)
    half1.write.format("graft-dv").mode("overwrite")
      .option("partitionCol", "day").save(root)
    assert(viaFormat.count() == half1.count())

    // ignore on an existing table is a no-op
    half2.write.format("graft-dv").mode("ignore").save(root)
    assert(viaFormat.count() == half1.count())
  }

  test("CREATE TABLE ... USING graft-dv gives the table a catalog " +
      "name ordinary SQL reads") {
    val (root, ev) = freshTable()
    graft.plans.GraftPlans.ensureDvScan(spark)
    DV.delete(spark, root, "user_id",
      ev.select("user_id").distinct().filter(col("user_id") % 3 === 0))
    spark.sql("DROP TABLE IF EXISTS dv_events_cat")
    try {
      spark.sql("CREATE TABLE dv_events_cat USING `graft-dv` " +
        s"OPTIONS (path '$root')")
      val got = spark.sql(
        "SELECT count(*) AS n FROM dv_events_cat").head().getLong(0)
      assert(got == ev.filter(col("user_id") % 3 =!= 0).count())

      // SCHEMA EVOLUTION through the catalog name: the session
      // catalog stores the CREATION-TIME schema and hands it back on
      // every read, so the catalog entry keeps serving its declared
      // column set as a validated SUBSET VIEW of the evolved table
      // (SchemaRelationProvider; without it the resolver's
      // exact-match check would fail every read after evolution) —
      // current LIVE rows, old columns, name-mapped (never
      // positional) onto the masked plan. Re-creating the catalog
      // entry surfaces the new column — the standard V1 contract.
      DV.append(spark, root, Seq("day"),
        ev.limit(20).withColumn("event_id", col("event_id") + 3000000L)
          .withColumn("priority", (col("user_id") % 3).cast("int")))
      spark.sql("REFRESH TABLE dv_events_cat")
      val pre = spark.table("dv_events_cat")
      assert(!pre.columns.contains("priority"),
        "declared catalog schema is the creation-time column set")
      assert(pre.count() ==
        ev.filter(col("user_id") % 3 =!= 0).count() + 20,
        "the declared-schema view must still serve the current LIVE SET")
      // value correctness through the subset view (name mapping): the
      // appended rows' event_ids are the shifted ones
      assert(pre.filter(col("event_id") >= 3000000L).count() == 20)
      spark.sql("DROP TABLE dv_events_cat")
      spark.sql("CREATE TABLE dv_events_cat USING `graft-dv` " +
        s"OPTIONS (path '$root')")
      val post = spark.table("dv_events_cat")
      assert(post.columns.contains("priority"),
        "re-created catalog entry must carry the evolved schema")
      assert(post.filter(col("priority").isNotNull).count() == 20)
    } finally spark.sql("DROP TABLE IF EXISTS dv_events_cat"): Unit
  }
}
