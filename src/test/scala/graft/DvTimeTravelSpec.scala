package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{DeletionVectors => DV, Snapshots}

/** SQL time travel (`VERSION AS OF` / `TIMESTAMP AS OF`) on graft-dv
  * session-catalog names through [[graft.GraftSql]]: the name resolves
  * to the DSv2 table, whose catalog serves each committed version.
  */
class DvTimeTravelSpec extends SparkSpec {

  private var seq = 0

  private def freshTable(): (String, String, org.apache.spark.sql.DataFrame) = {
    seq += 1
    val root = Files.createTempDirectory("graft_dvtt").toString
    val name = s"dvtt_t${seq}_${math.abs(root.hashCode)}"
    val ev = graft.sources.Tables.events(spark, sf)
      .orderBy("event_id").limit(300)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .localCheckpoint()
    DV.init(spark, ev, root, "day")
    spark.sql(
      s"CREATE TABLE $name USING `graft-dv` OPTIONS (path '$root')")
    (root, name, ev)
  }

  test("VERSION AS OF reads the committed manifest version, with the " +
      "retroactive tombstone semantics and qualified references intact") {
    val (root, name, ev) = freshTable()
    DV.append(spark, root, Seq("day"),
      ev.limit(40).withColumn("event_id", col("event_id") + 7000000L))
    DV.delete(spark, root, "user_id",
      ev.select("user_id").distinct().filter(col("user_id") % 4 === 0))
    val kept = ev.filter(col("user_id") % 4 =!= 0)

    // v1 = init; deletes are retroactive, appended rows not in v1
    val v1 = GraftSql.sql(spark,
      s"SELECT count(*) AS n FROM $name VERSION AS OF 1")
      .head().getLong(0)
    assert(v1 == kept.count())
    // v2 includes the appended rows (their user_ids %4==0 victims are
    // masked there too — same retroactive rule)
    val appendedKept = 40 - ev.limit(40)
      .filter(col("user_id") % 4 === 0).count()
    val v2 = GraftSql.sql(spark,
      s"SELECT count(*) AS n FROM $name VERSION AS OF 2")
      .head().getLong(0)
    assert(v2 == kept.count() + appendedKept)
    // qualified column references resolve through the swap's alias
    val q = GraftSql.sql(spark,
      s"SELECT $name.event_type, count(*) AS n FROM $name VERSION AS OF 1 " +
        s"GROUP BY $name.event_type ORDER BY $name.event_type")
    assert(q.count() > 0)
    // explicit alias wraps outside the travel clause
    val a = GraftSql.sql(spark,
      s"SELECT x.event_type FROM $name VERSION AS OF 1 x LIMIT 1")
    assert(a.count() == 1)
  }

  test("TIMESTAMP AS OF resolves to the highest version committed at " +
      "or before the instant (commit-marker mtimes)") {
    val (root, name, ev) = freshTable()
    Thread.sleep(1100)
    val betweenMs = System.currentTimeMillis()
    Thread.sleep(1100)
    DV.append(spark, root, Seq("day"),
      ev.limit(25).withColumn("event_id", col("event_id") + 8000000L))

    val ts = new java.sql.Timestamp(betweenMs).toString
    val n = GraftSql.sql(spark,
      s"SELECT count(*) AS n FROM $name TIMESTAMP AS OF '$ts'")
      .head().getLong(0)
    assert(n == ev.count(), "timestamp between v1 and v2 must read v1")
    val now = new java.sql.Timestamp(System.currentTimeMillis()).toString
    val n2 = GraftSql.sql(spark,
      s"SELECT count(*) AS n FROM $name TIMESTAMP AS OF '$now'")
      .head().getLong(0)
    assert(n2 == ev.count() + 25)
    // a timestamp before the first commit fails loudly
    val early = new java.sql.Timestamp(betweenMs - 3600 * 1000L).toString
    val e = intercept[Exception] {
      GraftSql.sql(spark,
        s"SELECT count(*) FROM $name TIMESTAMP AS OF '$early'").collect()
    }
    assert(e.getMessage.contains("no committed version"))
  }

  test("time travel across schema evolution reads each version under " +
      "its own schema; errors stay loud and native") {
    val (root, name, ev) = freshTable()
    DV.append(spark, root, Seq("day"),
      ev.limit(10).withColumn("event_id", col("event_id") + 9000000L)
        .withColumn("priority", (col("user_id") % 3).cast("int")))
    val v1 = GraftSql.sql(spark,
      s"SELECT * FROM $name VERSION AS OF 1 LIMIT 1")
    assert(!v1.columns.contains("priority"))
    val v2 = GraftSql.sql(spark,
      s"SELECT * FROM $name VERSION AS OF 2 LIMIT 1")
    assert(v2.columns.contains("priority"))

    // vacuumed/never-committed versions fail loudly
    val bad = intercept[Exception] {
      GraftSql.sql(spark,
        s"SELECT count(*) FROM $name VERSION AS OF 99").collect()
    }
    assert(bad.getMessage.contains("never committed"))
    // non-graft-dv targets keep Spark's native error
    ev.limit(5).createOrReplaceTempView("dvtt_plain_view")
    val native = intercept[Exception] {
      GraftSql.sql(spark,
        "SELECT count(*) FROM dvtt_plain_view VERSION AS OF 1").collect()
    }
    assert(native.getMessage.toLowerCase.contains("time travel"))
  }

  test("an emptied version reads under its OWN schema: readVersion, " +
      "VERSION AS OF and the empty change feed ignore later columns") {
    val root = Files.createTempDirectory("graft_dvtt").toString
    val ev = graft.sources.Tables.events(spark, sf)
      .orderBy("event_id").limit(50)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .localCheckpoint()
    DV.init(spark, ev, root, "day")
    DV.delete(spark, root, "event_id", ev.select("event_id"))
    DV.purge(spark, root, "day", 0.0)
    val mt = DV.manifestTable(root)
    assert(Snapshots.latestVersion(spark, mt).contains(2L))
    assert(DV.manifest(spark, root).count() == 0,
      "v2 must hold no live file")
    graft.plans.GraftPlans.ensureDvCatalog(spark)
    spark.sql(s"ALTER TABLE graftdv.`$root` ADD COLUMNS (zz STRING)")
    assert(DV.read(spark, root).columns.contains("zz"))

    val byApi = DV.readVersion(spark, root, 2L)
    val bySql = spark.sql(s"SELECT * FROM graftdv.`$root` VERSION AS OF 2")
    val feed = DV.readChanges(spark, root, 2L, 2L)
    Seq(byApi, bySql, feed).foreach { df =>
      assert(!df.columns.contains("zz"), df.columns.mkString(", "))
      assert(df.count() == 0)
    }
    assert(byApi.columns.toSeq == DV.readVersion(spark, root, 1L).columns.toSeq)
  }
}
