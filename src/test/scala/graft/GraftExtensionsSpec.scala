package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.ResolvedTable
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions._

import graft.operators.{DeletionVectors => DV}
import graft.plans.DvSessionAlter
import graft.sources.DvV2Table

/** The EXTENSION-built session is the product surface a real
  * deployment uses (`spark.sql.extensions=graft.functions
  * .GraftExtensions`): this spec builds one (same SparkContext, own
  * session state with the injected parser/rules) and drives the WHOLE
  * lakehouse statement set through plain `session.sql` — no GraftSql
  * wrapper anywhere.
  */
class GraftExtensionsSpec extends SparkSpec {

  private def withExtSession[A](body: SparkSession => A): A = {
    val base = spark // force the shared session (and context) first
    val s2 = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", 2)
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(new graft.functions.GraftExtensions()(_))
      .getOrCreate()
    // getOrCreate returns the ACTIVE session unless cleared — make
    // sure we really got a session with the injected parser
    val fresh =
      if (s2 eq base) {
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
        try SparkSession.builder()
          .master("local[2]")
          .config("spark.sql.shuffle.partitions", 2)
          .config("spark.sql.session.timeZone", "UTC")
          .withExtensions(new graft.functions.GraftExtensions()(_))
          .getOrCreate()
        finally {
          SparkSession.setActiveSession(base)
          SparkSession.setDefaultSession(base)
        }
      } else s2
    try body(fresh)
    finally {
      SparkSession.setActiveSession(base)
      SparkSession.setDefaultSession(base)
    }
  }

  test("plain session.sql on an extension-built session speaks the " +
      "whole lakehouse statement set: DML, time travel, history, " +
      "restore, ALTER, constraints, maintenance, detail") {
    withExtSession { s =>
      val root = Files.createTempDirectory("graft_extsess").toString
      val name = s"extsess_t_${math.abs(root.hashCode)}"
      val ev = graft.sources.Tables.events(s, sf)
        .orderBy("event_id").limit(300)
        .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
        .localCheckpoint()
      DV.init(s, ev, root, "day")
      s.sql(s"CREATE TABLE $name USING `graft-dv` OPTIONS (path '$root')")

      // DML through the injected resolution rule
      s.sql(s"DELETE FROM $name WHERE user_id % 4 = 0").collect()
      val kept = ev.filter(col("user_id") % 4 =!= 0)
      assert(s.table(name).count() == kept.count())

      // time travel through the injected hint-resolution rule —
      // BEFORE the update, whose tombstoned old images would mask v1
      // retroactively too (the pinned rule)
      assert(s.sql(s"SELECT count(*) AS n FROM $name VERSION AS OF 1")
        .head().getLong(0) == kept.count())

      s.sql(s"UPDATE $name SET value = value + 5 WHERE user_id % 4 = 1")
        .collect()
      assert(s.table(name).count() == kept.count())

      // ALTER ADD COLUMNS through the injected resolution rule
      s.sql(s"ALTER TABLE $name ADD COLUMNS (priority INT)").collect()
      assert(s.table(name).columns.contains("priority"))

      // constraints + maintenance + introspection through the
      // injected PARSER (statements outside Spark's grammar)
      s.sql(s"ALTER TABLE $name ADD CONSTRAINT pos CHECK (event_id >= 0)")
        .collect()
      val bad = intercept[Exception](s.sql(s"INSERT INTO $name SELECT " +
        s"-1 * event_id - 1, ts, user_id, event_type, value, props, " +
        s"priority, day FROM $name LIMIT 3").collect())
      def chain(t: Throwable): Seq[String] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .map(e => Option(e.getMessage).getOrElse("")).toSeq
      assert(chain(bad).exists(_.contains("pos")))

      val hist = s.sql(s"DESCRIBE HISTORY $name").collect()
      assert(hist.map(_.getString(2)).toSeq ==
        Seq("init", "update", "alter", "alter"))

      s.sql(s"OPTIMIZE $name ZORDER BY (user_id)").collect()
      val det = s.sql(s"DESCRIBE DETAIL $name").head()
      assert(det.getString(5) == "pos CHECK (event_id >= 0)")

      // restore un-does the zorder flip; content invariant throughout
      val cur = s.table(name).count()
      s.sql(s"RESTORE TABLE $name TO VERSION AS OF 4").collect()
      assert(s.table(name).count() == cur)
      val dry = s.sql(s"VACUUM $name RETAIN 0 HOURS DRY RUN").head()
      assert(dry.getLong(0) > 0, "the un-restored zorder files are dead")
      assert(s.table(name).count() == cur)
    }
  }

  /** A fresh graft-dv table under a fresh session-catalog name. */
  private def dvTable(s: SparkSession,
      tag: String): (String, String, DataFrame) = {
    val root = Files.createTempDirectory(s"graft_$tag").toString
    val name = s"${tag}_${math.abs(root.hashCode)}"
    val ev = graft.sources.Tables.events(s, sf)
      .orderBy("event_id").limit(120)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .localCheckpoint()
    DV.init(s, ev, root, "day")
    s.sql(s"CREATE TABLE $name USING `graft-dv` OPTIONS (path '$root')")
    (root, name, ev)
  }

  /** Does the analyzed statement read or write the DSv2 graft-dv
    * table at `root`? (A row-level rewrite wraps it in Spark's
    * operation table, which keeps its name.)
    */
  private def overDvV2(p: LogicalPlan, root: String): Boolean = {
    def dv(t: org.apache.spark.sql.connector.catalog.Table) =
      t.isInstanceOf[DvV2Table] ||
        (t.name.startsWith("graft-dv.`") && t.name.endsWith(s"$root`"))
    p.exists {
      case r: DataSourceV2Relation => dv(r.table)
      case r: ResolvedTable => dv(r.table)
      case _ => false
    }
  }

  /** DELETE / UPDATE / MERGE / VERSION AS OF / ADD COLUMNS on a
    * session name analyze over the DSv2 table, `name.col` qualifiers
    * included; then the statements run, and the name's catalog entry
    * — the schema the V1 relation serves to sessions without the
    * rule — follows every column change.
    */
  private def checkOneSqlPath(s: SparkSession, root: String,
      name: String, ev: DataFrame, run: String => DataFrame,
      analyze: String => LogicalPlan): Unit = {
    Seq(
      s"DELETE FROM $name WHERE $name.user_id % 7 = 0",
      s"UPDATE $name SET value = value + 1 WHERE $name.user_id % 7 = 1",
      s"MERGE INTO $name USING (SELECT 1L AS k) src " +
        s"ON $name.event_id = src.k WHEN MATCHED THEN DELETE",
      s"SELECT count(*) FROM $name VERSION AS OF 1 WHERE $name.value > 0"
    ).foreach { q =>
      val a = analyze(q)
      assert(overDvV2(a, root), s"$q\n$a")
    }
    analyze(s"ALTER TABLE $name ADD COLUMNS (c INT)") match {
      case a: DvSessionAlter =>
        assert(overDvV2(s.sessionState.executePlan(a.alter).analyzed,
          root))
      case other => fail(s"ADD COLUMNS did not reach the catalog: $other")
    }
    // a CTE of the same name shadows the table
    assert(run(s"WITH $name AS (SELECT 1 AS one) SELECT * FROM $name")
      .collect().toSeq.map(_.getInt(0)) == Seq(1))
    run(s"DELETE FROM $name WHERE $name.user_id % 7 = 0").collect()
    val kept = ev.filter(col("user_id") % 7 =!= 0).count()
    assert(DV.read(s, root).count() == kept)
    assert(run(s"SELECT count(*) FROM $name VERSION AS OF 1")
      .head().getLong(0) == kept, "tombstones are retroactive")
    run(s"ALTER TABLE $name ADD COLUMNS (c INT)").collect()
    run(s"ALTER TABLE $name RENAME COLUMN c TO d").collect()
    run(s"ALTER TABLE $name DROP COLUMN props").collect()
    val stored = s.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(name)).schema
    assert(stored.fieldNames.toSeq == DV.read(s, root).columns.toSeq,
      stored.fieldNames.mkString(","))
    assert(stored.fieldNames.contains("d") && !stored.fieldNames
      .contains("props"))
  }

  test("one SQL path: a graft-dv session-catalog name resolves to the " +
      "DSv2 table, in an extension-built session (plain sql) and in a " +
      "driver-owned one (GraftSql.sql)") {
    withExtSession { s =>
      val (root, name, ev) = dvTable(s, "onepath_ext")
      checkOneSqlPath(s, root, name, ev, q => s.sql(q),
        q => s.sessionState.executePlan(
          s.sessionState.sqlParser.parsePlan(q)).analyzed)
    }
    val (root, name, ev) = dvTable(spark, "onepath_drv")
    checkOneSqlPath(spark, root, name, ev, q => GraftSql.sql(spark, q),
      q => spark.sessionState.executePlan(GraftSql.route(spark,
        spark.sessionState.sqlParser.parsePlan(q))).analyzed)
    // the shared session runs no rule: plain spark.table is the V1 read
    val v1 = spark.table(name)
    assert(v1.columns.contains("d") && !v1.columns.contains("props"))
    assert(v1.count() == ev.filter(col("user_id") % 7 =!= 0).count())
  }

  test("DROP TABLE on a graft-dv session name only unregisters the " +
      "name: the table root stays readable") {
    withExtSession { s =>
      val (root, name, ev) = dvTable(s, "drop_ext")
      s.sql(s"DROP TABLE $name").collect()
      assert(!s.catalog.tableExists(name))
      assert(DV.read(s, root).count() == ev.count())
    }
    val (root, name, ev) = dvTable(spark, "drop_drv")
    GraftSql.sql(spark, s"DROP TABLE $name").collect()
    assert(!spark.catalog.tableExists(name))
    assert(DV.read(spark, root).count() == ev.count())
  }
}
