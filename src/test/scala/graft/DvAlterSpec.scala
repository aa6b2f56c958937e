package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{DeletionVectors => DV, Snapshots}

/** The ALTER family on graft-dv tables — `ADD COLUMNS` (explicit DDL
  * over the schema-in-log), `ADD/DROP CONSTRAINT ... CHECK` (write-
  * side enforcement in the one gate every mutating path shares), and
  * `OPTIMIZE ... ZORDER BY` (the explicit layout rewrite).
  */
class DvAlterSpec extends SparkSpec {

  private var seq = 0

  private def freshTable(): (String, String,
      org.apache.spark.sql.DataFrame) = {
    seq += 1
    val root = Files.createTempDirectory("graft_dvalt").toString
    val name = s"dvalt_t${seq}_${math.abs(root.hashCode)}"
    val ev = graft.sources.Tables.events(spark, sf)
      .orderBy("event_id").limit(300)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .localCheckpoint()
    DV.init(spark, ev, root, "day")
    spark.sql(
      s"CREATE TABLE $name USING `graft-dv` OPTIONS (path '$root')")
    (root, name, ev)
  }

  test("ALTER TABLE ADD COLUMNS widens the log schema metadata-only; " +
      "old rows null-fill, the catalog serves it, old versions keep " +
      "their own schema") {
    val (root, name, ev) = freshTable()
    graft.GraftSql.sql(spark,
      s"ALTER TABLE $name ADD COLUMNS (priority INT, note STRING)")
      .collect()
    // metadata-only: still one data-file generation, two versions
    assert(Snapshots.latestVersion(spark, DV.manifestTable(root)).get == 2L)
    val t = spark.table(name)
    assert(t.columns.contains("priority") && t.columns.contains("note"))
    assert(t.filter(col("priority").isNotNull).count() == 0)
    // an append can now carry the column
    DV.append(spark, root, Seq("day"), ev.limit(10)
      .withColumn("event_id", col("event_id") + 5000000L)
      .withColumn("priority", lit(3))
      .withColumn("note", lit("x")))
    assert(spark.table(name).filter(col("priority") === 3).count() == 10)
    // time travel: the pre-alter version has no such column
    assert(!DV.readVersion(spark, root, 1L).columns.contains("priority"))
    // duplicates / NOT NULL / positioning fail loudly: the duplicate
    // in Spark's own DSv2 ALTER analysis, the others in the catalog,
    // whose refusal Spark's ALTER exec wraps in a SparkException
    intercept[org.apache.spark.sql.AnalysisException](graft.GraftSql.sql(
      spark, s"ALTER TABLE $name ADD COLUMNS (priority INT)").collect())
    def refused(ddl: String): Unit = {
      val e = intercept[org.apache.spark.SparkException](
        graft.GraftSql.sql(spark, ddl).collect())
      assert(e.getCause.isInstanceOf[IllegalArgumentException], e)
    }
    refused(s"ALTER TABLE $name ADD COLUMNS (hard INT NOT NULL)")
    refused(s"ALTER TABLE $name ADD COLUMNS (early INT FIRST)")
  }

  test("CHECK constraints: validated on ADD, enforced on every write " +
      "path, NULL passes (three-valued), DROP re-opens the gate") {
    val (root, name, ev) = freshTable()
    // existing rows violate -> ADD fails, nothing recorded
    intercept[IllegalArgumentException](graft.GraftSql.sql(spark,
      s"ALTER TABLE $name ADD CONSTRAINT impossible CHECK (value > 1e18)")
      .collect())
    assert(DV.constraintsOf(spark, root).isEmpty)

    graft.GraftSql.sql(spark, s"ALTER TABLE $name ADD CONSTRAINT " +
      "ev_nonneg CHECK (event_id >= 0)").collect()
    assert(DV.constraintsOf(spark, root) ==
      Map("ev_nonneg" -> "event_id >= 0"))

    // append of violating rows fails loudly and writes NOTHING
    val vBefore = Snapshots.latestVersion(spark, DV.manifestTable(root)).get
    val bad = ev.limit(5).withColumn("event_id", lit(-1L))
    val e = intercept[IllegalArgumentException](
      DV.append(spark, root, Seq("day"), bad))
    assert(e.getMessage.contains("ev_nonneg"))
    assert(Snapshots.latestVersion(spark, DV.manifestTable(root)).get
      == vBefore)
    // ...and the upsert path funnels through the same gate
    val e2 = intercept[IllegalArgumentException](
      DV.upsert(spark, root, "day", "event_id",
        ev.limit(3).withColumn("event_id", -col("event_id") - 1)))
    assert(e2.getMessage.contains("ev_nonneg"))

    // NULL passes: a batch that doesn't carry the column at all would
    // null-fill — simulate with explicit nulls through a fresh column
    graft.GraftSql.sql(spark, s"ALTER TABLE $name ADD COLUMNS (score INT)")
      .collect()
    graft.GraftSql.sql(spark, s"ALTER TABLE $name ADD CONSTRAINT " +
      "score_pos CHECK (score > 0)").collect()
    DV.append(spark, root, Seq("day"), ev.limit(4)
      .withColumn("event_id", col("event_id") + 7000000L))
    assert(spark.table(name).count() == 304)

    // DROP re-opens the gate; dropping a ghost fails loudly
    graft.GraftSql.sql(spark,
      s"ALTER TABLE $name DROP CONSTRAINT ev_nonneg").collect()
    DV.append(spark, root, Seq("day"),
      ev.limit(2).withColumn("event_id", lit(-5L)))
    assert(spark.table(name).filter(col("event_id") < 0).count() == 2)
    intercept[IllegalArgumentException](graft.GraftSql.sql(spark,
      s"ALTER TABLE $name DROP CONSTRAINT ghost").collect())
  }

  test("column DEFAULTs: old files read the exists-default, omitted " +
      "INSERT columns resolve the current-default, explicit values " +
      "and explicit NULL win; CHECK constraints see the DEFAULT for " +
      "batches that omit the column") {
    val (root, name, ev) = freshTable()
    graft.GraftSql.sql(spark, s"ALTER TABLE $name ADD COLUMNS " +
      "(tier STRING DEFAULT 'standard')").collect()
    // exists-default: every pre-add row reads 'standard', not null
    assert(DV.read(spark, root)
      .filter(col("tier") === "standard").count() == 300)
    // constraint interaction — the pin that tells DEFAULT-fill from
    // NULL-fill at the write gate: `tier IS NOT NULL` is satisfied by
    // the default but VIOLATED by null, so under the old "missing
    // column evaluates as NULL" rule an omitting batch would reject
    DV.alterAddConstraint(spark, root, "tier_present",
      "tier IS NOT NULL")
    DV.append(spark, root, Seq("day"), ev.limit(10)
      .withColumn("event_id", col("event_id") + 4500000L)): Unit
    assert(DV.read(spark, root).count() == 310,
      "a batch omitting the column evaluates its DEFAULT in the " +
        "check — it must pass tier IS NOT NULL")
    // a batch carrying an EXPLICIT NULL is a real violation — the
    // default never papers over written values
    val bad = ev.limit(5)
      .withColumn("event_id", col("event_id") + 4800000L)
      .withColumn("tier", lit(null).cast("string"))
    val e = intercept[Exception](
      DV.append(spark, root, Seq("day"), bad))
    assert(e.getMessage.contains("tier_present"))
    // explicit values win over the default
    val extra = ev.limit(30)
      .withColumn("event_id", col("event_id") + 4000000L)
      .withColumn("tier", lit("gold"))
    DV.append(spark, root, Seq("day"), extra): Unit
    assert(DV.read(spark, root)
      .filter(col("tier") === "gold").count() == 30)
  }

  test("OPTIMIZE ZORDER BY rewrites the live set clustered: content " +
      "invariant, masks fold in, manifest stats prune, history " +
      "records the verb") {
    seq += 1
    val root = Files.createTempDirectory("graft_dvzord").toString
    val name = s"dvzord_t${seq}_${math.abs(root.hashCode)}"
    val ev = graft.sources.Tables.events(spark, sf)
      .orderBy("event_id").limit(400)
      .localCheckpoint()
    // hash-scattered init: every file spans the whole user_id space,
    // so the manifest stats can prune NOTHING until the rewrite
    DV.init(spark, ev.repartition(8), root, Seq("event_type"),
      statsCols = Seq("user_id"))
    spark.sql(
      s"CREATE TABLE $name USING `graft-dv` OPTIONS (path '$root')")
    DV.delete(spark, root, "user_id",
      ev.select("user_id").distinct().filter(col("user_id") % 5 === 0))
    val kept = ev.filter(col("user_id") % 5 =!= 0)

    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, GreaterThanOrEqual, LessThanOrEqual, Literal}
    def survivors(lo: Long, hi: Long): (Int, Int) = {
      val rd = DV.read(spark, root)
      val idx = org.apache.spark.sql.GraftPlanApi.analyzed(rd)
        .collectFirst {
          case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            l.relation.asInstanceOf[
              org.apache.spark.sql.execution.datasources.HadoopFsRelation]
              .location
        }.get
        .asInstanceOf[org.apache.spark.sql.GraftDvApi.LazyManifestFileIndex]
      val a = AttributeReference("user_id",
        org.apache.spark.sql.types.LongType)()
      (idx.survivors(Nil, Seq(GreaterThanOrEqual(a, Literal(lo)),
        LessThanOrEqual(a, Literal(hi)))).size,
        idx.survivors(Nil, Nil).size)
    }
    val b = ev.agg(min("user_id"), max("user_id")).head()
    val (lo, hi) = (b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 2,
      b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 2 + 3)
    val (beforeHit, beforeTotal) = survivors(lo, hi)
    assert(beforeHit == beforeTotal,
      "hash-scattered layout must be unprunable before the rewrite")

    val out = graft.GraftSql.sql(spark,
      s"OPTIMIZE $name ZORDER BY (user_id)").collect()
    assert(out.head.getLong(2) > 0, "zorder must rewrite live files")
    val (afterHit, afterTotal) = survivors(lo, hi)
    assert(afterHit < afterTotal,
      s"zorder must make the range probe prunable ($afterHit/$afterTotal)")

    // content invariant: the masked rows fold OUT of the replacements
    assert(spark.table(name).count() == kept.count())
    assert(spark.table(name).agg(sum("event_id")).head().getLong(0) ==
      kept.agg(sum("event_id")).head().getLong(0))
    // the verb is in the log
    val ops = DV.history(spark, root).select("operation")
      .collect().map(_.getString(0)).toSeq
    assert(ops == Seq("init", "zorder"))

    // the folded-in tombstones die with their files: after a vacuum
    // reclaims the replaced originals, no blob dir survives — and the
    // thinned log still serves history (one retained version)
    DV.vacuum(spark, root, keepVersions = 1, minAgeMs = 0L)
    assert(DV.dv(spark, root).count() == 0)
    assert(spark.table(name).count() == kept.count())
    assert(DV.history(spark, root).count() == 1)

    // z-ordering a partition column is refused; an unknown column
    // fails in analysis — both loud
    intercept[IllegalArgumentException](graft.GraftSql.sql(spark,
      s"OPTIMIZE $name ZORDER BY (event_type)").collect())
    intercept[Exception](graft.GraftSql.sql(spark,
      s"OPTIMIZE $name ZORDER BY (no_such_col)").collect())
  }

  test("ZORDER BY column-list parsing: empty list errors instead of " +
      "silently degrading; backtick quotes protect commas and dots") {
    import graft.plans.{DvMaintenanceSql, DvOptimizeCommand}
    // `ZORDER BY ()` must NOT fall through to plain OPTIMIZE
    val e = intercept[IllegalArgumentException](
      DvMaintenanceSql.parse("OPTIMIZE t ZORDER BY ()"))
    assert(e.getMessage.contains("at least one column"))
    intercept[IllegalArgumentException](
      DvMaintenanceSql.parse("OPTIMIZE t ZORDER BY (  ,  )"))
    // quoted identifiers keep embedded commas/dots as ONE column
    assert(DvMaintenanceSql.parse(
      "OPTIMIZE t ZORDER BY (`a,b`, plain, `c.d`)").get
      .asInstanceOf[DvOptimizeCommand].zorderCols ==
      Seq("a,b", "plain", "c.d"))
    // a doubled backtick inside quotes un-escapes
    assert(DvMaintenanceSql.parse(
      "OPTIMIZE t ZORDER BY (`we``ird`)").get
      .asInstanceOf[DvOptimizeCommand].zorderCols == Seq("we`ird"))
  }

  test("normalize16 is overflow-safe: wide and full-long column " +
      "ranges still yield monotone in-domain z-keys") {
    import graft.operators.Compaction.normalize16
    def n(vals: Seq[Long], lo: Long, hi: Long): Seq[Long] = {
      import spark.implicits._
      vals.toDF("c").select(normalize16(col("c"), lit(lo), lit(hi))
        .cast("long").as("z")).collect().map(_.getLong(0)).toSeq
    }
    // exact path: small range STRETCHES onto the full 16-bit domain
    assert(n(Seq(0L, 500L, 1000L), 0L, 1000L) == Seq(0L, 32767L, 65535L))
    // wide range (> Long.MaxValue/65535, the round-11 wrap zone):
    // in-domain and monotone — the old multiply-first wrapped negative
    val wideHi = 1L << 60
    val wide = n(Seq(0L, wideHi / 4, wideHi / 2, wideHi), 0L, wideHi)
    assert(wide.forall(z => z >= 0L && z <= 65535L), s"wrapped: $wide")
    assert(wide == wide.sorted && wide.distinct.size == wide.size)
    assert(wide.last > 65000L, s"must span the domain: $wide")
    // full-long range (min/max span > 2^63): double-space fallback
    val full = n(Seq(Long.MinValue, 0L, Long.MaxValue),
      Long.MinValue, Long.MaxValue)
    assert(full.forall(z => z >= 0L && z <= 65535L), s"wrapped: $full")
    assert(full == full.sorted && full.distinct.size == full.size)
  }
}
