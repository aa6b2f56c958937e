package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{DeletionVectors => DV}

/** SQL DML (`DELETE FROM` / `UPDATE` / `MERGE INTO`) on graft-dv
  * session-catalog names through [[graft.GraftSql]]: each name is a
  * name for the DSv2 table, so Spark's row-level rewrite drives the
  * merge-on-read delta write, and GraftSql reports its row counts.
  */
class DvDmlSpec extends SparkSpec {

  private var seq = 0

  /** Fresh DV table + catalog name over 200 deterministic events. */
  private def freshTable(): (String, String, DataFrame) = {
    seq += 1
    val root = Files.createTempDirectory("graft_dvdml").toString
    val name = s"dvdml_t${seq}_${math.abs(root.hashCode)}"
    val ev = graft.sources.Tables.events(spark, sf)
      .orderBy("event_id").limit(200)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .localCheckpoint()
    DV.init(spark, ev, root, "day")
    spark.sql(
      s"CREATE TABLE $name USING `graft-dv` OPTIONS (path '$root')")
    (root, name, ev)
  }

  private def dataFiles(root: String): Map[String, Long] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(DV.dataDir(root)))
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getPath -> f.length()).toMap
  }

  test("DELETE FROM tombstones exactly the predicate's rows, touches " +
      "no data file, reports the count, and replays as a no-op") {
    val (root, name, ev) = freshTable()
    val before = dataFiles(root)
    val expect = ev.filter(col("user_id") % 3 === 0).count()
    val res = GraftSql.sql(spark,
      s"DELETE FROM $name WHERE user_id % 3 = 0").collect()
    assert(res.map(_.getLong(0)).toSeq == Seq(expect))
    assert(dataFiles(root) == before, "DELETE must not touch data files")
    assert(DV.read(spark, root).count() == ev.count() - expect)
    assert(DV.read(spark, root).filter(col("user_id") % 3 === 0).count()
      == 0)
    // replay: already-masked rows are invisible to the marking scan
    assert(GraftSql.sql(spark,
      s"DELETE FROM $name WHERE user_id % 3 = 0").head().getLong(0) == 0L)
    // the catalog read face sees the same masked state
    assert(spark.table(name).count() == ev.count() - expect)
  }

  test("UPDATE rewrites matching rows merge-on-read: assignments " +
      "applied, non-matching rows untouched, count reported") {
    val (root, name, ev) = freshTable()
    val res = GraftSql.sql(spark,
      s"UPDATE $name SET value = value * 2, event_type = 'boosted' " +
        "WHERE user_id % 5 = 0").head()
    val expect = ev.filter(col("user_id") % 5 === 0).count()
    assert(res.getLong(0) == expect)
    val rd = DV.read(spark, root)
    assert(rd.count() == ev.count(), "UPDATE must preserve row count")
    assert(rd.filter(col("user_id") % 5 === 0)
      .filter(col("event_type") =!= "boosted").count() == 0)
    // value doubled exactly for the matched set: sums agree
    val gotSum = rd.select(sum(col("value").cast("decimal(28,4)")))
      .head().getDecimal(0)
    val wantSum = ev.select(sum(when(col("user_id") % 5 === 0,
        col("value") * 2).otherwise(col("value"))
      .cast("decimal(28,4)"))).head().getDecimal(0)
    assert(gotSum.compareTo(wantSum) == 0)
    // untouched rows keep their event_type
    assert(rd.filter(col("user_id") % 5 =!= 0)
      .filter(col("event_type") === "boosted").count() == 0)
  }

  test("UPDATE with no WHERE hits every row; assignments only of " +
      "top-level columns (types cast to the column's)") {
    val (root, name, ev) = freshTable()
    val res = GraftSql.sql(spark,
      s"UPDATE $name SET value = 1").head()
    assert(res.getLong(0) == ev.count())
    val rd = DV.read(spark, root)
    assert(rd.filter(col("value") =!= 1.0d).count() == 0)
    assert(rd.schema("value").dataType
      == org.apache.spark.sql.types.DoubleType,
      "int literal must cast to the column type")
  }

  test("MERGE: matched-update, conditional matched-delete, not-matched " +
      "insert, and not-matched-by-source delete classify each row by " +
      "its first applicable clause") {
    val (root, name, ev) = freshTable()
    // source: updates for user_id%4=0, inserts with shifted ids
    val updates = ev.filter(col("user_id") % 4 === 0)
      .withColumn("value", col("value") + 100)
    val inserts = ev.filter(col("user_id") % 4 === 1).limit(10)
      .withColumn("event_id", col("event_id") + 5000000L)
    updates.unionByName(inserts).createOrReplaceTempView("dvdml_src1")

    val res = GraftSql.sql(spark,
      s"""MERGE INTO $name t USING dvdml_src1 s
         |ON t.event_id = s.event_id
         |WHEN MATCHED AND s.value > 200 THEN DELETE
         |WHEN MATCHED THEN UPDATE SET value = s.value
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin).head()

    val rd = DV.read(spark, root)
    // expected, computed relationally from the frozen inputs
    val matched = ev.join(updates.select(col("event_id"),
        col("value").as("s_value")), Seq("event_id"), "inner")
    val deleted = matched.filter(col("s_value") > 200)
    val updated = matched.filter(col("s_value") <= 200)
    val untouched = ev.join(updates.select("event_id"),
      Seq("event_id"), "left_anti")
    assert(res.getLong(0) == matched.count(), "tombstoned = all matched")
    assert(res.getLong(1) == updated.count() + inserts.count())
    assert(rd.count() ==
      untouched.count() + updated.count() + inserts.count())
    assert(rd.join(deleted.select("event_id"), Seq("event_id"),
      "left_semi").count() == 0, "matched-delete rows must be gone")
    // updated rows carry the source value
    val chk = rd.join(updated.select(col("event_id"),
        col("s_value")), Seq("event_id"), "inner")
      .filter(col("value") =!= col("s_value")).count()
    assert(chk == 0, "matched-update rows must carry the source value")
    // inserts landed with their shifted ids
    assert(rd.filter(col("event_id") >= 5000000L).count()
      == inserts.count())

    // second statement: NOT MATCHED BY SOURCE DELETE keeps only
    // rows the (tiny) source still references
    inserts.createOrReplaceTempView("dvdml_src2")
    GraftSql.sql(spark,
      s"""MERGE INTO $name t USING dvdml_src2 s
         |ON t.event_id = s.event_id
         |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin).collect()
    assert(DV.read(spark, root).count() == inserts.count())
  }

  test("MERGE fails loudly when several source rows match (and would " +
      "modify) one target row — the Delta multiple-matches rule") {
    val (_, name, ev) = freshTable()
    val dupSrc = ev.limit(5).unionByName(ev.limit(5))
    dupSrc.createOrReplaceTempView("dvdml_dup")
    val e = intercept[Exception] {
      GraftSql.sql(spark,
        s"""MERGE INTO $name t USING dvdml_dup s
           |ON t.event_id = s.event_id
           |WHEN MATCHED THEN UPDATE SET value = s.value""".stripMargin)
        .collect()
    }
    // Spark's own DSv2 MERGE cardinality check raises it
    assert(e.getMessage.contains("MERGE_CARDINALITY_VIOLATION"))
  }

  test("non-DML and non-graft-dv statements delegate verbatim; " +
      "unresolvable DML surfaces the standard analyzer error") {
    assert(GraftSql.sql(spark, "SELECT 1 AS one").head().getInt(0) == 1)
    val (_, name, _) = freshTable()
    val e = intercept[Exception] {
      GraftSql.sql(spark,
        s"DELETE FROM $name WHERE no_such_column = 1").collect()
    }
    assert(e.getMessage.contains("no_such_column"))
  }

  test("DML edge cases: no-match statements commit nothing, " +
      "insert-only MERGE never tombstones, conditional NOT MATCHED " +
      "filters inserts") {
    val (root, name, ev) = freshTable()
    val v0 = graft.operators.Snapshots.latestVersion(
      spark, DV.manifestTable(root)).get

    // DELETE matching nothing: zero rows, zero tombstone blobs
    assert(GraftSql.sql(spark,
      s"DELETE FROM $name WHERE user_id < 0").head().getLong(0) == 0L)
    assert(graft.operators.DvBlobs.allFileDirs(root).isEmpty)

    // UPDATE matching nothing: zero rows, NO manifest version burned
    assert(GraftSql.sql(spark,
      s"UPDATE $name SET value = 0 WHERE user_id < 0").head().getLong(0)
      == 0L)
    assert(graft.operators.Snapshots.latestVersion(
      spark, DV.manifestTable(root)).get == v0,
      "a no-op UPDATE must not commit a manifest")

    // insert-only MERGE: matched rows exist but carry NO matched
    // action — nothing tombstones, only the conditional inserts land
    val src = ev.limit(20)
      .withColumn("event_id", col("event_id") + 2000000L)
      .unionByName(ev.limit(10)) // 10 matched rows, no matched clause
    src.createOrReplaceTempView("dvdml_edge_src")
    val res = GraftSql.sql(spark,
      s"""MERGE INTO $name t USING dvdml_edge_src s
         |ON t.event_id = s.event_id
         |WHEN NOT MATCHED AND s.user_id % 2 = 0 THEN INSERT *""".stripMargin)
      .head()
    val expectIns = ev.limit(20).filter(col("user_id") % 2 === 0).count()
    assert(res.getLong(0) == 0L, "insert-only MERGE must tombstone nothing")
    assert(res.getLong(1) == expectIns,
      "conditional NOT MATCHED must filter the inserts")
    assert(DV.read(spark, root).count() == ev.count() + expectIns)
    assert(graft.operators.DvBlobs.allFileDirs(root).isEmpty,
      "no tombstone blob may exist after an insert-only MERGE")
  }

  test("INSERT INTO / INSERT OVERWRITE on the catalog name route " +
      "through InsertableRelation: append behind one manifest flip, " +
      "overwrite re-inits preserving the layout") {
    val (root, name, ev) = freshTable()
    val v0 = graft.operators.Snapshots.latestVersion(
      spark, DV.manifestTable(root)).get
    ev.limit(15).withColumn("event_id", col("event_id") + 1000000L)
      .createOrReplaceTempView("dvdml_ins_src")
    spark.sql(s"INSERT INTO $name SELECT * FROM dvdml_ins_src")
    assert(graft.operators.Snapshots.latestVersion(
      spark, DV.manifestTable(root)).get == v0 + 1,
      "append must commit exactly one manifest version")
    assert(DV.read(spark, root).count() == ev.count() + 15)
    // the inserted rows compose with a later DELETE like any others
    GraftSql.sql(spark,
      s"DELETE FROM $name WHERE event_id >= 1000000").collect()
    assert(DV.read(spark, root).count() == ev.count())
    // overwrite re-inits, preserving the partition layout
    spark.sql(s"INSERT OVERWRITE $name SELECT * FROM dvdml_ins_src")
    assert(DV.read(spark, root).count() == 15)
    assert(DV.partitionColsOf(spark, root) == Seq("day"))
  }

  test("VACUUM / OPTIMIZE SQL statements route to the maintenance " +
      "machinery with metrics, content invariance, and loud errors") {
    val (root, name, ev) = freshTable()
    for (m <- 0 to 2)
      DV.delete(spark, root, "user_id",
        ev.select("user_id").distinct().filter(col("user_id") % 9 === m))
    val kept = ev.filter(col("user_id") % 9 > 2)

    val opt = GraftSql.sql(spark, s"OPTIMIZE $name").head()
    assert(opt.getLong(0) > 0, "expected blob dirs folded")
    assert(opt.getLong(2) > 0, "expected hot files rewritten")
    assert(spark.table(name).count() == kept.count(),
      "OPTIMIZE must be content-invariant")

    val vac = GraftSql.sql(spark,
      s"VACUUM $name RETAIN 0 HOURS KEEP 1 VERSIONS").head()
    assert(vac.getLong(0) > 0, "expected dead data files reclaimed")
    assert(spark.table(name).count() == kept.count(),
      "VACUUM must be content-invariant")

    // a second OPTIMIZE has nothing to do — metrics go to zero
    val opt2 = GraftSql.sql(spark, s"OPTIMIZE $name").head()
    assert(opt2.getLong(0) == 0 && opt2.getLong(2) == 0)

    // loud error on a non-graft-dv target; garbage stays a parse error
    val e = intercept[Exception] {
      GraftSql.sql(spark, "VACUUM no_such_dv_table").collect()
    }
    assert(e.getMessage.contains("not a graft-dv"))
    intercept[Exception] {
      GraftSql.sql(spark, "FROBNICATE everything").collect()
    }
  }

  test("MERGE schema evolution (autoMerge, opt-in): a source with a " +
      "NEW column widens the target once and the star actions cover " +
      "it; OFF never grows the schema; session-name and path-addressed " +
      "statements agree row-for-row") {
    val (root1, name1, ev) = freshTable()
    val (root2, _, _) = freshTable()
    spark.conf.set("spark.sql.catalog.graftdv",
      "graft.sources.GraftDvCatalog")
    val t2 = s"graftdv.`$root2`"
    val src = ev.filter(col("event_id") % 7 === 0)
      .withColumn("value", col("value") + 11)
      .unionByName(ev.limit(20)
        .withColumn("event_id", col("event_id") + 3000000L))
      .withColumn("score", (col("user_id") % 5).cast("int"))
      .localCheckpoint()
    src.createOrReplaceTempView("dvdml_evo_src")
    def mergeSql(t: String) =
      s"""MERGE INTO $t t USING dvdml_evo_src s
         |ON t.event_id = s.event_id
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin

    // OFF by default: Spark's own star expansion binds the TARGET
    // columns only, so the statement runs but the schema must NOT
    // grow silently (a typo'd source column is the threat autoMerge's
    // opt-in exists for)
    GraftSql.sql(spark, mergeSql(name1)).collect()
    assert(!DV.read(spark, root1).columns.contains("score"),
      "without autoMerge the extra source column must be ignored, " +
        "never silently added")

    spark.conf.set("spark.graft.dv.schema.autoMerge", "true")
    try {
      GraftSql.sql(spark, mergeSql(name1)).collect()
      GraftSql.sql(spark, mergeSql(t2)).collect()
    } finally spark.conf.unset("spark.graft.dv.schema.autoMerge")

    val r1 = DV.read(spark, root1)
    val r2 = DV.read(spark, root2)
    assert(r1.columns.contains("score") && r2.columns.contains("score"))
    // pre-merge rows read the evolved column as NULL; matched +
    // inserted rows carry it
    assert(r1.filter(col("score").isNotNull).count() == src.count())
    // the session name and the path-addressed ident agree exactly
    val cols = r1.columns.sorted.map(col).toSeq
    assert(r1.select(cols: _*).exceptAll(r2.select(cols: _*)).isEmpty &&
      r2.select(cols: _*).exceptAll(r1.select(cols: _*)).isEmpty,
      "V1 and DSv2 merge paths must produce identical tables")
  }

  test("INSERT INTO ... BY NAME schema evolution (same autoMerge " +
      "flag): a wider source widens the target; positional INSERTs " +
      "never evolve — arity stays unambiguous") {
    val (root, name, ev) = freshTable()
    ev.limit(12)
      .withColumn("event_id", col("event_id") + 6000000L)
      .withColumn("origin", lit("imported"))
      .createOrReplaceTempView("dvdml_ins_src")
    // OFF: the wider BY NAME insert fails analysis, nothing grows
    intercept[Exception](GraftSql.sql(spark,
      s"INSERT INTO $name BY NAME SELECT * FROM dvdml_ins_src")
      .collect())
    assert(!DV.read(spark, root).columns.contains("origin"))
    spark.conf.set("spark.graft.dv.schema.autoMerge", "true")
    try {
      // positional INSERT still refuses even with the flag on —
      // widening would silently shift column positions
      intercept[Exception](GraftSql.sql(spark,
        s"INSERT INTO $name SELECT * FROM dvdml_ins_src").collect())
      assert(!DV.read(spark, root).columns.contains("origin"))
      GraftSql.sql(spark,
        s"INSERT INTO $name BY NAME SELECT * FROM dvdml_ins_src")
        .collect()
    } finally spark.conf.unset("spark.graft.dv.schema.autoMerge")
    val rd = DV.read(spark, root)
    assert(rd.columns.contains("origin"))
    assert(rd.count() == 212)
    assert(rd.filter(col("origin") === "imported").count() == 12)
    assert(rd.filter(col("origin").isNull).count() == 200,
      "pre-insert rows null-fill the evolved column")
  }

  test("UPDATE that moves rows across partitions keeps the layout " +
      "consistent (images land in their new partition dirs)") {
    val (root, name, ev) = freshTable()
    val days = ev.select("day").distinct().orderBy("day")
      .collect().map(_.getString(0))
    val (d0, d1) = (days.head, days.last)
    val moved = ev.filter(col("day") === d0).count()
    GraftSql.sql(spark,
      s"UPDATE $name SET day = '$d1' WHERE day = '$d0'").collect()
    val rd = DV.read(spark, root)
    assert(rd.filter(col("day") === d0).count() == 0)
    assert(rd.filter(col("day") === d1).count()
      == moved + ev.filter(col("day") === d1).count())
    assert(rd.count() == ev.count())
  }
}
