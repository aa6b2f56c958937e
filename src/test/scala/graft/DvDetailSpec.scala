package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{DeletionVectors => DV, DvBlobs, Snapshots}

/** `DESCRIBE DETAIL` and `VACUUM ... DRY RUN` — the operational
  * introspection faces: know what a table IS and what a vacuum WOULD
  * reclaim before running it.
  */
class DvDetailSpec extends SparkSpec {

  test("DESCRIBE DETAIL reports identity, metadata, and live totals; " +
      "tombstoned rows track deletes without touching live_rows") {
    val root = Files.createTempDirectory("graft_dvdetail").toString
    val name = s"dvdetail_t_${math.abs(root.hashCode)}"
    val ev = graft.sources.Tables.events(spark, sf)
      .orderBy("event_id").limit(300)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .localCheckpoint()
    DV.init(spark, ev, root, Seq("day"), statsCols = Seq("event_id"))
    spark.sql(s"CREATE TABLE $name USING `graft-dv` OPTIONS (path '$root')")
    graft.GraftSql.sql(spark, s"ALTER TABLE $name ADD CONSTRAINT " +
      "pos CHECK (event_id >= 0)").collect()
    DV.delete(spark, root, "user_id",
      ev.select("user_id").distinct().filter(col("user_id") % 4 === 0))
    val vic = ev.filter(col("user_id") % 4 === 0).count()

    val d = graft.GraftSql.sql(spark, s"DESCRIBE DETAIL $name").head()
    assert(d.getString(0) == "graft-dv")
    assert(d.getString(3) == "day")
    assert(d.getString(4) == "event_id")
    assert(d.getString(5) == "pos CHECK (event_id >= 0)")
    assert(d.getString(6) == "", "no evolution yet -> empty old_layouts")
    assert(d.getString(7) == "", "no column mapping -> identity")
    assert(d.getString(8) == "", "no required reader features yet")
    assert(d.getLong(9) == 2L) // init + the ALTER's metadata flip
    assert(d.getLong(13) == 300L,
      "live_rows counts PHYSICAL rows — masked rows stay in files")
    assert(d.getLong(15) == vic)
    // non-dv target fails loudly
    intercept[Exception](graft.GraftSql.sql(spark,
      "DESCRIBE DETAIL nothere").collect())
  }

  test("ANALYZE TABLE costs one manifest aggregate, records VISIBLE " +
      "rows in catalog stats, and falls through for non-dv tables") {
    val root = Files.createTempDirectory("graft_dvanalyze").toString
    val name = s"dvanalyze_t_${math.abs(root.hashCode)}"
    val ev = graft.sources.Tables.events(spark, sf)
      .orderBy("event_id").limit(300)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .localCheckpoint()
    DV.init(spark, ev, root, "day")
    spark.sql(s"CREATE TABLE $name USING `graft-dv` OPTIONS (path '$root')")
    DV.delete(spark, root, "user_id",
      ev.select("user_id").distinct().filter(col("user_id") % 4 === 0))
    val visible = ev.filter(col("user_id") % 4 =!= 0).count()

    val a = graft.GraftSql.sql(spark,
      s"ANALYZE TABLE $name COMPUTE STATISTICS").head()
    assert(a.getLong(0) == 300L && a.getLong(1) == visible)
    val stats = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(name)).stats.get
    assert(stats.rowCount.contains(BigInt(visible)),
      "the optimizer should cost joins with VISIBLE rows, not physical")
    assert(stats.sizeInBytes > 0)

    // fall-through: ANALYZE on a plain parquet table still reaches
    // Spark's own command (row-scan path) and records stats
    val proot = Files.createTempDirectory("graft_plainpq").toString
    val pname = s"plainpq_t_${math.abs(proot.hashCode)}"
    ev.limit(50).write.mode("overwrite").parquet(s"$proot/d")
    spark.sql(s"CREATE TABLE $pname USING parquet LOCATION '$proot/d'")
    graft.GraftSql.sql(spark,
      s"ANALYZE TABLE $pname COMPUTE STATISTICS").collect()
    assert(spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(pname))
      .stats.exists(_.rowCount.contains(BigInt(50))))
  }

  test("VACUUM DRY RUN reports the EXACT candidate math of the real " +
      "vacuum, deletes nothing, and leaves the manifest log intact") {
    val root = Files.createTempDirectory("graft_dvdry").toString
    val name = s"dvdry_t_${math.abs(root.hashCode)}"
    val ev = graft.sources.Tables.events(spark, sf)
      .orderBy("event_id").limit(300)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .localCheckpoint()
    DV.init(spark, ev, root, "day")
    spark.sql(s"CREATE TABLE $name USING `graft-dv` OPTIONS (path '$root')")

    // nothing dead yet: the dry run says so
    val clean = graft.GraftSql.sql(spark,
      s"VACUUM $name RETAIN 0 HOURS DRY RUN").head()
    assert(clean.getLong(0) == 0 && clean.getLong(2) == 0)

    // kill some files (delete + full purge), then compare dry vs real
    DV.delete(spark, root, "user_id",
      ev.select("user_id").distinct().filter(col("user_id") % 3 === 0))
    DV.purge(spark, root, "day", 0.0): Unit
    val versionsBefore = Snapshots.committedVersions(
      spark, DV.manifestTable(root))
    val liveBefore = DV.read(spark, root).count()

    val dry = graft.GraftSql.sql(spark,
      s"VACUUM $name RETAIN 0 HOURS KEEP 1 VERSIONS DRY RUN").head()
    assert(dry.getLong(0) > 0 && dry.getLong(1) > 0,
      "purge must have left reclaimable files/bytes")
    // the dry run deleted nothing: content, log, and time travel intact
    assert(DV.read(spark, root).count() == liveBefore)
    assert(Snapshots.committedVersions(spark, DV.manifestTable(root))
      == versionsBefore)
    assert(DV.readVersion(spark, root, 1L).count() == liveBefore)

    val real = graft.GraftSql.sql(spark,
      s"VACUUM $name RETAIN 0 HOURS KEEP 1 VERSIONS").head()
    assert(real.getLong(0) == dry.getLong(0),
      s"dry-run files ${dry.getLong(0)} != actual ${real.getLong(0)}")
    assert(real.getLong(1) == dry.getLong(2),
      s"dry-run dirs ${dry.getLong(2)} != actual ${real.getLong(1)}")
    assert(DV.read(spark, root).count() == liveBefore)
  }

  test("VACUUM DRY RUN leaves a half-published DELETE's intent and the " +
      "masked read unchanged") {
    val root = Files.createTempDirectory("graft_dvdryintent").toString
    val name = s"dvdryintent_t_${math.abs(root.hashCode)}"
    val ev = graft.sources.Tables.events(spark, sf)
      .orderBy("event_id").limit(300)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .localCheckpoint()
    DV.init(spark, ev.repartition(4), root, Seq("event_type"))
    spark.sql(s"CREATE TABLE $name USING `graft-dv` OPTIONS (path '$root')")
    // a crashed two-blob DELETE publish: intent journaled, first blob
    // live, second still pending
    val files = DV.manifest(spark, root).select("file")
      .collect().map(_.getString(0)).take(2).toSeq
    val pendingRoot = s"$root/_dml_stage_dry_dvpending"
    val blobs = files.map(f => DvBlobs.writeDelta(pendingRoot, f, Array(0L)))
    val intent = new org.apache.hadoop.fs.Path(
      DvBlobs.writeIntent(root, blobs))
    DvBlobs.publish(blobs.head, root): Unit
    def ids = DV.read(spark, root).select("event_id")
      .collect().map(_.getLong(0)).toSet
    val halfApplied = ids
    assert(halfApplied.size == 299)

    graft.GraftSql.sql(spark, s"VACUUM $name RETAIN 0 HOURS DRY RUN")
      .collect()
    assert(intent.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(intent), "the dry run replayed (and removed) the intent")
    assert(ids == halfApplied, "the dry run changed the masked read")
  }
}
