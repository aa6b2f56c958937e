package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{DeletionVectors => DV}

/** PROTOCOL GATING (the Delta table-features shape, feature-granular):
  * a manifest written under a capability — column mapping, partition
  * evolution, CDF update images — records that capability as REQUIRED,
  * and a reader lacking it fails loudly at open instead of misreading
  * the layout (serving physical names, binding old-generation paths to
  * wrong columns, folding a feed without its update images).
  */
class DvProtocolSpec extends SparkSpec {

  private def fresh(): (String, DataFrame) = {
    val root = Files.createTempDirectory("graft_dvproto").toString
    val ev = graft.sources.Tables.events(spark, sf)
      .orderBy("event_id").limit(200)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .localCheckpoint()
    DV.init(spark, ev, root, "day")
    (root, ev)
  }

  private def withReaderFeatures[T](feats: String)(body: => T): T = {
    spark.conf.set("spark.graft.dv.readerFeatures", feats)
    try body finally spark.conf.unset("spark.graft.dv.readerFeatures")
  }

  private def withWriterFeatures[T](feats: String)(body: => T): T = {
    spark.conf.set("spark.graft.dv.writerFeatures", feats)
    try body finally spark.conf.unset("spark.graft.dv.writerFeatures")
  }

  test("a pre-feature table carries no requirement and reads under " +
      "ANY reader; each capability's first use records it exactly once") {
    val (root, _) = fresh()
    // even a featureless reader opens a plain table
    withReaderFeatures("") {
      assert(DV.read(spark, root).count() == 200)
    }
    DV.alterRenameColumn(spark, root, "value", "amount"): Unit
    DV.alterDropColumn(spark, root, "props"): Unit
    val feats = DV.detail(spark, root)._1("features")
    assert(feats == "column-mapping",
      s"two mapping verbs must record the feature once, got: $feats")
  }

  test("a gate-stripped reader fails LOUDLY (never misreads) on " +
      "column mapping and partition evolution; restoring the " +
      "capability restores the read") {
    val (root, ev) = fresh()
    DV.alterRenameColumn(spark, root, "value", "amount"): Unit
    // the stripped reader refuses to open — reads, writes, history
    withReaderFeatures("partition-evolution,cdf-updates") {
      val e = intercept[IllegalArgumentException](
        DV.read(spark, root).count())
      assert(e.getMessage.contains("column-mapping"))
      val e2 = intercept[IllegalArgumentException](
        DV.append(spark, root, Seq("day"), ev.limit(5)))
      assert(e2.getMessage.contains("column-mapping"))
    }
    // the full reader serves the mapped read
    assert(DV.read(spark, root).columns.contains("amount"))

    val (root2, _) = fresh()
    DV.setPartitioning(spark, root2, Seq("event_type")): Unit
    withReaderFeatures("column-mapping,cdf-updates") {
      val e = intercept[IllegalArgumentException](
        DV.read(spark, root2).count())
      assert(e.getMessage.contains("partition-evolution"))
      // the gate holds through the DSv2 catalog face too — a stripped
      // reader cannot sneak a misread in through a different door
      spark.conf.set("spark.sql.catalog.graftdv",
        "graft.sources.GraftDvCatalog")
      val e2 = intercept[Exception](
        spark.sql(s"SELECT count(*) FROM graftdv.`$root2`").collect())
      def chain(t: Throwable): Boolean = t != null &&
        (Option(t.getMessage).exists(_.contains("partition-evolution")) ||
          chain(t.getCause))
      assert(chain(e2))
    }
    assert(DV.read(spark, root2).count() == 200)
  }

  test("CDF update images mark the table at FIRST image commit; a " +
      "feed consumer without the capability fails at open") {
    val (root, _) = fresh()
    spark.conf.set("spark.sql.catalog.graftdv",
      "graft.sources.GraftDvCatalog")
    spark.conf.set("spark.graft.dv.cdf", "true")
    try spark.sql(s"UPDATE graftdv.`$root` SET value = value + 1 " +
      "WHERE user_id % 2 = 0").collect(): Unit
    finally spark.conf.unset("spark.graft.dv.cdf")
    val feats = DV.detail(spark, root)._1("features")
    assert(feats.contains("cdf-updates"))
    withReaderFeatures("column-mapping,partition-evolution") {
      val e = intercept[Exception](DV.read(spark, root).count())
      assert(e.getMessage.contains("cdf-updates"))
    }
  }

  test("a gate-stripped WRITER fails loudly PRE-commit on every " +
      "mutating path — append, delete, DSv2 DML, maintenance, ALTER " +
      "— and the table is unharmed (round-14 writer features)") {
    val (root, ev) = fresh()
    DV.alterRenameColumn(spark, root, "value", "amount"): Unit
    val before = DV.read(spark, root)
      .agg(count(lit(1)), sum(col("amount").cast("decimal(28,4)")))
      .head()
    val dataBytes = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(DV.dataDir(root))).map(_.length()).sum
    }
    val v0 = graft.operators.Snapshots.latestVersion(
      spark, DV.manifestTable(root)).get

    spark.conf.set("spark.sql.catalog.graftdv",
      "graft.sources.GraftDvCatalog")
    withWriterFeatures("partition-evolution,cdf-updates") {
      def refused(body: => Unit): Unit = {
        val e = intercept[Exception](body)
        def chain(t: Throwable): Boolean =
          t != null && (t.getMessage != null &&
            t.getMessage.contains("writer feature") || chain(t.getCause))
        assert(chain(e), s"not the writer gate: ${e.getMessage}")
      }
      refused(DV.append(spark, root, Seq("day"),
        ev.limit(5).withColumnRenamed("value", "amount")): Unit)
      refused(DV.delete(spark, root, "user_id",
        ev.select("user_id").limit(3)): Unit)
      refused(spark.sql(
        s"DELETE FROM graftdv.`$root` WHERE user_id % 2 = 0").collect())
      refused(DV.purge(spark, root, "day", 0.0): Unit)
      refused(DV.zorder(spark, root, Seq("event_id")): Unit)
      refused(DV.vacuum(spark, root, keepVersions = 1, minAgeMs = 0L): Unit)
      refused(DV.alterAddColumns(spark, root,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("zz",
            org.apache.spark.sql.types.LongType)))): Unit)
      // a READ is NOT gated by writer features
      assert(DV.read(spark, root).count() == 200)
    }
    // unharmed: same version, same bytes, same content
    assert(graft.operators.Snapshots.latestVersion(
      spark, DV.manifestTable(root)).contains(v0))
    val after = DV.read(spark, root)
      .agg(count(lit(1)), sum(col("amount").cast("decimal(28,4)")))
      .head()
    assert(after == before)
    val bytesAfter = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(DV.dataDir(root))).map(_.length()).sum
    }
    assert(bytesAfter == dataBytes, "no staged debris may land")
    // a FULL writer proceeds normally afterwards
    DV.append(spark, root, Seq("day"),
      ev.limit(5).withColumn("event_id", col("event_id") + 999999L)
        .withColumnRenamed("value", "amount")): Unit
    assert(DV.read(spark, root).count() == 205)
  }

  test("the format gate: a manifest version whose sentinel lacks the " +
      "table metadata is refused by reads, appends, SQL DELETE and " +
      "ALTER, and the table is left untouched") {
    spark.conf.set("spark.sql.catalog.graftdv",
      "graft.sources.GraftDvCatalog")
    val strips: Seq[(String, DataFrame => DataFrame)] = Seq(
      "schema_json dropped" -> (_.drop("schema_json")),
      "schema_json null" ->
        (_.withColumn("schema_json", lit(null).cast("string"))))
    strips.foreach { case (what, strip) =>
      val (root, ev) = fresh()
      val mt = DV.manifestTable(root)
      val stripped = strip(graft.operators.Snapshots.readLatest(spark, mt))
        .localCheckpoint()
      val bad = graft.operators.Snapshots.publish(spark, mt, stripped)
      def refused(body: => Unit): Unit = {
        val e = intercept[Exception](body)
        def chain(t: Throwable): Boolean = t != null &&
          (Option(t.getMessage).exists(
            _.contains("unsupported manifest format")) || chain(t.getCause))
        assert(chain(e), s"$what: not the format gate: ${e.getMessage}")
      }
      refused(DV.read(spark, root).count(): Unit)
      refused(DV.append(spark, root, Seq("day"), ev.limit(5)): Unit)
      refused(spark.sql(
        s"DELETE FROM graftdv.`$root` WHERE user_id % 2 = 0").collect(): Unit)
      refused(graft.GraftSql.sql(spark,
        s"ALTER TABLE graftdv.`$root` ADD COLUMNS (zz BIGINT)").collect(): Unit)
      // untouched: the stripped version is still the latest, and no
      // stage dir or tombstone blob was left behind
      assert(graft.operators.Snapshots.latestVersion(spark, mt)
        .contains(bad), what)
      val debris = new java.io.File(root).listFiles().map(_.getName)
        .filter(n => n.startsWith("_") && n.contains("_stage"))
      assert(debris.isEmpty, s"$what: stage debris ${debris.mkString(",")}")
      assert(!graft.operators.DvBlobs.hasAny(root), s"$what: blob written")
    }
  }
}
