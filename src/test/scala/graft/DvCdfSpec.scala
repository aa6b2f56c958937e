package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.{DeletionVectors => DV, DvBlobs, Snapshots}

/** Change data feed OUT of the deletion-vector table — the batch face
  * ([[DV.readChanges]]) under its fold law, the streaming face
  * (`graft-dv-cdf`, offsets = manifest versions), and the CDC
  * auto-compaction policy bounding blob dirs over a long run.
  */
class DvCdfSpec extends SparkSpec {

  private def mkTable(): (String, DataFrame) = {
    val root = Files.createTempDirectory("graft_dvcdf").toString
    val ev = graft.sources.Tables.events(spark, sf)
      .orderBy("event_id").limit(400)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .localCheckpoint()
    DV.init(spark, ev, root, "day")
    (root, ev)
  }

  private def multisetEqual(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("fold law: applying the feed's steps in order to the fromV " +
      "masked read reproduces the toV masked read; a purge step emits " +
      "nothing; deletes surface as the retroactive mask, not feed rows") {
    val (root, ev) = mkTable()
    val mt = DV.manifestTable(root)
    val v1 = Snapshots.latestVersion(spark, mt).get

    // v2: key-free append of shifted rows
    val extra = ev.limit(60)
      .withColumn("event_id", col("event_id") + 7000000L)
    DV.append(spark, root, Seq("day"), extra)
    // v3: upsert — updates of original keys + fresh inserts
    val upd = ev.filter(col("event_id") % 5 === 0)
      .withColumn("value", col("value") + 50)
    DV.upsert(spark, root, "day", "event_id", upd, None)
    // scattered delete (tombstones only — no manifest version)
    DV.delete(spark, root, "user_id",
      ev.select("user_id").distinct().filter(col("user_id") % 7 === 0))
    // v4: threshold purge — rewrites hot files, a NET-ZERO feed step
    val hot = DV.purge(spark, root, Seq("day"), 0.05, () => ())
    assert(hot.nonEmpty, "fixture needs a real purge step")
    val vN = Snapshots.latestVersion(spark, mt).get
    val vPurge = vN // purge commits last

    val feed = DV.readChanges(spark, root, v1, vN).localCheckpoint()
    assert(feed.filter(col("_change_type") === "delete").count() == 0,
      "row deletion must surface as the retroactive mask, never as " +
        "feed rows (the pinned time-travel semantics)")
    assert(feed.filter(col("_commit_version") === vPurge).count() == 0,
      "a purge preserves the live row set — its feed step must cancel")

    // the fold: start at v1 (current mask — retroactive), apply steps
    val cols = feed.columns.filterNot(
      Set("_change_type", "_commit_version", "_commit_timestamp"))
    var acc = DV.readVersion(spark, root, v1).select(cols.map(col): _*)
    Snapshots.committedVersions(spark, mt)
      .filter(v => v > v1 && v <= vN).foreach { v =>
        val step = feed.filter(col("_commit_version") === v)
        acc = acc
          .unionByName(step.filter(col("_change_type") === "insert")
            .select(cols.map(col): _*))
          .exceptAll(step.filter(col("_change_type") === "delete")
            .select(cols.map(col): _*))
      }
    val end = DV.read(spark, root).select(cols.map(col): _*)
    assert(multisetEqual(acc, end),
      "folding the change feed must reproduce the endpoint snapshot")

    // endpoints must be committed versions — vacuumed history fails
    // loudly rather than silently skipping
    intercept[IllegalArgumentException] {
      DV.readChanges(spark, root, v1 - 1, vN)
    }
  }

  test("delete rows (round 14): with change data ON a DELETE records " +
      "its victims' old images keyed to a metadata-only commit, the " +
      "feed emits them as 'delete' rows, and the fold law is " +
      "unaffected (snapshots never contained them — exceptAll no-op)") {
    val (root, ev) = mkTable()
    val name = s"dvcdf_del_${math.abs(root.hashCode)}"
    spark.sql(s"CREATE TABLE $name USING `graft-dv` OPTIONS (path '$root')")
    val mt = DV.manifestTable(root)
    val v1 = Snapshots.latestVersion(spark, mt).get
    spark.conf.set("spark.graft.dv.cdf", "true")
    try {
      GraftSql.sql(spark,
        s"DELETE FROM $name WHERE user_id % 6 = 0").collect(): Unit
    } finally spark.conf.unset("spark.graft.dv.cdf")
    val vN = Snapshots.latestVersion(spark, mt).get
    assert(vN == v1 + 1, "the delete must mint a metadata-only commit")
    assert(DV.history(spark, root).orderBy(desc("version"))
      .select("operation").head().getString(0) == "delete")
    val feed = DV.readChanges(spark, root, v1, vN).localCheckpoint()
    val dels = feed.filter(col("_change_type") === "delete")
    // exactly the victims' old images, no other change rows
    assert(multisetEqual(
      dels.select(col("event_id"), col("value")),
      ev.filter(col("user_id") % 6 === 0)
        .select(col("event_id"), col("value"))))
    assert(feed.count() == dels.count(),
      "a pure delete commit emits only 'delete' rows")
    // fold law: the v1 snapshot is retroactively masked, so folding
    // the delete rows over it is a no-op and reproduces the endpoint
    val cols = feed.columns.filterNot(
      Set("_change_type", "_commit_version", "_commit_timestamp"))
    val folded = DV.readVersion(spark, root, v1)
      .select(cols.map(col): _*)
      .exceptAll(dels.select(cols.map(col): _*))
    assert(multisetEqual(folded,
      DV.read(spark, root).select(cols.map(col): _*)))
    // a DERIVED consumer (not retroactively masked) genuinely needs
    // them: v1's UNMASKED row multiset minus the delete rows equals
    // the live table — the retraction arithmetic IVM folds
    val mirror = spark.read.parquet(DV.dataDir(root))
      .select(cols.map(col): _*)
      .exceptAll(dels.select(cols.map(col): _*))
    assert(multisetEqual(mirror,
      DV.read(spark, root).select(cols.map(col): _*)))
  }

  test("update pre/post images: with change data ON, update-verb " +
      "commits emit paired update_preimage/update_postimage rows " +
      "keyed by _commit_version; the fold law holds across the " +
      "mixed-verb history; a KEYED consumer converges a mirror " +
      "from postimages alone") {
    val (root, ev) = mkTable()
    val mt = DV.manifestTable(root)
    val v1 = Snapshots.latestVersion(spark, mt).get
    val tbl = s"dvcdfu_${math.abs(root.hashCode)}"
    spark.sql(s"CREATE TABLE $tbl USING `graft-dv` OPTIONS (path '$root')")
    spark.conf.set("spark.graft.dv.cdf", "true")
    try {
      // v2: key-free append — plain inserts even with the feature on
      DV.append(spark, root, Seq("day"), ev.limit(50)
        .withColumn("event_id", col("event_id") + 7000000L))
      // v3: upsert mixing updates (keys that exist) and fresh inserts
      val upd = ev.filter(col("event_id") % 5 === 0)
        .withColumn("value", col("value") + 50)
      val ins = ev.limit(15)
        .withColumn("event_id", col("event_id") + 8000000L)
      DV.upsert(spark, root, "day", "event_id",
        upd.unionByName(ins), None)
      // v4: SQL UPDATE over everything (original + appended + upserted)
      graft.GraftSql.sql(spark,
        s"UPDATE $tbl SET value = value + 7 WHERE event_id % 11 = 0")
        .collect()
    } finally spark.conf.unset("spark.graft.dv.cdf")
    val vN = Snapshots.latestVersion(spark, mt).get

    val feed = DV.readChanges(spark, root, v1, vN).localCheckpoint()
    assert(feed.filter(col("_commit_timestamp").isNull).count() == 0,
      "every feed row carries its commit instant")
    // pairing: each update-verb commit carries BOTH image sides.
    // POST-images read through the retroactive mask (the pinned
    // time-travel rule — that is what keeps the fold law exact), so
    // a LATER update's tombstones may thin an earlier commit's
    // postimages: pre >= post everywhere, equality on the last
    // commit (nothing after it to thin)
    val sides = feed
      .filter(col("_change_type").startsWith("update_"))
      .groupBy("_commit_version")
      .agg(
        sum(when(col("_change_type") === "update_preimage", 1L)
          .otherwise(0L)).as("pre"),
        sum(when(col("_change_type") === "update_postimage", 1L)
          .otherwise(0L)).as("post"))
      .orderBy(col("_commit_version"))
      .collect()
    assert(sides.length == 2, "upsert and UPDATE both recorded images")
    sides.foreach(r => assert(r.getLong(1) >= r.getLong(2) &&
      r.getLong(2) > 0, s"pre/post sides must both surface: $r"))
    assert(sides.last.getLong(1) == sides.last.getLong(2),
      s"the final update commit pairs exactly: ${sides.last}")
    // the upsert's fresh inserts stay PLAIN inserts in its step
    // (minus any the LATER update tombstoned — retroactive mask)
    val v3 = Snapshots.committedVersions(spark, mt)
      .filter(_ > v1).apply(1)
    val insStillVisible = ev.limit(15)
      .filter((col("event_id") + 8000000L) % 11 =!= 0).count()
    assert(feed.filter(col("_commit_version") === v3 &&
      col("_change_type") === "insert" &&
      col("event_id") >= 8000000L).count() == insStillVisible)

    // fold law with image types: postimage folds as insert, preimage
    // as delete (a no-op against the retroactively-masked base —
    // pinned), plain insert/delete as before
    val cols = feed.columns.filterNot(
      Set("_change_type", "_commit_version", "_commit_timestamp"))
    var acc = DV.readVersion(spark, root, v1).select(cols.map(col): _*)
    Snapshots.committedVersions(spark, mt)
      .filter(v => v > v1 && v <= vN).foreach { v =>
        val step = feed.filter(col("_commit_version") === v)
        def of(ts: String*) = step
          .filter(col("_change_type").isin(ts: _*))
          .select(cols.map(col): _*)
        acc = acc.unionByName(of("insert", "update_postimage"))
          .exceptAll(of("delete", "update_preimage"))
      }
    val end = DV.read(spark, root).select(cols.map(col): _*)
    assert(multisetEqual(acc, end),
      "folding the image-typed feed must reproduce the endpoint")

    // keyed consumer (the maintainScd2 shape): upsert-by-key from
    // insert+postimage rows alone converges a mirror — no
    // delete/insert pairing races, preimages never needed for state
    var mirror = DV.readVersion(spark, root, v1).select(cols.map(col): _*)
    Snapshots.committedVersions(spark, mt)
      .filter(v => v > v1 && v <= vN).foreach { v =>
        val images = feed.filter(col("_commit_version") === v &&
            col("_change_type").isin("insert", "update_postimage"))
          .select(cols.map(col): _*)
        mirror = mirror.join(images.select("event_id").distinct(),
            Seq("event_id"), "left_anti")
          .unionByName(images)
          .localCheckpoint()
      }
    assert(multisetEqual(
        mirror.select(cols.sorted.map(col): _*),
        end.select(cols.sorted.map(col): _*)),
      "a keyed consumer folding postimages must converge to the source")

    // vacuum reclaims the change-data sidecars WITH their versions:
    // retired commits must not leak O(changed rows) bytes forever
    val cdfRoot = new org.apache.hadoop.fs.Path(DV.cdfDir(root))
    val fs = cdfRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(cdfRoot) && fs.listStatus(cdfRoot).nonEmpty)
    DV.vacuum(spark, root, keepVersions = 1, minAgeMs = 0L)
    val keptV = Snapshots.committedVersions(spark, mt).toSet
    val leftover = fs.listStatus(cdfRoot).map(_.getPath.getName)
      .filter(_.startsWith("v="))
      .map(_.stripPrefix("v=").toLong).toSet
    assert(leftover.subsetOf(keptV),
      s"vacuum must sweep retired sidecars; left $leftover, kept $keptV")
  }

  test("feed across schema evolution carries the widest column set, " +
      "null-filling pre-evolution steps") {
    val (root, ev) = mkTable()
    val mt = DV.manifestTable(root)
    val v1 = Snapshots.latestVersion(spark, mt).get
    DV.append(spark, root, Seq("day"),
      ev.limit(20).withColumn("event_id", col("event_id") + 8000000L))
    DV.append(spark, root, Seq("day"),
      ev.limit(10).withColumn("event_id", col("event_id") + 9000000L)
        .withColumn("priority", (col("user_id") % 3).cast("int")))
    val vN = Snapshots.latestVersion(spark, mt).get
    val feed = DV.readChanges(spark, root, v1, vN)
    assert(feed.columns.contains("priority"))
    assert(feed.filter(col("event_id") >= 9000000L)
      .filter(col("priority").isNull).count() == 0)
    assert(feed.filter(col("event_id") < 9000000L)
      .filter(col("priority").isNotNull).count() == 0)
    assert(feed.count() == 30)
  }

  test("streaming face: graft-dv-cdf drains exactly the batch face's " +
      "rows from startingVersion, through the engine's offset log") {
    val (root, ev) = mkTable()
    val mt = DV.manifestTable(root)
    val v1 = Snapshots.latestVersion(spark, mt).get
    DV.append(spark, root, Seq("day"),
      ev.limit(30).withColumn("event_id", col("event_id") + 6000000L))
    DV.upsert(spark, root, "day", "event_id",
      ev.filter(col("event_id") % 9 === 0)
        .withColumn("value", col("value") * 2), None)
    val vN = Snapshots.latestVersion(spark, mt).get

    val ckpt = Files.createTempDirectory("graft_dvcdf_ck").toString
    val out = Files.createTempDirectory("graft_dvcdf_out").toString
    def runOnce(): Unit = {
      val q = spark.readStream.format("graft-dv-cdf")
        .option("path", root).option("startingVersion", v1).load()
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination(120000) finally q.stop()
    }
    runOnce()

    val got = spark.read.parquet(out)
    val want = DV.readChanges(spark, root, v1, vN)
    assert(got.count() == want.count())
    assert(multisetEqual(got, want.select(got.columns.map(col): _*)))

    // checkpoint restart with no new commits: nothing redelivers
    runOnce()
    assert(spark.read.parquet(out).count() == want.count())

    // a commit AFTER the restart window delivers exactly its step
    DV.append(spark, root, Seq("day"),
      ev.limit(5).withColumn("event_id", col("event_id") + 7500000L))
    runOnce()
    assert(spark.read.parquet(out).count() == want.count() + 5)
  }

  test("catalog face: graftdv.changes.`root` serves the feed for " +
      "BATCH (version-window read options) and readStream.table — " +
      "one machinery, no separate source name") {
    val (root, ev) = mkTable()
    val mt = DV.manifestTable(root)
    val v1 = Snapshots.latestVersion(spark, mt).get
    DV.append(spark, root, Seq("day"),
      ev.limit(20).withColumn("event_id", col("event_id") + 6200000L))
    DV.upsert(spark, root, "day", "event_id",
      ev.filter(col("event_id") % 11 === 0)
        .withColumn("value", col("value") * 3), None)
    val vN = Snapshots.latestVersion(spark, mt).get
    spark.conf.set("spark.sql.catalog.graftdv",
      "graft.sources.GraftDvCatalog")
    val t = s"graftdv.changes.`$root`"

    // batch: the default window is the full retained feed; options
    // bound it exactly like the API's (fromV, toV]
    val want = DV.readChanges(spark, root, v1, vN)
    val got = spark.read
      .option("startingVersion", v1).option("endingVersion", vN).table(t)
    assert(got.count() == want.count())
    assert(multisetEqual(got.select(want.columns.map(col).toSeq: _*),
      want))
    // SQL face over the same namespace
    assert(spark.sql(s"SELECT count(*) FROM $t").head().getLong(0) ==
      DV.readChanges(spark, root,
        Snapshots.committedVersions(spark, mt).min, vN).count())
    // with the scan swap installed, the batch read compiles to the
    // direct plan (no row-RDD bridge)
    graft.plans.GraftPlans.ensureDvScan(spark)
    val plan = spark.read.option("startingVersion", v1).table(t)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("RowDataSourceScan"), plan.take(500))

    // streaming: readStream.table on the SAME name (V1 fallback to
    // the proven source; offsets = manifest versions)
    val ckpt = Files.createTempDirectory("graft_dvcdfcat_ck").toString
    val out = Files.createTempDirectory("graft_dvcdfcat_out").toString
    def runOnce(): Unit = {
      val q = spark.readStream
        .option("startingVersion", v1).table(t)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination(120000) finally q.stop()
    }
    runOnce()
    val streamed = spark.read.parquet(out)
    assert(streamed.count() == want.count())
    assert(multisetEqual(
      streamed.select(want.columns.map(col).toSeq: _*), want))
    // exactly-once across restart
    runOnce()
    assert(spark.read.parquet(out).count() == want.count())
  }

  test("CDF-driven replication: a KEYED mirror forked from a snapshot " +
      "and folding the feed (upsert-by-key, latest version wins) " +
      "converges to the source across append / upsert / purge") {
    val (rootA, ev) = mkTable()
    val mtA = DV.manifestTable(rootA)
    // source-side deletes happen BEFORE the fork: pure deletes ride
    // the retroactive mask, never the feed — a replicator of deletes
    // subscribes to the erasure stream, not the CDF (the documented
    // contract; this spec replicates the keyed-change stream)
    DV.delete(spark, rootA, "user_id",
      ev.select("user_id").distinct().filter(col("user_id") % 6 === 0))
    val forkV = Snapshots.latestVersion(spark, mtA).get

    // the mirror forks from the masked snapshot at subscription time
    val rootB = Files.createTempDirectory("graft_dvcdf_mirror").toString
    DV.init(spark, DV.readVersion(spark, rootA, forkV), rootB, "day")

    // source evolves: two keyed upserts (overlapping keys — the
    // mirror must take the LATER image), a key-free append, a purge
    DV.upsert(spark, rootA, "day", "event_id",
      ev.filter(col("event_id") % 5 === 0)
        .withColumn("value", col("value") + 100), None)
    DV.append(spark, rootA, Seq("day"),
      ev.limit(30).withColumn("event_id", col("event_id") + 4000000L))
    DV.upsert(spark, rootA, "day", "event_id",
      ev.filter(col("event_id") % 10 === 0)
        .withColumn("value", col("value") + 1000), None)
    DV.purge(spark, rootA, Seq("day"), 0.05, () => ())
    val toV = Snapshots.latestVersion(spark, mtA).get

    // the consumer: drain the feed (one batch here, several versions
    // inside), dedupe each key to its HIGHEST commit version, apply
    // as one merge-on-read upsert into the mirror
    val feed = DV.readChanges(spark, rootA, forkV, toV)
    assert(feed.filter(col("_change_type") === "delete").count() == 0)
    val cols = feed.columns
      .filterNot(Set("_change_type", "_commit_version", "_commit_timestamp"))
    import org.apache.spark.sql.expressions.Window
    val latest = feed
      .withColumn("__rk", row_number().over(Window
        .partitionBy(col("event_id"))
        .orderBy(desc("_commit_version"))))
      .filter(col("__rk") === 1)
      .select(cols.map(col): _*)
    DV.upsert(spark, rootB, "day", "event_id", latest, None)

    // convergence: the mirror's masked read equals the source's
    val a = DV.read(spark, rootA).select(cols.map(col): _*)
    val b = DV.read(spark, rootB).select(cols.map(col): _*)
    assert(multisetEqual(a, b),
      "mirror did not converge to the source after folding the feed")

    // incremental catch-up: one more source upsert, one more fold
    DV.upsert(spark, rootA, "day", "event_id",
      ev.filter(col("event_id") % 7 === 0)
        .withColumn("value", col("value") * 3), None)
    val toV2 = Snapshots.latestVersion(spark, mtA).get
    val step = DV.readChanges(spark, rootA, toV, toV2)
      .select(cols.map(col): _*)
    DV.upsert(spark, rootB, "day", "event_id", step, None)
    assert(multisetEqual(
      DV.read(spark, rootA).select(cols.map(col): _*),
      DV.read(spark, rootB).select(cols.map(col): _*)))
  }

  test("auto-compaction bounds every blob dir across a 24-batch CDC " +
      "run (threshold 3) and the content stays exact") {
    val (root, ev) = mkTable()
    // DISJOINT victim subsets per batch: every batch's old images
    // live in the SAME init files, so each batch appends one more
    // delta blob to the same dirs — the unbounded-listing shape a
    // long-running stream produces
    val bound = 3
    var maxSeen = 0
    for (i <- 0 until 24) {
      val batch = ev.filter(col("event_id") % 50 === i)
        .withColumn("value", col("value") + (i + 1))
      assert(DV.applyCdcBatch(spark, root, "day", "event_id", batch,
        i.toLong, None, autoCompactBlobsAt = bound))
      val dirs = DvBlobs.allFileDirs(root)
      val worst = dirs.map(d => DvBlobs.dirDataFile(d) match {
        case Some(f) => DvBlobs.listDeltas(root, f).size
        case None => 0
      }).maxOption.getOrElse(0)
      maxSeen = math.max(maxSeen, worst)
      assert(worst <= bound,
        s"batch $i left a blob dir at $worst deltas (bound $bound)")
    }
    assert(maxSeen > 1, "fixture never accumulated blobs — no test")
    // content: each disjoint subset carries its batch's image
    val expect = ev.withColumn("value",
      when(col("event_id") % 50 < 24,
        col("value") + (col("event_id") % 50) + 1)
        .otherwise(col("value")))
    def sums(df: DataFrame) = df
      .agg(count(lit(1)), sum(col("value").cast("decimal(28,4)")))
      .head().toSeq
    assert(sums(DV.read(spark, root)) == sums(expect))
    // a busy maintenance claim makes auto-compaction SKIP, not block
    assert(Snapshots.tryExclusiveCreate(spark, s"$root/_maint"))
    try {
      assert(DV.autoCompactBlobs(spark, root, 0) == ((0L, 0L)))
      assert(DV.autoPackFiles(spark, root, 0).isEmpty)
    } finally Snapshots.removeMarker(spark, s"$root/_maint")
  }
}
