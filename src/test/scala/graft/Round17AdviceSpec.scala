package graft

import org.apache.spark.sql.functions._

import graft.operators.{DeletionVectors => DV, DvBlobs, Snapshots}

/** Round-17 advisory regressions (round-16 ADVICE.md, medium):
  *
  * '''maintenance replays publish intents before it touches blobs or
  * files''' — a crashed delete-only DSv2 publish leaves an intent
  * whose ONE published destination is the only evidence that the
  * DELETE is partially applied. Blob compaction folds that blob into
  * a merged one under a new name, so the next replay finds no
  * journaled destination and drops the intent unapplied; a purge
  * rewrites a file whose pending tombstone never went live, so the
  * replayed blob lands on a dead file (pack, ZORDER and layout
  * migration rewrite files the same way). Either way the DELETE
  * stayed half-applied forever. Every blob-folding or file-rewriting
  * maintenance op now replays first; the masked read is the pre- or
  * the post-DELETE row set, never a mix.
  *
  * The same file-rewriting ops never commit a stage that a racing
  * delete made stale: they restage at most 3 times, then fail with
  * the table untouched.
  */
class Round17AdviceSpec extends SparkSpec {

  /** A table with a committed tombstone on two files and a crashed
    * two-blob DELETE publish over the same files: intent journaled,
    * first blob live, second still pending. Returns the table root
    * and the pre- and post-DELETE `event_id` sets.
    */
  private def halfPublished(tag: String)
      : (String, Set[Long], Set[Long]) = {
    val root = table(tag)
    val rows = DV.manifest(spark, root).select("file", "rows")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    val files = rows.filter(_._2 >= 2).map(_._1).take(2)
    assert(files.size == 2)
    // an earlier committed delete: two blobs per dir once the crashed
    // publish lands its first one, and both files hot for a purge
    files.foreach(f => DvBlobs.writeDelta(root, f, Array(1L)): Unit)
    def ids = DV.read(spark, root).select("event_id")
      .collect().map(_.getLong(0)).toSet
    val pre = ids
    import spark.implicits._
    val victims = DV.rowsAtCoordinates(spark, root,
        files.map(f => (f, 0L)).toDF("file", "pos"))
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(victims.size == 2)
    val pendingRoot = s"$root/_dml_stage_r17${tag}_dvpending"
    val blobs = files.map(f => DvBlobs.writeDelta(pendingRoot, f, Array(0L)))
    DvBlobs.writeIntent(root, blobs): Unit
    DvBlobs.publish(blobs.head, root): Unit
    assert(ids.size == pre.size - 1) // half-applied
    (root, pre, pre -- victims)
  }

  /** 300 events in a fresh table partitioned by `event_type`. */
  private def table(tag: String): String = {
    val root = java.nio.file.Files
      .createTempDirectory(s"graft_r17_$tag").toString
    val ev = graft.sources.Tables.events(spark, sf)
      .orderBy("event_id").limit(300)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .localCheckpoint()
    DV.init(spark, ev.repartition(4), root, Seq("event_type"))
    root
  }

  private def eventIds(root: String): Set[Long] = DV.read(spark, root)
    .select("event_id").collect().map(_.getLong(0)).toSet

  /** Run the op while a racer thread keeps writing delta blobs onto
    * one of its victim files (one sharing its partition dir, so pack
    * picks it too, and tombstoned once up front, so purge finds it
    * hot).
    * Every staging pass then sees a new delta signature: the op must
    * give up after 3 restages, commit nothing, and leave readable
    * every row the racer did not tombstone.
    */
  private def assertRestageBound(op: String,
      prepare: String => Unit = _ => ())(run: String => Unit): Unit = {
    val root = table(s"restage_$op")
    prepare(root)
    val (file, rows) = DV.manifest(spark, root).select("file", "rows")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
      .groupBy(fr => fr._1.substring(0, fr._1.lastIndexOf('/')))
      .values.filter(_.size >= 2).flatten.maxBy(_._2)
    assert(rows >= 3)
    val pre = eventIds(root)
    val mt = DV.manifestTable(root)
    val version = Snapshots.latestVersion(spark, mt)
    DvBlobs.writeDelta(root, file, Array(0L)): Unit
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    @volatile var racerError: Throwable = null
    val racer = new Thread(() =>
      try {
        var i = 1L
        while (!stop.get) {
          DvBlobs.writeDelta(root, file, Array(i % 2)): Unit
          i += 1
          Thread.sleep(10L)
        }
      } catch { case t: Throwable => racerError = t })
    racer.start()
    val e =
      try intercept[IllegalArgumentException](run(root))
      finally { stop.set(true); racer.join() }
    assert(racerError == null, s"racer failed: $racerError")
    assert(e.getMessage.contains("restaged 3 times"), e.getMessage)
    assert(Snapshots.latestVersion(spark, mt) == version,
      s"$op committed while every staging pass raced a delete")
    import spark.implicits._
    val racerVictims = DV.rowsAtCoordinates(spark, root,
        Seq((file, 0L), (file, 1L)).toDF("file", "pos"))
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(eventIds(root) == pre -- racerVictims)
  }

  private def assertWhole(op: String)(run: String => Unit): Unit = {
    val (root, pre, post) = halfPublished(op)
    run(root)
    DvBlobs.replayIntents(root): Unit
    val now = DV.read(spark, root).select("event_id")
      .collect().map(_.getLong(0)).toSet
    val whole = now == pre || now == post
    assert(whole,
      s"$op left the DELETE half-applied: " +
        s"${pre.size - now.size} of ${pre.size - post.size} rows masked")
  }

  test("compactBlobs replays a half-published DELETE before folding " +
      "its only published blob") {
    assertWhole("compact")(root => DV.compactBlobs(spark, root): Unit)
  }

  test("autoCompactBlobs replays a half-published DELETE before " +
      "folding its only published blob") {
    assertWhole("autocompact")(root =>
      DV.autoCompactBlobs(spark, root, maxBlobs = 1): Unit)
  }

  test("purge replays a half-published DELETE before rewriting the " +
      "file its pending blob targets") {
    assertWhole("purge")(root =>
      DV.purge(spark, root, Seq("event_type"), 0.0, () => ()): Unit)
  }

  test("pack, ZORDER and layout migration replay a half-published " +
      "DELETE before rewriting the files its blobs target") {
    assertWhole("pack")(root =>
      DV.compactSmallFiles(spark, root, Long.MaxValue): Unit)
    assertWhole("zorder")(root =>
      DV.zorder(spark, root, Seq("user_id")): Unit)
    assertWhole("migrate") { root =>
      DV.setPartitioning(spark, root, Seq("day")): Unit
      DV.migrateLayout(spark, root): Unit
    }
  }

  test("restore replays a half-published DELETE") {
    assertWhole("restore")(root => DV.restore(spark, root, 1L): Unit)
  }

  test("purge and pack give up after 3 restages against a racing " +
      "delete and commit nothing") {
    assertRestageBound("purge")(root =>
      DV.purge(spark, root, Seq("event_type"), 0.0, () => ()): Unit)
    assertRestageBound("pack")(root =>
      DV.compactSmallFiles(spark, root, Long.MaxValue): Unit)
  }

  test("ZORDER and layout migration give up after 3 restages against " +
      "a racing delete and commit nothing") {
    assertRestageBound("zorder")(root =>
      DV.zorder(spark, root, Seq("user_id")): Unit)
    assertRestageBound("migrate",
        root => DV.setPartitioning(spark, root, Seq("day")): Unit)(root =>
      DV.migrateLayout(spark, root): Unit)
  }
}
