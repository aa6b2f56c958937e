package graft

import org.apache.spark.sql.functions._

import graft.operators.{DeletionVectors => DV, DvBlobs}

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
  */
class Round17AdviceSpec extends SparkSpec {

  /** A table with a committed tombstone on two files and a crashed
    * two-blob DELETE publish over the same files: intent journaled,
    * first blob live, second still pending. Returns the table root
    * and the pre- and post-DELETE `event_id` sets.
    */
  private def halfPublished(tag: String)
      : (String, Set[Long], Set[Long]) = {
    val root = java.nio.file.Files
      .createTempDirectory(s"graft_r17_$tag").toString
    val ev = graft.sources.Tables.events(spark, sf)
      .orderBy("event_id").limit(300)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .localCheckpoint()
    DV.init(spark, ev.repartition(4), root, Seq("event_type"))
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
}
