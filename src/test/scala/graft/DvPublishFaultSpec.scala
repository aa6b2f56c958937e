package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{DeletionVectors => DV, DvBlobs}

/** A DSv2 DELETE whose touched-file set exceeds the driver-side publish
  * bound renames its pending tombstone blobs live from the executors.
  * When one of those renames fails, the statement must fail, its
  * publish intent must survive (a zombie task may still rename a blob
  * after the driver looks, so only a claim-holding replay may decide),
  * and the next claim-holding op must roll the half-published DELETE
  * forward to exactly the statement's result.
  */
class DvPublishFaultSpec extends SparkSpec {

  test("a fanned-out blob publish that fails mid-way throws, keeps its " +
      "intent, and the next claim-holding op completes the DELETE") {
    val dir = Files.createTempDirectory("graft_pubfault").toString
    val root = s"${FaultInjectingFs.Scheme}://$dir"
    val ev = graft.sources.Tables.events(spark, sf)
      .orderBy("event_id").limit(600).localCheckpoint()
    DV.init(spark, ev.repartition(32), root, Seq("event_type"))
    spark.conf.set("spark.sql.catalog.graftdv",
      "graft.sources.GraftDvCatalog")
    graft.plans.GraftPlans.ensureDvScan(spark)
    val mirror = ev.filter(col("event_id") % 3 =!= 0)
    def pendingIntents: Seq[String] = {
      val d = new java.io.File(s"$dir/_dv/_intents")
      if (!d.exists()) Nil
      else d.listFiles().map(_.getName).filter(_.endsWith(".pub")).toSeq
    }

    FaultInjectingFs.failNthPublish(2)
    val e =
      try intercept[Exception](spark.sql(
        s"DELETE FROM graftdv.`$root` WHERE event_id % 3 = 0").collect())
      finally FaultInjectingFs.disarm()
    assert(FaultInjectingFs.failures == 1, "the injected fault never fired")
    def chain(t: Throwable): Boolean = t != null &&
      (Option(t.getMessage).exists(_.contains("pending blob publish")) ||
        chain(t.getCause))
    assert(chain(e), s"not the publish failure: ${e.getMessage}")
    assert(pendingIntents.size == 1,
      "a failed fanned-out publish must keep its intent")

    DV.compactBlobs(spark, root): Unit
    assert(pendingIntents.isEmpty, "the claim-holding op replays the intent")
    assert(DvBlobs.allFileDirs(root).size > 64,
      "the DELETE must touch more files than the driver-side publish bound")
    val read = DV.read(spark, root).select(mirror.columns.map(col): _*)
    assert(read.count() == mirror.count())
    assert(read.exceptAll(mirror).isEmpty && mirror.exceptAll(read).isEmpty)
  }
}
