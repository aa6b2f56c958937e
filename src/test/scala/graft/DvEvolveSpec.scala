package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.operators.{DeletionVectors => DV, Snapshots}

/** Partition evolution ([[DV.setPartitioning]] / `ALTER TABLE ... SET
  * PARTITIONING`, [[DV.migrateLayout]] / `OPTIMIZE ... MIGRATE`):
  * layout changes are metadata-only, every generation keeps ITS
  * partition pruning, masks compose across generations, migration is
  * scoped and clears the evolution flag when the table converges —
  * restoring the lazy single-layout read path.
  */
class DvEvolveSpec extends SparkSpec {

  private var seq = 0

  private def fresh(): (String, String, DataFrame) = {
    seq += 1
    val root = Files.createTempDirectory("graft_dvevo").toString
    val name = s"dvevo_t${seq}_${math.abs(root.hashCode)}"
    val ev = graft.sources.Tables.events(spark, sf)
      .orderBy("event_id").limit(400)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      .localCheckpoint()
    DV.init(spark, ev, root, "day")
    spark.sql(
      s"CREATE TABLE $name USING `graft-dv` OPTIONS (path '$root')")
    graft.plans.GraftPlans.ensureDvScan(spark)
    (root, name, ev)
  }

  /** Files each parquet scan of `df`'s executed plan actually read. */
  private def scannedFiles(df: DataFrame): Seq[String] = {
    df.count(): Unit
    df.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec =>
        s.relation.location.listFiles(s.partitionFilters.filter(
            _.references.nonEmpty), Nil)
          .flatMap(_.files.map(_.getPath.toString))
    }.flatten
  }

  test("SET PARTITIONING is metadata-only; mixed-generation reads are " +
      "exact; masks compose across generations; validations are loud") {
    val (root, name, ev) = fresh()
    val mt = DV.manifestTable(root)
    val filesBefore = DV.manifest(spark, root).count()
    graft.GraftSql.sql(spark,
      s"ALTER TABLE $name SET PARTITIONING (event_type)").collect()
    assert(DV.partitionColsOf(spark, root) == Seq("event_type"))
    assert(DV.manifest(spark, root).count() == filesBefore,
      "evolution must move zero data files")
    // validations: non-string / unknown / unchanged all fail loudly
    intercept[IllegalArgumentException](graft.GraftSql.sql(spark,
      s"ALTER TABLE $name SET PARTITIONING (value)").collect())
    intercept[IllegalArgumentException](graft.GraftSql.sql(spark,
      s"ALTER TABLE $name SET PARTITIONING (no_such)").collect())
    intercept[IllegalArgumentException](graft.GraftSql.sql(spark,
      s"ALTER TABLE $name SET PARTITIONING (event_type)").collect())

    // new-generation rows land under event_type=...; day is a DATA
    // column there and a PATH value in the old generation
    val extra = ev.limit(60)
      .withColumn("event_id", col("event_id") + 7000000L)
    DV.append(spark, root, Seq("event_type"), extra)
    assert(DV.read(spark, root).count() == 460)
    assert(DV.read(spark, root).agg(sum("event_id")).head().getLong(0)
      == ev.unionByName(extra).agg(sum("event_id")).head().getLong(0))
    // filters over BOTH the old and new partition columns stay exact
    val d = ev.select("day").orderBy("day").head().getString(0)
    assert(DV.read(spark, root).filter(col("day") === d).count() ==
      ev.unionByName(extra).filter(col("day") === d).count())
    val t = ev.select("event_type").head().getString(0)
    assert(DV.read(spark, root).filter(col("event_type") === t).count()
      == ev.unionByName(extra).filter(col("event_type") === t).count())
    // masks compose across generations
    DV.delete(spark, root, "user_id",
      ev.select("user_id").distinct().filter(col("user_id") % 5 === 0))
    val kept = ev.unionByName(extra).filter(col("user_id") % 5 =!= 0)
    assert(DV.read(spark, root).count() == kept.count())
    // time travel: the pre-evolution version reads under ITS layout
    // (with the retroactive mask)
    assert(DV.readVersion(spark, root, 1L).count() ==
      ev.filter(col("user_id") % 5 =!= 0).count())
    // the catalog face serves the mixed table too
    assert(spark.table(name).count() == kept.count())
  }

  test("per-generation partition pruning: a day filter prunes the " +
      "old generation's scan, an event_type filter the new one's") {
    val (root, _, ev) = fresh()
    DV.setPartitioning(spark, root, Seq("event_type"))
    val extra = ev.limit(80)
      .withColumn("event_id", col("event_id") + 8000000L)
    DV.append(spark, root, Seq("event_type"), extra)
    val all = scannedFiles(DV.read(spark, root))
    val oldGen = all.filter(_.contains("/day="))
    val newGen = all.filter(_.contains("/event_type="))
    assert(oldGen.nonEmpty && newGen.nonEmpty &&
      oldGen.size + newGen.size == all.size)

    val d = ev.select("day").orderBy("day").head().getString(0)
    val dayScan = scannedFiles(
      DV.read(spark, root).filter(col("day") === d))
    assert(dayScan.filter(_.contains("/day=")).forall(
        _.contains(s"/day=$d")),
      "the old generation's scan must PRUNE on its partition column")
    assert(dayScan.count(_.contains("/day=")) < oldGen.size)

    val t = ev.select("event_type").head().getString(0)
    val typeScan = scannedFiles(
      DV.read(spark, root).filter(col("event_type") === t))
    assert(typeScan.filter(_.contains("/event_type=")).forall(
        _.contains(s"/event_type=$t")),
      "the new generation's scan must PRUNE on its partition column")
    assert(typeScan.count(_.contains("/event_type=")) < newGen.size)

    // the mid-evolution read stays LAZY — one manifest-fed lazy
    // index PER generation, each scoped by its path pattern, so the
    // driver materializes per-generation survivors, never the table
    val idxs = org.apache.spark.sql.GraftPlanApi
      .analyzed(DV.read(spark, root)).collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation.asInstanceOf[
            org.apache.spark.sql.execution.datasources.HadoopFsRelation]
            .location
      }
    assert(idxs.size == 2 && idxs.forall(_.isInstanceOf[
        org.apache.spark.sql.GraftDvApi.LazyManifestFileIndex]),
      s"evolution must not forfeit the lazy path: ${idxs.map(_.getClass)}")
    val dayIdx = idxs.map(_.asInstanceOf[
        org.apache.spark.sql.GraftDvApi.LazyManifestFileIndex])
      .find(_.partitionSchema.fieldNames.sameElements(Array("day"))).get
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Literal}
    val aDay = AttributeReference("day",
      org.apache.spark.sql.types.StringType)()
    val allOld = dayIdx.survivors(Nil, Nil)
    val pruned = dayIdx.survivors(Seq(EqualTo(aDay, Literal(d))), Nil)
    assert(allOld.map(_.path).toSet == oldGen.toSet,
      "the day-generation index holds exactly the old files")
    assert(pruned.nonEmpty && pruned.size < allOld.size &&
      pruned.forall(_.path.contains(s"/day=$d")),
      s"generation-scoped survivors must prune: ${pruned.size}/${allOld.size}")
  }

  test("OPTIMIZE MIGRATE: scoped migration rewrites only matching " +
      "old-generation files; full migration clears the flag and " +
      "restores the lazy single-layout read path") {
    val (root, name, ev) = fresh()
    graft.GraftSql.sql(spark,
      s"ALTER TABLE $name SET PARTITIONING (event_type)").collect()
    DV.append(spark, root, Seq("event_type"), ev.limit(40)
      .withColumn("event_id", col("event_id") + 9000000L))
    DV.delete(spark, root, "user_id",
      ev.select("user_id").distinct().filter(col("user_id") % 4 === 0))
    val expect = ev.unionByName(ev.limit(40)
        .withColumn("event_id", col("event_id") + 9000000L))
      .filter(col("user_id") % 4 =!= 0)
    val days = ev.select("day").distinct().orderBy("day")
      .collect().map(_.getString(0))
    val mid = days(days.length / 2)

    // scoped: only day >= mid old-generation files move
    val out = graft.GraftSql.sql(spark,
      s"OPTIMIZE $name MIGRATE WHERE day >= '$mid'").head()
    assert(out.getLong(0) > 0)
    val stillOld = DV.manifest(spark, root).collect()
      .map(_.getString(0)).filter(_.contains("/day="))
    assert(stillOld.nonEmpty, "out-of-scope old files must remain")
    assert(stillOld.forall(f => f.split("/day=")(1).take(10) < mid),
      "every in-scope old file must have migrated")
    assert(DV.read(spark, root).count() == expect.count(),
      "migration folds masks and preserves content")
    // COLUMN-VALUE integrity, not just counts: a migrated row must
    // keep its day (path value -> data column) and its event_type
    // (the round-12 oracle caught day values served AS event_type)
    assert(DV.read(spark, root).filter(col("day").isNull).count() == 0)
    assert(DV.read(spark, root).groupBy("event_type").count()
        .orderBy("event_type").collect().toSeq ==
      expect.groupBy("event_type").count()
        .orderBy("event_type").collect().toSeq,
      "per-event_type counts must survive migration")

    // full migration: no old files remain, the flag clears, and the
    // read path is the LAZY single-layout index again
    graft.GraftSql.sql(spark, s"OPTIMIZE $name MIGRATE").collect()
    assert(DV.manifest(spark, root).collect().map(_.getString(0))
      .forall(!_.contains("/day=")))
    assert(DV.read(spark, root).count() == expect.count())
    assert(DV.read(spark, root)
      .agg(sum("event_id")).head().getLong(0) ==
      expect.agg(sum("event_id")).head().getLong(0))
    val idx = org.apache.spark.sql.GraftPlanApi
      .analyzed(DV.read(spark, root)).collectFirst {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation.asInstanceOf[
            org.apache.spark.sql.execution.datasources.HadoopFsRelation]
            .location
      }.get
    assert(idx.isInstanceOf[
        org.apache.spark.sql.GraftDvApi.LazyManifestFileIndex],
      s"converged table must serve the lazy index; got ${idx.getClass}")
    // a second MIGRATE is a no-op
    assert(graft.GraftSql.sql(spark, s"OPTIMIZE $name MIGRATE")
      .head().getLong(0) == 0L)
    // and the history records the verbs
    assert(DV.history(spark, root)
      .filter(col("operation") === "migrate").count() >= 2)
  }

  test("time travel to a mid-evolution version reads each layout " +
      "generation, before and after migration converges") {
    val (root, _, ev) = fresh()
    DV.setPartitioning(spark, root, Seq("event_type"))
    DV.append(spark, root, Seq("event_type"), ev.limit(70)
      .withColumn("event_id", col("event_id") + 9000000L))
    val vMid = Snapshots.latestVersion(spark, DV.manifestTable(root)).get
    val cols = DV.read(spark, root).columns.toSeq.map(col)
    val recorded = DV.read(spark, root).select(cols: _*).localCheckpoint()
    assert(recorded.count() == 470)
    def same(a: DataFrame, b: DataFrame): Boolean =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

    var rounds = 0
    while (DV.migrateLayout(spark, root).nonEmpty) {
      rounds += 1
      assert(rounds < 5, "migration must converge")
    }
    assert(DV.manifest(spark, root).collect().map(_.getString(0))
      .forall(!_.contains("/day=")), "no old-layout file may stay live")
    // no delete after vMid: tombstones would apply retroactively
    val back = DV.readVersion(spark, root, vMid).select(cols: _*)
    assert(same(back, recorded))
    // day is a path value in the old generation and a data column in
    // the new one; event_type the reverse
    val d = ev.select("day").orderBy("day").head().getString(0)
    assert(same(back.filter(col("day") === d),
      recorded.filter(col("day") === d)))
    val t = ev.select("event_type").orderBy("event_type").head().getString(0)
    assert(same(back.filter(col("event_type") === t),
      recorded.filter(col("event_type") === t)))
  }
}
