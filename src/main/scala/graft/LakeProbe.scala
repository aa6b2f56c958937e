package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{DeletionVectors => DV, Erasure, SkippingIndex, TextOps}
import graft.sources.Tables

/** Scaling-evidence probe for the round-9 lakehouse operators, built
  * on DETERMINISTIC metrics (bytes written, files read) rather than
  * wall clock — the round-8 lesson that local wall under host
  * contention is noise but byte/file counts reproduce exactly.
  *
  * Probe A — deletion vectors vs partition rewrite. Same sink, same
  * SCATTERED 1%-of-users victim set, two deletion mechanisms:
  *  - [[Erasure.erase]] rewrites every victim-bearing partition; with
  *    scattered victims that is ~every partition, so bytes-rewritten
  *    tracks TABLE size;
  *  - [[DV.delete]] appends (file, pos) tombstones, so bytes-written
  *    tracks VICTIM count.
  * The claim a 100 TB table cares about: rewrite cost is
  * O(table bytes) while DV cost is O(deleted rows), at every scale.
  *
  * Probe B — file-skipping index. Scaled lineitem scattered into more
  * files (files grow with data, like a real sink), fixed 5-key probe:
  * candidate-file fraction FALLS as the table grows (true hits are
  * bounded by probe rows; false positives are fpp-bounded per file),
  * so the skipped fraction approaches 100% — skipping IMPROVES with
  * scale while a full scan grows linearly.
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_PROBE_SCALE
  * (replica count, default 10), SPARK_GRAFT_PROBE_REUSE=1 (keep
  * existing scaled dirs — the round-8 probe-hygiene rule: rebuild
  * once, measure on a quiet host).
  */
object LakeProbe {

  private def dirBytes(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (!f.exists()) 0L
      else if (f.isDirectory) f.listFiles().map(walk).sum
      // .parquet = data/manifest payloads; .dv = per-file tombstone
      // blobs (the round-10 sidecar layout)
      else if (f.getName.endsWith(".parquet") ||
        f.getName.endsWith(".dv")) f.length()
      else 0L
    walk(new java.io.File(path))
  }

  private def mb(b: Long) = f"${b / 1024.0 / 1024.0}%.2fMB"

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val scale = sys.env.getOrElse("SPARK_GRAFT_PROBE_SCALE", "10").toInt
    val reuse = sys.env.get("SPARK_GRAFT_PROBE_REUSE").contains("1")
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tmp = System.getProperty("java.io.tmpdir")

    // ---- scaled inputs: replicas with disjoint id spaces ----------
    val evScaled = s"$tmp/graft_lakeprobe_events_$scale"
    if (!reuse || !new java.io.File(evScaled).exists()) {
      val ev = Tables.events(spark, sfDir)
      val uidOff = 10000000L
      Seq.tabulate(scale) { r =>
        ev.withColumn("user_id", col("user_id") + lit(r * uidOff))
          .withColumn("event_id", col("event_id") + lit(r * uidOff))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(evScaled)
    }
    val liScaled = s"$tmp/graft_lakeprobe_lineitem_$scale"
    if (!reuse || !new java.io.File(liScaled).exists()) {
      val li = Tables.lineitem(spark, sfDir)
      val okOff = 100000000L
      Seq.tabulate(scale) { r =>
        li.withColumn("l_orderkey", col("l_orderkey") + lit(r * okOff))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(liScaled)
    }

    // ---- probe A: DV vs rewrite, 1x and scale-x -------------------
    def probeDv(tag: String, events: DataFrame): Unit = {
      // materialized once: both timed paths broadcast the same tiny
      // list, so neither pays the victim-derivation shuffle inside
      // its timing window
      val victims = events.select(col("user_id")).distinct()
        .filter(TextOps.h60(
          concat(lit("probe_"), col("user_id").cast("string"))) % 100 === 0)
        .localCheckpoint()
      val nVictimRows = events.join(
        broadcast(victims), Seq("user_id"), "left_semi").count()

      // rewrite path
      val ePath = s"$tmp/graft_lakeprobe_erase_$tag"
      val withDay = events
        .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      withDay.write.mode("overwrite").partitionBy("day").parquet(ePath)
      val sinkBytes = dirBytes(ePath)
      val nParts = new java.io.File(ePath).listFiles()
        .count(f => f.isDirectory && f.getName.startsWith("day="))
      val t0 = System.nanoTime()
      val affected = Erasure.erase(spark, ePath, "day", "user_id", victims)
      val tErase = (System.nanoTime() - t0) / 1e9
      val rewrittenBytes = affected.map(d =>
        dirBytes(s"$ePath/day=$d")).sum

      // DV path
      val dPath = s"$tmp/graft_lakeprobe_dv_$tag"
      DV.init(spark, withDay, dPath, "day")
      // untimed warmup (probe C's rule): first scan over the
      // just-written files pays footer reads + codegen compilation
      // that neither deletion mechanism owns
      DV.read(spark, dPath).count(): Unit
      val t1 = System.nanoTime()
      val marked = DV.delete(spark, dPath, "user_id", victims)
      val tDv = (System.nanoTime() - t1) / 1e9
      val dvBytes = dirBytes(DV.dvDir(dPath))

      println(f"[lakeprobe] dv/$tag: sink=${mb(sinkBytes)} parts=$nParts " +
        f"victimRows=$nVictimRows (${100.0 * nVictimRows / events.count()}%.1f%%)")
      println(f"[lakeprobe] dv/$tag: REWRITE touched ${affected.size}/$nParts " +
        f"partitions, ~${mb(rewrittenBytes)} rewritten, $tErase%.2fs")
      println(f"[lakeprobe] dv/$tag: DV marked $marked rows, " +
        f"${mb(dvBytes)} sidecar written, $tDv%.2fs " +
        f"(bytes ratio rewrite/dv = ${rewrittenBytes.toDouble / dvBytes}%.0fx)")
    }

    probeDv("1x", Tables.events(spark, sfDir))
    probeDv(s"${scale}x", spark.read.parquet(evScaled))

    // ---- probe B: file-skipping index, 1x and scale-x -------------
    def probeIdx(tag: String, li: DataFrame, nFiles: Int): Unit = {
      val data = s"$tmp/graft_lakeprobe_ipl_data_${tag}_$nFiles"
      val idx = s"$tmp/graft_lakeprobe_ipl_idx_${tag}_$nFiles"
      if (!reuse || !new java.io.File(data).exists()) {
        li.select("l_orderkey", "l_linenumber", "l_quantity")
          .repartition(nFiles, xxhash64(col("l_orderkey"), col("l_linenumber")))
          .write.mode("overwrite").parquet(data)
        SkippingIndex.build(spark, data, idx, "l_orderkey")
      }
      val keys = li.select(col("l_orderkey")).distinct()
        .filter(TextOps.h60(
          concat(lit("ipl_"), col("l_orderkey").cast("string"))) % 19 === 0)
        .orderBy(col("l_orderkey")).limit(5)
        .collect().map(_.getLong(0)).toSeq
      val t0 = System.nanoTime()
      val (res, cands, total) = SkippingIndex.lookup(
        spark, data, idx, "l_orderkey", keys)
      val rows = res.count()
      val tLookup = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val fullRows = spark.read.parquet(data)
        .filter(col("l_orderkey").isin(keys: _*)).count()
      val tFull = (System.nanoTime() - t1) / 1e9
      require(rows == fullRows, s"lookup $rows != full-scan $fullRows")
      println(f"[lakeprobe] idx/$tag: $nFiles files, data=${mb(dirBytes(data))} " +
        f"sidecar=${mb(dirBytes(idx))}, candidates=${cands.size}/$total " +
        f"(${100.0 * (total - cands.size) / total}%.1f%% skipped), " +
        f"$rows rows, lookup $tLookup%.2fs vs full-scan $tFull%.2fs")
    }

    probeIdx("1x", Tables.lineitem(spark, sfDir), 32)
    probeIdx(s"${scale}x", spark.read.parquet(liScaled), 32 * scale)

    // ---- probe C: masked-read cost is per-PROBED-file, ------------
    // not per-sidecar (the round-10 read-path claim)
    //
    // The round-9 reader broadcast the WHOLE tombstone sidecar into an
    // anti-join on every masked read — read cost tracked TOTAL
    // tombstone volume. The round-10 reader resolves tombstones
    // per file inside the scan tasks, so a partition-pruned read pays
    // only for the tombstones of the files it actually opens. The
    // probe: fix one day's masked read, then grow the OTHER days'
    // tombstones ~50x — the probed day's resolvable tombstones are
    // byte-identical (deterministic metric) and the read's wall clock
    // must stay flat instead of tracking the sidecar.
    {
      val dPath = s"$tmp/graft_lakeprobe_dvread"
      val withDay = Tables.events(spark, sfDir)
        .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      DV.init(spark, withDay, dPath, "day")
      val day = withDay.groupBy("day").count()
        .orderBy(desc("count"), asc("day")).first().getString(0)
      def liveFiles() = DV.manifest(spark, dPath).select("file")
        .collect().map(_.getString(0)).toSeq
      def tombs(files: Seq[String]) =
        files.map(f => graft.operators.DvBlobs.tombstoneCount(dPath, f)).sum
      def probedFiles() = liveFiles().filter(_.contains(s"day=$day"))
      def timeProbe(): (Double, Long) = {
        val runs = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          val n = DV.read(spark, dPath).filter(col("day") === day)
            .agg(count(lit(1)), sum(col("value"))).head().getLong(0)
          ((System.nanoTime() - t0) / 1e9, n)
        }
        (runs.map(_._1).min, runs.head._2)
      }

      // phase 1: scattered 1%-of-users delete (probe day included)
      DV.delete(spark, dPath, "user_id",
        withDay.select(col("user_id")).distinct()
          .filter(TextOps.h60(concat(lit("probe_"),
            col("user_id").cast("string"))) % 100 === 0))
      timeProbe() // codegen/footer warmup outside the timed window
      val (tSmall, rowsSmall) = timeProbe()
      val (probedSmall, totalSmall) = (tombs(probedFiles()), tombs(liveFiles()))

      // phase 2: tombstone HALF of every OTHER day's rows (event_id
      // is day-local, so the probed day's blob dirs are untouched)
      DV.delete(spark, dPath, "event_id",
        withDay.filter(col("day") =!= day)
          .filter(col("event_id") % 2 === 0).select(col("event_id")))
      val (tBig, rowsBig) = timeProbe()
      val (probedBig, totalBig) = (tombs(probedFiles()), tombs(liveFiles()))

      require(rowsBig == rowsSmall,
        s"probe-day rows changed: $rowsSmall -> $rowsBig")
      require(probedBig == probedSmall,
        s"probe-day tombstones changed: $probedSmall -> $probedBig")
      println(f"[lakeprobe] dvread: sidecar grew $totalSmall -> $totalBig " +
        f"tombstones (${totalBig.toDouble / totalSmall}%.1fx); probed-day " +
        f"tombstones flat at $probedSmall; masked day-read " +
        f"$tSmall%.2fs -> $tBig%.2fs (${tBig / tSmall}%.2fx wall)")

      // phase 3: K more delete rounds pile K more blobs onto every
      // file; compaction folds each dir to ONE blob with the position
      // set (and so the mask, and the read) byte-identical
      for (r <- 0 to 3)
        DV.delete(spark, dPath, "event_id",
          withDay.filter(col("event_id") % 7 === r).select(col("event_id")))
      def blobCounts() = liveFiles().map(f =>
        graft.operators.DvBlobs.listDeltas(dPath, f).size)
      val (blobsBefore, tombsBefore) = (blobCounts().sum, tombs(liveFiles()))
      val (tMany, rowsMany) = timeProbe()
      val (dirs, inputs) = DV.compactBlobs(spark, dPath)
      val (blobsAfter, tombsAfter) = (blobCounts().sum, tombs(liveFiles()))
      val (tOne, rowsOne) = timeProbe()
      require(rowsOne == rowsMany,
        s"compaction changed the masked read: $rowsMany -> $rowsOne")
      require(tombsAfter == tombsBefore,
        s"compaction changed tombstone counts: $tombsBefore -> $tombsAfter")
      println(f"[lakeprobe] dvcompact: $blobsBefore blobs " +
        f"($tombsBefore tombstones) -> $blobsAfter blobs after folding " +
        f"$inputs inputs across $dirs dirs; masked day-read " +
        f"$tMany%.2fs -> $tOne%.2fs")
    }

    // ---- probe D: lazy manifest pruning at a 100k-file manifest ----
    // What the driver MATERIALIZES under filters (round-10 ceiling:
    // every read collected the full manifest before any pruning). The
    // manifest rows are synthetic phantom files — listFiles is pure
    // manifest math until a scan opens data, so this measures exactly
    // the driver-side planning cost at a file count no local fixture
    // could write for real.
    {
      import org.apache.spark.sql.GraftDvApi
      import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, GreaterThanOrEqual, LessThanOrEqual, Literal}
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      import org.apache.spark.unsafe.types.UTF8String
      import graft.operators.Snapshots

      val nFiles = 100000
      val nDays = 200
      val mroot = s"$tmp/graft_lakeprobe_manifest"
      val f = new org.apache.hadoop.fs.Path(mroot)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      f.delete(new org.apache.hadoop.fs.Path(mroot), true)
      val rows = spark.range(nFiles).selectExpr(
        s"concat('file:/probe/data/day=', lpad(cast(id % $nDays as string), 3, '0'), '/part-', cast(id as string), '.parquet') as file",
        "cast(1000 as bigint) as rows", "cast(1048576 as bigint) as bytes",
        s"array(lpad(cast(id % $nDays as string), 3, '0')) as part_values",
        "map('seq', cast(id * 1000 as string)) as smin",
        "map('seq', cast(id * 1000 + 999 as string)) as smax",
        "cast(-1 as bigint) as cdc_batch",
        "cast(null as string) as schema_json",
        "cast(null as string) as part_cols",
        "cast(null as string) as stats_cols")
      Snapshots.publish(spark, s"$mroot/_manifest", rows)
      val idx = new GraftDvApi.LazyManifestFileIndex(spark,
        new org.apache.hadoop.fs.Path("file:/probe/data"),
        s"$mroot/_manifest/v=1", Seq("day"),
        StructType(Seq(StructField("seq", LongType))), 0L)

      def timed[A](body: => A): (Double, A) = {
        val t0 = System.nanoTime()
        val a = body
        ((System.nanoTime() - t0) / 1e9, a)
      }
      timed(idx.survivors(Nil, Nil)) // footer/codegen warmup
      val (tFull, full) = timed(idx.survivors(Nil, Nil))
      val dayF = EqualTo(AttributeReference("day", StringType)(),
        Literal(UTF8String.fromString("007"), StringType))
      val (tDay, day) = timed(idx.survivors(Seq(dayF), Nil))
      val seqA = AttributeReference("seq", LongType)()
      val (tSeq, seq) = timed(idx.survivors(Nil, Seq(
        GreaterThanOrEqual(seqA, Literal(50000000L)),
        LessThanOrEqual(seqA, Literal(50099999L)))))
      require(full.size == nFiles && day.size == nFiles / nDays,
        s"pruning math wrong: full=${full.size} day=${day.size}")
      require(seq.size <= 101, s"stats pruning too weak: ${seq.size}")
      println(f"[lakeprobe] manifestprune: ${full.size} entries " +
        f"($tFull%.2fs) full; day-filter materializes ${day.size} " +
        f"($tDay%.2fs); stats-range materializes ${seq.size} " +
        f"($tSeq%.2fs) — driver holdings track the PRUNED set")
    }

    // ---- probe E: change-feed cost tracks TOUCHED files, not table --
    // The CDF scale claim: a feed step reads (added ∪ removed) files
    // only, so a fixed-size CDC batch's feed step costs the same
    // whether the table is 1x or scale-x. Deterministic metric: the
    // feed plan's input files; wall clock as supporting evidence.
    {
      import graft.operators.{DeletionVectors => DV, Snapshots}
      def probeCdf(tag: String, events: DataFrame): (Long, Double, Long) = {
        val root = s"$tmp/graft_lakeprobe_cdf_$tag"
        val withDay = events
          .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
        DV.init(spark, withDay, root, "day")
        val v1 = Snapshots.latestVersion(
          spark, DV.manifestTable(root)).get
        // fixed-size batch regardless of table scale: 2000 updates
        val batch = withDay.orderBy("event_id").limit(2000)
          .withColumn("value", col("value") * 2)
        DV.upsert(spark, root, "day", "event_id", batch)
        val v2 = Snapshots.latestVersion(
          spark, DV.manifestTable(root)).get
        val feed = DV.readChanges(spark, root, v1, v2)
        feed.count(): Unit // codegen/footer warmup
        val t0 = System.nanoTime()
        val n = feed.count()
        val t = (System.nanoTime() - t0) / 1e9
        val filesRead = feed.queryExecution.analyzed.collect {
          case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            l.relation.asInstanceOf[
              org.apache.spark.sql.execution.datasources.HadoopFsRelation]
              .location.inputFiles.length.toLong
        }.sum
        val total = DV.manifest(spark, root).count()
        println(f"[lakeprobe] cdf/$tag: table=$total%d files; feed step " +
          f"reads $filesRead files, $n rows, $t%.2fs")
        (filesRead, t, total)
      }
      val (f1, t1, n1) = probeCdf("1x", Tables.events(spark, sfDir))
      val (fx, tx, nx) = probeCdf(s"${scale}x", spark.read.parquet(evScaled))
      require(nx > n1, "scaled table must carry more live files")
      require(fx <= f1 * 3,
        s"feed step's input files grew with the table: $f1 -> $fx")
      println(f"[lakeprobe] cdf: table files $n1 -> $nx " +
        f"(${nx.toDouble / n1}%.1fx); feed-step files $f1 -> $fx, " +
        f"wall $t1%.2fs -> $tx%.2fs — step cost tracks the BATCH")
    }

    // ---- probe F: RESTORE moves zero data bytes; DESCRIBE HISTORY ----
    // is manifest-scale. The restore claim: flipping a table of ANY
    // size back to an old version is one manifest write — the data
    // directory is byte-identical before and after (deterministic
    // metric), and the wall tracks the MANIFEST row count, never the
    // data volume (a copy-based restore would move the table).
    {
      import graft.operators.{DeletionVectors => DV}
      def probeRestore(tag: String, events: DataFrame): Unit = {
        val root = s"$tmp/graft_lakeprobe_restore_$tag"
        val withDay = events
          .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
        DV.init(spark, withDay, root, "day")
        DV.append(spark, root, Seq("day"), withDay.orderBy("event_id")
          .limit(1000).withColumn("event_id",
            col("event_id") + 900000000L))
        val dataBytes = dirBytes(s"$root/data")
        val t0 = System.nanoTime()
        val nv = DV.restore(spark, root, 1L)
        val tRestore = (System.nanoTime() - t0) / 1e9
        require(dirBytes(s"$root/data") == dataBytes,
          "restore must not move a single data byte")
        val t1 = System.nanoTime()
        val hist = DV.history(spark, root).collect()
        val tHist = (System.nanoTime() - t1) / 1e9
        require(hist.map(_.getString(2)).toSeq ==
          Seq("init", "append", "restore"), "history verbs wrong")
        val files = DV.manifest(spark, root).count()
        println(f"[lakeprobe] restore/$tag: ${mb(dataBytes)} data, " +
          f"$files%d live files; restore -> v$nv in $tRestore%.2fs " +
          f"(0 data bytes moved); DESCRIBE HISTORY " +
          f"(${hist.length} versions) $tHist%.2fs")
      }
      probeRestore("1x", Tables.events(spark, sfDir))
      probeRestore(s"${scale}x", spark.read.parquet(evScaled))
    }

    // ---- probe G: ZORDER buys entry-tier skipping at scale ----------
    // The layout-rewrite claim, measured: on a hash-scattered table a
    // range probe's manifest-stats survivors == ALL files (nothing to
    // skip); after OPTIMIZE ZORDER the survivors track the PROBE's
    // selectivity, and the skipped FRACTION holds as the table scales
    // (deterministic metric: survivor counts from the lazy index; the
    // rewrite wall scales with live bytes — the explicitly-purchased
    // cost).
    {
      import graft.operators.{DeletionVectors => DV}
      import org.apache.spark.sql.GraftPlanApi
      import org.apache.spark.sql.catalyst.expressions.{AttributeReference, GreaterThanOrEqual, LessThanOrEqual, Literal}
      def probeZ(tag: String, events: DataFrame): Unit = {
        val root = s"$tmp/graft_lakeprobe_zorder_$tag"
        val ev = events.repartition(32)
        DV.init(spark, ev, root, Seq("event_type"),
          statsCols = Seq("user_id"))
        def survivors(): (Int, Int) = {
          val rd = DV.read(spark, root)
          val idx = GraftPlanApi.analyzed(rd).collectFirst {
            case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
              l.relation.asInstanceOf[
                org.apache.spark.sql.execution.datasources.HadoopFsRelation]
                .location
          }.get.asInstanceOf[
            org.apache.spark.sql.GraftDvApi.LazyManifestFileIndex]
          val b = events.agg(min("user_id"), max("user_id")).head()
          val (lo0, hi0) = (b.getLong(0), b.getLong(1))
          val (lo, hi) = (lo0 + (hi0 - lo0) * 49 / 100,
            lo0 + (hi0 - lo0) * 51 / 100)
          val a = AttributeReference("user_id",
            org.apache.spark.sql.types.LongType)()
          (idx.survivors(Nil, Seq(GreaterThanOrEqual(a, Literal(lo)),
            LessThanOrEqual(a, Literal(hi)))).size,
            idx.survivors(Nil, Nil).size)
        }
        val (hitB, totB) = survivors()
        val t0 = System.nanoTime()
        DV.zorder(spark, root, Seq("user_id")): Unit
        val tZ = (System.nanoTime() - t0) / 1e9
        val (hitA, totA) = survivors()
        require(hitB == totB, s"scattered layout must be unprunable")
        require(hitA < totA, s"zorder must make the probe prunable")
        println(f"[lakeprobe] zorder/$tag: before $hitB/$totB files " +
          f"survive the 2%% range probe; rewrite $tZ%.2fs; after " +
          f"$hitA/$totA (${100.0 * (totA - hitA) / totA}%.0f%% skipped)")

        // INCREMENTAL leg (round 14, the liquid shape): a scattered
        // CDC sliver lands post-zorder, degrading the skip fraction
        // (its files span the full key range); INCREMENTAL ZORDER
        // re-clusters ONLY the sliver — previously-clustered files
        // byte-identical, skip fraction back at the full-rewrite
        // level, wall tracks the INCREMENT's bytes, not the table's.
        val clustered = DV.manifest(spark, root).select("file")
          .collect().map(_.getString(0)).toSet
        DV.append(spark, root, Seq("event_type"),
          events.sample(0.12, seed = 7)
            .withColumn("event_id",
              org.apache.spark.sql.functions.col("event_id") +
                org.apache.spark.sql.functions.lit(7000000000L))
            .repartition(8)): Unit
        val (hitS, totS) = survivors()
        val t1i = System.nanoTime()
        val rewritten = DV.zorder(spark, root, Seq("user_id"),
          incremental = true).size
        val tI = (System.nanoTime() - t1i) / 1e9
        val (hitI, totI) = survivors()
        val liveNow = DV.manifest(spark, root).select("file")
          .collect().map(_.getString(0)).toSet
        require(clustered.subsetOf(liveNow),
          "incremental zorder must not touch previously-clustered files")
        val fracFull = 1.0 * (totA - hitA) / totA
        val fracInc = 1.0 * (totI - hitI) / totI
        require(fracInc >= fracFull - 0.10,
          f"incremental pass must maintain the skip fraction " +
            f"($fracInc%.2f vs full-rewrite $fracFull%.2f)")
        println(f"[lakeprobe] zorder-incremental/$tag: sliver degraded " +
          f"survivors to $hitS/$totS; incremental rewrote " +
          f"$rewritten%d files in $tI%.2fs (full rewrite was $tZ%.2fs); " +
          f"after $hitI/$totI (${100.0 * fracInc}%.0f%% skipped vs " +
          f"${100.0 * fracFull}%.0f%% full); clustered files untouched")
      }
      probeZ("1x", Tables.events(spark, sfDir))
      probeZ(s"${scale}x", spark.read.parquet(evScaled))
    }

    // ---- probe H: SQL MERGE writes O(batch), never O(table) ---------
    // The merge-on-read claim for the DSv2 row-level path: a
    // FIXED-size MERGE against a growing table writes a fixed byte
    // volume — tombstone blobs + appended image files track the
    // BATCH; only the classification scan grows with the table (scan
    // throughput, not rewrite amplification — a copy-on-write merge
    // would rewrite every touched partition). Deterministic metric:
    // data-dir byte GROWTH and blob bytes; wall as supporting
    // evidence.
    {
      import graft.operators.{DeletionVectors => DV}
      graft.plans.GraftPlans.ensureDvCatalog(spark)
      def probeMerge(tag: String, events: DataFrame): (Long, Double) = {
        val root = s"$tmp/graft_lakeprobe_merge_$tag"
        val withDay = events
          .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
        DV.init(spark, withDay, root, "day")
        val before = dirBytes(s"$root/data")
        // fixed batch regardless of table scale: 2000 updates + 500
        // inserts, driven through Spark's own MERGE rewrite
        withDay.orderBy("event_id").limit(2000)
          .withColumn("value", col("value") + 1)
          .unionByName(withDay.orderBy(desc("event_id")).limit(500)
            .withColumn("event_id", col("event_id") + 900000000L))
          .localCheckpoint()
          .createOrReplaceTempView("lakeprobe_merge_src")
        val t0 = System.nanoTime()
        spark.sql(
          s"""MERGE INTO graftdv.`$root` t USING lakeprobe_merge_src s
             |ON t.event_id = s.event_id
             |WHEN MATCHED THEN UPDATE SET *
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
        val tM = (System.nanoTime() - t0) / 1e9
        val written = dirBytes(s"$root/data") - before +
          dirBytes(s"$root/_dv")
        val total = dirBytes(s"$root/data")
        println(f"[lakeprobe] merge/$tag: table=${mb(total)} " +
          f"wrote ${mb(written)} (images+blobs) in $tM%.2fs")
        (written, tM)
      }
      val (w1, t1) = probeMerge("1x", Tables.events(spark, sfDir))
      val (wx, tx) = probeMerge(s"${scale}x", spark.read.parquet(evScaled))
      require(wx <= w1 * 3,
        s"merge write volume grew with the TABLE: $w1 -> $wx bytes")
      println(f"[lakeprobe] merge: fixed 2500-row batch; bytes written " +
        f"$w1 -> $wx (${wx.toDouble / math.max(w1, 1)}%.2fx) under a " +
        f"${scale}x table; wall $t1%.2fs -> $tx%.2fs (scan-bound, " +
        "zero rewrite amplification)")

      // the other direction: 10x/100x BATCHES against a FIXED table —
      // cost (bytes written, wall) must track the batch
      def probeBatch(n: Int): (Long, Double) = {
        val root = s"$tmp/graft_lakeprobe_mbatch_$n"
        val withDay = Tables.events(spark, sfDir)
          .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
        DV.init(spark, withDay, root, "day")
        val before = dirBytes(s"$root/data")
        withDay.orderBy("event_id").limit(n)
          .withColumn("value", col("value") + 1)
          .localCheckpoint()
          .createOrReplaceTempView("lakeprobe_merge_bsrc")
        val t0 = System.nanoTime()
        spark.sql(
          s"""MERGE INTO graftdv.`$root` t USING lakeprobe_merge_bsrc s
             |ON t.event_id = s.event_id
             |WHEN MATCHED THEN UPDATE SET *
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
        val tM = (System.nanoTime() - t0) / 1e9
        val written = dirBytes(s"$root/data") - before +
          dirBytes(s"$root/_dv")
        println(f"[lakeprobe] merge/batch=$n%d: wrote ${mb(written)} " +
          f"in $tM%.2fs")
        (written, tM)
      }
      val (b1, _) = probeBatch(500)
      val (b10, _) = probeBatch(5000)
      val (b100, t100) = probeBatch(50000)
      require(b100 <= b1 * 300,
        s"100x batch wrote ${b100.toDouble / b1}x the bytes — super-" +
          "linear in the batch")
      println(f"[lakeprobe] merge batches 500/5k/50k: bytes " +
        f"${mb(b1)}/${mb(b10)}/${mb(b100)} " +
        f"(${b10.toDouble / b1}%.1fx, ${b100.toDouble / b1}%.1fx vs " +
        f"10x/100x rows), 50k wall $t100%.2fs — O(batch), not O(table)")
    }

    // ---- probe I: partition evolution — migration tracks the SCOPE --
    // The evolution claim: SET PARTITIONING moves zero bytes at any
    // table size, the mixed-generation read serves both layouts, and
    // a SCOPED migration rewrites exactly the in-scope old-generation
    // files — O(scoped partition), never O(table).
    {
      import graft.operators.{DeletionVectors => DV}
      def probeEvo(tag: String, events: DataFrame): Unit = {
        val root = s"$tmp/graft_lakeprobe_evo_$tag"
        val withDay = events
          .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
        DV.init(spark, withDay, root, "day")
        val bytesBefore = dirBytes(s"$root/data")
        val t0 = System.nanoTime()
        DV.setPartitioning(spark, root, Seq("event_type"))
        val tEvo = (System.nanoTime() - t0) / 1e9
        require(dirBytes(s"$root/data") == bytesBefore,
          "evolution must move zero data bytes")
        DV.append(spark, root, Seq("event_type"),
          withDay.orderBy("event_id").limit(2000)
            .withColumn("event_id", col("event_id") + 950000000L))
        val n = DV.read(spark, root).count() // mixed-generation read
        val oldFiles = DV.manifest(spark, root).collect()
          .map(_.getString(0)).filter(_.contains("/day="))
        val days = oldFiles.map(_.split("/day=")(1).take(10))
          .distinct.sorted
        val d = days(days.length / 2)
        val expected = oldFiles.count(_.contains(s"/day=$d"))
        val t1 = System.nanoTime()
        val moved = DV.migrateLayout(spark, root, Some(s"day = '$d'"))
        val tMig = (System.nanoTime() - t1) / 1e9
        require(moved.size == expected,
          s"scoped migrate moved ${moved.size}, expected $expected")
        require(moved.size <= oldFiles.length / 5,
          "scope must bound the rewrite well under the table")
        println(f"[lakeprobe] evo/$tag: evolve $tEvo%.2fs (0 bytes); " +
          f"mixed read $n%d rows; scoped migrate day=$d moved " +
          f"${moved.size}/${oldFiles.length} old files in $tMig%.2fs " +
          "(O(scoped partition))")
      }
      probeEvo("1x", Tables.events(spark, sfDir))
      probeEvo(s"${scale}x", spark.read.parquet(evScaled))
    }

    // ---- probe J: column mapping is O(1); transparent skipping ------
    // The round-13 claims: RENAME COLUMN moves zero data bytes at any
    // table size (one sentinel flip — the frozen-physical-name
    // design), the mapped read serves exact content, and a PLAIN SQL
    // point predicate on the indexed key scans only the sidecar's
    // candidate files — the skipped fraction holding as the table
    // scales (per-file blooms: candidates track the PROBE, never the
    // table).
    {
      import graft.operators.{DeletionVectors => DV}
      def probeMap(tag: String, events: DataFrame): Unit = {
        val root = s"$tmp/graft_lakeprobe_map_$tag"
        val withDay = events
          .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
        DV.init(spark, withDay, root, "day")
        val want = withDay.count()
        val bytesBefore = dirBytes(s"$root/data")
        val t0 = System.nanoTime()
        DV.alterRenameColumn(spark, root, "value", "amount"): Unit
        val tRen = (System.nanoTime() - t0) / 1e9
        require(dirBytes(s"$root/data") == bytesBefore,
          "rename must move zero data bytes")
        require(DV.read(spark, root)
            .filter(col("amount").isNotNull).count() == want,
          "the mapped read must serve every row under the new name")
        DV.refreshIndex(spark, root, "event_id"): Unit
        graft.plans.GraftPlans.ensureDvCatalog(spark)
        val key = withDay.orderBy("event_id")
          .select("event_id").head().getLong(0)
        val q = spark.sql(
          s"SELECT amount FROM graftdv.`$root` WHERE event_id = $key")
        val total = DV.manifest(spark, root).count()
        val scanned = q.queryExecution.executedPlan.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec =>
            s.relation.location.listFiles(
                s.partitionFilters.filter(_.references.nonEmpty),
                s.dataFilters)
              .map(_.files.length.toLong).sum
        }.sum
        require(scanned > 0 && scanned <= math.max(2L, total / 5),
          s"transparent skipping must bound the scan ($scanned/$total)")
        require(q.count() >= 1, "the needle must come back")
        println(f"[lakeprobe] map/$tag: rename $tRen%.2fs (0 bytes, " +
          f"$total%d files untouched); plain SQL point lookup scans " +
          f"$scanned%d/$total%d files (transparent sidecar pruning)")
      }
      probeMap("1x", Tables.events(spark, sfDir))
      probeMap(s"${scale}x", spark.read.parquet(evScaled))
    }

    // ---- probe K: 100k-version log — checkpointed resolution --------
    // The round-14 claim: a 1-version-per-batch CDC stream mints ~100k
    // versions/year, and WITHOUT a checkpoint every latestVersion /
    // versionAsOf / history resolution lists 100k marker names. The
    // commit-log checkpoint folds the committed index into ONE file
    // (two-phase cleanup), so resolution cost tracks versions SINCE
    // the last fold, not versions ever. Deterministic metric: marker
    // names listed per resolution; wall as supporting evidence.
    {
      import graft.operators.Snapshots
      val t = s"$tmp/graft_lakeprobe_logckpt/t"
      val f = new org.apache.hadoop.fs.Path(t)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      f.delete(new org.apache.hadoop.fs.Path(
        s"$tmp/graft_lakeprobe_logckpt"), true)
      val N = 100000L
      val t0 = System.nanoTime()
      (1L to N).foreach(v => Snapshots.tryCommit(spark, t, v))
      val tMint = (System.nanoTime() - t0) / 1e9
      def listedNames: Long =
        f.listStatus(new org.apache.hadoop.fs.Path(s"$t/_commits"))
          .count(_.getPath.getName.forall(_.isDigit)).toLong
      def timeResolve(reps: Int, tip: Long): Double = {
        val s = System.nanoTime()
        var i = 0
        while (i < reps) {
          require(Snapshots.latestVersion(spark, t).contains(tip))
          i += 1
        }
        (System.nanoTime() - s) / 1e9 / reps
      }
      val namesBefore = listedNames
      val tBefore = timeResolve(5, N)
      val tF1 = System.nanoTime()
      require(Snapshots.checkpointLog(spark, t), "fold 1 must run")
      // the two-phase rule: fold 1 deletes nothing; mint past it and
      // fold again so the first fold's coverage becomes reclaimable
      ((N + 1) to (N + 70)).foreach(v => Snapshots.tryCommit(spark, t, v))
      require(Snapshots.checkpointLog(spark, t), "fold 2 must run")
      val tFold = (System.nanoTime() - tF1) / 1e9
      val namesAfter = listedNames
      val tAfter = timeResolve(5, N + 70)
      require(Snapshots.latestVersion(spark, t).contains(N + 70))
      require(Snapshots.committedVersions(spark, t).size == N + 70,
        "every version must still resolve after the folds")
      require(Snapshots.versionAsOf(spark, t,
        System.currentTimeMillis()).contains(N + 70))
      require(namesAfter < 100,
        s"listing must shrink to O(since-last-fold): $namesAfter names")
      println(f"[lakeprobe] logckpt: $N%d-version log minted in " +
        f"$tMint%.1fs; resolution listed $namesBefore%d names in " +
        f"$tBefore%.3fs/op before, $namesAfter%d names in " +
        f"$tAfter%.3fs/op after two folds ($tFold%.1fs, one-time); " +
        "history/time-travel answers unchanged")
    }

    spark.stop()
  }
}
