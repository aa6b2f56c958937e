package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, GraftDvApi, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Row-level deletes WITHOUT partition rewrite: positional deletion
  * vectors over an immutable parquet sink, the Iceberg v2 /
  * Delta-deletion-vector design that [[Erasure]]'s partition-rewrite
  * form deliberately does not cover.
  *
  * Why a second deletion operator: [[Erasure.erase]] costs O(affected
  * PARTITIONS) — right when victims cluster into few partitions, but a
  * 100 TB sink whose victims scatter (one user's rows across every
  * day) degrades to a near-full rewrite. A deletion vector instead
  * records per-file row-position tombstones in a sidecar and applies
  * them at read; the delete writes O(deleted ROWS) bytes, touching no
  * data file. [[purge]] bounds read-side masking work by rewriting any
  * file whose deleted fraction crosses a threshold — write
  * amplification is deferred, batched, and capped.
  *
  * Layout (all under one table root):
  * {{{
  *   t/data/day=D/part-N.parquet     immutable data files (never edited)
  *   t/_dv/f=<md5(file)>/delta-*.dv  per-FILE append-only tombstone
  *                                   blobs ([[DvBlobs]])
  *   t/_manifest/v=N + markers       LIVE FILE SET per version
  *                                   ([[Snapshots]] CAS protocol)
  *   t/_maint                        maintenance claim (purge/vacuum
  *                                   mutual exclusion + delete fencing)
  * }}}
  *
  * == Read path (the 100 TB-real shape, round 10) ==
  *
  * The manifest feeds a [[org.apache.spark.sql.GraftDvApi
  * .ManifestFileIndex]] — Spark's parquet source scans EXACTLY the
  * committed files (no directory listing, no driver file-literal
  * plan, partition pruning evaluated on manifest metadata) — and the
  * tombstone mask is the codegen'd [[graft.functions.DvAlive]]
  * predicate over the scan's own `_metadata` columns: each task loads
  * O(its files' tombstones) from the per-file blob dirs and binary-
  * searches per row. Nothing is broadcast, nothing is global; masked-
  * read cost tracks the PROBED files' tombstones no matter how large
  * the table's total tombstone volume grows. (Round 9 broadcast the
  * whole (file, pos) sidecar into an anti-join on every read — fine
  * at sf0.1, an OOM at a few billion tombstones.)
  *
  * == Concurrency model (round 10) ==
  *
  * Writers and their coordination, chosen so INGEST (deletes, CDC
  * upserts) and MAINTENANCE (purge, vacuum) coexist without cutover:
  *
  *  - '''deletes''' never touch the manifest and never coordinate:
  *    each appends immutable per-file delta blobs. Racing deletes
  *    double-mark at worst (read-side merge dedupes). Against a
  *    racing purge, [[delete]] FENCES: after writing its deltas it
  *    waits out any in-flight maintenance claim, re-reads the
  *    manifest, and re-marks through the mask if any touched file was
  *    replaced — so a delete that raced a rewrite lands its victims
  *    in the replacement files before returning (closing the round-9
  *    lost-delete race).
  *  - '''upserts''' (one upserting writer at a time — the CDC stream
  *    or a batch client; concurrent upserts to the same key would
  *    both append their image) tombstone via [[delete]] (inheriting
  *    its fencing), append new files invisibly, and commit via
  *    [[Snapshots.publishCas]], REBASING on conflict.
  *  - '''purge/vacuum''' hold the `_maint` claim (mutually exclusive
  *    with each other), stage invisibly, re-validate each hot file's
  *    delta signature after staging (a delete that raced the staging
  *    scan forces a restage), and commit via CAS — a CDC batch
  *    landing mid-purge just makes the purge rebase (upserts only ADD
  *    files, never touch the purge's victims).
  *  - '''manifest writes are all CAS''' ([[Snapshots.publishCas]]):
  *    no manifest writer can silently build on a stale live set.
  *
  * == CDC exactly-once ==
  *
  * The manifest rows carry a `cdc_batch` column (plus one sentinel
  * row so an emptied table still carries it): the highest streaming
  * batch id whose effects are committed. [[applyCdcBatch]] no-ops on
  * `batchId <= max(cdc_batch)` BEFORE touching anything — replay
  * detection rides the manifest commit itself, atomic by
  * construction, with no version arithmetic to corrupt (round 9
  * derived version = base + batchId + 1, which a single racing purge
  * commit would shift into silent false-replay data loss).
  *
  * == Time-travel semantics — pinned, and different from Iceberg's ==
  *
  * Manifests version the FILE SET, but tombstones are global and
  * current — a historical read (old manifest + current blob dirs)
  * applies deletions RETROACTIVELY:
  *  - right-to-be-forgotten composes with time travel: no historical
  *    version ever resurrects a deleted row;
  *  - a pre-upsert manifest read shows updated keys ABSENT (their old
  *    images are tombstoned globally), not at their old values —
  *    row-image history is the SCD2 family's job, not this layer's.
  * DeletionVectorsSpec pins both directions.
  */
object DeletionVectors {

  def dataDir(root: String): String = s"$root/data"
  def dvDir(root: String): String = DvBlobs.dvRoot(root)
  def manifestTable(root: String): String = s"$root/_manifest"
  private def maintMarker(root: String): String = s"$root/_maint"

  /** Sentinel manifest row (file = "") carrying table-level metadata
    * (the CDC high-water mark) through an emptied live set.
    */
  private val Sentinel = ""

  private def hfs(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ---- manifest ----------------------------------------------------

  /** Build manifest rows (file, rows, bytes, cdc_batch, schema_json,
    * part_cols) from a scan's per-file stats. Table-level metadata —
    * the CDC high-water mark AND (round 11) the table's data schema +
    * partition columns — rides the SENTINEL row only, so the schema is
    * versioned atomically with every manifest flip: an append that
    * widens the schema commits rows and schema in ONE CAS, and time
    * travel to an old version reads under that version's own schema.
    * Partition columns are encoded as a StructType's field list (the
    * battle-tested JSON codec; values are string-typed in the file
    * index regardless).
    */
  private def manifestOf(spark: SparkSession, stats: DataFrame,
      cdcBatch: Long, dataSchema: org.apache.spark.sql.types.StructType,
      partCols: Seq[String],
      statsSchema: org.apache.spark.sql.types.StructType,
      op: String): DataFrame = {
    stats.select(col("file"), col("rows"), col("bytes"),
        col("part_values"), col("smin"), col("smax"),
        lit(cdcBatch).as("cdc_batch"),
        lit(null).cast("string").as("cdc_stream"),
        lit(null).cast("string").as("schema_json"),
        lit(null).cast("string").as("part_cols"),
        lit(null).cast("string").as("stats_cols"),
        lit(null).cast("string").as("op"),
        lit(null).cast("map<string,string>").as("constraints"),
        lit(null).cast("string").as("old_layouts"),
        lit(null).cast("map<string,string>").as("col_map"),
        lit(null).cast("string").as("dropped_cols"),
        lit(null).cast("string").as("features"))
      .unionByName(spark.range(1).select(lit(Sentinel).as("file"),
        lit(0L).as("rows"), lit(0L).as("bytes"),
        lit(null).cast("array<string>").as("part_values"),
        lit(null).cast("map<string,string>").as("smin"),
        lit(null).cast("map<string,string>").as("smax"),
        lit(cdcBatch).as("cdc_batch"),
        lit(null).cast("string").as("cdc_stream"),
        lit(dataSchema.json).as("schema_json"),
        lit(partColsJson(partCols)).as("part_cols"),
        lit(statsSchema.json).as("stats_cols"),
        lit(op).as("op"),
        lit(null).cast("map<string,string>").as("constraints"),
        lit(null).cast("string").as("old_layouts"),
        lit(null).cast("map<string,string>").as("col_map"),
        lit(null).cast("string").as("dropped_cols"),
        lit(null).cast("string").as("features")))
  }

  /** Stamp `op` onto the sentinel row of a next-manifest frame (and
    * null it on file rows — the operation belongs to the VERSION, so
    * carried-forward sentinels must not leak the previous commit's
    * verb into this one's history line).
    */
  private def withSentinelOp(next: DataFrame, op: String): DataFrame =
    next.withColumn("op", when(col("file") === Sentinel, lit(op))
      .otherwise(lit(null).cast("string")))

  private def partColsJson(partCols: Seq[String]): String =
    org.apache.spark.sql.types.StructType(partCols.map(c =>
      org.apache.spark.sql.types.StructField(c,
        org.apache.spark.sql.types.StringType))).json

  private def partColsOfJson(json: String): Seq[String] =
    org.apache.spark.sql.types.DataType.fromJson(json)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toSeq

  /** Add every optional manifest column a frame lacks (null): file
    * stats frames carry none of the sentinel's columns, and the
    * row-tracking pair appears only once tracking is enabled — so
    * unions of manifest frames line up.
    */
  private def ensureMetaCols(df: DataFrame): DataFrame = {
    val want = Seq(
      "schema_json" -> "string", "part_cols" -> "string",
      "stats_cols" -> "string", "part_values" -> "array<string>",
      "smin" -> "map<string,string>", "smax" -> "map<string,string>",
      "op" -> "string", "constraints" -> "map<string,string>",
      "cdc_stream" -> "string", "old_layouts" -> "string",
      "col_map" -> "map<string,string>", "dropped_cols" -> "string",
      "features" -> "string",
      // row tracking (round 14): per-file id-range start + the
      // sentinel's next-id watermark
      "base_row_id" -> "bigint", "row_id_high" -> "bigint")
    want.foldLeft(df) { case (d, (c, t)) =>
      if (d.columns.contains(c)) d
      else d.withColumn(c, lit(null).cast(t))
    }
  }

  /** Empty per-file-stats frame (no files moved). */
  private def emptyStatsFrame(spark: SparkSession): DataFrame =
    spark.range(0).select(lit("").as("file"), lit(0L).as("rows"),
      lit(0L).as("bytes"),
      lit(null).cast("map<string,string>").as("smin"),
      lit(null).cast("map<string,string>").as("smax"),
      lit(null).cast("array<string>").as("part_values"))

  /** Table-level metadata a manifest version's sentinel carries:
    * data schema, partition columns (outermost first), the declared
    * stats columns (name + type — the columns whose per-file min/max
    * ride the manifest rows), and the table's CHECK constraints
    * (name → boolean SQL expression, enforced on every mutating write
    * through [[appendCommitted]]).
    */
  final case class TableMeta(
      dataSchema: org.apache.spark.sql.types.StructType,
      partCols: Seq[String],
      statsSchema: org.apache.spark.sql.types.StructType,
      constraints: Map[String, String] = Map.empty,
      oldLayouts: Seq[Seq[String]] = Nil,
      colMap: Map[String, String] = Map.empty,
      droppedPhys: Seq[String] = Nil,
      features: Set[String] = Set.empty) {
    /** The table's full logical schema: data columns + the CURRENT
      * partition columns (string-typed, the file-index rule). Columns
      * that left the partition layout live in dataSchema as strings.
      */
    def fullSchema: org.apache.spark.sql.types.StructType =
      org.apache.spark.sql.types.StructType(dataSchema.fields ++
        partCols.map(c => org.apache.spark.sql.types.StructField(c,
          org.apache.spark.sql.types.StringType)))

    /** COLUMN MAPPING (the Delta name-mapping shape): `colMap` is
      * LOGICAL column name → PHYSICAL parquet field name, identity
      * entries omitted (empty = no column was ever renamed). Physical
      * names are FROZEN at a column's first write — RENAME COLUMN
      * flips only the logical name, so every file ever written stays
      * readable with zero rewrites and new writes keep the one
      * physical layout. `droppedPhys` records physical names retired
      * by DROP COLUMN so a later ADD COLUMNS of the same name cannot
      * resurrect the dropped bytes (it gets a generated physical
      * name instead).
      */
    def physicalName(logical: String): String =
      colMap.getOrElse(logical, logical)

    /** `schema` with field names mapped logical→physical (types and
      * metadata untouched) — what the parquet scan/writer must use.
      */
    def physicalSchema(schema: org.apache.spark.sql.types.StructType)
        : org.apache.spark.sql.types.StructType =
      if (colMap.isEmpty) schema
      else org.apache.spark.sql.types.StructType(schema.fields.map(f =>
        f.copy(name = colMap.getOrElse(f.name, f.name))))

    /** Every physical name in use or ever used — the collision set a
      * newly added column's physical name must avoid.
      */
    def usedPhysicalNames: Set[String] =
      colMap.values.toSet ++ droppedPhys
  }

  /** Rename a frame's columns PHYSICAL→LOGICAL per `meta.colMap`, as
    * ONE projection (chained withColumnRenamed could transiently
    * collide when a physical name equals another column's logical
    * name — e.g. after rename chains a→c, b→a). Unmapped columns
    * (including `__file`/`__pos`) pass through. No-op without a map.
    */
  private def toLogicalCols(df: DataFrame, meta: TableMeta): DataFrame =
    if (meta.colMap.isEmpty) df
    else {
      val inv = meta.colMap.map(_.swap) // physical -> logical
      df.select(df.columns.toSeq.map(c =>
        inv.get(c).map(l => col(c).as(l)).getOrElse(col(c))): _*)
    }

  /** Rename a frame's columns LOGICAL→PHYSICAL per `meta.colMap` —
    * the write-side inverse of [[toLogicalCols]], applied just before
    * staging parquet so files always carry the frozen physical names.
    */
  private def toPhysicalCols(df: DataFrame, meta: TableMeta): DataFrame =
    if (meta.colMap.isEmpty) df
    else df.select(df.columns.toSeq.map(c =>
      meta.colMap.get(c).map(p => col(c).as(p)).getOrElse(col(c))): _*)

  /** What one committed manifest version says about the table: the
    * metadata its sentinel records and the live files' byte total (the
    * lazy file index's planning statistic). Both come from ONE
    * manifest aggregate and are cached per immutable committed version
    * (key: app, root, table id, version — the table id keeps a
    * re-created root's restarted version numbers from hitting the old
    * incarnation's entries). The live ENTRIES are cached apart
    * ([[entriesCache]]): the lazy index must not collect entries a
    * query's filters prune.
    */
  private final case class VersionInfo(meta: TableMeta, liveBytes: Long)

  private val versionCache =
    new java.util.concurrent.ConcurrentHashMap[String, VersionInfo]()

  /** Reader features this build implements — the table-features half
    * of protocol gating (the Delta `minReaderVersion` shape, feature-
    * granular): a manifest written under a capability an older reader
    * lacks must FAIL LOUDLY there, never misread. The conf exists so
    * compatibility tests (and operators pinning a reader surface) can
    * simulate a gate-stripped build.
    */
  val ReaderFeatures: Set[String] =
    Set("column-mapping", "partition-evolution", "cdf-updates",
      "row-tracking")

  private def supportedReaderFeatures(spark: SparkSession): Set[String] =
    spark.conf.getOption("spark.graft.dv.readerFeatures")
      .map(_.split(',').toSet.filter(_.nonEmpty).map(_.trim))
      .getOrElse(ReaderFeatures)

  /** Writer features this build implements — the WRITER half of the
    * protocol (the Delta `minWriterVersion` shape, feature-granular).
    * Every current feature constrains the write path too:
    * column-mapping freezes the physical parquet field names staged
    * files must be laid out under; partition-evolution means multiple
    * live layout generations the writer must classify against;
    * cdf-updates obliges mutating commits to record their change
    * images (a stripped writer would silently starve feed consumers).
    * The conf simulates a stripped build (protocol specs).
    */
  val WriterFeatures: Set[String] = ReaderFeatures

  private def supportedWriterFeatures(spark: SparkSession): Set[String] =
    spark.conf.getOption("spark.graft.dv.writerFeatures")
      .map(_.split(',').toSet.filter(_.nonEmpty).map(_.trim))
      .getOrElse(WriterFeatures)

  /** Writer-side protocol gate — the HEAD of every mutating path
    * (stage, tombstone, maintenance, metadata flip), so a stripped
    * writer fails LOUDLY with the table untouched: never a
    * wrong-physical-name staged file waiting on a CAS, never a
    * commit missing the change images the table's consumers rely on.
    */
  private[graft] def requireWriterFeatures(spark: SparkSession,
      root: String): Unit = {
    val missing = currentMeta(spark, root).features --
      supportedWriterFeatures(spark)
    require(missing.isEmpty,
      s"graft-dv table at $root requires writer feature(s) " +
        s"${missing.toSeq.sorted.mkString(", ")} this writer does " +
        "not support — a stripped writer would stage files under " +
        "wrong physical names or skip required change-data " +
        "recording; upgrade the writer (refusing before any state " +
        "was touched)")
  }

  /** The format gate: every manifest version's sentinel carries the
    * table metadata (`schema_json`, `part_cols`) and every root its
    * `_tid` table id. A table without them is refused, never read by
    * guessing the schema from file footers and the layout from paths
    * — the reader-feature gate's rule applied to the format itself.
    */
  private def unsupportedFormat(root: String, what: String): Nothing =
    throw new IllegalArgumentException(
      s"graft-dv table at $root has an unsupported manifest format " +
        s"($what) — this build reads only tables whose every manifest " +
        "sentinel records the schema and partition columns; refusing " +
        "to guess them")

  /** [[versionInfo]]'s metadata + the protocol gate: enforcement sits
    * OUTSIDE the cache so a reader-capability change is honored
    * immediately.
    */
  private def metaAt(spark: SparkSession, root: String,
      v: Long): TableMeta = {
    val m = versionInfo(spark, root, v).meta
    val missing = m.features -- supportedReaderFeatures(spark)
    require(missing.isEmpty,
      s"graft-dv table at $root (manifest v$v) requires reader " +
        s"feature(s) ${missing.toSeq.sorted.mkString(", ")} this " +
        "reader does not support — upgrade the reader; refusing to " +
        "misread the table")
    m
  }

  private def versionInfo(spark: SparkSession, root: String,
      v: Long): VersionInfo = {
    val key = s"${spark.sparkContext.applicationId}|$root|" +
      s"${tableId(spark, root)}|$v"
    if (versionCache.size > 256) versionCache.clear()
    versionCache.computeIfAbsent(key, _ => {
      val m = ensureMetaCols(
        Snapshots.readVersion(spark, manifestTable(root), v))
      val isSentinel = col("file") === Sentinel
      val cols = Seq("schema_json", "part_cols", "stats_cols",
        "constraints", "old_layouts", "col_map", "dropped_cols",
        "features")
      val agg = m.agg(
        first(when(isSentinel, struct(cols.map(col): _*)),
          ignoreNulls = true),
        sum(when(!isSentinel, col("bytes")))).head()
      val r = if (agg.isNullAt(0)) null else agg.getStruct(0)
      if (r == null || r.isNullAt(0) || r.isNullAt(1))
        unsupportedFormat(root, s"manifest v$v has no schema_json/" +
          "part_cols in its sentinel")
      def at[T](name: String)(get: Int => T): Option[T] = {
        val i = cols.indexOf(name)
        if (r.isNullAt(i)) None else Some(get(i))
      }
      val lines = (name: String) => at(name)(r.getString)
        .map(_.split('\n').toSeq.filter(_.nonEmpty)).getOrElse(Nil)
      VersionInfo(TableMeta(
        org.apache.spark.sql.types.DataType.fromJson(r.getString(0))
          .asInstanceOf[org.apache.spark.sql.types.StructType],
        partColsOfJson(r.getString(1)),
        at("stats_cols")(i => org.apache.spark.sql.types.DataType
            .fromJson(r.getString(i))
            .asInstanceOf[org.apache.spark.sql.types.StructType])
          .getOrElse(new org.apache.spark.sql.types.StructType()),
        at("constraints")(i => r.getMap[String, String](i).toMap)
          .getOrElse(Map.empty),
        lines("old_layouts").map(partColsOfJson),
        at("col_map")(i => r.getMap[String, String](i).toMap)
          .getOrElse(Map.empty),
        lines("dropped_cols"), lines("features").toSet),
        if (agg.isNullAt(1)) 0L else agg.getLong(1))
    })
  }

  /** Latest committed manifest version (fails loudly without one). */
  private def latestV(spark: SparkSession, root: String): Long =
    Snapshots.latestVersion(spark, manifestTable(root)).getOrElse(
      throw new IllegalStateException(s"no committed manifest at $root"))

  private def currentMeta(spark: SparkSession, root: String): TableMeta =
    metaAt(spark, root, latestV(spark, root))

  /** Add-only schema merge: existing columns must keep their type
    * (no retyping/widening — fail loudly), new columns append as
    * nullable (old files null-fill at read, the standard parquet
    * missing-column rule).
    */
  private def mergeSchemas(cur: org.apache.spark.sql.types.StructType,
      inc: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    val byName = cur.fields.map(f => f.name -> f).toMap
    inc.fields.foreach { f =>
      byName.get(f.name).foreach { c =>
        require(c.dataType == f.dataType,
          s"incompatible schema change for column ${f.name}: table " +
            s"has ${c.dataType.sql}, append carries ${f.dataType.sql}" +
            " — graft-dv evolves by ADDING columns, never retyping")
      }
    }
    org.apache.spark.sql.types.StructType(cur.fields ++
      inc.fields.filterNot(f => byName.contains(f.name))
        .map(_.copy(nullable = true)))
  }

  /** Per-file stats for manifest rows: row/byte counts, the hive
    * partition VALUES (parsed once at write time so reads can prune
    * the manifest scan itself without touching path strings), and —
    * for the table's declared stats columns — per-file min/max maps
    * (the Delta/Iceberg stats-in-log shape: every read gets file
    * skipping from the manifest alone; the bloom sidecar becomes the
    * escalation tier). The partition-value UDF runs once per FILE at
    * write time — metadata scale, never the row path.
    */
  private def perFileStats(scan: DataFrame,
      statsSchema: org.apache.spark.sql.types.StructType): DataFrame = {
    val partValsOf = udf((f: String) =>
      GraftDvApi.parsePartitions(f).map(_._2))
    val statAggs =
      if (statsSchema.isEmpty)
        Seq(lit(null).cast("map<string,string>").as("smin"),
          lit(null).cast("map<string,string>").as("smax"))
      else Seq(
        map(statsSchema.fields.toSeq.flatMap(f =>
          Seq(lit(f.name), min(col(f.name)).cast("string"))): _*)
          .as("smin"),
        map(statsSchema.fields.toSeq.flatMap(f =>
          Seq(lit(f.name), max(col(f.name)).cast("string"))): _*)
          .as("smax"))
    val aggs = Seq(count(lit(1)).as("rows"),
      max(col("_metadata.file_size")).as("bytes")) ++ statAggs
    scan.groupBy(col("_metadata.file_path").as("file"))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("part_values", partValsOf(col("file")))
  }

  /** Create the table: write `df` hive-partitioned by `partCol` and
    * commit manifest v1 = every written file (with per-file row/byte
    * stats for purge's threshold math and the file index's split
    * planning — one metadata-column aggregate at write time).
    */
  def init(spark: SparkSession, df: DataFrame, root: String,
      partCol: String): Long = init(spark, df, root, Seq(partCol))

  /** Multi-level form: `partCols` outermost first (the hive layout
    * `partitionBy` writes, e.g. day then region).
    */
  def init(spark: SparkSession, df: DataFrame, root: String,
      partCols: Seq[String], statsCols: Seq[String] = Nil): Long = {
    val f = hfs(spark, root)
    f.delete(new Path(root), true)
    // re-creating a table RESTARTS its version numbering, so version
    // numbers alone cannot key the snapshot cache across recreations
    // (a racing read could even poison the new table's key with the
    // old live set). Every incarnation gets a fresh table id; the
    // cache keys on it, so stale entries become unreachable rather
    // than needing a racy invalidation.
    df.write.mode("overwrite").partitionBy(partCols: _*)
      .parquet(dataDir(root))
    writeTableId(spark, root)
    val dataSchema = org.apache.spark.sql.types.StructType(
      df.schema.filterNot(fd => partCols.contains(fd.name)))
    val statsSchema = org.apache.spark.sql.types.StructType(
      statsCols.map { c =>
        require(dataSchema.fieldNames.contains(c),
          s"statsCols entry $c is not a data column of the table")
        dataSchema(c)
      })
    val manifest = manifestOf(spark,
      perFileStats(spark.read.parquet(dataDir(root)), statsSchema),
      cdcBatch = -1L, dataSchema, partCols, statsSchema, op = "init")
    Snapshots.publish(spark, manifestTable(root), manifest)
  }

  /** Create an EMPTY table: no data files, one sentinel-only manifest
    * pinning schema + partition layout. The streaming sink's first
    * micro-batch needs this split (create, THEN append with the batch
    * id) — [[init]] both writes data and records no batch high-water,
    * so a replayed first batch would double.
    */
  def initEmpty(spark: SparkSession, root: String,
      schemaWithParts: org.apache.spark.sql.types.StructType,
      partCols: Seq[String]): Long = {
    val f = hfs(spark, root)
    f.delete(new Path(root), true)
    f.mkdirs(new Path(dataDir(root)))
    writeTableId(spark, root)
    val dataSchema = org.apache.spark.sql.types.StructType(
      schemaWithParts.filterNot(fd => partCols.contains(fd.name)))
    Snapshots.publish(spark, manifestTable(root),
      manifestOf(spark, emptyStatsFrame(spark), cdcBatch = -1L,
        dataSchema, partCols,
        new org.apache.spark.sql.types.StructType(), op = "init"))
  }

  /** Latest committed manifest, raw (sentinel included). */
  private def manifestFull(spark: SparkSession, root: String): DataFrame =
    Snapshots.readLatest(spark, manifestTable(root))

  /** The committed live-file set: (file, rows, bytes). */
  def manifest(spark: SparkSession, root: String): DataFrame =
    manifestFull(spark, root).filter(col("file") =!= Sentinel)
      .select("file", "rows", "bytes")

  /** Live-file set of a specific committed manifest version. */
  def manifestAt(spark: SparkSession, root: String, v: Long): DataFrame =
    Snapshots.readVersion(spark, manifestTable(root), v)
      .filter(col("file") =!= Sentinel).select("file", "rows", "bytes")

  /** Highest CDC batch id whose effects are committed (-1 if none). */
  def lastCdcBatch(spark: SparkSession, root: String): Long =
    manifestFull(spark, root).agg(max("cdc_batch")).head().getLong(0)

  /** CDC high-water mark WITH the stream lineage that owns it: the
    * highest committed batch id and the streaming query id that set it
    * (None for batch-applied CDC). Dedup
    * must compare BOTH — `batchId <= hw` alone silently swallows every
    * batch of a fresh-checkpoint query (ids restart at 0) against a
    * table an earlier stream wrote.
    */
  def cdcHighWater(spark: SparkSession,
      root: String): (Long, Option[String]) = {
    val r = manifestFull(spark, root).agg(max("cdc_batch"),
      max(when(col("file") === Sentinel, col("cdc_stream")))).head()
    (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getString(1)))
  }

  /** Table history — one row per RETAINED committed manifest version
    * (the `DESCRIBE HISTORY` face): commit instant (the commit
    * marker's mtime, the `TIMESTAMP AS OF` clock), the recorded
    * operation (init/append/upsert/update/merge/purge/restore), live
    * file/row/byte totals, the file-set delta vs the PREVIOUS RETAINED
    * version (files_added/files_removed — vacuumed predecessors make
    * the earliest retained version report its whole set as added), and
    * the CDC high-water mark.
    *
    * Scale shape: the manifest table is hive-partitioned by `v=`, so
    * every retained version reads as ONE scan with `v` a partition
    * column; the deltas are two self-anti-joins on (version, file) —
    * all metadata-sized (manifest rows, never data). Row deletes don't
    * appear here by design: tombstones never touch the manifest (the
    * history of a table's VERSIONS is the manifest log; row-image
    * history is the CDF/SCD2 family's job).
    */
  def history(spark: SparkSession, root: String,
      limit: Option[Int] = None): DataFrame = {
    val mt = manifestTable(root)
    val allVersions = Snapshots.committedVersions(spark, mt)
    require(allVersions.nonEmpty, s"no committed manifest at $root")
    // LIMIT n bounds the SCAN, not just the output: only the last n+1
    // version dirs are read (the +1 gives the window's oldest row its
    // real file-set delta), so a long-lived table's recent history
    // costs O(n x manifest), never O(versions)
    val versions = limit.map(n =>
      allVersions.takeRight(n + 1)).getOrElse(allVersions)
    val instants = Snapshots.commitInstants(spark, mt)
    val all = ensureMetaCols(spark.read
        .option("basePath", mt).option("mergeSchema", "true")
        .parquet(versions.map(v => s"$mt/v=$v"): _*))
      .withColumn("version", col("v").cast("long")).drop("v")
    val files = all.filter(col("file") =!= Sentinel)
    val live = files.groupBy("version").agg(
      count(lit(1)).as("live_files"), sum("rows").as("live_rows"),
      sum("bytes").as("live_bytes"))
    val sent = all.filter(col("file") === Sentinel)
      .select(col("version"), col("cdc_batch"), col("op").as("operation"))
    // previous RETAINED version per version (vacuum can thin the log)
    val meta = spark.createDataFrame(versions.map(v =>
        (v, new java.sql.Timestamp(instants.getOrElse(v, 0L)))))
      .toDF("version", "committed_at")
    val prevOf = spark.createDataFrame(
        versions.zip(-1L +: versions.init)).toDF("version", "prev_v")
    val cur = files.select(col("version"), col("file"))
    val prevFiles = files.select(col("version").as("pv"),
      col("file").as("pfile"))
    val withPrev = cur.join(prevOf, Seq("version"))
    val added = withPrev.join(prevFiles,
        withPrev("prev_v") === prevFiles("pv") &&
          withPrev("file") === prevFiles("pfile"), "left_anti")
      .groupBy("version").agg(count(lit(1)).as("files_added"))
    val nextOf = prevOf.withColumnRenamed("version", "nv")
    val prevWithNext = prevFiles.join(nextOf,
      prevFiles("pv") === nextOf("prev_v"))
    val removed = prevWithNext.join(cur,
        prevWithNext("nv") === cur("version") &&
          prevWithNext("pfile") === cur("file"), "left_anti")
      .groupBy(col("nv")).agg(count(lit(1)).as("files_removed"))
      .withColumnRenamed("nv", "version")
    val emit = limit.map(n => versions.takeRight(n)).getOrElse(versions)
    meta.join(sent, Seq("version"), "left")
      .join(live, Seq("version"), "left")
      .join(added, Seq("version"), "left")
      .join(removed, Seq("version"), "left")
      .filter(col("version").isin(emit: _*))
      .select(col("version"), col("committed_at"), col("operation"),
        coalesce(col("live_files"), lit(0L)).as("live_files"),
        coalesce(col("live_rows"), lit(0L)).as("live_rows"),
        coalesce(col("live_bytes"), lit(0L)).as("live_bytes"),
        coalesce(col("files_added"), lit(0L)).as("files_added"),
        coalesce(col("files_removed"), lit(0L)).as("files_removed"),
        col("cdc_batch"))
      .orderBy("version")
  }

  /** Driver-side live entries for the file index — bounded by file
    * count (metadata, the same driver-holds-the-action-list shape as
    * Delta/Iceberg planning). Cached per (root, manifest VERSION) —
    * the Delta snapshot-cache pattern: resolving the current version
    * is one marker listing, so a read on an unmutated table skips the
    * manifest-parquet job entirely, while any committed mutation
    * bumps the version and misses the cache. Tombstones are resolved
    * at SCAN time by the mask (never from this cache), so deletes —
    * which don't touch the manifest — need no invalidation here.
    */
  private val entriesCache =
    new java.util.concurrent.ConcurrentHashMap[
      String, Seq[GraftDvApi.LiveFile]]()

  private def tidMarker(root: String): String = s"$root/_tid"

  /** Give a new table incarnation (init, empty init, clone) its fresh
    * table id.
    */
  private def writeTableId(spark: SparkSession, root: String): Unit = {
    val out = hfs(spark, root).create(new Path(tidMarker(root)), true)
    try out.write(java.util.UUID.randomUUID().toString.getBytes("UTF-8"))
    finally out.close()
  }

  /** This incarnation's table id. One small read per lookup — the
    * price of recreation-proof cache keys (version numbers restart
    * when a root is re-inited; a (root, version) key alone can serve
    * the OLD table's live set to the new one).
    */
  private def tableId(spark: SparkSession, root: String): String = {
    val p = new Path(tidMarker(root))
    val f = hfs(spark, root)
    if (!f.exists(p)) unsupportedFormat(root, "no _tid table id")
    val in = f.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      var b = in.read()
      while (b >= 0) { buf.write(b); b = in.read() }
      buf.toString("UTF-8")
    } finally in.close()
  }

  private def liveEntries(spark: SparkSession,
      root: String): Seq[GraftDvApi.LiveFile] =
    entriesAt(spark, root, latestV(spark, root))

  private def entriesAt(spark: SparkSession, root: String,
      v: Long): Seq[GraftDvApi.LiveFile] = {
    val tid = tableId(spark, root)
    val key = s"${spark.sparkContext.applicationId}|$root|$tid|$v"
    // crude bound: snapshot states are small (file metadata), but a
    // long-lived session mutating many tables should not accrete them
    if (entriesCache.size > 64) entriesCache.clear()
    entriesCache.computeIfAbsent(key, _ =>
      Snapshots.readVersion(spark, manifestTable(root), v)
        .filter(col("file") =!= Sentinel)
        .select("file", "bytes").collect().toSeq
        .map { r =>
          val p = r.getString(0)
          GraftDvApi.LiveFile(p, r.getLong(1),
            GraftDvApi.parsePartitions(p).map(_._2))
        })
  }

  private def entriesOf(spark: SparkSession,
      files: Seq[String]): Seq[GraftDvApi.LiveFile] = {
    // explicit file lists (index candidates, historical sets, freshly
    // moved files) may reference files absent from the latest
    // manifest — stat them. The stat both validates existence and
    // NORMALIZES the entry into manifest space (qualified +
    // URL-encoded via urlOf), so a raw unqualified path from
    // moveStaged round-trips to the same string _metadata will emit
    // for it — the manifest must hold ONE spelling per file.
    files.map { p =>
      val hp = GraftDvApi.pathOf(p)
      val f = hfs(spark, p)
      val st = f.getFileStatus(hp)
      val canon = GraftDvApi.urlOf(f.makeQualified(st.getPath))
      GraftDvApi.LiveFile(canon, st.getLen,
        GraftDvApi.parsePartitions(canon).map(_._2))
    }
  }

  // ---- read path ----------------------------------------------------

  /** Raw relation over `entries` in `meta`'s layout: PHYSICAL field
    * names, no positions, no mask, `_metadata` resolvable — the input
    * of per-file stats, the skipping index and constraint re-checks.
    */
  private def relationOver(spark: SparkSession, root: String,
      entries: Seq[GraftDvApi.LiveFile], meta: TableMeta): DataFrame =
    GraftDvApi.relation(spark, dataDir(root), meta.partCols, entries,
      meta.physicalSchema(meta.dataSchema))

  /** Where [[posScan]]'s files come from. */
  private sealed trait FileSource

  /** A committed manifest version, under THAT version's metadata,
    * through the LAZY index: the live set stays in the manifest
    * parquet until the query's own partition/stats filters prune it
    * ([[GraftDvApi.LazyManifestFileIndex]]); an unfiltered execution
    * serves the cached per-version entries.
    */
  private final case class AtVersion(v: Long) extends FileSource

  /** An explicit entry list (rewrite victims, CDF steps, coordinates,
    * index candidates, freshly moved files) under the caller's
    * metadata, through the EAGER index.
    */
  private final case class Listed(entries: Seq[GraftDvApi.LiveFile],
      meta: TableMeta) extends FileSource

  /** THE positional scan: the table's columns plus `__file` / `__pos`
    * (the physical coordinates tombstones address), with the tombstone
    * mask unless `masked = false` (coordinate reads of rows the
    * current commit itself tombstoned). A never-deleted-from table
    * gets NO mask filter at all (plan-time check), so the fast path is
    * a bare parquet scan. `physExtra`: physical columns OUTSIDE the
    * logical schema (row tracking's materialized `__row_id`) — files
    * without them null-fill (the parquet missing-column rule).
    *
    * PARTITION EVOLUTION: files may span LAYOUT GENERATIONS (a file's
    * layout is its hive path chain — the per-file record Iceberg keeps
    * as a spec id, ours rides in the path). Each generation reads
    * through its own relation with its own partition schema, so
    * partition pruning works on every generation, and the relations
    * union by name under the table's full schema (an ex-partition
    * column is a path value in old files and a data column in new
    * ones; both surface identically). A version has one lazy index per
    * `partCols +: oldLayouts`, scoped by its anchored path pattern when
    * there is more than one; a listed set has one relation per PARSED
    * layout — a single-layout subset may still be an OLD generation,
    * and reading it under the current layout would bind path values
    * to the wrong column (the dv_partition_evolution oracle caught
    * exactly this).
    */
  private def posScan(spark: SparkSession, root: String,
      src: FileSource, masked: Boolean = true,
      physExtra: Seq[org.apache.spark.sql.types.StructField] = Nil)
      : DataFrame = {
    val meta = src match {
      case AtVersion(v) => metaAt(spark, root, v)
      case Listed(_, m) => m
    }
    val full = meta.fullSchema
    def dataSchema(layout: Seq[String]) =
      org.apache.spark.sql.types.StructType(meta.physicalSchema(
        org.apache.spark.sql.types.StructType(
          full.filterNot(fd => layout.contains(fd.name)))).fields ++
        physExtra)
    val gens: Seq[(Seq[String], DataFrame)] = src match {
      case AtVersion(v) =>
        val layouts = (meta.partCols +: meta.oldLayouts).distinct
        val bytes = versionInfo(spark, root, v).liveBytes
        layouts.map(l => l -> GraftDvApi.lazyRelation(spark,
          dataDir(root), s"${manifestTable(root)}/v=$v", l,
          meta.statsSchema, dataSchema(l), bytes,
          // pinned to THIS index's version (re-resolving latest here
          // could serve a newer live set than the index's manifest)
          Some(() => entriesAt(spark, root, v)),
          if (layouts.size > 1) Some(layoutRegex(spark, root, l))
          else None,
          Some(skippingHook(spark, root))))
      case Listed(entries, _) =>
        val byLayout = entries
          .groupBy(e => GraftDvApi.parsePartitions(e.path).map(_._1))
          .toSeq.sortBy(_._1.mkString("\u0000"))
        (if (byLayout.isEmpty) Seq(meta.partCols -> entries) else byLayout)
          .map { case (l, es) => l -> GraftDvApi.relation(spark,
            dataDir(root), l, es, dataSchema(l)) }
    }
    val withPos = gens.map { case (l, rel) => l -> rel
      .withColumn("__file", col("_metadata.file_path"))
      .withColumn("__pos", col("_metadata.row_index")) }
    val data = withPos match {
      case Seq((l, one)) if l == meta.partCols => one
      case many =>
        val out = (meta.physicalSchema(full).fieldNames.toSeq ++
          physExtra.map(_.name) :+ "__file" :+ "__pos").map(col)
        many.map(_._2.select(out: _*)).reduce(_ unionByName _)
    }
    toLogicalCols(
      if (masked && DvBlobs.hasAny(root))
        data.filter(GraftFunctions.dvAlive(spark,
          col("__file"), col("__pos"), root))
      else data, meta)
  }

  /** Anchored hive-chain pattern matching exactly the files of one
    * partition-layout generation — pushed into the manifest scan so
    * a per-generation lazy index holds only ITS files. The full
    * anchor matters: `[day]`'s unanchored `/day=` would also match a
    * `[region, day]` generation's files.
    */
  private def layoutRegex(spark: SparkSession, root: String,
      layout: Seq[String]): String = {
    val dd = new Path(dataDir(root))
    val prefix = GraftDvApi.urlOf(hfs(spark, root).makeQualified(dd))
    "^" + java.util.regex.Pattern.quote(prefix) + "/" +
      layout.map(c =>
        java.util.regex.Pattern.quote(
          org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .escapePathName(c)) + "=[^/]*").mkString("/") +
      "/[^/]*$"
  }

  /** The table as readers see it: the latest committed version,
    * masked.
    */
  def read(spark: SparkSession, root: String): DataFrame =
    readVersion(spark, root, latestV(spark, root))

  /** Typed empty frame: `meta`'s full schema (partition values typed
    * string, matching the file index's partition typing).
    */
  private def emptyTable(spark: SparkSession, meta: TableMeta): DataFrame =
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), meta.fullSchema)

  /** The table as of committed manifest version `v`, masked — the same
    * lazy per-version scan as the latest read, under THAT version's
    * recorded metadata: time travel across schema evolution shows each
    * version's own column set, a mid-evolution version reads one index
    * per layout generation, and an emptied version is an empty scan
    * typed by its own schema. Tombstones stay retroactively current
    * per the pinned semantics.
    */
  def readVersion(spark: SparkSession, root: String, v: Long): DataFrame =
    posScan(spark, root, AtVersion(v)).drop("__file", "__pos")

  /** The one time-travel resolver — SQL `VERSION/TIMESTAMP AS OF`, the
    * `versionAsOf`/`timestampAsOf` reader options and RESTORE: a
    * version must be committed (and still in the log); a timestamp
    * resolves to the highest version committed at or before it (the
    * commit marker's instant, [[Snapshots.versionAsOf]]).
    */
  def timeTravelVersion(spark: SparkSession, root: String,
      asOf: Either[Long, java.sql.Timestamp]): Long = {
    val mt = manifestTable(root)
    asOf match {
      case Left(v) =>
        require(Snapshots.committedVersions(spark, mt).contains(v),
          s"version $v of $root was never committed (or was vacuumed)")
        v
      case Right(ts) =>
        Snapshots.versionAsOf(spark, mt, ts.getTime).getOrElse(
          throw new IllegalArgumentException(
            s"no committed version of $root at or before $ts"))
    }
  }

  /** A time-travel timestamp literal; `clause` names what took it. */
  def asOfTimestamp(clause: String, t: String): java.sql.Timestamp =
    try java.sql.Timestamp.valueOf(t)
    catch { case _: IllegalArgumentException =>
      throw new IllegalArgumentException(
        s"$clause takes 'yyyy-mm-dd hh:mm:ss[.f]'; got '$t'") }

  /** CHANGE DATA FEED (batch face): row-level changes between two
    * committed manifest versions, as the table's columns plus
    * `_change_type` ('insert' | 'delete') and `_commit_version`.
    *
    * Semantics — exactly the manifest-versioned change stream, one
    * step per committed version in `(fromV, toV]`: a step's inserts
    * are the masked rows of its ADDED files minus the masked rows of
    * its REMOVED files (multiset exceptAll), deletes the converse.
    * The FOLD LAW (DvCdfSpec): applying the feed's steps in order to
    * the masked read of `fromV` reproduces the masked read of `toV`
    * exactly. Two corollaries of the pinned retroactive-tombstone
    * time travel:
    *  - a purge emits NOTHING (its removed files' surviving rows
    *    reappear verbatim in the replacements and cancel);
    *  - row DELETION surfaces in SNAPSHOTS as the retroactive mask
    *    (visible at every version). Under the CDF conf, a DELETE
    *    statement / MERGE delete action ALSO records its victims'
    *    old images in a 'del' sidecar keyed to a (metadata-only)
    *    manifest commit, and the feed emits them as 'delete' rows —
    *    the retraction signal derived consumers (IVM, replication)
    *    need, because THEIR stores are not retroactively masked. The
    *    fold law is unaffected: snapshots never contain these rows,
    *    and a fold's exceptAll of absent rows is a no-op. The
    *    manifest-diff 'delete' side (file removal minus additions)
    *    remains structurally empty with today's operations.
    *
    * Each step reads under ITS later version's recorded schema;
    * steps union with null-fill, so a feed spanning schema evolution
    * carries the widest column set. 100 TB shape: a step's cost is a
    * shuffle over the TOUCHED files' rows (added ∪ removed), never
    * the table — a CDC trickle feeds from exactly its appended
    * files.
    */
  def readChanges(spark: SparkSession, root: String, fromV: Long,
      toV: Long): DataFrame = {
    val committed = Snapshots.committedVersions(spark, manifestTable(root))
    require(committed.contains(fromV) && committed.contains(toV),
      s"readChanges endpoints must be committed versions of $root " +
        s"(have ${committed.mkString(",")}, asked $fromV -> $toV)")
    require(fromV <= toV, s"readChanges: $fromV > $toV")
    val instants = Snapshots.commitInstants(spark, manifestTable(root))
    val f = hfs(spark, root)
    val vs = fromV +: committed.filter(v => v > fromV && v <= toV)
    val steps = vs.sliding(2).filter(_.size == 2).flatMap { pair =>
      val (a, b) = (pair.head, pair.last)
      val filesA = manifestAt(spark, root, a).select("file")
        .collect().map(_.getString(0)).toSet
      val filesB = manifestAt(spark, root, b).select("file")
        .collect().map(_.getString(0)).toSet
      val meta = metaAt(spark, root, b)
      def rd(files: Set[String]): Option[DataFrame] =
        if (files.isEmpty) None
        else Some(posScan(spark, root,
          Listed(entriesOf(spark, files.toSeq.sorted), meta))
          .drop("__file", "__pos"))
      def tag(df: DataFrame, t: String): DataFrame =
        df.withColumn("_change_type", lit(t))
          .withColumn("_commit_version", lit(b))
          .withColumn("_commit_timestamp",
            lit(new java.sql.Timestamp(instants.getOrElse(b, 0L))))
      def sidecar(kind: String): Option[DataFrame] = {
        val p = new Path(s"${cdfVersionDir(root, b)}/$kind")
        if (f.exists(p)) Some(spark.read.parquet(p.toString)) else None
      }
      // a commit that recorded DELETED old images (DELETE statement /
      // MERGE delete action under the CDF conf) surfaces them as
      // 'delete' rows — the retraction signal derived consumers (IVM,
      // replication) fold; masked snapshots never contain these rows
      // (the retroactive mask), so fold consumers see a no-op
      val delRows = sidecar("del")
        .map(d => tag(d, "delete"))
      (rd(filesB -- filesA), rd(filesA -- filesB)) match {
        case (None, None) => delRows
        case (Some(add0), remOpt) =>
          val add = remOpt.map(add0.exceptAll).getOrElse(add0)
          val remRows = remOpt.map(_.exceptAll(add0))
            .map(tag(_, "delete"))
          // a commit that recorded change data (update/merge/upsert
          // with the CDF feature on) splits its added rows into
          // update POST-images (the sidecar's rows, masked through
          // the live read so later deletes stay retroactive) and
          // plain inserts, and surfaces the tombstoned OLD images as
          // update PRE-images — the Delta CDF shape keyed consumers
          // (IVM, replication) fold by key
          val withCdf = sidecar("post") match {
            case Some(post) =>
              val postVis = add.intersectAll(
                post.select(add.columns.map(col).toSeq: _*))
              val ins = tag(add.exceptAll(postVis), "insert")
                .unionByName(tag(postVis, "update_postimage"))
              sidecar("pre").map(p =>
                  ins.unionByName(tag(p, "update_preimage"),
                    allowMissingColumns = true))
                .getOrElse(ins)
            case None => tag(add, "insert")
          }
          val withRem = remRows.map(withCdf.unionByName(_,
            allowMissingColumns = true)).getOrElse(withCdf)
          Some(delRows.map(withRem.unionByName(_,
            allowMissingColumns = true)).getOrElse(withRem))
        case (None, Some(rem)) =>
          val r = tag(rem, "delete")
          Some(delRows.map(r.unionByName(_,
            allowMissingColumns = true)).getOrElse(r))
      }
    }.toSeq
    steps.reduceOption(
        _.unionByName(_, allowMissingColumns = true))
      .getOrElse(emptyTable(spark, metaAt(spark, root, toV))
        .withColumn("_change_type", lit(""))
        .withColumn("_commit_version", lit(0L))
        .withColumn("_commit_timestamp",
          lit(null).cast("timestamp")))
  }

  // ---- change-data sidecar (update pre/post images) -------------------

  private[graft] def cdfDir(root: String): String = s"$root/_cdf"
  private def cdfVersionDir(root: String, v: Long): String =
    s"${cdfDir(root)}/v=$v"

  /** Is per-commit change-data recording on? Off by default — the
    * sidecar costs O(changed rows) extra bytes per mutating commit
    * (exactly Delta's `delta.enableChangeDataFeed` trade, gated the
    * same way).
    */
  private[graft] def cdfEnabled(spark: SparkSession): Boolean =
    spark.conf.getOption("spark.graft.dv.cdf").contains("true")

  /** Staged change-data recording for one mutating commit: the
    * caller writes the PRE images (tombstoned old rows, snapshotted
    * BEFORE any tombstone lands) and POST images (the update's new
    * rows), then hands [[onCommitted]] to the manifest flip — the
    * rename keys the sidecar to the exact committed version.
    * [[cleanup]] discards an un-renamed stage (failed or empty
    * commit), so a crashed write leaves no half-keyed change data.
    */
  private[graft] final class CdfStage(spark: SparkSession, root: String) {
    private val stage = s"$root/_cdf_stage_" +
      java.util.UUID.randomUUID().toString.take(12)
    @volatile private var renamed = false
    // whether this stage actually holds images — what tells the
    // commit to mark the table as requiring cdf-updates readers (a
    // feed consumer without update-image support would silently fold
    // the wrong rows), ON the same manifest flip as the images
    @volatile private[graft] var recorded = false

    def writePre(df: DataFrame): Unit = {
      recorded = true
      df.write.mode("overwrite").parquet(s"$stage/pre")
    }
    def writePost(df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$stage/post")

    /** DELETED old images (DELETE statements, MERGE delete actions) —
      * surfaced by the feed as 'delete' rows. Snapshot semantics, not
      * reconstruction: row deletion on this engine is the RETROACTIVE
      * mask, so these rows are already absent from every masked read —
      * the sidecar exists for DERIVED consumers (IVM, replication)
      * whose own stores are not retroactively masked and need the
      * retraction signal. A fold consumer is unaffected: exceptAll of
      * already-absent rows is a no-op, so the fold law holds verbatim.
      */
    def writeDeleted(df: DataFrame): Unit = {
      recorded = true
      df.write.mode("overwrite").parquet(s"$stage/del")
    }

    def onCommitted(v: Long): Unit = {
      val f = hfs(spark, root)
      f.mkdirs(new Path(cdfDir(root)))
      if (f.rename(new Path(stage), new Path(cdfVersionDir(root, v))))
        renamed = true
    }

    def cleanup(): Unit = if (!renamed) {
      val f = hfs(spark, root)
      f.delete(new Path(stage), true): Unit
    }
  }

  /** Commit a change-data-ONLY manifest version — the DELETE shape:
    * tombstones change no file set, so without this flip a delete
    * would be invisible to the feed (no version, no step). One
    * metadata-only sentinel flip (op 'delete', zero data bytes moved)
    * keys the staged 'del' sidecar to a committed version and stamps
    * the cdf-updates reader feature, exactly as update/merge commits
    * do. Called only when the stage actually recorded images.
    */
  private[graft] def commitChangeDataOnly(spark: SparkSession,
      root: String, stage: CdfStage): Long = {
    val v = sentinelFlip(spark, root, "delete") { (base, latest) =>
      withFeatures(latest, metaAt(spark, root, base).features + "cdf-updates")
    }
    stage.onCommitted(v)
    v
  }

  /** Masked read restricted to an explicit file subset under the
    * current schema — the hook that lets file-skipping indexes compose
    * with a DV table (the index prunes to candidate files, this
    * applies the tombstone mask to exactly those). Time travel does
    * not come through here: [[readVersion]] reads a version's own
    * manifest and metadata.
    */
  def readFiles(spark: SparkSession, root: String,
      files: Seq[String]): DataFrame =
    posScan(spark, root,
      Listed(entriesOf(spark, files), currentMeta(spark, root)))
      .drop("__file", "__pos")

  // ---- row tracking (round 14) ---------------------------------------
  //
  // STABLE ROW IDS surviving purge/pack/zorder/migrate — the Delta
  // row-tracking shape: the prerequisite for join-shaped IVM (state
  // keyed by row id, which (file, pos) cannot be — every rewrite
  // destroys it) and the CDF correlation key across rewrites.
  //
  //  - Id space: `row_id = base_row_id(file) + __pos` for fresh
  //    appends; the sentinel carries a `row_id_high` watermark and
  //    each committed file takes base = high, high += rows. Ids are
  //    never reused (the watermark only grows; DML re-inserts get
  //    FRESH ids — update identity preservation is out of scope,
  //    exactly Delta's baseline).
  //  - Rewrites MATERIALIZE: purge/pack/zorder/migrate change row
  //    order and positions, so replacement files carry a physical
  //    `__row_id` column computed from the source scan during staging;
  //    their manifest rows record base_row_id = null.
  //  - Read: coalesce(physical __row_id, base + __pos). Plain reads
  //    never see the column (it is outside dataSchema).
  //  - Gated as a table FEATURE (reader and writer — a stripped
  //    writer must refuse before staging files that would lose ids).
  //  - Cost: one manifest long per appended file; rewrites pay one
  //    int64 column in exactly the rows they already rewrite.

  private[graft] def rowTrackingOn(spark: SparkSession,
      root: String): Boolean =
    currentMeta(spark, root).features.contains("row-tracking")

  private val RowIdField = org.apache.spark.sql.types.StructField(
    "__row_id", org.apache.spark.sql.types.LongType)

  /** Enable row tracking: one metadata-only flip assigning every live
    * file its id-range start (deterministic: file-name order,
    * cumulative row counts) and pinning the watermark. Idempotent by
    * refusal; existing rows get ids retroactively (base + position).
    */
  def enableRowTracking(spark: SparkSession, root: String): Long = {
    require(!rowTrackingOn(spark, root),
      s"row tracking is already enabled on the graft-dv table at $root")
    sentinelFlip(spark, root, "alter") { (base, latest) =>
      val meta = metaAt(spark, root, base)
      val total = latest.filter(col("file") =!= Sentinel)
        .agg(coalesce(sum(col("rows")), lit(0L))).head().getLong(0)
      // global window = ONE task over MANIFEST rows (metadata scale:
      // file count, never data) — a one-time enablement cost; the
      // per-commit assignment in commitMovedFiles windows only the
      // batch's own files
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("file"))
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, -1)
      withFeatures(ensureMetaCols(latest), meta.features + "row-tracking")
        .withColumn("base_row_id",
          when(col("file") === Sentinel, lit(null).cast("long"))
            .otherwise(coalesce(
              sum(when(col("file") === Sentinel, lit(0L))
                .otherwise(col("rows"))).over(w), lit(0L))))
        .withColumn("row_id_high",
          when(col("file") === Sentinel, lit(total))
            .otherwise(lit(null).cast("long")))
    }
  }

  /** Masked read with the stable `__row_id` attached — the row-id
    * serve face. Per-file cost is the plain masked scan plus one
    * manifest-sized join (file → id-range start); rewritten files
    * serve their MATERIALIZED ids straight from the physical column.
    */
  def readWithRowId(spark: SparkSession, root: String): DataFrame = {
    require(rowTrackingOn(spark, root),
      s"row tracking is not enabled on the graft-dv table at $root " +
        "(DV.enableRowTracking)")
    posScanRowId(spark, root, AtVersion(latestV(spark, root)))
      .drop("__file", "__pos")
  }

  /** Masked positional scan with `__row_id` resolved (materialized
    * column first, else base + position) — the shared source for
    * [[readWithRowId]] and every id-preserving rewrite staging.
    */
  private def posScanRowId(spark: SparkSession, root: String,
      src: FileSource): DataFrame = {
    val bases = ensureMetaCols(manifestFull(spark, root))
      .filter(col("file") =!= Sentinel)
      .select(col("file").as("__file"), col("base_row_id"))
    posScan(spark, root, src, physExtra = Seq(RowIdField))
      .join(bases, Seq("__file"), "left")
      .withColumn("__row_id",
        coalesce(col("__row_id"), col("base_row_id") + col("__pos")))
      .drop("base_row_id")
  }

  /** The staging SOURCE for a content-preserving rewrite
    * (purge/pack/zorder/migrate): the masked rows of `entries` under
    * the current schema — plus, when the table tracks rows, the
    * materialized `__row_id` column, so every surviving row's stable
    * id rides into the replacement files.
    */
  private def rewriteSource(spark: SparkSession, root: String,
      entries: Seq[GraftDvApi.LiveFile],
      meta: TableMeta): DataFrame = {
    val src = Listed(entries, meta)
    (if (meta.features.contains("row-tracking"))
      posScanRowId(spark, root, src)
    else posScan(spark, root, src)).drop("__file", "__pos")
  }

  /** Masked positional scan of the latest version — the table's
    * columns plus `__file` / `__pos` — what the DSv2 row-level
    * operations scan; an empty live set yields an empty frame with the
    * same shape.
    */
  private[graft] def readWithPos(spark: SparkSession,
      root: String): DataFrame =
    posScan(spark, root, AtVersion(latestV(spark, root)))

  /** UNMASKED scan of the live set with `_metadata` columns available
    * — the input for sidecar builds (e.g. the skipping index, which
    * must index physical files, tombstoned rows included: a
    * tombstoned needle must still bloom-hit and then be masked by the
    * composition, never silently vanish from the index).
    */
  def rawScan(spark: SparkSession, root: String): DataFrame =
    relationOver(spark, root, liveEntries(spark, root),
      currentMeta(spark, root))

  /** All current tombstones as (file, pos) rows — reconstructed
    * DISTRIBUTEDLY from the per-file blob dirs (one task per blob
    * dir). Diagnostic/spec surface; the read path never materializes
    * this.
    */
  def dv(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val dirs = DvBlobs.allFileDirs(root)
    if (dirs.isEmpty) Seq.empty[(String, Long)].toDF("file", "pos")
    else spark.createDataset(dirs)
      .flatMap(d => DvBlobs.readDirMerged(d).toSeq.flatMap {
        case (file, poss) => poss.map(p => (file, p))
      })
      .toDF("file", "pos")
  }

  // ---- maintenance claim ---------------------------------------------

  /** The one claim primitive: create `_maint`, retrying every 50 ms
    * for up to `waitMs` (0: one attempt). False if it is still held.
    */
  private def tryMaintenanceClaim(spark: SparkSession, root: String,
      waitMs: Long): Boolean = {
    val deadline = System.currentTimeMillis() + waitMs
    while (!Snapshots.tryExclusiveCreate(spark, maintMarker(root))) {
      if (System.currentTimeMillis() >= deadline) return false
      Thread.sleep(50L)
    }
    true
  }

  /** Run `body` holding the maintenance claim — the one entry point of
    * every maintenance op. Publish intents replay first: a crashed
    * delete publish must go fully live before a blob fold renames its
    * only published blob or a rewrite replaces a file its pending
    * blobs target, or the next replay would drop the intent with the
    * DELETE half-applied. Only vacuum's dry run, which must change
    * nothing, skips the replay. With `ifBusy` the claim is
    * opportunistic (the streaming auto-maintenance slots, which run
    * right after a gated write): a held claim returns `ifBusy` at once
    * so ingest never blocks on maintenance, and the next batch
    * retries.
    */
  private def withMaintenance[T](spark: SparkSession, root: String,
      dryRun: Boolean = false, ifBusy: Option[T] = None)(body: => T): T = {
    if (ifBusy.isEmpty) requireWriterFeatures(spark, root)
    val claimed = tryMaintenanceClaim(spark, root, 0L)
    if (!claimed && ifBusy.isDefined) return ifBusy.get
    require(claimed,
      s"another maintenance operation (purge/vacuum) holds $root/_maint")
    try {
      if (!dryRun) DvBlobs.replayIntents(root): Unit
      body
    } finally releaseMaintenanceClaim(spark, root)
  }

  /** Block until no maintenance claim is held — the delete-side fence
    * (see the class doc's concurrency model). Times out loudly rather
    * than returning with an unresolved race.
    */
  private def waitNoMaintenance(spark: SparkSession, root: String,
      timeoutMs: Long): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (Snapshots.markerExists(spark, maintMarker(root))) {
      require(System.currentTimeMillis() < deadline,
        s"maintenance claim $root/_maint still held after ${timeoutMs}ms " +
          "(crashed maintenance writer? remove the marker to recover)")
      Thread.sleep(50L)
    }
  }

  // ---- delete ---------------------------------------------------------

  /** Tombstone every live row whose `keyCol` appears in `victims`.
    * Returns the number of rows marked. O(deleted rows) bytes written
    * (one delta blob per touched file, written from the executors —
    * the driver never holds positions); zero data files touched.
    * Replay-safe: already-deleted rows are invisible to the marking
    * scan, so a rerun appends nothing.
    *
    * Purge fencing: after the deltas land, any in-flight maintenance
    * is waited out and the touched files re-checked against the
    * manifest; if a purge replaced one mid-delete, the marking scan
    * re-runs over the replacement files (whose masks lack exactly the
    * raced victims) — the delete is durable in the files that
    * survived, before it returns.
    */
  def delete(spark: SparkSession, root: String, keyCol: String,
      victims: DataFrame, maintWaitMs: Long = 15L * 60 * 1000): Long = {
    val vic = victims.select(col(keyCol)).distinct().localCheckpoint()
    markWhere(spark, root,
      scan => scan.join(broadcast(vic), Seq(keyCol), "left_semi")
        .select(col("__file"), col("__pos")),
      maintWaitMs)
  }

  /** The shared mark-and-fence core every tombstoning path rides:
    * `mark` maps the masked positional scan (table columns + `__file`,
    * `__pos`) to the rows to tombstone, and MUST be a deterministic
    * pure function of the scan — the purge fence re-executes it
    * against the post-rewrite live set when a racing maintenance
    * commit replaced a touched file, so a non-deterministic mark would
    * fence a different row set than it marked.
    */
  private[graft] def markWhere(spark: SparkSession, root: String,
      mark: DataFrame => DataFrame,
      maintWaitMs: Long = 15L * 60 * 1000): Long = {
    requireWriterFeatures(spark, root)
    var firstPass = -1L
    var attempts = 0
    while (true) {
      attempts += 1
      require(attempts <= 10, "delete/purge conflict retries exhausted")
      val entries = liveEntries(spark, root)
      if (entries.isEmpty) return math.max(firstPass, 0L)
      val marked = mark(posScan(spark, root,
          Listed(entries, currentMeta(spark, root))))
        .select(col("__file"), col("__pos"))
      val (nMarked, touched) = writeMarks(spark, root, marked, entries.size)
      if (firstPass < 0) firstPass = nMarked
      // nothing marked ⇒ nothing a racing rewrite could lose: no
      // fence needed (this also lets an insert-only upsert proceed
      // while a purge holds the maintenance claim)
      if (touched.isEmpty) return math.max(firstPass, 0L)
      // fence: wait out maintenance, then confirm nothing we marked
      // was concurrently replaced
      waitNoMaintenance(spark, root, maintWaitMs)
      val liveNow = manifest(spark, root).select("file")
        .collect().map(_.getString(0)).toSet
      if (touched.forall(liveNow.contains)) return firstPass
      // else: loop — the masked re-scan marks only the rows whose
      // tombstones went inert with their replaced files
    }
    firstPass // unreachable
  }

  /** One tombstone-write pass of [[markWhere]]'s fence loop: groups
    * the marked (file, pos) rows per file and writes one delta blob
    * per file from the executors.
    * Returns (rows marked, files touched).
    */
  private def writeMarks(spark: SparkSession, root: String,
      marked: DataFrame, liveFileCount: Int): (Long, Set[String]) = {
    val nAcc = spark.sparkContext.longAccumulator("dv_marked")
    val touchedAcc =
      spark.sparkContext.collectionAccumulator[String]("dv_touched")
    // explicit partition count: AQE would coalesce this KB-sized
    // shuffle to ONE partition, serializing the per-file blob
    // writes behind a single task (measured 10s -> 1s at 1020
    // files); blob IO parallelism must track file count, not
    // shuffle bytes
    val writeTasks = math.max(1, math.min(liveFileCount,
      spark.sparkContext.defaultParallelism))
    marked.groupBy(col("__file"))
      .agg(collect_list(col("__pos")).as("poss"))
      .repartition(writeTasks, col("__file"))
      .foreachPartition {
        (it: Iterator[org.apache.spark.sql.Row]) =>
          it.foreach { r =>
            val file = r.getString(0)
            val poss = r.getSeq[Long](1).toArray
            DvBlobs.writeDelta(root, file, poss): Unit
            nAcc.add(poss.length.toLong)
            touchedAcc.add(file)
          }
      }
    (nAcc.value, touchedAcc.value.asScala.toSet)
  }

  // ---- purge ----------------------------------------------------------

  /** Rewrite every live file whose deleted fraction exceeds
    * `maxDeletedFraction`, commit the next manifest version via CAS,
    * and return the replaced files. Holds the maintenance claim for
    * its whole run (mutual exclusion with vacuum; the fence deletes
    * wait on). Threshold math reads NO tombstone data — per-file
    * counts come from delta blob NAMES, listed in parallel on the
    * executors. The rewrite and its crash-safe commit are
    * [[rewriteFiles]].
    *
    * @param onBeforeCommit test-only failpoint between staging+move
    *        and the CAS publish (crash/interleave simulation).
    */
  def purge(spark: SparkSession, root: String, partCol: String,
      maxDeletedFraction: Double): Seq[String] =
    purge(spark, root, Seq(partCol), maxDeletedFraction, () => ())

  /** Single-col form with the failpoint hook (no default here — two
    * overloads may not both carry defaults).
    */
  def purge(spark: SparkSession, root: String, partCol: String,
      maxDeletedFraction: Double,
      onBeforeCommit: () => Unit): Seq[String] =
    purge(spark, root, Seq(partCol), maxDeletedFraction, onBeforeCommit)

  /** Multi-level form: `partCols` outermost first. `scope` (an
    * optional partition predicate, [[scopedFiles]]) bounds the sweep
    * to matching partitions — the `OPTIMIZE t WHERE ...` form a
    * 100 TB table maintains yesterday's partition with.
    */
  def purge(spark: SparkSession, root: String, partCols: Seq[String],
      maxDeletedFraction: Double,
      onBeforeCommit: () => Unit,
      scope: Option[String] = None): Seq[String] =
    withMaintenance(spark, root) {
      import spark.implicits._
      val inScope = scope.map(scopedFiles(spark, root, partCols, _))
      // old-layout files (mid-evolution) belong to migrateLayout,
      // whose rewrite re-partitions them; purge touches only the
      // current generation so its staged write stays layout-true
      val live = manifest(spark, root).select("file", "rows")
        .as[(String, Long)].collect().toSeq
        .filter(fr => GraftDvApi.parsePartitions(fr._1)
          .map(_._1) == partCols)
        .filter(fr => inScope.forall(_.contains(fr._1)))
      val counts = spark.createDataset(live.map(_._1))
        .map(f => (f, DvBlobs.tombstoneCount(root, f)))
        .collect().toMap
      val hot = live.filter { case (f, rows) =>
        counts.getOrElse(f, 0L) > rows * maxDeletedFraction
      }.map(_._1)
      rewriteFiles(spark, root, "purge", "purged", partCols, hot,
        onBeforeCommit)()
    }

  /** The staged-rewrite commit of every file-rewriting maintenance op
    * (purge, pack, ZORDER, layout migration) — Delta's "rewrite
    * files" commit. The caller holds the maintenance claim. The
    * masked rows of `victims`, under the CURRENT schema (a rewrite
    * after evolution materializes the null-filled columns), pass
    * through `stageRows` (the op's binning or clustering), are staged
    * under `_<op>_stage`, then MOVED into the data partition dirs
    * under `<prefix>-` names (present but uncommitted = invisible).
    * One CAS publish of (latest − victims) ∪ moved, with the sentinel
    * `op` and then `adjustNext` applied, flips the live set. A crash
    * leaves orphan moved files (vacuum fodder after the grace
    * window), never a doubled or missing row.
    *
    * @return `victims` (empty: nothing is staged or committed)
    */
  private def rewriteFiles(spark: SparkSession, root: String, op: String,
      prefix: String, partCols: Seq[String], victims: Seq[String],
      onBeforeCommit: () => Unit,
      adjustNext: DataFrame => DataFrame = identity)(
      stageRows: DataFrame => DataFrame = identity): Seq[String] = {
    val stage = s"$root/_${op}_stage"
    @scala.annotation.tailrec
    def attempt(sigAttempts: Int): Unit = {
      // per-file delta signature BEFORE the staging scan: if a delete
      // lands during staging, the post-move re-check differs and we
      // restage (bounded; the delete-side fence covers the
      // unbounded-churn case)
      val sig0 = victims.map(f => f -> DvBlobs.signature(root, f)).toMap
      val meta = currentMeta(spark, root)
      hfs(spark, root).delete(new Path(stage), true)
      toPhysicalCols(stageRows(rewriteSource(spark, root,
          entriesOf(spark, victims), meta)), meta)
        .write.mode("overwrite").partitionBy(partCols: _*).parquet(stage)
      val moved = moveStaged(spark, root, stage, prefix)
      if (victims.map(f => f -> DvBlobs.signature(root, f)).toMap != sig0) {
        // a delete raced the staging scan: the staged replacements'
        // masks lack its victims. NEVER commit a stale stage —
        // committing would rest correctness on the racing deleter
        // surviving to run its post-write fence (a deleter that
        // crashes after its deltas land but before fencing would have
        // its delete silently resurrected). Restage (bounded), then
        // fail loudly like delete's retry cap.
        require(sigAttempts < 3,
          s"$op restaged 3 times and a concurrent delete raced each " +
            s"attempt on $root — rerun when the delete storm subsides " +
            "(abandoned staged files are vacuum fodder)")
        attempt(sigAttempts + 1)
      } else {
        val movedStats =
          if (moved.isEmpty) emptyStatsFrame(spark)
          // manifest-fed relation, not parquet(strings): explicit
          // path strings re-encode escaped partition segments
          else perFileStats(relationOver(spark, root,
            entriesOf(spark, moved), meta), meta.statsSchema)
        onBeforeCommit()
        // anti-join, not isin, and no broadcast HINT: victims can
        // approach the full file count after a broad delete — an
        // IN-list would be a manifest-sized plan literal, and at ~10M
        // files a forced broadcast is GB-scale (AQE picks BHJ while
        // small and the shuffle form past the threshold)
        val vicDf = spark.createDataset(victims)(
          org.apache.spark.sql.Encoders.STRING).toDF("file")
        // the CAS loop REBASES: an append/upsert landing mid-rewrite
        // only ADDS files — (latest − victims) ∪ replacements keeps
        // the racer's files live
        sentinelFlip(spark, root, op) { (_, latest) =>
          adjustNext(latest.join(vicDf, Seq("file"), "left_anti")
            .unionByName(ensureMetaCols(movedStats.withColumn(
              "cdc_batch", lit(lastCdcBatch(spark, root))))))
        }: Unit
      }
    }
    if (victims.nonEmpty) attempt(0)
    victims
  }

  /** RESTORE the table to committed manifest version `v`: publish a
    * NEW version whose live set, schema, and layout are exactly `v`'s
    * (the Delta `RESTORE TABLE` shape — history moves FORWARD; nothing
    * is rewound or deleted, so concurrent readers and time travel keep
    * working and a bad restore is itself restorable). Zero data bytes
    * move: the commit is one manifest write.
    *
    * Semantics that differ from Delta, both pinned by the layer's
    * existing contracts:
    *  - tombstones are GLOBAL AND CURRENT (retroactive deletes — the
    *    right-to-be-forgotten rule): restoring does NOT resurrect
    *    deleted rows, it restores the FILE SET (un-doing appends,
    *    upserts' new images, purge rewrites);
    *  - the CDC high-water mark is carried FORWARD (`greatest` of the
    *    restored sentinel's and the current one), so an exactly-once
    *    CDC stream never re-applies batches it already applied.
    *
    * Fails loudly if `v`'s files were vacuumed (checked before the
    * CAS), if `v` was never committed, or if its manifest version was
    * itself vacuumed. Restoring to the current version is a no-op.
    *
    * Concurrency contract — CONFLICT-DETECTING, one CAS attempt:
    * unlike purge/pack/zorder, whose CAS loops REBASE a racing
    * append's files into the next manifest, a restore's next state IS
    * version v's file set — rebasing makes no sense, and silently
    * retrying onto a newer base (the round-11 behavior) would DROP an
    * append that was already acknowledged to its caller. Instead the
    * restore reads the base version once and publishes exactly once:
    * if ANY rival commit lands inside the restore window the CAS
    * fails and restore throws `ConcurrentModificationException` —
    * nothing committed, no acknowledged write lost; the caller
    * re-runs the restore to make v's content the newest state
    * (explicitly choosing to supersede the rival commit, whose files
    * stay intact on disk as time-travel/vacuum inventory).
    * Maintenance (purge/pack/zorder/vacuum) is excluded by the claim;
    * DvRaceSpec pins the append race.
    *
    * @return the NEW manifest version serving `v`'s content (or `v`
    *         itself when already current)
    */
  def restore(spark: SparkSession, root: String, v: Long,
      onBeforeCas: () => Unit = () => ()): Long = {
    val mt = manifestTable(root)
    require(Snapshots.committedVersions(spark, mt).contains(v),
      s"cannot restore $root to version $v: not a committed manifest " +
        "version (never committed, or vacuumed from the log)")
    withMaintenance(spark, root) {
      // files referenced by v but absent from the CURRENT live set may
      // have been vacuumed — verify existence BEFORE committing a
      // manifest that would point at missing data. Only the difference
      // set needs checking; past a threshold the exists() probes run
      // on the EXECUTORS (a long-diverged restore on a large table
      // would otherwise serialize millions of driver RPCs).
      val targetFiles = entriesAt(spark, root, v).map(_.path)
      val curLive = liveEntries(spark, root).map(_.path).toSet
      val candidates = targetFiles.filterNot(curLive)
      val missing =
        if (candidates.size <= 256) {
          val f = hfs(spark, root)
          candidates.filterNot(p => f.exists(GraftDvApi.pathOf(p)))
        } else {
          import spark.implicits._
          spark.createDataset(candidates)
            .mapPartitions { it =>
              val conf = new org.apache.hadoop.conf.Configuration()
              it.filterNot { p =>
                val hp = GraftDvApi.pathOf(p)
                hp.getFileSystem(conf).exists(hp)
              }
            }.collect().toSeq
        }
      require(missing.isEmpty,
        s"cannot restore $root to version $v: ${missing.size} of its " +
          s"data files were vacuumed (e.g. ${missing.take(3).mkString(", ")})")
      // ONE CAS attempt against the entry-time base — a failed CAS
      // means a rival commit was acknowledged inside the restore
      // window, and silently retrying onto it would drop that commit
      // from the live set. Fail loudly instead; the caller re-runs.
      val base = Snapshots.latestVersion(spark, mt).get
      if (base == v) v
      else {
        val hw = lastCdcBatch(spark, root)
        val next = withSentinelOp(
            ensureMetaCols(Snapshots.readVersion(spark, mt, v)), "restore")
          .withColumn("cdc_batch", when(col("file") === Sentinel,
            greatest(col("cdc_batch"), lit(hw))).otherwise(col("cdc_batch")))
        onBeforeCas()
        if (!Snapshots.publishCas(spark, mt, base, next))
          throw new java.util.ConcurrentModificationException(
            s"RESTORE of $root to version $v aborted: a concurrent " +
              s"commit landed after version $base during the restore " +
              "window — nothing was changed; re-run the restore to " +
              "supersede it")
        base + 1
      }
    }
  }

  /** Partition scope for bounded maintenance (`OPTIMIZE t WHERE
    * ...`): evaluate an arbitrary deterministic predicate over the
    * PARTITION COLUMNS (string-typed, the file-index rule — ISO dates
    * compare lexicographically) against the distinct partition-value
    * vectors of the live set, and return the member files. Partition-
    * cardinality scale: the predicate runs over one tiny local frame,
    * never the data. A predicate referencing a non-partition column
    * fails in analysis — loudly, by construction.
    */
  private def scopedFiles(spark: SparkSession, root: String,
      partCols: Seq[String], where: String): Set[String] = {
    // only CURRENT-layout files: an evolved table's old-generation
    // files carry different value vectors (migrateLayout owns them)
    val entries = liveEntries(spark, root).filter(e =>
      GraftDvApi.parsePartitions(e.path).map(_._1) == partCols)
    if (entries.isEmpty) return Set.empty
    val pv = entries.map(_.partValues).distinct
    val schema = org.apache.spark.sql.types.StructType(partCols.map(c =>
      org.apache.spark.sql.types.StructField(c,
        org.apache.spark.sql.types.StringType)))
    val df = spark.createDataFrame(
      new java.util.ArrayList(pv.map(v =>
        org.apache.spark.sql.Row.fromSeq(v)).asJava), schema)
    val keep = df.filter(expr(where)).collect()
      .map(_.toSeq.map(String.valueOf)).toSet
    entries.filter(e => keep.contains(e.partValues.map(String.valueOf)))
      .map(_.path).toSet
  }

  /** Bin-pack SMALL live files: within each partition directory,
    * rewrite every live file under `minBytes` (when two or more share
    * the dir — a single sliver has nothing to merge with) into one
    * replacement per dir, behind [[rewriteFiles]] (masks fold into
    * the replacements; dead originals are vacuum fodder).
    *
    * This is the file-COUNT half of OPTIMIZE that [[purge]]'s
    * tombstone-fraction rule never fires on: a CDC trickle appends a
    * sliver per batch per partition, and at 100 TB the file count —
    * listing cost, task startup, footer overhead, manifest rows — is
    * the bottleneck long before deleted fractions are. Planning is
    * pure MANIFEST math (the [[GraftDvApi.LiveFile]] entries carry
    * bytes + partition values — no filesystem listing); execution is
    * one masked scan of the victims hash-routed by partition values,
    * so each partition's slivers land in one task and one file.
    *
    * @return the replaced (dead) files
    */
  def compactSmallFiles(spark: SparkSession, root: String,
      minBytes: Long = 64L * 1024 * 1024,
      onBeforeCommit: () => Unit = () => (),
      scope: Option[String] = None): Seq[String] =
    withMaintenance(spark, root)(
      packSmallFiles(spark, root, minBytes, onBeforeCommit, scope))

  /** [[compactSmallFiles]]' body; the caller holds the claim. */
  private def packSmallFiles(spark: SparkSession, root: String,
      minBytes: Long, onBeforeCommit: () => Unit,
      scope: Option[String]): Seq[String] = {
    val partCols = partitionColsOf(spark, root)
    require(partCols.nonEmpty,
      s"graft-dv table at $root has no recoverable partition layout")
    val inScope = scope.map(scopedFiles(spark, root, partCols, _))
    val groups = liveEntries(spark, root)
      .filter(e => GraftDvApi.parsePartitions(e.path)
        .map(_._1) == partCols) // migrateLayout owns old layouts
      .filter(e => inScope.forall(_.contains(e.path)))
      .filter(_.bytes < minBytes)
      .groupBy(_.partValues).filter(_._2.size >= 2)
    val victims = groups.values.flatten.map(_.path).toSeq
    // per-group bin counts so no replacement exceeds the split
    // target even when a dir holds many slivers (the Compaction
    // broadcast-plan shape: the plan frame is partitions x 1 int)
    val target = math.max(1L,
      spark.sessionState.conf.filesMaxPartitionBytes)
    val binsOf = groups.map { case (pv, es) =>
      pv -> math.max(1, (es.map(_.bytes).sum / target).toInt + 1) }
    rewriteFiles(spark, root, "compact", "packed", partCols, victims,
        onBeforeCommit) { scan =>
      val planRows = binsOf.toSeq.map { case (pv, b) =>
        org.apache.spark.sql.Row.fromSeq(pv :+ b) }
      val planDf = spark.createDataFrame(
        new java.util.ArrayList(planRows.asJava),
        org.apache.spark.sql.types.StructType(
          partCols.map(c => org.apache.spark.sql.types.StructField(c,
            org.apache.spark.sql.types.StringType)) :+
            org.apache.spark.sql.types.StructField("__bins",
              org.apache.spark.sql.types.IntegerType)))
      val dataCols = scan.columns.filterNot(partCols.contains).toSeq
      scan.join(broadcast(planDf), partCols)
        .withColumn("__bin",
          pmod(hash(dataCols.map(col): _*), col("__bins")))
        .repartition(math.max(1, binsOf.values.sum),
          (partCols.map(col) :+ col("__bin")): _*)
        .drop("__bin", "__bins")
    }
  }

  /** SHALLOW CLONE: create a NEW table at `dstRoot` whose v1 manifest
    * references `srcRoot`'s data files AS OF `version` (default: the
    * latest committed) — zero data bytes copied; only the manifest
    * and the tombstone sidecar (metadata-scale: O(deleted rows), not
    * O(data)) are written under the clone. The sidecar copy is what
    * keeps the pinned retroactive-delete rule intact on the clone at
    * its creation instant: the mask resolves blobs under the READING
    * table's root, so a clone without the blobs would resurrect every
    * deleted row.
    *
    * After the clone, the tables diverge freely: clone deletes land
    * in the clone's own sidecar; clone appends/purges write under the
    * clone's data dir (a purge gradually un-shares the hot files);
    * clone vacuum can never reclaim a source file because its sweep
    * walks only the clone's data dir. The one shared-fate hazard is
    * the standard shallow-clone contract: a VACUUM on the SOURCE can
    * reclaim files the clone still references — run `purge` on the
    * clone (rewriting shared files under its own root) before
    * vacuuming a source you intend to keep mutating.
    *
    * @return the clone's first manifest version (always 1)
    */
  def shallowClone(spark: SparkSession, srcRoot: String,
      dstRoot: String, version: Option[Long] = None): Long = {
    val srcMt = manifestTable(srcRoot)
    val v = version.getOrElse(Snapshots.latestVersion(spark, srcMt)
      .getOrElse(throw new IllegalArgumentException(
        s"no graft-dv table at $srcRoot")))
    require(Snapshots.committedVersions(spark, srcMt).contains(v),
      s"cannot clone $srcRoot at version $v: not a committed manifest " +
        "version (never committed, or vacuumed from the log)")
    require(!exists(spark, dstRoot),
      s"a graft-dv table already exists at $dstRoot")
    val f = hfs(spark, dstRoot)
    f.delete(new Path(dstRoot), true)
    // an empty data dir so maintenance sweeps (vacuum's distributed
    // listing) have a root to walk before the first local write
    f.mkdirs(new Path(dataDir(dstRoot)))
    // sidecar travels with the clone (metadata-scale file copy)
    val srcDv = new Path(dvDir(srcRoot))
    val srcFs = hfs(spark, srcRoot)
    if (srcFs.exists(srcDv))
      org.apache.hadoop.fs.FileUtil.copy(srcFs, srcDv, f,
        new Path(dvDir(dstRoot)), false, true,
        spark.sparkContext.hadoopConfiguration): Unit
    writeTableId(spark, dstRoot)
    val next = withSentinelOp(
      ensureMetaCols(Snapshots.readVersion(spark, srcMt, v)), "clone")
    Snapshots.publish(spark, manifestTable(dstRoot), next)
  }

  /** Metadata-only manifest flip: publish base+1 = `next(base,
    * latest-with-op)` behind the CAS loop — the commit shape shared by
    * the ALTER family (schema/constraint changes move ZERO data bytes;
    * the sentinel is the whole diff).
    */
  private def sentinelFlip(spark: SparkSession, root: String,
      op: String)(next: (Long, DataFrame) => DataFrame): Long = {
    requireWriterFeatures(spark, root)
    val mt = manifestTable(root)
    var out = -1L
    var casAttempts = 0
    while (out < 0) {
      casAttempts = boundedCasRetry(root, casAttempts)
      val base = latestV(spark, root)
      val latest = withSentinelOp(
        ensureMetaCols(Snapshots.readVersion(spark, mt, base)), op)
      if (Snapshots.publishCas(spark, mt, base, next(base, latest)))
        out = base + 1
    }
    out
  }

  /** `ALTER TABLE ... ADD COLUMNS`: widen the committed schema by
    * `add` (nullable — old files null-fill at read, the same
    * parquet missing-column rule the append-side evolution uses)
    * behind ONE metadata-only manifest flip. Validation runs against
    * the REBASED base inside the CAS loop, so two racing alters adding
    * the same name cannot both commit. Time travel to pre-alter
    * versions keeps reading under their own sentinel schema.
    */
  def alterAddColumns(spark: SparkSession, root: String,
      add: org.apache.spark.sql.types.StructType): Long = {
    require(add.nonEmpty, "ALTER TABLE ADD COLUMNS takes at least one column")
    sentinelFlip(spark, root, "alter") { (base, latest) =>
      val meta = metaAt(spark, root, base)
      add.fields.foreach { fd =>
        require(!meta.dataSchema.fieldNames.contains(fd.name) &&
            !meta.partCols.contains(fd.name),
          s"column ${fd.name} already exists on the graft-dv table at $root")
        // DEFAULT validation through Spark's own resolver: foldable,
        // type-coercible to the column — fails loudly here, never at
        // read time
        if (fd.metadata.contains(org.apache.spark.sql.catalyst.util
            .ResolveDefaultColumns.CURRENT_DEFAULT_COLUMN_METADATA_KEY))
          org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
            .analyze(fd, "ALTER TABLE ADD COLUMNS"): Unit
      }
      // a new column whose name some dropped/renamed column still
      // occupies PHYSICALLY gets a generated physical name — reusing
      // the bytes-on-disk name would resurrect the old column's data
      // in existing files (the Delta column-mapping rule)
      val newMappings = add.fields.toSeq.flatMap { fd =>
        if (!meta.usedPhysicalNames.contains(fd.name)) None
        else {
          val taken = meta.usedPhysicalNames ++
            meta.dataSchema.fieldNames.map(meta.physicalName) ++
            meta.partCols
          val phys = Iterator.from(base.toInt + 1)
            .map(v => s"${fd.name}_p$v").find(!taken.contains(_)).get
          Some(fd.name -> phys)
        }
      }
      val merged = org.apache.spark.sql.types.StructType(
        meta.dataSchema.fields ++ add.fields.map(_.copy(nullable = true)))
      val feats =
        if (newMappings.isEmpty) meta.features
        else meta.features + "column-mapping"
      withColMap(withFeatures(latest, feats),
          meta.colMap ++ newMappings, meta.droppedPhys)
        .withColumn("schema_json", when(col("file") === Sentinel,
          lit(merged.json)).otherwise(col("schema_json")))
    }
  }

  /** Stamp the column-mapping state onto a next-manifest frame's
    * sentinel (file rows keep null — mapping is table-level).
    */
  private def withColMap(next: DataFrame, colMap: Map[String, String],
      droppedPhys: Seq[String]): DataFrame = {
    val cm =
      if (colMap.isEmpty) lit(null).cast("map<string,string>")
      else map(colMap.toSeq.sortBy(_._1)
        .flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
    val dc =
      if (droppedPhys.isEmpty) lit(null).cast("string")
      else lit(droppedPhys.mkString("\n"))
    next
      .withColumn("col_map",
        when(col("file") === Sentinel, cm)
          .otherwise(lit(null).cast("map<string,string>")))
      .withColumn("dropped_cols",
        when(col("file") === Sentinel, dc)
          .otherwise(lit(null).cast("string")))
  }

  /** Stamp a feature set onto a next-manifest frame's sentinel. */
  private def withFeatures(next: DataFrame,
      feats: Set[String]): DataFrame = {
    val v =
      if (feats.isEmpty) lit(null).cast("string")
      else lit(feats.toSeq.sorted.mkString("\n"))
    next.withColumn("features",
      when(col("file") === Sentinel, v)
        .otherwise(lit(null).cast("string")))
  }

  /** Column names a CHECK constraint expression references (parsed,
    * not substring-matched — `a_b > 0` must not pin column `a`).
    */
  private def constraintRefs(spark: SparkSession, e: String): Set[String] =
    spark.sessionState.sqlParser.parseExpression(e).collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        a.nameParts.head
    }.toSet

  /** Shared validation for RENAME/DROP COLUMN: only PLAIN DATA
    * columns are eligible. Partition columns (current layout or any
    * live old generation — their names are baked into file paths),
    * declared stats columns (their names key every manifest row's
    * min/max maps), and constraint-referenced columns (their names
    * are baked into stored SQL expressions) refuse loudly with the
    * unblocking verb named.
    */
  private def requirePlainDataColumn(spark: SparkSession, root: String,
      meta: TableMeta, name: String, verb: String): Unit = {
    require(meta.dataSchema.fieldNames.contains(name) ||
        meta.partCols.contains(name),
      s"$verb: column $name does not exist on the graft-dv table at " +
        s"$root (have ${meta.fullSchema.fieldNames.mkString(", ")})")
    require(!meta.partCols.contains(name),
      s"$verb: $name is a partition column — its name is the hive " +
        "path layout; SET PARTITIONING to a different layout (and " +
        "OPTIMIZE ... MIGRATE) first")
    require(!meta.oldLayouts.exists(_.contains(name)),
      s"$verb: $name is a partition column of a live old layout " +
        "generation — run OPTIMIZE ... MIGRATE to convergence first")
    require(!meta.statsSchema.fieldNames.contains(name),
      s"$verb: $name is a declared stats column (its name keys the " +
        "manifest's per-file min/max) — not supported")
    val pinned = meta.constraints.filter { case (_, e) =>
      constraintRefs(spark, e).contains(name) }
    require(pinned.isEmpty,
      s"$verb: $name is referenced by CHECK constraint(s) " +
        s"${pinned.keys.mkString(", ")} — DROP CONSTRAINT first")
    require(!indexKeyCol(spark, root).contains(name),
      s"$verb: $name is the skipping-index key column (the _keycol " +
        "marker binds the bloom/min-max sidecar to it by name; a " +
        "rename would brick autoRefreshIndex and a same-name re-ADD " +
        "would prune with the WRONG column's index) — DROP INDEX on " +
        "the table first")
  }

  /** `ALTER TABLE ... RENAME COLUMN from TO to` — COLUMN MAPPING, the
    * Delta/Iceberg hallmark: one metadata-only manifest flip renames
    * the LOGICAL column; the PHYSICAL parquet field name stays frozen
    * at whatever the column was first written as, so every existing
    * file remains readable with zero rewrites, new writes keep the
    * one physical layout, and time travel to pre-rename versions
    * reads under the old name. Plain data columns only (see
    * [[requirePlainDataColumn]]).
    */
  def alterRenameColumn(spark: SparkSession, root: String,
      from: String, to: String): Long = {
    require(from != to, s"RENAME COLUMN $from TO $to is a no-op")
    sentinelFlip(spark, root, "alter") { (base, latest) =>
      val meta = metaAt(spark, root, base)
      requirePlainDataColumn(spark, root, meta, from, "RENAME COLUMN")
      require(!meta.dataSchema.fieldNames.contains(to) &&
          !meta.partCols.contains(to),
        s"RENAME COLUMN: $to already exists on the graft-dv table " +
          s"at $root")
      val phys = meta.physicalName(from)
      val newMap0 = (meta.colMap - from) ++
        (if (phys == to) Map.empty[String, String] else Map(to -> phys))
      val renamed = org.apache.spark.sql.types.StructType(
        meta.dataSchema.fields.map(f =>
          if (f.name == from) f.copy(name = to) else f))
      withColMap(withFeatures(latest, meta.features + "column-mapping"),
          newMap0, meta.droppedPhys)
        .withColumn("schema_json", when(col("file") === Sentinel,
          lit(renamed.json)).otherwise(col("schema_json")))
    }
  }

  /** `ALTER TABLE ... DROP COLUMN name` — metadata-only: the logical
    * column disappears from the schema in one manifest flip; the
    * physical bytes stay in existing files (dead weight until natural
    * rewrites — purge/pack/zorder — shed them, exactly Delta's DROP
    * semantics). The retired physical name is remembered so a later
    * ADD COLUMNS of the same name cannot resurrect the old data.
    * Plain data columns only; time travel to pre-drop versions still
    * reads the column.
    */
  def alterDropColumn(spark: SparkSession, root: String,
      name: String): Long =
    sentinelFlip(spark, root, "alter") { (base, latest) =>
      val meta = metaAt(spark, root, base)
      requirePlainDataColumn(spark, root, meta, name, "DROP COLUMN")
      require(meta.dataSchema.length > 1,
        s"DROP COLUMN: $name is the table's last data column")
      val phys = meta.physicalName(name)
      val remaining = org.apache.spark.sql.types.StructType(
        meta.dataSchema.fields.filterNot(_.name == name))
      withColMap(withFeatures(latest, meta.features + "column-mapping"),
          meta.colMap - name, (meta.droppedPhys :+ phys).distinct)
        .withColumn("schema_json", when(col("file") === Sentinel,
          lit(remaining.json)).otherwise(col("schema_json")))
    }

  /** The live column mapping (logical → physical) — the write-side
    * hook [[graft.sources.DvDeltaWrite]] uses to lay staged parquet
    * out under the frozen physical names.
    */
  private[graft] def columnMappingOf(spark: SparkSession,
      root: String): Map[String, String] =
    currentMeta(spark, root).colMap

  /** Map a write schema's field names logical→physical for the DSv2
    * executor writers (identity when no column was ever renamed).
    */
  private[graft] def physicalWriteSchema(spark: SparkSession,
      root: String, schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    val cm = columnMappingOf(spark, root)
    if (cm.isEmpty) schema
    else org.apache.spark.sql.types.StructType(schema.fields.map(f =>
      f.copy(name = cm.getOrElse(f.name, f.name))))
  }

  /** The table's CHECK constraints (name → boolean SQL expression). */
  def constraintsOf(spark: SparkSession,
      root: String): Map[String, String] =
    currentMeta(spark, root).constraints

  private def oldLayoutsJson(layouts: Seq[Seq[String]]): String =
    layouts.map(partColsJson).mkString("\n")

  /** PARTITION EVOLUTION (`ALTER TABLE t SET PARTITIONING (...)`) —
    * the Iceberg hallmark: change the partition columns of a LIVE
    * table in one metadata-only manifest flip. Existing files stay
    * queryable under THEIR layout (a file's layout is its hive path
    * chain — the per-file spec record); new writes land under the
    * new one; the read path unions one manifest-fed relation per
    * layout generation so partition pruning works on each
    * ([[posScan]]). A column leaving the layout joins the data
    * schema as STRING (its values only ever existed as path
    * strings); a column entering it must already be a STRING column
    * of the full schema. [[migrateLayout]] (SQL: `OPTIMIZE ...
    * MIGRATE`) rewrites old-generation files into the current layout
    * and, once none remain, clears the evolution flag — restoring
    * the single-layout lazy-manifest read path.
    */
  def setPartitioning(spark: SparkSession, root: String,
      newCols: Seq[String]): Long = {
    require(newCols.nonEmpty,
      "SET PARTITIONING takes at least one column (the layer's layout " +
        "unit is the hive partition directory)")
    sentinelFlip(spark, root, "alter") { (base, latest) =>
      val meta = metaAt(spark, root, base)
      require(newCols != meta.partCols,
        s"table is already partitioned by ${newCols.mkString(",")}")
      val full = meta.fullSchema
      newCols.foreach { c =>
        val fd = full.fields.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(
            s"partition column $c is not a column of the table " +
              s"(have ${full.fieldNames.mkString(", ")})"))
        require(fd.dataType ==
            org.apache.spark.sql.types.StringType,
          s"partition columns are STRING by the file-index rule; " +
            s"$c is ${fd.dataType.sql} — add a derived string column " +
            "and partition by that")
      }
      val newData = org.apache.spark.sql.types.StructType(
        full.filterNot(fd => newCols.contains(fd.name)))
      val olds = (meta.oldLayouts :+ meta.partCols)
        .distinct.filterNot(_ == newCols)
      withFeatures(latest, meta.features + "partition-evolution")
        .withColumn("schema_json", when(col("file") === Sentinel,
          lit(newData.json)).otherwise(col("schema_json")))
        .withColumn("part_cols", when(col("file") === Sentinel,
          lit(partColsJson(newCols))).otherwise(col("part_cols")))
        .withColumn("old_layouts", when(col("file") === Sentinel,
          lit(oldLayoutsJson(olds))).otherwise(col("old_layouts")))
    }
  }

  /** Rewrite old-generation live files into the CURRENT layout — the
    * bounded migration sweep that pairs with [[setPartitioning]]
    * (Iceberg leaves old specs forever; we let the operator converge
    * the table and get the lazy single-layout read path back).
    * `scope`: a predicate over each old file's OWN partition columns
    * (evaluated per layout generation against the parsed path
    * values), so migration is O(scoped files). Runs behind
    * [[rewriteFiles]], whose one CAS flip also CLEARS the evolution
    * flag when no old-generation file remains live.
    *
    * @return the migrated (replaced) file paths
    */
  def migrateLayout(spark: SparkSession, root: String,
      scope: Option[String] = None,
      onBeforeCommit: () => Unit = () => ()): Seq[String] =
    withMaintenance(spark, root) {
      val meta = currentMeta(spark, root)
      val partCols = meta.partCols
      val old = liveEntries(spark, root).filter(e =>
        GraftDvApi.parsePartitions(e.path).map(_._1) != partCols)
      val victims = scope match {
        case None => old.map(_.path)
        case Some(where) =>
          // evaluate per OLD layout generation over its own columns
          old.groupBy(e =>
              GraftDvApi.parsePartitions(e.path).map(_._1))
            .toSeq.flatMap { case (layout, es) =>
              val schema = org.apache.spark.sql.types.StructType(
                layout.map(c => org.apache.spark.sql.types.StructField(
                  c, org.apache.spark.sql.types.StringType)))
              val pv = es.map(_.partValues).distinct
              val keep = spark.createDataFrame(
                  new java.util.ArrayList(pv.map(v =>
                    org.apache.spark.sql.Row.fromSeq(v)).asJava), schema)
                .filter(expr(where)).collect()
                .map(_.toSeq.map(String.valueOf)).toSet
              es.filter(e => keep.contains(
                e.partValues.map(String.valueOf))).map(_.path)
            }
      }
      val clearFlag: DataFrame => DataFrame =
        _.withColumn("old_layouts", when(col("file") === Sentinel,
          lit(null).cast("string")).otherwise(col("old_layouts")))
      if (victims.isEmpty) {
        // nothing (left) to migrate: clear the evolution flag when
        // the WHOLE table is current-layout again
        if (old.isEmpty && meta.oldLayouts.nonEmpty)
          sentinelFlip(spark, root, "migrate")((_, latest) =>
            clearFlag(latest)): Unit
        Seq.empty
      } else {
        val clearsFlag = scope.isEmpty ||
          old.map(_.path).forall(victims.contains)
        rewriteFiles(spark, root, "migrate", "migrated", partCols,
          victims, onBeforeCommit,
          if (clearsFlag) clearFlag else identity)()
      }
    }

  /** `ALTER TABLE ... ADD CONSTRAINT name CHECK (expr)`: record a
    * CHECK constraint in the sentinel (enforced on every mutating
    * write through [[appendCommitted]] — only FALSE violates, NULL
    * passes, the SQL three-valued rule). Like Delta, the EXISTING rows
    * must already satisfy it (one masked-scan validation pass before
    * the metadata-only flip).
    */
  def alterAddConstraint(spark: SparkSession, root: String,
      name: String, check: String,
      onBeforeCommit: () => Unit = () => ()): Long = {
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"constraint name must be an identifier; got '$name'")
    def assertHolds(df: DataFrame): Unit = {
      val violating = df
        .filter(coalesce(expr(check), lit(true)) === false).limit(1).count()
      require(violating == 0,
        s"cannot add CHECK constraint $name on $root: existing rows " +
          s"violate ($check)")
    }
    // full validation pass against the version visible NOW; the CAS
    // closure below re-validates any files a racing write added past
    // this version (file content is immutable and tombstones only
    // REMOVE rows, so added files are the only way the check can turn
    // false — the delta validation is sound and O(raced files))
    var validatedV = latestV(spark, root)
    assertHolds(readVersion(spark, root, validatedV))
    onBeforeCommit() // test hook: the validated-but-unflipped window
    sentinelFlip(spark, root, "alter") { (base, latest) =>
      val baseMeta = metaAt(spark, root, base)
      require(!baseMeta.constraints.contains(name),
        s"constraint $name already exists on the graft-dv table at $root")
      if (base != validatedV) {
        val seen = entriesAt(spark, root, validatedV).map(_.path).toSet
        val added = entriesAt(spark, root, base)
          .filterNot(e => seen.contains(e.path))
        if (added.nonEmpty)
          assertHolds(posScan(spark, root, Listed(added, baseMeta))
            .drop("__file", "__pos"))
        validatedV = base
      }
      latest.withColumn("constraints", when(col("file") === Sentinel,
          map_concat(coalesce(col("constraints"),
            map().cast("map<string,string>")),
            map(lit(name), lit(check))))
        .otherwise(col("constraints")))
    }
  }

  /** `ALTER TABLE ... DROP CONSTRAINT name` — metadata-only flip. */
  def alterDropConstraint(spark: SparkSession, root: String,
      name: String): Long =
    sentinelFlip(spark, root, "alter") { (base, latest) =>
      require(metaAt(spark, root, base).constraints.contains(name),
        s"no CHECK constraint named $name on the graft-dv table at $root")
      latest.withColumn("constraints", when(col("file") === Sentinel,
          map_filter(col("constraints"), (k, _) => k =!= name))
        .otherwise(col("constraints")))
    }

  /** `OPTIMIZE ... ZORDER BY (c1[, c2])`: rewrite every live file with
    * rows clustered by the Morton code of the (range-normalized) z
    * columns — one or two dimensions — so each file covers a tight
    * bounding box in z-space and the MANIFEST's per-file min/max stats
    * (plus parquet row-group stats) prune box predicates on EITHER
    * dimension. The rewrite materializes the current mask (tombstones
    * fold into the replacements) and commits behind
    * [[rewriteFiles]]; the dead originals are vacuum fodder.
    *
    * This is the expensive, explicitly-requested layout operation
    * (Delta's OPTIMIZE ZORDER): a full rewrite of the live bytes —
    * never triggered implicitly. Returns the replaced files.
    *
    * INCREMENTAL mode (the liquid-clustering shape): rewrite ONLY the
    * live files a previous zorder did not produce — clusteredness is
    * a property of the FILE (its `zordered-` replacement name), so a
    * CDC trickle's appended slivers re-cluster in O(new bytes) while
    * every previously-clustered file stays byte-identical, and an
    * append racing the commit (whose files the CAS rebase keeps) is
    * simply picked up by the NEXT incremental pass instead of being
    * skipped forever. Files a later purge/pack rewrote lose the name
    * and re-cluster — wasteful at worst, never wrong. The clustering
    * columns are pinned in a `_zorder_cols` marker: an incremental
    * pass with DIFFERENT columns refuses loudly (its skipped files
    * would be clustered by the wrong key), a full pass re-pins.
    */
  def zorder(spark: SparkSession, root: String, zCols: Seq[String],
      onBeforeCommit: () => Unit = () => (),
      scope: Option[String] = None,
      incremental: Boolean = false): Seq[String] = {
    require(zCols.nonEmpty && zCols.size <= 2,
      s"ZORDER BY takes 1 or 2 columns; got ${zCols.mkString(", ")}")
    withMaintenance(spark, root) {
      val partCols = partitionColsOf(spark, root)
      require(partCols.nonEmpty,
        s"graft-dv table at $root has no recoverable partition layout")
      zCols.foreach(c => require(!partCols.contains(c),
        s"ZORDER BY column $c is a partition column — partition values " +
          "are constant within a file; z-ordering them is a no-op"))
      if (incremental) zorderColsMarker(spark, root) match {
        case Some(pinned) =>
          require(pinned == zCols,
            s"OPTIMIZE INCREMENTAL ZORDER BY (${zCols.mkString(", ")}) " +
              s"does not match the table's pinned clustering columns " +
              s"(${pinned.mkString(", ")}) — run a FULL OPTIMIZE ... " +
              "ZORDER BY to re-cluster under the new key")
        case None =>
          // r14 ADVICE companion: no pin + clustered-named files means
          // the pin was invalidated (a WHERE-scoped pass under a
          // different key) or lost — skipping by name would trust
          // files clustered by an unknown key
          require(!liveEntries(spark, root).exists(e =>
              new Path(e.path).getName.startsWith("zordered-")),
            "OPTIMIZE INCREMENTAL ZORDER: this table has " +
              "clustered-named files but no pinned clustering columns " +
              "(a scoped ZORDER under a different key invalidates the " +
              "pin) — run a full OPTIMIZE ... ZORDER BY first")
      }
      val inScope = scope.map(scopedFiles(spark, root, partCols, _))
      val live = liveEntries(spark, root)
        .filter(e => GraftDvApi.parsePartitions(e.path)
          .map(_._1) == partCols) // migrateLayout owns old layouts
        .filter(e => inScope.forall(_.contains(e.path)))
        .filter(e => !incremental ||
          !new Path(e.path).getName.startsWith("zordered-"))
        .map(_.path)
      // size the range shuffle by LIVE BYTES, not the session
      // shuffle default: a 100 TB rewrite needs bytes/
      // maxPartitionBytes tasks or every task spills, and a layout
      // rewrite must produce the same file granularity whatever
      // parallelism the session happens to run at (the determinism
      // probe re-runs under a different thread count). The floor of
      // 16 buckets keeps z-range SPLITTING — the whole point of the
      // op — even on tables small enough to fit one task.
      val liveBytes = liveEntries(spark, root)
        .filter(e => inScope.forall(_.contains(e.path)))
        .map(_.bytes).sum
      val targetBytes = math.max(1L,
        spark.sessionState.conf.filesMaxPartitionBytes)
      val shuffleN = math.max(16, math.min(
        (liveBytes / targetBytes).toInt + 1, 1 << 20))
      val rewritten = rewriteFiles(spark, root, "zorder", "zordered",
          partCols, live, onBeforeCommit) { scan =>
        // range-normalize each z column over the LIVE rows (one tiny
        // stats pass — the same pre-pass Delta's ZORDER does), then
        // interleave; single-column form is a plain range cluster
        val b = scan.agg(
          zCols.flatMap(c => Seq(min(col(c).cast("long")),
            max(col(c).cast("long")))).head,
          zCols.flatMap(c => Seq(min(col(c).cast("long")),
            max(col(c).cast("long")))).tail: _*).head()
        // an all-masked table has null ranges — any constant works
        def lv(i: Int) = if (b.isNullAt(i)) 0L else b.getLong(i)
        val norm = zCols.zipWithIndex.map { case (c, i) =>
          Compaction.normalize16(col(c), lit(lv(2 * i)),
            lit(lv(2 * i + 1))) }
        val z = if (norm.size == 2) Compaction.morton2(norm(0), norm(1))
          else norm.head
        scan.withColumn("__z", z)
          .repartitionByRange(shuffleN,
            (partCols.map(col) :+ col("__z")): _*)
          .sortWithinPartitions(
            (partCols.map(col) :+ col("__z")): _*)
          .drop("__z")
      }
      pinOrInvalidateZorderCols(spark, root, zCols, scope)
      rewritten
    }
  }

  /** The clustering columns the table was last z-ordered by, if any. */
  private def zorderColsMarker(spark: SparkSession,
      root: String): Option[Seq[String]] = {
    val p = new Path(s"$root/_zorder_cols")
    val f = hfs(spark, root)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try {
        val buf = new java.io.ByteArrayOutputStream(256)
        val bytes = new Array[Byte](256)
        var n = in.read(bytes)
        while (n > 0) { buf.write(bytes, 0, n); n = in.read(bytes) }
        val s = new String(buf.toByteArray, "UTF-8").trim
        if (s.isEmpty) None else Some(s.split("\n").toSeq)
      } finally in.close()
    }
  }

  /** Marker maintenance after a zorder pass, r14 ADVICE fix (low):
    * only an UNSCOPED full pass may (re)pin `_zorder_cols` — a
    * WHERE-scoped pass leaves out-of-scope files carrying `zordered-`
    * names earned under the OLD key, and re-pinning would make later
    * INCREMENTAL passes skip files clustered by the wrong key (the
    * exact hazard the pin guard exists to prevent). A scoped pass
    * whose columns differ from the pin instead CLEARS the marker: the
    * table now mixes clustering keys, so no incremental pass may
    * trust file names until a full pass re-pins. (A scoped pass
    * matching the pin changes nothing — the pin stays valid.)
    */
  private def pinOrInvalidateZorderCols(spark: SparkSession, root: String,
      zCols: Seq[String], scope: Option[String]): Unit =
    if (scope.isEmpty) writeZorderColsMarker(spark, root, zCols)
    else zorderColsMarker(spark, root).foreach { pinned =>
      if (pinned != zCols)
        hfs(spark, root).delete(new Path(s"$root/_zorder_cols"), false): Unit
    }

  /** r14 ADVICE fix (low): tmp + rename like every other marker in
    * this file (writeIntent/writeDelta) — a crash mid-write must not
    * leave a truncated marker that reads back as None (incremental
    * pin check silently skipped) or as a wrong column list. The
    * caller holds the maintenance claim, so the delete+rename pair
    * cannot race another marker writer.
    */
  private def writeZorderColsMarker(spark: SparkSession, root: String,
      zCols: Seq[String]): Unit = {
    val f = hfs(spark, root)
    val dest = new Path(s"$root/_zorder_cols")
    val tmp = new Path(s"$root/.zorder_cols.tmp-" +
      java.util.UUID.randomUUID().toString.take(12))
    val out = f.create(tmp, true)
    try out.write(zCols.mkString("\n").getBytes("UTF-8"))
    finally out.close()
    if (f.exists(dest)) f.delete(dest, false)
    if (!f.rename(tmp, dest)) {
      f.delete(tmp, false)
      throw new java.io.IOException(
        s"zorder-cols marker rename to $dest failed")
    }
  }

  /** Move staged partition dirs into the live data dirs under fresh
    * names (invisible until a manifest references them). Walks the
    * staged hive layout recursively, so any partition depth moves —
    * the relative `col=val/...` chain is preserved verbatim. Returned
    * strings are MANIFEST-SPACE (qualified + URL-encoded, see
    * [[GraftDvApi.LiveFile]]'s path-spaces note) — never raw
    * `Path.toString`, which diverges on escaped partition dirs.
    */
  private def moveStaged(spark: SparkSession, root: String,
      stage: String, prefix: String): Seq[String] = {
    val f = hfs(spark, root)
    val moved = Seq.newBuilder[String]
    val tag = java.util.UUID.randomUUID().toString.take(8)
    var i = 0
    def walk(dir: Path, rel: String): Unit =
      f.listStatus(dir).foreach { s =>
        if (s.isDirectory && s.getPath.getName.contains("="))
          walk(s.getPath,
            if (rel.isEmpty) s.getPath.getName
            else s"$rel/${s.getPath.getName}")
        else if (s.isFile && s.getPath.getName.endsWith(".parquet")) {
          val destDir =
            if (rel.isEmpty) new Path(dataDir(root))
            else new Path(s"${dataDir(root)}/$rel")
          f.mkdirs(destDir)
          val dest = new Path(destDir, s"$prefix-$tag-$i.parquet")
          i += 1
          require(f.rename(s.getPath, dest), s"rename to $dest failed")
          moved += GraftDvApi.urlOf(f.makeQualified(dest))
        }
      }
    walk(new Path(stage), "")
    f.delete(new Path(stage), true)
    moved.result()
  }

  // ---- upsert / CDC -----------------------------------------------------

  /** MERGE-ON-READ upsert: apply a change batch — updated rows and
    * fresh inserts — WITHOUT rewriting any existing file. Old images
    * of changed keys are tombstoned (O(changed rows) sidecar bytes,
    * through [[delete]] and its purge fencing), the new images land
    * as freshly APPENDED files, and one CAS manifest publish makes
    * both visible atomically.
    *
    * One-image-per-key guard: a batch carrying TWO images of one key
    * would double that key (the old image tombstones once, both new
    * images append). Without `latestBy` such a batch FAILS LOUDLY
    * (the Delta MERGE multiple-source-matches rule); with `latestBy`
    * the batch is first deduped to each key's highest `latestBy`
    * image — ties on (key, latestBy) still fail (no deterministic
    * winner exists).
    *
    * Contrast with `merge_upsert` (copy-on-write): MOR shifts rewrite
    * cost to the read-side mask, which [[purge]] bounds — at 100 TB a
    * CDC trickle copy-on-write amplifies every batch to the touched-
    * partition bytes; MOR writes just the changed rows and compacts
    * on its own schedule.
    *
    * @return (tombstoned old rows, appended files)
    */
  def upsert(spark: SparkSession, root: String, partCol: String,
      keyCol: String, changes: DataFrame,
      latestBy: Option[String] = None): (Long, Seq[String]) =
    applyChanges(spark, root, Seq(partCol), keyCol, changes, latestBy, None)

  /** Multi-level form: `partCols` outermost first. */
  def upsert(spark: SparkSession, root: String, partCols: Seq[String],
      keyCol: String, changes: DataFrame,
      latestBy: Option[String]): (Long, Seq[String]) =
    applyChanges(spark, root, partCols, keyCol, changes, latestBy, None)

  /** Streaming CDC batch apply with manifest-borne exactly-once:
    * no-ops (returning false) if `batchId`'s effects are already
    * committed. See the class doc's CDC section.
    */
  def applyCdcBatch(spark: SparkSession, root: String, partCol: String,
      keyCol: String, batch: DataFrame, batchId: Long,
      latestBy: Option[String] = None,
      autoCompactBlobsAt: Int = DefaultAutoCompactBlobs,
      autoPackFilesAt: Int = DefaultAutoPackFiles): Boolean = {
    if (isStreamReplay(spark, root, batchId)) false
    else {
      applyChanges(spark, root, Seq(partCol), keyCol, batch, latestBy,
        Some(batchId)): Unit
      if (autoCompactBlobsAt > 0)
        autoCompactBlobs(spark, root, autoCompactBlobsAt): Unit
      if (autoPackFilesAt > 0)
        autoPackFiles(spark, root, autoPackFilesAt): Unit
      autoRefreshIndex(spark, root): Unit
      true
    }
  }

  /** Replay decision for a streaming batch: a batch is a REPLAY (skip
    * it) only when it is at-or-below the high-water AND belongs to the
    * same stream lineage that set it. A different query id is a new
    * lineage — its batch ids restart at 0, and treating them as
    * replays would silently discard all its data (the round-11 sink
    * bug); it applies and takes ownership of the high-water via
    * [[commitMovedFiles]]'s takeover reset. The same rule covers a
    * high-water with NO recorded owner (batch [[applyCdcBatch]] calls):
    * a streaming query arriving over it is
    * still a new lineage, not a replay — the batch→stream handoff must
    * hand ownership over, never swallow the stream's restarted ids.
    * Only callers with no query id at all (batch tests, manual
    * applies) keep the plain high-water rule.
    */
  private[graft] def isStreamReplay(spark: SparkSession, root: String,
      batchId: Long): Boolean = {
    val (hw, hwStream) = cdcHighWater(spark, root)
    if (batchId > hw) false
    else {
      val qid = Option(
        spark.sparkContext.getLocalProperty("sql.streaming.queryId"))
      (qid, hwStream) match {
        case (Some(q), Some(h)) => q == h  // replay only within one lineage
        case (Some(_), None) => false      // stream over unowned hw: new lineage
        case (None, _) => true             // no query id: plain high-water
      }
    }
  }

  /** Default per-file delta-blob bound for [[autoCompactBlobs]]: a
    * file's mask resolution does one listing + K blob reads, so K is
    * the read-side tax a long-running CDC stream pays between
    * compactions. 8 keeps the tax ~one IO burst while folding rarely
    * enough that compaction cost amortizes over ≥8 delete batches.
    */
  val DefaultAutoCompactBlobs: Int = 8

  /** THRESHOLD-TRIGGERED blob compaction — the maintenance policy a
    * long-running CDC stream needs so its own delete trickle cannot
    * grow any file's blob directory without bound (every
    * [[applyCdcBatch]] appends one delta blob per touched file; after
    * K batches an untended dir costs K reads per mask resolution).
    * Folds ONLY directories past `maxBlobs` (one distributed pass,
    * the threshold check IS [[DvBlobs.compactDir]]'s minBlobs guard —
    * no separate listing job), and is OPPORTUNISTIC about the
    * maintenance claim: if purge/vacuum holds it, this returns
    * immediately and the next batch retries — ingest never blocks on
    * maintenance. DvCdcSpec pins the bound across a many-batch run.
    */
  def autoCompactBlobs(spark: SparkSession, root: String,
      maxBlobs: Int = DefaultAutoCompactBlobs): (Long, Long) =
    withMaintenance(spark, root, ifBusy = Some((0L, 0L)))(
      foldBlobs(spark, root, maxBlobs + 1))

  /** Default per-directory small-file bound for [[autoPackFiles]]:
    * a long-running appender fragments each partition into per-batch
    * slivers; past this many sub-64MB files in one directory the
    * opportunistic pack folds them (the file-count twin of
    * [[autoCompactBlobs]]'s blob bound).
    */
  val DefaultAutoPackFiles: Int = 16

  /** THRESHOLD-TRIGGERED small-file pack — the maintenance policy a
    * long-running append/CDC stream needs so its own batch cadence
    * cannot grow any partition directory's file count without bound
    * (round-11 bounded BLOB dirs; data-file slivers still accreted
    * until a manual OPTIMIZE). The trigger check is METADATA only
    * (the cached per-version live-entry list, no filesystem calls);
    * the pack itself is [[compactSmallFiles]] run OPPORTUNISTICALLY —
    * if purge/vacuum holds the claim this returns immediately and
    * the next batch retries, so ingest never blocks on maintenance.
    * DvStreamSinkSpec pins the bound across a many-batch run.
    */
  def autoPackFiles(spark: SparkSession, root: String,
      maxFilesPerDir: Int = DefaultAutoPackFiles,
      minBytes: Long = 64L * 1024 * 1024): Seq[String] = {
    val hot = liveEntries(spark, root).groupBy(_.partValues)
      .exists(_._2.count(_.bytes < minBytes) > maxFilesPerDir)
    if (!hot) Seq.empty
    else withMaintenance(spark, root, ifBusy = Some(Seq.empty[String]))(
      packSmallFiles(spark, root, minBytes, () => (), None))
  }

  private def applyChanges(spark: SparkSession, root: String,
      partCols: Seq[String], keyCol: String, changes: DataFrame,
      latestBy: Option[String],
      cdcBatch: Option[Long]): (Long, Seq[String]) = {
    import org.apache.spark.sql.expressions.Window
    val deduped = latestBy match {
      case None => changes
      case Some(seqCol) =>
        val w = Window.partitionBy(col(keyCol)).orderBy(desc(seqCol))
        val ranked = changes.withColumn("__rk", rank().over(w))
          .filter(col("__rk") === 1)
        val ties = ranked.groupBy(col(keyCol)).count()
          .filter(col("count") > 1).limit(1).collect()
        require(ties.isEmpty,
          s"ambiguous change batch: key ${ties.headOption.map(_.get(0))} " +
            s"has multiple images tied on $seqCol")
        ranked.drop("__rk")
    }
    val staged = deduped.localCheckpoint()
    if (staged.isEmpty) return (0L, Seq.empty)
    val dups = staged.groupBy(col(keyCol)).count()
      .filter(col("count") > 1).limit(1).collect()
    require(dups.isEmpty,
      s"change batch carries multiple images of key " +
        s"${dups.headOption.map(_.get(0))} — pass latestBy to resolve, " +
        "or dedupe upstream (one image per key per batch)")

    // constraints check BEFORE the old images are tombstoned: a
    // rejected batch must leave the table untouched, not half-applied
    enforceConstraints(spark, root, staged)
    // change data (opt-in): PRE = current images of the batch's keys
    // (snapshotted before the tombstones), POST = the batch rows of
    // keys that HAD images — the remainder surfaces as plain inserts
    val cdf = if (cdfEnabled(spark)) Some(new CdfStage(spark, root))
      else None
    try {
      cdf.foreach { c =>
        val keys = staged.select(col(keyCol)).distinct()
        val pre = read(spark, root)
          .join(broadcast(keys), Seq(keyCol), "left_semi")
          .localCheckpoint()
        if (!pre.isEmpty) {
          val preKeys = pre.select(col(keyCol)).distinct()
          c.writePre(pre)
          c.writePost(staged
            .join(broadcast(preKeys), Seq(keyCol), "left_semi")
            .select(staged.columns.map(col).toSeq: _*))
        }
      }
      val masked = delete(spark, root, keyCol, staged.select(col(keyCol)))
      val newFiles = appendCommitted(spark, root, partCols, staged,
        cdcBatch, "upsert",
        onCommitted = v => cdf.foreach(_.onCommitted(v)),
        extraFeatures =
          if (cdf.exists(_.recorded)) Set("cdf-updates") else Set.empty)
      (masked, newFiles)
    } finally cdf.foreach(_.cleanup())
  }

  /** Validate a write batch against the table's CHECK constraints
    * (no-op when none exist — zero cost for unconstrained tables).
    * SQL three-valued logic: only FALSE violates; NULL passes; a
    * table column the batch doesn't carry evaluates as NULL — exactly
    * the value readers will see. One aggregate job over the batch,
    * reporting EVERY violated constraint by name. Mutating paths that
    * tombstone before appending call this FIRST so a rejected batch
    * never half-applies.
    */
  private[graft] def enforceConstraints(spark: SparkSession,
      root: String, rows: DataFrame): Unit = {
    val meta = currentMeta(spark, root)
    enforceConstraintsWith(spark, root, rows, meta.constraints, meta)
  }

  /** Enforcement core against an EXPLICIT constraint set + metadata —
    * the CAS rebase re-check passes the subset of constraints that
    * appeared AFTER staging-time enforcement, so a write racing an
    * `ALTER ADD CONSTRAINT` re-validates before its commit lands
    * (closing the read-once TOCTOU).
    */
  private def enforceConstraintsWith(spark: SparkSession,
      root: String, rows: DataFrame, constraints: Map[String, String],
      meta: TableMeta): Unit = {
    if (constraints.isEmpty) return
    val withAll = meta.fullSchema.fields
      .filterNot(fd => rows.columns.contains(fd.name))
      .foldLeft(rows)((d, fd) =>
        // a column the batch doesn't carry evaluates as what READERS
        // will see: its exists-DEFAULT when declared, else NULL
        d.withColumn(fd.name, org.apache.spark.sql.GraftPlanApi.column(
          org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
            .getDefaultValueExprOrNullLit(fd)).cast(fd.dataType)))
    val flags = constraints.toSeq.sortBy(_._1).map { case (n, e) =>
      max(when(coalesce(expr(e), lit(true)) === false, lit(n))).as(n) }
    val bad = withAll.agg(flags.head, flags.tail: _*).head()
    val violated = (0 until bad.length).flatMap(i =>
      Option(bad.getString(i)))
    require(violated.isEmpty,
      s"write to graft-dv table at $root violates CHECK constraint" +
        s"(s): " + violated.map(n => s"$n CHECK (${constraints(n)})")
          .mkString("; ") + " — no data was written")
  }

  /** Stage `rows` into the partition dirs invisibly (the purge move
    * discipline), then flip the manifest via CAS — the write half
    * every mutating path shares. Returns the committed new files.
    */
  private[graft] def appendCommitted(spark: SparkSession, root: String,
      partCols: Seq[String], rows: DataFrame, cdcBatch: Option[Long],
      prefix: String, onBeforeCommit: () => Unit = () => (),
      onCommitted: Long => Unit = _ => (),
      extraFeatures: Set[String] = Set.empty): Seq[String] = {
    requireWriterFeatures(spark, root)
    // SCHEMA EVOLUTION happens here — the one write-side gate every
    // mutating path (append, upsert, CDC, DML update/merge) funnels
    // through: merge the table's committed schema with the batch's
    // (add-only; retyping fails loudly in mergeSchemas), and commit
    // the merged schema ON the same manifest flip that makes the new
    // files visible. Old files read under the merged schema null-fill
    // the added columns (the parquet missing-column rule); old
    // VERSIONS keep their own sentinel schema for time travel.
    val incoming = org.apache.spark.sql.types.StructType(
      rows.schema.filterNot(fd => partCols.contains(fd.name)))
    val curMeta = currentMeta(spark, root)
    require(curMeta.partCols == partCols,
      s"graft-dv table at $root is partitioned by " +
        s"${curMeta.partCols.mkString(",")}; append requested " +
        partCols.mkString(","))
    val mergedSchema = mergeSchemas(curMeta.dataSchema, incoming)

    // CHECK constraints — enforced HERE because every mutating path
    // funnels through this gate (append, INSERT, upsert, CDC, DML
    // update/merge): the batch fails loudly BEFORE any file is staged,
    // so a rejected APPEND mutates nothing. Paths that tombstone old
    // images BEFORE appending (upsert/UPDATE/MERGE) additionally
    // pre-check via [[enforceConstraints]] before their first
    // tombstone lands, so a rejected batch never half-applies. The
    // constraint set seen NOW is remembered so the CAS loop can detect
    // a constraint that committed while this write was in flight and
    // re-enforce before publishing (TOCTOU closure; see below).
    val stagedCons = curMeta.constraints
    enforceConstraintsWith(spark, root, rows, stagedCons, curMeta)

    val f = hfs(spark, root)
    val stage = s"$root/_${prefix}_stage"
    f.delete(new Path(stage), true)
    // the staged parquet carries the frozen PHYSICAL field names —
    // renamed columns write under their original written name, so one
    // physical layout serves every file generation
    toPhysicalCols(rows, curMeta)
      .write.mode("overwrite").partitionBy(partCols: _*).parquet(stage)
    val newFiles = moveStaged(spark, root, stage, prefix)
    commitMovedFiles(spark, root, partCols, newFiles, mergedSchema,
      curMeta.statsSchema, stagedCons, cdcBatch, prefix, onBeforeCommit,
      onCommitted, extraFeatures)
  }

  /** Commit ALREADY-MOVED (staged-invisible) files behind the CAS
    * manifest flip — the tail [[appendCommitted]] and the DSv2 delta
    * write ([[graft.sources.DvDeltaBatchWrite]]) share. `stagedCons`
    * is the constraint set already enforced against these rows; any
    * constraint the rebased base carries beyond it re-validates
    * against the staged files inside the loop.
    */
  private[graft] def commitMovedFiles(spark: SparkSession, root: String,
      partCols: Seq[String], newFiles: Seq[String],
      mergedSchema: org.apache.spark.sql.types.StructType,
      statsSchema: org.apache.spark.sql.types.StructType,
      stagedCons: Map[String, String], cdcBatch: Option[Long],
      prefix: String, onBeforeCommit: () => Unit,
      onCommitted: Long => Unit = _ => (),
      extraFeatures: Set[String] = Set.empty): Seq[String] = {
    // the staged files carry PHYSICAL field names — thread the live
    // column mapping into the synthesized meta so the stats scan (and
    // the constraint re-check below) binds renamed columns correctly
    val cur = currentMeta(spark, root)
    val stageMeta = TableMeta(mergedSchema, partCols, statsSchema,
      colMap = cur.colMap, droppedPhys = cur.droppedPhys)
    val movedStats =
      if (newFiles.isEmpty) emptyStatsFrame(spark)
      else perFileStats(
        // manifest-fed relation, not parquet(strings): explicit path
        // strings re-encode escaped partition segments
        relationOver(spark, root, entriesOf(spark, newFiles), stageMeta),
        statsSchema)

    // the streaming query id (set by StreamExecution on the micro-batch
    // thread) scopes the CDC high-water to ONE stream lineage — the
    // Delta (appId, batchId) txn-version shape: a FRESH query whose
    // batch ids restart at 0 takes OWNERSHIP of the high-water instead
    // of having every batch silently swallowed by a previous stream's
    // (higher) batch ids
    val qid =
      if (cdcBatch.isDefined)
        Option(spark.sparkContext.getLocalProperty("sql.streaming.queryId"))
      else None
    // row tracking: total appended rows (one aggregate, evaluated at
    // most once — only when the feature is on and files were staged)
    lazy val movedRowsTotal: Long =
      movedStats.agg(coalesce(sum(col("rows")), lit(0L)))
        .head().getLong(0)
    onBeforeCommit() // test hook: the staged-but-uncommitted window
    var committed = false
    var casAttempts = 0
    while (!committed) {
      casAttempts = boundedCasRetry(root, casAttempts)
      val base = latestV(spark, root)
      val latest = ensureMetaCols(
        Snapshots.readVersion(spark, manifestTable(root), base))
      val prevStream = latest.filter(col("file") === Sentinel)
        .select("cdc_stream").collect().headOption
        .flatMap(r => Option(r.getString(0)))
      // a different stream id — OR an unowned high-water set by batch
      // applies — means this stream is a new lineage: the high-water
      // RESETS to this batch (greatest() would pin it at the previous
      // writer's max and swallow the new stream's replays undetectably)
      val takeover = qid.isDefined && !prevStream.exists(qid.contains)
      // a CHECK constraint that committed AFTER staging-time
      // enforcement (racing ALTER ADD CONSTRAINT) must gate THIS
      // write too: re-enforce any constraint the rebased base carries
      // that staging never saw, against the staged files themselves
      // (already on disk — no input recompute). Zero cost on the
      // no-race path: a map diff, no job.
      val baseMeta = metaAt(spark, root, base)
      val unseenCons = baseMeta.constraints
        .filter { case (n, e) => !stagedCons.get(n).contains(e) }
      if (unseenCons.nonEmpty && newFiles.nonEmpty)
        enforceConstraintsWith(spark, root,
          toLogicalCols(relationOver(spark, root,
            entriesOf(spark, newFiles), stageMeta), stageMeta),
          unseenCons, baseMeta)
      val cdc = cdcBatch.getOrElse(-1L)
      // re-merge against the REBASED base's sentinel: a rival append
      // may have widened the schema with columns ours never saw — a
      // plain overwrite would silently drop them from the log
      val commitSchema = mergeSchemas(baseMeta.dataSchema, mergedSchema)
      // append-side widening writes the new column's parquet field
      // under its own name — a name some DROPPED or RENAMED column
      // already used physically would make old files' stale bytes
      // resurface as the new column. Fail loudly; ALTER TABLE ADD
      // COLUMNS assigns a fresh physical name and is the right verb.
      val clash = commitSchema.fieldNames
        .filterNot(baseMeta.dataSchema.fieldNames.contains)
        .filter(baseMeta.usedPhysicalNames.contains)
      require(clash.isEmpty,
        s"append to $root would add column(s) ${clash.mkString(", ")} " +
          "whose name a dropped/renamed column still occupies " +
          "physically — use ALTER TABLE ADD COLUMNS (which assigns " +
          "a fresh physical name) instead of append-side widening")
      // reader-feature stamp rides the SAME flip as the rows that
      // need it (e.g. a CDF-update commit marks cdf-updates) — no
      // separate protocol version, nothing visible before the gate
      val withFeats: DataFrame => DataFrame = df =>
        if (extraFeatures.isEmpty) df
        else withFeatures(df, baseMeta.features ++ extraFeatures)
      // row tracking: each appended file takes the next id range off
      // the sentinel watermark (deterministic: file-name order), and
      // the watermark advances ON the same flip. Rebased per CAS
      // attempt — a rival append's bump is honored, never overwritten.
      val rtOn = baseMeta.features.contains("row-tracking")
      val (statsWithIds, newHigh) =
        if (!rtOn || newFiles.isEmpty) (movedStats, None)
        else {
          val high = latest.filter(col("file") === Sentinel)
            .select(col("row_id_high")).collect().headOption
            .filter(!_.isNullAt(0)).map(_.getLong(0)).getOrElse(0L)
          val w = org.apache.spark.sql.expressions.Window
            .orderBy(col("file"))
            .rowsBetween(org.apache.spark.sql.expressions.Window
              .unboundedPreceding, -1)
          (movedStats.withColumn("base_row_id",
            lit(high) + coalesce(sum(col("rows")).over(w), lit(0L))),
            Some(high + movedRowsTotal))
        }
      val next = withSentinelOp(
        withFeats(latest).unionByName(ensureMetaCols(
          statsWithIds.withColumn("cdc_batch", lit(cdc))))
        .withColumn("cdc_batch",
          if (takeover) lit(cdc) else greatest(col("cdc_batch"), lit(cdc)))
        .withColumn("cdc_stream", when(col("file") === Sentinel,
          coalesce(lit(qid.orNull).cast("string"), col("cdc_stream")))
          .otherwise(col("cdc_stream")))
        .withColumn("schema_json", when(col("file") === Sentinel,
          lit(commitSchema.json)).otherwise(col("schema_json")))
        .withColumn("part_cols", when(col("file") === Sentinel,
          lit(partColsJson(partCols))).otherwise(col("part_cols")))
        .withColumn("stats_cols", when(col("file") === Sentinel,
          lit(statsSchema.json)).otherwise(col("stats_cols")))
        .withColumn("row_id_high", when(col("file") === Sentinel,
          newHigh.map(h => lit(h).cast("long"))
            .getOrElse(col("row_id_high")))
          .otherwise(lit(null).cast("long"))), prefix)
      committed = Snapshots.publishCas(spark, manifestTable(root), base, next)
      if (committed) onCommitted(base + 1)
    }
    newFiles
  }

  /** Commit a DSv2 delta write's staged output: move the stage dir's
    * hive-laid files into the data dirs (invisible until the flip)
    * and publish one CAS manifest version. `stagedCons` is EMPTY on
    * purpose — the executors wrote these files with no constraint
    * pass, so the commit loop re-enforces EVERY constraint the base
    * carries against the staged files before publishing (the write's
    * tombstones are still stage-pending at that point, so a violating
    * batch fails with the live table COMPLETELY untouched — the same
    * fail-don't-publish rule the CAS rebase re-check follows).
    */
  private[graft] def commitStagedDml(spark: SparkSession, root: String,
      stage: String, rowSchema: org.apache.spark.sql.types.StructType,
      op: String, onCommitted: Long => Unit = _ => (),
      extraFeatures: Set[String] = Set.empty): Seq[String] = {
    requireWriterFeatures(spark, root)
    val curMeta = currentMeta(spark, root)
    val partCols = curMeta.partCols
    val incoming = org.apache.spark.sql.types.StructType(
      rowSchema.filterNot(fd => partCols.contains(fd.name)))
    val mergedSchema = mergeSchemas(curMeta.dataSchema, incoming)
    val newFiles = moveStaged(spark, root, stage, op)
    commitMovedFiles(spark, root, partCols, newFiles, mergedSchema,
      curMeta.statsSchema, Map.empty, None, op, () => (), onCommitted,
      extraFeatures)
  }

  /** UNMASKED rows at explicit (file, pos) coordinates — the
    * change-data PRE-image reconstruction for the DSv2 delta write
    * (the coordinates were tombstoned by the very commit being
    * recorded, so the masked read can no longer serve them; the
    * files themselves are immutable and present until vacuum). Cost:
    * a scan of the COORDINATES' files semi-joined on position —
    * O(touched files), never the table. The scan is the unmasked,
    * generation-aware [[posScan]]: on a mid-evolution table the
    * coordinate set may span partition-layout generations (or be
    * entirely old-generation).
    */
  private[graft] def rowsAtCoordinates(spark: SparkSession,
      root: String, coords: DataFrame): DataFrame = {
    val files = coords.select(col("file")).distinct()
      .collect().map(_.getString(0)).toSeq
    val meta = currentMeta(spark, root)
    if (files.isEmpty) return emptyTable(spark, meta)
    val scan = posScan(spark, root,
      Listed(entriesOf(spark, files), meta), masked = false)
    // no broadcast hint: coordinates are O(updated rows) — AQE keeps
    // the broadcast while small and shuffles past the threshold
    scan.join(coords
        .withColumnRenamed("file", "__file")
        .withColumnRenamed("pos", "__pos"),
      Seq("__file", "__pos"), "left_semi")
      .drop("__file", "__pos")
  }

  /** Bounded wait-then-claim of the maintenance marker — the DSv2
    * row-level write holds it across its whole task phase so a purge
    * cannot replace files whose tombstones the executors are writing
    * (appends still interleave freely — they only add). Its driver
    * callbacks span the claim, so it is taken and released by hand
    * rather than through [[withMaintenance]].
    */
  private[graft] def acquireMaintenanceClaim(spark: SparkSession,
      root: String, timeoutMs: Long = 15L * 60 * 1000): Unit =
    require(tryMaintenanceClaim(spark, root, timeoutMs),
      s"maintenance claim $root/_maint still held after ${timeoutMs}ms " +
        "(crashed writer? remove the marker to recover)")

  private[graft] def releaseMaintenanceClaim(spark: SparkSession,
      root: String): Unit = Snapshots.removeMarker(spark, maintMarker(root))

  /** Shared bound on the manifest CAS loops ([[sentinelFlip]], which
    * the maintenance rewrites commit through, and
    * [[commitMovedFiles]]). Snapshots claims are deliberately never
    * auto-expired, so a writer that crashed between tryClaim and
    * releaseClaim leaves `_claims/<base+1>` behind forever — an
    * unbounded rebase loop would then hot-spin, re-running the
    * manifest read + parquet write each pass. Fail loudly instead,
    * naming the stale marker (mirrors delete's capped fence retries);
    * the small sleep keeps genuine contention from spinning.
    */
  private val MaxCasAttempts = 20
  private def boundedCasRetry(root: String, attempts: Int): Int = {
    if (attempts >= MaxCasAttempts) throw new IllegalStateException(
      s"manifest CAS publish on ${manifestTable(root)} failed " +
        s"$MaxCasAttempts times — a crashed writer's stale claim under " +
        s"${manifestTable(root)}/_claims/ blocks the next version " +
        "(remove the stale marker to recover), or writer contention " +
        "is pathological")
    if (attempts > 0) Thread.sleep(50L * attempts)
    attempts + 1
  }

  /** Key-free APPEND: new rows land as fresh files behind one CAS
    * manifest flip — no tombstones, no key contract (the
    * `df.write.format("graft-dv").mode("append")` face; keyed change
    * application is [[upsert]]). Returns the committed new files.
    */
  def append(spark: SparkSession, root: String, partCol: String,
      rows: DataFrame): Seq[String] =
    append(spark, root, Seq(partCol), rows)

  /** Multi-level form: `partCols` outermost first. `rows` is consumed
    * exactly once (the staged write) — no checkpoint, unlike upsert's
    * multi-consumer staging.
    */
  def append(spark: SparkSession, root: String, partCols: Seq[String],
      rows: DataFrame): Seq[String] =
    appendCommitted(spark, root, partCols, rows, None, "append")

  /** Rows in the given data files, summed from their parquet footers
    * on the driver: one metadata read per file, no job.
    */
  private[graft] def footerRows(spark: SparkSession,
      files: Seq[String]): Long = {
    val conf = spark.sessionState.newHadoopConf()
    files.map { p =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          GraftDvApi.pathOf(p), conf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** Is there a committed manifest at `root`? (The writer-mode
    * existence check — a data dir without a committed manifest is NOT
    * a table.)
    */
  def exists(spark: SparkSession, root: String): Boolean =
    Snapshots.latestVersion(spark, manifestTable(root)).isDefined

  /** The table's partition columns (outermost first), from the
    * manifest sentinel (survives an EMPTIED live set).
    */
  def partitionColsOf(spark: SparkSession, root: String): Seq[String] =
    currentMeta(spark, root).partCols

  // ---- skipping-index maintenance ---------------------------------------

  def indexTable(root: String): String = s"$root/_keyidx"

  /** Incrementally refresh the table's file-skipping index
    * ([[SkippingIndex]] sidecar, [[Snapshots]]-versioned under the
    * table root) to the CURRENT manifest: stats rows of still-live
    * files are carried over verbatim; stats are computed ONLY for
    * files the index has never seen (the scan is pruned to them by a
    * `_metadata.file_path` filter — file-level pruning, no data read
    * for indexed files). This is how index maintenance rides the
    * manifest at 100 TB — an upsert/purge that touches 0.1% of files
    * costs 0.1% of an index build, not a rebuild (the
    * `AnnIndex.maintain` discipline applied to the skipping sidecar).
    *
    * @return (published index version, carried rows, freshly indexed)
    */
  def refreshIndex(spark: SparkSession, root: String, keyCol: String,
      mBits: Int = 1 << 18): (Long, Long, Long) = {
    import spark.implicits._
    val it = indexTable(root)
    val live = manifest(spark, root).select("file")
      .collect().map(_.getString(0)).toSeq
    val prev = Snapshots.latestVersion(spark, it)
      .map(v => Snapshots.readVersion(spark, it, v))
    val prevFiles = prev.map(_.select("file").collect()
      .map(_.getString(0)).toSet).getOrElse(Set.empty)
    val newFiles = live.filterNot(prevFiles)
    // semi-join, not isin: at millions of files an IN-list is a
    // multi-megabyte plan literal. No broadcast HINT either (round
    // 11): a live-file list at ~10M files is GB-scale — AQE keeps
    // the broadcast while the list is small and switches to the
    // shuffle form past the threshold
    val liveDf = spark.createDataset(live).toDF("file")
    val kept = prev.map(_.join(liveDf, Seq("file"), "left_semi"))
    val added =
      if (newFiles.isEmpty) None
      else if (prevFiles.isEmpty)
        // first build: index the whole live scan, no filter needed
        Some(SkippingIndex.statsOf(spark, rawScan(spark, root),
          keyCol, mBits))
      else
        // prune at the FileIndex, not with a filter: a scan built
        // over ONLY the new files plans zero tasks for the old ones
        // (an isin over _metadata would still enumerate every file
        // into the plan and open every old footer)
        Some(SkippingIndex.statsOf(spark,
          relationOver(spark, root, entriesOf(spark, newFiles),
            currentMeta(spark, root)),
          keyCol, mBits))
    val next = (kept, added) match {
      case (Some(k), Some(a)) => k.unionByName(a)
      case (Some(k), None) => k
      case (None, Some(a)) => a
      case (None, None) =>
        import spark.implicits._
        Seq.empty[(String, Long, Long, Long, Array[Byte])]
          .toDF("file", "min_key", "max_key", "n_rows", "bloom")
    }
    val next2 = next.localCheckpoint() // count + publish, one derivation
    val prevLive = spark.createDataset(
      prevFiles.intersect(live.toSet).toSeq).toDF("file")
    val keptN = next2.join(prevLive, Seq("file"), "left_semi")
      .count()
    val v = Snapshots.publish(spark, it, next2)
    // the indexed KEY COLUMN rides a marker file so READS can resolve
    // eligible predicates to this sidecar without being told — the
    // SQL-transparent tier ([[skippingHook]]). Line 2 pins the
    // PHYSICAL name the sidecar was built under (column mapping):
    // the hook refuses to probe if the marker column ever resolves to
    // a different physical field than the one indexed.
    val physAtBuild = currentMeta(spark, root).physicalName(keyCol)
    val kf = hfs(spark, root).create(new Path(s"$it/_keycol"), true)
    try kf.write(s"$keyCol\n$physAtBuild".getBytes("UTF-8"))
    finally kf.close()
    (v, keptN, newFiles.size.toLong)
  }

  /** The indexed key column, if the table carries a skipping sidecar. */
  private def indexKeyCol(spark: SparkSession,
      root: String): Option[String] =
    indexKeyInfo(spark, root).map(_._1)

  /** (logical key column, physical name at index-build time) from the
    * sidecar marker. The physical half is absent on markers written
    * before it was recorded — consumers then skip the mapping check
    * (legacy behavior).
    */
  private def indexKeyInfo(spark: SparkSession,
      root: String): Option[(String, Option[String])] = {
    val p = new Path(s"${indexTable(root)}/_keycol")
    val f = hfs(spark, root)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try {
        // read to EOF — a single read() may legally short-read on
        // object-store streams, and a truncated key name that matched
        // another column would probe the WRONG column's sidecar
        val buf = new java.io.ByteArrayOutputStream(256)
        val bytes = new Array[Byte](256)
        var n = in.read(bytes)
        while (n > 0) { buf.write(bytes, 0, n); n = in.read(bytes) }
        val s = new String(buf.toByteArray, "UTF-8").trim
        if (s.isEmpty) None
        else {
          val lines = s.split("\n").map(_.trim).filter(_.nonEmpty)
          Some((lines(0), lines.lift(1)))
        }
      } finally in.close()
    }
  }

  /** THRESHOLD-TRIGGERED index refresh — the maintenance policy a
    * long-running stream needs so its own append cadence cannot decay
    * the skipping sidecar's selectivity without bound: unindexed live
    * files are ALWAYS scan candidates (the staleness-safe rule), so
    * each appended sliver quietly widens every point lookup until a
    * refresh. When the unindexed fraction of the live set crosses
    * `maxStaleFraction`, the stream's maintenance slot runs the
    * incremental [[refreshIndex]] (new files only — O(new), never a
    * rebuild). No-op for tables that never declared an index; the
    * trigger check costs one marker read + one index-version listing.
    */
  def autoRefreshIndex(spark: SparkSession, root: String,
      maxStaleFraction: Double = 0.25): Boolean =
    indexKeyCol(spark, root) match {
      case None => false
      case Some(keyCol)
          if !currentMeta(spark, root).dataSchema.fieldNames
            .contains(keyCol) =>
        // marker names a column no longer in the schema — never throw
        // from a write path; skipping is simply disabled
        false
      case Some(keyCol) =>
        val it = indexTable(root)
        val live = liveEntries(spark, root).map(_.path)
        val stale = Snapshots.latestVersion(spark, it) match {
          case None => live.nonEmpty
          case Some(v) =>
            val indexed = Snapshots.readVersion(spark, it, v)
              .select("file").collect().map(_.getString(0)).toSet
            live.nonEmpty &&
              live.count(f => !indexed.contains(f)).toDouble /
                live.size > maxStaleFraction
        }
        if (stale) { refreshIndex(spark, root, keyCol): Unit; true }
        else false
    }

  /** SQL-TRANSPARENT SKIPPING INDEX: the per-read hook handed to the
    * lazy manifest index — given the scan's pushed data filters, if
    * the table carries a bloom/min-max sidecar over key column K and
    * the filters include a conjunct `K = lit` / `K IN (lits)` (≤ 64
    * int64 keys), return a (file, idx_hit) annotation frame: sidecar
    * rows probed with the range test + the codegen'd bloom; the index
    * then drops DEFINITE misses and keeps everything it never saw
    * (staleness-safe, the [[indexLookup]] rule). A plain
    * `SELECT ... WHERE key = k` on a graft-dv table reads only the
    * candidate files — no API call, no hint.
    */
  private def skippingHook(spark: SparkSession, root: String)
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        Option[DataFrame] = { dataFilters =>
    import org.apache.spark.sql.catalyst.expressions.{Attribute, EqualTo, In, Literal}
    import org.apache.spark.sql.types.LongType
    if (dataFilters.isEmpty) None
    else indexKeyInfo(spark, root).flatMap { case (keyCol, physBuilt) =>
      val m = currentMeta(spark, root)
      // the sidecar binds to the marker column BY NAME: if the column
      // left the schema, or now resolves to a DIFFERENT physical field
      // than it was indexed under (DROP+re-ADD / rename machinery),
      // probing would prune files with the WRONG column's
      // bloom/min-max — refuse and fall back to the staleness-safe
      // full candidate set
      if (m.dataSchema.fieldNames.contains(keyCol) &&
          physBuilt.forall(_ == m.physicalName(keyCol)))
        Some(m.physicalName(keyCol))
      else None
    }.flatMap { physKey =>
      // scan-level attributes carry PHYSICAL names (column mapping)
      def keysOf(e: org.apache.spark.sql.catalyst.expressions.Expression)
          : Seq[Long] = e match {
        case EqualTo(a: Attribute, Literal(v: Long, LongType))
            if a.name == physKey => Seq(v)
        case EqualTo(Literal(v: Long, LongType), a: Attribute)
            if a.name == physKey => Seq(v)
        case In(a: Attribute, ls) if a.name == physKey &&
            ls.nonEmpty && ls.forall {
              case Literal(_: Long, LongType) => true
              case _ => false
            } =>
          ls.map(_.asInstanceOf[Literal].value.asInstanceOf[Long])
        case _ => Nil
      }
      val keys = dataFilters.flatMap(keysOf).distinct
      if (keys.isEmpty || keys.size > 64) None
      else Snapshots.latestVersion(spark, indexTable(root)).map { v =>
        val idx = spark.read.parquet(s"${indexTable(root)}/v=$v")
        val keyLit = array(keys.map(lit(_)): _*)
        val inRange = keys.map(k =>
          lit(k).between(col("min_key"), col("max_key"))).reduce(_ || _)
        val hit = inRange && graft.functions.GraftFunctions
          .bloomHitsAny(spark, col("bloom"), keyLit)
        idx.select(col("file"),
          coalesce(hit, lit(false)).as("idx_hit"))
      }
    }
  }

  /** Staleness-SAFE index probe: candidate files for `keys` =
    * (indexed ∧ range/bloom hit ∧ live) ∪ (live ∖ indexed). Files
    * added since the last [[refreshIndex]] are ALWAYS candidates (the
    * index cannot exclude what it never saw), dead files never are —
    * so a lookup between a mutation and its refresh is correct, just
    * less selective, and the refresh restores selectivity. Returns
    * (candidates, live file count).
    */
  def indexLookup(spark: SparkSession, root: String,
      keys: Seq[Long]): (Seq[String], Long) = {
    val it = indexTable(root)
    val live = manifest(spark, root).select("file")
      .collect().map(_.getString(0)).toSeq
    Snapshots.latestVersion(spark, it) match {
      case None => (live.sorted, live.size.toLong) // unindexed: scan all
      case Some(v) =>
        val (hits, _) = SkippingIndex.candidates(
          spark, s"$it/v=$v", keys)
        val indexed = Snapshots.readVersion(spark, it, v)
          .select("file").collect().map(_.getString(0)).toSet
        val liveSet = live.toSet
        val cands = (hits.filter(liveSet) ++ live.filterNot(indexed))
          .distinct.sorted
        (cands, live.size.toLong)
    }
  }

  /** One-row table summary (the `DESCRIBE DETAIL` face): identity
    * (format/location/table id), the log position (current version,
    * retained version count, CDC high-water), the declared metadata
    * (partition columns, stats columns, constraints), and live totals
    * (files/rows/bytes from one manifest aggregate; tombstoned rows
    * counted DISTRIBUTEDLY over the live files' blob dirs — one task
    * per file, metadata scale).
    *
    * Returns (identity+metadata strings, numeric totals) as a single
    * Row-shaped tuple for the SQL command to emit.
    */
  def detail(spark: SparkSession, root: String): (Map[String, String],
      Map[String, Long]) = {
    import spark.implicits._
    val mt = manifestTable(root)
    val versions = Snapshots.committedVersions(spark, mt)
    require(versions.nonEmpty, s"no graft-dv table at $root")
    val meta = currentMeta(spark, root)
    val agg = manifest(spark, root)
      .agg(count(lit(1)), sum("rows"), sum("bytes")).head()
    val live = liveEntries(spark, root).map(_.path)
    val tombstoned =
      if (live.isEmpty) 0L
      else spark.createDataset(live)
        .map(f => DvBlobs.tombstoneCount(root, f))
        .agg(sum("value")).head() match {
          case r if r.isNullAt(0) => 0L
          case r => r.getLong(0)
        }
    val strings = Map(
      "format" -> "graft-dv",
      "location" -> root,
      "table_id" -> tableId(spark, root),
      "partition_columns" -> meta.partCols.mkString(","),
      "stats_columns" -> meta.statsSchema.fieldNames.mkString(","),
      "constraints" -> meta.constraints.toSeq.sortBy(_._1)
        .map { case (n, e) => s"$n CHECK ($e)" }.mkString("; "),
      // mid-evolution state: the generations whose files may still be
      // live besides the current layout ("" once migration converges)
      "old_layouts" -> meta.oldLayouts.map(_.mkString("+")).mkString("; "),
      // column mapping (logical=physical pairs; "" = identity)
      "column_mapping" -> meta.colMap.toSeq.sorted
        .map { case (l, p) => s"$l=$p" }.mkString(","),
      // protocol: reader features this manifest REQUIRES
      "features" -> meta.features.toSeq.sorted.mkString(","))
    val numbers = Map(
      "current_version" -> versions.last,
      "num_retained_versions" -> versions.size.toLong,
      "cdc_batch" -> lastCdcBatch(spark, root),
      "num_live_files" -> (if (agg.isNullAt(0)) 0L else agg.getLong(0)),
      "live_rows" -> (if (agg.isNullAt(1)) 0L else agg.getLong(1)),
      "live_bytes" -> (if (agg.isNullAt(2)) 0L else agg.getLong(2)),
      "tombstoned_rows" -> tombstoned)
    (strings, numbers)
  }

  // ---- vacuum -----------------------------------------------------------

  /** Grace window shielding a concurrent writer's moved-but-not-yet-
    * committed files from [[vacuum]] (they are unreferenced by ANY
    * manifest until their publish lands). 20 minutes covers a stage+
    * move+CAS cycle with room; tests that GC freshly-dead files on
    * purpose pass 0.
    */
  val DefaultVacuumGraceMs: Long = 20L * 60 * 1000

  /** Reclaim space: delete data files referenced by NO retained
    * manifest version (keep the newest `keepVersions`) — EXCEPT files
    * younger than `minAgeMs` (an in-flight upsert/purge's moved-
    * uncommitted files look identical to dead ones; age is the
    * discriminator, the Delta retention rule) — then delete any
    * per-file tombstone dir whose data file is dead. Holds the
    * maintenance claim (mutual exclusion with purge). Both steps are
    * whole-file/-dir deletes of unreachable state — crash/rerun-safe
    * at any point. Readers of VACUUMED versions (time travel) must
    * finish within the retention window, the standard lakehouse
    * reader contract.
    */
  def vacuum(spark: SparkSession, root: String, keepVersions: Int = 1,
      minAgeMs: Long = DefaultVacuumGraceMs): (Long, Long) = {
    val (files, _, dirs) = vacuumImpl(spark, root, keepVersions,
      minAgeMs, dryRun = false)
    (files, dirs)
  }

  /** `VACUUM ... DRY RUN`: the exact candidate math of [[vacuum]] —
    * same retention, same age gate, same anti-joins — but NOTHING is
    * deleted and the manifest log is untouched. Returns (reclaimable
    * data files, reclaimable bytes, dead tombstone dirs): the
    * operational safety check before an aggressive retention setting.
    */
  def vacuumDryRun(spark: SparkSession, root: String,
      keepVersions: Int = 1,
      minAgeMs: Long = DefaultVacuumGraceMs): (Long, Long, Long) =
    vacuumImpl(spark, root, keepVersions, minAgeMs, dryRun = true)

  private def vacuumImpl(spark: SparkSession, root: String,
      keepVersions: Int, minAgeMs: Long,
      dryRun: Boolean): (Long, Long, Long) =
    withMaintenance(spark, root, dryRun) {
      import spark.implicits._
      val mt = manifestTable(root)
      val keep = Snapshots.committedVersions(spark, mt)
        .takeRight(keepVersions)
      // the retained live set stays a DATAFRAME end to end — vacuum
      // never materializes a referenced-file set on the driver (at
      // ~10M files that set is GB-scale; round-10's driver walk +
      // membership test was the last full-manifest driver collect in
      // the maintenance paths)
      def refDf = keep.map(v =>
          Snapshots.readVersion(spark, mt, v).select("file"))
        .reduce(_ unionByName _).distinct()
        .filter(col("file") =!= Sentinel)
      val f = hfs(spark, root)
      val now = System.currentTimeMillis()
      // DISTRIBUTED sweep: the driver lists only the FIRST level
      // under data/ (bounded by the outermost partition cardinality);
      // executors recurse the hive layout to any depth — multi-level
      // tables reclaim dead files at their real depth, unpartitioned
      // layouts surface as first-level files. Listed paths convert to
      // manifest space (urlOf) AT THE LISTING, so the anti-join
      // compares one spelling — a raw-vs-encoded mismatch here would
      // reclaim LIVE files in escaped partitions.
      val seeds = f.listStatus(new Path(dataDir(root))).toSeq
        .map(_.getPath.toString)
      var dataDeleted = 0L
      var bytesDead = 0L
      if (seeds.nonEmpty) {
        val listed = spark.createDataset(seeds).flatMap { s =>
          val p = new Path(s)
          val fs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
          def walk(st: org.apache.hadoop.fs.FileStatus)
              : Seq[(String, Long, Long)] =
            if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(walk)
            else if (st.getPath.getName.endsWith(".parquet"))
              Seq((GraftDvApi.urlOf(fs.makeQualified(st.getPath)),
                st.getModificationTime, st.getLen))
            else Seq.empty
          walk(fs.getFileStatus(p))
        }.toDF("file", "mtime", "bytes")
        // age gate FIRST (an in-flight writer's moved-but-uncommitted
        // files look identical to dead ones; age discriminates), then
        // anti-join against every retained manifest, then delete from
        // the EXECUTORS — the dead list never lands on the driver
        val dead = listed.filter(col("mtime") <= lit(now - minAgeMs))
          .join(refDf, Seq("file"), "left_anti")
        if (dryRun) {
          val agg = dead.agg(count(lit(1)), sum("bytes")).head()
          dataDeleted = agg.getLong(0)
          bytesDead = if (agg.isNullAt(1)) 0L else agg.getLong(1)
        } else {
          val delAcc = spark.sparkContext.longAccumulator("vacuum_deleted")
          dead.select("file")
            .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
              val conf = new org.apache.hadoop.conf.Configuration()
              it.foreach { r =>
                val p = GraftDvApi.pathOf(r.getString(0))
                if (p.getFileSystem(conf).delete(p, false)) delAcc.add(1L)
              }
            }
          dataDeleted = delAcc.value
        }
      }
      // stale WRITE-STAGE debris at the root: a CRASHED writer leaves
      // its staging dir behind — the DSv2 `_dml_stage_<uuid>` (and
      // its `_dvpending` pending-blob sibling), a `_cdf_stage_<uuid>`,
      // `_migrate_stage`, or an append path's `_<op>_stage`. All are
      // invisible to every reader (staging IS the invisibility
      // mechanism) but leak bytes forever without this sweep. The
      // same age gate that shields moved-but-uncommitted data files
      // shields a LIVE writer's stage; the maintenance claim this
      // vacuum holds excludes any claim-holding writer outright.
      val staleStages = f.listStatus(new Path(root)).toSeq.filter { st =>
        val nm = st.getPath.getName
        st.isDirectory && nm.startsWith("_") &&
          (nm.contains("_stage") || nm.endsWith("_dvpending")) &&
          st.getModificationTime <= now - minAgeMs
      }
      var stagesSwept = 0L
      if (!dryRun) {
        Snapshots.vacuum(spark, mt, keepVersions)
        staleStages.foreach { st =>
          if (f.delete(st.getPath, true)) stagesSwept += 1
        }
        // change-data sidecars of vacuumed versions go with them
        // (they are keyed BY version; a feed spanning a vacuumed
        // endpoint already fails loudly at the manifest check, and a
        // surviving step without its sidecar degrades gracefully to
        // the insert/delete shape) — without this sweep a CDF-enabled
        // table leaks O(changed rows) bytes per retired commit
        val cdfRoot = new Path(cdfDir(root))
        if (f.exists(cdfRoot)) {
          val kept = Snapshots.committedVersions(spark, mt).toSet
          f.listStatus(cdfRoot).foreach { d =>
            val name = d.getPath.getName
            val v = name.stripPrefix("v=")
            if (name.startsWith("v=") && v.nonEmpty &&
                v.forall(_.isDigit) && !kept.contains(v.toLong))
              f.delete(d.getPath, true): Unit
          }
        }
      }
      // tombstone dirs of dead files: whole-dir GC, resolved
      // DISTRIBUTEDLY (one header read per dir decides) and matched
      // against the referenced set by ANTI-JOIN, not a broadcast of
      // the live-file list (GB-scale at ~10M files; round-11 rule:
      // no forced broadcast of unbounded file lists in maintenance)
      val dirs = DvBlobs.allFileDirs(root)
      var dvDeleted = 0L
      if (dirs.nonEmpty) {
        val dirFile = spark.createDataset(dirs)
          .map(d => (d, DvBlobs.dirDataFile(d).getOrElse("")))
          .toDF("dir", "file")
        val dead = dirFile.join(refDf, Seq("file"), "left_anti")
          .select("dir").collect().map(_.getString(0))
        if (dryRun) dvDeleted = dead.length.toLong
        else dead.foreach { d =>
          f.delete(new Path(d), true): Unit
          dvDeleted += 1
        }
      }
      // the dirs metric counts BOTH dead tombstone dirs and swept
      // (dry run: sweepable) stage debris
      (dataDeleted, bytesDead,
        dvDeleted + (if (dryRun) staleStages.size.toLong else stagesSwept))
    }

  /** Merge each data file's accumulated delta blobs into one
    * ([[DvBlobs.compactDir]]), DISTRIBUTEDLY — one task per blob dir,
    * so the work scales with files-carrying-deletes, never table
    * size. Bounds the per-read listing+merge tax between purges: a
    * file receiving K delete batches (each its own immutable blob —
    * the no-coordination write path) serves its mask from K blobs
    * until either purge rewrites it or this folds them to one.
    *
    * Holds the maintenance claim — not for safety (compaction
    * preserves the position set at every instant; racing deletes
    * append NEW blobs the point-in-time input listing never touches)
    * but to avoid forcing a concurrent purge's delta-signature
    * re-validation into pointless restaging.
    *
    * Duplicate task attempts (speculative execution, stage retry)
    * follow the same rule as racing deletes: each attempt writes its
    * own merged blob and removes the inputs it listed — the worst
    * outcome is a TRANSIENTLY doubled dir (two merged blobs with
    * identical positions) that the read-side merge dedupes and the
    * next fold collapses; never a lost or phantom position. Readers
    * that listed a blob a concurrent fold then removed retry through
    * [[DvBlobs.merged]]'s supersession rule.
    *
    * @return (dirs compacted, input blobs removed)
    */
  def compactBlobs(spark: SparkSession, root: String,
      minBlobs: Int = 2): (Long, Long) =
    withMaintenance(spark, root)(foldBlobs(spark, root, minBlobs))

  /** Fold every blob dir holding at least `minBlobs` blobs, one task
    * per dir; the caller holds the claim. Returns (dirs folded, input
    * blobs removed).
    */
  private def foldBlobs(spark: SparkSession, root: String,
      minBlobs: Int): (Long, Long) = {
    import spark.implicits._
    val dirs = DvBlobs.allFileDirs(root)
    if (dirs.isEmpty) (0L, 0L)
    else {
      val stats = spark.createDataset(dirs)
        .flatMap(d => DvBlobs.compactDir(d, minBlobs).map {
          case (inputs, _) => (1L, inputs.toLong)
        })
        .toDF("dirs", "inputs")
        .agg(sum("dirs"), sum("inputs")).head()
      if (stats.isNullAt(0)) (0L, 0L)
      else (stats.getLong(0), stats.getLong(1))
    }
  }
}
