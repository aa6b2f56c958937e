package org.apache.spark.sql

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, BoundReference, Expression, Predicate => CatalystPredicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Manifest-fed file-source relation for
  * [[graft.operators.DeletionVectors]] tables — the second (and last)
  * file in the `org.apache.spark.sql` namespace (see
  * [[GraftPlanApi]]'s rationale).
  *
  * Why this exists: a DV table's live file set is defined by its
  * committed MANIFEST, not by what a directory listing finds — dead
  * files linger until vacuum, replacement files land invisibly before
  * their flip. The round-9 reader turned the manifest into a driver
  * `Seq[String]` and called `spark.read.parquet(files: _*)`: a
  * multi-million-literal plan at large file counts, a full
  * InMemoryFileIndex re-listing, and no partition pruning over the
  * manifest itself. This [[FileIndex]] hands Spark's own parquet scan
  * machinery (vectorized reader, pushdown, `_metadata` columns,
  * split planning by the manifest's recorded sizes) exactly the
  * committed files — no filesystem listing at all — and evaluates
  * partition filters against the manifest's partition values, so
  * partition pruning happens on manifest METADATA the way
  * Delta/Iceberg prune on their logs.
  */
object GraftDvApi {

  /** One committed live file: absolute path, byte length, and the
    * hive partition values parsed from its path, outermost first
    * (empty for unpartitioned layouts).
    *
    * PATH SPACES — the invariant every consumer relies on: manifest
    * "file" strings (and `LiveFile.path`) live in the URL-ENCODED
    * space `_metadata.file_path` emits — a hive-escaped dir like
    * `part=a%3Ab` (value "a:b") appears as `part=a%253Ab`. On-disk
    * names are the RAW hive-escaped forms. Convert to a filesystem
    * [[Path]] ONLY via [[pathOf]] (URI-decodes), and from a listed
    * [[Path]] back into manifest space ONLY via [[urlOf]] — naive
    * `new Path(str)` / `path.toString` round-trips double-encode and
    * read dirs that don't exist (caught by the escaped-partition
    * spec).
    */
  final case class LiveFile(path: String, bytes: Long,
      partValues: Seq[String])

  /** Manifest-space string -> filesystem Path (URI-decode; strings
    * that aren't valid URIs — operator-supplied raw paths — pass
    * through as-is).
    */
  def pathOf(fileString: String): Path =
    try new Path(new java.net.URI(fileString))
    catch { case _: java.net.URISyntaxException => new Path(fileString) }

  /** Filesystem Path -> manifest-space string (the same URL-encoded
    * qualified form `_metadata.file_path` emits for this file).
    * Normalizes an EMPTY authority away: `makeQualified`/`listStatus`
    * render the local FS as `file:///tmp/...` while `_metadata`
    * renders `file:/tmp/...` — one file, two spellings, and a set
    * compare across them deems live files unreferenced (vacuum would
    * reclaim them). Real authorities (HDFS namenodes, buckets) pass
    * through untouched; the multi-arg URI constructor re-encodes the
    * decoded path, so escaped partition segments round-trip.
    */
  def urlOf(p: Path): String = {
    val u = p.toUri
    val auth = Option(u.getAuthority).filter(_.nonEmpty).orNull
    new java.net.URI(u.getScheme, auth, u.getPath, null, null).toString
  }

  /** Parse the file's `<col>=<val>` partition chain into (col,
    * unescaped val) pairs, OUTERMOST FIRST — the hive layout order
    * `partitionBy` writes. Only the CONTIGUOUS run of `k=v` segments
    * immediately above the file counts: walking any higher would turn
    * a table ROOT that happens to contain `k=v` segments (e.g.
    * `/warehouse/ds=2024/events/...`) into phantom partition columns.
    * Accepts manifest-space (URL-encoded) or raw path strings —
    * segments are URI-decoded first, then hive-unescaped. Empty for
    * unpartitioned layouts.
    */
  def parsePartitions(path: String): Seq[(String, String)] = {
    val dirs = pathOf(path).toString.split('/').dropRight(1)
    dirs.reverse.takeWhile(d => d.indexOf('=') > 0).reverse.toSeq
      .map { dir =>
        val eq = dir.indexOf('=')
        (ExternalCatalogUtils.unescapePathName(dir.take(eq)),
          ExternalCatalogUtils.unescapePathName(dir.drop(eq + 1)))
      }
  }

  /** The manifest IS the listing: no filesystem calls, partition
    * pruning evaluated against the manifest's own partition values.
    * Partition values are typed STRING deliberately — the manifest
    * records the written directory name verbatim, and re-inference
    * (e.g. date-typing a `yyyy-MM-dd` value) would make the schema
    * depend on value shapes.
    */
  final class ManifestFileIndex(
      root: Path,
      partCols: Seq[String],
      files: Seq[LiveFile]) extends FileIndex {

    override val rootPaths: Seq[Path] = Seq(root)

    override val partitionSchema: StructType =
      StructType(partCols.map(c =>
        StructField(c, StringType, nullable = true)))

    private def status(f: LiveFile): FileStatus =
      new FileStatus(f.bytes, false, 1, 128L * 1024 * 1024, 0L,
        pathOf(f.path))

    private lazy val dirs: Seq[PartitionDirectory] =
      files.groupBy(_.partValues).toSeq
        .sortBy(_._1.mkString("\u0000")).map { case (pv, fs) =>
          val row = InternalRow.fromSeq(partCols.indices.map(i =>
            pv.lift(i).map(UTF8String.fromString).orNull))
          PartitionDirectory(row, fs.map(status).toArray)
        }

    override def listFiles(partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      if (partitionFilters.isEmpty || partCols.isEmpty) dirs
      else {
        // bind each referenced partition column BY NAME to its slot
        // in the value vector (outermost first, the layout order)
        val slot = partCols.zipWithIndex.toMap
        val bound = partitionFilters.reduce(And).transform {
          case a: Attribute =>
            BoundReference(slot(a.name), StringType, nullable = true)
        }
        val pred = CatalystPredicate.create(bound)
        pred.initialize(0)
        dirs.filter(d => pred.eval(d.values))
      }

    override def inputFiles: Array[String] = files.map(_.path).toArray
    override def refresh(): Unit = ()
    override def sizeInBytes: Long = files.map(_.bytes).sum
  }

  /** DataFrame over exactly `files`, read through Spark's parquet
    * file source (pushdown, pruning, `_metadata` columns intact).
    * `dataSchema` must exclude the partition columns.
    */
  def relation(spark: SparkSession, root: String, partCols: Seq[String],
      files: Seq[LiveFile], dataSchema: StructType): DataFrame = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    val fi = new ManifestFileIndex(new Path(root), partCols, files)
    val rel = HadoopFsRelation(fi, fi.partitionSchema, dataSchema,
      None, new ParquetFileFormat, Map.empty[String, String])(cs)
    classic.Dataset.ofRows(cs, LogicalRelation(rel))
  }

  /** LAZY manifest-fed file index: the live-file set stays IN the
    * manifest parquet until `listFiles` runs with the query's actual
    * filters — partition predicates (over the write-time-parsed
    * `part_values` column) and min/max predicates on the table's
    * declared stats columns (over the per-file `smin`/`smax` maps)
    * are pushed into the MANIFEST SCAN itself, so the driver
    * materializes only the SURVIVING entries. This removes the
    * round-10 ceiling where every read collected the full manifest
    * (`liveEntries`) before any pruning: at tens of millions of
    * files, a day-pruned query now materializes one day's entries,
    * not the table's (LakeProbe measures this at a 100k-file
    * manifest).
    *
    * Untranslatable partition filters (anything whose references
    * aren't all partition columns, or carrying a plan subexpression)
    * are NOT pushed — survivors are re-filtered through the eager
    * [[ManifestFileIndex]]'s bind-and-eval, so semantics never depend
    * on translatability. Stats predicates prune only when provably
    * safe: both bounds present (a missing/all-null column yields
    * null bounds, and a non-null-literal comparison cannot match an
    * all-null file) and literal/column types align.
    */
  final class LazyManifestFileIndex(
      spark: SparkSession,
      root: Path,
      manifestVersionDir: String,
      partCols: Seq[String],
      statsSchema: StructType,
      totalBytes: Long,
      cachedFull: Option[() => Seq[LiveFile]] = None,
      fileRegex: Option[String] = None,
      skipping: Option[Seq[Expression] => Option[DataFrame]] = None)
      extends FileIndex {

    import org.apache.spark.sql.functions.{coalesce, col, element_at, lit}

    override val rootPaths: Seq[Path] = Seq(root)

    override val partitionSchema: StructType =
      StructType(partCols.map(c =>
        StructField(c, StringType, nullable = true)))

    // `fileRegex` scopes this index to ONE partition-layout
    // GENERATION of an evolved table (the full anchored hive-chain
    // pattern, pushed into the manifest scan itself) — a mid-
    // evolution read unions one lazy index per generation instead of
    // falling back to an eager full-manifest materialization
    private def manifestRows: DataFrame = {
      val base = spark.read.parquet(manifestVersionDir)
        .filter(col("file") =!= "")
      fileRegex.map(r => base.filter(col("file").rlike(r)))
        .getOrElse(base)
    }

    private def translatable(e: Expression): Boolean =
      e.references.forall(a => partCols.contains(a.name)) &&
        e.find(_.isInstanceOf[
          org.apache.spark.sql.catalyst.expressions.PlanExpression[_]])
          .isEmpty

    /** Partition filter -> predicate over the manifest's part_values. */
    private def partCol(e: Expression): Column = {
      val slot = partCols.zipWithIndex.toMap
      val bound = e.transform {
        case a: Attribute =>
          classic.ExpressionUtils.expression(
            element_at(col("part_values"), slot(a.name) + 1))
      }
      classic.ExpressionUtils.column(bound)
    }

    /** Data filter -> safe min/max range predicate, when expressible. */
    private def statsCol(e: Expression): Option[Column] = {
      import org.apache.spark.sql.catalyst.expressions._
      def ok(a: Attribute, l: Literal): Boolean =
        statsSchema.fieldNames.contains(a.name) && l.value != null &&
          l.dataType == a.dataType
      def mn(a: Attribute) =
        element_at(col("smin"), a.name).cast(a.dataType)
      def mx(a: Attribute) =
        element_at(col("smax"), a.name).cast(a.dataType)
      def lv(l: Literal) = classic.ExpressionUtils.column(l)
      def guarded(a: Attribute, c: Column): Column =
        mn(a).isNotNull && mx(a).isNotNull && c
      e match {
        case EqualTo(a: Attribute, l: Literal) if ok(a, l) =>
          Some(guarded(a, mn(a) <= lv(l) && mx(a) >= lv(l)))
        case EqualTo(l: Literal, a: Attribute) if ok(a, l) =>
          Some(guarded(a, mn(a) <= lv(l) && mx(a) >= lv(l)))
        case GreaterThan(a: Attribute, l: Literal) if ok(a, l) =>
          Some(guarded(a, mx(a) > lv(l)))
        case GreaterThan(l: Literal, a: Attribute) if ok(a, l) =>
          Some(guarded(a, mn(a) < lv(l)))
        case GreaterThanOrEqual(a: Attribute, l: Literal) if ok(a, l) =>
          Some(guarded(a, mx(a) >= lv(l)))
        case GreaterThanOrEqual(l: Literal, a: Attribute) if ok(a, l) =>
          Some(guarded(a, mn(a) <= lv(l)))
        case LessThan(a: Attribute, l: Literal) if ok(a, l) =>
          Some(guarded(a, mn(a) < lv(l)))
        case LessThan(l: Literal, a: Attribute) if ok(a, l) =>
          Some(guarded(a, mx(a) > lv(l)))
        case LessThanOrEqual(a: Attribute, l: Literal) if ok(a, l) =>
          Some(guarded(a, mn(a) <= lv(l)))
        case LessThanOrEqual(l: Literal, a: Attribute) if ok(a, l) =>
          Some(guarded(a, mx(a) >= lv(l)))
        case _ => None
      }
    }

    /** Materialize only the filter-surviving manifest entries (public:
      * the spec/probe surface that measures what the driver holds).
      */
    def survivors(partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[LiveFile] = {
      val (pushable, residual) =
        partitionFilters.partition(translatable)
      val statsPreds = dataFilters.flatMap(statsCol)
      // SQL-transparent SKIPPING-INDEX tier: the hook (installed by
      // DeletionVectors when the table carries a bloom/min-max
      // sidecar) turns eligible data filters (point/IN predicates on
      // the indexed key) into a per-file hit annotation; indexed
      // files whose sidecar row definitely misses are pruned here —
      // files the index never saw always survive (staleness-safe).
      val idxAnnot = skipping.flatMap(_(dataFilters))
      // nothing to push -> serve the caller's cached per-version
      // listing instead of re-running a manifest job per execution
      // (the unfiltered-read fast path; pruned reads pay the one
      // small manifest scan that saves them the materialization).
      // A generation-scoped index filters the cached (full) listing
      // by its own path pattern first.
      if (pushable.isEmpty && statsPreds.isEmpty && idxAnnot.isEmpty &&
          cachedFull.isDefined)
        return {
          val pat = fileRegex.map(_.r.pattern)
          val rows = cachedFull.get.apply()
            .filter(f => pat.forall(_.matcher(f.path).matches()))
          if (residual.isEmpty) rows
          else new ManifestFileIndex(root, partCols, rows)
            .listFiles(residual, Nil)
            .flatMap(_.files.map(f => LiveFile(urlOf(f.getPath),
              f.getLen, parsePartitions(urlOf(f.getPath)).map(_._2))))
        }
      var df = manifestRows.select("file", "bytes", "part_values")
      if (pushable.nonEmpty && partCols.nonEmpty)
        df = df.filter(partCol(pushable.reduce(And)))
      statsPreds.foreach(p => df = df.filter(p))
      // sidecar pruning: LEFT join the hit annotation — a file the
      // index never saw joins null and SURVIVES (coalesce true); an
      // indexed definite miss is dropped. One metadata-scale join,
      // nothing collected.
      idxAnnot.foreach { ann =>
        df = df.join(ann, Seq("file"), "left_outer")
          .filter(coalesce(col("idx_hit"), lit(true)))
          .drop("idx_hit")
      }
      val rows = df.collect().toSeq.map { r =>
        LiveFile(r.getString(0), r.getLong(1),
          if (r.isNullAt(2)) parsePartitions(r.getString(0)).map(_._2)
          else r.getSeq[String](2))
      }
      // residual (untranslatable) filters re-apply via bind-and-eval
      if (residual.isEmpty) rows
      else new ManifestFileIndex(root, partCols, rows)
        .listFiles(residual, Nil)
        .flatMap(_.files.map(f => LiveFile(urlOf(f.getPath), f.getLen,
          parsePartitions(urlOf(f.getPath)).map(_._2))))
    }

    override def listFiles(partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      new ManifestFileIndex(root, partCols,
        survivors(partitionFilters, dataFilters)).listFiles(Nil, Nil)

    override def inputFiles: Array[String] =
      manifestRows.select("file").collect().map(_.getString(0))
    override def refresh(): Unit = ()
    override def sizeInBytes: Long = totalBytes
  }

  /** DataFrame whose live-file set is resolved LAZILY from the
    * manifest version directory at listFiles time (see
    * [[LazyManifestFileIndex]]). `dataSchema` excludes partitions.
    */
  def lazyRelation(spark: SparkSession, root: String,
      manifestVersionDir: String, partCols: Seq[String],
      statsSchema: StructType, dataSchema: StructType,
      totalBytes: Long,
      cachedFull: Option[() => Seq[LiveFile]] = None,
      fileRegex: Option[String] = None,
      skipping: Option[Seq[Expression] => Option[DataFrame]] = None)
      : DataFrame = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    val fi = new LazyManifestFileIndex(spark, new Path(root),
      manifestVersionDir, partCols, statsSchema, totalBytes, cachedFull,
      fileRegex, skipping)
    val rel = HadoopFsRelation(fi, fi.partitionSchema, dataSchema,
      None, new ParquetFileFormat, Map.empty[String, String])(cs)
    classic.Dataset.ofRows(cs, LogicalRelation(rel))
  }
}

/** Public bridge to Spark's `private[sql]`
  * [[org.apache.spark.sql.connector.catalog.V2TableWithV1Fallback]] —
  * the hook `spark.readStream.table` uses to stream a DSv2 catalog
  * table through a V1 `StreamSourceProvider` (the Delta CDF pattern).
  * Lives in this namespace for the same access-boundary reason the
  * two Api objects do.
  */
trait GraftV1FallbackTable
  extends org.apache.spark.sql.connector.catalog.V2TableWithV1Fallback
