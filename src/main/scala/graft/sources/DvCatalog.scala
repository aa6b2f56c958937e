package graft.sources

import java.util

import scala.collection.JavaConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, MetadataColumn, SupportsMetadataColumns, SupportsRead, SupportsWrite, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{BaseRelation, InsertableRelation, TableScan}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.operators.{DeletionVectors => DV, Snapshots}

/** DataSource V2 [[TableCatalog]] for graft-dv tables — the native
  * SQL face the round-11 verdict asked for: register once
  * ({{{spark.conf.set("spark.sql.catalog.graftdv", "graft.sources.GraftDvCatalog")}}}
  * — a RUNTIME conf, so it works in sessions the engine did not
  * build, extensions or not) and every lakehouse verb resolves
  * through Spark's OWN paths:
  *
  * {{{
  *   SELECT * FROM graftdv.`/path/to/table`            -- DSv2 read
  *   SELECT * FROM graftdv.`/p` VERSION AS OF 3        -- native time travel
  *   INSERT INTO graftdv.`/p` SELECT ...               -- AppendData
  *   INSERT OVERWRITE graftdv.`/p` SELECT ...          -- truncate+append
  *   CREATE TABLE graftdv.t (...) PARTITIONED BY (day) -- TableCatalog
  *   ALTER TABLE graftdv.`/p` ADD COLUMNS (x INT)      -- native ALTER
  *   DELETE / UPDATE / MERGE                           -- SupportsDelta
  * }}}
  *
  * This is graft-dv's one SQL path for every statement Spark's grammar
  * covers. A session-catalog `CREATE TABLE t USING graft-dv` name is
  * a name for the same DSv2 table: [[graft.plans.DvSessionNameRule]]
  * rewrites it to `graftdv.`<root>`` before resolution. Only the
  * maintenance statements outside the grammar (VACUUM, OPTIMIZE,
  * RESTORE, ...) keep a parser-level route, and ANALYZE keeps its
  * manifest-native command (Spark has no DSv2 ANALYZE). The V1
  * `graft-dv` format remains the DataFrame-API reader/writer.
  *
  * Identifier convention (the Delta `delta.`/path``` shape):
  * a name containing '/' IS the table root (`graftdv.`/abs/path``);
  * plain names resolve under the catalog's `warehouse` option.
  *
  * Read path: scans compile to a [[V1Scan]] whose pruned columns and
  * pushed filters are applied INSIDE the masked manifest-fed read
  * (so the inner plan gets manifest pruning + parquet pushdown), and
  * [[graft.plans.DvScanRule]] swaps the whole wrapper for the direct
  * masked plan at optimization time — catalog reads end at the same
  * physical plan as [[DV.read]], no row-RDD boundary.
  */
class GraftDvCatalog extends TableCatalog {

  private var catalogName: String = "graftdv"
  private var warehouse: Option[String] = None

  private def spark = SparkSession.active

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse"))
  }

  override def name(): String = catalogName

  /** `CREATE TABLE ... (c T DEFAULT v, ...)` — Spark validates the
    * catalog advertises default-value support; the defaults arrive
    * encoded as the standard CURRENT/EXISTS_DEFAULT field metadata in
    * the createTable schema, which the manifest sentinel then carries
    * (the same machinery ALTER ADD COLUMNS ... DEFAULT uses).
    */
  override def capabilities(): util.Set[
      org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    util.EnumSet.of(org.apache.spark.sql.connector.catalog
      .TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  private def rootOf(ident: Identifier): String =
    if (ident.name.contains("/")) {
      require(ident.namespace.isEmpty,
        s"path-named graft-dv tables take no namespace; got " +
          s"${ident.namespace.mkString(".")}.${ident.name}")
      ident.name
    } else warehouse match {
      case Some(w) => (Seq(w) ++ ident.namespace.toSeq :+ ident.name)
        .mkString("/")
      case None => throw new IllegalArgumentException(
        s"catalog $catalogName has no warehouse — set spark.sql.catalog" +
          s".$catalogName.warehouse for name-based tables, or address " +
          s"tables by path: $catalogName.`/abs/path`")
    }

  override def listTables(namespace: Array[String]): Array[Identifier] =
    warehouse match {
      case None => Array.empty
      case Some(w) =>
        val dir = new Path((Seq(w) ++ namespace.toSeq).mkString("/"))
        val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!fs.exists(dir)) Array.empty
        else fs.listStatus(dir).filter(_.isDirectory)
          .filter(d => DV.exists(spark, d.getPath.toString))
          .map(d => Identifier.of(namespace, d.getPath.getName))
    }

  /** METADATA NAMESPACES — the Iceberg `t$history`/Delta utility
    * shape, addressed as catalog namespaces over the same roots:
    *  - `graftdv.changes.`/path``  — the CHANGE DATA FEED: batch
    *    reads (options `startingVersion`/`endingVersion` bound the
    *    committed window) and `spark.readStream.table` (micro-batch
    *    per committed version via the V1 streaming fallback); both
    *    faces delegate to [[DV.readChanges]];
    *  - `graftdv.history.`/path``  — the manifest log, one row per
    *    retained committed version ([[DV.history]]);
    *  - `graftdv.files.`/path``    — the LIVE file inventory with
    *    manifest-recorded rows/bytes ([[DV.manifest]]).
    * All plain SQL-queryable (joins, filters, aggregates) — an
    * operator audits the log or sizes partitions without any bespoke
    * command output.
    */
  private def metaNamespace(ident: Identifier): Option[String] =
    if (ident.namespace.length == 1 &&
        Set("changes", "history", "files")(ident.namespace.head))
      Some(ident.namespace.head)
    else None

  override def loadTable(ident: Identifier): Table = {
    metaNamespace(ident).foreach { ns =>
      val inner = Identifier.of(Array.empty, ident.name)
      val root = rootOf(inner)
      if (!DV.exists(spark, root)) throw new NoSuchTableException(ident)
      return ns match {
        case "changes" => new DvChangesV2Table(root)
        case kind => new DvMetaV2Table(root, kind)
      }
    }
    val root = rootOf(ident)
    if (!DV.exists(spark, root)) throw new NoSuchTableException(ident)
    new DvV2Table(root, None)
  }

  /** `VERSION AS OF v` — Spark's native time-travel resolution calls
    * this overload; each version serves under its own recorded schema
    * (tombstones retroactive — the layer's pinned semantics).
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val root = rootOf(ident)
    if (!DV.exists(spark, root)) throw new NoSuchTableException(ident)
    val v = try version.toLong catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"graft-dv VERSION AS OF takes a manifest version number; " +
          s"got '$version'")
    }
    new DvV2Table(root, Some(DV.timeTravelVersion(spark, root, Left(v))))
  }

  /** `TIMESTAMP AS OF t` (micros since epoch) — highest version whose
    * commit marker landed at or before the instant.
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val root = rootOf(ident)
    if (!DV.exists(spark, root)) throw new NoSuchTableException(ident)
    new DvV2Table(root, Some(DV.timeTravelVersion(spark, root,
      Right(new java.sql.Timestamp(timestamp / 1000L)))))
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val root = Option(properties.get(TableCatalog.PROP_LOCATION))
      .getOrElse(rootOf(ident))
    if (DV.exists(spark, root)) throw new TableAlreadyExistsException(ident)
    val partCols = partitions.toSeq.map {
      case t if t.name == "identity" && t.references.length == 1 =>
        t.references.head.fieldNames.mkString(".")
      case other => throw new UnsupportedOperationException(
        s"graft-dv supports identity partitioning only; got $other")
    }
    require(partCols.nonEmpty,
      "creating a graft-dv table requires PARTITIONED BY (...) — the " +
        "layer's layout unit is the hive partition directory")
    partCols.foreach(c => require(schema.fieldNames.contains(c),
      s"partition column $c is not in the table schema"))
    DV.initEmpty(spark, root, schema, partCols): Unit
    new DvV2Table(root, None)
  }

  /** `ALTER TABLE ... ADD COLUMNS / RENAME COLUMN / DROP COLUMN` —
    * each a metadata-only manifest flip. ADD is add-only evolution
    * (nullable, no repositioning); RENAME/DROP resolve through COLUMN
    * MAPPING (the physical parquet names stay frozen — zero file
    * rewrites; see [[DV.alterRenameColumn]] / [[DV.alterDropColumn]]).
    */
  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    val root = rootOf(ident)
    if (!DV.exists(spark, root)) throw new NoSuchTableException(ident)
    val adds = Seq.newBuilder[org.apache.spark.sql.types.StructField]
    changes.foreach {
      case a: TableChange.AddColumn =>
        require(a.fieldNames.length == 1,
          "graft-dv ALTER adds top-level columns only; got " +
            a.fieldNames.mkString("."))
        require(a.isNullable,
          s"graft-dv added columns must be nullable (old rows " +
            s"null-fill); ${a.fieldNames.head} is NOT NULL")
        require(a.position == null,
          "graft-dv ALTER does not support column positioning " +
            "(FIRST/AFTER) — columns append")
        val mb = new org.apache.spark.sql.types.MetadataBuilder()
        Option(a.comment).foreach(mb.putString("comment", _))
        // DEFAULT rides Spark's own column-default metadata: the
        // parquet reader fills EXISTS_DEFAULT for files missing the
        // column (all pre-add files), and INSERTs omitting it resolve
        // CURRENT_DEFAULT. Defaults are fixed at add time (no SET
        // DEFAULT), so the two keys always agree.
        Option(a.defaultValue).foreach { d =>
          import org.apache.spark.sql.catalyst.util.{ResolveDefaultColumns => RDC}
          mb.putString(RDC.CURRENT_DEFAULT_COLUMN_METADATA_KEY, d.getSql)
          mb.putString(RDC.EXISTS_DEFAULT_COLUMN_METADATA_KEY, d.getSql)
        }
        adds += org.apache.spark.sql.types.StructField(
          a.fieldNames.head, a.dataType, nullable = true, mb.build())
      case r: TableChange.RenameColumn =>
        require(r.fieldNames.length == 1,
          "graft-dv RENAME COLUMN works on top-level columns only; " +
            s"got ${r.fieldNames.mkString(".")}")
        DV.alterRenameColumn(spark, root, r.fieldNames.head,
          r.newName): Unit
      case d: TableChange.DeleteColumn =>
        require(d.fieldNames.length == 1,
          "graft-dv DROP COLUMN works on top-level columns only; " +
            s"got ${d.fieldNames.mkString(".")}")
        DV.alterDropColumn(spark, root, d.fieldNames.head): Unit
      case other => throw new UnsupportedOperationException(
        "graft-dv supports ALTER TABLE ADD COLUMNS / RENAME COLUMN / " +
          s"DROP COLUMN only; got $other")
    }
    val toAdd = adds.result()
    if (toAdd.nonEmpty)
      DV.alterAddColumns(spark, root, StructType(toAdd)): Unit
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val root = rootOf(ident)
    if (!DV.exists(spark, root)) false
    else {
      val p = new Path(root)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, true)
    }
  }

  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      "graft-dv tables are addressed by path; RENAME is not supported")
}

/** V2 metadata column — `__file`/`__pos`, the positional row identity
  * every tombstone rides. NON-nullable by contract: Spark's row-level
  * rewrite requires non-nullable row ids (`NULLABLE_ROW_ID_ATTRIBUTES`)
  * and handles the not-matched null side of a MERGE itself.
  */
private[sources] case class DvMetaColumn(name: String,
    dataType: DataType) extends MetadataColumn {
  override def isNullable: Boolean = false
}

/** DSv2 table over a graft-dv root (optionally pinned to a committed
  * version for time travel). Reads/writes delegate to the proven
  * manifest-fed machinery through the V1 bridge interfaces ([[V1Scan]]
  * / [[V1Write]]); DELETE/UPDATE/MERGE resolve through
  * [[DvRowLevelOperation]] (delta-based, merge-on-read).
  */
class DvV2Table(val root: String, val pinned: Option[Long])
    extends Table with SupportsRead with SupportsWrite
    with SupportsMetadataColumns
    with org.apache.spark.sql.GraftV1FallbackTable
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {

  private def spark = SparkSession.active

  /** Streaming READS of the table (`spark.readStream.table`) resolve
    * through this V1 fallback onto the `graft-dv` streaming source —
    * initial snapshot + per-commit insert tail, the Delta
    * streaming-source shape (batch resolution stays pure DSv2).
    */
  override def v1Table: org.apache.spark.sql.catalyst.catalog.CatalogTable = {
    require(pinned.isEmpty,
      "cannot stream a time-traveled graft-dv read — stream the live " +
        "table (optionally from option startingVersion)")
    org.apache.spark.sql.catalyst.catalog.CatalogTable(
      identifier = org.apache.spark.sql.catalyst.TableIdentifier(
        root, Some("graftdv")),
      tableType =
        org.apache.spark.sql.catalyst.catalog.CatalogTableType.EXTERNAL,
      storage = org.apache.spark.sql.catalyst.catalog.CatalogStorageFormat
        .empty.copy(properties = Map("path" -> root)),
      schema = schema,
      provider = Some("graft-dv"))
  }

  /** The frame this table serves (pinned version under its own
    * schema, else current committed state; `withPos` adds the
    * positional identity columns the row-level operations key on).
    */
  private[graft] def served(withPos: Boolean): DataFrame =
    (pinned, withPos) match {
      case (Some(v), false) => DV.readVersion(spark, root, v)
      case (Some(_), true) => throw new UnsupportedOperationException(
        "row-level operations on a time-traveled graft-dv read are " +
          "not supported — write to the current table")
      case (None, false) => DV.read(spark, root)
      case (None, true) => DV.readWithPos(spark, root)
    }

  override def name(): String =
    s"graft-dv.`$root`" + pinned.map(v => s" VERSION AS OF $v")
      .getOrElse("")

  override lazy val schema: StructType = served(withPos = false).schema

  override def partitioning(): Array[Transform] =
    DV.partitionColsOf(spark, root).map(Expressions.identity).toArray

  override def properties(): util.Map[String, String] =
    Map("provider" -> "graft-dv", "location" -> root).asJava

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE)

  override def metadataColumns(): Array[MetadataColumn] = Array(
    DvMetaColumn("__file", StringType), DvMetaColumn("__pos", LongType))

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new DvScanBuilder(this)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new DvV1WriteBuilder(this)

  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(pinned.isEmpty, "cannot run DML on a time-traveled read")
    () => new DvRowLevelOperation(this, info.command)
  }
}

/** Scan builder: column pruning and filter pushdown both land INSIDE
  * the V1-bridged masked read, so the inner plan's Catalyst pass gets
  * them to the manifest scan (partition/stats pruning) and the
  * parquet reader (predicate pushdown) — pushing here is what makes
  * the fallback tier scale; the optimizer swap then removes the
  * bridge entirely where installed.
  */
private[sources] class DvScanBuilder(table: DvV2Table)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {

  private var required: StructType = table.schema
  private var pushed: Array[sources.Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def pushFilters(
      filters: Array[sources.Filter]): Array[sources.Filter] = {
    val (ok, residual) =
      filters.partition(f => DvFilterBridge.toColumn(f).isDefined)
    pushed = ok
    residual
  }

  override def pushedFilters(): Array[sources.Filter] = pushed

  override def build(): Scan = DvV1ScanImpl(table, required, pushed)
}

/** The bridged scan: carries everything needed to rebuild the pruned,
  * filtered masked read — used identically by the V1 fallback
  * ([[toV1TableScan]]) and by [[graft.plans.DvScanRule]]'s swap (which
  * replaces the whole bridge with [[inner]]'s plan, pushdown intact).
  */
case class DvV1ScanImpl(table: DvV2Table, required: StructType,
    pushed: Array[sources.Filter])
    extends V1Scan with DvBridgedScan
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  override def readSchema(): StructType = required

  /** Manifest-backed size estimate (one metadata aggregate): without
    * it a V1-bridged scan reports `defaultSizeInBytes` (huge) and a
    * join against a small DV table never broadcasts in sessions
    * without the optimizer swap. Live physical bytes/rows are the
    * honest upper bound (tombstones only shrink them).
    */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    val spark = SparkSession.active
    val agg = DV.manifest(spark, table.root)
      .agg(org.apache.spark.sql.functions.sum("bytes"),
        org.apache.spark.sql.functions.sum("rows")).head()
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        if (agg.isNullAt(0)) java.util.OptionalLong.of(0L)
        else java.util.OptionalLong.of(agg.getLong(0))
      override def numRows(): java.util.OptionalLong =
        if (agg.isNullAt(1)) java.util.OptionalLong.of(0L)
        else java.util.OptionalLong.of(agg.getLong(1))
    }
  }

  /** The real plan this scan stands for. */
  private[graft] def inner(spark: SparkSession): DataFrame = {
    val needPos =
      required.fieldNames.contains("__file") ||
        required.fieldNames.contains("__pos")
    var df = table.served(withPos = needPos)
    pushed.flatMap(DvFilterBridge.toColumn).foreach(c => df = df.filter(c))
    if (required.isEmpty) df.select()
    else df.select(required.fieldNames.map(col).toSeq: _*)
  }

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T = {
    val self = this
    new BaseRelation with TableScan {
      override def sqlContext: SQLContext = context
      override def schema: StructType = required
      override def buildScan(): RDD[Row] =
        self.inner(context.sparkSession).rdd
    }.asInstanceOf[T]
  }
}

/** CHANGE-DATA-FEED table — what `graftdv.changes.`/root`` loads.
  * Batch reads serve [[DV.readChanges]] over the committed-version
  * window the read options select (`startingVersion` exclusive-from,
  * default the earliest retained version; `endingVersion` inclusive-to,
  * default latest). Streaming (`spark.readStream.table`) rides the
  * [[V2TableWithV1Fallback]] hook onto the proven `graft-dv-cdf`
  * source — offsets are manifest versions, exactly-once by replaying
  * immutable committed manifests.
  */
class DvChangesV2Table(val root: String) extends Table
    with SupportsRead
    with org.apache.spark.sql.GraftV1FallbackTable {

  private def spark = SparkSession.active

  override def name(): String = s"graft-dv-changes.`$root`"

  override lazy val schema: StructType =
    DvCdfSource.changeSchema(spark.sqlContext, root)

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder = {
    val from = Option(options.get("startingVersion")).map(_.toLong)
    val to = Option(options.get("endingVersion")).map(_.toLong)
    () => DvChangesScanImpl(root, schema, from, to)
  }

  /** The streaming fallback: `readStream.table` resolves this
    * CatalogTable's provider (`graft-dv-cdf`) through the V1
    * StreamSourceProvider path — the same source the format-string
    * face uses, now reachable through the catalog name.
    */
  override def v1Table: org.apache.spark.sql.catalyst.catalog.CatalogTable =
    org.apache.spark.sql.catalyst.catalog.CatalogTable(
      identifier = org.apache.spark.sql.catalyst.TableIdentifier(
        root, Some("graftdv_changes")),
      tableType =
        org.apache.spark.sql.catalyst.catalog.CatalogTableType.EXTERNAL,
      storage = org.apache.spark.sql.catalyst.catalog.CatalogStorageFormat
        .empty.copy(properties = Map("path" -> root)),
      schema = schema,
      provider = Some("graft-dv-cdf"))
}

/** Bridged CDF scan: the batch half of the changes table. Shares the
  * [[DvBridgedScan]] swap hook with the main table's scan, so catalog
  * CDF reads end at the direct [[DV.readChanges]] plan where the
  * optimizer swap is installed.
  */
case class DvChangesScanImpl(root: String, changeSchema: StructType,
    fromV: Option[Long], toV: Option[Long])
    extends V1Scan with DvBridgedScan {

  override def readSchema(): StructType = changeSchema

  private[graft] def inner(spark: SparkSession): DataFrame = {
    val mt = DV.manifestTable(root)
    val versions = Snapshots.committedVersions(spark, mt)
    val from = fromV.getOrElse(versions.min)
    val to = toV.getOrElse(versions.max)
    val changes =
      if (to <= from)
        spark.createDataFrame(
          new java.util.ArrayList[Row](), changeSchema)
      else DV.readChanges(spark, root, from, to)
    // align to the declared change schema (null-fill columns a
    // narrower feed window never materialized, fix the order)
    val filled = changeSchema.fieldNames.foldLeft(changes) { (df, c) =>
      if (df.columns.contains(c)) df
      else df.withColumn(c, lit(null).cast(changeSchema(c).dataType))
    }
    filled.select(changeSchema.fieldNames.map(col).toSeq: _*)
  }

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T = {
    val self = this
    new BaseRelation with TableScan {
      override def sqlContext: SQLContext = context
      override def schema: StructType = changeSchema
      override def buildScan(): RDD[Row] =
        self.inner(context.sparkSession).rdd
    }.asInstanceOf[T]
  }
}

/** Common face of the catalog's V1-bridged scans — what
  * [[graft.plans.DvScanRule]] swaps for the real plan.
  */
trait DvBridgedScan {
  private[graft] def inner(spark: SparkSession): DataFrame
}

/** Metadata table — `graftdv.history.`/root`` / `graftdv.files.`/root``:
  * the manifest log (one row per retained version) and the live file
  * inventory, SQL-queryable through the same V1Scan bridge + swap
  * hook as every catalog read. Metadata-scale by construction — both
  * frames derive from the manifest, never the data.
  */
class DvMetaV2Table(val root: String, val kind: String) extends Table
    with SupportsRead {

  private def spark = SparkSession.active

  private[graft] def frame(s: SparkSession): DataFrame = kind match {
    case "history" => DV.history(s, root)
    case _ => DV.manifest(s, root)
  }

  override def name(): String = s"graft-dv-$kind.`$root`"

  override lazy val schema: StructType = frame(spark).schema

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    () => DvMetaScanImpl(this, schema)
}

private[graft] case class DvMetaScanImpl(table: DvMetaV2Table,
    metaSchema: StructType) extends V1Scan with DvBridgedScan {

  override def readSchema(): StructType = metaSchema

  private[graft] def inner(spark: SparkSession): DataFrame =
    table.frame(spark)

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T = {
    val self = this
    new BaseRelation with TableScan {
      override def sqlContext: SQLContext = context
      override def schema: StructType = metaSchema
      override def buildScan(): RDD[Row] =
        self.inner(context.sparkSession).rdd
    }.asInstanceOf[T]
  }
}

/** V1-bridged batch write: INSERT INTO → append (new files behind one
  * CAS flip), INSERT OVERWRITE → re-init preserving the layout. The
  * existing partition layout always wins — exactly the
  * [[DvRelation.insert]] contract.
  */
private[sources] class DvV1WriteBuilder(table: DvV2Table)
    extends WriteBuilder with SupportsTruncate {

  // remembered here AND honored via insert()'s own flag — the two V1
  // fallback exec conventions across Spark versions
  private var truncateFirst = false

  override def truncate(): WriteBuilder = { truncateFirst = true; this }

  override def build(): Write = new V1Write {
    // rows written, from the new files' parquet footers (an
    // insert-only MERGE compiles to this append; GraftSql reports it)
    @volatile private var appended = 0L

    override def supportedCustomMetrics(): Array[CustomMetric] =
      Array(new DvAppendedRows)

    override def reportDriverMetrics(): Array[CustomTaskMetric] =
      Array(DvDeltaWrite.count(DvDeltaWrite.AppendedRows, appended))

    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data: DataFrame, overwrite: Boolean): Unit = {
          require(table.pinned.isEmpty,
            "cannot INSERT into a time-traveled graft-dv read")
          val spark = data.sparkSession
          val partCols = DV.partitionColsOf(spark, table.root)
          require(partCols.nonEmpty,
            s"cannot INSERT into graft-dv table at ${table.root}: it " +
              "has no partition columns — re-create it partitioned")
          val written =
            if (overwrite || truncateFirst) {
              // materialize BEFORE init deletes the root: an
              // INSERT OVERWRITE t SELECT ... FROM t reads the table
              // it is about to re-create
              DV.init(spark, data.localCheckpoint(), table.root,
                partCols): Unit
              spark.read.schema(data.schema)
                .parquet(DV.dataDir(table.root)).inputFiles.toSeq
            } else DV.append(spark, table.root, partCols, data)
          appended = DV.footerRows(spark, written)
        }
      }
  }
}

/** DataSource `Filter` → `Column` translation for the pushdown
  * bridge. Only exact translations are offered — a filter translated
  * here is applied in full inside the inner plan, so Spark needn't
  * re-evaluate it above (untranslatable shapes stay residual and
  * Spark keeps them).
  */
private[graft] object DvFilterBridge {

  def toColumn(f: sources.Filter): Option[Column] = f match {
    case sources.EqualTo(a, v) => Some(col(a) === lit(v))
    case sources.EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case sources.GreaterThan(a, v) => Some(col(a) > lit(v))
    case sources.GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case sources.LessThan(a, v) => Some(col(a) < lit(v))
    case sources.LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case sources.In(a, vs) => Some(col(a).isin(vs.toSeq: _*))
    case sources.IsNull(a) => Some(col(a).isNull)
    case sources.IsNotNull(a) => Some(col(a).isNotNull)
    case sources.StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case sources.StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case sources.StringContains(a, v) => Some(col(a).contains(v))
    case sources.Not(c) => toColumn(c).map(!_)
    case sources.And(l, r) =>
      for (lc <- toColumn(l); rc <- toColumn(r)) yield lc && rc
    case sources.Or(l, r) =>
      for (lc <- toColumn(l); rc <- toColumn(r)) yield lc || rc
    case sources.AlwaysTrue() => Some(lit(true))
    case sources.AlwaysFalse() => Some(lit(false))
    case _ => None
  }
}
