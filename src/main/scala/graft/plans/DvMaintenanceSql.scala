package graft.plans

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.{ParserInterface, ParameterContext}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{LongType, StructType}

import graft.operators.{DeletionVectors => DV}

/** SQL maintenance statements for graft-dv tables — the operational
  * half of the lakehouse SQL surface (DML, time travel and column
  * ALTERs run through the DSv2 catalog, [[DvSessionNameRule]]):
  *
  * {{{
  *   VACUUM ev                                -- default retention
  *   VACUUM ev RETAIN 168 HOURS KEEP 3 VERSIONS
  *   VACUUM ev RETAIN 0 HOURS DRY RUN         -- report, delete nothing
  *   DESCRIBE DETAIL ev                       -- one-row table summary
  *   OPTIMIZE ev                              -- fold blobs + purge + pack
  *   DESCRIBE HISTORY ev [LIMIT 20]           -- the manifest log
  *   OPTIMIZE ev WHERE day = '2021-01-03'     -- bounded maintenance
  *   OPTIMIZE ev WHERE day >= '2021-06' ZORDER BY (user_id)
  *   RESTORE TABLE ev TO VERSION AS OF 3      -- forward-only restore
  *   RESTORE TABLE ev TO TIMESTAMP AS OF '2026-08-15 12:00:00'
  *   OPTIMIZE ev ZORDER BY (user_id)          -- layout rewrite
  *   ALTER TABLE ev ADD CONSTRAINT c CHECK (user_id >= 0)
  *   ALTER TABLE ev DROP CONSTRAINT c
  *   CREATE TABLE ev2 SHALLOW CLONE ev VERSION AS OF 2 LOCATION '/t2'
  * }}}
  *
  * None of these statements exist in Spark's grammar (they are the
  * Delta-shaped operational verbs), so this layer owns a TINY
  * recognizer for exactly these shapes and routes everything else
  * to the session parser unchanged: [[GraftSqlParser]] wraps the
  * parser for extension-built sessions (`injectParser`, the Delta
  * pattern), and [[graft.GraftSql.sql]] consults the recognizer first
  * for driver-owned ones. The commands resolve their target through
  * the session catalog at RUN time (graft-dv provider check) and fail
  * loudly on anything else — a typo'd table name never
  * silently no-ops.
  *
  * `OPTIMIZE` = [[DV.compactBlobs]] (fold each file's delta blobs)
  * then [[DV.purge]] at the default 25% threshold (rewrite only files
  * past it) — the bounded-write maintenance sweep, never a table
  * rewrite. `VACUUM` maps RETAIN n HOURS → the age grace window and
  * KEEP k VERSIONS → manifest retention.
  */
object DvMaintenanceSql {

  private val VacuumRe =
    """(?is)\s*VACUUM\s+([\w.`]+)(?:\s+RETAIN\s+(\d+)\s+HOURS)?(?:\s+KEEP\s+(\d+)\s+VERSIONS)?(\s+DRY\s+RUN)?\s*;?\s*""".r
  private val DetailRe =
    """(?is)\s*DESC(?:RIBE)?\s+DETAIL\s+([\w.`]+)\s*;?\s*""".r
  private val OptimizeRe =
    """(?is)\s*OPTIMIZE\s+([\w.`]+)(\s+INCREMENTAL)?(?:\s+WHERE\s+(.+?))?(?:\s+ZORDER\s+BY\s+\(([^)]*)\))?\s*;?\s*""".r
  private val AddConsRe =
    """(?is)\s*ALTER\s+TABLE\s+([\w.`]+)\s+ADD\s+CONSTRAINT\s+(\w+)\s+CHECK\s*\((.+)\)\s*;?\s*""".r
  private val DropConsRe =
    """(?is)\s*ALTER\s+TABLE\s+([\w.`]+)\s+DROP\s+CONSTRAINT\s+(\w+)\s*;?\s*""".r
  private val CloneRe =
    """(?is)\s*CREATE\s+TABLE\s+([\w.`]+)\s+SHALLOW\s+CLONE\s+([\w.`]+)(?:\s+VERSION\s+AS\s+OF\s+(\d+))?\s+LOCATION\s+'([^']+)'\s*;?\s*""".r
  private val HistoryRe =
    """(?is)\s*DESC(?:RIBE)?\s+HISTORY\s+([\w.`]+)(?:\s+LIMIT\s+(\d+))?\s*;?\s*""".r
  private val RestoreRe =
    """(?is)\s*RESTORE\s+(?:TABLE\s+)?([\w.`]+)\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)\s*;?\s*""".r
  private val RestoreTsRe =
    """(?is)\s*RESTORE\s+(?:TABLE\s+)?([\w.`]+)\s+TO\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)'\s*;?\s*""".r
  private val SetPartRe =
    """(?is)\s*ALTER\s+TABLE\s+([\w.`]+)\s+SET\s+PARTITIONING\s*\(([^)]*)\)\s*;?\s*""".r
  private val MigrateRe =
    """(?is)\s*OPTIMIZE\s+([\w.`]+)\s+MIGRATE(?:\s+WHERE\s+(.+?))?\s*;?\s*""".r

  /** The maintenance/lifecycle shapes, or None for anything else. */
  def parse(text: String): Option[LogicalPlan] = text match {
    case VacuumRe(ident, hours, keepV, dry) =>
      Some(DvVacuumCommand(ident, Option(hours).map(_.toLong),
        Option(keepV).map(_.toInt), dryRun = dry != null))
    case DetailRe(ident) => Some(DvDetailCommand(ident))
    case SetPartRe(ident, cols) =>
      val cs = splitZorderCols(cols) // same quoted-identifier rules
      require(cs.nonEmpty,
        "SET PARTITIONING (…) requires at least one column")
      Some(DvSetPartitioningCommand(ident, cs))
    case MigrateRe(ident, where) => Some(DvMigrateCommand(ident,
      Option(where).map(_.trim).filter(_.nonEmpty)))
    case OptimizeRe(ident, incr, where, zcols) =>
      val zs = Option(zcols).map(splitZorderCols)
      // `ZORDER BY ()` must ERROR, not silently degrade to plain
      // OPTIMIZE — the user asked for clustering and would get none.
      zs.foreach(s => require(s.nonEmpty,
        "OPTIMIZE … ZORDER BY (…) requires at least one column"))
      require(incr == null || zs.nonEmpty,
        "OPTIMIZE … INCREMENTAL requires a ZORDER BY (…) clause — " +
          "plain OPTIMIZE (purge + bin-pack) is already incremental " +
          "by construction")
      Some(DvOptimizeCommand(ident, zs.getOrElse(Nil),
        Option(where).map(_.trim).filter(_.nonEmpty),
        incremental = incr != null))
    case AddConsRe(ident, name, check) =>
      Some(DvAddConstraintCommand(ident, name, check.trim))
    case DropConsRe(ident, name) =>
      Some(DvDropConstraintCommand(ident, name))
    case CloneRe(dst, src, v, loc) => Some(DvCloneCommand(dst, src,
      Option(v).map(_.toLong), loc))
    case HistoryRe(ident, lim) => Some(DvHistoryCommand(ident,
      Option(lim).map(_.toInt)))
    case RestoreRe(ident, v) => Some(DvRestoreCommand(ident,
      Left(v.toLong)))
    case RestoreTsRe(ident, ts) => Some(DvRestoreCommand(ident,
      Right(ts)))
    case _ => None
  }

  /** Split a ZORDER column list on commas OUTSIDE backtick quotes, so
    * `` `weird,name` `` stays one identifier (and an embedded doubled
    * backtick un-escapes), matching Spark's quoted-identifier rules
    * instead of a naive split-and-strip.
    */
  private[plans] def splitZorderCols(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var inQ = false
    var i = 0
    while (i < s.length) {
      val ch = s.charAt(i)
      if (ch == '`') {
        if (inQ && i + 1 < s.length && s.charAt(i + 1) == '`') {
          cur.append('`'); i += 1           // escaped backtick inside quotes
        } else inQ = !inQ                   // quote delimiter — dropped
      } else if (ch == ',' && !inQ) {
        out += cur.result().trim; cur.clear()
      } else cur.append(ch)
      i += 1
    }
    out += cur.result().trim
    require(!inQ, s"unterminated backtick quote in ZORDER BY column list: $s")
    val segs = out.result()
    if (segs.forall(_.isEmpty)) Nil    // bare `()` — caller rejects with its own message
    else {
      require(segs.forall(_.nonEmpty),
        s"empty column name in ZORDER BY list: $s")
      segs
    }
  }

  private[plans] def rootOf(session: SparkSession,
      identText: String): String = {
    val ident = session.sessionState.sqlParser
      .parseMultipartIdentifier(identText)
    DvSessionName.dvCatalogRoot(session, ident).getOrElse(
      throw new IllegalArgumentException(
        s"$identText is not a graft-dv catalog table — VACUUM/OPTIMIZE " +
          "operate on graft-dv tables only"))
  }
}

/** `VACUUM t [RETAIN n HOURS] [KEEP k VERSIONS] [DRY RUN]` — reclaim
  * data files referenced by no retained manifest (and dead tombstone
  * dirs), shielding files younger than the retention window. DRY RUN
  * reports the exact candidate math (files, bytes, dirs) deleting
  * NOTHING and leaving the manifest log untouched — the safety check
  * before an aggressive retention setting.
  */
case class DvVacuumCommand(identText: String, retainHours: Option[Long],
    keepVersions: Option[Int], dryRun: Boolean = false)
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] =
    if (dryRun) Seq(
      AttributeReference("data_files_reclaimable", LongType,
        nullable = false)(),
      AttributeReference("bytes_reclaimable", LongType,
        nullable = false)(),
      AttributeReference("tombstone_dirs_reclaimable", LongType,
        nullable = false)())
    else Seq(
      AttributeReference("data_files_deleted", LongType,
        nullable = false)(),
      AttributeReference("tombstone_dirs_deleted", LongType,
        nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val root = DvMaintenanceSql.rootOf(session, identText)
    val keep = keepVersions.getOrElse(1)
    val ageMs = retainHours.map(_ * 3600L * 1000L)
      .getOrElse(DV.DefaultVacuumGraceMs)
    if (dryRun) {
      val (files, bytes, dirs) = DV.vacuumDryRun(session, root, keep, ageMs)
      Seq(Row(files, bytes, dirs))
    } else {
      val (d, b) = DV.vacuum(session, root, keep, ageMs)
      Seq(Row(d, b))
    }
  }
}

/** `DESCRIBE DETAIL t` — one-row table summary: identity, log
  * position, declared metadata, live totals, tombstoned rows
  * ([[DV.detail]]).
  */
case class DvDetailCommand(identText: String)
    extends LeafRunnableCommand {

  private val S = org.apache.spark.sql.types.StringType

  override val output: Seq[Attribute] = Seq(
    AttributeReference("format", S, nullable = false)(),
    AttributeReference("location", S, nullable = false)(),
    AttributeReference("table_id", S, nullable = false)(),
    AttributeReference("partition_columns", S, nullable = false)(),
    AttributeReference("stats_columns", S, nullable = false)(),
    AttributeReference("constraints", S, nullable = false)(),
    AttributeReference("old_layouts", S, nullable = false)(),
    AttributeReference("column_mapping", S, nullable = false)(),
    AttributeReference("features", S, nullable = false)(),
    AttributeReference("current_version", LongType, nullable = false)(),
    AttributeReference("num_retained_versions", LongType,
      nullable = false)(),
    AttributeReference("cdc_batch", LongType, nullable = false)(),
    AttributeReference("num_live_files", LongType, nullable = false)(),
    AttributeReference("live_rows", LongType, nullable = false)(),
    AttributeReference("live_bytes", LongType, nullable = false)(),
    AttributeReference("tombstoned_rows", LongType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val root = DvMaintenanceSql.rootOf(session, identText)
    val (s, n) = DV.detail(session, root)
    Seq(Row(s("format"), s("location"), s("table_id"),
      s("partition_columns"), s("stats_columns"), s("constraints"),
      s("old_layouts"), s("column_mapping"), s("features"),
      n("current_version"), n("num_retained_versions"), n("cdc_batch"),
      n("num_live_files"), n("live_rows"), n("live_bytes"),
      n("tombstoned_rows")))
  }
}

/** `OPTIMIZE t` — fold delta blobs, rewrite files past the
  * deleted-fraction threshold, then bin-pack small files per
  * partition dir ([[DV.compactSmallFiles]] — the file-COUNT half a
  * CDC trickle needs), each behind one CAS manifest flip.
  * `OPTIMIZE t ZORDER BY (c1[, c2])` — rewrite every live file with
  * rows Morton-clustered on the given columns ([[DV.zorder]]): the
  * explicit layout operation; masks fold into the replacements, so no
  * separate purge or bin-pack pass runs.
  * `OPTIMIZE t INCREMENTAL ZORDER BY (c1[, c2])` — the liquid shape:
  * cluster ONLY files a previous zorder did not produce, O(new bytes)
  * instead of a full table rewrite, previously-clustered files
  * byte-identical.
  */
case class DvOptimizeCommand(identText: String,
    zorderCols: Seq[String] = Nil, where: Option[String] = None,
    incremental: Boolean = false)
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("blob_dirs_compacted", LongType, nullable = false)(),
    AttributeReference("blobs_folded", LongType, nullable = false)(),
    AttributeReference("files_rewritten", LongType, nullable = false)(),
    AttributeReference("small_files_packed", LongType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val root = DvMaintenanceSql.rootOf(session, identText)
    if (zorderCols.nonEmpty) {
      val rewritten = DV.zorder(session, root, zorderCols,
        scope = where, incremental = incremental).size.toLong
      Seq(Row(0L, 0L, rewritten, 0L))
    } else {
      // blob folding stays table-wide: it is already bounded by
      // files-carrying-deletes and rewrites nothing
      val (dirs, inputs) = DV.compactBlobs(session, root)
      val partCols = DV.partitionColsOf(session, root)
      val rewritten =
        if (partCols.isEmpty) 0L
        else DV.purge(session, root, partCols, 0.25, () => (),
          scope = where).size.toLong
      val packed =
        if (partCols.isEmpty) 0L
        else DV.compactSmallFiles(session, root, scope = where).size.toLong
      Seq(Row(dirs, inputs, rewritten, packed))
    }
  }
}

/** `ALTER TABLE t SET PARTITIONING (c1[, c2])` — partition evolution
  * ([[DV.setPartitioning]]): one metadata-only flip; old files stay
  * queryable under their layout, new writes land under the new one.
  */
case class DvSetPartitioningCommand(identText: String,
    newCols: Seq[String]) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("partitioned_by",
      org.apache.spark.sql.types.StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val root = DvMaintenanceSql.rootOf(session, identText)
    val v = DV.setPartitioning(session, root, newCols)
    Seq(Row(newCols.mkString(","), v))
  }
}

/** `OPTIMIZE t MIGRATE [WHERE ...]` — rewrite old-generation files
  * into the current layout ([[DV.migrateLayout]]); the WHERE scope
  * evaluates over each old file's OWN partition columns.
  */
case class DvMigrateCommand(identText: String,
    where: Option[String]) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("files_migrated", LongType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val root = DvMaintenanceSql.rootOf(session, identText)
    Seq(Row(DV.migrateLayout(session, root, where).size.toLong))
  }
}

/** `CREATE TABLE dst SHALLOW CLONE src [VERSION AS OF n] LOCATION
  * '<root>'` — zero-copy table clone ([[DV.shallowClone]]: the clone's
  * manifest references the source's data files; the tombstone sidecar
  * copies at metadata scale so retroactive deletes hold on the clone),
  * then the clone registers under `dst` in the session catalog. The
  * LOCATION clause is REQUIRED: graft-dv tables are rooted filesystem
  * layouts, never metastore-managed paths.
  */
case class DvCloneCommand(dstIdent: String, srcIdent: String,
    version: Option[Long], dstRoot: String) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("cloned_version", LongType, nullable = false)(),
    AttributeReference("location",
      org.apache.spark.sql.types.StringType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val srcRoot = DvMaintenanceSql.rootOf(session, srcIdent)
    val v = version.getOrElse(graft.operators.Snapshots
      .latestVersion(session, DV.manifestTable(srcRoot)).get)
    DV.shallowClone(session, srcRoot, dstRoot, Some(v)): Unit
    session.sql(s"CREATE TABLE $dstIdent USING `graft-dv` " +
      s"OPTIONS (path '$dstRoot')"): Unit
    Seq(Row(v, dstRoot))
  }
}

/** `ALTER TABLE t ADD CONSTRAINT name CHECK (expr)` — record a CHECK
  * constraint (validated against existing rows, enforced on every
  * mutating write; [[DV.alterAddConstraint]]).
  */
case class DvAddConstraintCommand(identText: String, name: String,
    check: String) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("constraint",
      org.apache.spark.sql.types.StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val root = DvMaintenanceSql.rootOf(session, identText)
    val v = DV.alterAddConstraint(session, root, name, check)
    Seq(Row(name, v))
  }
}

/** `ALTER TABLE t DROP CONSTRAINT name` — metadata-only flip. */
case class DvDropConstraintCommand(identText: String, name: String)
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("constraint",
      org.apache.spark.sql.types.StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val root = DvMaintenanceSql.rootOf(session, identText)
    val v = DV.alterDropConstraint(session, root, name)
    Seq(Row(name, v))
  }
}

/** `DESCRIBE HISTORY t` — one row per retained manifest version:
  * commit instant, recorded operation, live totals, file-set delta vs
  * the previous retained version, CDC high-water mark
  * ([[DV.history]]). Metadata-scale: manifest rows, never data.
  */
case class DvHistoryCommand(identText: String,
    limit: Option[Int] = None) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("committed_at",
      org.apache.spark.sql.types.TimestampType, nullable = false)(),
    AttributeReference("operation",
      org.apache.spark.sql.types.StringType, nullable = true)(),
    AttributeReference("live_files", LongType, nullable = false)(),
    AttributeReference("live_rows", LongType, nullable = false)(),
    AttributeReference("live_bytes", LongType, nullable = false)(),
    AttributeReference("files_added", LongType, nullable = false)(),
    AttributeReference("files_removed", LongType, nullable = false)(),
    AttributeReference("cdc_batch", LongType, nullable = true)())

  override def run(session: SparkSession): Seq[Row] = {
    val root = DvMaintenanceSql.rootOf(session, identText)
    DV.history(session, root, limit).collect().toSeq
  }
}

/** `RESTORE [TABLE] t TO VERSION AS OF n` /
  * `RESTORE [TABLE] t TO TIMESTAMP AS OF 'ts'` — publish a new
  * manifest version serving exactly version n's live set/schema
  * ([[DV.restore]]: forward-only history, retroactive tombstones kept,
  * CDC high-water carried forward, zero data bytes moved).
  */
case class DvRestoreCommand(identText: String,
    target: Either[Long, String]) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("restored_to_version", LongType,
      nullable = false)(),
    AttributeReference("new_version", LongType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val root = DvMaintenanceSql.rootOf(session, identText)
    val v = DV.timeTravelVersion(session, root, target.map(ts =>
      DV.asOfTimestamp("RESTORE ... TO TIMESTAMP AS OF", ts)))
    val nv = DV.restore(session, root, v)
    Seq(Row(v, nv))
  }
}

/** `ANALYZE TABLE t COMPUTE STATISTICS [NOSCAN]` on graft-dv: the
  * manifest already HOLDS the statistics — live bytes and physical
  * rows are one metadata aggregate, and the visible row count
  * subtracts the distributed tombstone count — so the statement costs
  * O(manifest), never a data scan (Spark's own v1 AnalyzeTableCommand
  * would row-scan through the fallback relation). Catalog stats land
  * via `alterTableStats`, feeding the same CBO machinery
  * `cbo_join_reorder` demonstrates (join reordering needs stats; the
  * round-10 AQE × CBO measurement in PLANS.md showed that AQE alone
  * never repairs join ORDER).
  * Partitioned (`PARTITION (...)`) and column-level forms fall
  * through to Spark untouched.
  */
object DvAnalyze {

  import org.apache.spark.sql.catalyst.plans.logical.AnalyzeTable

  private[plans] def identOf(p: LogicalPlan): Option[Seq[String]] = p match {
    case u: org.apache.spark.sql.catalyst.analysis.UnresolvedTable =>
      Some(u.multipartIdentifier)
    case u: org.apache.spark.sql.catalyst.analysis.UnresolvedTableOrView =>
      Some(u.multipartIdentifier)
    case _ => None
  }

  def route(session: SparkSession,
      at: AnalyzeTable): Option[LogicalPlan] =
    if (at.partitionSpec.nonEmpty) None
    else identOf(at.child).flatMap(id =>
      DvSessionName.dvCatalogRoot(session, id).map(root =>
        DvAnalyzeCommand(id, root)))
}

/** The executed half of graft-dv ANALYZE: one manifest aggregate +
  * the distributed tombstone count -> catalog stats (sizeInBytes =
  * live bytes, rowCount = VISIBLE rows — what the optimizer should
  * cost joins with).
  */
case class DvAnalyzeCommand(ident: Seq[String], root: String)
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("physical_rows", LongType, nullable = false)(),
    AttributeReference("visible_rows", LongType, nullable = false)(),
    AttributeReference("live_bytes", LongType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    val (_, n) = DV.detail(session, root)
    val visible = n("live_rows") - n("tombstoned_rows")
    import org.apache.spark.sql.catalyst.TableIdentifier
    val tid = ident match {
      case Seq(t) => Some(TableIdentifier(t))
      case Seq(db, t) => Some(TableIdentifier(t, Some(db)))
      case Seq(c, db, t) if c.equalsIgnoreCase("spark_catalog") =>
        Some(TableIdentifier(t, Some(db)))
      case _ => None
    }
    tid.foreach { id =>
      session.sessionState.catalog.alterTableStats(id, Some(
        org.apache.spark.sql.catalyst.catalog.CatalogStatistics(
          sizeInBytes = BigInt(n("live_bytes")),
          rowCount = Some(BigInt(visible)))))
    }
    Seq(Row(n("live_rows"), visible, n("live_bytes")))
  }
}

/** `ANALYZE TABLE t COMPUTE STATISTICS FOR [ALL] COLUMNS ...` on
  * graft-dv: column-level statistics (NDV / null count / min-max /
  * length) computed DISTRIBUTEDLY over the masked read — one
  * aggregate job, visible rows only — and landed in the session
  * catalog so cost-based join reordering works on DV-backed facts
  * (CboSpec pins the order flip). The round-11 gap: row counts alone
  * cannot estimate filter selectivity, so `c_acctbal > 9000`-class
  * predicates left CBO blind on DV tables.
  */
object DvAnalyzeColumns {

  import org.apache.spark.sql.catalyst.plans.logical.AnalyzeColumn

  def route(session: SparkSession,
      ac: AnalyzeColumn): Option[LogicalPlan] =
    DvAnalyze.identOf(ac.child).flatMap(id =>
      DvSessionName.dvCatalogRoot(session, id).map(root =>
        DvAnalyzeColumnsCommand(id, root, ac.columnNames,
          ac.allColumns)))
}

case class DvAnalyzeColumnsCommand(ident: Seq[String], root: String,
    columnNames: Option[Seq[String]], allColumns: Boolean)
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] = Seq(
    AttributeReference("column_name",
      org.apache.spark.sql.types.StringType, nullable = false)(),
    AttributeReference("distinct_count", LongType, nullable = false)(),
    AttributeReference("null_count", LongType, nullable = false)())

  override def run(session: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.{approx_count_distinct, avg, count, length, lit, max => smax, min => smin, when, col => c}
    import org.apache.spark.sql.types._
    val df = DV.read(session, root)
    val fields = df.schema.fields
    val wanted =
      if (allColumns) fields.toSeq
      else columnNames.getOrElse(Nil).map(n =>
        fields.find(_.name == n).getOrElse(
          throw new IllegalArgumentException(
            s"no column $n on the graft-dv table at $root (have " +
              s"${fields.map(_.name).mkString(", ")})")))
    def rangeStats(dt: DataType): Boolean = dt match {
      case _: NumericType | DateType | BooleanType => true
      case _ => false
    }
    def lenStats(dt: DataType): Boolean = dt match {
      case StringType | BinaryType => true
      case _ => false
    }
    val cols = wanted.filter(f =>
      rangeStats(f.dataType) || lenStats(f.dataType) ||
        f.dataType == StringType || f.dataType == TimestampType)
    // ONE distributed aggregate over the masked read: NDV (HLL++),
    // null count, and — where the type supports it — min/max (as the
    // catalog's external strings) and avg/max length
    val exprs = Seq(count(lit(1)).as("__rc")) ++ cols.flatMap { f =>
      val base = Seq(
        approx_count_distinct(c(f.name)),
        count(when(c(f.name).isNull, 1)))
      val range =
        if (rangeStats(f.dataType))
          Seq(smin(c(f.name)).cast("string"),
            smax(c(f.name)).cast("string"))
        else Seq(lit(null).cast("string"), lit(null).cast("string"))
      val len =
        if (lenStats(f.dataType))
          Seq(avg(length(c(f.name))).cast("long"),
            smax(length(c(f.name))).cast("long"))
        else Seq(lit(null).cast("long"), lit(null).cast("long"))
      base ++ range ++ len
    }
    val r = df.agg(exprs.head, exprs.tail: _*).head()
    val rowCount = r.getLong(0)

    // EQUI-HEIGHT HISTOGRAMS (Spark's own conf gates them, exactly as
    // on parquet tables): numeric columns get numBins quantile
    // endpoints (one approxQuantile pass over the masked read) and a
    // per-bin NDV aggregate (ApproxCountDistinctForIntervals — the
    // same machinery Spark's AnalyzeColumnCommand uses), landing as
    // ColumnStat histograms so FilterEstimation prices SKEWED keys by
    // the bin the literal falls in, not 1/ndv — the estimate that
    // flips join strategies on skew (CboSpec pins the flip)
    val histOn = session.conf.get(
      "spark.sql.statistics.histogram.enabled", "false") == "true"
    val numBins = session.conf.get(
      "spark.sql.statistics.histogram.numBins", "254").toInt
    val histCols = if (!histOn) Nil
      else cols.filter(f => f.dataType.isInstanceOf[NumericType])
    val histograms: Map[String,
        org.apache.spark.sql.catalyst.plans.logical.Histogram] =
      if (histCols.isEmpty) Map.empty
      else {
        val probs = (0 to numBins).map(_.toDouble / numBins).toArray
        val ends0 = df.stat.approxQuantile(
          histCols.map(_.name).toArray, probs, 1e-3)
        // an all-null column (or an empty table) yields an EMPTY
        // endpoint array — no histogram is derivable and the interval
        // NDV aggregate requires >=2 endpoints (Spark's own
        // AnalyzeColumnCommand guards the same case)
        val (histKept, endsKept) = histCols.zip(ends0)
          .filter(_._2.nonEmpty).unzip
        val histCols2 = histKept
        val ends = endsKept
        if (histCols2.isEmpty) Map.empty[String,
          org.apache.spark.sql.catalyst.plans.logical.Histogram]
        else {
        val ndvAggs: Seq[org.apache.spark.sql.Column] =
          histCols2.zip(ends).map { case (f, e) =>
            import org.apache.spark.sql.catalyst.expressions._
            val endpoints = CreateArray(e.map(v =>
              Literal(v, DoubleType)).toSeq)
            org.apache.spark.sql.GraftPlanApi.column(
              new org.apache.spark.sql.catalyst.expressions.aggregate
                .ApproxCountDistinctForIntervals(
                  org.apache.spark.sql.GraftPlanApi.expression(
                    c(f.name).cast("double")), endpoints)
                .toAggregateExpression())
          }
        val ndvRow = df.agg(ndvAggs.head, ndvAggs.tail: _*).head()
        histCols2.zipWithIndex.map { case (f, i) =>
          val e = ends(i)
          val binNdvs = ndvRow.getSeq[Long](i)
          val bins = (0 until numBins).map(b =>
            org.apache.spark.sql.catalyst.plans.logical.HistogramBin(
              e(b), e(b + 1), binNdvs(b))).toArray
          val nonNull = rowCount - r.getLong(1 + cols.indexOf(f) * 6 + 1)
          f.name -> org.apache.spark.sql.catalyst.plans.logical
            .Histogram(nonNull.toDouble / numBins, bins)
        }.toMap
        }
      }

    val colStats = cols.zipWithIndex.map { case (f, i) =>
      val o = 1 + i * 6
      val ndv = r.getLong(o)
      val nulls = r.getLong(o + 1)
      val mn = if (r.isNullAt(o + 2)) None else Some(r.getString(o + 2))
      val mx = if (r.isNullAt(o + 3)) None else Some(r.getString(o + 3))
      val avgL =
        if (!r.isNullAt(o + 4)) Some(r.getLong(o + 4))
        else Some(f.dataType.defaultSize.toLong)
      val maxL =
        if (!r.isNullAt(o + 5)) Some(r.getLong(o + 5))
        else Some(f.dataType.defaultSize.toLong)
      // version = 1: its external min/max forms are the plain cast
      // strings this aggregate produces (version 2 stores dates and
      // timestamps as epoch ints, which "2024-01-02" would crash)
      f.name -> org.apache.spark.sql.catalyst.catalog.CatalogColumnStat(
        distinctCount = Some(BigInt(ndv)),
        min = if (rangeStats(f.dataType)) mn else None,
        max = if (rangeStats(f.dataType)) mx else None,
        nullCount = Some(BigInt(nulls)),
        avgLen = avgL, maxLen = maxL,
        histogram = histograms.get(f.name), version = 1)
    }.toMap
    val (_, n) = DV.detail(session, root)
    import org.apache.spark.sql.catalyst.TableIdentifier
    val tid = ident match {
      case Seq(t) => Some(TableIdentifier(t))
      case Seq(db, t) => Some(TableIdentifier(t, Some(db)))
      case Seq(cat, db, t) if cat.equalsIgnoreCase("spark_catalog") =>
        Some(TableIdentifier(t, Some(db)))
      case _ => None
    }
    tid.foreach { id =>
      session.sessionState.catalog.alterTableStats(id, Some(
        org.apache.spark.sql.catalyst.catalog.CatalogStatistics(
          sizeInBytes = BigInt(n("live_bytes")),
          rowCount = Some(BigInt(rowCount)),
          colStats = colStats)))
      session.sessionState.catalog.refreshTable(id)
    }
    cols.zipWithIndex.map { case (f, i) =>
      val o = 1 + i * 6
      Row(f.name, r.getLong(o), r.getLong(o + 1))
    }
  }
}

/** Hints-window statement swap for extension-built sessions (and
  * [[graft.GraftSql]]): AnalyzeTable / AnalyzeColumn on a graft-dv
  * session name become their manifest-native commands before Spark's
  * v1 fallback row-scans the provider (Spark has no ANALYZE for DSv2
  * tables). Other targets pass through untouched.
  */
case class DvAnalyzeRule(session: SparkSession)
    extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.plans.logical.{AnalyzeColumn, AnalyzeTable}
  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case at: AnalyzeTable =>
      DvAnalyze.route(session, at).getOrElse(plan)
    case ac: AnalyzeColumn =>
      DvAnalyzeColumns.route(session, ac).getOrElse(plan)
    case _ => plan
  }
}

/** Session-parser wrapper for extension-built sessions
  * (`injectParser`): recognizes the two maintenance statements,
  * delegates every other surface verbatim.
  */
class GraftSqlParser(session: SparkSession, delegate: ParserInterface)
    extends ParserInterface {

  override def parsePlan(sqlText: String): LogicalPlan =
    DvMaintenanceSql.parse(sqlText).getOrElse {
      val p = delegate.parsePlan(sqlText)
      // MERGE schema evolution (opt-in) for extension-built sessions:
      // the target must widen BEFORE the analyzer expands star
      // actions, but parsing must be side-effect free (a statement
      // parsed without execution must not flip the manifest) — so a
      // widening-eligible statement wraps in an execution-time command
      if (DvSchemaEvolve.wouldWiden(session, p))
        DvWidenExecCommand(sqlText)
      else p
    }

  override def parsePlanWithParameters(sqlText: String,
      parameters: ParameterContext): LogicalPlan =
    DvMaintenanceSql.parse(sqlText)
      .getOrElse {
        // the parameterized form cannot defer through a stored-text
        // command (the bound args would be lost on re-parse); Spark
        // only calls this from sql(text, args) execution, so widening
        // here is already at-execution
        val p = delegate.parsePlanWithParameters(sqlText, parameters)
        DvSchemaEvolve.maybeWiden(session, p)
        p
      }

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(
      sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(
      sqlText: String): org.apache.spark.sql.types.DataType =
    delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}
