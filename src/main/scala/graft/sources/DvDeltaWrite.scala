package graft.sources

import java.io.{IOException, ObjectInputStream, ObjectOutputStream}

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, NullOrdering, SortDirection, SortOrder}
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, RowLevelOperation, SupportsDelta, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.operators.{DeletionVectors => DV, DvBlobs}

/** Delta-based (merge-on-read) DSv2 row-level operation for graft-dv
  * tables — what makes `DELETE FROM` / `UPDATE` / `MERGE INTO` resolve
  * through Spark's OWN rewrite rules
  * (`RewriteDeleteFromTable`/`RewriteUpdateTable`/`RewriteMergeIntoTable`)
  * in ANY session, with no injected analyzer machinery at all.
  *
  * The contract maps 1:1 onto the layer's storage model:
  *  - row identity is POSITIONAL — `rowId = (__file, __pos)`, the
  *    same metadata-column pair every tombstone rides;
  *  - updates are stored as the tombstone-old-image +
  *    append-new-image shape of [[DV.upsert]]; Spark splits them into
  *    delete + reinsert, except with change data on, where an updated
  *    row reaches the writer whole (`update(id, row)`) so change data
  *    can tell a MERGE's update pre-images from its deleted rows;
  *  - deletes land as per-file delta blobs written FROM THE EXECUTORS
  *    ([[DvBlobs.writeDelta]] — the driver never holds positions),
  *    PENDING under the stage dir until the commit publishes them;
  *    inserts land as staged-invisible parquet in the hive layout,
  *    flipped live by ONE CAS manifest publish at commit. Failure
  *    atomicity: nothing — neither tombstone nor insert — is visible
  *    to readers before commit(), and the tombstone publish runs
  *    AFTER the insert CAS, so no failure mode deletes acknowledged
  *    rows while discarding their replacement images. The publish
  *    itself is journaled ([[DvBlobs.writeIntent]]): a crash
  *    mid-publish — the only residual window, and the WHOLE commit
  *    for a delete-only command — is replayed to completion by the
  *    next claim-holding writer or vacuum, so a DELETE converges to
  *    fully-applied instead of sticking half-way.
  *
  * Scale shape: Spark clusters the delta rows by target file (and by
  * partition for insert-carrying commands) via
  * [[RequiresDistributionAndOrdering]] and sorts each task's rows by
  * `__file`, so a task writes ONE blob per touched file it owns and
  * one parquet file per partition it owns — blob/file counts track
  * the touched set, not (tasks × files).
  *
  * Concurrency: the write holds the table's maintenance claim from
  * writer-factory creation to commit, so purge/pack/zorder cannot
  * replace a file between the scan and its tombstones landing (the
  * role [[DV.markWhere]]'s fence plays for the DataFrame-API deletes);
  * the plan-time window before the claim is caught at commit by
  * re-checking every tombstoned file against the live set — a raced
  * write FAILS LOUDLY and commits nothing. CHECK constraints
  * re-validate against the staged files inside the commit (see
  * [[DV.commitStagedDml]]).
  */
class DvRowLevelOperation(table: DvV2Table,
    cmd: RowLevelOperation.Command)
    extends RowLevelOperation with SupportsDelta {

  /** Change data on, read once so the row shape and the journals agree. */
  private val recordChanges = DV.cdfEnabled(SparkSession.active)

  override def command(): RowLevelOperation.Command = cmd

  override def rowId(): Array[NamedReference] =
    Array(Expressions.column("__file"), Expressions.column("__pos"))

  override def representUpdateAsDeleteAndInsert: Boolean = !recordChanges

  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array.empty

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new DvScanBuilder(table)

  override def newWriteBuilder(
      info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite =
        new DvDeltaWrite(table, cmd, info, recordChanges)
    }
}

private[sources] class DvDeltaWrite(table: DvV2Table,
    cmd: RowLevelOperation.Command, info: LogicalWriteInfo,
    recordChanges: Boolean)
    extends DeltaWrite with RequiresDistributionAndOrdering {

  /** DELETE rows carry only (operation, rowId) — partition columns
    * are not in the plan output, so the delete distribution clusters
    * by target file alone. Insert-carrying commands cluster by
    * (partition, file): (re)inserts co-locate by partition (file is
    * null there) and deletes by file. A whole update (change data on)
    * clusters by (new partition, old file), so a MERGE with delete
    * and update actions can write two blobs for one file.
    */
  override def requiredDistribution(): Distribution = {
    val refs: Array[org.apache.spark.sql.connector.expressions.Expression] =
      if (cmd == RowLevelOperation.Command.DELETE)
        Array(Expressions.column("__file"))
      else (DV.partitionColsOf(SparkSession.active, table.root)
        .map(Expressions.column) :+ Expressions.column("__file")).toArray
    Distributions.clustered(refs)
  }

  override def requiredOrdering(): Array[SortOrder] = Array(
    Expressions.sort(Expressions.column("__file"),
      SortDirection.ASCENDING, NullOrdering.NULLS_FIRST))

  private lazy val batch =
    new DvDeltaBatchWrite(table.root, cmd, info.schema(), recordChanges)

  override def toBatch: DeltaBatchWrite = batch

  /** Row counts of the committed statement, posted on the write node
    * once the commit returns — what [[graft.GraftSql.sql]] reports as
    * the statement's result rows.
    */
  override def supportedCustomMetrics(): Array[CustomMetric] =
    Array(new DvTombstonedRows, new DvAppendedRows)

  override def reportDriverMetrics(): Array[CustomTaskMetric] = Array(
    DvDeltaWrite.count(DvDeltaWrite.TombstonedRows, batch.tombstoned),
    DvDeltaWrite.count(DvDeltaWrite.AppendedRows, batch.appended))
}

/** Rows the statement tombstoned (deleted plus updated). */
class DvTombstonedRows extends CustomSumMetric {
  override def name(): String = DvDeltaWrite.TombstonedRows
  override def description(): String = "rows tombstoned"
}

/** Rows the statement appended (inserted plus updated images). */
class DvAppendedRows extends CustomSumMetric {
  override def name(): String = DvDeltaWrite.AppendedRows
  override def description(): String = "rows appended"
}

private[graft] object DvDeltaWrite {
  val TombstonedRows = "tombstonedRows"
  val AppendedRows = "appendedRows"

  private[sources] def count(metric: String,
      n: Long): CustomTaskMetric =
    new CustomTaskMetric {
      override def name(): String = metric
      override def value(): Long = n
    }

  /** Schema of the change-data coordinate journals (the tombstoned
    * (file, pos) pairs a CDF-enabled statement's writers record).
    */
  val CoordSchema: StructType = StructType(Seq(
    org.apache.spark.sql.types.StructField("file",
      org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("pos",
      org.apache.spark.sql.types.LongType, nullable = false)))
}

/** Java-serializable Hadoop conf (the parquet write settings
  * `prepareWrite` lands on the job conf must reach the executors).
  */
private[sources] class SerConf(@transient var value: Configuration)
    extends Serializable {
  private def writeObject(out: ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}

private[sources] case class DvDeltaCommitMessage(files: Seq[String],
    touchedFiles: Seq[String], blobs: Seq[String], deleted: Long,
    updated: Long, inserted: Long) extends WriterCommitMessage

private[sources] class DvDeltaBatchWrite(root: String,
    cmd: RowLevelOperation.Command,
    rowSchema: StructType, cdfOn: Boolean) extends DeltaBatchWrite {

  private def spark = SparkSession.active

  private val stage =
    s"$root/_dml_stage_${java.util.UUID.randomUUID().toString.take(12)}"
  @volatile private var claimed = false
  /** Largest blob set [[publishBlobs]] renames on the driver. */
  private val DriverPublishMax = 64

  /** Row counts of the committed statement (zero until commit). */
  @volatile private[sources] var tombstoned = 0L
  @volatile private[sources] var appended = 0L

  /* Change-data recording (`cdfOn`): the writers journal the
   * coordinates they tombstone under the stage — updated rows under
   * `_cdfpre`, deleted rows under `_cdfdel` — plus each update's new
   * image under `_cdfpost`, and commit reconstructs the old images
   * from the (still present) old files ([[DV.rowsAtCoordinates]]).
   * Updates surface as update pre/post-image pairs, deletes as
   * 'delete' retraction rows (keyed to a metadata-only commit when
   * the statement appends nothing), inserts as plain 'insert' rows.
   */
  override def createBatchWriterFactory(
      pinfo: PhysicalWriteInfo): DeltaWriterFactory = {
    // writer-feature protocol gate BEFORE anything stages: a stripped
    // writer must fail here with zero staged bytes, zero claims held
    DV.requireWriterFeatures(spark, root)
    // hold the maintenance claim across the whole task phase: no
    // purge may replace a file while executors tombstone into it
    DV.acquireMaintenanceClaim(spark, root)
    claimed = true
    val partCols = DV.partitionColsOf(spark, root)
    // staged parquet carries the frozen PHYSICAL field names (column
    // mapping): renamed columns write under their original written
    // name, so every file generation shares one physical layout
    val dataSchema = DV.physicalWriteSchema(spark, root, StructType(
      rowSchema.filterNot(f => partCols.contains(f.name))))
    def prepared(schema: StructType): (OutputWriterFactory, SerConf) = {
      val job = Job.getInstance(spark.sessionState.newHadoopConf())
      val f = new ParquetFileFormat().prepareWrite(
        spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
        job, Map.empty, schema)
      (f, new SerConf(job.getConfiguration))
    }
    val (factory, conf) =
      if (dataSchema.isEmpty) (null: OutputWriterFactory, null: SerConf)
      else prepared(dataSchema)
    val journals =
      if (cdfOn) Some(DvCdfJournals(prepared(DvDeltaWrite.CoordSchema),
        prepared(rowSchema)))
      else None
    new DvDeltaWriterFactory(root, stage, rowSchema, partCols,
      dataSchema, factory, conf, journals)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    var packAfter = false
    try {
      val msgs = messages.toSeq.collect {
        case m: DvDeltaCommitMessage => m }
      // a purge that slipped between PLAN time (manifest resolution)
      // and the claim could have replaced a file whose tombstones the
      // executors then wrote against the DEAD copy — detect and fail
      // loudly, committing nothing (the pending blobs never publish;
      // they die with the stage dir)
      val touched = msgs.flatMap(_.touchedFiles).toSet
      if (touched.nonEmpty) {
        val live = DV.manifest(spark, root).select("file")
          .collect().map(_.getString(0)).toSet
        val gone = touched.filterNot(live.contains)
        require(gone.isEmpty,
          s"row-level write on $root raced a maintenance rewrite: " +
            s"${gone.size} tombstoned file(s) left the live set " +
            s"(e.g. ${gone.take(2).mkString(", ")}) — nothing was " +
            "committed; re-run the statement")
      }
      val anyInserts = msgs.exists(m => m.inserted + m.updated > 0)
      // change data (conf on): old images from the journaled
      // coordinates, keyed to the commit by the rename-on-CAS
      // discipline of every change-data-recording commit
      val fs = new Path(stage).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      def journal(kind: String): Option[String] =
        Some(s"$stage/$kind").filter(d => fs.exists(new Path(d)))
      val (pre, del) = (journal("_cdfpre"), journal("_cdfdel"))
      val cdf =
        if (!cdfOn || (pre.isEmpty && del.isEmpty)) None
        else {
          val c = new DV.CdfStage(spark, root)
          pre.foreach { d =>
            c.writePre(DV.rowsAtCoordinates(spark, root,
              spark.read.parquet(d)))
            c.writePost(spark.read.parquet(s"$stage/_cdfpost"))
          }
          del.foreach(d => c.writeDeleted(DV.rowsAtCoordinates(spark,
            root, spark.read.parquet(d))))
          Some(c)
        }
      try {
        if (anyInserts) {
          DV.commitStagedDml(spark, root, stage, rowSchema, opName,
            onCommitted = v => cdf.foreach(_.onCommitted(v)),
            extraFeatures = if (cdf.exists(_.recorded))
              Set("cdf-updates") else Set.empty): Unit
          packAfter = true
        }
        // tombstones publish AFTER the insert CAS (and only once every
        // pre-commit check passed): before this point the live table
        // is untouched — an abort, a raced rewrite, or a constraint
        // failure commits NOTHING. A crash MID-publish is covered by
        // the intent journal written just below: for a delete-only
        // command the blob publish IS the commit (no insert CAS), so
        // the journal is what keeps a crashed DELETE from sticking
        // half-applied — the next claim-holding writer or vacuum
        // replays it to completion (publish is rename-idempotent).
        // Insert-carrying commands journal AFTER their CAS, so a
        // replay can never apply tombstones whose replacement images
        // were discarded.
        DvBlobs.replayIntents(root): Unit
        val pending = msgs.flatMap(_.blobs)
        // r15 ADVICE fix (high): journal FIRST, publish second. The
        // r14 publish-first ordering reopened the permanent
        // half-applied window the journal exists to close: if
        // writeIntent threw (its rename can fail) or the process died
        // between publish(first) and writeIntent, the first blob was
        // already live (renamed out of the stage, beyond abort()'s
        // sweep) with NO intent — the remaining blobs could never
        // publish, the statement reported failure yet one file's
        // tombstones stuck forever, and a CDF DELETE's 'del' sidecar
        // was never committed. Now the intent always covers the
        // publishes, and "partial state is the only roll-forward
        // trigger" is enforced where it belongs — in replayIntents,
        // which DROPS an intent none of whose destinations exists
        // (statement failed before any publish) instead of rolling it
        // forward. Best-effort: a driver-side publish that failed
        // having published NOTHING also removes its own intent
        // immediately, so the failed statement leaves zero state
        // without waiting for a replay. A fanned-out publish keeps
        // its intent: a zombie task may still rename a blob after
        // the driver's existence check, and only the claim-holding
        // replay can see that.
        pending.headOption.foreach { _ =>
          val intent = DvBlobs.writeIntent(root, pending)
          try {
            publishBlobs(pending)
            DvBlobs.removeIntent(intent)
          } catch {
            case e: Throwable =>
              try {
                if (pending.size <= DriverPublishMax && !pending.exists(
                    p => DvBlobs.publishedDestExists(p, root)))
                  DvBlobs.removeIntent(intent)
              } catch { case _: Throwable => () }
              throw e
          }
        }
        // delete-only + change data recorded: key the 'del' sidecar to
        // its own metadata-only commit AFTER the tombstones are live
        if (!anyInserts && pending.nonEmpty)
          cdf.filter(_.recorded).foreach(c =>
            DV.commitChangeDataOnly(spark, root, c): Unit)
        tombstoned = msgs.map(m => m.deleted + m.updated).sum
        appended = msgs.map(m => m.inserted + m.updated).sum
      } finally cdf.foreach(_.cleanup())
    } finally cleanup()
    // opportunistic auto-pack AFTER the claim releases: a merge-heavy
    // stream of statements must not accrete per-commit slivers
    if (packAfter) {
      DV.autoPackFiles(spark, root): Unit
      // keep the skipping sidecar's selectivity from decaying under a
      // statement-heavy workload (unindexed files always scan)
      DV.autoRefreshIndex(spark, root): Unit
    }
  }

  /** Stage→live blob publish: rename-only, no data bytes. Small sets
    * publish driver-side; past that the renames fan out to the
    * executors (blob count tracks the touched-file set, which at
    * 100 TB can be large while each rename stays O(1)).
    */
  private def publishBlobs(pending: Seq[String]): Unit = {
    if (pending.isEmpty) ()
    else if (pending.size <= DriverPublishMax)
      pending.foreach(p => DvBlobs.publish(p, root): Unit)
    else {
      val r = root
      spark.sparkContext
        .parallelize(pending, math.max(1, pending.size / 256))
        .foreach(p => DvBlobs.publish(p, r): Unit)
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    cleanup() // pending blobs live under the stage dir — swept with it

  private def opName: String = cmd match {
    case RowLevelOperation.Command.DELETE => "delete"
    case RowLevelOperation.Command.UPDATE => "update"
    case _ => "merge"
  }

  private def cleanup(): Unit = {
    val p = new Path(stage)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true): Unit
    // the pending-blob sibling (unpublished tombstones on abort;
    // empty f= husks after a successful publish). EXCEPTION-path
    // guard: if a publish intent still references blobs under it —
    // an IOException mid-publish unwound here before removeIntent —
    // the pendings must OUTLIVE this cleanup so the replay (next
    // writer / vacuum, which replays BEFORE its debris sweep) can
    // finish the half-applied delete instead of stranding it.
    val pend = new Path(s"${stage}_dvpending")
    if (fs.exists(pend) && !intentReferences(fs, pend.toString))
      fs.delete(pend, true): Unit
    if (claimed) {
      claimed = false
      DV.releaseMaintenanceClaim(spark, root)
    }
  }

  /** Does any live publish intent reference a pending blob under
    * `pendPrefix`? One listing of the (rare, usually empty) intent
    * set + one small read per intent.
    */
  private def intentReferences(fs: org.apache.hadoop.fs.FileSystem,
      pendPrefix: String): Boolean = {
    val dvDir = new Path(DvBlobs.intentDir(root))
    fs.exists(dvDir) && fs.listStatus(dvDir).exists { st =>
      st.isFile && st.getPath.getName.startsWith("intent-") &&
        st.getPath.getName.endsWith(".pub") && {
          val in = fs.open(st.getPath)
          val body =
            try {
              val buf = new java.io.ByteArrayOutputStream()
              val bytes = new Array[Byte](4096)
              var n = in.read(bytes)
              while (n > 0) { buf.write(bytes, 0, n); n = in.read(bytes) }
              new String(buf.toByteArray, "UTF-8")
            } finally in.close()
          body.split("\n").exists(_.startsWith(pendPrefix))
        }
    }
  }
}

/** Writer set-up of the change-data journals: tombstoned
  * coordinates, and update post-images in the row schema.
  */
private[sources] case class DvCdfJournals(
    coords: (OutputWriterFactory, SerConf),
    rows: (OutputWriterFactory, SerConf))

private[sources] class DvDeltaWriterFactory(root: String, stage: String,
    rowSchema: StructType, partCols: Seq[String], dataSchema: StructType,
    factory: OutputWriterFactory, conf: SerConf,
    journals: Option[DvCdfJournals]) extends DeltaWriterFactory {

  override def createWriter(partitionId: Int,
      taskId: Long): DeltaWriter[InternalRow] =
    new DvDeltaTaskWriter(root, stage, rowSchema, partCols, dataSchema,
      factory, conf, journals, partitionId, taskId)
}

/** Executor-side delta writer. Deletes buffer per target file and
  * flush as immutable PENDING delta blobs under the stage dir (rows
  * arrive `__file`-sorted, so a file's positions flush when the
  * stream moves past it — memory tracks ONE file's tombstones, not
  * the task's); the blobs become visible only via the driver's
  * commit-time [[graft.operators.DvBlobs.publish]] rename, so a
  * failed job deletes nothing. Inserts route to one parquet writer
  * per partition directory under the same staging root. Task retries
  * are safe: a lost attempt's pending blobs are simply never carried
  * in a commit message (and are swept with the stage dir), and
  * re-written blobs at worst duplicate positions across attempts,
  * which the read-side merge dedupes.
  */
private[sources] class DvDeltaTaskWriter(root: String, stage: String,
    rowSchema: StructType, partCols: Seq[String], dataSchema: StructType,
    factory: OutputWriterFactory, conf: SerConf,
    journals: Option[DvCdfJournals],
    partitionId: Int, taskId: Long) extends DeltaWriter[InternalRow] {

  // ---- delete side ---------------------------------------------------
  private var curFile: String = null
  private var positions = new mutable.ArrayBuilder.ofLong
  private var posCount = 0
  private val touched = mutable.LinkedHashSet.empty[String]
  private val blobs = mutable.ArrayBuffer.empty[String]
  private var deleted = 0L
  private var updated = 0L
  private val FlushAt = 1 << 22 // 32 MB of positions per file chunk
  // pending tombstones stay stage-confined until the driver's
  // commit-time publish — writeDelta under this root lays out the
  // same f=<md5>/delta-*.dv shape the live store uses. A SIBLING of
  // the stage dir (not inside it): the insert CAS's moveStaged sweeps
  // the stage itself, and the blobs must outlive it to publish after.
  private val pendingRoot = s"${stage}_dvpending"

  // change-data journals (CDF on only), one writer per kind:
  // _cdfpre/_cdfdel hold coordinates, _cdfpost update post-images
  private val journalWriters = mutable.Map.empty[
    String, org.apache.spark.sql.execution.datasources.OutputWriter]

  private def journal(kind: String, row: => InternalRow): Unit =
    journals.foreach { j =>
      val (f, c, schema) =
        if (kind == "_cdfpost") (j.rows._1, j.rows._2, rowSchema)
        else (j.coords._1, j.coords._2, DvDeltaWrite.CoordSchema)
      journalWriters.getOrElseUpdate(kind, {
        val dir = s"$stage/$kind"
        val p = new Path(dir)
        p.getFileSystem(c.value).mkdirs(p)
        val ctx = new TaskAttemptContextImpl(c.value,
          new TaskAttemptID(new TaskID(new JobID("graft-cdf", 0),
            TaskType.MAP, partitionId), taskId.toInt))
        f.newInstance(f"$dir/part-$partitionId%05d-$taskId" +
          f.getFileExtension(ctx), schema, ctx)
      }).write(row)
    }

  /** Tombstone the row at `id` = (file, pos), journaling the
    * coordinates under `kind` when change data is on.
    */
  private def tombstone(id: InternalRow, kind: String): Unit = {
    val file = id.getUTF8String(0).toString
    val pos = id.getLong(1)
    if (curFile == null || file != curFile) {
      flushDeletes()
      curFile = file
    }
    positions += pos
    posCount += 1
    journal(kind, new org.apache.spark.sql.catalyst.expressions
      .GenericInternalRow(Array[Any](
        org.apache.spark.unsafe.types.UTF8String.fromString(file), pos)))
    if (posCount >= FlushAt) flushDeletes(keepFile = true)
  }

  override def delete(meta: InternalRow, id: InternalRow): Unit = {
    tombstone(id, "_cdfdel")
    deleted += 1
  }

  /** Whole update: old image tombstoned, new one staged. */
  override def update(meta: InternalRow, id: InternalRow,
      row: InternalRow): Unit = {
    tombstone(id, "_cdfpre")
    stage(row)
    journal("_cdfpost", row)
    updated += 1
  }

  private def flushDeletes(keepFile: Boolean = false): Unit = {
    if (curFile != null && posCount > 0) {
      blobs += DvBlobs.writeDelta(pendingRoot, curFile, positions.result())
      touched += curFile
    }
    positions.clear()
    posCount = 0
    if (!keepFile) curFile = null
  }

  // ---- insert side ---------------------------------------------------
  private val dataIdx = rowSchema.fields.zipWithIndex
    .filterNot { case (f, _) => partCols.contains(f.name) }.map(_._2)
  private val partIdx =
    partCols.map(c => rowSchema.fieldNames.indexOf(c))
  private lazy val dataProj = UnsafeProjection.create(
    dataIdx.map(i => BoundReference(i, rowSchema.fields(i).dataType,
      rowSchema.fields(i).nullable)).toSeq)
  private val writers = mutable.Map.empty[
    Seq[String], org.apache.spark.sql.execution.datasources.OutputWriter]
  private val stagedFiles = mutable.ArrayBuffer.empty[String]
  private var inserted = 0L

  private def stage(row: InternalRow): Unit = {
    val pv = partIdx.map { i =>
      if (row.isNullAt(i)) null else row.getUTF8String(i).toString
    }
    writers.getOrElseUpdate(pv, openWriter(pv)).write(dataProj(row))
  }

  override def insert(row: InternalRow): Unit = {
    stage(row)
    inserted += 1
  }

  /** A split update's new image, counted with the inserts. */
  override def reinsert(meta: InternalRow, row: InternalRow): Unit =
    insert(row)

  private def openWriter(pv: Seq[String])
      : org.apache.spark.sql.execution.datasources.OutputWriter = {
    val hive = partCols.zip(pv).map { case (c, v) =>
      val vv = if (v == null) "__HIVE_DEFAULT_PARTITION__" else v
      s"${ExternalCatalogUtils.escapePathName(c)}=" +
        ExternalCatalogUtils.escapePathName(vv)
    }.mkString("/")
    val ctx = new TaskAttemptContextImpl(conf.value,
      new TaskAttemptID(new TaskID(new JobID("graft-dml", 0),
        TaskType.MAP, partitionId), taskId.toInt))
    val ext = factory.getFileExtension(ctx)
    val dir = if (hive.isEmpty) stage else s"$stage/$hive"
    val p = new Path(dir)
    p.getFileSystem(conf.value).mkdirs(p)
    val path = f"$dir/part-$partitionId%05d-$taskId$ext"
    stagedFiles += path
    factory.newInstance(path, dataSchema, ctx)
  }

  // ---- lifecycle -----------------------------------------------------
  override def commit(): WriterCommitMessage = {
    flushDeletes()
    writers.values.foreach(_.close())
    writers.clear()
    journalWriters.values.foreach(_.close())
    journalWriters.clear()
    DvDeltaCommitMessage(stagedFiles.toSeq, touched.toSeq, blobs.toSeq,
      deleted, updated, inserted)
  }

  override def abort(): Unit = {
    try { writers.values.foreach(_.close()) } catch {
      case _: IOException => ()
    }
    writers.clear()
    try { journalWriters.values.foreach(_.close()) } catch {
      case _: IOException => ()
    }
    journalWriters.clear()
    // staged parquet AND pending blobs are swept with the stage dir
    // by the driver — an aborted task publishes nothing
  }

  override def close(): Unit = ()
}
