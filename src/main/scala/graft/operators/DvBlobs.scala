package graft.operators

import java.io.IOException
import java.security.MessageDigest
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.unsafe.types.UTF8String

/** Per-data-file tombstone blob store for [[DeletionVectors]] — the
  * read-side delivery mechanism that replaces the round-9 global
  * (file, pos) parquet sidecar + whole-sidecar broadcast anti-join.
  *
  * Layout: each data file owns a directory of APPEND-ONLY delta blobs
  * {{{
  *   t/_dv/f=<md5(dataFilePath)>/delta-<count>-<uuid>.dv
  * }}}
  * A delta blob is immutable once visible (written dot-prefixed, then
  * renamed in — readers filter `delta-*`, so a half-written blob is
  * never read), holds SORTED row positions of one data file, and
  * carries its tombstone count in its NAME — so maintenance threshold
  * math ([[DeletionVectors.purge]]) needs only directory listings,
  * zero data reads.
  *
  * Why deltas instead of one read-modify-write bitmap per file (the
  * Delta-Lake shape): concurrent deletes to the same data file each
  * append their own blob — no lost update, no coordination; a
  * position double-marked by racing deletes duplicates across blobs,
  * which the read-side merge dedupes. The blob count per file is
  * bounded in practice by [[DeletionVectors.purge]]: a file
  * accumulating deletes crosses the threshold and is rewritten,
  * resetting its blob directory to empty.
  *
  * Read shape at 100 TB: a scan task resolving file F's mask does ONE
  * listing of F's blob dir + reads O(F's tombstones) bytes — per-task
  * cost tracks the PROBED file's tombstones, never the table's total
  * tombstone volume. Nothing is broadcast; nothing is global. The
  * probe itself ([[contains]]) is called from generated code
  * ([[graft.functions.DvAlive]]) and amortizes to a binary search per
  * row via a thread-local current-file memo (scan rows arrive
  * file-clustered).
  *
  * Filesystem: resolved from the classpath Hadoop configuration
  * (core-site) — blob IO runs on executors outside any threaded task
  * conf, the standard pattern for sidecar readers. Rename-in-place
  * visibility needs atomic rename (local FS, HDFS) or
  * conditional-put-backed stores.
  */
object DvBlobs {

  private val Magic = 0x47445631 // "GDV1"

  private lazy val hconf = new Configuration()

  // PRIVATE FileSystem instances, one per (scheme, authority): blobs
  // are tiny and self-describing, so the local ChecksumFileSystem's
  // .crc twin would DOUBLE the per-blob file creations — but the
  // Hadoop FS cache keys on (scheme, authority, ugi), NOT on the
  // Configuration, so flipping setWriteChecksum on a cached instance
  // would mutate the SHARED FileSystem Spark and Snapshots use,
  // process-wide, as a side effect of any blob IO. newInstance gives
  // an uncached instance whose writer flags are ours alone; memoized
  // here because each newInstance carries its own statistics threads.
  private val fsInstances = new ConcurrentHashMap[String, FileSystem]()

  private def fs(p: Path): FileSystem = {
    val u = p.toUri
    val key = s"${u.getScheme}|${u.getAuthority}"
    fsInstances.computeIfAbsent(key, _ => {
      val f = FileSystem.newInstance(
        FileSystem.getDefaultUri(hconf).resolve(u), hconf)
      f.setWriteChecksum(false)
      f
    })
  }

  def md5hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  def dvRoot(tableRoot: String): String = s"$tableRoot/_dv"

  /** Blob directory of one data file. */
  def fileDir(tableRoot: String, dataFile: String): String =
    s"${dvRoot(tableRoot)}/f=${md5hex(dataFile)}"

  /** Append one immutable delta blob for `dataFile`. Positions are
    * sorted on write; the count rides in the name. Visibility is the
    * rename — a reader never sees a partial blob.
    */
  def writeDelta(tableRoot: String, dataFile: String,
      positions: Array[Long]): String = {
    require(positions.nonEmpty, "empty delta")
    java.util.Arrays.sort(positions)
    val dir = new Path(fileDir(tableRoot, dataFile))
    val f = fs(dir)
    f.mkdirs(dir)
    val uuid = java.util.UUID.randomUUID().toString.take(12)
    val tmp = new Path(dir, s".tmp-$uuid")
    val out = new java.io.DataOutputStream(
      new java.io.BufferedOutputStream(f.create(tmp, true)))
    try {
      out.writeInt(Magic)
      out.writeUTF(dataFile)
      out.writeInt(positions.length)
      positions.foreach(out.writeLong)
    } finally out.close()
    val dest = new Path(dir, s"delta-${positions.length}-$uuid.dv")
    if (!f.rename(tmp, dest)) {
      f.delete(tmp, false)
      throw new IOException(s"delta rename to $dest failed")
    }
    dest.toString
  }

  /** Publish a PENDING delta blob — one written under a STAGING root
    * via [[writeDelta]] (so readers of the live table never saw it) —
    * into `tableRoot`'s live blob store: one mkdirs + rename into the
    * same `f=<md5>` directory (the md5 is of the data-file path, which
    * is identical under either root). The blob NAME (count + uuid) is
    * preserved, so a retried publish is idempotent: rename failing
    * with the destination already present means a previous attempt
    * won. Returns the live path.
    *
    * This is the failure-atomicity half of the DSv2 row-level write:
    * tombstones stay stage-confined through the whole task phase and
    * become visible only by this commit-time rename — an aborted job
    * sweeps them with the stage dir instead of leaving acknowledged
    * deletes applied with their replacement images discarded.
    */
  def publish(pendingBlob: String, tableRoot: String): String = {
    val src = new Path(pendingBlob)
    val dir = new Path(s"${dvRoot(tableRoot)}/${src.getParent.getName}")
    val f = fs(dir)
    f.mkdirs(dir)
    val dest = new Path(dir, src.getName)
    if (!f.rename(src, dest) && !f.exists(dest))
      throw new IOException(s"pending blob publish to $dest failed")
    dest.toString
  }

  // ---- publish-intent journal (delete-only commit atomicity) -------

  /** Record a publish INTENT — the list of pending blob paths a commit
    * is about to rename live — as one rename-visible file under the
    * table's blob root. For a delete-only DSv2 command there is no
    * insert CAS, so the blob publish IS the commit; without a journal
    * a crash mid-publish leaves the DELETE half-applied forever. With
    * it, the next claim-holding writer or vacuum REPLAYS the intent to
    * completion ([[replayIntents]]; publish is rename-idempotent), so
    * a crashed delete converges to fully-applied instead of sticking
    * half-way. Written AFTER the insert CAS for insert-carrying
    * commands — a replay must never apply tombstones whose replacement
    * images were discarded.
    */
  /** Intents live in their OWN subdir so the per-commit existence
    * check and the replay walk list O(intents), never the O(files-
    * with-deletes) `f=` dir population.
    */
  def intentDir(tableRoot: String): String =
    s"${dvRoot(tableRoot)}/_intents"

  def writeIntent(tableRoot: String, pending: Seq[String]): String = {
    val dir = new Path(intentDir(tableRoot))
    val f = fs(dir)
    f.mkdirs(dir)
    val uuid = java.util.UUID.randomUUID().toString.take(12)
    val tmp = new Path(dir, s".itmp-$uuid")
    val out = f.create(tmp, true)
    try out.write(pending.mkString("\n").getBytes("UTF-8"))
    finally out.close()
    val dest = new Path(dir, s"intent-$uuid.pub")
    if (!f.rename(tmp, dest)) {
      f.delete(tmp, false)
      throw new IOException(s"publish-intent rename to $dest failed")
    }
    dest.toString
  }

  /** Remove a completed intent (the last step of a clean commit). */
  def removeIntent(intentPath: String): Unit = {
    val p = new Path(intentPath)
    fs(p).delete(p, false): Unit
  }

  /** Live destination a pending blob publishes to (the same mapping
    * [[publish]] applies: the `f=<md5>` parent and blob name are
    * preserved under the live blob root).
    */
  def liveDest(pendingBlob: String, tableRoot: String): Path = {
    val src = new Path(pendingBlob)
    new Path(s"${dvRoot(tableRoot)}/${src.getParent.getName}/${src.getName}")
  }

  /** Has `pendingBlob` already been published into `tableRoot`? */
  def publishedDestExists(pendingBlob: String, tableRoot: String): Boolean = {
    val d = liveDest(pendingBlob, tableRoot)
    fs(d).exists(d)
  }

  /** Replay any crashed publish intents. Callers MUST hold the
    * table's maintenance claim (a live writer's in-flight intent must
    * not be raced) — the DSv2 commit, vacuum, and every blob-folding
    * or file-rewriting maintenance op do, each before it touches blobs
    * or files.
    *
    * PARTIAL STATE IS THE ONLY ROLL-FORWARD TRIGGER (r15 ADVICE,
    * high): intents are journaled BEFORE the first publish, so an
    * intent may exist for a statement that failed (and reported
    * failure) before ANY blob went live. Replaying such an intent
    * would silently apply a delete the caller saw fail — so an intent
    * none of whose journaled DESTINATIONS exists is DROPPED without
    * publishing. Once at least one destination exists the statement
    * is partially applied and replay finishes it: every journaled
    * pending blob still on disk is rename-published (idempotent — a
    * dest that already exists wins), then the intent is dropped.
    * A pending path that is gone means either a prior attempt already
    * published it (dest exists — fine) or the stage was swept
    * underneath a pre-publish crash (nothing to recover); both just
    * drop the intent. Returns intents replayed (dropped-unapplied
    * intents are not counted).
    */
  def replayIntents(tableRoot: String): Int = {
    val root = new Path(intentDir(tableRoot))
    val f = fs(root)
    if (!f.exists(root)) 0
    else {
      val intents = f.listStatus(root).toSeq.filter(s =>
        s.isFile && s.getPath.getName.startsWith("intent-") &&
          s.getPath.getName.endsWith(".pub"))
      var replayed = 0
      intents.foreach { st =>
        val in = f.open(st.getPath)
        val body =
          try {
            val buf = new java.io.ByteArrayOutputStream()
            val bytes = new Array[Byte](4096)
            var n = in.read(bytes)
            while (n > 0) { buf.write(bytes, 0, n); n = in.read(bytes) }
            new String(buf.toByteArray, "UTF-8")
          } finally in.close()
        val pendings = body.split("\n").filter(_.nonEmpty).toSeq
        val partiallyApplied =
          pendings.exists(p => publishedDestExists(p, tableRoot))
        if (partiallyApplied) {
          pendings.foreach { pending =>
            if (f.exists(new Path(pending)))
              publish(pending, tableRoot): Unit
          }
          replayed += 1
        }
        f.delete(st.getPath, false): Unit
      }
      replayed
    }
  }

  /** (embedded data-file path, sorted positions) of one blob. */
  def readDelta(blobPath: String): (String, Array[Long]) = {
    val p = new Path(blobPath)
    val in = new java.io.DataInputStream(
      new java.io.BufferedInputStream(fs(p).open(p)))
    try {
      require(in.readInt() == Magic, s"bad blob magic in $blobPath")
      val dataFile = in.readUTF()
      val n = in.readInt()
      val poss = new Array[Long](n)
      var i = 0
      while (i < n) { poss(i) = in.readLong(); i += 1 }
      (dataFile, poss)
    } finally in.close()
  }

  private def parseCount(name: String): Long = {
    // delta-<count>-<uuid>.dv
    val body = name.stripPrefix("delta-")
    body.substring(0, body.indexOf('-')).toLong
  }

  /** Visible delta blobs of one data file: (path, count), name-sorted
    * for a stable signature. One listing; empty if never deleted from.
    */
  def listDeltas(tableRoot: String, dataFile: String): Seq[(String, Long)] = {
    val dir = new Path(fileDir(tableRoot, dataFile))
    val f = fs(dir)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq
      .filter(s => s.isFile && s.getPath.getName.startsWith("delta-")
        && s.getPath.getName.endsWith(".dv"))
      .map(s => (s.getPath.toString, parseCount(s.getPath.getName)))
      .sortBy(_._1)
  }

  /** Upper bound on `dataFile`'s tombstones from listing alone (exact
    * unless racing deletes double-marked a position — then slightly
    * over, which only makes purge eager). Zero data bytes read.
    */
  def tombstoneCount(tableRoot: String, dataFile: String): Long =
    listDeltas(tableRoot, dataFile).map(_._2).sum

  /** Deterministic fingerprint of a file's visible delta set — what
    * [[DeletionVectors.purge]] re-validates before its manifest flip
    * to detect a delete that raced the staging scan.
    */
  def signature(tableRoot: String, dataFile: String): String =
    listDeltas(tableRoot, dataFile).map(_._1).mkString("\n")

  /** Does the table have ANY tombstone? (Driver-side plan-time check:
    * a never-deleted-from table reads with no mask filter at all.)
    */
  def hasAny(tableRoot: String): Boolean = {
    val root = new Path(dvRoot(tableRoot))
    val f = fs(root)
    f.exists(root) && f.listStatus(root).exists { d =>
      d.isDirectory && d.getPath.getName.startsWith("f=") &&
        f.listStatus(d.getPath).exists(s =>
          s.isFile && s.getPath.getName.startsWith("delta-"))
    }
  }

  /** All blob dirs under the table (driver/executor maintenance
    * enumeration; bounded by files-with-deletes count — metadata).
    */
  def allFileDirs(tableRoot: String): Seq[String] = {
    val root = new Path(dvRoot(tableRoot))
    val f = fs(root)
    if (!f.exists(root)) Seq.empty
    else f.listStatus(root).toSeq
      .filter(d => d.isDirectory && d.getPath.getName.startsWith("f="))
      .map(_.getPath.toString)
  }

  private def deltasIn(dirPath: String): Seq[String] = {
    val dir = new Path(dirPath)
    val f = fs(dir)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq
      .filter(s => s.isFile && s.getPath.getName.startsWith("delta-")
        && s.getPath.getName.endsWith(".dv"))
      .map(_.getPath.toString).sorted
  }

  /** Which data file does this blob dir belong to? (One header read —
    * the md5 dir name is one-way, the path rides in every blob.)
    */
  def dirDataFile(dirPath: String): Option[String] =
    deltasIn(dirPath).headOption.map(p => readDelta(p)._1)

  /** Merged, deduped tombstones of one blob dir, with the owning data
    * file from the blob headers. Maintenance/diagnostic enumeration
    * (the read path goes through [[merged]]'s cache instead).
    */
  def readDirMerged(dirPath: String): Option[(String, Array[Long])] =
    readDirMergedAttempt(dirPath, attempts = 5)

  private def readDirMergedAttempt(dirPath: String,
      attempts: Int): Option[(String, Array[Long])] = {
    // same supersession-retry rule as [[merged]]
    try readDirMergedOnce(dirPath)
    catch {
      case _: java.io.FileNotFoundException if attempts > 1 =>
        readDirMergedAttempt(dirPath, attempts - 1)
    }
  }

  private def readDirMergedOnce(
      dirPath: String): Option[(String, Array[Long])] = {
    val blobs = deltasIn(dirPath).map(readDelta)
    if (blobs.isEmpty) None
    else {
      val m = blobs.flatMap(_._2).toArray
      java.util.Arrays.sort(m)
      var w = 0
      var i = 0
      while (i < m.length) {
        if (w == 0 || m(w - 1) != m(i)) { m(w) = m(i); w += 1 }
        i += 1
      }
      Some((blobs.head._1, java.util.Arrays.copyOf(m, w)))
    }
  }

  /** Compact one blob dir: merge its CURRENT visible deltas into a
    * single blob, then remove exactly those inputs. Safe against
    * uncoordinated racing deletes by construction:
    *  - the input set is a point-in-time listing; a delete landing
    *    mid-compaction appends a NEW blob, which is never touched;
    *  - the merged blob renames in BEFORE any input is removed, so a
    *    crash at any step leaves (merged ∪ some inputs) — positions
    *    double-marked at worst, which the read-side merge dedupes;
    *  - merge preserves the position SET exactly, so the mask is
    *    equivalent at every instant (a racing purge sees a changed
    *    delta signature and restages — wasteful, never wrong; callers
    *    that hold the maintenance claim avoid even that).
    * Returns (input blobs removed, positions in the merged blob), or
    * None if the dir had fewer than `minBlobs` deltas.
    */
  def compactDir(dirPath: String, minBlobs: Int = 2): Option[(Int, Long)] = {
    val inputs = deltasIn(dirPath)
    if (inputs.size < minBlobs) None
    else {
      val blobs = inputs.map(readDelta)
      val dataFile = blobs.head._1
      val m = blobs.flatMap(_._2).toArray
      java.util.Arrays.sort(m)
      var w = 0
      var i = 0
      while (i < m.length) {
        if (w == 0 || m(w - 1) != m(i)) { m(w) = m(i); w += 1 }
        i += 1
      }
      val merged = java.util.Arrays.copyOf(m, w)
      val tableRoot = {
        // dirPath = <tableRoot>/_dv/f=<md5>; recover the root
        val p = new Path(dirPath)
        p.getParent.getParent.toString
      }
      writeDelta(tableRoot, dataFile, merged): Unit
      val f = fs(new Path(dirPath))
      inputs.foreach(p => f.delete(new Path(p), false): Unit)
      Some((inputs.size, merged.length.toLong))
    }
  }

  // ---- merged-vector cache (executor-side read path) ---------------

  // immutable-blob cache: blob path -> its sorted positions
  private val blobCache = new ConcurrentHashMap[String, Array[Long]]()
  // merged per data file, keyed by the delta-set signature
  private val mergedCache =
    new ConcurrentHashMap[String, (String, Array[Long])]()
  private val cachedLongs = new AtomicLong(0L)
  // ~512 MB of cached positions before the crude full evict
  private val MaxCachedLongs = 64L * 1024 * 1024

  private def cacheBlob(path: String): Array[Long] = {
    val hit = blobCache.get(path)
    if (hit != null) hit
    else {
      val poss = readDelta(path)._2
      if (cachedLongs.addAndGet(poss.length.toLong) > MaxCachedLongs) {
        blobCache.clear(); mergedCache.clear(); cachedLongs.set(0L)
      }
      blobCache.putIfAbsent(path, poss)
      poss
    }
  }

  /** Merged, deduped, sorted tombstone positions of one data file as
    * of its CURRENT visible delta set. One listing + O(file's
    * tombstones) merge, memoized until the delta set changes.
    */
  def merged(tableRoot: String, dataFile: String): Array[Long] =
    mergedAttempt(tableRoot, dataFile, attempts = 5)

  /** A blob listed and then found MISSING can only mean supersession
    * — [[compactDir]] folded it into a merged blob after our listing
    * (blobs are otherwise immutable; only compaction and vacuum
    * remove them, and vacuum only touches DEAD files' dirs). The
    * position SET is preserved by every fold, so re-listing and
    * re-merging converges — the reader-side answer to list-then-open
    * racing uncoordinated maintenance, bounded because each retry
    * needs a fresh fold to race.
    */
  private def mergedAttempt(tableRoot: String, dataFile: String,
      attempts: Int): Array[Long] = {
    try mergedOnce(tableRoot, dataFile)
    catch {
      case _: java.io.FileNotFoundException if attempts > 1 =>
        mergedAttempt(tableRoot, dataFile, attempts - 1)
    }
  }

  private def mergedOnce(tableRoot: String,
      dataFile: String): Array[Long] = {
    val deltas = listDeltas(tableRoot, dataFile)
    if (deltas.isEmpty) Array.emptyLongArray
    else {
      val sig = deltas.map(_._1).mkString("\n")
      val key = s"$tableRoot|$dataFile"
      val cached = mergedCache.get(key)
      if (cached != null && cached._1 == sig) cached._2
      else {
        val all = deltas.map(d => cacheBlob(d._1))
        val out =
          if (all.size == 1) all.head
          else {
            val m = new Array[Long](all.map(_.length).sum)
            var o = 0
            all.foreach { a =>
              System.arraycopy(a, 0, m, o, a.length); o += a.length
            }
            java.util.Arrays.sort(m)
            // dedupe in place (racing deletes may double-mark)
            var w = 0
            var i = 0
            while (i < m.length) {
              if (w == 0 || m(w - 1) != m(i)) { m(w) = m(i); w += 1 }
              i += 1
            }
            java.util.Arrays.copyOf(m, w)
          }
        mergedCache.put(key, (sig, out))
        out
      }
    }
  }

  // thread-local current-file memo: scan rows arrive file-clustered,
  // so the per-row probe is one UTF8String compare + binary search.
  // The EPOCH (a fresh token per mask construction, plan time) is
  // what invalidates it: executor threads outlive queries, and a
  // memo keyed only on (root, file) would serve the PREVIOUS query's
  // mask after new deltas landed — the bug dv_purge's oracle caught
  // (second delete invisible to the final read). Under a new epoch
  // the first row of each (thread, file) re-resolves through
  // [[merged]], whose own cache re-validates against the live
  // delta-set listing.
  private final class FileMemo {
    var root: String = null
    var epoch: String = null
    var file: UTF8String = null
    var poss: Array[Long] = Array.emptyLongArray
  }
  private val memo = ThreadLocal.withInitial(() => new FileMemo)

  /** Is (dataFile, pos) tombstoned? Called per row from the generated
    * code of [[graft.functions.DvAlive]].
    */
  def contains(tableRoot: String, epoch: String, dataFile: UTF8String,
      pos: Long): Boolean = {
    val m = memo.get()
    if (!(tableRoot == m.root) || !(epoch == m.epoch) ||
        m.file == null || !dataFile.equals(m.file)) {
      m.root = tableRoot
      m.epoch = epoch
      m.file = dataFile.clone()
      m.poss = merged(tableRoot, dataFile.toString)
    }
    java.util.Arrays.binarySearch(m.poss, pos) >= 0
  }

  /** Test/driver-side convenience overload. */
  def contains(tableRoot: String, dataFile: String, pos: Long): Boolean =
    contains(tableRoot, "-", UTF8String.fromString(dataFile), pos)
}
