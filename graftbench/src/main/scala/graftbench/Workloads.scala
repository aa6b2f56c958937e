package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.operators.{DeletionVectors => DV, Enrich, Standardise}
import graft.plans.GraftPlans
import graft.queries.Registry
import graft.sources.{JdbcSink, Tables}

/** A closed-loop workload. `next` runs the workload's next request;
  * everything a request does to the engine goes through [[Runner.op]].
  */
trait Workload {
  /** request class whose latency is the workload's headline */
  def primary: String
  /** input items one primary request processes (throughput unit) */
  def itemsPerPrimary: Long
  /** primary samples the warm-up takes at least: the JIT ramp of a
    * workload's request is still steep for this many
    */
  def minWarmup: Int
  def setup(): Unit
  def next(r: Runner): Sample
  /** requests in one traced pass; every pass runs the same ones */
  def traceRequests: Int
  /** start a traced pass from the state every pass starts from */
  def startPass(lane: String): Unit = ()
  /** whether the next request starts the workload's request cycle;
    * warm-up ends only there, so every timed window starts alike
    */
  def atCycleStart: Boolean = true
  /** graft-dv state of the current table (empty off the lake) */
  def dvState(): Map[String, Double] = Map.empty
  /** write what the correctness checks read; return extra figures */
  def finish(checkDir: String): Map[String, Any]
}

object Workload {
  def write(path: String, text: String): Unit = {
    new File(path).getParentFile.mkdirs()
    Files.write(Paths.get(path), text.getBytes(UTF_8))
  }

  /** (file count, total bytes) under a directory, recursively. */
  def walk(dir: String, keep: File => Boolean = _ => true): (Long, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        val files = s.iterator().asScala.map(_.toFile).filter(f => f.isFile && keep(f)).toSeq
        (files.size.toLong, files.map(_.length).sum)
      } finally s.close()
    }
  }

  /** Serve graft-dv tables as `graftdv.`<root>`` through the DSv2
    * catalog, with the masked-scan planner rule installed.
    */
  def enableDv(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.catalog.graftdv", "graft.sources.GraftDvCatalog")
    GraftPlans.ensureDvScan(spark)
  }

  /** Live data files, deletion-vector blobs and their bytes, and bytes
    * on disk of a graft-dv table.
    */
  def dvState(spark: SparkSession, root: String): Map[String, Double] = {
    val (_, tableBytes) = walk(root)
    val (blobs, blobBytes) = walk(DV.dvDir(root))
    Map("files" -> DV.manifest(spark, root).count().toDouble, "blobs" -> blobs.toDouble,
      "blob_bytes" -> blobBytes.toDouble, "table_bytes" -> tableBytes.toDouble)
  }
}

/** The reference flow, once per request: dirty landing zone ->
  * Standardise -> books loaded into a graft-dv table -> the unrated
  * books dropped by SQL DELETE (deletion-vector blobs mask them) ->
  * Enrich.metrics by author over the masked scan -> JDBC load into
  * in-memory Derby.
  */
final class EtlBooks(spark: SparkSession, in: String, work: String,
    nproc: Int, rows: Long) extends Workload {
  val primary = "run"
  val itemsPerPrimary: Long = rows
  val minWarmup = 4
  val traceRequests = 3
  private val landing = s"$in/landing"
  private val books = s"$work/books"
  private val tbl = s"graftdv.`$books`"
  private val url = "jdbc:derby:memory:graftbench;create=true"
  private val driver = "org.apache.derby.jdbc.EmbeddedDriver"

  def setup(): Unit = {
    Class.forName(driver)
    Workload.enableDv(spark)
  }

  def next(r: Runner): Sample = r.request("run") {
    val std = r.op("standardise") {
      // the reference's empty-input guard, then trim / first-wins
      // dedup on title (page order) / parses
      val raw = Standardise.requireNonEmpty(spark.read.parquet(landing), "books")
        .withColumn("title", Standardise.trimmed(col("title")))
      Standardise.dedupFirst(raw, key = Seq("title"),
          order = Seq("page", "pos", "author", "book_type", "price", "rating"))
        .select(col("title"), col("author"), col("book_type"),
          Standardise.parsePrice(col("price")).as("price"),
          Standardise.extractRating(col("rating")).as("rating"),
          Standardise.parseCount(col("rating_count")).as("rating_count"))
    }(identity)
    // a fresh table every run, so every run starts from the same state
    r.op("load_books")(std)(DV.init(spark, _, books, "book_type"))
    r.op("delete")(spark.sql(s"DELETE FROM $tbl WHERE rating IS NULL"))(_.collect())
    val enriched = r.op("enrich") {
      Enrich.metrics(spark.sql(s"SELECT * FROM $tbl"),
        Seq(col("author")), valueCol = col("rating"), valueScale = 1,
        weightCol = col("rating_count"), priceCol = col("price"))
    }(identity)
    r.op("load_enriched")(enriched)(df => JdbcSink.write(df, url, "enriched_books",
      driver, numPartitions = nproc, columnTypes = Some("author VARCHAR(64)")))
  }

  override def dvState(): Map[String, Double] = Workload.dvState(spark, books)

  def finish(checkDir: String): Map[String, Any] = {
    JdbcSink.read(spark, url, "enriched_books", driver)
      .write.mode(SaveMode.Overwrite).parquet(s"$checkDir/enriched")
    Map.empty
  }
}

/** One curation pass per request over the generated corpus: exact
  * dedup, then near-dup keep-best (MinHash LSH, connected components
  * and the per-cluster quality pick, all inside that registry query),
  * each built on the generated directory and written out; then the
  * curated set is written from the two outputs.
  */
final class CurateDocs(spark: SparkSession, in: String, work: String,
    docs: Long) extends Workload {
  val primary = "pass"
  val itemsPerPrimary: Long = docs
  val minWarmup = 3
  val traceRequests = 1
  private val sf = s"$in/sf"
  private val out = s"$work/curate"
  /** (op, registry query) in pass order */
  val steps = Seq("exact" -> "dedup_exact", "keep_best" -> "dedup_keep_best")
  private lazy val build = {
    val q = Registry.byName
    steps.map { case (_, n) => n -> q(n).build }.toMap
  }

  def setup(): Unit = build: Unit

  private def output(q: String): DataFrame = spark.read.parquet(s"$out/$q")

  def next(r: Runner): Sample = r.request("pass") {
    for ((op, q) <- steps)
      r.op(op)(build(q)(spark, sf))(_.write.mode(SaveMode.Overwrite).parquet(s"$out/$q"))
    r.op("write")(curated())(_.write.mode(SaveMode.Overwrite).parquet(s"$out/curated"))
    // the dedup operators persist intermediate frames and leave them
    // cached; drop them so every pass starts from the same state
    spark.catalog.clearCache()
  }

  /** Survivors of exact dedup that near-dup keep-best did not drop. */
  private def curated(): DataFrame =
    Tables.documents(spark, sf)
      .join(output("dedup_exact").select(col("keep_id").as("doc_id")), Seq("doc_id"), "left_semi")
      .join(output("dedup_keep_best").filter(col("keep") === 0).select(col("id").as("doc_id")),
        Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "source", "n_chars")

  def finish(checkDir: String): Map[String, Any] = {
    // the step outputs already sit in the layout tools/check.py reads
    val names = steps.map(_._2)
    Workload.write(s"$out/oracle_sql.json",
      Json(SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }))
    Map("check_dir" -> out, "steps" -> names)
  }
}

/** A seeded request stream against one graft-dv table partitioned by
  * day with an event_id skipping index: SQL point lookups, SQL MERGE of
  * a fresh batch, and a masked whole-table aggregate; blob compaction
  * every second merge.
  */
final class LakeMixed(spark: SparkSession, in: String, work: String,
    keysPerLookup: Long) extends Workload {
  val primary = "lookup"
  val itemsPerPrimary: Long = keysPerLookup
  val minWarmup = 3
  private val stream: IndexedSeq[String] =
    Files.readAllLines(Paths.get(s"$in/stream.txt"), UTF_8).asScala
      .filter(_.nonEmpty).toIndexedSeq
  private var lane = "main"
  private var root = ""
  private var tbl = ""
  private var pos = 0
  private var merges = 0
  private val log = new StringBuilder
  private val lanes = collection.mutable.ArrayBuffer.empty[(String, String)]
  private val compactEvery = 2

  private val heads = stream.map(_.takeWhile(_ != ' '))
  /** length of the repeating class cycle of the stream */
  private val cycle = (1 to heads.size).find(p =>
    heads.indices.forall(i => heads(i) == heads(i % p))).get

  /** The shortest stream prefix holding 2 merges, a scan and 3 lookups. */
  val traceRequests: Int = {
    val need = Map("merge" -> 2, "scan" -> 1, "lookup" -> 3)
    (1 to heads.size).find(n => need.forall { case (c, k) =>
      heads.take(n).count(_ == c) >= k }).getOrElse(heads.size)
  }

  override def atCycleStart: Boolean = pos % cycle == 0

  private def newTable(name: String): Unit = {
    lane = name
    root = s"$work/lake_$name"
    DV.init(spark, Tables.events(spark, in), root, "day")
    DV.refreshIndex(spark, root, "event_id"): Unit
    tbl = s"graftdv.`$root`"
    pos = 0
    merges = 0
    lanes += ((name, root))
  }

  def setup(): Unit = {
    Workload.enableDv(spark)
    newTable("main")
  }

  override def startPass(name: String): Unit = newTable(name)

  private def logRows(i: Int, cls: String, rows: Seq[org.apache.spark.sql.Row]): Unit = {
    log ++= Json(Map("lane" -> lane, "i" -> i, "c" -> cls,
      "rows" -> rows.map(_.toSeq.map(v => if (v == null) null else v.toString))))
    log += '\n'
  }

  def next(r: Runner): Sample = {
    require(pos < stream.size, "request stream exhausted")
    val i = pos
    pos += 1
    stream(i).split(" ") match {
      case Array("lookup", keys) => r.request("lookup") {
        val rows = r.op("lookup")(spark.sql(
          s"""SELECT event_id, user_id, event_type,
             |  CAST(CAST(value AS DECIMAL(12,2)) AS STRING) AS value
             |FROM $tbl WHERE event_id IN ($keys)""".stripMargin))(_.collect())
        logRows(i, "lookup", rows.toSeq)
      }
      case Array("scan") => r.request("scan") {
        val rows = r.op("scan")(spark.sql(
          s"""SELECT event_type, count(*) AS n,
             |  CAST(sum(CAST(value AS DECIMAL(28,2))) AS STRING) AS value_sum
             |FROM $tbl GROUP BY event_type""".stripMargin))(_.collect())
        logRows(i, "scan", rows.toSeq)
      }
      case Array("merge", b) => r.request("merge") {
        r.op("merge") {
          spark.read.parquet(f"$in/merges/batch_${b.toInt}%05d.parquet")
            .createOrReplaceTempView("bench_merge_src")
          spark.sql(
            s"""MERGE INTO $tbl t USING bench_merge_src s
               |ON t.event_id = s.event_id
               |WHEN MATCHED THEN UPDATE SET *
               |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        }(_.collect())
        merges += 1
        if (merges % compactEvery == 0)
          r.op("compact")(())(_ => DV.autoCompactBlobs(spark, root))
        logRows(i, "merge", Nil)
      }
      case other => throw new IllegalArgumentException(s"bad request: ${other.mkString(" ")}")
    }
  }

  override def dvState(): Map[String, Double] = Workload.dvState(spark, root)

  def finish(checkDir: String): Map[String, Any] = {
    Workload.write(s"$checkDir/lake_log.jsonl", log.toString)
    val finals = lanes.map { case (name, r) =>
      spark.sql(
        s"""SELECT event_id, unix_micros(ts) AS ts_us, user_id, event_type,
           |  CAST(CAST(value AS DECIMAL(12,2)) AS STRING) AS value, props, day
           |FROM graftdv.`$r`""".stripMargin)
        .write.mode(SaveMode.Overwrite).parquet(s"$checkDir/final_$name")
      name
    }
    // storage amplification of the main table: bytes on disk per byte
    // of its live rows rewritten compactly (one file per day)
    val mainRoot = lanes.head._2
    val compact = s"$work/live_compact"
    spark.sql(s"SELECT * FROM graftdv.`$mainRoot`").repartition(col("day"))
      .write.mode(SaveMode.Overwrite).partitionBy("day").parquet(compact)
    val (_, live) = Workload.walk(compact, _.getName.endsWith(".parquet"))
    val (_, onDisk) = Workload.walk(mainRoot)
    Map("lanes" -> finals, "bytes_per_live_byte" -> onDisk.toDouble / live,
      "table_bytes" -> onDisk, "live_bytes" -> live)
  }
}
