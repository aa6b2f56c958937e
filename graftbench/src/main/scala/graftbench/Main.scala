package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The harness JVM: one workload, one client, one fresh process.
  *
  * {{{
  * graftbench.Main --workload <name> --inputs <dir> --work <dir>
  *   --out <result.json> --seconds <s> --trace <0|1> --items <n>
  * }}}
  *
  * Untraced (`--trace 0`): set up, warm up until the primary request's
  * latency stops falling, then run the closed loop for `--seconds`.
  * Traced (`--trace 1`): after the warm-up, run the same fixed pass three
  * times: traced (`t1`), untraced (`u`), traced again (`t2`). The layer
  * counters come from `t1`; `t2` must repeat its counts exactly; the
  * mean of `t1` and `t2` minus `u` is the tracing overhead (the
  * untraced pass sits between them, so a latency trend cancels).
  * Outputs the correctness checks read go under `<work>/check`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val nproc = Runtime.getRuntime.availableProcessors
    val work = a("work")
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", System.getProperty("java.io.tmpdir"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val jvmReady = (System.currentTimeMillis() - jvmStart) / 1e3
    val result = mutable.Map[String, Any]()
    try run(spark, a, nproc, work, jvmReady, result)
    finally {
      Workload.write(a("out"), Json(result))
      spark.stop()
    }
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** seconds after which the warm-up may end before it has levelled */
  private val WarmupCapS = 10.0

  /** Warm-up is over once the median of the last k primary latencies is
    * no longer below 0.97 of the median of the k before them, or once
    * the time cap has passed with the workload's minimum of primary
    * samples; and only at the start of the workload's request cycle.
    */
  private def levelled(xs: Seq[Double]): Boolean = {
    val k = if (xs.size >= 6) 3 else 2
    xs.size >= 4 && median(xs.takeRight(k)) >= 0.97 * median(xs.dropRight(k).takeRight(k))
  }

  private def run(spark: SparkSession, a: Map[String, String], nproc: Int,
      work: String, jvmReady: Double, result: mutable.Map[String, Any]): Unit = {
    val in = a("inputs")
    val items = a("items").toLong
    val w: Workload = a("workload") match {
      case "etl_books" => new EtlBooks(spark, in, work, nproc, items)
      case "curate_docs" => new CurateDocs(spark, in, work, items)
      case "lake_mixed" => new LakeMixed(spark, in, work, items)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val r = new Runner(spark)
    val f0 = System.nanoTime()
    w.setup()
    val fixture = (System.nanoTime() - f0) / 1e9

    r.lane = "warmup"
    val w0 = System.nanoTime()
    val prim = mutable.ArrayBuffer.empty[Double]
    while (!w.atCycleStart || (!levelled(prim.toSeq) &&
        (prim.size < w.minWarmup || (System.nanoTime() - w0) / 1e9 < WarmupCapS))) {
      val s = w.next(r)
      if (s.cls == w.primary) prim += s.secs
    }
    val warm = (System.nanoTime() - w0) / 1e9
    result("setup") = Map("jvm_ready_s" -> jvmReady, "fixture_s" -> fixture,
      "warmup_s" -> warm, "warmup_n" -> r.samples.size)
    result("primary") = w.primary
    result("items_per_primary") = w.itemsPerPrimary

    if (a("trace") == "0") {
      r.lane = "window"
      val end = System.nanoTime() + (a("seconds").toDouble * 1e9).toLong
      while (System.nanoTime() < end) w.next(r)
    } else {
      val tracer = new Tracer(spark)
      val lanes = Seq("t1", "u", "t2")
      val wall = mutable.Map[String, Double]()
      val dv = mutable.Map[String, Map[String, Double]]()
      for (lane <- lanes) {
        w.startPass(lane)
        if (lane != "u") { tracer.install(); r.tracer = Some(tracer) }
        r.lane = lane
        val p0 = System.nanoTime()
        (1 to w.traceRequests).foreach(_ => w.next(r))
        wall(lane) = (System.nanoTime() - p0) / 1e9
        if (lane != "u") { tracer.uninstall(); r.tracer = None }
        dv(lane) = w.dvState()
      }
      result("trace") = Map(
        "requests" -> w.traceRequests,
        "wall_s" -> wall.toMap,
        "dv" -> dv.toMap,
        "ops" -> r.tracedOps.map { case (lane, op, id) =>
          Map("lane" -> lane, "op" -> op, "id" -> id, "counters" -> tracer.countersOf(id))
        },
        "spans" -> tracer.spans.map(s => Seq(s.id, s.parent, s.kind, s.name, s.start, s.end)))
    }
    result("samples") = r.samples.map(s => Seq(s.lane, s.cls, s.secs, s.ok))
    result("calib") = r.calib.map { case (t, c) => Seq(t, c) }
    result("errors") = r.errors.toSeq
    result("extra") = w.finish(s"$work/check")
  }
}
