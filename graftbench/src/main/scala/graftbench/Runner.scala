package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One completed request of the closed loop. */
final case class Sample(lane: String, cls: String, secs: Double, ok: Boolean)

/** Runs requests and the ops inside them. Every op gets a job group of
  * its own (`op-<id>`), also when untraced, so a traced and an untraced
  * run launch identical jobs; only the listener and its fences differ.
  */
final class Runner(spark: SparkSession) {
  private val sc = spark.sparkContext
  private var opSeq = 0
  private var reqSpan = -1
  var tracer: Option[Tracer] = None
  var lane = "main"

  val samples = mutable.ArrayBuffer.empty[Sample]
  /** (lane, op name, op span id) of every traced op */
  val tracedOps = mutable.ArrayBuffer.empty[(String, String, Int)]
  val errors = mutable.ArrayBuffer.empty[String]
  /** (seconds since the loop started, CPU loop seconds) */
  val calib = mutable.ArrayBuffer.empty[(Double, Double)]
  private val t0 = System.nanoTime()

  /** Runs one request; a thrown exception fails the request, not the run. */
  def request(cls: String)(body: => Unit): Sample = {
    val id = tracer.map(_.nextId()).getOrElse(-1)
    reqSpan = id
    val s0 = System.nanoTime()
    val ok = try { body; true } catch {
      case e: Throwable =>
        if (errors.size < 20) errors += s"$lane/$cls: ${e.getClass.getName}: ${e.getMessage}"
          .take(2000)
        false
    }
    val s1 = System.nanoTime()
    tracer.foreach(_.addSpan(Span(id, -1, "request", cls, s0, s1)))
    reqSpan = -1
    val s = Sample(lane, cls, (s1 - s0) / 1e9, ok)
    samples += s
    calibrate()
    s
  }

  /** An op: `build` is the call that returns the engine's DataFrame (and
    * does whatever eager work the engine does there), `action` runs it.
    */
  def op[A, B](name: String)(build: => A)(action: A => B): B = {
    opSeq += 1
    val id = tracer.map(_.nextId()).getOrElse(opSeq)
    sc.setJobGroup(s"op-$id", name, interruptOnCancel = false)
    tracer.foreach(_.enterOp(id))
    val b0 = System.nanoTime()
    try {
      val a = build
      val b1 = System.nanoTime()
      val out = action(a)
      val b2 = System.nanoTime()
      tracer.foreach { t =>
        sc.clearJobGroup()
        t.fence()
        t.addSpan(Span(id, reqSpan, "op", name, b0, b2))
        t.addSpan(Span(t.nextId(), id, "build", name, b0, b1))
        t.addSpan(Span(t.nextId(), id, "action", name, b1, b2))
        t.add(id, "wall_s", (b2 - b0) / 1e9)
        t.add(id, "build_s", (b1 - b0) / 1e9)
        tracedOps += ((lane, name, id))
      }
      out
    } finally {
      sc.clearJobGroup()
      tracer.foreach(_.enterOp(-1))
    }
  }

  /** Between requests: a fixed CPU loop, whose time follows host speed
    * and nothing else.
    */
  private def calibrate(): Unit =
    calib += (((System.nanoTime() - t0) / 1e9, Runner.calibrate()))
}

object Runner {
  @volatile private var sink = 0L

  def calibrate(): Double = {
    val c0 = System.nanoTime()
    var x = 1L
    var i = 0
    while (i < 20000000) {
      x = x * 6364136223846793005L + 1442695040888963407L
      x ^= x >>> 29
      i += 1
    }
    sink ^= x
    (System.nanoTime() - c0) / 1e9
  }
}
