package graftbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One span of the trace. Times are `System.nanoTime` based; `parent`
  * is -1 for a request span. Jobs name their op as parent (the listener
  * knows the job group, not the phase); stages name their job.
  */
final case class Span(id: Int, parent: Int, kind: String, name: String,
    start: Long, end: Long)

/** Records the layer counters and spans of traced runs, from outside
  * the engine: the harness opens request/op/build/action spans around
  * its calls, and this listener attaches the scheduler's jobs and
  * stages to the op whose job group launched them. Executor, shuffle
  * and source counters come from task metrics; planning phases come
  * from each query execution's `QueryPlanningTracker`.
  *
  * The listener bus is asynchronous, so [[fence]] runs a one-task job
  * under a group of its own and waits until the listener has seen it
  * end; every event posted before it has been handled by then. Fence
  * jobs are not counted.
  */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  private val sc: SparkContext = spark.sparkContext
  // epoch-ms event times -> the nanoTime base of the harness spans
  private val nanoOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def fromMillis(ms: Long): Long = ms * 1000000L - nanoOffset

  private val spanSeq = new AtomicLong
  val spans = mutable.ArrayBuffer.empty[Span]
  /** counters per op span id */
  private val counters = mutable.Map.empty[Int, mutable.Map[String, Double]]
  private val stageOp = mutable.Map.empty[Int, Int]
  private val jobOp = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, Long]
  /** span id of each job, and of the first job that runs each stage */
  private val jobSpan = mutable.Map.empty[Int, Int]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageFirstLaunch = mutable.Map.empty[Int, Long]
  @volatile private var currentOp: Int = -1
  private val fenceSeq = new AtomicLong
  private var fenceSeen: String = ""

  def nextId(): Int = spanSeq.incrementAndGet().toInt

  def addSpan(s: Span): Unit = synchronized { spans += s }

  /** Ops are run one at a time by the single client; the harness sets
    * the op before its calls and fences after them.
    */
  def enterOp(id: Int): Unit = currentOp = id

  def add(op: Int, key: String, v: Double): Unit = synchronized {
    if (op >= 0) {
      val m = counters.getOrElseUpdate(op, mutable.Map.empty)
      m(key) = m.getOrElse(key, 0.0) + v
    }
  }

  def countersOf(op: Int): Map[String, Double] = synchronized {
    counters.get(op).map(_.toMap).getOrElse(Map.empty)
  }

  private def opOfGroup(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("op-")).map(_.stripPrefix("op-").toInt)
      .getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id", ""))
      .getOrElse("")
    val op = opOfGroup(e.properties)
    if (op >= 0) {
      jobOp(e.jobId) = op
      jobStart(e.jobId) = e.time
      jobSpan(e.jobId) = nextId()
      e.stageInfos.foreach { s =>
        stageOp(s.stageId) = op
        if (!stageJob.contains(s.stageId)) stageJob(s.stageId) = jobSpan(e.jobId)
      }
      add(op, "jobs", 1)
    }
    if (g.startsWith("fence-")) jobOp(e.jobId) = -2 - g.stripPrefix("fence-").toInt
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOp.get(e.jobId) match {
      case Some(op) if op >= 0 =>
        val st = jobStart.getOrElse(e.jobId, e.time)
        spans += Span(jobSpan(e.jobId), op, "job", s"job ${e.jobId}", fromMillis(st),
          fromMillis(e.time))
      case Some(f) if f <= -2 =>
        fenceSeen = s"fence-${-2 - f}"
        notifyAll()
      case _ =>
    }
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    if (stageOp.contains(e.stageId) && !stageFirstLaunch.contains(e.stageId))
      stageFirstLaunch(e.stageId) = e.taskInfo.launchTime
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    stageOp.get(s.stageId).foreach { op =>
      add(op, "stages", 1)
      for (sub <- s.submissionTime; first <- stageFirstLaunch.get(s.stageId))
        add(op, "launch_wait_s", math.max(0L, first - sub) / 1e3)
      for (sub <- s.submissionTime; done <- s.completionTime)
        spans += Span(nextId(), stageJob.getOrElse(s.stageId, op), "stage",
          s"stage ${s.stageId}", fromMillis(sub), fromMillis(done))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val op = stageOp.getOrElse(e.stageId, -1)
    val m = e.taskMetrics
    if (op >= 0 && m != null) {
      add(op, "tasks", 1)
      add(op, "run_s", m.executorRunTime / 1e3)
      add(op, "cpu_s", m.executorCpuTime / 1e9)
      add(op, "gc_s", m.jvmGCTime / 1e3)
      add(op, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add(op, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add(op, "shuffle_write_records", m.shuffleWriteMetrics.recordsWritten.toDouble)
      add(op, "shuffle_read_records", m.shuffleReadMetrics.recordsRead.toDouble)
      add(op, "fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      add(op, "spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add(op, "read_bytes", m.inputMetrics.bytesRead.toDouble)
      add(op, "read_rows", m.inputMetrics.recordsRead.toDouble)
      add(op, "write_bytes", m.outputMetrics.bytesWritten.toDouble)
      add(op, "write_rows", m.outputMetrics.recordsWritten.toDouble)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe)

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    phases(qe)

  private def phases(qe: QueryExecution): Unit = {
    val op = currentOp
    val ph = qe.tracker.phases
    add(op, "executions", 1)
    Seq("analysis" -> "analysis_ms", "optimization" -> "optimizer_ms",
        "planning" -> "planning_ms").foreach { case (p, k) =>
      ph.get(p).foreach(s => add(op, k, s.durationMs.toDouble))
    }
  }

  /** Block until every listener event posted so far has been handled. */
  def fence(): Unit = {
    val id = s"fence-${fenceSeq.incrementAndGet()}"
    sc.setJobGroup(id, "trace fence", interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 60000
    synchronized {
      while (fenceSeen != id && System.currentTimeMillis() < deadline)
        wait(100)
    }
    require(fenceSeen == id, s"listener never saw $id")
  }

  def install(): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def uninstall(): Unit = {
    fence()
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}
