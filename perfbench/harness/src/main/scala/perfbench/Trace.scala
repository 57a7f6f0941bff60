package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch milliseconds with sub-millisecond
  * precision (see [[Clock]]); `parent` is the id of the enclosing span, -1
  * for a root; `run` groups the spans of one benchmark invocation.
  */
case class Span(id: Int, name: String, start: Double, end: Double,
                parent: Int, run: String) {
  def seconds: Double = (end - start) / 1000.0
}

/** Epoch milliseconds, monotonic within the process: the wall clock read
  * once, advanced by nanoTime. Spark listener events carry epoch ms, so
  * spans and events share one time axis.
  */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** In-memory span recorder: spans nest by a stack of open ids and are
  * written out once, when the benchmark ends.
  */
class Spans(val run: String) {
  private val done = ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var nextId = 0

  def apply[T](name: String)(body: => T): (T, Span) = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val start = Clock.nowMs
    try {
      val out = body
      val s = Span(id, name, start, Clock.nowMs, parent, run)
      done += s
      (out, s)
    } finally stack = stack.tail
  }

  def all: Seq[Span] = done.toSeq.sortBy(_.start)
}

/** Spark-side counts, collected only through public listener APIs: a
  * QueryExecutionListener for planning phase times and a SparkListener for
  * jobs, stages and task metrics. Attach for a traced phase, detach after.
  */
class Listeners(spark: SparkSession) {
  case class Planned(startMs: Double, planningMs: Double)
  case class Job(id: Int, startMs: Double, endMs: Double, stages: Int)
  case class Task(finishMs: Double, runMs: Long, gcMs: Long,
                  shuffleWrite: Long, shuffleRead: Long, spill: Long,
                  failed: Boolean)

  private val planned = new ConcurrentLinkedQueue[Planned]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Double, Int)]()
  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  @volatile private var events = 0L

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
        .filter { case (k, _) => Set("analysis", "optimization", "planning")(k) }
      if (phases.nonEmpty) planned.add(Planned(
        phases.values.map(_.startTimeMs).min.toDouble,
        phases.values.map(_.durationMs).sum.toDouble))
      events += 1
    }
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobStarts.put(e.jobId, (e.time.toDouble, e.stageInfos.size))
      events += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val (start, stages) = Option(jobStarts.remove(e.jobId)).getOrElse((e.time.toDouble, 0))
      jobs.add(Job(e.jobId, start, e.time.toDouble, stages))
      events += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = Option(e.taskMetrics)
      tasks.add(Task(
        e.taskInfo.finishTime.toDouble,
        m.map(_.executorRunTime).getOrElse(0L),
        m.map(_.jvmGCTime).getOrElse(0L),
        m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
        m.map(_.shuffleReadMetrics.totalBytesRead).getOrElse(0L),
        m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L),
        e.taskInfo.failed))
      events += 1
    }
  }

  def attach(): Unit = {
    spark.listenerManager.register(qeListener)
    spark.sparkContext.addSparkListener(sparkListener)
  }

  def detach(): Unit = {
    drain()
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  /** Listener events arrive asynchronously; wait until none has arrived
    * for half a second (bounded at ten seconds).
    */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    var last = -1L
    var quietSince = System.nanoTime()
    while (System.nanoTime() < deadline &&
           (last != events || System.nanoTime() - quietSince < 500000000L)) {
      if (last != events) { last = events; quietSince = System.nanoTime() }
      Thread.sleep(50)
    }
  }

  /** Jobs as spans, for the spans file. */
  def jobSpans: Seq[Job] = jobs.asScala.toSeq.sortBy(_.startMs)

  /** The driver and executor counts that fall inside one span's window:
    * planning by the start of its first phase, jobs by their start, tasks
    * by their finish time. `driver.gap_s` is the span's wall time minus the
    * union of its job intervals.
    */
  def window(span: Span): Map[String, Double] = {
    def in(t: Double) = t >= span.start - 1 && t <= span.end + 1
    val js = jobs.asScala.filter(j => in(j.startMs)).toSeq.sortBy(_.startMs)
    val ts = tasks.asScala.filter(t => in(t.finishMs)).toSeq
    var covered = 0.0
    var reach = span.start
    js.foreach { j =>
      val s = math.max(j.startMs, reach)
      val e = math.min(j.endMs, span.end)
      if (e > s) { covered += e - s; reach = e }
    }
    Map(
      "driver.planning_s" -> planned.asScala.filter(p => in(p.startMs)).map(_.planningMs).sum / 1000.0,
      "driver.gap_s" -> math.max(0.0, span.seconds - covered / 1000.0),
      "driver.jobs" -> js.size.toDouble,
      "driver.stages" -> js.map(_.stages).sum.toDouble,
      "exec.tasks" -> ts.size.toDouble,
      "exec.task_s" -> ts.map(_.runMs).sum / 1000.0,
      "exec.gc_s" -> ts.map(_.gcMs).sum / 1000.0,
      "exec.shuffle_write_bytes" -> ts.map(_.shuffleWrite).sum.toDouble,
      "exec.shuffle_read_bytes" -> ts.map(_.shuffleRead).sum.toDouble,
      "exec.spill_bytes" -> ts.map(_.spill).sum.toDouble,
      "exec.failed_tasks" -> ts.count(_.failed).toDouble)
  }
}
