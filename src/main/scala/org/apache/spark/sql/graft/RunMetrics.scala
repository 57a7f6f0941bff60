package org.apache.spark.sql.graft

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Runtime shuffle observability: measure what a job ACTUALLY moved, not
  * what the plan text suggests. Wraps an action in a SparkListener that
  * folds task-level metrics (shuffle write/read, spill, input) into one
  * snapshot — the ground truth for scale-shape claims like "this round
  * only shuffles the frontier" or "the broadcast path never writes
  * shuffle files". Lives in the spark.sql.graft package for
  * `listenerBus.waitUntilEmpty` (private[spark]), which makes the
  * snapshot deterministic instead of racing the async listener bus.
  *
  * Test-harness quality gate and profiler, not a hot-path component:
  * specs pin operator shuffle volumes with it (RunMetricsSpec), the way
  * PlanShapeSpec pins plan shapes, and graft.Profile prints one snapshot
  * per query.
  */
object RunMetrics {

  /** Job count plus task-metric totals across every job that ran inside
    * `measure`. `taskSeconds` sums task wall durations (launch to end).
    */
  case class Snapshot(
      jobs: Long,
      tasks: Long,
      taskSeconds: Double,
      shuffleWriteBytes: Long,
      shuffleWriteRecords: Long,
      shuffleReadRecords: Long,
      spillBytes: Long,
      inputRecords: Long)

  private final class Fold extends SparkListener {
    val jobs = new LongAdder
    val tasks = new LongAdder
    val taskMillis = new LongAdder
    val swBytes = new LongAdder
    val swRecords = new LongAdder
    val srRecords = new LongAdder
    val spill = new LongAdder
    val input = new LongAdder

    override def onJobStart(j: SparkListenerJobStart): Unit = jobs.increment()

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      if (t.taskInfo != null) taskMillis.add(t.taskInfo.duration)
      val m = t.taskMetrics
      if (m != null) {
        tasks.increment()
        swBytes.add(m.shuffleWriteMetrics.bytesWritten)
        swRecords.add(m.shuffleWriteMetrics.recordsWritten)
        srRecords.add(m.shuffleReadMetrics.recordsRead)
        spill.add(m.diskBytesSpilled + m.memoryBytesSpilled)
        input.add(m.inputMetrics.recordsRead)
      }
    }

    def snapshot: Snapshot = Snapshot(jobs.sum(), tasks.sum(),
      taskMillis.sum() / 1000.0, swBytes.sum(), swRecords.sum(),
      srRecords.sum(), spill.sum(), input.sum())
  }

  /** Run `body`, return its result plus the fleet-wide task-metric totals
    * of everything it executed. Safe to nest queries inside; NOT safe to
    * run concurrently with unrelated jobs on the same context (their
    * tasks land in the same snapshot).
    */
  def measure[T](spark: SparkSession)(body: => T): (T, Snapshot) = {
    val sc = spark.sparkContext
    val fold = new Fold
    sc.addSparkListener(fold)
    try {
      val result = body
      sc.listenerBus.waitUntilEmpty()
      (result, fold.snapshot)
    } finally sc.removeSparkListener(fold)
  }
}
