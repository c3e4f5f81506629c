package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{LongAccumulator, LongAdder}
import org.apache.spark.scheduler._

/** The one task-metrics listener of the dev mains (ProfileStages,
  * BenchVolumes, BenchZipf): running shuffle-write totals, the longest
  * single task, per-stage task aggregates and per-job wall spans.
  * Listener events arrive asynchronously; read totals through
  * [[settled]] so one query's late task-end events never leak into the
  * next reading.
  */
final class TaskMetricsListener extends SparkListener {
  import TaskMetricsListener.StageRec

  val shuffleBytes = new LongAdder
  val shuffleRecords = new LongAdder
  val maxTaskMs = new LongAccumulator(math.max(_, _), 0L)
  val stages = new ConcurrentHashMap[Int, StageRec]()
  val jobs = new ConcurrentHashMap[Int, (Long, Long)]()
  // runTime, cpuTime(ns), srB, swB, inB, outB, gc, n, fetchWait, deser
  private val taskAgg = new ConcurrentHashMap[Int, Array[Long]]()
  // every handled event: settles stage/job records too, not just bytes
  private val events = new LongAdder

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    events.increment()
    val m = t.taskMetrics
    if (m != null) {
      shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten)
      shuffleRecords.add(m.shuffleWriteMetrics.recordsWritten)
      maxTaskMs.accumulate(m.executorRunTime)
      val a = taskAgg.computeIfAbsent(t.stageId, _ => new Array[Long](10))
      a.synchronized {
        a(0) += m.executorRunTime
        a(1) += m.executorCpuTime
        a(2) += m.shuffleReadMetrics.totalBytesRead
        a(3) += m.shuffleWriteMetrics.bytesWritten
        a(4) += m.inputMetrics.bytesRead
        a(5) += m.outputMetrics.bytesWritten
        a(6) += m.jvmGCTime
        a(7) += 1
        a(8) += m.shuffleReadMetrics.fetchWaitTime
        a(9) += m.executorDeserializeTime
      }
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    events.increment()
    val si = e.stageInfo
    val a = taskAgg.getOrDefault(si.stageId, new Array[Long](10))
    stages.put(si.stageId, StageRec(si.stageId, si.name,
      si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L),
      si.numTasks, a(0), a(1) / 1000000L, a(2), a(3), a(4), a(5), a(6),
      a(8), a(9)))
  }
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    events.increment()
    jobs.put(e.jobId, (e.time, 0L))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    events.increment()
    val prev = jobs.getOrDefault(e.jobId, (0L, 0L))
    jobs.put(e.jobId, (prev._1, e.time))
  }

  /** Drop the per-stage and per-job records (totals keep running). */
  def clear(): Unit = { stages.clear(); jobs.clear(); taskAgg.clear() }

  /** Shuffle-write (bytes, records) once no event has arrived for two
    * polls. BOUNDED: speculative/zombie tasks trickling events forever
    * must fail the run with a diagnostic, not hang the bench harness. */
  def settled(): (Long, Long) = {
    def reading = (shuffleBytes.sum(), shuffleRecords.sum(), events.sum())
    var last = reading
    var prev = last
    var same = 0
    var polls = 0
    while (same < 2) {
      polls += 1
      if (polls > 500) // 500 × 120 ms = 60 s of non-quiescence
        sys.error(s"task listener never settled after $polls polls" +
          s" — last two readings: $prev then $last (bytes, records, events)")
      Thread.sleep(120)
      val cur = reading
      if (cur == last) same += 1 else { same = 0; prev = last; last = cur }
    }
    (last._1, last._2)
  }
}

object TaskMetricsListener {
  final case class StageRec(id: Int, name: String, submitted: Long,
    completed: Long, tasks: Int, runTimeMs: Long, cpuTimeMs: Long,
    shufReadB: Long, shufWriteB: Long, inputB: Long, outputB: Long,
    gcMs: Long, fetchWaitMs: Long, deserMs: Long)
}
