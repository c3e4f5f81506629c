package perfbench

import scala.collection.mutable
import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of a run. `start`/`end` are epoch milliseconds
  * (fractional); `parent` is the id of the enclosing span (-1 for the
  * run). Layer spans (kind `construct` / `action`) also accumulate the
  * Spark counters of the jobs they caused, in `acc`. */
final class Span(val id: Int, val name: String, val kind: String,
    val parent: Int, val start: Double) {
  var end: Double = Double.NaN
  val acc: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  def dur: Double = end - start
  def add(k: String, v: Double): Unit = acc(k) += v
}

/** In-memory span recorder: the benchmark thread opens and closes run,
  * op and layer spans; the listeners add job and stage spans under the
  * layer span that was current when the job ran, and fold task and
  * Catalyst-phase counters into it. Spans are written as JSON at exit. */
final class Recorder(val runId: String) {
  private val t0Nanos = System.nanoTime()
  private val t0Epoch = System.currentTimeMillis().toDouble
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  @volatile var current: Span = _
  private val jobSpan = mutable.Map.empty[Int, Span]
  private val stageJob = mutable.Map.empty[Int, Span]
  private val stageTasks = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  /** max/median task time of every completed multi-task stage. */
  val skews: mutable.Map[Int, mutable.ArrayBuffer[Double]] = mutable.Map.empty

  def now: Double = t0Epoch + (System.nanoTime() - t0Nanos) / 1e6

  def open(name: String, kind: String, parent: Span): Span = synchronized {
    val s = new Span(spans.size, name, kind,
      if (parent == null) -1 else parent.id, now)
    spans += s
    s
  }

  def close(s: Span): Unit = synchronized { s.end = now }

  /** The layer span (construct/action) a job span belongs to. */
  private def layerOf(s: Span): Span = spans(s.parent)

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Recorder.this.synchronized {
      val owner = current
      if (owner != null) {
        val s = new Span(spans.size, s"job ${e.jobId}", "job", owner.id, e.time.toDouble)
        spans += s
        jobSpan(e.jobId) = s
        e.stageIds.foreach(stageJob(_) = s)
        owner.add("jobs", 1)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Recorder.this.synchronized {
      jobSpan.remove(e.jobId).foreach(_.end = e.time.toDouble)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Recorder.this.synchronized {
        val info = e.stageInfo
        stageJob.get(info.stageId).foreach { job =>
          val s = new Span(spans.size, s"stage ${info.stageId}.${info.attemptNumber()}",
            "stage", job.id, info.submissionTime.getOrElse(0L).toDouble)
          s.end = info.completionTime.getOrElse(0L).toDouble
          spans += s
          val layer = layerOf(job)
          layer.add("stages", 1)
          stageTasks.remove((info.stageId, info.attemptNumber())).foreach { ts =>
            if (ts.size >= 2) {
              val sorted = ts.sorted
              val median = sorted(sorted.size / 2).max(1L)
              skews.getOrElseUpdate(layer.id, mutable.ArrayBuffer.empty) +=
                sorted.last.toDouble / median
            }
          }
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Recorder.this.synchronized {
      stageJob.get(e.stageId).foreach { job =>
        val layer = layerOf(job)
        val info = e.taskInfo
        layer.add("tasks", 1)
        if (e.reason != Success) layer.add("failed_tasks", 1)
        stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId),
          mutable.ArrayBuffer.empty) += info.duration
        val m = e.taskMetrics
        if (m != null) {
          layer.add("task_cpu_s", m.executorCpuTime / 1e9)
          layer.add("task_run_s", m.executorRunTime / 1e3)
          layer.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          layer.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
          layer.add("fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
          layer.add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
          val overhead = m.executorDeserializeTime + m.resultSerializationTime +
            m.executorRunTime + info.gettingResultTime
          layer.add("scheduler_delay_s", math.max(0L, info.duration - overhead) / 1e3)
        }
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = {
      val owner = current
      if (owner != null) Recorder.this.synchronized {
        qe.tracker.phases.foreach { case (phase, summary) =>
          owner.add(s"${phase}_s", summary.durationMs / 1e3)
        }
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      phases(qe)
  }

  /** Self time: a span's duration minus the time its children cover
    * (union of the child intervals, clipped to the span). */
  def selfTimes: Map[Int, Double] = synchronized {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil).filter(c => !c.end.isNaN)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0
      var (cs, ce) = (Double.NaN, Double.NaN)
      iv.foreach { case (a, b) =>
        if (cs.isNaN) { cs = a; ce = b }
        else if (a <= ce) ce = math.max(ce, b)
        else { covered += ce - cs; cs = a; ce = b }
      }
      if (!cs.isNaN) covered += ce - cs
      s.id -> math.max(0.0, s.dur - covered)
    }.toMap
  }

  def spansJson: String = synchronized {
    val self = selfTimes
    spans.map { s =>
      Json.obj(Seq("id" -> s.id, "name" -> s.name, "kind" -> s.kind,
        "parent" -> s.parent, "run" -> runId, "start" -> s.start,
        "end" -> (if (s.end.isNaN) s.start else s.end),
        "self_ms" -> self(s.id)))
    }.mkString("[\n", ",\n", "\n]")
  }
}

/** Minimal JSON writer for the result and span files. */
object Json {
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => value(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}")
}
