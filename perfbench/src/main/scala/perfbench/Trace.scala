package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region of a traced run. Times are epoch nanoseconds; spans
  * of one run share `run`; `parent` is -1 for a top-level span.
  */
final case class Span(id: Long, name: String, start: Long, end: Long,
    parent: Long, run: String)

/** Execution numbers of one call, summed over its jobs and tasks. */
final case class CallExec(
    jobsByPhase: Map[String, Int],
    tasks: Long, taskS: Double, cpuS: Double, gcS: Double,
    shuffleWriteMb: Double, shuffleReadMb: Double, inputMb: Double,
    spillMb: Double,
    jobUnionS: Double,
    skew: Option[Double])

/** The benchmark's own SparkListener. The harness tags each phase of a
  * call with a span id in the `perfbench.span` local property; jobs carry
  * it in their properties, and stages and tasks inherit it from their job.
  */
final class ExecListener extends SparkListener {
  private final class TaskAgg {
    var tasks, taskMs, cpuNs, gcMs, shW, shR, input, spill = 0L
  }
  // jobId -> (span, start ms, end ms)
  private val jobs = mutable.Map[Int, (Long, Long, Long)]()
  private val stageSpan = mutable.Map[Int, Long]()
  private val stageWall = mutable.Map[Int, Long]()
  private val stageTaskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  private val spanTasks = mutable.Map[Long, TaskAgg]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Harness.SpanKey)))
      .map(_.toLong).getOrElse(-1L)
    jobs(e.jobId) = (span, e.time, -1L)
    e.stageIds.foreach(s => stageSpan(s) = span)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { case (s, t0, _) => jobs(e.jobId) = (s, t0, e.time) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    for (a <- i.submissionTime; b <- i.completionTime) stageWall(i.stageId) = b - a
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = spanTasks.getOrElseUpdate(stageSpan.getOrElse(e.stageId, -1L), new TaskAgg)
    a.tasks += 1
    a.taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shW += m.shuffleWriteMetrics.bytesWritten
      a.shR += m.shuffleReadMetrics.totalBytesRead
      a.input += m.inputMetrics.bytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
    stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += e.taskInfo.duration
  }

  /** Collect and forget everything tagged with one of `phases`
    * (span id -> phase name). Call only after the listener bus drained.
    */
  def harvest(phases: Map[Long, String]): CallExec = synchronized {
    val mine = jobs.filter { case (_, (s, _, _)) => phases.contains(s) }
    val jobsByPhase = mine.values.groupBy(j => phases(j._1)).map { case (k, v) => k -> v.size }
    val union = unionMs(mine.values.map(j => (j._2, math.max(j._3, j._2))).toSeq) / 1e3
    val aggs = phases.keys.flatMap(spanTasks.get)
    def sum(f: TaskAgg => Long): Long = aggs.map(f).sum
    val stages = stageSpan.collect { case (st, s) if phases.contains(s) => st }.toSet
    val longest = stages.filter(stageWall.contains).maxByOption(stageWall)
    val skew = longest.flatMap(stageTaskMs.get).filter(_.nonEmpty).map { ds =>
      val sorted = ds.sorted
      sorted.last.toDouble / math.max(sorted(sorted.size / 2), 1L)
    }
    jobs --= mine.keys
    stages.foreach { st => stageSpan -= st; stageWall -= st; stageTaskMs -= st }
    spanTasks --= phases.keys
    val mb = 1024.0 * 1024.0
    CallExec(jobsByPhase, sum(_.tasks), sum(_.taskMs) / 1e3, sum(_.cpuNs) / 1e9,
      sum(_.gcMs) / 1e3, sum(_.shW) / mb, sum(_.shR) / mb, sum(_.input) / mb,
      sum(_.spill) / mb, union, skew)
  }

  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = a; curEnd = b
      } else curEnd = math.max(curEnd, b)
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }
}

/** Records one span per query execution Spark reports, under the call
  * that was running when it finished.
  */
final class QeListener(h: Harness) extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    h.qeSpan(s"qe.$funcName", durationNs)

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    h.qeSpan(s"qe.$funcName.failed", 0L)
}
