package graft.util

import org.apache.spark.{GraftListenerBridge, SparkContext}
import org.apache.spark.scheduler._
import scala.collection.mutable

/** The one task-metrics listener (BenchExtra, SkewBench, SkewSpec,
  * VerifySubset): a row per ended task and per completed stage, and a count
  * of job starts. Listener events arrive asynchronously, so every read and
  * [[reset]] first drains the bus; an action posts its task-end events
  * before it returns, so a read right after it sees them all.
  *
  * Skew spreads compare record counts, not times: counts are deterministic
  * in the data and the plan, while times track host load. A worst task that
  * reads k× the median's records WILL be a k× straggler at any cluster size.
  */
final class TaskMetrics private (sc: SparkContext) extends SparkListener {
  import TaskMetrics._

  private val taskRows = mutable.ArrayBuffer.empty[TaskRow]
  private val stageRows = mutable.ArrayBuffer.empty[StageRow]
  private var jobStarts = 0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobStarts += 1 }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val row = StageRow(info.name.takeWhile(_ != '\n'),
      info.details.linesIterator.map(_.trim.stripPrefix("at ")).filter(_.contains("graft.")).toSeq,
      Option(info.taskMetrics).map(_.executorRunTime).getOrElse(0L), info.numTasks,
      (for (a <- info.completionTime; b <- info.submissionTime) yield a - b).getOrElse(0L))
    synchronized { stageRows += row }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    // a task that succeeds always reports metrics; one that fails may not
    val row =
      if (m == null) TaskRow(e.stageId, false, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)
      else TaskRow(e.stageId, e.taskInfo != null && e.taskInfo.successful,
        m.executorRunTime, m.jvmGCTime, m.executorDeserializeTime, m.inputMetrics.recordsRead,
        m.shuffleReadMetrics.recordsRead, m.shuffleWriteMetrics.recordsWritten,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled, m.diskBytesSpilled, m.peakExecutionMemory)
    synchronized { taskRows += row }
  }

  /** Rows since [[TaskMetrics.attach]] or the last [[reset]]. */
  def tasks: Seq[TaskRow] = { GraftListenerBridge.drain(sc); synchronized(taskRows.toSeq) }
  def stages: Seq[StageRow] = { GraftListenerBridge.drain(sc); synchronized(stageRows.toSeq) }
  def jobs: Int = { GraftListenerBridge.drain(sc); synchronized(jobStarts) }

  def reset(): Unit = {
    GraftListenerBridge.drain(sc)
    synchronized { taskRows.clear(); stageRows.clear(); jobStarts = 0 }
  }

  def close(): Unit = sc.removeSparkListener(this)

  /** The successful tasks of each stage that has at least `minTasks` of
    * them (a spread over 1–2 tasks is meaningless), by stage id. */
  def stageSpreads(minTasks: Int = 4): Seq[StageSpread] =
    tasks.filter(_.succeeded).groupBy(_.stageId).toSeq.sortBy(_._1).collect {
      case (sid, ts) if ts.size >= minTasks => StageSpread(sid, ts)
    }

  /** The worst shuffle-read spread across all qualifying stages — the
    * one-number verdict for "does any reducer see a hot key's full traffic". */
  def worstReadRatio(minTasks: Int = 4, floor: Long = 64): Double = {
    val ss = stageSpreads(minTasks)
    if (ss.isEmpty) 1.0 else ss.map(_.readRatio(floor)).max
  }
}

object TaskMetrics {

  /** Listen on `sc` from now on; the bus is drained first, so no event of an
    * earlier action reaches the new listener. */
  def attach(sc: SparkContext): TaskMetrics = {
    val m = new TaskMetrics(sc)
    GraftListenerBridge.drain(sc)
    sc.addSparkListener(m)
    m
  }

  /** One ended task; shuffle-read bytes are local plus remote. */
  final case class TaskRow(stageId: Int, succeeded: Boolean,
      runMs: Long, gcMs: Long, deserializeMs: Long, inputRecords: Long,
      shuffleReadRecords: Long, shuffleWriteRecords: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long,
      memorySpilledBytes: Long, diskSpilledBytes: Long, peakExecutionMemory: Long)

  /** One completed stage: its name's first line, the `graft.` frames of its
    * submission call site (innermost first; an anonymous AQE stage name
    * cannot tell scoring passes apart), summed task time, tasks and wall. */
  final case class StageRow(name: String, graftFrames: Seq[String],
      taskMs: Long, tasks: Int, wallMs: Long)

  /** One stage's successful tasks. Ratios divide the max by
    * `max(median, floor)`: near-empty tasks cannot make an infinite ratio. */
  final case class StageSpread(stageId: Int, tasks: Seq[TaskRow]) {
    def max(f: TaskRow => Long): Long = tasks.map(f).max
    def median(f: TaskRow => Long): Long = tasks.map(f).sorted.apply(tasks.size / 2)
    def readRatio(floor: Long = 64): Double =
      max(_.shuffleReadRecords).toDouble / math.max(median(_.shuffleReadRecords), floor)
    /** Byte-level spread: row counts miss payload skew (a partial
      * collect_list ships FEW rows that are each megabytes). */
    def readBytesRatio(floorBytes: Long = 1 << 16): Double =
      max(_.shuffleReadBytes).toDouble / math.max(median(_.shuffleReadBytes), floorBytes)
  }
}
