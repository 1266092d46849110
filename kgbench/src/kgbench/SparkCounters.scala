package kgbench

import org.apache.spark.{KgBenchBridge, SparkContext, Success}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Benchmark-side task counters for the `spark.*` per-layer metrics. Counts
  * every task that ends between [[reset]] and [[snapshot]]. */
final class SparkCounters extends SparkListener {
  private val lock = new Object
  private var taskMs, gcMs, deserMs, shuffleBytes, tasks, failed = 0L
  private val byStage = scala.collection.mutable.HashMap.empty[Int, List[Long]]

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    tasks += 1
    if (e.reason != Success) failed += 1
    val m = e.taskMetrics
    if (m != null) {
      taskMs += m.executorRunTime
      gcMs += m.jvmGCTime
      deserMs += m.executorDeserializeTime
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten +
        m.shuffleReadMetrics.totalBytesRead
      byStage(e.stageId) = m.executorRunTime :: byStage.getOrElse(e.stageId, Nil)
    }
  }

  def reset(sc: SparkContext): Unit = {
    KgBenchBridge.drainListeners(sc)
    lock.synchronized {
      taskMs = 0; gcMs = 0; deserMs = 0; shuffleBytes = 0; tasks = 0; failed = 0
      byStage.clear()
    }
  }

  /** Totals since the last reset. `spark.task_skew` is max / median task
    * time within the stage that ran longest in total. */
  def snapshot(sc: SparkContext): Map[String, Double] = {
    KgBenchBridge.drainListeners(sc)
    lock.synchronized {
      val skew = if (byStage.isEmpty) 0.0 else {
        val ts = byStage.values.maxBy(_.sum).sorted
        val med = ts(ts.length / 2)
        if (med <= 0) 0.0 else ts.last.toDouble / med
      }
      Map("spark.task_ms" -> taskMs.toDouble, "spark.gc_ms" -> gcMs.toDouble,
        "spark.deser_ms" -> deserMs.toDouble,
        "spark.shuffle_bytes" -> shuffleBytes.toDouble,
        "spark.tasks" -> tasks.toDouble, "spark.tasks_failed" -> failed.toDouble,
        "spark.task_skew" -> skew)
    }
  }
}
