package graft

import graft.util.TaskMetrics
import org.apache.spark.HashPartitioner
import org.scalatest.funsuite.AnyFunSuite

/** The measurement module reads every task of an action right after it
  * returns: each read drains the listener bus, so no spec waits. */
class TaskMetricsSpec extends AnyFunSuite with SparkTestBase {

  private def withMetrics[A](body: TaskMetrics => A): A = {
    val metrics = TaskMetrics.attach(spark.sparkContext)
    try body(metrics) finally metrics.close()
  }

  test("an 8-partition action records 8 successful tasks in one stage, read at once") {
    withMetrics { metrics =>
      for (i <- 1 to 20) {
        metrics.reset()
        assert(spark.sparkContext.parallelize(1 to 800, 8).map(_ * 2).count() == 800)
        val tasks = metrics.tasks
        assert(tasks.size == 8, s"run $i")
        assert(tasks.forall(_.succeeded), s"run $i")
        assert(tasks.map(_.stageId).distinct.size == 1, s"run $i")
        assert(metrics.stages.map(_.tasks) == Seq(8), s"run $i")
        assert(metrics.jobs == 1, s"run $i")
      }
    }
  }

  test("a shuffle of one key puts every row on one reducer's shuffle read") {
    val rows = 1000
    withMetrics { metrics =>
      spark.sparkContext.parallelize(1 to rows, 8).map(x => (0, x))
        .partitionBy(new HashPartitioner(4)).count()
      val spreads = metrics.stageSpreads(minTasks = 1)
      assert(spreads.map(_.max(_.shuffleReadRecords)).max == rows)
      assert(spreads.map(_.tasks.size).sum == 8 + 4)
    }
  }

  test("reset between two actions leaves only the second action's rows") {
    withMetrics { metrics =>
      spark.sparkContext.parallelize(1 to 100, 8).count()
      metrics.reset()
      spark.sparkContext.parallelize(1 to 100, 3).count()
      val tasks = metrics.tasks
      assert(tasks.size == 3)
      assert(tasks.map(_.stageId).distinct.size == 1)
      assert(metrics.stages.map(_.tasks) == Seq(3))
      assert(metrics.jobs == 1)
    }
  }
}
