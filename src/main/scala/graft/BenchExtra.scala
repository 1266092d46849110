package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Round-8 optimization harness (guide §1.4/§1.5): NOT part of the frozen
  * driver contract ([[Bench]] is untouched). For each selected query this
  * main
  *
  *  - writes the `.explain("formatted")` plan to `plans/r08/<name>_<tag>.txt`
  *    (the before/after plan evidence the optimization round commits);
  *  - times the query with BOTH actions: `count()` (the frozen bench's
  *    action, for comparability) and the noop sink (computes every column,
  *    guide §1.4) — a large count-vs-noop gap means the count path is
  *    pruning work the real query does;
  *  - counts Spark jobs / stages / tasks and sums task time + shuffle
  *    read/write bytes per timed run via a listener, so "where does the
  *    time go" is measured, not guessed (§1.1 empirical loop).
  *
  * Usage: sbt "runMain graft.BenchExtra <tag> [query ...]"
  *   (env SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as the bench; no queries ⇒
  *    all of SparkEntry.queries.)
  */
object BenchExtra {

  private final class Acc extends SparkListener {
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskTimeMs = new AtomicLong(0L)
    val shuffleRead = new AtomicLong(0L)
    val shuffleWrite = new AtomicLong(0L)
    val gcMs = new AtomicLong(0L)
    /** (stage name, task time ms, n tasks, wall ms) per completed stage. */
    val stageRows = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Int, Long)]()
    override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      val info = s.stageInfo
      val tt = Option(info.taskMetrics).map(_.executorRunTime).getOrElse(0L)
      val wall = (for {a <- info.completionTime; b <- info.submissionTime} yield a - b).getOrElse(0L)
      // first graft.* frame of the submission stack — the anonymous AQE
      // stage-materialization name alone cannot tell scoring passes apart
      val frame = info.details.linesIterator
        .find(l => l.contains("graft.") && !l.contains("BenchExtra"))
        .map(_.trim.stripPrefix("at ").take(80)).getOrElse("")
      stageRows.add((s"${info.name.takeWhile(_ != '\n').take(60)} | $frame",
        tt, info.numTasks, wall))
      ()
    }
    val deserMs = new AtomicLong(0L)
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = t.taskMetrics
      if (m != null) {
        taskTimeMs.addAndGet(m.executorRunTime)
        gcMs.addAndGet(m.jvmGCTime)
        deserMs.addAndGet(m.executorDeserializeTime)
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
    def snapshot: String =
      f"jobs=${jobs.get}%d stages=${stages.get}%d tasks=${tasks.get}%d " +
        f"taskTime=${taskTimeMs.get / 1000.0}%.2fs deser=${deserMs.get / 1000.0}%.2fs gc=${gcMs.get / 1000.0}%.2fs " +
        f"shufRead=${shuffleRead.get / 1024.0 / 1024.0}%.2fMB " +
        f"shufWrite=${shuffleWrite.get / 1024.0 / 1024.0}%.2fMB"
    def topStages(n: Int): String = {
      import scala.jdk.CollectionConverters._
      stageRows.asScala.toSeq.sortBy(-_._2).take(n)
        .map { case (nm, tt, nt, wall) =>
          f"    ${tt / 1000.0}%6.2fs task / ${wall / 1000.0}%5.2fs wall / $nt%3d tasks  $nm"
        }.mkString("\n")
    }
    def reset(): Unit = {
      jobs.set(0); stages.set(0); tasks.set(0); taskTimeMs.set(0L)
      shuffleRead.set(0L); shuffleWrite.set(0L); gcMs.set(0L); deserMs.set(0L)
      stageRows.clear()
    }
  }

  /** Poor-man's sampling profiler (local mode only: executors share this
    * JVM): every ~20 ms, take the topmost interesting frame of every
    * "Executor task launch worker" thread and histogram them. Attributes
    * task time to actual operators where the AQE stage names cannot. */
  private final class Sampler extends Thread("benchextra-sampler") {
    setDaemon(true)
    val counts = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
    @volatile var on = false
    @volatile private var halted = false
    def reset(): Unit = counts.clear()
    def shutdown(): Unit = { halted = true }
    private def interesting(f: StackTraceElement): Boolean = {
      val c = f.getClassName
      c.startsWith("graft.") ||
        c.startsWith("org.apache.spark.sql.catalyst.expressions.codegen.GeneratedClass") ||
        c.contains("WholeStageCodegen")
    }
    override def run(): Unit = while (!halted) {
      if (on) {
        val all = Thread.getAllStackTraces
        all.forEach { (t, st) =>
          if (t.getName.startsWith("Executor task launch worker")) {
            val frame = st.find(interesting)
              .map(f => s"${f.getClassName.stripPrefix("graft.")}.${f.getMethodName}")
              .orElse(st.headOption.map(f =>
                s"[non-graft] ${f.getClassName.split('.').lastOption.getOrElse("?")}.${f.getMethodName}"))
              .getOrElse("[idle]")
            counts.computeIfAbsent(frame, _ => new java.util.concurrent.atomic.AtomicLong())
              .incrementAndGet()
          }
        }
      }
      Thread.sleep(20)
    }
    def top(n: Int): String = {
      import scala.jdk.CollectionConverters._
      val rows = counts.asScala.toSeq.map { case (k, v) => (k, v.get) }.sortBy(-_._2)
      val total = math.max(rows.map(_._2).sum, 1L)
      rows.take(n).map { case (k, c) =>
        f"    ${c * 100.0 / total}%5.1f%% ($c%5d) $k"
      }.mkString("\n")
    }
  }

  def main(args: Array[String]): Unit = {
    val tag = args.headOption.getOrElse("before")
    val names =
      if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.ui.enabled", "false")
    // experiment knob: SPARK_GRAFT_EXTRA_CONF="k=v;k=v" — lets the
    // optimization loop A/B a conf hypothesis without touching the frozen
    // graft.Bench harness
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach(_.split(";").foreach { kv =>
      val Array(k, v) = kv.split("=", 2); builder.config(k, v)
    })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val planDir = java.nio.file.Paths.get(
      sys.env.getOrElse("GRAFT_REPO_ROOT", "/root/repo"), "plans", "r08")
    java.nio.file.Files.createDirectories(planDir)

    val plansOnly = sys.env.get("SPARK_GRAFT_PLANS_ONLY").contains("1")
    SparkEntry.materializeShared(spark, sfDir)
    val acc = new Acc
    spark.sparkContext.addSparkListener(acc)
    val sampler = new Sampler
    val sampling = sys.env.get("SPARK_GRAFT_SAMPLE").contains("1")
    if (sampling) sampler.start()

    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name"))
      // plan dump (fresh construction so per-query persists are cold in the
      // plan exactly as the driver sees them)
      val plan = fn(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      graft.util.CacheRegistry.releaseAll()
      java.nio.file.Files.writeString(planDir.resolve(s"${name}_$tag.txt"), plan)
      if (plansOnly) { println(s"PLAN $name"); }
      else {
      def timed(action: org.apache.spark.sql.DataFrame => Unit): (Double, String, String) = {
        acc.reset()
        val t0 = System.nanoTime()
        spark.sparkContext.setJobDescription(s"$name")
        action(fn(spark, sfDir))
        val sec = (System.nanoTime() - t0) / 1e9
        graft.util.CacheRegistry.releaseAll()
        (sec, acc.snapshot, acc.topStages(6))
      }
      // median of three unprofiled count runs; with sampling on, one more
      // run carries the profiler (its safepoint pauses stay out of the median)
      val runs = Seq.fill(3)(timed(_.count()))
      val sampled =
        if (!sampling) runs.last
        else {
          sampler.reset(); sampler.on = true
          try timed(_.count()) finally sampler.on = false
        }
      val noop = timed(
        _.write.format("noop").mode("overwrite").save())
      val med = runs.map(_._1).sorted.apply(1)
      val sampledSec = if (sampling) f"  sampled=${sampled._1}%.3f" else ""
      println(f"QUERY $name%-28s count_med=$med%7.3f  runs=${runs.map(r => f"${r._1}%.3f").mkString(",")}$sampledSec  noop=${noop._1}%7.3f")
      println(s"  last_count_profile: ${sampled._2}")
      println(s"  top stages (last count run):\n${sampled._3}")
      if (sampling) println(s"  sampled frames (last count run):\n${sampler.top(12)}")
      }
    }
    spark.stop()
  }
}
