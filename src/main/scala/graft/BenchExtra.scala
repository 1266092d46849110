package graft

import graft.util.TaskMetrics
import org.apache.spark.sql.SparkSession

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
  *    read/write bytes per timed run from [[graft.util.TaskMetrics]], so
  *    "where does the time go" is measured, not guessed (§1.1 empirical
  *    loop).
  *
  * Usage: sbt "runMain graft.BenchExtra <tag> [query ...]"
  *   (env SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as the bench; no queries ⇒
  *    all of SparkEntry.queries.)
  */
object BenchExtra {

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
    val metrics = TaskMetrics.attach(spark.sparkContext)
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
        metrics.reset()
        val t0 = System.nanoTime()
        spark.sparkContext.setJobDescription(s"$name")
        action(fn(spark, sfDir))
        val sec = (System.nanoTime() - t0) / 1e9
        graft.util.CacheRegistry.releaseAll()
        // sums over every task; top stages named by their first graft frame outside this main
        val ts = metrics.tasks
        def secs(f: TaskMetrics.TaskRow => Long) = ts.map(f).sum / 1000.0
        def mb(f: TaskMetrics.TaskRow => Long) = ts.map(f).sum / 1024.0 / 1024.0
        val profile = f"jobs=${metrics.jobs}%d stages=${metrics.stages.size}%d tasks=${ts.size}%d " +
          f"taskTime=${secs(_.runMs)}%.2fs deser=${secs(_.deserializeMs)}%.2fs gc=${secs(_.gcMs)}%.2fs " +
          f"shufRead=${mb(_.shuffleReadBytes)}%.2fMB shufWrite=${mb(_.shuffleWriteBytes)}%.2fMB"
        val top = metrics.stages.sortBy(-_.taskMs).take(6).map { s =>
          val frame = s.graftFrames.find(!_.contains("BenchExtra")).map(_.take(80)).getOrElse("")
          f"    ${s.taskMs / 1000.0}%6.2fs task / ${s.wallMs / 1000.0}%5.2fs wall / ${s.tasks}%3d tasks  ${s.name.take(60)} | $frame"
        }.mkString("\n")
        (sec, profile, top)
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
