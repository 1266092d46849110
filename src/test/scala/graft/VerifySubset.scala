package graft
import org.apache.spark.sql.SparkSession

/** Scratch: run a comma-separated subset of SparkEntry.queries → parquet.
  * Prints one `{"query":...}` metrics line per query — wall seconds, task
  * spill totals (memory + disk), the max per-task peak execution memory,
  * and JVM heap in use — the engine-side numbers SCALE.md's memory table
  * records for the sf10 replay (round-6 directive #9). */
object VerifySubset {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, names) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val metrics = graft.util.TaskMetrics.attach(spark.sparkContext)

    names.split(",").foreach { n =>
      metrics.reset()
      val t0 = System.nanoTime()
      val err: Option[String] =
        try { SparkEntry.queries(n)(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$n"); None }
        catch { case e: Throwable =>
          System.err.println(s"[subset] $n failed: $e"); e.printStackTrace()
          Some(e.getClass.getSimpleName)
        }
      val wall = (System.nanoTime() - t0) / 1e9
      // match the real driver's per-query cache regime (Verify releases
      // registered persists after every query) so the published heap/spill
      // numbers aren't cross-contaminated by prior queries' caches; the
      // SHARED memoized docs/triples stay warm, as in Bench
      graft.util.CacheRegistry.releaseAll()
      val tasks = metrics.tasks
      val memSpilled = tasks.map(_.memorySpilledBytes).sum
      val diskSpilled = tasks.map(_.diskSpilledBytes).sum
      val peakExec = tasks.map(_.peakExecutionMemory).maxOption.getOrElse(0L)
      val rt = Runtime.getRuntime
      val heapUsed = rt.totalMemory() - rt.freeMemory()
      val errField = err.map(e => s""","err":${graft.util.Json.quote(e)}""").getOrElse("")
      println(s"""{"query":"$n","wall_sec":${graft.util.Json.num(wall, 1)},"mem_spilled_mb":${memSpilled / 1048576},"disk_spilled_mb":${diskSpilled / 1048576},"peak_task_exec_mem_mb":${peakExec / 1048576},"jvm_heap_used_mb":${heapUsed / 1048576}$errField}""")
    }
    import graft.util.Json.{quote => q}
    val json = SparkEntry.oracleSql.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
