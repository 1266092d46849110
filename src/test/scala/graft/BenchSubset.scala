package graft
import org.apache.spark.sql.SparkSession
/** Scratch: time a comma-separated subset of SparkEntry.queries. */
object BenchSubset {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, cpus, names, reps) = args
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    (1 to reps.toInt).foreach { r =>
      names.split(",").foreach { n =>
        val t0 = System.nanoTime()
        val cnt = SparkEntry.queries(n)(spark, sfDir).count()
        graft.util.CacheRegistry.releaseAll()
        println(f"TIMING rep=$r $n%-24s ${(System.nanoTime()-t0)/1e9}%7.2f s  rows=$cnt")
      }
    }
    spark.stop()
  }
}
