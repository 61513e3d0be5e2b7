package graft.tools
import graft.util.LocalSession
/** Dev helper: time a subset of SparkEntry.queries on SPARK_GRAFT_SF_DIR. */
object BenchSome {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession()
    spark.sparkContext.setLogLevel("ERROR")
    args.foreach { name =>
      val t0 = System.nanoTime()
      val n = graft.SparkEntry.queries(name)(spark, sfDir).count()
      println(f"$name: ${(System.nanoTime() - t0) / 1e9}%.2fs rows=$n")
      // Bench's isolation discipline: drop cached blocks + nudge the
      // ContextCleaner so runs don't squeeze each other's memory
      spark.catalog.clearCache()
      System.gc()
    }
    spark.stop()
  }
}
