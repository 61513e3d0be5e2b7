package graft.tools
import graft.util.LocalSession
/** Dev helper: run a single SparkEntry query and show its result/plan. */
object RunOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = LocalSession()
    spark.sparkContext.setLogLevel("ERROR")
    val df = graft.SparkEntry.queries(name)(spark, dir)
    if (args.contains("--explain")) df.explain("formatted")
    df.show(20, false)
    println(s"rows=${df.count()}")
    spark.stop()
  }
}
