package graft.util

import org.apache.spark.sql.SparkSession

/** The local session of every command-line main (Bench, Verify and the
  * tools): `SPARK_GRAFT_CPUS` cores, else all the host's cores, and as
  * many shuffle partitions; UTC, so timestamp casts and date formats do
  * not depend on the machine; parquet nanosecond timestamps read as
  * longs (see EventOps.events); no UI.
  */
object LocalSession {

  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  def apply(): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
