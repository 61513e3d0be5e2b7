package graft.tools

import java.nio.file.{Files, Paths}

import graft.SparkEntry
import graft.util.LocalSession

/** Subset Verify for fast local iteration: dump only the named queries
  * (comma-separated, or a `qNNN` prefix filter) plus their oracle SQL,
  * in the driver's Verify layout, so tools/oracle_check.py can grade a
  * handful of new queries without re-running all of SparkEntry.
  * Usage: runMain graft.tools.VerifySome <sfDir> <outDir> <names>
  */
object VerifySome {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, namesArg) = args
    val wanted = namesArg.split(",").map(_.trim).filter(_.nonEmpty).toSet
    val selected = SparkEntry.all.filter(q =>
      wanted.contains(q.name) || wanted.exists(w => q.name.startsWith(w)))
    require(selected.nonEmpty, s"no queries match $namesArg")
    val spark = LocalSession()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    selected.foreach { qd =>
      try qd.fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${qd.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify-some] ${qd.name} failed: ${e.getMessage}")
      }
      spark.catalog.clearCache()
    }
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = selected.flatMap(qd => qd.oracle.map(sql => qd.name -> sql))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
