package graft
import graft.util.LocalSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  * Usage: `graft.Verify <sfDir> <outDir> [names]`; the optional `names`
  * (comma-separated query names or `qNNN` prefixes) dumps only those
  * queries and their oracle SQL, for fast local iteration.
  */
object Verify {

  /** JSON string literal: backslash, quote, and ALL control chars
    * (<0x20) escaped — a tab or CR in builder-authored SQL would
    * otherwise make the driver's json.load fail and silently zero the
    * round's correctness.
    */
  def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val wanted = args.lift(2).toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
    val selected = SparkEntry.queries.filter { case (name, _) =>
      wanted.isEmpty || wanted.exists(name.startsWith)
    }
    require(selected.nonEmpty, s"no queries match ${wanted.mkString(",")}")
    val spark = LocalSession()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // runtime unpartitioned-window guard (VERDICT r15 #2): eagerly-
    // executed lifecycle internals never appear in the returned plan
    // PlanSpec sweeps, so every action is checked at the listener layer
    graft.plans.WindowGuard.install(spark)
    selected.foreach { case (name, fn) =>
      graft.plans.WindowGuard.begin(spark, name)
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // same isolation as Bench: one query's cached blocks must not
      // squeeze execution memory for the queries after it
      spark.catalog.clearCache()
    }
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // window-guard verdict LAST, after every correctness artifact is on
    // disk: a guard regression must be loud (nonzero exit) without
    // costing the round its correctness dump
    val recorded = graft.plans.WindowGuard.recorded(spark)
    val offenders = graft.plans.WindowGuard.offenders(spark)
    def m(mm: Map[String, Set[String]]): String = mm.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}: ${q(v.toSeq.sorted.mkString(";"))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/windowguard.json"),
      s"""{"recorded": ${m(recorded)}, "offenders": ${m(offenders)}}""")
    println(s"""{"metric":"windowguard","recorded":${recorded.size},""" +
      s""""offenders":${offenders.size}}""")
    spark.stop()
    require(offenders.isEmpty,
      "unpartitioned windows executed outside the WindowGuard allowlist " +
        s"(the q145/q363 single-task bug class): ${offenders.keys.toSeq.sorted
          .mkString(", ")} — see $outDir/windowguard.json")
  }
}
