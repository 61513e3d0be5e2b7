package graft.tools

import java.nio.file.{Files, Paths}

import graft.util.LocalSession

/** Dev helper: capture `.explain("formatted")` for the named queries
  * (comma-separated) into <outDir>/<name>_<suffix>.txt — the
  * plans/r17 deliverable. The plan is captured WITHOUT executing the
  * query (df.queryExecution on the returned frame); composite bodies
  * that execute eagerly while constructing their result run as part of
  * plan capture, which is unavoidable for them (their returned frame is
  * the audit summary) — their interesting plans are the internals,
  * captured separately via the phase-timing instrumentation and the
  * spec-level plan asserts referenced in OPTIMIZATION_r17.md.
  * Usage: runMain graft.tools.DumpPlans <sfDir> <outDir> <suffix> <names>
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix, namesArg) = args
    val names = namesArg.split(",").map(_.trim).filter(_.nonEmpty)
    val spark = LocalSession()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    // NonFatal only, and a nonzero exit when any capture failed: a tool
    // that swallows OOM/linkage errors and exits 0 with zero plans
    // written defeats its own deliverable (ADVICE r17)
    var failed = 0
    names.foreach { name =>
      try {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
        println(s"[plans] wrote $outDir/${name}_$suffix.txt")
      } catch { case scala.util.control.NonFatal(e) =>
        failed += 1
        System.err.println(s"[plans] $name failed: ${e.getMessage}")
      }
      spark.catalog.clearCache()
    }
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
