package graft.util

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Table loaders plus oracle-safe money arithmetic.
  *
  * Money values in the test data sit on a 2-decimal grid but are stored
  * as doubles. A double SUM is partition-order dependent, so every money
  * aggregate goes through an exact DECIMAL(18,4) cast first:
  *   - the cast is unambiguous (the true value lies on a 4dp grid and the
  *     double is within ~1e-12 of it, far from any rounding boundary),
  *   - decimal sums are exact and order-independent,
  *   - the final ROUND(.., 2) + cast back to double is then bit-identical
  *     between Spark and the DuckDB oracle. See SURVEY.md §7.3.
  */
object Tables {

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Register every test table as a temp view so `spark.sql` text can be
    * shared verbatim with the DuckDB oracle.
    */
  def withViews(spark: SparkSession, dir: String, names: String*): Unit =
    names.foreach(n => t(spark, dir, n).createOrReplaceTempView(n))

  /** Drop a managed table and delete its warehouse location: a fresh
    * session's in-memory catalog may not know a table whose directory a
    * previous run left on disk, and an Overwrite cannot reclaim a
    * location the catalog never registered (LOCATION_ALREADY_EXISTS).
    */
  def dropTable(spark: SparkSession, tbl: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), tbl)
    loc.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(loc, true)
  }

  /** Exact money representation for aggregation. */
  def money(c: Column): Column = c.cast(DecimalType(18, 4))

  /** Order-independent SUM of a money expression, rounded 2dp, as double. */
  def moneySum(c: Column): Column = round(sum(money(c)), 2).cast("double")

  /** Order-independent AVG: exact decimal sum, then double division. */
  def moneyAvg(c: Column): Column =
    round(sum(money(c)).cast("double") / count(lit(1)), 2)

  /** lineitem net revenue (reference `quantity * price` stand-in,
    * FIXTURES.md §B.1).
    */
  val revenue: Column = col("l_extendedprice") * (lit(1.0) - col("l_discount"))

  /** Checked-in literal golden oracle (a VALUES query generated by
    * `graft.tools.OracleGen` from a vetted sf0.01 run) for deterministic
    * engine-side queries — seeded RNG, fixed hash families, seeded
    * hyperplanes/centroids, stub decode — whose semantics ANSI SQL cannot
    * recompute from the tables. A missing resource degrades to None (the
    * query is graded rows-only until its golden is generated) — but LOUDLY:
    * a lost resource must not silently weaken the correctness gate, so the
    * degradation warns on stderr and OracleGenSpec hard-fails when any name
    * in `OracleGen.targets` has no classpath resource.
    */
  def literalOracle(name: String): Option[String] = {
    val in = getClass.getResourceAsStream(s"/oracle/$name.sql")
    if (in == null) {
      System.err.println(
        s"[graft] WARNING: golden oracle resource /oracle/$name.sql is missing — " +
          s"$name degrades to rows-only grading. Regenerate with " +
          "`sbt \"runMain graft.tools.OracleGen /root/testdata/sf0.01\"`.")
      None
    } else
      try Some(new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
      finally in.close()
  }

  // ---- DuckDB oracle SQL fragments matching the helpers above ----
  val REV = "l_extendedprice * (1.0 - l_discount)"
  def sqlMoneySum(e: String): String =
    s"CAST(ROUND(SUM(CAST($e AS DECIMAL(18,4))), 2) AS DOUBLE)"
  def sqlMoneyAvg(e: String): String =
    s"ROUND(CAST(SUM(CAST($e AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 2)"
}
