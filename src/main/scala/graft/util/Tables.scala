package graft.util

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Table loaders, the metadata and writes of maintained tables, plus
  * oracle-safe money arithmetic.
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

  /** Replace every row of the managed table `tbl` by `rows`. The one
    * in-place rewrite path of a stored table, with [[replacePartitions]]:
    * the table stays, and so do its properties (the [[pinnedMaxDocId]]
    * pin among them) and its partition and bucket spec; only a
    * materialize drops a table. `rows` may read `tbl`: they are staged
    * before any old file goes (see [[rewrite]]).
    */
  def replace(spark: SparkSession, tbl: String, rows: DataFrame): Unit =
    rewrite(spark, tbl, rows, SaveMode.Overwrite)(())

  /** Replace the partitions `partCol = v` (v in `values`) of the
    * managed table `tbl` by `rows`, which may also land in partitions
    * not named (they are appended). Every other partition's files stay
    * as they are. With no `values` there is nothing to replace and the
    * call does nothing.
    */
  def replacePartitions(spark: SparkSession, tbl: String, partCol: String,
      values: Seq[Any], rows: DataFrame): Unit =
    if (values.nonEmpty)
      rewrite(spark, tbl, rows, SaveMode.Append)(spark.sql(
        s"ALTER TABLE $tbl DROP IF EXISTS " + values.map(v =>
          s"PARTITION ($partCol = '${v.toString.replace("'", "\\'")}')")
          .mkString(", ")))

  /** Align `rows` to the table's column order, write them to
    * `<warehouse>/_graft_staging/<tbl>_<uuid>`, run `removeOld`, insert
    * the staged rows (`mode` Overwrite removes the table's old rows in
    * the same command, under the default static partition-overwrite
    * mode), then delete the stage. The new rows are on durable storage
    * before any old file is deleted: an executor lost in between loses
    * no replacement row, and a rewrite that dies after the removal
    * leaves them at the stage path. A bucketed table gets its rows
    * clustered by the catalog's own bucket spec, one task per bucket,
    * so a rewrite writes one file per (partition, bucket). The drop and
    * the insert go through the catalog, which keeps its partitions and
    * this session's relation cache current: no refresh is needed.
    */
  private def rewrite(spark: SparkSession, tbl: String, rows: DataFrame,
      mode: SaveMode)(removeOld: => Unit): Unit = {
    val aligned =
      rows.select(spark.table(tbl).columns.map(col).toIndexedSeq: _*)
    val stage = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"),
      s"_graft_staging/${tbl}_${java.util.UUID.randomUUID}")
    aligned.write.format("parquet").save(stage.toString)
    val staged = spark.read.schema(aligned.schema).parquet(stage.toString)
    removeOld
    GraftBridge.bucketSpec(spark, tbl)
      .fold(staged) { case (n, by) => staged.repartition(n, by.map(col): _*) }
      .write.mode(mode).insertInto(tbl)
    stage.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(stage, true)
  }

  /** The exactly-once watermark of a maintained doc table: the highest
    * doc_id its tier ever applied, kept as the table property
    * `graft.maxDocId`, so it lives and dies with the table. It is
    * HISTORICAL: a takedown never lowers it, so a redelivered batch
    * cannot bring a deleted doc back, and an id reused after deletion
    * is not fresh. Every materialize path pins it (Long.MinValue for an
    * empty relation); a table without the pin was not written by this
    * code, and what it already holds cannot be told: this throws.
    */
  def pinnedMaxDocId(spark: SparkSession, tbl: String): Long =
    maxDocIdProperty(spark, tbl).getOrElse(throw new IllegalStateException(
      s"$tbl has no graft.maxDocId property: it was not materialized by " +
        "this code; rebuild it"))

  /** Raise the [[pinnedMaxDocId]] watermark of `tbl` to `v`; a lower `v`
    * leaves it as it is. */
  def pinMaxDocId(spark: SparkSession, tbl: String, v: Long): Unit =
    if (maxDocIdProperty(spark, tbl).forall(_ < v))
      spark.sql(s"ALTER TABLE $tbl SET TBLPROPERTIES('graft.maxDocId'='$v')")

  private def maxDocIdProperty(spark: SparkSession, tbl: String): Option[Long] =
    spark.sql(s"SHOW TBLPROPERTIES $tbl ('graft.maxDocId')")
      .collect().headOption.map(_.getString(1))
      .filter(s => s.nonEmpty && s.forall(c => c.isDigit || c == '-'))
      .map(_.toLong)

  /** The largest `doc_id` of `df`, Long.MinValue when it is empty: what a
    * materialize path pins. */
  def maxDocId(df: DataFrame): Long = {
    val r = df.agg(max(col("doc_id"))).head()
    if (r.isNullAt(0)) Long.MinValue else r.getLong(0)
  }

  /** Add the distinct `key` values of `ids` to the presence set `tbl`
    * (a tombstone table), skipping those it holds already, so a
    * redelivered batch adds nothing. The set is created only from a
    * non-empty batch: an empty set that exists would read as pending
    * work to the tier that folds it.
    */
  def appendAbsent(spark: SparkSession, tbl: String, ids: DataFrame,
      key: String): Unit = {
    val distinctIds = ids.select(col(key)).distinct()
    if (spark.catalog.tableExists(tbl))
      distinctIds.join(spark.table(tbl), Seq(key), "left_anti")
        .write.mode(SaveMode.Append).format("parquet").saveAsTable(tbl)
    else if (!ids.isEmpty)
      distinctIds.write.mode(SaveMode.Append).format("parquet").saveAsTable(tbl)
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
