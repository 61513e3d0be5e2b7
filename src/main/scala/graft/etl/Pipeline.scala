package graft.etl

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.gen.SalesGen
import graft.model.Sales._
import graft.util.Tables
import graft.util.Tables.{money, moneyAvg, moneySum}

/** Medallion bronze→silver→gold pipeline (SURVEY §2.14). Reproduces the
  * reference's composite semantics — C1 daily run, C2 quality suite, C3
  * monitoring, C4 KPI snapshot — with pinned schemas and seeded data.
  * Storage is parquet `saveAsTable` in the session catalog (Delta is only
  * a storage format in the reference; its API surface there is just
  * overwrite/append/mergeSchema, SURVEY §1.4).
  */
object Pipeline {

  // ---- Bronze: raw ingestion, no transforms (ref 01:105-123, 03:88-91) ----

  def writeBronze(df: DataFrame, mode: SaveMode): Unit =
    df.write.mode(mode).format("parquet").saveAsTable(bronzeTable)

  /** Incremental id high-watermark (ref 03:31-35). */
  def maxOrderId(spark: SparkSession): Int =
    spark.table(bronzeTable)
      .agg(max(expr("CAST(SUBSTRING(order_id, 5) AS INT)")))
      .first().getInt(0)

  // ---- Silver: typed layer, no rows dropped (ref 01:159-208, 03:96-99) ----

  /** to_date(dd-MM-yyyy) + total_amount = round(quantity*price, 2). The
    * reference recomputes silver from ALL of bronze on every run (C1); kept
    * as the fidelity path. `silverIncrement` is the 100 TB path: transform
    * only the new batch and append — identical result by the no-drop
    * row-wise property (SURVEY §7.5).
    */
  def silverTransform(bronze: DataFrame): DataFrame =
    bronze
      .withColumn("order_date", to_date(col("order_date"), "dd-MM-yyyy"))
      .withColumn("total_amount",
        round(money(col("quantity") * col("price")), 2).cast("double"))

  def rebuildSilver(spark: SparkSession): Long = {
    val silver = silverTransform(spark.table(bronzeTable))
    silver.write.mode(SaveMode.Overwrite).format("parquet").saveAsTable(silverTable)
    spark.table(silverTable).count()
  }

  def silverIncrement(spark: SparkSession, newBatch: DataFrame): Unit =
    silverTransform(newBatch).write.mode(SaveMode.Append)
      .format("parquet").saveAsTable(silverTable)

  /** 100 TB-tier silver layout: partitioned by order_date so daily queries
    * prune to one partition directory (SCALE.md). The reference writes an
    * unpartitioned snapshot (kept as the fidelity path above); this is the
    * layout a real deployment uses — PlanSpec asserts the pruning.
    */
  def rebuildSilverPartitioned(spark: SparkSession, table: String = s"${silverTable}_bydate"): Unit =
    silverTransform(spark.table(bronzeTable))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("order_date")
      .format("parquet").saveAsTable(table)

  /** Partition overwrite — the idempotent daily-reprocess primitive at
    * 100 TB: replace ONLY the date partitions present in `batch`,
    * leaving every other partition's files untouched (a plain overwrite
    * would truncate the whole table). Re-running the same batch is a
    * no-op on the rest of the table, so a failed day can be replayed
    * forever without touching history. PipelineSpec pins both
    * properties (untouched partitions survive byte-identically; replay
    * is idempotent). The batch's distinct dates are collected to the
    * driver: one value per day the batch covers.
    */
  def overwriteDayPartitions(spark: SparkSession, batch: DataFrame,
      table: String = s"${silverTable}_bydate"): Unit =
    Tables.replacePartitions(spark, table, "order_date",
      batch.select(col("order_date")).distinct().collect().map(_.get(0)).toSeq,
      batch)

  // ---- Quality suite C2: report-only, never drops rows (ref 01:168-206) ----

  final case class QualityReport(
      rowCount: Long,
      nullCounts: Map[String, Long],
      duplicateOrderIds: Long,
      minAmount: Double,
      maxAmount: Double,
      avgAmount: Double,
      categoryCount: Long)

  /** The reference runs ~4 separate jobs for this (01:173, 01:189, 01:194,
    * 01:200); fused here into 2 passes (one wide agg + one dup-check agg).
    */
  def qualityReport(df: DataFrame): QualityReport = {
    val cols = df.columns.toSeq
    val aggs = Seq(
      min(col("total_amount")).as("_min"),
      max(col("total_amount")).as("_max"),
      moneyAvg(col("total_amount")).as("_avg"),
      countDistinct(col("category")).as("_cats")) ++
      cols.map(c => count(when(col(c).isNull, lit(1))).as(s"null_$c"))
    val wide = df.agg(count(lit(1)).as("_rows"), aggs: _*).first()
    val dups = df.groupBy("order_id").count().where(col("count") > 1).count()
    QualityReport(
      rowCount = wide.getAs[Long]("_rows"),
      nullCounts = cols.map(c => c -> wide.getAs[Long](s"null_$c")).toMap,
      duplicateOrderIds = dups,
      minAmount = wide.getAs[Double]("_min"),
      maxAmount = wide.getAs[Double]("_max"),
      avgAmount = wide.getAs[Double]("_avg"),
      categoryCount = wide.getAs[Long]("_cats"))
  }

  /** In-flight quality metrics via `Observation`: the SAME invariants the
    * C2 report computes, collected DURING another action's single pass
    * over the data instead of by a second scan. At 100 TB the quality
    * suite must not double the pipeline's IO — Observation attaches the
    * aggregates to the write/collect job already running, for free. The
    * caller runs ONE action on the returned frame (e.g. the silver
    * write), then reads `metrics`. PipelineSpec pins equality with the
    * two-pass qualityReport. (Duplicate-id detection needs its own
    * shuffle and stays in the C2 report — an observation is per-row
    * aggregation only.)
    */
  def observedQuality(df: DataFrame): (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation("graft_quality")
    val cols = df.columns.toSeq
    val aggs = Seq(
      count(lit(1)).as("_rows"),
      min(col("total_amount")).as("_min"),
      max(col("total_amount")).as("_max"),
      moneyAvg(col("total_amount")).as("_avg")) ++
      cols.map(c => count(when(col(c).isNull, lit(1))).as(s"null_$c"))
    (df.observe(obs, aggs.head, aggs.tail: _*), obs)
  }

  // ---- Gold: aggregates (ref 02:31-76, 03:103-127) ----

  /** Category/city analytics (ref 02:56, 02:63). Column name standardized on
    * `ordine_medio`, the later pipeline's name (SURVEY §7.5 rename drift).
    */
  def goldAnalytics(silver: DataFrame, key: String): DataFrame =
    silver.groupBy(col(key))
      .agg(count(lit(1)).as("ordini"),
        moneySum(col("total_amount")).as("fatturato"),
        moneyAvg(col("total_amount")).as("ordine_medio"),
        countDistinct(col("customer_id")).as("clienti_unici"))
      .orderBy(col("fatturato").desc, col(key))

  /** KPI snapshot C4 — single-pass agg + stack, not 4 collect() jobs
    * (ref 02:33-36; 100 TB posture per SURVEY §7.4).
    */
  def goldKpis(silver: DataFrame): DataFrame =
    silver.agg(
        moneySum(col("total_amount")).as("total_revenue"),
        count(lit(1)).cast("double").as("total_orders"),
        moneyAvg(col("total_amount")).as("avg_order_value"),
        countDistinct(col("customer_id")).cast("double").as("unique_customers"))
      .selectExpr("""stack(4,
        |  'total_revenue', total_revenue,
        |  'total_orders', total_orders,
        |  'avg_order_value', avg_order_value,
        |  'unique_customers', unique_customers) AS (metric, value)""".stripMargin)

  def rebuildGold(spark: SparkSession): Unit = {
    val silver = spark.table(silverTable)
    goldAnalytics(silver, "category").write.mode(SaveMode.Overwrite)
      .format("parquet").saveAsTable(goldCategoryTable)
    goldAnalytics(silver, "city").write.mode(SaveMode.Overwrite)
      .format("parquet").saveAsTable(goldCityTable)
    goldKpis(silver).write.mode(SaveMode.Overwrite)
      .format("parquet").saveAsTable(goldKpiTable)
  }

  // ---- Composite runs (ref 01 + 03) ----

  /** Initial load: bronze overwrite -> silver -> gold (notebook 01+02). */
  def initialLoad(spark: SparkSession, n: Int = 1000, seed: Long = 42L): Long = {
    writeBronze(SalesGen.initialBatch(spark, n, seed).toDF(), SaveMode.Overwrite)
    val silverCount = rebuildSilver(spark)
    rebuildGold(spark)
    silverCount
  }

  /** C1 daily_pipeline (ref 03:80-131): generate yesterday's batch with ids
    * continuing from the high-watermark -> bronze append -> silver full
    * recompute -> gold full recompute. Returns the silver row count.
    */
  def dailyRun(spark: SparkSession, day: LocalDate, n: Int = 15,
      seed: Long = 42L): Long = {
    val nextId = maxOrderId(spark) + 1
    val batch = SalesGen.dailyBatch(spark, day, nextId, n, seed).toDF()
    writeBronze(batch, SaveMode.Append)
    val silverCount = rebuildSilver(spark)
    rebuildGold(spark)
    silverCount
  }

  /** C3 pipeline_monitoring (ref 03:138-159): layer row counts + last-7
    * active days, as one DataFrame instead of driver-side prints.
    */
  def monitoring(spark: SparkSession): DataFrame = {
    val bronze = spark.table(bronzeTable)
    val silver = spark.table(silverTable)
    val counts = bronze.agg(count(lit(1)).cast("double").as("value"))
      .select(lit("bronze_rows").as("metric"), col("value"))
      .unionByName(silver.agg(count(lit(1)).cast("double").as("value"))
        .select(lit("silver_rows").as("metric"), col("value")))
    val last7 = silver.groupBy(col("order_date"))
      .agg(count(lit(1)).cast("double").as("value"))
      .orderBy(col("order_date").desc).limit(7)
      .select(concat(lit("day_"), date_format(col("order_date"), "yyyy-MM-dd")).as("metric"),
        col("value"))
    counts.unionByName(last7)
  }
}
