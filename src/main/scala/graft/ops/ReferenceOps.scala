package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.QueryDef
import graft.util.Tables._

/** The reference's complete operator surface (SURVEY.md §2), re-expressed
  * Spark-first over the driver test tables (role mapping FIXTURES.md §B.1).
  * Every query ends in a deterministic ORDER BY with a unique tiebreaker so
  * the DuckDB hash-compare is stable (SURVEY.md §7.3.3).
  */
object ReferenceOps {

  /** SURVEY §2.6 A5 — SQL text shared verbatim between spark.sql and the
    * DuckDB oracle (dialect-neutral subset). Mirrors `01:231-240`.
    */
  private val sqlAggText =
    s"""SELECT l_returnflag AS category, COUNT(*) AS ordini,
       |  ${sqlMoneySum(REV)} AS fatturato,
       |  ${sqlMoneyAvg(REV)} AS ordine_medio
       |FROM lineitem GROUP BY l_returnflag ORDER BY 3 DESC, 1""".stripMargin

  /** SURVEY §2.1 S3 — shared SQL table reference. */
  private val sqlRefText =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n
      |FROM lineitem GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // S1: local collection -> DataFrame with pinned schema (ref 01:107).
    QueryDef(
      "q01_local_ingest",
      Some("""SELECT * FROM (VALUES
        |  ('ORD_0001','CUST_001','Elettronica',2,CAST(199.99 AS DOUBLE),'Milano','Carta di credito'),
        |  ('ORD_0002','CUST_002','Abbigliamento',1,CAST(49.9 AS DOUBLE),'Roma','PayPal'),
        |  ('ORD_0003','CUST_001','Casa',3,CAST(15.5 AS DOUBLE),'Napoli','Contanti'),
        |  ('ORD_0004','CUST_003','Sport',4,CAST(89.0 AS DOUBLE),'Torino','Carta di credito'),
        |  ('ORD_0005','CUST_002','Libri',1,CAST(12.75 AS DOUBLE),'Bologna','PayPal')
        |) t(order_id, customer_id, category, quantity, price, city, payment_method)
        |ORDER BY order_id""".stripMargin),
      (spark, _) => {
        val rows = Seq(
          ("ORD_0001", "CUST_001", "Elettronica", 2, 199.99, "Milano", "Carta di credito"),
          ("ORD_0002", "CUST_002", "Abbigliamento", 1, 49.90, "Roma", "PayPal"),
          ("ORD_0003", "CUST_001", "Casa", 3, 15.50, "Napoli", "Contanti"),
          ("ORD_0004", "CUST_003", "Sport", 4, 89.00, "Torino", "Carta di credito"),
          ("ORD_0005", "CUST_002", "Libri", 1, 12.75, "Bologna", "PayPal"))
        import spark.implicits._
        rows.toDF("order_id", "customer_id", "category", "quantity", "price",
            "city", "payment_method")
          .orderBy("order_id")
      }),

    // S2: full managed-table scan (ref 01:161).
    QueryDef(
      "q02_table_scan",
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  CAST(o_orderdate AS DATE) AS o_date, o_orderpriority
        |FROM orders ORDER BY o_orderkey""".stripMargin),
      (spark, dir) =>
        t(spark, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            col("o_totalprice"), col("o_orderdate").cast("date").as("o_date"),
            col("o_orderpriority"))
          .orderBy("o_orderkey")),

    // S3: SQL table reference — identical SQL text runs in both engines.
    QueryDef(
      "q03_sql_ref",
      Some(sqlRefText),
      (spark, dir) => {
        withViews(spark, dir, "lineitem")
        spark.sql(sqlRefText)
      }),

    // S4: seeded synthetic generator (ref 01:33-76). RNG is JVM-side — not
    // recomputable in SQL but fully deterministic (seed 42), so the graded
    // oracle is a checked-in literal golden (resources/oracle/).
    QueryDef(
      "q04_datagen",
      literalOracle("q04_datagen"),
      (spark, _) =>
        graft.gen.SalesGen.initialBatch(spark, n = 1000, seed = 42L)
          .groupBy("category")
          .agg(count(lit(1)).as("n"), countDistinct(col("customer_id")).as("customers"))
          .orderBy("category")),

    // P2/F2/F3: derived column quantity*price -> round 2 (ref 01:163-164).
    QueryDef(
      "q05_derived_cols",
      Some("""SELECT l_orderkey, l_linenumber,
        |  CAST(ROUND(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4)), 2) AS DOUBLE) AS total_amount
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin),
      (spark, dir) =>
        t(spark, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            round(money(revenue), 2).cast("double").as("total_amount"))
          .orderBy("l_orderkey", "l_linenumber")),

    // P4/P7: string-predicate filter parsed by Catalyst (ref 01:189).
    QueryDef(
      "q06_filter_where",
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_discount
        |FROM lineitem WHERE l_quantity > 45 AND l_discount < 0.05
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),
      (spark, dir) =>
        t(spark, dir, "lineitem")
          .where("l_quantity > 45 AND l_discount < 0.05")
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
          .orderBy("l_orderkey", "l_linenumber")),

    // A7/P5/P6: one-pass per-column null counts (ref 01:173).
    QueryDef(
      "q07_null_counts",
      Some("""SELECT
        |  COUNT(CASE WHEN o_orderkey IS NULL THEN 1 END) AS o_orderkey,
        |  COUNT(CASE WHEN o_custkey IS NULL THEN 1 END) AS o_custkey,
        |  COUNT(CASE WHEN o_orderstatus IS NULL THEN 1 END) AS o_orderstatus,
        |  COUNT(CASE WHEN o_totalprice IS NULL THEN 1 END) AS o_totalprice,
        |  COUNT(CASE WHEN o_orderdate IS NULL THEN 1 END) AS o_orderdate,
        |  COUNT(CASE WHEN o_orderpriority IS NULL THEN 1 END) AS o_orderpriority
        |FROM orders""".stripMargin),
      (spark, dir) => {
        val o = t(spark, dir, "orders")
        o.select(o.columns.toSeq.map(c =>
          count(when(col(c).isNull, lit(1))).as(c)): _*)
      }),

    // P6/F7: when/otherwise bucketing.
    QueryDef(
      "q08_when_otherwise",
      Some("""SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
        |  WHEN o_totalprice < 200000 THEN 'medium' ELSE 'large' END AS bucket,
        |  COUNT(*) AS n
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin),
      (spark, dir) =>
        t(spark, dir, "orders")
          .select(when(col("o_totalprice") < 50000, "small")
            .when(col("o_totalprice") < 200000, "medium")
            .otherwise("large").as("bucket"))
          .groupBy("bucket").agg(count(lit(1)).as("n"))
          .orderBy("bucket")),

    // A3: the flagship gold aggregate (ref 02:56) — count / sum / avg /
    // countDistinct in one pass (partial+final HashAggregate + Expand).
    QueryDef(
      "q09_flagship_category",
      Some(s"""SELECT l_returnflag, COUNT(*) AS ordini,
        |  ${sqlMoneySum(REV)} AS fatturato,
        |  ${sqlMoneyAvg(REV)} AS ordine_medio,
        |  COUNT(DISTINCT l_orderkey) AS clienti_unici
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY fatturato DESC, l_returnflag""".stripMargin),
      (spark, dir) =>
        t(spark, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("ordini"),
            moneySum(revenue).as("fatturato"),
            moneyAvg(revenue).as("ordine_medio"),
            countDistinct(col("l_orderkey")).as("clienti_unici"))
          .orderBy(col("fatturato").desc, col("l_returnflag"))),

    // A3 over joins: city analytics via orders⋈customer⋈nation with
    // broadcast dims (ref 02:63; joins per SURVEY §2.5 extension note).
    QueryDef(
      "q10_city_analytics",
      Some(s"""SELECT n_name, COUNT(*) AS ordini,
        |  ${sqlMoneySum("o_totalprice")} AS fatturato,
        |  COUNT(DISTINCT o_custkey) AS clienti_unici
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY fatturato DESC, n_name""".stripMargin),
      (spark, dir) => {
        val o = t(spark, dir, "orders")
        val c = t(spark, dir, "customer")
        val n = t(spark, dir, "nation")
        o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(count(lit(1)).as("ordini"),
            moneySum(col("o_totalprice")).as("fatturato"),
            countDistinct(col("o_custkey")).as("clienti_unici"))
          .orderBy(col("fatturato").desc, col("n_name"))
      }),

    // A4: duplicate detection, report-only (ref 01:189-191).
    QueryDef(
      "q11_dup_detection",
      Some("""SELECT COUNT(*) AS dup_keys, CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS dup_rows
        |FROM (SELECT l_orderkey, COUNT(*) AS cnt FROM lineitem
        |      GROUP BY l_orderkey HAVING COUNT(*) > 1)""".stripMargin),
      (spark, dir) =>
        t(spark, dir, "lineitem")
          .groupBy("l_orderkey").agg(count(lit(1)).as("cnt"))
          .where(col("cnt") > 1)
          .agg(count(lit(1)).as("dup_keys"),
            coalesce(sum(col("cnt")), lit(0L)).as("dup_rows"))),

    // A5: SQL grouped aggregate, shared text (ref 01:231-240).
    QueryDef(
      "q12_sql_agg",
      Some(sqlAggText),
      (spark, dir) => {
        withViews(spark, dir, "lineitem")
        spark.sql(sqlAggText)
      }),

    // A6: distinct + count (ref 01:200, 02:36).
    QueryDef(
      "q13_distinct_count",
      Some("""SELECT COUNT(DISTINCT o_custkey) AS unique_customers,
        |  COUNT(DISTINCT o_orderstatus) AS unique_statuses,
        |  COUNT(DISTINCT o_orderpriority) AS unique_priorities
        |FROM orders""".stripMargin),
      (spark, dir) =>
        t(spark, dir, "orders")
          .agg(countDistinct(col("o_custkey")).as("unique_customers"),
            countDistinct(col("o_orderstatus")).as("unique_statuses"),
            countDistinct(col("o_orderpriority")).as("unique_priorities"))),

    // A2: min/max/avg range check (ref 01:194-196).
    QueryDef(
      "q14_minmax_range",
      Some(s"""SELECT MIN(o_totalprice) AS min_amount,
        |  MAX(o_totalprice) AS max_amount,
        |  ${sqlMoneyAvg("o_totalprice")} AS avg_amount
        |FROM orders""".stripMargin),
      (spark, dir) =>
        t(spark, dir, "orders")
          .agg(min(col("o_totalprice")).as("min_amount"),
            max(col("o_totalprice")).as("max_amount"),
            moneyAvg(col("o_totalprice")).as("avg_amount"))),

    // C4/A1: KPI snapshot — the reference runs 4 separate jobs (02:33-36);
    // here it is one single-pass agg unpivoted with stack() (100 TB posture,
    // SURVEY §7.4).
    QueryDef(
      "q15_kpi_summary",
      Some(s"""SELECT 'avg_order_value' AS metric, ${sqlMoneyAvg(REV)} AS value FROM lineitem
        |UNION ALL SELECT 'total_orders', CAST(COUNT(*) AS DOUBLE) FROM lineitem
        |UNION ALL SELECT 'total_revenue', ${sqlMoneySum(REV)} FROM lineitem
        |UNION ALL SELECT 'unique_customers', CAST(COUNT(DISTINCT l_orderkey) AS DOUBLE) FROM lineitem
        |ORDER BY metric""".stripMargin),
      (spark, dir) =>
        t(spark, dir, "lineitem")
          .agg(moneySum(revenue).as("total_revenue"),
            count(lit(1)).cast("double").as("total_orders"),
            moneyAvg(revenue).as("avg_order_value"),
            countDistinct(col("l_orderkey")).cast("double").as("unique_customers"))
          .selectExpr("""stack(4,
            |  'total_revenue', total_revenue,
            |  'total_orders', total_orders,
            |  'avg_order_value', avg_order_value,
            |  'unique_customers', unique_customers) AS (metric, value)""".stripMargin)
          .orderBy("metric")),

    // A8/F4/F5: high-watermark id via SUBSTRING + CAST (ref 03:31-33).
    QueryDef(
      "q16_high_watermark",
      Some("""SELECT MAX(CAST(SUBSTRING(order_id, 5) AS INT)) AS max_id
        |FROM (SELECT 'ORD_' || CAST(o_orderkey AS VARCHAR) AS order_id FROM orders)""".stripMargin),
      (spark, dir) =>
        t(spark, dir, "orders")
          .select(concat(lit("ORD_"), col("o_orderkey").cast("string")).as("order_id"))
          .agg(max(expr("CAST(SUBSTRING(order_id, 5) AS INT)")).as("max_id"))),

    // O2: last-7-active-days monitor, GROUP BY + ORDER BY DESC + LIMIT
    // (ref 03:147-153) -> TakeOrderedAndProject.
    QueryDef(
      "q17_last7_days",
      Some("""SELECT CAST(o_orderdate AS DATE) AS order_date, COUNT(*) AS n_orders
        |FROM orders GROUP BY 1 ORDER BY order_date DESC LIMIT 7""".stripMargin),
      (spark, dir) =>
        t(spark, dir, "orders")
          .groupBy(col("o_orderdate").cast("date").as("order_date"))
          .agg(count(lit(1)).as("n_orders"))
          .orderBy(col("order_date").desc)
          .limit(7)),

    // O1: top-k sort with unique tiebreaker (ref 02:56 orderBy desc).
    QueryDef(
      "q18_topk",
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin),
      (spark, dir) =>
        t(spark, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .limit(100)),

    // §2.9: append-as-union then full recompute (ref 03:88-99 semantics).
    QueryDef(
      "q19_append_union",
      Some("""SELECT o_orderstatus, COUNT(*) AS n FROM (
        |  SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'F'
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus <> 'F'
        |) GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
      (spark, dir) => {
        val o = t(spark, dir, "orders").select("o_orderkey", "o_orderstatus")
        val history = o.where(col("o_orderstatus") === "F")
        val arrived = o.where(col("o_orderstatus") =!= "F")
        history.unionByName(arrived)
          .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
          .orderBy("o_orderstatus")
      }),

    // K3: additive schema merge absorbing the fatturato_medio->ordine_medio
    // rename via unionByName(allowMissingColumns) (ref 03:123, SURVEY §7.5).
    QueryDef(
      "q20_schema_merge",
      Some("""SELECT o_orderkey, o_totalprice AS fatturato_medio, CAST(NULL AS DOUBLE) AS ordine_medio
        |FROM orders WHERE o_orderkey % 2 = 0
        |UNION ALL
        |SELECT o_orderkey, CAST(NULL AS DOUBLE), o_totalprice
        |FROM orders WHERE o_orderkey % 2 = 1
        |ORDER BY o_orderkey""".stripMargin),
      (spark, dir) => {
        val o = t(spark, dir, "orders")
        val oldSchema = o.where(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), col("o_totalprice").as("fatturato_medio"))
        val newSchema = o.where(col("o_orderkey") % 2 === 1)
          .select(col("o_orderkey"), col("o_totalprice").as("ordine_medio"))
        oldSchema.unionByName(newSchema, allowMissingColumns = true)
          .orderBy("o_orderkey")
      }),

    // F1: day-first string -> DateType via to_date (ref 01:163).
    QueryDef(
      "q21_to_date_parse",
      Some("""SELECT CAST(strptime(ds, '%d-%m-%Y') AS DATE) AS order_date, COUNT(*) AS n
        |FROM (SELECT strftime(o_orderdate, '%d-%m-%Y') AS ds FROM orders)
        |GROUP BY 1 ORDER BY order_date""".stripMargin),
      (spark, dir) =>
        t(spark, dir, "orders")
          .select(date_format(col("o_orderdate"), "dd-MM-yyyy").as("ds"))
          .select(to_date(col("ds"), "dd-MM-yyyy").as("order_date"))
          .groupBy("order_date").agg(count(lit(1)).as("n"))
          .orderBy("order_date")),

    // F8: year()/month() — imported-but-unused in the reference (01:26),
    // exercised here as intended date-dim surface.
    QueryDef(
      "q22_year_month",
      Some(s"""SELECT CAST(year(o_orderdate) AS INT) AS yr,
        |  CAST(month(o_orderdate) AS INT) AS mo,
        |  COUNT(*) AS n_orders, ${sqlMoneySum("o_totalprice")} AS revenue
        |FROM orders GROUP BY 1, 2 ORDER BY yr, mo""".stripMargin),
      (spark, dir) =>
        t(spark, dir, "orders")
          .groupBy(year(col("o_orderdate")).as("yr"),
            month(col("o_orderdate")).as("mo"))
          .agg(count(lit(1)).as("n_orders"),
            moneySum(col("o_totalprice")).as("revenue"))
          .orderBy("yr", "mo")),

    // O1 + window: ranking per group (rank surface for the rebuild).
    QueryDef(
      "q35_window_rank",
      Some("""SELECT o_custkey, rnk, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |  FROM orders)
        |WHERE rnk <= 3 ORDER BY o_custkey, rnk""".stripMargin),
      (spark, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        t(spark, dir, "orders")
          .withColumn("rnk", row_number().over(w))
          .where(col("rnk") <= 3)
          .select("o_custkey", "rnk", "o_orderkey", "o_totalprice")
          .orderBy("o_custkey", "rnk")
      }),

    // Grouping-sets surface: ROLLUP with coalesced keys (null-order-proof).
    QueryDef(
      "q36_rollup",
      Some(s"""SELECT COALESCE(l_returnflag, '(all)') AS returnflag,
        |  COALESCE(l_linestatus, '(all)') AS linestatus,
        |  COUNT(*) AS n, ${sqlMoneySum(REV)} AS revenue
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin),
      (spark, dir) =>
        t(spark, dir, "lineitem")
          .rollup(col("l_returnflag"), col("l_linestatus"))
          .agg(count(lit(1)).as("n"), moneySum(revenue).as("revenue"))
          .select(coalesce(col("l_returnflag"), lit("(all)")).as("returnflag"),
            coalesce(col("l_linestatus"), lit("(all)")).as("linestatus"),
            col("n"), col("revenue"))
          .orderBy("returnflag", "linestatus")),

    // Skew posture: two-stage salted aggregation — identical result to the
    // plain GROUP BY oracle, but partial sums spread across salted keys
    // (100 TB skew mitigation, SURVEY §7.4).
    QueryDef(
      "q39_salted_agg",
      Some(s"""SELECT l_suppkey, ${sqlMoneySum(REV)} AS revenue, COUNT(*) AS n_items
        |FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin),
      (spark, dir) =>
        t(spark, dir, "lineitem")
          .withColumn("salt", pmod(hash(col("l_orderkey"), col("l_linenumber")), lit(8)))
          .groupBy(col("l_suppkey"), col("salt"))
          .agg(sum(money(revenue)).as("part_rev"), count(lit(1)).as("part_n"))
          .groupBy(col("l_suppkey"))
          .agg(round(sum(col("part_rev")), 2).cast("double").as("revenue"),
            sum(col("part_n")).as("n_items"))
          .orderBy("l_suppkey")),

    // C3: monitoring snapshot — row counts + freshest-day volume in one
    // unioned metric table (ref 03:138-159).
    QueryDef(
      "q40_monitoring",
      Some("""SELECT 'lineitem_rows' AS metric, COUNT(*) AS value FROM lineitem
        |UNION ALL SELECT 'orders_rows', COUNT(*) FROM orders
        |UNION ALL SELECT 'latest_day_orders', COUNT(*) FROM orders
        |  WHERE CAST(o_orderdate AS DATE) = (SELECT MAX(CAST(o_orderdate AS DATE)) FROM orders)
        |ORDER BY metric""".stripMargin),
      (spark, dir) => {
        val o = t(spark, dir, "orders")
        val li = t(spark, dir, "lineitem")
        val liRows = li.agg(count(lit(1)).as("value"))
          .select(lit("lineitem_rows").as("metric"), col("value"))
        val oRows = o.agg(count(lit(1)).as("value"))
          .select(lit("orders_rows").as("metric"), col("value"))
        val latest = o.select(col("o_orderdate").cast("date").as("d"))
          .agg(max(col("d")).as("maxd"))
        val latestDay = o.join(broadcast(latest),
            o("o_orderdate").cast("date") === latest("maxd"))
          .agg(count(lit(1)).as("value"))
          .select(lit("latest_day_orders").as("metric"), col("value"))
        liRows.unionByName(oRows).unionByName(latestDay).orderBy("metric")
      }),

    // K1/K2: graded write-path roundtrip — the reference's most frequent op
    // is write.mode(...).saveAsTable (ref 01:122, 03:88-91). Phase 1 writes
    // the even-key aggregate with Overwrite, phase 2 appends the odd-key
    // aggregate, then the result is read back through the catalog and
    // re-aggregated — so the graded hash covers the parquet commit protocol
    // end-to-end. The oracle recomputes the same two-phase union directly.
    QueryDef(
      "q42_write_roundtrip",
      Some(s"""SELECT o_orderpriority, CAST(SUM(n_orders) AS BIGINT) AS n_orders,
        |  CAST(ROUND(SUM(CAST(revenue AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
        |FROM (
        |  SELECT o_orderpriority, COUNT(*) AS n_orders,
        |    ${sqlMoneySum("o_totalprice")} AS revenue
        |  FROM orders WHERE o_orderkey % 2 = 0 GROUP BY o_orderpriority
        |  UNION ALL
        |  SELECT o_orderpriority, COUNT(*), ${sqlMoneySum("o_totalprice")}
        |  FROM orders WHERE o_orderkey % 2 = 1 GROUP BY o_orderpriority
        |) GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
      (spark, dir) => {
        val o = t(spark, dir, "orders")
        def slice(parity: Int): DataFrame =
          o.where(col("o_orderkey") % 2 === parity)
            .groupBy("o_orderpriority")
            .agg(count(lit(1)).as("n_orders"),
              moneySum(col("o_totalprice")).as("revenue"))
        val tbl = "graft_q42_roundtrip"
        dropTable(spark, tbl)
        slice(0).write.mode(SaveMode.Overwrite).format("parquet").saveAsTable(tbl)
        slice(1).write.mode(SaveMode.Append).format("parquet").saveAsTable(tbl)
        // partial revenues sit on a 2dp grid -> decimal re-sum is exact
        spark.table(tbl)
          .groupBy("o_orderpriority")
          .agg(sum(col("n_orders")).as("n_orders"),
            round(sum(money(col("revenue"))), 2).cast("double").as("revenue"))
          .orderBy("o_orderpriority")
      }),

    // 100 TB-tier write layout, graded: q42 roundtrips an unpartitioned
    // table, but the scale posture (SCALE.md, Pipeline.rebuildSilverPartitioned)
    // is date-partitioned storage — so grade THAT: write orders partitioned
    // by year, read back through the catalog WITH a partition filter
    // (PlanSpec asserts the scan's PartitionFilters prune to one
    // directory), and aggregate. The oracle recomputes the same filtered
    // aggregate straight from the source table.
    QueryDef(
      "q55_partitioned_write",
      Some(s"""SELECT o_orderpriority, COUNT(*) AS n_orders,
        |  ${sqlMoneySum("o_totalprice")} AS revenue
        |FROM orders WHERE year(o_orderdate) = 1996
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
      (spark, dir) => {
        val tbl = "graft_q55_partitioned"
        dropTable(spark, tbl)
        t(spark, dir, "orders")
          .withColumn("o_year", year(col("o_orderdate")))
          .write.mode(SaveMode.Overwrite)
          .partitionBy("o_year")
          .format("parquet").saveAsTable(tbl)
        spark.table(tbl)
          .where(col("o_year") === 1996)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_orders"),
            moneySum(col("o_totalprice")).as("revenue"))
          .orderBy("o_orderpriority")
      }),

    // Scale tier of A6: approx_count_distinct (HLL) next to the exact
    // count. The sketch value is engine-side, so the oracle grades its
    // CONTRACT instead of a frozen golden: the exact count from plain
    // SQL, the sketch within the rsd-derived error envelope (q58's 4x
    // ~4-sigma bound), and — what the retired golden really pinned —
    // sketch DETERMINISM: HLL register merges are max() operations,
    // commutative and associative, so re-aggregating a
    // differently-partitioned copy must produce the bit-identical
    // estimate (the property that makes the sketch mergeable across
    // 1000 executors without a result that depends on task scheduling).
    QueryDef(
      "q41_approx_distinct",
      Some("""SELECT COUNT(DISTINCT o_custkey) AS exact_customers,
        |  CAST(1 AS INT) AS approx_within_bound,
        |  CAST(1 AS INT) AS sketch_merge_stable
        |FROM orders""".stripMargin),
      (spark, dir) => {
        val rsd = 0.02
        val o = t(spark, dir, "orders")
        val re = o.repartition(13, col("o_orderkey"))
          .agg(approx_count_distinct(col("o_custkey"), rsd).as("approx_re"))
        o.agg(countDistinct(col("o_custkey")).as("exact_customers"),
            approx_count_distinct(col("o_custkey"), rsd).as("approx"))
          .crossJoin(broadcast(re))
          .select(col("exact_customers"),
            (abs(col("approx") - col("exact_customers")) <=
              lit(4 * rsd) * col("exact_customers")).cast("int")
              .as("approx_within_bound"),
            (col("approx") === col("approx_re")).cast("int")
              .as("sketch_merge_stable"))
      }))
}
