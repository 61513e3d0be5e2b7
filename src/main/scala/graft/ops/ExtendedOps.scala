package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.util.Tables._

/** Coverage beyond the reference surface, all oracle-backed: semi-structured
  * JSON extraction, a fact-to-fact shuffle join (the plan class q10's
  * broadcast dims never exercise), and an as-of join composed from
  * built-ins (union + running `last` window) against DuckDB's native
  * ASOF JOIN.
  */
object ExtendedOps {

  private val tsFmt = "yyyy-MM-dd HH:mm:ss"

  val defs: Seq[QueryDef] = Seq(

    // JSON column extraction: get_json_object in Spark; the oracle parses
    // the same value via json_extract_string. Integer aggregates only.
    QueryDef(
      "q44_json_extract",
      Some("""SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(k) AS BIGINT) AS sum_k, MIN(k) AS min_k, MAX(k) AS max_k
        |FROM (SELECT event_type, CAST(json_extract_string(props, '$.k') AS INT) AS k
        |      FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin),
      (spark, dir) =>
        EventOps.events(spark, dir)
          .select(col("event_type"),
            get_json_object(col("props"), "$.k").cast("int").as("k"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
            min(col("k")).as("min_k"), max(col("k")).as("max_k"))
          .orderBy("event_type")),

    // Fact ⋈ fact: lineitem joins orders on the order key — too big to
    // broadcast, so Catalyst plans a shuffle (sort-merge/shuffled-hash)
    // join with AQE skew handling; aggregation after the join is the
    // classic TPC-H shape.
    QueryDef(
      "q45_fact_join",
      Some(s"""SELECT o_orderpriority, COUNT(*) AS n_items,
        |  ${sqlMoneySum(REV)} AS revenue,
        |  COUNT(DISTINCT o_orderkey) AS n_orders
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
      (spark, dir) => {
        val o = t(spark, dir, "orders")
        val li = t(spark, dir, "lineitem")
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_items"),
            moneySum(revenue).as("revenue"),
            countDistinct(col("o_orderkey")).as("n_orders"))
          .orderBy("o_orderpriority")
      }),

    // Explicitly SALTED large x large join: the manual skew weapon for
    // when one join key dominates (AQE's skew split only kicks in on
    // sort-merge joins past partition-size thresholds; salting works on
    // any plan shape and any skew ratio). Semantics identical to the
    // plain join, so the oracle is the plain SQL join.
    QueryDef(
      "q54_salted_join",
      Some(s"""SELECT o_orderpriority, l_returnflag, COUNT(*) AS n_items,
        |  COUNT(DISTINCT o_orderkey) AS n_orders,
        |  ${sqlMoneySum(REV)} AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority, l_returnflag
        |ORDER BY o_orderpriority, l_returnflag""".stripMargin),
      (spark, dir) =>
        saltedOrderJoin(t(spark, dir, "lineitem"), t(spark, dir, "orders"))
          .groupBy("o_orderpriority", "l_returnflag")
          .agg(count(lit(1)).as("n_items"),
            countDistinct(col("o_orderkey")).as("n_orders"),
            moneySum(revenue).as("revenue"))
          .orderBy("o_orderpriority", "l_returnflag")),

    // Row-level exact dedup via dropDuplicates == SELECT DISTINCT.
    QueryDef(
      "q50_distinct_rows",
      Some("""SELECT DISTINCT l_returnflag, l_linestatus, l_shipmode FROM (
        |  SELECT l_returnflag, l_linestatus,
        |    CASE WHEN l_quantity > 25 THEN 'BULK' ELSE 'SMALL' END AS l_shipmode
        |  FROM lineitem)
        |ORDER BY l_returnflag, l_linestatus, l_shipmode""".stripMargin),
      (spark, dir) =>
        t(spark, dir, "lineitem")
          .select(col("l_returnflag"), col("l_linestatus"),
            when(col("l_quantity") > 25, "BULK").otherwise("SMALL").as("l_shipmode"))
          .dropDuplicates()
          .orderBy("l_returnflag", "l_linestatus", "l_shipmode")),

    // Pivot: long->wide conditional aggregation. The oracle expresses the
    // same thing as COUNT(CASE ...) columns; Spark's pivot leaves NULL in
    // empty cells, so both sides coalesce to 0.
    QueryDef(
      "q48_pivot",
      Some("""SELECT l_linestatus,
        |  COUNT(CASE WHEN l_returnflag = 'A' THEN 1 END) AS A,
        |  COUNT(CASE WHEN l_returnflag = 'N' THEN 1 END) AS N,
        |  COUNT(CASE WHEN l_returnflag = 'R' THEN 1 END) AS R
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin),
      (spark, dir) =>
        t(spark, dir, "lineitem")
          .groupBy(col("l_linestatus"))
          .pivot("l_returnflag", Seq("A", "N", "R"))
          .agg(count(lit(1)))
          .select(col("l_linestatus"),
            coalesce(col("A"), lit(0L)).as("A"),
            coalesce(col("N"), lit(0L)).as("N"),
            coalesce(col("R"), lit(0L)).as("R"))
          .orderBy("l_linestatus")),

    // Exact median / quantiles: Spark's percentile() and DuckDB's
    // quantile_cont both linearly interpolate, and the inputs sit on a
    // 2dp grid, so the interpolated doubles agree bitwise.
    QueryDef(
      "q49_median",
      Some("""SELECT o_orderpriority,
        |  quantile_cont(o_totalprice, 0.5) AS median_price,
        |  quantile_cont(o_totalprice, 0.9) AS p90_price,
        |  COUNT(*) AS n
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
      (spark, dir) =>
        t(spark, dir, "orders")
          .groupBy(col("o_orderpriority"))
          .agg(expr("percentile(o_totalprice, 0.5)").as("median_price"),
            expr("percentile(o_totalprice, 0.9)").as("p90_price"),
            count(lit(1)).as("n"))
          .orderBy("o_orderpriority")),

    // As-of join (operator Spark lacks): for every click, the latest
    // purchase by the same user at-or-before its timestamp. Composed from
    // built-ins per the custom-operator preference order — union the two
    // event sets, run a running `last(purchase_ts, ignoreNulls)` window
    // ordered (ts, purchase-first) per user, keep the click rows. One
    // shuffle on user_id; no join at all. Oracle: DuckDB's native ASOF.
    QueryDef(
      "q46_asof_join",
      Some("""WITH clicks AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |purchases AS (
        |  SELECT user_id, ts FROM events WHERE event_type = 'purchase')
        |SELECT c.event_id, c.user_id,
        |  strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
        |  strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS last_purchase
        |FROM clicks c ASOF LEFT JOIN purchases p
        |  ON c.user_id = p.user_id AND p.ts <= c.ts
        |ORDER BY c.event_id""".stripMargin),
      (spark, dir) => {
        val ev = EventOps.events(spark, dir)
        val clicks = ev.where(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("ts"), lit(1).as("is_click"))
        val purchases = ev.where(col("event_type") === "purchase")
          .select(lit(null).cast("long").as("event_id"), col("user_id"),
            col("ts"), lit(0).as("is_click"))
        // purchase sorts before click at an equal timestamp => "at or before"
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").asc, col("is_click").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        clicks.unionByName(purchases)
          .withColumn("last_purchase_ts",
            last(when(col("is_click") === 0, col("ts")), ignoreNulls = true).over(w))
          .where(col("is_click") === 1)
          .select(col("event_id"), col("user_id"),
            date_format(col("ts"), tsFmt).as("click_ts"),
            date_format(col("last_purchase_ts"), tsFmt).as("last_purchase"))
          .orderBy("event_id")
      }),

    // Range (interval) join — the second operator Spark lacks a native
    // plan for (after as-of): clicks attracted by each purchase within the
    // following hour. Spark would execute the naive form as an equi-join
    // on user_id with the time range as a post-join filter, which degrades
    // to a per-user cross product on hot users. The scale shape BUCKETIZES
    // time instead (see [[bucketedRangeCount]]); output is exactly the
    // plain inequality join's, so the oracle is the naive SQL.
    QueryDef(
      "q60_range_join",
      Some("""WITH purchases AS (
        |  SELECT event_id AS purchase_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |clicks AS (
        |  SELECT user_id, ts FROM events WHERE event_type = 'click')
        |SELECT p.purchase_id, p.user_id,
        |  CAST(COUNT(c.ts) AS BIGINT) AS clicks_1h
        |FROM purchases p LEFT JOIN clicks c
        |  ON c.user_id = p.user_id AND c.ts > p.ts AND c.ts <= p.ts + INTERVAL 1 HOUR
        |GROUP BY p.purchase_id, p.user_id
        |ORDER BY p.purchase_id""".stripMargin),
      (spark, dir) => {
        val ev = EventOps.events(spark, dir)
        val clicks = ev.where(col("event_type") === "click")
          .select(col("user_id"), col("ts"))
        val purchases = ev.where(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
        bucketedRangeCount(purchases, clicks, windowMicros = 3600000000L)
      }),

    // Bucketed co-located join: both fact sides are rewritten ONCE as
    // bucketBy(8, join-key) sortBy(join-key) managed tables; every
    // subsequent join on that key reads bucket i against bucket i
    // directly — no shuffle exchange on either side (PlanSpec asserts).
    // At 100 TB this converts a nightly fact-to-fact join from the
    // cluster's biggest shuffle into a bucket-local merge: the exchange
    // is paid once at write time and amortized over every downstream
    // join/agg on the key. Results are the plain join's, so the oracle
    // is the plain SQL.
    QueryDef(
      "q62_bucketed_join",
      Some(s"""SELECT o_orderpriority, l_returnflag, COUNT(*) AS n_items,
        |  ${sqlMoneySum(REV)} AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority, l_returnflag
        |ORDER BY o_orderpriority, l_returnflag""".stripMargin),
      (spark, dir) => {
        val (liB, oB) = bucketedFacts(spark, dir)
        liB.join(oB.hint("merge"), liB("l_orderkey") === oB("o_orderkey"))
          .groupBy("o_orderpriority", "l_returnflag")
          .agg(count(lit(1)).as("n_items"), moneySum(revenue).as("revenue"))
          .orderBy("o_orderpriority", "l_returnflag")
      }),

    // Dynamic partition pruning + bucket co-location — the complete
    // nightly-join shape of the 100 TB posture (SCALE.md): the fact table
    // is stored partitioned by o_year AND bucketed by the join key; a
    // dimension whose year set is computed at RUNTIME (from the lineitem
    // ship calendar — 1999-02-01 is mid-year, so no static filter on the
    // fact could express it) selects which partition directories to read,
    // and Catalyst prunes the fact scan via a dynamicpruning subquery
    // hung off the dim's broadcast exchange; the subsequent orderkey join
    // reads bucket i against bucket i with no shuffle on either side.
    // PlanSpec asserts both plan properties (the DPP partition filter and
    // the exchange-free join); the oracle recomputes the same join from
    // the source tables, so correctness covers the partitioned+bucketed
    // write/read roundtrip end-to-end.
    QueryDef(
      "q103_dpp_join",
      Some(s"""WITH dim AS (SELECT DISTINCT year(l_shipdate) AS o_year
        |  FROM lineitem WHERE l_returnflag = 'R' AND l_quantity >= 49
        |    AND l_shipdate >= TIMESTAMP '1999-02-01 00:00:00'),
        |f AS (SELECT o_orderkey, o_orderpriority, year(o_orderdate) AS o_year
        |  FROM orders)
        |SELECT o_orderpriority, COUNT(*) AS n_items,
        |  ${sqlMoneySum(REV)} AS revenue
        |FROM f JOIN dim USING (o_year)
        |JOIN lineitem ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
      (spark, dir) => {
        val (fact, line) = dppFacts(spark, dir)
        val dim = t(spark, dir, "lineitem")
          .where(col("l_returnflag") === "R" && col("l_quantity") >= 49 &&
            col("l_shipdate") >= lit("1999-02-01 00:00:00").cast("timestamp"))
          .select(year(col("l_shipdate")).as("o_year")).distinct()
        fact.join(broadcast(dim), Seq("o_year"))
          .join(line.hint("merge"), col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_items"), moneySum(revenue).as("revenue"))
          .orderBy("o_orderpriority")
      }),

    // Semi/anti join: per nation, customers WITH vs WITHOUT a recent
    // order (left_semi / left_anti — the existence-join plan class no
    // other graded query exercises; Spark never materializes the match).
    // Oracle: per-row EXISTS. Scale: the probe side filters to the recent
    // window before the join, so the existence check joins against a
    // date-pruned slice, not order history; both joins shuffle on
    // c_custkey only (AQE picks broadcast when the slice is small).
    QueryDef(
      "q68_semi_anti_join",
      Some("""SELECT n_name,
        |  CAST(COUNT(*) AS BIGINT) AS n_customers,
        |  CAST(SUM(CASE WHEN has_o THEN 1 ELSE 0 END) AS BIGINT) AS with_recent_order,
        |  CAST(SUM(CASE WHEN has_o THEN 0 ELSE 1 END) AS BIGINT) AS without_recent_order
        |FROM (SELECT c.c_custkey, n.n_name,
        |        EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |                AND o.o_orderdate >= TIMESTAMP '2001-06-01 00:00:00') AS has_o
        |      FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey)
        |GROUP BY n_name ORDER BY n_name""".stripMargin),
      (spark, dir) => {
        val cust = t(spark, dir, "customer")
          .join(broadcast(t(spark, dir, "nation")),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"), col("n_name"))
        val recent = t(spark, dir, "orders")
          .where(col("o_orderdate") >= lit("2001-06-01 00:00:00").cast("timestamp"))
          .select(col("o_custkey").as("c_custkey"))
        val withO = cust.join(recent, Seq("c_custkey"), "left_semi")
          .groupBy("n_name").agg(count(lit(1)).as("with_recent_order"))
        val withoutO = cust.join(recent, Seq("c_custkey"), "left_anti")
          .groupBy("n_name").agg(count(lit(1)).as("without_recent_order"))
        cust.groupBy("n_name").agg(count(lit(1)).as("n_customers"))
          .join(withO, Seq("n_name"), "left")
          .join(withoutO, Seq("n_name"), "left")
          .select(col("n_name"), col("n_customers"),
            coalesce(col("with_recent_order"), lit(0L)).as("with_recent_order"),
            coalesce(col("without_recent_order"), lit(0L)).as("without_recent_order"))
          .orderBy("n_name")
      }),

    // Set operators: INTERSECT / EXCEPT between the customer key sets of
    // two date halves — retained / churned / new customer segmentation.
    // Spark plans intersect/except as aggregate+join (never a driver-side
    // set); each input is a date-filtered distinct so the join keys are
    // 8-byte customer keys, not rows.
    QueryDef(
      "q69_set_ops",
      Some("""WITH h1 AS (SELECT DISTINCT o_custkey FROM orders
        |  WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'),
        |h2 AS (SELECT DISTINCT o_custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00')
        |SELECT segment, CAST(n AS BIGINT) AS n_customers FROM (
        |  SELECT 'churned' AS segment, COUNT(*) AS n FROM (SELECT * FROM h1 EXCEPT SELECT * FROM h2)
        |  UNION ALL
        |  SELECT 'new' AS segment, COUNT(*) AS n FROM (SELECT * FROM h2 EXCEPT SELECT * FROM h1)
        |  UNION ALL
        |  SELECT 'retained' AS segment, COUNT(*) AS n FROM (SELECT * FROM h1 INTERSECT SELECT * FROM h2)
        |) ORDER BY segment""".stripMargin),
      (spark, dir) => {
        val o = t(spark, dir, "orders")
        val cut = lit("1998-01-01 00:00:00").cast("timestamp")
        val h1 = o.where(col("o_orderdate") < cut).select("o_custkey").distinct()
        val h2 = o.where(col("o_orderdate") >= cut).select("o_custkey").distinct()
        def seg(name: String, df: org.apache.spark.sql.DataFrame) =
          df.agg(count(lit(1)).as("n_customers")).select(lit(name).as("segment"), col("n_customers"))
        seg("churned", h1.except(h2))
          .unionByName(seg("new", h2.except(h1)))
          .unionByName(seg("retained", h1.intersect(h2)))
          .orderBy("segment")
      }),

    // TPC-H Q3-shaped 3-way join + top-k: segment-filtered customers join
    // orders join lineitem, aggregate revenue per order, top 10. The scale
    // plan: both fact joins are co-keyed equi-joins (custkey, then
    // orderkey); the segment filter prunes the customer side BEFORE its
    // join (pushed to the scan); top-k plans as TakeOrderedAndProject —
    // per-partition heaps, never a global sort of the aggregate. Unique
    // orderkey tiebreak keeps the k-boundary deterministic under ties.
    QueryDef(
      "q85_shipping_priority",
      Some(s"""SELECT l_orderkey, ${sqlMoneySum(REV)} AS revenue,
        |  strftime(o_orderdate, '%Y-%m-%d') AS orderdate
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '2000-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '2000-01-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin),
      (spark, dir) => {
        val cut = lit("2000-01-01 00:00:00").cast("timestamp")
        t(spark, dir, "customer")
          .where(col("c_mktsegment") === "BUILDING")
          .select("c_custkey")
          .join(t(spark, dir, "orders").where(col("o_orderdate") < cut)
              .select(col("o_custkey").as("c_custkey"), col("o_orderkey"),
                col("o_orderdate")),
            Seq("c_custkey"))
          .join(t(spark, dir, "lineitem").where(col("l_shipdate") > cut)
              .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")),
            col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("l_orderkey"), col("o_orderdate"))
          .agg(moneySum(revenue).as("revenue"))
          .select(col("l_orderkey"), col("revenue"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"))
          .orderBy(col("revenue").desc, col("l_orderkey"))
          .limit(10)
      }),

    // TPC-H Q5-shaped 6-way join: revenue by nation where the customer and
    // the supplier share a nation, for one region and one year. The join
    // graph mixes both scale classes deliberately: nation/region/supplier
    // broadcast (dimension side — supplier is ~10 MB even at 100 TB scale
    // factors), while customer-orders and orders-lineitem shuffle on their
    // co-keys; the c_nationkey = s_nationkey condition rides the lineitem
    // join as a residual filter, never a separate join. Date + region
    // filters prune both fact inputs before any shuffle.
    QueryDef(
      "q86_local_supplier_volume",
      Some(s"""SELECT n_name, ${sqlMoneySum(REV)} AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'EUROPE'
        |  AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '2000-01-01 00:00:00'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin),
      (spark, dir) => {
        val nations = t(spark, dir, "nation")
          .join(t(spark, dir, "region").where(col("r_name") === "EUROPE"),
            col("n_regionkey") === col("r_regionkey"))
          .select(col("n_nationkey"), col("n_name"))
        val suppliers = t(spark, dir, "supplier")
          .join(broadcast(nations), col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
        t(spark, dir, "customer").select("c_custkey", "c_nationkey")
          .join(t(spark, dir, "orders")
              .where(col("o_orderdate") >= lit("1999-01-01 00:00:00").cast("timestamp") &&
                col("o_orderdate") < lit("2000-01-01 00:00:00").cast("timestamp"))
              .select(col("o_custkey").as("c_custkey"), col("o_orderkey")),
            Seq("c_custkey"))
          .join(t(spark, dir, "lineitem")
              .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"),
            col("o_orderkey") === col("l_orderkey"))
          .join(broadcast(suppliers),
            col("l_suppkey") === col("s_suppkey") &&
              col("c_nationkey") === col("s_nationkey"))
          .groupBy(col("n_name"))
          .agg(moneySum(revenue).as("revenue"))
          .orderBy(col("revenue").desc, col("n_name"))
      }),

    // Mergeable-sketch distinct counting (Datasketches HLL): per-group
    // sketches are built in one pass, then UNIONED — the pattern that
    // answers "distinct over any window" at 100 TB from stored per-day /
    // per-partition sketches without rescanning history (q41's
    // approx_count_distinct gives one number; this grades the merge
    // algebra itself). Customers appear under several priorities, so a
    // correct union must dedup ACROSS group sketches — a naive sum of
    // per-group estimates would overcount ~5x here. Graded q58-style:
    // exact count from plain SQL, the merged estimate bound-checked
    // engine-side (lgConfigK=12 ~ 1.6% rsd; 4x envelope).
    QueryDef(
      "q84_sketch_union_bound",
      Some("""SELECT COUNT(DISTINCT o_custkey) AS exact_customers,
        |  CAST(1 AS INT) AS merged_within_bound
        |FROM orders""".stripMargin),
      (spark, dir) => {
        val perGroup = t(spark, dir, "orders")
          .groupBy("o_orderpriority")
          .agg(expr("hll_sketch_agg(o_custkey, 12)").as("sk"))
        val merged = perGroup
          .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
        val exact = t(spark, dir, "orders")
          .agg(countDistinct(col("o_custkey")).as("exact_customers"))
        exact.crossJoin(broadcast(merged))
          .select(col("exact_customers"),
            (abs(col("est") - col("exact_customers")) <=
              lit(4 * 0.016) * col("exact_customers")).cast("int")
              .as("merged_within_bound"))
      }),

    // Ordered distinct string aggregation (LISTAGG/STRING_AGG semantics)
    // in the portable Spark-first form: collect_set partial-aggregates the
    // (tiny, domain-bounded) distinct set map-side, sort_array makes the
    // result order-deterministic under any partitioning, array_join
    // renders. The wire carries per-group distinct sets, never rows.
    QueryDef(
      "q82_string_agg",
      Some("""SELECT o_orderpriority,
        |  string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
      (spark, dir) =>
        t(spark, dir, "orders")
          .groupBy("o_orderpriority")
          .agg(array_join(sort_array(collect_set(col("o_orderstatus"))), ",")
              .as("statuses"),
            count(lit(1)).as("n"))
          .orderBy("o_orderpriority")),

    // approx_top_k: the mergeable heavy-hitters sketch — the single-pass
    // answer to "top terms over 100 TB" when the full (term, count)
    // groupBy would carry an unbounded vocabulary through the shuffle.
    // Graded exactly: the corpus vocabulary is far under the tracked-item
    // capacity, where the sketch's counts are exact by contract, and the
    // output re-sorts (count desc, term) so ties cannot float. At real
    // vocabulary scales the same plan degrades gracefully to approximate
    // heavy hitters; the capacity is the knob.
    QueryDef(
      "q83_approx_top_terms",
      Some("""SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt
        |FROM (SELECT unnest(string_split(text, ' ')) AS term
        |      FROM documents WHERE text IS NOT NULL)
        |GROUP BY term ORDER BY cnt DESC, term""".stripMargin),
      (spark, dir) =>
        t(spark, dir, "documents")
          .where(col("text").isNotNull)
          .select(explode(split(col("text"), " ")).as("term"))
          .agg(expr("approx_top_k(term, 10000, 10000)").as("tk"))
          .select(explode(col("tk")).as("e"))
          .select(col("e.item").as("term"), col("e.count").as("cnt"))
          .orderBy(col("cnt").desc, col("term"))),

    // Distribution window functions (q35 grades rank/row_number; this
    // grades the rest of the family): ntile / percent_rank / cume_dist /
    // lead over a UNIQUE order key, so every function is deterministic —
    // percent_rank and cume_dist are integer-ratio divisions ((r-1)/(n-1),
    // c/n) that both engines evaluate identically in double. Input is the
    // date-pruned recent slice, and the window partitions by priority, so
    // the sort is per-partition and bounded — never a global unpartitioned
    // window over the fact table.
    QueryDef(
      "q81_window_suite",
      Some("""SELECT o_orderpriority, o_orderkey,
        |  CAST(ntile(4) OVER w AS INT) AS quartile,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cume,
        |  lead(o_orderkey) OVER w AS next_key
        |FROM orders WHERE o_orderdate >= TIMESTAMP '2001-06-01 00:00:00'
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderkey)
        |ORDER BY o_orderpriority, o_orderkey""".stripMargin),
      (spark, dir) => {
        val w = Window.partitionBy("o_orderpriority").orderBy("o_orderkey")
        t(spark, dir, "orders")
          .where(col("o_orderdate") >= lit("2001-06-01 00:00:00").cast("timestamp"))
          .select(col("o_orderpriority"), col("o_orderkey"),
            ntile(4).over(w).as("quartile"),
            percent_rank().over(w).as("pct_rank"),
            cume_dist().over(w).as("cume"),
            lead(col("o_orderkey"), 1).over(w).as("next_key"))
          .orderBy("o_orderpriority", "o_orderkey")
      }),

    // Column profiling in the TALL shape: stack each row into
    // (column_name, value-as-string) and run ONE two-level aggregate —
    // never a 2N-wide aggregate (Janino megamorphic blowup) and never N
    // countDistinct in one agg (a single Expand multiplies the scan N
    // ways; stacking does the same multiply but keeps the plan a plain
    // agg whose map-side combine collapses per-partition before the one
    // shuffle). String casts are per-type injective, so n_distinct equals
    // the native-type distinct count and the formatting never reaches the
    // output.
    QueryDef(
      "q79_profile",
      Some("""WITH u(column_name, v) AS (
        |  SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
        |  UNION ALL SELECT 'o_orderdate', CAST(o_orderdate AS VARCHAR) FROM orders
        |  UNION ALL SELECT 'o_orderkey', CAST(o_orderkey AS VARCHAR) FROM orders
        |  UNION ALL SELECT 'o_orderpriority', o_orderpriority FROM orders
        |  UNION ALL SELECT 'o_orderstatus', o_orderstatus FROM orders
        |  UNION ALL SELECT 'o_totalprice', CAST(o_totalprice AS VARCHAR) FROM orders)
        |SELECT column_name,
        |  CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
        |  CAST(COUNT(DISTINCT v) AS BIGINT) AS n_distinct
        |FROM u GROUP BY column_name ORDER BY column_name""".stripMargin),
      (spark, dir) => {
        val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
          "o_totalprice", "o_orderdate", "o_orderpriority")
        val args = cols.map(c => s"'$c', CAST($c AS STRING)").mkString(", ")
        t(spark, dir, "orders")
          .selectExpr(s"stack(${cols.length}, $args) AS (column_name, v)")
          .groupBy("column_name")
          .agg(coalesce(sum(col("v").isNull.cast("long")), lit(0L)).as("n_nulls"),
            countDistinct(col("v")).as("n_distinct"))
          .orderBy("column_name")
      }),

    // Arbitrary GROUPING SETS (rollup q36 and cube q71 are the fixed
    // special cases): the two single-column marginals in one pass via a
    // shared SQL text — one Expand x 2, one agg, one fact scan.
    QueryDef(
      "q80_grouping_sets",
      Some("""SELECT o_orderpriority, o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus))
        |ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST, n""".stripMargin),
      (spark, dir) => {
        withViews(spark, dir, "orders")
        spark.sql(
          """SELECT o_orderpriority, o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n
            |FROM orders
            |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus))
            |ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST, n""".stripMargin)
      }),

    // FULL OUTER join — the one outer-join class no other graded query
    // exercises: reconcile per-customer revenue between two date halves,
    // keeping customers present in either half. Both inputs are already
    // aggregated to one row per customer before the join, so the full
    // outer is a co-partitioned sort-merge on 8-byte keys (both sides
    // shuffle once on o_custkey), never a fact-table-wide outer.
    QueryDef(
      "q75_full_outer_reconcile",
      Some(s"""WITH h1 AS (SELECT o_custkey, ${sqlMoneySum("o_totalprice")} AS h1_rev
        |  FROM orders WHERE o_orderdate < TIMESTAMP '2001-06-01 00:00:00' GROUP BY 1),
        |h2 AS (SELECT o_custkey, ${sqlMoneySum("o_totalprice")} AS h2_rev
        |  FROM orders WHERE o_orderdate >= TIMESTAMP '2001-06-01 00:00:00' GROUP BY 1)
        |SELECT COALESCE(h1.o_custkey, h2.o_custkey) AS custkey, h1_rev, h2_rev,
        |  CASE WHEN h1_rev IS NOT NULL AND h2_rev IS NOT NULL THEN 'both'
        |       WHEN h1_rev IS NOT NULL THEN 'h1_only' ELSE 'h2_only' END AS status
        |FROM h1 FULL OUTER JOIN h2 ON h1.o_custkey = h2.o_custkey
        |ORDER BY custkey""".stripMargin),
      (spark, dir) => {
        val o = t(spark, dir, "orders")
        val cut = lit("2001-06-01 00:00:00").cast("timestamp")
        val h1 = o.where(col("o_orderdate") < cut)
          .groupBy("o_custkey").agg(moneySum(col("o_totalprice")).as("h1_rev"))
        val h2 = o.where(col("o_orderdate") >= cut)
          .groupBy("o_custkey").agg(moneySum(col("o_totalprice")).as("h2_rev"))
        h1.join(h2, Seq("o_custkey"), "full_outer")
          .select(col("o_custkey").as("custkey"), col("h1_rev"), col("h2_rev"),
            when(col("h1_rev").isNotNull && col("h2_rev").isNotNull, "both")
              .when(col("h1_rev").isNotNull, "h1_only")
              .otherwise("h2_only").as("status"))
          .orderBy("custkey")
      }),

    // CUBE: all 4 grouping-set combinations in one pass (q36 grades
    // ROLLUP's 3). Spark plans it as a single Expand + hash agg — the
    // fact table is scanned once regardless of grouping-set count.
    QueryDef(
      "q71_cube",
      Some("""SELECT o_orderpriority, o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n
        |FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus)
        |ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST, n""".stripMargin),
      (spark, dir) =>
        t(spark, dir, "orders")
          .cube(col("o_orderpriority"), col("o_orderstatus"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("o_orderpriority").asc_nulls_first,
            col("o_orderstatus").asc_nulls_first, col("n"))),

    // LAG window: day-over-day revenue delta over a bounded recent window.
    // The unpartitioned window is safe BECAUSE its input is the daily
    // aggregate (one row per day, bounded by the date range), never the
    // fact table — the aggregate runs distributed, only the tiny daily
    // frame passes through the single-partition window. Deltas go through
    // the decimal grid so both engines round identically.
    QueryDef(
      "q72_daily_delta",
      Some(s"""WITH daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day,
        |    ${sqlMoneySum("o_totalprice")} AS revenue
        |  FROM orders WHERE o_orderdate >= TIMESTAMP '2001-06-01 00:00:00' GROUP BY 1)
        |SELECT strftime(day, '%Y-%m-%d') AS day, revenue,
        |  LAG(revenue) OVER (ORDER BY day) AS prev_revenue,
        |  CAST(ROUND(CAST(revenue - COALESCE(LAG(revenue) OVER (ORDER BY day), 0)
        |    AS DECIMAL(18,4)), 2) AS DOUBLE) AS delta
        |FROM daily ORDER BY day""".stripMargin),
      (spark, dir) => {
        val w = Window.orderBy("day")
        t(spark, dir, "orders")
          .where(col("o_orderdate") >= lit("2001-06-01 00:00:00").cast("timestamp"))
          .groupBy(col("o_orderdate").cast("date").as("day"))
          .agg(moneySum(col("o_totalprice")).as("revenue"))
          .withColumn("prev_revenue", lag(col("revenue"), 1).over(w))
          .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
            col("revenue"), col("prev_revenue"),
            round((col("revenue") - coalesce(col("prev_revenue"), lit(0.0)))
              .cast("decimal(18,4)"), 2).cast("double").as("delta"))
          .orderBy("day")
      }),

    // Bloom-filter semi-join pruning: the scale weapon for the dim-side
    // regime BETWEEN broadcast and full shuffle. When the filtered dim
    // key set is too big to broadcast as rows (100M keys = GBs) but its
    // bloom filter is tiny (100M keys @1% fpp ~ 120 MB, linearly less at
    // smaller counts), shipping the filter to every fact task and
    // dropping ~99% of non-matching fact rows BEFORE the shuffle turns
    // the join's exchange from O(fact) to O(matches + 1% fpp). The exact
    // semi join afterwards kills the false positives, so the result is
    // bit-identical to the plain semi join — which is the oracle.
    QueryDef(
      "q112_bloom_prune",
      Some(s"""SELECT l_returnflag, COUNT(*) AS n_items,
        |  COUNT(DISTINCT l_orderkey) AS n_orders,
        |  ${sqlMoneySum(REV)} AS revenue
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders
        |                     WHERE o_orderpriority = '1-URGENT')
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
      (spark, dir) => {
        val keys = t(spark, dir, "orders")
          .where(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey"))
        bloomPrunedSemiJoin(t(spark, dir, "lineitem"), "l_orderkey", keys)
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n_items"),
            countDistinct(col("l_orderkey")).as("n_orders"),
            moneySum(revenue).as("revenue"))
          .orderBy("l_returnflag")
      }))

  /** Rewrites lineitem/orders as bucketed (8 x orderkey) sorted managed
    * tables and returns the read-back frames. The pre-write
    * `repartition(8, key)` uses the same hash family as the bucketing, so
    * every bucket lands in exactly ONE file — the layout that lets the
    * scan report sorted, co-partitioned output and the join skip both the
    * exchange and the sort.
    */
  def bucketedFacts(spark: org.apache.spark.sql.SparkSession,
      dir: String): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    def rewrite(name: String, src: org.apache.spark.sql.DataFrame,
        key: String): org.apache.spark.sql.DataFrame = {
      val tbl = s"graft_q62_${name}_bucketed"
      dropTable(spark, tbl)
      src.repartition(8, col(key))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .bucketBy(8, key).sortBy(key)
        .format("parquet").saveAsTable(tbl)
      spark.table(tbl)
    }
    // project to the columns the graded join reads before paying the
    // bucketed write: the layout (bucket pruning + exchange-free sorted
    // join) is what's graded, and a real warehouse writes its full-width
    // bucketed fact ONCE and amortizes it over every query — re-writing
    // all 16 lineitem columns per bench run would price that one-time cost
    // into every measurement
    (rewrite("lineitem", t(spark, dir, "lineitem")
        .select("l_orderkey", "l_returnflag", "l_extendedprice", "l_discount"),
        "l_orderkey"),
      rewrite("orders", t(spark, dir, "orders")
        .select("o_orderkey", "o_orderpriority"), "o_orderkey"))
  }

  /** The q103 storage layout: orders partitioned by o_year AND bucketed
    * (8 x o_orderkey); lineitem bucketed (8 x l_orderkey). Partitioning
    * serves runtime pruning (DPP picks year directories), bucketing
    * serves join co-location — one layout, both 100 TB levers. A bucket
    * then holds one file per year directory, so the scan still reports
    * HashPartitioning(o_orderkey, 8) (no exchange) but not sortedness —
    * the merge join re-sorts per bucket, which is the expected cost of
    * partitioned+bucketed storage. Projected to the graded columns before
    * the write, as [[bucketedFacts]] does and for the same amortization
    * reason.
    */
  def dppFacts(spark: org.apache.spark.sql.SparkSession,
      dir: String): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val factTbl = "graft_q103_fact"
    dropTable(spark, factTbl)
    t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"),
        year(col("o_orderdate")).as("o_year"))
      .repartition(8, col("o_orderkey"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("o_year")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .format("parquet").saveAsTable(factTbl)
    val lineTbl = "graft_q103_line"
    dropTable(spark, lineTbl)
    t(spark, dir, "lineitem")
      .select("l_orderkey", "l_extendedprice", "l_discount")
      .repartition(8, col("l_orderkey"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .format("parquet").saveAsTable(lineTbl)
    (spark.table(factTbl), spark.table(lineTbl))
  }

  /** Bucketized range join: for every purchase, count the clicks by the
    * same user with ts in (purchase_ts, purchase_ts + window]. Each click
    * lands in ONE fixed-width time bucket (width = the window length) and
    * each purchase interval explodes over the exactly-2 buckets it can
    * touch, so the join is a pure equi-join on (user_id, bucket) + a
    * precise range filter — candidate fan-out is bounded by bucket
    * occupancy (2x the click count in total), never by per-user row
    * counts, and no dedup is needed because a click's single bucket is
    * covered at most once per interval. Zero-click purchases are restored
    * by a left join against the (purchase-keyed, already aggregated)
    * counts. Semantics are EXACTLY the plain inequality join's.
    */
  def bucketedRangeCount(purchases: org.apache.spark.sql.DataFrame,
      clicks: org.apache.spark.sql.DataFrame,
      windowMicros: Long): org.apache.spark.sql.DataFrame = {
    val clickB = clicks.select(col("user_id"), col("ts").as("cts"),
      expr(s"unix_micros(ts) div ${windowMicros}L").as("bucket"))
    val intervals = purchases.select(col("purchase_id"), col("user_id"),
        col("ts").as("pts"),
        explode(expr(
          s"""sequence(unix_micros(ts) div ${windowMicros}L,
             |  (unix_micros(ts) + ${windowMicros}L) div ${windowMicros}L)""".stripMargin))
          .as("bucket"))
    val counts = intervals.join(clickB, Seq("user_id", "bucket"))
      .where(col("cts") > col("pts") &&
        expr(s"unix_micros(cts) <= unix_micros(pts) + ${windowMicros}L"))
      .groupBy("purchase_id")
      .agg(count(lit(1)).as("clicks_1h"))
    purchases.select("purchase_id", "user_id")
      .join(counts, Seq("purchase_id"), "left")
      .select(col("purchase_id"), col("user_id"),
        coalesce(col("clicks_1h"), lit(0L)).as("clicks_1h"))
      .orderBy("purchase_id")
  }

  /** lineitem ⋈ orders with an explicit `salt`-way key split: the probe
    * side's key is extended with a deterministic salt derived from the
    * whole row key (so rows of one hot order key spread over `salt`
    * reducers), and the build side is replicated once per salt value via
    * a small explode. Join output — and therefore any aggregate over
    * it — is EXACTLY the plain join's (the replicated side matches each
    * probe row exactly once), which is what lets DuckDB oracle the
    * salted plan with the unsalted SQL. Replication costs salt x
    * build-side rows, so pick salt ~ (hottest-key share x reducer
    * count), not thousands.
    */
  def saltedOrderJoin(li: org.apache.spark.sql.DataFrame,
      o: org.apache.spark.sql.DataFrame,
      salt: Int = 8): org.apache.spark.sql.DataFrame = {
    val liS = li.withColumn("salt",
      pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(salt.toLong)))
    val oS = o.withColumn("salt",
      explode(expr(s"sequence(0L, ${salt - 1}L)")))
    liS.join(oS,
      liS("l_orderkey") === oS("o_orderkey") && liS("salt") === oS("salt"))
      .drop("salt")
  }

  /** fact rows whose `factKey` appears in `keys` (single Long-typed key
    * column), via a bloom prefilter + exact semi join.
    *
    * Phase 1 builds the filter on the KEY side (`stat.bloomFilter` is a
    * distributed treeAggregate; only the filter bits — kilobytes to ~a
    * hundred MB, never rows — come to the driver, the same movement
    * pattern as a broadcast build). Phase 2 ships it to every fact task
    * and drops non-candidates map-side, BEFORE the shuffle; phase 3 is
    * the exact semi join over survivors (matches + ~fpp of the fact), so
    * false positives never reach the output. The might-contain probe is
    * a Scala UDF by necessity: Spark's own BloomFilterMightContain
    * expression is internal-only, and the sketch probe is a bit-mix +
    * two array reads per row — cheap enough that breaking codegen on the
    * prefilter costs less than the shuffle it removes. Null keys never
    * match (a null never equals a key in semi-join semantics).
    *
    * The extra `keys.count()` pass sizes the filter exactly; it scans
    * the (small) key side only — at 100 TB the fact side dominates by
    * orders of magnitude and is scanned once either way.
    */
  def bloomPrunedSemiJoin(fact: org.apache.spark.sql.DataFrame,
      factKey: String,
      keys: org.apache.spark.sql.DataFrame,
      fpp: Double = 0.01): org.apache.spark.sql.DataFrame = {
    val keyCol = keys.columns.head
    val expected = math.max(keys.count(), 64L)
    val bf = keys.stat.bloomFilter(keyCol, expected, fpp)
    val bcast = fact.sparkSession.sparkContext.broadcast(bf)
    val mightContain = udf((k: java.lang.Long) =>
      k != null && bcast.value.mightContainLong(k.longValue))
    fact.where(mightContain(col(factKey)))
      .join(keys.distinct().withColumnRenamed(keyCol, factKey),
        Seq(factKey), "left_semi")
  }
}
