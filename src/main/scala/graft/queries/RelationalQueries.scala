package graft
package queries

import org.apache.spark.sql.functions._

import graft.operators._

/** The declared queries of the relational core: TPC-H style joins and
  * aggregates, pivots, parsing and ETL: those whose closures call
  * [[graft.operators.Relational]]. Each record keeps its closure
  * beside the DuckDB oracle that must reproduce its rows.
  */
object RelationalQueries {

  val all: Seq[Query] = Seq(
    Query("q_agg_pushdown", (s, dir) =>
      Relational.pricingSummary(Tables.lineitem(s, dir)),
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
        |  CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate < TIMESTAMP '1998-12-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    Query("q_transform_project", (s, dir) =>
      Relational.projectTransform(Tables.events(s, dir)).orderBy("event_id"),
      """SELECT event_id, user_id AS ticker_id, event_type AS field,
        |  value AS px, strftime(ts, '%Y-%m-%d') AS px_date
        |FROM events ORDER BY event_id""".stripMargin),
    Query("q_validate_filter", (s, dir) =>
      Relational
        .validateFilter(Tables.eventsRange(s, dir, "2024-01-05", "2024-01-20"), Seq("click", "purchase"), "2024-01-05", "2024-01-20")
        .select(col("event_id"), col("user_id"), col("event_type"), unix_micros(col("ts")).as("ts_us"), col("value"))
        .orderBy("event_id"),
      """SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us, value
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-20'
        |  AND upper(event_type) IN ('CLICK', 'PURCHASE')
        |ORDER BY event_id""".stripMargin),
    Query("q_latest_per_key", (s, dir) =>
      Relational
        .latestPerKey(Tables.events(s, dir))
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_type"), col("value"))
        .orderBy("user_id"),
      """SELECT user_id, epoch_us(ts) AS ts_us, event_type, value
        |FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events
        |) WHERE rn = 1
        |ORDER BY user_id""".stripMargin),
    Query("q_dim_join", (s, dir) =>
      Relational
        .dimJoin(Tables.customer(s, dir), Tables.nation(s, dir), Tables.region(s, dir))
        .orderBy("region_name", "nation_name"),
      """SELECT r_name AS region_name, n_name AS nation_name,
        |  count(*) AS n_customers, CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY region_name, nation_name""".stripMargin),
    Query("q_multi_join_agg", (s, dir) =>
      Relational
        .revenueByNation(
          Tables.lineitem(s, dir), Tables.orders(s, dir),
          Tables.customer(s, dir), Tables.nation(s, dir), "BUILDING")
        .orderBy("nation_name"),
      """SELECT n_name AS nation_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY n_name
        |ORDER BY nation_name""".stripMargin),
    Query("q_shipping_priority", (s, dir) =>
      Relational
        .shippingPriority(
          Tables.customer(s, dir), Tables.orders(s, dir), Tables.lineitem(s, dir),
          "BUILDING", "1998-06-01", 10)
        .orderBy("rnk"),
      """WITH agg AS (
        |  SELECT l_orderkey,
        |    strftime(o_orderdate, '%Y-%m-%d') AS order_date, o_orderpriority,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  WHERE c_mktsegment = 'BUILDING'
        |    AND o_orderdate < TIMESTAMP '1998-06-01'
        |    AND l_shipdate > TIMESTAMP '1998-06-01'
        |  GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |)
        |SELECT l_orderkey, order_date, o_orderpriority, revenue,
        |  row_number() OVER (ORDER BY revenue DESC, l_orderkey ASC) AS rnk
        |FROM agg
        |QUALIFY rnk <= 10
        |ORDER BY rnk""".stripMargin),
    Query("q_large_volume_cust", (s, dir) =>
      Relational
        .largeVolumeCustomers(
          Tables.customer(s, dir), Tables.orders(s, dir), Tables.lineitem(s, dir), 300.0)
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc),
      """WITH big AS (
        |  SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 300
        |)
        |SELECT c_name, c_custkey, o_orderkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |  o_totalprice, CAST(qty AS DOUBLE) AS order_qty
        |FROM big
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey ASC""".stripMargin),
    Query("q_small_qty_revenue", (s, dir) =>
      Relational.smallQuantityRevenue(Tables.lineitem(s, dir), Tables.part(s, dir))
        .orderBy("brand"),
      """SELECT p.p_brand AS brand,
        |  CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly,
        |  count(*) AS n_lines
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE l.l_quantity < (
        |  SELECT CAST(0.2 AS DOUBLE) * avg(l2.l_quantity)
        |  FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
        |GROUP BY p.p_brand
        |ORDER BY brand""".stripMargin),
    Query("q_qualified_suppliers", (s, dir) =>
      Relational
        .qualifiedSuppliers(Tables.supplier(s, dir), Tables.part(s, dir), Tables.lineitem(s, dir))
        .orderBy("s_suppkey"),
      """SELECT s.s_suppkey, s.s_name, s.s_acctbal
        |FROM supplier s
        |WHERE EXISTS (
        |  SELECT 1 FROM lineitem l
        |  WHERE l.l_suppkey = s.s_suppkey
        |    AND l.l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'hot gear%')
        |    AND l.l_quantity > (
        |      SELECT CAST(1.8 AS DOUBLE) * avg(l2.l_quantity)
        |      FROM lineitem l2
        |      WHERE l2.l_partkey = l.l_partkey))
        |ORDER BY s_suppkey""".stripMargin),
    Query("q_min_cost_supplier", (s, dir) =>
      Relational
        .minCostSupplier(Tables.part(s, dir), Tables.supplier(s, dir),
          Tables.nation(s, dir), Tables.lineitem(s, dir))
        .orderBy("p_partkey", "s_suppkey"),
      """SELECT DISTINCT p.p_partkey, p.p_name, s.s_suppkey, s.s_name, n.n_name,
        |  round(l.l_extendedprice / l.l_quantity, 6) AS unit_cost
        |FROM part p
        |JOIN lineitem l ON l.l_partkey = p.p_partkey
        |JOIN supplier s ON s.s_suppkey = l.l_suppkey
        |JOIN nation n ON n.n_nationkey = s.s_nationkey
        |WHERE p.p_size <= 10 AND l.l_quantity > 0
        |  AND l.l_extendedprice / l.l_quantity = (
        |    SELECT min(l2.l_extendedprice / l2.l_quantity)
        |    FROM lineitem l2
        |    WHERE l2.l_partkey = p.p_partkey AND l2.l_quantity > 0)
        |ORDER BY p_partkey, s_suppkey""".stripMargin),
    Query("q_dormant_customers", (s, dir) =>
      Relational
        .dormantRichCustomers(Tables.customer(s, dir), Tables.orders(s, dir))
        .orderBy("segment"),
      """SELECT c.c_mktsegment AS segment,
        |  count(*) AS n_custs,
        |  CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM customer c
        |WHERE CAST(c.c_acctbal AS DECIMAL(18,2)) *
        |    (SELECT CAST(count(*) AS DECIMAL(12,0)) FROM customer WHERE c_acctbal > 0)
        |  > (SELECT sum(CAST(c_acctbal AS DECIMAL(18,2))) FROM customer WHERE c_acctbal > 0)
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |    WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000.0)
        |GROUP BY c.c_mktsegment
        |ORDER BY segment""".stripMargin),
    Query("q_ship_priority_classes", (s, dir) =>
      Relational
        .shipPriorityClasses(Tables.lineitem(s, dir), Tables.orders(s, dir),
          "1997-01-01", "1998-01-01")
        .orderBy("l_returnflag"),
      """SELECT l.l_returnflag,
        |  CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_count,
        |  CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_count
        |FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        |WHERE l.l_shipdate >= TIMESTAMP '1997-01-01' AND l.l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY l.l_returnflag
        |ORDER BY l_returnflag""".stripMargin),
    Query("q_promo_share", (s, dir) =>
      Relational
        .promoRevenueShare(Tables.lineitem(s, dir), Tables.part(s, dir),
          "1997-01-01", "1997-03-01")
        .withColumn("promo_share", round(col("promo_share"), 6)),
      """SELECT
        |  round(100.0 * CAST(coalesce(sum(CASE WHEN p.p_type = 'PROMO'
        |      THEN CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2))) END), 0) AS DOUBLE)
        |    / CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE), 6) AS promo_share,
        |  CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_revenue,
        |  count(*) AS n_lines
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE l.l_shipdate >= TIMESTAMP '1997-01-01' AND l.l_shipdate < TIMESTAMP '1997-03-01'""".stripMargin),
    Query("q_or_predicate_revenue", (s, dir) =>
      Relational.brandSizeQtyRevenue(Tables.lineitem(s, dir), Tables.part(s, dir)),
      """SELECT
        |  CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 1 AND 20)
        |   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30 AND l.l_quantity BETWEEN 10 AND 35)
        |   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 50 AND l.l_quantity BETWEEN 20 AND 50)""".stripMargin),
    Query("q_waiting_suppliers", (s, dir) =>
      Relational
        .waitingSuppliers(Tables.supplier(s, dir), Tables.lineitem(s, dir),
          Tables.orders(s, dir)),
      """SELECT s.s_name, count(*) AS numwait
        |FROM supplier s, lineitem l1, orders o
        |WHERE o.o_orderkey = l1.l_orderkey AND l1.l_suppkey = s.s_suppkey
        |  AND o.o_orderstatus = 'F'
        |  AND l1.l_shipdate > o.o_orderdate + INTERVAL 45 DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_shipdate > o.o_orderdate + INTERVAL 45 DAY)
        |GROUP BY s.s_name
        |ORDER BY numwait DESC, s_name ASC
        |LIMIT 20""".stripMargin),
    // bloom semi-join reduction as a checked twin: the oracle is the
    // PLAIN join+aggregate (no bloom anywhere) — no false negatives
    // means the reduction provably changes transport, not the answer
    Query("q_bloom_join", (s, dir) =>
      Relational
        .bloomFilteredJoin(
          Tables.lineitem(s, dir),
          Tables.orders(s, dir).filter(col("o_totalprice") > 450000.0),
          "l_orderkey", "o_orderkey")
        .groupBy(col("o_orderpriority"))
        .agg(
          sum(col("l_extendedprice").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast("double").as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy("o_orderpriority"),
      """SELECT o.o_orderpriority,
        |  CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_totalprice > 450000.0
        |GROUP BY o.o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin),
    Query("q_late_orders", (s, dir) =>
      Relational
        .latePriorityOrders(Tables.orders(s, dir), Tables.lineitem(s, dir),
          "1996-01-01", "1997-01-01", lateDays = 30)
        .orderBy("o_orderpriority"),
      """SELECT o.o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01' AND o.o_orderdate < TIMESTAMP '1997-01-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
        |GROUP BY o.o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin),
    Query("q_local_supplier_volume", (s, dir) =>
      Relational
        .localSupplierVolume(Tables.customer(s, dir), Tables.orders(s, dir),
          Tables.lineitem(s, dir), Tables.supplier(s, dir), Tables.nation(s, dir),
          Tables.region(s, dir), "ASIA", "1996-01-01", "1998-01-01")
        .orderBy("nation_name"),
      """SELECT n.n_name AS nation_name,
        |  CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |WHERE r.r_name = 'ASIA'
        |  AND o.o_orderdate >= TIMESTAMP '1996-01-01' AND o.o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n.n_name
        |ORDER BY nation_name""".stripMargin),
    Query("q_volume_shipping", (s, dir) =>
      Relational
        .volumeShipping(Tables.supplier(s, dir), Tables.lineitem(s, dir),
          Tables.orders(s, dir), Tables.customer(s, dir), Tables.nation(s, dir),
          "NATION_3", "NATION_5")
        .orderBy("supp_nation", "cust_nation", "ship_year"),
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  year(l.l_shipdate) AS ship_year,
        |  CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        |WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_5')
        |   OR (n1.n_name = 'NATION_5' AND n2.n_name = 'NATION_3')
        |GROUP BY 1, 2, 3
        |ORDER BY supp_nation, cust_nation, ship_year""".stripMargin),
    Query("q_market_share", (s, dir) =>
      Relational
        .marketShare(Tables.part(s, dir), Tables.supplier(s, dir), Tables.lineitem(s, dir),
          Tables.orders(s, dir), Tables.customer(s, dir), Tables.nation(s, dir),
          Tables.region(s, dir), "NATION_3", "ASIA", "STANDARD")
        .orderBy("order_year"),
      """SELECT year(o.o_orderdate) AS order_year,
        |  round(CAST(coalesce(sum(CASE WHEN n2.n_name = 'NATION_3'
        |      THEN CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2))) END), 0) AS DOUBLE)
        |    / CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE), 6) AS mkt_share,
        |  CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_revenue,
        |  count(*) AS n_lines
        |FROM lineitem l
        |JOIN part p ON p.p_partkey = l.l_partkey AND p.p_type = 'STANDARD'
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
        |JOIN region r ON n1.n_regionkey = r.r_regionkey AND r.r_name = 'ASIA'
        |JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
        |GROUP BY 1
        |ORDER BY order_year""".stripMargin),
    Query("q_product_profit", (s, dir) =>
      Relational
        .productTypeProfit(Tables.part(s, dir), Tables.supplier(s, dir),
          Tables.lineitem(s, dir), Tables.orders(s, dir), Tables.nation(s, dir),
          "bolt", costPct = 60)
        .orderBy("nation_name", "order_year"),
      """SELECT n.n_name AS nation_name, year(o.o_orderdate) AS order_year,
        |  round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |    - CAST(sum(CAST(p.p_retailprice AS DECIMAL(18,2)) * CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) * (60.0 / 100.0), 6) AS profit,
        |  count(*) AS n_lines
        |FROM lineitem l
        |JOIN part p ON p.p_partkey = l.l_partkey AND p.p_name LIKE '%bolt%'
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |GROUP BY 1, 2
        |ORDER BY nation_name, order_year""".stripMargin),
    Query("q_returned_items", (s, dir) =>
      Relational
        .returnedItemReport(Tables.customer(s, dir), Tables.orders(s, dir),
          Tables.lineitem(s, dir), Tables.nation(s, dir),
          "1996-04-01", "1996-10-01", k = 20),
      """SELECT c.c_custkey, c.c_name, n.n_name AS nation_name,
        |  CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS lost_revenue,
        |  count(*) AS n_lines
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE l.l_returnflag = 'R'
        |  AND o.o_orderdate >= TIMESTAMP '1996-04-01' AND o.o_orderdate < TIMESTAMP '1996-10-01'
        |GROUP BY 1, 2, 3
        |ORDER BY lost_revenue DESC, c_custkey ASC
        |LIMIT 20""".stripMargin),
    Query("q_important_parts", (s, dir) =>
      Relational
        .importantParts(Tables.lineitem(s, dir), Tables.supplier(s, dir),
          Tables.nation(s, dir), "NATION_3", meanMult = 2L)
        .orderBy("l_partkey"),
      """WITH pp AS (
        |  SELECT l.l_partkey, sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS value_d
        |  FROM lineitem l
        |  WHERE l.l_suppkey IN (
        |    SELECT s.s_suppkey FROM supplier s
        |    JOIN nation n ON s.s_nationkey = n.n_nationkey
        |    WHERE n.n_name = 'NATION_3')
        |  GROUP BY l.l_partkey)
        |SELECT l_partkey, CAST(value_d AS DOUBLE) AS part_value
        |FROM pp
        |WHERE value_d * (SELECT count(*) FROM pp) > (SELECT sum(value_d) FROM pp) * 2
        |ORDER BY l_partkey""".stripMargin),
    Query("q_cust_order_distribution", (s, dir) =>
      Relational
        .custOrderDistribution(Tables.customer(s, dir), Tables.orders(s, dir), "5-LOW")
        .orderBy(col("custdist").desc, col("c_count").desc),
      """SELECT c_count, count(*) AS custdist
        |FROM (
        |  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        |  FROM customer c
        |  LEFT JOIN orders o ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '5-LOW'
        |  GROUP BY c.c_custkey)
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin),
    Query("q_top_supplier", (s, dir) =>
      Relational
        .topSupplier(Tables.supplier(s, dir), Tables.lineitem(s, dir),
          "1996-01-01", "1996-04-01")
        .orderBy("s_suppkey"),
      """WITH rev AS (
        |  SELECT l.l_suppkey,
        |    sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS rev_d
        |  FROM lineitem l
        |  WHERE l.l_shipdate >= TIMESTAMP '1996-01-01' AND l.l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l.l_suppkey)
        |SELECT s.s_suppkey, s.s_name, CAST(rev_d AS DOUBLE) AS total_revenue
        |FROM rev
        |JOIN supplier s ON rev.l_suppkey = s.s_suppkey
        |WHERE rev_d = (SELECT max(rev_d) FROM rev)
        |ORDER BY s_suppkey""".stripMargin),
    Query("q_supplier_part_counts", (s, dir) =>
      Relational
        .supplierCountByPart(Tables.part(s, dir), Tables.supplier(s, dir),
          Tables.lineitem(s, dir))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size")),
      """SELECT p.p_brand, p.p_type, p.p_size, count(DISTINCT pr.l_suppkey) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pr
        |JOIN part p ON p.p_partkey = pr.l_partkey
        |WHERE p.p_brand <> 'Brand#1' AND p.p_type <> 'PROMO'
        |  AND p.p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
        |  AND pr.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin),
    Query("q_pivot_wide", (s, dir) =>
      Relational
        .pivotWide(Tables.events(s, dir), Seq("click", "error", "purchase", "signup", "view"))
        .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
        .orderBy("day"),
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) FILTER (WHERE event_type = 'click') AS DOUBLE) AS click,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) FILTER (event_type = 'error') AS DOUBLE) AS error,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) FILTER (WHERE event_type = 'purchase') AS DOUBLE) AS purchase,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) FILTER (event_type = 'signup') AS DOUBLE) AS signup,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) FILTER (event_type = 'view') AS DOUBLE) AS view
        |FROM events
        |GROUP BY date_trunc('day', ts)
        |ORDER BY day""".stripMargin),
    Query("q_pivot_fill_zero", (s, dir) =>
      Relational
        .pivotWide(Tables.events(s, dir), Seq("click", "error", "purchase", "signup", "view"), fillZero = true)
        .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
        .orderBy("day"),
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |  coalesce(CAST(sum(CAST(value AS DECIMAL(18,2))) FILTER (WHERE event_type = 'click') AS DOUBLE), 0) AS click,
        |  coalesce(CAST(sum(CAST(value AS DECIMAL(18,2))) FILTER (event_type = 'error') AS DOUBLE), 0) AS error,
        |  coalesce(CAST(sum(CAST(value AS DECIMAL(18,2))) FILTER (WHERE event_type = 'purchase') AS DOUBLE), 0) AS purchase,
        |  coalesce(CAST(sum(CAST(value AS DECIMAL(18,2))) FILTER (event_type = 'signup') AS DOUBLE), 0) AS signup,
        |  coalesce(CAST(sum(CAST(value AS DECIMAL(18,2))) FILTER (event_type = 'view') AS DOUBLE), 0) AS view
        |FROM events
        |GROUP BY date_trunc('day', ts)
        |ORDER BY day""".stripMargin),
    Query("q_symbol_search", (s, dir) =>
      Relational.symbolSearch(Tables.part(s, dir), "small", "p_partkey", "p_name")
        .orderBy("match_rank", "p_name", "p_partkey"),
      """SELECT p_partkey, p_name,
        |  CAST(CASE WHEN lower(p_name) = 'small' THEN 0
        |            WHEN starts_with(lower(p_name), 'small') THEN 1
        |            ELSE 2 END AS BIGINT) AS match_rank
        |FROM part
        |WHERE contains(lower(p_name), 'small')
        |ORDER BY match_rank, p_name, p_partkey""".stripMargin),
    Query("q_parse_percent", (s, dir) => {
      import graft.functions.ParseFunctions._
      val k = col("o_orderkey")
      val messy = Tables.orders(s, dir).select(
        k,
        when(k % 13 === 0, lit("N/A"))
          .otherwise(concat((k % 89).cast("string"), lit("."), (k % 10).cast("string"), lit("%")))
          .as("pct_str"),
        when(k % 17 === 0, lit("?"))
          .otherwise(concat(
            lit("$"), (k % 999).cast("string"), lit("."), (k % 90 + 10).cast("string"),
            element_at(array(lit(""), lit("K"), lit("M"), lit("B")), (k % 4 + 1).cast("int"))))
          .as("cur_str"))
      messy.select(
        k, col("pct_str"), col("cur_str"),
        parsePercent(col("pct_str")).as("pct"),
        parseCurrency(col("cur_str")).as("cur_usd"))
        .orderBy("o_orderkey")
    },
      """WITH m AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 13 = 0 THEN 'N/A'
        |         ELSE CAST(o_orderkey % 89 AS VARCHAR) || '.' || CAST(o_orderkey % 10 AS VARCHAR) || '%' END AS pct_str,
        |    CASE WHEN o_orderkey % 17 = 0 THEN '?'
        |         ELSE '$' || CAST(o_orderkey % 999 AS VARCHAR) || '.' || CAST(o_orderkey % 90 + 10 AS VARCHAR) ||
        |              (['','K','M','B'])[CAST(o_orderkey % 4 AS INT) + 1] END AS cur_str
        |  FROM orders
        |)
        |SELECT o_orderkey, pct_str, cur_str,
        |  CASE WHEN regexp_matches(pct_str, '^\s*(-?[0-9]+(\.[0-9]+)?)%\s*$')
        |       THEN CAST(regexp_extract(pct_str, '^\s*(-?[0-9]+(\.[0-9]+)?)%\s*$', 1) AS DOUBLE) END AS pct,
        |  CASE WHEN regexp_matches(cur_str, '^\s*\$(-?[0-9]+(\.[0-9]+)?)([KMB])?\s*$')
        |       THEN CAST(regexp_extract(cur_str, '^\s*\$(-?[0-9]+(\.[0-9]+)?)([KMB])?\s*$', 1) AS DOUBLE)
        |            * CASE regexp_extract(cur_str, '^\s*\$(-?[0-9]+(\.[0-9]+)?)([KMB])?\s*$', 3)
        |                WHEN 'K' THEN 1e3 WHEN 'M' THEN 1e6 WHEN 'B' THEN 1e9 ELSE 1.0 END END AS cur_usd
        |FROM m ORDER BY o_orderkey""".stripMargin),
    Query("q_ohlc_resample", (s, dir) =>
      Relational
        .ohlcResample(Tables.events(s, dir))
        .withColumn("bar_start", date_format(col("bar_start"), "yyyy-MM-dd"))
        .orderBy("user_id", "bar_start"),
      """SELECT user_id, strftime(date_trunc('day', ts), '%Y-%m-%d') AS bar_start,
        |  min_by(value, ts) AS open,
        |  max(value) AS high,
        |  min(value) AS low,
        |  max_by(value, ts) AS close,
        |  count(*) AS n_obs
        |FROM events
        |GROUP BY user_id, date_trunc('day', ts)
        |ORDER BY user_id, bar_start""".stripMargin),
    Query("q_ohlc_weekly", (s, dir) =>
      Relational
        .ohlcResample(Tables.events(s, dir), "week")
        .withColumn("bar_start", date_format(col("bar_start"), "yyyy-MM-dd"))
        .orderBy("user_id", "bar_start"),
      """SELECT user_id, strftime(date_trunc('week', ts), '%Y-%m-%d') AS bar_start,
        |  min_by(value, ts) AS open,
        |  max(value) AS high,
        |  min(value) AS low,
        |  max_by(value, ts) AS close,
        |  count(*) AS n_obs
        |FROM events
        |GROUP BY user_id, date_trunc('week', ts)
        |ORDER BY user_id, bar_start""".stripMargin),
    Query("q_unpivot_long", (s, dir) =>
      Relational.unpivotOhlc(Tables.events(s, dir))
        .withColumn("bar_start", date_format(col("bar_start"), "yyyy-MM-dd"))
        .orderBy("user_id", "bar_start", "field"),
      """WITH bars AS (
        |  SELECT user_id, date_trunc('day', ts) AS bar_start,
        |    min_by(value, ts) AS open, max(value) AS high, min(value) AS low,
        |    max_by(value, ts) AS close
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT user_id, strftime(bar_start, '%Y-%m-%d') AS bar_start, field, px FROM (
        |  SELECT user_id, bar_start, 'open' AS field, open AS px FROM bars
        |  UNION ALL SELECT user_id, bar_start, 'high', high FROM bars
        |  UNION ALL SELECT user_id, bar_start, 'low', low FROM bars
        |  UNION ALL SELECT user_id, bar_start, 'close', close FROM bars
        |)
        |ORDER BY user_id, bar_start, field""".stripMargin),
    Query("q_topn_per_group", (s, dir) =>
      Relational.topNPerGroup(Tables.orders(s, dir), 3).orderBy("o_custkey", "rnk"),
      """SELECT o_custkey, o_orderkey, o_totalprice, rnk
        |FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
        |  FROM orders
        |)
        |WHERE rnk <= 3
        |ORDER BY o_custkey, rnk""".stripMargin),
    Query("q_filter_agg", (s, dir) =>
      Relational.filterAgg(Tables.lineitem(s, dir), "1996-01-01", "1997-01-01"),
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue, count(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin),
    Query("q_semi_join", (s, dir) =>
      Relational
        .semiJoinPriority(Tables.orders(s, dir), Tables.lineitem(s, dir), 45)
        .orderBy("o_orderpriority"),
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_quantity > 45)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    Query("q_anti_join", (s, dir) =>
      Relational
        .antiJoinIdle(Tables.customer(s, dir), Tables.orders(s, dir), 450000)
        .orderBy("c_mktsegment"),
      """SELECT c_mktsegment, count(*) AS n_idle_customers
        |FROM customer
        |WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 450000)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    Query("q_json_extract", (s, dir) =>
      Relational.jsonExtractAgg(Tables.events(s, dir)).orderBy("event_type"),
      """SELECT event_type, count(*) AS n,
        |  avg(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS avg_k,
        |  min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    Query("q_except_keys", (s, dir) =>
      Relational.exceptKeys(Tables.customer(s, dir), Tables.orders(s, dir), "BUILDING", 450000)
        .orderBy("c_custkey"),
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_totalprice > 450000
        |ORDER BY c_custkey""".stripMargin),
    Query("q_intersect_keys", (s, dir) =>
      Relational.intersectKeys(Tables.customer(s, dir), Tables.orders(s, dir), "BUILDING", 450000)
        .orderBy("c_custkey"),
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_totalprice > 450000
        |ORDER BY c_custkey""".stripMargin),
    Query("q_time_features", (s, dir) =>
      Relational.timeFeatures(Tables.events(s, dir)).orderBy("event_id"),
      """SELECT event_id, year(ts) AS yr, month(ts) AS mo, dayofweek(ts) AS dow,
        |  dayofyear(ts) AS doy, hour(ts) AS hr
        |FROM events ORDER BY event_id""".stripMargin),
    // 2-hour promo windows opened by purchase events (fixed duration
    // => start-monotone; per-tick dedupe via max) — each event picks
    // up the active window's level
    Query("q_interval_join", (s, dir) => {
      val ev = Tables.events(s, dir)
      val ivl = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("ivl_val"))
        .select(col("user_id"), col("ts").as("ivl_from"),
          (col("ts") + expr("INTERVAL 2 HOURS")).as("ivl_to"), col("ivl_val"))
      Relational.intervalJoin(ev, ivl).orderBy("user_id", "ts_us", "event_id")
    },
      """WITH ivl AS (
        |  SELECT user_id, ts AS f, ts + INTERVAL 2 HOUR AS u, max(value) AS ivl_val
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
        |)
        |SELECT e.user_id, epoch_us(e.ts) AS ts_us, e.event_id, e.value,
        |  epoch_us(i.f) AS ivl_from_us, i.ivl_val
        |FROM events e JOIN ivl i ON e.user_id = i.user_id AND e.ts >= i.f AND e.ts < i.u
        |QUALIFY row_number() OVER (PARTITION BY e.event_id ORDER BY i.f DESC) = 1
        |ORDER BY e.user_id, ts_us, e.event_id""".stripMargin),
    Query("q_scd2_intervals", (s, dir) =>
      Relational.scd2Intervals(Tables.events(s, dir))
        .select(col("user_id"), col("value"),
          unix_micros(col("valid_from")).as("from_us"),
          unix_micros(col("valid_to")).as("to_us"), col("event_id"))
        .orderBy("user_id", "from_us", "event_id"),
      """SELECT user_id, value,
        |  epoch_us(ts) AS from_us,
        |  epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS to_us,
        |  event_id
        |FROM events
        |ORDER BY user_id, from_us, event_id""".stripMargin),
    // the skew remedy's RESULT equivalence on the driver gate (the
    // bench's skew section carries its throughput story)
    Query("q_salted_join", (s, dir) =>
      Relational
        .saltedJoin(Tables.lineitem(s, dir), Tables.orders(s, dir),
          "l_orderkey", "o_orderkey", "l_partkey", 8)
        .select(col("l_orderkey"), col("l_linenumber"), col("o_totalprice"))
        .orderBy("l_orderkey", "l_linenumber"),
      """SELECT l_orderkey, l_linenumber, o_totalprice
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),
    Query("q_inequality", (s, dir) =>
      Relational.inequalityIndices(Tables.orders(s, dir)),
      """WITH pc AS (
        |  SELECT o_custkey, sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS x
        |  FROM orders GROUP BY 1
        |  HAVING sum(CAST(floor(o_totalprice * 100) AS BIGINT)) > 0
        |), tot AS (SELECT count(*) AS n, sum(x) AS s FROM pc
        |), t AS (
        |  SELECT n, s,
        |    CAST(floor(CAST(x AS DOUBLE) * CAST(n AS DOUBLE) / CAST(s AS DOUBLE)
        |      * ln(CAST(x AS DOUBLE) * CAST(n AS DOUBLE) / CAST(s AS DOUBLE)) * 1e9) AS BIGINT) AS tu,
        |    CAST(floor(ln(CAST(x AS DOUBLE)) * 1e9) AS BIGINT) AS lu
        |  FROM pc, tot
        |), m AS (SELECT n, s, sum(tu) AS tsum, sum(lu) AS lsum FROM t GROUP BY 1, 2)
        |SELECT CAST(n AS BIGINT) AS n_customers,
        |  round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 100, 6) AS mean_revenue,
        |  round(CAST(tsum AS DOUBLE) / 1e9 / CAST(n AS DOUBLE), 6) AS theil_t,
        |  round(1.0 - exp(CAST(lsum AS DOUBLE) / 1e9 / CAST(n AS DOUBLE))
        |    / (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS atkinson_1
        |FROM m""".stripMargin),
    Query("q_fk_integrity", (s, dir) =>
      Relational.fkIntegrity(Tables.orders(s, dir), Tables.lineitem(s, dir),
        Tables.customer(s, dir), Tables.supplier(s, dir), Tables.part(s, dir),
        Tables.nation(s, dir), Tables.region(s, dir)).orderBy("relation"),
      {
        val rels = Seq(
          ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
          ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
          ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
          ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
          ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
          ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
          ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"))
        rels.map { case (name, child, ck, parent, pk) =>
          s"""SELECT '$name' AS relation, CAST(count(*) AS BIGINT) AS child_rows,
             |  CAST(count(CASE WHEN p.k IS NULL THEN 1 END) AS BIGINT) AS orphan_rows,
             |  CAST(count(DISTINCT CASE WHEN p.k IS NULL THEN c.$ck END) AS BIGINT) AS orphan_keys,
             |  CAST(count(CASE WHEN p.k IS NULL THEN 1 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS orphan_rate
             |FROM $child c LEFT JOIN (SELECT DISTINCT $pk AS k FROM $parent) p ON p.k = c.$ck""".stripMargin
        }.mkString("", "\nUNION ALL\n", "\nORDER BY relation")
      }),
    Query("q_seasonal_index", (s, dir) =>
      Relational.seasonalIndex(Tables.orders(s, dir)).orderBy("month"),
      """WITH m AS (
        |  SELECT CAST(month(o_orderdate) AS BIGINT) AS month, count(*) AS n_orders,
        |    sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS rev
        |  FROM orders GROUP BY 1
        |), t AS (SELECT sum(rev) AS t, count(*) AS k FROM m)
        |SELECT month, CAST(n_orders AS BIGINT) AS n_orders,
        |  CAST(rev AS DOUBLE) / 100.0 AS revenue,
        |  CAST(rev AS DOUBLE) * CAST(k AS DOUBLE) / CAST(t AS DOUBLE) AS seasonal_index
        |FROM m, t
        |ORDER BY month""".stripMargin),
    Query("q_key_skew", (s, dir) =>
      Relational.keySkew(Tables.lineitem(s, dir), "l_orderkey"),
      """WITH k AS (SELECT l_orderkey, count(*) AS n FROM lineitem GROUP BY 1)
        |SELECT count(*) AS n_keys, CAST(sum(n) AS BIGINT) AS n_rows, max(n) AS max_per_key,
        |  quantile_cont(n, 0.5) AS p50, quantile_cont(n, 0.9) AS p90,
        |  quantile_cont(n, 0.99) AS p99,
        |  CAST(sum(n) AS DOUBLE) / count(*) AS mean_per_key,
        |  CAST(max(n) AS DOUBLE) / (CAST(sum(n) AS DOUBLE) / count(*)) AS skew_ratio
        |FROM k""".stripMargin),
    Query("q_abc_classes", (s, dir) =>
      Relational.abcClasses(Tables.lineitem(s, dir)).orderBy("abc_class"),
      """WITH per AS (
        |  SELECT l_partkey,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS rev
        |  FROM lineitem GROUP BY 1
        |), t AS (SELECT sum(rev) AS total FROM per
        |), c AS (
        |  SELECT l_partkey, rev,
        |    sum(rev) OVER (ORDER BY rev DESC, l_partkey ASC ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM per
        |), cl AS (
        |  SELECT l_partkey, rev, t.total,
        |    CASE WHEN CAST(cum AS DOUBLE) / CAST(t.total AS DOUBLE) <= 0.80 THEN 'A'
        |         WHEN CAST(cum AS DOUBLE) / CAST(t.total AS DOUBLE) <= 0.95 THEN 'B'
        |         ELSE 'C' END AS abc_class
        |  FROM c CROSS JOIN t
        |)
        |SELECT abc_class, count(*) AS n_parts,
        |  CAST(sum(rev) AS DOUBLE) AS class_revenue,
        |  CAST(sum(rev) AS DOUBLE) / CAST(max(total) AS DOUBLE) AS rev_share
        |FROM cl GROUP BY abc_class
        |ORDER BY abc_class""".stripMargin),
    // reconcile events against a deterministically-perturbed derived
    // copy (2% rows dropped, 2% values shifted via the md5 bucket
    // rule) — the migration-validation shape with a known answer
    Query("q_reconcile", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value").cast("decimal(18,6)").as("v6"))
      val bucket =
        conv(substring(md5(col("event_id").cast("string")), 1, 8), 16, 10).cast("long") % 100
      val b = ev.filter(bucket >= 2)
        .withColumn("v6",
          when(bucket < 4, (col("v6").cast("double") + 1).cast("decimal(18,6)"))
            .otherwise(col("v6")))
      Relational.reconcile(ev, b, "event_id", Seq("user_id", "event_type", "v6"))
    },
      """WITH src AS (
        |  SELECT event_id, user_id, event_type, CAST(value AS DECIMAL(18,6)) AS v6,
        |    CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS bucket
        |  FROM events
        |), a AS (
        |  SELECT event_id,
        |    md5(concat_ws('', CAST(user_id AS VARCHAR), event_type, CAST(v6 AS VARCHAR))) AS fp_a
        |  FROM src
        |), bsrc AS (
        |  SELECT event_id, user_id, event_type,
        |    CASE WHEN bucket < 4 THEN CAST(CAST(v6 AS DOUBLE) + 1 AS DECIMAL(18,6)) ELSE v6 END AS v6
        |  FROM src WHERE bucket >= 2
        |), b AS (
        |  SELECT event_id,
        |    md5(concat_ws('', CAST(user_id AS VARCHAR), event_type, CAST(v6 AS VARCHAR))) AS fp_b
        |  FROM bsrc
        |)
        |SELECT
        |  CAST(sum(CASE WHEN fp_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |  CAST(sum(CASE WHEN fp_b IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |  CAST(sum(CASE WHEN fp_a IS NOT NULL AND fp_b IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS only_a,
        |  CAST(sum(CASE WHEN fp_a IS NULL AND fp_b IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS only_b,
        |  CAST(sum(CASE WHEN fp_a = fp_b THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
        |  CAST(sum(CASE WHEN fp_a IS NOT NULL AND fp_b IS NOT NULL AND fp_a != fp_b THEN 1 ELSE 0 END) AS BIGINT) AS n_diff
        |FROM a FULL OUTER JOIN b USING (event_id)""".stripMargin),
    Query("q_contribution_delta", (s, dir) =>
      Relational.contributionDelta(
        Tables.lineitem(s, dir), Tables.orders(s, dir),
        Tables.customer(s, dir), Tables.nation(s, dir),
        "1995-01-01", "1996-01-01", "1996-01-01", "1997-01-01")
        .orderBy("n_name", "o_orderpriority"),
      """WITH cells AS (
        |  SELECT n_name, o_orderpriority,
        |    coalesce(sum(CASE WHEN o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
        |      THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) END), 0) AS rev_a,
        |    coalesce(sum(CASE WHEN o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |      THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) END), 0) AS rev_b
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |  GROUP BY 1, 2
        |), w AS (SELECT *, rev_b - rev_a AS delta FROM cells
        |), t AS (SELECT sum(delta) AS total_delta FROM w)
        |SELECT n_name, o_orderpriority,
        |  CAST(rev_a AS DOUBLE) AS rev_a, CAST(rev_b AS DOUBLE) AS rev_b,
        |  CAST(delta AS DOUBLE) AS delta,
        |  round(CASE WHEN total_delta != 0
        |    THEN CAST(delta AS DOUBLE) / CAST(total_delta AS DOUBLE) END, 6) AS share_of_move
        |FROM w CROSS JOIN t
        |ORDER BY n_name, o_orderpriority""".stripMargin),
    Query("q_redact_pii", (s, dir) => {
      import graft.functions.ParseFunctions.redactPii
      val k = col("o_orderkey")
      // synthesize contact-card strings so the scrub has real
      // targets. Card digits derive from kid = key mod 1e9 (the
      // pre-offset id under GenScale's +rep*1e9 replica shift, and
      // the identity on any driver fixture), NOT the raw key: the
      // synthesized per-row text must keep a key-magnitude-
      // independent length, or a scaled fixture would inflate the
      // regex work per row and the scale bench would measure the
      // fixture instead of the operator
      val kid = k % GenScale.Off
      val messy = Tables.orders(s, dir).select(
        k,
        concat(
          lit("order "), kid.cast("string"),
          lit(" contact user"), (kid % 97).cast("string"), lit("@mail"), (kid % 7).cast("string"), lit(".com"),
          lit(" ph +"), (kid % 9 + 1).cast("string"), lit("-"), (kid % 900 + 100).cast("string"), lit("-"), (kid % 9000 + 1000).cast("string"),
          lit(" acct "), (kid * 137 + 10000000).cast("string")).as("contact"))
      // sort FIRST, scrub AFTER: a projection under an orderBy is
      // evaluated twice (the range partitioner's bounds-sampling job
      // runs the exchange's whole child, then the real pass runs it
      // again — two ~1.5 s single-task regex stages at sf0.1), and
      // the post-sort position also runs the scrub on the RANGE
      // partitions instead of the unsplit scan task
      messy.orderBy("o_orderkey")
        .select(k, col("contact"), redactPii(col("contact")).as("redacted"))
    },
      """WITH m AS (
        |  SELECT o_orderkey, o_orderkey % 1000000000 AS kid
        |  FROM orders
        |), c AS (
        |  SELECT o_orderkey,
        |    'order ' || CAST(kid AS VARCHAR) ||
        |    ' contact user' || CAST(kid % 97 AS VARCHAR) || '@mail' || CAST(kid % 7 AS VARCHAR) || '.com' ||
        |    ' ph +' || CAST(kid % 9 + 1 AS VARCHAR) || '-' || CAST(kid % 900 + 100 AS VARCHAR) || '-' || CAST(kid % 9000 + 1000 AS VARCHAR) ||
        |    ' acct ' || CAST(kid * 137 + 10000000 AS VARCHAR) AS contact
        |  FROM m
        |)
        |SELECT o_orderkey, contact,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(contact, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\+?[0-9]{1,3}[- .][0-9]{3}[- .][0-9]{4}', '<PHONE>', 'g'),
        |    '[0-9]{8,}', '<ID>', 'g') AS redacted
        |FROM c ORDER BY o_orderkey""".stripMargin),
    Query("q_merge_upsert", (s, dir) =>
      Relational.mergeUpsert(Tables.events(s, dir), "2024-01-20")
        .orderBy("user_id"),
      """WITH t AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN ts < TIMESTAMP '2024-01-20' THEN 1 ELSE 0 END AS is_base
        |  FROM events
        |), r AS (
        |  SELECT user_id, ts, value, is_base,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn,
        |    max(is_base) OVER (PARTITION BY user_id) AS has_base,
        |    max(1 - is_base) OVER (PARTITION BY user_id) AS has_change
        |  FROM t
        |)
        |SELECT user_id, epoch_us(ts) AS ts_us, value,
        |  CASE WHEN has_base = 1 AND has_change = 1 THEN 'update'
        |       WHEN has_change = 1 THEN 'insert' ELSE 'carry' END AS action
        |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin),
    Query("q_profile_table", (s, dir) =>
      Relational.profileTable(Tables.events(s, dir)),
      """SELECT count(*) AS n_rows,
        |  count(DISTINCT user_id) AS n_users,
        |  count(DISTINCT event_type) AS n_event_types,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS ts_min,
        |  strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS ts_max,
        |  CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS value_nulls,
        |  round(min(value), 6) AS value_min,
        |  round(max(value), 6) AS value_max,
        |  CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS props_nulls,
        |  CAST(sum(CASE WHEN json_extract_string(props, '$.k') IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS vol_key_missing
        |FROM events""".stripMargin),
    Query("q_basket_pairs", (s, dir) =>
      Relational.basketPairs(Tables.lineitem(s, dir))
        .orderBy(col("n_ab").desc, col("pa"), col("pb")),
      """WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |t AS (SELECT count(DISTINCT ok) AS n_orders FROM op),
        |f AS (SELECT pk, count(*) AS n_p FROM op GROUP BY 1),
        |p AS (
        |  SELECT a.pk AS pa, b.pk AS pb, count(*) AS n_ab
        |  FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 3
        |)
        |SELECT pa, pb, n_ab, fa.n_p AS n_a, fb.n_p AS n_b,
        |  round(CAST(n_ab AS DOUBLE) / CAST(n_orders AS DOUBLE), 6) AS support,
        |  round(CAST(n_ab AS DOUBLE) * CAST(n_orders AS DOUBLE)
        |    / (CAST(fa.n_p AS DOUBLE) * CAST(fb.n_p AS DOUBLE)), 6) AS lift
        |FROM p JOIN f fa ON fa.pk = pa JOIN f fb ON fb.pk = pb, t
        |ORDER BY n_ab DESC, pa, pb LIMIT 25""".stripMargin),
    Query("q_revenue_cohorts", (s, dir) =>
      Relational.revenueCohorts(Tables.orders(s, dir))
        .withColumn("cohort", date_format(col("cohort"), "yyyy-MM"))
        .orderBy("cohort", "offset_m"),
      """WITH first AS (
        |  SELECT o_custkey, min(date_trunc('month', o_orderdate)) AS cohort
        |  FROM orders GROUP BY 1
        |)
        |SELECT strftime(cohort, '%Y-%m') AS cohort,
        |  (year(o_orderdate) * 12 + month(o_orderdate))
        |    - (year(cohort) * 12 + month(cohort)) AS offset_m,
        |  count(DISTINCT o.o_custkey) AS n_customers,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders o JOIN first USING (o_custkey)
        |GROUP BY cohort, offset_m ORDER BY cohort, offset_m""".stripMargin),
    Query("q_rfm", (s, dir) =>
      Relational.rfm(Tables.orders(s, dir)).orderBy("o_custkey"),
      """WITH cust AS (
        |  SELECT o_custkey, date_trunc('day', max(o_orderdate)) AS last_day,
        |    count(*) AS frequency,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS monetary
        |  FROM orders GROUP BY 1
        |), e AS (SELECT date_trunc('day', max(o_orderdate)) AS corpus_end FROM orders),
        |base AS (
        |  SELECT o_custkey, date_diff('day', last_day, corpus_end) AS recency_days,
        |    frequency, monetary
        |  FROM cust, e
        |), cuts AS (
        |  SELECT quantile_cont(recency_days, 0.25) AS r1, quantile_cont(recency_days, 0.5) AS r2,
        |    quantile_cont(recency_days, 0.75) AS r3,
        |    quantile_cont(frequency, 0.25) AS f1, quantile_cont(frequency, 0.5) AS f2,
        |    quantile_cont(frequency, 0.75) AS f3,
        |    quantile_cont(monetary, 0.25) AS m1, quantile_cont(monetary, 0.5) AS m2,
        |    quantile_cont(monetary, 0.75) AS m3
        |  FROM base
        |)
        |SELECT o_custkey, recency_days, frequency, monetary,
        |  5 - (CASE WHEN CAST(recency_days AS DOUBLE) <= r1 THEN 1
        |            WHEN CAST(recency_days AS DOUBLE) <= r2 THEN 2
        |            WHEN CAST(recency_days AS DOUBLE) <= r3 THEN 3 ELSE 4 END) AS r_score,
        |  CASE WHEN CAST(frequency AS DOUBLE) <= f1 THEN 1
        |       WHEN CAST(frequency AS DOUBLE) <= f2 THEN 2
        |       WHEN CAST(frequency AS DOUBLE) <= f3 THEN 3 ELSE 4 END AS f_score,
        |  CASE WHEN monetary <= m1 THEN 1
        |       WHEN monetary <= m2 THEN 2
        |       WHEN monetary <= m3 THEN 3 ELSE 4 END AS m_score
        |FROM base, cuts ORDER BY o_custkey""".stripMargin),
    Query("q_pareto_frontier", (s, dir) =>
      Relational.paretoFrontier(Tables.lineitem(s, dir), Tables.orders(s, dir))
        .orderBy("best_lag", "l_partkey"),
      """WITH m AS (
        |  SELECT l_partkey,
        |    min(CAST(l_extendedprice AS DECIMAL(18,2))) AS best_price,
        |    CAST(min(date_diff('day', date_trunc('day', o_orderdate),
        |      date_trunc('day', l_shipdate))) AS BIGINT) AS best_lag
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY l_partkey
        |), grid AS (
        |  SELECT best_lag, min(best_price) AS mp FROM m GROUP BY best_lag
        |), g2 AS (
        |  SELECT best_lag, mp,
        |    min(mp) OVER (ORDER BY best_lag ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS runmin
        |  FROM grid
        |)
        |SELECT m.l_partkey, CAST(m.best_price AS DOUBLE) AS best_price, m.best_lag
        |FROM m JOIN g2 USING (best_lag)
        |WHERE m.best_price = g2.mp AND (g2.runmin IS NULL OR g2.runmin > m.best_price)
        |ORDER BY best_lag, l_partkey""".stripMargin),
    Query("q_ship_lag", (s, dir) =>
      Relational.shipLagProfile(Tables.lineitem(s, dir), Tables.orders(s, dir))
        .orderBy("o_orderpriority"),
      """SELECT o_orderpriority, count(*) AS n_lines,
        |  round(avg(date_diff('day', date_trunc('day', o_orderdate),
        |    date_trunc('day', l_shipdate))), 6) AS mean_lag,
        |  quantile_cont(date_diff('day', date_trunc('day', o_orderdate),
        |    date_trunc('day', l_shipdate)), 0.5) AS median_lag,
        |  quantile_cont(date_diff('day', date_trunc('day', o_orderdate),
        |    date_trunc('day', l_shipdate)), 0.9) AS p90_lag,
        |  max(date_diff('day', date_trunc('day', o_orderdate),
        |    date_trunc('day', l_shipdate))) AS max_lag
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    Query("q_supplier_hhi", (s, dir) =>
      Relational.supplierHhi(
        Tables.lineitem(s, dir), Tables.supplier(s, dir), Tables.nation(s, dir))
        .orderBy("n_name"),
      // HHI = Σc²/(Σc)²: exact 128-bit sums via the splitDouble
      // conversion, one IEEE division each — UNROUNDED
      """WITH ps AS (
        |  SELECT n_name, s_suppkey, CAST(count(*) AS BIGINT) AS c
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  GROUP BY 1, 2
        |), a AS (
        |  SELECT n_name, CAST(count(*) AS BIGINT) AS n_suppliers,
        |    sum(CAST(c AS HUGEINT)) AS s1, sum(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS s2
        |  FROM ps GROUP BY 1
        |), d AS (
        |  SELECT n_name, n_suppliers, CAST(s1 AS BIGINT) AS n_lines,
        |    CAST(s1 // 9007199254740992 AS DOUBLE) * 9.007199254740992e15
        |      + CAST(s1 % 9007199254740992 AS DOUBLE) AS s1d,
        |    CAST(s2 // 9007199254740992 AS DOUBLE) * 9.007199254740992e15
        |      + CAST(s2 % 9007199254740992 AS DOUBLE) AS s2d
        |  FROM a
        |)
        |SELECT n_name, n_suppliers, n_lines,
        |  s2d / (s1d * s1d) AS hhi,
        |  (s1d * s1d) / s2d AS effective_suppliers
        |FROM d ORDER BY n_name""".stripMargin),
    Query("q_discount_elasticity", (s, dir) =>
      Relational.discountElasticity(Tables.lineitem(s, dir), Tables.part(s, dir))
        .orderBy("p_brand"),
      """WITH m AS (
        |  SELECT p_brand, count(*) AS n,
        |    sum(CAST(l_discount AS DECIMAL(18,6))) AS sx,
        |    sum(CAST(round(ln(l_quantity), 6) AS DECIMAL(18,6))) AS sy,
        |    sum(CAST(l_discount AS DECIMAL(18,6)) * CAST(round(ln(l_quantity), 6) AS DECIMAL(18,6))) AS sxy,
        |    sum(CAST(l_discount AS DECIMAL(18,6)) * CAST(l_discount AS DECIMAL(18,6))) AS sxx,
        |    sum(CAST(round(ln(l_quantity), 6) AS DECIMAL(18,6)) * CAST(round(ln(l_quantity), 6) AS DECIMAL(18,6))) AS syy
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_quantity > 0 GROUP BY 1
        |), d AS (
        |  SELECT p_brand, n,
        |    CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
        |    CAST(sxy AS DOUBLE) AS sxyd, CAST(sxx AS DOUBLE) AS sxxd, CAST(syy AS DOUBLE) AS syyd
        |  FROM m
        |)
        |SELECT p_brand, n AS n_lines,
        |  round(CASE WHEN nd * sxxd - sxd * sxd > 0
        |    THEN (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd) END, 6) AS elasticity,
        |  round(CASE WHEN nd * sxxd - sxd * sxd > 0 AND nd * syyd - syd * syd > 0
        |    THEN (nd * sxyd - sxd * syd) * (nd * sxyd - sxd * syd)
        |      / ((nd * sxxd - sxd * sxd) * (nd * syyd - syd * syd)) END, 6) AS r2
        |FROM d ORDER BY p_brand""".stripMargin)
  )
}
