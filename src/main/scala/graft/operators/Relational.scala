package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Materialize._

/** Relational / ETL core: the reference's extract-transform-load
  * shape re-expressed declaratively so Catalyst pushes filters and
  * prunes columns at the parquet scan.
  *
  * Reference analogs (studied, not copied):
  *  - src/etl.py transform_stock_data (projection + date format)
  *  - src/utils.py validate_ticker (normalize + filter)
  *  - src/jobs/yfinance_etl/fund_comp2.py identify_peer_funds (dim join)
  *  - src/jobs/yfinance_etl/app.py plot_graphs candlestick (OHLC resample)
  *  - src/jobs/yfinance_etl/app.py fetch_data (wide pivot)
  */
object Relational {

  /** Money columns carry exactly 2 decimal places, so summing them
    * as DECIMAL is exact and engine/order-independent — unlike
    * double sums, whose accumulation-order jitter outgrows any fixed
    * rounding once groups reach millions of rows. Final cast back to
    * double is a unique nearest-value mapping, identical everywhere.
    */
  private val Money = org.apache.spark.sql.types.DecimalType(18, 2)
  private def dsum(c: org.apache.spark.sql.Column) = sum(c.cast(Money)).cast("double")

  /** Flagship pricing rollup (TPC-H Q1 shape): scan-side filter +
    * map-side partial aggregation; one shuffle on the group keys.
    */
  def pricingSummary(lineitem: DataFrame, shipBefore: String = "1998-12-01"): DataFrame =
    lineitem
      .filter(col("l_shipdate") < lit(shipBefore).cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        sum(col("l_extendedprice").cast(Money) * (lit(1).cast(Money) - col("l_discount").cast(Money)))
          .cast("double").as("sum_disc_price"),
        (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        (dsum(col("l_discount")) / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order")
      )
      .orderBy("l_returnflag", "l_linestatus")

  /** ETL transform: project/rename to the reference's record shape
    * with string-formatted date. Pure narrow projection — no shuffle.
    */
  def projectTransform(events: DataFrame): DataFrame =
    events.select(
      col("event_id"),
      col("user_id").as("ticker_id"),
      col("event_type").as("field"),
      col("value").as("px"),
      date_format(col("ts"), "yyyy-MM-dd").as("px_date")
    )

  /** Validation + range filter: normalize a key column and constrain
    * the scan to a window; predicates reach PushedFilters.
    */
  def validateFilter(events: DataFrame, types: Seq[String], startTs: String, endTs: String): DataFrame =
    events
      .filter(col("ts") >= lit(startTs).cast("timestamp") && col("ts") < lit(endTs).cast("timestamp"))
      .filter(upper(col("event_type")).isin(types.map(_.toUpperCase): _*))
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"), col("value"))

  /** Latest observation per key (the reference keeps one row per
    * ticker): single shuffle by key, window rank, filter.
    */
  def latestPerKey(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
    events
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("ts"), col("event_type"), col("value"))
  }

  /** Dimension enrichment (peer-group lookup analog): small dims are
    * broadcast so the fact table never shuffles.
    */
  def dimJoin(customer: DataFrame, nation: DataFrame, region: DataFrame): DataFrame =
    customer
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region_name"), col("n_name").as("nation_name"))
      .agg(
        count(lit(1)).as("n_customers"),
        dsum(col("c_acctbal")).as("total_acctbal")
      )

  /** Per-symbol metadata enrichment (ETF expense-ratio/AUM/category
    * analog, reference app.py:381-407 fetch_etf_metadata): left-join
    * a metadata dim onto any fact/bar frame. The
    * dim is one row per symbol — broadcast unconditionally, so the
    * fact side never shuffles, and rows without metadata survive.
    */
  def enrichWithMeta(fact: DataFrame, meta: DataFrame, key: String = "symbol"): DataFrame =
    fact.join(broadcast(meta), Seq(key), "left")

  /** TPC-H Q17-shaped small-quantity revenue: per brand, the revenue
    * sitting in lineitems whose quantity is below `frac` of that
    * PART's average quantity — a correlated scalar subquery per
    * part. Declared through SQL so Catalyst's subquery decorrelation
    * does the heavy lifting: RewriteCorrelatedScalarSubquery turns
    * the per-row subquery into ONE aggregate over lineitem grouped
    * by l_partkey joined back on the key — lineitem is scanned
    * twice, never once per row (PlanAuditSpec red-bars any
    * ScalarSubquery surviving into the physical plan). Determinism:
    * quantities are integer-valued doubles, so avg = exact-sum/cnt
    * is bit-identical on every engine, and revenue accumulates in
    * DECIMAL before one cast to double.
    */
  def smallQuantityRevenue(lineitem: DataFrame, part: DataFrame, frac: Double = 0.2): DataFrame = {
    val spark = lineitem.sparkSession
    lineitem.createOrReplaceTempView("graft_q17_lineitem")
    part.createOrReplaceTempView("graft_q17_part")
    spark.sql(s"""
      |SELECT p.p_brand AS brand,
      |  CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly,
      |  count(*) AS n_lines
      |FROM graft_q17_lineitem l JOIN graft_q17_part p ON p.p_partkey = l.l_partkey
      |WHERE l.l_quantity < (
      |  SELECT CAST($frac AS DOUBLE) * avg(l2.l_quantity)
      |  FROM graft_q17_lineitem l2 WHERE l2.l_partkey = l.l_partkey)
      |GROUP BY p.p_brand
      |""".stripMargin)
  }

  /** TPC-H Q20-shaped qualified suppliers: suppliers having at least
    * one lineitem on a name-matched part whose quantity exceeds
    * `frac` of that part's average — a nested EXISTS containing an
    * IN subquery AND a scalar subquery correlated to the MIDDLE
    * query (which itself correlates to the outer supplier row).
    * Exercises the full decorrelation chain: EXISTS -> left-semi
    * join on s_suppkey, IN -> semi join on p_partkey, inner scalar
    * -> grouped aggregate joined on l_partkey. Same
    * per-row-re-execution red-bar as [[smallQuantityRevenue]].
    */
  def qualifiedSuppliers(supplier: DataFrame, part: DataFrame, lineitem: DataFrame,
                         namePrefix: String = "hot gear", frac: Double = 1.8): DataFrame = {
    val spark = supplier.sparkSession
    require(!namePrefix.contains("'"), s"namePrefix must not contain quotes: $namePrefix")
    supplier.createOrReplaceTempView("graft_q20_supplier")
    part.createOrReplaceTempView("graft_q20_part")
    lineitem.createOrReplaceTempView("graft_q20_lineitem")
    spark.sql(s"""
      |SELECT s.s_suppkey, s.s_name, s.s_acctbal
      |FROM graft_q20_supplier s
      |WHERE EXISTS (
      |  SELECT 1 FROM graft_q20_lineitem l
      |  WHERE l.l_suppkey = s.s_suppkey
      |    AND l.l_partkey IN
      |      (SELECT p_partkey FROM graft_q20_part WHERE p_name LIKE '$namePrefix%')
      |    AND l.l_quantity > (
      |      SELECT CAST($frac AS DOUBLE) * avg(l2.l_quantity)
      |      FROM graft_q20_lineitem l2
      |      WHERE l2.l_partkey = l.l_partkey))
      |""".stripMargin)
  }

  /** TPC-H Q2-shaped minimum-cost supplier: for every small part,
    * the supplier(s) whose lineitem unit price equals that part's
    * MINIMUM unit price — the classic correlated scalar-min
    * subquery in an equality predicate (TPC-H Q2's partsupp min-cost
    * shape on this schema's lineitem link). Catalyst decorrelates
    * the per-part min into ONE aggregate over lineitem grouped by
    * l_partkey joined back on the key — the same
    * no-ScalarSubquery-survives red-bar as [[smallQuantityRevenue]].
    * Determinism: unit price is one IEEE division of fixture
    * doubles, computed identically in both engines, so the equality
    * against min() matches bit-for-bit; DISTINCT collapses multiple
    * min-price lineitems of the same (part, supplier).
    */
  def minCostSupplier(part: DataFrame, supplier: DataFrame, nation: DataFrame,
                      lineitem: DataFrame, maxSize: Int = 10): DataFrame = {
    val spark = part.sparkSession
    part.createOrReplaceTempView("graft_q2_part")
    supplier.createOrReplaceTempView("graft_q2_supplier")
    nation.createOrReplaceTempView("graft_q2_nation")
    lineitem.createOrReplaceTempView("graft_q2_lineitem")
    spark.sql(s"""
      |SELECT DISTINCT p.p_partkey, p.p_name, s.s_suppkey, s.s_name, n.n_name,
      |  round(l.l_extendedprice / l.l_quantity, 6) AS unit_cost
      |FROM graft_q2_part p
      |JOIN graft_q2_lineitem l ON l.l_partkey = p.p_partkey
      |JOIN graft_q2_supplier s ON s.s_suppkey = l.l_suppkey
      |JOIN graft_q2_nation n ON n.n_nationkey = s.s_nationkey
      |WHERE p.p_size <= $maxSize
      |  AND l.l_quantity > 0
      |  AND l.l_extendedprice / l.l_quantity = (
      |    SELECT min(l2.l_extendedprice / l2.l_quantity)
      |    FROM graft_q2_lineitem l2
      |    WHERE l2.l_partkey = p.p_partkey AND l2.l_quantity > 0)
      |""".stripMargin)
  }

  /** TPC-H Q22-shaped dormant rich customers: per market segment,
    * the count and total balance of customers whose balance exceeds
    * the positive-balance average AND who placed no LARGE order
    * (o_totalprice > minOrderTotal; the fixture's order stream is
    * dense, so plain "no orders" is empty at every SF) —
    * uncorrelated scalar subqueries + NOT EXISTS, the Q22 plan
    * shape (scalars evaluate once and broadcast; NOT EXISTS plans a
    * left-anti join with the price filter pushed to the orders
    * scan, never a per-row probe). The threshold compare is
    * CROSS-MULTIPLIED into DECIMAL space (bal * n_pos > sum_pos),
    * so no engine ever averages doubles in partition order — the
    * [[graft.operators.TimeSeries.portfolioTurnover]] exactness
    * recipe applied to a predicate.
    */
  def dormantRichCustomers(customer: DataFrame, orders: DataFrame,
                           minOrderTotal: Double = 400000.0): DataFrame = {
    val spark = customer.sparkSession
    customer.createOrReplaceTempView("graft_q22_customer")
    orders.createOrReplaceTempView("graft_q22_orders")
    spark.sql(s"""
      |SELECT c.c_mktsegment AS segment,
      |  count(*) AS n_custs,
      |  CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
      |FROM graft_q22_customer c
      |WHERE CAST(c.c_acctbal AS DECIMAL(18,2)) *
      |    (SELECT CAST(count(*) AS DECIMAL(12,0)) FROM graft_q22_customer WHERE c_acctbal > 0)
      |  > (SELECT sum(CAST(c_acctbal AS DECIMAL(18,2))) FROM graft_q22_customer WHERE c_acctbal > 0)
      |  AND NOT EXISTS (SELECT 1 FROM graft_q22_orders o
      |    WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > CAST($minOrderTotal AS DOUBLE))
      |GROUP BY c.c_mktsegment
      |""".stripMargin)
  }

  /** TPC-H Q12-shaped priority-class rollup: per return flag, how
    * many shipped lines belong to critical- vs normal-priority
    * orders inside a ship-date window. Date bounds push to the
    * lineitem scan; one fact⋈fact equi-join + CASE-count aggregate
    * (map-side partials) — counts exact longs.
    */
  def shipPriorityClasses(lineitem: DataFrame, orders: DataFrame,
                          from: String, to: String): DataFrame = {
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    lineitem
      .filter(col("l_shipdate") >= lit(from).cast("timestamp") &&
        col("l_shipdate") < lit(to).cast("timestamp"))
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(
        sum(when(high, 1L).otherwise(0L)).as("high_count"),
        sum(when(high, 0L).otherwise(1L)).as("low_count"))
  }

  /** TPC-H Q14-shaped promo revenue share: the percentage of
    * windowed revenue sitting on promo-type parts. Both sums
    * accumulate in DECIMAL (exact, order-independent), one IEEE
    * division at the end; the part dim broadcasts.
    */
  def promoRevenueShare(lineitem: DataFrame, part: DataFrame,
                        from: String, to: String): DataFrame = {
    val rev = col("l_extendedprice").cast(Money) * (lit(1).cast(Money) - col("l_discount").cast(Money))
    lineitem
      .filter(col("l_shipdate") >= lit(from).cast("timestamp") &&
        col("l_shipdate") < lit(to).cast("timestamp"))
      .join(broadcast(part), col("p_partkey") === col("l_partkey"))
      .agg(
        (lit(100.0) * coalesce(sum(when(col("p_type") === "PROMO", rev)), lit(0).cast(Money)).cast("double") /
          sum(rev).cast("double")).as("promo_share"),
        sum(rev).cast("double").as("total_revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** TPC-H Q19-shaped disjunctive-predicate join: revenue over an
    * OR of (brand, size-range, quantity-range) conjunct groups —
    * the classic "predicate too disjunctive to fully push" shape.
    * The part dim still broadcasts and the join stays equi-keyed;
    * the OR evaluates post-join inside codegen. DECIMAL revenue.
    */
  def brandSizeQtyRevenue(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val rev = col("l_extendedprice").cast(Money) * (lit(1).cast(Money) - col("l_discount").cast(Money))
    val clause =
      (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) && col("l_quantity").between(1, 20)) ||
      (col("p_brand") === "Brand#2" && col("p_size").between(10, 30) && col("l_quantity").between(10, 35)) ||
      (col("p_brand") === "Brand#3" && col("p_size").between(20, 50) && col("l_quantity").between(20, 50))
    lineitem
      .join(broadcast(part), col("p_partkey") === col("l_partkey"))
      .filter(clause)
      .agg(sum(rev).cast("double").as("revenue"), count(lit(1)).as("n_lines"))
  }

  /** TPC-H Q21-shaped waiting suppliers: suppliers whose line on a
    * FINISHED multi-supplier order shipped late (past orderdate +
    * lateDays) while every OTHER supplier's line on that order was
    * on time — EXISTS + correlated NOT EXISTS against the same
    * fact, the heaviest decorrelation shape in the TPC-H family
    * (left-semi + left-anti self-joins on l_orderkey, never a
    * per-row probe). Counts exact; top-k by count with a name
    * tiebreak.
    */
  def waitingSuppliers(supplier: DataFrame, lineitem: DataFrame, orders: DataFrame,
                       lateDays: Int = 45, k: Int = 20): DataFrame = {
    val spark = supplier.sparkSession
    supplier.createOrReplaceTempView("graft_q21_supplier")
    lineitem.createOrReplaceTempView("graft_q21_lineitem")
    orders.createOrReplaceTempView("graft_q21_orders")
    spark.sql(s"""
      |SELECT s.s_name, count(*) AS numwait
      |FROM graft_q21_supplier s, graft_q21_lineitem l1, graft_q21_orders o
      |WHERE o.o_orderkey = l1.l_orderkey AND l1.l_suppkey = s.s_suppkey
      |  AND o.o_orderstatus = 'F'
      |  AND l1.l_shipdate > o.o_orderdate + INTERVAL $lateDays DAY
      |  AND EXISTS (SELECT 1 FROM graft_q21_lineitem l2
      |    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM graft_q21_lineitem l3
      |    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      |      AND l3.l_shipdate > o.o_orderdate + INTERVAL $lateDays DAY)
      |GROUP BY s.s_name
      |ORDER BY numwait DESC, s_name ASC
      |LIMIT $k
      |""".stripMargin)
  }

  /** Bloom semi-join reduction: at 100 TB the dominant cost of a
    * selective fact⋈dim join is shuffling fact rows that will find
    * no match. Build a Bloom bitset of the dim join keys (the
    * [[Dedup.bloomBitset]] treeAggregate — order-independent, so
    * the bitset is deterministic), probe it on the fact SCAN before
    * any exchange (codegen'd xxhash64/getbit built-ins, no UDF),
    * and run the exact join on the survivors. Bloom filters have no
    * false negatives, so the result is EXACTLY the plain join —
    * the bitset only controls how many non-matching rows pay the
    * shuffle (false positives cost transport, never correctness).
    * The runtime analog Spark plans itself
    * (spark.sql.optimizer.runtime.bloomFilter) applies the same
    * idea; this operator makes it explicit, sized, and reusable
    * across stages.
    */
  def bloomFilteredJoin(fact: DataFrame, dim: DataFrame, factKey: String, dimKey: String,
                        mBits: Int = 1 << 20, k: Int = 5): DataFrame = {
    val bits = Dedup.bloomBitset(dim.select(col(dimKey)), dimKey, mBits, k)
    fact
      .filter(Dedup.bloomProbe(col(factKey), bits, k))
      .join(dim, col(factKey) === col(dimKey))
  }

  /** Star-join rollup: revenue by nation for a marketsegment — joins
    * ordered fact-first, dims broadcast, aggregation partial map-side.
    */
  def revenueByNation(
      lineitem: DataFrame,
      orders: DataFrame,
      customer: DataFrame,
      nation: DataFrame,
      segment: String
  ): DataFrame =
    lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(customer.filter(col("c_mktsegment") === segment), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation_name"))
      .agg(
        sum(col("l_extendedprice").cast(Money) * (lit(1).cast(Money) - col("l_discount").cast(Money)))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_lines")
      )

  /** TPC-H Q3-shaped shipping-priority scan: segment-filtered
    * customers joined to date-bounded orders and lineitems, exact
    * DECIMAL revenue per order, global top-N. The date cutoffs push
    * into BOTH fact scans (PushedFilters on o_orderdate AND
    * l_shipdate — asserted in PlanAuditSpec), the segment filter
    * prunes customer before its join, and the top-N is
    * orderBy+limit with a total order (revenue desc, orderkey), so
    * Spark plans TakeOrderedAndProject — per-partition heaps merged
    * on the driver, never a single-partition global sort of the
    * per-order aggregate (which at 100 TB is itself a big table).
    */
  def shippingPriority(customer: DataFrame, orders: DataFrame, lineitem: DataFrame,
                       segment: String, cutoff: String, n: Int = 10): DataFrame = {
    val cut = lit(cutoff).cast("timestamp")
    val c   = customer.filter(col("c_mktsegment") === segment).select("c_custkey")
    val o   = orders.filter(col("o_orderdate") < cut)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"), col("o_orderpriority"))
    val l = lineitem.filter(col("l_shipdate") > cut)
      .select(col("l_orderkey"),
        (col("l_extendedprice").cast(Money) * (lit(1).cast(Money) - col("l_discount").cast(Money)))
          .as("rev"))
    val top = l
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(col("rev")).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(n)
    // rnk over the already-reduced n rows only
    top
      .withColumn("rnk",
        row_number().over(Window.orderBy(col("revenue").desc, col("l_orderkey").asc)).cast("long"))
      .select(col("l_orderkey"), date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        col("o_orderpriority"), col("revenue"), col("rnk"))
  }

  /** TPC-H Q18-shaped large-volume customers: orders whose total
    * line quantity exceeds `minQty`, with their customer. The HAVING
    * aggregate doubles as the semi-join side AND the quantity
    * payload: lineitem is scanned ONCE, reduced to one row per
    * qualifying order (exact DECIMAL sum), and the tiny survivor set
    * joins orders/customer — where classic Q18 rejoins and
    * re-aggregates lineitem a second time. AQE broadcasts the
    * survivor side at runtime.
    */
  def largeVolumeCustomers(customer: DataFrame, orders: DataFrame, lineitem: DataFrame,
                           minQty: Double): DataFrame = {
    val big = lineitem
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity").cast(Money)).as("qty"))
      .filter(col("qty") > minQty)
    orders
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(customer, col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        col("o_totalprice"), col("qty").cast("double").as("order_qty"))
  }

  /** Wide date x key matrix (the reference's multi-ticker close-price
    * frame): pivot over a FIXED key set so the plan stays static and
    * the shuffle is a single groupBy.
    */
  def pivotWide(events: DataFrame, types: Seq[String], fillZero: Boolean = false): DataFrame = {
    val wide = events
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .pivot("event_type", types)
      .agg(sum(col("value").cast(Money)).cast("double"))
    // fillZero mirrors the reference's fillna(0) on the sector matrix
    // (app.py:596) — absent cells read as 0 contribution, not null
    if (fillZero) wide.na.fill(0.0, types) else wide
  }

  /** Symbol/name search (reference app.py:429-436 search_stocks):
    * case-insensitive contains filter, ranked exact < prefix <
    * contains. The filter is a codegen'd scan predicate; ranking is
    * a per-row CASE — no shuffle before the final order.
    */
  def symbolSearch(dim: DataFrame, query: String, keyCol: String, nameCol: String): DataFrame = {
    val name = lower(col(nameCol))
    val q    = query.toLowerCase
    dim
      .filter(name.contains(q))
      .select(
        col(keyCol),
        col(nameCol),
        when(name === q, 0L)
          .when(name.startsWith(q), 1L)
          .otherwise(2L)
          .as("match_rank"))
  }

  /** Interval OHLC resample (candlestick analog): per key+interval
    * bar with deterministic open/close via arg-min/arg-max on ts —
    * (user_id, ts) is unique so ties cannot occur. `truncUnit` is any
    * date_trunc grain (day/week/month/quarter/year), honoring the
    * user-selected chart interval (reference app.py:470-475
    * candlestick, streamlit_app.py:280-290 interval fetch); week
    * starts Monday in both Spark and ANSI engines.
    */
  def ohlcResample(events: DataFrame, truncUnit: String = "day"): DataFrame =
    events
      .groupBy(col("user_id"), date_trunc(truncUnit, col("ts")).as("bar_start"))
      .agg(
        min_by(col("value"), col("ts")).as("open"),
        max("value").as("high"),
        min("value").as("low"),
        max_by(col("value"), col("ts")).as("close"),
        count(lit(1)).as("n_obs")
      )

  /** Wide-to-long melt of the OHLC bar frame — the inverse ETL shape
    * of [[ohlcResample]]'s wide row (and of the q_pivot_wide matrix):
    * (key, bar, open, high, low, close) unpivots to one row per
    * (key, bar, field). Spark's native unpivot plans a single Expand
    * over the bar scan — a per-row fan-out in the SAME stage, zero
    * extra shuffle beyond the bar groupBy (the melt itself never
    * exchanges). The field axis is a 4-value bounded dim, so output
    * is exactly 4x the bar count at any scale.
    */
  def unpivotOhlc(events: DataFrame): DataFrame =
    ohlcResample(events)
      .unpivot(
        Array(col("user_id"), col("bar_start")),
        Array(col("open"), col("high"), col("low"), col("close")),
        "field", "px")

  /** Q6-style single-pass filter + global aggregate: every predicate
    * reaches the scan; no shuffle at all (partial aggs + one final
    * reduce).
    */
  def filterAgg(lineitem: DataFrame, shipFrom: String, shipTo: String): DataFrame =
    lineitem
      .filter(
        col("l_shipdate") >= lit(shipFrom).cast("timestamp") &&
          col("l_shipdate") < lit(shipTo).cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(sum(col("l_extendedprice").cast(Money) * col("l_discount").cast(Money))
        .cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))

  /** EXISTS-style rollup via left-semi join: orders with at least one
    * qualifying line item, counted by priority. The semi join only
    * ships join keys — no payload duplication.
    */
  def semiJoinPriority(orders: DataFrame, lineitem: DataFrame, minQty: Double): DataFrame =
    orders
      .join(lineitem.filter(col("l_quantity") > minQty), col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))

  /** NOT-EXISTS via left-anti join: customers with no high-value
    * order, by market segment. The price filter lands on the orders
    * scan before the anti join ships any keys.
    */
  def antiJoinIdle(customer: DataFrame, orders: DataFrame, minPrice: Double): DataFrame =
    customer
      .join(orders.filter(col("o_totalprice") > minPrice), col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_idle_customers"))

  /** Set difference on keys (EXCEPT DISTINCT): segment members with
    * no qualifying order.
    */
  def exceptKeys(customer: DataFrame, orders: DataFrame, segment: String, minPrice: Double): DataFrame =
    customer.filter(col("c_mktsegment") === segment).select(col("c_custkey"))
      .except(orders.filter(col("o_totalprice") > minPrice).select(col("o_custkey").as("c_custkey")))

  /** Set intersection on keys (INTERSECT DISTINCT): segment members
    * who do have a qualifying order.
    */
  def intersectKeys(customer: DataFrame, orders: DataFrame, segment: String, minPrice: Double): DataFrame =
    customer.filter(col("c_mktsegment") === segment).select(col("c_custkey"))
      .intersect(orders.filter(col("o_totalprice") > minPrice).select(col("o_custkey").as("c_custkey")))

  /** Semi-structured extraction: pull a typed field out of a JSON
    * props column (codegen'd path, no UDF) and aggregate on it.
    */
  def jsonExtractAgg(events: DataFrame): DataFrame =
    events
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      // avg over integers: the sum is exact in double (< 2^53), so
      // the average is engine-deterministic unrounded
      .agg(count(lit(1)).as("n"), avg(col("k")).as("avg_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))

  /** Calendar feature extraction for model inputs (all codegen'd
    * datetime functions; day-of-week normalized to Sunday=0 to keep
    * engines aligned).
    */
  def timeFeatures(events: DataFrame): DataFrame =
    events.select(
      col("event_id"),
      year(col("ts")).cast("long").as("yr"),
      month(col("ts")).cast("long").as("mo"),
      (dayofweek(col("ts")) - 1).cast("long").as("dow"),
      dayofyear(col("ts")).cast("long").as("doy"),
      hour(col("ts")).cast("long").as("hr"))

  /** Skew-resistant equi-join: the fact side gets a deterministic
    * salt in [0, nSalts) derived from a row key, the dim side is
    * replicated once per salt, and the join runs on (key, salt) — a
    * hot key's rows spread over nSalts reducers instead of one.
    * Results are identical to the plain join (asserted in spec).
    * AQE's skew-join handles the moderate cases automatically; this
    * is the explicit tool for pathological keys.
    */
  def saltedJoin(
      fact: DataFrame,
      dim: DataFrame,
      factKey: String,
      dimKey: String,
      saltSource: String,
      nSalts: Int
  ): DataFrame = {
    val salted = fact.withColumn("__salt", pmod(col(saltSource), lit(nSalts)))
    val replicated = dim.crossJoin(
      broadcast(dim.sparkSession.range(nSalts).select(col("id").as("__salt"))))
    salted
      .join(replicated, salted("__salt") === replicated("__salt") && col(factKey) === col(dimKey))
      .drop("__salt")
  }

  /** Auto-routed [[saltedJoin]] (the q_ema routing move applied to
    * the skew remedy): a CHEAP sampled probe of the fact side's key
    * histogram decides per call whether salting pays — the modal
    * key's sampled share is compared against `skewFactor` times a
    * fair 1/shuffle-partitions share, and only a genuinely hot key
    * takes the salted plan. Uniform keys keep the plain equi-join
    * (salting costs ~nSalts dim replication + a wider shuffle key —
    * the measured ~46% uniform-key penalty this routing removes);
    * pathological keys keep the measured ~2.6x salted win. The probe
    * is ONE bounded extra action: a `sampleFraction` Bernoulli
    * sample reduced to per-key counts (at 100 TB, shrink the
    * fraction — the decision needs only the modal share, not exact
    * counts). Routing affects the PLAN only: both branches produce
    * identical rows (saltedJoin's spec-asserted result equivalence),
    * so a sampling flip can never change results — the property that
    * makes a sampled router safe on a deterministic gate.
    */
  def saltedJoinAuto(
      fact: DataFrame,
      dim: DataFrame,
      factKey: String,
      dimKey: String,
      saltSource: String,
      nSalts: Int,
      sampleFraction: Double = 0.05,
      skewFactor: Double = 4.0
  ): DataFrame = {
    val parts = fact.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val probe = Materialize.named("head Relational.saltedJoinAuto.probe") {
      fact.select(col(factKey).as("__k"))
        .sample(withReplacement = false, sampleFraction, seed = 42)
        .groupBy(col("__k")).agg(count(lit(1)).as("__c"))
        .agg(max(col("__c")).as("cmax"), sum(col("__c")).as("ctot"))
        .head()
    }
    // threshold = min(0.5, skewFactor/parts): proportional to the
    // fair per-reducer share, but a key holding half the rows is
    // ALWAYS a straggler worth salting — without the cap, small
    // partition counts would demand an impossible >100% share
    val threshold = math.min(0.5, skewFactor / parts)
    val skewed = !probe.isNullAt(0) && probe.getLong(1) > 0 &&
      probe.getLong(0).toDouble > threshold * probe.getLong(1).toDouble
    if (skewed) saltedJoin(fact, dim, factKey, dimKey, saltSource, nSalts)
    else fact.join(dim, col(factKey) === col(dimKey))
  }

  /** SCD2-style validity intervals from a change stream: each
    * observation's value is valid from its own timestamp until the
    * next observation of the same key (null = still current). One
    * lead window per key — the standard dimension-history build.
    */
  def scd2Intervals(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    events.select(
      col("user_id"),
      col("value"),
      col("ts").as("valid_from"),
      lead(col("ts"), 1).over(w).as("valid_to"),
      col("event_id"))
  }

  /** Point-in-interval (range) join: each fact row picks up the
    * interval containing its timestamp, per key. Spark plans a naive
    * `BETWEEN` join as a nested loop — O(facts × intervals) per key;
    * this instead unions interval-open markers into the fact stream
    * and forward-fills the current interval along ONE per-key sort
    * (the TimeSeries.asOfJoin shape), then keeps facts that fall
    * before their interval's end: O((n+m) log(n+m)) on one shuffle.
    *
    * Match semantics: the LATEST-STARTING interval containing the
    * fact wins, and intervals must be start-monotone per key (ends
    * non-decreasing in starts — e.g. fixed-duration or
    * non-overlapping): forward-fill tracks only the latest-started
    * interval, so an earlier interval that outlives a later one
    * would be unreachable. Interval starts must be unique per key
    * (dedupe upstream) — two intervals opening on the same tick
    * would fill nondeterministically. Boundary: `[from, to)` —
    * interval markers sort before facts on the same tick.
    *
    * `validate = true` enforces both preconditions inline (one extra
    * per-key window over the INTERVALS side only): a duplicate start
    * or a regressing interval end raises a task error naming the key
    * instead of silently dropping facts or filling
    * nondeterministically — the same fail-loudly contract as
    * EmaAggregate's buffer cap. Off by default: the check costs a
    * second sort of the (typically small) interval side.
    */
  def intervalJoin(facts: DataFrame, intervals: DataFrame,
                   key: String = "user_id", ts: String = "ts",
                   from: String = "ivl_from", to: String = "ivl_to",
                   ivlVal: String = "ivl_val",
                   validate: Boolean = false): DataFrame = {
    val checked = if (!validate) intervals else {
      val wk       = Window.partitionBy(key).orderBy(col(from), col(to))
      val prevFrom = lag(col(from), 1).over(wk)
      val prevTo   = lag(col(to), 1).over(wk)
      // the guard replaces `from`, which downstream uses — so column
      // pruning can never drop the check out of the plan
      intervals.withColumn(from,
        when(prevFrom.isNotNull && col(from) === prevFrom,
          raise_error(format_string(
            "intervalJoin: duplicate interval start for key %s at %s",
            col(key).cast("string"), col(from).cast("string"))))
          .when(prevTo.isNotNull && col(to) < prevTo,
            raise_error(format_string(
              "intervalJoin: interval end regresses in start order for key %s at %s",
              col(key).cast("string"), col(from).cast("string"))))
          .otherwise(col(from)))
    }
    val ivlStruct = struct(col(from).as("f"), col(to).as("u"), col(ivlVal).as("v"))
    val d = checked.select(
      col(key), col(from).as("__t"), lit(0L).as("__ord"), ivlStruct.as("__ivl"),
      lit(null).cast("long").as("event_id"), lit(null).cast("double").as("value"))
    val f = facts.select(
      col(key), col(ts).as("__t"), lit(1L).as("__ord"),
      lit(null).cast(d.schema("__ivl").dataType).as("__ivl"),
      col("event_id"), col("value"))
    val w = Window.partitionBy(key).orderBy(col("__t"), col("__ord"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d.unionByName(f)
      .withColumn("__cur", last(col("__ivl"), ignoreNulls = true).over(w))
      .filter(col("__ord") === 1L && col("__cur").isNotNull && col("__t") < col("__cur")("u"))
      .select(col(key), unix_micros(col("__t")).as("ts_us"), col("event_id"), col("value"),
        unix_micros(col("__cur")("f")).as("ivl_from_us"), col("__cur")("v").as("ivl_val"))
  }

  /** TPC-H Q4-shaped late-order priority check: per order priority,
    * how many orders in a date window have at least one line shipped
    * more than `lateDays` after the order date. The EXISTS is a
    * LEFT-SEMI join whose condition mixes the equi key with a
    * non-equi date comparison — Spark keeps l_orderkey=o_orderkey as
    * the shuffle key and evaluates the date conjunct inside the join,
    * so the probe never degenerates to a per-row subquery. The order
    * window pushes to the orders scan. Counts exact longs.
    */
  def latePriorityOrders(orders: DataFrame, lineitem: DataFrame,
                         from: String, to: String, lateDays: Int = 30): DataFrame =
    orders
      .filter(col("o_orderdate") >= lit(from).cast("timestamp") &&
        col("o_orderdate") < lit(to).cast("timestamp"))
      .join(lineitem,
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr(s"INTERVAL $lateDays DAY"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))

  /** TPC-H Q5-shaped local-supplier volume: revenue per nation where
    * the ordering customer and the shipping supplier sit in the SAME
    * nation, restricted to one region and an order-date window. The
    * fact chain shuffles on its natural keys; supplier/nation/region
    * broadcast; the c_nationkey = s_nationkey condition rides the
    * supplier join as an extra conjunct (never a post-join filter on
    * a cartesian). DECIMAL revenue.
    */
  def localSupplierVolume(customer: DataFrame, orders: DataFrame, lineitem: DataFrame,
                          supplier: DataFrame, nation: DataFrame, region: DataFrame,
                          regionName: String, from: String, to: String): DataFrame = {
    val rev = col("l_extendedprice").cast(Money) * (lit(1).cast(Money) - col("l_discount").cast(Money))
    lineitem
      .join(orders.filter(col("o_orderdate") >= lit(from).cast("timestamp") &&
          col("o_orderdate") < lit(to).cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(supplier),
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region.filter(col("r_name") === regionName)),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name").as("nation_name"))
      .agg(sum(rev).cast("double").as("revenue"), count(lit(1)).as("n_lines"))
  }

  /** TPC-H Q7-shaped bilateral shipping volume: revenue by
    * (supplier nation, customer nation, ship year) for one nation
    * PAIR in both directions — the disjunctive two-nation predicate
    * evaluates over two broadcast copies of the nation dim, so the
    * fact chain still shuffles only on its equi keys. Year comes
    * from l_shipdate (this schema's only line date). DECIMAL revenue.
    */
  def volumeShipping(supplier: DataFrame, lineitem: DataFrame, orders: DataFrame,
                     customer: DataFrame, nation: DataFrame,
                     nationA: String, nationB: String): DataFrame = {
    val rev = col("l_extendedprice").cast(Money) * (lit(1).cast(Money) - col("l_discount").cast(Money))
    val n1  = broadcast(nation.select(col("n_nationkey").as("n1_key"), col("n_name").as("supp_nation")))
    val n2  = broadcast(nation.select(col("n_nationkey").as("n2_key"), col("n_name").as("cust_nation")))
    lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(supplier), col("l_suppkey") === col("s_suppkey"))
      .join(n1, col("s_nationkey") === col("n1_key"))
      .join(n2, col("c_nationkey") === col("n2_key"))
      .filter((col("supp_nation") === nationA && col("cust_nation") === nationB) ||
        (col("supp_nation") === nationB && col("cust_nation") === nationA))
      .groupBy(col("supp_nation"), col("cust_nation"), year(col("l_shipdate")).as("ship_year"))
      .agg(sum(rev).cast("double").as("revenue"), count(lit(1)).as("n_lines"))
  }

  /** TPC-H Q8-shaped market share: per order year, the share of a
    * region's part-type revenue supplied from one target nation.
    * Both the share's numerator (CASE-guarded) and denominator are
    * exact DECIMAL sums over the same aggregate pass — one scan, one
    * shuffle — with a single IEEE division at the end (rounded 6dp
    * on both engines). Dims broadcast; the region filter prunes the
    * customer side through nation.
    */
  def marketShare(part: DataFrame, supplier: DataFrame, lineitem: DataFrame,
                  orders: DataFrame, customer: DataFrame, nation: DataFrame,
                  region: DataFrame, targetNation: String, regionName: String,
                  pType: String): DataFrame = {
    val rev = col("l_extendedprice").cast(Money) * (lit(1).cast(Money) - col("l_discount").cast(Money))
    val custNation = broadcast(nation.select(col("n_nationkey").as("cn_key"), col("n_regionkey").as("cn_region")))
    val suppNation = broadcast(nation.select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation")))
    lineitem
      .join(broadcast(part.filter(col("p_type") === pType)), col("p_partkey") === col("l_partkey"))
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(supplier), col("l_suppkey") === col("s_suppkey"))
      .join(custNation, col("c_nationkey") === col("cn_key"))
      .join(broadcast(region.filter(col("r_name") === regionName)),
        col("cn_region") === col("r_regionkey"))
      .join(suppNation, col("s_nationkey") === col("sn_key"))
      .groupBy(year(col("o_orderdate")).as("order_year"))
      .agg(
        round(
          coalesce(sum(when(col("supp_nation") === targetNation, rev)), lit(0).cast(Money)).cast("double") /
            sum(rev).cast("double"), 6).as("mkt_share"),
        sum(rev).cast("double").as("total_revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** TPC-H Q9-shaped product profit: per (supplier nation, ship
    * year), profit on parts whose name contains `nameToken`, where
    * profit = discounted revenue minus a retail-price cost basis
    * (p_retailprice x quantity x costPct — this schema's stand-in
    * for ps_supplycost). Every term multiplies 2dp DECIMALs, so the
    * whole profit sum is exact and order-independent; the name
    * filter prunes part BEFORE its broadcast.
    */
  def productTypeProfit(part: DataFrame, supplier: DataFrame, lineitem: DataFrame,
                        orders: DataFrame, nation: DataFrame,
                        nameToken: String, costPct: Int = 60): DataFrame = {
    val rev      = col("l_extendedprice").cast(Money) * (lit(1).cast(Money) - col("l_discount").cast(Money))
    val costBase = col("p_retailprice").cast(Money) * col("l_quantity").cast(Money)
    lineitem
      .join(broadcast(part.filter(col("p_name").contains(nameToken))),
        col("p_partkey") === col("l_partkey"))
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supplier), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation_name"), year(col("o_orderdate")).as("order_year"))
      .agg(
        // both sums exact DECIMAL; the pct scale and subtraction are
        // single IEEE ops over their unique double images — written
        // in the same shape on the oracle side, so bit-identical
        round(sum(rev).cast("double") -
          sum(costBase).cast("double") * (lit(costPct.toDouble) / lit(100.0)), 6).as("profit"),
        count(lit(1)).as("n_lines"))
  }

  /** TPC-H Q10-shaped returned-item report: the top-k customers by
    * revenue lost to returned lines (l_returnflag = 'R') for orders
    * placed in a window. The date window pushes to the orders scan
    * and the return flag to the lineitem scan; top-k is
    * orderBy+limit with a total order, so Spark plans
    * TakeOrderedAndProject over the per-customer aggregate — never
    * a global sort of all customers.
    */
  def returnedItemReport(customer: DataFrame, orders: DataFrame, lineitem: DataFrame,
                         nation: DataFrame, from: String, to: String, k: Int = 20): DataFrame = {
    val rev = col("l_extendedprice").cast(Money) * (lit(1).cast(Money) - col("l_discount").cast(Money))
    lineitem
      .filter(col("l_returnflag") === "R")
      .join(orders.filter(col("o_orderdate") >= lit(from).cast("timestamp") &&
          col("o_orderdate") < lit(to).cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name").as("nation_name"))
      .agg(sum(rev).cast("double").as("lost_revenue"), count(lit(1)).as("n_lines"))
      .orderBy(col("lost_revenue").desc, col("c_custkey").asc)
      .limit(k)
  }

  /** TPC-H Q11-shaped important parts: parts whose shipped value
    * from one nation's suppliers exceeds `meanMult` times the MEAN
    * per-part value — the uncorrelated-scalar HAVING shape. (Classic
    * Q11 thresholds on a fixed fraction of the grand total, which
    * empties as the part universe grows — fraction-of-mean is the
    * scale-invariant version of the same plan.) The one-row scalar
    * carries total AND part count from a single re-aggregation of
    * the reduced frame and broadcasts back; the threshold compare
    * cross-multiplies in DECIMAL (value x n > total x mult) so no
    * engine divides doubles.
    */
  def importantParts(lineitem: DataFrame, supplier: DataFrame, nation: DataFrame,
                     nationName: String, meanMult: Long = 2L): DataFrame = {
    val suppIn = broadcast(
      supplier.join(broadcast(nation.filter(col("n_name") === nationName)),
        col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey")))
    // materialize the reduced per-part frame ONCE: the grand total and
    // the filtered output both derive from it, so lineitem is scanned
    // a single time (ReuseExchange does not fire across the two
    // branches — verified empirically — and a second 100 TB fact scan
    // is exactly what this operator exists to avoid)
    val perPart = lineitem
      .join(suppIn, col("l_suppkey") === col("s_suppkey"), "left_semi")
      .groupBy(col("l_partkey"))
      .agg(sum(col("l_extendedprice").cast(Money)).as("value_d"))
      .materialize("Relational.importantParts.perPart")
    val total = perPart.agg(sum(col("value_d")).as("total_d"), count(lit(1)).as("n_parts"))
    perPart
      .crossJoin(broadcast(total))
      .filter(col("value_d") * col("n_parts") > col("total_d") * lit(meanMult))
      .select(col("l_partkey"), col("value_d").cast("double").as("part_value"))
  }

  /** TPC-H Q13-shaped customer order distribution: how many
    * customers placed exactly N qualifying orders (priority filter
    * standing in for Q13's comment NOT LIKE), including the
    * zero-order bucket via a LEFT join. Two aggregates: per-customer
    * counts (shuffle on custkey), then the count-of-counts over the
    * already-reduced frame. Exact longs end to end.
    */
  def custOrderDistribution(customer: DataFrame, orders: DataFrame,
                            exclPriority: String = "5-LOW"): DataFrame =
    customer
      .join(orders.filter(col("o_orderpriority") =!= exclPriority)
          .select(col("o_custkey"), col("o_orderkey")),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))

  /** TPC-H Q15-shaped top supplier: the supplier(s) whose windowed
    * revenue equals the global maximum. Revenue stays DECIMAL
    * through the max-equality (exact, so ties are real ties on both
    * engines, not float accidents); the one-row max broadcasts back
    * over the already-reduced per-supplier frame. Decorrelation
    * red-bar: the scalar max never re-scans lineitem.
    */
  def topSupplier(supplier: DataFrame, lineitem: DataFrame,
                  from: String, to: String): DataFrame = {
    val rev = col("l_extendedprice").cast(Money) * (lit(1).cast(Money) - col("l_discount").cast(Money))
    // one lineitem scan: the max and the equality filter both read the
    // materialized per-supplier aggregate (same rationale as
    // [[importantParts]] — exchange reuse does not fire here)
    val perSupp = lineitem
      .filter(col("l_shipdate") >= lit(from).cast("timestamp") &&
        col("l_shipdate") < lit(to).cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum(rev).as("rev_d"))
      .materialize("Relational.topSupplier.perSupp")
    val mx = perSupp.agg(max(col("rev_d")).as("max_d"))
    perSupp
      .crossJoin(broadcast(mx))
      .filter(col("rev_d") === col("max_d"))
      .join(broadcast(supplier), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("rev_d").cast("double").as("total_revenue"))
  }

  /** TPC-H Q16-shaped supplier diversity: distinct supplier counts
    * per (brand, type, size) over the part-supplier pairs observed
    * in lineitem (this schema's partsupp), excluding one brand, one
    * type, and "complaint" suppliers (negative balance — the NOT IN
    * side planned as a broadcast left-anti). The fact reduces to
    * DISTINCT pairs before any dim join, so the count-distinct
    * aggregate runs over an already-deduplicated frame.
    */
  def supplierCountByPart(part: DataFrame, supplier: DataFrame, lineitem: DataFrame,
                          exclBrand: String = "Brand#1", exclType: String = "PROMO",
                          sizes: Seq[Int] = Seq(1, 5, 10, 15, 20, 25, 30, 35)): DataFrame = {
    val pairs = lineitem.select(col("l_partkey"), col("l_suppkey")).distinct()
    val badSupp = broadcast(supplier.filter(col("s_acctbal") < 0).select(col("s_suppkey")))
    pairs
      .join(badSupp, col("l_suppkey") === col("s_suppkey"), "left_anti")
      .join(broadcast(part.filter(col("p_brand") =!= exclBrand &&
          col("p_type") =!= exclType && col("p_size").isin(sizes.map(Integer.valueOf): _*))),
        col("p_partkey") === col("l_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
  }

  /** Top-N per group (top holdings / peer ranking analog): rank
    * window after a single shuffle on the group key.
    */
  def topNPerGroup(orders: DataFrame, n: Int): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    orders
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= n)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        // long to match the oracle engine's BIGINT row_number
        col("rnk").cast("long").as("rnk"))
  }

  /** SCD1 MERGE (last-writer-wins upsert): apply a change stream to a
    * keyed state table and emit the merged state with per-key action
    * accounting — `insert` (key only in changes), `update` (key in
    * both; the change wins), `carry` (no change arrived). Here the
    * base side is the pre-cutoff history (whose per-key latest is
    * the implied [[latestPerKey]] snapshot — reducing it first would
    * not change the winner) and changes are the at/after-cutoff
    * events, so the operator drives
    * the exact MERGE INTO shape warehouse ETL runs nightly. ONE
    * shuffle: the tagged union window-ranks per key on (ts,
    * event_id) — deterministic under ties — and the presence flags
    * ride the same partitioning as window maxes; nothing rescans the
    * fact. At 100 TB the base side is the (much smaller) current
    * state table, and the union shuffles each side once.
    */
  def mergeUpsert(events: DataFrame, cutoff: String): DataFrame = {
    val base = events.filter(col("ts") < lit(cutoff).cast("timestamp"))
      .select(col("user_id"), col("ts"), col("event_id"), col("value"), lit(1L).as("is_base"))
    val changes = events.filter(col("ts") >= lit(cutoff).cast("timestamp"))
      .select(col("user_id"), col("ts"), col("event_id"), col("value"), lit(0L).as("is_base"))
    val w    = Window.partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
    val wKey = Window.partitionBy("user_id")
    base.unionByName(changes)
      .withColumn("rn", row_number().over(w))
      .withColumn("has_base", max(col("is_base")).over(wKey))
      .withColumn("has_change", max(lit(1L) - col("is_base")).over(wKey))
      .filter(col("rn") === 1)
      .select(col("user_id"),
        org.apache.spark.sql.functions.unix_micros(col("ts")).as("ts_us"),
        col("value"),
        when(col("has_base") === 1L && col("has_change") === 1L, "update")
          .when(col("has_change") === 1L, "insert")
          .otherwise("carry").as("action"))
  }

  /** Market-basket co-occurrence: part pairs appearing in the same
    * order, with support and lift, top-k by co-count — the classic
    * affinity mine. LINEAR by data shape, not banded: the pair space
    * is Σ(items-per-order)² and TPC-H-style orders carry a BOUNDED
    * line count, so the within-order self-join never goes quadratic
    * in the catalog (contrast a naive part×part sweep). Per-part
    * order frequencies are one reduced aggregate joined back on the
    * pair's part keys; the order total rides a broadcast one-row
    * frame; support/lift are IEEE chains over exact longs, 6dp; the
    * top-k is a TakeOrdered heap merge with a full (n_ab desc, pa,
    * pb) tiebreak.
    */
  def basketPairs(lineitem: DataFrame, minCount: Long = 3, k: Int = 25): DataFrame = {
    val op = lineitem.select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    val total = op.select(col("ok")).distinct().agg(count(lit(1)).as("n_orders"))
    val freq  = op.groupBy(col("pk")).agg(count(lit(1)).as("n_p"))
    val pairs = op.select(col("ok"), col("pk").as("pa"))
      .join(op.select(col("ok"), col("pk").as("pb")), "ok")
      .filter(col("pa") < col("pb"))
      .groupBy(col("pa"), col("pb"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minCount)
    pairs
      .join(freq.select(col("pk").as("pa"), col("n_p").as("n_a")), "pa")
      .join(freq.select(col("pk").as("pb"), col("n_p").as("n_b")), "pb")
      .crossJoin(broadcast(total))
      .select(col("pa"), col("pb"), col("n_ab"), col("n_a"), col("n_b"),
        round(col("n_ab").cast("double") / col("n_orders").cast("double"), 6).as("support"),
        round(col("n_ab").cast("double") * col("n_orders").cast("double") /
          (col("n_a").cast("double") * col("n_b").cast("double")), 6).as("lift"))
      .orderBy(col("n_ab").desc, col("pa").asc, col("pb").asc)
      .limit(k)
  }

  /** Revenue cohort matrix over orders: customers bucketed by their
    * first-order month, then per (cohort, month-offset) the active
    * customers and their revenue — q_cohort_retention's shape with
    * money on it (the LTV curve every subscription dashboard wants).
    * First-order month is one customer-keyed min aggregate joined
    * back co-partitioned; the month offset is EXACT integer
    * arithmetic (year·12+month deltas, no float date math); revenue
    * sums as DECIMAL(18,2) — order-independent — and images to
    * double once. Cohort rollup aggregates the already-reduced
    * (customer, month) frame.
    */
  def revenueCohorts(orders: DataFrame): DataFrame = {
    val mIdx = (d: org.apache.spark.sql.Column) => year(d) * 12 + month(d)
    val first = orders.groupBy(col("o_custkey"))
      .agg(min(date_trunc("month", col("o_orderdate"))).as("cohort"))
    orders
      .join(first, "o_custkey")
      .withColumn("offset_m",
        (mIdx(col("o_orderdate")) - mIdx(col("cohort"))).cast("long"))
      .groupBy(col("cohort"), col("offset_m"))
      .agg(
        countDistinct(col("o_custkey")).as("n_customers"),
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("revenue"))
  }

  /** RFM segmentation: per customer, recency (days since last order,
    * vs the corpus end), frequency (order count), monetary (exact
    * DECIMAL revenue), each scored 1–4 against the population
    * quartiles — the classic CRM cut. The quartile thresholds are
    * THREE NUMBERS per metric computed on the already-reduced
    * customer frame and broadcast back (one-row frame), so scoring
    * is a scan-stage CASE chain — never an ntile() global window
    * over the customer population (the single-partition trap at
    * billions of customers). Recency scores INVERTED (recent =
    * high); quartile boundaries use the exact interpolating
    * percentile both engines share, and boundary ties go to the
    * lower bucket (<= cuts) deterministically.
    */
  def rfm(orders: DataFrame): DataFrame = {
    val cust = orders.groupBy(col("o_custkey"))
      .agg(
        max(date_trunc("day", col("o_orderdate"))).as("last_day"),
        count(lit(1)).as("frequency"),
        sum(col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("monetary"))
    val end = orders.agg(date_trunc("day", max(col("o_orderdate"))).as("corpus_end"))
    val base = cust.crossJoin(broadcast(end))
      .withColumn("recency_days", datediff(col("corpus_end"), col("last_day")).cast("long"))
      .drop("corpus_end", "last_day")
    val cuts = base.agg(
      percentile(col("recency_days"), lit(0.25)).as("r1"),
      percentile(col("recency_days"), lit(0.5)).as("r2"),
      percentile(col("recency_days"), lit(0.75)).as("r3"),
      percentile(col("frequency"), lit(0.25)).as("f1"),
      percentile(col("frequency"), lit(0.5)).as("f2"),
      percentile(col("frequency"), lit(0.75)).as("f3"),
      percentile(col("monetary"), lit(0.25)).as("m1"),
      percentile(col("monetary"), lit(0.5)).as("m2"),
      percentile(col("monetary"), lit(0.75)).as("m3"))
    def score(v: org.apache.spark.sql.Column, q1: String, q2: String, q3: String) =
      when(v <= col(q1), 1).when(v <= col(q2), 2).when(v <= col(q3), 3).otherwise(4)
    base.crossJoin(broadcast(cuts))
      .select(col("o_custkey"), col("recency_days"), col("frequency"), col("monetary"),
        // recent = small recency = best: invert the quartile score
        (lit(5) - score(col("recency_days").cast("double"), "r1", "r2", "r3")).as("r_score"),
        score(col("frequency").cast("double"), "f1", "f2", "f3").as("f_score"),
        score(col("monetary"), "m1", "m2", "m3").as("m_score"))
  }

  /** Discount elasticity per brand: OLS of ln(quantity) on the
    * discount rate across a brand's line items — does discounting
    * actually move volume, and for which brands? (slope ≈ %-volume
    * change per discount point; r² says whether price explains
    * anything at all.) One broadcast part-dim join tags each line
    * with its brand, then the regression reduces in ONE aggregate —
    * no window, no second scan. Brand groups grow WITH the corpus,
    * so the moments use the q_welch_ttest determinism recipe instead
    * of regr_* (whose raw double sums drift with partition order at
    * scale): x = the exact 2-dp discount as DECIMAL(18,6), y =
    * ln(quantity) quantized ONCE to DECIMAL(18,6), all five moments
    * accumulate as exact order-independent decimals, and slope/r²
    * are one shared IEEE chain at 6dp. Zero/negative quantities
    * carry no log and drop.
    */
  def discountElasticity(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 6)
    val m = lineitem
      .filter(col("l_quantity") > 0)
      .join(broadcast(part.select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .withColumn("x", col("l_discount").cast(dec))
      .withColumn("y", round(log(col("l_quantity")), 6).cast(dec))
      .groupBy(col("p_brand"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
    val nd   = col("n").cast("double")
    val sxd  = col("sx").cast("double");  val syd  = col("sy").cast("double")
    val sxyd = col("sxy").cast("double"); val sxxd = col("sxx").cast("double")
    val syyd = col("syy").cast("double")
    val covN = nd * sxyd - sxd * syd
    val varX = nd * sxxd - sxd * sxd
    val varY = nd * syyd - syd * syd
    m.select(col("p_brand"), col("n").as("n_lines"),
      round(when(varX > 0, covN / varX), 6).as("elasticity"),
      round(when(varX > 0 && varY > 0, covN * covN / (varX * varY)), 6).as("r2"))
  }

  /** ABC (Pareto) classification of parts by revenue: rank the
    * catalog by exact-DECIMAL revenue, walk the cumulative share,
    * and split at 80%/95% — the inventory-management classic (A
    * items get daily attention, C items an annual glance). The
    * global cumulative sum rides the DISTRIBUTED PREFIX-SUM shape
    * (range-partition the reduced part frame on rank order, local
    * decimal cumsums, broadcast per-bucket offsets — the q_power_
    * users machinery), never a single-partition window over the
    * catalog; class thresholds compare identical doubles imaged
    * from exact decimals. Output is the bounded 3-row class summary.
    */
  def abcClasses(lineitem: DataFrame, nBuckets: Int = 32): DataFrame = {
    val rev = col("l_extendedprice").cast(Money) * (lit(1).cast(Money) - col("l_discount").cast(Money))
    val wLocal = Window.partitionBy("pid")
      .orderBy(col("rev").desc, col("l_partkey").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val wOff = Window.orderBy("pid") // nBuckets rows; pid frozen by Relational.abcClasses.per
      .rowsBetween(Window.unboundedPreceding, -1)
    val per = lineitem.groupBy(col("l_partkey")).agg(sum(rev).as("rev"))
      .repartitionByRange(nBuckets, col("rev").desc, col("l_partkey").asc)
      .withColumn("pid", spark_partition_id())
      .materialize("Relational.abcClasses.per")
    val offsets = per.groupBy(col("pid"))
      .agg(sum(col("rev")).as("t"))
      .select(col("pid").as("opid"),
        coalesce(sum(col("t")).over(wOff), lit(0)).as("off"))
    val total = per.agg(sum(col("rev")).as("total"))
    val share = (col("off") + col("cum_local")).cast("double") / col("total").cast("double")
    per
      .withColumn("cum_local", sum(col("rev")).over(wLocal))
      .join(broadcast(offsets), col("pid") === col("opid"))
      .crossJoin(broadcast(total))
      .withColumn("abc_class",
        when(share <= 0.80, "A").when(share <= 0.95, "B").otherwise("C"))
      .groupBy(col("abc_class"))
      .agg(count(lit(1)).as("n_parts"), sum(col("rev")).as("crev"), max(col("total")).as("tot"))
      .select(col("abc_class"), col("n_parts"),
        col("crev").cast("double").as("class_revenue"),
        (col("crev").cast("double") / col("tot").cast("double")).as("rev_share"))
  }

  /** Join-key skew diagnostic — the one-row report that decides
    * whether a join needs [[saltedJoin]] BEFORE it burns a cluster:
    * per-key row counts reduced in one aggregate, then distribution
    * stats (max, mean, exact p50/p90/p99, max/mean skew ratio) over
    * the REDUCED key frame. At 100 TB the key frame is still one row
    * per distinct key — the percentile runs over keys, never rows —
    * and the single output row is the planning signal. Exact counts;
    * quotients are deliberately UNROUNDED single IEEE divisions.
    */
  def keySkew(df: DataFrame, keyCol: String): DataFrame =
    df.groupBy(col(keyCol)).agg(count(lit(1)).as("n"))
      .agg(
        count(lit(1)).as("n_keys"),
        sum(col("n")).as("n_rows"),
        max(col("n")).as("max_per_key"),
        percentile(col("n"), lit(Array(0.5, 0.9, 0.99))).as("ps"))
      .select(col("n_keys"), col("n_rows"), col("max_per_key"),
        element_at(col("ps"), 1).as("p50"),
        element_at(col("ps"), 2).as("p90"),
        element_at(col("ps"), 3).as("p99"),
        (col("n_rows").cast("double") / col("n_keys")).as("mean_per_key"),
        (col("max_per_key").cast("double") /
          (col("n_rows").cast("double") / col("n_keys"))).as("skew_ratio"))

  /** Table reconciliation — the migration/backfill validator: full
    * outer join of two tables on the business key, comparing a
    * row-content fingerprint, reduced to one summary row (rows only
    * in A, only in B, matching, differing). ONE co-partitioned
    * shuffle on the key; the content compare is a codegen'd md5 over
    * the canonicalized columns, so no wide row ever crosses the
    * network twice. This is how you sign off "the new pipeline
    * produces the old table" at 100 TB without collecting anything.
    */
  def reconcile(a: DataFrame, b: DataFrame, keyCol: String, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "reconcile needs at least one content column")
    def fp(df: DataFrame): DataFrame =
      df.select(col(keyCol),
        md5(concat_ws("", cols.map(c => col(c).cast("string")): _*)).as("fp"))
    fp(a).withColumnRenamed("fp", "fp_a")
      .join(fp(b).withColumnRenamed("fp", "fp_b"), Seq(keyCol), "full_outer")
      .agg(
        sum(when(col("fp_a").isNotNull, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("fp_b").isNotNull, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("fp_a").isNotNull && col("fp_b").isNull, 1L).otherwise(0L)).as("only_a"),
        sum(when(col("fp_a").isNull && col("fp_b").isNotNull, 1L).otherwise(0L)).as("only_b"),
        sum(when(col("fp_a") === col("fp_b"), 1L).otherwise(0L)).as("n_match"),
        sum(when(col("fp_a").isNotNull && col("fp_b").isNotNull && col("fp_a") =!= col("fp_b"),
          1L).otherwise(0L)).as("n_diff"))
  }

  /** Period-over-period contribution analysis: which (nation,
    * priority) cells drove the revenue change between two date
    * windows — the first question after any topline move. One
    * conditional-aggregate pass builds both periods' exact DECIMAL
    * revenue per cell (never two scans); the total delta derives
    * from the same cell frame and broadcasts one row; each cell's
    * share of the move is one IEEE division. Cells = bounded dim
    * cross product, so output never grows with the fact table.
    */
  def contributionDelta(lineitem: DataFrame, orders: DataFrame, customer: DataFrame,
                        nation: DataFrame,
                        fromA: String, toA: String, fromB: String, toB: String): DataFrame = {
    val rev = col("l_extendedprice").cast(Money) * (lit(1).cast(Money) - col("l_discount").cast(Money))
    val inA = col("o_orderdate") >= lit(fromA).cast("timestamp") && col("o_orderdate") < lit(toA).cast("timestamp")
    val inB = col("o_orderdate") >= lit(fromB).cast("timestamp") && col("o_orderdate") < lit(toB).cast("timestamp")
    val cells = lineitem
      .join(orders.filter(inA || inB)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .join(customer.select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("o_orderpriority"))
      .agg(
        sum(when(inA, rev)).as("rev_a"),
        sum(when(inB, rev)).as("rev_b"))
      .select(col("n_name"), col("o_orderpriority"),
        coalesce(col("rev_a"), lit(0).cast(Money)).as("rev_a"),
        coalesce(col("rev_b"), lit(0).cast(Money)).as("rev_b"))
      .withColumn("delta", col("rev_b") - col("rev_a"))
    val tot = cells.agg(sum(col("delta")).as("total_delta"))
    cells.crossJoin(broadcast(tot))
      .select(col("n_name"), col("o_orderpriority"),
        col("rev_a").cast("double").as("rev_a"),
        col("rev_b").cast("double").as("rev_b"),
        col("delta").cast("double").as("delta"),
        round(when(col("total_delta") =!= 0,
          col("delta").cast("double") / col("total_delta").cast("double")), 6).as("share_of_move"))
  }

  /** 2-D Pareto frontier (skyline) of parts on (cheapest offer,
    * fastest fulfilment): a part is on the frontier when no other
    * part is at-least-as-good on BOTH best price and best ship lag
    * and strictly better on one — the procurement menu nobody can
    * argue with. The classic skyline needs a quadratic NOT-EXISTS
    * self-join; this plan exploits the 2-D structure instead: reduce
    * parts to per-LAG minimum price (the lag axis is calendar-
    * bounded — ship lags span ~120 days regardless of corpus size,
    * the [[graft.operators.EventAnalytics]] survival-grid move), run
    * ONE running-min window over that bounded grid, broadcast it
    * back, and filter at scan stage: survive iff the part's price
    * equals its lag's minimum AND no strictly-smaller lag reached a
    * price <= it. All compares are exact DECIMAL/integers; output is
    * engine-exact with zero float accumulation.
    */
  def paretoFrontier(lineitem: DataFrame, orders: DataFrame): DataFrame = {
    val m = lineitem.select(col("l_orderkey"), col("l_partkey"), col("l_extendedprice"), col("l_shipdate"))
      .join(orders.select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_partkey"))
      .agg(
        min(col("l_extendedprice").cast(Money)).as("best_price"),
        min(datediff(date_trunc("day", col("l_shipdate")),
          date_trunc("day", col("o_orderdate"))).cast("long")).as("best_lag"))
    val grid = m.groupBy(col("best_lag")).agg(min(col("best_price")).as("mp"))
    // the only unpartitioned window in the plan runs over the bounded
    // lag grid (<= max ship lag rows), never over parts
    val w = Window.orderBy(col("best_lag").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val g2 = grid.withColumn("runmin", min(col("mp")).over(w))
    m.join(org.apache.spark.sql.functions.broadcast(g2), Seq("best_lag"))
      .filter(col("best_price") === col("mp") &&
        (col("runmin").isNull || col("runmin") > col("best_price")))
      .select(col("l_partkey"),
        col("best_price").cast("double").as("best_price"), col("best_lag"))
  }

  /** Order-to-ship lag distribution per order priority: count, mean,
    * median, p90, and worst lag in days between order and line-item
    * ship dates — the fulfilment-SLA panel. One fact-fact equi-join
    * on the order key (both sides shuffle once on it), then the
    * aggregates land on a BOUNDED priority dimension; the lag is
    * exact day arithmetic and the quantiles are the exact
    * interpolating percentile, mean at 6dp over exact longs.
    */
  def shipLagProfile(lineitem: DataFrame, orders: DataFrame): DataFrame =
    lineitem.select(col("l_orderkey"), col("l_shipdate"))
      .join(orders.select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("lag_days",
        datediff(date_trunc("day", col("l_shipdate")),
          date_trunc("day", col("o_orderdate"))).cast("long"))
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_lines"),
        round(avg(col("lag_days")), 6).as("mean_lag"),
        percentile(col("lag_days"), lit(0.5)).as("median_lag"),
        percentile(col("lag_days"), lit(0.9)).as("p90_lag"),
        max(col("lag_days")).as("max_lag"))

  /** One-row data profile of the events feed — the first query
    * anyone runs on an unfamiliar 100 TB table: row count, key
    * cardinalities, time span, null rates, and value range in ONE
    * scan. The distinct counts expand map-side (Spark's Expand +
    * two-level partial aggregate), so the full pass is still a
    * single job with partial aggregation everywhere — never one scan
    * per column, the naive profiler shape. Timestamps surface as
    * formatted strings (engine-portable), value extremes at 6dp; the
    * exact distincts swap for approx_count_distinct at the 100 TB
    * tier where ±2% is fine for profiling (the
    * [[graft.operators.Stats]] sketch family is the checked twin of
    * that trade).
    */
  def profileTable(events: DataFrame): DataFrame =
    events.agg(
      count(lit(1)).as("n_rows"),
      countDistinct(col("user_id")).as("n_users"),
      countDistinct(col("event_type")).as("n_event_types"),
      date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("ts_min"),
      date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("ts_max"),
      sum(col("value").isNull.cast("long")).as("value_nulls"),
      round(min(col("value")), 6).as("value_min"),
      round(max(col("value")), 6).as("value_max"),
      sum(col("props").isNull.cast("long")).as("props_nulls"),
      sum((get_json_object(col("props"), "$.k").isNull).cast("long")).as("vol_key_missing"))

  /** Theil-T and Atkinson(ε=1) inequality indices of per-customer
    * revenue — the decomposable complements of the rank-based Gini
    * (Theil is additively decomposable across segments; Atkinson has
    * the welfare interpretation "share of total revenue you could
    * discard under perfect equality"). Revenue totals are exact cent
    * longs; each customer's term (r·ln r for Theil, ln x for the
    * geometric mean) is ONE IEEE chain quantized through
    * floor(t·1e9) — an exact nano-unit long, so the CUSTOMER-AXIS
    * sums (the axis that scales) are order-independent at any
    * partition count; the final indices are short IEEE chains from
    * those integers, rounded 6dp. Customer totals aggregate once;
    * the (n, S) scalar broadcasts back.
    */
  def inequalityIndices(orders: DataFrame): DataFrame = {
    val perCust = orders
      .withColumn("cents", floor(col("o_totalprice") * 100).cast("long"))
      .groupBy(col("o_custkey"))
      .agg(sum(col("cents")).as("x"))
      .filter(col("x") > 0)
    val tot = perCust.agg(count(lit(1)).as("n"), sum(col("x")).as("s"))
    val xd = col("x").cast("double")
    val nd = col("n").cast("double"); val sd = col("s").cast("double")
    val r  = xd * nd / sd
    val terms = perCust.crossJoin(broadcast(tot))
      .select(col("n"), col("s"),
        floor(r * log(r) * lit(1e9)).cast("long").as("tu"),
        floor(log(xd) * lit(1e9)).cast("long").as("lu"))
      .groupBy(col("n"), col("s"))
      .agg(sum(col("tu")).as("tsum"), sum(col("lu")).as("lsum"))
    val nd2  = col("n").cast("double")
    val mean = col("s").cast("double") / nd2
    terms.select(
      col("n").as("n_customers"),
      round(mean / 100, 6).as("mean_revenue"),
      round(col("tsum").cast("double") / lit(1e9) / nd2, 6).as("theil_t"),
      round(lit(1.0) - exp(col("lsum").cast("double") / lit(1e9) / nd2) / mean, 6)
        .as("atkinson_1"))
  }

  /** Referential-integrity audit across the whole warehouse: one
    * row per FK relation with child rows, orphan rows, distinct
    * orphan keys and the orphan rate — the nightly-load sign-off
    * that catches a truncated dim or an out-of-order load before
    * any join silently drops (inner) or nulls (left) the orphans.
    * Each relation is ONE pass: a left join against the parent's
    * distinct-key projection (broadcast for dims; the orders-side
    * check co-partitions on the key at scale) with conditional
    * counts — never a second scan for the orphan side. Exact longs,
    * one IEEE rate, UNROUNDED.
    */
  def fkIntegrity(orders: DataFrame, lineitem: DataFrame, customer: DataFrame,
                  supplier: DataFrame, part: DataFrame, nation: DataFrame,
                  region: DataFrame): DataFrame = {
    def check(name: String, child: DataFrame, childKey: String,
              parent: DataFrame, parentKey: String): DataFrame = {
      val pk = parent.select(col(parentKey).as(childKey)).distinct()
        .withColumn("__hit", lit(1))
      child.select(col(childKey))
        .join(pk, Seq(childKey), "left")
        .agg(
          count(lit(1)).cast("long").as("child_rows"),
          count(when(col("__hit").isNull, 1)).cast("long").as("orphan_rows"),
          countDistinct(when(col("__hit").isNull, col(childKey))).cast("long")
            .as("orphan_keys"))
        .select(lit(name).as("relation"), col("child_rows"), col("orphan_rows"),
          col("orphan_keys"),
          (col("orphan_rows").cast("double") / col("child_rows").cast("double"))
            .as("orphan_rate"))
    }
    Seq(
      check("lineitem.l_orderkey->orders", lineitem, "l_orderkey", orders, "o_orderkey"),
      check("lineitem.l_partkey->part", lineitem, "l_partkey", part, "p_partkey"),
      check("lineitem.l_suppkey->supplier", lineitem, "l_suppkey", supplier, "s_suppkey"),
      check("orders.o_custkey->customer", orders, "o_custkey", customer, "c_custkey"),
      check("customer.c_nationkey->nation", customer, "c_nationkey", nation, "n_nationkey"),
      check("supplier.s_nationkey->nation", supplier, "s_nationkey", nation, "n_nationkey"),
      check("nation.n_regionkey->region", nation, "n_regionkey", region, "r_regionkey")
    ).reduce(_ unionByName _)
  }

  /** Monthly seasonal index of order revenue: each calendar month's
    * revenue against the mean observed month — is December really
    * 2x, or is the year just growing? The classical decomposition's
    * seasonal factor on the commerce grain ([[Relational]]'s analog
    * of the events-side q_seasonal_decompose). Revenue sums exact
    * cents; the index is revenue·months/total — spelled as one
    * integer-exact cross-multiplied IEEE chain off a broadcast
    * one-row total, UNROUNDED.
    */
  def seasonalIndex(orders: DataFrame): DataFrame = {
    val monthly = orders
      .withColumn("cents", floor(col("o_totalprice") * 100).cast("long"))
      .groupBy(month(col("o_orderdate")).cast("long").as("month"))
      .agg(count(lit(1)).cast("long").as("n_orders"), sum(col("cents")).as("rev"))
    val tot = monthly.agg(sum(col("rev")).as("t"), count(lit(1)).as("k"))
    monthly.crossJoin(broadcast(tot))
      .select(col("month"), col("n_orders"),
        (col("rev").cast("double") / 100.0).as("revenue"),
        (col("rev").cast("double") * col("k").cast("double") / col("t").cast("double"))
          .as("seasonal_index"))
  }

  /** Supplier-concentration Herfindahl per nation: HHI = Σshare²
    * of each supplier's line count among the nation's suppliers
    * (1/n_suppliers = perfectly even, →1 = single-supplier risk) —
    * the procurement-concentration screen beside q_concentration's
    * within-key value version. Share squares never materialize:
    * HHI = Σc²/(Σc)² is a ratio of EXACT sums (line counts as
    * 128-bit decimals — c² passes 2^53 at warehouse scale) converted
    * via the splitDouble recipe — ONE IEEE division, UNROUNDED.
    * Effective supplier count 1/HHI is the readable twin, one more
    * division of the same operands. One fact aggregate (supplier ⋈
    * nation dims broadcast), then a bounded nation rollup.
    */
  def supplierHhi(lineitem: DataFrame, supplier: DataFrame, nation: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val perSupp = lineitem
      .join(broadcast(supplier.select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation.select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("s_suppkey"))
      .agg(count(lit(1)).as("c"))
    val agg = perSupp.groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_suppliers"),
        sum(col("c").cast(dec)).as("s1"),
        sum(col("c").cast(dec) * col("c").cast(dec)).as("s2"))
    val s1d = graft.operators.Stats.splitDouble(col("s1"))
    val s2d = graft.operators.Stats.splitDouble(col("s2"))
    agg.select(col("n_name"), col("n_suppliers"), col("s1").cast("long").as("n_lines"),
      (s2d / (s1d * s1d)).as("hhi"),
      ((s1d * s1d) / s2d).as("effective_suppliers"))
  }
}
