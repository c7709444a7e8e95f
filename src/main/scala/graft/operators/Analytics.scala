package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Ckpt.CutOps
import graft.{Entry, Memo, Registered, Tables}

/** Relational analytics over the TPC-H-ish tables (SURVEY.md section 2.K).
  *
  * These exercise the engine's scale paths: partial (map-side)
  * aggregation with codegen (K1, K4), broadcast-dim join chains
  * (K2, K3, K6), grouping sets (K5), and window top-k (K6).
  *
  * Oracle-parity note: cross-engine float summation is not
  * deterministic (different partial-agg orders), so every SUM over a
  * double goes through an exact decimal: the per-row value is cast to
  * decimal(18,6) (identical round-half-up in Spark and DuckDB, and
  * ties cannot occur for binary doubles), summed exactly, and the
  * exact decimal sum is cast back to double. AVG = exact sum / count.
  */
object Analytics extends Registered {

  /** Exact cross-engine sum of a double expression, returned as double. */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 6))).cast("double")

  /** Exact cross-engine avg: exact decimal sum divided by count. */
  def davg(c: Column): Column = dsum(c) / count(c)

  /** K1 `q1_pricing_summary` — TPC-H Q1-style pricing summary.
    * Scale: single shuffle on the two low-cardinality group keys;
    * partial aggregation makes the shuffle tiny regardless of input
    * size; whole-stage codegen end to end.
    */
  def q1PricingSummary(spark: SparkSession, dir: String,
                       shipdateMax: String = "1999-09-02"): DataFrame = {
    val li = Tables.lineitem(spark, dir, fan = true)
    li.filter(col("l_shipdate") <= lit(shipdateMax).cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("sum_charge"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_extendedprice")).as("avg_price"),
        davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
  }

  def q1Sql(shipdateMax: String = "1999-09-02"): String =
    s"""SELECT l_returnflag, l_linestatus,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_qty,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
      |  CAST(CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
      |  CAST(CAST(SUM(CAST(l_extendedprice*(1.0-l_discount)*(1.0+l_tax) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS sum_charge,
      |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
      |  CAST(CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '$shipdateMax'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  /** K1b `q1_incremental` — INCREMENTAL maintenance of the Q1
    * pricing-summary materialized view, D6's base-⊕-tail mechanic
    * applied to an additive aggregate: history up to a compaction
    * cutoff folds into per-group PARTIAL states (decimal sums +
    * counts — the mergeable form), the tail aggregates separately,
    * and the served view is the merge of the two partial sets. All
    * sums stay DECIMAL until after the final merge (decimal addition
    * is exact and associative, so two-stage summation is bit-equal to
    * one-stage; doubles would drift with the regrouping), and the
    * averages are recomputed from merged sums — never averaged
    * averages. The ORACLE is q1's full-scan SQL verbatim: the driver
    * hash-proves merge(partial(base), partial(tail)) ≡ recompute.
    * At 100 TB the base partials are a stored G-row table (G = group
    * cardinality, here 6), so the nightly refresh costs one tail scan
    * plus a G-row merge — cost tracks the increment, not the
    * history. */
  def q1Incremental(spark: SparkSession, dir: String,
                    shipdateMax: String = "1999-09-02",
                    cutoff: String = "1995-06-01"): DataFrame = {
    val dec = DecimalType(18, 6)
    // ONE scan: the segment flag (base vs tail of the cutoff) is just
    // another grouping key for the partial pass, so the partial table
    // is built exactly as a stored-base + daily-tail pipeline would
    // see it (one partial row per group per segment) without paying a
    // second lineitem read here
    val partials = Tables.lineitem(spark, dir, fan = true)
      .filter(col("l_shipdate") <= lit(shipdateMax).cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"),
        (col("l_shipdate") <= lit(cutoff).cast("timestamp")).as("seg_base"))
      .agg(
        sum(col("l_quantity").cast(dec)).as("p_qty"),
        sum(col("l_extendedprice").cast(dec)).as("p_base"),
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount"))).cast(dec)).as("p_disc_price"),
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).cast(dec)).as("p_charge"),
        sum(col("l_discount").cast(dec)).as("p_disc"),
        count(lit(1)).as("p_n"))
    partials
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("p_qty")).cast("double").as("sum_qty"),
        sum(col("p_base")).cast("double").as("sum_base_price"),
        sum(col("p_disc_price")).cast("double").as("sum_disc_price"),
        sum(col("p_charge")).cast("double").as("sum_charge"),
        (sum(col("p_qty")).cast("double") / sum(col("p_n"))).as("avg_qty"),
        (sum(col("p_base")).cast("double") / sum(col("p_n"))).as("avg_price"),
        (sum(col("p_disc")).cast("double") / sum(col("p_n"))).as("avg_disc"),
        sum(col("p_n")).as("count_order"))
  }

  /** K27 `q1_rollup` — multi-level subtotals via ROLLUP, computed
    * two-level: a naive `lineitem.rollup(...)` expands every input
    * row into its 3 grouping-set levels BEFORE the partial aggregate
    * (3x the map-side work — measured 1.8 s vs q1's 1.7 at sf0.1), so
    * instead the finest level aggregates FIRST (the q1 pass: decimal
    * partial sums to 6 rows) and ROLLUP runs over those 6 mergeable
    * partials — subtotals and the grand total are sums of exact
    * decimal partials (K1b's merge argument), bit-equal to the naive
    * form the oracle computes, at the cost of one q1-shaped pass plus
    * a 6-row rollup. GROUPING() flags disambiguate a real NULL key
    * from a subtotal row — identical semantics in the DuckDB
    * oracle. */
  def q1Rollup(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("p_n"),
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast(DecimalType(18, 6))).as("p_rev"))
    base
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("p_n")).as("n_rows"),
        sum(col("p_rev")).cast("double").as("revenue"),
        grouping(col("l_returnflag")).as("g_flag"),
        grouping(col("l_linestatus")).as("g_status"))
  }

  def q1RollupSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  COUNT(*) AS n_rows,
      |  CAST(CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,6))) AS VARCHAR)
      |    AS DOUBLE) AS revenue,
      |  CAST(GROUPING(l_returnflag) AS TINYINT) AS g_flag,
      |  CAST(GROUPING(l_linestatus) AS TINYINT) AS g_status
      |FROM lineitem
      |GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin

  /** K32 `k32_grouping_sets` — GROUPING SETS, the general form
    * completing the OLAP-shape family beside K27's ROLLUP (the
    * hierarchical special case) and K28's PIVOT (the transposed one):
    * exactly the marginal reports the caller picks — per-service, per
    * -tenant, and the grand total over the audit metric stream, with
    * NO (service, tenant) cross cells (the point of GROUPING SETS:
    * you don't pay for levels you didn't ask for). K27's two-level
    * economics: the finest (service, tenant) pair aggregates FIRST
    * into mergeable decimal partials (one corpus-scale shuffle), the
    * grouping-set expansion runs over those few dozen partial rows,
    * and GROUPING() flags disambiguate a real NULL key from a
    * marginal row — identical semantics in the DuckDB oracle. */
  def k32GroupingSets(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.events(spark, dir)
      .groupBy(Audit.serviceCol.as("service"), Obs.tenant.as("tenant_id"))
      .agg(count(lit(1)).as("p_n"),
        sum(col("value").cast(DecimalType(18, 6))).as("p_v"))
    base
      .groupingSets(
        Seq(Seq(col("service")), Seq(col("tenant_id")), Seq()),
        col("service"), col("tenant_id"))
      .agg(sum(col("p_n")).as("n_events"),
        sum(col("p_v")).cast("double").as("value_sum"),
        grouping(col("service")).as("g_service"),
        grouping(col("tenant_id")).as("g_tenant"))
  }

  def k32GroupingSetsSql: String =
    """SELECT
      |  CASE WHEN event_type IN ('signup','click','view') THEN 'ingest'
      |       WHEN event_type = 'purchase' THEN 'persist'
      |       ELSE 'dlq' END AS service,
      |  't' || (user_id % 4) AS tenant_id,
      |  COUNT(*) AS n_events,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS value_sum,
      |  CAST(GROUPING(service) AS TINYINT) AS g_service,
      |  CAST(GROUPING(tenant_id) AS TINYINT) AS g_tenant
      |FROM events
      |GROUP BY GROUPING SETS ((service), (tenant_id), ())""".stripMargin

  /** K28 `q1_pivot` — the revenue matrix returnflag × linestatus via
    * relational PIVOT: one row per flag, one column per status. The
    * pivot VALUES are pinned (F, O — the contract every pivot needs
    * at scale: discovering them would cost a distinct scan), so the
    * plan is a single groupBy with conditional aggregates — the same
    * shuffle economics as the plain q1 rollup, just a transposed
    * shape. */
  def q1Pivot(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
      .select(col("l_returnflag"),
        col("F").as("revenue_f"), col("O").as("revenue_o"))

  def q1PivotSql: String =
    """SELECT l_returnflag,
      |  CAST(CAST(SUM(CASE WHEN l_linestatus = 'F'
      |    THEN CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,6)) END) AS VARCHAR)
      |    AS DOUBLE) AS revenue_f,
      |  CAST(CAST(SUM(CASE WHEN l_linestatus = 'O'
      |    THEN CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,6)) END) AS VARCHAR)
      |    AS DOUBLE) AS revenue_o
      |FROM lineitem GROUP BY 1""".stripMargin

  /** K2 `q3_shipping_priority` — TPC-H Q3-style 3-way join + top-k.
    * Scale: customer is a dim -> broadcast; orders join lineitem
    * shuffles once on orderkey; top-k via ordered LIMIT (Spark
    * TakeOrderedAndProject — no global sort materialization).
    */
  def q3ShippingPriority(spark: SparkSession, dir: String,
                         segment: String = "BUILDING",
                         date: String = "1998-06-01",
                         limit: Int = 10): DataFrame = {
    val cutoff = lit(date).cast("timestamp")
    val cust = Tables.customer(spark, dir).filter(col("c_mktsegment") === segment)
    val ord  = Tables.orders(spark, dir).filter(col("o_orderdate") < cutoff)
    val li   = Tables.lineitem(spark, dir).filter(col("l_shipdate") > cutoff)
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(limit)
  }

  def q3Sql(segment: String = "BUILDING", date: String = "1998-06-01",
            limit: Int = 10): String =
    s"""SELECT l_orderkey, o_orderdate, o_orderpriority,
      |  CAST(CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = '$segment'
      |  AND o_orderdate < TIMESTAMP '$date'
      |  AND l_shipdate > TIMESTAMP '$date'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, l_orderkey
      |LIMIT $limit""".stripMargin

  /** K3 `q5_join_chain` — TPC-H Q5-style multi-way join: revenue per
    * nation where customer and supplier share the nation, region
    * filtered. Scale: region/nation/supplier/customer all broadcast;
    * the only shuffle is lineitem-orders on orderkey + final agg.
    */
  def q5JoinChain(spark: SparkSession, dir: String,
                  region: String = "ASIA",
                  from: String = "1996-01-01",
                  to: String = "1999-01-01"): DataFrame = {
    val reg = Tables.region(spark, dir).filter(col("r_name") === region)
    val nat = Tables.nation(spark, dir)
    val cus = Tables.customer(spark, dir)
    val sup = Tables.supplier(spark, dir)
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit(from).cast("timestamp") &&
              col("o_orderdate") < lit(to).cast("timestamp"))
    val li  = Tables.lineitem(spark, dir)
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cus), col("o_custkey") === col("c_custkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey") &&
                            col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
  }

  def q5Sql(region: String = "ASIA", from: String = "1996-01-01",
            to: String = "1999-01-01"): String =
    s"""SELECT n_name,
      |  CAST(CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = '$region'
      |  AND o_orderdate >= TIMESTAMP '$from'
      |  AND o_orderdate < TIMESTAMP '$to'
      |GROUP BY n_name""".stripMargin

  /** K4 `q6_forecast_revenue` — TPC-H Q6-style filtered aggregate.
    * Scale: the whole query is scan+filter+partial-agg; all three
    * predicates and the 2-column projection push into the parquet
    * reader (PushedFilters / ReadSchema), so IO scales with the
    * selected fraction, not table size.
    */
  def q6ForecastRevenue(spark: SparkSession, dir: String,
                        from: String = "1997-01-01", to: String = "1998-01-01",
                        discLo: Double = 0.04, discHi: Double = 0.06,
                        qtyMax: Int = 24): DataFrame = {
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit(from).cast("timestamp") &&
              col("l_shipdate") < lit(to).cast("timestamp") &&
              col("l_discount") >= discLo && col("l_discount") <= discHi &&
              col("l_quantity") < qtyMax)
      .agg(dsum(col("l_extendedprice") * col("l_discount")).as("revenue"),
           count(lit(1)).as("n_rows"))
  }

  def q6Sql(from: String = "1997-01-01", to: String = "1998-01-01",
            discLo: Double = 0.04, discHi: Double = 0.06,
            qtyMax: Int = 24): String =
    s"""SELECT
      |  CAST(CAST(SUM(CAST(l_extendedprice*l_discount AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_rows
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '$from'
      |  AND l_shipdate < TIMESTAMP '$to'
      |  AND l_discount BETWEEN $discLo AND $discHi
      |  AND l_quantity < $qtyMax""".stripMargin

  /** K5 `k5_segment_rollup` — grouping-sets rollup of order value by
    * (market segment, nation). Scale: one shuffle; rollup expansion
    * happens inside the aggregate (Spark Expand) not as extra scans.
    */
  def k5SegmentRollup(spark: SparkSession, dir: String): DataFrame = {
    val cus = Tables.customer(spark, dir)
    val nat = Tables.nation(spark, dir)
    val ord = Tables.orders(spark, dir)
    ord.join(broadcast(cus), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .rollup(col("c_mktsegment"), col("n_name"))
      .agg(dsum(col("o_totalprice")).as("total_value"),
           count(lit(1)).as("n_orders"))
  }

  def k5Sql: String =
    """SELECT c_mktsegment, n_name,
      |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS total_value,
      |  COUNT(*) AS n_orders
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY ROLLUP (c_mktsegment, n_name)""".stripMargin

  /** K6 `k6_top_customer_per_nation` — top spender per nation. Scale:
    * the per-customer aggregate shuffles on custkey (pre-reduced by
    * partial agg), nation broadcast; the per-nation winner uses
    * max(struct(...)) — an ordinary aggregate with map-side partial
    * aggregation, NOT a window over the ≤25-value nationkey (a window
    * funnels every customer row through ≤25 reducers; at 100× scale
    * those are 25 hot partitions doing all the work). Ties break to
    * the lowest custkey via the negated key in the ordering struct. */
  def k6TopCustomerPerNation(spark: SparkSession, dir: String): DataFrame = {
    val cus = Tables.customer(spark, dir)
    val nat = Tables.nation(spark, dir)
    val ord = Tables.orders(spark, dir)
    val spend = ord.groupBy(col("o_custkey"))
      .agg(dsum(col("o_totalprice")).as("total_spend"), count(lit(1)).as("n_orders"))
    val winner = spend.join(broadcast(cus), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey"))
      .agg(max(struct(col("total_spend"), (-col("o_custkey")).as("neg_ck"),
        col("c_name"), col("n_orders"))).as("top"))
    winner.join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("top.c_name").as("c_name"),
        col("top.total_spend").as("total_spend"),
        col("top.n_orders").as("n_orders"))
  }

  def k6Sql: String =
    """WITH spend AS (
      |  SELECT o_custkey,
      |    CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS total_spend,
      |    COUNT(*) AS n_orders
      |  FROM orders GROUP BY o_custkey
      |), ranked AS (
      |  SELECT c_nationkey, c_name, total_spend, n_orders,
      |    ROW_NUMBER() OVER (PARTITION BY c_nationkey
      |                       ORDER BY total_spend DESC, o_custkey) AS rn
      |  FROM spend JOIN customer ON o_custkey = c_custkey
      |)
      |SELECT n_name, c_name, total_spend, n_orders
      |FROM ranked JOIN nation ON c_nationkey = n_nationkey
      |WHERE rn = 1""".stripMargin

  /** K7 `k7_priority_semi_join` — TPC-H Q4-style: orders in a date
    * range having at least one late-shipped lineitem, counted per
    * priority. Exercises the EXISTS/left-semi path: the semi join
    * shuffles both sides once on orderkey and short-circuits per key
    * (no row multiplication), then a tiny agg. */
  def k7PrioritySemiJoin(spark: SparkSession, dir: String,
                         from: String = "1997-01-01",
                         to: String = "1998-01-01"): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit(from).cast("timestamp") &&
              col("o_orderdate") < lit(to).cast("timestamp"))
    val late = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_shipdate"))
    ord.join(late,
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
  }

  def k7Sql(from: String = "1997-01-01", to: String = "1998-01-01"): String =
    s"""SELECT o_orderpriority, COUNT(*) AS order_count
      |FROM orders o
      |WHERE o_orderdate >= TIMESTAMP '$from'
      |  AND o_orderdate < TIMESTAMP '$to'
      |  AND EXISTS (SELECT 1 FROM lineitem l
      |              WHERE l.l_orderkey = o.o_orderkey
      |                AND l.l_shipdate > o.o_orderdate)
      |GROUP BY o_orderpriority""".stripMargin

  /** K8 `k8_order_count_histogram` — TPC-H Q13-style customer
    * distribution: LEFT OUTER join customers to their non-'P' orders,
    * per-customer order count, then a histogram of counts (customers
    * with zero orders included — the outer-join semantics under
    * test). Two aggregations, both pre-reduced map-side. */
  def k8OrderCountHistogram(spark: SparkSession, dir: String): DataFrame = {
    val cus = Tables.customer(spark, dir)
    val ord = Tables.orders(spark, dir).filter(col("o_orderstatus") =!= "P")
    cus.join(ord, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count")) // count skips NULLs
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
  }

  def k8Sql: String =
    """SELECT c_count, COUNT(*) AS custdist
      |FROM (
      |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
      |  FROM customer LEFT OUTER JOIN orders
      |    ON c_custkey = o_custkey AND o_orderstatus <> 'P'
      |  GROUP BY c_custkey
      |)
      |GROUP BY c_count""".stripMargin

  /** K9 `k9_large_volume_orders` — TPC-H Q18-style: orders whose total
    * lineitem quantity exceeds a threshold, with customer attribution.
    * Exercises the aggregate-subquery-as-filter shape: the quantity
    * rollup happens once (shuffle on orderkey), the qualifying key set
    * semi-joins back, customer is a broadcast dim. */
  def k9LargeVolumeOrders(spark: SparkSession, dir: String,
                          qtyThreshold: Double = 150.0,
                          limit: Int = 100): DataFrame = {
    val qty = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(dsum(col("l_quantity")).as("total_qty"))
      .filter(col("total_qty") > qtyThreshold)
    val ord = Tables.orders(spark, dir)
    val cus = Tables.customer(spark, dir)
    ord.join(qty, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(cus), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), col("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(limit)
  }

  def k9Sql(qtyThreshold: Double = 150.0, limit: Int = 100): String =
    s"""WITH qty AS (
      |  SELECT l_orderkey,
      |    CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS total_qty
      |  FROM lineitem GROUP BY l_orderkey
      |  HAVING CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) > $qtyThreshold
      |)
      |SELECT c_name, c_custkey, o_orderkey,
      |  CAST(o_orderdate AS TIMESTAMP) AS o_orderdate, o_totalprice, total_qty
      |FROM orders JOIN qty ON o_orderkey = l_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |ORDER BY o_totalprice DESC, o_orderkey
      |LIMIT $limit""".stripMargin

  /** K10 `k10_running_revenue` — cumulative revenue per customer over
    * order time. The running sum goes through decimal inside the
    * window: cumulative double sums are NOT engine-portable (window
    * implementations accumulate in different orders/structures). */
  def k10RunningRevenue(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("o_totalprice"),
        sum(col("o_totalprice").cast(DecimalType(18, 6))).over(w)
          .cast("double").as("running_revenue"))
  }

  def k10Sql: String =
    """SELECT o_custkey, o_orderkey, CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
      |  o_totalprice,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |    AS running_revenue
      |FROM orders""".stripMargin

  /** K11 `k11_small_qty_revenue` — TPC-H Q17-style correlated
    * aggregate comparison: revenue from lineitems whose quantity is
    * below 20% of their part's average. The per-part average is a
    * rolled-up side computed once (shuffle on partkey) and joined
    * back — the set-oriented form of a correlated scalar subquery.
    * The average goes through the exact-decimal sum so the 0.2*avg
    * comparison is bit-identical in both engines. */
  def k11SmallQtyRevenue(spark: SparkSession, dir: String,
                         fraction: Double = 0.2): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val avgQty = li.groupBy(col("l_partkey").as("p_key"))
      .agg((dsum(col("l_quantity")) / count(col("l_quantity"))).as("avg_qty"))
    li.join(avgQty, col("l_partkey") === col("p_key"))
      .filter(col("l_quantity") < lit(fraction) * col("avg_qty"))
      .agg((dsum(col("l_extendedprice")) / 7.0).as("avg_yearly"),
        count(lit(1)).as("n_small"))
  }

  def k11Sql(fraction: Double = 0.2): String =
    s"""WITH avg_qty AS (
      |  SELECT l_partkey AS p_key,
      |    CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
      |      / COUNT(l_quantity) AS avg_qty
      |  FROM lineitem GROUP BY 1
      |)
      |SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) / 7.0
      |    AS avg_yearly,
      |  COUNT(*) AS n_small
      |FROM lineitem JOIN avg_qty ON l_partkey = p_key
      |WHERE l_quantity < $fraction * avg_qty""".stripMargin

  /** K12 `k12_min_cost_supplier` — TPC-H Q2-style argmin join: for
    * every SMALL-type part, the cheapest EUROPE supplier (unit cost
    * derived from lineitem since this schema carries no partsupp),
    * account-balance-ranked top 100. The argmin is a row_number
    * window over the HIGH-cardinality part key (not a double-equality
    * join back against the min — exact, and no min-value collision
    * hazard). Scale: supplier/nation/region and part are broadcast
    * dims, BOTH applied before the rollup so the (partkey, suppkey)
    * aggregation shuffle carries only EUROPE x SMALL rows (~1/6 of
    * lineitem here), partial-aggregated map-side; the second, smaller
    * exchange is the argmin window's repartition on l_partkey (the
    * final orderBy+limit plans as TakeOrdered, no shuffle). Unit
    * costs are single IEEE divisions (no sums), so min/rank/order
    * agree across engines. */
  def k12MinCostSupplier(spark: SparkSession, dir: String,
                         region: String = "EUROPE",
                         partType: String = "SMALL",
                         limit: Int = 100): DataFrame = {
    val euSupp = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
          .join(broadcast(Tables.region(spark, dir)
            .filter(col("r_name") === region)),
            col("n_regionkey") === col("r_regionkey"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
    val smallPart = Tables.part(spark, dir).filter(col("p_type") === partType)
      .select(col("p_partkey"), col("p_name"))
    val cost = Tables.lineitem(spark, dir)
      .join(broadcast(euSupp), col("l_suppkey") === col("s_suppkey"))
      // filter to SMALL parts BEFORE the rollup: p_partkey is unique,
      // so grouping after the join is identical but the shuffle only
      // carries surviving rows
      .join(broadcast(smallPart), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_partkey"), col("p_name"), col("s_suppkey"),
        col("s_name"), col("s_acctbal"), col("n_name"))
      .agg(min(col("l_extendedprice") / col("l_quantity")).as("unit_cost"))
    val w = Window.partitionBy(col("p_partkey"))
      .orderBy(col("unit_cost"), col("s_acctbal").desc, col("s_suppkey"))
    cost
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .orderBy(col("s_acctbal").desc, col("p_partkey"))
      .limit(limit)
      .select(col("p_partkey"), col("p_name"), col("s_name"), col("n_name"),
        col("s_acctbal"), col("unit_cost"))
  }

  def k12Sql(region: String = "EUROPE", partType: String = "SMALL",
             limit: Int = 100): String =
    s"""WITH eu AS (
      |  SELECT s_suppkey, s_name, s_acctbal, n_name
      |  FROM supplier
      |  JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey AND r_name = '$region'
      |), cost AS (
      |  SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal, n_name,
      |    MIN(l_extendedprice / l_quantity) AS unit_cost
      |  FROM lineitem
      |  JOIN eu ON l_suppkey = s_suppkey
      |  JOIN part ON l_partkey = p_partkey AND p_type = '$partType'
      |  GROUP BY 1, 2, 3, 4, 5, 6
      |), ranked AS (
      |  SELECT cost.*,
      |    ROW_NUMBER() OVER (PARTITION BY p_partkey
      |      ORDER BY unit_cost, s_acctbal DESC, s_suppkey) AS rn
      |  FROM cost
      |)
      |SELECT p_partkey, p_name, s_name, n_name, s_acctbal, unit_cost
      |FROM ranked WHERE rn = 1
      |ORDER BY s_acctbal DESC, p_partkey
      |LIMIT $limit""".stripMargin

  /** K13 `k13_linestatus_priority` — TPC-H Q12 shape adapted to the
    * testdata schema (it has no shipmode/commitdate columns):
    * casewise high/low order-priority line counts per linestatus for
    * a one-year ship window. Scale: the canonical q12 plan — both
    * sides shuffle once on orderkey, the CASE counts partial-agg
    * map-side, and the date filter pushes to the lineitem scan. */
  def k13LinestatusPriority(spark: SparkSession, dir: String,
                            from: String = "1996-01-01",
                            to: String = "1997-01-01"): DataFrame = {
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit(from).cast("timestamp") &&
              col("l_shipdate") < lit(to).cast("timestamp"))
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_linestatus"))
      .agg(
        sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
        // otherwise-side (not `when(!high, ...)`) so a NULL priority
        // counts as low, matching the oracle's CASE ... ELSE 1
        sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
  }

  def k13Sql(from: String = "1996-01-01", to: String = "1997-01-01"): String =
    s"""SELECT l_linestatus,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
      |                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
      |                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_shipdate >= TIMESTAMP '$from'
      |  AND l_shipdate < TIMESTAMP '$to'
      |GROUP BY l_linestatus""".stripMargin

  /** K14 `k14_disjunctive_revenue` — TPC-H Q19 shape: revenue under a
    * 3-way disjunction that mixes part and lineitem predicates.
    * Scale: part broadcasts; the interesting behavior is Catalyst's
    * PushExtraPredicateThroughJoin deriving the lineitem-only
    * disjunct (the OR of the three l_quantity ranges) and pushing it
    * below the join into the scan — so lineitem IO drops to the
    * quantity-selected fraction even though the original filter
    * references both tables (AnalyticsSpec pins the derived pushed
    * filter). */
  def k14DisjunctiveRevenue(spark: SparkSession, dir: String,
                            brand1: String = "Brand#12",
                            brand2: String = "Brand#23",
                            brand3: String = "Brand#34",
                            qty1: Int = 1, qty2: Int = 10,
                            qty3: Int = 20): DataFrame = {
    val cond =
      (col("p_brand") === brand1 && col("p_size").between(1, 15) &&
        col("l_quantity").between(qty1, qty1 + 10)) ||
      (col("p_brand") === brand2 && col("p_size").between(10, 30) &&
        col("l_quantity").between(qty2, qty2 + 10)) ||
      (col("p_brand") === brand3 && col("p_size").between(20, 50) &&
        col("l_quantity").between(qty3, qty3 + 10))
    Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)),
        col("l_partkey") === col("p_partkey"))
      .filter(cond)
      .agg(
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_rows"))
  }

  def k14Sql(brand1: String = "Brand#12", brand2: String = "Brand#23",
             brand3: String = "Brand#34",
             qty1: Int = 1, qty2: Int = 10, qty3: Int = 20): String =
    s"""SELECT
      |  CAST(CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_rows
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE (p_brand = '$brand1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN $qty1 AND ${qty1 + 10})
      |   OR (p_brand = '$brand2' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN $qty2 AND ${qty2 + 10})
      |   OR (p_brand = '$brand3' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN $qty3 AND ${qty3 + 10})""".stripMargin

  /** K15 `k15_promo_revenue` — TPC-H Q14 shape: the promo share of
    * one ship-month's revenue, a conditional-aggregate ratio over a
    * broadcast part join. Both sums route through decimal (exact,
    * order-insensitive) and only the FINAL division happens in
    * doubles — one IEEE op on two exact inputs, so even the
    * percentage hash-matches the oracle. Scale: date filter pushed to
    * the lineitem scan, part broadcast, single partial-agg'd
    * aggregation — no shuffle of lineitem at all. */
  def k15PromoRevenue(spark: SparkSession, dir: String,
                      from: String = "1997-03-01",
                      to: String = "1997-04-01"): DataFrame = {
    val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit(from).cast("timestamp") &&
              col("l_shipdate") < lit(to).cast("timestamp"))
      .join(broadcast(Tables.part(spark, dir)),
        col("l_partkey") === col("p_partkey"))
      .agg(
        dsum(when(col("p_type") === "PROMO", rev).otherwise(lit(0.0)))
          .as("promo_revenue"),
        dsum(rev).as("total_revenue"))
      .select(col("promo_revenue"), col("total_revenue"),
        (lit(100.0) * col("promo_revenue") / col("total_revenue"))
          .as("promo_revenue_pct"))
  }

  def k15Sql(from: String = "1997-03-01", to: String = "1997-04-01"): String =
    s"""WITH agg AS (
      |  SELECT
      |    CAST(CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
      |                       THEN l_extendedprice*(1.0-l_discount)
      |                       ELSE 0.0 END AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS promo_revenue,
      |    CAST(CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS total_revenue
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE l_shipdate >= TIMESTAMP '$from'
      |    AND l_shipdate < TIMESTAMP '$to'
      |)
      |SELECT promo_revenue, total_revenue,
      |  100.0 * promo_revenue / total_revenue AS promo_revenue_pct
      |FROM agg""".stripMargin

  /** K16 `k16_returned_item_report` — TPC-H Q10 shape: revenue lost to
    * returned items per customer for one order quarter, top 20.
    * Scale: orders carries the date filter (pushed to its scan),
    * lineitem carries the returnflag filter (pushed likewise); the
    * join shuffles both sides once on orderkey, the per-customer
    * rollup re-shuffles the small survivor set on custkey, and
    * customer/nation are broadcast dims. Ordered LIMIT plans as
    * TakeOrdered — no global sort materialization. */
  def k16ReturnedItemReport(spark: SparkSession, dir: String,
                            from: String = "1996-10-01",
                            to: String = "1997-01-01",
                            limit: Int = 20): DataFrame = {
    val ord = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit(from).cast("timestamp") &&
              col("o_orderdate") < lit(to).cast("timestamp"))
    val ret = Tables.lineitem(spark, dir).filter(col("l_returnflag") === "R")
    ret.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
           count(lit(1)).as("n_returned_lines"))
      .join(broadcast(Tables.customer(spark, dir)),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("n_name"), col("c_acctbal"),
        col("revenue"), col("n_returned_lines"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(limit)
  }

  def k16Sql(from: String = "1996-10-01", to: String = "1997-01-01",
             limit: Int = 20): String =
    s"""SELECT c_custkey, c_name, n_name, c_acctbal,
      |  CAST(CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_returned_lines
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE l_returnflag = 'R'
      |  AND o_orderdate >= TIMESTAMP '$from'
      |  AND o_orderdate < TIMESTAMP '$to'
      |GROUP BY c_custkey, c_name, n_name, c_acctbal
      |ORDER BY revenue DESC, c_custkey
      |LIMIT $limit""".stripMargin

  /** K17 `k17_top_supplier_revenue` — TPC-H Q15 shape: the supplier(s)
    * with maximum shipped revenue in one quarter. The global max is a
    * one-row aggregate of the per-supplier rollup joined back — the
    * set-oriented form of Q15's revenue view + scalar subquery, and
    * the join-back equality is safe cross-engine because both sides
    * are the same exact decimal sum cast once to double. Scale: the
    * rollup shuffles lineitem once on suppkey (partial-agg'd), the
    * 1-row max broadcasts back, supplier is a broadcast dim. */
  def k17TopSupplierRevenue(spark: SparkSession, dir: String,
                            from: String = "1996-01-01",
                            to: String = "1996-04-01"): DataFrame = {
    // cached: the rollup subtree feeds both the 1-row max and the
    // join-back — Spark plans common subtrees twice, and without the
    // cache that is two full lineitem scans; the cached rollup is
    // supplier-sized (tiny at any SF). A memo entry, keyed also by the
    // date window: CacheManager matches by canonicalized plan, so after
    // an in-session rewrite of lineitem a bare re-cache() would
    // silently serve the OLD blocks.
    val rev = Memo.cached(spark, s"analytics.k17rev:$dir:$from:$to",
        Seq(s"$dir/lineitem.parquet"))(
      Tables.lineitem(spark, dir)
        .filter(col("l_shipdate") >= lit(from).cast("timestamp") &&
                col("l_shipdate") < lit(to).cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("total_revenue")))
    val top = rev.agg(max(col("total_revenue")).as("max_revenue"))
    rev.join(broadcast(top), col("total_revenue") === col("max_revenue"))
      .join(broadcast(Tables.supplier(spark, dir)),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"),
        col("total_revenue"))
  }

  def k17Sql(from: String = "1996-01-01", to: String = "1996-04-01"): String =
    s"""WITH rev AS (
      |  SELECT l_suppkey,
      |    CAST(CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS total_revenue
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '$from'
      |    AND l_shipdate < TIMESTAMP '$to'
      |  GROUP BY l_suppkey
      |)
      |SELECT s_suppkey, s_name, s_acctbal, total_revenue
      |FROM rev JOIN supplier ON l_suppkey = s_suppkey
      |WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)""".stripMargin

  /** K18 `k18_nation_trade_volume` — TPC-H Q7 shape: shipped revenue
    * between two specific nations (either direction) per ship year.
    * Scale: supplier⋈nation and customer⋈nation are broadcast dims
    * with their nation filters applied BEFORE the big joins, so the
    * orders join only carries rows from the two nations; lineitem
    * shuffles once on orderkey; the (supp_nation, cust_nation, year)
    * rollup is tiny and partial-agg'd. */
  def k18NationTradeVolume(spark: SparkSession, dir: String,
                           nationA: String = "NATION_3",
                           nationB: String = "NATION_7"): DataFrame = {
    val nat = Tables.nation(spark, dir)
      .filter(col("n_name").isin(nationA, nationB))
    val sup = Tables.supplier(spark, dir)
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cus = Tables.customer(spark, dir)
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    Tables.lineitem(spark, dir)
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cus), col("o_custkey") === col("c_custkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("volume"),
           count(lit(1)).as("n_lines"))
  }

  def k18Sql(nationA: String = "NATION_3", nationB: String = "NATION_7"): String =
    s"""SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
      |  CAST(EXTRACT(YEAR FROM l_shipdate) AS INTEGER) AS l_year,
      |  CAST(CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS volume,
      |  COUNT(*) AS n_lines
      |FROM lineitem
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation sn ON s_nationkey = sn.n_nationkey
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation cn ON c_nationkey = cn.n_nationkey
      |WHERE sn.n_name IN ('$nationA', '$nationB')
      |  AND cn.n_name IN ('$nationA', '$nationB')
      |  AND sn.n_name <> cn.n_name
      |GROUP BY 1, 2, 3""".stripMargin

  /** K19 `k19_idle_customers` — TPC-H Q22 shape: per market segment,
    * the count and total balance of LAPSED customers — above-average
    * positive account balance and no order since mid-1998 (this
    * synthetic data gives every customer early orders, so plain
    * order-lessness is degenerate; the recency cutoff keeps Q22's
    * anti-join semantics non-trivial). The global average is a
    * one-row exact aggregate (decimal sum / count) broadcast into the
    * filter; lapsed-ness is a left_anti join (the NOT EXISTS path —
    * shuffles both sides once on custkey, no row multiplication; the
    * orders side is cut down by the pushed date filter first). */
  def k19IdleCustomers(spark: SparkSession, dir: String,
                       recencyCutoff: String = "1998-06-01"): DataFrame = {
    val cus = Tables.customer(spark, dir)
    val avgBal = cus.filter(col("c_acctbal") > 0.0)
      .agg((dsum(col("c_acctbal")) / count(lit(1))).as("avg_bal"))
    val rich = cus.join(broadcast(avgBal), col("c_acctbal") > col("avg_bal"))
    val recent = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit(recencyCutoff).cast("timestamp"))
      .select(col("o_custkey"))
    rich.join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("numcust"), dsum(col("c_acctbal")).as("totacctbal"))
  }

  def k19Sql(recencyCutoff: String = "1998-06-01"): String =
    s"""SELECT c_mktsegment, COUNT(*) AS numcust,
      |  CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS totacctbal
      |FROM customer c
      |WHERE c_acctbal > (SELECT CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
      |                     / COUNT(*)
      |                   FROM customer WHERE c_acctbal > 0.0)
      |  AND NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey
      |                    AND o.o_orderdate >= TIMESTAMP '$recencyCutoff')
      |GROUP BY c_mktsegment""".stripMargin

  /** K21 `k21_supplier_variety` — TPC-H Q16 shape: how many distinct
    * suppliers ship each (brand, size) part family, excluding one
    * brand. Exercises the COUNT(DISTINCT) path: Spark plans it as a
    * two-level aggregate (partial distinct on (group, suppkey)
    * map-side, then the count) — no row explosion, one logical
    * shuffle on the group keys. part is a broadcast dim with the
    * brand filter applied before the join. */
  def k21SupplierVariety(spark: SparkSession, dir: String,
                         excludedBrand: String = "Brand#45"): DataFrame = {
    val parts = Tables.part(spark, dir).filter(col("p_brand") =!= excludedBrand)
    Tables.lineitem(spark, dir)
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"),
           count(lit(1)).as("n_lines"))
  }

  def k21Sql(excludedBrand: String = "Brand#45"): String =
    s"""SELECT p_brand, p_size,
      |  COUNT(DISTINCT l_suppkey) AS supplier_cnt,
      |  COUNT(*) AS n_lines
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE p_brand <> '$excludedBrand'
      |GROUP BY 1, 2""".stripMargin

  /** K22 `k22_market_share` — TPC-H Q8 shape: NATION_3 suppliers'
    * share of ASIA customers' SMALL-part revenue, per order year.
    * Both the conditional and total sums route through decimal
    * (exact, order-insensitive) and the share is ONE IEEE division of
    * two exact doubles — so even the ratio hash-matches. Scale: all
    * four dims broadcast (customer nations pre-filtered to ASIA
    * before the join, parts to SMALL), lineitem⋈orders is the one
    * big shuffle on orderkey, and the (year) rollup is tiny and
    * partial-agg'd map-side. */
  def k22MarketShare(spark: SparkSession, dir: String,
                     region: String = "ASIA",
                     nation: String = "NATION_3",
                     partType: String = "SMALL"): DataFrame = {
    val asiaCust = Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
          .join(broadcast(Tables.region(spark, dir)
            .filter(col("r_name") === region)),
            col("n_regionkey") === col("r_regionkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"))
    val suppNation = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
        .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("sn_key"))
      .select(col("s_suppkey"), col("supp_nation"))
    val smallPart = Tables.part(spark, dir).filter(col("p_type") === partType)
      .select(col("p_partkey"))
    val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    Tables.lineitem(spark, dir)
      .join(broadcast(smallPart), col("l_partkey") === col("p_partkey"))
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(asiaCust), col("o_custkey") === col("c_custkey"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(
        dsum(when(col("supp_nation") === nation, rev).otherwise(lit(0.0)))
          .as("nation_volume"),
        dsum(rev).as("total_volume"))
      .select(col("o_year"), col("nation_volume"), col("total_volume"),
        (col("nation_volume") / col("total_volume")).as("mkt_share"))
  }

  def k22Sql(region: String = "ASIA", nation: String = "NATION_3",
             partType: String = "SMALL"): String =
    s"""WITH yr AS (
      |  SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year,
      |    CAST(CAST(SUM(CAST(CASE WHEN sn.n_name = '$nation'
      |                       THEN l_extendedprice*(1.0-l_discount)
      |                       ELSE 0.0 END AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS nation_volume,
      |    CAST(CAST(SUM(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS total_volume
      |  FROM lineitem
      |  JOIN part ON l_partkey = p_partkey AND p_type = '$partType'
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation sn ON s_nationkey = sn.n_nationkey
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation cn ON c_nationkey = cn.n_nationkey
      |  JOIN region ON cn.n_regionkey = r_regionkey AND r_name = '$region'
      |  GROUP BY 1
      |)
      |SELECT o_year, nation_volume, total_volume,
      |  nation_volume / total_volume AS mkt_share
      |FROM yr""".stripMargin

  /** K23 `k23_product_profit` — TPC-H Q9 shape: profit by supplier
    * nation and order year for parts whose name contains a substring.
    * This schema carries no partsupp, so supply cost is derived from
    * the part row (`costFactor * p_retailprice`, the K12 discipline of
    * deriving partsupp measures from carried columns) — the join
    * topology and profit arithmetic are Q9's. Scale: part and
    * supplier-nation are broadcast dims applied BEFORE the big
    * lineitem-orders equi-join, so the only large shuffle carries
    * pre-filtered rows; the (nation, year) aggregation is partial
    * map-side. Profit per row is computed in double with a fixed
    * operation order, then decimal-summed (dsum) for cross-engine
    * parity. Reference: services/api-query analytics are row-at-a-time
    * (handler.ts); this is the set-oriented equivalent family. */
  def k23ProductProfit(spark: SparkSession, dir: String,
                       nameSubstr: String = "widget",
                       costFactor: Double = 0.6): DataFrame = {
    val parts = Tables.part(spark, dir)
      .filter(col("p_name").contains(nameSubstr))
      .select(col("p_partkey"), col("p_retailprice"))
    val supp = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    val profit = col("l_extendedprice") * (lit(1.0) - col("l_discount")) -
      lit(costFactor) * col("p_retailprice") * col("l_quantity")
    Tables.lineitem(spark, dir)
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(spark, dir)
          .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).as("o_year"))
      .agg(dsum(profit).as("sum_profit"))
  }

  def k23Sql(nameSubstr: String = "widget", costFactor: Double = 0.6): String =
    s"""SELECT n_name AS nation,
      |  CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year,
      |  CAST(CAST(SUM(CAST(l_extendedprice*(1.0-l_discount)
      |    - $costFactor*p_retailprice*l_quantity AS DECIMAL(18,6))) AS VARCHAR)
      |    AS DOUBLE) AS sum_profit
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey AND p_name LIKE '%$nameSubstr%'
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1, 2""".stripMargin

  /** K24 `k24_important_stock` — TPC-H Q11 shape: per-part "stock
    * value" held by one nation's suppliers, keeping parts above a
    * fraction of the nation's total (the HAVING-over-global-subquery
    * shape). Stock value is derived as the summed extended price of
    * the nation's supplied lineitems (no partsupp in this schema).
    * Scale: the nation's supplier set is a broadcast dim; ONE shuffle
    * aggregates per part; the global total re-aggregates the per-part
    * values (exact: each per-part value is an exact decimal cast to
    * double, re-summed in decimal) and attaches as a broadcast 1-row
    * scalar — the documented BNLJ class (b). */
  def k24ImportantStock(spark: SparkSession, dir: String,
                        nation: String = "NATION_3",
                        fraction: Double = 0.003): DataFrame = {
    val supp = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
          .filter(col("n_name") === nation)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"))
    val vals = Tables.lineitem(spark, dir)
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey"))
      .agg(dsum(col("l_extendedprice")).as("stock_value"))
    val total = vals.agg(
      sum(col("stock_value").cast(DecimalType(18, 6))).cast("double")
        .as("total_value"))
    vals.crossJoin(broadcast(total))
      .filter(col("stock_value") > lit(fraction) * col("total_value"))
      .select(col("l_partkey"), col("stock_value"))
  }

  def k24Sql(nation: String = "NATION_3", fraction: Double = 0.003): String =
    s"""WITH vals AS (
      |  SELECT l_partkey,
      |    CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
      |      AS stock_value
      |  FROM lineitem
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey AND n_name = '$nation'
      |  GROUP BY 1
      |)
      |SELECT l_partkey, stock_value FROM vals
      |WHERE stock_value > $fraction * (
      |  SELECT CAST(CAST(SUM(CAST(stock_value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
      |  FROM vals)""".stripMargin

  /** K25 `k25_part_promotion` — TPC-H Q20 shape: suppliers from one
    * nation who shipped a large fraction of their all-time volume of
    * a name-prefixed part inside a window (Q20's availqty guard
    * re-derived from lineitem: window volume vs all-time volume per
    * (supplier, part) — this schema has no partsupp). The nested-IN
    * chain becomes broadcast-dim filters plus a LEFT SEMI join.
    * Scale: ONE pass over lineitem computes both volumes as
    * conditional sums (no second scan for the window), one shuffle on
    * (partkey, suppkey); the qualifying-supplier set is bounded by
    * supplier cardinality, so the final semi join broadcasts it. */
  def k25PartPromotion(spark: SparkSession, dir: String,
                       nation: String = "NATION_3",
                       prefix: String = "blue",
                       from: String = "1997-01-01",
                       to: String = "1998-01-01",
                       frac: Double = 0.3): DataFrame = {
    val parts = Tables.part(spark, dir)
      .filter(col("p_name").startsWith(prefix)).select(col("p_partkey"))
    val inWindow = col("l_shipdate") >= lit(from).cast("timestamp") &&
      col("l_shipdate") < lit(to).cast("timestamp")
    val qual = Tables.lineitem(spark, dir)
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(dsum(col("l_quantity")).as("qty_all"),
        dsum(when(inWindow, col("l_quantity")).otherwise(lit(0.0)))
          .as("qty_window"))
      .filter(col("qty_window") > lit(frac) * col("qty_all"))
      .select(col("l_suppkey")).distinct()
    Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
          .filter(col("n_name") === nation)),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(qual), col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"))
  }

  def k25Sql(nation: String = "NATION_3", prefix: String = "blue",
             from: String = "1997-01-01", to: String = "1998-01-01",
             frac: Double = 0.3): String =
    s"""SELECT s_suppkey, s_name
      |FROM supplier
      |JOIN nation ON s_nationkey = n_nationkey AND n_name = '$nation'
      |WHERE s_suppkey IN (
      |  SELECT l_suppkey FROM (
      |    SELECT l_partkey, l_suppkey,
      |      CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS qty_all,
      |      CAST(CAST(SUM(CAST(CASE WHEN l_shipdate >= TIMESTAMP '$from'
      |                          AND l_shipdate < TIMESTAMP '$to'
      |                         THEN l_quantity ELSE 0.0 END
      |        AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS qty_window
      |    FROM lineitem
      |    JOIN part ON l_partkey = p_partkey AND p_name LIKE '$prefix%'
      |    GROUP BY 1, 2
      |  ) WHERE qty_window > $frac * qty_all)""".stripMargin

  /** K26 `k26_waiting_suppliers` — TPC-H Q21 shape: suppliers who
    * were the SOLE late supplier on a finished multi-supplier order
    * ("kept the order waiting"), counted per supplier. Late is
    * derived as shipping more than `lateDays` after the order date
    * (this schema has no commit/receipt dates). The classic
    * double-correlated EXISTS/NOT-EXISTS is rewritten as ONE
    * aggregation per order — n_supp > 1, exactly one distinct late
    * supplier, whose identity is max(late supplier) (exact when the
    * distinct count is 1) — so the whole query is: one big equi-join,
    * one per-order aggregation that REUSES the join's orderkey
    * partitioning (no extra exchange), one supplier-sized rollup.
    * At 100 TB the EXISTS form would be two more self-joins of
    * lineitem; this form touches it once. The oracle states the
    * EXISTS form independently — the gate proves the rewrite. */
  def k26WaitingSuppliers(spark: SparkSession, dir: String,
                          lateDays: Int = 90,
                          limit: Int = 100): DataFrame = {
    val fOrders = Tables.orders(spark, dir)
      .filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_orderdate"))
    val late = col("l_shipdate") >
      col("o_orderdate") + expr(s"INTERVAL '$lateDays' DAY")
    // two-level aggregation instead of two countDistincts in one agg:
    // the single-agg form plans an Expand that triples the joined
    // stream through the shuffle (one replica per distinct group +
    // one for the plain aggs); grouping to (order, supplier) first is
    // one partial-agg'd shuffle and makes both distinct counts plain
    // counts (each supplier appears once per order). Identical
    // results: n_supp = #distinct suppliers, n_late = #suppliers with
    // any late line, late_supp = max such supplier, late_rows = total
    // late lines (summed per-supplier late-line counts).
    val perSupp = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      .join(fOrders, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(count(when(late, lit(1))).as("supp_late_rows"))
    val anyLate = col("supp_late_rows") > 0
    val per = perSupp
      .groupBy(col("l_orderkey"))
      .agg(count(col("l_suppkey")).as("n_supp"),
        sum(when(anyLate && col("l_suppkey").isNotNull, 1L).otherwise(0L))
          .as("n_late"),
        max(when(anyLate, col("l_suppkey"))).as("late_supp"),
        // Q21 counts late LINEITEM rows, not orders: a supplier with
        // two late lines on one order counts twice (all late rows
        // belong to late_supp when the distinct late count is 1)
        sum(col("supp_late_rows")).as("late_rows"))
    per.filter(col("n_supp") > 1 && col("n_late") === 1)
      .groupBy(col("late_supp"))
      .agg(sum(col("late_rows")).as("numwait"))
      .join(broadcast(Tables.supplier(spark, dir)),
        col("late_supp") === col("s_suppkey"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(limit)
      .select(col("s_name"), col("numwait"))
  }

  def k26Sql(lateDays: Int = 90, limit: Int = 100): String =
    s"""SELECT s_name, numwait FROM (
      |  SELECT s_name, COUNT(*) AS numwait
      |  FROM supplier
      |  JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
      |  JOIN orders ON o_orderkey = l1.l_orderkey
      |  WHERE o_orderstatus = 'F'
      |    AND l1.l_shipdate > o_orderdate + INTERVAL $lateDays DAY
      |    AND EXISTS (SELECT 1 FROM lineitem l2
      |                WHERE l2.l_orderkey = l1.l_orderkey
      |                  AND l2.l_suppkey <> l1.l_suppkey)
      |    AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                    WHERE l3.l_orderkey = l1.l_orderkey
      |                      AND l3.l_suppkey <> l1.l_suppkey
      |                      AND l3.l_shipdate > o_orderdate + INTERVAL $lateDays DAY)
      |  GROUP BY 1
      |) ORDER BY numwait DESC, s_name LIMIT $limit""".stripMargin

  /** K29 `k29_rfm_segmentation` — RFM (recency / frequency /
    * monetary) customer segmentation, the classic retention-analytics
    * scoring: per customer, last order date, order count, exact-
    * decimal spend, each scored into quartiles and concatenated into
    * the RFM segment label. Quartile assignment deliberately does NOT
    * use a global ntile() — that is a single-partition sort over
    * every customer. Instead the three quartile BOUNDARIES come from
    * one percentile_disc aggregate (a 1-row broadcast) and each
    * customer classifies itself by comparison: score = 1 + Σ
    * (metric > q_k) — identical quartiles wherever ntile's even-split
    * tie behavior doesn't bisect equal values, and fully distributed
    * (broadcast + map, no global sort). Recency quantiles run on
    * epoch micros (exact in BIGINT); monetary through the dsum
    * decimal discipline. Scale: one shuffle to the per-customer
    * rollup; the threshold agg reads that rollup; classification is
    * map-side. */
  def rfmSegmentation(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("recency"),
        count(lit(1)).as("frequency"),
        dsum(col("o_totalprice")).as("monetary"))
      .withColumn("r_us", unix_micros(col("recency")))
    def pd(c: String, p: Double) =
      expr(s"percentile_disc($p) WITHIN GROUP (ORDER BY $c)")
    val th = base.agg(
      pd("r_us", 0.25).as("r25"), pd("r_us", 0.5).as("r50"),
      pd("r_us", 0.75).as("r75"),
      pd("frequency", 0.25).as("f25"), pd("frequency", 0.5).as("f50"),
      pd("frequency", 0.75).as("f75"),
      pd("monetary", 0.25).as("m25"), pd("monetary", 0.5).as("m50"),
      pd("monetary", 0.75).as("m75"))
    def score(c: Column, q1: Column, q2: Column, q3: Column) =
      lit(1) + (c > q1).cast("int") + (c > q2).cast("int") +
        (c > q3).cast("int")
    base.crossJoin(broadcast(th))
      .withColumn("r_score", score(col("r_us"), col("r25"), col("r50"), col("r75")))
      .withColumn("f_score", score(col("frequency"), col("f25"), col("f50"), col("f75")))
      .withColumn("m_score", score(col("monetary"), col("m25"), col("m50"), col("m75")))
      .select(col("o_custkey"), col("recency"), col("frequency"),
        col("monetary"), col("r_score"), col("f_score"), col("m_score"),
        concat(col("r_score"), lit("-"), col("f_score"), lit("-"),
          col("m_score")).as("segment"))
  }

  def rfmSegmentationSql: String =
    """WITH base AS (
      |  SELECT o_custkey, MAX(o_orderdate) AS recency, COUNT(*) AS frequency,
      |    CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS monetary,
      |    epoch_us(MAX(o_orderdate)) AS r_us
      |  FROM orders GROUP BY 1
      |), th AS (
      |  SELECT
      |    quantile_disc(r_us, 0.25) AS r25, quantile_disc(r_us, 0.5) AS r50,
      |    quantile_disc(r_us, 0.75) AS r75,
      |    quantile_disc(frequency, 0.25) AS f25,
      |    quantile_disc(frequency, 0.5) AS f50,
      |    quantile_disc(frequency, 0.75) AS f75,
      |    quantile_disc(monetary, 0.25) AS m25,
      |    quantile_disc(monetary, 0.5) AS m50,
      |    quantile_disc(monetary, 0.75) AS m75
      |  FROM base
      |), scored AS (
      |  SELECT o_custkey, CAST(recency AS TIMESTAMP) AS recency, frequency,
      |    monetary,
      |    1 + CAST(r_us > r25 AS INT) + CAST(r_us > r50 AS INT)
      |      + CAST(r_us > r75 AS INT) AS r_score,
      |    1 + CAST(frequency > f25 AS INT) + CAST(frequency > f50 AS INT)
      |      + CAST(frequency > f75 AS INT) AS f_score,
      |    1 + CAST(monetary > m25 AS INT) + CAST(monetary > m50 AS INT)
      |      + CAST(monetary > m75 AS INT) AS m_score
      |  FROM base, th
      |)
      |SELECT o_custkey, recency, frequency, monetary, r_score, f_score,
      |  m_score,
      |  r_score || '-' || f_score || '-' || m_score AS segment
      |FROM scored""".stripMargin

  /** K35 `k35_segment_migration` — RFM segment-MIGRATION matrix: the
    * before/after readout every retention program ships on top of
    * K29's scoring — customers are RFM-scored independently in two
    * order periods (split at `cutoff`; thresholds re-learned PER
    * period, the honest design — a fixed global threshold would mark
    * everyone "less recent" in the later period by construction) and
    * the serve is the migration matrix (segment_from, segment_to,
    * n_customers), with NEW (no period-1 orders) and GONE (no
    * period-2 orders) as explicit marginal rows. Bounded output
    * (≤ (64+1)² cells), the form a dashboard reads.
    *
    * Shape: ONE per-customer rollup with conditional aggregation
    * over the cutoff (L15's CASE collapse — no two filtered scans,
    * no self-join), one 1-row percentile agg per period broadcast
    * back (K29's no-global-ntile rule), map-side scoring, then the
    * bounded matrix rollup. Exactness: recency quantiles on epoch
    * micros (BIGINT), monetary through the dsum decimal discipline;
    * zero-order periods are NULLed so each period's quartiles see
    * only its own customers. */
  def segmentMigration(spark: SparkSession, dir: String,
                       cutoff: String = "1998-07-01"): DataFrame = {
    val isP1 = col("o_orderdate") < lit(cutoff).cast("timestamp")
    val dv = col("o_totalprice").cast("decimal(18,6)")
    val base = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(
        max(when(isP1, col("o_orderdate"))).as("rec1"),
        count(when(isP1, lit(1))).as("freq1_raw"),
        sum(when(isP1, dv)).as("mon1_d"),
        max(when(!isP1, col("o_orderdate"))).as("rec2"),
        count(when(!isP1, lit(1))).as("freq2_raw"),
        sum(when(!isP1, dv)).as("mon2_d"))
      .select(col("o_custkey"),
        unix_micros(col("rec1")).as("r1"),
        when(col("freq1_raw") === 0, lit(null)).otherwise(col("freq1_raw"))
          .cast("long").as("f1"),
        col("mon1_d").cast("double").as("m1"),
        unix_micros(col("rec2")).as("r2"),
        when(col("freq2_raw") === 0, lit(null)).otherwise(col("freq2_raw"))
          .cast("long").as("f2"),
        col("mon2_d").cast("double").as("m2"))
    def pd(c: String, p: Double) =
      expr(s"percentile_disc($p) WITHIN GROUP (ORDER BY $c)")
    val th = base.agg(
      pd("r1", 0.25).as("r1a"), pd("r1", 0.5).as("r1b"),
      pd("r1", 0.75).as("r1c"),
      pd("f1", 0.25).as("f1a"), pd("f1", 0.5).as("f1b"),
      pd("f1", 0.75).as("f1c"),
      pd("m1", 0.25).as("m1a"), pd("m1", 0.5).as("m1b"),
      pd("m1", 0.75).as("m1c"),
      pd("r2", 0.25).as("r2a"), pd("r2", 0.5).as("r2b"),
      pd("r2", 0.75).as("r2c"),
      pd("f2", 0.25).as("f2a"), pd("f2", 0.5).as("f2b"),
      pd("f2", 0.75).as("f2c"),
      pd("m2", 0.25).as("m2a"), pd("m2", 0.5).as("m2b"),
      pd("m2", 0.75).as("m2c"))
    def score(c: Column, a: Column, b: Column, cc: Column) =
      lit(1) + (c > a).cast("int") + (c > b).cast("int") +
        (c > cc).cast("int")
    def seg(r: Column, f: Column, m: Column, present: Column) =
      when(!present, lit(null))
        .otherwise(concat(r, lit("-"), f, lit("-"), m))
    base.crossJoin(broadcast(th))
      .withColumn("seg1", seg(
        score(col("r1"), col("r1a"), col("r1b"), col("r1c")),
        score(col("f1"), col("f1a"), col("f1b"), col("f1c")),
        score(col("m1"), col("m1a"), col("m1b"), col("m1c")),
        col("f1").isNotNull))
      .withColumn("seg2", seg(
        score(col("r2"), col("r2a"), col("r2b"), col("r2c")),
        score(col("f2"), col("f2a"), col("f2b"), col("f2c")),
        score(col("m2"), col("m2a"), col("m2b"), col("m2c")),
        col("f2").isNotNull))
      .select(coalesce(col("seg1"), lit("NEW")).as("segment_from"),
        coalesce(col("seg2"), lit("GONE")).as("segment_to"))
      .groupBy(col("segment_from"), col("segment_to"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("segment_from"), col("segment_to"))
  }

  def segmentMigrationSql(cutoff: String = "1998-07-01"): String =
    s"""WITH base AS (
       |  SELECT o_custkey,
       |    epoch_us(MAX(CASE WHEN o_orderdate < TIMESTAMP '$cutoff 00:00:00'
       |      THEN o_orderdate END)) AS r1,
       |    NULLIF(COUNT(CASE WHEN o_orderdate < TIMESTAMP '$cutoff 00:00:00'
       |      THEN 1 END), 0) AS f1,
       |    CAST(CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '$cutoff 00:00:00'
       |      THEN CAST(o_totalprice AS DECIMAL(18,6)) END) AS VARCHAR)
       |      AS DOUBLE) AS m1,
       |    epoch_us(MAX(CASE WHEN o_orderdate >= TIMESTAMP '$cutoff 00:00:00'
       |      THEN o_orderdate END)) AS r2,
       |    NULLIF(COUNT(CASE WHEN o_orderdate >= TIMESTAMP '$cutoff 00:00:00'
       |      THEN 1 END), 0) AS f2,
       |    CAST(CAST(SUM(CASE WHEN o_orderdate >= TIMESTAMP '$cutoff 00:00:00'
       |      THEN CAST(o_totalprice AS DECIMAL(18,6)) END) AS VARCHAR)
       |      AS DOUBLE) AS m2
       |  FROM orders GROUP BY 1
       |), th AS (
       |  SELECT
       |    quantile_disc(r1, 0.25) AS r1a, quantile_disc(r1, 0.5) AS r1b,
       |    quantile_disc(r1, 0.75) AS r1c,
       |    quantile_disc(f1, 0.25) AS f1a, quantile_disc(f1, 0.5) AS f1b,
       |    quantile_disc(f1, 0.75) AS f1c,
       |    quantile_disc(m1, 0.25) AS m1a, quantile_disc(m1, 0.5) AS m1b,
       |    quantile_disc(m1, 0.75) AS m1c,
       |    quantile_disc(r2, 0.25) AS r2a, quantile_disc(r2, 0.5) AS r2b,
       |    quantile_disc(r2, 0.75) AS r2c,
       |    quantile_disc(f2, 0.25) AS f2a, quantile_disc(f2, 0.5) AS f2b,
       |    quantile_disc(f2, 0.75) AS f2c,
       |    quantile_disc(m2, 0.25) AS m2a, quantile_disc(m2, 0.5) AS m2b,
       |    quantile_disc(m2, 0.75) AS m2c
       |  FROM base
       |), scored AS (
       |  SELECT
       |    CASE WHEN f1 IS NULL THEN NULL ELSE
       |      (1 + CAST(r1 > r1a AS INT) + CAST(r1 > r1b AS INT)
       |         + CAST(r1 > r1c AS INT)) || '-' ||
       |      (1 + CAST(f1 > f1a AS INT) + CAST(f1 > f1b AS INT)
       |         + CAST(f1 > f1c AS INT)) || '-' ||
       |      (1 + CAST(m1 > m1a AS INT) + CAST(m1 > m1b AS INT)
       |         + CAST(m1 > m1c AS INT)) END AS seg1,
       |    CASE WHEN f2 IS NULL THEN NULL ELSE
       |      (1 + CAST(r2 > r2a AS INT) + CAST(r2 > r2b AS INT)
       |         + CAST(r2 > r2c AS INT)) || '-' ||
       |      (1 + CAST(f2 > f2a AS INT) + CAST(f2 > f2b AS INT)
       |         + CAST(f2 > f2c AS INT)) || '-' ||
       |      (1 + CAST(m2 > m2a AS INT) + CAST(m2 > m2b AS INT)
       |         + CAST(m2 > m2c AS INT)) END AS seg2
       |  FROM base, th
       |)
       |SELECT COALESCE(seg1, 'NEW') AS segment_from,
       |  COALESCE(seg2, 'GONE') AS segment_to,
       |  COUNT(*) AS n_customers
       |FROM scored GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** K30 `k30_copurchase_pairs` — market-basket co-occurrence: pairs
    * of parts appearing together in the same order, with order-count
    * support, thresholded and served as a deterministic top-k — the
    * "frequently bought together" primitive behind recommendation
    * candidate generation. Pair generation deliberately avoids the
    * self-join form (distinct → join → realign costs three exchanges):
    * ONE shuffle groups each order's distinct parts into a sorted
    * array, and the pairs expand MAP-SIDE from that array via nested
    * `transform` + `flatten` (i < j by construction, so no dedup
    * pass), bounded by the basket size — TPC-H orders hold ≤ 7 lines,
    * so ≤ 21 pairs per order and the expansion is O(n), never O(n²).
    * The pair rollup is the second (and last) shuffle; the serve is a
    * distributed TakeOrdered on the fully-tiebroken (support desc,
    * part_a, part_b) order, so the LIMIT is deterministic under any
    * partitioning. At 100 TB: both shuffles move ≤ 21 rows per order
    * with partial aggregation on the pair side; no basket-size blowup
    * risk because the per-key state is the sorted part array, capped
    * by the schema's basket bound. The basket → pair chain is the ONE
    * shared cold build ([[Graph.cachedPairCounts]]) the whole graph
    * family also serves from — this query is a plan-only filter +
    * top-k over that cached rollup. */
  def k30CopurchasePairs(spark: SparkSession, dir: String,
                         minSupport: Int = 2, limit: Int = 100): DataFrame =
    Graph.cachedPairCounts(spark, dir)
      .filter(col("n_orders") >= minSupport)
      .select(col("src").as("part_a"), col("dst").as("part_b"),
        col("n_orders"))
      .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
      .limit(limit)

  def k30Sql(minSupport: Int = 2, limit: Int = 100): String =
    s"""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
      |SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
      |  COUNT(*) AS n_orders
      |FROM items a JOIN items b
      |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |GROUP BY 1, 2
      |HAVING COUNT(*) >= $minSupport
      |ORDER BY n_orders DESC, part_a, part_b LIMIT $limit""".stripMargin

  /** K31 `k31_association_rules` — association rules over K30's
    * co-purchase pairs: for every pair with support ≥ s, BOTH
    * directed rules a→b with confidence = c_ab / c_a (fraction of
    * a's orders that also hold b) and lift = c_ab·N / (c_a·c_b)
    * (independence ratio — the same mixed-count estimator family as
    * I17's PMI, in ratio rather than log form), filtered to
    * confidence ≥ minConf and served as a deterministic top-k by
    * (lift desc, antecedent, consequent). Confidence and lift are
    * exact ratios of BIGINT counts with explicit double casts in one
    * fixed association order, rounded 6dp.
    * Scale: baskets and pair counts serve from the shared cached cold
    * build ([[Graph.cachedBaskets]]/[[Graph.cachedPairCounts]]);
    * the per-part order counts are one more linear partial agg; the
    * marginal attachments are part-keyed equi joins (part-dimension
    * sized); the order total is a 1-row broadcast attach; serve is
    * TakeOrdered. */
  def k31AssociationRules(spark: SparkSession, dir: String,
                          minSupport: Int = 2, minConf: Double = 0.05,
                          limit: Int = 100): DataFrame = {
    val items = Graph.cachedBaskets(spark, dir)
    val pairCounts = Graph.cachedPairCounts(spark, dir)
      .select(col("src").as("part_a"), col("dst").as("part_b"),
        col("n_orders").as("c_pair"))
      .filter(col("c_pair") >= minSupport)
    val partCounts = items
      .select(explode(col("parts")).as("part"))
      .groupBy(col("part")).agg(count(lit(1)).as("c_part"))
    val nOrders = items.agg(count(lit(1)).as("n_orders"))
    // both directions: a→b and b→a
    val directed = pairCounts
      .select(col("part_a").as("antecedent"), col("part_b").as("consequent"),
        col("c_pair"))
      .unionAll(pairCounts.select(col("part_b").as("antecedent"),
        col("part_a").as("consequent"), col("c_pair")))
    directed
      .join(partCounts.select(col("part").as("antecedent"),
        col("c_part").as("c_ante")), "antecedent")
      .join(partCounts.select(col("part").as("consequent"),
        col("c_part").as("c_cons")), "consequent")
      .crossJoin(broadcast(nOrders))
      .withColumn("confidence",
        round(col("c_pair").cast("double") / col("c_ante").cast("double"), 6))
      .withColumn("lift", round(
        (col("c_pair").cast("double") * col("n_orders").cast("double")) /
          (col("c_ante").cast("double") * col("c_cons").cast("double")), 6))
      .filter(col("confidence") >= minConf)
      .select(col("antecedent"), col("consequent"), col("c_pair"),
        col("c_ante"), col("c_cons"), col("confidence"), col("lift"))
      .orderBy(col("lift").desc, col("antecedent"), col("consequent"))
      .limit(limit)
  }

  def k31Sql(minSupport: Int = 2, minConf: Double = 0.05,
             limit: Int = 100): String =
    s"""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |pc AS (
       |  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
       |    COUNT(*) AS c_pair
       |  FROM items a JOIN items b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $minSupport
       |), parts AS (
       |  SELECT l_partkey AS part, COUNT(*) AS c_part FROM items GROUP BY 1
       |), tot AS (
       |  SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM items
       |), directed AS (
       |  SELECT part_a AS antecedent, part_b AS consequent, c_pair FROM pc
       |  UNION ALL
       |  SELECT part_b, part_a, c_pair FROM pc
       |)
       |SELECT antecedent, consequent, c_pair, c_ante, c_cons, confidence, lift
       |FROM (
       |  SELECT d.antecedent, d.consequent, d.c_pair,
       |    pa.c_part AS c_ante, pcs.c_part AS c_cons,
       |    ROUND(CAST(d.c_pair AS DOUBLE) / CAST(pa.c_part AS DOUBLE), 6)
       |      AS confidence,
       |    ROUND((CAST(d.c_pair AS DOUBLE) * CAST(n_orders AS DOUBLE))
       |      / (CAST(pa.c_part AS DOUBLE) * CAST(pcs.c_part AS DOUBLE)), 6)
       |      AS lift
       |  FROM directed d
       |  JOIN parts pa ON d.antecedent = pa.part
       |  JOIN parts pcs ON d.consequent = pcs.part
       |  CROSS JOIN tot
       |)
       |WHERE confidence >= $minConf
       |ORDER BY lift DESC, antecedent, consequent LIMIT $limit""".stripMargin

  /** K33 `k33_revenue_bridge` — period-over-period revenue-bridge
    * decomposition (the FP&A "waterfall"): for each customer nation,
    * the revenue change from year0 to year1 split into a VOLUME
    * effect (quantity change priced at the period-0 realized rate)
    * and a PRICE/RATE effect (the remainder), with
    * delta_rev ≡ volume_effect + price_effect exact by construction
    * (the price effect is computed as the residual, so the bridge
    * always reconciles — the property a consumer of a bridge report
    * actually relies on). Nations present in only one period take the
    * whole delta as volume (new/lost business at an undefined rate).
    *
    * Determinism: the four per-period measures are exact decimal sums
    * served as correctly-rounded doubles (house `dsum`); every derived
    * effect is then a fixed shape of IEEE double ops ((q1-q0)*(r0/q0),
    * r1-r0, and the residual), bit-identical cross-engine given
    * identical inputs — no rounding slack needed.
    *
    * Scale: ONE lineitem scan; the year predicate pushes to the
    * orders scan and prunes at the parquet level; lineitem⋈orders
    * shuffles once on orderkey (both sides big at 100 TB); the
    * customer→nation dim chain broadcasts; the final groupBy is 25
    * nations — partial aggregation makes that shuffle bytes-trivial.
    * The same shape serves any bridge dimension (brand, segment,
    * tenant) by swapping the broadcast dim. */
  def k33RevenueBridge(spark: SparkSession, dir: String,
                       year0: Int = 1997, year1: Int = 1998): DataFrame = {
    val custNation = Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name"))
    val ord = Tables.orders(spark, dir)
      .filter(year(col("o_orderdate")) === year0 ||
        year(col("o_orderdate")) === year1)
      .select(col("o_orderkey"), col("o_custkey"),
        (year(col("o_orderdate")) === year1).as("is_y1"))
    val rev = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    val g = Tables.lineitem(spark, dir)
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(custNation), col("o_custkey") === col("c_custkey"))
      .groupBy(col("n_name").as("nation"))
      .agg(
        dsum(when(!col("is_y1"), col("l_quantity")).otherwise(lit(0.0))).as("qty0"),
        dsum(when(col("is_y1"), col("l_quantity")).otherwise(lit(0.0))).as("qty1"),
        dsum(when(!col("is_y1"), rev).otherwise(lit(0.0))).as("rev0"),
        dsum(when(col("is_y1"), rev).otherwise(lit(0.0))).as("rev1"))
    val volume = when(col("qty0") === 0.0, col("rev1"))
      .when(col("qty1") === 0.0, -col("rev0"))
      .otherwise((col("qty1") - col("qty0")) * (col("rev0") / col("qty0")))
    g.select(col("nation"), col("qty0"), col("qty1"), col("rev0"), col("rev1"),
      (col("rev1") - col("rev0")).as("delta_rev"),
      volume.as("volume_effect"),
      ((col("rev1") - col("rev0")) - volume).as("price_effect"))
  }

  def k33Sql(year0: Int = 1997, year1: Int = 1998): String =
    s"""WITH g AS (
       |  SELECT n_name AS nation,
       |    CAST(CAST(SUM(CAST(CASE WHEN EXTRACT(YEAR FROM o_orderdate) = $year0
       |      THEN l_quantity ELSE 0.0 END AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS qty0,
       |    CAST(CAST(SUM(CAST(CASE WHEN EXTRACT(YEAR FROM o_orderdate) = $year1
       |      THEN l_quantity ELSE 0.0 END AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS qty1,
       |    CAST(CAST(SUM(CAST(CASE WHEN EXTRACT(YEAR FROM o_orderdate) = $year0
       |      THEN l_extendedprice*(1.0-l_discount) ELSE 0.0 END AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS rev0,
       |    CAST(CAST(SUM(CAST(CASE WHEN EXTRACT(YEAR FROM o_orderdate) = $year1
       |      THEN l_extendedprice*(1.0-l_discount) ELSE 0.0 END AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS rev1
       |  FROM lineitem
       |  JOIN orders ON l_orderkey = o_orderkey
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation ON c_nationkey = n_nationkey
       |  WHERE EXTRACT(YEAR FROM o_orderdate) IN ($year0, $year1)
       |  GROUP BY 1
       |)
       |SELECT nation, qty0, qty1, rev0, rev1,
       |  rev1 - rev0 AS delta_rev,
       |  CASE WHEN qty0 = 0.0 THEN rev1
       |       WHEN qty1 = 0.0 THEN -rev0
       |       ELSE (qty1 - qty0) * (rev0 / qty0) END AS volume_effect,
       |  (rev1 - rev0) - (CASE WHEN qty0 = 0.0 THEN rev1
       |       WHEN qty1 = 0.0 THEN -rev0
       |       ELSE (qty1 - qty0) * (rev0 / qty0) END) AS price_effect
       |FROM g""".stripMargin

  /** K34 `k34_revenue_concentration` — customer revenue concentration
    * as a decile Lorenz curve + Gini coefficient: per revenue decile
    * (1 = lightest spenders), the customer count, exact-decimal
    * revenue, revenue share, cumulative share, and the grouped-data
    * Gini 1 − Σ f_k·(cum_k + cum_{k−1}) (trapezoid form) attached as
    * a scalar — the "what fraction of customers drive the revenue"
    * read behind every whale-risk / 80-20 analysis. Deliberately
    * DECILE-GRAINED, not a per-customer running share: the exact
    * Lorenz curve needs a global sort of every customer, which at
    * 100 TB is the one thing this report must not do — decile
    * boundaries come from one percentile_disc aggregate (a 1-row
    * broadcast, K29's mechanics), every customer classifies itself
    * by comparison, and the cumulative pass runs over TEN rows.
    * Shares/Gini are fixed IEEE shapes over exact decimal sums and
    * BIGINT counts, rounded 6dp. */
  def k34RevenueConcentration(spark: SparkSession, dir: String,
                              nBuckets: Int = 10): DataFrame = {
    val perCust = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast(DecimalType(18, 6))).as("rev"))
    val ps = (1 until nBuckets).map(k => f"${k.toDouble / nBuckets}%.6f")
    val aggs = ps.zipWithIndex.map { case (p, i) =>
      expr(s"percentile_disc($p) WITHIN GROUP (ORDER BY rev)").as(s"d${i + 1}") }
    val th = perCust.agg(aggs.head, aggs.tail: _*)
    val bucket = (1 until nBuckets).map(k => (col("rev") > col(s"d$k")).cast("int"))
      .foldLeft(lit(1))(_ + _)
    // nBuckets rows feeding the totals attach, the cumulative window,
    // the Gini aggregate AND the serve — eager-materialize once so no
    // branch re-pays the customer rollup (house fan-out discipline)
    val byDecile = perCust.crossJoin(broadcast(th))
      .groupBy(bucket.as("decile"))
      .agg(count(lit(1)).as("n_customers"), sum(col("rev")).as("rev_dec"))
      .cutLineage()
    val tot = byDecile.agg(sum(col("rev_dec")).as("rev_tot"),
      sum(col("n_customers")).as("n_tot"))
    val w = Window.partitionBy(Obs.onePart(col("decile"))).orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val share = col("rev_dec").cast("double") / col("rev_tot").cast("double")
    val cum = sum(col("rev_dec")).over(w).cast("double") /
      col("rev_tot").cast("double")
    val fk = col("n_customers").cast("double") / col("n_tot").cast("double")
    val staged = byDecile.crossJoin(broadcast(tot))
      .withColumn("share_raw", share)
      .withColumn("cum_raw", cum)
      .withColumn("gini_term", fk * (col("cum_raw") * 2 - col("share_raw")))
    val gini = staged.agg(
      (lit(1.0) - sum(col("gini_term").cast(DecimalType(18, 9))).cast("double"))
        .as("g"))
    staged.crossJoin(broadcast(gini))
      .select(col("decile"), col("n_customers"),
        col("rev_dec").cast("double").as("revenue"),
        round(col("share_raw"), 6).as("rev_share"),
        round(col("cum_raw"), 6).as("cum_share"),
        round(col("g"), 6).as("gini"))
  }

  def k34Sql(nBuckets: Int = 10): String = {
    val ps = (1 until nBuckets).map(k => f"${k.toDouble / nBuckets}%.6f")
    val thCols = ps.zipWithIndex.map { case (p, i) =>
      s"quantile_disc(rev, $p) AS d${i + 1}" }.mkString(", ")
    val bucketExpr = "1" + (1 until nBuckets)
      .map(k => s" + CAST(rev > d$k AS INT)").mkString
    s"""WITH pc AS (
       |  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS rev
       |  FROM orders GROUP BY 1
       |), th AS (
       |  SELECT $thCols FROM pc
       |), bd AS (
       |  SELECT $bucketExpr AS decile, COUNT(*) AS n_customers,
       |    SUM(rev) AS rev_dec
       |  FROM pc CROSS JOIN th GROUP BY 1
       |), tot AS (
       |  SELECT SUM(rev_dec) AS rev_tot, CAST(SUM(n_customers) AS BIGINT) AS n_tot FROM bd
       |), staged AS (
       |  SELECT decile, n_customers,
       |    CAST(CAST(rev_dec AS VARCHAR) AS DOUBLE) AS rev_dec_d,
       |    CAST(CAST(rev_dec AS VARCHAR) AS DOUBLE)
       |      / CAST(CAST(rev_tot AS VARCHAR) AS DOUBLE) AS share_raw,
       |    CAST(CAST(SUM(rev_dec) OVER (ORDER BY decile
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE)
       |      / CAST(CAST(rev_tot AS VARCHAR) AS DOUBLE) AS cum_raw,
       |    CAST(n_customers AS DOUBLE) / CAST(n_tot AS DOUBLE) AS fk
       |  FROM bd CROSS JOIN tot
       |), g AS (
       |  SELECT 1.0 - CAST(CAST(SUM(CAST(fk * (cum_raw * 2 - share_raw)
       |    AS DECIMAL(18,9))) AS VARCHAR) AS DOUBLE) AS gini
       |  FROM staged
       |)
       |SELECT decile, n_customers, rev_dec_d AS revenue,
       |  ROUND(share_raw, 6) AS rev_share,
       |  ROUND(cum_raw, 6) AS cum_share,
       |  ROUND(gini, 6) AS gini
       |FROM staged CROSS JOIN g""".stripMargin
  }

  val registry: Seq[(String, Entry)] = Seq(
    "k34_revenue_concentration" -> Entry((s, d) => k34RevenueConcentration(s, d), k34Sql(),
      shuffles = 5, // post-checkpoint: totals + cum window + gini + serve attaches, all over <= 10 rows
      bnlj = true), // (b) 1-row threshold + totals + gini attaches onto <=10 rows
    "param_k34_revenue_concentration" -> Entry((s, d) =>
      k34RevenueConcentration(s, d, nBuckets = 4),
      k34Sql(nBuckets = 4), shuffles = 5,
      bnlj = true), // (b) 1-row threshold + totals + gini attaches onto <=10 rows
    "k33_revenue_bridge" -> Entry((s, d) => k33RevenueBridge(s, d), k33Sql(), shuffles = 2),
    "param_k33_revenue_bridge" -> Entry((s, d) => k33RevenueBridge(s, d,
      year0 = 1999, year1 = 2000),
      k33Sql(year0 = 1999, year1 = 2000), shuffles = 2),
    "k30_copurchase_pairs" -> Entry((s, d) => k30CopurchasePairs(s, d), k30Sql(), graph = true,
      shuffles = 2),
    "k31_association_rules" -> Entry((s, d) => k31AssociationRules(s, d), k31Sql(), graph = true,
      shuffles = 10, // K30's pair agg re-expanded per direction + part marginals + rollups
      bnlj = true), // (b) 1-row order-total attach
    "param_k31_association_rules" -> Entry((s, d) => k31AssociationRules(s, d,
      minSupport = 3, minConf = 0.1, limit = 30),
      k31Sql(minSupport = 3, minConf = 0.1, limit = 30), graph = true, shuffles = 10,
      bnlj = true), // (b) 1-row order-total attach
    "param_k30_copurchase_pairs" -> Entry((s, d) => k30CopurchasePairs(s, d,
      minSupport = 3, limit = 20),
      k30Sql(minSupport = 3, limit = 20), graph = true, shuffles = 2),
    "k29_rfm_segmentation" -> Entry(rfmSegmentation _, rfmSegmentationSql,
      shuffles = 3, // customer rollup + 1-row quartile agg + threshold attach
      bnlj = true), // (b) 1-row quartile-threshold attach
    "k35_segment_migration" -> Entry((s, d) => segmentMigration(s, d), segmentMigrationSql(),
      shuffles = 4, // K29's 3 (both periods fold into ONE rollup/agg) + the bounded matrix serve sort
      bnlj = true), // (b) K29's 1-row per-period quartile-threshold attach
    "param_k35_segment_migration" -> Entry((s, d) => segmentMigration(s, d, cutoff = "1997-01-01"),
      segmentMigrationSql(cutoff = "1997-01-01"), shuffles = 4,
      bnlj = true), // (b) K29's 1-row per-period quartile-threshold attach
    "k23_product_profit" -> Entry((s, d) => k23ProductProfit(s, d), k23Sql(),
      shuffles = 3), // lineitem-orders SMJ + (nation,year) agg
    "k24_important_stock" -> Entry((s, d) => k24ImportantStock(s, d), k24Sql(),
      shuffles = 2, // per-part agg + 1-row total rollup
      bnlj = true), // (b) nation stock total
    "k25_part_promotion" -> Entry((s, d) => k25PartPromotion(s, d), k25Sql(),
      shuffles = 2), // (part,supp) agg + qualifying-set distinct
    "k26_waiting_suppliers" -> Entry((s, d) => k26WaitingSuppliers(s, d), k26Sql(),
      shuffles = 4), // SMJ + per-order agg + supplier rollup
    "param_k23_product_profit" -> Entry((s, d) => k23ProductProfit(s, d,
      nameSubstr = "rod", costFactor = 0.5),
      k23Sql(nameSubstr = "rod", costFactor = 0.5), shuffles = 3),
    "param_k26_waiting_suppliers" -> Entry((s, d) => k26WaitingSuppliers(s, d,
      lateDays = 180, limit = 20),
      k26Sql(lateDays = 180, limit = 20), shuffles = 4),
    "k22_market_share" -> Entry((s, d) => k22MarketShare(s, d), k22Sql(), shuffles = 1),
    "k21_supplier_variety" -> Entry((s, d) => k21SupplierVariety(s, d), k21Sql(), shuffles = 2),
    "k16_returned_item_report" -> Entry((s, d) => k16ReturnedItemReport(s, d), k16Sql(),
      shuffles = 1),
    "k17_top_supplier_revenue" -> Entry((s, d) => k17TopSupplierRevenue(s, d), k17Sql(),
      shuffles = 1),
    "k18_nation_trade_volume" -> Entry((s, d) => k18NationTradeVolume(s, d), k18Sql(), shuffles = 1),
    "k19_idle_customers" -> Entry((s, d) => k19IdleCustomers(s, d), k19Sql(), shuffles = 2,
      bnlj = true), // (a) broadcast query/request side, streaming corpus side
    "k15_promo_revenue" -> Entry((s, d) => k15PromoRevenue(s, d), k15Sql(), shuffles = 1),
    "k13_linestatus_priority" -> Entry((s, d) => k13LinestatusPriority(s, d), k13Sql(),
      shuffles = 1),
    "k14_disjunctive_revenue" -> Entry((s, d) => k14DisjunctiveRevenue(s, d), k14Sql(),
      shuffles = 1),
    "k12_min_cost_supplier" -> Entry((s, d) => k12MinCostSupplier(s, d), k12Sql(), shuffles = 2),
    "k11_small_qty_revenue" -> Entry((s, d) => k11SmallQtyRevenue(s, d), k11Sql(), shuffles = 2),
    "k10_running_revenue" -> Entry(k10RunningRevenue _, k10Sql, shuffles = 1),
    "k7_priority_semi_join" -> Entry((s, d) => k7PrioritySemiJoin(s, d), k7Sql(), shuffles = 1),
    "k8_order_count_histogram" -> Entry(k8OrderCountHistogram _, k8Sql, shuffles = 2),
    "k9_large_volume_orders" -> Entry((s, d) => k9LargeVolumeOrders(s, d), k9Sql(), shuffles = 1),
    "q1_pricing_summary" -> Entry((s, d) => q1PricingSummary(s, d), q1Sql(), shuffles = 1),
    // incremental maintenance must reproduce the full recompute bit-for-bit
    "q1_incremental" -> Entry((s, d) => q1Incremental(s, d), q1Sql(),
      shuffles = 3), // base partials + tail partials + merge
    "q1_rollup" -> Entry(q1Rollup _, q1RollupSql,
      shuffles = 2), // q1-shaped partial agg + 6-row rollup
    "k32_grouping_sets" -> Entry(k32GroupingSets _, k32GroupingSetsSql, shuffles = 2),
    "q1_pivot" -> Entry(q1Pivot _, q1PivotSql,
      shuffles = 2), // pivot = two-phase agg (pre-agg on both keys, then pivot)
    "q3_shipping_priority" -> Entry((s, d) => q3ShippingPriority(s, d), q3Sql(), shuffles = 1),
    "q5_join_chain" -> Entry((s, d) => q5JoinChain(s, d), q5Sql(), shuffles = 1),
    "q6_forecast_revenue" -> Entry((s, d) => q6ForecastRevenue(s, d), q6Sql(), shuffles = 1),
    "k5_segment_rollup" -> Entry(k5SegmentRollup _, k5Sql, shuffles = 1),
    "k6_top_customer_per_nation" -> Entry(k6TopCustomerPerNation _, k6Sql, shuffles = 2),
    // non-default library-call instantiations, driver-checked against
    // the SAME parameterized SQL builders
    "param_q6_forecast_revenue" -> Entry((s, d) => q6ForecastRevenue(s, d,
      from = "1996-01-01", to = "1997-01-01",
      discLo = 0.03, discHi = 0.05, qtyMax = 30),
      q6Sql(from = "1996-01-01", to = "1997-01-01", discLo = 0.03, discHi = 0.05, qtyMax = 30),
      shuffles = 1),
    "param_q3_shipping_priority" -> Entry((s, d) => q3ShippingPriority(s, d,
      segment = "MACHINERY", date = "1997-06-01", limit = 15),
      q3Sql(segment = "MACHINERY", date = "1997-06-01", limit = 15), shuffles = 1),
    "param_k18_nation_trade_volume" -> Entry((s, d) => k18NationTradeVolume(s, d,
      nationA = "NATION_1", nationB = "NATION_5"),
      k18Sql(nationA = "NATION_1", nationB = "NATION_5"), shuffles = 0),
    "param_k15_promo_revenue" -> Entry((s, d) => k15PromoRevenue(s, d,
      from = "1996-07-01", to = "1996-08-01"),
      k15Sql(from = "1996-07-01", to = "1996-08-01"), shuffles = 1))
}
