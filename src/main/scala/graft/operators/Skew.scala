package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Entry, Memo, Registered, Tables}

/** Skew mitigation for hot keys (SURVEY §4).
  *
  * AQE's skew-join splitting handles sort-merge joins at runtime, but
  * two cases still need manual salting on a real cluster: broadcast-
  * ineligible joins planned before stats exist, and aggregations
  * (AQE never splits a skewed groupBy key). Both helpers are pure
  * plan rewrites — results are exactly equal to the unsalted form
  * (SkewSpec asserts set equality).
  */
object Skew extends Registered {

  /** Deterministic per-row salt (hash of the given columns mod n) —
    * no rand(), so retries/replays see identical salts. */
  private def saltOf(n: Int, cols: Seq[Column]): Column =
    pmod(hash(cols: _*), lit(n))

  /** Salted inner equi-join: the big (skewed) side is split into n
    * salt shards per key; the small side is replicated n ways. The
    * shuffle key becomes (key, salt), so a hot key spreads across n
    * reducers instead of melting one. */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String, n: Int): DataFrame = {
    val saltedBig = big.withColumn("__salt",
      saltOf(n, big.columns.map(c => big(c)).toSeq))
    val replicatedSmall = small.withColumn("__salt",
      explode(array((0 until n).map(lit): _*)))
    saltedBig.join(replicatedSmall, Seq(key, "__salt")).drop("__salt")
  }

  /** Two-phase salted aggregation: count + sum per key. Phase 1
    * reduces (key, salt) shards map-side; phase 2 merges the n shard
    * rows per key — the second shuffle moves only n rows per key
    * regardless of skew.
    *
    * NOTE: double sums change their addition order under salting
    * (observed: same hot key, |delta| ~1e-9 relative) — for hash-exact
    * results route the value through decimal first (Analytics.dsum),
    * exactly like every oracle-checked query does. */
  def saltedCountSum(df: DataFrame, key: String, valueCol: String, n: Int): DataFrame =
    df.withColumn("__salt", saltOf(n, df.columns.map(c => df(c)).toSeq))
      .groupBy(col(key), col("__salt"))
      .agg(count(lit(1)).as("__n"), sum(col(valueCol)).as("__s"))
      .groupBy(col(key))
      .agg(sum(col("__n")).as("n"), sum(col("__s")).as("total"))

  /** Served `skew_salted_rollup` — the two-phase salted count+sum
    * over events keyed by event_type: 5 hot keys across the whole
    * table, exactly the shape AQE never splits (it splits skewed
    * JOINS, not skewed groupBys). The value routes through
    * decimal(18,6) (Analytics.dsum discipline) so decimal addition
    * is exact and order-insensitive — the salted two-phase result is
    * hash-equal to the plain single-phase rollup, which is what the
    * DuckDB oracle computes. Phase 2 moves only n salt-shard rows
    * per key regardless of how hot the key is. */
  def saltedRollup(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .withColumn("v", col("value").cast("decimal(18,6)"))
    saltedCountSum(ev, "event_type", "v", 16)
      .select(col("event_type"), col("n"),
        col("total").cast("double").as("total_value"))
  }

  def saltedRollupSql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1""".stripMargin

  /** The service-routing dimension of the reference pipeline (the
    * same mapping Audit.serviceCol encodes), as a literal 5-row dim —
    * the canonical "small side you would broadcast, except the
    * engine/table you inherited can't" salted-join fixture. */
  private val ServiceDim = Seq(
    ("signup", "ingest"), ("click", "ingest"), ("view", "ingest"),
    ("purchase", "persist"), ("error", "dlq"))

  /** N5 `skew_salted_join` — the salted JOIN served end-to-end:
    * events (big side, 5 hot keys across the whole table — the
    * low-cardinality key shape that melts one reducer per key) joined
    * to the service dim through [[saltedJoin]] with a MERGE hint, so
    * the plan is a genuine SortMergeJoin on (event_type, __salt): a
    * hot key spreads over n=16 reducers instead of one. This is the
    * fallback for when broadcasting is impossible (pre-stats plans,
    * oversized "small" sides, engines without BHJ) — AQE splits
    * skewed SMJ partitions only AFTER a stage materializes; salting
    * fixes the key layout in the plan itself. Result is rolled up per
    * service (decimal-routed sum), hash-equal to the unsalted join
    * the oracle computes. */
  def saltedJoinRollup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), col("value").cast("decimal(18,6)").as("v"))
    val dim = ServiceDim.toDF("event_type", "service").hint("merge")
    saltedJoin(ev, dim, "event_type", 16)
      .groupBy(col("service"))
      .agg(count(lit(1)).as("n"),
        sum(col("v")).cast("double").as("total_value"))
  }

  def saltedJoinRollupSql: String =
    """WITH dim(event_type, service) AS (
      |  VALUES ('signup','ingest'), ('click','ingest'), ('view','ingest'),
      |         ('purchase','persist'), ('error','dlq')
      |)
      |SELECT service, COUNT(*) AS n,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS total_value
      |FROM events e JOIN dim d ON e.event_type = d.event_type
      |GROUP BY 1""".stripMargin

  /** Bounded alert/maintenance windows — an API-contract request set
    * (like F6/F7's reqs): id, [start, end). Deliberately includes a
    * midnight-crossing window, a multi-day window, an empty window,
    * a one-second window, and two OVERLAPPING windows (an event can
    * match both w6 and w7). */
  private val Windows = Seq(
    ("w1", "2024-01-03 06:30:00", "2024-01-03 11:15:00"),
    ("w2", "2024-01-07 22:00:00", "2024-01-08 03:45:00"),
    ("w3", "2024-01-12 00:00:00", "2024-01-12 00:00:00"),
    ("w4", "2024-01-15 10:00:00", "2024-01-17 10:00:00"),
    ("w5", "2024-01-20 13:05:00", "2024-01-20 13:05:01"),
    ("w6", "2024-01-25 00:00:00", "2024-02-05 00:00:00"),
    ("w7", "2024-01-26 12:00:00", "2024-01-27 12:00:00"))

  /** N6 `range_bin_join` — point-in-interval join with NO equi key,
    * executed as an EQUI join via interval binning: each window
    * explodes into the 1-hour buckets it covers (`sequence` +
    * `explode`, map-side), each event carries its single bucket
    * (`date_trunc`), the join key is the bucket, and the original
    * range predicate stays as a residual filter. The naive plan for
    * this query is a BroadcastNestedLoopJoin that compares EVERY
    * event to EVERY window — fine at 7 windows, fatal when the
    * interval side scales (IP-range tables, session windows, outage
    * calendars); the binned form is what Databricks' range-join hint
    * and Flink's interval join do under the hood, and it scales as
    * events × 1 bucket each, windows × covered-buckets each, both
    * hash-partitioned. An event matching two overlapping windows
    * appears once per window (bucket equality is exact — an
    * (event, window) pair shares exactly one bucket, so binning
    * introduces no duplicates); RegistrySpec proves the plan has no
    * BNLJ, SkewSpec proves row equality with the naive form. */
  def rangeBinJoin(spark: SparkSession, dir: String,
                   windows: Seq[(String, String, String)] = Windows): DataFrame = {
    import spark.implicits._
    val win = windows.toDF("window_id", "w_start_s", "w_end_s")
      .select(col("window_id"),
        col("w_start_s").cast("timestamp").as("w_start"),
        col("w_end_s").cast("timestamp").as("w_end"))
      // covered hour buckets; sequence is inclusive so the bucket of
      // (w_end - 1µs) is the last — an exactly-on-the-hour exclusive
      // end contributes no extra bucket, and an empty window (start =
      // end) explodes to one bucket the residual filter then empties
      .withColumn("bucket", explode(sequence(
        date_trunc("hour", col("w_start")),
        date_trunc("hour", greatest(col("w_start"),
          col("w_end") - expr("INTERVAL 1 MICROSECOND"))),
        expr("INTERVAL 1 HOUR"))))
    Tables.events(spark, dir)
      .withColumn("bucket", date_trunc("hour", col("ts")))
      .join(win, Seq("bucket"))
      .filter(col("ts") >= col("w_start") && col("ts") < col("w_end"))
      .select(col("window_id"), col("event_id"), col("user_id"),
        col("ts"), col("value"))
  }

  def rangeBinJoinSql(windows: Seq[(String, String, String)] = Windows): String = {
    val values = windows.map { case (id, s, e) =>
      s"('$id', TIMESTAMP '$s', TIMESTAMP '$e')"
    }.mkString(", ")
    s"""WITH win(window_id, w_start, w_end) AS (VALUES $values)
       |SELECT window_id, event_id, user_id,
       |  CAST(ts AS TIMESTAMP) AS ts, value
       |FROM events e JOIN win w
       |  ON CAST(e.ts AS TIMESTAMP) >= w.w_start
       | AND CAST(e.ts AS TIMESTAMP) <  w.w_end""".stripMargin
  }

  /** Exposed for SkewSpec's naive-form equality check. */
  private[graft] def windowsDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Windows.toDF("window_id", "w_start_s", "w_end_s")
      .select(col("window_id"),
        col("w_start_s").cast("timestamp").as("w_start"),
        col("w_end_s").cast("timestamp").as("w_end"))
  }

  /** Non-default N6 instantiation for the param_ family: sub-hour and
    * cross-day windows over a different week. */
  private val Windows2 = Seq(
    ("v1", "2024-01-05 09:10:00", "2024-01-05 09:40:00"),
    ("v2", "2024-01-06 23:30:00", "2024-01-07 00:30:00"),
    ("v3", "2024-01-09 00:00:00", "2024-01-10 00:00:00"))

  /** N8 `join_bloom_prefilter` — Bloom-filter semi-join reduction
    * (the "runtime row filter" / sideways-information-passing
    * mechanic, done explicitly): the selective side of a join
    * (orders filtered to one priority + one year, ~2% of rows)
    * builds a bounded Bloom filter over its join key
    * (`BloomFilterAggregate`, the same sketch Spark's own
    * InjectRuntimeFilter plants), and the BIG side (lineitem) drops
    * non-matching rows AT THE SCAN — before paying the shuffle —
    * via `might_contain` on the key. The filter is a fixed-size
    * byte array (1 MiB here) REGARDLESS of data volume, so at
    * 100 TB it rides the task broadcast exactly like Spark's
    * runtime filters; the 98% of lineitem that can't join never
    * enters the exchange. The join afterwards removes the bloom's
    * false positives, so the served rollup (revenue per order
    * month) is hash-identical to the plain join the oracle states —
    * equality IS the transparency proof. SkewSpec pins the
    * reduction itself (prefiltered scan ≪ full scan) and in-engine
    * equality with the un-bloomed join. */
  private def filteredOrders(spark: SparkSession, dir: String,
                             priority: String, from: String,
                             to: String): DataFrame =
    Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === priority &&
        col("o_orderdate") >= lit(from).cast("timestamp") &&
        col("o_orderdate") < lit(to).cast("timestamp"))
      .select(col("o_orderkey"), col("o_orderdate"))

  /** The bloom-prefiltered big side — `might_contain(bloom(build
    * keys), l_orderkey)` applied right at the lineitem scan.
    * `private[graft]` so SkewSpec can measure the reduction the
    * filter buys BEFORE the join. */
  private[graft] def prefilteredLineitem(spark: SparkSession, dir: String,
                                         priority: String = "1-URGENT",
                                         from: String = "1995-01-01",
                                         to: String = "1996-01-01"): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal => CatLit}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    // memoized bloom bytes: building the filter is a Spark job, and
    // the DataFrame constructor must stay plan-only (explaining a
    // query must not launch jobs)
    val bloomBytes = Memo.value(spark, s"skew.bloom:$dir:$priority:$from:$to",
        Seq(s"$dir/orders.parquet")) {
      val agg = GraftSqlBridge.column(
        BloomFilterAggregate(GraftSqlBridge.expression(col("o_orderkey")),
          CatLit(1000000L), CatLit(8L * 1024 * 1024), 0, 0)
          .toAggregateExpression())
      filteredOrders(spark, dir, priority, from, to)
        .agg(agg.as("bf")).head().getAs[Array[Byte]](0)
    }
    require(bloomBytes != null, "filtered build side is empty")
    val mightContain = GraftSqlBridge.column(BloomFilterMightContain(
      CatLit.create(bloomBytes, org.apache.spark.sql.types.BinaryType),
      GraftSqlBridge.expression(col("l_orderkey"))))
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      .filter(mightContain)
  }

  def bloomJoinRevenue(spark: SparkSession, dir: String,
                       priority: String = "1-URGENT",
                       from: String = "1995-01-01",
                       to: String = "1996-01-01"): DataFrame =
    prefilteredLineitem(spark, dir, priority, from, to)
      .join(filteredOrders(spark, dir, priority, from, to),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(date_trunc("month", col("o_orderdate")).as("order_month"))
      .agg(count(lit(1)).as("n_lines"),
        Analytics.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))

  def bloomJoinRevenueSql(priority: String = "1-URGENT",
                          from: String = "1995-01-01",
                          to: String = "1996-01-01"): String =
    s"""SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP)
       |    AS order_month,
       |  COUNT(*) AS n_lines,
       |  CAST(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
       |                AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS revenue
       |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
       |WHERE o.o_orderpriority = '$priority'
       |  AND o.o_orderdate >= TIMESTAMP '$from 00:00:00'
       |  AND o.o_orderdate <  TIMESTAMP '$to 00:00:00'
       |GROUP BY 1""".stripMargin

  val registry: Seq[(String, Entry)] = Seq(
    "skew_salted_rollup" -> Entry(saltedRollup _, saltedRollupSql, shuffles = 2),
    "skew_salted_join" -> Entry(saltedJoinRollup _, saltedJoinRollupSql,
      shuffles = 3), // both SMJ sides on (key, salt) + rollup
    "range_bin_join" -> Entry((s, d) => rangeBinJoin(s, d), rangeBinJoinSql(),
      shuffles = 0), // bucket-equi BHJ against the exploded windows
    "param_range_bin_join" -> Entry((s, d) => rangeBinJoin(s, d, Windows2),
      rangeBinJoinSql(Windows2), shuffles = 0),
    "join_bloom_prefilter" -> Entry((s, d) => bloomJoinRevenue(s, d), bloomJoinRevenueSql(),
      shuffles = 2),
    "param_join_bloom_prefilter" -> Entry((s, d) => bloomJoinRevenue(s, d,
      priority = "2-HIGH", from = "1996-06-01", to = "1997-06-01"),
      bloomJoinRevenueSql(priority = "2-HIGH", from = "1996-06-01", to = "1997-06-01"),
      shuffles = 2))
}
