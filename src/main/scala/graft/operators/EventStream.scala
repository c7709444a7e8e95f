package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Ckpt.CutOps
import graft.{Entry, Registered, Tables}

/** Event-stream operators, batch form (SURVEY §2.L). Each has a
  * Structured Streaming twin in graft.streaming.StreamOps verified
  * against these batch results in StreamingSpec — the batch query IS
  * the oracle for the stream.
  *
  * Scale: everything here shuffles exactly once on the entity key
  * (user) or the window key; sessionization is the classic
  * lag+cumsum-over-window pattern (single sort within partitions, no
  * driver state).
  */
object EventStream extends Registered {

  /** L1 `stream_tumbling_agg` — 1-hour tumbling windows per event
    * type. */
  def tumblingAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        Analytics.dsum(col("value")).as("value_sum"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("value_sum"))

  def tumblingAggSql: String =
    """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
      |  event_type,
      |  COUNT(*) AS n_events,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS value_sum
      |FROM events GROUP BY 1, 2""".stripMargin

  /** L2 `stream_sessionize` — 30-minute-gap sessionization: a new
    * session starts when the gap from the previous event of the same
    * user exceeds 30 minutes. lag -> boundary flag -> running count =
    * session number; then per-session rollup. Both windows and the
    * final agg share the user_id partitioning: one shuffle total. */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapUs = 1800L * 1000000L
    Tables.events(spark, dir)
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn("new_session",
        (col("prev_us").isNull ||
          (unix_micros(col("ts")) - col("prev_us")) > gapUs).cast("int"))
      .withColumn("session_num", sum(col("new_session")).over(byUser))
      .groupBy(col("user_id"), col("session_num"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"), Analytics.dsum(col("value")).as("total_value"))
  }

  def sessionizeSql: String =
    """WITH flagged AS (
      |  SELECT user_id, event_id, ts, value,
      |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
      |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), numbered AS (
      |  -- CAST: DuckDB SUM(int) yields HUGEINT, which the driver's
      |  -- pandas canonicalization renders as float ("3.0") while the
      |  -- Spark result is int64 ("3") — same values, different hash.
      |  SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id
      |    ORDER BY ts, event_id) AS BIGINT) AS session_num
      |  FROM flagged
      |)
      |SELECT user_id, session_num,
      |  CAST(MIN(ts) AS TIMESTAMP) AS session_start,
      |  CAST(MAX(ts) AS TIMESTAMP) AS session_end,
      |  COUNT(*) AS n_events,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS total_value
      |FROM numbered GROUP BY 1, 2""".stripMargin

  /** L3 `stream_event_dedup` — duplicate suppression on
    * (user, type, minute-bucket): keep the earliest event per key
    * (the batch twin of streaming dropDuplicatesWithinWatermark; the
    * minute bucket gives the synthetic stream real duplicates to
    * suppress). */
  def eventDedup(spark: SparkSession, dir: String): DataFrame = {
    val w = Window
      .partitionBy(col("user_id"), col("event_type"), col("ts_bucket"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .withColumn("ts_bucket", date_trunc("minute", col("ts")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts"), col("value"))
  }

  def eventDedupSql: String =
    """SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, value
      |FROM (
      |  SELECT event_id, user_id, event_type, ts, value,
      |    ROW_NUMBER() OVER (
      |      PARTITION BY user_id, event_type, date_trunc('minute', ts)
      |      ORDER BY ts, event_id) AS rn
      |  FROM events
      |) WHERE rn = 1""".stripMargin

  /** L4 `stream_user_latest_state` — per-user rollup state: latest
    * event attributes + lifetime counters (the batch twin of
    * mapGroupsWithState). */
  def userLatestState(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(spark, dir)
      .withColumn("rn", row_number().over(w))
      .groupBy(col("user_id"))
      .agg(
        max(when(col("rn") === 1, col("event_type"))).as("last_event_type"),
        max(when(col("rn") === 1, col("ts"))).as("last_ts"),
        max(when(col("rn") === 1, col("value"))).as("last_value"),
        count(lit(1)).as("n_events"),
        countDistinct(col("event_type")).as("n_event_types"),
        Analytics.dsum(col("value")).as("total_value"))
  }

  def userLatestStateSql: String =
    """WITH ranked AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
      |    ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events
      |)
      |SELECT user_id,
      |  MAX(CASE WHEN rn = 1 THEN event_type END) AS last_event_type,
      |  CAST(MAX(CASE WHEN rn = 1 THEN ts END) AS TIMESTAMP) AS last_ts,
      |  MAX(CASE WHEN rn = 1 THEN value END) AS last_value,
      |  COUNT(*) AS n_events,
      |  COUNT(DISTINCT event_type) AS n_event_types,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS total_value
      |FROM ranked GROUP BY 1""".stripMargin

  /** L5 `stream_interval_join` — interval (stream-stream) join: each
    * purchase matched with the same user's clicks from the preceding
    * 30 minutes. Batch form of the watermarked stream-stream join in
    * StreamOps.intervalJoin. Scale: equi-join on user_id carries the
    * time predicate as a join filter — one shuffle per side, matches
    * bounded by the interval, state (in streaming) bounded by the
    * watermark. */
  def intervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"), col("value").as("purchase_value"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user_id"),
        col("ts").as("click_ts"))
    purchases.join(clicks,
      col("user_id") === col("c_user_id") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 30 MINUTES"))
      .select(col("purchase_id"), col("user_id"), col("purchase_ts"),
        col("purchase_value"), col("click_id"), col("click_ts"))
  }

  def intervalJoinSql: String =
    """SELECT p.event_id AS purchase_id, p.user_id,
      |  CAST(p.ts AS TIMESTAMP) AS purchase_ts,
      |  p.value AS purchase_value,
      |  c.event_id AS click_id,
      |  CAST(c.ts AS TIMESTAMP) AS click_ts
      |FROM events p JOIN events c
      |  ON p.user_id = c.user_id
      | AND c.ts <= p.ts
      | AND c.ts >= p.ts - INTERVAL 30 MINUTE
      |WHERE p.event_type = 'purchase' AND c.event_type = 'click'""".stripMargin

  /** L6 `stream_enriched_rollup` — dimension-enriched stream rollup:
    * events joined to the customer registry (the static dim), rolled
    * up per (market segment, event type). The streaming twin
    * (StreamOps.enrichedRollup) runs the same plan as a stream-static
    * join — the dim is broadcast per micro-batch with no watermark
    * needed on the static side, the standard enrichment pattern for a
    * 100 TB event feed. One broadcast join + one tiny-key shuffle. */
  def enrichedRollup(spark: SparkSession, dir: String): DataFrame =
    // the SAME transform object the streaming twin runs — one plan
    // definition, so batch/stream equivalence can't drift
    graft.streaming.StreamOps.enrichedRollup(
      Tables.events(spark, dir), Tables.customer(spark, dir))

  def enrichedRollupSql: String =
    """SELECT c_mktsegment AS segment, event_type,
      |  COUNT(*) AS n_events,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS value_sum
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY 1, 2""".stripMargin

  /** L7 `stream_session_window` — Spark's NATIVE session_window
    * operator (vs L2's hand-rolled lag+cumsum): per-user sessions
    * that end 30 minutes after their last event; events exactly one
    * gap apart still merge (same boundary convention as L2, verified
    * against the operator). Same transform object as the streaming
    * twin (StreamOps.sessionWindowAgg) so the two can't drift.
    * Scale: one shuffle on user_id; the session merge runs inside
    * Spark's session-window aggregation (partial merge map-side),
    * state in streaming bounded by the watermark. */
  def sessionWindowAgg(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamOps.sessionWindowAgg(Tables.events(spark, dir))

  /** Islands with the session_window boundary rule: a NEW session
    * starts only at gap STRICTLY greater than 30 min — verified
    * empirically (two events exactly 30 min apart merge into one
    * native session), and the same convention L2's lag rule uses, so
    * the two sessionizers agree everywhere. */
  def sessionWindowAggSql: String =
    """WITH flagged AS (
      |  SELECT user_id, event_id, ts, value,
      |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
      |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), numbered AS (
      |  SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id
      |    ORDER BY ts, event_id) AS BIGINT) AS session_num
      |  FROM flagged
      |)
      |SELECT user_id,
      |  CAST(MIN(ts) AS TIMESTAMP) AS session_start,
      |  CAST(MAX(ts) + INTERVAL 30 MINUTE AS TIMESTAMP) AS session_end,
      |  COUNT(*) AS n_events,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS value_sum
      |FROM numbered GROUP BY user_id, session_num""".stripMargin

  /** L8 `stream_interval_join_outer` — the LEFT OUTER form of L5:
    * every purchase, matched with preceding-30-min clicks when they
    * exist, with NULL click columns otherwise (the "conversion with
    * or without attribution" report). In streaming (StreamOps
    * .intervalJoinOuter) the null row emits only once the watermark
    * proves no matching click can still arrive — the semantics that
    * make outer stream-stream joins hard, exercised here and
    * spec-checked equal to this batch form. One shuffle per side on
    * user_id; match fan-out bounded by the interval. */
  def intervalJoinOuter(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"), col("value").as("purchase_value"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user_id"),
        col("ts").as("click_ts"))
    purchases.join(clicks,
        col("user_id") === col("c_user_id") &&
          col("click_ts") <= col("purchase_ts") &&
          col("click_ts") >= col("purchase_ts") - expr("INTERVAL 30 MINUTES"),
        "left_outer")
      .select(col("purchase_id"), col("user_id"), col("purchase_ts"),
        col("purchase_value"), col("click_id"), col("click_ts"))
  }

  def intervalJoinOuterSql: String =
    """SELECT p.event_id AS purchase_id, p.user_id,
      |  CAST(p.ts AS TIMESTAMP) AS purchase_ts,
      |  p.value AS purchase_value,
      |  c.event_id AS click_id,
      |  CAST(c.ts AS TIMESTAMP) AS click_ts
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |LEFT OUTER JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |  ON p.user_id = c.user_id
      | AND c.ts <= p.ts
      | AND c.ts >= p.ts - INTERVAL 30 MINUTE""".stripMargin

  /** L9 `stream_hopping_agg` — hopping (sliding) windows: 30-minute
    * windows advancing every 10 minutes, so every event lands in
    * exactly size/slide = 3 overlapping windows — the moving-average
    * shape monitoring dashboards serve (a smoother twin of L1's
    * tumbling windows). Spark assigns windows aligned to the epoch:
    * starts are floor(ts/slide)*slide - k*slide for k in 0..2, which
    * is precisely the integer arithmetic the oracle replays. One
    * shuffle on the (window, type) key; the 3x fan-out happens
    * map-side inside the window expression, and partial aggregation
    * reduces it before the exchange — at 100 TB the shuffle moves
    * windows*types rows, not 3x the events. */
  def hoppingAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "30 minutes", "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        Analytics.dsum(col("value")).as("value_sum"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("value_sum"))

  /** Every event belongs to all 3 hop offsets (size divisible by
    * slide), so the oracle can expand k=0..2 unconditionally. */
  def hoppingAggSql: String =
    """SELECT
      |  make_timestamp(((epoch_us(ts) // 600000000) - k) * 600000000)
      |    AS window_start,
      |  event_type,
      |  COUNT(*) AS n_events,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS value_sum
      |FROM events CROSS JOIN range(0, 3) r(k)
      |GROUP BY 1, 2""".stripMargin

  /** L10's allowed lateness (the `withWatermark` delay a streaming
    * deployment would configure). */
  private val AllowedLatenessMin = 10

  /** L10 `stream_watermark_audit` — WATERMARK / late-data accounting:
    * the batch replay of Structured Streaming's event-time watermark
    * semantics, classifying every event against the watermark its
    * stream had reached when the event ARRIVED. Arrival order is the
    * synthetic stream's append sequence (event_id); per tenant shard
    * (the Kinesis/Kafka-partition analogue), the watermark before an
    * event = max event time seen so far minus [[AllowedLatenessMin]]
    * minutes. An event is `on_time` if it advances (or ties) the
    * shard clock, `late_accepted` if it is older than the clock but
    * within the allowed lateness, and `dropped` if it arrived behind
    * the watermark — exactly the rows a `withWatermark(10 min)`
    * stateful query would discard. Served as the per-(tenant, hour)
    * accounting a pipeline SLO dashboard needs: how much data the
    * streaming answer silently missed vs this batch replay.
    *
    * The testdata stream is written in event-time order, so arrival =
    * event time + a deterministic per-event transport delay of 0–30
    * minutes (the F11 durationMs trick: identity-derived, identical
    * across engines and SFs) — the out-of-orderness a real collector
    * sees, exercising all three classes.
    *
    * Scale: ONE window pass ordered by arrival within the tenant
    * shard — watermark tracking is inherently sequential PER SHARD
    * (that is its streaming semantics), and the partition key here is
    * the same shard key the stream is partitioned by; the rollup
    * shares the shuffle. Timestamp comparisons are exact µs. */
  def watermarkAudit(spark: SparkSession, dir: String,
      latenessMin: Int = AllowedLatenessMin): DataFrame = {
    val arrivalUs = unix_micros(col("ts")) +
      pmod(col("event_id") * 7919L + col("user_id") * 104729L, lit(1800L)) *
        1000000L
    val wArr = Window.partitionBy(Obs.tenant)
      .orderBy(arrivalUs, col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val lateness = expr(s"INTERVAL $latenessMin MINUTES")
    Tables.events(spark, dir)
      .withColumn("prev_max_ts", max(col("ts")).over(wArr))
      .withColumn("status",
        when(col("prev_max_ts").isNull || col("ts") >= col("prev_max_ts"),
          "on_time")
          .when(col("ts") >= col("prev_max_ts") - lateness, "late_accepted")
          .otherwise("dropped"))
      .groupBy(Obs.tenant.as("tenant_id"),
        date_trunc("hour", col("ts")).as("window_start"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("status") === "on_time", 1L).otherwise(0L)).as("n_on_time"),
        sum(when(col("status") === "late_accepted", 1L).otherwise(0L))
          .as("n_late_accepted"),
        sum(when(col("status") === "dropped", 1L).otherwise(0L)).as("n_dropped"))
  }

  def watermarkAuditSql(latenessMin: Int = AllowedLatenessMin): String =
    s"""WITH seq AS (
       |  SELECT 't' || (user_id % 4) AS tenant_id, ts,
       |    MAX(ts) OVER (PARTITION BY user_id % 4
       |                  ORDER BY epoch_us(ts)
       |                    + ((event_id * 7919 + user_id * 104729) % 1800)
       |                      * 1000000, event_id
       |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |      AS prev_max_ts
       |  FROM events
       |), st AS (
       |  SELECT tenant_id, ts,
       |    CASE WHEN prev_max_ts IS NULL OR ts >= prev_max_ts THEN 'on_time'
       |         WHEN ts >= prev_max_ts - INTERVAL $latenessMin MINUTE
       |           THEN 'late_accepted'
       |         ELSE 'dropped' END AS status
       |  FROM seq
       |)
       |SELECT tenant_id, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
       |  COUNT(*) AS n_total,
       |  CAST(SUM(CASE WHEN status = 'on_time' THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_on_time,
       |  CAST(SUM(CASE WHEN status = 'late_accepted' THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_late_accepted,
       |  CAST(SUM(CASE WHEN status = 'dropped' THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_dropped
       |FROM st GROUP BY 1, 2""".stripMargin

  /** L11 `events_funnel` — ORDERED multi-stage conversion funnel
    * (view → click → purchase by default): a user converts at stage
    * i only with an event of that stage's type STRICTLY AFTER their
    * stage-(i-1) conversion time, greedily anchored at the earliest
    * qualifying event per stage (the standard funnel semantics —
    * Amplitude/GA "in this order" mode); an optional conversion
    * horizon additionally requires each stage within `horizonMin`
    * minutes of the previous anchor (the "converted within a day"
    * report). Per tenant, the report is the distinct-user count
    * surviving each stage.
    *
    * Implementation: one chained full-partition window per stage over
    * the SAME user_id partitioning — stage i's anchor column is
    * min(ts WHERE type=stageᵢ AND ts > anchor₍ᵢ₋₁₎) OVER (PARTITION BY
    * user). Identically-partitioned stacked Window operators run off
    * ONE exchange (Spark inserts a single hash partitioning for the
    * whole chain), so the funnel costs one shuffle regardless of
    * stage count, then the tiny per-tenant rollup. At 100 TB the
    * window state per user is the partition's events — bounded by
    * per-user activity, the same bound sessionization (L2) already
    * carries; no cross-user state exists. */
  def funnel(spark: SparkSession, dir: String,
             stages: Seq[String] = Seq("view", "click", "purchase"),
             horizonMin: Option[Int] = None): DataFrame = {
    require(stages.nonEmpty)
    val w = Window.partitionBy(col("user_id"))
    var df = Tables.events(spark, dir)
    stages.zipWithIndex.foreach { case (st, i) =>
      val cond =
        if (i == 0) col("event_type") === st
        else {
          val base = col("event_type") === st &&
            col(s"t${i - 1}").isNotNull && col("ts") > col(s"t${i - 1}")
          horizonMin.fold(base)(h =>
            base && col("ts") <= col(s"t${i - 1}") + expr(s"INTERVAL $h MINUTES"))
        }
      df = df.withColumn(s"t$i", min(when(cond, col("ts"))).over(w))
    }
    val stageCounts = stages.zipWithIndex.map { case (st, i) =>
      countDistinct(when(col(s"t$i").isNotNull, col("user_id")))
        .as(s"n_s${i}_$st")
    }
    val aggs = countDistinct(col("user_id")).as("n_users") +: stageCounts
    df.groupBy(Obs.tenant.as("tenant_id")).agg(aggs.head, aggs.tail: _*)
  }

  def funnelSql(stages: Seq[String] = Seq("view", "click", "purchase"),
                horizonMin: Option[Int] = None): String = {
    val ctes = stages.zipWithIndex.map { case (st, i) =>
      val src = if (i == 0) "events" else s"s${i - 1}"
      val hor = horizonMin
        .map(h => s" AND ts <= t${i - 1} + INTERVAL $h MINUTE").getOrElse("")
      val cond =
        if (i == 0) s"event_type = '$st'"
        else s"event_type = '$st' AND t${i - 1} IS NOT NULL AND ts > t${i - 1}$hor"
      s"""s$i AS (
         |  SELECT *, MIN(CASE WHEN $cond THEN ts END)
         |    OVER (PARTITION BY user_id) AS t$i
         |  FROM $src
         |)""".stripMargin
    }
    val counts = stages.zipWithIndex.map { case (st, i) =>
      s"  COUNT(DISTINCT CASE WHEN t$i IS NOT NULL THEN user_id END) AS n_s${i}_$st"
    }
    s"""WITH ${ctes.mkString(", ")}
       |SELECT 't' || (user_id % 4) AS tenant_id,
       |  COUNT(DISTINCT user_id) AS n_users,
       |${counts.mkString(",\n")}
       |FROM s${stages.size - 1} GROUP BY 1""".stripMargin
  }

  /** L12 `events_cohort_retention` — signup-week cohort retention
    * matrix: users are grouped into cohorts by the week of their
    * first `signup` event; each cohort row counts the distinct users
    * active (ANY event) k whole weeks after their cohort week — the
    * classic retention triangle behind growth dashboards. Offsets are
    * exact integer arithmetic on µs epochs of week-truncated
    * timestamps (both engines truncate to the ISO Monday in UTC, and
    * week starts differ by exact multiples of 604800 s in UTC, so the
    * division is exact); pre-signup activity (negative offsets —
    * possible when a user's first event is not their signup) is
    * excluded as not-yet-cohorted, the dashboard convention.
    *
    * Scale: the cohort derivation is one user-keyed partial-agg
    * shuffle; the activity join is user-keyed equi (the cohort side
    * is one row per user — NOT broadcastable at 100 TB, so it stays a
    * co-partitioned shuffle join); the distinct-user rollup shuffles
    * on the tiny (cohort_week, offset) key with the distinct expand
    * keyed by user first. Three shuffles, all linear. */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val cohort = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id").as("c_user"))
      .agg(date_trunc("week", min(col("ts"))).as("cohort_week"))
    // `div` (not `/`): Spark's / on BIGINT yields DOUBLE; div is the
    // integer division DuckDB's // performs, and the difference is an
    // exact multiple of a week in UTC so trunc == floor here
    val weekUs = 7L * 86400L * 1000000L
    ev.join(cohort, col("user_id") === col("c_user"))
      .withColumn("offset_weeks",
        expr(s"(unix_micros(date_trunc('week', ts)) - " +
          s"unix_micros(cohort_week)) div $weekUs"))
      .filter(col("offset_weeks") >= 0)
      .groupBy(col("cohort_week"), col("offset_weeks"))
      .agg(countDistinct(col("user_id")).as("n_active"))
  }

  def cohortRetentionSql: String =
    """WITH cohort AS (
      |  SELECT user_id AS c_user,
      |    date_trunc('week', MIN(ts)) AS cohort_week
      |  FROM events WHERE event_type = 'signup' GROUP BY 1
      |), activity AS (
      |  SELECT user_id, cohort_week,
      |    (epoch_us(date_trunc('week', ts)) - epoch_us(cohort_week))
      |      // 604800000000 AS offset_weeks
      |  FROM events JOIN cohort ON user_id = c_user
      |)
      |SELECT CAST(cohort_week AS TIMESTAMP) AS cohort_week, offset_weeks,
      |  COUNT(DISTINCT user_id) AS n_active
      |FROM activity WHERE offset_weeks >= 0
      |GROUP BY 1, 2""".stripMargin

  /** L13 `events_session_paths` — clickstream path mining: the top-k
    * most common session-opening event-type sequences (first
    * `pathLen` events of each 30-minute-gap session, L2's boundary
    * rule verbatim) — the "what do users actually do" report behind
    * navigation analysis. Path assembly is deterministic in both
    * engines: Spark sorts the collected (ts, event_id, type) structs
    * lexicographically (unique chain) and slices; DuckDB uses
    * ordered array_agg — same sequence. Serve is a TakeOrdered on
    * (n_sessions desc, path).
    * Scale: the session numbering shares L2's single user-key
    * shuffle; the per-session collect is bounded by session length
    * TIMES truncated to `pathLen` immediately; the path rollup
    * shuffles path-keyed counts with map-side partials. */
  def sessionPaths(spark: SparkSession, dir: String,
                   pathLen: Int = 5, limit: Int = 20): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val gapUs = 1800L * 1000000L
    Tables.events(spark, dir)
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn("new_session",
        (col("prev_us").isNull ||
          (unix_micros(col("ts")) - col("prev_us")) > gapUs).cast("int"))
      .withColumn("session_num", sum(col("new_session")).over(byUser))
      .groupBy(col("user_id"), col("session_num"))
      .agg(collect_list(struct(col("ts"), col("event_id"),
        col("event_type"))).as("evs"))
      .select(array_join(expr(
        s"slice(transform(array_sort(evs), x -> x.event_type), 1, $pathLen)"),
        ">").as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(limit)
  }

  def sessionPathsSql(pathLen: Int = 5, limit: Int = 20): String =
    s"""WITH flagged AS (
       |  SELECT user_id, event_id, ts, event_type,
       |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
       |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
       |         THEN 1 ELSE 0 END AS new_session
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       |), numbered AS (
       |  SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id
       |    ORDER BY ts, event_id) AS BIGINT) AS session_num
       |  FROM flagged
       |), paths AS (
       |  SELECT array_to_string(
       |    (array_agg(event_type ORDER BY ts, event_id))[1:$pathLen], '>')
       |      AS path
       |  FROM numbered GROUP BY user_id, session_num
       |)
       |SELECT path, COUNT(*) AS n_sessions
       |FROM paths GROUP BY 1
       |ORDER BY n_sessions DESC, path LIMIT $limit""".stripMargin

  /** L18 `events_markov` — first-order Markov transition matrix over
    * per-user event sequences: P(next = b | current = a) =
    * c(a→b) / c(a→·), the behavioral model behind next-action
    * prediction and anomaly scoring ("error after purchase is 10×
    * base rate"). Transitions come from lag over the user's
    * event-time order ((ts, event_id) — deterministic under
    * duplicate timestamps); counts are exact integers and the
    * probability is one IEEE division, so no rounding is needed.
    * ONE user-keyed shuffle builds every user's sequence; the
    * transition rollup collapses to |types|² rows with partial
    * aggregation; the marginal attach joins on the tiny state key.
    * Spec replays the lag chain on the driver; rows-per-state sum
    * to 1 by construction (spec-pinned). */
  def markovTransitions(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val trans = Tables.events(spark, dir)
      .withColumn("next_type", lead(col("event_type"), 1).over(byUser))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("cur"), col("next_type").as("nxt"))
      .agg(count(lit(1)).as("c_pair"))
    val marg = trans.groupBy(col("cur").as("m_cur"))
      .agg(sum(col("c_pair")).as("c_cur"))
    trans.join(marg, col("cur") === col("m_cur"))
      .select(col("cur"), col("nxt"), col("c_pair"),
        (col("c_pair").cast("double") / col("c_cur").cast("double"))
          .as("p_next"))
      .orderBy(col("cur"), col("nxt"))
  }

  def markovTransitionsSql: String =
    """WITH seq AS (
      |  SELECT event_type AS cur,
      |    LEAD(event_type) OVER (PARTITION BY user_id
      |                           ORDER BY ts, event_id) AS nxt
      |  FROM events),
      |tc AS (
      |  SELECT cur, nxt, COUNT(*) AS c_pair FROM seq
      |  WHERE nxt IS NOT NULL GROUP BY 1, 2),
      |m AS (SELECT cur, CAST(SUM(c_pair) AS BIGINT) AS c_cur
      |      FROM tc GROUP BY 1)
      |SELECT tc.cur, tc.nxt, tc.c_pair,
      |  CAST(tc.c_pair AS DOUBLE) / CAST(m.c_cur AS DOUBLE) AS p_next
      |FROM tc JOIN m ON tc.cur = m.cur
      |ORDER BY tc.cur, tc.nxt""".stripMargin

  /** L16 `events_cumulative_users` — daily new users + cumulative
    * user count, the top-line growth chart. The naive form —
    * COUNT(DISTINCT user) OVER an expanding day window — re-scans
    * every user for every day (O(days × users) state and a giant
    * window); the scalable identity is that a user is NEW exactly
    * once, so ONE user-keyed aggregation (min event day per user)
    * plus a metadata-scale day-table cumsum serves the same numbers:
    * cum_users(d) = Σ_{d' ≤ d} new(d'). Days with zero signups don't
    * break the cumsum (only observed days are served, each carrying
    * the running total). */
  def cumulativeUsers(spark: SparkSession, dir: String): DataFrame = {
    // hourly buckets: the synthetic user pool is fully active within
    // two days, so daily granularity degenerates to 2 rows — hours
    // keep the fixture non-trivial while the identity is unchanged
    val firstSeen = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(min(date_trunc("hour", col("ts"))).as("bucket"))
    val newPer = firstSeen.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_new"))
    val w = Window.partitionBy(Obs.onePart(col("bucket"))).orderBy(col("bucket"))
    newPer
      .withColumn("cum_users", sum(col("n_new")).over(w))
      .orderBy(col("bucket"))
  }

  def cumulativeUsersSql: String =
    """WITH fd AS (
      |  SELECT user_id, MIN(date_trunc('hour', ts)) AS bucket
      |  FROM events GROUP BY 1),
      |nd AS (SELECT bucket, COUNT(*) AS n_new FROM fd GROUP BY 1)
      |SELECT CAST(bucket AS TIMESTAMP) AS bucket, n_new,
      |  CAST(SUM(n_new) OVER (ORDER BY bucket) AS BIGINT) AS cum_users
      |FROM nd ORDER BY bucket""".stripMargin

  /** L17 `events_stickiness` — DAU, trailing-7-day WAU, and the
    * DAU/WAU stickiness ratio per day. Exact rolling DISTINCT over a
    * time window is the classic scale trap (a distinct-over-window
    * re-deduplicates the whole week per day); the scalable exact
    * form dedups (day, user) ONCE, then fans each active day out
    * MAP-SIDE to the ≤ 7 trailing windows it feeds (bounded explode,
    * L9's hopping mechanic) and dedup-counts per target day — two
    * keyed shuffles total, window length bounds the fan-out, no
    * per-day rescans. Served for days with direct activity; the
    * ratio is one IEEE division of exact counts, round-6dp. */
  def stickiness(spark: SparkSession, dir: String,
                 windowDays: Int = 7): DataFrame = {
    val dayUser = Tables.events(spark, dir)
      .select(date_trunc("day", col("ts")).as("day"), col("user_id"))
      .distinct()
    val wau = dayUser
      .withColumn("target_day", explode(sequence(
        col("day"),
        col("day") + expr(s"INTERVAL ${windowDays - 1} DAYS"),
        expr("INTERVAL 1 DAY"))))
      .groupBy(col("target_day"))
      .agg(countDistinct(col("user_id")).as("wau"))
    val dau = dayUser.groupBy(col("day"))
      .agg(count(lit(1)).as("dau"))
    dau.join(wau, col("day") === col("target_day"))
      .select(col("day"), col("dau"), col("wau"),
        round(col("dau").cast("double") / col("wau").cast("double"), 6)
          .as("stickiness"))
      .orderBy(col("day"))
  }

  def stickinessSql(windowDays: Int = 7): String =
    s"""WITH du AS (
       |  SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events),
       |expanded AS (
       |  SELECT unnest(generate_series(day,
       |           day + INTERVAL ${windowDays - 1} DAY,
       |           INTERVAL 1 DAY)) AS target_day, user_id
       |  FROM du),
       |wau AS (
       |  SELECT target_day, COUNT(DISTINCT user_id) AS wau
       |  FROM expanded GROUP BY 1),
       |dau AS (SELECT day, COUNT(*) AS dau FROM du GROUP BY 1)
       |SELECT CAST(day AS TIMESTAMP) AS day, dau, wau,
       |  ROUND(CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE), 6) AS stickiness
       |FROM dau JOIN wau ON day = target_day
       |ORDER BY day""".stripMargin

  /** L14 `events_attribution` — first-touch / last-touch marketing
    * attribution: every purchase is credited to the click/view touch
    * of the same user inside a lookback window (default 7 days,
    * strictly before the purchase), or to channel 'none' when no
    * touch exists. Both models are served side by side per channel
    * with purchase counts and decimal-exact attributed revenue —
    * the campaign-ROI report every clickstream warehouse runs.
    *
    * The purchase⋈touch join is user-keyed (co-partitioned equi join
    * with the window as residual — never a broadcast of anything
    * user-sized); the per-purchase argmax/argmin collapse uses
    * struct ordering (ts, event_id) so ties are deterministic, and
    * a no-touch purchase survives as the left join's single null row
    * (the struct's fields are null, never compared against a real
    * touch — the left join emits it only when no match exists).
    * Oracle replays the pick as ROW_NUMBER over the same ordering. */
  def attribution(spark: SparkSession, dir: String,
                  lookbackDays: Int = 7): DataFrame = {
    val ev = Tables.events(spark, dir)
    val touches = ev.filter(col("event_type").isin("click", "view"))
      .select(col("user_id").as("t_user"), col("ts").as("t_ts"),
        col("event_id").as("t_id"), col("event_type").as("t_type"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"),
        col("ts").as("p_ts"), col("value").cast("decimal(18,6)").as("p_value"))
    val perPurchase = purchases.join(touches,
        col("user_id") === col("t_user") &&
          col("t_ts") < col("p_ts") &&
          col("t_ts") >= col("p_ts") - expr(s"INTERVAL $lookbackDays DAYS"),
        "left")
      .groupBy(col("p_id"))
      .agg(max(col("p_value")).as("p_value"),
        max(struct(col("t_ts"), col("t_id"), col("t_type"))).as("last_t"),
        min(struct(col("t_ts"), col("t_id"), col("t_type"))).as("first_t"))
    val lastM = perPurchase.select(lit("last_touch").as("model"),
      coalesce(col("last_t.t_type"), lit("none")).as("channel"),
      col("p_value"))
    val firstM = perPurchase.select(lit("first_touch").as("model"),
      coalesce(col("first_t.t_type"), lit("none")).as("channel"),
      col("p_value"))
    lastM.union(firstM)
      .groupBy(col("model"), col("channel"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(col("p_value")).cast("double").as("revenue"))
  }

  def attributionSql(lookbackDays: Int = 7): String =
    s"""WITH touches AS (
       |  SELECT user_id AS t_user, ts AS t_ts, event_id AS t_id,
       |         event_type AS t_type
       |  FROM events WHERE event_type IN ('click', 'view')),
       |purch AS (
       |  SELECT user_id, event_id AS p_id, ts AS p_ts,
       |         CAST(value AS DECIMAL(18,6)) AS p_value
       |  FROM events WHERE event_type = 'purchase'),
       |j AS (
       |  SELECT p.p_id, p.p_value, t.t_type, t.t_ts, t.t_id
       |  FROM purch p LEFT JOIN touches t
       |    ON p.user_id = t.t_user AND t.t_ts < p.p_ts
       |   AND t.t_ts >= p.p_ts - INTERVAL $lookbackDays DAY),
       |ranked AS (
       |  SELECT *,
       |    ROW_NUMBER() OVER (PARTITION BY p_id
       |      ORDER BY t_ts DESC NULLS LAST, t_id DESC) AS rl,
       |    ROW_NUMBER() OVER (PARTITION BY p_id
       |      ORDER BY t_ts ASC NULLS LAST, t_id ASC) AS rf
       |  FROM j),
       |both_m AS (
       |  SELECT 'last_touch' AS model, COALESCE(t_type, 'none') AS channel,
       |         p_value FROM ranked WHERE rl = 1
       |  UNION ALL
       |  SELECT 'first_touch', COALESCE(t_type, 'none'), p_value
       |  FROM ranked WHERE rf = 1)
       |SELECT model, channel, COUNT(*) AS n_purchases,
       |  CAST(SUM(p_value) AS DOUBLE) AS revenue
       |FROM both_m GROUP BY 1, 2""".stripMargin

  /** L19 `events_attribution_decay` — MULTI-touch attribution, the
    * fractional-credit models beside L14's winner-take-all pair:
    * every touch in the lookback shares the purchase, weighted
    * 2^(−Δt/halflife) (time-decay — recency matters) or 1/n
    * (linear — all touches equal), both served per channel. The
    * models every marketing warehouse runs after first/last stop
    * being believable.
    *
    * Exactness: Δt is exact integer MICROseconds (unix_micros /
    * epoch_us — no engine-specific seconds truncation); each touch's
    * CREDIT is
    * rounded to 6 dp and cast DECIMAL(18,6) BEFORE the channel
    * rollup, so the sum is exact-decimal and order-insensitive (the
    * round-then-decimal-sum rule) — the one pow() evaluates
    * identically cross-engine far above the 1e-6 grain. A no-touch
    * purchase keeps full credit under channel 'none'.
    *
    * Scale: the purchase⋈touch join is user-keyed like L14; the
    * per-purchase normalization (Σw, n) is a window PARTITIONED BY
    * purchase id — bounded by touches-per-purchase, shuffled on the
    * purchase key, never global. */
  def attributionDecay(spark: SparkSession, dir: String,
                       lookbackDays: Int = 7,
                       halflifeHours: Int = 24): DataFrame = {
    val ev = Tables.events(spark, dir)
    val touches = ev.filter(col("event_type").isin("click", "view"))
      .select(col("user_id").as("t_user"), col("ts").as("t_ts"),
        col("event_id").as("t_id"), col("event_type").as("t_type"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"),
        col("ts").as("p_ts"), col("value").as("p_value"))
    val hl = halflifeHours * 3600L
    val j = purchases.join(touches,
        col("user_id") === col("t_user") &&
          col("t_ts") < col("p_ts") &&
          col("t_ts") >= col("p_ts") - expr(s"INTERVAL $lookbackDays DAYS"),
        "left")
      .withColumn("w", pow(lit(0.5),
        (unix_micros(col("p_ts")) - unix_micros(col("t_ts")))
          .cast("double") / lit(hl * 1e6)))
    val wP = Window.partitionBy(col("p_id"))
    val credited = j
      .withColumn("sumw", sum(col("w")).over(wP))
      .withColumn("n_t", count(col("t_id")).over(wP))
      .withColumn("channel", coalesce(col("t_type"), lit("none")))
    val decayM = credited.select(lit("time_decay").as("model"), col("channel"),
      when(col("t_id").isNull, round(col("p_value"), 6))
        .otherwise(round(col("p_value") * col("w") / col("sumw"), 6))
        .cast("decimal(18,6)").as("credit"))
    val linearM = credited.select(lit("linear").as("model"), col("channel"),
      when(col("t_id").isNull, round(col("p_value"), 6))
        .otherwise(round(col("p_value") / col("n_t").cast("double"), 6))
        .cast("decimal(18,6)").as("credit"))
    decayM.union(linearM)
      .groupBy(col("model"), col("channel"))
      .agg(count(lit(1)).as("n_credits"),
        sum(col("credit")).cast("double").as("revenue"))
  }

  def attributionDecaySql(lookbackDays: Int = 7,
                          halflifeHours: Int = 24): String = {
    val hl = halflifeHours * 3600L
    s"""WITH touches AS (
       |  SELECT user_id AS t_user, ts AS t_ts, event_id AS t_id,
       |         event_type AS t_type
       |  FROM events WHERE event_type IN ('click', 'view')),
       |purch AS (
       |  SELECT user_id, event_id AS p_id, ts AS p_ts, value AS p_value
       |  FROM events WHERE event_type = 'purchase'),
       |j AS (
       |  SELECT p.p_id, p.p_value, p.p_ts, t.t_type, t.t_ts, t.t_id,
       |    POWER(0.5, CAST(epoch_us(p.p_ts) - epoch_us(t.t_ts) AS DOUBLE)
       |               / ($hl * 1e6)) AS w
       |  FROM purch p LEFT JOIN touches t
       |    ON p.user_id = t.t_user AND t.t_ts < p.p_ts
       |   AND t.t_ts >= p.p_ts - INTERVAL $lookbackDays DAY),
       |norm AS (
       |  SELECT *, SUM(w) OVER (PARTITION BY p_id) AS sumw,
       |    COUNT(t_id) OVER (PARTITION BY p_id) AS n_t,
       |    COALESCE(t_type, 'none') AS channel
       |  FROM j),
       |credits AS (
       |  SELECT 'time_decay' AS model, channel,
       |    CAST(CASE WHEN t_id IS NULL THEN ROUND(p_value, 6)
       |         ELSE ROUND(p_value * w / sumw, 6) END
       |         AS DECIMAL(18,6)) AS credit
       |  FROM norm
       |  UNION ALL
       |  SELECT 'linear', channel,
       |    CAST(CASE WHEN t_id IS NULL THEN ROUND(p_value, 6)
       |         ELSE ROUND(p_value / CAST(n_t AS DOUBLE), 6) END
       |         AS DECIMAL(18,6))
       |  FROM norm)
       |SELECT model, channel, COUNT(*) AS n_credits,
       |  CAST(SUM(credit) AS DOUBLE) AS revenue
       |FROM credits GROUP BY 1, 2""".stripMargin
  }

  /** L20 `events_ab_test` — deterministic A/B experiment readout:
    * users are assigned to control/treatment by a salted md5 of
    * user_id (the M10 hash-assignment idiom — no RNG state, the same
    * user lands in the same arm on any engine, any partitioning, any
    * replay, which is what makes an experiment auditable), and the
    * serve is the one-row experiment report: per-arm users /
    * converters / revenue, conversion rates, relative lift, and the
    * pooled two-proportion z-score — the readout every growth
    * dashboard derives from the clickstream. Conversion = a
    * HIGH-VALUE purchase (value ≥ `minValue`): the synthetic pool is
    * small enough that "any purchase" saturates (every user converts
    * at every SF), which degenerates the pooled variance to 0 and the
    * z-score to 0/0 — a threshold keeps the metric live, and is the
    * realistic experiment target anyway.
    *
    * Exactness: counts are exact integers and revenue exact decimal;
    * rates/lift/z are IEEE double chains of those exact inputs with
    * identical parenthesization in both engines, rounded 6 dp at the
    * serve (the F14/F17 "no float until the last mile" discipline —
    * the decision-grade counters stay integer). Degenerate reports
    * stay NULL, never NaN: lift is guarded on conv_c > 0 and z on
    * 0 < pooled rate < 1, because Spark serves IEEE NaN where DuckDB
    * serves NULL for 0/0 — the guard makes both engines agree AND is
    * the right serve (a z-score with zero pooled variance is
    * undefined, not a number).
    *
    * Scale: ONE user-keyed rollup (conversion flag + revenue per
    * user), then a 2-row arm rollup and a 1-row pivot — after the
    * first shuffle everything is metadata-scale. */
  /** L28 `events_ab_cuped` — CUPED variance-reduced experiment
    * readout (Deng, Xu, Kohavi & Walker, WSDM 2013 — the industry-
    * standard pre-experiment covariate adjustment): beside L20's raw
    * readout, adjust each user's outcome Y (post-split purchase
    * revenue) by their PRE-period covariate X (pre-split revenue):
    * Y' = Y − θ(X − E[X]) with θ = cov(X,Y)/var(X), which removes the
    * between-user spend variance both arms share and shrinks the
    * metric's variance by ρ² without biasing the lift. Serves the
    * one-row report: per-arm raw and adjusted means, raw vs CUPED
    * absolute lift, pooled θ, and the realized variance reduction.
    *
    * Exactness: per-user X/Y are exact decimal sums, cast back to
    * DECIMAL(18,6) before any product — SUM widens them to (28,6),
    * where a product's precision 57 forces Spark to round the scale
    * down and DuckDB to fall back to DOUBLE summation; narrowed, both
    * engines form EXACT scale-12 decimal products (Spark (37,12); the
    * oracle casts to (19,6) since DuckDB keeps an (18,6)x(18,6)
    * product in INT64 and overflows — widths differ, values don't) — so
    * every moment (Σx, Σy, Σx², Σxy, Σy²) is an exact decimal sum of
    * exact decimal products and summation order
    * cannot move a digit; the served statistics are short fixed-shape
    * IEEE chains over double casts of those exact sums, each named
    * intermediate (means, var/cov, θ) rounded 6 dp before reuse so
    * both engines evaluate literally identical inputs. θ is NULL-
    * guarded on var(X)=0 and the reduction on var(Y)=0 — degenerate
    * experiments serve NULL, never NaN (the L20 rule).
    *
    * Scale: ONE user-keyed rollup, then a 1-row moment aggregate —
    * identical economics to L20, metadata-scale after the first
    * shuffle. */
  def abCuped(spark: SparkSession, dir: String, salt: String = "exp1",
              split: String = "2024-01-15 00:00:00"): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val arm = when(pmod(conv(substring(
        md5(concat(lit(s"$salt:"), col("user_id").cast("string"))),
        1, 15), 16, 10).cast("long"), lit(2L)) === 0, "control")
      .otherwise("treatment")
    val dec = DecimalType(18, 6)
    def revSlice(pre: Boolean) = {
      val inSlice = if (pre) col("ts") < lit(split).cast("timestamp")
                    else col("ts") >= lit(split).cast("timestamp")
      when(col("event_type") === "purchase" && inSlice,
        col("value").cast(dec)).otherwise(lit(0).cast(dec))
    }
    val pu = Tables.events(spark, dir)
      .select(col("user_id"), arm.as("arm"),
        revSlice(pre = true).as("xe"), revSlice(pre = false).as("ye"))
      .groupBy(col("user_id"), col("arm"))
      .agg(sum(col("xe")).cast(dec).as("x"), sum(col("ye")).cast(dec).as("y"))
    val m = pu.agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("y") * col("y")).as("syy"),
      sum(when(col("arm") === "control", 1L).otherwise(0L)).as("n_c"),
      sum(when(col("arm") === "control", col("x"))
        .otherwise(lit(0).cast(dec))).as("sx_c"),
      sum(when(col("arm") === "control", col("y"))
        .otherwise(lit(0).cast(dec))).as("sy_c"),
      sum(when(col("arm") === "treatment", 1L).otherwise(0L)).as("n_t"),
      sum(when(col("arm") === "treatment", col("x"))
        .otherwise(lit(0).cast(dec))).as("sx_t"),
      sum(when(col("arm") === "treatment", col("y"))
        .otherwise(lit(0).cast(dec))).as("sy_t"))
    def dd(c: String) = col(c).cast("double")
    val stats = m.select(col("n"), col("n_c"), col("n_t"),
      round(dd("sx") / dd("n"), 6).as("mean_x"),
      round(dd("sy") / dd("n"), 6).as("mean_y"),
      round(dd("sxx") / dd("n") - (dd("sx") / dd("n")) * (dd("sx") / dd("n")), 6)
        .as("var_x"),
      round(dd("syy") / dd("n") - (dd("sy") / dd("n")) * (dd("sy") / dd("n")), 6)
        .as("var_y"),
      round(dd("sxy") / dd("n") - (dd("sx") / dd("n")) * (dd("sy") / dd("n")), 6)
        .as("cov_xy"),
      round(dd("sx_c") / dd("n_c"), 6).as("mean_x_c"),
      round(dd("sy_c") / dd("n_c"), 6).as("mean_y_c"),
      round(dd("sx_t") / dd("n_t"), 6).as("mean_x_t"),
      round(dd("sy_t") / dd("n_t"), 6).as("mean_y_t"))
      .withColumn("theta",
        when(col("var_x") <= 0, lit(null).cast("double"))
          .otherwise(round(col("cov_xy") / col("var_x"), 6)))
    stats.select(col("n_c"), col("n_t"), col("mean_x"), col("mean_y_c"),
        col("mean_y_t"), col("theta"), col("var_x"), col("var_y"),
        col("cov_xy"),
        when(col("theta").isNull, col("mean_y_c")).otherwise(
          round(col("mean_y_c") - col("theta") * (col("mean_x_c") - col("mean_x")), 6))
          .as("mean_yadj_c"),
        when(col("theta").isNull, col("mean_y_t")).otherwise(
          round(col("mean_y_t") - col("theta") * (col("mean_x_t") - col("mean_x")), 6))
          .as("mean_yadj_t"),
        round(col("mean_y_t") - col("mean_y_c"), 6).as("lift_raw"),
        when(col("theta").isNull, lit(null).cast("double")).otherwise(
          round(col("var_y") - lit(2.0) * col("theta") * col("cov_xy") +
            col("theta") * col("theta") * col("var_x"), 6)).as("var_yadj"))
      .withColumn("lift_cuped",
        round(col("mean_yadj_t") - col("mean_yadj_c"), 6))
      .withColumn("var_reduction",
        when(col("var_yadj").isNull || col("var_y") <= 0,
          lit(null).cast("double"))
          .otherwise(round(lit(1.0) - col("var_yadj") / col("var_y"), 6)))
  }

  def abCupedSql(salt: String = "exp1",
                 split: String = "2024-01-15 00:00:00"): String =
    s"""WITH pu AS (
       |  SELECT user_id,
       |    CASE WHEN CAST(('0x' || substring(md5('$salt:' || user_id), 1, 15))
       |              AS BIGINT) % 2 = 0
       |         THEN 'control' ELSE 'treatment' END AS arm,
       |    CAST(SUM(CASE WHEN event_type = 'purchase' AND ts < TIMESTAMP '$split'
       |        THEN CAST(value AS DECIMAL(18,6))
       |        ELSE CAST(0 AS DECIMAL(18,6)) END) AS DECIMAL(19,6)) AS x,
       |    CAST(SUM(CASE WHEN event_type = 'purchase' AND ts >= TIMESTAMP '$split'
       |        THEN CAST(value AS DECIMAL(18,6))
       |        ELSE CAST(0 AS DECIMAL(18,6)) END) AS DECIMAL(19,6)) AS y
       |  FROM events GROUP BY 1, 2),
       |m AS (
       |  SELECT COUNT(*) AS n,
       |    SUM(x) AS sx, SUM(y) AS sy,
       |    SUM(x * x) AS sxx, SUM(x * y) AS sxy, SUM(y * y) AS syy,
       |    CAST(SUM(CASE WHEN arm = 'control' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_c,
       |    SUM(CASE WHEN arm = 'control' THEN x
       |        ELSE CAST(0 AS DECIMAL(18,6)) END) AS sx_c,
       |    SUM(CASE WHEN arm = 'control' THEN y
       |        ELSE CAST(0 AS DECIMAL(18,6)) END) AS sy_c,
       |    CAST(SUM(CASE WHEN arm = 'treatment' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_t,
       |    SUM(CASE WHEN arm = 'treatment' THEN x
       |        ELSE CAST(0 AS DECIMAL(18,6)) END) AS sx_t,
       |    SUM(CASE WHEN arm = 'treatment' THEN y
       |        ELSE CAST(0 AS DECIMAL(18,6)) END) AS sy_t
       |  FROM pu),
       |stats AS (
       |  SELECT n, n_c, n_t,
       |    ROUND(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_x,
       |    ROUND(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_y,
       |    ROUND(CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE)
       |      - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
       |      * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS var_x,
       |    ROUND(CAST(syy AS DOUBLE) / CAST(n AS DOUBLE)
       |      - (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
       |      * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS var_y,
       |    ROUND(CAST(sxy AS DOUBLE) / CAST(n AS DOUBLE)
       |      - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
       |      * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS cov_xy,
       |    ROUND(CAST(sx_c AS DOUBLE) / CAST(n_c AS DOUBLE), 6) AS mean_x_c,
       |    ROUND(CAST(sy_c AS DOUBLE) / CAST(n_c AS DOUBLE), 6) AS mean_y_c,
       |    ROUND(CAST(sx_t AS DOUBLE) / CAST(n_t AS DOUBLE), 6) AS mean_x_t,
       |    ROUND(CAST(sy_t AS DOUBLE) / CAST(n_t AS DOUBLE), 6) AS mean_y_t
       |  FROM m),
       |st2 AS (
       |  SELECT *, CASE WHEN var_x <= 0 THEN NULL
       |    ELSE ROUND(cov_xy / var_x, 6) END AS theta
       |  FROM stats),
       |st3 AS (
       |  SELECT n_c, n_t, mean_x, mean_y_c, mean_y_t, theta, var_x, var_y,
       |    cov_xy,
       |    CASE WHEN theta IS NULL THEN mean_y_c
       |      ELSE ROUND(mean_y_c - theta * (mean_x_c - mean_x), 6) END
       |      AS mean_yadj_c,
       |    CASE WHEN theta IS NULL THEN mean_y_t
       |      ELSE ROUND(mean_y_t - theta * (mean_x_t - mean_x), 6) END
       |      AS mean_yadj_t,
       |    ROUND(mean_y_t - mean_y_c, 6) AS lift_raw,
       |    CASE WHEN theta IS NULL THEN NULL
       |      ELSE ROUND(var_y - 2.0 * theta * cov_xy
       |        + theta * theta * var_x, 6) END AS var_yadj
       |  FROM st2)
       |SELECT *,
       |  ROUND(mean_yadj_t - mean_yadj_c, 6) AS lift_cuped,
       |  CASE WHEN var_yadj IS NULL OR var_y <= 0 THEN NULL
       |    ELSE ROUND(1.0 - var_yadj / var_y, 6) END AS var_reduction
       |FROM st3""".stripMargin

  /** L29 `events_ab_sprt` — Wald SPRT sequential experiment monitor
    * (Wald 1945; the "peeking-safe" decision rule every always-on
    * experimentation platform implements beside the fixed-horizon L20
    * readout): the treatment arm's conversion stream is processed in
    * DAY order; each day contributes the binomial log-likelihood-ratio
    * increment x·ln(p1/p0) + (n−x)·ln((1−p1)/(1−p0)) for the planned
    * null/alternative rates, the cumulative LLR walks between Wald's
    * boundaries A = ln((1−β)/α), B = ln(β/(1−α)), and the serve is the
    * full per-day monitoring trail: counts, day and cumulative LLR,
    * the decision in force (reject_h0 / accept_h0 / continue), and the
    * first-decision day flag — the audit trail a sequential stop needs.
    *
    * Exactness: x, n are exact integers; ln appears ONLY in the four
    * constants, which are computed ONCE in Scala and embedded as the
    * SAME double literals in both the Column tree and the oracle SQL —
    * no engine evaluates a transcendental, so the whole statistic is a
    * fixed IEEE chain over exact ints (day LLR rounded 6 dp before the
    * cumulative sum; the cumulative window sums in day order, the same
    * operand order in both engines). Decisions compare the rounded
    * serve value against the literal boundaries — identical inputs,
    * identical verdicts.
    *
    * Defaults put the TRUE high-value rate (~0.119 at minValue=100)
    * between p0=0.10 and p1=0.14, so the monitor genuinely wanders
    * before the evidence accumulates — not a day-one verdict.
    *
    * Scale: ONE day-keyed rollup of the pushed (purchase, arm) slice,
    * then windows over day-cardinality rows (the global-order window
    * is a single-partition exchange of ~30 rows — metadata-scale, the
    * L23 discipline). */
  def abSprt(spark: SparkSession, dir: String, salt: String = "exp1",
             minValue: Double = 100.0, p0: Double = 0.10, p1: Double = 0.14,
             alpha: Double = 0.05, beta: Double = 0.2): DataFrame = {
    val l1 = math.log(p1 / p0)
    val l0 = math.log((1 - p1) / (1 - p0))
    val bndA = math.log((1 - beta) / alpha)
    val bndB = math.log(beta / (1 - alpha))
    val arm = pmod(conv(substring(
      md5(concat(lit(s"$salt:"), col("user_id").cast("string"))),
      1, 15), 16, 10).cast("long"), lit(2L))
    val daily = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase" && arm === 1)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n_obs"),
        sum(when(col("value") >= minValue, 1L).otherwise(0L)).as("n_conv"))
      .withColumn("day_llr", round(col("n_conv") * lit(l1)
        + (col("n_obs") - col("n_conv")) * lit(l0), 6))
    val w = Window.orderBy(col("day"))
    val dec = daily
      .withColumn("cum_llr", round(sum(col("day_llr")).over(w), 6))
      .withColumn("decision",
        when(col("cum_llr") >= lit(bndA), "reject_h0")
          .when(col("cum_llr") <= lit(bndB), "accept_h0")
          .otherwise("continue"))
    dec.withColumn("is_first_decision",
      col("day") <=> min(when(col("decision") =!= "continue", col("day")))
        .over(Window.partitionBy()))
  }

  def abSprtSql(salt: String = "exp1", minValue: Double = 100.0,
                p0: Double = 0.10, p1: Double = 0.14, alpha: Double = 0.05,
                beta: Double = 0.2): String = {
    val l1 = math.log(p1 / p0)
    val l0 = math.log((1 - p1) / (1 - p0))
    val bndA = math.log((1 - beta) / alpha)
    val bndB = math.log(beta / (1 - alpha))
    s"""WITH tre AS (
       |  SELECT strftime(ts, '%Y-%m-%d') AS day,
       |    COUNT(*) AS n_obs,
       |    CAST(SUM(CASE WHEN value >= $minValue THEN 1 ELSE 0 END)
       |         AS BIGINT) AS n_conv
       |  FROM events
       |  WHERE event_type = 'purchase'
       |    AND CAST(('0x' || substring(md5('$salt:' || user_id), 1, 15))
       |             AS BIGINT) % 2 = 1
       |  GROUP BY 1
       |), scored AS (
       |  SELECT day, n_obs, n_conv,
       |    ROUND(n_conv * $l1 + (n_obs - n_conv) * $l0, 6) AS day_llr
       |  FROM tre
       |), cum AS (
       |  SELECT *, ROUND(SUM(day_llr) OVER (ORDER BY day
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
       |    AS cum_llr
       |  FROM scored
       |), dec AS (
       |  SELECT *, CASE WHEN cum_llr >= $bndA THEN 'reject_h0'
       |                 WHEN cum_llr <= $bndB THEN 'accept_h0'
       |                 ELSE 'continue' END AS decision
       |  FROM cum
       |)
       |SELECT day, n_obs, n_conv, day_llr, cum_llr, decision,
       |  day IS NOT DISTINCT FROM
       |    MIN(CASE WHEN decision <> 'continue' THEN day END) OVER ()
       |    AS is_first_decision
       |FROM dec""".stripMargin
  }

  def abTest(spark: SparkSession, dir: String,
             salt: String = "exp1", minValue: Double = 100.0): DataFrame = {
    val arm = when(pmod(conv(substring(
        md5(concat(lit(s"$salt:"), col("user_id").cast("string"))),
        1, 15), 16, 10).cast("long"), lit(2L)) === 0, "control")
      .otherwise("treatment")
    val perUser = Tables.events(spark, dir)
      .select(col("user_id"), arm.as("arm"),
        (col("event_type") === "purchase" &&
          col("value") >= lit(minValue)).cast("long").as("is_p"),
        when(col("event_type") === "purchase",
          col("value").cast("decimal(18,6)"))
          .otherwise(lit(0).cast("decimal(18,6)")).as("rev"))
      .groupBy(col("user_id"), col("arm"))
      .agg(max(col("is_p")).as("converted"), sum(col("rev")).as("revenue"))
    val arms = perUser.groupBy(col("arm"))
      .agg(count(lit(1)).as("n_users"), sum(col("converted")).as("n_conv"),
        sum(col("revenue")).as("revenue"))
    val piv = arms.agg(
      max(when(col("arm") === "control", col("n_users"))).as("n_c"),
      max(when(col("arm") === "control", col("n_conv"))).as("conv_c"),
      max(when(col("arm") === "control", col("revenue"))).as("rev_c_d"),
      max(when(col("arm") === "treatment", col("n_users"))).as("n_t"),
      max(when(col("arm") === "treatment", col("n_conv"))).as("conv_t"),
      max(when(col("arm") === "treatment", col("revenue"))).as("rev_t_d"))
    val pc = col("conv_c").cast("double") / col("n_c").cast("double")
    val pt = col("conv_t").cast("double") / col("n_t").cast("double")
    val pp = (col("conv_c") + col("conv_t")).cast("double") /
      (col("n_c") + col("n_t")).cast("double")
    piv.select(col("n_c"), col("conv_c"), col("n_t"), col("conv_t"),
      col("rev_c_d").cast("double").as("rev_c"),
      col("rev_t_d").cast("double").as("rev_t"),
      round(pc, 6).as("rate_c"), round(pt, 6).as("rate_t"),
      when(col("conv_c") > 0,
        round(pt / pc - lit(1.0), 6)).as("lift"),
      when(col("conv_c") + col("conv_t") > 0 &&
          col("conv_c") + col("conv_t") < col("n_c") + col("n_t"),
        round((pt - pc) / sqrt((pp * (lit(1.0) - pp)) *
          (lit(1.0) / col("n_c").cast("double") +
            lit(1.0) / col("n_t").cast("double"))), 6)).as("z_score"))
  }

  def abTestSql(salt: String = "exp1", minValue: Double = 100.0): String =
    s"""WITH pu AS (
       |  SELECT user_id,
       |    CASE WHEN CAST(('0x' || substring(md5('$salt:' || user_id), 1, 15))
       |              AS BIGINT) % 2 = 0
       |         THEN 'control' ELSE 'treatment' END AS arm,
       |    MAX(CASE WHEN event_type = 'purchase' AND value >= $minValue
       |        THEN 1 ELSE 0 END) AS converted,
       |    SUM(CASE WHEN event_type = 'purchase'
       |        THEN CAST(value AS DECIMAL(18,6))
       |        ELSE CAST(0 AS DECIMAL(18,6)) END) AS revenue
       |  FROM events GROUP BY 1, 2),
       |a AS (
       |  SELECT arm, COUNT(*) AS n_users,
       |    CAST(SUM(converted) AS BIGINT) AS n_conv,
       |    SUM(revenue) AS revenue
       |  FROM pu GROUP BY 1),
       |p AS (
       |  SELECT
       |    MAX(CASE WHEN arm = 'control' THEN n_users END) AS n_c,
       |    MAX(CASE WHEN arm = 'control' THEN n_conv END) AS conv_c,
       |    MAX(CASE WHEN arm = 'control' THEN revenue END) AS rev_c_d,
       |    MAX(CASE WHEN arm = 'treatment' THEN n_users END) AS n_t,
       |    MAX(CASE WHEN arm = 'treatment' THEN n_conv END) AS conv_t,
       |    MAX(CASE WHEN arm = 'treatment' THEN revenue END) AS rev_t_d
       |  FROM a)
       |SELECT n_c, conv_c, n_t, conv_t,
       |  CAST(rev_c_d AS DOUBLE) AS rev_c,
       |  CAST(rev_t_d AS DOUBLE) AS rev_t,
       |  ROUND(CAST(conv_c AS DOUBLE) / CAST(n_c AS DOUBLE), 6) AS rate_c,
       |  ROUND(CAST(conv_t AS DOUBLE) / CAST(n_t AS DOUBLE), 6) AS rate_t,
       |  CASE WHEN conv_c > 0 THEN
       |    ROUND(CAST(conv_t AS DOUBLE) / CAST(n_t AS DOUBLE)
       |      / (CAST(conv_c AS DOUBLE) / CAST(n_c AS DOUBLE)) - 1.0, 6)
       |  END AS lift,
       |  CASE WHEN conv_c + conv_t > 0 AND conv_c + conv_t < n_c + n_t THEN
       |    ROUND((CAST(conv_t AS DOUBLE) / CAST(n_t AS DOUBLE)
       |        - CAST(conv_c AS DOUBLE) / CAST(n_c AS DOUBLE))
       |      / sqrt((CAST(conv_c + conv_t AS DOUBLE) / CAST(n_c + n_t AS DOUBLE)
       |          * (1.0 - CAST(conv_c + conv_t AS DOUBLE)
       |                 / CAST(n_c + n_t AS DOUBLE)))
       |        * (1.0 / CAST(n_c AS DOUBLE) + 1.0 / CAST(n_t AS DOUBLE))), 6)
       |  END AS z_score
       |FROM p""".stripMargin

  /** L26 `events_did` — difference-in-differences readout: the
    * quasi-experimental companion to L20's randomized A/B. Arms come
    * from the same salted-hash assignment; periods split at a cutoff;
    * the effect estimate is the interaction
    * DiD = (treat_post − treat_pre) − (ctrl_post − ctrl_pre) over
    * mean purchase value — the design that differences away both the
    * stable arm-level gap and the common time trend, the read a team
    * reaches for when the rollout wasn't randomized at exposure time.
    * Serves the four cell counts and means plus the estimate.
    *
    * Determinism: the 2×2 cells fold into ONE global conditional
    * aggregation (no groupBy, no per-cell scans) with exact decimal
    * sums; means and the DiD are fixed IEEE shapes rounded 6dp.
    * Scale: one scan, one 1-row partial-agg collapse — nothing else. */
  def didAnalysis(spark: SparkSession, dir: String,
                  salt: String = "exp1",
                  cutoff: String = "2024-01-15"): DataFrame = {
    val dec = "decimal(18,6)"
    val treat = pmod(conv(substring(
      md5(concat(lit(s"$salt:"), col("user_id").cast("string"))),
      1, 15), 16, 10).cast("long"), lit(2L)) === 1
    val post = col("ts") >= lit(cutoff).cast("timestamp")
    def cell(t: Boolean, p: Boolean) = {
      val cond = (if (t) treat else !treat) && (if (p) post else !post)
      (count(when(cond, lit(1))),
        sum(when(cond, col("value").cast(dec)).otherwise(lit(0).cast(dec))))
    }
    val (nc0, sc0) = cell(t = false, p = false)
    val (nc1, sc1) = cell(t = false, p = true)
    val (nt0, st0) = cell(t = true, p = false)
    val (nt1, st1) = cell(t = true, p = true)
    val g = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .agg(nc0.as("n_c_pre"), sc0.as("s_c0"), nc1.as("n_c_post"),
        sc1.as("s_c1"), nt0.as("n_t_pre"), st0.as("s_t0"),
        nt1.as("n_t_post"), st1.as("s_t1"))
    def mean(s: String, n: String) =
      col(s).cast("double") / col(n).cast("double")
    val did = (mean("s_t1", "n_t_post") - mean("s_t0", "n_t_pre")) -
      (mean("s_c1", "n_c_post") - mean("s_c0", "n_c_pre"))
    g.select(col("n_c_pre"), col("n_c_post"), col("n_t_pre"), col("n_t_post"),
      round(mean("s_c0", "n_c_pre"), 6).as("mean_c_pre"),
      round(mean("s_c1", "n_c_post"), 6).as("mean_c_post"),
      round(mean("s_t0", "n_t_pre"), 6).as("mean_t_pre"),
      round(mean("s_t1", "n_t_post"), 6).as("mean_t_post"),
      round(did, 6).as("did"))
  }

  def didAnalysisSql(salt: String = "exp1",
                     cutoff: String = "2024-01-15"): String = {
    def cellSql(t: Boolean, p: Boolean): (String, String) = {
      val armCmp = if (t) "= 1" else "= 0"
      val tsCmp = if (p) ">=" else "<"
      val cond = s"CAST(('0x' || substring(md5('$salt:' || user_id), 1, 15)) AS BIGINT) % 2 $armCmp" +
        s" AND ts $tsCmp TIMESTAMP '$cutoff 00:00:00'"
      (s"COUNT(CASE WHEN $cond THEN 1 END)",
        s"SUM(CASE WHEN $cond THEN CAST(value AS DECIMAL(18,6)) ELSE CAST(0 AS DECIMAL(18,6)) END)")
    }
    val (nc0, sc0) = cellSql(t = false, p = false)
    val (nc1, sc1) = cellSql(t = false, p = true)
    val (nt0, st0) = cellSql(t = true, p = false)
    val (nt1, st1) = cellSql(t = true, p = true)
    def m(s: String, n: String) =
      s"CAST(CAST($s AS VARCHAR) AS DOUBLE) / CAST($n AS DOUBLE)"
    s"""WITH g AS (
       |  SELECT $nc0 AS n_c_pre, $sc0 AS s_c0, $nc1 AS n_c_post, $sc1 AS s_c1,
       |    $nt0 AS n_t_pre, $st0 AS s_t0, $nt1 AS n_t_post, $st1 AS s_t1
       |  FROM events WHERE event_type = 'purchase'
       |)
       |SELECT n_c_pre, n_c_post, n_t_pre, n_t_post,
       |  ROUND(${m("s_c0", "n_c_pre")}, 6) AS mean_c_pre,
       |  ROUND(${m("s_c1", "n_c_post")}, 6) AS mean_c_post,
       |  ROUND(${m("s_t0", "n_t_pre")}, 6) AS mean_t_pre,
       |  ROUND(${m("s_t1", "n_t_post")}, 6) AS mean_t_post,
       |  ROUND((${m("s_t1", "n_t_post")} - ${m("s_t0", "n_t_pre")})
       |    - (${m("s_c1", "n_c_post")} - ${m("s_c0", "n_c_pre")}), 6) AS did
       |FROM g""".stripMargin
  }

  /** L15 `events_seasonal_forecast` — seasonal-naive forecasting with
    * holdout evaluation: the hour-of-day profile of purchase values
    * learned on the first three weeks predicts the last; served per
    * hour with the forecast, the realized actual, and the absolute
    * percentage error — the capacity-planning / anomaly-baseline
    * query, and the simplest member of the seasonal-decomposition
    * family (the right first model before anything ARIMA-shaped).
    *
    * ONE scan, ONE shuffle: train and test both collapse in the same
    * conditional aggregation (count/sum CASE over the cutoff) to 24
    * rows — no self-join of two filtered scans. Sums are
    * decimal-exact; forecast/actual/APE are IEEE double expressions
    * of those exact decimals evaluated identically in both engines,
    * rounded 6dp at serve. */
  def seasonalForecast(spark: SparkSession, dir: String,
                       cutoff: String = "2024-01-22",
                       eventType: String = "purchase"): DataFrame = {
    val isTrain = col("ts") < lit(cutoff).cast("timestamp")
    val v = col("value").cast("decimal(18,6)")
    val f = col("s_train").cast("double") / col("n_train").cast("double")
    val a = col("s_test").cast("double") / col("n_test").cast("double")
    Tables.events(spark, dir)
      .filter(col("event_type") === eventType)
      .groupBy(hour(col("ts")).as("hod"))
      .agg(count(when(isTrain, lit(1))).as("n_train"),
        sum(when(isTrain, v)).as("s_train"),
        count(when(!isTrain, lit(1))).as("n_test"),
        sum(when(!isTrain, v)).as("s_test"))
      .filter(col("n_train") > 0 && col("n_test") > 0)
      .select(col("hod"), col("n_train"), col("n_test"),
        round(f, 6).as("forecast"),
        round(a, 6).as("actual"),
        round(abs(a - f) / a, 6).as("ape"))
      .orderBy(col("hod"))
  }

  def seasonalForecastSql(cutoff: String = "2024-01-22",
                          eventType: String = "purchase"): String =
    s"""WITH prof AS (
       |  SELECT EXTRACT(hour FROM ts) AS hod,
       |    COUNT(CASE WHEN ts < TIMESTAMP '$cutoff 00:00:00'
       |               THEN 1 END) AS n_train,
       |    SUM(CASE WHEN ts < TIMESTAMP '$cutoff 00:00:00'
       |             THEN CAST(value AS DECIMAL(18,6)) END) AS s_train,
       |    COUNT(CASE WHEN ts >= TIMESTAMP '$cutoff 00:00:00'
       |               THEN 1 END) AS n_test,
       |    SUM(CASE WHEN ts >= TIMESTAMP '$cutoff 00:00:00'
       |             THEN CAST(value AS DECIMAL(18,6)) END) AS s_test
       |  FROM events WHERE event_type = '$eventType'
       |  GROUP BY 1)
       |SELECT CAST(hod AS INT) AS hod,
       |  n_train, n_test,
       |  ROUND(CAST(s_train AS DOUBLE) / CAST(n_train AS DOUBLE), 6)
       |    AS forecast,
       |  ROUND(CAST(s_test AS DOUBLE) / CAST(n_test AS DOUBLE), 6) AS actual,
       |  ROUND(ABS(CAST(s_test AS DOUBLE) / CAST(n_test AS DOUBLE)
       |          - CAST(s_train AS DOUBLE) / CAST(n_train AS DOUBLE))
       |        / (CAST(s_test AS DOUBLE) / CAST(n_test AS DOUBLE)), 6) AS ape
       |FROM prof WHERE n_train > 0 AND n_test > 0
       |ORDER BY hod""".stripMargin

  /** L27 `events_forecast_backtest` — ROLLING-ORIGIN backtest of the
    * L15 seasonal-naive model (Tashman 2000's rolling-origin
    * evaluation — the eval a forecaster actually ships on, where L15
    * is one fixed cutoff): for every origin day past a `minTrainDays`
    * warm-up, each hour of that day is forecast from the expanding
    * hour-of-day profile of all PRIOR days, and the serve is the full
    * per-(origin, hour) backtest table — n_train, n_test, forecast,
    * actual, APE — the table an MAPE dashboard or a model-selection
    * harness aggregates. Deliberately served per-row: averaging
    * round-6 doubles would re-introduce the float-sum order hazard
    * the house bans; every served ratio is a single IEEE shape over
    * exact sums.
    *
    * Shape: ONE scan to the (day, hod) rollup (exact counts +
    * decimal sums), then an expanding hod-partitioned ROWS window
    * (1-row-per-day partitions — no tie ambiguity) for the train
    * profile — no per-origin rescan, no self-join; the backtest over
    * k origins costs the same one shuffle as L15's single cutoff.
    * APE is NULL-guarded on a zero actual (the ADVICE r10 rule).
    *
    * Exactness — the 10× gate's r11 catch: hour-level counts are
    * often 2^a·5^b (320 at the 10× replica), so a profile mean can
    * land EXACTLY on a round-6 decimal midpoint (…1875), where
    * Spark's correctly-rounded double HALF_UP and DuckDB's
    * multiply-by-1e6 ROUND/CAST paths disagree by one last digit.
    * So no served ratio is ever rounded FROM a double: each round-6
    * ratio is computed in exact BIGINT micro-units via integer
    * half-up — round(p/q) = (2p+q) div 2q on the exact scaled sums
    * (O1's fixed-point discipline) — and served as the exact
    * `*_micro` BIGINT with the human double (one IEEE division of
    * exactly-representable ints) beside it. APE re-derives from the
    * SERVED micro columns, so the table is self-consistent by
    * construction. */
  def forecastBacktest(spark: SparkSession, dir: String,
                       eventType: String = "purchase",
                       minTrainDays: Int = 7): DataFrame = {
    val v = col("value").cast("decimal(18,6)")
    val daily = Tables.events(spark, dir)
      .filter(col("event_type") === eventType)
      .groupBy(to_date(col("ts")).as("day"), hour(col("ts")).as("hod"))
      .agg(count(lit(1)).as("n_test"), sum(v).as("s_test"))
    val wh = Window.partitionBy(col("hod")).orderBy(col("day"))
    val wTrain = wh.rowsBetween(Window.unboundedPreceding, -1)
    daily
      .withColumn("n_train", sum(col("n_test")).over(wTrain))
      .withColumn("s_train", sum(col("s_test")).over(wTrain))
      .withColumn("day_rank", row_number().over(wh))
      .filter(col("day_rank") > minTrainDays && col("n_train") > 0)
      .withColumn("p_train",
        (col("s_train") * lit(1000000)).cast("long"))
      .withColumn("p_test", (col("s_test") * lit(1000000)).cast("long"))
      .withColumn("forecast_micro", expr(
        "(2 * p_train + n_train) div (2 * n_train)"))
      .withColumn("actual_micro", expr(
        "(2 * p_test + n_test) div (2 * n_test)"))
      .withColumn("ape_micro", expr(
        """CASE WHEN actual_micro = 0 THEN NULL
          |ELSE (2 * abs(actual_micro - forecast_micro) * 1000000
          |      + actual_micro) div (2 * actual_micro) END""".stripMargin))
      .select(date_format(col("day"), "yyyy-MM-dd").as("origin_day"),
        col("hod"), col("n_train"), col("n_test"),
        col("forecast_micro"), col("actual_micro"), col("ape_micro"),
        (col("forecast_micro").cast("double") / lit(1e6)).as("forecast"),
        (col("actual_micro").cast("double") / lit(1e6)).as("actual"),
        (col("ape_micro").cast("double") / lit(1e6)).as("ape"))
      .orderBy(col("origin_day"), col("hod"))
  }

  def forecastBacktestSql(eventType: String = "purchase",
                          minTrainDays: Int = 7): String =
    s"""WITH daily AS (
       |  SELECT CAST(ts AS DATE) AS day, EXTRACT(hour FROM ts) AS hod,
       |    COUNT(*) AS n_test,
       |    SUM(CAST(value AS DECIMAL(18,6))) AS s_test
       |  FROM events WHERE event_type = '$eventType'
       |  GROUP BY 1, 2
       |), expanded AS (
       |  SELECT day, hod, n_test, s_test,
       |    SUM(n_test) OVER w AS n_train,
       |    SUM(s_test) OVER w AS s_train,
       |    ROW_NUMBER() OVER (PARTITION BY hod ORDER BY day) AS day_rank
       |  FROM daily
       |  WINDOW w AS (PARTITION BY hod ORDER BY day
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |), micro AS (
       |  SELECT day, hod, CAST(n_train AS BIGINT) AS n_train, n_test,
       |    CAST((2 * CAST(s_train * 1000000 AS BIGINT)
       |          + CAST(n_train AS BIGINT))
       |      // (2 * CAST(n_train AS BIGINT)) AS BIGINT) AS forecast_micro,
       |    CAST((2 * CAST(s_test * 1000000 AS BIGINT) + n_test)
       |      // (2 * n_test) AS BIGINT) AS actual_micro
       |  FROM expanded
       |  WHERE day_rank > $minTrainDays AND n_train > 0
       |)
       |SELECT strftime(day, '%Y-%m-%d') AS origin_day, CAST(hod AS INT)
       |    AS hod,
       |  n_train, n_test, forecast_micro, actual_micro,
       |  CAST(CASE WHEN actual_micro = 0 THEN NULL
       |       ELSE (2 * abs(actual_micro - forecast_micro) * 1000000
       |             + actual_micro) // (2 * actual_micro) END AS BIGINT)
       |    AS ape_micro,
       |  CAST(forecast_micro AS DOUBLE) / 1000000.0 AS forecast,
       |  CAST(actual_micro AS DOUBLE) / 1000000.0 AS actual,
       |  CAST(CASE WHEN actual_micro = 0 THEN NULL
       |       ELSE (2 * abs(actual_micro - forecast_micro) * 1000000
       |             + actual_micro) // (2 * actual_micro) END AS DOUBLE)
       |    / 1000000.0 AS ape
       |FROM micro
       |ORDER BY origin_day, hod""".stripMargin

  /** L23 `events_seasonal_decompose` — classical additive time-series
    * decomposition of the daily event-value series:
    * y = trend + seasonal + residual, with the trend a centered 7-day
    * moving average (defined only where the full window exists — the
    * 3 edge days each side serve NULL trend/resid, a real property of
    * the method, deliberately not imputed), the seasonal component a
    * per-day-of-week mean of the detrended series CENTERED so the
    * seven indices sum to zero (the identifiability convention), and
    * the residual the remainder — the decomposition every anomaly
    * detector and forecaster (L15, F17, F21) implicitly assumes,
    * served explicitly.
    *
    * Determinism: daily sums are exact decimals; the trend is an
    * exact 7-term decimal window sum divided by 7.0 in doubles; the
    * detrended values re-enter decimal space via the house
    * cast-to-DECIMAL(18,6) (identical round-half-up both engines) so
    * the per-dow means are exact-sum ratios; every served double is a
    * fixed IEEE expression shape of those exact quantities.
    * Day-of-week is epoch-day mod 7 — engine-neutral, unlike
    * dayofweek()/EXTRACT(DOW) whose origins differ.
    *
    * Scale: ONE event scan collapsing to day cardinality (metadata
    * scale — years of days is thousands of rows); the centered-MA
    * window and the 7-row seasonal table are post-aggregation
    * single-partition work by construction (Obs.onePart, the house
    * pattern for post-LIMIT/metadata-scale windows); the seasonal
    * attach is a 7-row broadcast. */
  def seasonalDecompose(spark: SparkSession, dir: String,
                        eventType: Option[String] = None): DataFrame = {
    val dec = DecimalType(18, 6)
    val base = eventType.fold(Tables.events(spark, dir))(t =>
      Tables.events(spark, dir).filter(col("event_type") === t))
    val daily = base
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(dec)).as("y_dec"))
      .withColumn("dow",
        pmod(datediff(col("day"), lit("1970-01-01").cast("date")), lit(7))
          .cast("int"))
    val w = Window.partitionBy(Obs.onePart(col("day"))).orderBy(col("day"))
      .rowsBetween(-3, 3)
    // day-cardinality table feeding BOTH the seasonal-index aggregate
    // and the final serve: eager-materialize once (house discipline
    // for small fanned-out subtrees) so neither branch re-pays the
    // event scan + rollup + window
    val trended = daily
      .withColumn("w_n", count(lit(1)).over(w))
      .withColumn("trend_raw",
        when(col("w_n") === 7, sum(col("y_dec")).over(w).cast("double") / 7.0))
      .withColumn("detr_dec",
        (col("y_dec").cast("double") - col("trend_raw")).cast(dec))
      .cutLineage()
    val dowIdx = trended.filter(col("trend_raw").isNotNull)
      .groupBy(col("dow").as("s_dow"))
      .agg(sum(col("detr_dec")).as("sd"), count(lit(1)).as("nd"))
    val grand = dowIdx.agg(sum(col("sd")).as("gs"), sum(col("nd")).as("gn"))
    val seasonal = dowIdx.crossJoin(broadcast(grand))
      .select(col("s_dow"),
        (col("sd").cast("double") / col("nd").cast("double")
          - col("gs").cast("double") / col("gn").cast("double")).as("s_raw"))
    trended.join(broadcast(seasonal), col("dow") === col("s_dow"))
      .select(col("day"), col("dow"), col("n"),
        col("y_dec").cast("double").as("y"),
        round(col("trend_raw"), 6).as("trend"),
        round(col("s_raw"), 6).as("seasonal"),
        round(col("y_dec").cast("double") - col("trend_raw") - col("s_raw"), 6)
          .as("resid"))
  }

  def seasonalDecomposeSql(eventType: Option[String] = None): String = {
    val filt = eventType.fold("")(t => s"WHERE event_type = '$t'")
    s"""WITH daily AS (
       |  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n,
       |    SUM(CAST(value AS DECIMAL(18,6))) AS y_dec
       |  FROM events $filt GROUP BY 1
       |), trended AS (
       |  SELECT day,
       |    CAST((day - DATE '1970-01-01') % 7 AS INT) AS dow, n, y_dec,
       |    CASE WHEN COUNT(*) OVER w = 7 THEN
       |      CAST(CAST(SUM(y_dec) OVER w AS VARCHAR) AS DOUBLE) / 7.0
       |    END AS trend_raw
       |  FROM daily
       |  WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
       |), detr AS (
       |  SELECT *, CAST(CAST(CAST(y_dec AS VARCHAR) AS DOUBLE) - trend_raw
       |    AS DECIMAL(18,6)) AS detr_dec
       |  FROM trended
       |), dow_idx AS (
       |  SELECT dow AS s_dow, SUM(detr_dec) AS sd, COUNT(*) AS nd
       |  FROM detr WHERE trend_raw IS NOT NULL GROUP BY 1
       |), grand AS (
       |  SELECT SUM(sd) AS gs, SUM(nd) AS gn FROM dow_idx
       |), seasonal AS (
       |  SELECT s_dow,
       |    CAST(CAST(sd AS VARCHAR) AS DOUBLE) / CAST(nd AS DOUBLE)
       |      - CAST(CAST(gs AS VARCHAR) AS DOUBLE) / CAST(gn AS DOUBLE) AS s_raw
       |  FROM dow_idx CROSS JOIN grand
       |)
       |SELECT day, dow, n,
       |  CAST(CAST(y_dec AS VARCHAR) AS DOUBLE) AS y,
       |  ROUND(trend_raw, 6) AS trend,
       |  ROUND(s_raw, 6) AS seasonal,
       |  ROUND(CAST(CAST(y_dec AS VARCHAR) AS DOUBLE) - trend_raw - s_raw, 6)
       |    AS resid
       |FROM detr JOIN seasonal ON dow = s_dow""".stripMargin
  }

  /** L25 `events_seasonal_anomaly` — seasonal-adjusted anomaly days:
    * the F21 robust-MAD detector applied to L23's RESIDUAL series
    * instead of the raw volume — the composition that stops weekly
    * seasonality from masquerading as anomalies (a quiet Sunday is
    * normal; a Sunday-sized Tuesday is not). Median and MAD come from
    * one sorted array pick over the interior (trend-defined) days —
    * F21's exact two-dependent-medians mechanic, identical to
    * DuckDB's quantile_disc — and each day serves its residual, the
    * robust z-score (residual − median)/(1.4826·MAD), and the
    * |resid − med| > k·MAD flag. All inputs are L23's hash-exact
    * served doubles; the z is one pinned IEEE shape rounded 6dp.
    * Scale: L23's economics (day-cardinality after one scan); the
    * median window is the post-aggregation metadata-scale class. */
  def seasonalAnomaly(spark: SparkSession, dir: String,
                      k: Double = 3.5): DataFrame = {
    val interior = seasonalDecompose(spark, dir)
      .filter(col("resid").isNotNull)
    val w = Window.partitionBy(Obs.onePart(col("day")))
    interior
      .withColumn("ns", sort_array(collect_list(col("resid")).over(w)))
      .withColumn("med",
        expr("element_at(ns, cast((size(ns) + 1) / 2 AS INT))"))
      .withColumn("mad", expr(
        "element_at(array_sort(transform(ns, x -> abs(x - med))), " +
          "cast((size(ns) + 1) / 2 AS INT))"))
      .select(col("day"), col("n"), col("y"), col("resid"),
        round(col("med"), 6).as("med"), round(col("mad"), 6).as("mad"),
        when(col("mad") > 0.0,
          round((col("resid") - col("med")) / (lit(1.4826) * col("mad")), 6))
          .as("robust_z"),
        (abs(col("resid") - col("med")) > lit(k) * col("mad")).as("is_anomaly"))
  }

  def seasonalAnomalySql(k: Double = 3.5): String =
    s"""WITH sd AS (
       |${seasonalDecomposeSql()}
       |), interior AS (
       |  SELECT day, n, y, resid FROM sd WHERE resid IS NOT NULL
       |), med AS (
       |  SELECT quantile_disc(resid, 0.5) AS med FROM interior
       |), dev AS (
       |  SELECT interior.*, med, abs(resid - med) AS abs_dev
       |  FROM interior CROSS JOIN med
       |), mad AS (
       |  SELECT quantile_disc(abs_dev, 0.5) AS mad FROM dev
       |)
       |SELECT day, n, y, resid,
       |  ROUND(med, 6) AS med, ROUND(mad, 6) AS mad,
       |  CASE WHEN mad > 0.0
       |    THEN ROUND((resid - med) / (1.4826 * mad), 6) END AS robust_z,
       |  abs_dev > $k * mad AS is_anomaly
       |FROM dev CROSS JOIN mad""".stripMargin

  /** L24 `events_feature_snapshot` — POINT-IN-TIME-CORRECT training
    * features (the feature-store discipline that prevents
    * training-serving skew / label leakage): for every purchase, the
    * user's behavioral features computed over STRICTLY PRIOR events
    * only — an `UNBOUNDED PRECEDING .. 1 PRECEDING` frame on the
    * (ts, event_id) total order, so nothing at-or-after the label
    * event (including simultaneous rows) ever leaks into its
    * features. Served columns: prior event / purchase counts, prior
    * purchase revenue (exact decimal sum → correctly-rounded
    * double), whole hours active, whole hours since the previous
    * purchase (null for a first purchase — a REAL feature-vector
    * null the training pipeline must handle, deliberately not
    * imputed here), and the label (this purchase's value). First-
    * ever events have no features and are excluded (n_prior = 0).
    * Hours come from exact µs integers (unix_micros both engines).
    * Scale: ONE user-keyed window pass over the stream — the L2
    * sessionize economics; every feature shares the single frame. */
  def featureSnapshot(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), unix_micros(col("ts")).as("us"))
      .withColumn("n_prior_events", count(lit(1)).over(w))
      .withColumn("n_prior_purchases",
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).over(w))
      .withColumn("prior_purchase_value",
        coalesce(sum(when(col("event_type") === "purchase",
          col("value").cast(DecimalType(18, 6)))).over(w),
          lit(0).cast(DecimalType(28, 6))).cast("double"))
      .withColumn("first_us", min(col("us")).over(w))
      .withColumn("prev_buy_us",
        max(when(col("event_type") === "purchase", col("us"))).over(w))
      .filter(col("event_type") === "purchase" &&
        col("n_prior_events") > 0 && col("first_us").isNotNull)
      .select(col("event_id"), col("user_id"),
        col("n_prior_events"), col("n_prior_purchases"),
        col("prior_purchase_value"),
        floor((col("us") - col("first_us")) / 3600000000.0)
          .as("hours_active"),
        floor((col("us") - col("prev_buy_us")) / 3600000000.0)
          .as("hours_since_prev_buy"),
        col("value").cast(DecimalType(18, 6)).cast("double")
          .as("label_value"))
      .orderBy(col("event_id"))
  }

  def featureSnapshotSql: String =
    """WITH ev AS (
      |  SELECT event_id, user_id, event_type, value, epoch_us(ts) AS us
      |  FROM events
      |), feat AS (
      |  SELECT event_id, user_id, event_type, value, us,
      |    CAST(COUNT(*) OVER w AS BIGINT) AS n_prior_events,
      |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      OVER w AS BIGINT) AS n_prior_purchases,
      |    CAST(CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
      |        THEN CAST(value AS DECIMAL(18,6)) END) OVER w, 0) AS VARCHAR)
      |      AS DOUBLE) AS prior_purchase_value,
      |    MIN(us) OVER w AS first_us,
      |    MAX(CASE WHEN event_type = 'purchase' THEN us END) OVER w
      |      AS prev_buy_us
      |  FROM ev
      |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |)
      |SELECT event_id, user_id, n_prior_events, n_prior_purchases,
      |  prior_purchase_value,
      |  CAST(floor(CAST(us - first_us AS DOUBLE) / 3600000000.0)
      |    AS BIGINT) AS hours_active,
      |  CAST(floor(CAST(us - prev_buy_us AS DOUBLE) / 3600000000.0)
      |    AS BIGINT) AS hours_since_prev_buy,
      |  CAST(CAST(CAST(value AS DECIMAL(18,6)) AS VARCHAR) AS DOUBLE)
      |    AS label_value
      |FROM feat
      |WHERE event_type = 'purchase' AND n_prior_events > 0
      |  AND first_us IS NOT NULL
      |ORDER BY event_id""".stripMargin

  /** L22 `events_burstiness` — inter-event-time statistics + the
    * Goh–Barabási burstiness coefficient per event type: for each
    * (type, user) sequence, the gaps between consecutive events; per
    * type, their count, mean, standard deviation, and
    * B = (σ−μ)/(σ+μ) ∈ [−1, 1] — B ≈ −1 is a perfectly periodic
    * process (heartbeat), B ≈ 0 Poisson, B → 1 extreme burstiness
    * (the shape that breaks watermark/window sizing, which is why a
    * streaming operator reads this before picking L1/L9 widths).
    * Exactness: gaps are exact BIGINT microseconds (unix_micros both
    * engines, lag ordered by (ts, event_id) — a total order);
    * Σgap and Σgap² are DECIMAL(38,0) sums (gap² ~10²² at this
    * fixture already exceeds 2^63 summed — the O1 overflow class);
    * the mean/σ/B chain is a PINNED sequence of IEEE double ops on
    * the exact sums (identical in both engines), rounded 6 dp only
    * at the serve.
    * Scale: one (type, user)-keyed window (the L2 sessionize
    * economics), then one partial-agg rollup to a per-type row —
    * nothing wider than the event stream shuffles, once. */
  def burstiness(spark: SparkSession, dir: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val w = Window.partitionBy(col("event_type"), col("user_id"))
      .orderBy(col("us"), col("event_id"))
    val gaps = Tables.events(spark, dir)
      .select(col("event_type"), col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      .withColumn("prev", lag(col("us"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("event_type"), (col("us") - col("prev")).as("gap"))
    val stats = gaps.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_gaps"),
        sum(col("gap").cast(dec)).as("s1"),
        sum(col("gap").cast(dec) * col("gap").cast(dec)).as("s2"))
    // pinned double chain on the exact decimal sums (same shape in
    // the oracle): m = s1/n, var = s2/n − m·m, σ = sqrt(var)
    val s1d = col("s1").cast("double")
    val s2d = col("s2").cast("double")
    val m = s1d / col("n_gaps")
    val sd = sqrt(s2d / col("n_gaps") - m * m)
    stats.select(col("event_type"), col("n_gaps"),
      round(m / lit(1000000.0), 6).as("mean_gap_sec"),
      round(sd / lit(1000000.0), 6).as("std_gap_sec"),
      round((sd - m) / (sd + m), 6).as("burstiness"))
      .orderBy(col("event_type"))
  }

  def burstinessSql: String =
    """WITH seq AS (
      |  SELECT event_type, user_id, epoch_us(ts) AS us,
      |    LAG(epoch_us(ts)) OVER (PARTITION BY event_type, user_id
      |      ORDER BY epoch_us(ts), event_id) AS prev
      |  FROM events
      |), gaps AS (
      |  SELECT event_type, us - prev AS gap FROM seq WHERE prev IS NOT NULL
      |), stats AS (
      |  SELECT event_type, COUNT(*) AS n_gaps,
      |    CAST(SUM(CAST(gap AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s1,
      |    CAST(SUM(CAST(gap AS DECIMAL(38,0)) * CAST(gap AS DECIMAL(38,0)))
      |      AS DECIMAL(38,0)) AS s2
      |  FROM gaps GROUP BY 1
      |)
      |SELECT event_type, n_gaps,
      |  ROUND(CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / n_gaps / 1000000.0, 6)
      |    AS mean_gap_sec,
      |  ROUND(sqrt(CAST(CAST(s2 AS VARCHAR) AS DOUBLE) / n_gaps
      |      - (CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / n_gaps)
      |        * (CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / n_gaps)) / 1000000.0,
      |    6) AS std_gap_sec,
      |  ROUND((sqrt(CAST(CAST(s2 AS VARCHAR) AS DOUBLE) / n_gaps
      |      - (CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / n_gaps)
      |        * (CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / n_gaps))
      |     - CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / n_gaps)
      |   / (sqrt(CAST(CAST(s2 AS VARCHAR) AS DOUBLE) / n_gaps
      |      - (CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / n_gaps)
      |        * (CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / n_gaps))
      |     + CAST(CAST(s1 AS VARCHAR) AS DOUBLE) / n_gaps), 6)
      |    AS burstiness
      |FROM stats ORDER BY event_type""".stripMargin

  /** L21 `events_survival` — Kaplan–Meier retention curve over user
    * PURCHASE lifetimes (the product-limit estimator, Kaplan & Meier
    * 1958 — the standard churn-analysis read): a user's lifetime
    * runs from their first event to their last purchase (revenue
    * retention, not mere activity — activity is near-uniform in this
    * stream and yields a flat curve); a user whose last purchase
    * falls within `censorDays` of the study horizon (global max
    * last-purchase) is CENSORED at the horizon (still alive as far
    * as the data can tell), everyone else is an observed churn. Per
    * distinct lifetime d (in whole days): n_at_risk = users with
    * lifetime ≥ d,
    * n_churned = observed churns at exactly d, and the survival
    * estimate S(d) = Π_{d' ≤ d} (1 − churn/at_risk). The product is
    * computed in log space with the I6/F20 exactness recipe — each
    * factor's ln rounded to 6 dp, summed as DECIMAL(18,9) (exact,
    * order-insensitive), exp'd and rounded only at the serve. A
    * duration where every at-risk user churns zeroes the curve; the
    * zero propagates via an exact integer flag, never through
    * ln(0).
    * Scale: ONE user-keyed rollup of the raw stream (the only
    * corpus-wide shuffle; the horizon scalar attaches via broadcast
    * crossJoin, never a single-partition window over the user
    * table), then every window runs over the distinct-lifetime
    * table — bounded by the study length in days, metadata scale. */
  def survival(spark: SparkSession, dir: String,
               censorDays: Int = 3): DataFrame = {
    val users = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(min(col("ts")).as("first_ts"),
        max(when(col("event_type") === "purchase", col("ts")))
          .as("last_buy"))
      .filter(col("last_buy").isNotNull) // never-buyers have no lifetime
    val horizon = users.agg(max(col("last_buy")).as("horizon"))
    val perUser = users.crossJoin(broadcast(horizon))
      .withColumn("churned",
        col("last_buy") < col("horizon") - expr(s"INTERVAL $censorDays DAYS"))
      .withColumn("end_ts",
        when(col("churned"), col("last_buy")).otherwise(col("horizon")))
      // whole-day lifetime from EXACT microsecond integers (both
      // engines divide the same BIGINT by the same double constant —
      // unix_timestamp would drop micros the oracle keeps)
      .withColumn("lifetime_days",
        floor((unix_micros(col("end_ts"))
          - unix_micros(col("first_ts"))) / 86400000000.0).cast("int"))
    val byDur = perUser.groupBy(col("lifetime_days"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("churned"), 1L).otherwise(0L)).as("n_churned"))
      .withColumn("n_censored", col("n_total") - col("n_churned"))
    val one = Obs.onePart(col("lifetime_days"))
    val wDesc = Window.partitionBy(one)
      .orderBy(col("lifetime_days").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAsc = Window.partitionBy(one)
      .orderBy(col("lifetime_days"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byDur
      .withColumn("n_at_risk", sum(col("n_total")).over(wDesc))
      .withColumn("term",
        when(col("n_churned") > 0 && col("n_churned") < col("n_at_risk"),
          round(log((col("n_at_risk") - col("n_churned"))
            .cast("double") / col("n_at_risk")), 6)
            .cast(DecimalType(18, 9)))
          .otherwise(lit(0).cast(DecimalType(18, 9))))
      .withColumn("dead",
        max(when(col("n_churned") === col("n_at_risk"), 1).otherwise(0))
          .over(wAsc))
      .withColumn("log_surv", sum(col("term")).over(wAsc))
      .select(col("lifetime_days"), col("n_at_risk"), col("n_churned"),
        col("n_censored"),
        when(col("dead") === 1, lit(0.0))
          .otherwise(round(exp(col("log_surv").cast("double")), 6))
          .as("km_survival"))
      .orderBy(col("lifetime_days"))
  }

  def survivalSql(censorDays: Int = 3): String =
    s"""WITH users AS (
       |  SELECT user_id, MIN(ts) AS first_ts,
       |    MAX(CASE WHEN event_type = 'purchase' THEN ts END) AS last_buy
       |  FROM events GROUP BY 1
       |  HAVING MAX(CASE WHEN event_type = 'purchase' THEN ts END)
       |    IS NOT NULL
       |), h AS (SELECT MAX(last_buy) AS horizon FROM users),
       |per_user AS (
       |  SELECT user_id,
       |    last_buy < horizon - INTERVAL $censorDays DAYS AS churned,
       |    CAST(floor(CAST(epoch_us(
       |      CASE WHEN last_buy < horizon - INTERVAL $censorDays DAYS
       |           THEN last_buy ELSE horizon END
       |      - first_ts) AS DOUBLE) / 86400000000.0) AS INT)
       |      AS lifetime_days
       |  FROM users CROSS JOIN h
       |), by_dur AS (
       |  SELECT lifetime_days, COUNT(*) AS n_total,
       |    CAST(SUM(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_churned
       |  FROM per_user GROUP BY 1
       |), risk AS (
       |  SELECT *, n_total - n_churned AS n_censored,
       |    CAST(SUM(n_total) OVER (ORDER BY lifetime_days DESC
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_at_risk
       |  FROM by_dur
       |), terms AS (
       |  SELECT *,
       |    CASE WHEN n_churned > 0 AND n_churned < n_at_risk
       |         THEN CAST(ROUND(ln(CAST(n_at_risk - n_churned AS DOUBLE)
       |                / n_at_risk), 6) AS DECIMAL(18,9))
       |         ELSE CAST(0 AS DECIMAL(18,9)) END AS term,
       |    MAX(CASE WHEN n_churned = n_at_risk THEN 1 ELSE 0 END)
       |      OVER (ORDER BY lifetime_days ROWS UNBOUNDED PRECEDING)
       |      AS dead
       |  FROM risk
       |)
       |SELECT lifetime_days, n_at_risk, n_churned, n_censored,
       |  CASE WHEN dead = 1 THEN 0.0
       |       ELSE ROUND(exp(CAST(CAST(SUM(term) OVER (ORDER BY
       |         lifetime_days ROWS UNBOUNDED PRECEDING) AS VARCHAR)
       |         AS DOUBLE)), 6) END AS km_survival
       |FROM terms
       |ORDER BY lifetime_days""".stripMargin

  // ===== L11t/L18t: the funnel + Markov streaming twins, promoted to
  // oracle-keyed rows (r14, same template as F21t/F24t: replay drive,
  // keep-latest fold, batch oracle SQL verbatim) =====

  /** L11t `stream_funnel` — [[graft.streaming.StreamOps.funnelState]]
    * run to completion as a batch-callable query: per-user greedy
    * anchor chains replayed through the MemoryStream drive; the
    * emitted stages_completed is MONOTONE per user, so the final
    * keep-latest row is max(stages_completed), and the serve re-rolls
    * the batch funnel's per-tenant report (user present ⇒ counted in
    * n_users; stage i completed ⇒ counted in n_s<i>). Oracle = the
    * batch `events_funnel` SQL verbatim. */
  def funnelStreamBatch(spark: SparkSession, dir: String): DataFrame = {
    val stages = Seq("view", "click", "purchase")
    Audit.replayStream(spark, dir, (ds, name) =>
      graft.streaming.StreamOps.funnelState(ds, spark, stages)
        .writeStream.format("memory").queryName(name)
        .outputMode("update").start()) { t =>
      val fin = t.groupBy(col("user_id"))
        .agg(max(col("stages_completed")).as("sc"))
      val stageCounts = stages.zipWithIndex.map { case (st, i) =>
        countDistinct(when(col("sc") > i, col("user_id")))
          .as(s"n_s${i}_$st")
      }
      val aggs = countDistinct(col("user_id")).as("n_users") +: stageCounts
      fin.groupBy(concat(lit("t"), pmod(col("user_id"), lit(4)))
          .as("tenant_id"))
        .agg(aggs.head, aggs.tail: _*)
    }
  }

  /** L18t `stream_markov` — [[graft.streaming.StreamOps.markovState]]
    * run to completion as a batch-callable query: per-user O(1) state
    * bumps "cur nxt" counters forward; counters are monotone per
    * user, so the final per-(user, pair) value is max(n), and the
    * serve re-rolls the batch matrix (pair counts summed across
    * users, marginal attach, one IEEE division). Oracle = the batch
    * `events_markov` SQL verbatim. */
  def markovStreamBatch(spark: SparkSession, dir: String): DataFrame =
    Audit.replayStream(spark, dir, (ds, name) =>
      graft.streaming.StreamOps.markovState(ds, spark)
        .writeStream.format("memory").queryName(name)
        .outputMode("update").start()) { t =>
      val per = t.select(col("user_id"),
          explode(col("transitions")).as(Seq("k", "n")))
        .groupBy(col("user_id"), col("k")).agg(max(col("n")).as("n"))
      val trans = per
        .select(split(col("k"), " ").getItem(0).as("cur"),
          split(col("k"), " ").getItem(1).as("nxt"), col("n"))
        .groupBy(col("cur"), col("nxt")).agg(sum(col("n")).as("c_pair"))
      val marg = trans.groupBy(col("cur").as("m_cur"))
        .agg(sum(col("c_pair")).as("c_cur"))
      trans.join(marg, col("cur") === col("m_cur"))
        .select(col("cur"), col("nxt"), col("c_pair"),
          (col("c_pair").cast("double") / col("c_cur").cast("double"))
            .as("p_next"))
        .orderBy(col("cur"), col("nxt"))
    }

  val registry: Seq[(String, Entry)] = Seq(
    "stream_funnel" -> Entry(funnelStreamBatch _, funnelSql(), shuffles = 2),
    "stream_markov" -> Entry(markovStreamBatch _, markovTransitionsSql, shuffles = 2),
    "events_seasonal_decompose" -> Entry((s, d) => seasonalDecompose(s, d), seasonalDecomposeSql(),
      shuffles = 3, // post-checkpoint: dow agg + grand + serve join (trend table is a day-cardinality leaf)
      bnlj = true), // (b) 1-row grand-mean attach for centering the 7 dow indices
    "events_seasonal_anomaly" -> Entry((s, d) => seasonalAnomaly(s, d), seasonalAnomalySql(),
      shuffles = 4, // L23's 3 + the interior-days median window (day-cardinality)
      bnlj = true), // (b) inherits L23's grand-mean attach
    "events_did" -> Entry((s, d) => didAnalysis(s, d), didAnalysisSql(), shuffles = 2),
    "param_events_did" -> Entry((s, d) => didAnalysis(s, d, salt = "exp2", cutoff = "2024-01-20"),
      didAnalysisSql(salt = "exp2", cutoff = "2024-01-20"), shuffles = 2),
    "param_seasonal_anomaly" -> Entry((s, d) => seasonalAnomaly(s, d, k = 2.0),
      seasonalAnomalySql(k = 2.0), shuffles = 4,
      bnlj = true), // (b) inherits L23's grand-mean attach
    "param_seasonal_decompose" -> Entry((s, d) =>
      seasonalDecompose(s, d, eventType = Some("purchase")),
      seasonalDecomposeSql(eventType = Some("purchase")), shuffles = 3,
      bnlj = true), // (b) 1-row grand-mean attach for centering the 7 dow indices
    "events_markov" -> Entry(markovTransitions _, markovTransitionsSql,
      shuffles = 4), // user sequence window + pair rollup + state marginal rollup + ordered serve
    "events_survival" -> Entry((s, d) => survival(s, d), survivalSql(),
      shuffles = 8, // ONE corpus-wide user rollup; 1-row horizon agg + lifetime rollup + desc/asc curve windows + ordered serve are all bounded distinct-lifetime metadata exchanges
      bnlj = true), // (b) 1-row horizon attach
    "events_burstiness" -> Entry(burstiness _, burstinessSql,
      shuffles = 3), // (type,user) lag window + type rollup + ordered serve
    "events_feature_snapshot" -> Entry(featureSnapshot _, featureSnapshotSql, shuffles = 2),
    "param_survival" -> Entry((s, d) => survival(s, d, censorDays = 7), survivalSql(censorDays = 7),
      shuffles = 8,
      bnlj = true), // (b) 1-row horizon attach
    "events_cumulative_users" -> Entry(cumulativeUsers _, cumulativeUsersSql,
      shuffles = 4), // user first-seen agg + bucket rollup + onePart cumsum + ordered serve
    "events_stickiness" -> Entry((s, d) => stickiness(s, d), stickinessSql(),
      shuffles = 6), // (day,user) dedup + fan-out distinct (2: expand) + dau rollup + day join + ordered serve
    "param_events_stickiness" -> Entry((s, d) => stickiness(s, d, windowDays = 28),
      stickinessSql(windowDays = 28), shuffles = 6),
    "events_attribution" -> Entry((s, d) => attribution(s, d), attributionSql(),
      shuffles = 3), // user-keyed touch join + per-purchase argmax + channel rollup
    "param_events_attribution" -> Entry((s, d) => attribution(s, d, lookbackDays = 1),
      attributionSql(lookbackDays = 1), shuffles = 3),
    "events_attribution_decay" -> Entry((s, d) => attributionDecay(s, d), attributionDecaySql(),
      shuffles = 6), // user-keyed join + p_id window + channel rollup
    "events_ab_test" -> Entry((s, d) => abTest(s, d), abTestSql(),
      shuffles = 4), // user rollup; arm rollup + 1-row pivot are metadata
    "events_ab_cuped" -> Entry((s, d) => abCuped(s, d), abCupedSql(), shuffles = 2),
    "events_ab_sprt" -> Entry((s, d) => abSprt(s, d), abSprtSql(), shuffles = 2),
    "param_ab_sprt" -> Entry((s, d) => abSprt(s, d,
      salt = "exp2", minValue = 150.0, p0 = 0.03, p1 = 0.06),
      abSprtSql(salt = "exp2", minValue = 150.0, p0 = 0.03, p1 = 0.06), shuffles = 2),
    "param_ab_cuped" -> Entry((s, d) => abCuped(s, d, salt = "exp2", split = "2024-01-10 00:00:00"),
      abCupedSql(salt = "exp2", split = "2024-01-10 00:00:00"), shuffles = 2),
    "param_ab_test" -> Entry((s, d) => abTest(s, d, salt = "exp2", minValue = 150.0),
      abTestSql(salt = "exp2", minValue = 150.0), shuffles = 4),
    "param_attribution_decay" -> Entry((s, d) =>
      attributionDecay(s, d, lookbackDays = 2, halflifeHours = 6),
      attributionDecaySql(lookbackDays = 2, halflifeHours = 6), shuffles = 6),
    "events_seasonal_forecast" -> Entry((s, d) => seasonalForecast(s, d), seasonalForecastSql(),
      shuffles = 2),
    "param_seasonal_forecast" -> Entry((s, d) =>
      seasonalForecast(s, d, cutoff = "2024-01-15", eventType = "view"),
      seasonalForecastSql(cutoff = "2024-01-15", eventType = "view"), shuffles = 2),
    "events_forecast_backtest" -> Entry((s, d) => forecastBacktest(s, d), forecastBacktestSql(),
      shuffles = 3), // (day,hod) rollup + hod-keyed expanding window + ordered serve
    "param_forecast_backtest" -> Entry((s, d) =>
      forecastBacktest(s, d, eventType = "view", minTrainDays = 14),
      forecastBacktestSql(eventType = "view", minTrainDays = 14), shuffles = 3),
    "events_funnel" -> Entry((s, d) => funnel(s, d), funnelSql(),
      shuffles = 3), // user-key window + distinct expand + tenant rollup
    "events_session_paths" -> Entry((s, d) => sessionPaths(s, d), sessionPathsSql(),
      shuffles = 2), // user-key session window+collect + path rollup (TakeOrdered serve)
    "param_session_paths" -> Entry((s, d) => sessionPaths(s, d, pathLen = 3, limit = 10),
      sessionPathsSql(pathLen = 3, limit = 10), shuffles = 2),
    "param_events_funnel" -> Entry((s, d) => funnel(s, d, horizonMin = Some(1440)),
      funnelSql(horizonMin = Some(1440)), shuffles = 3),
    "events_cohort_retention" -> Entry(cohortRetention _, cohortRetentionSql,
      shuffles = 3), // cohort agg + user-key join + distinct rollup
    "stream_watermark_audit" -> Entry((s, d) => watermarkAudit(s, d), watermarkAuditSql(),
      shuffles = 2),
    "param_watermark_audit" -> Entry((s, d) => watermarkAudit(s, d, latenessMin = 5),
      watermarkAuditSql(latenessMin = 5), shuffles = 2),
    "stream_hopping_agg" -> Entry(hoppingAgg _, hoppingAggSql, shuffles = 2),
    "stream_interval_join_outer" -> Entry(intervalJoinOuter _, intervalJoinOuterSql, shuffles = 0),
    "stream_session_window" -> Entry(sessionWindowAgg _, sessionWindowAggSql, shuffles = 1),
    "stream_enriched_rollup" -> Entry(enrichedRollup _, enrichedRollupSql, shuffles = 1),
    "stream_tumbling_agg" -> Entry(tumblingAgg _, tumblingAggSql, shuffles = 1),
    "stream_sessionize" -> Entry(sessionize _, sessionizeSql, shuffles = 1),
    "stream_event_dedup" -> Entry(eventDedup _, eventDedupSql, shuffles = 1),
    "stream_user_latest_state" -> Entry(userLatestState _, userLatestStateSql, shuffles = 1),
    "stream_interval_join" -> Entry(intervalJoin _, intervalJoinSql, shuffles = 0))
}
