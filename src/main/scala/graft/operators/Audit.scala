package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{Entry, Memo, Registered, Tables}

/** Audit-log / metrics / DLQ set-algebra (reference: services/audit,
  * services/audit-list-api, libs/obs/metrics.ts, services/dlq-retry-api,
  * services/reprocess-prep).
  *
  * The reference writes JSONL audit events partitioned
  * tenantId=<t>/date=<d>/hour=<h>/ and lists by tenant+date prefix;
  * metrics are per-service counters; DLQ redrive moves failed messages
  * back to the main queue; reprocess replays raw objects with
  * contentType derived from the file extension.
  */
object Audit extends Registered {

  /** F1 `audit_partition_counts` — audit volume per physical
    * partition (tenant/date/hour). These three columns are the
    * partitionBy layout of the audit sink (see AuditSpec for the
    * partitioned parquet write); pruning on them is what makes
    * tenant+date list calls cheap at 100 TB. */
  def partitionCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(Obs.tenant.as("tenant_id"), Obs.ingestDate.as("audit_date"),
        hour(col("ts")).as("audit_hour"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))

  def partitionCountsSql: String =
    """SELECT 't' || (user_id % 4) AS tenant_id,
      |  strftime(ts, '%Y-%m-%d') AS audit_date,
      |  CAST(hour(ts) AS INT) AS audit_hour,
      |  COUNT(*) AS n_events,
      |  COUNT(DISTINCT user_id) AS n_users
      |FROM events GROUP BY 1, 2, 3""".stripMargin

  /** F10 `audit_retention_expiry` — the retention sweep's deletion
    * manifest: every audit partition (tenant/date/hour) older than
    * the retention cutoff, with its row count — the set-algebra
    * behind an S3 lifecycle rule / DynamoDB TTL pass. Deleting by
    * PARTITION (not by row) is what makes retention O(partitions) at
    * 100 TB: the sweep reads the partition listing, not the data, and
    * each expired directory drops atomically. Deterministic ordered
    * output (it's a work list). */
  def retentionExpiry(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(Obs.tenant.as("tenant_id"), Obs.ingestDate.as("audit_date"),
        hour(col("ts")).as("audit_hour"))
      .agg(count(lit(1)).as("n_rows_expiring"))
      .filter(col("audit_date") < "2024-01-08")
      .orderBy(col("tenant_id"), col("audit_date"), col("audit_hour"))

  def retentionExpirySql: String =
    """SELECT 't' || (user_id % 4) AS tenant_id,
      |  strftime(ts, '%Y-%m-%d') AS audit_date,
      |  CAST(hour(ts) AS INT) AS audit_hour,
      |  COUNT(*) AS n_rows_expiring
      |FROM events
      |WHERE strftime(ts, '%Y-%m-%d') < '2024-01-08'
      |GROUP BY 1, 2, 3
      |ORDER BY 1, 2, 3""".stripMargin

  /** F10b `audit_purge_list` — the tombstone-driven per-ENTITY purge
    * work list that completes F10's per-PARTITION retention sweep:
    * every entity whose LATEST applied op is a D9 delete, with its
    * lineage (version counts all applied ops, n_deletes the
    * tombstones) and the deletion time — the GDPR sweep the
    * reference's single-table design would execute as DeleteItem
    * calls against the serving store and its GSIs. By construction
    * this is the exact complement of D9's read view over the same
    * [[Persist.opState]] (PipelineSpec asserts the two partition the
    * entity set), so a row can never be both served and scheduled for
    * purge. Same one-shuffle economics as D2/D9. */
  def purgeList(spark: SparkSession, dir: String): DataFrame =
    Persist.opState(spark, dir)
      .filter(col("last_op") === "delete")
      .select(col("user_id"), col("event_type"), col("version"),
        col("n_deletes"), col("last_ts").as("deleted_at"))

  def purgeListSql: String =
    s"""WITH ${Persist.appliedSqlCte}, ${Persist.opStateRankedSqlCte}
       |SELECT user_id, event_type,
       |  COUNT(*) AS version,
       |  CAST(SUM(CASE WHEN op = 'delete' THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_deletes,
       |  CAST(MAX(CASE WHEN latest_rn = 1 THEN ts END) AS TIMESTAMP)
       |    AS deleted_at
       |FROM ranked GROUP BY 1, 2
       |HAVING MAX(CASE WHEN latest_rn = 1 THEN op END) = 'delete'""".stripMargin

  /** Service routing of the reference pipeline: signup/click/view hit
    * ingest, purchases persist, errors land in the DLQ. */
  private[operators] val serviceCol =
    when(col("event_type").isin("signup", "click", "view"), "ingest")
      .when(col("event_type") === "purchase", "persist")
      .otherwise("dlq")

  /** F2 `audit_metric_counts` — metric counters per service
    * (reference: libs/obs/metrics.ts increments). One tiny shuffle on
    * the service key after map-side partial aggregation. */
  def metricCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(serviceCol.as("service"), col("event_type").as("metric"))
      .agg(count(lit(1)).as("n"),
        Analytics.dsum(col("value")).as("value_sum"))

  def metricCountsSql: String =
    """SELECT CASE WHEN event_type IN ('signup','click','view') THEN 'ingest'
      |            WHEN event_type = 'purchase' THEN 'persist'
      |            ELSE 'dlq' END AS service,
      |  event_type AS metric,
      |  COUNT(*) AS n,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE) AS value_sum
      |FROM events GROUP BY 1, 2""".stripMargin

  /** F23 `audit_health_report` — the health-api dashboard read
    * (reference: services/health-api/src/handler.ts): per tenant, the
    * three pipeline failure counters summed over a trailing window
    * whose requested width is clamped `max(5, min(q, 1440))` minutes
    * (handler.ts:93), plus the tenant's last audit write — its
    * partition-derived object key and timestamp (handler.ts:42-57's
    * `lastAuditWrite` over the tenantId=/date= layout) — and its
    * staleness in whole minutes. The reference reads the sums from
    * CloudWatch (`metricSumLast`, handler.ts:58-80) and the freshness
    * from an S3 listing; here the same numbers derive from the event
    * stream itself, each through the pipeline's OWN single source of
    * truth so the counters can never drift from the operators they
    * observe:
    *   - `ingest_error_count`: 'error'-typed events (the ingest
    *     handler's catch/DLQ path),
    *   - `dto_invalid_count`: the window slice re-run through C1's
    *     actual DTO parse + Zod predicate ([[Normalize.dtoFrom]] /
    *     [[Normalize.isValid]] — no re-derived defect classes),
    *   - `persist_error_count`: conditional-write rejections — a
    *     write whose idempotency key equals its predecessor's, the
    *     complement of D2's applied stream ([[Persist.attemptsFrom]]).
    * The window anchors at the stream's max ts (the dataset's "now";
    * the upper bound is vacuous since nothing is later).
    *
    * Scale: ONE pass over events computes both error flags and the
    * per-tenant argmax last-write in a single tenant-keyed rollup
    * (the lag rides the same (user_id, event_type) window D2 already
    * pays); the DTO re-parse touches only the WINDOW slice (the time
    * filter sits below the parse, so 100 TB of history costs the
    * trailing window, not a full-corpus parse); the anchor is one
    * metadata-cheap global max, broadcast-attached; final assembly
    * joins per-tenant aggregates — metadata-scale. */
  def healthReport(spark: SparkSession, dir: String,
                   windowMin: Int = 1440): DataFrame = {
    // Clamp bounds mirror handler.ts:93 exactly; the NO-ARGUMENT default
    // deliberately differs (reference defaults 15 — a dashboard's "last
    // quarter hour"; this registry pins the full-day window so the sf0.01
    // slice exercises every tenant). `param_audit_health_report` pins a
    // non-default windowMin through the same clamp.
    val w = math.max(5, math.min(windowMin, 1440)) // handler.ts:93
    val ev = Tables.events(spark, dir)
    val ends = ev.agg(max(col("ts")).as("end_ts"))
    val inWin = col("ts") > col("end_ts") - expr(s"INTERVAL $w MINUTE")
    val s1 = Persist.attemptsFrom(ev).crossJoin(broadcast(ends))
      .groupBy(Obs.tenant.as("tenant_id"))
      .agg(
        sum(when(inWin && col("event_type") === "error", 1L).otherwise(0L))
          .as("ingest_error_count"),
        sum(when(inWin && col("prev_ik") === col("ik"), 1L).otherwise(0L))
          .as("persist_error_count"),
        max(struct(col("ts").as("t"), col("event_id").as("e"))).as("last"))
    val dinv = Normalize.dtoFrom(ev.crossJoin(broadcast(ends)).filter(inWin))
      .filter(!Normalize.isValid)
      .groupBy(concat(lit("t"),
        pmod(col("patient_id").cast("long"), lit(4))).as("tenant_id"))
      .agg(count(lit(1)).as("dto_invalid_count"))
    s1.crossJoin(broadcast(ends))
      .join(dinv, Seq("tenant_id"), "left")
      .select(col("tenant_id"), lit(w).as("window_min"),
        col("ingest_error_count"),
        coalesce(col("dto_invalid_count"), lit(0L)).as("dto_invalid_count"),
        col("persist_error_count"),
        concat(lit("tenantId="), col("tenant_id"),
          lit("/date="), date_format(col("last.t"), "yyyy-MM-dd"),
          lit("/hour="), hour(col("last.t")).cast("string"),
          lit("/part-"), col("last.e").cast("string"), lit(".jsonl"))
          .as("last_audit_key"),
        col("last.t").as("last_audit_ts"),
        expr("(unix_micros(end_ts) - unix_micros(last.t)) div 60000000")
          .as("staleness_min"))
      .orderBy(col("tenant_id"))
  }

  def healthReportSql(windowMin: Int = 1440): String = {
    val w = math.max(5, math.min(windowMin, 1440))
    s"""WITH ${Normalize.dtoSqlCte},
       |ends AS (SELECT MAX(ts) AS end_ts FROM events),
       |base AS (
       |  SELECT e.*, 't' || (e.user_id % 4) AS tenant_id,
       |    'ik' || (e.event_id % 5) AS ik,
       |    LAG('ik' || (e.event_id % 5)) OVER (
       |      PARTITION BY e.user_id, e.event_type
       |      ORDER BY e.ts, e.event_id) AS prev_ik
       |  FROM events e
       |),
       |s1 AS (
       |  SELECT tenant_id,
       |    CAST(SUM(CASE WHEN ts > end_ts - INTERVAL ($w) MINUTE
       |                   AND event_type = 'error' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS ingest_error_count,
       |    CAST(SUM(CASE WHEN ts > end_ts - INTERVAL ($w) MINUTE
       |                   AND prev_ik = ik THEN 1 ELSE 0 END)
       |      AS BIGINT) AS persist_error_count,
       |    MAX({'t': ts, 'e': event_id}) AS last
       |  FROM base CROSS JOIN ends GROUP BY 1
       |),
       |dinv AS (
       |  SELECT 't' || (CAST(d.patient_id AS BIGINT) % 4) AS tenant_id,
       |    COUNT(*) AS dto_invalid_count
       |  FROM dto d
       |    JOIN (SELECT event_id AS ev_id, ts AS raw_ts FROM events) ev
       |      ON d.event_id = ev.ev_id
       |    CROSS JOIN ends
       |  WHERE ev.raw_ts > end_ts - INTERVAL ($w) MINUTE
       |    AND NOT (${Normalize.isValidSql})
       |  GROUP BY 1
       |)
       |SELECT s1.tenant_id, $w AS window_min,
       |  ingest_error_count,
       |  COALESCE(dto_invalid_count, 0) AS dto_invalid_count,
       |  persist_error_count,
       |  'tenantId=' || s1.tenant_id || '/date='
       |    || strftime(s1.last.t, '%Y-%m-%d')
       |    || '/hour=' || hour(s1.last.t)
       |    || '/part-' || s1.last.e || '.jsonl' AS last_audit_key,
       |  s1.last.t AS last_audit_ts,
       |  (epoch_us(ends.end_ts) - epoch_us(s1.last.t)) // 60000000
       |    AS staleness_min
       |FROM s1 CROSS JOIN ends LEFT JOIN dinv USING (tenant_id)
       |ORDER BY tenant_id""".stripMargin
  }

  /** F3 `dlq_redrive_pending` — failures still stuck in the DLQ:
    * error events with no later activity from the same user (the
    * retry never happened). A left_anti self-join on the user key —
    * the distributed form of the reference's redrive scan. Scale:
    * anti-join shuffles both sides once on user_id; AQE turns the
    * small failed side into a broadcast when possible. */
  def dlqRedrivePending(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val later = ev.select(col("user_id").as("u2"), col("ts").as("ts2"),
      col("event_id").as("id2"))
    errors.join(later,
        col("user_id") === col("u2") &&
          (col("ts2") > col("ts") ||
            (col("ts2") === col("ts") && col("id2") > col("event_id"))),
        "left_anti")
  }

  def dlqRedrivePendingSql: String =
    """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
      |FROM events e
      |WHERE event_type = 'error'
      |  AND NOT EXISTS (
      |    SELECT 1 FROM events l
      |    WHERE l.user_id = e.user_id
      |      AND (l.ts > e.ts OR (l.ts = e.ts AND l.event_id > e.event_id))
      |  )""".stripMargin

  /** F3b `dlq_redrive_batch` — the reference redrives AT MOST
    * `max = Math.max(1, Math.min(Number(body.max ?? 10), 100))`
    * messages, receiving them in batches of <= 10
    * (services/dlq-retry-api/src/handler.ts:30,45-48). Note the
    * asymmetry with the query API's limit: `?? 10` only defaults
    * null/undefined, so max=0 clamps UP to 1 instead of falling back
    * to the default. Modeled as the oldest-first bounded selection
    * over F3's pending set, with the receive-loop batch number. The
    * request side is bounded by contract; the pending scan + global
    * oldest-first window is the same shape the reference's
    * oldest-first SQS receive implies. */
  def dlqRedriveBatch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val reqs = Seq(
      ("r_default", Option.empty[Int]), ("r_zero", Option(0)),
      ("r_mid", Option(12)), ("r_cap", Option(250)))
      .toDF("request_id", "req_max")
    val eff = greatest(lit(1), least(coalesce(col("req_max"), lit(10)), lit(100)))
    // the clamp cap (100) bounds the redrive, so take the oldest 100
    // with a distributed TakeOrdered FIRST; the numbering window then
    // sees <= 100 rows, not the full pending set. Its partition key is
    // an explicit constant: a deliberate single-partition rank over
    // the TakeOrdered-bounded page (never the unbounded input), which
    // also keeps the "No Partition Defined" warning out of the logs.
    val w = Window.partitionBy(Obs.onePart(col("event_id")))
      .orderBy(col("ts"), col("event_id"))
    val pending = dlqRedrivePending(spark, dir)
      .orderBy(col("ts"), col("event_id")).limit(100)
      .withColumn("rn", row_number().over(w))
    reqs.withColumn("eff_max", eff)
      .join(pending, col("rn") <= col("eff_max"))
      .select(col("request_id"), col("eff_max"),
        (floor((col("rn") - 1) / 10) + 1).as("batch"),
        col("event_id"), col("user_id"), col("ts"), col("value"))
  }

  def dlqRedriveBatchSql: String =
    s"""WITH reqs(request_id, req_max) AS (
       |  VALUES ('r_default', CAST(NULL AS INTEGER)), ('r_zero', 0),
       |         ('r_mid', 12), ('r_cap', 250)
       |), pending AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY ts, event_id) AS INTEGER) AS rn
       |  FROM ($dlqRedrivePendingSql)
       |)
       |SELECT request_id,
       |  GREATEST(1, LEAST(COALESCE(req_max, 10), 100)) AS eff_max,
       |  CAST((rn - 1) // 10 + 1 AS BIGINT) AS batch,
       |  event_id, user_id, ts, value
       |FROM reqs JOIN pending
       |  ON rn <= GREATEST(1, LEAST(COALESCE(req_max, 10), 100))""".stripMargin

  /** F7 `audit_list_page` — the audit-list API's semantics
    * (services/audit-list-api/src/handler.ts:29,51-66): list audit
    * objects under the `tenantId=<t>/date=<d>/` prefix, at most
    * `min(limit ?? 100, 500)` of them, in key order. Unlike the query
    * API's limit there is NO lower clamp — limit 0 or negative simply
    * returns an empty listing (the `items.length < limit` loop guard).
    * Each event models one audit object: key =
    * tenant/date/hour/<id>.jsonl (the reference's S3 layout), size =
    * payload length, lastModified = event time. The prefix filter is
    * partition pruning at scale; the 500-cap TakeOrdered bounds the
    * partition-less numbering window. */
  def auditListPage(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val reqs = Seq(
      ("r_default", Option.empty[Int]), ("r_cap", Option(600)),
      ("r_small", Option(7)), ("r_zero", Option(0)))
      .toDF("request_id", "req_limit")
    val eff = least(coalesce(col("req_limit"), lit(100)), lit(500))
    // constant partition key: rank runs over the 500-cap TakeOrdered
    // page only — see dlqRedriveBatch for the rationale
    val w = Window.partitionBy(Obs.onePart(col("key"))).orderBy(col("key"))
    val objs = Tables.events(spark, dir)
      .filter(Obs.tenant === "t1" && Obs.ingestDate === "2024-01-10")
      .select(
        concat(lit("tenantId=t1/date=2024-01-10/hour="),
          date_format(col("ts"), "HH"), lit("/"), col("event_id"),
          lit(".jsonl")).as("key"),
        length(col("props")).as("size"),
        col("ts").as("last_modified"))
      .orderBy(col("key")).limit(500)
      .withColumn("rn", row_number().over(w))
    reqs.withColumn("eff_limit", eff)
      .join(objs, col("rn") <= col("eff_limit"))
      .select(col("request_id"), col("eff_limit"), col("key"), col("size"),
        col("last_modified"))
  }

  def auditListPageSql: String =
    """WITH reqs(request_id, req_limit) AS (
      |  VALUES ('r_default', CAST(NULL AS INTEGER)), ('r_cap', 600),
      |         ('r_small', 7), ('r_zero', 0)
      |), objs AS (
      |  SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY key) AS INTEGER) AS rn FROM (
      |    SELECT 'tenantId=t1/date=2024-01-10/hour=' || strftime(ts, '%H')
      |        || '/' || event_id || '.jsonl' AS key,
      |      CAST(length(props) AS INTEGER) AS size,
      |      CAST(ts AS TIMESTAMP) AS last_modified
      |    FROM events
      |    WHERE 't' || (user_id % 4) = 't1'
      |      AND strftime(ts, '%Y-%m-%d') = '2024-01-10'
      |    ORDER BY key LIMIT 500
      |  )
      |)
      |SELECT request_id,
      |  LEAST(COALESCE(req_limit, 100), 500) AS eff_limit,
      |  key, size, last_modified
      |FROM reqs JOIN objs ON rn <= LEAST(COALESCE(req_limit, 100), 500)""".stripMargin

  /** F4 `reprocess_content_type` — replay routing: extension derived
    * from the source adapter, contentType from the extension, replay
    * idempotency key `reproc:<key>` (reference: reprocess-prep
    * handler). Pure projection. */
  def reprocessContentType(spark: SparkSession, dir: String): DataFrame = {
    val ext = when(col("event_type").isin("click", "purchase"), ".csv")
      .when(col("event_type") === "error", ".hl7")
      .when(col("event_type") === "signup", ".bin")
      .otherwise(".json")
    val key = concat(lit("raw/"), Obs.tenant, lit("/"), Obs.ingestDate,
      lit("/"), col("event_id"), ext)
    Tables.events(spark, dir).select(
      col("event_id"),
      key.as("raw_key"),
      // full reference chain incl. the unknown-extension fallback
      // (reprocess-prep handler.ts:22-25: csv/hl7/json else text/plain)
      when(ext === ".csv", "text/csv")
        .when(ext === ".hl7", "application/hl7-v2")
        .when(ext === ".json", "application/json")
        .otherwise("text/plain").as("content_type"),
      concat(lit("reproc:"), key).as("idempotency_key"))
  }

  def reprocessContentTypeSql: String =
    """WITH keyed AS (
      |  SELECT event_id,
      |    CASE WHEN event_type IN ('click','purchase') THEN '.csv'
      |         WHEN event_type = 'error' THEN '.hl7'
      |         WHEN event_type = 'signup' THEN '.bin'
      |         ELSE '.json' END AS ext,
      |    'raw/t' || (user_id % 4) || '/' || strftime(ts, '%Y-%m-%d') || '/'
      |      || event_id AS stem
      |  FROM events
      |)
      |SELECT event_id,
      |  stem || ext AS raw_key,
      |  CASE ext WHEN '.csv' THEN 'text/csv'
      |           WHEN '.hl7' THEN 'application/hl7-v2'
      |           WHEN '.json' THEN 'application/json'
      |           ELSE 'text/plain' END AS content_type,
      |  'reproc:' || stem || ext AS idempotency_key
      |FROM keyed""".stripMargin

  /** F12 `reprocess_replay_set` — the SAFE replay manifest: raw
    * objects from a lost-window date range, minus events the persist
    * store already APPLIED (anti-join against D2's applied set), as
    * F4-style `ingest.raw.v1` envelopes with `reproc:` idempotency
    * keys (reference: reprocess-prep handler builds exactly these
    * envelopes; the anti-join is the set-algebra that keeps a replay
    * from re-walking writes the conditional upsert already took).
    * Scale: one date-pruned scan of the window, one anti-join keyed
    * by event_id — both sides shuffle once; the envelope projection
    * is codegen'd. Deterministic ordered output (it's a work list). */
  def replaySet(spark: SparkSession, dir: String): DataFrame = {
    val window = Tables.events(spark, dir)
      .filter(Obs.ingestDate >= "2024-01-10" && Obs.ingestDate <= "2024-01-12")
    val appliedIds = Persist.applied(spark, dir).select(col("event_id"))
    val ext = when(col("event_type").isin("click", "purchase"), ".csv")
      .when(col("event_type") === "error", ".hl7")
      .when(col("event_type") === "signup", ".bin")
      .otherwise(".json")
    val key = concat(lit("raw/"), Obs.tenant, lit("/"), Obs.ingestDate,
      lit("/"), col("event_id"), ext)
    window.join(appliedIds, Seq("event_id"), "left_anti")
      .select(
        col("event_id"),
        lit("ingest.raw.v1").as("envelope"),
        key.as("raw_key"),
        concat(lit("reproc:"), key).as("idempotency_key"),
        Obs.tenant.as("tenant_id"))
      .orderBy(col("event_id"))
  }

  def replaySetSql: String =
    s"""WITH ${Persist.appliedSqlCte}, win AS (
      |  SELECT event_id, user_id, ts,
      |    CASE WHEN event_type IN ('click','purchase') THEN '.csv'
      |         WHEN event_type = 'error' THEN '.hl7'
      |         WHEN event_type = 'signup' THEN '.bin'
      |         ELSE '.json' END AS ext
      |  FROM events
      |  WHERE strftime(ts, '%Y-%m-%d') BETWEEN '2024-01-10' AND '2024-01-12'
      |)
      |SELECT event_id,
      |  'ingest.raw.v1' AS envelope,
      |  'raw/t' || (user_id % 4) || '/' || strftime(ts, '%Y-%m-%d') || '/'
      |    || event_id || ext AS raw_key,
      |  'reproc:' || 'raw/t' || (user_id % 4) || '/' || strftime(ts, '%Y-%m-%d')
      |    || '/' || event_id || ext AS idempotency_key,
      |  't' || (user_id % 4) AS tenant_id
      |FROM win
      |WHERE event_id NOT IN (SELECT event_id FROM applied)
      |ORDER BY event_id""".stripMargin

  private val CmsEps = 0.001

  /** Memoized Count-Min sketch bytes — building the sketch is a Spark
    * job; constructors must stay plan-only on re-entry. */
  private def cmsBytes(spark: SparkSession, dir: String): Array[Byte] =
    Memo.value(spark, s"audit.cms:$dir", Seq(s"$dir/events.parquet"))(
      Tables.events(spark, dir)
        .agg(expr(s"count_min_sketch(user_id, ${CmsEps}d, 0.99d, 42)"))
        .head().getAs[Array[Byte]](0))

  /** Heavy-hitter candidates with their sketch estimates — the raw
    * engine-specific form (estimates have no DuckDB oracle); the
    * SERVED query is [[heavyHittersSketch]]. */
  def heavyHittersRaw(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.GraftSqlBridge
    import org.apache.spark.sql.catalyst.expressions.{Literal => CatLit}
    val est = GraftSqlBridge.column(graft.functions.CmsEstimate(
      CatLit.create(cmsBytes(spark, dir), org.apache.spark.sql.types.BinaryType),
      GraftSqlBridge.expression(col("user_id"))))
    Tables.events(spark, dir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
      .orderBy(col("n_events").desc, col("user_id")).limit(10)
      .withColumn("cms_estimate", est)
  }

  /** F13 `audit_heavy_hitters_sketch` — heavy-hitter detection via
    * Catalyst's own `count_min_sketch` aggregate (Cormode &
    * Muthukrishnan 2005 — public) plus the [[graft.functions
    * .CmsEstimate]] companion expression (Spark ships the aggregate
    * with no query side). The 100 TB shape: the sketch is one
    * mergeable pass over the stream (fixed size, no per-key state);
    * candidates are then estimated against the sketch literal without
    * touching the data again. Driver-hashable served form (the F8/F9
    * recipe): exact top-10 counts plus two law booleans —
    * `no_underestimate` (CMS can NEVER undercount — a hard law) and
    * `overestimate_bounded`; the oracle asserts both as literal TRUE.
    * The overestimate bound is depth * eps * N, NOT the textbook
    * eps * N: the tight bound only holds with the sketch's 0.99
    * confidence, so a new scale factor or data refresh could
    * legitimately breach it and fail the gate with no implementation
    * bug. Widening by the depth (the estimate is the MIN over depth
    * counters, each individually Markov-bounded) makes a breach
    * practically impossible for fixed data+seed while still
    * asserting the sketch answers near the truth. */
  def heavyHittersSketch(spark: SparkSession, dir: String): DataFrame = {
    // stream length + depth for the eps bound come from the sketch
    // itself — no extra Spark job at plan time
    val sketch = org.apache.spark.util.sketch.CountMinSketch
      .readFrom(cmsBytes(spark, dir))
    val bound = math.ceil(sketch.depth() * CmsEps * sketch.totalCount()).toLong
    heavyHittersRaw(spark, dir)
      .select(col("user_id"), col("n_events"),
        (col("cms_estimate") >= col("n_events")).as("no_underestimate"),
        (col("cms_estimate") <= col("n_events") + bound).as("overestimate_bounded"))
  }

  def heavyHittersSketchSql: String =
    """SELECT user_id, COUNT(*) AS n_events,
      |  TRUE AS no_underestimate,
      |  TRUE AS overestimate_bounded
      |FROM events GROUP BY user_id
      |ORDER BY n_events DESC, user_id LIMIT 10""".stripMargin

  /** F5 `audit_value_quantiles` — exact discrete percentiles of the
    * metric value per service (p50/p90/p99 latencies in the reference's
    * metrics semantics). percentile_disc picks an actual data point
    * (smallest value with cume_dist >= p) — exact and engine-portable,
    * unlike interpolated or approximate quantiles. Scale note: exact
    * percentiles need a per-group sort; for 100 TB dashboards swap in
    * approx_percentile (t-digest) — kept exact here because the
    * correctness gate hashes results. */
  def valueQuantiles(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(serviceCol.as("service"))
      .agg(
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").as("p50"),
        expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY value)").as("p90"),
        expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY value)").as("p99"),
        count(lit(1)).as("n"))

  def valueQuantilesSql: String =
    """SELECT CASE WHEN event_type IN ('signup','click','view') THEN 'ingest'
      |            WHEN event_type = 'purchase' THEN 'persist'
      |            ELSE 'dlq' END AS service,
      |  quantile_disc(value, 0.5) AS p50,
      |  quantile_disc(value, 0.9) AS p90,
      |  quantile_disc(value, 0.99) AS p99,
      |  COUNT(*) AS n
      |FROM events GROUP BY 1""".stripMargin

  /** F8 raw sketch output — approx_percentile (Greenwald-Khanna) per
    * service. Exact percentiles need a full per-group sort; the
    * sketch is one mergeable pass with bounded memory, which is what
    * a dashboard over 100 TB of metrics actually runs. The raw
    * estimates are engine-specific (no DuckDB oracle), so the SERVED
    * query is [[valueQuantilesSketch]] below; PipelineSpec bounds the
    * raw value error against F5. Accuracy 10000 -> rank eps 1/10000. */
  def valueQuantilesSketchRaw(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(serviceCol.as("service"))
      .agg(
        expr("approx_percentile(value, array(0.5, 0.9, 0.99), 10000)").as("q"),
        count(lit(1)).as("n"))
      .select(col("service"),
        element_at(col("q"), 1).as("p50"),
        element_at(col("q"), 2).as("p90"),
        element_at(col("q"), 3).as("p99"),
        col("n"))

  /** F8 `audit_value_quantiles_sketch` — driver-checkable form: the
    * exact percentiles (hash-compared against DuckDB quantile_disc)
    * plus one BOOLEAN per percentile asserting the GK sketch estimate
    * landed inside the exact [p-0.01, p+0.01] rank band. The booleans
    * are deterministic (GK on fixed input is deterministic) and the
    * oracle asserts them as literal TRUE — a sketch drifting out of
    * its error bound becomes a hash mismatch instead of a `no_oracle`
    * hole. Band 0.01 is generous vs the configured eps 1e-4. */
  def valueQuantilesSketch(spark: SparkSession, dir: String): DataFrame = {
    def pd(p: Double) = expr(s"percentile_disc($p) WITHIN GROUP (ORDER BY value)")
    Tables.events(spark, dir)
      .groupBy(serviceCol.as("service"))
      .agg(
        pd(0.5).as("p50"), pd(0.9).as("p90"), pd(0.99).as("p99"),
        pd(0.49).as("p50_lo"), pd(0.51).as("p50_hi"),
        pd(0.89).as("p90_lo"), pd(0.91).as("p90_hi"),
        pd(0.98).as("p99_lo"), pd(1.0).as("p99_hi"),
        expr("approx_percentile(value, array(0.5, 0.9, 0.99), 10000)").as("q"),
        count(lit(1)).as("n"))
      .select(col("service"), col("p50"), col("p90"), col("p99"), col("n"),
        element_at(col("q"), 1).between(col("p50_lo"), col("p50_hi")).as("sketch_p50_in_band"),
        element_at(col("q"), 2).between(col("p90_lo"), col("p90_hi")).as("sketch_p90_in_band"),
        element_at(col("q"), 3).between(col("p99_lo"), col("p99_hi")).as("sketch_p99_in_band"))
  }

  def valueQuantilesSketchSql: String =
    """SELECT CASE WHEN event_type IN ('signup','click','view') THEN 'ingest'
      |            WHEN event_type = 'purchase' THEN 'persist'
      |            ELSE 'dlq' END AS service,
      |  quantile_disc(value, 0.5) AS p50,
      |  quantile_disc(value, 0.9) AS p90,
      |  quantile_disc(value, 0.99) AS p99,
      |  COUNT(*) AS n,
      |  TRUE AS sketch_p50_in_band,
      |  TRUE AS sketch_p90_in_band,
      |  TRUE AS sketch_p99_in_band
      |FROM events GROUP BY 1""".stripMargin

  /** Deterministic per-event duration: the testdata carries no
    * latency column, so the `metricMs` timing value is synthesized
    * from the event identity (two coprime multipliers mod 5 s) —
    * stable across engines and scale factors, which is what lets the
    * quantiles hash-match an oracle. Kept DOUBLE on both sides so
    * percentile_disc returns the same type either engine. */
  private val durationMs =
    pmod(col("event_id") * 7919L + col("user_id") * 104729L, lit(5000L))
      .cast("double")

  private def durationMsSql: String =
    "CAST((event_id * 7919 + user_id * 104729) % 5000 AS DOUBLE)"

  /** F11 `audit_latency_quantiles` — the timing half of the
    * reference's observability surface (libs/obs/metrics.ts:19-26,
    * `metricMs` with a Milliseconds unit, emitted per service):
    * per-service latency p50/p95/p99. Same two-tier discipline as
    * F5/F8: the exact discrete percentiles are the hash-compared
    * answer, and the GK-sketch estimate (the mergeable one-pass form
    * a 100 TB dashboard actually serves) is asserted inside the exact
    * [p-0.01, p+0.01] rank band as a boolean the oracle pins TRUE.
    * One shuffle on the tiny service key. */
  def latencyQuantiles(spark: SparkSession, dir: String): DataFrame = {
    def pd(p: Double) = expr(s"percentile_disc($p) WITHIN GROUP (ORDER BY duration_ms)")
    Tables.events(spark, dir)
      .withColumn("duration_ms", durationMs)
      .groupBy(serviceCol.as("service"))
      .agg(
        pd(0.5).as("p50_ms"), pd(0.95).as("p95_ms"), pd(0.99).as("p99_ms"),
        pd(0.49).as("p50_lo"), pd(0.51).as("p50_hi"),
        pd(0.94).as("p95_lo"), pd(0.96).as("p95_hi"),
        pd(0.98).as("p99_lo"), pd(1.0).as("p99_hi"),
        expr("approx_percentile(duration_ms, array(0.5, 0.95, 0.99), 10000)").as("q"),
        count(lit(1)).as("n"))
      .select(col("service"), col("p50_ms"), col("p95_ms"), col("p99_ms"), col("n"),
        element_at(col("q"), 1).between(col("p50_lo"), col("p50_hi")).as("sketch_p50_in_band"),
        element_at(col("q"), 2).between(col("p95_lo"), col("p95_hi")).as("sketch_p95_in_band"),
        element_at(col("q"), 3).between(col("p99_lo"), col("p99_hi")).as("sketch_p99_in_band"))
  }

  def latencyQuantilesSql: String =
    s"""SELECT CASE WHEN event_type IN ('signup','click','view') THEN 'ingest'
      |            WHEN event_type = 'purchase' THEN 'persist'
      |            ELSE 'dlq' END AS service,
      |  quantile_disc($durationMsSql, 0.5) AS p50_ms,
      |  quantile_disc($durationMsSql, 0.95) AS p95_ms,
      |  quantile_disc($durationMsSql, 0.99) AS p99_ms,
      |  COUNT(*) AS n,
      |  TRUE AS sketch_p50_in_band,
      |  TRUE AS sketch_p95_in_band,
      |  TRUE AS sketch_p99_in_band
      |FROM events GROUP BY 1""".stripMargin

  /** F16 `audit_exp_histogram` — per-service latency quantiles served
    * from a MERGEABLE exponential histogram (an OpenTelemetry
    * scale-0 exponential histogram / coarse DDSketch): bucket k holds
    * durations in [2^(k-1), 2^k), computed as the BIT LENGTH of the
    * integer millisecond value (`length(bin(ms))`) — pure integer
    * arithmetic that replays bit-identically in DuckDB, where a
    * log-gamma mapping would hash-drift at bucket boundaries. The
    * histogram is the mergeable store (counts add across days/shards/
    * tenants, F15's discipline applied to latency); the served
    * quantile estimate is the lower bound of the bucket where the
    * cumulative count crosses ceil(p·n), with integer rank arithmetic
    * ((n·95+99) div 100) on both engines. Relative error is bounded
    * by the bucket base (2x worst case at scale 0 — a production
    * deployment raises the scale; the mechanics are identical), and
    * F11's exact/GK pair stays the precision tier beside it.
    * Scale: one shuffle on (service, bucket), then a service-keyed
    * window over ≤14 bucket rows — sketch-sized state, never row
    * state; the raw durations are never shuffled. */
  def expHistogram(spark: SparkSession, dir: String): DataFrame = {
    // the SAME synthetic duration F11 quantiles (shared val — the
    // bracket-law spec compares the two operators)
    val dur = durationMs.cast("long")
    val bucket = when(dur === 0, lit(0))
      .otherwise(length(bin(dur))).cast("int")
    val hist = Tables.events(spark, dir)
      .groupBy(serviceCol.as("service"), bucket.as("bucket"))
      .agg(count(lit(1)).as("n_bucket"))
    val wCum = Window.partitionBy(col("service")).orderBy(col("bucket"))
    val wAll = Window.partitionBy(col("service"))
    def rank(pct: Int) = expr(s"(total * $pct + 99) div 100") // integer ceil(p*n)
    def estAt(pct: Int) = min(when(col("cum") >= rank(pct),
      when(col("bucket") === 0, 0L)
        .otherwise(expr("shiftleft(1L, bucket - 1)"))))
    hist
      .withColumn("cum", sum(col("n_bucket")).over(wCum))
      .withColumn("total", sum(col("n_bucket")).over(wAll))
      .groupBy(col("service"))
      .agg(max(col("total")).as("n"),
        count(lit(1)).as("n_buckets"),
        estAt(50).as("p50_est"), estAt(95).as("p95_est"),
        estAt(99).as("p99_est"))
  }

  def expHistogramSql: String =
    s"""WITH d AS (
       |  SELECT CASE WHEN event_type IN ('signup','click','view') THEN 'ingest'
       |              WHEN event_type = 'purchase' THEN 'persist'
       |              ELSE 'dlq' END AS service,
       |    CAST((event_id * 7919 + user_id * 104729) % 5000 AS BIGINT) AS dur
       |  FROM events
       |), h AS (
       |  SELECT service,
       |    CASE WHEN dur = 0 THEN 0 ELSE length(bin(dur)) END AS bucket,
       |    COUNT(*) AS n_bucket
       |  FROM d GROUP BY 1, 2
       |), c AS (
       |  SELECT service, bucket, n_bucket,
       |    SUM(n_bucket) OVER (PARTITION BY service ORDER BY bucket) AS cum,
       |    SUM(n_bucket) OVER (PARTITION BY service) AS total
       |  FROM h
       |)
       |SELECT service, CAST(MAX(total) AS BIGINT) AS n,
       |  COUNT(*) AS n_buckets,
       |  CAST(MIN(CASE WHEN cum >= (total * 50 + 99) // 100 THEN
       |    CASE WHEN bucket = 0 THEN 0 ELSE 1 << (bucket - 1) END END) AS BIGINT)
       |    AS p50_est,
       |  CAST(MIN(CASE WHEN cum >= (total * 95 + 99) // 100 THEN
       |    CASE WHEN bucket = 0 THEN 0 ELSE 1 << (bucket - 1) END END) AS BIGINT)
       |    AS p95_est,
       |  CAST(MIN(CASE WHEN cum >= (total * 99 + 99) // 100 THEN
       |    CASE WHEN bucket = 0 THEN 0 ELSE 1 << (bucket - 1) END END) AS BIGINT)
       |    AS p99_est
       |FROM c GROUP BY service""".stripMargin

  /** F9 raw sketch output — HyperLogLog++ distinct users per service
    * next to the exact count. Exact distinct shuffles every key; the
    * sketch is constant-size and mergeable — the scale path for
    * cardinality dashboards. rsd 1%. Raw estimate is engine-specific;
    * the served query is [[distinctUsersSketch]]. */
  def distinctUsersSketchRaw(spark: SparkSession, dir: String): DataFrame =
    // dedup (service, user) pairs FIRST, then sketch the deduped keys:
    // Spark's distinct-agg planning otherwise keeps a partial HLL++
    // buffer (~13 KB at rsd 1%) per (service, user) group through the
    // first aggregate — thousands of sketches shuffled where three
    // suffice. HLL registers are duplicate-insensitive (register =
    // max over hashes), so the estimate over the DISTINCT pairs is
    // identical to the estimate over the raw stream, and the exact
    // count is the count of the deduped non-null keys. Measured 4.6 s
    // -> sub-second at sf0.1/local[32] (r15).
    Tables.events(spark, dir)
      .select(serviceCol.as("service"), col("user_id")).distinct()
      .groupBy(col("service"))
      .agg(
        approx_count_distinct(col("user_id"), 0.01).as("approx_users"),
        count(col("user_id")).as("exact_users"))

  /** F9 `audit_distinct_users_sketch` — driver-checkable form: the
    * exact distinct count (hash-compared) plus a BOOLEAN asserting
    * the HLL++ estimate lands within 5% of exact (same bound the
    * spec enforces numerically). Deterministic, so the oracle can
    * assert literal TRUE. */
  def distinctUsersSketch(spark: SparkSession, dir: String): DataFrame =
    distinctUsersSketchRaw(spark, dir)
      .select(col("service"), col("exact_users"),
        (abs(col("approx_users") - col("exact_users")) <=
          greatest(lit(1L), (col("exact_users") * 0.05).cast("long")))
          .as("hll_within_5pct"))

  def distinctUsersSketchSql: String =
    """SELECT CASE WHEN event_type IN ('signup','click','view') THEN 'ingest'
      |            WHEN event_type = 'purchase' THEN 'persist'
      |            ELSE 'dlq' END AS service,
      |  COUNT(DISTINCT user_id) AS exact_users,
      |  TRUE AS hll_within_5pct
      |FROM events GROUP BY 1""".stripMargin

  /** F15 raw — the mergeable sketch STORE (Druid/Pinot rollup
    * pattern): one Datasketches HLL sketch per (tenant, date)
    * partition, then per-tenant cardinality by UNIONING the stored
    * sketches — the raw rows are never re-read at query time. This is
    * the piece F9 doesn't model: F9's approx_count_distinct is a
    * one-shot scalar; here the sketch is a stored COLUMN that
    * re-aggregates along the partition hierarchy (day -> tenant ->
    * fleet), which is what makes 100 TB cardinality dashboards
    * O(partitions), not O(events). HLL union is register-wise max —
    * commutative and order-insensitive — so the merged estimate is
    * deterministic for a given dataset. */
  def hllSketchStoreRaw(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val perPart = ev
      .groupBy(Obs.tenant.as("tenant_id"), Obs.ingestDate.as("audit_date"))
      .agg(hll_sketch_agg(col("user_id")).as("sketch"))
    val merged = perPart.groupBy(col("tenant_id"))
      .agg(count(lit(1)).as("n_partitions"),
        hll_sketch_estimate(hll_union_agg(col("sketch"))).as("approx_users"))
    val exact = ev.groupBy(Obs.tenant.as("tenant_id"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    merged.join(exact, Seq("tenant_id"))
  }

  /** F15 `audit_hll_sketch_store` — driver-checkable form (F9
    * discipline): exact per-tenant distinct count + partition count
    * (both hash-compared) and a BOOLEAN asserting the merged-sketch
    * estimate lands within 5% of exact. */
  def hllSketchStore(spark: SparkSession, dir: String): DataFrame =
    hllSketchStoreRaw(spark, dir)
      .select(col("tenant_id"), col("n_partitions"), col("exact_users"),
        (abs(col("approx_users") - col("exact_users")) <=
          greatest(lit(1L), (col("exact_users") * 0.05).cast("long")))
          .as("hll_within_5pct"))

  def hllSketchStoreSql: String =
    """SELECT 't' || (user_id % 4) AS tenant_id,
      |  COUNT(DISTINCT strftime(ts, '%Y-%m-%d')) AS n_partitions,
      |  COUNT(DISTINCT user_id) AS exact_users,
      |  TRUE AS hll_within_5pct
      |FROM events GROUP BY 1""".stripMargin

  /** F14 `audit_error_spikes` — the ALARM half of observability (the
    * reference's CDK stack would hang a CloudWatch alarm off the F2
    * counters; this is that evaluation as a query): per (tenant, hour)
    * error rate vs the tenant's TRAILING 24-hour baseline, flagged
    * when the hour's rate more than doubles the baseline with at
    * least 3 errors.
    *
    * Exactness: the flag never touches a double — `rate > 2·baseline`
    * is cross-multiplied to `n_err·trail_total > 2·trail_err·n_total`,
    * all exact BIGINT window sums, so the boolean can't flake on
    * float noise (the reported rates are rounded doubles for humans).
    * The baseline is a ratio of trailing SUMS (not an average of
    * ratios): window-frame float summation order differs between
    * engines, integer sums don't.
    *
    * Scale: one shuffle to (tenant, date, hour), then a per-tenant
    * ordered window over the hourly rollup — the window input is
    * hours·tenants rows regardless of event volume, and partitioning
    * by tenant keeps the frame scan distributed. */
  def errorSpikes(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .groupBy(Obs.tenant.as("tenant_id"), Obs.ingestDate.as("audit_date"),
        hour(col("ts")).as("audit_hour"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_err"))
    val w = Window.partitionBy(col("tenant_id"))
      .orderBy(col("audit_date"), col("audit_hour"))
      .rowsBetween(-24, -1)
    hourly
      .withColumn("trail_total", sum(col("n_total")).over(w))
      .withColumn("trail_err", sum(col("n_err")).over(w))
      .select(col("tenant_id"), col("audit_date"), col("audit_hour"),
        col("n_total"), col("n_err"), col("trail_total"), col("trail_err"),
        round(col("n_err").cast("double") / col("n_total"), 6).as("err_rate"),
        round(col("trail_err").cast("double") / col("trail_total"), 6)
          .as("baseline_rate"),
        (col("trail_total").isNotNull &&
          col("n_err") * col("trail_total") > col("trail_err") * col("n_total") * 2 &&
          col("n_err") >= 3).as("is_spike"))
  }

  def errorSpikesSql: String =
    """WITH hourly AS (
      |  SELECT 't' || (user_id % 4) AS tenant_id,
      |    strftime(ts, '%Y-%m-%d') AS audit_date,
      |    CAST(hour(ts) AS INT) AS audit_hour,
      |    COUNT(*) AS n_total,
      |    CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_err
      |  FROM events GROUP BY 1, 2, 3
      |), trailed AS (
      |  SELECT *,
      |    CAST(SUM(n_total) OVER w AS BIGINT) AS trail_total,
      |    CAST(SUM(n_err) OVER w AS BIGINT) AS trail_err
      |  FROM hourly
      |  WINDOW w AS (PARTITION BY tenant_id ORDER BY audit_date, audit_hour
      |               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
      |)
      |SELECT tenant_id, audit_date, audit_hour, n_total, n_err,
      |  trail_total, trail_err,
      |  ROUND(CAST(n_err AS DOUBLE) / n_total, 6) AS err_rate,
      |  ROUND(CAST(trail_err AS DOUBLE) / trail_total, 6) AS baseline_rate,
      |  (trail_total IS NOT NULL
      |    AND n_err * trail_total > trail_err * n_total * 2
      |    AND n_err >= 3) AS is_spike
      |FROM trailed""".stripMargin

  /** F17's EWMA memory (hours) and integer lag weights 2^(Memory-k):
    * α = 1/2 truncated at [[EwmaMemory]] lags, numerator and
    * denominator carried SEPARATELY as integers. */
  private val EwmaMemory = 8
  private val EwmaMinHourEvents = 20L

  /** F17 `audit_ewma_alarm` — latency-regression alarm against an
    * EXPONENTIALLY-weighted baseline (the EWMA control chart /
    * CloudWatch anomaly-band shape, complementing F14's flat
    * trailing-window error-rate alarm): per (service, hour), flag
    * hours whose mean latency more than doubles the EWMA of the
    * previous [[EwmaMemory]] hours, with recent hours weighted
    * 2x over each step older (α = 1/2).
    *
    * Exactness discipline (same as F14 — the flag never touches a
    * double): the EWMA is kept as an integer numerator/denominator
    * pair — Σ dur_sum(h-k)·2^(M-k) over Σ n(h-k)·2^(M-k), all exact
    * BIGINT lag sums — and `hour_mean > 2·ewma_mean` is
    * cross-multiplied to `dur_sum·den > 2·num·n`. The dyadic weights
    * are why α = 1/2: every term is an integer, so no float ever
    * enters the comparison (the served _ms columns are rounded
    * doubles for humans). Headroom: dur_sum ≤ 5000·n, so at 100×
    * this SF the largest cross product stays ~2^55 — int64-safe.
    *
    * Scale: one shuffle to the (service, date, hour) rollup, then a
    * per-service ordered window over hours·services rows regardless
    * of event volume — the F14 shape, with lag() terms instead of a
    * frame sum so each hour carries its own decay. */
  def ewmaAlarm(spark: SparkSession, dir: String,
      memory: Int = EwmaMemory): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .withColumn("dur", durationMs.cast("long"))
      .groupBy(serviceCol.as("service"), Obs.ingestDate.as("audit_date"),
        hour(col("ts")).as("audit_hour"))
      .agg(count(lit(1)).as("n"), sum(col("dur")).as("dur_sum"))
    val w = Window.partitionBy(col("service"))
      .orderBy(col("audit_date"), col("audit_hour"))
    def decayed(c: String) = (1 to memory).map(k =>
      coalesce(lag(col(c), k).over(w), lit(0L)) *
        lit(1L << (memory - k))).reduce(_ + _)
    hourly
      .withColumn("ewma_num", decayed("dur_sum"))
      .withColumn("ewma_den", decayed("n"))
      .select(col("service"), col("audit_date"), col("audit_hour"),
        col("n"), col("dur_sum"), col("ewma_num"), col("ewma_den"),
        round(col("dur_sum").cast("double") / col("n"), 6).as("hour_mean_ms"),
        when(col("ewma_den") > 0,
          round(col("ewma_num").cast("double") / col("ewma_den"), 6))
          .as("ewma_ms"),
        // cross-multiply widened through DECIMAL(38,0): dur_sum·den
        // reaches ~1e24 at the 100 TB design point (1e13 ms-sum x
        // 255-weighted 1e9 counts) — a raw BIGINT product wraps
        // silently in non-ANSI Spark (the PageRank x85 / F24 class)
        (col("ewma_den") > 0 && col("n") >= EwmaMinHourEvents &&
          col("dur_sum").cast(DecimalType(38, 0)) *
            col("ewma_den").cast(DecimalType(38, 0)) >
          col("ewma_num").cast(DecimalType(38, 0)) *
            (col("n") * 2).cast(DecimalType(38, 0)))
          .as("is_regression"))
  }

  def ewmaAlarmSql(memory: Int = EwmaMemory): String = {
    def decayedSql(c: String) = (1 to memory).map(k =>
      s"COALESCE(LAG($c, $k) OVER w, 0) * ${1L << (memory - k)}")
      .mkString(" + ")
    s"""WITH hourly AS (
       |  SELECT CASE WHEN event_type IN ('signup','click','view') THEN 'ingest'
       |              WHEN event_type = 'purchase' THEN 'persist'
       |              ELSE 'dlq' END AS service,
       |    strftime(ts, '%Y-%m-%d') AS audit_date,
       |    CAST(hour(ts) AS INT) AS audit_hour,
       |    COUNT(*) AS n,
       |    CAST(SUM($durationMsSql) AS BIGINT) AS dur_sum
       |  FROM events GROUP BY 1, 2, 3
       |), trailed AS (
       |  SELECT *,
       |    CAST(${decayedSql("dur_sum")} AS BIGINT) AS ewma_num,
       |    CAST(${decayedSql("n")} AS BIGINT) AS ewma_den
       |  FROM hourly
       |  WINDOW w AS (PARTITION BY service ORDER BY audit_date, audit_hour)
       |)
       |SELECT service, audit_date, audit_hour, n, dur_sum, ewma_num, ewma_den,
       |  ROUND(CAST(dur_sum AS DOUBLE) / n, 6) AS hour_mean_ms,
       |  CASE WHEN ewma_den > 0
       |       THEN ROUND(CAST(ewma_num AS DOUBLE) / ewma_den, 6) END AS ewma_ms,
       |  (ewma_den > 0 AND n >= $EwmaMinHourEvents
       |    AND CAST(dur_sum AS DECIMAL(38,0)) * CAST(ewma_den AS DECIMAL(38,0))
       |      > CAST(ewma_num AS DECIMAL(38,0)) * CAST(n * 2 AS DECIMAL(38,0)))
       |    AS is_regression
       |FROM trailed""".stripMargin
  }

  /** F25 `audit_alert_hysteresis` — flap-suppressed alerting over
    * F17's EWMA series: the alarm ENTERS when the hour mean exceeds
    * 2× the trailing EWMA (F17's regression predicate, with its own
    * minN volume guard — F17's corpus-scale floor suppresses every
    * enter at small SF) and EXITS only when it falls back below the
    * baseline (1×) — the
    * two-threshold state machine every production alerting system
    * uses so a signal oscillating around one threshold doesn't page
    * on every crossing. Hours in the dead band (1×–2×, or too
    * quiet to judge) HOLD the previous state. The recurrence
    * alarm(t) = enter(t) ∨ (alarm(t−1) ∧ ¬exit(t)) is served
    * without an iterative loop: enter forces true, exit forces
    * false, dead-band rows are NULL, and a running
    * last_value(ignore nulls) carries the last forced state forward
    * — the gaps-and-islands form of a state machine, one window
    * pass. `alarm_start` (off→on edges) is the actual page signal.
    *
    * Exactness: both thresholds are cross-multiplied pure-integer
    * predicates widened through DECIMAL(38,0) (the F17/F24
    * discipline — no float ever decides an alert, and no BIGINT
    * product wraps at 100 TB magnitudes); 2× is `dur_sum·den >
    * num·n·2`, 1× is `dur_sum·den < num·n`. Scale: F17's hourly rollup + the
    * same service-keyed window, twice (state carry + edge detect) —
    * the second pass rides the first's exchange. */
  def alertHysteresis(spark: SparkSession, dir: String,
      memory: Int = EwmaMemory, minN: Long = 5L): DataFrame = {
    val t = ewmaAlarm(spark, dir, memory)
    // same DECIMAL(38,0) widening as F17: no BIGINT product may
    // decide an alert at 100 TB magnitudes
    val d38 = DecimalType(38, 0)
    val enter = col("ewma_den") > 0 && col("n") >= minN &&
      col("dur_sum").cast(d38) * col("ewma_den").cast(d38) >
        col("ewma_num").cast(d38) * (col("n") * 2).cast(d38)
    val exit = col("ewma_den") > 0 &&
      col("dur_sum").cast(d38) * col("ewma_den").cast(d38) <
        col("ewma_num").cast(d38) * col("n").cast(d38)
    val sig = when(enter, lit(true)).when(exit, lit(false))
    val wRun = Window.partitionBy(col("service"))
      .orderBy(col("audit_date"), col("audit_hour"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wLag = Window.partitionBy(col("service"))
      .orderBy(col("audit_date"), col("audit_hour"))
    t.withColumn("enter_hot", enter)
      .withColumn("exit_cold", exit)
      .withColumn("alarm",
        coalesce(last(sig, ignoreNulls = true).over(wRun), lit(false)))
      .withColumn("alarm_start",
        col("alarm") && !coalesce(lag(col("alarm"), 1).over(wLag), lit(false)))
      .select(col("service"), col("audit_date"), col("audit_hour"), col("n"),
        col("hour_mean_ms"), col("ewma_ms"), col("enter_hot"),
        col("exit_cold"), col("alarm"), col("alarm_start"))
  }

  def alertHysteresisSql(memory: Int = EwmaMemory, minN: Long = 5L): String =
    s"""WITH f AS (
       |${ewmaAlarmSql(memory)}
       |), sig AS (
       |  SELECT *,
       |    (ewma_den > 0 AND n >= $minN
       |      AND CAST(dur_sum AS DECIMAL(38,0)) * CAST(ewma_den AS DECIMAL(38,0))
       |        > CAST(ewma_num AS DECIMAL(38,0)) * CAST(n * 2 AS DECIMAL(38,0)))
       |      AS enter_hot,
       |    (ewma_den > 0
       |      AND CAST(dur_sum AS DECIMAL(38,0)) * CAST(ewma_den AS DECIMAL(38,0))
       |        < CAST(ewma_num AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0)))
       |      AS exit_cold
       |  FROM f
       |), st AS (
       |  SELECT *,
       |    COALESCE(LAST_VALUE(CASE WHEN enter_hot THEN true
       |                             WHEN exit_cold THEN false END IGNORE NULLS)
       |      OVER (PARTITION BY service ORDER BY audit_date, audit_hour
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
       |      false) AS alarm
       |  FROM sig
       |)
       |SELECT service, audit_date, audit_hour, n, hour_mean_ms, ewma_ms,
       |  enter_hot, exit_cold, alarm,
       |  (alarm AND NOT COALESCE(LAG(alarm, 1)
       |    OVER (PARTITION BY service ORDER BY audit_date, audit_hour),
       |    false)) AS alarm_start
       |FROM st""".stripMargin

  /** F26 `audit_incidents` — INCIDENT grouping over F25's
    * flap-suppressed alarm series: operators don't read alarm-hours,
    * they read incidents — maximal runs of alarm hours per service
    * where quiet gaps ≤ `mergeGap` hours merge into one incident (the
    * alert-fatigue consolidation every paging system applies above
    * its alert rules; PagerDuty/Opsgenie "grouping window"). Served
    * per incident: 1-based id (per service, in time order), start/end
    * (date, hour), the span in hours, the alarm-hour count inside,
    * and the page count (F25 `alarm_start` edges swallowed by the
    * group — n_pages > 1 is exactly the re-page noise the grouping
    * absorbs).
    *
    * Shape: gaps-and-islands over the alarm hours — absolute hour
    * index (exact integer: epoch-days×24+hour), island break when the
    * gap to the previous alarm hour exceeds mergeGap+1, incident id =
    * running sum of breaks. All integer arithmetic; no floats
    * anywhere. Scale: rides F25's service-keyed hourly rollup; the
    * island window and the final (service, incident) aggregate both
    * cluster on service, so nothing re-shuffles after F25's own
    * exchange. */
  def incidents(spark: SparkSession, dir: String,
                mergeGap: Int = 2, memory: Int = EwmaMemory,
                minN: Long = 5L): DataFrame = {
    val hy = alertHysteresis(spark, dir, memory, minN)
    val absHour = (datediff(to_date(col("audit_date")),
      lit("1970-01-01").cast("date")) * 24 + col("audit_hour"))
      .cast("long")
    val wSvc = Window.partitionBy(col("service")).orderBy(col("abs_hour"))
    val al = hy.filter(col("alarm"))
      .select(col("service"), col("audit_date"), col("audit_hour"),
        absHour.as("abs_hour"), col("alarm_start"))
      .withColumn("brk",
        when(lag(col("abs_hour"), 1).over(wSvc).isNull ||
          col("abs_hour") - lag(col("abs_hour"), 1).over(wSvc) >
            lit(mergeGap + 1), 1L).otherwise(0L))
      .withColumn("incident_id",
        sum(col("brk")).over(wSvc.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
    al.groupBy(col("service"), col("incident_id"))
      .agg(
        min(struct(col("abs_hour"), col("audit_date"), col("audit_hour")))
          .as("s"),
        max(struct(col("abs_hour"), col("audit_date"), col("audit_hour")))
          .as("e"),
        count(lit(1)).as("n_alarm_hours"),
        sum(when(col("alarm_start"), 1L).otherwise(0L)).as("n_pages"))
      .select(col("service"), col("incident_id"),
        col("s.audit_date").as("start_date"),
        col("s.audit_hour").as("start_hour"),
        col("e.audit_date").as("end_date"),
        col("e.audit_hour").as("end_hour"),
        (col("e.abs_hour") - col("s.abs_hour") + 1).as("span_hours"),
        col("n_alarm_hours"), col("n_pages"))
      .orderBy(col("service"), col("incident_id"))
  }

  def incidentsSql(mergeGap: Int = 2, memory: Int = EwmaMemory,
                   minN: Long = 5L): String =
    s"""WITH hy AS (
       |  SELECT * FROM (
       |${alertHysteresisSql(memory, minN)}
       |  ) WHERE alarm
       |), al AS (
       |  SELECT service, audit_date, audit_hour,
       |    date_diff('day', DATE '1970-01-01', CAST(audit_date AS DATE)) * 24
       |      + audit_hour AS abs_hour,
       |    alarm_start
       |  FROM hy
       |), isl AS (
       |  SELECT *,
       |    CASE WHEN LAG(abs_hour, 1) OVER w IS NULL
       |           OR abs_hour - LAG(abs_hour, 1) OVER w > ${mergeGap + 1}
       |         THEN 1 ELSE 0 END AS brk
       |  FROM al
       |  WINDOW w AS (PARTITION BY service ORDER BY abs_hour)
       |), inc AS (
       |  SELECT *, CAST(SUM(brk) OVER (PARTITION BY service ORDER BY abs_hour
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS incident_id
       |  FROM isl
       |)
       |SELECT service, incident_id,
       |  MIN({'a': abs_hour, 'd': audit_date, 'h': audit_hour}).d AS start_date,
       |  MIN({'a': abs_hour, 'd': audit_date, 'h': audit_hour}).h AS start_hour,
       |  MAX({'a': abs_hour, 'd': audit_date, 'h': audit_hour}).d AS end_date,
       |  MAX({'a': abs_hour, 'd': audit_date, 'h': audit_hour}).h AS end_hour,
       |  MAX(abs_hour) - MIN(abs_hour) + 1 AS span_hours,
       |  COUNT(*) AS n_alarm_hours,
       |  CAST(SUM(CASE WHEN alarm_start THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_pages
       |FROM inc GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** F18 `audit_slo_burn` — SLO error-budget BURN-RATE alerting
    * (Google SRE workbook's multiwindow multi-burn-rate alerts —
    * public): per (tenant, hour), the 1-hour and trailing-6-hour
    * burn rates of a 99%-success SLO, and the paired alert that
    * requires BOTH windows hot. Complements F14 (rate-vs-own-
    * baseline) and F17 (EWMA regression): this one alarms against a
    * FIXED contract, the form an SLO dashboard serves.
    *
    * Exactness (the F14/F17 discipline): burn > k·budget is
    * cross-multiplied to pure BIGINT — 1h: `n_err·1000 > 144·n`
    * (14.4x of 1%), 6h: `err6·100 > 6·n6` — so the alert booleans
    * never touch a float; the served burn-rate columns are rounded
    * doubles for humans. Scale: one shuffle to the hourly rollup,
    * then a per-tenant 6-row frame window over hours×tenants rows. */
  /** budgetPer10k: error budget in 1/10000ths of traffic — 100 = the
    * default 99% SLO, 10 = a 99.9% SLO. burn > 14.4·budget clears the
    * .4 as `err·50000 > n·72·budget`; burn6 > 6·budget as
    * `err6·5000 > n6·3·budget` — still pure BIGINT at any SF. */
  def sloBurn(spark: SparkSession, dir: String,
      budgetPer10k: Long = 100L): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .groupBy(Obs.tenant.as("tenant_id"), Obs.ingestDate.as("audit_date"),
        hour(col("ts")).as("audit_hour"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_err"))
    val w6 = Window.partitionBy(col("tenant_id"))
      .orderBy(col("audit_date"), col("audit_hour"))
      .rowsBetween(-5, 0)
    sloServe(hourly
      .withColumn("n6", sum(col("n")).over(w6))
      .withColumn("err6", sum(col("n_err")).over(w6)), budgetPer10k)
  }

  /** The burn-rate/alert projection over the counter columns — ONE
    * definition shared by the batch query and the streaming twin's
    * emissions (StreamOps.sloBurnCounters), so the float rounding and
    * the cross-multiplied alert booleans can never drift between the
    * two consumption modes. */
  private[graft] def sloServe(counters: DataFrame,
      budgetPer10k: Long): DataFrame =
    counters.select(col("tenant_id"), col("audit_date"), col("audit_hour"),
      col("n"), col("n_err"), col("n6"), col("err6"),
      round(col("n_err").cast("double") * 10000 /
        (col("n") * budgetPer10k), 4).as("burn_1h"),
      round(col("err6").cast("double") * 10000 /
        (col("n6") * budgetPer10k), 4).as("burn_6h"),
      (col("n_err") * 50000L > col("n") * (72L * budgetPer10k) &&
        col("err6") * 5000L > col("n6") * (3L * budgetPer10k))
        .as("slo_alert"))

  def sloBurnSql(budgetPer10k: Long = 100L): String =
    s"""WITH hourly AS (
      |  SELECT 't' || (user_id % 4) AS tenant_id,
      |    strftime(ts, '%Y-%m-%d') AS audit_date,
      |    CAST(hour(ts) AS INT) AS audit_hour,
      |    COUNT(*) AS n,
      |    CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_err
      |  FROM events GROUP BY 1, 2, 3
      |), trailed AS (
      |  SELECT *,
      |    CAST(SUM(n) OVER w AS BIGINT) AS n6,
      |    CAST(SUM(n_err) OVER w AS BIGINT) AS err6
      |  FROM hourly
      |  WINDOW w AS (PARTITION BY tenant_id ORDER BY audit_date, audit_hour
      |               ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
      |)
      |SELECT tenant_id, audit_date, audit_hour, n, n_err, n6, err6,
      |  ROUND(CAST(n_err AS DOUBLE) * 10000 / (n * $budgetPer10k), 4)
      |    AS burn_1h,
      |  ROUND(CAST(err6 AS DOUBLE) * 10000 / (n6 * $budgetPer10k), 4)
      |    AS burn_6h,
      |  (n_err * 50000 > n * ${72L * budgetPer10k}
      |    AND err6 * 5000 > n6 * ${3L * budgetPer10k}) AS slo_alert
      |FROM trailed""".stripMargin

  // ===== F19 audit_constraint_check =====

  /** F19 `audit_constraint_check` — declarative data-quality
    * constraint suite (the Deequ/Great-Expectations shape): a fixed
    * set of completeness / uniqueness / range / referential-integrity
    * checks evaluated in bulk, served as one row per constraint with
    * its measured metric, threshold, and pass verdict — the
    * "verification report" a pipeline runs before publishing a
    * dataset. Metrics are exact ratios of BIGINT counts (cross-engine
    * deterministic division); `passed` is metric ≥ threshold.
    *
    * Scale: ONE aggregate pass per profiled table computes every
    * per-table metric map-side (counts and conditional counts fold
    * into partial aggs; the uniqueness check rides the same pass as
    * approx-free countDistinct over the key); the referential check
    * is a LEFT SEMI equi-join on the key — co-partitioned shuffle,
    * never broadcast of the parent at 100 TB; the three 1-row
    * metric tables then cross-attach (broadcast scalar class) and
    * explode into the report rows. No full-table state leaves the
    * executors — only 1-row aggregates. */
  def constraintCheck(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).agg(
      count(lit(1)).as("o_n"),
      count(col("o_custkey")).as("o_nck"),
      countDistinct(col("o_orderkey")).as("o_nok"),
      sum(when(col("o_totalprice") > 0, 1L).otherwise(0L)).as("o_npos"),
      sum(when(col("o_orderdate") >= lit("1996-01-01").cast("timestamp"), 1L)
        .otherwise(0L)).as("o_nfresh"))
    val l = Tables.lineitem(spark, dir).agg(
      count(lit(1)).as("l_n"),
      sum(when(col("l_discount").between(0.0, 0.1), 1L).otherwise(0L))
        .as("l_ndisc"),
      sum(when(col("l_quantity").between(1.0, 50.0), 1L).otherwise(0L))
        .as("l_nqty"))
    val ri = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir),
        col("l_orderkey") === col("o_orderkey"), "left_semi")
      .agg(count(lit(1)).as("ri_n"))
    def c(id: String, num: Column, den: Column, threshold: Double = 1.0) =
      struct(lit(id).as("constraint_id"),
        (num.cast("double") / den).as("metric"),
        lit(threshold).as("threshold"))
    o.crossJoin(broadcast(l)).crossJoin(broadcast(ri))
      .select(explode(array(
        c("orders_custkey_complete", col("o_nck"), col("o_n")),
        c("orders_orderkey_unique", col("o_nok"), col("o_n")),
        c("orders_totalprice_positive", col("o_npos"), col("o_n")),
        // deliberately failing freshness bar: most of the archive is
        // older than the window, so the report exercises passed=false
        c("orders_orderdate_fresh", col("o_nfresh"), col("o_n"), 0.9),
        c("lineitem_discount_in_range", col("l_ndisc"), col("l_n")),
        c("lineitem_quantity_in_range", col("l_nqty"), col("l_n")),
        c("lineitem_orderkey_ref_integrity", col("ri_n"), col("l_n")),
        struct(lit("lineitem_nonempty").as("constraint_id"),
          col("l_n").cast("double").as("metric"), lit(1.0).as("threshold"))
      )).as("r"))
      .select(col("r.constraint_id"), col("r.metric"), col("r.threshold"),
        (col("r.metric") >= col("r.threshold")).as("passed"))
  }

  def constraintCheckSql: String =
    """WITH o AS (
      |  SELECT COUNT(*) AS n, COUNT(o_custkey) AS nck,
      |    COUNT(DISTINCT o_orderkey) AS nok,
      |    CAST(SUM(CASE WHEN o_totalprice > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS npos,
      |    CAST(SUM(CASE WHEN o_orderdate >= TIMESTAMP '1996-01-01'
      |      THEN 1 ELSE 0 END) AS BIGINT) AS nfresh
      |  FROM orders
      |), l AS (
      |  SELECT COUNT(*) AS n,
      |    CAST(SUM(CASE WHEN l_discount BETWEEN 0.0 AND 0.1 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS ndisc,
      |    CAST(SUM(CASE WHEN l_quantity BETWEEN 1.0 AND 50.0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS nqty
      |  FROM lineitem
      |), ri AS (
      |  SELECT COUNT(*) AS n FROM lineitem
      |  WHERE l_orderkey IN (SELECT o_orderkey FROM orders)
      |), rep AS (
      |  SELECT 'orders_custkey_complete' AS constraint_id,
      |    CAST(nck AS DOUBLE) / n AS metric,
      |    CAST(1.0 AS DOUBLE) AS threshold FROM o
      |  UNION ALL SELECT 'orders_orderkey_unique',
      |    CAST(nok AS DOUBLE) / n, CAST(1.0 AS DOUBLE) FROM o
      |  UNION ALL SELECT 'orders_totalprice_positive',
      |    CAST(npos AS DOUBLE) / n, CAST(1.0 AS DOUBLE) FROM o
      |  UNION ALL SELECT 'orders_orderdate_fresh',
      |    CAST(nfresh AS DOUBLE) / n, CAST(0.9 AS DOUBLE) FROM o
      |  UNION ALL SELECT 'lineitem_discount_in_range',
      |    CAST(ndisc AS DOUBLE) / n, CAST(1.0 AS DOUBLE) FROM l
      |  UNION ALL SELECT 'lineitem_quantity_in_range',
      |    CAST(nqty AS DOUBLE) / n, CAST(1.0 AS DOUBLE) FROM l
      |  UNION ALL SELECT 'lineitem_orderkey_ref_integrity',
      |    CAST(ri.n AS DOUBLE) / l.n, CAST(1.0 AS DOUBLE) FROM ri, l
      |  UNION ALL SELECT 'lineitem_nonempty', CAST(n AS DOUBLE),
      |    CAST(1.0 AS DOUBLE) FROM l
      |)
      |SELECT constraint_id, metric, threshold,
      |  metric >= threshold AS passed
      |FROM rep""".stripMargin

  // ===== F20 audit_psi_drift =====

  /** F20 `audit_psi_drift` — Population-Stability-Index drift monitor
    * (the standard ML-ops distribution-shift check): per event type,
    * the `value` distribution of the CURRENT period is compared
    * against the REFERENCE period via PSI = Σ_b (p_c − p_r)·ln(p_c/
    * p_r) over reference-decile bins. Bin edges are the reference
    * period's per-type `bins`-quantiles (percentile_disc — the same
    * discrete-quantile equivalence K29 relies on), broadcast as a
    * types-row table; every event classifies itself by comparison
    * (bucket = 1 + Σ value > edge_k, the K29 trick — map-side, no
    * sort). Laplace smoothing (+1 per bucket, +bins per total) keeps
    * both probabilities nonzero so ln is total. Cross-engine
    * determinism: counts are exact BIGINTs, probabilities exact
    * double divisions, and each PSI term is rounded to 6 dp and
    * summed as DECIMAL(18,9) — the I6 entropy recipe, order-
    * insensitive. PSI ≥ 0 always (each term is (x−y)·ln(x/y) ≥ 0);
    * bands at the conventional 0.1 / 0.25 cutoffs.
    *
    * Scale: one events pass for the edges (reference rows only, tiny
    * grouped agg), one events pass for the bucket counts (partial-
    * agg'd to types×bins rows), then windows/rollups over those
    * types×bins rows only. Nothing wider than the bin table ever
    * shuffles. */
  def psiDrift(spark: SparkSession, dir: String,
               splitDate: String = "2024-01-16", bins: Int = 10): DataFrame = {
    val ev = Tables.events(spark, dir)
      .withColumn("is_ref", col("ts") < lit(splitDate).cast("timestamp"))
    val edges = (1 until bins).map { k =>
      expr(s"percentile_disc(${k.toDouble / bins}) WITHIN GROUP (ORDER BY value)")
        .as(s"d$k")
    }
    val th = ev.filter(col("is_ref"))
      .groupBy(col("event_type").as("th_type"))
      .agg(edges.head, edges.tail: _*)
    val bucket = (1 until bins).foldLeft(lit(1)) { (acc, k) =>
      acc + (col("value") > col(s"d$k")).cast("int")
    }
    val wt = Window.partitionBy(col("event_type"))
    ev.join(broadcast(th), col("event_type") === col("th_type"))
      .groupBy(col("event_type"), bucket.as("bucket"))
      .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("ref_c"),
        sum(when(!col("is_ref"), 1L).otherwise(0L)).as("cur_c"))
      .withColumn("n_ref", sum(col("ref_c")).over(wt))
      .withColumn("n_cur", sum(col("cur_c")).over(wt))
      .withColumn("pr",
        (col("ref_c") + 1).cast("double") / (col("n_ref") + bins))
      .withColumn("pc",
        (col("cur_c") + 1).cast("double") / (col("n_cur") + bins))
      .withColumn("term",
        round((col("pc") - col("pr")) * log(col("pc") / col("pr")), 6)
          .cast(DecimalType(18, 9)))
      .groupBy(col("event_type"))
      .agg(max(col("n_ref")).as("n_ref"), max(col("n_cur")).as("n_cur"),
        sum(col("term")).cast("double").as("psi"))
      .withColumn("drift_band",
        when(col("psi") < 0.1, "stable")
          .when(col("psi") < 0.25, "moderate").otherwise("shifted"))
  }

  def psiDriftSql(splitDate: String = "2024-01-16", bins: Int = 10): String = {
    val edgeDefs = (1 until bins).map(k =>
      s"quantile_disc(value, ${k.toDouble / bins}) AS d$k").mkString(", ")
    val bucketExpr = (1 until bins)
      .map(k => s"CAST(value > d$k AS INT)").mkString("1 + ", " + ", "")
    s"""WITH ev AS (
       |  SELECT event_type, value,
       |    ts < TIMESTAMP '$splitDate' AS is_ref
       |  FROM events
       |), th AS (
       |  SELECT event_type AS th_type, $edgeDefs
       |  FROM ev WHERE is_ref GROUP BY 1
       |), counts AS (
       |  SELECT event_type, $bucketExpr AS bucket,
       |    CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS ref_c,
       |    CAST(SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT) AS cur_c
       |  FROM ev JOIN th ON event_type = th_type
       |  GROUP BY 1, 2
       |), tot AS (
       |  SELECT *,
       |    CAST(SUM(ref_c) OVER (PARTITION BY event_type) AS BIGINT) AS n_ref,
       |    CAST(SUM(cur_c) OVER (PARTITION BY event_type) AS BIGINT) AS n_cur
       |  FROM counts
       |), terms AS (
       |  SELECT event_type, n_ref, n_cur,
       |    CAST(ROUND((pc - pr) * ln(pc / pr), 6) AS DECIMAL(18,9)) AS term
       |  FROM (
       |    SELECT *,
       |      CAST(ref_c + 1 AS DOUBLE) / (n_ref + $bins) AS pr,
       |      CAST(cur_c + 1 AS DOUBLE) / (n_cur + $bins) AS pc
       |    FROM tot
       |  )
       |), agg AS (
       |  SELECT event_type, MAX(n_ref) AS n_ref, MAX(n_cur) AS n_cur,
       |    CAST(SUM(term) AS DOUBLE) AS psi
       |  FROM terms GROUP BY 1
       |)
       |SELECT event_type, n_ref, n_cur, psi,
       |  CASE WHEN psi < 0.1 THEN 'stable'
       |       WHEN psi < 0.25 THEN 'moderate' ELSE 'shifted' END AS drift_band
       |FROM agg""".stripMargin
  }

  /** F21 `audit_mad_outliers` — robust anomaly detection on hourly
    * service volume via Median-Absolute-Deviation (the
    * median/MAD robust-z detector — outliers can't drag the baseline
    * the way they drag F14-style means): per service, an hour is an
    * outlier when |n − median| > 3·MAD, where MAD = median of the
    * absolute deviations. With integer event counts BOTH statistics
    * are integers (percentile_disc picks real data points), so the
    * entire decision is exact integer arithmetic — the F14/F17
    * discipline, no float ever enters. Degenerate MAD = 0 (over half
    * the hours identical) flags every deviating hour, the documented
    * behavior of the estimator. Scale: one (service, hour) rollup of
    * the raw stream, then two tiny grouped percentile aggs over
    * hours×services rows broadcast back — nothing wider than the
    * hourly table shuffles twice. */
  def madOutliers(spark: SparkSession, dir: String,
                  k: Int = 3): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .groupBy(serviceCol.as("service"),
        date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n"))
    // both medians computed from ONE sorted per-service count array
    // carried by a service-partition window (hours-per-service is the
    // retention window — sketch-sized metadata, ~10⁴ rows/service at
    // years of history), so the raw stream is scanned ONCE and the
    // whole operator is two shuffles: the hourly rollup and the
    // service window. percentile_disc(0.5) = element ceil(n/2) of the
    // sorted array — the same discrete pick as DuckDB's quantile_disc,
    // exact integers throughout (MAD needs a second, dependent median,
    // which is why this is an array pick and not two grouped
    // percentile aggs re-scanning the input).
    val wSvc = Window.partitionBy(col("service"))
    hourly
      .withColumn("ns", sort_array(collect_list(col("n")).over(wSvc)))
      .withColumn("med",
        expr("element_at(ns, cast((size(ns) + 1) / 2 AS INT))"))
      .withColumn("mad", expr(
        "element_at(array_sort(transform(ns, x -> abs(x - med))), " +
          "cast((size(ns) + 1) / 2 AS INT))"))
      .select(col("service"), col("hour"), col("n"), col("med"), col("mad"),
        (abs(col("n") - col("med")) > lit(k) * col("mad")).as("is_outlier"))
  }

  def madOutliersSql(k: Int = 3): String =
    s"""WITH hourly AS (
       |  SELECT CASE WHEN event_type IN ('signup','click','view') THEN 'ingest'
       |              WHEN event_type = 'purchase' THEN 'persist'
       |              ELSE 'dlq' END AS service,
       |    CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
       |    COUNT(*) AS n
       |  FROM events GROUP BY 1, 2
       |), med AS (
       |  SELECT service AS m_service, quantile_disc(n, 0.5) AS med
       |  FROM hourly GROUP BY 1
       |), dev AS (
       |  SELECT hourly.*, med, abs(n - med) AS abs_dev
       |  FROM hourly JOIN med ON service = m_service
       |), mad AS (
       |  SELECT service AS d_service, quantile_disc(abs_dev, 0.5) AS mad
       |  FROM dev GROUP BY 1
       |)
       |SELECT service, hour, n, med, mad,
       |  abs_dev > $k * mad AS is_outlier
       |FROM dev JOIN mad ON service = d_service""".stripMargin

  // ===== F24 audit_changepoint =====

  /** F24 `audit_changepoint` — offline changepoint LOCATOR per
    * service over the hourly volume series (single-split binary
    * segmentation with the CUSUM deviation statistic): for a series
    * x_1..x_T with prefix sums S_k, the level shift most likely sits
    * after the index k* that maximizes |S_k − (k/T)·S_T| — served
    * here as the T-scaled integer |T·S_k − k·S_T| so the whole
    * argmax is exact BIGINT arithmetic (counts are integers; at the
    * 100 TB design point T·S_k ≈ 10⁴·10¹³ still fits in DECIMAL, so
    * the multiply is widened through DECIMAL(38,0) — the PageRank ×85
    * discipline). Ties break to the earliest hour. Complements the
    * F14/F17/F21 alarms: those flag single anomalous POINTS; this
    * locates a persistent LEVEL SHIFT — the deploy-regression shape
    * (reference scope: libs/obs/metrics.ts counters are the series
    * source). Segment means are exact integer divisions served as
    * DOUBLE; the direction flag compares the cross-multiplied
    * integer means so no float enters the decision.
    * Scale: one hourly rollup of the raw stream (map-side partial
    * agg to services×hours rows), then windows over that bounded
    * metadata table only — nothing wider than the hourly series
    * shuffles. */
  def changepoint(spark: SparkSession, dir: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val hourly = Tables.events(spark, dir)
      .groupBy(serviceCol.as("service"),
        date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n"))
    val wOrd = Window.partitionBy(col("service")).orderBy(col("hour"))
    val wAll = Window.partitionBy(col("service"))
    val scored = hourly
      .withColumn("k", row_number().over(wOrd).cast("long"))
      .withColumn("s_k", sum(col("n")).over(wOrd))
      .withColumn("t_hours", count(lit(1)).over(wAll))
      .withColumn("s_t", sum(col("n")).over(wAll))
      // a split needs a non-empty right segment
      .filter(col("k") < col("t_hours"))
      .withColumn("stat",
        abs(col("t_hours").cast(dec) * col("s_k").cast(dec)
          - col("k").cast(dec) * col("s_t").cast(dec)))
    val wBest = Window.partitionBy(col("service"))
      .orderBy(col("stat").desc, col("hour"))
    scored.withColumn("rk", row_number().over(wBest))
      .filter(col("rk") === 1)
      .select(col("service"), col("hour").as("split_after"),
        col("k").as("n_hours_before"),
        (col("t_hours") - col("k")).as("n_hours_after"),
        (col("s_k").cast("double") / col("k")).as("mean_before"),
        ((col("s_t") - col("s_k")).cast("double")
          / (col("t_hours") - col("k"))).as("mean_after"),
        col("stat").cast("double").as("cusum_stat"),
        // exact: (s_t−s_k)·k vs s_k·(t−k) cross-multiplied in DECIMAL
        when((col("s_t") - col("s_k")).cast(dec) * col("k").cast(dec)
          > col("s_k").cast(dec) * (col("t_hours") - col("k")).cast(dec),
          "up").otherwise("down").as("direction"))
  }

  def changepointSql: String =
    """WITH hourly AS (
      |  SELECT CASE WHEN event_type IN ('signup','click','view') THEN 'ingest'
      |              WHEN event_type = 'purchase' THEN 'persist'
      |              ELSE 'dlq' END AS service,
      |    CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
      |    COUNT(*) AS n
      |  FROM events GROUP BY 1, 2
      |), pre AS (
      |  SELECT *,
      |    CAST(ROW_NUMBER() OVER w AS BIGINT) AS k,
      |    CAST(SUM(n) OVER w AS BIGINT) AS s_k,
      |    CAST(COUNT(*) OVER (PARTITION BY service) AS BIGINT) AS t_hours,
      |    CAST(SUM(n) OVER (PARTITION BY service) AS BIGINT) AS s_t
      |  FROM hourly
      |  WINDOW w AS (PARTITION BY service ORDER BY hour
      |               ROWS UNBOUNDED PRECEDING)
      |), scored AS (
      |  SELECT *,
      |    abs(CAST(t_hours AS DECIMAL(38,0)) * CAST(s_k AS DECIMAL(38,0))
      |      - CAST(k AS DECIMAL(38,0)) * CAST(s_t AS DECIMAL(38,0))) AS stat
      |  FROM pre WHERE k < t_hours
      |), best AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY service
      |    ORDER BY stat DESC, hour) AS rk
      |  FROM scored
      |)
      |SELECT service, hour AS split_after,
      |  k AS n_hours_before, t_hours - k AS n_hours_after,
      |  CAST(s_k AS DOUBLE) / k AS mean_before,
      |  CAST(s_t - s_k AS DOUBLE) / (t_hours - k) AS mean_after,
      |  CAST(stat AS DOUBLE) AS cusum_stat,
      |  CASE WHEN CAST(s_t - s_k AS DECIMAL(38,0)) * CAST(k AS DECIMAL(38,0))
      |         > CAST(s_k AS DECIMAL(38,0)) * CAST(t_hours - k AS DECIMAL(38,0))
      |       THEN 'up' ELSE 'down' END AS direction
      |FROM best WHERE rk = 1""".stripMargin

  /** F22 `audit_k_anonymity` — k-anonymity audit over the event
    * store (the data-governance gate before an analytics export):
    * with quasi-identifier (event_type, event_hour), every
    * equivalence class must contain at least k distinct users; the
    * served rows are the VIOLATING classes — each with its distinct-
    * entity count and row count — i.e. the suppression work list a
    * release pipeline must generalize or drop before publishing.
    * The grand summary (classes checked / classes violating) rides
    * along via the same onePart windowed attach every manifest op
    * uses (no second scan, no scalar crossJoin). Exact integer
    * counts end to end.
    * Scale: one QI-keyed rollup with partial distinct aggregation
    * (classes ≪ rows); the violation filter serves a bounded
    * governance report, not the corpus. */
  def kAnonymity(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val classes = Tables.events(spark, dir)
      .groupBy(col("event_type"),
        date_trunc("hour", col("ts")).as("event_hour"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_rows"))
    val w = Window.partitionBy(Obs.onePart(col("event_type")))
    classes
      .withColumn("n_classes_total", count(lit(1)).over(w))
      .withColumn("n_classes_violating",
        sum(when(col("n_users") < k, 1L).otherwise(0L)).over(w))
      .filter(col("n_users") < k)
      .select(col("event_type"), col("event_hour"), col("n_users"),
        col("n_rows"), col("n_classes_total"), col("n_classes_violating"))
      .orderBy(col("event_type"), col("event_hour"))
  }

  def kAnonymitySql(k: Int = 5): String =
    s"""WITH classes AS (
       |  SELECT event_type,
       |    CAST(date_trunc('hour', ts) AS TIMESTAMP) AS event_hour,
       |    COUNT(DISTINCT user_id) AS n_users,
       |    COUNT(*) AS n_rows
       |  FROM events GROUP BY 1, 2),
       |summed AS (
       |  SELECT *,
       |    CAST(COUNT(*) OVER () AS BIGINT) AS n_classes_total,
       |    CAST(SUM(CASE WHEN n_users < $k THEN 1 ELSE 0 END) OVER ()
       |         AS BIGINT) AS n_classes_violating
       |  FROM classes)
       |SELECT event_type, event_hour, n_users, n_rows,
       |  n_classes_total, n_classes_violating
       |FROM summed WHERE n_users < $k
       |ORDER BY event_type, event_hour""".stripMargin

  // ===== F21t/F24t: the streaming alarm twins, promoted to
  // oracle-keyed rows (the r13 verdict's ask #6, on the H4t template:
  // batch contract ≡ stream, proven by serving the STREAM result
  // under the BATCH operator's oracle SQL verbatim) =====

  private val streamSeq = new java.util.concurrent.atomic.AtomicLong(0)

  /** The replay drive shared by both promoted twins: the events table
    * collected in ts order and fed through a MemoryStream in three
    * UNEVEN micro-batches (so every emission's `seen` counter
    * actually moves), drained from an update-mode memory sink.
    *
    * The driver-side collect is the REPLAY HARNESS, not a data path:
    * in production the stream source is `readStream` off the bus and
    * nothing is collected — this batch-callable exists so the twin's
    * convergence contract (final keep-latest state ≡ the batch
    * operator on the same data) is oracle-checkable by the driver's
    * DuckDB gate. Bounded by the bench SFs (10⁵ rows at sf0.1). */
  private[operators] def replayStream[T](spark: SparkSession, dir: String,
      start: (org.apache.spark.sql.Dataset[graft.streaming.StreamOps.Event],
              String) => org.apache.spark.sql.streaming.StreamingQuery)
      (drain: DataFrame => DataFrame): DataFrame = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val evs = Tables.events(spark, dir)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[graft.streaming.StreamOps.Event]
      .collect().sortBy(e => (e.ts.getTime, e.event_id)).toSeq
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[graft.streaming.StreamOps.Event]
    val name = s"graft_stream_twin_${streamSeq.incrementAndGet()}"
    // replay under the bounded-state partition count (r14: each
    // micro-batch pays an O(shuffle.partitions) state-store commit
    // floor; see StreamOps.withReplayPartitions)
    graft.streaming.StreamOps.withReplayPartitions(spark) {
      val q = start(ms.toDS(), name)
      try {
        val (a, rest) = evs.splitAt(evs.size / 4)
        val (b, c) = rest.splitAt(2 * rest.size / 3)
        ms.addData(a); q.processAllAvailable()
        ms.addData(b); q.processAllAvailable()
        ms.addData(c); q.processAllAvailable()
        // materialize off the memory sink so the served frame outlives
        // the dropped temp view (bounded: services × hours rows)
        graft.Ckpt.cut(drain(spark.table(name)))
      } finally {
        q.stop()
        spark.catalog.dropTempView(name)
      }
    }
  }

  /** The stream's UTC (date, hour) pair re-joined to the batch
    * operator's hour timestamp (session timezone is pinned UTC). */
  private def streamHour(date: Column, hour: Column): Column =
    to_timestamp(concat(date, lit(" "),
      lpad(hour.cast("string"), 2, "0"), lit(":00:00")))

  /** F21t `stream_mad_outliers` — [[graft.streaming.StreamOps
    * .madState]] run to completion as a batch-callable query. Median
    * and MAD move as hours arrive, so the serve is the KEEP-LATEST
    * fold (max `seen` per service-hour) — and the oracle is the batch
    * `audit_mad_outliers` SQL verbatim: stream ≡ batch is the twin's
    * whole contract (StreamingSpec additionally pins it under other
    * split shapes). */
  def madStreamBatch(spark: SparkSession, dir: String): DataFrame =
    replayStream(spark, dir, (ds, name) =>
      graft.streaming.StreamOps.madState(ds, spark)
        .writeStream.format("memory").queryName(name)
        .outputMode("update").start()) { t =>
      t.groupBy(col("service"), col("audit_date"), col("audit_hour"))
        .agg(max(struct(col("seen"), col("n"), col("med"), col("mad"),
          col("is_outlier"))).as("s"))
        .select(col("service"),
          streamHour(col("audit_date"), col("audit_hour")).as("hour"),
          col("s.n").as("n"), col("s.med").as("med"),
          col("s.mad").as("mad"), col("s.is_outlier").as("is_outlier"))
    }

  /** F24t `stream_changepoint` — [[graft.streaming.StreamOps
    * .changepointState]] run to completion as a batch-callable query.
    * The located split MOVES as data arrives, so the serve is the
    * keep-latest emission per service (max `seen`), re-projected to
    * the batch schema: the stat is reconstructed EXACTLY from the
    * emitted integer segment sums (stat = |T·S_k − k·S_T| in
    * DECIMAL(38,0) — same widening as the batch), and the means are
    * the same integer divisions. Oracle = the batch
    * `audit_changepoint` SQL verbatim. */
  def changepointStreamBatch(spark: SparkSession, dir: String): DataFrame =
    replayStream(spark, dir, (ds, name) =>
      graft.streaming.StreamOps.changepointState(ds, spark)
        .writeStream.format("memory").queryName(name)
        .outputMode("update").start()) { t =>
      val dec = DecimalType(38, 0)
      val kb = col("s.n_hours_before")
      val ka = col("s.n_hours_after")
      val sB = col("s.s_before")
      val sA = col("s.s_after")
      t.groupBy(col("service"))
        .agg(max(struct(col("seen"), col("split_date"), col("split_hour"),
          col("n_hours_before"), col("n_hours_after"),
          col("s_before"), col("s_after"), col("direction"))).as("s"))
        .select(col("service"),
          streamHour(col("s.split_date"), col("s.split_hour"))
            .as("split_after"),
          kb.as("n_hours_before"), ka.as("n_hours_after"),
          (sB.cast("double") / kb).as("mean_before"),
          (sA.cast("double") / ka).as("mean_after"),
          abs((kb + ka).cast(dec) * sB.cast(dec)
            - kb.cast(dec) * (sB + sA).cast(dec))
            .cast("double").as("cusum_stat"),
          col("s.direction").as("direction"))
    }

  val registry: Seq[(String, Entry)] = Seq(
    "stream_mad_outliers" -> Entry(madStreamBatch _, madOutliersSql(), shuffles = 2),
    "stream_changepoint" -> Entry(changepointStreamBatch _, changepointSql, shuffles = 2),
    "audit_k_anonymity" -> Entry((s, d) => kAnonymity(s, d), kAnonymitySql(),
      shuffles = 5), // QI rollup w/ two-level distinct (2) + class agg + onePart summary window + ordered serve
    "param_k_anonymity" -> Entry((s, d) => kAnonymity(s, d, k = 12), kAnonymitySql(k = 12),
      shuffles = 5),
    "audit_constraint_check" -> Entry(constraintCheck _, constraintCheckSql,
      shuffles = 4, // orders agg (distinct expand) + lineitem agg + RI semi join + attach
      bnlj = true), // (b) three 1-row metric tables cross-attach
    "audit_mad_outliers" -> Entry((s, d) => madOutliers(s, d), madOutliersSql(),
      shuffles = 2), // hourly rollup + service window (one events scan)
    "param_mad_outliers" -> Entry((s, d) => madOutliers(s, d, k = 2), madOutliersSql(k = 2),
      shuffles = 2),
    "audit_psi_drift" -> Entry((s, d) => psiDrift(s, d), psiDriftSql(),
      shuffles = 3), // ref-edge agg + bucket counts + type window/rollup
    "param_psi_drift" -> Entry((s, d) => psiDrift(s, d, splitDate = "2024-01-11", bins = 4),
      psiDriftSql(splitDate = "2024-01-11", bins = 4), shuffles = 3),
    "audit_changepoint" -> Entry(changepoint _, changepointSql, shuffles = 2),
    "audit_error_spikes" -> Entry(errorSpikes _, errorSpikesSql,
      shuffles = 2), // hourly rollup + per-tenant trail window
    "audit_ewma_alarm" -> Entry((s, d) => ewmaAlarm(s, d), ewmaAlarmSql(), shuffles = 2),
    "audit_incidents" -> Entry((s, d) => incidents(s, d), incidentsSql(), shuffles = 2),
    "param_audit_incidents" -> Entry((s, d) => incidents(s, d, mergeGap = 0),
      incidentsSql(mergeGap = 0), shuffles = 2),
    "audit_alert_hysteresis" -> Entry((s, d) => alertHysteresis(s, d), alertHysteresisSql(),
      shuffles = 2),
    "param_alert_hysteresis" -> Entry((s, d) => alertHysteresis(s, d, memory = 4, minN = 10L),
      alertHysteresisSql(memory = 4, minN = 10L), shuffles = 2),
    "param_ewma_alarm" -> Entry((s, d) => ewmaAlarm(s, d, memory = 4), ewmaAlarmSql(memory = 4),
      shuffles = 2),
    "audit_slo_burn" -> Entry((s, d) => sloBurn(s, d), sloBurnSql(), shuffles = 2),
    "param_slo_burn" -> Entry((s, d) => sloBurn(s, d, budgetPer10k = 10L),
      sloBurnSql(budgetPer10k = 10L), shuffles = 2),
    "audit_retention_expiry" -> Entry(retentionExpiry _, retentionExpirySql, shuffles = 2),
    "audit_purge_list" -> Entry(purgeList _, purgeListSql,
      shuffles = 1), // the complement slice of the same opState
    "reprocess_replay_set" -> Entry(replaySet _, replaySetSql, shuffles = 2),
    "audit_heavy_hitters_sketch" -> Entry(heavyHittersSketch _, heavyHittersSketchSql, shuffles = 2),
    "audit_value_quantiles_sketch" -> Entry(valueQuantilesSketch _, valueQuantilesSketchSql,
      shuffles = 1),
    "audit_latency_quantiles" -> Entry(latencyQuantiles _, latencyQuantilesSql, shuffles = 1),
    "audit_exp_histogram" -> Entry(expHistogram _, expHistogramSql,
      shuffles = 2), // (service,bucket) agg + service window
    "audit_distinct_users_sketch" -> Entry(distinctUsersSketch _, distinctUsersSketchSql,
      shuffles = 2),
    "audit_hll_sketch_store" -> Entry(hllSketchStore _, hllSketchStoreSql,
      shuffles = 4), // day-sketch agg + tenant merge + exact twin + join
    "audit_partition_counts" -> Entry(partitionCounts _, partitionCountsSql, shuffles = 2),
    "audit_metric_counts" -> Entry(metricCounts _, metricCountsSql, shuffles = 1),
    "audit_health_report" -> Entry((s, d) => healthReport(s, d), healthReportSql(),
      shuffles = 5, // events rollup + tenant window/argmax + counter rollups (all tenant-keyed metadata after the first shuffle)
      bnlj = true), // (b) 1-row window-end/horizon attach
    // clamps up to 5 (handler.ts:93)
    "param_audit_health_report" -> Entry((s, d) => healthReport(s, d, windowMin = 1),
      healthReportSql(1), shuffles = 5,
      bnlj = true), // (b) 1-row window-end/horizon attach
    "dlq_redrive_pending" -> Entry(dlqRedrivePending _, dlqRedrivePendingSql, shuffles = 0),
    "dlq_redrive_batch" -> Entry(dlqRedriveBatch _, dlqRedriveBatchSql, shuffles = 0,
      bnlj = true), // (a) broadcast query/request side, streaming corpus side
    "audit_list_page" -> Entry(auditListPage _, auditListPageSql, shuffles = 0,
      bnlj = true), // (a) broadcast query/request side, streaming corpus side
    "reprocess_content_type" -> Entry(reprocessContentType _, reprocessContentTypeSql, shuffles = 0),
    "audit_value_quantiles" -> Entry(valueQuantiles _, valueQuantilesSql, shuffles = 1))
}
