package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Entry, Registered}

/** Query-API semantics of the reference re-expressed set-oriented
  * (reference: services/api-query/src/handler.ts + schema.graphql).
  *
  * `events` plays the observation stream: user_id ~ patientId,
  * event_type ~ code, ts ~ effectiveDateTime; `customer` plays the
  * patient registry.
  *
  * TENANCY: the reference derives the tenant from the auth claim and
  * keys EVERY read by it (handler.ts:16-20, :43-44 —
  * `TENANT#<t>#PATIENT#<p>` is the GSI2 partition key; a caller can
  * never address another tenant's rows). Every operator here takes
  * the serving tenant as its first domain parameter and applies the
  * tenant predicate next to the patient key, so isolation is
  * structural: a (tenant, patient) pair that doesn't match yields the
  * empty set, exactly like a key-prefix miss in the reference store
  * (TenancySpec asserts no cross-tenant row can appear in any
  * E-result). The synthetic claim→tenant mapping is [[Obs.tenant]]
  * (t<user_id mod 4>), shared with the Audit/Ingest families.
  *
  * PARAMETERS: every operator is a library function with defaulted
  * domain parameters (patient, code, time range, page size); the
  * entries in [[registry]] are the pinned oracle instantiations, and
  * each `*Sql` oracle is a builder over the SAME parameters so Spark
  * and DuckDB can be compared at ANY call site (the `param_*`
  * registry keys pin a second, non-default instantiation per family).
  *
  * Scale notes: every read is served from [[Persist.store]], the
  * store the Persist step builds once per landing — the observations
  * cached hash-partitioned on the patient and sorted in the GSI2
  * order (patient, code, ts, id), plus the patient profile rows. A
  * per-patient read is a scan of cached batches whose column stats
  * skip every batch outside the patient's key range; per-(patient,
  * code) windows and rollups need no Exchange, since the store is
  * already partitioned on the patient; getPatient is a filter on the
  * cached profile. Only the tenant rollup (E17) and the joins with
  * the profile history built from the events files (E10, E12)
  * shuffle. At
  * cluster scale the store would be partitioned by tenant and
  * bucketed by patient on disk, making these true point scans.
  */
object QueryApi extends Registered {

  /** The synthetic auth-claim→tenant mapping of the testdata (the
    * reference reads it off the JWT; here it is derivable from the
    * patient id so specs can name the right AND the wrong tenant). */
  def tenantOf(patient: Long): String = s"t${patient % 4}"

  /** Tenant predicate over the events stream. */
  private def tenantPred(tenant: String) = Obs.tenant === lit(tenant)

  private def tenantSqlPred(tenant: String) = s"'t' || (user_id % 4) = '$tenant'"

  /** The observations every read serves from: the store's `obs`. */
  private def events(spark: SparkSession, dir: String): DataFrame =
    Persist.store(spark, dir).obs

  /** E1 `api_get_patient` — getPatient(id): point lookup of the
    * patient-profile META row (reference: api-query/src/handler.ts:
    * 41-57 reads name/birthDate/lastUpdated from the PATIENT#<id>
    * META item), left-joined with the static registry attributes
    * (segment/balance ~ the demographics the registry carries). The
    * META row is [[Persist.patientMeta]] — the D5 versioned upsert —
    * so a profile update stream changes what this returns, exactly
    * like the reference. The store's `profile` holds these rows with
    * the registry attributes already attached, so the read is a
    * (tenant, patient) filter on cached blocks. */
  def getPatient(spark: SparkSession, dir: String,
                 tenant: String = "t1", patient: Long = 13L): DataFrame =
    Persist.store(spark, dir).profile
      .filter(col("tenant_id") === tenant && col("patient_id") === patient)

  def getPatientSql(tenant: String = "t1", patient: Long = 13L): String =
    s"""WITH ${Persist.patientMetaSqlCte}
       |SELECT m.tenant_id, m.patient_id, m.name, m.birth_date,
       |  m.version, m.last_updated,
       |  c.c_mktsegment AS segment, c.c_acctbal AS balance
       |FROM meta m LEFT JOIN customer c ON c.c_custkey = m.patient_id
       |WHERE m.tenant_id = '$tenant' AND m.patient_id = $patient""".stripMargin

  /** E2 `api_obs_by_patient` — observationsByPatient(patientId, code,
    * from, to, limit): ascending time-range scan with code filter
    * (reference: services/api-query/src/handler.ts:64-86 —
    * ScanIndexForward ascending, Limit clamped to 100), keyed by
    * (tenant, patient) like the reference's GSI2 partition key. LIMIT
    * is ordered by the unique (ts, event_id) chain so the page is
    * deterministic (reference pages on the GSI2 sort key). */
  def obsByPatient(spark: SparkSession, dir: String,
                   tenant: String = "t1", patient: Long = 13L,
                   code: String = "purchase",
                   from: String = "2024-01-05 00:00:00",
                   to: String = "2024-01-25 00:00:00",
                   limit: Int = 50): DataFrame =
    events(spark, dir)
      .filter(tenantPred(tenant) &&
        col("user_id") === patient && col("event_type") === code &&
        col("ts") >= lit(from).cast("timestamp") &&
        col("ts") < lit(to).cast("timestamp"))
      .select(Obs.tenant.as("tenant_id"), col("event_id"), col("user_id"),
        col("event_type"), col("ts"), col("value"))
      .orderBy(col("ts"), col("event_id"))
      .limit(limit)

  def obsByPatientSql(tenant: String = "t1", patient: Long = 13L,
                      code: String = "purchase",
                      from: String = "2024-01-05 00:00:00",
                      to: String = "2024-01-25 00:00:00",
                      limit: Int = 50): String =
    s"""SELECT 't' || (user_id % 4) AS tenant_id,
       |  event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, value
       |FROM events
       |WHERE ${tenantSqlPred(tenant)}
       |  AND user_id = $patient AND event_type = '$code'
       |  AND ts >= TIMESTAMP '$from'
       |  AND ts <  TIMESTAMP '$to'
       |ORDER BY ts, event_id
       |LIMIT $limit""".stripMargin

  /** E3 `api_latest_observation` — latestObservation(patient, code)
    * for every (patient, code) of ONE tenant at once: the reference
    * scans the tenant-scoped GSI descending and takes the first row;
    * set-oriented that is a row_number window over (ts, event_id)
    * descending. The tenant predicate restricts the scan BEFORE the
    * window, and the store's patient partitioning already clusters
    * every (patient, code), so the window plans no shuffle. */
  def latestObservation(spark: SparkSession, dir: String,
                        tenant: String = "t1"): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts").desc, col("event_id").desc)
    events(spark, dir)
      .filter(tenantPred(tenant))
      .select(Obs.tenant.as("tenant_id"), col("event_id"), col("user_id"),
        col("event_type"), col("ts"), col("value"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  def latestObservationSql(tenant: String = "t1"): String =
    s"""SELECT tenant_id, event_id, user_id, event_type,
       |  CAST(ts AS TIMESTAMP) AS ts, value
       |FROM (
       |  SELECT 't' || (user_id % 4) AS tenant_id,
       |    event_id, user_id, event_type, ts, value,
       |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type
       |                       ORDER BY ts DESC, event_id DESC) AS rn
       |  FROM events
       |  WHERE ${tenantSqlPred(tenant)}
       |) WHERE rn = 1""".stripMargin

  /** E15 `api_obs_stats` — the per-(patient, code) observation
    * SUMMARY read (the GraphQL "stats" resolver shape): count,
    * min/max, exact-decimal mean, and the latest observation
    * (value + event id + epoch-µs time on the unique (ts, id)
    * order) — the dashboard companion to E3's row-level latest.
    * Deliberately ONE partial-aggregable rollup and NO window:
    * latest-per-key rides a max(struct(us, id, value)) aggregate
    * (K6's argmax form — map-side combinable, so the shuffle
    * carries one partial row per key, not the observation stream),
    * where E3's row_number answers the row-level question. On the
    * store (and on the D2b bucketed layout) the rollup's keys contain
    * the patient partitioning key, so it needs no exchange at all.
    * Mean = exact decimal sum / count, rounded 6dp (house davg). */
  def obsStats(spark: SparkSession, dir: String,
               tenant: String = "t1"): DataFrame =
    obsStatsFrom(events(spark, dir), tenant)

  /** E15 over any events-shaped frame — the seam BucketingSpec uses to
    * pin the zero-Exchange claim on the D2b bucketed layout
    * (hashpartitioning(user_id) ⊆ the rollup's grouping keys, so the
    * partial agg is already co-located and no exchange plans). */
  def obsStatsFrom(events: DataFrame, tenant: String = "t1"): DataFrame = {
    events
      .filter(tenantPred(tenant))
      .select(Obs.tenant.as("tenant_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("event_id"), col("value"))
      .groupBy(col("tenant_id"), col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n_obs"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"),
        round(sum(col("value").cast("decimal(18,6)")).cast("double")
          / count(lit(1)), 6).as("avg_value"),
        max(struct(col("us"), col("event_id"), col("value"))).as("last"))
      .select(col("tenant_id"), col("user_id"), col("event_type"),
        col("n_obs"), col("min_value"), col("max_value"), col("avg_value"),
        col("last.us").as("latest_us"),
        col("last.event_id").as("latest_event_id"),
        col("last.value").as("latest_value"))
  }

  def obsStatsSql(tenant: String = "t1"): String =
    s"""WITH base AS (
       |  SELECT 't' || (user_id % 4) AS tenant_id, user_id, event_type,
       |    epoch_us(ts) AS us, event_id, value
       |  FROM events WHERE ${tenantSqlPred(tenant)}
       |), stats AS (
       |  SELECT tenant_id, user_id, event_type, COUNT(*) AS n_obs,
       |    MIN(value) AS min_value, MAX(value) AS max_value,
       |    ROUND(CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR) AS DOUBLE)
       |      / COUNT(*), 6) AS avg_value
       |  FROM base GROUP BY 1, 2, 3
       |), latest AS (
       |  SELECT tenant_id, user_id, event_type,
       |    us AS latest_us, event_id AS latest_event_id,
       |    value AS latest_value
       |  FROM (
       |    SELECT *, ROW_NUMBER() OVER (
       |      PARTITION BY tenant_id, user_id, event_type
       |      ORDER BY us DESC, event_id DESC) AS rn
       |    FROM base) WHERE rn = 1
       |)
       |SELECT s.tenant_id, s.user_id, s.event_type, n_obs, min_value,
       |  max_value, avg_value, latest_us, latest_event_id, latest_value
       |FROM stats s JOIN latest l
       |  ON s.tenant_id = l.tenant_id AND s.user_id = l.user_id
       |  AND s.event_type = l.event_type""".stripMargin

  /** E16 `api_obs_trend` — per-(patient, code) RATE-OF-CHANGE read
    * (the GraphQL "trend" resolver shape, the delta companion to
    * E15's summary): each observation paired with its predecessor on
    * the unique (µs, event_id) order, serving the value delta, the
    * µs gap, and the per-hour slope — the "is this patient's lab
    * drifting and how fast" dashboard read. Zero-dt successors
    * (duplicate capture at the same µs) carry no slope and are
    * excluded. Exactness: dv is an IEEE double subtraction and the
    * slope a double multiply-divide of exact integer µs gaps — the
    * same shape both engines, rounded 6dp at serve. Scale: ONE
    * entity-keyed window, which the store's patient partitioning
    * satisfies without an exchange, like E15. */
  def obsTrend(spark: SparkSession, dir: String,
               tenant: String = "t1"): DataFrame = {
    val w = Window
      .partitionBy(col("tenant_id"), col("user_id"), col("event_type"))
      .orderBy(col("us"), col("event_id"))
    events(spark, dir)
      .filter(tenantPred(tenant))
      .select(Obs.tenant.as("tenant_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("event_id"), col("value"))
      .withColumn("prev_us", lag(col("us"), 1).over(w))
      .withColumn("prev_value", lag(col("value"), 1).over(w))
      .filter(col("prev_us").isNotNull && col("us") > col("prev_us"))
      .select(col("tenant_id"), col("user_id"), col("event_type"),
        col("event_id"), col("us"), col("value"),
        col("prev_value"), (col("us") - col("prev_us")).as("dt_us"),
        round((col("value") - col("prev_value")) * lit(3600000000.0)
          / (col("us") - col("prev_us")).cast("double"), 6)
          .as("slope_per_hr"))
  }

  def obsTrendSql(tenant: String = "t1"): String =
    s"""WITH base AS (
       |  SELECT 't' || (user_id % 4) AS tenant_id, user_id, event_type,
       |    epoch_us(ts) AS us, event_id, value
       |  FROM events WHERE ${tenantSqlPred(tenant)}
       |), lagged AS (
       |  SELECT *,
       |    LAG(us, 1) OVER w AS prev_us,
       |    LAG(value, 1) OVER w AS prev_value
       |  FROM base
       |  WINDOW w AS (PARTITION BY tenant_id, user_id, event_type
       |               ORDER BY us, event_id)
       |)
       |SELECT tenant_id, user_id, event_type, event_id, us, value,
       |  prev_value, us - prev_us AS dt_us,
       |  ROUND((value - prev_value) * 3600000000.0::DOUBLE
       |    / CAST(us - prev_us AS DOUBLE), 6) AS slope_per_hr
       |FROM lagged
       |WHERE prev_us IS NOT NULL AND us > prev_us""".stripMargin

  /** E4 `api_obs_page_after` — keyset pagination: the page after
    * cursor (ts0, id0) for one (tenant, patient), strictly ordered by
    * the unique (ts, event_id) chain. Equivalent of the reference's
    * nextToken continuation. */
  def obsPageAfter(spark: SparkSession, dir: String,
                   tenant: String = "t1", patient: Long = 13L,
                   cursorTs: String = "2024-01-10 00:00:00",
                   cursorId: Long = 0L, limit: Int = 20): DataFrame = {
    val ts0 = lit(cursorTs).cast("timestamp")
    val id0 = lit(cursorId)
    events(spark, dir)
      .filter(tenantPred(tenant) && col("user_id") === patient &&
        (col("ts") > ts0 || (col("ts") === ts0 && col("event_id") > id0)))
      .select(Obs.tenant.as("tenant_id"), col("event_id"), col("user_id"),
        col("event_type"), col("ts"), col("value"))
      .orderBy(col("ts"), col("event_id"))
      .limit(limit)
  }

  def obsPageAfterSql(tenant: String = "t1", patient: Long = 13L,
                      cursorTs: String = "2024-01-10 00:00:00",
                      cursorId: Long = 0L, limit: Int = 20): String =
    s"""SELECT 't' || (user_id % 4) AS tenant_id,
       |  event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, value
       |FROM events
       |WHERE ${tenantSqlPred(tenant)}
       |  AND user_id = $patient
       |  AND (ts > TIMESTAMP '$cursorTs'
       |       OR (ts = TIMESTAMP '$cursorTs' AND event_id > $cursorId))
       |ORDER BY ts, event_id
       |LIMIT $limit""".stripMargin

  /** E5 `api_obs_asof_join` — as-of join: for every probe event of
    * one tenant, the latest prior-or-equal observation of the same
    * patient. Spark lacks a built-in as-of join, so it is a
    * first-class custom logical operator here:
    * [[graft.plans.AsOfJoin]], expanded during analysis by the
    * injected [[graft.plans.ResolveAsOfJoin]] rule into the
    * union + last(struct, ignoreNulls) window plan — at most ONE
    * shuffle on user_id (none over the store: the union of two store
    * reads keeps its patient partitioning), no range-join pair
    * explosion (a naive ts-range join is O(probes x obs) per user).
    * The tenant predicate lands on BOTH sides before the union, so it
    * reaches both scans. */
  def obsAsofJoin(spark: SparkSession, dir: String,
                  tenant: String = "t1",
                  probeCode: String = "purchase",
                  obsCode: String = "click"): DataFrame = {
    val ev = events(spark, dir).filter(tenantPred(tenant))
    graft.plans.AsOf.join(
      probe = ev.filter(col("event_type") === probeCode),
      obs = ev.filter(col("event_type") === obsCode),
      key = "user_id", ts = "ts", id = "event_id", value = "value")
  }

  def obsAsofJoinSql(tenant: String = "t1",
                     probeCode: String = "purchase",
                     obsCode: String = "click"): String =
    s"""WITH tagged AS (
       |  SELECT user_id, ts, event_id, value, 0 AS is_probe
       |  FROM events WHERE event_type = '$obsCode' AND ${tenantSqlPred(tenant)}
       |  UNION ALL
       |  SELECT user_id, ts, event_id, NULL AS value, 1 AS is_probe
       |  FROM events WHERE event_type = '$probeCode' AND ${tenantSqlPred(tenant)}
       |), carried AS (
       |  SELECT *,
       |    last_value(CASE WHEN is_probe = 0 THEN event_id END IGNORE NULLS)
       |      OVER w AS obs_event_id,
       |    last_value(CASE WHEN is_probe = 0 THEN ts END IGNORE NULLS)
       |      OVER w AS obs_ts,
       |    last_value(CASE WHEN is_probe = 0 THEN value END IGNORE NULLS)
       |      OVER w AS obs_value
       |  FROM tagged
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, is_probe, event_id
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |)
       |SELECT event_id AS probe_id, user_id, CAST(ts AS TIMESTAMP) AS probe_ts,
       |  obs_event_id, CAST(obs_ts AS TIMESTAMP) AS obs_ts, obs_value
       |FROM carried WHERE is_probe = 1""".stripMargin

  /** E6 `api_limit_clamp` — the reference's page-size contract
    * (services/api-query/src/handler.ts:84): effective limit =
    * `Math.min(100, Math.max(1, Number(limit || 25)))`, where `||`
    * makes BOTH null and 0 fall back to the default 25 (JS falsy) and
    * negatives clamp up to 1. Modeled set-oriented: a tiny inline
    * request table (one row per limit edge case) non-equi-joined to
    * the (tenant, patient) ordered scan — each request returns
    * exactly its clamped page. The request side is bounded by
    * contract (a page of API calls), so the nested-loop broadcast
    * join is scale-safe. */
  def limitClamp(spark: SparkSession, dir: String,
                 tenant: String = "t1", patient: Long = 13L): DataFrame = {
    import spark.implicits._
    val reqs = Seq(
      ("r_null", Option.empty[Int]), ("r_zero", Option(0)),
      ("r_neg", Option(-5)), ("r_mid", Option(17)), ("r_cap", Option(250)))
      .toDF("request_id", "req_limit")
    val eff = least(lit(100),
      greatest(lit(1), coalesce(nullif(col("req_limit"), lit(0)), lit(25))))
    // the clamp cap (100) bounds every page, so take the top-100 with
    // a distributed TakeOrdered FIRST; the numbering window then only
    // ever sees <= 100 rows, never the full scan — its constant
    // partition key says so explicitly (single-partition by design,
    // bounded by the preceding TakeOrdered)
    val w = Window.partitionBy(Obs.onePart(col("event_id")))
      .orderBy(col("ts"), col("event_id"))
    val page = events(spark, dir)
      .filter(tenantPred(tenant) && col("user_id") === patient)
      .select(col("event_id"), col("ts"), col("value"))
      .orderBy(col("ts"), col("event_id")).limit(100)
      .withColumn("rn", row_number().over(w))
    reqs.withColumn("eff_limit", eff)
      .join(page, col("rn") <= col("eff_limit"))
      .select(col("request_id"), col("eff_limit"), col("rn"),
        col("event_id"), col("ts"), col("value"))
  }

  def limitClampSql(tenant: String = "t1", patient: Long = 13L): String =
    s"""WITH reqs(request_id, req_limit) AS (
       |  VALUES ('r_null', CAST(NULL AS INTEGER)), ('r_zero', 0),
       |         ('r_neg', -5), ('r_mid', 17), ('r_cap', 250)
       |), page AS (
       |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, value,
       |    CAST(ROW_NUMBER() OVER (ORDER BY ts, event_id) AS INTEGER) AS rn
       |  FROM events WHERE ${tenantSqlPred(tenant)} AND user_id = $patient
       |)
       |SELECT request_id,
       |  LEAST(100, GREATEST(1, COALESCE(NULLIF(req_limit, 0), 25))) AS eff_limit,
       |  rn, event_id, ts, value
       |FROM reqs JOIN page
       |  ON rn <= LEAST(100, GREATEST(1, COALESCE(NULLIF(req_limit, 0), 25)))""".stripMargin

  /** E7 `api_next_token` — the reference's pagination token contract
    * (services/api-query/src/handler.ts:85,106): the page's last
    * evaluated key is serialized to JSON, base64-encoded into
    * `nextToken`, and a follow-up request decodes it back into the
    * exclusive-start cursor. Modeled end-to-end: page 1 (pageSize) →
    * token = base64({"ts":...,"id":...}) of its last row → decode +
    * JSON-parse the token → keyset-continue into the first `nextN`
    * rows of page 2, each carrying the token that produced them. The
    * cursor is a 1-row broadcast against the (tenant, patient) scan. */
  def nextToken(spark: SparkSession, dir: String,
                tenant: String = "t1", patient: Long = 13L,
                pageSize: Int = 20, nextN: Int = 5): DataFrame = {
    val tsFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    val scan = events(spark, dir)
      .filter(tenantPred(tenant) && col("user_id") === patient)
    val page1Last = scan
      .select(col("event_id"), col("ts"))
      .orderBy(col("ts"), col("event_id"))
      .limit(pageSize)
      .agg(max(struct(col("ts"), col("event_id"))).as("c"))
    val token = page1Last.select(
      base64(concat(
        lit("{\"ts\":\""), date_format(col("c.ts"), tsFmt),
        lit("\",\"id\":"), col("c.event_id"), lit("}")).cast("binary"))
        .as("next_token"))
    val cursor = token.select(
      col("next_token"),
      to_timestamp(get_json_object(unbase64(col("next_token")).cast("string"), "$.ts"),
        tsFmt).as("cts"),
      get_json_object(unbase64(col("next_token")).cast("string"), "$.id")
        .cast("long").as("cid"))
    scan
      .select(col("event_id"), col("ts"), col("value"))
      .crossJoin(broadcast(cursor))
      .filter(col("ts") > col("cts") ||
        (col("ts") === col("cts") && col("event_id") > col("cid")))
      .orderBy(col("ts"), col("event_id"))
      .limit(nextN)
      .select(col("next_token"), col("event_id"), col("ts"), col("value"))
  }

  def nextTokenSql(tenant: String = "t1", patient: Long = 13L,
                   pageSize: Int = 20, nextN: Int = 5): String =
    s"""WITH page1 AS (
       |  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts
       |  FROM events WHERE ${tenantSqlPred(tenant)} AND user_id = $patient
       |  ORDER BY ts, event_id LIMIT $pageSize
       |), last AS (
       |  SELECT ts, event_id FROM page1
       |  ORDER BY ts DESC, event_id DESC LIMIT 1
       |), tok AS (
       |  SELECT base64(encode(
       |    '{"ts":"' || strftime(ts, '%Y-%m-%d %H:%M:%S.%f')
       |      || '","id":' || event_id || '}')) AS next_token
       |  FROM last
       |), cur AS (
       |  SELECT next_token,
       |    strptime(json_extract_string(decode(from_base64(next_token)), '$$.ts'),
       |      '%Y-%m-%d %H:%M:%S.%f') AS cts,
       |    CAST(json_extract_string(decode(from_base64(next_token)), '$$.id')
       |      AS BIGINT) AS cid
       |  FROM tok
       |)
       |SELECT next_token, event_id, CAST(ts AS TIMESTAMP) AS ts, value
       |FROM events, cur
       |WHERE ${tenantSqlPred(tenant)} AND user_id = $patient
       |  AND (ts > cts OR (ts = cts AND event_id > cid))
       |ORDER BY ts, event_id
       |LIMIT $nextN""".stripMargin

  /** E9 `api_obs_by_code` — the inverted-index access path: every
    * observation of one CODE across a tenant's patients in a time
    * range. The reference's single-table design carries GSI1
    * precisely so entity-wide reads don't have to enumerate patients
    * (src/stacks/data-stack.ts: GSI1 inverts PK/SK — the by-entity
    * index next to GSI2's by-patient index); this is that read,
    * set-oriented. Keyed by (tenant, code): at scale this index is
    * partitioned by code with (effective, patient) as the sort key,
    * so the scan prunes to one code's slice and the page is the same
    * keyset-ordered LIMIT as E2/E4 — no window, no shuffle, one
    * TakeOrdered. */
  def obsByCode(spark: SparkSession, dir: String,
                tenant: String = "t1", code: String = "signup",
                from: String = "2024-01-05 00:00:00",
                to: String = "2024-02-10 00:00:00",
                limit: Int = 40): DataFrame =
    events(spark, dir)
      .filter(tenantPred(tenant) && col("event_type") === code &&
        col("ts") >= lit(from).cast("timestamp") &&
        col("ts") < lit(to).cast("timestamp"))
      .select(Obs.tenant.as("tenant_id"), col("event_type"),
        col("ts"), col("user_id").as("patient_id"), col("event_id"),
        col("value"))
      .orderBy(col("ts"), col("event_id"))
      .limit(limit)

  def obsByCodeSql(tenant: String = "t1", code: String = "signup",
                   from: String = "2024-01-05 00:00:00",
                   to: String = "2024-02-10 00:00:00",
                   limit: Int = 40): String =
    s"""SELECT 't' || (user_id % 4) AS tenant_id, event_type,
       |  CAST(ts AS TIMESTAMP) AS ts, user_id AS patient_id, event_id, value
       |FROM events
       |WHERE ${tenantSqlPred(tenant)} AND event_type = '$code'
       |  AND ts >= TIMESTAMP '$from'
       |  AND ts <  TIMESTAMP '$to'
       |ORDER BY ts, event_id
       |LIMIT $limit""".stripMargin

  /** E10 `api_profile_asof` — point-in-time profile enrichment: every
    * observation of one (tenant, code) joined to the patient-profile
    * VERSION that was current when the observation happened — the
    * SCD2 read ([[Persist.profileHistory]] is D7's discipline over
    * D5's profile-update stream). This answers "what did we know
    * about the patient at the time" — the reference can only serve
    * the CURRENT profile (the META item is last-state), so this is
    * the read its DynamoDB-stream consumers would reconstruct from
    * history; here it is one declarative join: interval containment
    * `valid_from <= ts < valid_to` against the versioned dimension.
    * Observations before the patient's first profile write drop out
    * (inner join) — the store has no profile to enrich with.
    *
    * Scale: the containment predicate rides a SortMergeJoin whose
    * EQUI key is the patient id — per-patient interval chains are
    * short (profile versions), so the residual range filter scans a
    * bounded run, never a cross product; both sides shuffle on
    * user_id and the history window reuses that partitioning. The
    * comparison happens at microsecond precision on both engines
    * (see profileHistorySqlCte). */
  def profileAsOf(spark: SparkSession, dir: String,
                  tenant: String = "t1", code: String = "purchase"): DataFrame = {
    val hist = Persist.profileHistory(spark, dir)
      .withColumnRenamed("user_id", "h_user")
    val ev = events(spark, dir)
      .filter(tenantPred(tenant) && col("event_type") === code)
    ev.join(hist,
        ev("user_id") === hist("h_user") &&
          ev("ts") >= hist("valid_from") &&
          (hist("valid_to").isNull || ev("ts") < hist("valid_to")))
      .select(Obs.tenant.as("tenant_id"), col("event_id"),
        col("user_id").as("patient_id"), col("ts"), col("value"),
        col("profile_version"), col("valid_from").as("profile_since"))
  }

  def profileAsOfSql(tenant: String = "t1", code: String = "purchase"): String =
    s"""WITH ${Persist.profileHistorySqlCte}
       |SELECT 't' || (e.user_id % 4) AS tenant_id, e.event_id,
       |  e.user_id AS patient_id, CAST(e.ts AS TIMESTAMP) AS ts, e.value,
       |  h.profile_version, h.valid_from AS profile_since
       |FROM events e JOIN profile_hist h ON e.user_id = h.user_id
       |  AND CAST(e.ts AS TIMESTAMP) >= h.valid_from
       |  AND (h.valid_to IS NULL OR CAST(e.ts AS TIMESTAMP) < h.valid_to)
       |WHERE 't' || (e.user_id % 4) = '$tenant'
       |  AND e.event_type = '$code'""".stripMargin

  /** E12 `api_profile_asof_del` — E10's point-in-time profile read
    * made TOMBSTONE-AWARE: the history side is
    * [[Persist.profileHistoryTombstoned]], where a D9 delete closes
    * the open profile interval and contributes none of its own, so a
    * probe landing in a deleted span finds NO containing interval.
    * The join is LEFT so such probes surface with a NULL
    * profile_version — the honest "we had deleted this patient's
    * profile at that time" answer a GDPR audit asks for (E10's inner
    * join would silently drop them). A later put resurrects the
    * patient: probes after it enrich again, with lineage-preserving
    * version numbers.
    *
    * Scale: identical plan shape to E10 — the containment predicate
    * rides the user_id-equi SortMergeJoin over short per-patient
    * chains; LEFT join changes the null-handling, not the shuffle
    * economics. */
  def profileAsOfDel(spark: SparkSession, dir: String,
                     tenant: String = "t1", code: String = "purchase"): DataFrame = {
    val hist = Persist.profileHistoryTombstoned(spark, dir)
      .withColumnRenamed("user_id", "h_user")
    val ev = events(spark, dir)
      .filter(tenantPred(tenant) && col("event_type") === code)
    ev.join(hist,
        ev("user_id") === hist("h_user") &&
          ev("ts") >= hist("valid_from") &&
          (hist("valid_to").isNull || ev("ts") < hist("valid_to")),
        "left")
      .select(Obs.tenant.as("tenant_id"), col("event_id"),
        col("user_id").as("patient_id"), col("ts"), col("value"),
        col("profile_version"), col("valid_from").as("profile_since"))
  }

  def profileAsOfDelSql(tenant: String = "t1", code: String = "purchase"): String =
    s"""WITH ${Persist.profileHistoryTombSqlCte}
       |SELECT 't' || (e.user_id % 4) AS tenant_id, e.event_id,
       |  e.user_id AS patient_id, CAST(e.ts AS TIMESTAMP) AS ts, e.value,
       |  h.profile_version, h.valid_from AS profile_since
       |FROM events e LEFT JOIN profile_live h ON e.user_id = h.user_id
       |  AND CAST(e.ts AS TIMESTAMP) >= h.valid_from
       |  AND (h.valid_to IS NULL OR CAST(e.ts AS TIMESTAMP) < h.valid_to)
       |WHERE 't' || (e.user_id % 4) = '$tenant'
       |  AND e.event_type = '$code'""".stripMargin

  /** E11 `api_patient_bundle` — the nested GraphQL read served as ONE
    * plan: schema.graphql's patient query resolves profile + latest
    * observation + a period's observation count through separate
    * AppSync resolvers (N+1 round trips to the store); set-oriented
    * they collapse into one DataFrame — the profile row (E1) joined
    * with ONE aggregate over the patient's rows of the code, which
    * gives both the latest observation (E3's point form) and the
    * period count. A missing sub-resolution (no purchase yet) yields
    * NULL latest fields and a zero count, exactly like a null GraphQL
    * sub-object, never a dropped row. Scale: both sides are
    * (tenant, patient) reads of the cached store; the aggregate
    * groups on the patient, the store's partitioning key, so it needs
    * no Exchange, and its one row joins the profile row by broadcast. */
  def patientBundle(spark: SparkSession, dir: String,
                    tenant: String = "t1", patient: Long = 13L,
                    obsCode: String = "purchase",
                    from: String = "2024-01-01 00:00:00",
                    to: String = "2024-02-01 00:00:00"): DataFrame = {
    val inWindow = col("ts") >= lit(from).cast("timestamp") &&
      col("ts") < lit(to).cast("timestamp")
    val obs = events(spark, dir)
      .filter(tenantPred(tenant) && col("user_id") === patient &&
        col("event_type") === obsCode)
      .groupBy(col("user_id"))
      .agg(max(struct(col("ts"), col("event_id"), col("value"))).as("l"),
        count(when(inWindow, true)).as("n"))
    getPatient(spark, dir, tenant, patient)
      .join(broadcast(obs), col("patient_id") === col("user_id"), "left")
      .select(col("tenant_id"), col("patient_id"), col("name"),
        col("birth_date"), col("version"), col("last_updated"),
        col("segment"), col("balance"),
        col("l.ts").as("latest_obs_ts"), col("l.value").as("latest_obs_value"),
        coalesce(col("n"), lit(0L)).as("n_obs_window"))
  }

  def patientBundleSql(tenant: String = "t1", patient: Long = 13L,
                       obsCode: String = "purchase",
                       from: String = "2024-01-01 00:00:00",
                       to: String = "2024-02-01 00:00:00"): String =
    s"""WITH ${Persist.patientMetaSqlCte}, lat AS (
       |  SELECT CAST(ts AS TIMESTAMP) AS latest_obs_ts,
       |    value AS latest_obs_value
       |  FROM events
       |  WHERE ${tenantSqlPred(tenant)} AND user_id = $patient
       |    AND event_type = '$obsCode'
       |  ORDER BY ts DESC, event_id DESC LIMIT 1
       |), cnt AS (
       |  SELECT COUNT(*) AS n_obs_window
       |  FROM events
       |  WHERE ${tenantSqlPred(tenant)} AND user_id = $patient
       |    AND event_type = '$obsCode'
       |    AND ts >= TIMESTAMP '$from' AND ts < TIMESTAMP '$to'
       |)
       |SELECT m.tenant_id, m.patient_id, m.name, m.birth_date,
       |  m.version, m.last_updated,
       |  c.c_mktsegment AS segment, c.c_acctbal AS balance,
       |  lat.latest_obs_ts, lat.latest_obs_value, cnt.n_obs_window
       |FROM meta m
       |LEFT JOIN customer c ON c.c_custkey = m.patient_id
       |CROSS JOIN cnt
       |LEFT JOIN lat ON TRUE
       |WHERE m.tenant_id = '$tenant' AND m.patient_id = $patient""".stripMargin

  /** The pinned E8 probe batch: 13/5/77 live in t1; 42 is the
    * deliberately CROSS-tenant probe (t2) and 99999 is absent —
    * BatchGetItem semantics return no row for both. */
  val defaultProbes: Seq[(Long, String)] = Seq(
    (13L, "purchase"), (13L, "click"), (42L, "purchase"),
    (77L, "view"), (5L, "click"), (99999L, "purchase"))

  /** E8 `api_multi_get` — batch point-get: N (patient, code) keys
    * answered in ONE pass (the BatchGetItem / GraphQL-dataloader
    * analogue of E3's per-key lookup). The reference constructs every
    * batch key under the caller's tenant (handler.ts:43-44), so a
    * probe for a patient of ANOTHER tenant is a key miss, not a leak
    * — modeled by the tenant predicate next to the probe semi-join.
    * The probe set broadcasts and SEMI-JOINS the events table BEFORE
    * the latest-observation window — the window only sees rows for
    * requested in-tenant keys, the batch equivalent of N key-prefix
    * range reads, not a full scan ranked then filtered. */
  def multiGet(spark: SparkSession, dir: String,
               tenant: String = "t1",
               probes: Seq[(Long, String)] = defaultProbes): DataFrame = {
    import spark.implicits._
    val probeDf = probes.toDF("p_user", "p_type")
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts").desc, col("event_id").desc)
    events(spark, dir)
      .filter(tenantPred(tenant))
      .join(broadcast(probeDf),
        col("user_id") === col("p_user") && col("event_type") === col("p_type"),
        "left_semi")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("ts"), col("value"))
  }

  def multiGetSql(tenant: String = "t1",
                  probes: Seq[(Long, String)] = defaultProbes): String = {
    val inList = probes.map { case (u, t) => s"($u, '$t')" }.mkString(", ")
    s"""SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts, value
       |FROM (
       |  SELECT user_id, event_type, event_id, ts, value,
       |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type
       |                       ORDER BY ts DESC, event_id DESC) AS rn
       |  FROM events
       |  WHERE ${tenantSqlPred(tenant)}
       |    AND (user_id, event_type) IN ($inList)
       |) WHERE rn = 1""".stripMargin
  }

  /** E13 `api_obs_gapfill` — gap-filled daily observation series with
    * forward fill (LOCF): for one tenant's patients and one code,
    * serve one row per patient per day of the window — the last
    * observed value that day where one exists, otherwise the value
    * carried forward from the most recent prior day (NULL before the
    * first observation) — the series shape a charting/trends API
    * returns (the reference's observationsByPatient consumers
    * interpolate exactly this way client-side). Day-last selection
    * is the deterministic (ts, event_id) row_number rule; the date
    * spine is generated per patient with sequence/explode (map-side,
    * no calendar table join); the fill is last(value, ignoreNulls)
    * over the patient partition ordered by day with an unbounded-
    * preceding frame — both engines' IGNORE NULLS window semantics.
    * Scale: the code+tenant+range predicate prunes at the scan; one
    * (patient, day) rollup + one patient-partition window; the spine
    * is days × patients of ONE tenant-code slice, output-sized. */
  def obsGapfill(spark: SparkSession, dir: String,
                 tenant: String = "t1", code: String = "purchase",
                 from: String = "2024-01-05 00:00:00",
                 to: String = "2024-01-20 00:00:00"): DataFrame = {
    val wDay = Window.partitionBy(col("user_id"), col("day"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val daily = events(spark, dir)
      .filter(tenantPred(tenant) && col("event_type") === code &&
        col("ts") >= lit(from).cast("timestamp") &&
        col("ts") < lit(to).cast("timestamp"))
      .withColumn("day", date_trunc("day", col("ts")))
      .withColumn("rn", row_number().over(wDay))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("day"), col("value").as("day_value"))
    val spine = daily.select(col("user_id")).distinct()
      .select(col("user_id"), explode(expr(
        s"sequence(timestamp'$from', timestamp'$to' - interval 1 day, " +
          "interval 1 day)")).as("day"))
    val wFill = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(daily, Seq("user_id", "day"), "left_outer")
      .select(lit(tenant).as("tenant_id"), col("user_id"), col("day"),
        last(col("day_value"), ignoreNulls = true).over(wFill)
          .as("value_filled"),
        col("day_value").isNotNull.as("is_observed"))
  }

  def obsGapfillSql(tenant: String = "t1", code: String = "purchase",
                    from: String = "2024-01-05 00:00:00",
                    to: String = "2024-01-20 00:00:00"): String =
    s"""WITH daily AS (
       |  SELECT user_id, day, value AS day_value FROM (
       |    SELECT user_id, value, date_trunc('day', ts) AS day,
       |      ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('day', ts)
       |                         ORDER BY ts DESC, event_id DESC) AS rn
       |    FROM events
       |    WHERE ${tenantSqlPred(tenant)} AND event_type = '$code'
       |      AND ts >= TIMESTAMP '$from' AND ts < TIMESTAMP '$to'
       |  ) WHERE rn = 1
       |), spine AS (
       |  SELECT user_id, unnest(generate_series(TIMESTAMP '$from',
       |    TIMESTAMP '$to' - INTERVAL 1 DAY, INTERVAL 1 DAY)) AS day
       |  FROM (SELECT DISTINCT user_id FROM daily)
       |)
       |SELECT '$tenant' AS tenant_id, s.user_id, CAST(s.day AS TIMESTAMP) AS day,
       |  last_value(day_value IGNORE NULLS) OVER (
       |    PARTITION BY s.user_id ORDER BY s.day
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled,
       |  day_value IS NOT NULL AS is_observed
       |FROM spine s LEFT JOIN daily d
       |  ON s.user_id = d.user_id AND s.day = d.day""".stripMargin

  /** E14 `api_obs_ohlc` — downsampled observation series (the
    * OHLC/candlestick decimation every charting backend serves when
    * the raw series is too dense): per patient of one tenant-code
    * slice, epoch-aligned buckets of `bucketHours` hours carrying
    * open (first value), high, low, close (last value) and the
    * sample count. First/last selection is the deterministic
    * struct-min/max trick — MIN/MAX of (ts, event_id, value) orders
    * lexicographically on the unique (ts, event_id) chain in BOTH
    * engines, so open/close need no second window pass and the whole
    * operator is ONE partial-agg'd groupBy. Scale: predicate prunes
    * at the scan; the (patient, bucket) key contains the store's
    * patient partitioning, so the rollup needs no exchange. */
  def obsOhlc(spark: SparkSession, dir: String,
              tenant: String = "t1", code: String = "click",
              bucketHours: Int = 168): DataFrame = {
    val bucketUs = bucketHours * 3600L * 1000000L
    events(spark, dir)
      .filter(tenantPred(tenant) && col("event_type") === code)
      .groupBy(col("user_id"),
        timestamp_micros(expr(s"(unix_micros(ts) div $bucketUs) * $bucketUs")
          .cast("long")).as("bucket_start"))
      .agg(
        min(struct(col("ts"), col("event_id"), col("value")))
          .getField("value").as("open"),
        max(struct(col("ts"), col("event_id"), col("value")))
          .getField("value").as("close"),
        max(col("value")).as("high"), min(col("value")).as("low"),
        count(lit(1)).as("n_obs"))
  }

  def obsOhlcSql(tenant: String = "t1", code: String = "click",
                 bucketHours: Int = 168): String = {
    val bucketUs = bucketHours * 3600L * 1000000L
    s"""SELECT user_id,
       |  make_timestamp((epoch_us(ts) // $bucketUs) * $bucketUs)
       |    AS bucket_start,
       |  MIN({'ts': ts, 'e': event_id, 'v': value})['v'] AS open,
       |  MAX({'ts': ts, 'e': event_id, 'v': value})['v'] AS close,
       |  MAX(value) AS high, MIN(value) AS low, COUNT(*) AS n_obs
       |FROM events
       |WHERE ${tenantSqlPred(tenant)} AND event_type = '$code'
       |GROUP BY 1, 2""".stripMargin
  }

  /** The synthetic principal directory for E17: (caller, claim tenant,
    * admin?). One admin plus one plain member per tenant, so both
    * branches of the predicate — and the partition law between them —
    * are exercised by a single serve. */
  val defaultPrincipals: Seq[(String, String, Boolean)] = Seq(
    ("root", "t1", true), ("alice", "t1", false), ("bob", "t2", false),
    ("carol", "t3", false), ("dana", "t0", false))

  /** E17 `api_authz_scope` — the admin-group tenant-override authz
    * predicate (reference: ingest-url-api/src/handler.ts:46-49 and
    * reprocess-api/src/handler.ts:41-44 — a caller whose
    * `cognito:groups` contains `admin` may act on ANY tenant,
    * everyone else only on `claims.tenantId`): the row-level rule
    * `isAdmin OR claims.tenant = row.tenant` applied over the
    * tenant-keyed store. Serves, per (caller, visible tenant slice),
    * the slice's observation and patient counts — an admin sees all
    * four slices, a member exactly their own (TenancySpec pins both,
    * plus the partition law: the admin's visible rows are exactly the
    * union of the members').
    *
    * Scale: the store side collapses to a 4-row tenant rollup FIRST
    * (one shuffle, map-side combinable), and the authz predicate then
    * joins the bounded principal directory against those 4 rows — the
    * non-equi OR condition touches only metadata-scale tables, never
    * the observation stream. */
  def authzScope(spark: SparkSession, dir: String,
                 principals: Seq[(String, String, Boolean)] = defaultPrincipals)
      : DataFrame = {
    val pSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("caller_id",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("claim_tenant",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("is_admin",
        org.apache.spark.sql.types.BooleanType, nullable = false)))
    val callers = spark.createDataFrame(
      spark.sparkContext.parallelize(
        principals.map(p => org.apache.spark.sql.Row(p._1, p._2, p._3)), 1)
        .toJavaRDD(), pSchema)
    val slice = events(spark, dir)
      .groupBy(Obs.tenant.as("tenant_id"))
      .agg(count(lit(1)).as("n_obs"),
        countDistinct(col("user_id")).as("n_patients"))
    slice.join(broadcast(callers),
        col("is_admin") || col("claim_tenant") === col("tenant_id"))
      .select(col("caller_id"), col("claim_tenant"), col("is_admin"),
        col("tenant_id"), col("n_obs"), col("n_patients"))
  }

  def authzScopeSql(principals: Seq[(String, String, Boolean)]
                    = defaultPrincipals): String = {
    val rows = principals.map { case (c, t, a) => s"('$c', '$t', $a)" }
      .mkString(", ")
    s"""WITH callers(caller_id, claim_tenant, is_admin) AS (VALUES $rows),
       |slice AS (
       |  SELECT 't' || (user_id % 4) AS tenant_id, COUNT(*) AS n_obs,
       |    COUNT(DISTINCT user_id) AS n_patients
       |  FROM events GROUP BY 1
       |)
       |SELECT c.caller_id, c.claim_tenant, c.is_admin,
       |  s.tenant_id, s.n_obs, s.n_patients
       |FROM callers c
       |JOIN slice s ON c.is_admin OR c.claim_tenant = s.tenant_id""".stripMargin
  }

  /** The E18 principal directory: E17's plus the PII-clearance group
    * flag (caller, claim tenant, admin?, pii-cleared?). */
  val maskPrincipals: Seq[(String, String, Boolean, Boolean)] = Seq(
    ("root", "t1", true, true), ("alice", "t1", false, true),
    ("bob", "t2", false, false), ("carol", "t3", false, false),
    ("dana", "t0", false, true))

  /** E18 `api_field_mask` — field-level PII masking under the same
    * group-claims model as E17 (the HIPAA limited-dataset serve every
    * healthcare read path needs, and the de-identification step a
    * training-data export applies — M1's redaction discipline applied
    * at the SERVING layer): row scope is E17's predicate
    * (`isAdmin OR claim = tenant`), and WITHIN visible rows the
    * caller's `pii` group decides column treatment — cleared callers
    * read the raw META row; uncleared callers get a deterministic
    * PSEUDONYM for the name (`masked:` + md5 prefix — stable, so
    * joins across serves still work, the standard tokenization rule)
    * and the birth date GENERALIZED to its year (the limited-dataset
    * rule; truncation not suppression keeps cohort math possible).
    *
    * Scale: the META rows are the store's cached profile,
    * patient-cardinality; the principal directory is a bounded
    * broadcast; the OR row predicate is the documented E17 BNLJ
    * class. Masking itself is a codegen'd per-row projection — zero
    * added shuffle. */
  def fieldMask(spark: SparkSession, dir: String,
                principals: Seq[(String, String, Boolean, Boolean)]
                = maskPrincipals): DataFrame = {
    val pSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("caller_id",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("claim_tenant",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("is_admin",
        org.apache.spark.sql.types.BooleanType, nullable = false),
      org.apache.spark.sql.types.StructField("pii_cleared",
        org.apache.spark.sql.types.BooleanType, nullable = false)))
    val callers = spark.createDataFrame(
      spark.sparkContext.parallelize(
        principals.map(p => org.apache.spark.sql.Row(p._1, p._2, p._3, p._4)),
        1).toJavaRDD(), pSchema)
    Persist.patientMeta(spark, dir)
      .join(broadcast(callers),
        col("is_admin") || col("claim_tenant") === col("tenant_id"))
      .select(col("caller_id"), col("is_admin"), col("pii_cleared"),
        col("tenant_id"), col("patient_id"),
        when(col("pii_cleared"), col("name"))
          .otherwise(concat(lit("masked:"),
            substring(md5(col("name")), 1, 8))).as("name_served"),
        when(col("pii_cleared"), col("birth_date"))
          .otherwise(trunc(col("birth_date"), "year")).as("birth_served"),
        col("version"))
  }

  def fieldMaskSql(principals: Seq[(String, String, Boolean, Boolean)]
                   = maskPrincipals): String = {
    val rows = principals.map { case (c, t, a, p) => s"('$c', '$t', $a, $p)" }
      .mkString(", ")
    s"""WITH ${Persist.patientMetaSqlCte},
       |callers(caller_id, claim_tenant, is_admin, pii_cleared)
       |  AS (VALUES $rows)
       |SELECT c.caller_id, c.is_admin, c.pii_cleared,
       |  m.tenant_id, m.patient_id,
       |  CASE WHEN c.pii_cleared THEN m.name
       |       ELSE 'masked:' || substr(md5(m.name), 1, 8) END AS name_served,
       |  CASE WHEN c.pii_cleared THEN m.birth_date
       |       ELSE CAST(date_trunc('year', m.birth_date) AS DATE)
       |       END AS birth_served,
       |  m.version
       |FROM meta m
       |JOIN callers c ON c.is_admin OR c.claim_tenant = m.tenant_id""".stripMargin
  }

  val registry: Seq[(String, Entry)] = Seq(
    "api_field_mask" -> Entry((s, d) => fieldMask(s, d), fieldMaskSql(), shuffles = 2,
      bnlj = true), // (b) same E17 OR predicate: bounded principal directory (broadcast) against the patient-cardinality META store
    "param_field_mask" -> Entry((s, d) => fieldMask(s, d, principals = Seq(
      ("audit2", "t0", true, false), ("erin", "t2", false, true))),
      fieldMaskSql(principals = Seq(("audit2", "t0", true, false), ("erin", "t2", false, true))),
      shuffles = 2,
      bnlj = true), // (b) same E17 OR predicate: bounded principal directory (broadcast) against the patient-cardinality META store
    "api_authz_scope" -> Entry((s, d) => authzScope(s, d), authzScopeSql(), shuffles = 2,
      bnlj = true), // (b) bounded principal directory (broadcast) x 4-row tenant rollup — the OR predicate is non-equi by nature, over metadata-scale sides only
    "param_authz_scope" -> Entry((s, d) => authzScope(s, d, principals = Seq(
      ("auditor", "t2", true), ("eve", "t3", false))),
      authzScopeSql(principals = Seq(("auditor", "t2", true), ("eve", "t3", false))), shuffles = 2,
      bnlj = true), // (b) bounded principal directory (broadcast) x 4-row tenant rollup — the OR predicate is non-equi by nature, over metadata-scale sides only
    "api_multi_get" -> Entry((s, d) => multiGet(s, d), multiGetSql(), shuffles = 1),
    "api_next_token" -> Entry((s, d) => nextToken(s, d), nextTokenSql(), shuffles = 0,
      bnlj = true), // (a) broadcast query/request side, streaming corpus side
    "api_limit_clamp" -> Entry((s, d) => limitClamp(s, d), limitClampSql(), shuffles = 0,
      bnlj = true), // (a) broadcast query/request side, streaming corpus side
    "api_get_patient" -> Entry((s, d) => getPatient(s, d), getPatientSql(), shuffles = 0),
    "api_obs_by_patient" -> Entry((s, d) => obsByPatient(s, d), obsByPatientSql(), shuffles = 0),
    "api_obs_gapfill" -> Entry((s, d) => obsGapfill(s, d), obsGapfillSql(),
      shuffles = 3), // (patient,day) rollup + patient spine + fill window
    "api_obs_ohlc" -> Entry((s, d) => obsOhlc(s, d), obsOhlcSql(), shuffles = 2),
    "param_obs_ohlc" -> Entry((s, d) => obsOhlc(s, d,
      tenant = "t3", code = "view", bucketHours = 24),
      obsOhlcSql(tenant = "t3", code = "view", bucketHours = 24), shuffles = 2),
    "param_obs_gapfill" -> Entry((s, d) => obsGapfill(s, d,
      tenant = "t2", code = "view", from = "2024-01-08 00:00:00",
      to = "2024-01-28 00:00:00"),
      obsGapfillSql(tenant = "t2", code = "view",
        from = "2024-01-08 00:00:00", to = "2024-01-28 00:00:00"),
      shuffles = 3),
    "api_latest_observation" -> Entry((s, d) => latestObservation(s, d), latestObservationSql(),
      shuffles = 0),
    "api_obs_stats" -> Entry((s, d) => obsStats(s, d), obsStatsSql(), shuffles = 0),
    "api_obs_trend" -> Entry((s, d) => obsTrend(s, d), obsTrendSql(), shuffles = 2),
    "param_obs_trend" -> Entry((s, d) => obsTrend(s, d, tenant = "t3"), obsTrendSql(tenant = "t3"),
      shuffles = 2),
    "param_obs_stats" -> Entry((s, d) => obsStats(s, d, tenant = "t2"), obsStatsSql(tenant = "t2"),
      shuffles = 0),
    "api_obs_page_after" -> Entry((s, d) => obsPageAfter(s, d), obsPageAfterSql(), shuffles = 0),
    "api_obs_asof_join" -> Entry((s, d) => obsAsofJoin(s, d), obsAsofJoinSql(), shuffles = 1),
    "api_obs_by_code" -> Entry((s, d) => obsByCode(s, d), obsByCodeSql(), shuffles = 0),
    "api_profile_asof" -> Entry((s, d) => profileAsOf(s, d), profileAsOfSql(),
      shuffles = 1), // hist window; probe side rides the SMJ
    "api_profile_asof_del" -> Entry((s, d) => profileAsOfDel(s, d), profileAsOfDelSql(),
      shuffles = 1), // same shape, LEFT join
    "api_patient_bundle" -> Entry((s, d) => patientBundle(s, d), patientBundleSql(),
      shuffles = 0), // profile filter + per-patient aggregate, both on the store
    // non-default instantiations — the library-call path the driver
    // oracle-checks with the SAME parameterized SQL builders
    "param_get_patient" -> Entry((s, d) => getPatient(s, d, tenant = "t3", patient = 11L),
      getPatientSql(tenant = "t3", patient = 11L), shuffles = 0),
    "param_obs_by_patient" -> Entry((s, d) => obsByPatient(s, d, tenant = "t2",
      patient = 6L, code = "click",
      from = "2024-01-02 00:00:00", to = "2024-01-20 00:00:00", limit = 30),
      obsByPatientSql(tenant = "t2",
        patient = 6L, code = "click",
        from = "2024-01-02 00:00:00", to = "2024-01-20 00:00:00", limit = 30),
      shuffles = 0),
    "param_latest_observation" -> Entry((s, d) => latestObservation(s, d, tenant = "t0"),
      latestObservationSql(tenant = "t0"), shuffles = 0),
    "param_obs_page_after" -> Entry((s, d) => obsPageAfter(s, d, tenant = "t1",
      patient = 9L, cursorTs = "2024-01-12 00:00:00", cursorId = 100L, limit = 10),
      obsPageAfterSql(tenant = "t1",
        patient = 9L, cursorTs = "2024-01-12 00:00:00", cursorId = 100L, limit = 10),
      shuffles = 0),
    "param_obs_asof_join" -> Entry((s, d) => obsAsofJoin(s, d, tenant = "t2",
      probeCode = "view", obsCode = "signup"),
      obsAsofJoinSql(tenant = "t2", probeCode = "view", obsCode = "signup"), shuffles = 1),
    "param_obs_by_code" -> Entry((s, d) => obsByCode(s, d, tenant = "t3",
      code = "view", from = "2024-01-10 00:00:00",
      to = "2024-01-20 00:00:00", limit = 25),
      obsByCodeSql(tenant = "t3",
        code = "view", from = "2024-01-10 00:00:00",
        to = "2024-01-20 00:00:00", limit = 25),
      shuffles = 0),
    "param_profile_asof" -> Entry((s, d) => profileAsOf(s, d, tenant = "t0", code = "click"),
      profileAsOfSql(tenant = "t0", code = "click"), shuffles = 1),
    "param_profile_asof_del" -> Entry((s, d) => profileAsOfDel(s, d, tenant = "t2", code = "view"),
      profileAsOfDelSql(tenant = "t2", code = "view"), shuffles = 1),
    "param_patient_bundle" -> Entry((s, d) => patientBundle(s, d, tenant = "t2",
      patient = 6L, obsCode = "click",
      from = "2024-01-05 00:00:00", to = "2024-01-15 00:00:00"),
      patientBundleSql(tenant = "t2",
        patient = 6L, obsCode = "click",
        from = "2024-01-05 00:00:00", to = "2024-01-15 00:00:00"),
      shuffles = 0))
}
